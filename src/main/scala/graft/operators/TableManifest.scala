package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DATA-TABLE commits on the index layer's marker protocol — one commit
  * mechanism for the whole storage surface, instead of the ad-hoc
  * staged-write+rename the warehouse appends and the streaming upsert
  * sink previously managed by hand. Layout (the [[IndexManifest]] rules
  * with payload base `data`):
  *
  *   path/manifest/v<N>   committed markers; body = append watermark
  *   path/data_v<P>       a payload version (snapshot commits write one;
  *                        appends add `__batch=<id>` partitions to the
  *                        current one)
  *   path/deletes_v<D>    a DELETE version's segment: one predicate row
  *                        (pred SQL + the watermark it was scoped to)
  *
  * Three mutation shapes, all one-marker atomic:
  *
  *  - [[commitSnapshot]] — REPLACE the table (the MERGE/upsert sink
  *    shape): the new snapshot is written COMPLETELY under the next
  *    payload version, then one marker rename publishes it. Readers
  *    resolve either the old complete snapshot or the new one — never a
  *    half-state, and never the old delete-then-rename window where the
  *    table briefly did not exist.
  *  - [[append]] — add a drop (the log-table shape): the drop lands in
  *    its own `__batch` partition of the CURRENT payload and the marker
  *    carries the new watermark. Keyed appends (a streaming `batchId`)
  *    overwrite their own partition on replay — exactly-once, the
  *    [[VectorIndex]] contract; a keyed replay whose partition was since
  *    FOLDED by compaction/optimize is detected against the carried
  *    watermark and no-ops (its rows already live in the snapshot).
  *    UNKEYED appends claim their partition id by rename, so concurrent
  *    unkeyed appenders both land on distinct batches.
  *  - [[deleteWhere]] — merge-on-read DELETE: one predicate-tombstone
  *    SEGMENT (O(1) bytes, match-count-independent) committed as its own
  *    version; reads mask rows that match a live segment's predicate AND
  *    were visible at delete time (`__batch` at-or-below the segment's
  *    scoped watermark — point-in-time DELETE semantics: later appends
  *    matching the predicate are NOT affected, exactly as a CoW DELETE
  *    would have behaved). [[compactBatches]]/[[maintain]] fold pending
  *    segments into a fresh snapshot (the physical erasure a GDPR
  *    retention sweep completes with [[vacuum]]).
  *
  * `__batch` keyspace discipline (replay safety): streaming batchIds are
  * `>= 0` and below [[UnkeyedBase]]; UNKEYED appends claim ids from the
  * disjoint high range at-or-above [[UnkeyedBase]] (a low-range claim
  * would be some future micro-batch's own id — its dynamic partition
  * overwrite would silently erase the unkeyed rows); snapshot commits
  * stamp `-1`; [[optimize]] stamps its clustered partitions at `-(p+2)`
  * — NEGATIVE, outside both append keyspaces. Each keyspace carries its
  * own watermark in the marker, and every snapshot-shaped commit CARRIES
  * both forward, so a replayed streaming batch after a fold can neither
  * dynamic-overwrite an unrelated partition nor re-insert rows the fold
  * already owns.
  *
  * Reads: [[read]] serves the current version — payload batches at-or-
  * below the current watermark (an in-flight claimed-but-uncommitted
  * concurrent batch, or one orphaned by a crash mid-append, is never
  * visible), minus live delete segments; [[readAt]] is VERSION AS OF —
  * the newest payload at-or-below the pinned version, batches at-or-below
  * its watermark, minus segments at-or-below it — so a pinned view is
  * IMMUTABLE under later appends, deletes, AND snapshot replacements.
  * [[IndexManifest.vacuum]] reclaims old versions (with an optional
  * retention horizon a long-running pinned reader hides behind).
  *
  * Writer contract: concurrent UNKEYED appenders and racing snapshot
  * committers serialize safely (rename-claimed batch dirs, optimistic
  * [[IndexManifest.tryCommit]]), and unkeyed appenders compose safely
  * WITH one keyed stream (disjoint `__batch` keyspaces); keyed appends
  * assume one stream per table (keyed ids are the stream's own dense
  * counter); compaction/optimize/maintain
  * assume a quiescent single maintenance actor (an append racing a fold
  * could land its batch in the superseded payload). Schemas: pass
  * `schema` to keep zero-row snapshots readable and to read evolved
  * tables under one explicit shape (absent columns null-pad — the scale
  * path); `mergeSchema = true` unions the batch schemas instead (a
  * footer sweep — the convenience path).
  */
object TableManifest {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def renameExclusive(f: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    IndexManifest.renameExclusive(f, src, dst)

  /** Jittered exponential backoff before a full RE-DERIVATION (attempt
    * 2+): the derivation is the expensive step in every optimistic
    * mutation loop, and retrying the instant a race is lost mostly
    * loses it again — the liveness half of the strict-CAS contracts.
    * 12–75 ms at attempt 2, capped at 0.4–1.2 s. */
  private def backoffBeforeRederive(attempt: Int): Unit =
    if (attempt > 1) {
      val base = 25L << math.min(attempt - 2, 5)
      Thread.sleep(base / 2 + java.util.concurrent.ThreadLocalRandom
        .current().nextLong(base))
    }

  /** First `__batch` id of the UNKEYED keyspace. Streaming (keyed)
    * batchIds are the stream's own dense counter from 0; unkeyed appends
    * (SQL INSERT INTO, DataFrame mode("append")) claim ids from this
    * disjoint HIGH range instead — an unkeyed claim in the low range
    * would land exactly on some future micro-batch's id, and that
    * batch's dynamic partition overwrite would silently erase the
    * INSERT's rows. Each keyspace carries its OWN watermark in the
    * marker ([[IndexManifest.MarkerInfo]]), so visibility, CDF windows,
    * and delete masks stay exact on both sides. */
  private[operators] val UnkeyedBase: Long = 1L << 61

  /** First `__batch` id of the UPDATE keyspace: [[updateWhere]]'s
    * replacement rows land at `UpdateBase + d` where `d` is the version
    * the update COMMITS — visibility of an update batch is "marker d
    * committed with kind=update", never a scalar watermark, so the
    * tombstone (old rows out) and the replacement batch (new rows in)
    * become visible in the same atomic marker flip, and a crash between
    * the partition rename and the marker leaves an orphan no reader
    * ever serves. */
  private[operators] val UpdateBase: Long = 1L << 62

  /** Which `__batch` ids one version serves: the low range (negatives +
    * streaming ids) up to the keyed watermark `wm`, the unkeyed range
    * [[[UnkeyedBase]], [[UpdateBase]]) up to `uwm`, and update-range ids
    * whose embedded version is in `upd` (committed by an update or
    * merge). */
  private[operators] final case class Visible(wm: Long, uwm: Long,
      upd: Set[Long] = Set.empty) {
    def apply(b: Long): Boolean =
      if (b < UnkeyedBase) b <= wm
      else if (b < UpdateBase) b <= uwm
      else upd.contains(b - UpdateBase)

    /** The same test as a Column over the `__batch` field. */
    def column: Column = {
      val u =
        if (upd.isEmpty) lit(false)
        else (col("__batch") - UpdateBase).isin(upd.toSeq: _*)
      when(col("__batch") < UnkeyedBase, col("__batch") <= wm)
        .when(col("__batch") < UpdateBase, col("__batch") <= uwm)
        .otherwise(u)
    }
  }

  /** The `__batch=` partition ids under payload dir `dir`, from one
    * listing; empty when the dir is absent. */
  private[operators] def batchIds(spark: SparkSession,
      dir: String): Seq[Long] =
    try fs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("__batch=") =>
        n.stripPrefix("__batch=").toLong }
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The commit versions embedded in the update-range ids of `ids`. */
  private[operators] def updateVersionsIn(ids: Seq[Long]): Seq[Long] =
    ids.filter(_ >= UpdateBase).map(_ - UpdateBase)

  // ---- payload reads (internal): schema'd / merged / plain ---------------

  private def payloadRead(spark: SparkSession, dir: String,
      schema: Option[StructType], mergeSchema: Boolean,
      basePath: Option[String] = None, parts: Seq[String] = Nil): DataFrame = {
    val r0 = spark.read
    val r1 = basePath.fold(r0)(b => r0.option("basePath", b))
    val r2 = if (mergeSchema && schema.isEmpty)
      r1.option("mergeSchema", "true") else r1
    val r3 = schema.fold(r2)(s => r2.schema(s.add("__batch", "long")))
    if (parts.isEmpty) r3.parquet(dir) else r3.parquet(parts: _*)
  }

  /** Write `df` as the table's NEXT complete snapshot and publish it with
    * one marker. The payload lands in a UNIQUE hidden dir first and is
    * renamed per commit attempt (the [[VectorIndex.deleteIds]] pattern),
    * so even RACING snapshot committers never write into one directory —
    * each lands completely on its own version number. The previous
    * version's append watermark is CARRIED FORWARD (replay safety: a
    * streaming batch at-or-below it no-ops instead of re-inserting rows
    * the snapshot already owns). Returns the committed version. */
  def commitSnapshot(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    commitPayloadDir(spark, path,
      stagePayload(enforceConstraints(df, viewOf(spark, path)), path))
  }

  /** Write `df` as a staged snapshot payload (one `__batch=-1` fold
    * partition) and return the tmp dir the commit protocols rename. */
  private def stagePayload(df: DataFrame,
      path: String): org.apache.hadoop.fs.Path = {
    val spark = df.sparkSession
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.data_pending_${java.util.UUID.randomUUID}")
    df.withColumn("__batch", lit(-1L))
      .write.partitionBy("__batch").mode("overwrite").parquet(tmp.toString)
    // an EMPTY snapshot's dynamic-partition write emits no files at all
    // (no partition value → no dir), which would leave the committed
    // version schema-less and unreadable — a replacement that deleted
    // every row (an upsert sink draining to empty, a Complete-mode
    // aggregate with no groups yet) must stay a READABLE empty table, so
    // land the schema-bearing empty file the way createEmpty does
    if (batchIds(spark, tmp.toString).isEmpty)
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
        .write.mode("overwrite").parquet(s"$tmp/__batch=-1")
    tmp
  }

  /** Commit a snapshot whose content DERIVES from the table itself
    * (compaction, MERGE INTO) — the [[VectorIndex.compact]] optimistic
    * re-derive loop on tables. [[commitSnapshot]] is last-writer-wins by
    * design (a REPLACEMENT discards prior content), but a
    * content-preserving fold that loses the marker race to an append
    * must NOT re-claim its stale payload above the append — the
    * appended rows would silently vanish from a table whose append
    * marker committed fine (the keyed-stream × nightly-maintain race).
    * So: pin `v0`, derive and stage from `v0`, CAS strictly at `v0+1`
    * (tail-only marker), and on ANY intervening commit restart the
    * derivation against the new head. `hook` runs between staging and
    * the claim — the race-injection seam the specs use. */
  private[graft] def commitDerivedSnapshot(spark: SparkSession,
      path: String, derive: Long => DataFrame,
      hook: () => Unit = () => ()): Long = {
    val f = fs(spark, path)
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 20,
        s"derived snapshot at $path lost the commit race $attempt " +
          "times in a row — retry under quieter write traffic")
      backoffBeforeRederive(attempt)
      val view = viewOf(spark, path)
      val v0 = view.head
      val tmp = stagePayload(enforceConstraints(derive(v0), view), path)
      hook()
      val d = v0 + 1
      val dst = new org.apache.hadoop.fs.Path(s"$path/data_v$d")
      var blockedTries = 0
      var result = -1L // >= 0 committed; -1 claiming; -2 lost, re-derive
      while (result == -1L) {
        if (IndexManifest.currentVersion(spark, path).get != v0) {
          result = -2L // anything intervening invalidates the content
        } else if (!renameExclusive(f, tmp, dst)) {
          blockedTries += 1
          if (blockedTries > 100)
            throw new IllegalStateException(
              s"snapshot claim $dst blocks with no marker arriving — " +
                s"likely a crashed committer's orphan at $path; " +
                "maintain's cleanOrphans removes it")
          Thread.sleep(20)
        } else if (IndexManifest.tryCommitTagged(spark, path, d,
            view.watermarkAt(v0), view.unkeyedWatermarkAt(v0), "snapshot")) {
          result = d
        } else {
          f.rename(dst, tmp)
          result = -2L
        }
      }
      if (result >= 0L) return result
      f.delete(tmp, true) // stale content: re-derive at the new head
    }
    -1L // unreachable
  }

  /** CREATE TABLE: commit a ZERO-ROW snapshot that stays readable with
    * no schema hint. A partitioned empty write emits no files at all
    * (dynamic partitions need a value), so the schema would be lost —
    * this writes the empty frame NON-partitioned into a literal
    * `__batch=-1` dir, where Spark's empty-write path still emits one
    * footer-only parquet file carrying the schema. The catalog's
    * CREATE TABLE seam; the first append lands as a normal batch.
    * `constraints` (CREATE TABLE ... CHECK) commit UNDER THE SAME
    * MARKER as the payload — see [[commitPayloadDir]]. */
  def createEmpty(spark: SparkSession, path: String,
      schema: StructType,
      constraints: Option[Seq[TableConstraint]] = None): Long = {
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.data_pending_${java.util.UUID.randomUUID}")
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(s"$tmp/__batch=-1")
    commitPayloadDir(spark, path, tmp, constraints)
  }

  /** Publish an already-written (batch-partitioned) payload dir as the
    * table's next version: rename per attempt, marker carrying the
    * watermark forward. The [[commitSnapshot]] loop, shared with
    * [[optimize]].
    *
    * `constraints = Some(cs)` additionally stages `cs` as a
    * `constraints_v<same version>` artifact and renames it into place
    * BEFORE the marker — so a REPLACE/CTAS that changes the constraint
    * set flips data AND definitions in ONE marker commit: no window
    * where replaced data is served or gated by the OLD constraint set
    * (a crash or racing writer between two separate commits would leave
    * stale definitions that may not even resolve against the new
    * schema). [[constraintsOf]] honors a constraints artifact at a
    * `snapshot`-kind version for exactly this path; on marker-race loss
    * both claims are taken back together. */
  private def commitPayloadDir(spark: SparkSession, path: String,
      tmp: org.apache.hadoop.fs.Path,
      constraints: Option[Seq[TableConstraint]] = None): Long = {
    val f = fs(spark, path)
    val ctmp = constraints.map(cs => stageConstraintRows(spark, path, cs))
    var v = -1L
    var committed = false
    while (!committed) {
      val at = viewOf(spark, path)
      v = at.nextVersion
      val dst = new org.apache.hadoop.fs.Path(s"$path/data_v$v")
      // the combined commit's artifact lives under its OWN family
      // (constraintsnap_v, honored only with a snapshot-kind marker):
      // if it shared constraints_v, a PLAIN setConstraints racing for
      // the same number could park its artifact there and have THIS
      // path's snapshot marker legitimize the uncommitted set
      val cdst = new org.apache.hadoop.fs.Path(
        s"$path/constraintsnap_v$v")
      // the claim refuses an existing dst: a racing committer at the same
      // number makes us spin until its marker lands, then retry above it
      if (renameExclusive(f, tmp, dst)) {
        if (!ctmp.forall(t => renameExclusive(f, t, cdst))) {
          f.rename(dst, tmp) // constraint slot blocked: back out, retry
        } else {
          val (wm, uwm) = carriedInto(at, v)
          committed = IndexManifest.tryCommitTagged(spark, path, v, wm, uwm,
            "snapshot")
          if (!committed) { // lost the marker race: take BOTH back, retry
            f.rename(dst, tmp)
            ctmp.foreach(t => f.rename(cdst, t))
          }
        }
      }
    }
    v
  }

  /** Write `cs` as an unpublished constraint-artifact staging dir (the
    * `.constraints_pending_*` shape [[cleanOrphans]] sweeps). */
  private def stageConstraintRows(spark: SparkSession, path: String,
      cs: Seq[TableConstraint]): org.apache.hadoop.fs.Path = {
    import spark.implicits._
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.constraints_pending_${java.util.UUID.randomUUID}")
    // empty set → footer-only file (constraint-free is a readable state)
    cs.map(c => (c.name, c.sql, c.enforced, c.rely, c.status, c.kind))
      .toDF("name", "sql", "enforced", "rely", "status", "kind")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    tmp
  }

  /** Stage `df` as an UNPUBLISHED snapshot payload and return the hidden
    * staging dir. Nothing becomes visible — no marker, no version; the
    * table (if any) keeps serving its current state. [[GraftCatalog]]'s
    * atomic CTAS/RTAS seam: the executors write the full payload here,
    * and [[publishStagedSnapshot]] flips it live in one marker commit
    * (or [[discardStagedSnapshot]] erases it without a trace).
    * Old-table CHECK constraints are NOT applied here: a staged
    * CREATE/REPLACE defines a NEW table shape whose TableInfo
    * constraints replace the old set — the staging caller validates
    * the staged content against the NEW definition before publishing. */
  private[graft] def stageSnapshot(df: DataFrame, path: String): String =
    stagePayload(df, path).toString

  /** Publish a dir returned by [[stageSnapshot]] as the table's next
    * version — the commit half of atomic CTAS/RTAS. On an EXISTING
    * table this is a REPLACE that PRESERVES history: the version
    * numbering continues, pre-replace pins stay readable until vacuum
    * (the Delta REPLACE semantics, vs the drop+create fallback that
    * restarts the manifest). `constraints` rides the SAME marker (the
    * REPLACE definition's set replaces the old table's atomically with
    * the data — see [[commitPayloadDir]]). Returns the committed
    * version. */
  private[graft] def publishStagedSnapshot(spark: SparkSession,
      path: String, stagedDir: String,
      constraints: Option[Seq[TableConstraint]] = None): Long =
    commitPayloadDir(spark, path,
      new org.apache.hadoop.fs.Path(stagedDir), constraints)

  /** Abort half of the staging protocol: remove the staged payload. A
    * crash that skips even this leaves only a hidden `.data_pending_*`
    * dir no resolution ever reads — [[maintain]]'s orphan sweep ages it
    * out. */
  private[graft] def discardStagedSnapshot(spark: SparkSession,
      path: String, stagedDir: String): Unit = {
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(stagedDir), true)
    ()
  }

  /** OPTIMIZE (CLUSTER BY): rewrite the live table as ONE range-clustered
    * snapshot commit — rows unchanged as a multiset (the oracle hash),
    * only layout changes. Each of the `files` range partitions lands as
    * its OWN `__batch` partition dir — stamped NEGATIVE (`-(p+2)`),
    * outside the streaming batchId keyspace, so a replayed stream batch
    * can never dynamic-overwrite a clustered partition — and the zone-map
    * layer ([[readRange]]) prunes at LISTING level across the clustered
    * key: the unsorted table's range probe reads every batch, the
    * optimized one reads the overlapping buckets — and parquet's native
    * row-group stats sharpen inside each file. One column clusters by
    * sampled range (distribution-adaptive, no global sort); two columns
    * Z-order on [[ZOrder.interleave]]d `width_bucket` ranks (16 bits/dim
    * over the columns' min–max — the uniform-bucket approximation of rank
    * z-values; both columns must be numeric). Readers keep serving the
    * previous version until the one commit marker lands; pre-optimize
    * pins stay readable until vacuum. Refreshes zone maps for
    * `statsCols` after commit. Returns the committed version. */
  /** [[optimize]] with the file COUNT derived from a target file SIZE —
    * the small-file policy an operator actually states ("~256 MB
    * files"), resolved against the live payload's bytes (one
    * content-summary RPC): `files = ceil(bytes / targetFileBytes)`.
    * The parquet output compresses below the raw payload bytes, so the
    * target is an upper bound per file — the conservative direction
    * (files come out smaller, never bigger). */
  def optimizeToSize(spark: SparkSession, path: String,
      clusterCols: Seq[String], targetFileBytes: Long,
      statsCols: Seq[String] = Nil): Long = {
    require(targetFileBytes >= (1L << 20),
      s"targetFileBytes must be >= 1 MiB, got $targetFileBytes")
    val bytes = payloadBytes(spark, path).getOrElse(
      sys.error(s"no committed table at $path"))
    val files = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    optimize(spark, path, clusterCols, files, statsCols)
  }

  def optimize(spark: SparkSession, path: String, clusterCols: Seq[String],
      files: Int, statsCols: Seq[String] = Nil): Long = {
    require(clusterCols.nonEmpty,
      "optimize clusters by one column (range) or several (Z-order)")
    require(files >= 1)
    val live = read(spark, path)
    val clustered = clusterCols match {
      case Seq(c) =>
        live.repartitionByRange(files, col(c))
          .sortWithinPartitions(col(c))
      case cs =>
        // N-way Z-order: bucketize each axis to 2^bits and Morton-
        // interleave — per-file min/max stats then bound EVERY axis at
        // once, so a predicate on any clustered column skips files.
        // Bit budget splits a non-negative BIGINT across the axes
        // (2 cols → 16 bits each, the historical layout; 3 → 16;
        // 4 → 15 — resolution beyond ~2^12 buckets stops mattering
        // once rows-per-file exceeds the bucket population anyway).
        val bits = math.min(16, 63 / cs.size)
        val buckets = (1L << bits) // per-axis bucket count
        val mm = live.agg(
          lit(1L).as("__one"),
          cs.flatMap(c => Seq(
            min(col(c)).cast("double").as(s"__lo_$c"),
            max(col(c)).cast("double").as(s"__hi_$c"))): _*).head()
        def bucket(c: String, lo: Any, hi: Any) = (lo, hi) match {
          case (l: Double, h: Double) if h > l =>
            least(greatest(
              expr(s"width_bucket(`$c`, $l, $h, ${buckets})") - lit(1L),
              lit(0L)), lit(buckets - 1L)) // width_bucket maps v=max to n+1
          case _ => lit(0L) // degenerate/empty axis: flat
        }
        val z = ZOrder.interleaveN(
          cs.zipWithIndex.map { case (c, i) =>
            bucket(c, mm.get(1 + 2 * i), mm.get(2 + 2 * i)) },
          bits)
        live.withColumn("__z", z)
          .repartitionByRange(files, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
    }
    val hadMapping = columnMapOf(spark, path).nonEmpty
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.data_pending_${java.util.UUID.randomUUID}")
    clustered
      .withColumn("__batch", lit(-2L) - spark_partition_id().cast("long"))
      .write.partitionBy("__batch").mode("overwrite").parquet(tmp.toString)
    val v = commitPayloadDir(spark, path, tmp)
    // the clustered rewrite lands LOGICAL names at the widened HEAD
    // types, so a live mapping is now identity — clear it exactly like
    // compactBatches does, or explicit-schema readers (SQL MERGE's
    // pinned tgtSchema, VERSION AS OF with schema) would request the
    // old physical name under its OLD era type against the new payload
    // and fail with a parquet type mismatch. Pinned pre-optimize reads
    // keep their era's colmap artifact; same single-maintenance-actor
    // contract and crash story as the compactBatches clear.
    if (hadMapping) setColumnMapping(spark, path, Nil)
    if (statsCols.nonEmpty) refreshZoneMaps(spark, path, statsCols)
    v
  }

  /** Append `df` as a `__batch` partition of the current payload and
    * commit the next version with the advanced watermark. Pass the
    * streaming `batchId` for exactly-once replay: a replayed id whose
    * partition still exists overwrites itself; one at-or-below the
    * watermark whose partition was FOLDED (compaction/optimize) no-ops —
    * its rows already live in the snapshot, re-inserting would duplicate
    * them. Unkeyed appends claim a fresh partition id by rename (safe
    * under concurrent unkeyed appenders) from the DISJOINT
    * [[UnkeyedBase]] keyspace — a low-range claim would be some future
    * micro-batch's id, and that batch's dynamic overwrite would silently
    * erase the unkeyed rows; with split keyspaces keyed streaming and
    * unkeyed writers compose safely on one table. Returns the committed
    * version. */
  def append(df0: DataFrame, path: String,
      batchId: Option[Long] = None): Long = {
    val spark = df0.sparkSession
    val view = viewOf(spark, path)
    require(view.current.isDefined,
      s"append into $path requires an initial commitSnapshot")
    val df = physicalizeFrame(enforceConstraints(df0, view), view)
    val dir = view.payloadDir.get
    val f = fs(spark, path)
    val carried = view.watermarkAt(view.head)
    val batch: Long = batchId match {
      case Some(b) =>
        require(b >= 0L && b < UnkeyedBase,
          s"streaming batchIds are in [0, $UnkeyedBase), got $b " +
            "(negative ids are the snapshot/optimize keyspace, ids at-or-" +
            "above the base are the unkeyed claim keyspace)")
        val pdir = new org.apache.hadoop.fs.Path(s"$dir/__batch=$b")
        if (b <= carried && !f.exists(pdir))
          // replay of a batch the fold already owns: exactly-once no-op
          return IndexManifest.currentVersion(spark, path).get
        df.withColumn("__batch", lit(b))
          .write.partitionBy("__batch").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(dir)
        b
      case None =>
        // multi-writer safe: the drop is written ONCE to a pending dir,
        // then a free partition id is CLAIMED by rename (rename refuses
        // an existing dst — the loser re-reads and claims the next id).
        // Ids live in the high unkeyed keyspace, starting past the
        // carried unkeyed watermark so a fold never reuses an id a CDF
        // window already counted.
        val tmp = new org.apache.hadoop.fs.Path(
          s"$path/.batch_pending_${java.util.UUID.randomUUID}")
        df.write.mode("overwrite").parquet(tmp.toString)
        var b = -1L
        var claimed = false
        var tries = 0
        while (!claimed) {
          b = math.max(nextUnkeyedId(spark, dir),
            view.unkeyedWatermarkAt(view.head) + 1L)
          claimed = renameExclusive(f, tmp,
            new org.apache.hadoop.fs.Path(s"$dir/__batch=$b"))
          if (!claimed) {
            tries += 1
            require(tries < 1000,
              s"could not claim a batch partition under $dir " +
                s"(last attempt __batch=$b) — filesystem rename failing?")
            Thread.sleep(5)
          }
        }
        b
    }
    var v = -1L
    var committed = false
    var curDir = dir
    var curBatch = batch
    while (!committed) {
      val at = viewOf(spark, path)
      v = at.nextVersion
      // the fold race the fault-injecting chaos spec caught: a
      // SNAPSHOT/fold can commit between our batch-dir claim and our
      // marker — the claim was invisible to its derivation (no marker
      // yet), and the moment our marker lands, readers resolve the NEW
      // payload dir, where our batch does not exist: silently lost
      // rows. Re-validate the payload dir each attempt and MOVE the
      // claimed batch into the live payload before committing; markers
      // serialize the other direction (a fold landing after our marker
      // re-derives and carries the now-visible batch). Keyed batches
      // keep their replay id (a fresh fold payload holds only negative
      // fold partitions, so the id is free); unkeyed batches re-claim
      // a free id in the new dir.
      val nowDir = at.payloadDir.get
      if (nowDir != curDir) {
        val src = new org.apache.hadoop.fs.Path(s"$curDir/__batch=$curBatch")
        if (curBatch < UnkeyedBase) {
          require(renameExclusive(f, src,
            new org.apache.hadoop.fs.Path(s"$nowDir/__batch=$curBatch")),
            s"keyed batch $curBatch of $path cannot follow the payload " +
              s"fold to $nowDir — the id is unexpectedly taken there " +
              "(two keyed writers on one table violate the sink contract)")
        } else {
          var reclaimed = false
          var tries = 0
          while (!reclaimed) {
            val nb = math.max(nextUnkeyedId(spark, nowDir),
              at.unkeyedWatermarkAt(at.head) + 1L)
            reclaimed = renameExclusive(f, src,
              new org.apache.hadoop.fs.Path(s"$nowDir/__batch=$nb"))
            if (reclaimed) curBatch = nb
            else {
              tries += 1
              require(tries < 1000,
                s"could not re-claim batch partition under $nowDir")
              Thread.sleep(5)
            }
          }
        }
        curDir = nowDir
      }
      val (wm, uwm) = carriedInto(at, v)
      committed =
        if (curBatch < UnkeyedBase)
          IndexManifest.tryCommitTagged(spark, path, v,
            math.max(wm, curBatch), uwm, "append")
        else
          IndexManifest.tryCommitTagged(spark, path, v,
            wm, math.max(uwm, curBatch), "append")
    }
    v
  }

  /** Next free id in the UNKEYED keyspace of payload `dir` — the
    * [[batchIds]] listing restricted to
    * [[[UnkeyedBase]], [[UpdateBase]]) (an update batch's id must never
    * seed an unkeyed claim: it would land the append in the
    * version-gated update range and make it invisible). */
  private def nextUnkeyedId(spark: SparkSession, dir: String): Long =
    batchIds(spark, dir).filter(b => b >= UnkeyedBase && b < UpdateBase)
      .maxOption.fold(UnkeyedBase)(_ + 1L)

  // ---- delete segments: predicate tombstones, masked at read -------------

  private val DeleteSchema = "pred STRING, wm LONG, uwm LONG, keycols STRING"

  /** One delete segment's scope: predicate SQL + the (keyed, unkeyed)
    * watermark pair it was committed against + its own commit version
    * `ver` (which scopes update-range rows: an update committed BEFORE
    * this segment is masked by it, one committed after is not).
    * Pre-split segments have no `uwm` column — they read as -1 (no
    * high-range rows existed then, so masking none is exactly
    * point-in-time). `keyCols` non-empty marks an EQUALITY segment (the
    * MoR MERGE tombstone, the Iceberg equality-delete-file shape): the
    * masked set is the rows whose key tuple null-safely matches a row
    * of the segment's `eqdeletes_v<ver>` key file, instead of a
    * predicate — `pred` is null on these. */
  private final case class DeletePred(pred: String, wm: Long, uwm: Long,
      ver: Long, keyCols: Seq[String] = Nil)

  /** The scoped-predicate rows of `segs` — O(#deletes) tiny rows, one
    * driver read (the segment version rides along to scope update-range
    * rows). */
  private def deletePredsOf(spark: SparkSession, path: String,
      segs: Seq[Long]): Seq[DeletePred] =
    if (segs.isEmpty) Nil
    else segs.flatMap { d =>
      spark.read.schema(DeleteSchema).parquet(s"$path/deletes_v$d")
        .collect().map(r => DeletePred(r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), d,
          Option(if (r.isNullAt(3)) null else r.getString(3))
            .map(_.split(",").toSeq).getOrElse(Nil)))
    }

  /** Was a `__batch`-carrying row visible when the segment committed at
    * `ver` against watermarks (`wm`, `uwm`)? The point-in-time scope
    * every mask evaluates. */
  private def wasVisibleAt(wm: Long, uwm: Long, ver: Long): Column =
    when(col("__batch") < UnkeyedBase, col("__batch") <= wm)
      .when(col("__batch") < UpdateBase, col("__batch") <= uwm)
      .otherwise(col("__batch") - UpdateBase < ver)

  /** Attach per-segment hit flags to `df` (which carries `__batch`):
    * predicate segments contribute a filter expression, EQUALITY
    * segments (MoR MERGE) a null-safe left join against their
    * `eqdeletes_v<ver>` key file (distinct keys → at most one match per
    * row, so the join never duplicates; a small key file broadcasts via
    * AQE). Returns (flagged frame, hit-any column, helper columns to
    * drop). Callers either mask (`filter(!any)`) or select the hits
    * (the CDF delete feed). */
  private def flagDeletes(df: DataFrame, preds: Seq[DeletePred],
      path: String, mapping: Seq[ColumnMapping] = Nil)
      : (DataFrame, Column, Seq[String]) = {
    var d = df
    val helpers = Seq.newBuilder[String]
    val flags = preds.map { dp =>
      val visible = wasVisibleAt(dp.wm, dp.uwm, dp.ver)
      if (dp.keyCols.isEmpty)
        coalesce(expr(dp.pred), lit(false)) && visible
      else {
        val hit = s"__eqhit_${dp.ver}"
        val ekCols = dp.keyCols.map(k => s"__ek${dp.ver}_$k")
        val keys = d.sparkSession.read
          .parquet(s"$path/eqdeletes_v${dp.ver}")
          .select(dp.keyCols.zip(ekCols).map { case (k, ek) =>
            col(s"`$k`").as(ek) }.toIndexedSeq: _*)
          .distinct().withColumn(hit, lit(true))
        // null-safe: a MERGE's NOT-MATCHED-BY-SOURCE clause can remove
        // null-keyed target rows, which plain equality would never
        // match. The LEFT side reads the key through the column
        // mapping (coalesce over era names), so a tombstone written
        // before OR after a rename still hits every era's batches.
        val present = d.columns.toSet
        val cond = dp.keyCols.zip(ekCols).map { case (k, ek) =>
          physExprOf(mapping, present, k) <=> col(s"`$ek`")
        }.reduce(_ && _)
        d = d.join(keys, cond, "left")
        helpers ++= (hit +: ekCols)
        coalesce(col(s"`$hit`"), lit(false)) && visible
      }
    }
    (d, if (flags.isEmpty) lit(false) else flags.reduce(_ || _),
      helpers.result())
  }

  /** Mask `df` (which still carries `__batch`) against delete segments:
    * a row is gone iff some segment hits it (predicate match, or key
    * match for an equality segment) AND the row was visible when that
    * delete ran (`__batch` at-or-below the segment's scoped watermark
    * for the row's keyspace, update batches committed strictly before
    * the segment — point-in-time semantics; null predicate results
    * never match, SQL DELETE semantics). */
  private def maskDeletes(df: DataFrame, preds: Seq[DeletePred],
      path: String, mapping: Seq[ColumnMapping] = Nil): DataFrame =
    if (preds.isEmpty) df
    else {
      val (d, any, helpers) = flagDeletes(df, preds, path, mapping)
      d.filter(!any).drop(helpers: _*)
    }

  /** Pending (unfolded) delete segments on the CURRENT version — what
    * [[maintain]]'s fold policy and the metadata-count fallback check. */
  def pendingDeletes(spark: SparkSession, path: String): Int = {
    val view = viewOf(spark, path)
    view.current.fold(0)(view.deleteSegmentsAt(_).size)
  }

  /** Warn threshold for unfolded delete/update segments, settable via
    * `spark.graft.table.pendingMutationsWarn` (default 64). Every live
    * segment folds one more `when`-branch into EVERY read's
    * [[maskDeletes]] chain — O(pending) read cost that only
    * [[compactBatches]]/[[maintain]] clears — so a retention sweep
    * issuing hundreds of DELETEs without a maintain in between would
    * silently turn each read into a hundreds-deep predicate chain.
    * Mutations past the threshold still COMMIT (the guard is a pager,
    * not a gate: refusing a GDPR delete over a maintenance backlog
    * would be the wrong failure mode) but log a warning and record it
    * in [[lastDepthWarning]] (the observable hook specs assert on). */
  private def pendingWarnThreshold(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.table.pendingMutationsWarn")
      .flatMap(_.toIntOption).getOrElse(64)

  /** Most recent pending-depth warning ("" = none since clear) — the
    * [[graft.sources.GraftTableSource.lastPruning]] observability
    * pattern. */
  val lastDepthWarning =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def warnPendingDepth(spark: SparkSession, path: String): Unit = {
    val threshold = pendingWarnThreshold(spark)
    val pending = pendingDeletes(spark, path)
    if (pending >= threshold) {
      val msg = s"graft table $path has $pending unfolded delete/update " +
        s"segments (warn threshold $threshold): every read now evaluates " +
        s"an O($pending)-branch mask — run TableManifest.maintain (or " +
        "CALL graft.maintain) to fold them into a fresh snapshot"
      log.warn(msg)
      lastDepthWarning.set(msg)
      // opt-in escape hatch for unattended retention sweeps: fold the
      // segments right here (one compaction commit) instead of letting
      // a 1,000-DELETE night turn every read into a 1,000-branch chain.
      // Off by default — compaction timing should normally be the
      // operator's call (it rewrites the table), and the mutation that
      // crossed the threshold has ALREADY committed either way.
      if (spark.conf.getOption("spark.graft.table.pendingMutationsAutoFold")
          .exists(_.toBoolean)) {
        log.warn(s"pendingMutationsAutoFold is on: folding $path now")
        compactBatches(spark, path)
      }
    }
  }

  /** DELETE WHERE as a merge-on-read predicate tombstone: ONE segment row
    * (the predicate SQL + the watermark it is scoped to) committed as its
    * own version — O(1) bytes and seconds regardless of how many rows
    * match or how big the table is (a no-match DELETE costs the same
    * near-zero; the old full copy-on-write rewrite paid a complete table
    * rewrite either way). Reads mask matching rows that were visible at
    * delete time; later appends matching the predicate are unaffected
    * (point-in-time semantics, identical to what the CoW rewrite
    * produced). Readers pinned BELOW the delete version never see it;
    * [[compactBatches]]/[[maintain]] fold segments into a physical
    * rewrite, and [[vacuum]] completes the GDPR-style erasure. The
    * predicate is analyzed against the current schema NOW — a bad
    * predicate fails the DELETE, not every later read. Returns the
    * committed version. */
  def deleteWhere(spark: SparkSession, path: String, predicateSql: String,
      schema: Option[StructType] = None): Long = {
    val view = viewOf(spark, path)
    require(view.current.isDefined, s"no committed table at $path")
    // analysis check: resolves columns, parses the SQL — fails loudly here
    readView(view, view.head, schema).filter(expr(predicateSql)).schema
    val f = fs(spark, path)
    import spark.implicits._
    val carried = view.watermarkAt(view.head)
    val carriedU = view.unkeyedWatermarkAt(view.head)
    // stored PHYSICAL-TOLERANT: a renamed column's reference becomes the
    // coalesce over its era names, so the mask hits pre-rename batches
    val storedPred = physicalizePred(view, predicateSql)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.deletes_pending_${java.util.UUID.randomUUID}")
    Seq((storedPred, carried, carriedU)).toDF("pred", "wm", "uwm")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    // strictly cur+1 CAS with rename-before-marker, the
    // [[VectorIndex.deleteIds]] protocol: an uncommitted segment never
    // sits at a number another mutation might commit
    var committed = false
    var d = -1L
    var blockedAt = -1L
    var blockedTries = 0
    while (!committed) {
      val at = viewOf(spark, path)
      val cur = at.head
      d = cur + 1
      val seg = new org.apache.hadoop.fs.Path(s"$path/deletes_v$d")
      if (renameExclusive(f, tmp, seg)) {
        blockedAt = -1L; blockedTries = 0
        committed = IndexManifest.tryCommitTagged(spark, path, d,
          at.watermarkAt(cur), at.unkeyedWatermarkAt(cur), "delete")
        if (!committed) f.rename(seg, tmp) // lost the race: take it back
      } else {
        if (blockedAt == d) blockedTries += 1
        else { blockedAt = d; blockedTries = 1 }
        if (blockedTries > 100)
          throw new IllegalStateException(
            s"delete segment $seg blocks version $d with no marker " +
              "arriving: a crashed deleteWhere likely left it orphaned " +
              "— verify no delete is in flight, remove the directory, " +
              "and retry")
        Thread.sleep(20)
      }
    }
    warnPendingDepth(spark, path)
    d
  }

  /** UPDATE WHERE as one atomic merge-on-read commit, match-proportional
    * like [[deleteWhere]]: the matching rows are re-written ONCE with the
    * SET assignments applied (each expression sees the PRE-update row —
    * SQL UPDATE semantics — and casts to the column's existing type),
    * landing as an update-keyspace batch (`__batch = UpdateBase + d`),
    * while one predicate tombstone scoped to the pre-update watermarks
    * masks the old rows; BOTH become visible in the same marker flip
    * (`kind=update`), so no reader ever sees the rows deleted-but-not-
    * yet-replaced or doubled. Cost: one scan + a write of the MATCHED
    * rows + O(1) segment — never a table rewrite; a no-match UPDATE
    * commits nothing. Later appends matching the predicate are
    * unaffected (point-in-time); readers pinned below `d` never see it;
    * [[compactBatches]]/[[maintain]] fold the replacement batch and the
    * tombstone into the next snapshot; the CDF shows the update as
    * delete(old) + insert(new).
    *
    * Commit protocol: the snapshot read, the replacement payload, AND
    * the tombstone's scoped watermarks all derive from ONE pinned
    * version `v0`, and the marker CAS commits strictly at `v0 + 1` —
    * any mutation that lands in between (an unkeyed append, a DELETE, a
    * concurrent update) makes the CAS fail and the WHOLE computation
    * restarts against the new head, so a stale payload computed before
    * a racing DELETE can never re-materialize the deleted rows, and an
    * append committed between the snapshot read and the tombstone can
    * never be silently deleted-instead-of-updated (its rows sit above
    * the pinned watermarks the tombstone stores).
    * Returns the committed version (or the current one on no-match). */
  def updateWhere(spark: SparkSession, path: String, predicateSql: String,
      assignments: Seq[(String, String)],
      schema: Option[StructType] = None): Long = {
    require(IndexManifest.currentVersion(spark, path).isDefined,
      s"no committed table at $path")
    require(assignments.nonEmpty,
      "UPDATE requires at least one SET assignment")
    val f = fs(spark, path)
    import spark.implicits._
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 20,
        s"updateWhere at $path lost the commit race $attempt times in a " +
          "row — retry under quieter write traffic")
      backoffBeforeRederive(attempt)
      // pin ONE version: everything below derives from v0
      val view = viewOf(spark, path)
      val v0 = view.head
      val wm0 = view.watermarkAt(v0)
      val uwm0 = view.unkeyedWatermarkAt(v0)
      val cur = readView(view, v0, schema)
      val bad = assignments.map(_._1).filterNot(cur.columns.contains)
      require(bad.isEmpty,
        s"unknown column(s) in SET: ${bad.mkString(", ")} " +
          s"(table has: ${cur.columns.mkString(", ")})")
      val asg = assignments.toMap
      val updated0 = cur.filter(expr(predicateSql))
        .select(cur.schema.fields.map { fld =>
          asg.get(fld.name)
            .map(sql => expr(sql).cast(fld.dataType).as(fld.name))
            .getOrElse(col(fld.name))
        }.toIndexedSeq: _*)
      updated0.schema // analysis check: bad SQL fails the UPDATE, not reads
      // CHECK constraints gate the POST-image: a SET that would write a
      // violating row aborts before anything commits
      val updated = physicalizeFrame(enforceConstraints(updated0, view), view)
      val dir = view.payloadDirAt(v0).get
      val tmpBatch = new org.apache.hadoop.fs.Path(
        s"$path/.update_pending_${java.util.UUID.randomUUID}")
      updated.write.mode("overwrite").parquet(tmpBatch.toString)
      if (footerRowCount(spark, tmpBatch.toString) == 0L) {
        f.delete(tmpBatch, true) // no-match UPDATE: zero rows, zero commits
        return IndexManifest.currentVersion(spark, path).get
      }
      val tmpSeg = new org.apache.hadoop.fs.Path(
        s"$path/.deletes_pending_${java.util.UUID.randomUUID}")
      Seq((physicalizePred(view, predicateSql), wm0, uwm0))
        .toDF("pred", "wm", "uwm")
        .coalesce(1).write.mode("overwrite").parquet(tmpSeg.toString)
      // CAS with TWO claims (the replacement batch id embeds the
      // version), targeting head+1. KIND-AWARE retry: when the head
      // moves past the target, inspect what moved it. Intervening pure
      // APPENDS keep the staged payload valid — their rows sit strictly
      // above the tombstone's pinned (wm0, uwm0), so they are neither
      // masked nor (point-in-time semantics) updated, and the claim just
      // slides forward to the new head+1. Any intervening
      // delete/update/snapshot (or an untagged legacy marker) makes the
      // pinned snapshot stale — abort and recompute the payload from
      // scratch, so a stale replacement batch can never resurrect rows a
      // racing DELETE removed. A claim conflict with the head unmoved
      // means an in-flight partner (or crashed orphan) holds the slot:
      // spin bounded.
      // `at` answers for d - 1: the pin, or the head the claim slid to
      var d = v0 + 1
      var at = view
      var blockedTries = 0
      var result = -1L // >= 0 committed; -1 still claiming; -2 lost, retry
      while (result == -1L) {
        val head = IndexManifest.currentVersion(spark, path).get
        if (head >= d) {
          at = viewOf(spark, path)
          val appendsOnly =
            ((v0 + 1) to head).forall(at.kindAt(_) == "append")
          if (appendsOnly) { d = head + 1; blockedTries = 0 }
          else result = -2L // a mutation landed: stale snapshot, restart
        } else {
          val bdst = new org.apache.hadoop.fs.Path(
            s"$dir/__batch=${UpdateBase + d}")
          val sdst = new org.apache.hadoop.fs.Path(s"$path/deletes_v$d")
          if (!renameExclusive(f, tmpBatch, bdst)) {
            blockedTries += 1
            if (blockedTries > 100)
              throw new IllegalStateException(
                s"update claim at version $d blocks with no marker " +
                  "arriving: a crashed updateWhere/deleteWhere likely " +
                  s"left an orphan batch or segment dir at $path — " +
                  "verify no mutation is in flight, remove the orphan, " +
                  "and retry")
            Thread.sleep(20)
          } else if (!renameExclusive(f, tmpSeg, sdst)) {
            f.rename(bdst, tmpBatch)
            blockedTries += 1
            if (blockedTries > 100)
              throw new IllegalStateException(
                s"update segment claim at version $d blocks with no " +
                  s"marker arriving — likely a crashed deleteWhere " +
                  s"orphan at $path")
            Thread.sleep(20)
          } else {
            // both claimed; the tail-only tryCommitTagged refuses when
            // ANY marker landed above d (a racing appender that skipped
            // our parked dirs), closing the out-of-order commit window.
            // The MARKER carries d-1's watermarks (== the interleaved
            // appends' when the claim slid) so append visibility never
            // regresses; the TOMBSTONE inside sdst keeps (wm0, uwm0).
            if (IndexManifest.tryCommitTagged(spark, path, d,
                at.watermarkAt(d - 1), at.unkeyedWatermarkAt(d - 1),
                "update"))
              result = d
            else {
              f.rename(bdst, tmpBatch)
              f.rename(sdst, tmpSeg)
              // loop re-reads the head: slides on appends, restarts on
              // mutations
            }
          }
        }
      }
      if (result >= 0L) {
        warnPendingDepth(spark, path)
        return result
      }
      f.delete(tmpBatch, true) // stale payload: recompute from scratch
      f.delete(tmpSeg, true)
    }
    -1L // unreachable
  }

  /** Rows an [[updateWhere]] commit at `version` re-wrote — the
    * replacement batch's count, answered from parquet footers (no column
    * reads). 0 when `version` was not an update commit (or it has been
    * folded). */
  def updatedRowCount(spark: SparkSession, path: String,
      version: Long): Long =
    viewOf(spark, path).payloadAt(version) match {
      case Some(p) =>
        val dir = s"$path/data_v$p/__batch=${UpdateBase + version}"
        if (fs(spark, path).exists(new org.apache.hadoop.fs.Path(dir)))
          footerRowCount(spark, dir)
        else 0L
      case None => 0L
    }

  // ---- MoR MERGE: match-proportional, one-marker, clause-complete --------

  /** One `WHEN MATCHED [AND cond] THEN UPDATE SET .../DELETE` clause.
    * `action` is "update" or "delete"; `cond` is SQL over `__t`/`__s`-
    * qualified columns (absent = always accepts); `assigns` are the SET
    * pairs (target column → SQL over `__t`/`__s`), None = `SET *` (every
    * target column from the same-named source column). */
  final case class MergeMatched(action: String, cond: Option[String],
      assigns: Option[Seq[(String, String)]] = None)

  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT ...` clause: `cond`
    * and assignment values are SQL over `__s`-qualified SOURCE columns
    * only (SQL semantics — there is no target row); `assigns` None =
    * `INSERT *`, Some = explicit column list (unassigned target columns
    * insert NULL). */
  final case class MergeInsert(cond: Option[String],
      assigns: Option[Seq[(String, String)]] = None)

  /** One `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE`
    * clause — the SCD "close out stale rows" idiom: `cond` and
    * assignment values see `__t`-qualified TARGET columns only. */
  final case class MergeBySource(action: String, cond: Option[String],
      assigns: Option[Seq[(String, String)]] = None)

  /** MERGE INTO as ONE atomic merge-on-read commit — the
    * match-proportional sibling of [[updateWhere]], replacing the
    * copy-on-write full-table rewrite for every SQL MERGE shape. What
    * commits (all under one `kind=merge` marker flip at the pinned
    * head + 1):
    *
    *  - an EQUALITY tombstone (`deletes_v<d>` meta + `eqdeletes_v<d>`
    *    key file — the Iceberg equality-delete-file shape): the DISTINCT
    *    key tuples of every target row some clause acted on (matched
    *    UPDATE/DELETE, not-matched-by-source UPDATE/DELETE), scoped to
    *    the pinned watermarks. Reads mask those keys' rows null-safely,
    *    point-in-time — later appends on the same keys are unaffected;
    *  - a REPLACEMENT batch in the update keyspace
    *    (`__batch = UpdateBase + d`): the post-images of acted-on UPDATE
    *    rows, the unchanged pre-images of same-key rows no clause
    *    accepted (the key-group rewrite that keeps per-ROW clause
    *    conditions exact under key-level masking), and the NOT MATCHED
    *    inserts.
    *
    * Cost: one target scan + a shuffle of the MATCHED rows (the window
    * that computes per-key-group resolution) + a write of the
    * acted-on/inserted rows + O(distinct acted keys) of tombstone —
    * NEVER a table rewrite; a 1000-row upsert into a 100 TB table costs
    * the matched rows (`Stress mormerge` measures the flat curve). A
    * small source broadcasts via AQE, so the target is scanned, not
    * shuffled.
    *
    * Exact-SQL semantics preserved from the CoW path: first-match-wins
    * clause resolution, target-side multiplicity (every target row of a
    * matched key resolves independently), null keys never MATCH (3VL)
    * but ARE removable by NOT MATCHED BY SOURCE (the tombstone joins
    * null-safely), duplicate SOURCE keys refuse before anything
    * commits, assignments see pre-update images. Commit protocol is a
    * CAS at pin + 1 that SLIDES over provably-disjoint appends: when
    * the head moved but every intervening commit is a pure append
    * whose NEW rows' keys intersect no source key (one delta-batch
    * semi-probe — the appended rows then belong to no matched group,
    * no not-matched insert, and no acted tombstone key, so the staged
    * payload is still exact), the claim re-targets the new head + 1
    * like [[updateWhere]]'s; any other intervening commit — a
    * mutation, a NOT-MATCHED-BY-SOURCE merge (whose split DOES depend
    * on full target content), or an intersecting append — restarts
    * the derivation. Retries back off with jitter (a hot appender must
    * not starve the merge into its attempt cap, which
    * `spark.graft.merge.maxAttempts` raises when a workload needs it).
    * Folds ([[compactBatches]]/[[maintain]]) erase the tombstone and
    * batch; the CDF shows delete(old) + insert(new); readers pinned
    * below `d` never see it.
    *
    * `nullSafeKeys = true` switches EVERY key comparison to `<=>` —
    * the streaming Update-mode sink's upsert contract, where a
    * NULL-valued grouping key is one more group that must REPLACE its
    * previous emission instead of re-inserting forever (SQL MERGE
    * keeps the standard 3VL `===`). `widenSchema = true` makes a
    * committing merge claim its replacement batch even when empty, so
    * the batch's parquet footer (written under `schema`) carries a
    * WIDENED schema into the table under the SAME marker — the
    * MERGE WITH SCHEMA EVOLUTION path, where a separate pre-merge
    * widening commit would survive a refused or failed merge; a no-op
    * merge commits nothing, widening included.
    *
    * Returns (committed version — or the pinned current on a no-op
    * merge, rows matched — every inner-join row whatever its clause
    * outcome, rows inserted). */
  def mergeWhere(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], matched: Seq[MergeMatched],
      inserts: Seq[MergeInsert], bySource: Seq[MergeBySource] = Nil,
      schema: Option[StructType] = None, nullSafeKeys: Boolean = false,
      widenSchema: Boolean = false): (Long, Long, Long) = {
    require(IndexManifest.currentVersion(spark, path).isDefined,
      s"no committed table at $path")
    require(keyCols.nonEmpty, "MERGE requires key columns")
    (matched.map(_.action) ++ bySource.map(_.action)).foreach(a =>
      require(a == "update" || a == "delete",
        s"MERGE clause action must be update or delete, got '$a'"))
    require(matched.nonEmpty || inserts.nonEmpty || bySource.nonEmpty,
      "MERGE needs at least one clause")
    val f = fs(spark, path)
    import spark.implicits._
    // key comparison: SQL MERGE is 3VL equality (null keys never
    // match); the sink's upsert contract is null-safe (a NULL group
    // key replaces its previous emission like any other key)
    def keyEq(a: Column, b: Column): Column =
      if (nullSafeKeys) a <=> b else a === b
    // SQL cardinality rule: a target row may match at most ONE source
    // row — refuse duplicate source keys before anything commits (the
    // source is fixed across commit retries, so check once).
    // NULL-keyed source rows are exempt UNDER 3VL: they can never
    // MATCH a target row, so several of them are a legal multi-insert,
    // not a cardinality violation. Under nullSafeKeys the null key IS
    // a key group and duplicates on it refuse like any other.
    val dup = (if (nullSafeKeys) source
      else source.filter(
        keyCols.map(k => col(s"`$k`").isNotNull).reduce(_ && _)))
      .groupBy(keyCols.map(k => col(s"`$k`")): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1)
      .collect()
    require(dup.isEmpty,
      s"MERGE cardinality violation: source has duplicate rows on " +
        s"(${keyCols.mkString(", ")}): ${dup.headOption.getOrElse("")}")

    val maxAttempts = spark.conf
      .getOption("spark.graft.merge.maxAttempts")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(20)
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= maxAttempts,
        s"mergeWhere at $path lost the commit race $attempt times in a " +
          "row — raise spark.graft.merge.maxAttempts or retry under " +
          "quieter write traffic")
      backoffBeforeRederive(attempt)
      val view = viewOf(spark, path)
      val v0 = view.head
      val wm0 = view.watermarkAt(v0)
      val uwm0 = view.unkeyedWatermarkAt(v0)
      val tgt = readView(view, v0, schema)
      val tgtSchema = tgt.schema
      keyCols.foreach(k => require(
        tgtSchema.fields.exists(_.name.equalsIgnoreCase(k)),
        s"MERGE key column '$k' is not a column of $path"))
      def acceptsOpt(c: Option[String]): Column =
        c.map(sql => coalesce(expr(sql), lit(false))).getOrElse(lit(true))
      def tRow = struct(tgtSchema.fields.map(fd =>
        col(s"__t.`${fd.name}`").as(fd.name)).toIndexedSeq: _*)
      // post-/insert-image in target-schema shape: assigned columns from
      // their SQL (cast to the column's existing type — UPDATE coercion),
      // unassigned from the target pre-image (update) or NULL (insert);
      // `SET *` / `INSERT *` takes every column from the same-named
      // source column
      def image(assigns: Option[Seq[(String, String)]],
          forInsert: Boolean): Column = {
        val m = assigns.map(_.map { case (k, v) =>
          k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap)
        struct(tgtSchema.fields.map { fd =>
          m match {
            case None =>
              col(s"__s.`${fd.name}`").cast(fd.dataType).as(fd.name)
            case Some(as) =>
              as.get(fd.name.toLowerCase(java.util.Locale.ROOT))
                .map(sql => expr(sql).cast(fd.dataType).as(fd.name))
                .getOrElse(
                  if (forInsert) lit(null).cast(fd.dataType).as(fd.name)
                  else col(s"__t.`${fd.name}`").as(fd.name))
          }
        }.toIndexedSeq: _*)
      }
      def actOf(conds: Seq[Option[String]]): Column =
        conds.zipWithIndex.foldRight(lit(-1): Column) {
          case ((c, i), els) =>
            when(acceptsOpt(c), lit(i)).otherwise(els)
        }
      def emptyTgt = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tgtSchema)
      val keySchema = StructType(keyCols.map(k =>
        tgtSchema.fields.find(_.name.equalsIgnoreCase(k)).get))
      def emptyKeys = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keySchema)

      var updObs: Option[org.apache.spark.sql.Observation] = None
      var insObs: Option[org.apache.spark.sql.Observation] = None
      val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

      // One clause side (matched rows or not-matched-by-source rows) →
      // (replacement rows, DISTINCT acted keys). The key-GROUP rewrite:
      // every row whose key null-safely matches an acted key must be
      // rewritten (acted rows resolve first-match-wins, silent rows
      // pass through) because the tombstone masks by KEY — and the
      // group membership is decided by a semi-join against the ACTED
      // keys (match-proportional), never a window over the whole frame
      // (on the NMBS side that frame is nearly the full table when the
      // source is small — a window there would shuffle the table).
      // Only the NARROW acted-keys frame is cached: Catalyst prunes its
      // branch of the join down to the key + condition columns, so the
      // cache holds O(acted keys) key tuples — persisting the full
      // frame here would spool ~the whole (wide) table to executor
      // storage on the NMBS side; the replacement rows instead
      // re-derive from the pinned read inside the staging write's own
      // scan.
      def resolveSide(frame: DataFrame,
          clauses: Seq[(String, Option[String],
            Option[Seq[(String, String)]])]): (DataFrame, DataFrame) = {
        val staged = frame.withColumn("__act", actOf(clauses.map(_._2)))
        val actedKeys = staged.filter(col("__act") >= 0)
          .select(keyCols.map(k => col(s"__t.`$k`").as(k)): _*)
          .distinct().persist()
        cached += actedKeys
        val ak = actedKeys.select(keyCols.map(k =>
          col(s"`$k`").as(s"__ak_$k")): _*)
        val affected = staged.join(ak,
          keyCols.map(k =>
            col(s"__t.`$k`") <=> col(s"`__ak_$k`")).reduce(_ && _),
          "left_semi")
        val delIdx = clauses.zipWithIndex.collect {
          case ((a, _, _), i) if a == "delete" => i }
        val survivors =
          if (delIdx.isEmpty) affected
          else affected.filter(
            !col("__act").isin(delIdx.map(Int.box): _*))
        val fold = clauses.zipWithIndex.foldRight(tRow: Column) {
          case (((a, _, assigns), i), els) =>
            if (a == "update")
              when(col("__act") === i,
                image(assigns, forInsert = false)).otherwise(els)
            else els
        }
        (survivors.withColumn("__row", fold).select(col("__row.*")),
          actedKeys)
      }

      // ---- matched side: inner join, first-match-wins, group rewrite
      val (matchedRepl, matchedKeys) =
        if (matched.isEmpty) (emptyTgt, emptyKeys)
        else {
          val obs = new org.apache.spark.sql.Observation()
          updObs = Some(obs)
          val joined = tgt.alias("__t").join(source.alias("__s"),
              keyCols.map(k =>
                keyEq(col(s"__t.`$k`"), col(s"__s.`$k`"))).reduce(_ && _),
              "inner")
            .observe(obs, count(lit(1)).as("n"))
          resolveSide(joined,
            matched.map(m => (m.action, m.cond, m.assigns)))
        }

      // ---- not-matched-by-source side: anti join, same group rewrite
      val (bysrcRepl, bysrcKeys) =
        if (bySource.isEmpty) (emptyTgt, emptyKeys)
        else {
          val sk = source.select(keyCols.map(k =>
            col(s"`$k`").as(s"__sk_$k")): _*)
          resolveSide(
            tgt.join(sk, keyCols.map(k =>
                keyEq(col(s"`$k`"), col(s"`__sk_$k`"))).reduce(_ && _),
              "left_anti").alias("__t"),
            bySource.map(m => (m.action, m.cond, m.assigns)))
        }

      // ---- inserts: unmatched source rows, first accepting clause
      val insRepl =
        if (inserts.isEmpty) emptyTgt
        else {
          val obs = new org.apache.spark.sql.Observation()
          insObs = Some(obs)
          val tk = tgt.select(keyCols.map(k =>
            col(s"`$k`").as(s"__tk_$k")): _*)
          val anti = source.alias("__s").join(tk,
            keyCols.map(k =>
              keyEq(col(s"__s.`$k`"), col(s"`__tk_$k`"))).reduce(_ && _),
            "left_anti")
          val imgs = inserts.map(cl => image(cl.assigns, forInsert = true))
          val fold = inserts.zipWithIndex.foldRight(imgs.head: Column) {
            case ((_, i), els) =>
              when(col("__act") === i, imgs(i)).otherwise(els)
          }
          anti.withColumn("__act", actOf(inserts.map(_.cond)))
            .filter(col("__act") >= 0)
            .withColumn("__row", fold).select(col("__row.*"))
            .observe(obs, count(lit(1)).as("n"))
        }

      val removeKeys = matchedKeys.unionByName(bysrcKeys).distinct()
      val replacement = physicalizeFrame(enforceConstraints(
        matchedRepl.unionByName(bysrcRepl).unionByName(insRepl), view), view)

      // ---- stage everything, then the CAS at head + 1 (sliding over
      //      provably-disjoint appends). The tombstone keys stage
      //      FIRST: that job materializes the narrow acted-keys caches
      //      and fires the matched-count observation exactly once; the
      //      replacement write then probes the already-built cache
      //      instead of re-running the observed join.
      val tmpEq = new org.apache.hadoop.fs.Path(
        s"$path/.eqdeletes_pending_${java.util.UUID.randomUUID}")
      val tmpBatch = new org.apache.hadoop.fs.Path(
        s"$path/.update_pending_${java.util.UUID.randomUUID}")
      val tmpSeg = new org.apache.hadoop.fs.Path(
        s"$path/.deletes_pending_${java.util.UUID.randomUUID}")
      // (dst, tmp) pairs currently renamed into place but not committed
      val claimed = scala.collection.mutable
        .ArrayBuffer.empty[(org.apache.hadoop.fs.Path,
          org.apache.hadoop.fs.Path)]
      def backOut(): Unit = {
        claimed.reverse.foreach { case (dst, tmp) => f.rename(dst, tmp) }
        claimed.clear()
      }
      try {
        removeKeys.write.mode("overwrite").parquet(tmpEq.toString)
        replacement.write.mode("overwrite").parquet(tmpBatch.toString)
        cached.foreach(_.unpersist())
        def metricOpt(o: Option[org.apache.spark.sql.Observation]) =
          o.flatMap(_.get.get("n").map(_.asInstanceOf[Long]))
        // a statically-pruned branch reports an empty metric map; the
        // matched count then falls back to a keys-only semi count against
        // the PINNED pre-merge version (audit-only, like the CoW path did)
        def nMatched: Long =
          metricOpt(updObs).getOrElse(
            if (matched.isEmpty && bySource.isEmpty && inserts.isEmpty) 0L
            else readView(view, v0, schema)
              .select(keyCols.map(k => col(s"`$k`")): _*)
              .join(source.select(keyCols.map(k => col(s"`$k`")): _*),
                keyCols, "left_semi").count())
        val nInserted = metricOpt(insObs).getOrElse(0L)
        val batchNeeded = footerRowCount(spark, tmpBatch.toString) > 0L
        val segNeeded = footerRowCount(spark, tmpEq.toString) > 0L
        if (!batchNeeded && !segNeeded) {
          // nothing matched a clause and nothing inserts: a no-op MERGE
          // commits no version (the no-match UPDATE contract) — and
          // under WITH SCHEMA EVOLUTION that includes the widening
          f.delete(tmpBatch, true); f.delete(tmpEq, true)
          return (v0, nMatched, 0L)
        }
        // WITH SCHEMA EVOLUTION rides the replacement batch's parquet
        // footer (written under the widened `schema`) — claim it even
        // when it holds zero rows, so the widening and the merge flip
        // under ONE marker
        val claimBatch = batchNeeded || (widenSchema && segNeeded)
        if (segNeeded)
          Seq((null: String, wm0, uwm0, keyCols.mkString(",")))
            .toDF("pred", "wm", "uwm", "keycols")
            .coalesce(1).write.mode("overwrite").parquet(tmpSeg.toString)
        val dir = view.payloadDirAt(v0).get
        // can the claim SLIDE over the commits in (v0, head]? Only when
        // every one is a pure APPEND whose new rows' keys provably miss
        // every source key (one semi-probe over the delta batches only):
        // the matched/not-matched split, the insert set, and the acted
        // tombstone keys are then untouched by the interleaving. A
        // NOT-MATCHED-BY-SOURCE clause never slides — its split covers
        // the whole target, and every appended row would belong to it.
        // The check is INCREMENTAL across loop iterations: only the
        // markers and delta batches since the LAST verified head are
        // inspected — re-verifying from v0 each time would make the
        // per-iteration cost grow with the appender's total progress,
        // and a sustained appender could then outrun the merge forever
        // (the starvation this round exists to close; observed live
        // under heavy hypervisor steal before the fix).
        var checkedHead = v0
        var wmChecked = wm0
        var uwmChecked = uwm0
        // the slide probe must read the interleaved delta batches the
        // way the TABLE reads them: after a rename/widen DDL the
        // appends physicalize keys under era storage names (k__w<v>),
        // so a LOGICAL-schema read null-pads every delta key and the
        // 3VL === join would judge an INTERSECTING append "provably
        // disjoint" — a silently stale merge. The mapping is pinned at
        // v0: any colmap commit inside the window has kind "colmap",
        // which already fails the all-appends check below.
        val slideMap = view.columnMapAt(v0)
        // the View the claim slides to, or None when it must restart
        def slideTo(head: Long): Option[View] = {
          if (bySource.nonEmpty) return None
          val now = viewOf(spark, path)
          if (!((checkedHead + 1) to head).forall(now.kindAt(_) == "append"))
            return None
          val wmH = now.watermarkAt(head)
          val uwmH = now.unkeyedWatermarkAt(head)
          val (seen, upTo) =
            (Visible(wmChecked, uwmChecked), Visible(wmH, uwmH))
          val parts = batchIds(spark, dir)
            .filter(b => b < UpdateBase && upTo(b) && !seen(b))
            .map(b => s"$dir/__batch=$b")
          val disjoint = parts.isEmpty || {
            val delta = applyColumnMap(
              payloadRead(spark, dir,
                Some(physicalReadSchema(keySchema, slideMap)),
                mergeSchema = false, basePath = Some(dir), parts = parts),
              slideMap, Some(keySchema))
            val mk = source.select(keyCols.map(k =>
              col(s"`$k`").as(s"__mk_$k")): _*)
            delta.join(mk, keyCols.map(k =>
                keyEq(col(s"`$k`"), col(s"`__mk_$k`"))).reduce(_ && _),
              "left_semi").isEmpty
          }
          if (!disjoint) return None
          checkedHead = head; wmChecked = wmH; uwmChecked = uwmH
          Some(now)
        }
        // `at` answers for d - 1: the pin, or the head the claim slid to
        var d = v0 + 1
        var at = view
        var blockedTries = 0
        var result = -1L // >= 0 committed; -1 claiming; -2 lost, re-derive
        while (result == -1L) {
          val head = IndexManifest.currentVersion(spark, path).get
          if (head >= d) {
            slideTo(head) match {
              case Some(now) => at = now; d = head + 1; blockedTries = 0
              case None => result = -2L // a mutation (or an intersecting
                                        // append) landed: stale, restart
            }
          } else {
            val bdst = new org.apache.hadoop.fs.Path(
              s"$dir/__batch=${UpdateBase + d}")
            val edst = new org.apache.hadoop.fs.Path(
              s"$path/eqdeletes_v$d")
            val sdst = new org.apache.hadoop.fs.Path(s"$path/deletes_v$d")
            val wanted =
              (if (claimBatch) Seq(tmpBatch -> bdst) else Nil) ++
              (if (segNeeded) Seq(tmpEq -> edst, tmpSeg -> sdst) else Nil)
            val allClaimed = wanted.forall { case (tmp, dst) =>
              val ok = renameExclusive(f, tmp, dst)
              if (ok) claimed += (dst -> tmp)
              ok
            }
            if (!allClaimed) {
              backOut()
              blockedTries += 1
              if (blockedTries > 100)
                throw new IllegalStateException(
                  s"merge claim at version $d blocks with no marker " +
                    "arriving: a crashed mutation likely left an orphan " +
                    s"batch or segment dir at $path — maintain's " +
                    "cleanOrphans removes it")
              Thread.sleep(20)
            } else if (IndexManifest.tryCommitTagged(spark, path, d,
                at.watermarkAt(d - 1), at.unkeyedWatermarkAt(d - 1),
                "merge")) {
              // the marker carries d-1's watermarks (== the interleaved
              // appends' when the claim slid) so append visibility never
              // regresses; the TOMBSTONE inside sdst keeps (wm0, uwm0)
              claimed.clear()
              result = d
            } else {
              backOut()
              // loop re-reads the head: slides on disjoint appends,
              // restarts on mutations; an in-flight partner holding the
              // marker slot spins bounded
            }
          }
        }
        if (result >= 0L) {
          // staged dirs that were never part of the claim set (a
          // delete-only merge's empty replacement, an update-only
          // merge's unused segment row) are debris — remove them now
          Seq(tmpBatch, tmpEq, tmpSeg).foreach(p => f.delete(p, true))
          warnPendingDepth(spark, path)
          return (result, nMatched, nInserted)
        }
        f.delete(tmpBatch, true); f.delete(tmpEq, true)
        f.delete(tmpSeg, true)
      } catch {
        case t: Throwable =>
          // failed merges clean up after themselves: back out any held
          // claim, then remove the staged dirs — otherwise every failed
          // attempt leaves orphan debris until a manual
          // maintain/cleanOrphans run
          scala.util.Try(backOut())
          Seq(tmpBatch, tmpEq, tmpSeg).foreach(p =>
            scala.util.Try(f.delete(p, true)))
          throw t
      }
    }
    (-1L, -1L, -1L) // unreachable
  }

  /** A LOGICAL schema expanded to the physical names the payload files
    * carry for it — what an explicit-schema read must request so old
    * batches' pre-rename columns still load (absent names null-pad per
    * file, the parquet explicit-schema contract). Each physical name is
    * requested under its OWN era's type (`ptypes`) — a widened column's
    * old batches must be read as what they are and cast at resolution,
    * never requested under the wider type the files do not carry. */
  private def physicalReadSchema(s: StructType,
      mapping: Seq[ColumnMapping]): StructType =
    if (mapping.isEmpty) s
    else StructType(s.fields.toSeq.flatMap { f =>
      mapping.find(_.logical.equalsIgnoreCase(f.name)) match {
        case Some(m) =>
          val ts: Seq[org.apache.spark.sql.types.DataType] =
            if (m.ptypes.size == m.physical.size)
              m.ptypes.map(org.apache.spark.sql.types.DataType.fromDDL)
            else m.physical.map(_ => f.dataType)
          m.physical.zip(ts).map { case (p, t) =>
            org.apache.spark.sql.types.StructField(p, t, nullable = true) }
        case None => Seq(f)
      }
    })

  // ---- View: one resolution per operation --------------------------------

  /** Everything an operation asks about the table's versions, answered
    * from ONE [[IndexManifest.Resolved]] — the checkpoint-backed marker
    * log (marker bodies read on demand, memoized) plus the root listing
    * of versioned dirs — with the table's rules written once on top:
    * kind-tagged honoring of payloads, delete segments, column maps and
    * constraint sets ([[IndexManifest.Resolved.honored]]), watermark
    * resolution, and `__batch` visibility. On a busy table (a streaming Update-mode sink commits
    * one marker per micro-batch) resolving once is the difference
    * between flat and O(#versions) planning (`Stress manifestscale`).
    *
    * Freshness rule: a View answers questions about versions at or
    * below the head it read, and those answers never go stale (marker
    * bodies are immutable; a committed version's dirs stay until
    * vacuum). A read builds one View up front; a mutator builds one
    * before it stages data and a fresh one at the top of each commit
    * attempt. Claim decisions never come from a View: the CAS loops
    * re-check the head with [[IndexManifest.currentVersion]], claims are
    * [[IndexManifest.renameExclusive]] renames, and
    * [[IndexManifest.tryCommitTagged]] refuses a commit below the tail. */
  private[operators] final class View(val spark: SparkSession,
      val path: String, r: IndexManifest.Resolved) {
    def committed: Seq[Long] = r.committed
    def current: Option[Long] = r.current
    def head: Long = {
      require(current.isDefined, s"no committed table at $path")
      current.get
    }
    def isCommitted(version: Long): Boolean = r.log.committedSet(version)
    def kindAt(version: Long): String = r.log.infoAt(version).kind
    /** The number the next mutation must claim. */
    def nextVersion: Long = r.nextVersion

    def payloadAt(version: Long): Option[Long] = r.payloadAt(version, "data")
    def payloadDirAt(version: Long): Option[String] =
      payloadAt(version).map(p => s"$path/data_v$p")
    /** The current payload version. */
    def payload: Option[Long] = current.flatMap(payloadAt)
    def payloadDir: Option[String] = current.flatMap(payloadDirAt)

    /** Keyed watermark of `version`: the highest streaming/low-range
      * `__batch` id applied at-or-before it. Markers from before
      * watermarks read as the current payload's own max batch id. */
    def watermarkAt(version: Long): Long = {
      val wm = r.log.infoAt(version).wm
      if (wm != Long.MaxValue) wm
      else payloadDir.fold(-1L)(batchIds(spark, _).foldLeft(-1L)(math.max))
    }

    /** Unkeyed (high-range) watermark of `version`: the highest committed
      * unkeyed `__batch` id, or -1 when none (every pre-split marker —
      * their unkeyed appends lived in the low range, covered by the
      * keyed watermark). */
    def unkeyedWatermarkAt(version: Long): Long = r.log.infoAt(version).uwm

    /** The batches `version` serves, given the `__batch` ids of its
      * payload dir: update batches count only when their version was
      * committed BY an update or merge (an orphaned claim's never does). */
    def visibleAt(version: Long, ids: Seq[Long]): Visible =
      Visible(watermarkAt(version), unkeyedWatermarkAt(version),
        updateVersionsIn(ids)
          .filter(d => d <= version && UpdateKinds(kindAt(d))).toSet)

    /** Committed delete-segment versions masking `version`:
      * payload(version) < D <= version (segments at-or-below the payload
      * were folded into it), and only when version D was committed BY a
      * delete-carrying mutation (tagged marker kind) — a racing
      * appender's marker at the same number must not legitimize an
      * in-flight segment a losing deleteWhere is about to take back.
      * Pre-tagging markers ("" kind) are honored — their delete segments
      * really were the committer. */
    def deleteSegmentsAt(version: Long): Seq[Long] =
      r.honored("deletes", version, Some(DeleteKinds),
        after = payloadAt(version).getOrElse(-1L)).toSeq.reverse

    /** The column mapping visible at `version` — the newest `colmap_v`
      * artifact at-or-below it committed by a `colmap` marker; empty =
      * identity (the common case: no artifact read). */
    def columnMapAt(version: Long): Seq[ColumnMapping] =
      r.honored("colmap", version, Some(Set("colmap"))).nextOption()
        .fold(Seq.empty[ColumnMapping])(readColMap(spark, path, _))

    /** The constraints visible at `version`: the newest constraint
      * artifact at-or-below it committed by the matching mutation kind —
      * `constraints_v` by a `constraints` marker (plain ADD/DROP
      * CONSTRAINT DDL), `constraintsnap_v` by a `snapshot` one (the
      * combined payload+constraints REPLACE/CTAS commit — its own
      * family, so an unrelated snapshot committer at the number a losing
      * PLAIN setConstraints parked its artifact under can never
      * legitimize the uncommitted set). Empty = none. */
    def constraintsAt(version: Long): Seq[TableConstraint] =
      Seq("constraints" -> "constraints", "constraintsnap" -> "snapshot")
        .flatMap { case (family, kind) =>
          r.honored(family, version, Some(Set(kind))).nextOption()
            .map(_ -> family)
        }.maxByOption(_._1)
        .fold(Seq.empty[TableConstraint]) { case (cv, family) =>
          readConstraints(spark, s"$path/${family}_v$cv")
        }
  }

  /** Marker kinds that legitimize a delete segment ("" = pre-tagging). */
  private val DeleteKinds = Set("", "delete", "update", "merge")
  /** Marker kinds that legitimize an update-range batch. */
  private val UpdateKinds = Set("update", "merge")

  private def viewOf(spark: SparkSession, path: String): View =
    new View(spark, path, IndexManifest.resolve(spark, path))

  /** The (keyed, unkeyed) watermarks a marker committed at `v` carries
    * forward: those of the newest version below `v`. The attempt's View
    * holds them when `v` is its head + 1 — a commit landing in between
    * would take `v` itself and make ours refuse. A claim past a number
    * gap re-reads them just before its commit. */
  private def carriedInto(at: View, v: Long): (Long, Long) = {
    val base =
      if (at.current.forall(_ + 1 == v)) at else viewOf(at.spark, at.path)
    base.current.fold((-1L, -1L))(h =>
      (base.watermarkAt(h), base.unkeyedWatermarkAt(h)))
  }

  /** The masked PHYSICAL frame of composite `version` (still carrying
    * `__batch` and pre-rename column names) — masks evaluate here
    * because tombstone predicates are stored physical-tolerant.
    * [[resolvedAt]] applies the column mapping on top. */
  private def resolvedPhysical(view: View, version: Long,
      schema: Option[StructType], mergeSchema: Boolean,
      mapping: Seq[ColumnMapping]): DataFrame = {
    val spark = view.spark
    val p = view.payloadAt(version)
    require(p.isDefined, s"version $version of ${view.path} has been " +
      "vacuumed — raise vacuum(keep)")
    val dir = s"${view.path}/data_v${p.get}"
    // ONE listing of the payload dir serves both the update-version
    // resolution and the visible-batch restriction below
    val batches = batchIds(spark, dir)
    val visibility = view.visibleAt(version, batches)
    // a live mapping needs the FULL footer union: plain parquet schema
    // sampling could pick a pre-rename file and lose the new-era name
    // the masks and the logical view coalesce over
    val merge = mergeSchema || (mapping.nonEmpty && schema.isEmpty)
    // merged (footer-union) reads restrict to the VISIBLE batch dirs:
    // an invisible dir — a later era's zero-row evolution footer, an
    // append above this pin's watermark, a crashed orphan — must not
    // leak its columns into this version's schema. Pins serve era
    // schemas BY CONSTRUCTION (cold sessions included), not by schema-
    // cache warmth; row visibility was already exact either way.
    val visible = batches.filter(visibility(_))
    // a pin with ZERO row-visible batches must still serve ITS era's
    // schema: footer-union only dirs whose era is at-or-below this
    // version (update-range ids embed their commit version; low/unkeyed
    // ids above the watermarks are LATER appends and may carry later-era
    // columns). Rows were already exact either way — this guards the
    // empty frame's schema.
    val schemaSafe =
      if (visible.nonEmpty) visible
      else batches.filter(b =>
        b >= UpdateBase && b - UpdateBase <= version)
    val base =
      if (merge && schemaSafe.nonEmpty && schemaSafe.size < batches.size)
        payloadRead(spark, dir,
          schema.map(physicalReadSchema(_, mapping)), merge,
          basePath = Some(dir),
          parts = schemaSafe.map(b => s"$dir/__batch=$b"))
      else payloadRead(spark, dir,
        schema.map(physicalReadSchema(_, mapping)), merge)
    maskDeletes(base.filter(visibility.column),
      deletePredsOf(spark, view.path, view.deleteSegmentsAt(version)),
      view.path, mapping)
  }

  /** Resolved rows of composite `version` WITH the `__batch` column:
    * payload batches at-or-below the watermark, delete segments masked,
    * column mapping applied (renamed columns resolve, dropped ones
    * disappear — each at the ERA the version pins). The one read
    * everything public builds on. */
  private def resolvedAt(view: View, version: Long,
      schema: Option[StructType], mergeSchema: Boolean): DataFrame = {
    val mapping = view.columnMapAt(version)
    applyColumnMap(
      resolvedPhysical(view, version, schema, mergeSchema, mapping),
      mapping, schema)
  }

  /** [[resolvedAt]] without the `__batch` column — what callers see. */
  private def readView(view: View, version: Long,
      schema: Option[StructType] = None,
      mergeSchema: Boolean = false): DataFrame =
    resolvedAt(view, version, schema, mergeSchema).drop("__batch")

  /** The current live table: committed batches only (at-or-below the
    * current watermark — a concurrent in-flight or crash-orphaned batch
    * partition is invisible until its marker lands), minus live delete
    * segments. `schema` keeps a zero-row snapshot readable and null-pads
    * evolved history; `mergeSchema` unions batch schemas instead. */
  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val view = viewOf(spark, path)
    val v = view.current.getOrElse(
      sys.error(s"no committed table at $path"))
    readView(view, v, schema, mergeSchema)
  }

  /** VERSION AS OF `version`: the newest payload at-or-below it, batches
    * at-or-below its watermark, delete segments at-or-below it —
    * immutable once superseded (later appends land above the watermark,
    * later deletes in higher segments, later snapshots under higher
    * payload numbers). */
  def readAt(spark: SparkSession, path: String, version: Long,
      schema: Option[StructType] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val view = viewOf(spark, path)
    require(view.isCommitted(version),
      s"version $version was never committed at $path")
    readView(view, version, schema, mergeSchema)
  }

  /** CHANGE DATA FEED between two committed versions — what downstream
    * consumers (incremental ETL, cache invalidation, index maintenance)
    * read instead of re-scanning the table: every row carries a
    * `_change_type` of `insert` or `delete`, and applying the feed to
    * the `from` snapshot reproduces the `to` snapshot as a multiset.
    * Two cost regimes, picked automatically:
    *
    *  - same payload (the append-log / MoR-delete case): inserts are
    *    exactly the `__batch` partitions in (wm_from, wm_to] — the scan
    *    is BUILT from those dirs alone (the [[readRange]] listing
    *    discipline), masked by the window's delete segments (an insert
    *    deleted within the window cancels out); deletes are the rows of
    *    the from-view matching segments committed in the window —
    *    match-proportional, never a table diff;
    *  - payload replaced ([[commitSnapshot]] — the upsert/merge case):
    *    a multiset content diff of the two snapshots (`exceptAll` both
    *    ways), O(table) — the honest price of replacement commits
    *    without row-level commit logs; callers on this path at scale
    *    should prefer append/MoR commits, which is exactly the guidance
    *    the CoW-vs-MoR upsert measurements give.
    *
    * THE FEED IS A CONTENT DELTA, not a row-churn log: byte-identical
    * delete/insert pairs cancel (so a MoR key-group rewrite's untouched
    * same-key rows never appear — but neither does an `UPDATE SET v = v`
    * that wrote its existing value, which emits nothing). Consumers
    * that audit CHURN rather than content — trigger pipelines counting
    * touched rows, write-amplification monitors — pass
    * `rawPairs = true` to receive every physical delete/insert pair
    * uncancelled; the multiset apply-the-feed guarantee holds either
    * way (cancellation only removes net-zero pairs). */
  def readChanges(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, schema: Option[StructType] = None,
      rawPairs: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val view = viewOf(spark, path)
    require(view.isCommitted(fromVersion) && view.isCommitted(toVersion),
      s"both versions must be committed at $path")
    val pF = view.payloadAt(fromVersion)
    val pT = view.payloadAt(toVersion)
    require(pF.isDefined && pT.isDefined,
      s"a version in [$fromVersion, $toVersion] of $path has been " +
        "vacuumed — raise vacuum(keep)")
    if (pF == pT) {
      val dir = s"$path/data_v${pT.get}"
      val batches = batchIds(spark, dir)
      val visF = view.visibleAt(fromVersion, batches)
      val visT = view.visibleAt(toVersion, batches)
      val segsF = view.deleteSegmentsAt(fromVersion).toSet
      val segsT = view.deleteSegmentsAt(toVersion)
      val newSegs = segsT.filterNot(segsF)
      val survivors = batches.filter(b => visT(b) && !visF(b))
        .map(b => s"$dir/__batch=$b")
      // the window's era mapping: TO-side — the shared payload dir's
      // footer union carries every era's physical names, so older rows
      // resolve under it too
      val mapping = view.columnMapAt(toVersion)
      val inserts =
        if (survivors.isEmpty)
          readView(view, toVersion, schema).filter(lit(false))
        else
          // masked by the TO-view's segments: a row appended then deleted
          // inside the window never enters the feed (net zero)
          applyColumnMap(maskDeletes(
            payloadRead(spark, dir,
              schema.map(physicalReadSchema(_, mapping)),
              mergeSchema = false,
              basePath = Some(dir), parts = survivors),
            deletePredsOf(spark, path, segsT), path, mapping),
            mapping, schema).drop("__batch")
      val insertFeed = inserts.withColumn("_change_type", lit("insert"))
      if (newSegs.isEmpty) insertFeed
      else {
        // deletes: from-view rows matching a window segment (predicate
        // or equality keys), scoped to that segment's watermark —
        // match-proportional by construction. Flags evaluate on the
        // PHYSICAL from-frame (stored predicates are physical-tolerant),
        // then the mapping resolves the logical feed shape.
        val preds = deletePredsOf(spark, path, newSegs)
        val (flagged, hitAny, helpers) = flagDeletes(
          resolvedPhysical(view, fromVersion, schema,
            mergeSchema = false, mapping), preds, path, mapping)
        val deletes = applyColumnMap(
            flagged.filter(hitAny).drop(helpers: _*), mapping, schema)
          .drop("__batch")
        // CONTENT-NEUTRAL delete/insert pairs CANCEL: a MoR MERGE's
        // key-group rewrite re-lands the untouched same-key rows of an
        // acted key (and an UPDATE may set a column to its existing
        // value) — byte-identical pre/post images. The feed's contract
        // is a content delta, and a consumer treating _change_type as
        // real row churn (audit trails, trigger pipelines, follower
        // indexes) must not act on no-op pairs. exceptAll is exact
        // multiset cancellation — match-proportional over the window,
        // never the table. Skipped (raw pairs served) only when the
        // shape is not set-op comparable: a MAP column, or
        // insert/delete column lists that do not line up (a mid-window
        // evolution — the consumer re-baselines there anyway).
        def comparable(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case _: org.apache.spark.sql.types.MapType => false
            case s: StructType =>
              s.fields.forall(f => comparable(f.dataType))
            case a: org.apache.spark.sql.types.ArrayType =>
              comparable(a.elementType)
            case _ => true
          }
        if (!rawPairs && inserts.columns.toSeq == deletes.columns.toSeq &&
            inserts.schema.fields.forall(f => comparable(f.dataType)))
          inserts.exceptAll(deletes)
            .withColumn("_change_type", lit("insert"))
            .unionByName(deletes.exceptAll(inserts)
              .withColumn("_change_type", lit("delete")))
        else
          insertFeed.unionByName(
            deletes.withColumn("_change_type", lit("delete")))
      }
    } else {
      val a = readView(view, fromVersion, schema)
      val b = readView(view, toVersion, schema)
      // a replacement that EVOLVED the schema has no row-level diff
      // (exceptAll would throw a shape error deep in analysis) — fail
      // with the actual situation and the way out
      require(a.columns.toSeq == b.columns.toSeq,
        s"schema changed between versions $fromVersion " +
          s"(${a.columns.mkString(",")}) and $toVersion " +
          s"(${b.columns.mkString(",")}) — a cross-schema feed is " +
          "undefined; consumers re-baseline from the new snapshot")
      b.exceptAll(a).withColumn("_change_type", lit("insert"))
        .unionByName(a.exceptAll(b).withColumn("_change_type", lit("delete")))
    }
  }

  /** MERGE INTO (upsert) as one COPY-ON-WRITE snapshot commit — kept
    * for callers who WANT the rewrite (a fold rides along for free, and
    * duplicate source keys are legal here, resolved by `orderCols`);
    * at scale prefer [[mergeWhere]], the match-proportional
    * merge-on-read path every SQL MERGE takes (`Stress mormerge`: this
    * shape grows unbounded with table volume, mergeWhere stays flat).
    *
    * Semantics: a source row REPLACES
    * any same-key current rows (WHEN MATCHED THEN UPDATE — the source
    * always wins a matched key, via a source-priority tiebreak ahead of
    * `orderCols`), new keys insert (WHEN NOT MATCHED); duplicate keys
    * WITHIN a side resolve by `orderCols` descending. One max_by
    * aggregate over current ∪ source — no window, no sort; the CoW
    * counterpart of the MoR append+[[readLatest]] pair, picked by
    * write- vs read-amplification exactly as with the streaming
    * sinks. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String],
      schema: Option[StructType] = None): Long = {
    require(keyCols.nonEmpty && orderCols.nonEmpty)
    // content derives from the table: the pinned re-derive commit, so
    // an append racing the merge is folded by a retry, never lost
    commitDerivedSnapshot(spark, path, { v0 =>
      val cur = readAt(spark, path, v0, schema).withColumn("__src", lit(0L))
      val src = source.withColumn("__src", lit(1L))
      val payload = cur.columns.filterNot(keyCols.contains)
      cur.unionByName(src)
        .groupBy(keyCols.map(col): _*)
        .agg(max_by(struct(payload.map(col): _*),
          struct(("__src" +: orderCols).map(col): _*)).as("__r"))
        .select(keyCols.map(col) ++
          payload.filterNot(_ == "__src")
            .map(c => col(s"__r.$c").as(c)): _*)
    })
  }

  /** Merge-on-read resolve: latest row per `keyCols`, ordered by
    * `orderCols` (descending significance left-to-right, ties broken by
    * the later column) — the read side of an append-log upsert table
    * (each batch appends its rows, [[readLatest]] collapses across the
    * log, [[compactBatches]] folds it back; the folded snapshot resolves
    * identically — q_stream_upsert_mor's hash). One map-side-combinable
    * max_by aggregate: no window, no sort. */
  def readLatest(spark: SparkSession, path: String, keyCols: Seq[String],
      orderCols: Seq[String], schema: Option[StructType] = None): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty)
    val df = read(spark, path, schema)
    val payload = df.columns.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(orderCols.map(col): _*)).as("__r"))
      .select(keyCols.map(col) ++
        payload.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** All committed versions still resolvable, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    IndexManifest.markerLog(spark, path).committed

  /** Force a manifest-log checkpoint at the current head (normally
    * written automatically every
    * `spark.graft.manifest.checkpointInterval`-th commit — see
    * [[IndexManifest.markerLog]]); returns the checkpointed head.
    * Maintenance surfaces call this after bulk history rewrites. */
  def checkpointManifest(spark: SparkSession, path: String): Option[Long] =
    IndexManifest.writeCheckpoint(spark, path)

  /** The newest version committed at-or-before `tsMillis` — the
    * TIMESTAMP AS OF resolution, from the marker files' modification
    * times (the Delta approach, with the same caveat: commit times are
    * filesystem mtimes, so restoring/copying a table re-stamps them;
    * version pins are the exact time axis, timestamps the convenience).
    * None when the table did not exist yet at `tsMillis` or the versions
    * from back then have been vacuumed. */
  def versionAtTime(spark: SparkSession, path: String,
      tsMillis: Long): Option[Long] = {
    val f = fs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/manifest")
    if (!f.exists(dir)) return None
    val committed = versions(spark, path).toSet
    f.listStatus(dir)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v")) n.drop(1).toLongOption
          .filter(committed)
          .map(v => (v, st.getModificationTime))
        else None
      }
      .filter(_._2 <= tsMillis)
      .sortBy(_._1)
      .lastOption.map(_._1)
  }

  // ---- layout hint: PARTITIONED BY as clustering advice ------------------

  /** Record `cols` as the table's LAYOUT HINT — what `CREATE TABLE ...
    * PARTITIONED BY (c)` maps to: graft tables own their physical
    * layout (`__batch` partitions + OPTIMIZE/CLUSTER BY + zone maps),
    * so the clause is accepted as CLUSTERING ADVICE, not a partition
    * contract — maintenance (`CALL graft.optimize`/`maintain`) defaults
    * its cluster/stats columns to the hint, and the zone maps it
    * refreshes give range probes on those columns the pruned read
    * (`readRange`), which is what Hive-style partition pruning was
    * buying. One tiny `manifest/layouthint` ref file (the tag shape);
    * metadata-only, re-settable, never consulted for correctness. */
  def setLayoutHint(spark: SparkSession, path: String,
      cols: Seq[String]): Unit = {
    val f = fs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/manifest/.tag_pending_${java.util.UUID.randomUUID}")
    val out = f.create(tmp, true)
    try out.write(cols.mkString(",").getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(s"$path/manifest/layouthint")
    if (!f.rename(tmp, dst)) {
      f.delete(dst, false)
      require(f.rename(tmp, dst),
        s"could not place the layout hint at $path")
    }
  }

  /** The clustering columns `PARTITIONED BY` declared; empty = none. */
  def layoutHint(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/manifest/layouthint")
    if (!f.exists(p)) return Nil
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in).mkString.trim
    finally in.close()
    if (body.isEmpty) Nil
    else body.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  // ---- named tags: human refs into the version history -------------------

  private val TagName = "^[A-Za-z][A-Za-z0-9_.-]*$".r

  private def tagPath(path: String, name: String) =
    new org.apache.hadoop.fs.Path(s"$path/manifest/tag_$name")

  /** Pin `name` to `version` (default: current). A tag is a tiny
    * `manifest/tag_<name>` ref file — O(1) metadata, no data copied —
    * readable as `VERSION AS OF '<name>'` through the catalog and
    * PROTECTED FROM VACUUM: the tagged version's payload, segments, and
    * marker survive any `keep`/retention policy until [[untag]].
    * Re-tagging an existing name moves it (last writer wins — tags are
    * operator refs, not commits). Returns the pinned version. */
  def tag(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None): Long = {
    require(TagName.matches(name),
      s"tag name '$name' must match ${TagName.regex} (it becomes a " +
        "manifest filename)")
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed table at $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"cannot tag version $v of $path — never committed or already " +
        s"vacuumed (retained: ${vs.mkString(", ")})")
    val f = fs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/manifest/.tag_pending_${java.util.UUID.randomUUID}")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // place the ref WITHOUT a prior delete where the filesystem allows
    // a rename over the existing file (POSIX local FS does): a re-tag
    // then moves the name atomically, so a concurrent
    // `VERSION AS OF '<name>'` reader never lands in a deleted-but-not-
    // yet-renamed gap. FSes that refuse the overwrite fall back to
    // delete+rename (the old, momentarily-gapped shape).
    val dst = tagPath(path, name)
    if (!f.rename(tmp, dst)) {
      f.delete(dst, false)
      require(f.rename(tmp, dst),
        s"could not place tag '$name' at $path")
    }
    // re-verify AFTER the ref is visible: a vacuum that listed tags()
    // before this ref landed may have just reclaimed the version being
    // pinned — undo the dangling tag and fail loudly instead of leaving
    // a pin that contradicts the vacuum-protection contract
    if (!versions(spark, path).contains(v)) {
      f.delete(dst, false)
      throw new IllegalStateException(
        s"version $v of $path was vacuumed while tag '$name' was being " +
          "placed — the pin was undone; re-tag a retained version " +
          s"(retained: ${versions(spark, path).mkString(", ")})")
    }
    v
  }

  /** Remove tag `name`; false when it did not exist. The version it
    * pinned becomes reclaimable by the next vacuum like any other. */
  def untag(spark: SparkSession, path: String, name: String): Boolean = {
    require(TagName.matches(name), s"malformed tag name '$name'")
    fs(spark, path).delete(tagPath(path, name), false)
  }

  /** All tags, name → version, name-sorted. Dangling tags (version
    * vacuumed out from under a pin placed AFTER the fact — impossible
    * through [[tag]]+[[vacuum]], which protects pins) are still listed;
    * resolution fails loudly at read. */
  def tags(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val f = fs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/manifest")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("tag_") =>
        n.stripPrefix("tag_") }
      .sorted.toSeq
      .flatMap(n => tagVersion(spark, path, n).map(n -> _))
  }

  /** The version tag `name` pins, if the tag exists. */
  def tagVersion(spark: SparkSession, path: String,
      name: String): Option[Long] = {
    val f = fs(spark, path)
    val p = tagPath(path, name)
    if (!TagName.matches(name) || !f.exists(p)) return None
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in).mkString.trim
    finally in.close()
    body.toLongOption
  }

  /** RESTORE: make the table's next version serve the CONTENT of an
    * older one — a forward-moving commit through the pinned re-derive
    * loop (history is never rewritten; the bad versions stay pinnable
    * for forensics until vacuum). Cost is honest CoW: one snapshot
    * write of the restored content (the masked read at `version`), so
    * at very large scale prefer `tag` + pinned READS for investigation
    * and restore only to actually move the table back. Current CHECK
    * constraints apply to the restored content (a restore cannot
    * smuggle rows past a constraint added since). Returns the new
    * version. */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    require(versions(spark, path).contains(version),
      s"cannot restore $path to version $version — never committed or " +
        s"vacuumed (retained: ${versions(spark, path).mkString(", ")})")
    // merged schema: restoring an EVOLVED-era version must carry its
    // late-added columns (the non-merged read's schema is whichever
    // batch footer parquet sampled)
    commitDerivedSnapshot(spark, path,
      _ => readAt(spark, path, version, mergeSchema = true))
  }

  // ---- column mapping: RENAME/DROP COLUMN without a rewrite --------------
  //
  // Parquet footers carry PHYSICAL column names; a rename that rewrote
  // 100 TB to change a name would be absurd, and the footer-merged
  // layout has no Iceberg-style field ids to indirect through. The
  // graft answer is a versioned NAME-MAPPING artifact (`colmap_v<N>`,
  // kind-tagged marker like constraints): each entry maps one LOGICAL
  // column to its historical physical names (newest first — new writes
  // land under the logical name, old batches keep theirs), or marks a
  // column DROPPED. Reads resolve the logical view as
  // `coalesce(<present physical names>)`; pinned reads resolve the
  // mapping of THEIR era, so time travel serves era names; a
  // compaction folds everything to logical names physically and clears
  // the mapping (restoring the stats-pruned read routes, which are
  // conservatively bypassed while a mapping is live). Ambiguity is
  // refused at DDL time instead of resolved heuristically: a new
  // column may never reuse ANY historical physical name (the same
  // bytes would mean two different columns in one payload dir — the
  // exact hazard field ids exist to prevent) until a fold clears the
  // history.

  /** One logical column's mapping: `physical` is its name history,
    * newest first (head = the logical name for non-dropped entries,
    * EXCEPT a type-widened column, whose head is its new-era storage
    * name `<col>__w<version>` — two parquet types must never share one
    * physical name in a footer-merged dir); `dropped` hides the column
    * from every read at-or-after the mapping's version; `ptypes` is the
    * per-era physical TYPE history parallel to `physical` (catalog
    * strings; empty on legacy artifacts = no read-time cast). The
    * logical view serves every era cast to `ptypes.head` — ALTER COLUMN
    * TYPE widening as pure metadata. */
  final case class ColumnMapping(logical: String, physical: Seq[String],
      dropped: Boolean, ptypes: Seq[String] = Nil)

  private val ColMapSchema =
    "logical STRING, physical ARRAY<STRING>, dropped BOOLEAN, " +
      "ptypes ARRAY<STRING>"

  /** The column mapping visible at `version` (default: current) — the
    * newest kind-tagged `colmap_v` artifact at-or-below it; empty =
    * identity (the overwhelmingly common case: one listing RPC, no
    * read). */
  def columnMapOf(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[ColumnMapping] = {
    val view = viewOf(spark, path)
    version.orElse(view.current)
      .fold(Seq.empty[ColumnMapping])(view.columnMapAt)
  }

  /** The `colmap_v<cv>` artifact's rows — O(#columns), one driver
    * read. Pre-ptypes artifacts read `ptypes` as NULL → no casts. */
  private def readColMap(spark: SparkSession, path: String,
      cv: Long): Seq[ColumnMapping] =
    spark.read.schema(ColMapSchema).parquet(s"$path/colmap_v$cv")
      .collect()
      .map(r => ColumnMapping(r.getString(0),
        r.getSeq[String](1).toSeq, r.getBoolean(2),
        if (r.isNullAt(3)) Nil else r.getSeq[String](3).toSeq))
      .sortBy(_.logical).toSeq

  /** Replace the table's column mapping in ONE marker commit (kind
    * `colmap` — metadata-only, watermarks carried forward). The
    * [[setConstraints]] protocol: `expectedCurrent` refuses when a
    * competing colmap DDL landed since the set was derived. */
  def setColumnMapping(spark: SparkSession, path: String,
      ms: Seq[ColumnMapping],
      expectedCurrent: Option[Long] = None): Long = {
    require(IndexManifest.currentVersion(spark, path).isDefined,
      s"no committed table at $path")
    val f = fs(spark, path)
    import spark.implicits._
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.colmap_pending_${java.util.UUID.randomUUID}")
    ms.map(m => (m.logical, m.physical, m.dropped, m.ptypes))
      .toDF("logical", "physical", "dropped", "ptypes")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    var v = -1L
    var committed = false
    while (!committed) {
      val at = viewOf(spark, path)
      expectedCurrent.foreach { e =>
        val cur = at.head
        val competing = ((e + 1) to cur).exists(at.kindAt(_) == "colmap")
        if (competing) {
          f.delete(tmp, true)
          throw new java.util.ConcurrentModificationException(
            s"column mapping for $path was computed against version $e " +
              s"but a competing rename/drop DDL committed since (now " +
              s"at $cur) — re-read and retry")
        }
      }
      v = at.nextVersion
      val dst = new org.apache.hadoop.fs.Path(s"$path/colmap_v$v")
      if (renameExclusive(f, tmp, dst)) {
        val (wm, uwm) = carriedInto(at, v)
        committed = IndexManifest.tryCommitTagged(spark, path, v, wm, uwm,
          "colmap")
        if (!committed) f.rename(dst, tmp)
      }
    }
    v
  }

  /** The raw footer-merged PHYSICAL columns of the current payload —
    * what the DDL layer checks new names against (a logical read hides
    * historical names; a collision with one of those would make the
    * same physical bytes mean two columns). */
  def physicalColumns(spark: SparkSession, path: String): Seq[String] =
    physicalColumnsOf(viewOf(spark, path))

  private def physicalColumnsOf(view: View): Seq[String] =
    view.payloadDir.fold(Seq.empty[String])(d =>
      payloadRead(view.spark, d, None, mergeSchema = true)
        .schema.fieldNames.toSeq.filterNot(_ == "__batch"))

  /** `name` → the Column reading it through `mapping` on a PHYSICAL
    * frame with columns `present`: the coalesce of the owning entry's
    * present physical names. Accepts the logical name OR any historical
    * physical name (an equality tombstone written pre-rename stores the
    * era's name; both address the same column). Identity when
    * unmapped. */
  private def physExprOf(mapping: Seq[ColumnMapping],
      present: Set[String], name: String): Column = {
    val lower = name.toLowerCase(java.util.Locale.ROOT)
    mapping.find(m =>
        m.logical.toLowerCase(java.util.Locale.ROOT) == lower ||
        m.physical.exists(
          _.toLowerCase(java.util.Locale.ROOT) == lower)) match {
      case Some(m) =>
        // per-era read-time CAST: a type-widened column's old batches
        // keep their era's physical type — every branch casts to the
        // head (current logical) type before the coalesce, so the
        // logical view serves ONE type across eras (a no-op Catalyst
        // folds away on unwidened entries)
        val headType = m.ptypes.headOption
        def branch(c: Column): Column = headType.fold(c)(t => c.cast(t))
        val phys = m.physical.filter(p => present.exists(
          _.equalsIgnoreCase(p)))
        if (phys.isEmpty) branch(col(s"`$name`"))
        else if (phys.size == 1) branch(col(s"`${phys.head}`"))
        else coalesce(phys.map(p => branch(col(s"`$p`"))): _*)
      case None => col(s"`$name`")
    }
  }

  /** Rewrite `predicateSql`'s top-level column references through the
    * CURRENT mapping into physical-tolerant form
    * (`w > 5` → `coalesce(w, v) > 5`) — what [[deleteWhere]]/
    * [[updateWhere]] STORE in their tombstones, so the mask evaluates
    * correctly on the physical frame across every era's batches.
    * Identity when no mapping is live. */
  private def physicalizePred(view: View, predicateSql: String): String = {
    val mapping = view.columnMapAt(view.head)
    if (mapping.isEmpty) return predicateSql
    // only names some payload file actually carries enter the stored
    // coalesce — a just-renamed column whose new name has no footer yet
    // must not make every later read's mask unresolvable
    val present = physicalColumnsOf(view)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val byName = mapping.filterNot(_.dropped).flatMap(m =>
      (m.logical +: m.physical).map(n =>
        n.toLowerCase(java.util.Locale.ROOT) -> m)).toMap
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedExtractValue}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce,
      Expression, Literal}
    view.spark.sessionState.sqlParser.parseExpression(predicateSql)
      .transformUp {
        // the HEAD of a (possibly nested) reference is the top-level
        // column renames operate on: `point.x` with `point` renamed
        // substitutes the container and re-attaches the field path
        // (the pred was analysis-checked against the bare table, so a
        // multi-part head is a real column, never a dangling qualifier)
        case u: UnresolvedAttribute if byName.contains(u.nameParts.head
              .toLowerCase(java.util.Locale.ROOT)) =>
          val m = byName(u.nameParts.head
            .toLowerCase(java.util.Locale.ROOT))
          val phys = m.physical.filter(p =>
            present.contains(p.toLowerCase(java.util.Locale.ROOT)))
          val names = if (phys.nonEmpty) phys else m.physical.take(1)
          // a type-widened entry evaluates every era cast to the head
          // type (the stored predicate was analyzed against the
          // logical — wide — view)
          val headT = m.ptypes.headOption
            .map(org.apache.spark.sql.types.DataType.fromDDL)
          def attr(p: String): Expression = {
            val a: Expression = UnresolvedAttribute(Seq(p))
            headT.fold(a)(t => Cast(a, t))
          }
          val base: Expression =
            if (names.size <= 1) attr(names.head)
            else Coalesce(names.map(attr))
          u.nameParts.tail.foldLeft(base)((e, f) =>
            UnresolvedExtractValue(e, Literal(f)))
      }.sql
  }

  /** Rewrite a LOGICAL write frame to the physical shape the current
    * era expects: a column whose mapping entry has a head physical name
    * DIFFERENT from the logical (a type widening's new-era storage
    * name) is renamed and cast to the era type, so its footer never
    * collides with the old era's bytes under one name — the
    * type-conflict a footer-merged layout cannot express. Identity
    * without a mapping (the overwhelmingly common case: one listing).
    * Applied by every funnel that writes INTO the current payload dir
    * ([[append]], the [[updateWhere]]/[[mergeWhere]] replacement
    * batches); snapshot-shaped commits replace the payload wholesale
    * and stay logical. */
  private def physicalizeFrame(df: DataFrame, view: View): DataFrame = {
    val mapping = view.columnMapAt(view.head)
    if (mapping.isEmpty) return df
    df.columns.foldLeft(df) { (d, c) =>
      mapping.find(m => !m.dropped &&
          m.logical.equalsIgnoreCase(c)) match {
        case Some(m) if m.physical.nonEmpty &&
            !m.physical.head.equalsIgnoreCase(c) =>
          val renamed = d.withColumnRenamed(c, m.physical.head)
          m.ptypes.headOption.fold(renamed)(t => renamed.withColumn(
            m.physical.head, col(s"`${m.physical.head}`").cast(t)))
        case _ => d
      }
    }
  }

  /** Column names (lower-cased) referenced by the CURRENT version's
    * pending tombstones — predicate attrs and equality-segment keys.
    * The DDL layer refuses DROP COLUMN on one of these: the column's
    * bytes still drive a live mask until a fold erases it. */
  private[graft] def pendingSegmentColumns(spark: SparkSession,
      path: String): Set[String] = {
    val view = viewOf(spark, path)
    val v = view.current.getOrElse(return Set.empty)
    deletePredsOf(spark, path, view.deleteSegmentsAt(v))
      .flatMap { dp =>
        dp.keyCols.map(_.toLowerCase(java.util.Locale.ROOT)) ++
          (if (dp.pred == null) Nil
           else spark.sessionState.sqlParser
             .parseExpression(dp.pred).collect {
               // HEAD, not last: `point.x` pins the top-level column
               // `point` — the name DROP COLUMN would take away
               case u: org.apache.spark.sql.catalyst.analysis
                   .UnresolvedAttribute =>
                 u.nameParts.head.toLowerCase(java.util.Locale.ROOT)
             })
      }.toSet
  }

  /** Resolve the physical frame `df` (which may still carry `__batch`)
    * to its LOGICAL view under `mapping`: each mapped column becomes
    * the coalesce of its present physical names at the position of its
    * first physical occurrence; dropped columns and superseded
    * physical names disappear; unmapped columns pass through. `want`
    * (a LOGICAL schema) additionally pins the output order. */
  private def applyColumnMap(df: DataFrame,
      mapping: Seq[ColumnMapping],
      want: Option[StructType] = None): DataFrame = {
    if (mapping.isEmpty) return df
    val present = df.columns.toSet
    def entryOf(c: String): Option[ColumnMapping] = {
      val lower = c.toLowerCase(java.util.Locale.ROOT)
      mapping.find(_.physical.exists(
        _.toLowerCase(java.util.Locale.ROOT) == lower))
    }
    val emitted = scala.collection.mutable.Set.empty[String]
    val cols = df.columns.toSeq.flatMap { c =>
      entryOf(c) match {
        case Some(m) if m.dropped => None
        case Some(m) =>
          val key = m.logical.toLowerCase(java.util.Locale.ROOT)
          if (emitted.contains(key)) None
          else {
            emitted += key
            Some(physExprOf(mapping, present, m.logical).as(m.logical))
          }
        case None => Some(col(s"`$c`"))
      }
    }
    val mapped = df.select(cols: _*)
    want match {
      case None => mapped
      case Some(s) =>
        val order = s.fieldNames.toSeq ++
          (if (mapped.columns.contains("__batch")) Seq("__batch")
           else Nil)
        mapped.select(order.map(c => col(s"`$c`")): _*)
    }
  }

  // ---- table CHECK constraints: versioned metadata artifact --------------

  /** One table constraint: `sql` must not evaluate to FALSE on any row
    * (NULL satisfies — the SQL standard); `enforced` gates writes,
    * `rely`/`status` are optimizer metadata passed through to the DSv2
    * surface. `kind` is "check" (default) or "notnull:<column>" — a
    * NOT NULL column constraint, whose predicate is `col IS NOT NULL`
    * (a NULL evaluates it to FALSE, so the CHECK funnel enforces it)
    * PLUS the stricter absence rule: a write whose frame OMITS the
    * column entirely is refused instead of NULL-passing (every row it
    * lands would read NULL — exactly what NOT NULL forbids). Persisted
    * as `constraints_v<N>` parquet rows committed under the marker
    * protocol, so constraint DDL is atomic, versioned, vacuum-aware
    * (the newest below-cutoff artifact survives like any geometry
    * family), and pinned reads see the constraints of their era;
    * pre-kind artifacts read kind = "check". */
  final case class TableConstraint(name: String, sql: String,
      enforced: Boolean, rely: Boolean, status: String,
      kind: String = "check") {
    /** The column a "notnull:<col>" constraint pins; None for CHECK. */
    def notNullColumn: Option[String] =
      if (kind.startsWith("notnull:")) Some(kind.stripPrefix("notnull:"))
      else None
  }

  private val ConstraintSchema =
    "name STRING, sql STRING, enforced BOOLEAN, rely BOOLEAN, " +
      "status STRING, kind STRING"

  /** Constraints visible at `version` (default: current) — the newest
    * constraint artifact at-or-below it whose version was committed BY
    * the matching mutation kind (see [[View.constraintsAt]]; a dir
    * parked by a losing committer is never honored, the
    * [[View.deleteSegmentsAt]] discipline). Empty = none. */
  def constraintsOf(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[TableConstraint] = {
    val view = viewOf(spark, path)
    version.orElse(view.current)
      .fold(Seq.empty[TableConstraint])(view.constraintsAt)
  }

  /** A constraint artifact's rows — O(#constraints), one driver read;
    * pre-kind artifacts read kind = "check". */
  private def readConstraints(spark: SparkSession,
      dir: String): Seq[TableConstraint] =
    spark.read.schema(ConstraintSchema).parquet(dir)
      .collect()
      .map(r => TableConstraint(r.getString(0), r.getString(1),
        r.getBoolean(2), r.getBoolean(3), r.getString(4),
        if (r.isNullAt(5)) "check" else r.getString(5)))
      .sortBy(_.name).toSeq

  /** Replace the table's constraint set in ONE marker commit (kind
    * `constraints` — a metadata-only version: no payload, no segment,
    * watermarks carried forward). ADD/DROP CONSTRAINT both funnel here
    * with the full post-DDL set. `expectedCurrent` guards the
    * read-modify-write: a set computed against version `e` refuses to
    * commit once ANY other mutation landed (the caller re-reads and
    * re-derives — without this, two concurrent ADD CONSTRAINTs would
    * serialize on version numbers but the second's full-set write
    * would silently drop the first's addition). Returns the committed
    * version. */
  def setConstraints(spark: SparkSession, path: String,
      cs: Seq[TableConstraint],
      expectedCurrent: Option[Long] = None): Long = {
    require(IndexManifest.currentVersion(spark, path).isDefined,
      s"no committed table at $path")
    val dup = cs.groupBy(_.name.toLowerCase(java.util.Locale.ROOT))
      .collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate constraint name(s): ${dup.mkString(", ")}")
    // analysis check NOW: a predicate that doesn't resolve against the
    // merged schema fails the DDL, not every later write
    val merged = read(spark, path, None, mergeSchema = true)
    cs.foreach(c => merged.filter(expr(c.sql)).schema)
    val f = fs(spark, path)
    val tmp = stageConstraintRows(spark, path, cs)
    var v = -1L
    var committed = false
    while (!committed) {
      val at = viewOf(spark, path)
      expectedCurrent.foreach { e =>
        val cur = at.head
        // only ANOTHER constraints commit can have changed the set —
        // interleaved appends/deletes/updates are harmless and must not
        // starve constraint DDL on a busy streaming table
        val competing =
          ((e + 1) to cur).exists(at.kindAt(_) == "constraints")
        if (competing) {
          f.delete(tmp, true)
          throw new java.util.ConcurrentModificationException(
            s"constraint set for $path was computed against version $e " +
              s"but a competing constraint DDL committed since (now at " +
              s"$cur) — re-read and retry")
        }
      }
      v = at.nextVersion
      val dst = new org.apache.hadoop.fs.Path(s"$path/constraints_v$v")
      if (renameExclusive(f, tmp, dst)) {
        val (wm, uwm) = carriedInto(at, v)
        committed = IndexManifest.tryCommitTagged(spark, path, v, wm, uwm,
          "constraints")
        if (!committed) f.rename(dst, tmp) // lost the marker race: retry
      }
    }
    v
  }

  /** Inline write-side enforcement: every storage-layer write funnel
    * ([[append]], [[stagePayload]] → snapshots/merges/folds,
    * [[updateWhere]]'s replacement batch) filters rows through
    * `assert_true` per ENFORCED constraint — zero extra passes (the
    * predicate rides the write's own scan; a violating row aborts the
    * job before any commit, so atomicity holds). A constraint whose
    * columns are absent from `df` (an evolving narrow append) passes by
    * the NULL-satisfies rule — those rows read NULL for the column. */
  private def enforceConstraints(df: DataFrame, view: View): DataFrame = {
    val path = view.path
    view.current.fold(Seq.empty[TableConstraint])(view.constraintsAt)
      .filter(_.enforced).foldLeft(df) { (d, c) =>
      scala.util.Try(d.filter(expr(c.sql)).schema) match {
        case scala.util.Failure(_) =>
          // column not in this frame. For CHECK that's the NULL-pass
          // rule (absent reads NULL, NULL satisfies). For NOT NULL it
          // is the opposite: every row this frame lands would read
          // NULL for the pinned column — refuse the write outright.
          c.notNullColumn match {
            case Some(colName) => throw new IllegalArgumentException(
              s"NOT NULL constraint ${c.name} on $path: the incoming " +
                s"frame has no column '$colName' — every written row " +
                "would read NULL; include the column (or drop the " +
                "constraint) before this write")
            case None => d
          }
        case scala.util.Success(_) =>
          d.filter(assert_true(
            coalesce(expr(c.sql), lit(true)),
            lit(s"${if (c.notNullColumn.isDefined) "NOT NULL"
              else "CHECK"} constraint ${c.name} (${c.sql}) violated " +
              s"by an incoming row at $path")).isNull)
      }
    }
  }

  /** One row per retained version (ascending): readable?, row count,
    * payload bytes, and the committing mutation `kind`
    * (append/snapshot/delete/update; '' on pre-tagging legacy markers —
    * the Delta DESCRIBE HISTORY operation column) — the audit view a
    * retention policy reads, the [[VectorIndex.history]] shape on
    * tables. */
  def history(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val f = fs(spark, path)
    val view = viewOf(spark, path)
    val cur = view.current.getOrElse(-1L)
    if (view.committed.isEmpty) // nothing committed: empty audit
      return spark.sql(
        """SELECT CAST(NULL AS BIGINT) AS version, false AS is_current,
          |  false AS readable, CAST(NULL AS BIGINT) AS n_rows,
          |  CAST(NULL AS BIGINT) AS payload_bytes,
          |  CAST(NULL AS STRING) AS kind,
          |  CAST(NULL AS STRING) AS tags""".stripMargin).limit(0)
    // tag names pinning each version (names are regex-restricted, so
    // inlining them in the literal SQL below is quote-safe)
    val tagsOf = tags(spark, path).groupBy(_._2)
      .map { case (tv, ts) => tv -> ts.map(_._1).sorted.mkString(",") }
    val rows = view.committed.map { v =>
      // the mutation that committed this version (the DESCRIBE HISTORY
      // operation column): append/snapshot/delete/update, or '' for a
      // pre-tagging legacy marker — off the checkpoint-backed marker
      // log (one file open for the whole walk, not one per version)
      val kind = view.kindAt(v)
      val tagStr = tagsOf.getOrElse(v, "")
      view.payloadAt(v) match {
        case None =>
          s"SELECT ${v}L AS version, ${v == cur} AS is_current, " +
            "false AS readable, CAST(NULL AS BIGINT) AS n_rows, " +
            s"CAST(NULL AS BIGINT) AS payload_bytes, '$kind' AS kind, " +
            s"'$tagStr' AS tags"
        case Some(p) =>
          val n = scala.util.Try(readView(view, v, schema).count())
            .getOrElse(0L)
          val bytes = f.getContentSummary(
            new org.apache.hadoop.fs.Path(s"$path/data_v$p")).getLength
          s"SELECT ${v}L AS version, ${v == cur} AS is_current, " +
            s"true AS readable, ${n}L AS n_rows, " +
            s"${bytes}L AS payload_bytes, '$kind' AS kind, " +
            s"'$tagStr' AS tags"
      }
    }
    rows.map(spark.sql).reduce(_ unionByName _)
  }

  /** Fold the current payload's batch partitions AND pending delete
    * segments into one fresh snapshot — the table analog of index
    * compaction (a long-lived append-log table accumulates one `__batch`
    * dir per insert and one segment per DELETE; folding restores
    * big-file scans and physically erases masked rows). One marker;
    * earlier pins keep their own payload until vacuum. Returns the
    * committed version. */
  def compactBatches(spark: SparkSession, path: String,
      schema: Option[StructType] = None): Long = {
    val hadMapping = columnMapOf(spark, path).nonEmpty
    val v = commitDerivedSnapshot(spark, path,
      v0 => readAt(spark, path, v0, schema))
    // the fold wrote LOGICAL names physically, so a live column mapping
    // is now identity — clear it (one metadata commit) to restore the
    // stats-pruned read routes that are conservatively bypassed while a
    // mapping is live; pinned pre-fold reads keep their era's artifact.
    // Runs under the single-maintenance-actor contract folds already
    // assume; a crash before the clear just leaves the identity mapping
    // (correct, only slower) until the next maintain.
    if (hadMapping) setColumnMapping(spark, path, Nil)
    v
  }

  /** Reclaim versions older than the `keep` most recent — the index
    * layer's expire-snapshots with the TABLE payload base: the reclaim
    * cutoff must resolve against `data_v` payloads, or an append-log
    * table (one old snapshot + many append markers — the warehouse
    * shape) would lose the marker that makes its only payload
    * resolvable. `retainMs > 0` additionally refuses to reclaim any
    * version committed inside the horizon (the Delta RETAIN rule), so a
    * long-running pinned reader cannot have its files deleted mid-query.
    * Zone-map artifacts fall under the geometry-survivor rule
    * unchanged. */
  def vacuum(spark: SparkSession, path: String, keep: Int = 2,
      retainMs: Long = 0L): Seq[Long] =
    IndexManifest.vacuum(spark, path, keep, payloadBase = "data",
      retainMs = retainMs,
      pinned = tags(spark, path).map(_._2).toSet)

  /** The versions [[vacuum]] with these arguments WOULD reclaim — the
    * dry-run the retention runbook checks before deleting (same
    * cutoff/retention/pin arithmetic, zero deletion). */
  def vacuumDryRun(spark: SparkSession, path: String, keep: Int = 2,
      retainMs: Long = 0L): Seq[Long] =
    IndexManifest.reclaimable(spark, path, keep, payloadBase = "data",
      retainMs = retainMs,
      pinned = tags(spark, path).map(_._2).toSet)

  /** Remove debris a CRASHED mutation left behind, so the next
    * delete/update at its version slot doesn't spin into the
    * "remove the orphan and retry" diagnostic by hand. Three classes,
    * all invisible to readers by the commit protocol:
    *
    *  1. root `.data_pending_*` / `.update_pending_*` /
    *     `.deletes_pending_*` staging dirs (crash before any claim);
    *  2. claim dirs parked ABOVE the committed head with no marker —
    *     `deletes_v{d}` / `data_v{d}` with `d > currentVersion` (crash
    *     between the rename claim and the marker; these BLOCK the slot
    *     for future mutations);
    *  3. update-keyspace batch dirs `__batch = UpdateBase + d` in the
    *     current payload with `d > currentVersion` (the update's second
    *     claim, same crash window).
    *
    * An IN-FLIGHT mutation holds exactly the state of classes 2-3 for
    * the duration of one write, so removal is age-guarded: only debris
    * older than `olderThanMs` (default 1 h — orders of magnitude above
    * any mutation's rename-to-marker window) goes. Called by
    * [[maintain]]; returns the number of directories removed. */
  def cleanOrphans(spark: SparkSession, path: String,
      olderThanMs: Long = 3600000L): Int = {
    val f = fs(spark, path)
    val now = System.currentTimeMillis
    val view = viewOf(spark, path)
    val cur = view.current.getOrElse(-1L)
    var removed = 0
    // coordinator hygiene: a crashed mutation's CLAIM row (coordinated
    // store) blocks its slot just like its orphan dir does — forgetting
    // the deleted destinations (and their claimed children) makes this
    // sweep the one remediation for both. Exact keys, bulk release.
    val forgotten =
      scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.Path]
    def sweep(dir: String, matches: String => Boolean): Unit = {
      val d = new org.apache.hadoop.fs.Path(dir)
      if (f.exists(d)) f.listStatus(d).foreach { st =>
        if (matches(st.getPath.getName) &&
            now - st.getModificationTime > olderThanMs) {
          val children =
            if (st.isDirectory)
              scala.util.Try(f.listStatus(st.getPath)).toOption
                .map(_.map(_.getPath).toSeq).getOrElse(Nil)
            else Nil
          if (f.delete(st.getPath, true)) {
            removed += 1
            forgotten ++= children
            forgotten += st.getPath
            log.warn(s"removed crashed-mutation orphan ${st.getPath}")
          }
        }
      }
    }
    sweep(path, n => n.startsWith(".data_pending_") ||
      n.startsWith(".update_pending_") || n.startsWith(".deletes_pending_") ||
      n.startsWith(".constraints_pending_") ||
      n.startsWith(".eqdeletes_pending_") ||
      n.startsWith(".colmap_pending_"))
    sweep(s"$path/manifest", n => n.startsWith(".tag_pending_") ||
      n.startsWith(".ckpt_pending_"))
    def above(n: String, prefix: String): Boolean =
      n.startsWith(prefix) &&
        n.stripPrefix(prefix).toLongOption.exists(_ > cur)
    val beforeVersioned = removed
    sweep(path, n => above(n, "deletes_v") || above(n, "data_v") ||
      above(n, "constraints_v") || above(n, "constraintsnap_v") ||
      above(n, "eqdeletes_v") || above(n, "colmap_v"))
    // a removed VERSIONED orphan closes a number gap the fast marker
    // log skips by that dir's presence — move the fence so readers
    // fall back to the listing until the next checkpoint re-syncs
    if (removed > beforeVersioned) IndexManifest.bumpFence(spark, path)
    view.payloadDir.foreach(d =>
      sweep(d, n => n.startsWith("__batch=") &&
        n.stripPrefix("__batch=").toLongOption
          .exists(b => b >= UpdateBase && b - UpdateBase > cur)))
    val store = graft.operators.CommitStore
      .of(f, new org.apache.hadoop.fs.Path(s"$path/manifest"))
    if (forgotten.nonEmpty) store.forgetAll(f, forgotten.toSeq)
    // GHOST registrations: a claim whose winner died BEFORE any
    // filesystem transition holds a coordination row with NO dir —
    // invisible to every listing above, permanently blocking its slot.
    // The sweep's own horizon already assumes mutations finish within
    // olderThanMs (pending staging dirs are swept on that basis), so
    // an aged registration whose destination does not exist is dead by
    // the same contract. Existence is re-checked AFTER the age filter,
    // so a live commit registering now is never touched; a racing
    // completion (pendingBody) is decided by the destination file — a
    // released row only re-opens a slot the file does not yet protect.
    val ghosts = store.staleRegistrations(f,
        new org.apache.hadoop.fs.Path(path), olderThanMs)
      .filterNot(p => f.exists(p))
    if (ghosts.nonEmpty) {
      store.forgetAll(f, ghosts)
      removed += ghosts.size
      ghosts.foreach(p =>
        log.warn(s"released dead claim registration for $p"))
    }
    removed
  }

  /** One-call table maintenance — [[VectorIndex.maintain]]'s policy
    * surface on data tables: fold the append log when it exceeds
    * `maxBatches` partition dirs (read amplification and the per-batch
    * listing bill both grow with the log) OR when pending MoR delete
    * segments reach `maxDeletes` (each segment is one more mask every
    * read evaluates — and folding is what physically erases the masked
    * rows), refresh the pruning artifacts the caller relies on (zone
    * maps / Blooms — a compacted payload has none until refreshed;
    * probes stay EXACT through the conservative fallbacks either way,
    * maintenance only restores the fast path), and expire versions past
    * `keepVersions`. Returns a 1-row report (batches_before, compacted,
    * batches_after, deletes_before, deletes_after). */
  def maintain(spark: SparkSession, path: String, maxBatches: Int = 16,
      keepVersions: Int = 2, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, expectedPerBatch: Long = 1000000L,
      schema: Option[StructType] = None, maxDeletes: Int = 8,
      retainMs: Long = 0L): DataFrame = {
    require(maxBatches >= 1 && keepVersions >= 1 && maxDeletes >= 1)
    cleanOrphans(spark, path) // age-guarded: never touches in-flight work
    def batchCount: Int =
      viewOf(spark, path).payloadDir.fold(0)(batchIds(spark, _).size)
    val before = batchCount
    val deletesBefore = pendingDeletes(spark, path)
    val compacted = before > maxBatches || deletesBefore >= maxDeletes
    if (compacted) compactBatches(spark, path, schema)
    if (statsCols.nonEmpty) refreshZoneMaps(spark, path, statsCols, schema)
    if (bloomCols.nonEmpty)
      refreshBloomFilters(spark, path, bloomCols, expectedPerBatch,
        schema = schema)
    vacuum(spark, path, keepVersions, retainMs)
    // refresh the manifest checkpoint after the history rewrite: the
    // next read's marker log answers from one file again instead of
    // paying the vacuum-survivor tail
    checkpointManifest(spark, path)
    spark.sql(s"SELECT ${before} AS batches_before, " +
      s"$compacted AS compacted, ${batchCount} AS batches_after, " +
      s"$deletesBefore AS deletes_before, " +
      s"${pendingDeletes(spark, path)} AS deletes_after")
  }

  // ---- zone maps: per-batch min/max stats → manifest-level skipping ----
  //
  // At 100 TB an append-log table is thousands of `__batch` partition
  // dirs; a time- or id-range query that must LIST and FOOTER-OPEN every
  // one pays the object-store RPC bill before reading a byte (parquet
  // row-group stats only help after the file is opened). A zone map is
  // the Delta/Iceberg answer at the manifest layer: one tiny stats row
  // per (batch, column), read in a single O(#batches) metadata pass, and
  // the range read plans `__batch` partition filters that skip the
  // non-overlapping dirs at PLANNING time — the scan never lists them.
  //
  // Stats are an ACCELERATION artifact, never a correctness dependency:
  // a batch with no stats row is always read, a payload with no stats
  // artifact falls back to the plain filtered scan, and [[readRange]]
  // re-applies the exact predicate after pruning — so a crash between a
  // payload commit and its stats write, or a table whose early appends
  // predate zone maps, degrades to the unpruned plan, not to wrong rows.
  // Stats rows are keyed by the same `__batch` replay key as the data, so
  // a streaming replay overwrites its own row instead of double-counting.
  // A column added by schema evolution simply has no stats row in old
  // batches — conservatively read; its values there are all-null, so
  // once stats ARE refreshed the null bounds prove those batches away
  // (null never matches a range), which is exact.
  //
  // Bounds are LONGs: exact for integral columns; fractional columns are
  // floor/ceil-widened (conservative — never prunes a matching batch).

  private val ZoneSchema = "col STRING, zmin LONG, zmax LONG, " +
    "n_rows LONG, __batch LONG"
  private val BloomSchema = "col STRING, bloom BINARY, __batch LONG"

  /** (Re)compute per-batch BLOOM FILTERS for `bloomCols` (long-castable)
    * of the CURRENT payload — the point-lookup complement of the zone
    * maps: zone maps prune RANGE probes on clustered keys, but a
    * high-cardinality key scattered across batches (a hash-distributed
    * id: present in exactly one batch, yet every batch's min–max spans
    * the domain) gives them nothing, while a per-batch Bloom filter
    * proves most batches free of any specific value. One distributed
    * pass per refresh (aggregateByKey builds each batch's filter on the
    * executors and merges partials — never a per-batch job); the
    * artifact costs ~1.2 bytes/key at 1% fpp per batch, the Iceberg/
    * parquet-bloom catalog trade. `expectedPerBatch` sizes the filters
    * (overshoot is wasted bytes, undershoot inflates fpp — never
    * correctness, [[readPoint]] re-applies the exact predicate). */
  def refreshBloomFilters(spark: SparkSession, path: String,
      bloomCols: Seq[String], expectedPerBatch: Long,
      fpp: Double = 0.01, schema: Option[StructType] = None): Unit = {
    writeBloomRows(spark, path, currentPayload(spark, path), bloomCols,
      expectedPerBatch, fpp, schema, batch = None)
  }

  /** Upsert ONE batch's Bloom rows into the current payload's artifact
    * (dynamic partition overwrite on the batch's replay key) — the
    * append-side maintenance that keeps [[readPoint]] on the pruned path
    * as the log grows, the [[appendZoneMaps]] of the Bloom layer. */
  def appendBloomFilters(spark: SparkSession, path: String, batch: Long,
      bloomCols: Seq[String], expectedPerBatch: Long,
      fpp: Double = 0.01, schema: Option[StructType] = None): Unit = {
    writeBloomRows(spark, path, currentPayload(spark, path), bloomCols,
      expectedPerBatch, fpp, schema, batch = Some(batch))
  }

  /** The current payload version of a table that must exist. */
  private def currentPayload(spark: SparkSession, path: String): Long =
    viewOf(spark, path).payload.getOrElse(
      sys.error(s"no committed table at $path"))

  private def writeBloomRows(spark: SparkSession, path: String, p: Long,
      bloomCols: Seq[String], expectedPerBatch: Long, fpp: Double,
      schema: Option[StructType], batch: Option[Long]): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    require(bloomCols.nonEmpty && expectedPerBatch > 0)
    val dir = s"$path/data_v$p"
    val all = payloadRead(spark, dir, schema, mergeSchema = false)
    val base = batch.fold(all)(b => all.filter(col("__batch") === b))
    // EXECUTOR-RESIDENT end to end: the per-batch filters are built by
    // aggregateByKey on the executors AND written from there — the
    // serialized blobs (~1.2 MB each at 1M keys / 1% fpp) never collect
    // to the driver, so a 10k-batch refresh costs the driver O(1) heap
    // instead of O(#batches × MB). The probe side was already
    // executor-side (round 10); this closes the build side. Each batch
    // key lives in exactly one aggregateByKey partition, so the
    // partitionBy write emits one file per batch, same layout as before.
    def filtersOf[T: scala.reflect.ClassTag](
        pairs: org.apache.spark.rdd.RDD[(Long, T)],
        put: (BloomFilter, T) => Unit, c: String)
        : org.apache.spark.rdd.RDD[(String, Array[Byte], Long)] =
      pairs.aggregateByKey(BloomFilter.create(expectedPerBatch, fpp))(
          (f, v) => { put(f, v); f },
          (a, b) => { a.mergeInPlace(b); a })
        .map { case (batch, f) =>
          val bos = new java.io.ByteArrayOutputStream()
          f.writeTo(bos)
          (c, bos.toByteArray, batch)
        }
    val rows = bloomCols.map { c =>
      // string columns hash via putString, everything else via a long
      // cast — [[readPoint]]/[[readPointString]] probes dispatch the same
      // way, so the hashed representation always matches
      if (base.schema(c).dataType.typeName == "string")
        filtersOf[String](
          base.select(col(c).as("__v"),
              col("__batch").cast("long").as("__batch"))
            .na.drop().rdd.map(r => (r.getLong(1), r.getString(0))),
          (f, v) => { f.putString(v); () }, c)
      else
        filtersOf[Long](
          base.select(col(c).cast("long").as("__v"),
              col("__batch").cast("long").as("__batch"))
            .na.drop().rdd.map(r => (r.getLong(1), r.getLong(0))),
          (f, v) => { f.putLong(v); () }, c)
    }.reduce(_ union _)
    import spark.implicits._
    val out = rows.toDF("col", "bloom", "__batch")
      .write.partitionBy("__batch").mode("overwrite")
    (if (batch.isDefined) out.option("partitionOverwriteMode", "dynamic")
     else out)
      .parquet(s"$path/bloomstats_v$p")
  }

  /** The current table filtered to `c IN values`, with `__batch`
    * partitions whose Bloom filter proves NO probed value present never
    * even listed (the [[readRange]] discipline for POINT lookups). The
    * exact IN predicate is re-applied after pruning — Bloom membership
    * is a necessary condition with false positives, so the result is
    * always identical to `read(...).filter(isin)`; a missing artifact, a
    * column it does not cover, or batches it does not cover degrade
    * conservatively to the full filtered read. */
  def readPoint(spark: SparkSession, path: String, c: String,
      values: Seq[Long], schema: Option[StructType] = None): DataFrame =
    readPointPruned(spark, path, c,
      bf => values.exists(bf.mightContainLong),
      col(c).isin(values: _*), schema)

  /** [[readPoint]] for STRING keys — the categorical point lookup
    * (`event_type IN (...)`, `lang = 'de'`): probes hash via
    * `mightContainString`, matching [[refreshBloomFilters]]'s
    * `putString` path for string columns. Same pruning, same
    * conservative fallbacks, same exact re-filter. */
  def readPointString(spark: SparkSession, path: String, c: String,
      values: Seq[String], schema: Option[StructType] = None): DataFrame =
    readPointPruned(spark, path, c,
      bf => values.exists(bf.mightContainString),
      col(c).isin(values: _*), schema)

  /** The might-contain decision runs WHERE THE FILTER BLOBS LIVE: each
    * executor deserializes the bloomstats rows of its split and emits
    * only `(batch id, hit?)` — O(#batches × 9 bytes) ever reaches the
    * driver, instead of the old collect-every-blob plan that pulled
    * O(#batches × ~1.2 MB) of filter bytes through the driver heap per
    * point probe (a 10k-batch table: ~12 GB then, ~90 KB now). */
  private def readPointPruned(spark: SparkSession, path: String, c: String,
      hit: org.apache.spark.util.sketch.BloomFilter => Boolean,
      predicate: Column, schema: Option[StructType]): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    // a live column mapping means artifact column names may be stale
    // era names — degrade to the (mapping-aware) plain filtered read;
    // the next compaction clears the mapping and restores this route
    val view = viewOf(spark, path)
    val v = view.current.getOrElse(
      sys.error(s"no committed table at $path"))
    def readAll = readView(view, v, schema).filter(predicate)
    if (view.columnMapAt(v).nonEmpty) return readAll
    val p = view.payloadAt(v).getOrElse(
      sys.error(s"no committed table at $path"))
    val dir = s"$path/data_v$p"
    val preds = deletePredsOf(spark, path, view.deleteSegmentsAt(v))
    val bloomPath =
      new org.apache.hadoop.fs.Path(s"$path/bloomstats_v$p")
    val f = fs(spark, path)
    if (!f.exists(bloomPath)) return readAll
    val hits: Map[Long, Boolean] = spark.read.schema(BloomSchema)
      .parquet(bloomPath.toString)
      .filter(col("col") === c)
      .select(col("__batch"), col("bloom"))
      .rdd.map { r =>
        val bf = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        (r.getLong(0), hit(bf))
      }.collect().toMap
    if (hits.isEmpty) return readAll // column not covered
    val batches = batchIds(spark, dir)
    val visible = view.visibleAt(v, batches)
    // a batch the artifact does not cover (all-null column, or a write
    // between an append and its refresh) is conservatively read
    val survivors = batches
      .filter(b => visible(b) && hits.getOrElse(b, true))
      .map(b => s"$dir/__batch=$b")
    if (survivors.isEmpty) return readAll.filter(lit(false))
    val base = payloadRead(spark, dir, schema, mergeSchema = false,
      basePath = Some(dir), parts = survivors)
    maskDeletes(base.filter(predicate), preds, path).drop("__batch")
  }

  /** Metadata-only row count — `count(*)` answered from the zone-stats
    * artifact (one `n_rows` row per batch × column, O(#batches) read)
    * without touching a data file: the Delta/Iceberg metadata-only
    * query-answering trick, and at 100 TB the difference between a
    * catalog read and a full scan. Exact, never approximate: when the
    * artifact is missing, does not cover every live payload batch (an
    * append whose stats write crashed), or MoR delete segments are
    * pending (masked rows are not in any stats row), the count falls
    * back to the real scan — an uncovered batch can never be silently
    * counted as zero, a masked row never counted at all. */
  def countRows(spark: SparkSession, path: String): Long =
    metaRowCount(spark, path).getOrElse(read(spark, path).count())

  /** [[countRows]]'s provable fast path, exposed for planners: Some(n)
    * only when the zone-stats artifact covers EVERY live payload batch
    * and no MoR delete segments are pending — the cases where n is exact
    * without touching a data file. None means "only a scan can answer";
    * a PLANNING-time caller (the connector's reported statistics) must
    * treat that as unknown, never trigger the scan. */
  def metaRowCount(spark: SparkSession, path: String): Option[Long] = {
    val view = viewOf(spark, path)
    val v = view.current.getOrElse(
      sys.error(s"no committed table at $path"))
    val p = view.payloadAt(v).getOrElse(
      sys.error(s"no committed table at $path"))
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/zonestats_v$p")
    val f = fs(spark, path)
    if (view.deleteSegmentsAt(v).nonEmpty) return None
    if (!f.exists(statsPath)) return None
    // every column's stats row carries its batch's count; use one column
    val allStats = spark.read.schema(ZoneSchema)
      .parquet(statsPath.toString)
      .select(col("col"), col("__batch"), col("n_rows"))
      .collect()
    if (allStats.isEmpty) return None
    val oneCol = allStats.map(_.getString(0)).min
    val stats = allStats.filter(_.getString(0) == oneCol)
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val batches = batchIds(spark, s"$path/data_v$p")
    val payloadBatches = batches.filter(view.visibleAt(v, batches)(_))
    if (!payloadBatches.forall(stats.contains)) None
    else Some(payloadBatches.map(stats).sum)
  }

  /** True when `path` holds a committed table (vs a fresh/failed path). */
  def exists(spark: SparkSession, path: String): Boolean =
    IndexManifest.currentVersion(spark, path).isDefined

  /** Exact row count of a parquet dir from its file FOOTERS — a pure
    * driver-side metadata read, NO Spark job: every part file's footer
    * records exact per-row-group counts, so for the freshly-STAGED dirs
    * the mutation protocols probe (did the UPDATE match anything? does
    * the merge need its batch/segment claims?) this answers `isEmpty`/
    * `count` semantics identically to `spark.read.parquet(dir).count()`
    * while skipping the ~100 ms job-scheduling floor each probe paid —
    * the probes run once per COMMIT ATTEMPT, so mutation-heavy paths
    * (MERGE, UPDATE, the sink's in-band maintenance) save one-to-three
    * jobs per commit. Staged dirs are plain Spark-written parquet
    * (no delete masks, no hidden rows), which is what makes the footer
    * count exact for them; directories nest one partition level at most
    * (`__batch=...`), walked recursively. Hidden/metadata entries
    * (`_SUCCESS`, dot-files) and zero-length files carry no rows. */
  private[operators] def footerRowCount(spark: SparkSession,
      dir: String): Long = {
    val f = fs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    // Footers are read SERIALLY on the driver — sound because callers
    // point this at freshly-staged dirs (a handful of files); a
    // wide committed tree belongs on the Spark-job path. Only
    // `.parquet`-suffixed data files count: Spark stages nothing else,
    // and a stray foreign file (an abandoned non-dot temp, say) must
    // not crash the probe — the parquet reader would find no rows in
    // it anyway.
    def walk(p: org.apache.hadoop.fs.Path): Long =
      f.listStatus(p).map { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) 0L
        else if (st.isDirectory) walk(st.getPath)
        else if (st.getLen == 0L || !n.endsWith(".parquet")) 0L
        else {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, conf))
          try r.getRecordCount finally r.close()
        }
      }.sum
    walk(new org.apache.hadoop.fs.Path(dir))
  }

  /** Current payload bytes — one content-summary RPC, the connector's
    * planning-time `sizeInBytes` seed (an upper bound under pruning; the
    * figure that lets Catalyst broadcast a small graft table). */
  def payloadBytes(spark: SparkSession, path: String): Option[Long] =
    viewOf(spark, path).payloadDir.map(d =>
      fs(spark, path).getContentSummary(
        new org.apache.hadoop.fs.Path(d)).getLength)

  /** True when the current payload carries a Bloom artifact — the
    * precondition under which [[readPoint]]/[[readPointString]] prune
    * (without it they fall back to the plain filtered read, and a
    * planner should prefer the zone-map range path instead). */
  def hasBloomFilters(spark: SparkSession, path: String): Boolean =
    viewOf(spark, path).payload.exists(p =>
      fs(spark, path).exists(
        new org.apache.hadoop.fs.Path(s"$path/bloomstats_v$p")))

  /** Per-(batch, column) bounds of `df` (which carries `__batch`). One
    * scan: all columns' min/max aggregate together, then unpivot. */
  private def zoneStatsOf(df: DataFrame, statsCols: Seq[String]): DataFrame = {
    val integral = df.schema.fields.collect {
      case f if f.dataType.typeName.matches("byte|short|integer|long") =>
        f.name
    }.toSet
    def lo(c: String) =
      if (integral(c)) min(col(c)).cast("long")
      else floor(min(col(c).cast("double"))).cast("long")
    def hi(c: String) =
      if (integral(c)) max(col(c)).cast("long")
      else ceil(max(col(c).cast("double"))).cast("long")
    val agged = df.groupBy(col("__batch"))
      .agg(count(lit(1)).as("__n"),
        statsCols.flatMap(c => Seq(lo(c).as(s"__lo_$c"),
          hi(c).as(s"__hi_$c"))): _*)
    agged.select(col("__batch"), col("__n"),
        explode(array(statsCols.map(c => struct(lit(c).as("col"),
          col(s"__lo_$c").as("zmin"), col(s"__hi_$c").as("zmax"))): _*))
          .as("__z"))
      .select(col("__z.col").as("col"), col("__z.zmin").as("zmin"),
        col("__z.zmax").as("zmax"), col("__n").as("n_rows"), col("__batch"))
  }

  /** Per-(batch, column) zone rows computed from parquet FOOTER
    * statistics — a driver-side metadata walk, NO Spark job, no data
    * pass: exactly the (zmin, zmax, n_rows) rows [[zoneStatsOf]]
    * aggregates from a full payload scan, for the supported column
    * shapes (integral / float / double Spark types backed by
    * INT32/INT64/FLOAT/DOUBLE primitives with sound footer stats).
    * None whenever ANY needed stat is missing, a type is outside the
    * envelope, a value is non-finite or beyond double's exact-integer
    * range, or a stray non-partition file appears — the caller falls
    * back to the scan-based aggregate, so the artifact can never be
    * less exact than the scan would have produced (zone maps gate
    * PRUNING — a too-narrow bound would silently drop matching rows).
    * A column absent from a file (schema evolution) or all-null in a
    * chunk (numNulls == rows) contributes no bound — the same null
    * bounds the scan computes. */
  /** The Spark-type kind per stats column ('i' integral, 'f'
    * fractional), or None when any column is outside the footer path's
    * envelope. */
  private def zoneKindsOf(statsCols: Seq[String],
      schema: StructType): Option[Seq[(String, Char)]] =
    Some(statsCols.map { c =>
      val fld = schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(return None)
      fld.dataType.typeName match {
        case "byte" | "short" | "integer" | "long" => c -> 'i'
        case "float" | "double" => c -> 'f'
        case _ => return None
      }
    })

  /** One batch dir's (row count, per-column bounds) off its parquet
    * footers; None when any needed stat is missing or out of envelope. */
  private def batchFooterStats(f: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      bdir: org.apache.hadoop.fs.Path, kinds: Seq[(String, Char)])
      : Option[(Long, Map[String, Long], Map[String, Long])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val exact = (1L << 53).toDouble // doubles are integer-exact below 2^53
    var nRows = 0L
    val lo = scala.collection.mutable.Map.empty[String, Long]
    val hi = scala.collection.mutable.Map.empty[String, Long]
    f.listStatus(bdir).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") && st.getLen > 0L) {
        val footer = scala.util.Try {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, conf))
          try r.getFooter finally r.close()
        }.getOrElse(return None)
        footer.getBlocks.forEach { blk =>
          nRows += blk.getRowCount
          kinds.foreach { case (c, kind) =>
            import scala.jdk.CollectionConverters._
            blk.getColumns.asScala.find(cc =>
                cc.getPath.size == 1 &&
                  cc.getPath.toDotString.equalsIgnoreCase(c)) match {
              case None => // absent column (schema evolution): all-null
              case Some(cc) =>
                val s0 = cc.getStatistics
                if (s0 == null) return None
                else if (!s0.hasNonNullValue) {
                  // either a genuinely all-null chunk (sound: no bound
                  // contribution) or dropped stats (unsound)
                  if (!(s0.isNumNullsSet && s0.getNumNulls == blk.getRowCount))
                    return None
                } else {
                  val prim = cc.getPrimitiveType.getPrimitiveTypeName
                  val (vLo, vHi): (Long, Long) = (prim, kind) match {
                    case (INT32, 'i') =>
                      (s0.genericGetMin.asInstanceOf[Integer].toLong,
                        s0.genericGetMax.asInstanceOf[Integer].toLong)
                    case (INT64, 'i') =>
                      (s0.genericGetMin.asInstanceOf[java.lang.Long]
                        .longValue(),
                        s0.genericGetMax.asInstanceOf[java.lang.Long]
                          .longValue())
                    case (p0, 'f') =>
                      val (dLo, dHi): (Double, Double) = p0 match {
                        case INT32 =>
                          (s0.genericGetMin.asInstanceOf[Integer].toDouble,
                            s0.genericGetMax.asInstanceOf[Integer].toDouble)
                        case INT64 =>
                          (s0.genericGetMin.asInstanceOf[java.lang.Long]
                            .longValue().toDouble,
                            s0.genericGetMax.asInstanceOf[java.lang.Long]
                              .longValue().toDouble)
                        case FLOAT =>
                          (s0.genericGetMin.asInstanceOf[java.lang.Float]
                            .floatValue().toDouble,
                            s0.genericGetMax.asInstanceOf[java.lang.Float]
                              .floatValue().toDouble)
                        case DOUBLE =>
                          (s0.genericGetMin.asInstanceOf[java.lang.Double]
                            .doubleValue(),
                            s0.genericGetMax.asInstanceOf[java.lang.Double]
                              .doubleValue())
                        case _ => return None
                      }
                      if (!java.lang.Double.isFinite(dLo) ||
                          !java.lang.Double.isFinite(dHi) ||
                          math.abs(dLo) >= exact || math.abs(dHi) >= exact)
                        return None
                      (math.floor(dLo).toLong, math.ceil(dHi).toLong)
                    case _ => return None
                  }
                  lo.updateWith(c)(o => Some(o.fold(vLo)(math.min(_, vLo))))
                  hi.updateWith(c)(o => Some(o.fold(vHi)(math.max(_, vHi))))
                }
            }
          }
        }
      }
    }
    Some((nRows, lo.toMap, hi.toMap))
  }

  private def zoneStatsFromFooters(spark: SparkSession, dir: String,
      statsCols: Seq[String],
      schema: StructType): Option[Seq[(String, Option[Long], Option[Long],
        Long, Long)]] = {
    val f = fs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val kinds = zoneKindsOf(statsCols, schema).getOrElse(return None)
    val top = f.listStatus(new org.apache.hadoop.fs.Path(dir))
    val batches = top.flatMap { st =>
      val n = st.getPath.getName
      // __batch= FIRST: batch dirs start with '_' and must not be
      // swallowed by the hidden-file skip
      if (st.isDirectory && n.startsWith("__batch="))
        Some(n.stripPrefix("__batch=").toLong -> st.getPath)
      else if (n.startsWith("_") || n.startsWith(".")) None
      else if (st.isDirectory) return None // unexpected layout
      else if (st.getLen == 0L) None
      else return None // non-partitioned data file: not this path's shape
    }
    val out = Seq.newBuilder[(String, Option[Long], Option[Long], Long, Long)]
    batches.foreach { case (b, bdir) =>
      val (nRows, lo, hi) =
        batchFooterStats(f, conf, bdir, kinds).getOrElse(return None)
      // a zero-row batch dir emits no stats rows — exactly what the
      // scan-based groupBy produces over it
      if (nRows > 0L)
        kinds.foreach { case (c, _) =>
          out += ((c, lo.get(c), hi.get(c), nRows, b))
        }
    }
    Some(out.result())
  }

  /** Write footer-derived zone rows as the stats artifact — one tiny
    * no-scan job (the rows are a driver-local frame). */
  private def writeZoneRows(spark: SparkSession,
      rows: Seq[(String, Option[Long], Option[Long], Long, Long)],
      dst: String, dynamic: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    val jr = rows.map { case (c, l, h, n, b) =>
      org.apache.spark.sql.Row(c, l.orNull, h.orNull, n, b)
    }.asJava
    val df = spark.createDataFrame(jr,
      org.apache.spark.sql.types.StructType.fromDDL(ZoneSchema))
    val w = df.write.partitionBy("__batch").mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(dst)
  }

  /** (Re)compute the zone-map artifact for the CURRENT payload — the
    * backfill for tables whose snapshots/appends predate zone maps, and
    * the repair after [[compactBatches]] (whose fresh payload has no
    * stats yet; reads fall back, this restores the pruned plan).
    * Served from parquet FOOTER statistics when every needed stat is
    * sound ([[zoneStatsFromFooters]] — a driver metadata walk instead
    * of a full payload scan); any doubt falls back to the exact
    * scan-based aggregate. A live column mapping disables the footer
    * path (physical file names differ from the logical stats names). */
  def refreshZoneMaps(spark: SparkSession, path: String,
      statsCols: Seq[String], schema: Option[StructType] = None): Unit = {
    val view = viewOf(spark, path)
    val p = view.payload.getOrElse(sys.error(s"no committed table at $path"))
    val dir = s"$path/data_v$p"
    val fromFooters =
      if (view.columnMapAt(view.head).nonEmpty) None
      else zoneStatsFromFooters(spark, dir, statsCols,
        schema.getOrElse(
          payloadRead(spark, dir, None, mergeSchema = false).schema))
    fromFooters match {
      case Some(rows) =>
        writeZoneRows(spark, rows, s"$path/zonestats_v$p", dynamic = false)
      case None =>
        zoneStatsOf(payloadRead(spark, dir, schema, mergeSchema = false),
            statsCols)
          .write.partitionBy("__batch").mode("overwrite")
          .parquet(s"$path/zonestats_v$p")
    }
  }

  /** Upsert ONE batch's stats rows into the current payload's zone-map
    * artifact (dynamic partition overwrite on the batch's own replay
    * key). Called by append-side writers after their batch commits;
    * creates the artifact if this is the table's first stats write.
    * Footer-served like [[refreshZoneMaps]], restricted to the batch's
    * own partition dir — an append's stats upkeep then costs zero data
    * passes. */
  def appendZoneMaps(spark: SparkSession, path: String, batch: Long,
      statsCols: Seq[String], schema: Option[StructType] = None): Unit = {
    val view = viewOf(spark, path)
    val p = view.payload.getOrElse(sys.error(s"no committed table at $path"))
    val dir = s"$path/data_v$p"
    val bdir = new org.apache.hadoop.fs.Path(s"$dir/__batch=$batch")
    val fromFooters =
      if (view.columnMapAt(view.head).nonEmpty ||
          !fs(spark, path).exists(bdir))
        None
      else {
        val s0 = schema.getOrElse(
          payloadRead(spark, dir, None, mergeSchema = false).schema)
        for {
          kinds <- zoneKindsOf(statsCols, s0)
          (nRows, lo, hi) <- batchFooterStats(fs(spark, path),
            spark.sparkContext.hadoopConfiguration, bdir, kinds)
        } yield
          if (nRows == 0L) Nil
          else kinds.map { case (c, _) =>
            (c, lo.get(c), hi.get(c), nRows, batch)
          }
      }
    fromFooters match {
      case Some(rows) =>
        writeZoneRows(spark, rows, s"$path/zonestats_v$p", dynamic = true)
      case None =>
        val base = payloadRead(spark, dir, schema, mergeSchema = false)
        zoneStatsOf(base.filter(col("__batch") === batch), statsCols)
          .write.partitionBy("__batch").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(s"$path/zonestats_v$p")
    }
  }

  /** The current table filtered to `ranges` (conjunctive, inclusive,
    * SQL semantics — null never matches), with `__batch` partitions the
    * zone map PROVES disjoint never even LISTED: the scan is built from
    * the surviving batch dirs only (one shallow child-listing RPC + the
    * O(#batches × #cols) stats read decide the set), so both the
    * recursive file listing and the read are proportional to the
    * surviving batches — at 100 TB the unpruned listing alone is the
    * floor cost this path removes. The exact predicate is re-applied
    * after pruning (zone maps are a necessary condition only), so the
    * result is always identical to `read(...).filter(...)`; a missing
    * artifact or a batch without stats rows degrades conservatively to
    * reading that batch. */
  def readRange(spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)],
      schema: Option[StructType] = None): DataFrame = {
    require(ranges.nonEmpty)
    // TIMESTAMP columns take their bounds as EPOCH SECONDS — the
    // `days(ts)`-partitioned event-table idiom probes a time window;
    // the zone stats for non-integral columns are floor/ceil of the
    // double cast, which for timestamps IS epoch seconds, so the
    // pruning domain and the predicate domain line up exactly
    def boundOf(dt: org.apache.spark.sql.types.DataType,
        v: Long): Column = dt match {
      case org.apache.spark.sql.types.TimestampType => timestamp_seconds(lit(v))
      case org.apache.spark.sql.types.DateType =>
        timestamp_seconds(lit(v)).cast("date")
      case _ => lit(v)
    }
    def rangePredicate(s0: StructType): Column = ranges.map {
      case (c, lo, hi) =>
        val dt = s0.fields.find(_.name.equalsIgnoreCase(c))
          .map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.LongType)
        col(s"`$c`") >= boundOf(dt, lo) && col(s"`$c`") <= boundOf(dt, hi)
    }.reduce(_ && _)
    // live column mapping → stats artifacts may carry stale era names;
    // degrade to the plain mapping-aware read (exact, just unpruned)
    val view = viewOf(spark, path)
    val v = view.current.getOrElse(
      sys.error(s"no committed table at $path"))
    if (view.columnMapAt(v).nonEmpty) {
      val plain = readView(view, v, schema)
      return plain.filter(rangePredicate(plain.schema))
    }
    val p = view.payloadAt(v).getOrElse(
      sys.error(s"no committed table at $path"))
    val dir = s"$path/data_v$p"
    val f = fs(spark, path)
    val batches = batchIds(spark, dir)
    val visible = view.visibleAt(v, batches)
    val delPreds = deletePredsOf(spark, path, view.deleteSegmentsAt(v))
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/zonestats_v$p")
    lazy val payloadSchema =
      payloadRead(spark, dir, schema, mergeSchema = false).schema
    val predicate = rangePredicate(schema.getOrElse(payloadSchema))
    def readAll = maskDeletes(
      payloadRead(spark, dir, schema, mergeSchema = false)
        .filter(visible.column).filter(predicate),
      delPreds, path).drop("__batch")
    if (!f.exists(statsPath)) return readAll
    // a batch is excluded only when SOME queried column's stats row
    // proves it disjoint (zmax < lo, zmin > hi, or all-null zmin);
    // batches with no row for a queried column are conservatively read
    val stats = spark.read.schema(ZoneSchema).parquet(statsPath.toString)
    val disjoint = ranges.map { case (c, lo, hi) =>
      col("col") === c &&
        (col("zmin").isNull || col("zmax") < lo || col("zmin") > hi)
    }.reduce(_ || _)
    val excluded = stats.filter(disjoint)
      .select(col("__batch")).distinct()
      .collect().map(_.getLong(0)).toSet
    if (excluded.isEmpty) return readAll
    // the shallow child listing above → surviving partition dirs; the
    // recursive FILE listing then touches only those
    val survivors = batches.filter(b => visible(b) && !excluded(b))
      .map(b => s"$dir/__batch=$b")
    if (survivors.isEmpty) return readAll.filter(lit(false))
    val base = payloadRead(spark, dir, schema, mergeSchema = false,
      basePath = Some(dir), parts = survivors)
    maskDeletes(base.filter(predicate), delPreds, path).drop("__batch")
  }
}
