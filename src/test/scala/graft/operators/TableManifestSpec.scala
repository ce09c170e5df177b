package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Table-level manifest commits: snapshot/append atomicity, exactly-once
  * keyed replay, VERSION AS OF immutability, vacuum retention, and
  * zero-row readability — the index commit protocol on data tables. */
class TableManifestSpec extends AnyFunSuite {
  private lazy val s = SparkSpec.session

  private def df(rows: (Long, String)*) = {
    import s.implicits._
    rows.toDF("id", "v")
  }

  private def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("snapshot + append + keyed replay: exactly-once, watermarked versions") {
    val path = Files.createTempDirectory("tm_base").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L))
    val v1 = TableManifest.append(df(3L -> "c"), path, batchId = Some(0L))
    TableManifest.append(df(3L -> "c"), path, batchId = Some(0L)) // replay
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L),
      "replayed keyed append must replace its partition, not double rows")
    assert(TableManifest.versions(s, path).take(2) == Seq(v0, v1))
  }

  test("an EMPTY snapshot replacement stays a readable empty table — and" +
    " createEmpty seeds a fresh one (the CREATE TABLE shape)") {
    val path = Files.createTempDirectory("tm_empty").toString
    TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path)
    // replacement that deleted every row (upsert sink draining to empty)
    TableManifest.commitSnapshot(
      TableManifest.read(s, path).filter(lit(false)), path)
    val live = TableManifest.read(s, path) // schema survives, zero rows
    assert(live.columns.toSeq == Seq("id", "v") && live.count() == 0)
    // appends land normally on the empty table
    TableManifest.append(df(9L -> "z"), path)
    assert(ids(TableManifest.read(s, path)) == Set(9L))
    // and the CREATE TABLE seam: a never-written schema-only table
    val fresh = Files.createTempDirectory("tm_create").toString
    TableManifest.createEmpty(s, fresh,
      new StructType().add("id", LongType).add("v", StringType))
    assert(TableManifest.read(s, fresh).count() == 0)
    TableManifest.append(df(1L -> "a"), fresh)
    assert(ids(TableManifest.read(s, fresh)) == Set(1L))
  }

  test("pinned VERSION AS OF is immutable under appends AND snapshot replacement") {
    val path = Files.createTempDirectory("tm_pin").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a"), path)
    val v1 = TableManifest.append(df(2L -> "b"), path)
    val v2 = TableManifest.commitSnapshot(df(9L -> "z"), path)
    TableManifest.append(df(10L -> "y"), path)
    assert(ids(TableManifest.readAt(s, path, v0)) == Set(1L),
      "the v0 pin must not see later appends or snapshots")
    assert(ids(TableManifest.readAt(s, path, v1)) == Set(1L, 2L))
    assert(ids(TableManifest.readAt(s, path, v2)) == Set(9L))
    assert(ids(TableManifest.read(s, path)) == Set(9L, 10L))
  }

  test("vacuum reclaims unreferenced payloads; kept pins stay readable") {
    val path = Files.createTempDirectory("tm_vac").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a"), path)
    TableManifest.commitSnapshot(df(2L -> "b"), path)
    val v2 = TableManifest.commitSnapshot(df(3L -> "c"), path)
    val v3 = TableManifest.append(df(4L -> "d"), path)
    TableManifest.vacuum(s, path, keep = 2)
    assert(ids(TableManifest.readAt(s, path, v2)) == Set(3L))
    assert(ids(TableManifest.readAt(s, path, v3)) == Set(3L, 4L))
    intercept[IllegalArgumentException] {
      TableManifest.readAt(s, path, v0)
    }
  }

  test("one long-lived tag pins its OWN resolution set, not every " +
    "version above it — vacuum keeps reclaiming the middle") {
    // v0..v5: six snapshot replacements; pin v0 (the oldest), then
    // vacuum keep=2. The OLD cutoff rule (keepSet.min over pins) made
    // one early pin force retention of EVERY later version — unbounded
    // growth under a single baseline tag. The fixed rule derives the
    // cutoff from the keep tail and exempts only the pin's payload/
    // segments/marker: v0 and the tail stay readable, the middle is
    // reclaimed.
    val path = Files.createTempDirectory("tm_vac_pin").toString
    val vs = (0 to 5).map(i =>
      TableManifest.commitSnapshot(df(i.toLong -> s"v$i"), path))
    TableManifest.tag(s, path, "baseline", Some(vs.head))
    TableManifest.vacuum(s, path, keep = 2)
    assert(ids(TableManifest.readAt(s, path, vs.head)) == Set(0L),
      "the tagged version must survive vacuum")
    assert(ids(TableManifest.readAt(s, path, vs(4))) == Set(4L))
    assert(ids(TableManifest.readAt(s, path, vs(5))) == Set(5L))
    // the middle versions between the pin and the keep tail are GONE —
    // the exact storage the old global-cutoff rule leaked
    (1 to 3).foreach { i =>
      intercept[Exception](TableManifest.readAt(s, path, vs(i)))
    }
    assert(TableManifest.versions(s, path).toSet ==
      Set(vs.head, vs(4), vs(5)),
      "retained markers: the pin + the keep tail, nothing else")
    // a pin whose version carries MoR delete segments keeps the masked
    // view exact after vacuum reclaims its neighbors
    val p2 = Files.createTempDirectory("tm_vac_pin2").toString
    TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), p2)
    TableManifest.deleteWhere(s, p2, "id = 2")
    val pinV = TableManifest.tag(s, p2, "masked")
    (0 to 3).foreach(i =>
      TableManifest.commitSnapshot(df((10L + i) -> "x"), p2))
    TableManifest.vacuum(s, p2, keep = 1)
    assert(ids(TableManifest.readAt(s, p2, pinV)) == Set(1L),
      "the pinned version's delete segment must survive with its payload")
  }

  test("tag placement re-verifies against a racing vacuum: a pin whose " +
    "version vanished is undone, never left dangling") {
    val path = Files.createTempDirectory("tm_tag_race").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a"), path)
    TableManifest.commitSnapshot(df(2L -> "b"), path)
    TableManifest.commitSnapshot(df(3L -> "c"), path)
    // simulate the race: the version listing tag() validated against is
    // stale by the time the ref lands — delete v0's payload+marker the
    // way a concurrent vacuum would, THEN place the ref bytes directly
    TableManifest.vacuum(s, path, keep = 1)
    intercept[Exception](TableManifest.tag(s, path, "gone", Some(v0)))
    assert(TableManifest.tags(s, path).isEmpty,
      "a failed tag must not leave a ref file behind")
    // re-tagging an existing name is atomic: the ref always resolves
    TableManifest.tag(s, path, "ptr")
    val cur = TableManifest.versions(s, path).last
    assert(TableManifest.tag(s, path, "ptr", Some(cur)) == cur)
    assert(TableManifest.tagVersion(s, path, "ptr").contains(cur))
  }

  test("equality-tombstone mask plan shape: the key file joins as the " +
    "BROADCAST side — the table side never shuffles for the mask") {
    val path = Files.createTempDirectory("tm_eqplan").toString
    TableManifest.commitSnapshot(
      s.range(200000).select(col("id"),
        (col("id") % 1000).cast("long").as("v")), path)
    // a 50-key MoR merge delete: the mask becomes a left join against
    // a 50-row eqdeletes key file — at 100 TB that join MUST broadcast
    // the keys, never exchange the table
    TableManifest.mergeWhere(s, path,
      s.range(50).select(col("id"), lit(1L).as("v")),
      keyCols = Seq("id"),
      matched = Seq(TableManifest.MergeMatched("delete", None)),
      inserts = Nil)
    val d = TableManifest.read(s, path)
    assert(d.count() == 199950)
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eq mask must broadcast the key file:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"eq mask must not sort-merge the table side:\n$plan")
  }

  test("an insert-only MERGE's marker survives vacuum for a later pin: " +
    "update-keyspace batches are part of a pin's resolution set") {
    // an insert-only mergeWhere commits a replacement batch with a
    // kind=merge marker but NO segment dir — without batch-aware pin
    // protection, vacuum reclaimed that marker and the pinned read
    // silently dropped the merge's rows (reads serve an update batch
    // only by its marker's kind)
    val path = Files.createTempDirectory("tm_vac_mrgpin").toString
    TableManifest.commitSnapshot(
      df((0L until 5L).map(i => (i, "b")): _*), path)
    TableManifest.mergeWhere(s, path,
      df((100L until 103L).map(i => (i, "m")): _*), keyCols = Seq("id"),
      matched = Nil, inserts = Seq(TableManifest.MergeInsert(None)))
    TableManifest.tag(s, path, "pin")
    TableManifest.commitSnapshot(df(500L -> "x"), path)
    TableManifest.commitSnapshot(df(501L -> "y"), path)
    TableManifest.vacuum(s, path, keep = 1)
    assert(ids(TableManifest.readAt(s, path,
      TableManifest.tagVersion(s, path, "pin").get)) ==
      Set(0L, 1L, 2L, 3L, 4L, 100L, 101L, 102L),
      "the pinned read must keep the insert-only merge's rows")
  }

  test("a parked constraints artifact at a SNAPSHOT-kind version is " +
    "never honored: the combined commit uses its own family") {
    // the race: a plain setConstraints computes the next number, a
    // snapshot committer takes it first (kind=snapshot); the loser's
    // parked constraints_v artifact must not be legitimized by that
    // marker (the combined payload+constraints path writes
    // constraintsnap_v instead, which IS honored under snapshot kind)
    val path = Files.createTempDirectory("tm_cons_snapkind").toString
    TableManifest.commitSnapshot(df(1L -> "a"), path)
    val v1 = TableManifest.commitSnapshot(df(2L -> "b"), path)
    import s.implicits._
    Seq(("bogus", "id < 0", true, false, "VALID", "check"))
      .toDF("name", "sql", "enforced", "rely", "status", "kind")
      .coalesce(1).write.parquet(s"$path/constraints_v$v1")
    assert(TableManifest.constraintsOf(s, path).isEmpty,
      "a crashed racer's parked artifact under a snapshot marker must " +
        "never become the live constraint set")
    // and the append gate must not enforce the bogus set
    TableManifest.append(df(-5L -> "ok"), path)
    assert(ids(TableManifest.read(s, path)).contains(-5L))
  }

  test("history audits every retained version; compactBatches folds the append log") {
    val path = Files.createTempDirectory("tm_hist").toString
    TableManifest.commitSnapshot(df(1L -> "a"), path)
    TableManifest.append(df(2L -> "b"), path)
    TableManifest.append(df(3L -> "c"), path)
    val h0 = TableManifest.history(s, path).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3))).toList
    assert(h0.map(_._1) == List(0L, 1L, 2L))
    assert(h0.map(_._3) == List(1L, 2L, 3L), s"per-version rows: $h0")
    // the audit names what committed each version (the DESCRIBE HISTORY
    // operation column), straight off the kind-tagged markers
    TableManifest.deleteWhere(s, path, "id = 999")
    assert(TableManifest.history(s, path).orderBy("version").collect()
      .map(_.getString(5)).toList ==
      List("snapshot", "append", "append", "delete"))
    val vC = TableManifest.compactBatches(s, path)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L),
      "compaction must not change the live table")
    // the folded snapshot is one payload: its own batch structure is
    // just the build partition
    val p = new org.apache.hadoop.fs.Path(s"$path/data_v$vC")
    val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val batchDirs = fsys.listStatus(p).map(_.getPath.getName)
      .count(_.startsWith("__batch="))
    assert(batchDirs == 1, s"folded payload must hold one partition: $batchDirs")
    // earlier pins still resolve their own payload until vacuum
    assert(ids(TableManifest.readAt(s, path, 1L)) == Set(1L, 2L))
    TableManifest.vacuum(s, path, keep = 1)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      TableManifest.readAt(s, path, 1L)
    }
  }

  test("vacuum on the append-log shape keeps the one payload resolvable") {
    // the warehouse shape: one seed snapshot + endless append markers.
    // The reclaim cutoff must resolve against DATA payloads — a cutoff
    // computed on the index base would delete the seed's marker and
    // strand the table's only payload behind the committed-marker filter
    val path = Files.createTempDirectory("tm_vac_log").toString
    TableManifest.commitSnapshot(df(1L -> "a"), path)
    (0 to 3).foreach(i => TableManifest.append(df(10L + i -> "x"), path))
    TableManifest.vacuum(s, path, keep = 2)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 10L, 11L, 12L, 13L),
      "a routine vacuum must never make an append-log table unreadable")
    assert(ids(TableManifest.readAt(s, path,
      TableManifest.versions(s, path).takeRight(2).head)).nonEmpty)
    assert(TableManifest.history(s, path).count() >= 2)
  }

  test("history on an uncommitted path returns an empty audit, not a crash") {
    val path = Files.createTempDirectory("tm_hist_empty").toString
    assert(TableManifest.history(s, path).count() == 0)
  }

  test("schema evolution: each version keeps its own schema; pins read theirs") {
    import s.implicits._
    val path = Files.createTempDirectory("tm_schema").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a"), path)
    val v1 = TableManifest.commitSnapshot(
      Seq((2L, "b", 3.5)).toDF("id", "v", "w"), path)
    assert(TableManifest.readAt(s, path, v0).columns.toSeq == Seq("id", "v"))
    assert(TableManifest.readAt(s, path, v1).columns.toSeq ==
      Seq("id", "v", "w"))
    assert(TableManifest.read(s, path).columns.toSeq == Seq("id", "v", "w"))
  }

  test("racing snapshot committers both land, on distinct versions") {
    val path = Files.createTempDirectory("tm_race").toString
    TableManifest.commitSnapshot(df(0L -> "seed"), path)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 4).map { i =>
      new Thread(() => results.add(
        TableManifest.commitSnapshot(df(i.toLong -> s"t$i"), path)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val vs = results.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSet
    assert(vs.size == 4, s"every committer must land a distinct version: $vs")
    assert(TableManifest.versions(s, path).toSet == vs + 0L)
    // the current table is exactly the winner's snapshot (a 1-row df)
    assert(TableManifest.read(s, path).count() == 1)
    vs.foreach(v => assert(TableManifest.readAt(s, path, v).count() == 1))
  }

  test("change data feed: batch-pruned append feed, content-diff replace feed") {
    val path = Files.createTempDirectory("tm_cdf").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path)
    val v1 = TableManifest.append(df(3L -> "c"), path)
    val v2 = TableManifest.append(df(4L -> "d", 5L -> "e"), path)
    def feed(from: Long, to: Long) = TableManifest
      .readChanges(s, path, from, to)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    // append regime: only the batches between the watermarks, inserts only
    assert(feed(v0, v2) ==
      Set((3L, "c", "insert"), (4L, "d", "insert"), (5L, "e", "insert")))
    assert(feed(v1, v2) == Set((4L, "d", "insert"), (5L, "e", "insert")))
    assert(feed(v0, v0).isEmpty, "a version diffed with itself is empty")
    // replacement regime: multiset diff — 2 dropped, one REWRITTEN row
    // shows as delete+insert, untouched rows never appear in the feed
    val v3 = TableManifest.commitSnapshot(
      df(1L -> "a", 3L -> "c", 4L -> "REWRITTEN", 6L -> "f"), path)
    assert(feed(v2, v3) == Set(
      (2L, "b", "delete"), (5L, "e", "delete"),
      (4L, "d", "delete"), (4L, "REWRITTEN", "insert"),
      (6L, "f", "insert")))
    // applying the feed to the from-snapshot reproduces the to-snapshot
    val applied = ids(TableManifest.readAt(s, path, v2)
      .unionByName(TableManifest.readChanges(s, path, v2, v3)
        .filter(col("_change_type") === "insert").drop("_change_type"))
      .exceptAll(TableManifest.readChanges(s, path, v2, v3)
        .filter(col("_change_type") === "delete").drop("_change_type")))
    assert(applied == ids(TableManifest.readAt(s, path, v3)))
    intercept[IllegalArgumentException] {
      TableManifest.readChanges(s, path, v3, v0)
    }
    // a schema-evolving replacement has no row-level diff: fail with the
    // situation named, not an analysis error from inside exceptAll
    import s.implicits._
    val v4 = TableManifest.commitSnapshot(
      Seq((1L, "a", 9L)).toDF("id", "v", "extra"), path)
    val e = intercept[IllegalArgumentException] {
      TableManifest.readChanges(s, path, v3, v4)
    }
    assert(e.getMessage.contains("schema changed"))
  }

  test("optimize: content-preserving rewrite that makes zone maps bite") {
    val path = Files.createTempDirectory("tm_opt").toString
    import s.implicits._
    // interleaved layout: ids round-robin across 8 partitions
    val data = s.range(10000)
      .select(col("id"), (col("id") % 97).as("grp"))
    val v0 = TableManifest.commitSnapshot(
      data.repartition(8, col("id") % 8), path)
    TableManifest.refreshZoneMaps(s, path, Seq("id"))
    def zoneRanges() = s.read
      .parquet(s"$path/zonestats_v${TableManifest.versions(s, path)
        .flatMap(v => graft.operators.IndexManifest
          .payloadVersionAt(s, path, v, "data")).last}")
      .filter(col("col") === "id")
      .select(col("zmin"), col("zmax"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // shuffled: every batch spans ~the whole id range — nothing prunable
    val before = zoneRanges()
    assert(before.forall { case (lo, hi) => lo < 1000 && hi > 9000 },
      s"round-robin batches must span the range: ${before.toSeq}")
    val v1 = TableManifest.optimize(s, path, Seq("id"), files = 8,
      statsCols = Seq("id"))
    // content is a multiset no-op
    assert(TableManifest.read(s, path).exceptAll(data).isEmpty &&
      data.exceptAll(TableManifest.read(s, path)).isEmpty)
    // clustered: batches are (near-)disjoint — a 1/8 range probe must
    // prove away most of them
    val after = zoneRanges()
    val probe = (1000L, 2000L)
    val overlapping = after.count { case (lo, hi) =>
      hi >= probe._1 && lo <= probe._2 }
    assert(after.length >= 4 && overlapping <= 3,
      s"optimized batches must be range-disjoint: ${after.toSeq}")
    assert(rows2(TableManifest.readRange(s, path,
        Seq(("id", probe._1, probe._2)))) ==
      rows2(TableManifest.read(s, path)
        .filter(col("id") >= probe._1 && col("id") <= probe._2)))
    // the pre-optimize pin still reads the old layout's content
    assert(TableManifest.readAt(s, path, v0).count() == 10000)
    // 2-D: z-order on (grp, id) — content no-op, commits the next version
    val v2 = TableManifest.optimize(s, path, Seq("grp", "id"), files = 8,
      statsCols = Seq("id", "grp"))
    assert(v0 < v1 && v1 < v2)
    assert(TableManifest.read(s, path).exceptAll(data).isEmpty &&
      data.exceptAll(TableManifest.read(s, path)).isEmpty)
  }

  test("optimizeToSize: the file count derives from payload bytes / " +
    "target — the small-file policy as a size, content no-op") {
    val path = Files.createTempDirectory("tm_optsz").toString
    val data = s.range(200000)
      .select(col("id"), rpad(col("id").cast("string"), 64, "x").as("p"))
    TableManifest.commitSnapshot(data.repartition(32), path)
    val bytes = TableManifest.payloadBytes(s, path).get
    val target = 1L << 20 // 1 MiB files
    TableManifest.optimizeToSize(s, path, Seq("id"), target)
    val expected = math.max(1L, (bytes + target - 1) / target)
    val batches = new java.io.File(
      s"$path/data_v${TableManifest.versions(s, path)
        .flatMap(v => graft.operators.IndexManifest
          .payloadVersionAt(s, path, v, "data")).last}")
      .listFiles().count(_.getName.startsWith("__batch="))
    assert(batches == expected,
      s"want ceil($bytes/$target) = $expected clustered files, " +
        s"got $batches")
    assert(TableManifest.read(s, path).exceptAll(data).isEmpty &&
      data.exceptAll(TableManifest.read(s, path)).isEmpty)
    // a sub-MiB target is refused, not silently exploded into millions
    // of files
    intercept[IllegalArgumentException](
      TableManifest.optimizeToSize(s, path, Seq("id"), 1024L))
  }

  private def rows2(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(_.toSeq.toVector).toVector.sortBy(_.toString)

  test("maintain: folds a long append log, refreshes artifacts, keeps pins") {
    val path = Files.createTempDirectory("tm_maintain").toString
    import s.implicits._
    TableManifest.commitSnapshot(
      (0L until 100L).map(i => (i, i * 3)).toDF("id", "v"), path)
    (1 to 8).foreach { b =>
      TableManifest.append(
        (100L * b until 100L * b + 100L).map(i => (i, i * 3))
          .toDF("id", "v"), path)
    }
    val content = TableManifest.read(s, path).collect()
      .map(_.toSeq.toVector).toVector.sortBy(_.toString)
    // under the threshold: no fold
    val r1 = TableManifest.maintain(s, path, maxBatches = 16,
      keepVersions = 100).head()
    assert(!r1.getAs[Boolean]("compacted") &&
      r1.getAs[Int]("batches_after") == 9)
    // over the threshold: fold + artifact refresh, content untouched,
    // probes pruned and exact
    val r2 = TableManifest.maintain(s, path, maxBatches = 4,
      keepVersions = 2, statsCols = Seq("id"), bloomCols = Seq("id"),
      expectedPerBatch = 2000L).head()
    assert(r2.getAs[Boolean]("compacted") &&
      r2.getAs[Int]("batches_before") == 9 &&
      r2.getAs[Int]("batches_after") == 1)
    assert(TableManifest.read(s, path).collect()
      .map(_.toSeq.toVector).toVector.sortBy(_.toString) == content)
    assert(TableManifest.countRows(s, path) == 900L)
    assert(TableManifest.readPoint(s, path, "id", Seq(450L)).count() == 1)
    assert(TableManifest.readRange(s, path, Seq(("id", 100L, 150L)))
      .count() == 51)
  }

  test("MoR delete: O(1) segments, point-in-time semantics, folded erasure") {
    val path = Files.createTempDirectory("tm_mor_del").toString
    val v0 = TableManifest.commitSnapshot(
      df(1L -> "a", 2L -> "err", 3L -> "b"), path)
    val vD = TableManifest.deleteWhere(s, path, "v = 'err'")
    assert(ids(TableManifest.read(s, path)) == Set(1L, 3L))
    // pins bracket the delete: below it sees the row, at it does not
    assert(ids(TableManifest.readAt(s, path, v0)) == Set(1L, 2L, 3L))
    assert(ids(TableManifest.readAt(s, path, vD)) == Set(1L, 3L))
    // point-in-time: a LATER append matching the predicate is unaffected
    // (exactly what the CoW rewrite would have produced)
    TableManifest.append(df(4L -> "err"), path)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 3L, 4L))
    // the delete wrote a segment, never a payload rewrite
    val fsx = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val payloads = fsx.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).count(_.startsWith("data_v"))
    assert(payloads == 1, "a MoR delete must not rewrite the payload")
    // a no-match delete is a cheap no-op mask, not a table rewrite
    TableManifest.deleteWhere(s, path, "v = 'nope'")
    assert(ids(TableManifest.read(s, path)) == Set(1L, 3L, 4L))
    assert(TableManifest.pendingDeletes(s, path) == 2)
    // folding physically erases the masked rows and clears the segments
    TableManifest.compactBatches(s, path)
    assert(TableManifest.pendingDeletes(s, path) == 0)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 3L, 4L))
    // a bad predicate fails the DELETE itself, not every later read
    intercept[Exception] {
      TableManifest.deleteWhere(s, path, "no_such_column = 1")
    }
    assert(ids(TableManifest.read(s, path)) == Set(1L, 3L, 4L))
  }

  test("MoR delete: null predicate rows survive (SQL DELETE semantics)") {
    import s.implicits._
    val path = Files.createTempDirectory("tm_del_null").toString
    TableManifest.commitSnapshot(
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(9.0)))
        .toDF("id", "x"), path)
    TableManifest.deleteWhere(s, path, "x > 5")
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L),
      "a null predicate result must not delete the row")
  }

  test("keyed replay after a fold neither clobbers partitions nor duplicates rows") {
    val path = Files.createTempDirectory("tm_replay_fold").toString
    TableManifest.commitSnapshot(df(1L -> "a"), path)
    TableManifest.append(df(2L -> "b"), path, batchId = Some(0L))
    TableManifest.append(df(3L -> "c"), path, batchId = Some(1L))
    TableManifest.compactBatches(s, path)
    // a routine stream restart replays the last batch AFTER the fold:
    // its rows already live in the snapshot — must no-op, not re-insert
    TableManifest.append(df(3L -> "c"), path, batchId = Some(1L))
    assert(TableManifest.read(s, path).count() == 3,
      "a replayed batch below the carried watermark must not duplicate")
    // optimize stamps clustered partitions OUTSIDE the batchId keyspace:
    // a replayed batch can never dynamic-overwrite one of them
    TableManifest.optimize(s, path, Seq("id"), files = 2)
    TableManifest.append(df(2L -> "b"), path, batchId = Some(0L))
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L))
    assert(TableManifest.read(s, path).count() == 3,
      "a replay after optimize must neither clobber a clustered " +
        "partition nor re-insert")
    // a genuinely NEW batch above the carried watermark still lands
    TableManifest.append(df(4L -> "d"), path, batchId = Some(2L))
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L, 4L))
  }

  test("keyed stream + unkeyed INSERT interleave: the stream's next " +
    "micro-batch never overwrites the INSERT's partition") {
    val path = Files.createTempDirectory("tm_keyspace").toString
    TableManifest.commitSnapshot(df(1L -> "a"), path)
    // stream applies batch 0, then an unkeyed writer (SQL INSERT INTO /
    // DataFrame append) lands between micro-batches
    TableManifest.append(df(2L -> "b"), path, batchId = Some(0L))
    TableManifest.append(df(100L -> "ins"), path)
    // the stream's NEXT id is 1 — under the old shared keyspace the
    // INSERT had claimed exactly this id and the micro-batch's dynamic
    // overwrite silently erased it
    TableManifest.append(df(3L -> "c"), path, batchId = Some(1L))
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L, 100L),
      "an unkeyed append must survive the stream's next micro-batch")
    // replay of that micro-batch still exactly-once, INSERT still there
    TableManifest.append(df(3L -> "c"), path, batchId = Some(1L))
    assert(TableManifest.read(s, path).count() == 4)
    // a second unkeyed append lands on its own id too
    TableManifest.append(df(101L -> "ins2"), path)
    TableManifest.append(df(4L -> "d"), path, batchId = Some(2L))
    assert(ids(TableManifest.read(s, path)) ==
      Set(1L, 2L, 3L, 4L, 100L, 101L))
    // MoR delete masks rows from BOTH keyspaces point-in-time: rows
    // appended after the delete (keyed or unkeyed) are unaffected
    TableManifest.deleteWhere(s, path, "id >= 100")
    TableManifest.append(df(102L -> "after"), path)
    TableManifest.append(df(5L -> "e"), path, batchId = Some(3L))
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L, 4L, 5L, 102L),
      "delete must mask pre-delete unkeyed rows and spare post-delete ones")
    // CDF windows cover both keyspaces
    val vs = TableManifest.versions(s, path)
    val feed = TableManifest.readChanges(s, path, vs.head, vs.last)
    val inserted = feed.filter(col("_change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(inserted == Set(2L, 3L, 4L, 5L, 102L),
      "the insert feed must carry keyed and surviving unkeyed appends " +
        s"(got $inserted)")
    // and a fold erases the masked rows physically, preserving the rest
    TableManifest.compactBatches(s, path)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L, 4L, 5L, 102L))
  }

  test("a losing deleteWhere's on-disk segment is never honored: only " +
    "markers committed BY a delete mask rows") {
    val path = Files.createTempDirectory("tm_delkind").toString
    TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path)
    // simulate the race window: a delete segment parked at version d
    // while version d's marker was committed by an APPEND (tagged
    // kind=append) — the reader must ignore the segment
    val v = TableManifest.append(df(3L -> "c"), path) // kind=append marker
    import s.implicits._
    Seq(("id = 1", Long.MaxValue, Long.MaxValue)).toDF("pred", "wm", "uwm")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/deletes_v$v")
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 3L),
      "a segment at an append-committed version must not mask rows")
    // a REAL delete still works
    TableManifest.deleteWhere(s, path, "id = 2")
    assert(ids(TableManifest.read(s, path)) == Set(1L, 3L))
  }

  test("MoR UPDATE: atomic tombstone+replacement, point-in-time, pins, " +
    "CDF as delete+insert, folded erasure") {
    val path = Files.createTempDirectory("tm_update").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b",
      3L -> "c"), path)
    // SET expressions see the PRE-update row
    val vu = TableManifest.updateWhere(s, path, "id >= 2",
      Seq("v" -> "concat(v, '+', CAST(id AS STRING))", "id" -> "id + 10"))
    val live = TableManifest.read(s, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(live == Seq(1L -> "a", 12L -> "b+2", 13L -> "c+3"))
    // pinned below the update keeps the old rows
    assert(ids(TableManifest.readAt(s, path, v0)) == Set(1L, 2L, 3L))
    assert(TableManifest.updatedRowCount(s, path, vu) == 2L)
    // no-match UPDATE commits nothing
    val cur = TableManifest.versions(s, path).last
    assert(TableManifest.updateWhere(s, path, "id = 999",
      Seq("v" -> "'x'")) == cur)
    assert(TableManifest.versions(s, path).last == cur)
    // post-update appends matching the predicate are unaffected
    TableManifest.append(df(2L -> "reborn"), path)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 12L, 13L))
    // CDF: the update reads as delete(old) + insert(new)
    val feed = TableManifest.readChanges(s, path, v0, vu)
    val byType = feed.collect()
      .groupBy(_.getString(2)).view.mapValues(_.map(_.getLong(0)).toSet)
    assert(byType("delete") == Set(2L, 3L) &&
      byType("insert") == Set(12L, 13L))
    // a later delete masks updated rows too; fold erases physically
    TableManifest.deleteWhere(s, path, "id = 12")
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 13L))
    TableManifest.compactBatches(s, path)
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 13L))
    // bad SET column / bad SQL fail the UPDATE, not later reads
    intercept[IllegalArgumentException](
      TableManifest.updateWhere(s, path, "true", Seq("nope" -> "1")))
    intercept[Exception](
      TableManifest.updateWhere(s, path, "true", Seq("v" -> "unknown_col")))
    assert(ids(TableManifest.read(s, path)) == Set(1L, 2L, 13L))
  }

  test("markers commit tail-only: a marker can never land UNDER an " +
    "already-committed higher version") {
    val path = Files.createTempDirectory("tm_tail").toString
    TableManifest.commitSnapshot(df(1L -> "a"), path) // marker v0
    val head = IndexManifest.currentVersion(s, path).get
    // a racing appender (whose version scan skipped our parked dirs)
    // has already committed head+2
    assert(IndexManifest.tryCommitTagged(s, path, head + 2, 0L, -1L, ""))
    // the slower mutation's marker at head+1 must now be REFUSED —
    // otherwise the already-committed head+2 snapshot would
    // retroactively gain head+1's tombstone/batch
    assert(!IndexManifest.tryCommitTagged(s, path, head + 1, 0L, -1L,
      "delete"), "a marker below the committed head must be refused")
    assert(IndexManifest.currentVersion(s, path).contains(head + 2))
  }

  test("updateWhere racing unkeyed appends: no appended row is ever " +
    "silently deleted-instead-of-updated") {
    // the pre-fix failure: the tombstone's watermarks were captured
    // AFTER the snapshot read pinned its version, so an unkeyed append
    // landing in that window was covered by the tombstone but absent
    // from the replacement batch — its matching rows vanished. Now the
    // snapshot, payload, and tombstone watermarks all derive from ONE
    // pinned version and the CAS restarts when the head moves, so every
    // appended row must survive (possibly updated, never lost).
    val path = Files.createTempDirectory("tm_upd_race").toString
    TableManifest.commitSnapshot(
      df((1L to 50L).map(i => i -> s"v$i"): _*), path)
    val appended = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appender = new Thread(() => {
      var i = 1000L
      while (!stop.get()) {
        TableManifest.append(df(i -> s"v$i"), path) // unkeyed, matches pred
        appended.add(i); i += 1
      }
    })
    appender.start()
    try {
      for (_ <- 1 to 4)
        TableManifest.updateWhere(s, path, "v LIKE 'v%'",
          Seq("v" -> "concat(v, '!')"))
    } finally { stop.set(true); appender.join(30000) }
    val live = ids(TableManifest.read(s, path))
    val lost = appended.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).filterNot(live.contains)
    assert(lost.isEmpty,
      s"rows appended during the update vanished: ${lost.mkString(", ")}")
    assert((1L to 50L).forall(live.contains))
  }

  test("updateWhere racing deleteWhere: a stale update payload never " +
    "resurrects deleted rows") {
    // the delete predicates on id; the update never touches id — so
    // whichever order the two commit in, ids 1..10 must be gone at the
    // end. The pre-fix hazard: the update's replacement batch, computed
    // against a pre-delete snapshot, re-materializes the deleted rows.
    for (round <- 1 to 3) {
      val path = Files.createTempDirectory(s"tm_ud_race$round").toString
      TableManifest.commitSnapshot(
        df((1L to 40L).map(i => i -> s"v$i"): _*), path)
      val del = new Thread(() =>
        TableManifest.deleteWhere(s, path, "id <= 10"))
      del.start()
      TableManifest.updateWhere(s, path, "v LIKE 'v%'",
        Seq("v" -> "concat(v, '+')"))
      del.join(30000)
      val live = ids(TableManifest.read(s, path))
      assert((1L to 10L).forall(!live.contains(_)),
        s"deleted ids resurrected by a racing update (round $round): " +
          s"${(1L to 10L).filter(live.contains).mkString(", ")}")
      assert((11L to 40L).forall(live.contains))
    }
  }

  test("two concurrent updateWhere on disjoint predicates both land: " +
    "the loser restarts against the winner's state, neither is lost") {
    for (round <- 1 to 3) {
      val path = Files.createTempDirectory(s"tm_uu_race$round").toString
      TableManifest.commitSnapshot(
        df((1L to 30L).map(i => i -> s"v$i"): _*), path)
      val other = new Thread(() =>
        TableManifest.updateWhere(s, path, "id <= 10",
          Seq("v" -> "concat(v, '_lo')")))
      other.start()
      TableManifest.updateWhere(s, path, "id > 20",
        Seq("v" -> "concat(v, '_hi')"))
      other.join(30000)
      val live = TableManifest.read(s, path).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert((1L to 10L).forall(i => live(i) == s"v${i}_lo") &&
        (11L to 20L).forall(i => live(i) == s"v$i") &&
        (21L to 30L).forall(i => live(i) == s"v${i}_hi"),
        s"round $round: one of two racing updates was lost: $live")
    }
  }

  test("pending-mutation depth guard warns past the configured " +
    "threshold and clears after maintain") {
    val path = Files.createTempDirectory("tm_depth").toString
    TableManifest.commitSnapshot(
      df((1L to 20L).map(i => i -> s"v$i"): _*), path)
    s.conf.set("spark.graft.table.pendingMutationsWarn", "3")
    TableManifest.lastDepthWarning.set("")
    try {
      TableManifest.deleteWhere(s, path, "id = 1")
      TableManifest.deleteWhere(s, path, "id = 2")
      assert(TableManifest.lastDepthWarning.get().isEmpty,
        "below threshold: no warning")
      TableManifest.deleteWhere(s, path, "id = 3")
      val msg = TableManifest.lastDepthWarning.get()
      assert(msg.contains("3 unfolded") && msg.contains("maintain"),
        s"threshold hit must warn with the fold remedy (got: $msg)")
      // updateWhere is guarded too
      TableManifest.lastDepthWarning.set("")
      TableManifest.updateWhere(s, path, "id = 4", Seq("v" -> "'u'"))
      assert(TableManifest.lastDepthWarning.get().nonEmpty)
      // maintain folds the segments; the next mutation is quiet again
      TableManifest.maintain(s, path, maxDeletes = 1).collect()
      TableManifest.lastDepthWarning.set("")
      TableManifest.deleteWhere(s, path, "id = 5")
      assert(TableManifest.lastDepthWarning.get().isEmpty,
        "after maintain the pending depth restarts from zero")
      // opt-in auto-fold: crossing the threshold folds immediately —
      // the next mutation starts from a clean snapshot
      s.conf.set("spark.graft.table.pendingMutationsAutoFold", "true")
      // pending is already 1 (the id=5 delete): the chain crosses the
      // threshold at id=7's commit, which auto-folds; id=8 then starts
      // a fresh chain of one
      TableManifest.deleteWhere(s, path, "id = 6")
      TableManifest.deleteWhere(s, path, "id = 7") // threshold: auto-fold
      assert(TableManifest.pendingDeletes(s, path) == 0,
        "auto-fold must clear the pending segments at the threshold")
      TableManifest.deleteWhere(s, path, "id = 8")
      assert(TableManifest.pendingDeletes(s, path) == 1,
        "below threshold again: no fold")
      assert(ids(TableManifest.read(s, path)) ==
        (9L to 20L).toSet + 4L) // 4 was UPDATED (still live), 1-3,5-8 gone
    } finally {
      s.conf.unset("spark.graft.table.pendingMutationsWarn")
      s.conf.unset("spark.graft.table.pendingMutationsAutoFold")
    }
  }

  test("updateWhere SET on a late-added column reaches null-padded " +
    "legacy batches, and pruning artifacts stay exact across the update") {
    val path = Files.createTempDirectory("tm_evo_upd").toString
    TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path) // narrow
    import s.implicits._
    TableManifest.append( // evolved append carries a NEW column
      Seq((3L, "c", "t3"), (4L, "d", "t4")).toDF("id", "v", "tag"), path)
    val full = new StructType().add("id", LongType)
      .add("v", StringType).add("tag", StringType)
    // the SET expression reads the (null-padded) pre-update value
    TableManifest.updateWhere(s, path, "id <= 3",
      Seq("tag" -> "concat('u_', coalesce(tag, 'pad'))"), Some(full))
    val live = TableManifest.read(s, path, Some(full)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(live == Seq(1L -> "u_pad", 2L -> "u_pad", 3L -> "u_t3",
      4L -> "t4"),
      s"late-added-column SET must cover null-padded legacy rows: $live")
    // Bloom over the evolved column built AFTER the update: the legacy
    // batch contributes no filter row (conservatively read), the update
    // batch's filter serves the probe, and a pre-update value is gone
    TableManifest.refreshBloomFilters(s, path, Seq("tag"),
      expectedPerBatch = 1000L, schema = Some(full))
    assert(TableManifest.readPointString(s, path, "tag", Seq("u_t3"),
      Some(full)).collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(TableManifest.readPointString(s, path, "tag", Seq("t3"),
      Some(full)).isEmpty,
      "a pre-update value must not survive the update in any batch")
  }

  test("mutations landing during a table compact's rewrite are carried " +
    "forward by the re-derive loop, never lost") {
    // the index layer proved this for VectorIndex.compact; the table
    // layer's fold must match — a keyed stream appending while nightly
    // maintain folds is the race every real deployment hits. Inject an
    // append AND a delete between the fold's staging and its claim: the
    // stale staged payload must be thrown away and re-derived, so the
    // appended row survives and the delete holds.
    val path = Files.createTempDirectory("tm_compact_race").toString
    TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path)
    TableManifest.append(df(3L -> "c"), path)
    TableManifest.deleteWhere(s, path, "id = 1")
    var injected = false
    val v = TableManifest.commitDerivedSnapshot(s, path,
      v0 => TableManifest.readAt(s, path, v0), () => {
        if (!injected) {
          injected = true
          TableManifest.append(df(100L -> "raced"), path)
          TableManifest.deleteWhere(s, path, "id = 2")
        }
      })
    assert(ids(TableManifest.read(s, path)) == Set(3L, 100L),
      "the fold must carry the racing append AND the racing delete")
    assert(TableManifest.versions(s, path).last == v)
    assert(TableManifest.pendingDeletes(s, path) == 0,
      "the re-derived fold absorbs the racing delete's segment too")
    // compact again: quiet path, content invariant
    TableManifest.compactBatches(s, path)
    assert(ids(TableManifest.read(s, path)) == Set(3L, 100L))
  }

  test("cleanOrphans removes a crashed mutation's debris so the next " +
    "mutation at that slot proceeds; fresh debris is left alone") {
    val path = Files.createTempDirectory("tm_orphans").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    import s.implicits._
    // simulate every crash window: staged tmp dirs, a parked delete
    // segment claim at head+1 (this one BLOCKS the slot), a parked
    // payload dir, and an update-keyspace batch claim
    Seq(("id = 1", 0L, -1L)).toDF("pred", "wm", "uwm")
      .write.parquet(s"$path/.deletes_pending_crashed")
    df(9L -> "x").write.parquet(s"$path/.update_pending_crashed")
    Seq(("id = 1", 0L, -1L)).toDF("pred", "wm", "uwm")
      .write.parquet(s"$path/deletes_v${v0 + 1}")
    df(9L -> "x").write.parquet(s"$path/data_v${v0 + 9}")
    val payload = s"$path/data_v" + TableManifest.versions(s, path).head
    df(9L -> "x").write.parquet(
      s"$payload/__batch=${(1L << 62) + v0 + 1}")
    // the constraint/tag DDL crash windows too: a staged constraint
    // set, a parked constraints_v above the head, a half-placed tag
    Seq(("c", "id >= 0", true, false, "VALID"))
      .toDF("name", "sql", "enforced", "rely", "status")
      .write.parquet(s"$path/.constraints_pending_crashed")
    Seq(("c", "id >= 0", true, false, "VALID"))
      .toDF("name", "sql", "enforced", "rely", "status")
      .write.parquet(s"$path/constraints_v${v0 + 7}")
    f.create(new org.apache.hadoop.fs.Path(
      s"$path/manifest/.tag_pending_crashed"), true).close()
    // younger than the horizon: everything stays (could be in flight)
    assert(TableManifest.cleanOrphans(s, path) == 0)
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$path/deletes_v${v0 + 1}")))
    // past the horizon: all eight go, and the blocked slot frees up
    assert(TableManifest.cleanOrphans(s, path, olderThanMs = 0L) == 8)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$path/constraints_v${v0 + 7}")) &&
      TableManifest.constraintsOf(s, path).isEmpty,
      "an orphan constraint artifact must never become the live set")
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$path/deletes_v${v0 + 1}")))
    val vDel = TableManifest.deleteWhere(s, path, "id = 2")
    assert(vDel == v0 + 1 && ids(TableManifest.read(s, path)) == Set(1L),
      "the freed slot must serve the next mutation normally")
    // committed state untouched throughout
    assert(ids(TableManifest.readAt(s, path, v0)) == Set(1L, 2L))
  }

  test("a parked constraint artifact under a racing appender's marker " +
    "is never legitimized — the kind-tagged resolution (the delete-" +
    "segment discipline on the constraints family)") {
    val path = Files.createTempDirectory("tm_cons_park").toString
    import s.implicits._
    TableManifest.commitSnapshot(
      s.range(10).select(col("id"), (col("id") % 5).as("k")), path)
    TableManifest.setConstraints(s, path, Seq(
      TableManifest.TableConstraint("real", "id >= 0", true, false,
        "VALID")))
    // the window: a LOSING setConstraints has parked its artifact at
    // head+1 when a racing APPENDER's marker lands at that number (the
    // appender computed its version before the park appeared)
    val parkedAt = TableManifest.versions(s, path).last + 1
    Seq(("bogus", "id < 0", true, false, "VALID"))
      .toDF("name", "sql", "enforced", "rely", "status")
      .write.parquet(s"$path/constraints_v$parkedAt")
    val info = IndexManifest.markerInfoAt(s, path,
      TableManifest.versions(s, path).last)
    assert(IndexManifest.tryCommitTagged(s, path, parkedAt,
      info.wm, info.uwm, "append"))
    // the parked set must be invisible: 'real' still serves, and an
    // append violating 'bogus' but satisfying 'real' lands fine
    assert(TableManifest.constraintsOf(s, path).map(_.name) ==
      Seq("real"),
      "an appender's marker must not legitimize a parked constraint set")
    TableManifest.append(
      s.range(10, 15).select(col("id"), (col("id") % 5).as("k")), path)
    // ... and when the loser takes its claim back, nothing breaks
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(
        s"$path/constraints_v$parkedAt"), true)
    assert(TableManifest.constraintsOf(s, path).map(_.name) ==
      Seq("real"))
  }

  test("vacuum retention horizon refuses versions committed inside it") {
    val path = Files.createTempDirectory("tm_vac_retain").toString
    val v0 = TableManifest.commitSnapshot(df(1L -> "a"), path)
    TableManifest.commitSnapshot(df(2L -> "b"), path)
    val v2 = TableManifest.commitSnapshot(df(3L -> "c"), path)
    // every marker is seconds old: a 1h horizon must reclaim nothing,
    // whatever `keep` says — the long-running pinned reader's guarantee
    TableManifest.vacuum(s, path, keep = 1, retainMs = 3600L * 1000L)
    assert(ids(TableManifest.readAt(s, path, v0)) == Set(1L),
      "a version inside the retention horizon must stay readable")
    // horizon elapsed (retainMs = 0): the keep rule reclaims as before
    TableManifest.vacuum(s, path, keep = 1)
    intercept[IllegalArgumentException] {
      TableManifest.readAt(s, path, v0)
    }
    assert(ids(TableManifest.readAt(s, path, v2)) == Set(3L))
  }

  test("schema evolution through the read path: evolved appends null-pad, " +
    "late-added columns prune conservatively then exactly") {
    import s.implicits._
    val path = Files.createTempDirectory("tm_evolve").toString
    TableManifest.commitSnapshot(Seq((1L, "a")).toDF("id", "v"), path)
    // the ingest schema GROWS: later appends carry a new column
    TableManifest.append(Seq((2L, "b", 7L)).toDF("id", "v", "w"), path)
    TableManifest.append(Seq((3L, "c", 40L)).toDF("id", "v", "w"), path)
    val full = new StructType().add("id", LongType).add("v", StringType)
      .add("w", LongType)
    // explicit-schema read (the scale path): old batches null-pad `w`
    val got = TableManifest.read(s, path, Some(full))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(got == Set((1L, -1L), (2L, 7L), (3L, 40L)))
    // mergeSchema read (the footer-sweep convenience path): same rows
    val merged = TableManifest.read(s, path, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "v", "w"))
    assert(merged.count() == 3)
    // zone maps over the late-added column: the old batch's bounds are
    // null (all-null column) — a range probe proves it away EXACTLY
    // (null never matches a range), and the result matches the filter
    TableManifest.refreshZoneMaps(s, path, Seq("w"), Some(full))
    val pruned = TableManifest.readRange(s, path, Seq(("w", 5L, 10L)),
      Some(full))
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(2L))
    // a batch the artifact does not cover is conservatively read: append
    // another evolved batch WITHOUT refreshing stats — still found
    TableManifest.append(Seq((4L, "d", 8L)).toDF("id", "v", "w"), path)
    assert(TableManifest.readRange(s, path, Seq(("w", 5L, 10L)), Some(full))
      .collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    // Bloom point probes degrade conservatively on the evolved column
    // (no artifact yet), exactly matching the plain filtered read
    assert(TableManifest.readPoint(s, path, "w", Seq(40L), Some(full))
      .collect().map(_.getLong(0)).toSet == Set(3L))
    TableManifest.refreshBloomFilters(s, path, Seq("w"), 100L,
      schema = Some(full))
    assert(TableManifest.readPoint(s, path, "w", Seq(40L), Some(full))
      .collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("a zero-row snapshot reads back empty under an explicit schema") {
    val path = Files.createTempDirectory("tm_empty").toString
    val schema = StructType(Seq.empty)
      .add("id", LongType).add("v", StringType)
    TableManifest.commitSnapshot(
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema), path)
    assert(TableManifest.read(s, path, Some(schema)).count() == 0)
    TableManifest.append(df(5L -> "e"), path)
    assert(ids(TableManifest.read(s, path, Some(schema))) == Set(5L))
  }

  test("a failed merge cleans its staging debris: a mid-merge constraint " +
    "violation and a cardinality refusal both leave no pending dirs") {
    val path = Files.createTempDirectory("tm_mrg_clean").toString
    TableManifest.commitSnapshot(df(1L -> "a", 2L -> "b"), path)
    TableManifest.setConstraints(s, path, Seq(
      TableManifest.TableConstraint("v_short", "length(v) < 5",
        enforced = true, rely = false, status = "VALID")))
    val before = TableManifest.versions(s, path)
    def pendingDirs: Seq[String] = {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(hp).map(_.getPath.getName).toSeq
        .filter(n => n.startsWith(".update_pending_") ||
          n.startsWith(".eqdeletes_pending_") ||
          n.startsWith(".deletes_pending_"))
    }
    // the post-image violates the CHECK: the staged replacement write
    // aborts MID-merge, after the tombstone keys already staged —
    // everything must be taken back (previously the debris lingered
    // until a manual cleanOrphans)
    intercept[Exception](TableManifest.mergeWhere(s, path,
      df(1L -> "way_too_long_value"), Seq("id"),
      matched = Seq(TableManifest.MergeMatched("update", None)),
      inserts = Seq(TableManifest.MergeInsert(None))))
    assert(pendingDirs.isEmpty,
      s"failed merge left staging debris: $pendingDirs")
    // duplicate source keys refuse before anything stages or commits
    intercept[Exception](TableManifest.mergeWhere(s, path,
      df(1L -> "x", 1L -> "y"), Seq("id"),
      matched = Seq(TableManifest.MergeMatched("update", None)),
      inserts = Seq(TableManifest.MergeInsert(None))))
    assert(pendingDirs.isEmpty && TableManifest.versions(s, path) == before)
    assert(rows(TableManifest.read(s, path)) ==
      Set(1L -> "a", 2L -> "b"), "failed merges must change nothing")
  }

  private def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    d.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("nullSafeKeys merge (the streaming-sink upsert contract): a NULL " +
    "key is one more group that REPLACES, not a forever-insert; SQL " +
    "3VL semantics stay the default") {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq.empty)
      .add("id", LongType).add("v", StringType)
    def ndf(rows: (Option[Long], String)*) =
      s.createDataFrame(
        s.sparkContext.parallelize(rows.map(r =>
          Row(r._1.map(java.lang.Long.valueOf).orNull, r._2)), 1),
        schema)
    // default (===): a NULL-keyed source row can never match — it
    // re-inserts every merge (SQL MERGE semantics)
    val p3vl = Files.createTempDirectory("tm_mrg_3vl").toString
    TableManifest.commitSnapshot(
      ndf(Some(1L) -> "a", None -> "n0"), p3vl)
    (1 to 2).foreach(i => TableManifest.mergeWhere(s, p3vl,
      ndf(None -> s"n$i"), Seq("id"),
      matched = Seq(TableManifest.MergeMatched("update", None)),
      inserts = Seq(TableManifest.MergeInsert(None))))
    assert(TableManifest.read(s, p3vl)
      .filter(col("id").isNull).count() == 3,
      "3VL: null-keyed source rows always insert")
    // nullSafeKeys (<=>): the NULL group upserts like any other key
    val pns = Files.createTempDirectory("tm_mrg_ns").toString
    TableManifest.commitSnapshot(
      ndf(Some(1L) -> "a", None -> "n0"), pns)
    (1 to 2).foreach(i => TableManifest.mergeWhere(s, pns,
      ndf(None -> s"n$i", Some(1L) -> s"a$i", Some(7L) -> s"f$i"),
      Seq("id"),
      matched = Seq(TableManifest.MergeMatched("update", None)),
      inserts = Seq(TableManifest.MergeInsert(None)),
      nullSafeKeys = true))
    val got = TableManifest.read(s, pns).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(got == Set((Some(1L), "a2"), (None, "n2"), (Some(7L), "f2")),
      s"null-safe upsert state: $got")
    // and duplicate NULL keys are a cardinality violation under <=>
    intercept[Exception](TableManifest.mergeWhere(s, pns,
      ndf(None -> "x", None -> "y"), Seq("id"),
      matched = Seq(TableManifest.MergeMatched("update", None)),
      inserts = Seq(TableManifest.MergeInsert(None)),
      nullSafeKeys = true))
  }

  test("CDF: a MoR MERGE's key-group pass-through rows never surface as " +
    "delete+insert churn — content-neutral pairs cancel out of the feed") {
    import s.implicits._
    val path = Files.createTempDirectory("tm_cdf_noop").toString
    // non-unique merge key k: 4 groups x 3 rows
    val v0 = TableManifest.commitSnapshot(
      (0L until 12L).map(i => (i, i % 4, i.toString)).toDF("id", "k", "v"),
      path)
    // groups 0 and 1 are matched; the per-ROW condition acts only on
    // id < 4, so ids 4,5,8,9 are rewritten as byte-identical
    // pass-throughs (key-level masking) — they must NOT enter the feed
    val (v1, _, _) = TableManifest.mergeWhere(s, path,
      Seq((0L, "d0"), (1L, "d1")).toDF("k", "delta"), Seq("k"),
      matched = Seq(TableManifest.MergeMatched("update",
        Some("__t.id < 4"), Some(Seq("v" -> "concat(__t.v, __s.delta)")))),
      inserts = Nil)
    val feed = TableManifest.readChanges(s, path, v0, v1)
    assert(feed.filter(col("id") >= 4).count() == 0,
      "pass-through rows are content-neutral and must cancel")
    val dels = feed.filter(col("_change_type") === "delete")
    val inss = feed.filter(col("_change_type") === "insert")
    assert(dels.count() == 2 && inss.count() == 2)
    assert(inss.filter(col("v").endsWith("d0") ||
      col("v").endsWith("d1")).count() == 2)
    // the feed is still a complete content delta: pre + feed == post
    val pre = TableManifest.readAt(s, path, v0)
    val post = TableManifest.readAt(s, path, v1)
    val applied = pre
      .exceptAll(dels.drop("_change_type"))
      .union(inss.drop("_change_type"))
    assert(applied.exceptAll(post).isEmpty &&
      post.exceptAll(applied).isEmpty,
      "applying the cancelled feed must still reproduce the post state")
    // rawPairs: the churn-audit view serves every PHYSICAL pair
    // uncancelled — the pass-through rewrites surface as
    // delete+insert, and applying THIS feed reproduces the same post
    // state (cancellation only ever removes net-zero pairs)
    val raw = TableManifest.readChanges(s, path, v0, v1, rawPairs = true)
    assert(raw.filter(col("id") >= 4 && col("id") < 6).count() == 4,
      "rawPairs must surface the pass-through delete+insert pairs")
    assert(raw.count() > feed.count())
    val rawApplied = pre
      .exceptAll(raw.filter(col("_change_type") === "delete")
        .drop("_change_type"))
      .union(raw.filter(col("_change_type") === "insert")
        .drop("_change_type"))
    assert(rawApplied.exceptAll(post).isEmpty &&
      post.exceptAll(rawApplied).isEmpty)
    // and from PLAIN SQL through the reader option
    val sqlRaw = s.read.format("graft")
      .option("readChangeFeed", "true")
      .option("rawPairs", "true")
      .option("startingVersion", v0.toString)
      .option("endingVersion", v1.toString)
      .load(path)
    assert(sqlRaw.count() == raw.count())
  }

  test("manifest checkpoint: reads answer from the checkpointed marker " +
    "log; a corrupt checkpoint degrades to per-marker reads; vacuumed " +
    "versions are never resurrected by a stale checkpoint") {
    val path = Files.createTempDirectory("tm_ckpt").toString
    TableManifest.commitSnapshot(df(0L -> "s"), path)
    // cross the default interval (32) so a commit-triggered checkpoint
    // lands without any explicit call
    (1L to 35L).foreach(i => TableManifest.append(df(i -> "a"), path))
    val hp = new org.apache.hadoop.fs.Path(s"$path/manifest")
    val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    def ckpts: Seq[String] = f.listStatus(hp).map(_.getPath.getName)
      .filter(_.startsWith("ckpt_v")).toSeq.sorted
    assert(ckpts.nonEmpty, "the 32nd commit must write a checkpoint")
    assert(ids(TableManifest.read(s, path)) == (0L to 35L).toSet)
    // mutations after the checkpoint resolve from the tail
    TableManifest.deleteWhere(s, path, "id <= 1")
    assert(ids(TableManifest.read(s, path)) == (2L to 35L).toSet)
    // a CORRUPT checkpoint must degrade (per-marker reads), never err
    // or serve wrong rows
    val out = f.create(new org.apache.hadoop.fs.Path(
      s"$path/manifest/${ckpts.last}"), true)
    try out.writeBytes("garbage\nnot:a:real\ncheckpoint") finally out.close()
    assert(ids(TableManifest.read(s, path)) == (2L to 35L).toSet,
      "corrupt checkpoint must fall back, not misread")
    // the marker log equals ground truth version-by-version (kinds)
    val hist0 = TableManifest.history(s, path)
      .select(col("version"), col("kind")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist0(TableManifest.versions(s, path).max) == "delete")
    assert(TableManifest.versions(s, path).tail
      .exists(v => hist0(v) == "append"))
    // checkpoint the full history, fold + vacuum it away: the stale
    // checkpoint still lists the reclaimed versions, but existence
    // comes from the live listing — a reclaimed pin refuses instead of
    // resurrecting
    TableManifest.checkpointManifest(s, path)
    TableManifest.compactBatches(s, path) // new payload: history folds
    val reclaimed = TableManifest.vacuum(s, path, keep = 1)
    assert(reclaimed.nonEmpty)
    intercept[Exception](TableManifest.readAt(s, path, reclaimed.head))
    assert(ids(TableManifest.read(s, path)) == (2L to 35L).toSet)
  }

  test("metadata traffic: checkpoint and marker bodies opened per " +
    "operation, with and without a checkpoint") {
    s.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[ManifestOpenCountingFs].getName)
    // snapshot + four keyed appends (versions 0-4), optionally
    // checkpointed at the head — short of the 32-commit interval, so
    // the plain table never writes one
    def table(checkpointed: Boolean): String = {
      val path = "countfs://" + Files.createTempDirectory("tm_traffic")
      // the countfs scheme is the local filesystem's rename under
      // another name: the verified rename store applies
      CommitStore.installForTest(
        new org.apache.hadoop.fs.Path(path).toString, RenameCommitStore)
      TableManifest.commitSnapshot(df(0L -> "s"), path)
      (0L until 4L).foreach(b =>
        TableManifest.append(df((b + 1) -> "k"), path, batchId = Some(b)))
      if (checkpointed) TableManifest.checkpointManifest(s, path)
      path
    }
    def opens(op: => Unit): (Long, Long) = {
      ManifestOpenCountingFs.reset()
      op
      (ManifestOpenCountingFs.checkpointOpens.get,
        ManifestOpenCountingFs.markerOpens.get)
    }
    def traffic(path: String): Map[String, (Long, Long)] = Map(
      "keyed append" -> opens(
        TableManifest.append(df(10L -> "x"), path, batchId = Some(4L))),
      "unkeyed append" -> opens(TableManifest.append(df(11L -> "y"), path)),
      "deleteWhere" -> opens(TableManifest.deleteWhere(s, path, "id = 1")),
      "readRange" -> opens(TableManifest.readRange(s, path,
        Seq(("id", 0L, 100L))).count()))
    // (checkpoint body opens, marker body opens) — a marker body is read
    // only when a version question needs it (the payload's own marker
    // included: it must be a snapshot's), once per View; the checkpoint
    // serves every version it holds
    try {
      val checkpointed = table(checkpointed = true)
      val plain = table(checkpointed = false)
      val ckptTraffic = traffic(checkpointed)
      val plainTraffic = traffic(plain)
      assert(ckptTraffic == Map("keyed append" -> (2L, 0L),
        "unkeyed append" -> (2L, 2L), "deleteWhere" -> (3L, 3L),
        "readRange" -> (1L, 1L)), s"checkpointed: $ckptTraffic")
      assert(plainTraffic == Map("keyed append" -> (0L, 4L),
        "unkeyed append" -> (0L, 4L), "deleteWhere" -> (0L, 5L),
        "readRange" -> (0L, 2L)), s"no checkpoint: $plainTraffic")
      Seq(checkpointed, plain).foreach(p => assert(
        ids(TableManifest.read(s, p)) == Set(0L, 2L, 3L, 4L, 10L, 11L)))
    } finally CommitStore.clearTestStores()
  }
}

/** The local filesystem under its own `countfs` scheme, counting opens of
  * manifest checkpoint bodies (`manifest/ckpt_v<N>`) and marker bodies
  * (`manifest/v<N>`). Only `countfs://` paths pass through it, so every
  * other suite keeps the plain local filesystem. */
class ManifestOpenCountingFs extends org.apache.hadoop.fs.LocalFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = ManifestOpenCountingFs.Uri
    }) {
  override def getScheme: String = ManifestOpenCountingFs.Uri.getScheme
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ManifestOpenCountingFs.record(f)
    super.open(f, bufferSize)
  }
}

object ManifestOpenCountingFs {
  val Uri: java.net.URI = java.net.URI.create("countfs:///")
  val checkpointOpens, markerOpens =
    new java.util.concurrent.atomic.AtomicLong
  private val Checkpoint = "ckpt_v\\d+".r
  private val Marker = "v\\d+".r

  def reset(): Unit = { checkpointOpens.set(0L); markerOpens.set(0L) }

  def record(p: org.apache.hadoop.fs.Path): Unit =
    if (Option(p.getParent).exists(_.getName == "manifest"))
      p.getName match {
        case Checkpoint() => checkpointOpens.incrementAndGet()
        case Marker() => markerOpens.incrementAndGet()
        case _ =>
      }
}
