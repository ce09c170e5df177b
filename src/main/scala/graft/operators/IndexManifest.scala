package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Snapshot manifest for the persisted indexes — the atomicity layer
  * under every mutation. Versioned layout:
  *
  *   path/manifest/v<N>       committed-version markers; the file BODY is
  *                            the version's append WATERMARK (the highest
  *                            `__batch` partition id visible to it)
  *   path/codes_v<P>          a PAYLOAD version's files (build/compact)
  *   path/tombstones_v<D>     a DELETE version's segment: the ids removed
  *                            by commit D
  *   path/<artifact>_v<P>     a payload version's GEOMETRY artifacts
  *                            (thresholds/meta/sqfit/centroids/codebooks)
  *
  * EVERY mutation commits one marker: builds and compactions commit a
  * payload version, deletes commit a delete version. A version `v`
  * resolves COMPOSITELY:
  *
  *   payload(v)   = the largest payload version ≤ v
  *   tombstones(v)= the union of delete segments D with payload(v) < D ≤ v
  *   geometry(v)  = per artifact, the largest artifact version ≤ v
  *   live view(v) = payload(v)'s rows with __batch ≤ v's watermark,
  *                  minus tombstones(v)
  *
  * so "VERSION AS OF v" is FULLY immutable once v is superseded — later
  * deletes land in segments > v (never in v's mask), later appends land
  * in `__batch` partitions above v's watermark, and later rebuilds write
  * their geometry under the NEW version's names (a crash mid-rebuild
  * before the marker leaves the previous version — payload, mask, AND
  * geometry — exactly as it was). Old versions are reclaimed explicitly
  * by [[VectorIndex.vacuum]] — the Iceberg/Delta expire-snapshots
  * contract, kept deliberately minimal.
  *
  * A commit is one marker appearing in `manifest/` (tmp write + rename,
  * preceded by an existence check). [[tryCommit]] surfaces the loser of
  * a version-number race, and the mutators retry: deletes re-stamp their
  * segment at the new next version; compact re-snapshots and re-folds
  * (so a delete that commits mid-rewrite is folded, not lost — the race
  * the old carry-forward only narrowed is now closed by construction);
  * rebuilds rename their already-written payload+geometry to the new
  * number. This is optimistic concurrency on a filesystem: atomic
  * no-overwrite rename is real on HDFS/ABFS; on raw local filesystems
  * the exists-check narrows the window, and the documented contract
  * below makes collisions rare by construction.
  *
  * Concurrency contract: READERS are isolated (any resolved version
  * stays intact until an explicit vacuum). MUTATORS assume one logical
  * writer per index path for builds/appends/compactions (the standard
  * one-committer contract of table formats at this layer), PLUS an
  * asynchronous delete feed: deleteIds commits through the same
  * optimistic path, so delete-vs-compact interleavings serialize
  * cleanly instead of silently losing removals.
  *
  * Crash-recovery windows (stated, not hidden): a mutation that dies
  * between writing a versioned dir and its marker leaves an ORPHAN —
  * resolution ignores it (committed-marker filters everywhere) and
  * fresh builds/appends allocate past it, but a crashed delete's orphan
  * SEGMENT blocks the cur+1 CAS slot: deleteIds fails after a bounded
  * spin with the recovery action (remove the dir) rather than spinning
  * forever or deleting what might be an in-flight partner's segment.
  * And because a delete's segment is renamed into place BEFORE its
  * marker, an async delete racing an append for the same number has a
  * transient window where a reader at the append's fresh version can
  * observe the delete early (the loser renames its segment back
  * immediately); a crash inside that exact window attributes the
  * segment to the append's version — the one interleaving the
  * filesystem-only protocol cannot close, which is where a real
  * deployment reaches for the lock service table formats keep at this
  * layer.
  *
  * Legacy layout (no `manifest/` dir — indexes written before this
  * layer) resolves to the unversioned `codes`/`tombstones` names, and
  * compact falls back to the old swap there.
  */
private[operators] object IndexManifest {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rename that CLAIMS `dst`: returns false when dst was already
    * taken. Routed through the [[CommitStore]] seam — the default
    * rename store is the historical no-overwrite-rename protocol
    * (with the nested-dir backout); a coordinated store serializes
    * claims through a [[CommitCoordinator]] for object stores whose
    * rename is neither atomic nor no-overwrite (see CommitStore's
    * scaladoc for the S3 story). */
  private[operators] def renameExclusive(
      f: org.apache.hadoop.fs.FileSystem, src: Path, dst: Path): Boolean =
    CommitStore.of(f, dst).claim(f, src, dst)

  /** All committed versions, ascending; empty = legacy layout. Served
    * from the checkpoint + tail probes when the pointer is fresh (the
    * fence guards exactness — see the fast-path notes below), otherwise
    * from one manifest listing; no marker body is opened either way. */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] =
    markerLog(spark, path).committed

  /** Highest committed version; None = legacy (pre-manifest) layout.
    * Served pointer+probe when a checkpoint pointer exists (O(tail)
    * point reads instead of the full manifest listing — what keeps
    * COMMIT latency flat on a 50k-version table); the probe result is
    * honored only when the reclaim fence still matches the pointer's
    * recorded generation, so it is exactly as fresh as a listing. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    fastHead(spark, path)
      .orElse(committedVersions(spark, path).lastOption)

  /** Versions of `base` dirs present on disk: `base_v<N>` → N, ascending.
    * One listing RPC; used for payload, segment, and geometry resolution. */
  def diskVersions(spark: SparkSession, path: String,
      base: String): Seq[Long] =
    rootFamilies(fs(spark, path), path).getOrElse(base, Nil)

  /** `<family>_v<N>` → (family, N); None for any other name. The one
    * parser of versioned dir and checkpoint names. */
  private def familyVersion(name: String): Option[(String, Long)] = {
    val i = name.lastIndexOf("_v")
    val ver = if (i <= 0) "" else name.substring(i + 2)
    if (ver.nonEmpty && ver.forall(_.isDigit))
      ver.toLongOption.map(v => name.substring(0, i) -> v)
    else None
  }

  /** The versioned dirs on the root of `path` — family → ascending
    * versions, committed or not — from one listing. */
  private def rootFamilies(f: org.apache.hadoop.fs.FileSystem,
      path: String): Map[String, Seq[Long]] = {
    val p = new Path(path)
    if (!f.exists(p)) Map.empty
    else f.listStatus(p).toSeq
      .flatMap(st => familyVersion(st.getPath.getName))
      .groupBy(_._1).map { case (b, vs) => b -> vs.map(_._2).sorted }
  }

  /** The number the next mutation must use: past the head marker AND
    * past every versioned dir on disk (see [[nextMutationVersion]]). */
  private def nextAfter(head: Option[Long],
      disk: Map[String, Seq[Long]]): Long =
    (head.map(_ + 1).getOrElse(0L) +: disk.values.flatten.map(_ + 1).toSeq).max

  /** The payload version a composite `version` resolves to: the largest
    * COMMITTED `<base>_v<P>` ON DISK with P ≤ version (vacuum keeps this
    * sound by never deleting a payload a retained version still resolves
    * to). The committed-marker filter excludes ORPHANS — dirs parked by
    * a crash between the payload write and its marker — which must never
    * enter any resolution (see [[nextMutationVersion]]). Indexes use
    * base `codes`; [[TableManifest]] data tables use `data`. */
  def payloadVersionAt(spark: SparkSession, path: String,
      version: Long, base: String = "codes"): Option[Long] =
    resolve(spark, path).payloadAt(version, base)

  /** Delete-segment versions masking composite `version`:
    * payload(version) < D ≤ version, committed markers only (an orphan
    * segment from a crashed delete must never mask anything). */
  def segmentVersionsAt(spark: SparkSession, path: String,
      version: Long): Seq[Long] =
    resolve(spark, path).segmentsAt(version)

  /** Marker kinds that commit a `<base>` payload. A table's `data_v<N>`
    * is written only by snapshot-shaped commits ("" = pre-tagging), so
    * a snapshot claim parked at a number a racing delete or append
    * committed — the window before the loser takes it back — is never
    * served as the payload. Index markers carry no kind. */
  private def payloadKinds(base: String): Option[Set[String]] =
    if (base == "data") Some(Set("", "snapshot")) else None

  /** The version number the NEXT mutation must use: past the current
    * marker AND past every versioned dir on disk (payloads, segments,
    * geometry — committed or orphaned). Without the orphan skip, a
    * mutation committing at an orphan's number would RESURRECT it: the
    * marker legitimizes the crashed write into the composite resolution
    * (a half-built payload served, a dead delete masking live rows, a
    * stale quantizer decoding fresh codes). */
  def nextMutationVersion(spark: SparkSession, path: String): Long = {
    val head = currentVersion(spark, path)
    nextAfter(head, rootFamilies(fs(spark, path), path))
  }

  /** Current live payload dir. */
  def codesDir(spark: SparkSession, path: String): String =
    currentVersion(spark, path)
      .flatMap(v => payloadVersionAt(spark, path, v))
      .map(p => s"$path/codes_v$p").getOrElse(s"$path/codes")

  /** Geometry artifact dir for composite `version` (None = current):
    * the largest COMMITTED `name_v<W>` with W ≤ version (an orphan
    * artifact from a crashed rebuild must never decode live codes);
    * legacy unversioned `name` when no versioned artifact exists
    * (pre-geometry-versioning builds). */
  def artifactDirAt(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None): String = {
    val bound = version.orElse(currentVersion(spark, path))
    val committed = committedVersions(spark, path).toSet
    bound.flatMap(v => diskVersions(spark, path, name)
        .filter(w => w <= v && committed.contains(w)).lastOption)
      .map(w => s"$path/${name}_v$w").getOrElse(s"$path/$name")
  }

  /** One resolved state of a manifest: the [[MarkerLog]] (committed set,
    * marker bodies on demand) and the root listing of versioned dirs,
    * read in that order, so every committed version's dirs are in the
    * listing (they are renamed into place before their marker).
    *
    * Freshness rule: a Resolved answers questions about versions at or
    * below the head it read, and those answers never go stale — marker
    * bodies are immutable and a committed version's dirs stay until
    * vacuum. So an operation resolves once and asks it every version
    * question; a mutator resolves again at the top of each commit
    * attempt. Claim decisions never come from it: they stay direct calls
    * ([[currentVersion]] head re-checks, [[renameExclusive]], and
    * [[tryCommitTagged]]'s tail-only check). */
  final case class Resolved(log: MarkerLog, disk: Map[String, Seq[Long]]) {
    def committed: Seq[Long] = log.committed
    def current: Option[Long] = committed.lastOption
    /** The number the next mutation must claim (see
      * [[nextMutationVersion]]). */
    def nextVersion: Long = nextAfter(current, disk)

    /** The honoring rule, newest first: committed `<family>_v<N>` dirs
      * with `after` < N ≤ `version` whose marker kind `kinds` accepts
      * (None accepts every kind without reading a body). A dir whose
      * number no marker committed — or one committed by a mutation of
      * another kind — is an orphan and never honored. Bodies are read as
      * the iterator advances. */
    def honored(family: String, version: Long,
        kinds: Option[Set[String]] = None,
        after: Long = -1L): Iterator[Long] =
      disk.getOrElse(family, Nil).reverseIterator.filter(n =>
        n <= version && n > after && log.committedSet(n) &&
          kinds.forall(_(log.infoAt(n).kind)))

    def payloadAt(version: Long, base: String = "codes"): Option[Long] =
      honored(base, version, payloadKinds(base)).nextOption()
    def segmentsAt(version: Long, base: String = "codes"): Seq[Long] =
      honored("tombstones", version,
        after = payloadAt(version, base).getOrElse(-1L)).toSeq.reverse
    def artifactVersionAt(name: String, version: Long): Option[Long] =
      honored(name, version).nextOption()
  }

  def resolve(spark: SparkSession, path: String): Resolved = {
    val log = markerLog(spark, path)
    Resolved(log, rootFamilies(fs(spark, path), path))
  }

  /** Version a fresh build() must write and then commit: 0 on a virgin
    * path, past the current marker when a manifest already exists (a
    * REBUILD). Re-committing version 0 over a compacted index (current
    * ≥ 1) would be silently ignored by [[currentVersion]]'s max rule —
    * readers would keep serving the old payload. Building into the NEXT
    * version makes rebuild an atomic switch instead; orphan dirs are
    * skipped ([[nextMutationVersion]]), so a rebuild never writes into
    * a crashed predecessor's directory. */
  def nextBuildVersion(spark: SparkSession, path: String): Long =
    nextMutationVersion(spark, path)

  /** Everything a marker body records. Two body formats:
    *
    *  - legacy/plain: one long — the (keyed) watermark; `uwm` reads -1
    *    (no unkeyed high-range batches existed when it was written) and
    *    `kind` reads "" (unknown — treated permissively by consumers
    *    that filter on kind, for pre-tagging compatibility).
    *  - tagged (`k=v` lines): `wm=<long>`, `uwm=<long>`,
    *    `kind=<append|snapshot|delete|...>` — what [[TableManifest]]
    *    commits write, so the keyed/unkeyed `__batch` keyspaces carry
    *    separate watermarks and a delete SEGMENT on disk is only honored
    *    when its version was committed BY a delete (closing the window
    *    where a racing appender's marker briefly legitimized an
    *    in-flight delete segment at the same number).
    *
    * Empty/unparseable bodies (markers from before watermarks) read as
    * `wm = Long.MaxValue` — no append filtering, the old semantics. An
    * empty body is first RETRIED as an in-flight torn placement (see
    * the loop below) — only a persistently-empty marker reads legacy. */
  final case class MarkerInfo(wm: Long, uwm: Long, kind: String)

  /** The record of an absent or pre-watermark marker. */
  private val LegacyInfo = MarkerInfo(Long.MaxValue, -1L, "")

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** (path, version) markers CONFIRMED legacy-empty (empty body AND
    * placed longer ago than any placement window) — that resolution is
    * final (a completed placement never rewrites a marker), so caching
    * it spares every body-walking hot path (updateWhere/merge slide
    * checks, constraintsOf, history) the re-read on EVERY visit to a
    * genuinely-legacy pre-watermark marker. A RECENT empty marker is
    * never cached: it may be a placement in flight, and a sticky wrong
    * read would be worse than the retry it replaces. Bounded: legacy
    * markers are a finite pre-migration set, entries are tiny strings. */
  private val legacyEmptyMarkers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** An empty marker OLDER than this is legacy, not in-flight: marker
    * placement (create → write/rename) is a millisecond window, and no
    * writer pause credible enough to plan for spans minutes. */
  private val EmptyMarkerLegacyAgeMs = 10L * 60 * 1000

  def markerInfoAt(spark: SparkSession, path: String,
      version: Long): MarkerInfo = {
    val f = fs(spark, path)
    val m = new Path(s"$path/manifest/v$version")
    if (!f.exists(m)) return LegacyInfo
    if (legacyEmptyMarkers.contains(s"$path#$version"))
      return LegacyInfo
    // a marker is immutable once placed, but the PLACEMENT itself has a
    // millisecond window on checksummed local filesystems: rename moves
    // the data file and its .crc as two operations, so a reader landing
    // between them sees a transient ChecksumException on a perfectly
    // good marker. The retry is NARROWED to exactly that window: a
    // FileNotFoundException whose re-check confirms the marker is gone
    // (a concurrent vacuum reclaimed it between the exists() above and
    // the open) returns the absent-marker record immediately — this
    // helper runs per-version on constraintsOf/history hot paths, so
    // burning the full retry budget (~280 ms of sleeps) on a
    // legitimately-deleted marker would tax every caller — and any
    // other IOException is real corruption and throws at once.
    var body = ""
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      try {
        val in = f.open(m)
        body = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
        // An EMPTY body on an EXISTING marker is (with today's writers)
        // an IN-FLIGHT placement, not a committed state: stores without
        // atomic single-file visibility (a non-atomic PUT, a copy-based
        // rename) expose the file created-but-unwritten for a moment,
        // and no current writer ever commits an empty marker (tagged
        // k=v bodies since the watermark split; numeric watermarks
        // before it). Treating that moment as the legacy
        // "wm=MaxValue, uwm=-1" record is how the CommitStoreSpec chaos
        // arm lost unkeyed appends: a compactor pinning a mid-write
        // head derived a view with uwm=-1 — every unkeyed batch
        // invisible — and committed the fold as a snapshot. So: retry
        // the torn read like the checksum window below; only after the
        // budget does the (documented, pre-watermark-legacy) empty
        // interpretation apply.
        // an OLD empty marker is legacy, not a torn placement — resolve
        // immediately instead of burning the retry budget on it
        if (body.isEmpty && attempt < 8 &&
            scala.util.Try(System.currentTimeMillis() -
                f.getFileStatus(m).getModificationTime)
              .getOrElse(0L) <= EmptyMarkerLegacyAgeMs)
          Thread.sleep(10L * attempt)
        else done = true
      } catch {
        case _: java.io.FileNotFoundException if !f.exists(m) =>
          return LegacyInfo
        case _: org.apache.hadoop.fs.ChecksumException if attempt < 8 =>
          Thread.sleep(10L * attempt)
        case _: java.io.EOFException if attempt < 8 =>
          // same torn-placement window, surfaced as a short read when
          // the data file (not just its .crc) is still mid-write
          Thread.sleep(10L * attempt)
        case _: java.io.FileNotFoundException if attempt < 8 =>
          // exists() says present but open missed it: the placement
          // rename's own visibility window — same retry
          Thread.sleep(10L * attempt)
      }
    }
    if (body.isEmpty) {
      // budget exhausted on an empty-but-EXISTING marker: adopt the
      // documented pre-watermark-legacy interpretation — silently only
      // when the marker is OLD (genuinely legacy; cache that final
      // resolution so hot paths stop re-paying the ~280 ms budget), and
      // LOUDLY when it is recent: a writer paused longer than the
      // budget between create and write reproduces the exact
      // unkeyed-append-invisibility hazard this retry exists for, and
      // silence would make it undiagnosable. The recent case is NOT
      // cached — the next read must see the completed body.
      val ageMs = scala.util.Try(System.currentTimeMillis() -
        f.getFileStatus(m).getModificationTime).getOrElse(0L)
      if (ageMs > EmptyMarkerLegacyAgeMs)
        legacyEmptyMarkers.add(s"$path#$version")
      else
        log.warn(
          s"marker $path/manifest/v$version still empty after $attempt " +
            s"reads (~280 ms) and only $ageMs ms old: treating as the " +
            "LEGACY empty record (wm=MaxValue, uwm=-1); if a writer is " +
            "mid-placement, unkeyed batches transiently read as " +
            "invisible at this version")
    }
    if (body.nonEmpty && body.forall(c => c.isDigit || c == '-'))
      MarkerInfo(body.toLong, -1L, "")
    else if (body.contains('=')) {
      val kv = body.linesIterator.flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _           => None
        }
      }.toMap
      def longOf(k: String, dflt: Long) =
        kv.get(k).flatMap(_.toLongOption).getOrElse(dflt)
      MarkerInfo(longOf("wm", Long.MaxValue), longOf("uwm", -1L),
        kv.getOrElse("kind", ""))
    } else LegacyInfo
  }

  /** Watermark recorded in `version`'s marker: the highest KEYED/low-range
    * `__batch` visible to readers pinned there (-1 = the build partition
    * only). See [[markerInfoAt]] for the full record. */
  def watermarkAt(spark: SparkSession, path: String, version: Long): Long =
    markerInfoAt(spark, path, version).wm

  // ---- manifest-log checkpoints: flat head+body resolution ---------------
  //
  // The manifest LISTING is one RPC, but marker BODIES (watermarks,
  // kinds) cost one file open each — and a busy table (a streaming
  // Update-mode sink commits one marker per micro-batch) accumulates
  // thousands of markers between vacuums, so body-walking helpers
  // (update-batch visibility, segment kinds, history) would pay
  // O(#versions) opens on EVERY read. A CHECKPOINT file
  // (`manifest/ckpt_v<C>` — the Delta `_last_checkpoint` idea) captures
  // every committed marker's immutable body + commit mtime up to its
  // head; [[markerLog]] reads the newest checkpoint plus ONLY the
  // checkpoint→head tail of marker files, so read planning stays flat
  // from 1k to 50k versions (`Stress manifestscale`). Safety is by
  // construction, not trust: marker bodies are IMMUTABLE once placed,
  // and the checkpoint is consulted only for versions the live listing
  // still shows — existence (the head, vacuum reclaims) always comes
  // from the listing, so a stale checkpoint can never serve a wrong
  // head or resurrect a reclaimed version, and a corrupt/unreadable
  // checkpoint degrades to per-marker reads, never to wrong answers.
  // Writing is best-effort and amortized: every `checkpointInterval`-th
  // commit (default 32, `spark.graft.manifest.checkpointInterval`,
  // <= 0 disables) rewrites the checkpoint from the previous one plus
  // the tail, then prunes superseded checkpoint files.

  /** Every committed version (ascending) and its mtime (commit times —
    * the TIMESTAMP AS OF axis), plus each committed marker's body on
    * demand. A body is read on its first `infoAt` and memoized — from
    * the checkpoint when that holds it (one open serves them all),
    * otherwise its own marker file — so a log never opens a body nobody
    * asked for; marker bodies are immutable, so a memoized one never
    * goes stale. Uncommitted versions read the legacy record. */
  final class MarkerLog private[IndexManifest] (val committed: Seq[Long],
      val mtime: Map[Long, Long], checkpointed: () => Map[Long, MarkerInfo],
      read: Long => MarkerInfo) {
    val committedSet: Set[Long] = mtime.keySet
    private lazy val fromCheckpoint = checkpointed()
    private val loaded = scala.collection.mutable.Map.empty[Long, MarkerInfo]
    def infoAt(v: Long): MarkerInfo =
      if (!committedSet(v)) LegacyInfo
      else fromCheckpoint.getOrElse(v,
        loaded.synchronized(loaded.getOrElseUpdate(v, read(v))))
  }

  /** A checkpoint body: the fence generation it recorded, and per
    * version its marker body and mtime. Lines are
    * `<version>:<wm>:<uwm>:<mtime>:<kind>` — kind last (it may be empty
    * on pre-tagging markers). */
  private def parseCheckpoint(
      body: String): (Long, Map[Long, MarkerInfo], Map[Long, Long]) = {
    var fence = 0L
    val infos = scala.collection.mutable.Map.empty[Long, MarkerInfo]
    val mtimes = scala.collection.mutable.Map.empty[Long, Long]
    body.linesIterator.foreach { l =>
      if (l.startsWith("#fence="))
        fence = l.stripPrefix("#fence=").trim.toLongOption.getOrElse(0L)
      else l.split(":", 5) match {
        case Array(v, wm, uwm, mt, kind) =>
          for {
            vv <- v.toLongOption
            w <- wm.toLongOption
            u <- uwm.toLongOption
          } {
            infos(vv) = MarkerInfo(w, u, kind)
            mtimes(vv) = mt.toLongOption.getOrElse(0L)
          }
        case _ =>
      }
    }
    (fence, infos.toMap, mtimes.toMap)
  }

  // ---- fence + pointer: listing-free read planning ------------------------
  //
  // The checkpoint made marker BODIES O(1); the residual read-planning
  // cost was the full manifest LISTING itself — 50k FileStatus entries
  // per read on a long-lived table (`Stress manifestscale` round 14:
  // 1.68 s at 50k versions, attributed to exactly this). The listing
  // existed to answer ONE question: which versions still exist (the
  // head, and vacuum reclaims). Two tiny fixed-name files answer it
  // without enumerating:
  //
  //   manifest/_last_ckpt   the newest checkpoint's head version — one
  //                         open finds the checkpoint without listing
  //   manifest/_fence       a RECLAIM GENERATION, bumped BEFORE any
  //                         marker/versioned-dir deletion (vacuum,
  //                         cleanOrphans). The checkpoint records the
  //                         generation it observed; a reader whose
  //                         post-read fence matches knows NO deletion
  //                         started since the checkpoint — every
  //                         version in it still exists.
  //
  // The TAIL (> checkpoint head) is discovered by per-version existence
  // PROBES — each version's marker file is getFileStatus'd directly
  // (stronger than a listing: existence is verified per version), and
  // number gaps from crashed-mutation orphan dirs are skipped via the
  // root-family listing the View already pays (orphan-consumed numbers
  // always have their dir on disk — cleanOrphans removing one bumps
  // the fence). Commits are tail-only (tryCommitTagged), so probing
  // forward from the checkpoint head is complete. Any miss — absent
  // pointer, pruned checkpoint, torn fence, generation mismatch —
  // falls back to the full listing: the fast path can be WRONG only
  // by refusing itself, never by serving a stale head or a vacuumed
  // version. On object stores this turns read planning from a paged
  // 50k-key LIST into ~a dozen point GETs — the startAfter shape
  // without needing a listing API extension.

  private def readSmall(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[String] =
    scala.util.Try {
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = f.open(p)
      try in.readFully(buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }.toOption

  /** Current reclaim generation: 0 = never reclaimed (or no fence
    * file); None = fence present but unreadable (torn concurrent
    * bump) — callers treat None as "assume a reclaim is in flight". */
  private def fenceGen(f: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Long] = {
    val p = new Path(s"$path/manifest/_fence")
    if (!f.exists(p)) Some(0L)
    else readSmall(f, p).flatMap(_.trim.toLongOption)
  }

  /** Advance the reclaim generation — MUST be called before deleting
    * any marker or versioned dir (vacuum, cleanOrphans), so a
    * checkpoint-trusting reader can detect that its existence cache
    * went stale. Crash AFTER the bump and before the deletion merely
    * costs readers the listing fallback until the next checkpoint. */
  private[operators] def bumpFence(spark: SparkSession,
      path: String): Unit = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/manifest")
    if (!f.exists(dir)) return
    val next = fenceGen(f, path).getOrElse(0L) + 1L
    scala.util.Try {
      val out = f.create(new Path(s"$path/manifest/_fence"), true)
      try out.writeBytes(next.toString) finally out.close()
    }
    ()
  }

  /** The `_last_ckpt` pointer: (checkpoint head, fence generation it
    * recorded). Legacy single-line pointers read generation 0. */
  private def readPointer(f: org.apache.hadoop.fs.FileSystem,
      path: String): Option[(Long, Long)] =
    readSmall(f, new Path(s"$path/manifest/_last_ckpt")).flatMap { b =>
      val lines = b.linesIterator.toSeq
      lines.headOption.flatMap(_.trim.toLongOption).map { head =>
        val gen = lines.collectFirst {
          case l if l.startsWith("#fence=") =>
            l.stripPrefix("#fence=").trim.toLongOption.getOrElse(0L)
        }.getOrElse(0L)
        (head, gen)
      }
    }

  /** Orphan-consumed version numbers always leave their family dir on
    * the table/index ROOT (one SMALL listing — families, never
    * one-entry-per-commit), which is how tail probes skip number gaps
    * without a manifest listing. */
  private def rootFamilyVersions(f: org.apache.hadoop.fs.FileSystem,
      path: String): Set[Long] =
    rootFamilies(f, path).values.flatten.toSet

  /** Probe committed markers forward from `from` (exclusive): each
    * version's marker is getFileStatus'd directly; gaps with a root
    * family dir (orphans) are skipped. Returns (found versions with
    * mtimes, ascending). Capped — a pathologically stale pointer falls
    * back to the listing instead of probing forever. */
  private def probeTail(f: org.apache.hadoop.fs.FileSystem, path: String,
      from: Long, rootVers: Set[Long]): Option[Seq[(Long, Long)]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var v = from + 1
    var probes = 0
    var scanning = true
    while (scanning) {
      probes += 1
      if (probes > 4096) return None
      scala.util.Try(
        f.getFileStatus(new Path(s"$path/manifest/v$v"))).toOption match {
        case Some(st) => out += (v -> st.getModificationTime); v += 1
        case None =>
          // keep probing through number gaps: an in-flight/crashed
          // claim leaves its root family dir; a lost-race backout
          // leaves the committer-written `g<N>` advisory
          if (rootVers.contains(v) ||
              f.exists(new Path(s"$path/manifest/g$v"))) v += 1
          else scanning = false
      }
    }
    Some(out.toSeq)
  }

  /** The current head via pointer + tail probes — no manifest listing.
    * None = no pointer, torn fence, moved fence (a reclaim since the
    * pointer), or a pathological tail: fall back to the listing. */
  private def fastHead(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    readPointer(f, path).flatMap { case (c, gen) =>
      probeTail(f, path, c, rootFamilyVersions(f, path)).flatMap { tail =>
        // fence LAST: any reclaim that started before this read shows
        // a moved (or torn) generation and refuses the fast path
        if (fenceGen(f, path).contains(gen))
          Some(tail.lastOption.map(_._1).getOrElse(c))
        else None
      }
    }
  }

  /** Checkpoint-plus-probes marker log; None = any ingredient missing
    * or stale (the caller falls back to the full listing). Tail bodies
    * are read on demand, like every body of a [[MarkerLog]]. */
  private def fastMarkerLog(spark: SparkSession,
      path: String): Option[MarkerLog] = {
    val f = fs(spark, path)
    val c = readPointer(f, path).map(_._1).getOrElse(return None)
    val body = readSmall(f, new Path(s"$path/manifest/ckpt_v$c"))
      .getOrElse(return None)
    val (ckptFence, infos, mtimes) = parseCheckpoint(body)
    if (!infos.contains(c)) return None // pointer past the ckpt body
    val tail = probeTail(f, path, c, rootFamilyVersions(f, path))
      .getOrElse(return None)
    // fence LAST: a reclaim that started anywhere before this read
    // shows a moved (or torn) generation and refuses the fast path
    if (!fenceGen(f, path).contains(ckptFence)) return None
    val mtime = mtimes ++ tail
    Some(new MarkerLog(mtime.keys.toSeq.sorted, mtime, () => infos,
      markerInfoAt(spark, path, _)))
  }

  def markerLog(spark: SparkSession, path: String): MarkerLog =
    fastMarkerLog(spark, path)
      .getOrElse(listedMarkerLog(spark, path))

  /** The marker log from one manifest listing: existence and mtimes from
    * the listing; bodies from the newest checkpoint at-or-below the head
    * (read once, on the first body asked for) or, for versions it does
    * not hold, their own marker files. */
  private def listedMarkerLog(spark: SparkSession,
      path: String): MarkerLog = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/manifest")
    val sts = if (f.exists(dir)) f.listStatus(dir).toSeq else Nil
    val markers: Map[Long, Long] = sts.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && !n.contains("_"))
        n.drop(1).toLongOption.map(_ -> st.getModificationTime)
      else None
    }.toMap
    val committed = markers.keys.toSeq.sorted
    val head = committed.lastOption.getOrElse(-1L)
    val ckpt = sts.flatMap(st => familyVersion(st.getPath.getName))
      .collect { case ("ckpt", c) if c <= head => c }.maxOption
    // one buffered read of the whole file (a 50k-version checkpoint is
    // ~2 MB); an unreadable checkpoint is no cache. The live listing's
    // mtimes are served, not the ones the checkpoint carries.
    def fromCheckpoint(): Map[Long, MarkerInfo] = ckpt
      .flatMap(c => readSmall(f, new Path(s"$path/manifest/ckpt_v$c")))
      .map(b => parseCheckpoint(b)._2)
      .getOrElse(Map.empty)
    new MarkerLog(committed, markers, () => fromCheckpoint(),
      markerInfoAt(spark, path, _))
  }

  /** Write `manifest/ckpt_v<head>` (best-effort: a loss is a cache
    * miss, never an error) and prune superseded checkpoints, keeping
    * the newest two so a reader mid-open never loses its file. Returns
    * the checkpointed head. */
  def writeCheckpoint(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    // sweep DEAD gap advisories first — g-files at-or-below the
    // current head (probing starts above the new checkpoint's head, so
    // nobody needs them once this write lands). The sweep BUMPS THE
    // FENCE before deleting: a prober mid-walk on the OLD pointer
    // relies on exactly these advisories to cross its gaps, and
    // without the bump it would stop at a swept gap and serve a stale
    // head with a matching fence. Advisories above the head belong to
    // in-flight commits and survive. Sweep before capturing `gen`, so
    // the checkpoint body records the post-sweep generation and the
    // fast path re-engages immediately.
    val dirP = new Path(s"$path/manifest")
    if (f.exists(dirP)) {
      val names = f.listStatus(dirP).map(_.getPath.getName)
      val head0 = names.collect {
        case n if n.startsWith("v") && !n.contains("_") =>
          n.stripPrefix("v").toLong
      }.sorted.lastOption.getOrElse(-1L)
      val deadGaps = names.collect {
        case n if n.startsWith("g") && n.drop(1).nonEmpty &&
            n.drop(1).forall(_.isDigit) => n.drop(1).toLong
      }.filter(_ <= head0)
      if (deadGaps.nonEmpty) {
        bumpFence(spark, path)
        deadGaps.foreach(n =>
          f.delete(new Path(s"$path/manifest/g$n"), false))
      }
    }
    // the checkpoint must observe the fence BEFORE capturing the log:
    // a reclaim racing this write moves the fence past the recorded
    // generation, so readers refuse the (possibly stale) result
    val gen = fenceGen(f, path).getOrElse(0L)
    val log = listedMarkerLog(spark, path)
    log.committed.lastOption.map { head =>
      val body = (s"#fence=$gen" +: log.committed.map { v =>
        val i = log.infoAt(v)
        s"$v:${i.wm}:${i.uwm}:${log.mtime.getOrElse(v, 0L)}:${i.kind}"
      }).mkString("\n")
      val tmp = new Path(
        s"$path/manifest/.ckpt_pending_${java.util.UUID.randomUUID}")
      val out = f.create(tmp, true)
      try out.writeBytes(body) finally out.close()
      val dst = new Path(s"$path/manifest/ckpt_v$head")
      if (!renameExclusive(f, tmp, dst)) f.delete(tmp, false)
      // pointer to the newest checkpoint: one open instead of a
      // listing. Best-effort overwrite — a torn/stale pointer only
      // costs the listing fallback, never a wrong answer.
      scala.util.Try {
        val po = f.create(new Path(s"$path/manifest/_last_ckpt"), true)
        try po.writeBytes(s"$head\n#fence=$gen") finally po.close()
      }
      val all = f.listStatus(new Path(s"$path/manifest")).toSeq
        .flatMap(st => familyVersion(st.getPath.getName))
        .collect { case ("ckpt", c) => c }.sorted
      val pruned = all.dropRight(2).map { c =>
        val p = new Path(s"$path/manifest/ckpt_v$c")
        f.delete(p, false); p
      }
      if (pruned.nonEmpty)
        CommitStore.of(f, new Path(s"$path/manifest"))
          .forgetAll(f, pruned)
      head
    }
  }

  private def maybeCheckpoint(spark: SparkSession, path: String,
      version: Long): Unit = {
    val interval = spark.conf
      .getOption("spark.graft.manifest.checkpointInterval")
      .flatMap(_.toIntOption).getOrElse(32)
    if (interval > 0 && version > 0 && version % interval == 0)
      scala.util.Try(writeCheckpoint(spark, path))
    ()
  }

  /** Attempt to commit `version` (marker body = `watermark`). False when
    * the version number was already taken — the caller re-resolves the
    * current version and retries at the new next number. */
  def tryCommit(spark: SparkSession, path: String, version: Long,
      watermark: Long): Boolean =
    tryCommitTagged(spark, path, version, watermark, -1L, "")

  /** [[tryCommit]] with the full tagged body (both watermarks + the
    * mutation kind). A plain single-long body is written when there is
    * nothing beyond the keyed watermark to record — byte-identical to
    * the legacy format, so index markers and old specs are unchanged.
    *
    * Commits are TAIL-ONLY: a marker lands only when no marker ABOVE its
    * number exists yet. Without this, a delete/update racing an append
    * could commit OUT OF ORDER — the append's [[nextMutationVersion]]
    * skips the mutation's parked segment/batch dirs and commits d+1
    * first, and the mutation's marker d then lands UNDER it, so an
    * already-committed version d+1 retroactively gains the mutation's
    * tombstone/batch (pinned readAt(d+1)/CDF windows would not be
    * repeatable across that instant). Refusing makes the loser re-derive
    * at the new head; the check brackets the marker rename (once at
    * entry, once after staging) to keep the race window at the width of
    * one rename. */
  def tryCommitTagged(spark: SparkSession, path: String, version: Long,
      watermark: Long, unkeyedWatermark: Long, kind: String): Boolean = {
    val f = fs(spark, path)
    f.mkdirs(new Path(s"$path/manifest"))
    val dst = new Path(s"$path/manifest/v$version")
    if (f.exists(dst)) return false
    if (currentVersion(spark, path).exists(_ > version)) return false
    val body =
      if (unkeyedWatermark < 0L && kind.isEmpty) watermark.toString
      else s"wm=$watermark\nuwm=$unkeyedWatermark\nkind=$kind"
    // re-check the tail-only rule immediately before the placement,
    // keeping the race window at the width of the store's one claim;
    // the placement itself (unique-tmp staging + exclusive publish)
    // is the CommitStore's contract — pluggable for object stores
    val head = currentVersion(spark, path).getOrElse(-1L)
    if (head > version) return false
    // SKIPPED numbers get advisory `g<N>` gap markers BEFORE this
    // marker lands: a mutator that claimed a number via a root dir and
    // then backed out (lost race) leaves a number with neither marker
    // nor dir, and the pointer+probe fast head would stop there and
    // serve a stale head. Written first, so a prober can never see
    // marker v$version without the gap trail below it; best-effort
    // (a crash leaves stale advisories — probers just keep walking,
    // and the next checkpoint write sweeps every g-file at-or-below
    // its head). Tail-only commits make a skipped number permanently
    // dead once this marker lands, so the advisory is truthful.
    if (version > head + 1)
      ((head + 1) until version).foreach { n =>
        scala.util.Try {
          val out = f.create(new Path(s"$path/manifest/g$n"), true)
          out.close()
        }
      }
    val won = CommitStore.of(f, dst).putIfAbsent(f, dst,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (won) maybeCheckpoint(spark, path, version)
    won
  }

  /** Commit `version`, asserting the number was free — build-path use
    * where the caller already holds [[nextBuildVersion]]'s number under
    * the single-writer contract. */
  def commit(spark: SparkSession, path: String, version: Long,
      watermark: Long = Long.MaxValue): Unit =
    require(tryCommit(spark, path, version, watermark),
      s"version $version already committed at $path")

  /** Reclaim versions no longer reachable from the `keep` most recent
    * committed versions. A retained composite version needs its payload,
    * its masking segments, and its geometry — so the reclaim CUTOFF is
    * the payload version the OLDEST kept version resolves to (payload
    * base `codes` for indexes, `data` for [[TableManifest]] tables), and
    * per geometry artifact the newest below-cutoff version survives when
    * no at-or-above-cutoff artifact supersedes it. A RETAINED dir's
    * marker is retained WITH it: resolution requires committed markers
    * (the orphan guard), so deleting a marker whose geometry still
    * serves retained versions would strand that geometry — live probes
    * would fall back to a legacy path that never existed. Never touches
    * the current version; no-op on legacy layouts. */
  /** The versions a [[vacuum]] with these arguments WOULD reclaim —
    * the dry-run surface (`CALL graft.vacuum(dry_run => true)`): same
    * cutoff/pin arithmetic, no deletion. */
  def reclaimable(spark: SparkSession, path: String, keep: Int,
      payloadBase: String = "codes", retainMs: Long = 0L,
      pinned: Set[Long] = Set.empty): Seq[Long] = {
    require(keep >= 1)
    val r = resolve(spark, path)
    val vs = r.committed
    if (vs.isEmpty) return Nil
    val keepSet = keepTail(spark, path, vs, keep, retainMs)
    val cutoff = r.payloadAt(keepSet.min, payloadBase).getOrElse(keepSet.min)
    val protectedVers = protectedBy(spark, path, r, pinned, payloadBase)
    vs.filter(v => v < cutoff && !protectedVers(v))
  }

  /** The keep/retention tail — ONE implementation shared by [[vacuum]]
    * and [[reclaimable]], so the dry run can never predict a different
    * set than the deletion computes. */
  private def keepTail(spark: SparkSession, path: String, vs: Seq[Long],
      keep: Int, retainMs: Long): Seq[Long] =
    if (retainMs <= 0L) vs.takeRight(keep)
    else {
      val f = fs(spark, path)
      val floor = System.currentTimeMillis() - retainMs
      val recent = vs.filter { v =>
        scala.util.Try(
          f.getFileStatus(new Path(s"$path/manifest/v$v"))
            .getModificationTime >= floor).getOrElse(true)
      }
      (vs.takeRight(keep) ++ recent).distinct.sorted
    }

  /** The version numbers `pinned` versions resolve THROUGH (payload,
    * masking segments, newest geometry per family, own markers) — what
    * vacuum must keep per pin. */
  private def protectedBy(spark: SparkSession, path: String, r: Resolved,
      pinned: Set[Long], payloadBase: String): Set[Long] =
    pinned.filter(r.log.committedSet).flatMap { p =>
      val pay = r.payloadAt(p, payloadBase)
      val segs = r.disk.keys.filter(isSegmentBase).flatMap(b =>
        r.honored(b, p, after = pay.getOrElse(-1L)))
      // update-keyspace batches (MoR UPDATE/MERGE replacement rows)
      // are legitimized by THEIR OWN marker's kind — an insert-only
      // merge carries no segment dir, so without this its marker would
      // be reclaimed and the pinned read would silently drop the
      // merge's rows (a table View serves an update batch only when
      // its marker kind is an update or merge)
      val updBatches = pay.toSeq.flatMap { pv =>
        TableManifest.updateVersionsIn(
            TableManifest.batchIds(spark, s"$path/${payloadBase}_v$pv"))
          .filter(d => d > pv && d <= p && r.log.committedSet(d))
      }
      val geom = r.disk.keys
        .filterNot(b => isSegmentBase(b) || b == payloadBase)
        .flatMap(b => r.honored(b, p).nextOption())
      Set(p) ++ pay ++ segs ++ updBatches ++ geom
    }

  /** Segment families mask a RANGE (payload(p), p]; every other family
    * resolves to the newest committed version at-or-below p. */
  private def isSegmentBase(b: String) =
    b == "tombstones" || b == "deletes" || b == "eqdeletes"

  /** Returns the versions whose payload/segments were reclaimed (no
    * longer readable — their markers may linger as geometry survivors);
    * identical by construction to what [[reclaimable]] predicts. */
  def vacuum(spark: SparkSession, path: String, keep: Int,
      payloadBase: String = "codes", retainMs: Long = 0L,
      pinned: Set[Long] = Set.empty): Seq[Long] = {
    require(keep >= 1)
    val f = fs(spark, path)
    val r = resolve(spark, path)
    val vs = r.committed
    if (vs.isEmpty) return Nil
    // retention horizon (the Delta RETAIN rule): a version COMMITTED
    // inside the last `retainMs` is never reclaimed regardless of `keep`,
    // so a long-running reader pinned to a recent version cannot have its
    // files deleted mid-query — commit time is the marker's mtime, the
    // one clock the filesystem already keeps
    val keepSet = keepTail(spark, path, vs, keep, retainMs)
    // the reclaim cutoff derives from the keep/retention TAIL ONLY —
    // `pinned` versions (named tags at the table layer) are exempted
    // INDIVIDUALLY below instead of lowering the global cutoff: one
    // long-lived tag must pin ITS OWN resolution set (payload, masking
    // segments, geometry, markers), not turn vacuum into a permanent
    // no-op for every version above it (unbounded storage growth)
    val cutoff = r.payloadAt(keepSet.min, payloadBase).getOrElse(keepSet.min)
    // the per-pin resolution sets come from [[protectedBy]]
    val protectedVers = protectedBy(spark, path, r, pinned, payloadBase)
    // geometry survivors: per family, the newest at-or-below-cutoff
    // version keeps serving retained versions — keep dir AND marker —
    // plus any version a pin resolves through
    val geomPlan = r.disk.filter { case (b, _) =>
      b != payloadBase && !isSegmentBase(b) }.map { case (base, vers) =>
      val below = vers.filter(_ <= cutoff)
      val survivors =
        (below.lastOption.toSeq ++ below.filter(protectedVers)).toSet
      (base, below.filterNot(survivors), survivors)
    }
    val reclaimed = vs.filter(v => v < cutoff && !protectedVers(v))
    // the fence moves BEFORE the first deletion: checkpoint-trusting
    // readers see the moved generation and fall back to the listing,
    // so a stale checkpoint can never resurrect what this reclaim
    // removes; a crash right after the bump costs only that fallback
    if (reclaimed.nonEmpty || geomPlan.exists(_._2.nonEmpty))
      bumpFence(spark, path)
    // reclaim hygiene for coordinator-backed tables: collect every
    // deleted claim destination (dirs' immediate children too — batch
    // partitions / index segments were claimed individually) and drop
    // their coordination rows in ONE bulk call after the deletes, so
    // the register tracks the LIVE history. Children are listed BEFORE
    // the recursive delete; exact keys only — primary-key deletes,
    // never pattern scans.
    val forgotten = scala.collection.mutable.ArrayBuffer.empty[Path]
    def deleteTracked(p: Path, recursive: Boolean): Unit = {
      if (recursive)
        scala.util.Try(f.listStatus(p)).toOption
          .foreach(_.foreach(st => forgotten += st.getPath))
      if (f.delete(p, recursive)) forgotten += p
    }
    geomPlan.foreach { case (base, doomed, _) =>
      doomed.foreach(w =>
        deleteTracked(new Path(s"$path/${base}_v$w"), true))
    }
    val keptGeometry = geomPlan.flatMap(_._3).toSet
    reclaimed.foreach { v =>
      deleteTracked(new Path(s"$path/${payloadBase}_v$v"), true)
      // segments at-or-below the cutoff are folded into every retained
      // version's payload (a retained version's masking segments are all
      // strictly above its payload, hence above the cutoff) — reclaim
      // every segment family
      deleteTracked(new Path(s"$path/tombstones_v$v"), true)
      deleteTracked(new Path(s"$path/deletes_v$v"), true)
      deleteTracked(new Path(s"$path/eqdeletes_v$v"), true)
      if (!keptGeometry.contains(v))
        deleteTracked(new Path(s"$path/manifest/v$v"), false)
    }
    if (forgotten.nonEmpty)
      CommitStore.of(f, new Path(s"$path/manifest"))
        .forgetAll(f, forgotten.toSeq)
    // re-sync the checkpoint after the history rewrite (only where one
    // already exists — fresh index paths keep their exact layout): the
    // next read's fast path answers from the new checkpoint instead of
    // paying the fence-mismatch listing fallback until the next
    // interval-triggered rewrite
    if (reclaimed.nonEmpty &&
        f.exists(new Path(s"$path/manifest/_last_ckpt")))
      scala.util.Try(writeCheckpoint(spark, path))
    reclaimed
  }
}
