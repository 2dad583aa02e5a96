package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** OPTIMIZE / VACUUM — table maintenance for the audit format.
  *
  * The format's write side already controls file counts at commit time
  * (`targetFileCount` / `clusterBy` / `sortBy` via
  * RequiresDistributionAndOrdering); what it lacked was POST-HOC
  * maintenance: a long-lived streaming table accretes one small file per
  * epoch per task forever, and superseded history is never reclaimed. The
  * two procedures here close that gap, following the shape every lakehouse
  * format converged on (Iceberg's rewrite_data_files/expire_snapshots,
  * Delta's OPTIMIZE/VACUUM):
  *
  * '''OPTIMIZE''' compacts the table into a BASE CHECKPOINT: a distributed
  * Spark job reads the table's full row history (current rows AND
  * vector-deleted ones — `includeDeleted`), repartitions to
  * `target_file_count`, optionally sorts within files, and commits
  * `base-*.jsonl` files where every row carries its ORIGIN
  * (`_oepoch`/`_ofile`/`_opos` — the epoch and (file, pos) row id it was
  * first committed under). Origins are what keep every contract intact
  * after the rewrite:
  *  - current reads plan base + post-base files and apply delete vectors
  *    by origin (vectors are ALWAYS keyed by origin coordinates, which
  *    never change across any number of re-compactions);
  *  - `VERSION AS OF v` reconstructs pure epoch history from base rows
  *    with `_oepoch <= v` — time travel survives compaction;
  *  - the change feed and the epoch tail resolve epochs whose original
  *    files are gone from the base by origin, so the offset axes (the
  *    `_EPOCHS` log, the manifest line order, the vector log) stay stable.
  * Batch-manifest entries folded into the base are kept in `_MANIFEST` as
  * `{"folded":...}` tombstone lines: the line ORDER is the change feed's
  * batch offset axis, so entries are marked, never removed.
  *
  * '''VACUUM''' reclaims the superseded original epoch files (their rows
  * live in the base) and EXPIRES epoch time travel older than
  * `retain_last` versions: expired `VERSION AS OF` reads fail with a clear
  * error instead of answering. Retained versions keep answering — from the
  * base. The expiry is a POLICY bound, not a physical one (base rows could
  * still serve older versions): like Delta's log retention, the format
  * only GUARANTEES reconstruction inside the declared window, which is
  * what licenses future maintenance to purge history beyond it.
  *
  * Both are exposed as SQL stored procedures through [[GraftCatalog]]
  * (Spark 4's ProcedureCatalog):
  * {{{
  *   CALL graft.system.optimize(table => 'db.t', target_file_count => 4,
  *                              sort_by => 'id')
  *   CALL graft.system.vacuum(table => 'db.t', retain_last => 2)
  * }}}
  *
  * Maintenance assumes a single writer (the same assumption as the
  * catalog's rename-based DDL): the manifest fold and the `_BASE` publish
  * are two renames, and a reader racing the window between them can see a
  * partially-switched table. A multi-writer deployment would serialize
  * maintenance through the same lock/pointer indirection it already needs
  * for commits.
  *
  * Reference scope: the reference has no maintenance story at all — its
  * zones are overwritten wholesale each run (spark_jobs/
  * playback_pipeline.py:300-320). This is the piece a persistent 100 TB
  * deployment of the same pipeline would need first.
  */
/** Tiny PUBLIC introspection facade for harness code (Bench/ScaleSmoke)
  * outside this package — commit-time lookups over a table's metadata
  * logs, never a data file. */
object AuditIntrospect {
  /** Max visible commit stamp across the table (partitioned: over all
    * leaf dirs + the root epoch log). */
  def maxVisibleMs(path: String, partCols: Seq[String]): Long = {
    val dirsMax =
      if (partCols.isEmpty) AuditBase.maxVisibleTs(path)
      else AuditPartition.listDirsByCols(path, partCols)
        .map { case (_, d) => AuditBase.maxVisibleTs(d.toString) }
        .foldLeft(-1L)(math.max)
    math.max(dirsMax,
      AuditScan.epochTimestamps(path).values.foldLeft(-1L)(math.max))
  }

  /** Smallest batch-entry commit stamp (partitioned: across dirs) —
    * the instant of the table's first batch append. */
  def minBatchTs(path: String, partCols: Seq[String]): Long = {
    val dirs =
      if (partCols.isEmpty) Seq(java.nio.file.Paths.get(path))
      else AuditPartition.listDirsByCols(path, partCols).map(_._2)
    dirs.flatMap(d => AuditBase.readManifest(d.toString).flatMap(_.ts))
      .foldLeft(Long.MaxValue)(math.min)
  }
}

/** ROOT-LEVEL COMMIT SEQUENCER — the piece that makes commit stamps
  * strictly increasing TABLE-WIDE, not just per directory. Every
  * stamp-issuing commit (OCC txn appends, delta DML statements, streaming
  * epoch publishes) claims its stamp by EXCLUSIVE CREATE of
  * `_SEQ/<value>` at the table root: put-if-absent admits exactly one
  * winner per value, so two commits — same millisecond, different
  * partition directories, different writers — can never share a stamp.
  * This closes the last sub-millisecond tie the per-directory
  * `maxVisibleTs + 1` floor could not see (a commit into a directory the
  * other writer never reads), which is what makes the incremental-CDC
  * `max(_commit_ts) + 1` checkpoint exactly-once across ANY race. The
  * pointer is ONE empty file named by the last issued value; a claim is
  * the atomic RENAME of that file to the new value — only one rename from
  * a given source name can succeed, and values strictly increase, so a
  * once-issued value can never be issued again (an earlier
  * create-then-prune design re-opened pruned values for re-claiming).
  * Every production lakehouse format has this root pointer; ours is one
  * rename per commit — the same cost class as the `_TXN` link. */
private[sources] object AuditSeq {
  private def seqDir(root: String): java.nio.file.Path =
    java.nio.file.Paths.get(root).resolve("_SEQ")
  // INIT marks "a pointer exists": a directory listing racing a rename
  // can transiently miss the pointer file, and creating a fresh pointer
  // then could re-issue an old value — with INIT present, an empty
  // numeric listing means "retry", never "initialize". The birth claimant
  // creates it AFTER the first pointer (a birth crash never strands
  // claimants spinning), and a renamer creates it BEFORE consuming any
  // pointer. A birth claim is won only by creating INIT exclusively: a
  // claimant whose listing predates the first pointer can re-create that
  // pointer after a renamer consumed it, and returning it would hand the
  // value out twice.
  private val InitMarker = "INIT"

  /** Highest stamp ever issued through this sequencer (-1 when none).
    * Birth racers can leave stray smaller numerics; max() ignores them
    * and renames only ever start from the max, so they are inert. */
  def maxIssued(root: String): Long = {
    val d = seqDir(root)
    if (!java.nio.file.Files.isDirectory(d)) return -1L
    val listing = java.nio.file.Files.list(d)
    try listing.iterator().asScala.map(_.getFileName.toString)
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .foldLeft(-1L)(math.max)
    finally listing.close()
  }

  /** Claim the next stamp: at least `floor`, strictly above every stamp
    * ever issued here. */
  def next(root: String, floor: Long): Long = {
    val d = seqDir(root)
    java.nio.file.Files.createDirectories(d)
    var attempts = 0
    while (attempts < 100000) {
      val cur = maxIssued(root)
      if (cur < 0L) {
        if (!java.nio.file.Files.exists(d.resolve(InitMarker))) {
          // genuine birth: exclusive-create the first pointer (= the first
          // stamp) and then INIT; a loser of either create retries
          val target = math.max(floor, 0L)
          try {
            CommitPrimitives.io.createMarker(d.resolve(target.toString))
            CommitPrimitives.io.createMarker(d.resolve(InitMarker))
            return target
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        } // else: transient empty listing during a rename — retry
      } else {
        if (!java.nio.file.Files.exists(d.resolve(InitMarker)))
          try CommitPrimitives.io.createMarker(d.resolve(InitMarker))
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        val target = math.max(floor, cur + 1L)
        try {
          CommitPrimitives.io.renameClaim(d.resolve(cur.toString),
            d.resolve(target.toString))
          return target
        } catch {
          case _: java.nio.file.NoSuchFileException => () // lost the race
          case _: java.nio.file.FileAlreadyExistsException => ()
        }
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"audit sequencer: $attempts failed stamp claims at $root")
  }
}

private[sources] object AuditBase {
  /** One `_MANIFEST` body line: a live batch file or a folded tombstone.
    * `ts` is the commit wall-clock millis — the batch half of the
    * TIMESTAMP AS OF axis (None on pre-commit-time history, which a
    * mixed-table time travel must refuse loudly rather than silently
    * exclude). `bytes` is the data file's on-disk size (round 20, for
    * byte-aware maintenance planning — 10×1 KB fragments and 10×1 GB
    * files are different problems); None on legacy lines, and the
    * commit layer fills it by statting the file, so older tables heal
    * on their next manifest rewrite. */
  final case class ManifestEntry(file: String, rows: Long, folded: Boolean,
      ts: Option[Long] = None, bytes: Option[Long] = None)

  final case class Info(throughEpoch: Long, expiredThrough: Long,
      files: Seq[(String, Long)], sortBy: Option[String] = None,
      // snapshot wall-clock millis of the checkpoint (None on pre-
      // round-15 bases) — the commit-time boundary RESTORE-to-checkpoint
      // uses to split pre- from post-checkpoint delete vectors
      ts: Option[Long] = None)

  /** Origin columns appended to every base row. `_oepoch` is null for rows
    * first committed by a batch write. */
  val OriginFields: Array[StructField] = Array(
    StructField("_oepoch", LongType, nullable = true),
    StructField("_ofile", StringType, nullable = false),
    StructField("_opos", LongType, nullable = false))

  def baseSchema(write: StructType): StructType =
    StructType(write.fields ++ OriginFields)

  private def baseFile(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path).resolve("_BASE")

  private val HeaderRe =
    ("""\{"throughEpoch":(-?\d+),"expiredThrough":(-?\d+)""" +
      """(?:,"sortBy":"([^"]+)")?(?:,"ts":(\d+))?\}""").r
  private val FileRe = """\{"file":"([^"]+)","rows":(\d+)\}""".r

  def read(path: String): Option[Info] = {
    val f = baseFile(path)
    if (!java.nio.file.Files.exists(f)) return None
    val lines = java.nio.file.Files.readAllLines(f).asScala
    val (through, expired, sortBy, ts) = lines.head match {
      case HeaderRe(t, e, s, ts) =>
        (t.toLong, e.toLong, Option(s), Option(ts).map(_.toLong))
      case other => throw new IllegalStateException(s"audit _BASE header: $other")
    }
    Some(Info(through, expired, lines.tail.collect {
      case FileRe(n, r) => (n, r.toLong)
    }.toSeq, sortBy, ts))
  }

  def write(path: String, throughEpoch: Long, expiredThrough: Long,
      files: Seq[(String, Long)], sortBy: Option[String] = None,
      ts: Option[Long] = None): Unit = {
    val header = s"""{"throughEpoch":$throughEpoch,""" +
      s""""expiredThrough":$expiredThrough""" +
      sortBy.map(s => s""","sortBy":"$s"""").getOrElse("") +
      ts.map(t => s""","ts":$t""").getOrElse("") + "}"
    CommitPrimitives.io.replace(baseFile(path),
      (Seq(header) ++
        files.map { case (n, r) => s"""{"file":"$n","rows":$r}""" })
        .mkString("\n").getBytes("UTF-8"))
  }

  /** Expiry gate for pinned reads — VACUUM's retention bound. */
  def checkNotExpired(path: String, versionAsOf: Option[Long]): Unit =
    for (v <- versionAsOf; b <- read(path); if v <= b.expiredThrough)
      throw new IllegalArgumentException(
        s"audit: VERSION AS OF $v at $path is expired — VACUUM retained " +
          s"only epochs > ${b.expiredThrough} (earliest available version " +
          s"is ${b.expiredThrough + 1})")

  // --- _MANIFEST with folded tombstones ----------------------------------
  // Live lines stay byte-identical to the pre-maintenance format
  // ({"file":...,"rows":...}) so every existing regex consumer keeps
  // working; folded lines use DIFFERENT keys ({"folded":...,"origrows":...})
  // so those same consumers skip them without knowing why.

  // `,"ts":millis` is optional: pre-round-15 lines carry no commit time.
  // `,"bytes":n` is optional: pre-round-20 lines carry no file size.
  private val LiveRe =
    """\{"file":"([^"]+)","rows":(\d+)(?:,"ts":(\d+))?(?:,"bytes":(\d+))?\}""".r
  private val FoldedRe =
    """\{"folded":"([^"]+)","origrows":(\d+)(?:,"ts":(\d+))?\}""".r

  // --- OCC append commit log (_TXN) ---------------------------------------
  // Concurrent batch appends commit OPTIMISTICALLY: each commit's entries
  // (and their zone-map stats lines) live in an immutable
  // `_TXN/<v>.json`, published by hard-link put-if-absent
  // (Files.createLink fails atomically if <v> exists — the loser re-reads
  // and retries with the next v). `_MANIFEST` is never read-modify-
  // written by appends, so no append can clobber another. The logical
  // manifest = `_MANIFEST` body ++ live txn entries in v order; the
  // manifest header's `txnfloor` marks the highest txn already folded in
  // (maintenance CONSOLIDATES txns before any manifest rewrite), so the
  // CDF batch-offset axis — the global line order — is STABLE across
  // consolidation: folding appends exactly the txn entries, in txn
  // order, at the end of `_MANIFEST`.
  //
  // Read ordering discipline (linearizable vs a racing consolidation):
  // read the txn files FIRST, then `_MANIFEST`, and drop txns ≤ the
  // floor of the manifest just read. Consolidation writes the manifest
  // BEFORE deleting the txn files it folded, so this order can only
  // observe an entry twice (deduped by the floor), never zero times.

  private def txnDir(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path).resolve("_TXN")
  private val TxnNameRe = """(\d+)\.json""".r
  private val FloorRe = """"txnfloor":(\d+)""".r
  // a stats line is distinguished from an entry line by its "v" field
  private def isStatsLine(l: String): Boolean = l.startsWith("{\"file\":") &&
    !LiveRe.pattern.matcher(l).matches()

  private final case class Txn(v: Long, entries: Seq[ManifestEntry],
      statsLines: Seq[String])

  /** All committed txn files, ascending v. A file deleted mid-listing by
    * a racing consolidation is skipped — its entries are already in the
    * manifest (deletion happens strictly after the manifest write). */
  private def rawTxns(path: String): Seq[Txn] = {
    val d = txnDir(path)
    if (!java.nio.file.Files.isDirectory(d)) return Seq.empty
    val names = {
      val listing = java.nio.file.Files.list(d)
      try listing.iterator().asScala.map(_.getFileName.toString).collect {
        case n @ TxnNameRe(v) => (v.toLong, n)
      }.toSeq.sortBy(_._1)
      finally listing.close()
    }
    names.flatMap { case (v, n) =>
      try {
        val lines = java.nio.file.Files.readAllLines(d.resolve(n)).asScala
        Some(Txn(v,
          lines.drop(1).collect { case LiveRe(f, r, ts, by) =>
            ManifestEntry(f, r.toLong, folded = false,
              ts = Option(ts).map(_.toLong),
              bytes = Option(by).map(_.toLong)) }.toSeq,
          lines.drop(1).filter(isStatsLine).toSeq))
      } catch { case _: java.nio.file.NoSuchFileException => None }
    }
  }

  private def manifestLines(path: String): Option[Seq[String]] = {
    val f = java.nio.file.Paths.get(path).resolve("_MANIFEST")
    if (!java.nio.file.Files.exists(f))
      None
    else Some(java.nio.file.Files.readAllLines(f).asScala.toSeq)
  }

  private def floorOf(header: String): Long =
    FloorRe.findFirstMatchIn(header).map(_.group(1).toLong).getOrElse(0L)

  /** Versions of live (unconsolidated) txn commits, ascending. */
  def liveTxnVersions(path: String): Seq[Long] = {
    val txns = rawTxns(path)
    val floor = readTxnFloor(path)
    txns.collect { case t if t.v > floor => t.v }
  }

  def readTxnFloor(path: String): Long =
    manifestLines(path).map(ls => floorOf(ls.head)).getOrElse(0L)

  /** All body lines of `_MANIFEST` ++ live txn entries, in the global
    * file order (the CDF batch axis). */
  def readManifest(path: String): Seq[ManifestEntry] = {
    val txns = rawTxns(path) // BEFORE the manifest — see ordering note
    manifestLines(path) match {
      case None => txns.flatMap(_.entries)
      case Some(lines) =>
        val floor = floorOf(lines.head)
        lines.drop(1).collect {
          case LiveRe(n, r, ts, by) => ManifestEntry(n, r.toLong,
            folded = false, ts = Option(ts).map(_.toLong),
            bytes = Option(by).map(_.toLong))
          case FoldedRe(n, r, ts) => ManifestEntry(n, r.toLong,
            folded = true, ts = Option(ts).map(_.toLong))
        } ++ txns.filter(_.v > floor).flatMap(_.entries)
    }
  }

  /** Live (unconsolidated) txn stats lines in v order, for the zone-map
    * overlay. Same txns-first discipline; duplicates vs `_STATS` are
    * harmless (identical content, last-wins). */
  def liveTxnStatsLines(path: String): Seq[String] = {
    val txns = rawTxns(path)
    val floor = readTxnFloor(path)
    txns.filter(_.v > floor).flatMap(_.statsLines)
  }

  /** Greatest commit timestamp visible in this directory's metadata —
    * txn entries, manifest lines (live AND folded), the epoch log, the
    * delete-vector log and the base header. The floor every new stamp
    * must EXCEED: strictly monotonic per-directory commit times are
    * what make the incremental-CDC `max(_commit_ts) + 1` checkpoint
    * exactly-once even when two commits land in the same millisecond
    * (a pull between them would otherwise skip the second forever). */
  def maxVisibleTs(path: String): Long = {
    val manifestMax = readManifest(path).flatMap(_.ts)
      .foldLeft(-1L)(math.max)
    val epochMax = graft.sources.AuditScan.epochTimestamps(path).values
      .foldLeft(-1L)(math.max)
    // bounded tail read — the vector log is row-count-sized and its
    // stamps are append-monotonic, so the last stamped line IS the max;
    // plus the bounded HEAD read for fold watermarks (a fold that blanked
    // the newest deletes leaves its watermark as the only trace of their
    // stamps — without it the floor could re-issue a stamp at/below a
    // folded delete's, breaking strict monotonicity)
    val vecMax = math.max(AuditDeletes.lastTs(path),
      AuditDeletes.headFoldWatermark(path))
    val baseMax = read(path).flatMap(_.ts).getOrElse(-1L)
    math.max(math.max(manifestMax, epochMax), math.max(vecMax, baseMax))
  }

  /** OCC commit: publish `entries` (+ their stats lines) as the next txn.
    * Returns (committed version, effective commit ts). The loop is
    * wait-free vs other appenders — only the createLink is contended,
    * and the loser's retry re-reads nothing heavier than a directory
    * listing. STAMPS come from the table-root [[AuditSeq]] sequencer —
    * unique table-wide by construction, so a commit here can never tie a
    * same-millisecond commit in another directory. A caller that already
    * claimed a statement stamp passes it as `ts` (>= 0): it is REUSED as
    * long as it still dominates this directory (one stamp per DML
    * statement across all its directories); a racing append that bumped
    * the directory past it forces a fresh claim, keeping the directory
    * internally monotonic. `seqRoot` is the TABLE root for partition-leaf
    * commits (default: the directory itself). */
  def commitTxn(path: String, entries: Seq[ManifestEntry],
      statsLines: Seq[String],
      ts: Long = -1L, seqRoot: String = null): (Long, Long) = {
    val d = txnDir(path)
    val root = Option(seqRoot).getOrElse(path)
    java.nio.file.Files.createDirectories(d)
    var attempt = 0
    while (true) {
      // every entry line carries the commit wall-clock millis — the
      // batch half of the TIMESTAMP AS OF axis (consolidation copies it
      // into `_MANIFEST` verbatim, so the vintage survives folding)
      val floor = maxVisibleTs(path) + 1L
      val tsEff =
        if (ts >= floor) ts // caller-claimed statement stamp, still valid
        else AuditSeq.next(root,
          math.max(System.currentTimeMillis(), floor))
      // byte sizes ride every commit (data files are durable in the dir
      // before their metadata publishes, so the stat is always of the
      // final file) — one stat per committed file, metadata-scale
      val body = entries.map { e =>
        val by = e.bytes.orElse(statBytes(path, e.file))
        s"""{"file":"${e.file}","rows":${e.rows},"ts":$tsEff""" +
          by.map(b => s""","bytes":$b""").getOrElse("") + "}"
      } ++ statsLines
      // List the txn dir BEFORE reading the floor: a consolidation (run by
      // DML/OPTIMIZE, which may race appends) folds txns and advances the
      // floor — reading the floor first could observe floor=0 plus an
      // already-emptied dir and publish a version at or below the new
      // floor, which readers would silently skip (lost commit).
      val maxTxn = rawTxns(path).lastOption.map(_.v).getOrElse(0L)
      val v = math.max(readTxnFloor(path), maxTxn) + 1
      val header = s"""{"v":$v,"files":${entries.size},""" +
        s""""rows":${entries.map(_.rows).sum}}"""
      val tmp = d.resolve(s"$v.json.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
      java.nio.file.Files.write(tmp,
        (header +: body).mkString("\n").getBytes("UTF-8"))
      try {
        CommitPrimitives.io.linkIfAbsent(d.resolve(s"$v.json"), tmp)
        java.nio.file.Files.delete(tmp)
        // Post-link fence: if a racing consolidation advanced the floor to
        // >= v between our listing and the link, our txn is below the floor.
        // Two sub-cases, distinguished via the manifest (floor and body are
        // one atomic write, so floor>=v implies the fold that set it is
        // fully visible): (a) the consolidation SAW our linked file and
        // folded it — our commit-unique file names are in the manifest body
        // and the commit succeeded; (b) it never saw us (it folded a
        // sibling, deleted its file, freeing the name we then linked) — our
        // entries are nowhere, so unpublish the dead txn and retry above
        // the new floor.
        if (readTxnFloor(path) >= v) {
          val manifested = readManifest(path).map(_.file).toSet
          if (entries.nonEmpty && entries.forall(e => manifested(e.file))) {
            java.nio.file.Files.deleteIfExists(d.resolve(s"$v.json"))
            return (v, tsEff) // folded in — already durable in the manifest
          }
          java.nio.file.Files.deleteIfExists(d.resolve(s"$v.json"))
        } else {
          return (v, tsEff)
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.delete(tmp) // lost the race — retry at v+1
      }
      attempt += 1
      require(attempt < 10000, s"audit OCC: $attempt failed commit attempts")
    }
    (-1L, -1L) // unreachable
  }

  /** Fold every live txn into `_MANIFEST` (+ its stats into `_STATS`) and
    * advance the floor. MUST run at the start of every path that
    * read-modify-writes `_MANIFEST` or rewrites committed files in place
    * (DML rewrites, metadata DELETE, OPTIMIZE fold) — those paths stay
    * single-maintenance-writer; only APPENDS are multi-writer. Crash-safe:
    * stats first (duplicates are last-wins idempotent), manifest second
    * (the floor makes folded txns dead), deletion last (pure GC). */
  def consolidate(path: String): Unit = {
    val txns = rawTxns(path)
    if (txns.isEmpty) return
    val (floor, body) = manifestLines(path) match {
      case None => (0L, Seq.empty[ManifestEntry])
      case Some(lines) => (floorOf(lines.head), lines.drop(1).collect {
        case LiveRe(n, r, ts, by) => ManifestEntry(n, r.toLong,
          folded = false, ts = Option(ts).map(_.toLong),
          bytes = Option(by).map(_.toLong))
        case FoldedRe(n, r, ts) => ManifestEntry(n, r.toLong,
          folded = true, ts = Option(ts).map(_.toLong))
      }.toSeq)
    }
    val live = txns.filter(_.v > floor)
    if (live.nonEmpty) {
      AuditStats.appendRaw(path, live.flatMap(_.statsLines))
      writeManifestWithFloor(path, body ++ live.flatMap(_.entries),
        math.max(floor, txns.map(_.v).max))
    }
    txns.foreach(t => java.nio.file.Files.deleteIfExists(
      txnDir(path).resolve(s"${t.v}.json")))
  }

  /** Clear a leaf directory's table state — TRUNCATE of a compacted
    * table, and INSERT OVERWRITE of a zero-level one: every `.jsonl` data
    * file goes, and with it every log that names those files (the epoch
    * log, the base checkpoint, delete vectors, zone maps and txn commits —
    * a stale one would point readers at deleted files); `_MANIFEST` is
    * left empty, its txn floor kept. `_IDENTITY`, `_COLMAP`, `_SEQ` and
    * the leases stay. */
  def clearLeaf(path: String): Unit = {
    val dir = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(dir)) return
    val listing = java.nio.file.Files.list(dir)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".jsonl"))
      .foreach(java.nio.file.Files.delete)
    finally listing.close()
    java.nio.file.Files.deleteIfExists(dir.resolve("_EPOCHS"))
    java.nio.file.Files.deleteIfExists(baseFile(path))
    AuditDeletes.clear(path)
    AuditStats.clear(path)
    deleteTree(txnDir(path))
    writeManifest(path, Seq.empty)
  }

  /** Remove crash debris: commit attempts that never won their link. */
  def cleanTxnDebris(path: String): Unit = {
    val d = txnDir(path)
    if (!java.nio.file.Files.isDirectory(d)) return
    val listing = java.nio.file.Files.list(d)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.contains(".tmp-"))
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally listing.close()
  }

  /** Rewrite `_MANIFEST` preserving entry order; the header counts LIVE
    * entries only (it is what the metadata COUNT path and the write guard
    * sum). Atomic (tmp + move): readers racing the write see old-or-new,
    * never a torn file. The txn floor is kept, and advanced over the
    * leading live txns whose every entry `entries` already carries: a
    * read-modify-write caller reads through [[readManifest]], which lists
    * live txns too, so an append that committed after the caller's
    * [[consolidate]] and is written back into the body would otherwise
    * be listed twice (in the body and as a live txn). A txn committed
    * after the caller's read is not in `entries` and stays live. As in
    * [[consolidate]], absorbed stats lines go to `_STATS` first. */
  def writeManifest(path: String, entries: Seq[ManifestEntry]): Unit = {
    val floor = readTxnFloor(path)
    val written = entries.map(_.file).toSet
    val absorbed = rawTxns(path).filter(_.v > floor)
      .takeWhile(_.entries.forall(e => written(e.file)))
    AuditStats.appendRaw(path, absorbed.flatMap(_.statsLines))
    writeManifestWithFloor(path, entries, absorbed.lastOption.fold(floor)(_.v))
  }

  /** On-disk size of a committed data file; None when it isn't present
    * (legacy/staged states keep their legacy no-bytes lines). */
  private def statBytes(path: String, file: String): Option[Long] =
    try Some(java.nio.file.Files.size(
      java.nio.file.Paths.get(path).resolve(file)))
    catch { case _: java.io.IOException => None }

  private def writeManifestWithFloor(path: String,
      entries: Seq[ManifestEntry], floor: Long): Unit = {
    val live = entries.filterNot(_.folded)
    val f = java.nio.file.Paths.get(path).resolve("_MANIFEST")
    val header = s"""{"files":${live.size},"rows":${live.map(_.rows).sum}""" +
      (if (floor > 0) s""","txnfloor":$floor""" else "") + "}"
    CommitPrimitives.io.replace(f,
      (Seq(header) ++
        entries.map {
          case ManifestEntry(n, r, false, ts, by) =>
            s"""{"file":"$n","rows":$r""" +
              ts.map(t => s""","ts":$t""").getOrElse("") +
              // legacy lines heal: stat the live file on this rewrite
              by.orElse(statBytes(path, n))
                .map(b => s""","bytes":$b""").getOrElse("") + "}"
          case ManifestEntry(n, r, true, ts, _) =>
            s"""{"folded":"$n","origrows":$r""" +
              ts.map(t => s""","ts":$t""").getOrElse("") + "}"
        }).mkString("\n").getBytes("UTF-8"))
  }
}

/** Commit half of OPTIMIZE: publish staged rewrite files as the table's
  * base checkpoint. The staged files arrive through the ordinary routing
  * [[AuditDataWriter]] (zero-level: the root's relDir `""`); commit
  * renames them to `base-*`, folds the live batch-manifest entries
  * (their rows are now in the base), publishes `_BASE`, and deletes the
  * data files the base supersedes (previous base files + folded batch
  * files). Original EPOCH files are
  * left for VACUUM: they keep serving running epoch tails until the
  * operator decides to reclaim them. */
final class AuditBaseBatchWrite(path: String, schema: StructType,
    throughEpoch: Long, sortBy: Option[String] = None,
    foldFiles: Option[Set[String]] = None,
    bloomCols: Set[String] = Set.empty,
    snapTs: Option[Long] = None) extends BatchWrite {
  require(schema.fields.takeRight(3).map(_.name).toSeq ==
    Seq("_oepoch", "_ofile", "_opos"),
    s"audit base commit: schema must end with the origin columns, got " +
      schema.fieldNames.mkString(","))

  // commit-unique staging subdir: OPTIMIZE is single-writer vs other
  // maintenance but races OCC appends, so cleanup stays in its own subdir
  private val stageSub = "b-" + java.util.UUID.randomUUID.toString.take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AuditWriterFactory(path, schema, Nil, bloomCols, stageSub)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    AuditMaintLock.verifyCurrent(path, "OPTIMIZE base publish")
    val dir = java.nio.file.Paths.get(path)
    val stage = dir.resolve("_staging").resolve(stageSub)
    val entries = AuditCommitMessage.entries(messages).sortBy(_._2)
    val gen = java.util.UUID.randomUUID().toString.take(8)
    val files = entries.zipWithIndex.map { case ((_, staged, rows, _), i) =>
      val name = f"base-$gen-$i%05d.jsonl"
      CommitPrimitives.io.publishData(stage.resolve(staged),
        dir.resolve(name))
      (name, rows)
    }
    val prev = AuditBase.read(path)
    // maintenance is single-writer: consolidate OCC txn appends into the
    // manifest before the fold's read-modify-write (mid-job appends —
    // txn or otherwise — stay LIVE; they are not in the pinned snapshot)
    AuditBase.consolidate(path)
    val manifest = AuditBase.readManifest(path)
    // fold ONLY the batch entries the compaction's pinned snapshot read
    // (entries appended while the job ran stay LIVE — folding them would
    // silently drop their rows), then publish _BASE (single-writer window
    // documented on AuditBase) and reclaim the superseded data files
    val toFold: AuditBase.ManifestEntry => Boolean = e =>
      !e.folded && foldFiles.forall(_.contains(e.file))
    AuditBase.writeManifest(path,
      manifest.map(e => if (toFold(e)) e.copy(folded = true) else e))
    // ABSORB-INTENT before the pointer swap: if the swap lands but the
    // finalize below never runs (crash), the intent — valid only once a
    // base with exactly this snapshot ts exists — keeps counts from
    // double-subtracting the fold rows the compaction scan skipped
    snapTs.foreach(AuditDeletes.markAbsorbPending(path, _))
    AuditBase.write(path, throughEpoch,
      prev.map(_.expiredThrough).getOrElse(-1L), files, sortBy,
      ts = snapTs)
    AuditMaintenance.maintFail("after-base-swap",
      "OPTIMIZE killed after the _BASE swap, before the absorb finalize")
    // pre-compaction fold summaries: the compaction scan skipped their
    // blanked rows, so this base physically excludes them — mark them
    // absorbed or counts double-subtract (AuditChaosSpec pseed 7)
    AuditDeletes.markAbsorbed(path)
    prev.foreach(_.files.foreach { case (f, _) =>
      java.nio.file.Files.deleteIfExists(dir.resolve(f))
    })
    manifest.filter(toFold).foreach { e =>
      java.nio.file.Files.deleteIfExists(dir.resolve(e.file))
    }
    // zone maps: record the base files' bounds, drop lines for the files
    // the base superseded (stale lines are superset-safe, just unbounded)
    AuditStats.retain(path, f => java.nio.file.Files.exists(dir.resolve(f)))
    AuditStats.append(path,
      entries.zip(files).map { case ((_, _, _, st), (name, _)) => (name, st) })
    deleteTree(stage)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteTree(
      java.nio.file.Paths.get(path).resolve("_staging").resolve(stageSub))
}

private[sources] object AuditMaintenance {

  /** Test-only CRASH INJECTION (`-Dgraft.audit.maintFailPoint=<point>`):
    * dies at a named point inside a maintenance operation, leaving the
    * REAL mid-crash disk state (not a reconstruction) for the recovery
    * machinery to heal — AuditChaosSpec composes these with concurrent
    * appends, DML and a live tail. The JVM-side cleanup that still runs
    * (lease release via withLease's finally) is exactly what a real
    * crash reaches eventually through the lease TTL. */
  private[sources] def maintFail(point: String, what: String): Unit =
    if (sys.props.get("graft.audit.maintFailPoint").contains(point))
      throw new IllegalStateException(s"injected failure: $what")

  /** Refuse maintenance that would compact over a crashed VACUUM's
    * half-completed fold: the intent rows may be blanked in SOME data
    * files and live in others, and only the recovery fold (the next
    * VACUUM — intent keys override its retention cutoff) can resolve
    * that state exactly. */
  private def requireNoFoldIntents(dirPath: String, label: String): Unit = {
    // bounded probe first: the steady state answers from the log's head
    if (!AuditDeletes.hasIntents(dirPath)) return
    val pending = AuditDeletes.intents(dirPath)
    if (pending.nonEmpty) throw new IllegalStateException(
      s"audit OPTIMIZE: $label has ${pending.size} pending fold " +
        "intent(s) left by a crashed VACUUM — its data files may be " +
        "half-blanked, and compacting them would permanently " +
        "double-count the intent rows (the base would exclude the " +
        "already-blanked subset while their positional delete entries " +
        "keep subtracting). Run VACUUM first (it completes exactly the " +
        "crashed fold), then retry OPTIMIZE.")
  }

  /** Distributed compaction: read full history, rewrite as an
    * origin-tagged base checkpoint. Runs as an ordinary Spark job — the
    * scan fans out per file, the exchange is the one repartition the
    * caller asked for, and the write commits through the sink's staged
    * two-phase protocol, so this is exactly as scalable as any other
    * write to the table. */
  def optimize(spark: SparkSession, path: String, schema: StructType,
      targetFileCount: Int, sortBy: Option[String],
      zorderBy: Seq[String] = Nil,
      pinned: Option[CompactionSnapshot] = None,
      bloomBy: Seq[String] = Nil): (Int, Long, Long) =
    AuditMaintLock.withLease(path, "optimize") {
      optimizeLocked(spark, path, schema, targetFileCount, sortBy, zorderBy,
        pinned, bloomBy)
    }

  /** Deterministic tile→partition exchange for the z-order rewrite: route
    * each row to partition (t·n) >> tileBits on its `_ztile` column via
    * an explicit shuffle, then re-enter SQL with the schema unchanged —
    * the equi-populated-tile replacement for repartitionByRange's
    * sampling pass (see the optimizeLocked z-order comment). */
  private def tilePartitioned(df: org.apache.spark.sql.DataFrame, n: Int,
      tileBits: Int): org.apache.spark.sql.DataFrame = {
    val schema = df.schema
    val tileIdx = schema.fieldIndex("_ztile")
    val rdd = df.queryExecution.toRdd.mapPartitions(
      _.map { r =>
        // toRdd rows are reused buffers — copy before they cross a shuffle
        (((r.getLong(tileIdx) * n) >> tileBits).toInt, r.copy())
      })
    val parted = rdd.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }).map(_._2)
    org.apache.spark.sql.GraftSqlShim.internalCreateDataFrame(
      df.sparkSession, parted, schema)
  }

  /** Per-column quantile boundaries for the z-order bucketizer: 2^bits − 1
    * cut points per dimension, equi-populated by construction. Round 22
    * (guide §1.2 step 2 — the summaries, not the scan, dominated the
    * pass): the boundaries only steer FILE SIZES (approximation can never
    * change a query answer — the curve key still orders every row), so
    * they are estimated from a 5% Bernoulli sample with a relaxed sketch
    * error (0.005 vs 0.001), cutting the quantile pass ~3× warm
    * (ProbeAudit: 0.65 → 0.21 s at sf0.1). Each column's NON-NULL count
    * rides the same aggregate (the quantiles skip nulls, so a mostly-null
    * column's effective sample is its non-null rows); when the sparsest
    * column has under ~20 sampled rows per bucket, every column falls back
    * to the exact full-frame pass — small tables keep bit-identical bounds
    * (and the fallback's extra pass is cheap precisely because the table is
    * small). Fixed seed: bounds are deterministic for a given table state. */
  private[sources] def zQuantileBounds(df: org.apache.spark.sql.DataFrame,
      zorderBy: Seq[String], bits: Int): Array[Array[Long]] = {
    import org.apache.spark.sql.functions.{count => fcount, _}
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val asDouble = df.select(zorderBy.map(c => col(c).cast("double")): _*)
    val minRows = (1L << bits) * 20
    val sampled = asDouble.sample(withReplacement = false, 0.05, seed = 42L)
    val cols = asDouble.columns.toSeq
    val aggs = cols.map(c => fcount(col(c))) ++ cols.map(c =>
      percentile_approx(col(c), typedlit(probs.toSeq), lit(200)).as(c))
    val row = sampled.agg(aggs.head, aggs.tail: _*).head()
    if (cols.indices.map(row.getLong).min >= minRows && !row.anyNull)
      cols.indices.map(i =>
        row.getSeq[Double](cols.length + i).toArray.map(_.toLong)
          .distinct.sorted).toArray
    else
      asDouble.stat.approxQuantile(asDouble.columns, probs, 0.001)
        .map(_.map(_.toLong).distinct.sorted)
  }

  private def optimizeLocked(spark: SparkSession, path: String,
      schema: StructType, targetFileCount: Int, sortBy: Option[String],
      zorderBy: Seq[String],
      pinned: Option[CompactionSnapshot],
      bloomBy: Seq[String]): (Int, Long, Long) = {
    sortBy.foreach(c => require(schema.fieldNames.contains(c),
      s"audit OPTIMIZE: sort_by column $c not in table schema"))
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "audit OPTIMIZE: sort_by and zorder_by are mutually exclusive")
    zorderBy.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(throw
        new IllegalArgumentException(
          s"audit OPTIMIZE: zorder_by column $c not in table schema"))
      require(f.dataType == LongType || f.dataType == IntegerType,
        s"audit OPTIMIZE: zorder_by needs integral columns, $c is " +
          s"${f.dataType.simpleString} (z-order a timestamp via a derived " +
          "epoch column)")
    }
    // PENDING FOLD INTENTS refuse compaction: a crashed VACUUM may have
    // half-blanked the intent rows, so the compaction scan would skip
    // exactly the already-blanked subset — baking those rows out of the
    // base while their positional twin entries keep subtracting (a
    // permanent double-count; the recovery fold would then summarize
    // them UNabsorbed, cementing it). The next VACUUM completes exactly
    // the crashed fold; OPTIMIZE afterwards is clean.
    requireNoFoldIntents(path, path)
    // Pin the input snapshot BEFORE building the job: the scan plans
    // lazily (at write-job time), so without the pin an epoch or batch
    // INSERT landing between here and execution would be read into the
    // base yet stay live (duplicates), and one landing between execution
    // and commit would be folded without being read (lost rows). The
    // snapshot closes both windows: the scan reads exactly these epochs
    // and batch files, and commit folds exactly the same set — anything
    // newer stays live alongside the base.
    val snap = pinned.getOrElse(snapshot(path))
    val through = snap.throughEpoch
    // rawcolumns: this schema is STORAGE-named (resolveAuditTableFull) —
    // the provider must not re-translate it through a data-dir _COLMAP
    val full = spark.read.schema(schema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path).option("includeDeleted", "true")
      .option("rawcolumns", "true")
      .option("snapshotMaxEpoch", through.toString)
      .option("snapshotFiles", snap.batchFiles.mkString(","))
      .load()
    var df = full.select(schema.fieldNames.map(col).toSeq ++ Seq(
      col("_epoch").as("_oepoch"),
      col("_file").as("_ofile"),
      col("_pos").as("_opos")): _*)
    if (zorderBy.nonEmpty) {
      // Pass 1: per-column quantile boundaries (equi-populated buckets —
      // skew-robust, unlike min/max linear scaling). Approximation error
      // only loosens file bounds; it can never change a query answer —
      // estimated from a 5% sample since round 22 ([[zQuantileBounds]]).
      val bits = 10 // 1024 rank buckets per dimension
      val bounds = zQuantileBounds(df, zorderBy, bits)
      val zkey = org.apache.spark.sql.GraftSqlShim.column(graft.plans.ZOrderExpr(
        zorderBy.map(c => org.apache.spark.sql.GraftSqlShim.expression(col(c))),
        bounds.toSeq, bits))
      // Pass 2: range-cluster across files on the curve, sort within each —
      // both columns' per-file _STATS bounds come out tight. Files split on
      // a DISCRETE tile id (the curve key's top ceil(log2 n) bits), not the
      // raw key: range sampling on the continuous key can cut mid-tile,
      // and one mid-tile cut near a curve wrap gives a file the full width
      // of a dimension. Splitting on whole tiles keeps every file a union
      // of axis-aligned blocks.
      val n = if (targetFileCount > 0) targetFileCount else 32
      val totalBits = zorderBy.length * bits
      val tileBits = math.min(totalBits,
        if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros((n - 1).toLong))
      // Round 21 (guide §1.2 step 1): `repartitionByRange(n, _ztile)` ran
      // RangePartitioner SAMPLING — a full extra pass over the snapshot
      // (jsonl parse + z-key evaluation per row) just to learn a tile
      // distribution the quantile bounds already make KNOWN: tiles are
      // equi-populated by construction, so partition p(t) = (t·n) >>
      // tileBits is balanced, monotone, and keeps every file a contiguous
      // tile block — identical clustering guarantees, one less table
      // scan (3 passes → 2; warm OPTIMIZE 1.92 → ~1.4 s at sf0.1).
      // Degenerate skew (quantile bounds collapsing to few distinct cuts)
      // only unbalances FILE SIZES, never answers or pruning soundness.
      df = tilePartitioned(
        df.withColumn("_zkey", zkey)
          .withColumn("_ztile",
            org.apache.spark.sql.functions.shiftrightunsigned(
              col("_zkey"), totalBits - tileBits)),
        n, tileBits)
        .sortWithinPartitions(col("_zkey"))
        .drop("_zkey", "_ztile")
    }
    // sort_by clusters ACROSS files too (range partition, not round-robin):
    // a round-robin split would leave every file spanning the full key
    // range, wasting the zone maps the sort is meant to tighten.
    if (zorderBy.isEmpty && targetFileCount > 0) df = sortBy match {
      case Some(c) => df.repartitionByRange(targetFileCount, col(c))
      case None    => df.repartition(targetFileCount)
    }
    sortBy.foreach(c => df = df.sortWithinPartitions(col(c)))
    // blooms survive maintenance: columns bloomed in ANY current stats
    // line stay bloomed in the base (plus any newly requested ones) —
    // without this a compaction would silently drop the point-lookup
    // skipping a table was written with
    val bloomCols = (AuditStats.read(path).valuesIterator
      .flatMap(_.blooms.keysIterator).toSet ++ bloomBy)
      .filter(c => schema.fields.exists(f =>
        f.name == c && AuditBloom.bloomable(f.dataType)))
    val writer = df.write.format(classOf[JsonAuditSink].getName)
      .option("path", path)
      .option("rawcolumns", "true") // df columns are storage-named
      .option("basecommit", "true")
      .option("basethroughepoch", through.toString)
      .option("basefoldfiles", snap.batchFiles.mkString(","))
      .option("basesnapts", snap.ts.toString)
      .option("bloomcols", bloomCols.mkString(","))
    sortBy.fold(writer)(writer.option("basesortby", _)).mode("append").save()
    val b = AuditBase.read(path).getOrElse(
      throw new IllegalStateException("audit OPTIMIZE: base commit missing"))
    (b.files.size, b.files.map(_._2).sum, b.throughEpoch)
  }

  /** PARTITIONED compaction, PER-DIRECTORY BASE CHECKPOINTS: one
    * distributed origin-tagged read of the current state (clustered by
    * the partition columns, z-order/sort within), one routed write whose
    * commit publishes each directory's `base-*` files + `_BASE` header
    * (throughEpoch + the snapshot instant on the monotonic stamp axis)
    * and tombstones the pinned manifest entries — the exact machinery of
    * the unpartitioned OPTIMIZE, applied per leaf. Unlike the retired
    * stage-and-swap design this PRESERVES every history axis in place:
    * the root `_EPOCHS` log (VERSION AS OF and the streaming tail keep
    * resolving), per-dir delete vectors (origin-keyed, valid against
    * base rows forever), folded data files (left on disk for running
    * feeds until VACUUM), `_IDENTITY` and `_COLMAP` (never moved) — so
    * partitioned TIMESTAMP AS OF now travels ACROSS a compaction by
    * resolving base rows by origin per directory, exactly like the
    * unpartitioned q_audit_travel_compacted path. A streamed partitioned
    * table accretes one file per epoch per token forever; this is its
    * maintenance path. Crash windows per directory match the documented
    * unpartitioned contract (manifest fold and `_BASE` publish are two
    * renames); a crash before any commit leaves only an orphan `_staging`
    * subtree, reclaimed by VACUUM clean_orphans. */
  def optimizePartitioned(spark: SparkSession, fullName: String, path: String,
      partSpec: String, targetFileCount: Int,
      sortBy: Option[String],
      schema: StructType,
      zorderBy: Seq[String] = Nil,
      bloomBy: Seq[String] = Nil,
      partitionFilter: Seq[PartPred] = Nil): (Int, Long, Long) =
    AuditMaintLock.withLease(path, "optimize") {
      optimizePartitionedLocked(spark, fullName, path, partSpec,
        targetFileCount, sortBy, schema, zorderBy, bloomBy, partitionFilter)
    }

  private def optimizePartitionedLocked(spark: SparkSession, fullName: String,
      path: String, partSpec: String, targetFileCount: Int,
      sortBy: Option[String],
      schema: StructType,
      zorderBy: Seq[String],
      bloomBy: Seq[String],
      partitionFilter: Seq[PartPred] = Nil): (Int, Long, Long) = {
    val specs = AuditPartition.parseSpecs(partSpec)
    val partCols = specs.map(_.col)
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "audit OPTIMIZE: sort_by and zorder_by are mutually exclusive")
    sortBy.foreach(c => require(schema.fieldNames.contains(c),
      s"audit OPTIMIZE: sort_by column $c not in table schema"))
    // no upfront streaming-writer refusal: a gracefully stopped query's
    // lease lingers to its TTL, and any epoch that actually commits
    // mid-job changes the pinned fingerprint — the base publish then
    // aborts loudly before touching anything
    val n =
      if (targetFileCount > 0) targetFileCount
      else spark.sparkContext.defaultParallelism
    // PINNED input set, captured BEFORE the rewrite scan can plan: the
    // base folds exactly these files; an OCC append racing the job either
    // aborts the commit (landed before its check — the scan may have
    // read it) or stays live alongside the base (landed after).
    // PARTITION-FILTERED compaction (`partition_filter => 'col=v,…'`):
    // compact only the matching directories — the operational shape at
    // scale, where "compact yesterday's partition" must not rewrite the
    // whole table. Unselected directories keep their live entries, bases
    // and history untouched; every read path already resolves per-dir.
    val selDirs: Option[Set[String]] =
      partitionSelector(path, specs, partitionFilter, "OPTIMIZE", schema)
    def selected(relDir: String): Boolean =
      selDirs.forall(_.contains(relDir))
    // pending fold intents in any SELECTED directory refuse compaction —
    // see the unpartitioned twin (half-blanked rows would bake out of
    // the base while their positional twins keep subtracting)
    AuditPartition.listDirsByCols(path, partCols)
      .filter { case (rel, _) => selected(rel) }
      .foreach { case (rel, d) => requireNoFoldIntents(d.toString, rel) }
    val pinned = liveFileSets(path, partCols)
      .filter { case (rel, _) => selected(rel) }
    val through = AuditScan.committedEpochs(path).lastOption.getOrElse(-1L)
    // snapshot instant on the MONOTONIC stamp axis (root sequencer +
    // every dir's visible stamps): every pre-snapshot commit stamp is
    // <= snapTs, so post-compaction time travel splits exactly
    val snapTs = (AuditPartition.listDirsByCols(path, partCols)
      .map { case (_, d) => AuditBase.maxVisibleTs(d.toString) } ++
      Seq(System.currentTimeMillis(), AuditSeq.maxIssued(path),
        AuditScan.epochTimestamps(path).values.foldLeft(-1L)(math.max)))
      .max
    // full current state, origin-tagged, STORAGE-named (raw read):
    // includeDeleted keeps vector-deleted rows in the base under their
    // origin ids, so the origin-keyed vectors keep applying
    val full = spark.read.schema(schema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path)
      .option("partitionby", AuditPartition.serializeSpecs(specs))
      .option("includeDeleted", "true")
      .option("rawcolumns", "true")
      .load()
    // row-level twin of the dir selector: the predicate must select
    // EXACTLY the rows of the selected dirs (a divergence would fold a
    // file whose rows were not all read) — same typed comparison as
    // partitionSelector, statically pruned to the matching dirs;
    // extracted as rowPredicate and property-pinned against the dir
    // selector over randomized layouts (PartitionSelectorPropSpec)
    val fullSel =
      if (partitionFilter.isEmpty) full
      else full.where(rowPredicate(schema, partitionFilter))
    var df = fullSel.select(schema.fieldNames.map(col).toSeq ++ Seq(
      col("_epoch").as("_oepoch"),
      // origin ids are PLAIN names within the directory (the scan
      // dir-qualifies _file for table-wide uniqueness; per-dir vectors
      // and manifests key by the plain name)
      org.apache.spark.sql.functions.substring_index(col("_file"), "/", -1)
        .as("_ofile"),
      col("_pos").as("_opos")): _*)
    if (zorderBy.nonEmpty) {
      zorderBy.foreach { c =>
        val f = df.schema.fields.find(_.name == c).getOrElse(throw
          new IllegalArgumentException(
            s"audit OPTIMIZE: zorder_by column $c not in table schema"))
        require(f.dataType == LongType || f.dataType == IntegerType,
          s"audit OPTIMIZE: zorder_by needs integral columns, $c is " +
            s"${f.dataType.simpleString}")
      }
      // WITHIN-DIRECTORY z-order: quantile bounds over the whole table
      // (approximation only loosens file bounds, never answers), then
      // range-cluster on (partition cols…, z-tile) so every directory
      // splits into files covering tight axis-aligned blocks — the same
      // two-pass design as the unpartitioned zorder, with the partition
      // columns as the leading range keys so rows stay dir-clustered;
      // boundaries from a 5% sample since round 22 ([[zQuantileBounds]])
      val bits = 10
      val bounds = zQuantileBounds(df, zorderBy, bits)
      val zkey = org.apache.spark.sql.GraftSqlShim.column(graft.plans.ZOrderExpr(
        zorderBy.map(c => org.apache.spark.sql.GraftSqlShim.expression(col(c))),
        bounds.toSeq, bits))
      val totalBits = zorderBy.length * bits
      val tileBits = math.min(totalBits,
        if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros((n - 1).toLong))
      df = df.withColumn("_zkey", zkey)
        .withColumn("_ztile",
          org.apache.spark.sql.functions.shiftrightunsigned(
            col("_zkey"), totalBits - tileBits))
        .repartitionByRange(n, partCols.map(col) :+ col("_ztile"): _*)
        .sortWithinPartitions(partCols.map(col) :+ col("_zkey"): _*)
        .drop("_zkey", "_ztile")
    } else {
      df = df.repartition(n, partCols.map(col): _*)
      sortBy.foreach(c =>
        df = df.sortWithinPartitions(partCols.map(col) :+ col(c): _*))
    }
    // blooms survive partitioned maintenance too: any column bloomed in
    // any directory's current stats stays bloomed, plus requested ones
    val priorBloomed = AuditPartition.listDirsByCols(path, partCols)
      .flatMap { case (_, pdir) => AuditStats.read(pdir.toString)
        .valuesIterator.flatMap(_.blooms.keysIterator) }.toSet
    val bloomCols = (priorBloomed ++ bloomBy).filter(c =>
      df.schema.fields.exists(f =>
        f.name == c && AuditBloom.bloomable(f.dataType)))
    // test-only raced-append injection: a commit landing here (before or
    // during the staging scan) must ABORT the base publish
    afterStageHook.foreach(_())
    // PER-DIRECTORY base commit (AuditPartitionedBaseWrite): staged
    // through the ordinary partitioned writer discipline; the pinned set
    // travels driver-side by token (O(files), not an option string)
    val token = AuditPartBasePin.put(
      AuditPartBasePin.Pin(through, snapTs, pinned, selDirs))
    df.write.format(classOf[JsonAuditSink].getName)
      .option("path", path)
      .option("partitionby", AuditPartition.serializeSpecs(specs))
      .option("rawcolumns", "true")
      .option("basecommit", "true")
      .option("partbasetoken", token)
      .option("bloomcols", bloomCols.mkString(","))
      .mode("append").save()
    spark.catalog.refreshTable(fullName) // drop any cached file listing
    val perDir = AuditPartition.listDirsByCols(path, partCols)
      .flatMap { case (_, d) => AuditBase.read(d.toString).toSeq.flatMap(_.files) }
    (perDir.size, perDir.map(_._2).sum, through)
  }

  // ---- stage-and-swap vs wait-free OCC appends --------------------------
  // commitTxn deliberately runs WITHOUT the maintenance lease, so an
  // INSERT INTO can land in the old tree at any point of a long staged
  // rewrite (partitioned OPTIMIZE / repartition_table). Two-phase defense:
  // (pre-swap) any append committed since staging ABORTS the swap loudly —
  // the staged tree no longer covers the table, nothing was changed;
  // (post-swap) an append that slid into the displaced tree between that
  // check and the rename is RE-APPENDED into the new tree — read back
  // through the engine, routed by the new spec — before the displaced
  // tree is deleted. Acknowledged commits are never destroyed.

  /** TEST HOOKS for the raced-append windows (None in production):
    * `afterStageHook` fires after the stage tree is fully written but
    * before the pre-swap check (a commit here must ABORT the swap);
    * `afterCheckHook` fires between the check and the dir rename (a
    * commit here lands in the displaced tree and must be RE-APPENDED). */
  private[sources] var afterStageHook: Option[() => Unit] = None
  private[sources] var afterCheckHook: Option[() => Unit] = None

  /** Live manifest file names per old-layout directory — the raced-append
    * fingerprint the stage-and-swap paths compare (includes OCC txn
    * entries via readManifest). */
  /** One conjunct of a `partition_filter` selector. `=` and `IN` match
    * any identity column type; ranges additionally need an ORDER that
    * the directory-token side and the row-predicate side agree on —
    * numeric for long/int, UTF8 binary for strings (exactly Spark's
    * string comparison, so the selected DIRS and the compaction scan's
    * ROW predicate can never diverge — a divergence would fold a file
    * whose rows were not all read). */
  private[sources] sealed trait PartPred { def col: String }
  private[sources] final case class PartEq(col: String, v: String)
      extends PartPred
  private[sources] final case class PartIn(col: String, vs: Seq[String])
      extends PartPred
  /** `op` ∈ `<= >= < >`. */
  private[sources] final case class PartCmp(col: String, op: String,
      v: String) extends PartPred

  /** Strip one level of double quotes from a selector value
    * (`""` inside = one literal `"`). Unquoted values pass through. */
  private def unquoteVal(v: String): String =
    if (v.length >= 2 && v.head == '"' && v.last == '"')
      v.substring(1, v.length - 1).replace("\"\"", "\"")
    else v

  /** Split on `sep` outside parens AND outside double-quoted values. */
  private def splitTop(raw: String, sep: Char,
      trackParens: Boolean): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQ = false
    raw.foreach {
      case '"' => inQ = !inQ; cur += '"'
      case '(' if !inQ && trackParens => depth += 1; cur += '('
      case ')' if !inQ && trackParens => depth -= 1; cur += ')'
      case c if c == sep && depth == 0 && !inQ =>
        out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    out += cur.result().trim
    out.toSeq.filter(_.nonEmpty)
  }

  /** Parse a `partition_filter` string into conjuncts. Top-level commas
    * separate conjuncts; commas inside an `IN (…)` list do not split —
    * so `'day >= 2024-01-01, day <= 2024-01-07'` (one bounded range as
    * ONE call: one lease, one raced-append window) and
    * `'flag IN (0,2)'` both work alongside the original `'col=v'`.
    * Values containing selector syntax (comma, paren, quote, `<`, `>`,
    * `=`, or edge whitespace) are written double-quoted with `""` for a
    * literal quote — `'tag="a,b"'`, `'tag IN ("a,b","c")'` — which is
    * the form `maintenance_plan` emits, so its recommendations stay
    * copy-pasteable for ANY string partition value. */
  private[sources] def parsePartitionFilter(raw: String, op: String)
      : Seq[PartPred] = {
    val entries = splitTop(raw, ',', trackParens = true)
    val InTail = """(?is)^IN\s*\((.*)\)$""".r
    entries.map { e =>
      // structural, not regex-over-the-whole-entry: the column name
      // (an identifier — never contains quote/operator chars) ends at
      // the first operator or whitespace, BEFORE any value content, so
      // a quoted value containing ' IN (' or '<' cannot be misread as
      // the operator
      def bad(): Nothing = throw new IllegalArgumentException(
        s"audit $op: partition_filter entry '$e' is not " +
          "col=value, col IN (v1,v2,…), or col <op> value")
      val opIdx = e.indexWhere(c => "<>=".indexOf(c.toInt) >= 0 ||
        c.isWhitespace)
      if (opIdx <= 0) bad()
      val c = e.take(opIdx)
      val rest = e.drop(opIdx).trim
      if (rest.startsWith("<=") || rest.startsWith(">="))
        PartCmp(c, rest.take(2), unquoteVal(rest.drop(2).trim))
      else if (rest.startsWith("<") || rest.startsWith(">"))
        PartCmp(c, rest.take(1), unquoteVal(rest.drop(1).trim))
      else if (rest.startsWith("="))
        PartEq(c, unquoteVal(rest.drop(1).trim))
      else rest match {
        case InTail(vs) => PartIn(c,
          splitTop(vs, ',', trackParens = false).map(unquoteVal))
        case _ => bad()
      }
    }
  }

  /** Quote a partition value for a selector string iff it contains
    * selector syntax — the inverse of [[unquoteVal]]. */
  private[sources] def quoteVal(v: String): String =
    if (v.isEmpty || v != v.trim ||
        v.exists(c => ",()\"<>=".indexOf(c.toInt) >= 0))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  /** Row-level twin of [[partitionSelector]]: a predicate holding on
    * EXACTLY the rows of the dirs the selector names — same typed
    * comparisons (numeric for long/int, typed date order for DATE,
    * UTF8 binary order for strings, which IS Spark's own string
    * comparison), so the selected-dirs set and the row slice cannot
    * diverge (a divergence would fold a file whose rows were not all
    * read). Property-pinned against [[partitionSelector]] over
    * randomized layouts and selector mixes in PartitionSelectorPropSpec. */
  private[sources] def rowPredicate(schema: StructType,
      filter: Seq[PartPred]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    def plit(c: String, v: String): org.apache.spark.sql.Column =
      schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(LongType)    => lit(v.toLong)
        case Some(IntegerType) => lit(v.toInt)
        case Some(org.apache.spark.sql.types.StringType) => lit(v)
        case Some(DateType)    => lit(java.sql.Date.valueOf(v))
        case other => throw new IllegalArgumentException(
          s"audit OPTIMIZE: partition_filter on $c of type $other is " +
            "not supported")
      }
    filter.map {
      case PartEq(c, v)  => col(c) === plit(c, v)
      case PartIn(c, vs) =>
        val typed: Seq[Any] =
          schema.fields.find(_.name == c).map(_.dataType) match {
            case Some(LongType)    => vs.map(_.toLong)
            case Some(IntegerType) => vs.map(_.toInt)
            case Some(DateType)    => vs.map(java.sql.Date.valueOf(_))
            case _                 => vs
          }
        col(c).isin(typed: _*)
      case PartCmp(c, "<=", v) => col(c) <= plit(c, v)
      case PartCmp(c, ">=", v) => col(c) >= plit(c, v)
      case PartCmp(c, "<", v)  => col(c) < plit(c, v)
      case PartCmp(c, ">", v)  => col(c) > plit(c, v)
      case PartCmp(c, o, _) => throw new IllegalArgumentException(
        s"audit OPTIMIZE: partition_filter op $o on $c")
    }.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Resolve a `partition_filter` selector to the matching partition
    * relDirs (None = whole table). Matching is token-level on IDENTITY
    * partition columns — a bucket column's value→dir mapping is not
    * expressible as one token, so it refuses. Range conjuncts compare
    * under the column's type (see [[PartPred]]); the null-token dir
    * never matches any conjunct (SQL comparison semantics). */
  private[sources] def partitionSelector(path: String,
      specs: Seq[AuditPartition.Spec],
      filter: Seq[PartPred], op: String,
      schema: StructType): Option[Set[String]] = {
    if (filter.isEmpty) return None
    val partCols = specs.map(_.col)
    val byLevel: Seq[(Int, PartPred)] = filter.map { p =>
      val li = specs.indexWhere(_.col == p.col)
      require(li >= 0, s"audit $op: partition_filter column ${p.col} is " +
        s"not a partition column of $path (${partCols.mkString(",")})")
      require(specs(li).bucket.isEmpty,
        s"audit $op: partition_filter on bucket column ${p.col} is not " +
          "supported (a value does not name one directory)")
      (li, p)
    }
    def cmp(li: Int, tok: String, v: String): Option[Int] = {
      if (tok == AuditPartition.NullToken) return None // null matches nothing
      val dt = schema.fields.find(_.name == specs(li).col).map(_.dataType)
      dt match {
        case Some(LongType) | Some(IntegerType) =>
          Some(java.lang.Long.compare(
            java.net.URLDecoder.decode(tok, "UTF-8").toLong, v.toLong))
        case Some(DateType) => // typed date order, not string order
          Some(java.time.LocalDate.parse(
            java.net.URLDecoder.decode(tok, "UTF-8")).compareTo(
            java.time.LocalDate.parse(v)))
        case _ => // string: UTF8 binary order — Spark's own
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(
            java.net.URLDecoder.decode(tok, "UTF-8")).compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      }
    }
    def holds(rel: String, li: Int, p: PartPred): Boolean = {
      val tok = AuditPartition.componentToken(rel, li)
      p match {
        // equality goes through the SAME typed comparison as ranges:
        // token-string equality would diverge from the row predicate on
        // non-canonical numerics ('flag IN (7, 08)' must select dir 8,
        // exactly as `col IN (7, 8)` matches its rows) and would let a
        // literal '__NULL__' value string-match the null-token dir that
        // the row predicate can never match (rows-not-all-read hazard)
        case PartEq(_, v)  => cmp(li, tok, v).contains(0)
        case PartIn(_, vs) => vs.exists(v => cmp(li, tok, v).contains(0))
        case PartCmp(_, o, v) => cmp(li, tok, v).exists(c => o match {
          case "<=" => c <= 0
          case ">=" => c >= 0
          case "<"  => c < 0
          case ">"  => c > 0
        })
      }
    }
    val dirs = AuditPartition.listDirsByCols(path, partCols).collect {
      case (rel, _) if byLevel.forall { case (li, p) =>
        holds(rel, li, p) } => rel
    }.toSet
    require(dirs.nonEmpty,
      s"audit $op: partition_filter matches no partition of $path")
    Some(dirs)
  }

  private def liveFileSets(root: String, partCols: Seq[String])
      : Map[String, Set[String]] = {
    val dirs =
      if (partCols.isEmpty) Seq(("", java.nio.file.Paths.get(root)))
      else AuditPartition.listDirsByCols(root, partCols)
    dirs.map { case (rel, d) =>
      (rel, AuditBase.readManifest(d.toString)
        .collect { case e if !e.folded => e.file }.toSet)
    }.toMap.filter(_._2.nonEmpty)
  }

  /** Pre-swap guard: abort (and reclaim the stage) if any append
    * committed into the live tree since `before` was captured. */
  private def requireUnchangedSinceStaging(root: String,
      partCols: Seq[String], before: Map[String, Set[String]],
      stage: java.nio.file.Path, op: String): Unit = {
    val now = liveFileSets(root, partCols)
    if (now != before) {
      val changed = (now.keySet ++ before.keySet).filter(rel =>
        now.getOrElse(rel, Set.empty) != before.getOrElse(rel, Set.empty))
      deleteTree(stage)
      throw new IllegalStateException(
        s"audit $op: concurrent append(s) committed into " +
          s"${changed.toSeq.sorted.take(3).map(r => if (r.isEmpty) "<root>"
          else r).mkString(", ")} while the rewrite was staging — the " +
          "staged tree no longer covers the table. Nothing was changed; " +
          "re-run the operation.")
    }
  }

  /** Post-swap reconciler: appends that slid into the displaced tree
    * between the pre-swap check and the rename were NOT read by the
    * rewrite (the scan finished before the check), so copy them into a
    * temp audit dir, read them back through the engine (storage-named),
    * and append them into the new tree routed by the new spec. Returns
    * re-appended rows. */
  private def reappendRaced(spark: SparkSession, newRoot: String,
      displaced: java.nio.file.Path, oldCols: Seq[String],
      atCheck: Map[String, Set[String]], storageSchema: StructType,
      newSpecSerialized: String): Long = {
    val after = liveFileSets(displaced.toString, oldCols)
    val raced: Seq[(String, String, Long)] = after.toSeq.flatMap {
      case (rel, fs) =>
        val fresh = fs -- atCheck.getOrElse(rel, Set.empty)
        if (fresh.isEmpty) Seq.empty
        else {
          val d = if (rel.isEmpty) displaced else displaced.resolve(rel)
          AuditBase.readManifest(d.toString).collect {
            case e if !e.folded && fresh(e.file) => (rel, e.file, e.rows)
          }
        }
    }
    if (raced.isEmpty) return 0L
    withScratch("graft_raced_") { tmp =>
      val entries = raced.zipWithIndex.map { case ((rel, f, rows), i) =>
        val src = (if (rel.isEmpty) displaced else displaced.resolve(rel))
          .resolve(f)
        val name = f"raced-$i%05d.jsonl"
        java.nio.file.Files.copy(src, tmp.resolve(name))
        AuditBase.ManifestEntry(name, rows, folded = false)
      }
      AuditBase.writeManifest(tmp.toString, entries)
      val df = spark.read.schema(storageSchema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", tmp.toString).option("rawcolumns", "true")
        .load()
      val w = df.write.format(classOf[JsonAuditSink].getName)
        .option("path", newRoot).option("rawcolumns", "true")
      (if (newSpecSerialized.nonEmpty) w.option("partitionby", newSpecSerialized)
      else w).mode("append").save()
    }
    raced.map(_._3).sum
  }

  /** The pinned input set of one compaction run: the newest committed
    * epoch and the LIVE batch-manifest files at capture time. */
  final case class CompactionSnapshot(throughEpoch: Long,
      batchFiles: Seq[String], ts: Long = 0L)

  def snapshot(path: String): CompactionSnapshot = CompactionSnapshot(
    AuditScan.committedEpochs(path).lastOption.getOrElse(-1L),
    AuditBase.readManifest(path).collect { case e if !e.folded => e.file },
    // capture time = the checkpoint's position on the commit-time axis
    // (the lease serializes DML, so nothing can land "inside" the window).
    // Captured on the MONOTONIC stamp axis, not raw wall clock: commit
    // stamps are floor-bumped to maxVisibleTs+1 and can run ahead of the
    // clock (several commits in one ms, or a clock step back) — a raw
    // wall-clock snapshot ts below a pre-checkpoint vector stamp would
    // make restoreToCheckpoint's `ts <= baseTs` split classify that
    // vector as post-checkpoint and silently un-delete its rows.
    ts = math.max(System.currentTimeMillis(), AuditBase.maxVisibleTs(path)))

  /** PARTITION-SPEC EVOLUTION: rewrite the table into a NEW
    * `PARTITIONED BY` layout — the staged sibling-tree rewrite + atomic
    * swap the partitioned OPTIMIZE already does, generalized to CHANGE
    * the spec (including from/to a different level count, bucket
    * transforms, or an unpartitioned source layout). Reads the CURRENT
    * state through the catalog (identity values are scan-carried, and
    * the `_IDENTITY` allocator high-water mark moves with the swap, so
    * later inserts never reuse values), routes rows into the new
    * directory tree, swaps atomically, then updates the catalog's
    * stored spec via `onSwapped` (inside the lease). Refuses live
    * streaming writers. History RESETS like a CTAS: prior epochs /
    * vintages become one fresh batch tree, so time travel and running
    * change-feed tails fail loudly afterwards (the documented
    * append-only contract — restart feeds from fresh checkpoints).
    * Crash windows: before the swap, the live table is untouched and
    * the stage is an orphan sibling (reclaimable); between the swap and
    * the meta update, the table reads through the OLD spec and must be
    * repaired by re-declaring the spec — single-writer maintenance, the
    * same contract as the manifest/_BASE two-rename window. */
  def repartitionTable(spark: SparkSession, fullName: String, path: String,
      oldSpec: Option[String], newSpec: String,
      colMap: Map[String, String],
      onSwapped: () => Unit): (Int, Long) =
    AuditMaintLock.withLease(path, "repartition") {
      repartitionLocked(spark, fullName, path, oldSpec, newSpec, colMap,
        onSwapped)
    }

  private def repartitionLocked(spark: SparkSession, fullName: String,
      path: String, oldSpec: Option[String], newSpec: String,
      colMap: Map[String, String], onSwapped: () => Unit): (Int, Long) = {
    AuditStreamLock.liveWriter(path).foreach(q =>
      throw new IllegalStateException(
        s"audit repartition_table: streaming query $q holds the writer " +
          s"lease at $path — stop it first (its epoch commits would land " +
          "in the displaced tree)"))
    val specs = AuditPartition.parseSpecs(newSpec)
    require(specs.nonEmpty,
      "audit repartition_table: the new partition spec is empty")
    // partition columns are storage==current by invariant (directory
    // names embed them) — a renamed column cannot become one
    specs.foreach(sp => require(!colMap.contains(sp.col),
      s"audit repartition_table: column ${sp.col} was renamed — renamed " +
        "columns cannot become partition columns (directory names embed " +
        "the storage spelling)"))
    // raced-append fingerprint BEFORE the rewrite scan can plan: any OCC
    // append after this either aborts the swap (pre-swap check) or is
    // re-appended from the displaced tree (post-swap reconciler)
    val oldCols = oldSpec.toSeq.flatMap(AuditPartition.parseSpecs(_).map(_.col))
    val preStage = liveFileSets(path, oldCols)
    // current state through the catalog, storage-named for the raw write
    var df = colMap.foldLeft(spark.table(fullName)) {
      case (d, (current, storage)) => d.withColumnRenamed(current, storage)
    }
    val n = spark.sparkContext.defaultParallelism
    df = df.repartition(n, specs.map(sp => col(sp.col)): _*)
    // blooms survive the layout change (old layout's stats, either shape)
    val priorBloomed = (AuditStats.read(path).valuesIterator
      .flatMap(_.blooms.keysIterator) ++
      oldSpec.toSeq.flatMap { pc =>
        AuditPartition.listDirsByCols(path,
          AuditPartition.parseSpecs(pc).map(_.col))
          .flatMap { case (_, d) => AuditStats.read(d.toString)
            .valuesIterator.flatMap(_.blooms.keysIterator) }
      }).toSet
      .filter(c => df.schema.fields.exists(f =>
        f.name == c && AuditBloom.bloomable(f.dataType)))
    val dir = java.nio.file.Paths.get(path)
    def hidden(tag: String) = dir.resolveSibling(
      "." + dir.getFileName.toString + s".$tag." +
        java.util.UUID.randomUUID().toString.take(8))
    val stage = hidden("repartstage")
    df.write.format(classOf[JsonAuditSink].getName)
      .option("path", stage.toString)
      .option("partitionby", AuditPartition.serializeSpecs(specs))
      .option("bloomcols", priorBloomed.mkString(","))
      .mode("append").save()
    // allocator state and colmap move WITH the table
    val idf = dir.resolve("_IDENTITY")
    if (java.nio.file.Files.exists(idf))
      java.nio.file.Files.copy(idf, stage.resolve("_IDENTITY"))
    AuditNameMap.writeColMapFile(stage, colMap)
    // spec replica INTO the stage: it becomes authoritative the instant
    // the swap lands, so a crash between the swap and the catalog meta
    // update is SELF-HEALING — the next loadTable reconciles the stored
    // spec from this file instead of misreading the new layout
    java.nio.file.Files.write(stage.resolve("_PARTSPEC"),
      AuditPartition.serializeSpecs(specs).getBytes("UTF-8"))
    AuditMaintLock.verifyCurrent(path, "repartition_table dir swap")
    // an OCC append committed while the rewrite staged means the staged
    // tree is stale — abort loudly instead of destroying committed rows
    afterStageHook.foreach(_())
    requireUnchangedSinceStaging(path, oldCols, preStage, stage,
      "repartition_table")
    afterCheckHook.foreach(_())
    val displaced = hidden("old")
    java.nio.file.Files.move(dir, displaced,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(stage, dir,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    onSwapped() // catalog partcols → newSpec, still under the lease
    // an append that slid in between the check and the rename landed in
    // the displaced tree — re-append it into the new layout before the
    // delete (still under the lease)
    reappendRaced(spark, path, displaced, oldCols, preStage, df.schema,
      AuditPartition.serializeSpecs(specs))
    deleteTree(displaced)
    spark.catalog.refreshTable(fullName)
    val perDir = AuditPartition.listDirs(path,
      AuditPartition.levelsOf(specs, df.schema))
      .map { case (_, d) =>
        AuditPartition.manifestEntries(d).map(_._2).sum }
    (perDir.size, perDir.sum)
  }

  /** Reclaim superseded epoch files and bound the time-travel window.
    * On a PARTITIONED table (`partCol` set) there is no base checkpoint
    * or travelable epoch log — only the `clean_orphans` half applies,
    * extended to sweep each partition directory's unreferenced files. */
  def vacuum(path: String, retainLast: Int,
      cleanOrphans: Boolean = false,
      partCols: Seq[String] = Nil,
      olderThanMs: Option[Long] = None,
      schema: Option[StructType] = None,
      selDirs: Option[Set[String]] = None): (Int, Long) =
    AuditMaintLock.withLease(path, "vacuum") {
      vacuumLocked(path, retainLast, cleanOrphans, partCols, olderThanMs,
        schema, selDirs)
    }

  /** RESTORE the table to streaming epoch `version`: physically remove
    * every epoch committed AFTER it — the bad-publish undo. The epoch
    * axis is the ONLY version axis this format has, so restore applies
    * to PURE streaming history — with ONE exception: a compacted table
    * restores TO its OPTIMIZE checkpoint boundary, where the base
    * materializes full state (epochs ≤ through + folded batch appends)
    * and the commit-time axis splits pre- from post-checkpoint delete
    * vectors exactly, so no epoch-axis guessing is needed even on a
    * mixed table. Everywhere else batch txn appends, delta-DML vectors
    * and non-boundary compacted epochs refuse loudly: "state as of
    * epoch v" is undefined there (guessing would silently un-delete or
    * re-delete rows). Live streaming tails fail loudly on the shrunk
    * log (the documented append-only contract) — restart them from
    * fresh checkpoints. */
  def restore(path: String, version: Long,
      partCols: Seq[String] = Nil): (Int, Long) =
    AuditMaintLock.withLease(path, "restore") {
      restoreLocked(path, version, partCols)
    }

  private def restoreLocked(path: String, version: Long,
      partCols: Seq[String]): (Int, Long) = {
    val dir = java.nio.file.Paths.get(path)
    AuditStreamLock.liveWriter(path).foreach(q =>
      throw new IllegalStateException(
        s"audit RESTORE: streaming query $q holds the writer lease at " +
          s"$path — stop it first (a concurrent epoch commit would race " +
          "the truncation)"))
    val epochs = AuditScan.committedEpochs(path)
    require(epochs.nonEmpty,
      s"audit RESTORE: $path has no epoch history to restore")
    require(version >= epochs.min,
      s"audit RESTORE: epoch $version predates all history " +
        s"(earliest committed epoch: ${epochs.min})")
    // COMPACTED table: route boundary restores to the checkpoint path
    // (full state is materialized there); refuse everything else
    AuditBase.read(path) match {
      case Some(b) if partCols.isEmpty =>
        return restoreToCheckpoint(path, version, b)
      case Some(_) =>
        throw new IllegalStateException(
          s"audit RESTORE: $path is compacted — the base checkpoint " +
            "folded epoch history and cannot be un-folded")
      case None => ()
    }
    // PARTITIONED compacted table: per-dir base checkpoints — route
    // boundary restores to the per-dir checkpoint path
    if (partCols.nonEmpty &&
        AuditPartition.listDirsByCols(path, partCols).exists { case (_, d) =>
          AuditBase.read(d.toString).isDefined })
      return restorePartitionedToCheckpoint(path, version, partCols)
    val gone = epochs.filter(_ > version)
    if (gone.isEmpty) return (0, 0L)
    if (partCols.isEmpty) {
      require(AuditBase.readManifest(path).isEmpty,
        s"audit RESTORE: $path has batch txn appends — they carry no " +
          "epoch, so state as of an epoch is undefined; restore applies " +
          "to pure streaming history")
      require(!AuditDeletes.exists(path),
        s"audit RESTORE: $path has delta-DML delete vectors — DML " +
          "carries no epoch, so state as of an epoch is undefined")
    } else AuditPartition.listDirsByCols(path, partCols).foreach {
      case (relDir, pdir) =>
        require(AuditPartition.manifestEntries(pdir)
          .forall { case (f, _) => AuditScan.epochOf(f).isDefined },
          s"audit RESTORE: partition $relDir of $path has batch txn " +
            "appends — they carry no epoch; restore applies to pure " +
            "streaming history")
        require(!AuditDeletes.exists(pdir.toString),
          s"audit RESTORE: partition $relDir of $path has delta-DML " +
            "delete vectors — DML carries no epoch")
    }
    val rowsByEpoch = AuditScan.epochRowsByEpoch(path)
    val rowsRemoved = gone.map(rowsByEpoch.getOrElse(_, 0L)).sum
    AuditMaintLock.verifyCurrent(path, "RESTORE epoch truncation")
    // METADATA FIRST, files second: visibility is metadata-driven on
    // both layouts (_EPOCHS for unpartitioned scans/counts/CDF, per-dir
    // manifests for partitioned), so a crash between the two steps
    // leaves invisible ORPHAN files (clean_orphans reclaims them) —
    // never live metadata referencing deleted files, which would
    // silently overcount and under-read.
    def trimEpochLog(): Unit = {
      val epochsFile = dir.resolve("_EPOCHS")
      val keepRe = """\{"epoch":(-?\d+),.*""".r
      val kept = java.nio.file.Files.readAllLines(epochsFile).asScala.toSeq
        .filter {
          case keepRe(e) => e.toLong <= version
          case _         => true
        }
      CommitPrimitives.io.replace(epochsFile,
        kept.map(_ + "\n").mkString.getBytes("UTF-8"))
    }
    var filesRemoved = 0
    if (partCols.isEmpty) {
      val doomed = AuditScan.epochFiles(path, gone.toSet)
      trimEpochLog()
      doomed.foreach { case (f, _) =>
        java.nio.file.Files.deleteIfExists(dir.resolve(f))
        filesRemoved += 1
      }
      AuditStats.retain(path,
        f => java.nio.file.Files.exists(dir.resolve(f)))
    } else {
      AuditPartition.listDirsByCols(path, partCols).foreach {
        case (_, pdir) =>
          val (drop, keep) = AuditPartition.manifestEntries(pdir).partition {
            case (f, _) => AuditScan.epochOf(f).exists(_ > version)
          }
          if (drop.nonEmpty) {
            AuditPartition.writeManifest(pdir, keep)
            drop.foreach { case (f, _) =>
              java.nio.file.Files.deleteIfExists(pdir.resolve(f))
              filesRemoved += 1
            }
            AuditStats.retain(pdir.toString,
              f => java.nio.file.Files.exists(pdir.resolve(f)))
          }
      }
      trimEpochLog()
    }
    (filesRemoved, rowsRemoved)
  }

  /** RESTORE a COMPACTED (possibly mixed) table to its OPTIMIZE
    * checkpoint boundary: the base materializes the checkpoint's full
    * state, so undoing everything after it needs no epoch-axis
    * guessing — post-checkpoint epochs truncate, post-checkpoint batch
    * appends (every LIVE manifest entry: the fold marked exactly the
    * checkpointed set) delete, and delete vectors split on the commit-
    * time axis at the base's snapshot instant (pre-checkpoint vectors
    * stay applied; post-checkpoint DML un-happens). Metadata first,
    * files second: a crash leaves invisible orphans (clean_orphans
    * reclaims them), never live metadata over deleted files. */
  private def restoreToCheckpoint(path: String, version: Long,
      b: AuditBase.Info): (Int, Long) = {
    val dir = java.nio.file.Paths.get(path)
    require(version == b.throughEpoch,
      s"audit RESTORE: $path is compacted — only the checkpoint " +
        s"boundary (epoch ${b.throughEpoch}) is restorable there (the " +
        "base materializes full state at that instant); other epochs " +
        "cannot be un-folded")
    val baseTs = b.ts.getOrElse(throw new IllegalStateException(
      s"audit RESTORE: the base checkpoint at $path predates commit-" +
        "time stamping — pre- and post-checkpoint delete vectors " +
        "cannot be told apart; re-run OPTIMIZE first"))
    require(AuditDeletes.foldedRows(path) == 0L,
      s"audit RESTORE: $path has VACUUM-folded delete vectors — " +
        "physically blanked rows cannot be restored")
    val vecs = AuditDeletes.entriesWithTs(path)
    require(vecs.forall(_._3.nonEmpty),
      s"audit RESTORE: $path has delete vectors without commit times " +
        "(pre-upgrade history) — their checkpoint side is unknown")
    val epochs = AuditScan.committedEpochs(path)
    val gone = epochs.filter(_ > version)
    val rowsByEpoch = AuditScan.epochRowsByEpoch(path)
    // post-checkpoint batch appends = every LIVE manifest entry: the
    // checkpoint's fold marked exactly its snapshot as folded
    AuditBase.consolidate(path)
    val manifest = AuditBase.readManifest(path)
    val (foldedEntries, liveEntries) = manifest.partition(_.folded)
    val (keepVecs, dropVecs) = vecs.partition(_._3.exists(_ <= baseTs))
    if (gone.isEmpty && liveEntries.isEmpty && dropVecs.isEmpty)
      return (0, 0L)
    val rowsRemoved = gone.map(rowsByEpoch.getOrElse(_, 0L)).sum +
      liveEntries.map(_.rows).sum
    AuditMaintLock.verifyCurrent(path, "RESTORE checkpoint truncation")
    // metadata first
    if (gone.nonEmpty) {
      val epochsFile = dir.resolve("_EPOCHS")
      val keepRe = """\{"epoch":(-?\d+),.*""".r
      val kept = java.nio.file.Files.readAllLines(epochsFile).asScala.toSeq
        .filter {
          case keepRe(e) => e.toLong <= version
          case _         => true
        }
      CommitPrimitives.io.replace(epochsFile,
        kept.map(_ + "\n").mkString.getBytes("UTF-8"))
    }
    if (liveEntries.nonEmpty) AuditBase.writeManifest(path, foldedEntries)
    if (dropVecs.nonEmpty) AuditDeletes.replace(path, keepVecs, Map.empty)
    // files second
    var filesRemoved = 0
    AuditScan.epochFiles(path, gone.toSet).foreach { case (f, _) =>
      java.nio.file.Files.deleteIfExists(dir.resolve(f))
      filesRemoved += 1
    }
    liveEntries.foreach { e =>
      java.nio.file.Files.deleteIfExists(dir.resolve(e.file))
      filesRemoved += 1
    }
    AuditStats.retain(path,
      f => java.nio.file.Files.exists(dir.resolve(f)))
    (filesRemoved, rowsRemoved)
  }

  /** RESTORE a PARTITIONED compacted table to its OPTIMIZE checkpoint
    * boundary OR any later epoch — the per-directory analog of
    * [[restoreToCheckpoint]]. At the boundary, every directory's base
    * materializes the checkpoint's state, so undoing everything after
    * it is per-dir vintage truncation: every LIVE manifest entry
    * deletes (the fold marked exactly the checkpointed set), vectors
    * split at the dir's snapshot instant, and a directory born AFTER
    * the checkpoint (no base) empties entirely. PAST the boundary all
    * needed history is intact — epochs > version truncate, and batch
    * appends / vectors committed after the target epoch's instant
    * un-happen; the bases stay untouched. Metadata first, files
    * second — same crash contract as every maintenance path. */
  private def restorePartitionedToCheckpoint(path: String, version: Long,
      partCols: Seq[String]): (Int, Long) = {
    val dirs = AuditPartition.listDirsByCols(path, partCols)
    val bases = dirs.flatMap { case (rel, d) =>
      AuditBase.read(d.toString).map(b => (rel, d, b)) }
    val throughs = bases.map(_._3.throughEpoch).distinct
    // partition-filtered OPTIMIZE legitimately leaves dirs at DIFFERENT
    // checkpoint epochs: boundary restore (per-dir base materialization)
    // needs one shared boundary, but any epoch AT/AFTER the newest
    // checkpoint restores by pure truncation on every dir
    val maxThrough = throughs.max
    val boundary = throughs.size == 1 && version == throughs.head
    require(boundary || version >= maxThrough,
      s"audit RESTORE: $path is compacted — epochs before the newest " +
        s"checkpoint boundary (epoch $maxThrough) were folded into " +
        "per-dir bases and cannot be un-folded; restorable targets are " +
        (if (throughs.size == 1)
          s"the checkpoint boundary (epoch $maxThrough) or any later epoch"
        else s"epochs >= $maxThrough (partition-filtered compactions " +
          s"left mixed boundaries: ${throughs.sorted.mkString(", ")})"))
    // restoring PAST the checkpoint (version > through) only truncates
    // newer history: epochs > version go, and batch appends / delete
    // vectors committed after the target epoch's instant un-happen —
    // the bases stay untouched, all needed history is intact. The cut
    // instant is the stamp of the newest committed epoch <= version.
    val postCutTs: Option[Long] =
      if (boundary) None
      else {
        val target = AuditScan.committedEpochs(path)
          .filter(_ <= version).maxOption.getOrElse(
            throw new IllegalStateException(
              s"audit RESTORE: no committed epoch at or before $version " +
                s"at $path"))
        Some(AuditScan.epochTimestamps(path).getOrElse(target,
          throw new IllegalStateException(
            s"audit RESTORE: epoch $target at $path carries no commit " +
              "time (pre-upgrade history) — commits after it cannot be " +
              "told apart")))
      }
    // the boundary restore splits each dir at ITS base's snapshot
    // instant (live entries are all post-snapshot there)
    val baseTsByDir: Map[String, Long] =
      if (!boundary) Map.empty
      else bases.map { case (rel, d, b) =>
        (rel, b.ts.getOrElse(throw new IllegalStateException(
          s"audit RESTORE: the base checkpoint of partition $rel at $path " +
            "predates commit-time stamping — pre- and post-checkpoint " +
            "delete vectors cannot be told apart; re-run OPTIMIZE first")))
      }.toMap
    dirs.foreach { case (rel, d) =>
      require(AuditDeletes.foldedRows(d.toString) == 0L,
        s"audit RESTORE: partition $rel of $path has VACUUM-folded " +
          "delete vectors — physically blanked rows cannot be restored")
      require(AuditDeletes.entriesWithTs(d.toString).forall(_._3.nonEmpty),
        s"audit RESTORE: partition $rel of $path has delete vectors " +
          "without commit times (pre-upgrade history) — their " +
          "checkpoint side is unknown")
    }
    val epochs = AuditScan.committedEpochs(path)
    val gone = epochs.filter(_ > version)
    val rowsByEpoch = AuditScan.epochRowsByEpoch(path)
    AuditMaintLock.verifyCurrent(path, "partitioned RESTORE truncation")
    var filesRemoved = 0
    var batchRowsRemoved = 0L
    // metadata first: root epoch log, then each dir's manifest + vectors
    if (gone.nonEmpty) {
      val dir = java.nio.file.Paths.get(path)
      val epochsFile = dir.resolve("_EPOCHS")
      val keepRe = """\{"epoch":(-?\d+),.*""".r
      val kept = java.nio.file.Files.readAllLines(epochsFile).asScala.toSeq
        .filter {
          case keepRe(e) => e.toLong <= version
          case _         => true
        }
      CommitPrimitives.io.replace(epochsFile,
        kept.map(_ + "\n").mkString.getBytes("UTF-8"))
    }
    val doomedFiles = scala.collection.mutable.ArrayBuffer
      .empty[java.nio.file.Path]
    dirs.foreach { case (rel, d) =>
      AuditBase.consolidate(d.toString)
      val manifest = AuditBase.readManifest(d.toString)
      val vecs = AuditDeletes.entriesWithTs(d.toString)
      // vector cut: the dir's base snapshot instant at the boundary
      // (None for a dir born after the checkpoint — everything in it is
      // post-checkpoint); the target epoch's instant past the boundary
      val vecCut: Option[Long] =
        if (boundary) baseTsByDir.get(rel) else postCutTs
      vecCut match {
        case Some(c) =>
          val (keepVecs, dropVecs) = vecs.partition(_._3.exists(_ <= c))
          if (dropVecs.nonEmpty)
            AuditDeletes.replace(d.toString, keepVecs, Map.empty)
        case None =>
          if (vecs.nonEmpty) AuditDeletes.clear(d.toString)
      }
      // live entries: ALL are post-snapshot at the boundary; past it,
      // keep epochs <= version and batch appends at/under the cut
      def doomedLive(e: AuditBase.ManifestEntry): Boolean =
        !e.folded && (boundary || (AuditScan.epochOf(e.file) match {
          case Some(ep) => ep > version
          case None => e.ts.getOrElse(throw new IllegalStateException(
            s"audit RESTORE: batch append ${e.file} in partition $rel " +
              s"of $path carries no commit time (pre-upgrade history) — " +
              "its target-epoch side is unknown")) > postCutTs.get
        }))
      val dropped = manifest.filter(doomedLive)
      if (dropped.nonEmpty) {
        // filter IN PLACE — the manifest's entry order is the CDF axis
        AuditBase.writeManifest(d.toString, manifest.filterNot(doomedLive))
        dropped.foreach { e =>
          // epoch-file rows are accounted through the root epoch log
          if (AuditScan.epochOf(e.file).isEmpty) batchRowsRemoved += e.rows
          doomedFiles += d.resolve(e.file)
        }
      }
    }
    // files second
    doomedFiles.foreach { f =>
      if (java.nio.file.Files.deleteIfExists(f)) filesRemoved += 1
    }
    dirs.foreach { case (_, d) =>
      AuditStats.retain(d.toString,
        f => java.nio.file.Files.exists(d.resolve(f)))
    }
    (filesRemoved,
      gone.map(rowsByEpoch.getOrElse(_, 0L)).sum + batchRowsRemoved)
  }

  /** VECTOR RETENTION: fold positional delete-vector entries that target
    * BATCH-append files into the files themselves. Batch files are
    * invisible to every pinned (`VERSION AS OF`) read — only streaming-
    * epoch files participate in time travel — so physically removing the
    * rows changes no retained version. The fold BLANKS the deleted lines
    * in place (surviving rows keep their exact `(_file,_pos)` ids: no
    * position ever shifts, so the operation is idempotent and every
    * crash window reads consistently) and then atomically replaces the
    * file's positional entries with one `{"file","folded":n}` summary —
    * counts keep subtracting exactly n, while reads stop anti-joining an
    * ever-growing positional set. Epoch-file vectors stay: their rows
    * remain observable at retained versions; OPTIMIZE is their fold
    * path. A DML-heavy, never-optimized partition thus pays O(#files)
    * vector overhead instead of O(#deleted rows). */
  /** Streamed in-place line blanking: copy `file` line by line to a
    * sibling tmp, letting `transform(line, pos)` replace folded lines
    * with "", then atomic-move over the original. O(1) memory at any
    * file size (a compacted base file is unbounded); returns true when
    * any line was blanked. */
  private def blankLines(file: java.nio.file.Path,
      transform: (String, Long) => String): Boolean = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".vfold")
    var touched = false
    val in = java.nio.file.Files.newBufferedReader(file,
      java.nio.charset.StandardCharsets.UTF_8)
    try {
      val out = java.nio.file.Files.newBufferedWriter(tmp,
        java.nio.charset.StandardCharsets.UTF_8)
      try {
        var pos = 0L
        var line = in.readLine()
        while (line != null) {
          val t = transform(line, pos)
          if (t != line) touched = true
          out.write(t); out.write("\n")
          pos += 1
          line = in.readLine()
        }
      } finally out.close()
    } finally in.close()
    if (touched)
      CommitPrimitives.io.publishData(tmp, file, replaceExisting = true)
    else java.nio.file.Files.deleteIfExists(tmp)
    touched
  }

  /** Re-derive a blanked file's `_STATS` line from its SURVIVING rows —
    * what lets the metadata MIN/MAX claim come back after a vector fold
    * (stale superset bounds could otherwise claim a blanked extreme).
    * Preserves the file's prior bloom column set. `isBase` parses the
    * trailing origin fields (base files carry them; they get stats like
    * any column, matching the base-commit writers). */
  private def refreshFoldedStats(dirPath: String, fileName: String,
      schema: StructType, isBase: Boolean): Unit = {
    val priorBlooms = AuditStats.read(dirPath).get(fileName)
      .map(_.blooms.keySet).getOrElse(Set.empty[String])
    val parseSchema = if (isBase) AuditBase.baseSchema(schema) else schema
    val absent = AuditJson.absentFill(parseSchema)
    val acc = new AuditStats.Acc(parseSchema, priorBlooms)
    val lines = java.nio.file.Files.lines(
      java.nio.file.Paths.get(dirPath).resolve(fileName),
      java.nio.charset.StandardCharsets.UTF_8)
    try lines.iterator().asScala.foreach { l =>
      if (l.nonEmpty) acc.update(AuditJson.parseLine(l, parseSchema, absent))
    } finally lines.close()
    AuditStats.retain(dirPath, _ != fileName)
    AuditStats.append(dirPath, Seq((fileName, acc.result)))
  }

  /** Merge fresh fold summaries into the existing ones: counts sum, the
    * watermark keeps the max, or None if either side lost its vintage. */
  private def mergeFolds(dirPath: String,
      fresh: Seq[(String, Long, Option[Long])])
      : Map[String, (Long, Option[Long])] = {
    val freshFolds: Map[String, (Long, Option[Long])] =
      fresh.groupBy(_._1).map { case (f, ps) =>
        (f, (ps.size.toLong,
          if (ps.exists(_._3.isEmpty)) None else Some(ps.map(_._3.get).max)))
      }
    (AuditDeletes.foldedWithTs(dirPath).toSeq ++ freshFolds)
      .groupBy(_._1).map { case (f, es) =>
        (f, (es.map(_._2._1).sum,
          if (es.exists(_._2._2.isEmpty)) None
          else Some(es.map(_._2._2.get).max)))
      }
  }

  /** `cutoffMs` is the effective RETENTION cutoff of this VACUUM call
    * (min of `older_than` and the oldest retained epoch's commit
    * instant, when either is defined): only vectors PROVABLY older fold,
    * so the fold watermark stays at/under the advertised retention
    * horizon — `TIMESTAMP AS OF` inside the window never refuses because
    * of routine maintenance, and an in-window CDF tail never loses its
    * unconsumed vector entries. None (a bare VACUUM with no retention
    * parameters) folds everything, as before — no window was advertised.
    * A pending crash-recovery INTENT key always folds regardless: its
    * blanking already started. */
  private def foldBatchVectors(dirPath: String,
      schema: StructType, cutoffMs: Option[Long]): Int = {
    val entries = AuditDeletes.entriesWithTs(dirPath)
    if (entries.isEmpty) return 0
    // the fold rewrites committed state in place — re-verify the VACUUM
    // lease (held on the TABLE root; dirPath may be a partition leaf)
    AuditMaintLock.verifyCurrent(dirPath, "VACUUM vector fold")
    AuditBase.consolidate(dirPath) // manifest read below must be whole
    val live = AuditBase.readManifest(dirPath)
      .collect { case e if !e.folded => e.file }.toSet
    val d = java.nio.file.Paths.get(dirPath)
    val priorIntents = AuditDeletes.intents(dirPath)
    val intentKeys: Set[(String, Long)] =
      priorIntents.map(i => (i._1, i._2)).toSet
    val (foldable, keep) = entries.partition { case (f, p, ts) =>
      AuditScan.epochOf(f).isEmpty && live.contains(f) &&
        java.nio.file.Files.exists(d.resolve(f)) &&
        (intentKeys((f, p)) || cutoffMs.forall(c => ts.exists(_ < c)))
    }
    if (foldable.isEmpty) return 0
    val myKeys = foldable.map(e => (e._1, e._2)).toSet
    // intents that belong to the OTHER fold path (base-origin rows of a
    // crashed foldBaseVectors) ride through both rewrites untouched
    val otherIntents = priorIntents.filterNot(i => myKeys((i._1, i._2)))
    // INTENT FIRST (crash contract): record what is about to be blanked
    // — with the watermark — before any data file changes, so a crash
    // mid-blanking refuses pre-watermark travel instead of silently
    // omitting half-blanked rows, and the next VACUUM finishes the job.
    // Positional twins stay: counts and current reads are unaffected.
    AuditDeletes.replace(dirPath, entries,
      AuditDeletes.foldedWithTs(dirPath),
      foldIntents = otherIntents ++ foldable,
      absorbedSums = AuditDeletes.absorbed(dirPath))
    maintFail("fold-intent",
      "VACUUM batch fold killed after the intent write, before blanking")
    foldable.groupBy(_._1).foreach { case (f, ps) =>
      val file = d.resolve(f)
      val gone = ps.map(_._2).toSet
      // STREAMED rewrite (never readAllLines: a data file on the driver
      // is unbounded — the fold must be O(1) memory at any file size)
      blankLines(file, (line, pos) => if (gone(pos)) "" else line)
      // stats stay EXACT through the fold — the invariant the relaxed
      // metadata MIN/MAX gate relies on (fold ⇔ stats recomputed)
      refreshFoldedStats(dirPath, f, schema, isBase = false)
    }
    maintFail("fold-blanked",
      "VACUUM batch fold killed after blanking, before the summary replace")
    // per-file fold WATERMARK: the max commit ts among the entries this
    // fold blanks (None if any is unstamped — post-fold time travel then
    // keeps refusing, exactly as pre-watermark folds always did).
    AuditDeletes.replace(dirPath, keep, mergeFolds(dirPath, foldable),
      foldIntents = otherIntents,
      absorbedSums = AuditDeletes.absorbed(dirPath))
    foldable.size
  }

  /** Fold vectors that target BATCH-ORIGIN BASE rows (post-compaction
    * DML deletes against a base checkpoint, either layout). Batch-origin
    * rows never participate in pinned (`VERSION AS OF`) reads — so
    * physically blanking them in the base file changes no retained
    * version, exactly the [[foldBatchVectors]] argument lifted to bases.
    * EPOCH-origin vectors stay positional: their rows remain observable
    * at retained versions. Same watermark discipline (fold summaries
    * keyed by the ORIGIN file retain the max folded commit ts), same
    * stats recompute, so time travel keeps its post-watermark window
    * and the metadata MIN/MAX claim can come back once no positional
    * vectors remain. */
  private def foldBaseVectors(dirPath: String, schema: StructType,
      cutoffMs: Option[Long]): Int = {
    val b = AuditBase.read(dirPath).getOrElse(return 0)
    val entries = AuditDeletes.entriesWithTs(dirPath)
    if (entries.isEmpty) return 0
    AuditMaintLock.verifyCurrent(dirPath, "VACUUM base-vector fold")
    // origins still present as LIVE manifest files fold via
    // foldBatchVectors; what is left targets folded/base-held rows
    val live = AuditBase.readManifest(dirPath)
      .collect { case e if !e.folded => e.file }.toSet
    val priorIntents = AuditDeletes.intents(dirPath)
    val intentKeys: Set[(String, Long)] =
      priorIntents.map(i => (i._1, i._2)).toSet
    val (candidates, keep0) = entries.partition { case (f, p, ts) =>
      AuditScan.epochOf(f).isEmpty && !live.contains(f) &&
        (intentKeys((f, p)) || cutoffMs.forall(c => ts.exists(_ < c)))
    }
    if (candidates.isEmpty) return 0
    val myKeys = candidates.map(e => (e._1, e._2)).toSet
    val otherIntents = priorIntents.filterNot(i => myKeys((i._1, i._2)))
    // INTENT FIRST — base rows are keyed by origin fields INSIDE the
    // line, so a blanked line loses its key and a crashed fold could
    // never re-find it: without the intent the vector would stay
    // positional forever while travel silently omitted the blanked row.
    // With it, a re-run treats every candidate it cannot find live as
    // already blanked and completes the summary.
    AuditDeletes.replace(dirPath, entries,
      AuditDeletes.foldedWithTs(dirPath),
      foldIntents = otherIntents ++ candidates,
      absorbedSums = AuditDeletes.absorbed(dirPath))
    maintFail("fold-intent",
      "VACUUM base fold killed after the intent write, before blanking")
    val d = java.nio.file.Paths.get(dirPath)
    val vecSet: Set[(String, Long)] = myKeys
    // recovering a crashed fold: its blanked lines lost their keys, so
    // `touched` can no longer prove which files it reached — refresh
    // every base file's stats to restore fold ⇔ stats-exact
    val recovering = intentKeys.exists(myKeys)
    val baseSchema = AuditBase.baseSchema(schema)
    val absent = AuditJson.absentFill(baseSchema)
    val n = schema.length
    b.files.foreach { case (bf, _) =>
      val file = d.resolve(bf)
      if (java.nio.file.Files.exists(file)) {
        // STREAMED blanking — a compacted base file is unbounded and must
        // never be materialized on the driver
        val touched = blankLines(file, (l, _) =>
          if (l.isEmpty) l
          else {
            val row = AuditJson.parseLine(l, baseSchema, absent)
            // batch-origin only: epoch-origin rows stay (pinned reads)
            if (!row.isNullAt(n)) l
            else {
              val key = (row.getUTF8String(n + 1).toString,
                row.getLong(n + 2))
              if (vecSet(key)) "" else l
            }
          })
        if (touched || recovering)
          refreshFoldedStats(dirPath, bf, schema, isBase = true)
      }
    }
    maintFail("fold-blanked",
      "VACUUM base fold killed after blanking, before the summary replace")
    // every candidate is now blanked: found rows were blanked above,
    // not-found rows were blanked by the crashed run this recovers
    // (every vector targets a real base-held row, so absence proves a
    // prior blanking, never a bogus key)
    AuditDeletes.replace(dirPath, keep0, mergeFolds(dirPath, candidates),
      foldIntents = otherIntents,
      absorbedSums = AuditDeletes.absorbed(dirPath))
    candidates.size
  }

  /** The expiry bound a VACUUM call establishes over epochs superseded
    * by a base checkpoint `through`: the newest `retainLast` superseded
    * epochs stay, `older_than` keeps epochs not provably old, and the
    * bound never regresses below `floor` (the previous watermark). */
  private def expiryBound(path: String, through: Long, floor: Long,
      retainLast: Int, olderThanMs: Option[Long]): Long = {
    val superseded = AuditScan.committedEpochs(path).filter(_ <= through)
    val keep = math.max(retainLast, 0)
    val byCount =
      if (superseded.size > keep)
        math.max(floor, superseded(superseded.size - keep - 1))
      else floor
    olderThanMs match {
      case None => byCount
      case Some(cut) =>
        val ts = AuditScan.epochTimestamps(path)
        val oldPrefix = superseded.takeWhile(e => ts.get(e).exists(_ < cut))
        val byTime =
          if (oldPrefix.isEmpty) floor else math.max(floor, oldPrefix.max)
        math.min(byCount, byTime)
    }
  }

  /** The commit instant of the oldest epoch this call RETAINS — defined
    * only when the user asked for an epoch window (`retain_last` > 0):
    * vectors younger than it must survive the fold or `TIMESTAMP AS OF`
    * inside the advertised window would refuse. None when the epoch has
    * no stamp (no instant is provable) or no epoch survives. */
  private def retainedInstant(path: String, through: Long, floor: Long,
      retainLast: Int, olderThanMs: Option[Long]): Option[Long] =
    if (retainLast <= 0) None
    else {
      val bound = expiryBound(path, through, floor, retainLast, olderThanMs)
      AuditScan.committedEpochs(path).filter(_ > bound).minOption
        .flatMap(AuditScan.epochTimestamps(path).get)
    }

  private def vacuumLocked(path: String, retainLast: Int,
      cleanOrphans: Boolean,
      partCols: Seq[String],
      olderThanMs: Option[Long] = None,
      schema: Option[StructType] = None,
      selDirs: Option[Set[String]] = None): (Int, Long) = {
    val dir = java.nio.file.Paths.get(path)
    // partition-filtered reclamation: folds, per-dir file reclaim and
    // per-dir orphan sweeps touch only the selected directories (the
    // optimize partition_filter's complement; table-level stage/swap
    // debris cleanup is layout-global and always runs)
    def dirSelected(rel: String): Boolean = selDirs.forall(_.contains(rel))
    val b0 = AuditBase.read(path)
    // vector retention runs on every VACUUM when the schema is known
    // (the catalog procedure path — always); the fold recomputes the
    // blanked files' stats, which NEEDS the schema. A schema-less direct
    // API call skips retention rather than leave stale superset bounds.
    // The fold CUTOFF is the effective retention horizon of THIS call —
    // min of `older_than` and the oldest retained epoch's instant (when
    // `retain_last` asked for an epoch window) — so the fold watermark
    // stays at/under what the user advertised and in-window travel
    // never refuses. A bare VACUUM advertises nothing and folds all.
    val foldedEntries: Int = schema.fold(0) { sch =>
      // with NO base checkpoint the epoch window still constrains the
      // fold: nothing is expired, so the whole committed-epoch axis is
      // "superseded" for WINDOWING purposes (through = newest epoch) —
      // otherwise VACUUM(retain_last => N) on a never-OPTIMIZEd table
      // would fold ALL vectors and refuse in-window TIMESTAMP AS OF,
      // contradicting the advertised retention horizon
      val newestEpoch = AuditScan.committedEpochs(path).lastOption
        .getOrElse(-1L)
      if (partCols.nonEmpty)
        AuditPartition.listDirsByCols(path, partCols)
          .filter { case (rel, _) => dirSelected(rel) }
          .map { case (_, pdir) =>
            val through = AuditBase.read(pdir.toString)
              .map(_.throughEpoch).getOrElse(newestEpoch)
            val cutoff = (olderThanMs.toSeq ++
              retainedInstant(path, through, Long.MinValue,
                retainLast, olderThanMs)).minOption
            foldBatchVectors(pdir.toString, sch, cutoff) +
              foldBaseVectors(pdir.toString, sch, cutoff) }.sum
      else {
        val cutoff = (olderThanMs.toSeq ++
          retainedInstant(path, b0.map(_.throughEpoch).getOrElse(newestEpoch),
            b0.map(_.expiredThrough).getOrElse(-1L),
            retainLast, olderThanMs)).minOption
        foldBatchVectors(path, sch, cutoff) +
          foldBaseVectors(path, sch, cutoff)
      }
    }
    // VACUUM-side absorb-intent finalize: a crash-after-swap leaves a
    // pending marker that reads resolve transparently but history shows
    // as a recovery row until the next log rewrite — finalize it here
    // even when nothing folds (bounded no-op in steady state)
    if (partCols.isEmpty) AuditDeletes.finalizeAbsorbIntent(path)
    else AuditPartition.listDirsByCols(path, partCols)
      .filter { case (rel, _) => dirSelected(rel) }
      .foreach { case (_, pdir) =>
        AuditDeletes.finalizeAbsorbIntent(pdir.toString) }
    // partitioned: per-dir base checkpoints make folded files reclaimable
    val partDirsWithBase: Seq[(String, java.nio.file.Path, AuditBase.Info)] =
      if (partCols.isEmpty) Seq.empty
      else AuditPartition.listDirsByCols(path, partCols)
        .filter { case (rel, _) => dirSelected(rel) }
        .flatMap {
        case (rel, d) => AuditBase.read(d.toString).map(b => (rel, d, b))
      }
    if (b0.isEmpty && partDirsWithBase.isEmpty && !cleanOrphans &&
        foldedEntries == 0)
      throw new IllegalStateException(
        s"audit VACUUM: $path has no base checkpoint — " +
          "run OPTIMIZE first (only files superseded by a base can be " +
          "reclaimed), or pass " +
          "clean_orphans => true for orphan cleanup alone " +
          "(and no outstanding batch-file delete vectors were foldable)")
    var removed = 0
    var expired = b0.map(_.expiredThrough).getOrElse(-1L)
    // PARTITIONED reclamation: every FOLDED entry's file is superseded by
    // the dir's base (batch rows are base-held and invisible everywhere;
    // epoch rows <= through replay from the base by origin — the tail's
    // epochFilter path — and pinned reads resolve from base origins, so
    // no retained version needs the original file). retain_last keeps the
    // newest k superseded epochs' files on disk (cheap tail resolution);
    // older_than keeps epochs not provably old. Tombstones STAY in the
    // manifests — they carry the batch vintages travel resolves by and
    // the CDF's fold axis.
    partDirsWithBase.foreach { case (_, pdir, b) =>
      val bound = expiryBound(path, b.throughEpoch, Long.MinValue,
        retainLast, olderThanMs)
      AuditBase.readManifest(pdir.toString).foreach { e =>
        val reclaim = e.folded && (AuditScan.epochOf(e.file) match {
          case Some(ep) => ep <= bound
          case None     => true // folded batch files: base-held, unread
        })
        if (reclaim &&
            java.nio.file.Files.deleteIfExists(pdir.resolve(e.file)))
          removed += 1
      }
      AuditStats.retain(pdir.toString,
        f => java.nio.file.Files.exists(pdir.resolve(f)))
    }
    b0.foreach { b =>
      val superseded = AuditScan.committedEpochs(path).filter(_ <= b.throughEpoch)
      // TIME-based retention (older_than): only epochs whose recorded
      // commit time is before the cutoff may expire. expiredThrough is a
      // WATERMARK, so the bound is the maximal PREFIX of superseded
      // epochs provably older than the cutoff — an epoch without a
      // commit time (legacy) is never provably old, conservatively
      // ending the prefix.
      val newExpired = expiryBound(path, b.throughEpoch, b.expiredThrough,
        retainLast, olderThanMs)
      val gone = AuditScan.epochFiles(path, superseded.toSet)
      gone.foreach { case (f, _) =>
        java.nio.file.Files.deleteIfExists(dir.resolve(f))
      }
      AuditStats.retain(path, f => java.nio.file.Files.exists(dir.resolve(f)))
      AuditBase.write(path, b.throughEpoch, newExpired, b.files, b.sortBy,
        ts = b.ts)
      removed += gone.size
      expired = newExpired
    }
    // ORPHAN cleanup: a crash between "move staged files in" and "publish
    // the metadata" leaves data files no manifest/epoch/base references —
    // invisible to every read, but they hold space forever. Safe under
    // the format's documented single-writer assumption (no commit is
    // in flight while maintenance runs). Staged leftovers likewise.
    if (cleanOrphans) {
      val referenced: Set[String] =
        AuditBase.readManifest(path).map(_.file).toSet ++
          AuditBase.read(path).toSeq.flatMap(_.files.map(_._1)) ++
          AuditScan.epochFiles(path,
            AuditScan.committedEpochs(path).toSet).map(_._1)
      // staged metadata rewrites whose atomic move never landed
      // (CommitPrimitives.replace crash debris). Scoped to the
      // LEASE-PROTECTED metadata targets: their writers hold the same
      // maintenance lease this VACUUM holds, so an aged tmp here is
      // provably a crash, never an in-flight writer. Un-leased staging
      // writers (stream-lock claims, lease-claim docs) also stage as
      // ".tmp-" — a writer paused past the age guard must NOT find its
      // staged file swept out from under its atomic move, so their
      // prefixes are deliberately outside this sweep (their debris is
      // a few bytes, inert, and recognizable by prefix).
      val leasedTmpPrefixes = Seq(
        "_MANIFEST.tmp-", "_EPOCHS.tmp-", "_DELETES.tmp-",
        "_BASE.tmp-", "_STATS.tmp-", "_COLMAP.tmp-")
      def tmpDebris(p: java.nio.file.Path): Boolean =
        leasedTmpPrefixes.exists(p.getFileName.toString.startsWith) &&
          (try java.nio.file.Files.getLastModifiedTime(p).toMillis <
            System.currentTimeMillis() - AuditMaintLock.leaseMs
          catch { case _: java.io.IOException => false })
      if (java.nio.file.Files.isDirectory(dir)) {
        val listing = java.nio.file.Files.list(dir)
        try listing.iterator().asScala
          .filter(p => (p.getFileName.toString.endsWith(".jsonl") &&
            !referenced(p.getFileName.toString)) ||
            // crashed vector-fold tmp (atomic-move never landed)
            p.getFileName.toString.endsWith(".vfold") ||
            tmpDebris(p))
          .foreach { p =>
            java.nio.file.Files.deleteIfExists(p); removed += 1
          }
        finally listing.close()
      }
      // writers recreate the staging dir on demand
      removed += deleteTree(dir.resolve("_staging"))
      AuditStats.retain(path, f => java.nio.file.Files.exists(dir.resolve(f)))
      // OCC commit attempts that never won their put-if-absent link
      AuditBase.cleanTxnDebris(path)
      // partition directories: a file its dir's manifest does not list is
      // a crashed-commit leftover, same as the table-level case
      if (partCols.nonEmpty) {
        AuditPartition.listDirsByCols(path, partCols)
          .filter { case (rel, _) => dirSelected(rel) }
          .foreach { case (_, pdir) =>
          AuditBase.cleanTxnDebris(pdir.toString) // lost per-dir OCC attempts
          // referenced = ALL manifest entries (folded originals stay on
          // disk by design — running tails resolve them) + the dir's
          // base checkpoint files
          val listed = AuditBase.readManifest(pdir.toString)
            .map(_.file).toSet ++
            AuditBase.read(pdir.toString).toSeq.flatMap(_.files.map(_._1))
          val listing = java.nio.file.Files.list(pdir)
          try listing.iterator().asScala
            .filter(p => (p.getFileName.toString.endsWith(".jsonl") &&
              !listed(p.getFileName.toString)) ||
              p.getFileName.toString.endsWith(".vfold") ||
              tmpDebris(p))
            .toSeq.foreach { p =>
              java.nio.file.Files.deleteIfExists(p); removed += 1
            }
          finally listing.close()
          AuditStats.retain(pdir.toString,
            f => java.nio.file.Files.exists(pdir.resolve(f)))
        }
      }
      // Swap leftovers BESIDE the table dir (partitioned OPTIMIZE's
      // stage-and-swap): an orphan `.optstage.` tree is a crashed rewrite
      // and safe to drop any time; a displaced `.old.` tree is dropped
      // only while the swapped-in data dir is live — if the data dir is
      // MISSING, the old tree is the only copy (crash between the two
      // renames) and recovery is manual, never automatic deletion.
      val parent = dir.getParent
      val nm = dir.getFileName.toString
      if (parent != null && java.nio.file.Files.isDirectory(parent)) {
        val siblings = java.nio.file.Files.list(parent)
        try siblings.iterator().asScala.filter { p =>
          val f = p.getFileName.toString
          f.startsWith(s".$nm.optstage.") ||
            (f.startsWith(s".$nm.old.") && java.nio.file.Files.isDirectory(dir))
        }.toSeq.foreach(p => removed += deleteTree(p))
        finally siblings.close()
      }
    }
    (removed, expired)
  }
}

/** DataSource V2 catalog FUNCTIONS (`SELECT graft.system.hex_hash(...)`)
  * — the engine's cross-engine hash surfaced through Spark's
  * FunctionCatalog so plain SQL (and future bucket transforms) can call
  * it by qualified name. `hex_hash(s)` is [[graft.functions.Hashing]]'s
  * first-15-md5-hex-chars int64 (nonnegative — `%` ≡ pmod), identical to
  * the Column/SQL twins every oracle in the repo hashes with, so the
  * DuckDB gate can check catalog-function calls value-exact.
  * `hex_bucket(s, n)` is the derived shard assignment. */
private[sources] object GraftFunctions {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}

  val Names: Seq[String] = Seq("hex_hash", "hex_bucket")

  private def unbound(fname: String, desc: String,
      make: StructType => BoundFunction): UnboundFunction =
    new UnboundFunction {
      override def name(): String = fname
      override def description(): String = desc
      override def bind(inputType: StructType): BoundFunction = make(inputType)
    }

  /** NAMED classes, not anonymous: the MAGIC METHOD `invoke` must be a
    * public JVM method for Spark to codegen a direct Invoke on it, and
    * scalac compiles extra members of anonymous classes as PRIVATE
    * (invisible through the widened interface type — Spark then throws
    * "Couldn't find method invoke" at runtime). Without the magic
    * method every call routes through produceResult with a fresh
    * InternalRow — the interpreted path. */
  final class HexHashFunction(nullableIn: Boolean)
      extends ScalarFunction[java.lang.Long] {
    override def name(): String = "hex_hash"
    override def canonicalName(): String = "graft.system.hex_hash"
    override def inputTypes(): Array[DataType] = Array(StringType)
    override def resultType(): DataType = LongType
    override def isResultNullable: Boolean = nullableIn
    def invoke(s: org.apache.spark.unsafe.types.UTF8String): java.lang.Long =
      if (s == null) null
      else Long.box(graft.functions.Hashing.hexHashBytes(s.getBytes))
    override def produceResult(input: InternalRow): java.lang.Long =
      if (input.isNullAt(0)) null
      else invoke(input.getUTF8String(0))
  }

  final class HexBucketFunction(nullableIn: Boolean)
      extends ScalarFunction[java.lang.Long] {
    override def name(): String = "hex_bucket"
    override def canonicalName(): String = "graft.system.hex_bucket"
    override def inputTypes(): Array[DataType] = Array(StringType, LongType)
    override def resultType(): DataType = LongType
    override def isResultNullable: Boolean = nullableIn
    def invoke(s: org.apache.spark.unsafe.types.UTF8String,
        n: Long): java.lang.Long =
      if (s == null) null
      else {
        require(n > 0, s"hex_bucket: bucket count must be positive, got $n")
        Long.box(java.lang.Math.floorMod(
          graft.functions.Hashing.hexHashBytes(s.getBytes), n))
      }
    override def produceResult(input: InternalRow): java.lang.Long =
      if (input.isNullAt(0) || input.isNullAt(1)) null
      else invoke(input.getUTF8String(0), input.getLong(1))
  }

  val hexHash: UnboundFunction = unbound("hex_hash",
    "first-15-md5-hex-chars int64 of a string (the engine's cross-engine hash)",
    inputType => {
      require(inputType.length == 1 &&
        inputType.head.dataType == StringType,
        s"hex_hash(STRING) — got ${inputType.simpleString}")
      new HexHashFunction(inputType.head.nullable)
    })

  /** The `bucket(n, col)` transform function — Spark binds it with an
    * input of (numBuckets INT, partition column) when resolving a
    * bucket-partitioned table's reported KeyGroupedPartitioning. MUST
    * agree exactly with the write router and the pruning path
    * ([[AuditPartition.bucketOf]]): SPJ correctness rests on one hash. */
  val bucketTransform: UnboundFunction = unbound("bucket",
    "hash-bucket index of a partition value (the audit format's bucket transform)",
    inputType => {
      require(inputType.length == 2 &&
        (inputType.head.dataType == IntegerType ||
          inputType.head.dataType == LongType) &&
        AuditPartition.supported(inputType(1).dataType),
        s"bucket(INT, long|int|string) — got ${inputType.simpleString}")
      val colType = inputType(1).dataType
      new ScalarFunction[java.lang.Integer] {
        override def name(): String = "bucket"
        override def canonicalName(): String = "graft.bucket"
        override def inputTypes(): Array[DataType] =
          Array(inputType.head.dataType, colType)
        override def resultType(): DataType = IntegerType
        override def isResultNullable: Boolean = inputType(1).nullable
        override def produceResult(input: InternalRow): java.lang.Integer =
          if (input.isNullAt(1)) null
          else {
            val n = inputType.head.dataType match {
              case LongType => input.getLong(0).toInt
              case _        => input.getInt(0)
            }
            Int.box(AuditPartition.bucketOf(input.get(1, colType), n))
          }
      }
    })

  val hexBucket: UnboundFunction = unbound("hex_bucket",
    "pmod(hex_hash(s), n) — deterministic shard assignment",
    inputType => {
      require(inputType.length == 2 &&
        inputType.head.dataType == StringType &&
        (inputType(1).dataType == LongType ||
          inputType(1).dataType == IntegerType), // Spark casts to inputTypes()
        s"hex_bucket(STRING, BIGINT) — got ${inputType.simpleString}")
      new HexBucketFunction(inputType.exists(_.nullable))
    })
}

/** SQL stored procedures (`CALL graft.system.<proc>(...)`) — Spark 4's
  * ProcedureCatalog surface over [[AuditMaintenance]]. */
private[sources] object GraftProcedures {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}

  val Names: Seq[String] =
    Seq("optimize", "vacuum", "history", "sync_identity", "restore",
      "repartition_table", "maintenance_plan", "maintenance_apply")

  private final class Result(schema: StructType, data: Array[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data
  }

  private def one(schema: StructType, vals: Any*): java.util.Iterator[Scan] =
    rowsOf(schema, Seq(vals.toArray))

  private def rowsOf(schema: StructType,
      rows: Seq[Array[Any]]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(
      new Result(schema,
        rows.map(vs => new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(vs): InternalRow).toArray): Scan).iterator()

  private def str(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  def optimize(catalog: GraftCatalog): UnboundProcedure = new UnboundProcedure {
    override def name(): String = "optimize"
    override def description(): String =
      "compact an audit table into an origin-tagged base checkpoint " +
        "(target_file_count files, optionally sorted by sort_by)"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "optimize"
      override def description(): String = optimize(catalog).description()
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", StringType)
          .comment("audit table, as <namespace>.<name>").build(),
        ProcedureParameter.in("target_file_count", IntegerType)
          .defaultValue("0")
          .comment("base file count; 0 keeps the scan's partitioning").build(),
        ProcedureParameter.in("sort_by", StringType)
          .defaultValue("CAST(NULL AS STRING)")
          .comment("optional within-file sort column").build(),
        ProcedureParameter.in("zorder_by", StringType)
          .defaultValue("CAST(NULL AS STRING)")
          .comment("optional comma-separated multi-dimensional clustering " +
            "columns (mutually exclusive with sort_by)").build(),
        ProcedureParameter.in("bloom_by", StringType)
          .defaultValue("CAST(NULL AS STRING)")
          .comment("optional comma-separated columns to (re)build " +
            "per-file bloom filters for; existing bloomed columns are " +
            "always preserved").build(),
        ProcedureParameter.in("partition_filter", StringType)
          .defaultValue("CAST(NULL AS STRING)")
          .comment("compact only matching partitions of a partitioned " +
            "table: 'col=value[,col=value]' on identity partition " +
            "columns; other directories keep their files and history")
          .build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val tfc = if (input.isNullAt(1)) 0 else input.getInt(1)
        val sortBy =
          if (input.isNullAt(2)) None else Some(input.getUTF8String(2).toString)
        val zorderBy =
          if (input.isNullAt(3)) Nil
          else input.getUTF8String(3).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
        val bloomBy =
          if (input.isNullAt(4)) Nil
          else input.getUTF8String(4).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
        val partitionFilter: Seq[AuditMaintenance.PartPred] =
          if (input.isNullAt(5)) Nil
          else AuditMaintenance.parsePartitionFilter(
            input.getUTF8String(5).toString, "OPTIMIZE")
        val (path, schema, partSpec) = catalog.resolveAuditTableFull(table)
        // user-facing column args arrive in CURRENT names; the rewrite
        // works in storage names (see resolveAuditTableFull)
        val cm = catalog.resolveAuditColMap(table)
        def st(c: String): String = cm.getOrElse(c, c)
        val sortBySt = sortBy.map(st)
        val zorderBySt = zorderBy.map(st)
        val bloomBySt = bloomBy.map(st)
        val (files, rows, through) = partSpec match {
          case Some(ps) =>
            AuditMaintenance.optimizePartitioned(
              org.apache.spark.sql.SparkSession.active,
              s"${catalog.name()}.$table", path, ps, tfc, sortBySt, schema,
              zorderBySt, bloomBySt,
              partitionFilter.map {
                case AuditMaintenance.PartEq(c, v) =>
                  AuditMaintenance.PartEq(st(c), v)
                case AuditMaintenance.PartIn(c, vs) =>
                  AuditMaintenance.PartIn(st(c), vs)
                case AuditMaintenance.PartCmp(c, o, v) =>
                  AuditMaintenance.PartCmp(st(c), o, v)
              })
          case None =>
            require(partitionFilter.isEmpty,
              s"audit OPTIMIZE: partition_filter needs a partitioned " +
                s"table; $table is unpartitioned")
            AuditMaintenance.optimize(
            org.apache.spark.sql.SparkSession.active, path, schema, tfc,
            sortBySt, zorderBySt, bloomBy = bloomBySt)
        }
        one(StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("base_files", IntegerType, nullable = false),
          StructField("base_rows", LongType, nullable = false),
          StructField("through_epoch", LongType, nullable = false))),
          str(table), files, rows, through)
      }
    }
  }

  /** `CALL graft.system.history('db.t')` — the table's commit log as
    * rows: every streaming epoch, every live/folded batch commit, the
    * base checkpoint, and the outstanding delete-vector count. The
    * observability surface every table format grows (Delta DESCRIBE
    * HISTORY, Iceberg snapshots metadata table), derived entirely from
    * the format's own metadata files — no data file is opened. */
  /** `CALL graft.system.sync_identity('db.t')` — re-align the identity
    * allocator with the table's ACTUAL values: a `GENERATED BY DEFAULT`
    * table that took explicit inserts above the allocator's horizon
    * would otherwise hand those same values out again later (the drift
    * every warehouse solves with a sync procedure — Delta's ALTER TABLE
    * SYNC IDENTITY). One distributed single-column aggregate per
    * identity column; the high-water mark only ever RAISES. */
  def syncIdentity(catalog: GraftCatalog): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "sync_identity"
      override def description(): String =
        "raise the identity high-water mark past every value present in " +
          "the table (run after explicit BY-DEFAULT inserts)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "sync_identity"
          override def description(): String =
            syncIdentity(catalog).description()
          override def isDeterministic: Boolean = false
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("audit table, as <namespace>.<name>").build())
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val table = input.getUTF8String(0).toString
            val (path, _, _) = catalog.resolveAuditTableFull(table)
            val spark = org.apache.spark.sql.SparkSession.active
            val df = spark.table(s"${catalog.name()}.$table")
            // identity metadata lives in the CATALOG's stored schema —
            // the relation's schema strips field metadata
            val parts = table.split('.')
            val stored = catalog
              .loadTable(org.apache.spark.sql.connector.catalog
                .Identifier.of(parts.init, parts.last))
              .asInstanceOf[AuditTable].schema()
            val idCols = stored.fields.flatMap(f =>
              org.apache.spark.sql.catalyst.util.IdentityColumn
                .getIdentityInfo(f).map(s => (f.name, s))).toSeq
            require(idCols.nonEmpty,
              s"graft sync_identity: $table has no identity columns")
            // required next-k per column: the smallest k whose value lies
            // strictly beyond every present value in the step direction
            val needed = idCols.map { case (c, s) =>
              val agg = df.agg(
                org.apache.spark.sql.functions.max(
                  org.apache.spark.sql.functions.col(c)),
                org.apache.spark.sql.functions.min(
                  org.apache.spark.sql.functions.col(c))).head()
              val k =
                if (agg.isNullAt(0)) 0L // empty table
                else if (s.getStep > 0) {
                  val mx = agg.getLong(0)
                  if (mx < s.getStart) 0L
                  else (mx - s.getStart) / s.getStep + 1L
                } else {
                  val mn = agg.getLong(1)
                  if (mn > s.getStart) 0L
                  else (s.getStart - mn) / (-s.getStep) + 1L
                }
              (c, s, k)
            }
            val applied = GeneratedWrite.syncHwm(path,
              needed.map(_._3).max)
            rowsOf(StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("column", StringType, nullable = false),
              StructField("next_value", LongType, nullable = false))),
              needed.map { case (c, s, _) =>
                Array[Any](str(table), str(c),
                  s.getStart + s.getStep * applied)
              })
          }
        }
    }

  def history(catalog: GraftCatalog): UnboundProcedure = new UnboundProcedure {
    override def name(): String = "history"
    override def description(): String =
      "list an audit table's commit history (epochs, batch commits, " +
        "base checkpoint, outstanding deletes) from metadata only"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "history"
      override def description(): String = history(catalog).description()
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", StringType)
          .comment("audit table, as <namespace>.<name>").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val (path, _, partSpec) = catalog.resolveAuditTableFull(table)
        val schema = StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("version", LongType, nullable = true),
          StructField("files", IntegerType, nullable = false),
          StructField("rows", LongType, nullable = false),
          StructField("detail", StringType, nullable = false)))
        val epochRe =
          """\{"epoch":(-?\d+),"files":(\d+),"rows":(\d+)(?:,"ts":(\d+))?\}""".r
        val epochsFile = java.nio.file.Paths.get(path).resolve("_EPOCHS")
        val epochRows: Seq[Array[Any]] =
          if (java.nio.file.Files.exists(epochsFile))
            java.nio.file.Files.readAllLines(epochsFile).asScala.toSeq.collect {
              case epochRe(e, nf, r, ts) => Array[Any]("epoch", e.toLong,
                nf.toInt, r.toLong, str("streamed micro-batch" +
                  (if (ts == null) ""
                  else ", committed " + java.time.Instant
                    .ofEpochMilli(ts.toLong).toString)))
            }.sortBy(_(1).asInstanceOf[Long])
          else Seq.empty
        val batchRows: Seq[Array[Any]] =
          AuditBase.readManifest(path).map { e =>
            Array[Any]("batch", null, 1, e.rows,
              str(e.file + (if (e.folded) " (folded into base)" else "")))
          }
        val baseRows: Seq[Array[Any]] = AuditBase.read(path).toSeq.map { b =>
          Array[Any]("base", b.throughEpoch, b.files.size,
            b.files.map(_._2).sum,
            str("checkpoint through epoch " + b.throughEpoch +
              b.sortBy.fold("")(s => s", sorted by $s") +
              (if (b.expiredThrough >= 0)
                s", expired through ${b.expiredThrough}" else "")))
        }
        // PARTITIONED tables: one row per partition directory (live files
        // and rows from its manifest) plus its outstanding delete vectors
        // — the epochs section above is shared (the partitioned streaming
        // commit writes the same table-level `_EPOCHS` log)
        val partRows: Seq[Array[Any]] =
          partSpec.toSeq.flatMap { ps =>
            val cols = AuditPartition.parseSpecs(ps).map(_.col)
            AuditPartition.listDirsByCols(path, cols).flatMap {
              case (relDir, pdir) =>
                val entries = AuditPartition.manifestEntries(pdir)
                val dels = AuditDeletes.count(pdir.toString)
                Seq(Array[Any]("partition", null, entries.size,
                  entries.map(_._2).sum - dels, str(relDir))) ++
                  (if (dels > 0)
                    Seq(Array[Any]("deletes", null, 0, dels,
                      str(s"outstanding delete-vector entries in $relDir")))
                  else Seq.empty)
            }
          }
        val delRows: Seq[Array[Any]] = {
          val n = AuditDeletes.count(path)
          if (n > 0)
            Seq(Array[Any]("deletes", null, 0, n,
              str("outstanding delete-vector entries")))
          else Seq.empty
        }
        // TRAVEL WINDOW observability: the earliest `TIMESTAMP AS OF`
        // instant each table/partition still answers — max of the VACUUM
        // fold watermark and the earliest retained commit — so users SEE
        // the window instead of discovering it by refusal
        def travelRows(p: String, label: String): Seq[Array[Any]] = {
          def detail(s: String) = Array[Any]("travel", null, 0, 0L, str(
            (if (label.isEmpty) "" else s"$label: ") + s))
          AuditDeletes.foldWatermark(p) match {
            case None => Seq(detail(
              "time travel unavailable (pre-upgrade VACUUM fold without " +
                "a watermark)"))
            case Some(wm) =>
              // VACUUM epoch expiry: the earliest retained commit bounds
              // the window from below too
              val expiryFloor = AuditBase.read(p)
                .filter(_.expiredThrough >= 0L).flatMap { b =>
                  AuditScan.committedEpochs(path)
                    .filter(_ > b.expiredThrough).minOption
                    .flatMap(AuditScan.epochTimestamps(path).get)
                }.getOrElse(-1L)
              val from = math.max(wm, expiryFloor)
              if (from < 0L) Seq(detail("full history travelable"))
              else Seq(detail("travels from " +
                java.time.Instant.ofEpochMilli(from).toString +
                (if (wm >= expiryFloor) " (VACUUM fold watermark)"
                else " (earliest retained commit)")))
          }
        }
        val travelWindowRows: Seq[Array[Any]] =
          if (partSpec.isEmpty) travelRows(path, "")
          else partSpec.toSeq.flatMap { ps =>
            val cols = AuditPartition.parseSpecs(ps).map(_.col)
            AuditPartition.listDirsByCols(path, cols).flatMap {
              case (relDir, pdir) => travelRows(pdir.toString, relDir)
            }
          }
        // RECOVERY observability: a crashed maintenance op's pending
        // markers, with the heal action — operators see the state and
        // its remedy instead of discovering it through an OPTIMIZE
        // refusal (fold intents) or not at all (an absorb-intent is
        // behaviorally invisible by design; it still deserves a row)
        def recoveryRows(p: String, label: String): Seq[Array[Any]] = {
          def pre(s: String) =
            if (label.isEmpty) s else s"$label: " + s
          val intents = AuditDeletes.intents(p)
          val intentRow =
            if (intents.isEmpty) Seq.empty
            else Seq(Array[Any]("recovery", null, 0, intents.size.toLong,
              str(pre(s"${intents.size} pending fold intent(s) from a " +
                "crashed VACUUM — run VACUUM to complete the fold " +
                "(OPTIMIZE refuses until then)"))))
          val absorbRow = AuditDeletes.absorbIntentTs(p) match {
            case Some(ts) =>
              Seq(Array[Any]("recovery", null, 0, 0L, str(pre(
                s"pending absorb-intent for base snapshot $ts — " +
                  "counts stay exact; the next fold or OPTIMIZE " +
                  "finalizes it"))))
            case None => Seq.empty
          }
          intentRow ++ absorbRow
        }
        val recoveryWindowRows: Seq[Array[Any]] =
          if (partSpec.isEmpty) recoveryRows(path, "")
          else partSpec.toSeq.flatMap { ps =>
            val cols = AuditPartition.parseSpecs(ps).map(_.col)
            AuditPartition.listDirsByCols(path, cols).flatMap {
              case (relDir, pdir) => recoveryRows(pdir.toString, relDir)
            }
          }
        rowsOf(schema,
          (epochRows ++ batchRows ++ baseRows ++ partRows ++ delRows ++
            travelWindowRows ++ recoveryWindowRows)
            .map(r => { r(0) = str(r(0).asInstanceOf[String]); r }))
      }
    }
  }

  /** One target's maintenance recommendation — the structured form
    * shared by `maintenance_plan` (renders these as rows) and
    * `maintenance_apply` (executes them). `selector` is the exact
    * `partition_filter` conjunct string naming the target dir (None on
    * unpartitioned tables). `liveBytes` sums the live batch files'
    * recorded sizes — Some only when EVERY live line carries one (a
    * partial sum would misread as the table's footprint); None on
    * legacy or mixed manifests. */
  private[sources] final case class MaintRec(target: String, files: Int,
      rows: Long, vectors: Long, recovery: Int, action: String,
      why: String, selector: Option[String],
      liveBytes: Option[Long] = None)

  /** Expand a `<ns>.*` wildcard to every AUDIT table in the namespace
    * (views and non-audit tables are skipped), sorted by name; a plain
    * table name passes through. At 100 TB nobody loops over tables by
    * hand either — `maintenance_plan`/`maintenance_apply` accept the
    * wildcard so one CALL covers the whole namespace. */
  private def expandTables(catalog: GraftCatalog, table: String): Seq[String] =
    if (!table.endsWith(".*")) Seq(table)
    else {
      val ns = table.dropRight(2).split('.').filter(_.nonEmpty)
      require(ns.nonEmpty,
        s"graft maintenance: bad wildcard '$table' — use '<namespace>.*'")
      catalog.listTables(ns).toSeq
        .map(id => (id.namespace() :+ id.name()).mkString("."))
        .sorted
        .filter { n =>
          try { catalog.resolveAuditTableFull(n); true }
          catch {
            // ONLY the definitive not-this-kind shapes are skippable
            // (non-audit providers, views): a CORRUPT audit table must
            // surface as an error, not read as a healthy namespace.
            // Typed, not message-matched (ADVICE r20): a reworded message
            // can never turn routine skips into wildcard failures.
            case _: NotAnAuditTableException => false
            case _: org.apache.spark.sql.catalyst.analysis
                      .NoSuchTableException => false
          }
        }
    }

  /** Test seam: observe each table's heal starting (wildcard
    * `maintenance_apply` runs them on a bounded pool — the spec proves
    * actual overlap through this hook). */
  @volatile private[sources] var onTableApply: String => Unit = _ => ()

  /** One IN-list-batched call covering several flagged dirs:
    * `selector` is the exact `partition_filter`, `targets` the relDirs
    * it covers (so the executor knows which flagged dirs are already
    * handled). */
  private[sources] final case class MaintBatch(selector: String,
      targets: Seq[String])

  /** Metadata-only planning core: per-target recommendations plus
    * per-action batched selectors, so N flagged dirs cost ONE lease and
    * one raced-append window instead of N. Single-level identity
    * layouts batch every flagged dir into one IN list; multi-level
    * identity layouts batch per shared all-but-last-level prefix
    * (`day=5, region IN (…)` — the (day, region) shape at 100 TB).
    * Layouts with a BUCKET level get NO selectors at all: a bucket
    * dir is not selector-addressable (`partition_filter` refuses bucket
    * columns), so recommendations and the executor fall back to the
    * whole-table CALL. Inspects only manifests/vectors/recovery
    * markers; never opens a data file. */
  private[sources] def planRecs(catalog: GraftCatalog, table: String,
      maxFiles: Int, vecThresh: Int, smallFileBytes: Long = 0L)
      : (Seq[MaintRec], Map[String, Seq[MaintBatch]]) = {
    val (path, _, partSpec) = catalog.resolveAuditTableFull(table)
    // (files, rows, vectors, recovery, action, why, liveBytes) from
    // metadata only
    def planOf(p: String)
        : (Int, Long, Long, Int, String, String, Option[Long]) = {
      val live = AuditBase.readManifest(p).filterNot(_.folded)
      val base = AuditBase.read(p)
      val files = live.size + base.map(_.files.size).getOrElse(0)
      val rows = live.map(_.rows).sum +
        base.toSeq.flatMap(_.files.map(_._2)).sum -
        AuditDeletes.count(p)
      // total only when EVERY live line carries a size: a partial sum on
      // a mixed legacy/new manifest would read as the table's footprint
      // while silently missing the uncounted files — null means "not
      // fully known", never "small"
      val knownBytes = live.flatMap(_.bytes)
      val liveBytes =
        if (live.nonEmpty && knownBytes.size == live.size)
          Some(knownBytes.sum)
        else None
      // byte-aware fragmentation (round 20): a FRAGMENT is a live file
      // below small_file_bytes — 10×1 KB fragments want compaction even
      // when the raw file count sits under max_live_files, and lines
      // without a recorded size (legacy) never count as fragments, so
      // legacy tables plan exactly as before
      val fragments =
        if (smallFileBytes <= 0L) 0
        else live.count(_.bytes.exists(_ < smallFileBytes))
      val vectors = AuditDeletes.entries(p).size.toLong
      val recovery = AuditDeletes.intents(p).size +
        (if (AuditDeletes.absorbIntentTs(p).isDefined) 1 else 0)
      val (action, why) =
        if (AuditDeletes.intents(p).nonEmpty)
          ("VACUUM", "complete the crashed fold (OPTIMIZE refuses " +
            "until then)")
        else if (vectors >= vecThresh)
          ("VACUUM", s"fold $vectors positional delete-vector " +
            "entries")
        else if (files > maxFiles)
          ("OPTIMIZE", s"compact $files live files")
        else if (fragments >= 2)
          ("OPTIMIZE", s"merge $fragments fragment files (< " +
            s"$smallFileBytes bytes each)")
        else if (AuditDeletes.absorbIntentTs(p).isDefined)
          // behaviorally invisible but it reads as a recovery row in
          // system.history — a bare VACUUM finalizes it
          ("VACUUM", "finalize the lingering absorb-intent marker " +
            "(clears the recovery row)")
        else ("none", "healthy")
      (files, rows, vectors, recovery, action, why, liveBytes)
    }
    partSpec match {
      case None =>
        val (f, r, v, rec, action, why, lb) = planOf(path)
        (Seq(MaintRec("(table)", f, r, v, rec, action, why, None, lb)),
          Map.empty)
      case Some(ps) =>
        val specs = AuditPartition.parseSpecs(ps)
        val cols = specs.map(_.col)
        val bucketed = specs.exists(_.bucket.isDefined)
        // per dir: (rec, one "col=<quoted value>" component per level) —
        // components are kept structured so prefix-grouping never has to
        // re-split a rendered selector (quoted values may contain commas)
        val dirInfos = AuditPartition.listDirsByCols(path, cols).map {
          case (rel, d) =>
            val (f, r, v, rec, action, why, lb) = planOf(d.toString)
            val comps = rel.split('/').map { comp =>
              val i = comp.indexOf('=')
              // quote values carrying selector syntax (commas, parens,
              // quotes, comparison chars) so the emitted recommendation
              // is copy-pasteable for ANY value
              comp.take(i + 1) + AuditMaintenance.quoteVal(
                java.net.URLDecoder.decode(comp.drop(i + 1), "UTF-8"))
            }.toSeq
            val selector =
              if (bucketed) None // bucket dirs are not selector-addressable
              else Some(comps.mkString(","))
            val whyFull =
              if (bucketed && action != "none")
                s"$why (bucket dirs are not selector-addressable — run " +
                  "the whole-table CALL)"
              else why
            (MaintRec(rel, f, r, v, rec, action, whyFull, selector, lb),
              comps)
        }.sortBy(_._1.target)
        val recs = dirInfos.map(_._1)
        // batch flagged dirs per action into IN-list calls: whole-layout
        // for single-level, per all-but-last-level prefix group for
        // multi-level (quoted values pass through verbatim from the
        // per-dir components)
        val batched: Map[String, Seq[MaintBatch]] =
          if (bucketed) Map.empty
          else dirInfos.filter(_._1.action != "none")
            .groupBy(_._1.action).map { case (act, rs) =>
              act -> rs.groupBy(_._2.init).toSeq
                .sortBy(_._1.mkString(","))
                .collect { case (prefix, grp) if grp.size > 1 =>
                  val lastCol = specs.last.col
                  val inList = grp.map(_._2.last.drop(lastCol.length + 1))
                  MaintBatch(
                    (prefix :+ s"$lastCol IN (${inList.mkString(",")})")
                      .mkString(","),
                    grp.map(_._1.target))
                }
            }.filter(_._2.nonEmpty)
        (recs, batched)
    }
  }

  /** MAINTENANCE RECOMMENDER: at 100 TB nobody eyeballs 10k partition
    * directories — the engine inspects its own metadata (file counts,
    * vector backlog, crash-recovery markers; never a data file) and
    * emits per-target recommendations INCLUDING the exact
    * `partition_filter` selector to run, using the round-18 IN-list
    * form to batch flagged dirs into one CALL. Pure read; thresholds
    * are parameters so operators encode their own policy. */
  def maintenancePlan(catalog: GraftCatalog): UnboundProcedure =
    new UnboundProcedure {
    override def name(): String = "maintenance_plan"
    override def description(): String =
      "recommend OPTIMIZE/VACUUM actions per table/partition from " +
        "metadata only (file counts, delete-vector backlog, pending " +
        "crash-recovery markers)"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "maintenance_plan"
      override def description(): String =
        maintenancePlan(catalog).description()
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", StringType)
          .comment("audit table, as <namespace>.<name>").build(),
        ProcedureParameter.in("max_live_files", IntegerType)
          .comment("OPTIMIZE when a target holds more live files " +
            "(default 8)").defaultValue("8").build(),
        ProcedureParameter.in("vector_threshold", IntegerType)
          .comment("VACUUM when a target holds at least this many " +
            "positional delete-vector entries (default 1000)")
          .defaultValue("1000").build(),
        ProcedureParameter.in("small_file_bytes", LongType)
          .comment("OPTIMIZE when a target holds 2+ live files smaller " +
            "than this many bytes, even under max_live_files " +
            "(default 0 = disabled; legacy lines without sizes never " +
            "count as fragments)").defaultValue("0").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val maxFiles = if (input.isNullAt(1)) 8 else input.getInt(1)
        val vecThresh = if (input.isNullAt(2)) 1000 else input.getInt(2)
        val smallBytes = if (input.isNullAt(3)) 0L else input.getLong(3)
        val schema = StructType(Seq(
          StructField("target", StringType, nullable = false),
          StructField("live_files", IntegerType, nullable = false),
          StructField("rows", LongType, nullable = false),
          StructField("delete_vectors", LongType, nullable = false),
          StructField("pending_recovery", IntegerType, nullable = false),
          StructField("action", StringType, nullable = false),
          StructField("recommendation", StringType, nullable = false),
          // appended (round 20) so pre-existing consumers' ordinals hold;
          // null = not every live line carries a size (legacy or mixed
          // manifest — a partial sum would misread as the footprint)
          StructField("live_bytes", LongType, nullable = true)))
        val tables = expandTables(catalog, table)
        val wildcard = tables != Seq(table)
        def pfx(t: String, tgt: String) = if (wildcard) s"$t:$tgt" else tgt
        val allRows = tables.flatMap { t =>
          val (recs, batched) =
            planRecs(catalog, t, maxFiles, vecThresh, smallBytes)
          val dirRows = recs.map { r =>
            val detail =
              if (r.action == "none") r.why
              else r.selector.fold(r.why)(sel =>
                s"${r.why} — partition_filter => '$sel'")
            Array[Any](str(pfx(t, r.target)), r.files, r.rows, r.vectors,
              r.recovery, str(r.action), str(detail),
              r.liveBytes.map(Long.box).orNull)
          }
          // batch summaries: flagged dirs in IN-list calls — "(table)"
          // when one batch covers every flagged dir of the action
          // (single-level layouts), "(batch)" for per-prefix groups
          val summary: Seq[Array[Any]] = batched.toSeq.sortBy(_._1)
            .flatMap { case (act, bs) =>
              val allOfAction = bs.size == 1 &&
                bs.head.targets.size == recs.count(_.action == act)
              bs.map { b =>
                Array[Any](
                  str(pfx(t, if (allOfAction) "(table)" else "(batch)")),
                  0, 0L, 0L, 0, str(act),
                  str(s"batch ${b.targets.size} flagged dirs in one " +
                    s"call — partition_filter => '${b.selector}'"), null)
              }
            }
          dirRows ++ summary
        }
        rowsOf(schema, allRows)
      }
    }
  }

  /** MAINTENANCE EXECUTOR — the closing loop over [[maintenancePlan]]:
    * run the plan's emitted CALLs (VACUUM strictly before OPTIMIZE —
    * the plan encodes crashed-fold VACUUM as the gate OPTIMIZE refuses
    * through), re-plan, and repeat until every target reads "none" or
    * `max_rounds` is hit. Each executed statement is the LITERAL CALL
    * string an operator would copy-paste (same quoted selectors, same
    * IN-list batching: N flagged dirs = one lease), so this procedure
    * also round-trips the recommendation surface end-to-end. Multiple
    * rounds exist because one action can reveal the next (a fold can
    * leave a dir fragmented); the plan itself is the convergence test. */
  def maintenanceApply(catalog: GraftCatalog): UnboundProcedure =
    new UnboundProcedure {
    override def name(): String = "maintenance_apply"
    override def description(): String =
      "execute maintenance_plan's recommendations (VACUUM before " +
        "OPTIMIZE, IN-list batched) and re-plan until convergence"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "maintenance_apply"
      override def description(): String =
        maintenanceApply(catalog).description()
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", StringType)
          .comment("audit table, as <namespace>.<name>").build(),
        ProcedureParameter.in("max_live_files", IntegerType)
          .comment("OPTIMIZE when a target holds more live files " +
            "(default 8)").defaultValue("8").build(),
        ProcedureParameter.in("vector_threshold", IntegerType)
          .comment("VACUUM when a target holds at least this many " +
            "positional delete-vector entries (default 1000)")
          .defaultValue("1000").build(),
        ProcedureParameter.in("target_file_count", IntegerType)
          .comment("base file count for executed OPTIMIZEs (default 1)")
          .defaultValue("1").build(),
        ProcedureParameter.in("max_rounds", IntegerType)
          .comment("apply/re-plan iterations before reporting " +
            "non-convergence (default 4)").defaultValue("4").build(),
        ProcedureParameter.in("small_file_bytes", LongType)
          .comment("OPTIMIZE when a target holds 2+ live files smaller " +
            "than this many bytes (default 0 = disabled)")
          .defaultValue("0").build(),
        ProcedureParameter.in("max_concurrency", IntegerType)
          .comment("tables healed concurrently on a wildcard " +
            "(per-table leases isolate them; default 4)")
          .defaultValue("4").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val maxFiles = if (input.isNullAt(1)) 8 else input.getInt(1)
        val vecThresh = if (input.isNullAt(2)) 1000 else input.getInt(2)
        val tfc = if (input.isNullAt(3)) 1 else input.getInt(3)
        val maxRounds = if (input.isNullAt(4)) 4 else input.getInt(4)
        val smallBytes = if (input.isNullAt(5)) 0L else input.getLong(5)
        val maxConc = math.max(1,
          if (input.isNullAt(6)) 4 else input.getInt(6))
        val spark = org.apache.spark.sql.SparkSession.active
        val cname = catalog.name()
        // a selector travels inside a single-quoted SQL literal: double
        // quotes (quoteVal's own escaping) pass through; a single quote
        // in a partition VALUE needs the SQL '' escape
        def sq(s: String): String = s.replace("'", "''")
        val schema = StructType(Seq(
          StructField("round", IntegerType, nullable = false),
          StructField("target", StringType, nullable = false),
          StructField("action", StringType, nullable = false),
          StructField("executed_call", StringType, nullable = false)))
        val tables = expandTables(catalog, table)
        val wildcard = tables != Seq(table)
        // one table's heal, returning its own rows (PARALLEL-safe: no
        // shared mutable state — wildcard heals run on a bounded pool
        // below, per-table leases already isolate the maintenance ops)
        def healTable(tbl: String): Seq[Array[Any]] = {
        onTableApply(tbl)
        val out = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
        def pfx(tgt: String) = if (wildcard) s"$tbl:$tgt" else tgt
        var round = 1
        var converged = false
        while (!converged && round <= maxRounds) {
          val (recs, batched) =
            planRecs(catalog, tbl, maxFiles, vecThresh, smallBytes)
          val actionable = recs.filter(_.action != "none")
          if (actionable.isEmpty) {
            out += Array[Any](round, str(pfx("(plan)")), str("none"),
              str(s"converged: every target healthy"))
            converged = true
          } else {
            // one action per flagged group, VACUUM strictly first: a
            // missing selector means the dir is not selector-addressable
            // (unpartitioned table or a bucket-level layout) → ONE
            // whole-table call; otherwise batches first, then the
            // uncovered stragglers per-dir
            def exec(action: String, mkCall: Option[String] => String): Unit = {
              val flagged = actionable.filter(_.action == action)
              if (flagged.isEmpty) ()
              else if (flagged.exists(_.selector.isEmpty)) {
                val c = mkCall(None)
                spark.sql(c)
                out += Array[Any](round, str(pfx("(table)")), str(action),
                  str(c))
              } else {
                val batches = batched.getOrElse(action, Seq.empty)
                val covered = batches.flatMap(_.targets).toSet
                batches.foreach { b =>
                  val c = mkCall(Some(b.selector))
                  spark.sql(c)
                  out += Array[Any](round,
                    str(pfx(s"${b.targets.size} dirs")), str(action), str(c))
                }
                flagged.filterNot(r => covered.contains(r.target)).foreach {
                  r =>
                    val c = mkCall(r.selector)
                    spark.sql(c)
                    out += Array[Any](round, str(pfx(r.target)), str(action),
                      str(c))
                }
              }
            }
            exec("VACUUM", sel =>
              s"CALL $cname.system.vacuum(table => '$tbl'" +
                sel.fold("")(s => s", partition_filter => '${sq(s)}'") + ")")
            exec("OPTIMIZE", sel =>
              s"CALL $cname.system.optimize(table => '$tbl', " +
                s"target_file_count => $tfc" +
                sel.fold("")(s => s", partition_filter => '${sq(s)}'") + ")")
            round += 1
          }
        }
        if (!converged) {
          val (recs, _) =
            planRecs(catalog, tbl, maxFiles, vecThresh, smallBytes)
          val left = recs.count(_.action != "none")
          out += Array[Any](round, str(pfx("(plan)")),
            str(if (left == 0) "none" else "stuck"),
            str(if (left == 0) "converged: every target healthy"
            else s"$left actionable target(s) after ${maxRounds} rounds"))
        }
        out.toSeq
        } // healTable
        // wildcard heals run CONCURRENTLY on a bounded pool — leases are
        // per-table (chaos-proven isolation), so a wide namespace's
        // wall-clock is max-of-tables, not sum. Result rows keep the
        // deterministic table order regardless of completion order.
        val out: Seq[Array[Any]] =
          if (tables.size <= 1 || maxConc == 1) tables.flatMap(healTable)
          else {
            // daemon threads + shutdownNow on failure: a table whose heal
            // throws must not leave SIBLING heals running invisibly in
            // the background (an immediate retry would race their leases
            // on tables that look idle), and the surfaced error is the
            // heal's own, not the ExecutionException wrapper
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(maxConc, tables.size),
              new java.util.concurrent.ThreadFactory {
                override def newThread(r: Runnable): Thread = {
                  val t = new Thread(r, "graft-maint-apply")
                  t.setDaemon(true)
                  t
                }
              })
            try {
              val futs = tables.map { t =>
                pool.submit(new java.util.concurrent.Callable[Seq[Array[Any]]] {
                  override def call(): Seq[Array[Any]] = healTable(t)
                })
              }
              try futs.flatMap(_.get())
              catch {
                case e: java.util.concurrent.ExecutionException =>
                  pool.shutdownNow()
                  pool.awaitTermination(60,
                    java.util.concurrent.TimeUnit.SECONDS)
                  throw Option(e.getCause).getOrElse(e)
              }
            } finally pool.shutdown()
          }
        rowsOf(schema, out)
      }
    }
  }

  def vacuum(catalog: GraftCatalog): UnboundProcedure = new UnboundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "reclaim base-superseded epoch files and expire time travel beyond " +
        "the newest retain_last versions"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "vacuum"
      override def description(): String = vacuum(catalog).description()
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", StringType)
          .comment("audit table, as <namespace>.<name>").build(),
        ProcedureParameter.in("retain_last", IntegerType)
          .defaultValue("0")
          .comment("how many newest superseded versions stay travelable").build(),
        ProcedureParameter.in("clean_orphans", BooleanType)
          .defaultValue("false")
          .comment("also remove unreferenced data files and staged " +
            "leftovers (single-writer assumption)").build(),
        ProcedureParameter.in("older_than", TimestampType)
          .defaultValue("CAST(NULL AS TIMESTAMP)")
          .comment("expire only epochs whose recorded commit time is " +
            "before this instant (epochs without a commit time never " +
            "time-expire)").build(),
        ProcedureParameter.in("partition_filter", StringType)
          .defaultValue("CAST(NULL AS STRING)")
          .comment("reclaim/fold only matching partitions of a " +
            "partitioned table: 'col=value[,col=value]' on identity " +
            "partition columns").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val retain = if (input.isNullAt(1)) 0 else input.getInt(1)
        val orphans = !input.isNullAt(2) && input.getBoolean(2)
        val olderThanMs =
          if (input.isNullAt(3)) None else Some(input.getLong(3) / 1000L)
        val partitionFilter: Seq[AuditMaintenance.PartPred] =
          if (input.isNullAt(4)) Nil
          else AuditMaintenance.parsePartitionFilter(
            input.getUTF8String(4).toString, "VACUUM")
        val (path, schema, part) = catalog.resolveAuditTableFull(table)
        val cmv = catalog.resolveAuditColMap(table)
        val selDirs = part match {
          case Some(ps) if partitionFilter.nonEmpty =>
            AuditMaintenance.partitionSelector(path,
              AuditPartition.parseSpecs(ps),
              partitionFilter.map {
                case AuditMaintenance.PartEq(c, v) =>
                  AuditMaintenance.PartEq(cmv.getOrElse(c, c), v)
                case AuditMaintenance.PartIn(c, vs) =>
                  AuditMaintenance.PartIn(cmv.getOrElse(c, c), vs)
                case AuditMaintenance.PartCmp(c, o, v) =>
                  AuditMaintenance.PartCmp(cmv.getOrElse(c, c), o, v)
              }, "VACUUM", schema)
          case None if partitionFilter.nonEmpty =>
            throw new IllegalArgumentException(
              s"audit VACUUM: partition_filter needs a partitioned " +
                s"table; $table is unpartitioned")
          case _ => None
        }
        val (deleted, expired) = AuditMaintenance.vacuum(path, retain, orphans,
          part.toSeq.flatMap(AuditPartition.parseSpecs(_).map(_.col)),
          olderThanMs, schema = Some(schema), selDirs = selDirs)
        one(StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("deleted_files", IntegerType, nullable = false),
          StructField("expired_through", LongType, nullable = false))),
          str(table), deleted, expired)
      }
    }
  }

  /** `CALL graft.system.restore('db.t', version => v)` — the
    * bad-publish undo: physically remove every streaming epoch after
    * `v`. Pure streaming history only (batch appends / DML / a base
    * checkpoint carry no epoch axis — refused loudly); a live streaming
    * writer must stop first. Running tails fail loudly on the shrunk
    * log and restart from fresh checkpoints. */
  def restore(catalog: GraftCatalog): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "restore"
      override def description(): String =
        "restore a pure streaming-history table to an epoch: epochs " +
          "after it are physically removed"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "restore"
          override def description(): String = restore(catalog).description()
          override def isDeterministic: Boolean = false
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("audit table, as <namespace>.<name>").build(),
            ProcedureParameter.in("version", LongType)
              .comment("target epoch (the newest one to KEEP)").build())
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val table = input.getUTF8String(0).toString
            val version = input.getLong(1)
            val (path, _, part) = catalog.resolveAuditTableFull(table)
            val (files, rows) = AuditMaintenance.restore(path, version,
              part.toSeq.flatMap(AuditPartition.parseSpecs(_).map(_.col)))
            one(StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("restored_to", LongType, nullable = false),
              StructField("removed_files", IntegerType, nullable = false),
              StructField("removed_rows", LongType, nullable = false))),
              str(table), version, files, rows)
          }
        }
    }

  def repartitionTable(catalog: GraftCatalog): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "repartition_table"
      override def description(): String =
        "rewrite an audit table into a new PARTITIONED BY layout " +
          "(staged tree + atomic swap); resets history like a CTAS"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "repartition_table"
          override def description(): String =
            repartitionTable(catalog).description()
          override def isDeterministic: Boolean = false
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("audit table, as <namespace>.<name>").build(),
            ProcedureParameter.in("spec", StringType)
              .comment("new partition spec, e.g. 'day' / 'y,m' / " +
                "'bucket(8,id)'").build())
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val table = input.getUTF8String(0).toString
            val spec = input.getUTF8String(1).toString
            val (path, _, oldPart) = catalog.resolveAuditTableFull(table)
            val spark = SparkSession.active
            val full = catalog.name() + "." + table
            val colMap = catalog.loadTable(
              org.apache.spark.sql.connector.catalog.Identifier.of(
                table.split('.').init, table.split('.').last)) match {
              case a: AuditTable => a.columnMap
              case _ => Map.empty[String, String]
            }
            // store the NORMALIZED spelling (serializeSpecs∘parseSpecs):
            // the data dir's _PARTSPEC replica holds the normalized form,
            // and a raw-vs-normalized mismatch ('day, region' vs
            // 'day,region') would make every post-repartition loadTable
            // spuriously re-fire the crash-heal metadata write
            val (dirs, rows) = AuditMaintenance.repartitionTable(spark,
              full, path, oldPart, spec, colMap,
              onSwapped = () => catalog.updatePartitionSpec(table,
                AuditPartition.serializeSpecs(AuditPartition.parseSpecs(spec))))
            one(StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("spec", StringType, nullable = false),
              StructField("directories", IntegerType, nullable = false),
              StructField("rows", LongType, nullable = false))),
              str(table), str(spec), dirs, rows)
          }
        }
    }
}
