package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** PER-DIRECTORY BASE CHECKPOINTS (partitioned OPTIMIZE): unlike the
  * retired stage-and-swap design, compaction preserves every history
  * axis in place — so partitioned VERSION AS OF, TIMESTAMP AS OF, and
  * the streaming tail all keep resolving ACROSS a compaction, and the
  * partitioned change feed's fold-stable entries axis lets a running
  * tail SURVIVE it (only pre-fold-axis checkpoints restart loudly).
  * Travel composes with static partition pruning (the pruned plan opens
  * only the surviving directory's partition). */
class AuditPartBaseSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session

  private def freshCat(tag: String): (String, java.nio.file.Path) = {
    val wh = tempDir(s"graft_pb_${tag}_")
    val cat = s"graft_pb_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    (cat, wh)
  }

  private def streamEpochs(cat: String, pages: Int): Unit = {
    val ckpt = tempDir("graft_pb_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", pages.toString).option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), (col("id") % 3).as("flag"))
      .writeStream.option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable(s"$cat.db.t")
    try q.processAllAvailable() finally q.stop()
  }

  test("VERSION AS OF resolves across a partitioned compaction via " +
    "base epoch origins") {
    val (cat, wh) = freshCat("v")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    streamEpochs(cat, 3) // epochs 0,1,2 → ids 0..299
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 1)") // batch: never pinned
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 3)")
    // all three dirs compacted: no live entries, a base each
    val path = wh.resolve("db").resolve("t")
    (0 to 2).foreach { f =>
      val pdir = path.resolve(s"flag=$f").toString
      // everything (epochs AND the pre-compaction batch row) folded in
      assert(AuditPartition.manifestEntries(
        java.nio.file.Paths.get(pdir)).isEmpty)
      assert(AuditBase.read(pdir).isDefined)
    }
    // VERSION AS OF 1 = epochs 0..1 = ids 0..199, batch row excluded
    val v1 = spark.sql(s"SELECT count(*) AS n, sum(id) AS s " +
      s"FROM $cat.db.t VERSION AS OF 1").head
    assert(v1.getLong(0) === 200L)
    assert(v1.getLong(1) === (0L until 200L).sum)
    // current = 300 streamed + 1 batch
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head.getLong(0)
      === 301L)
  }

  test("TIMESTAMP AS OF travels across the compaction, per-dir origins, " +
    "with static partition pruning in the plan") {
    val (cat, wh) = freshCat("t")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    streamEpochs(cat, 2) // ids 0..199
    val path = wh.resolve("db").resolve("t").toString
    val tPre = AuditScan.epochTimestamps(path).values.max
    Thread.sleep(4)
    spark.sql(s"UPDATE $cat.db.t SET id = id + 10000 WHERE id % 50 = 7")
    def dirMax: Long = AuditPartition.listDirsByCols(path, Seq("flag"))
      .map { case (_, d) => AuditBase.maxVisibleTs(d.toString) }.max
    val tUpd = dirMax
    Thread.sleep(4)
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 2)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 0)")
    val tNow = dirMax
    def at(ms: Long, where: String = ""): (Long, Long) = {
      val r = spark.sql(s"SELECT count(*), sum(id) FROM $cat.db.t " +
        s"TIMESTAMP AS OF timestamp_millis($ms) $where").head
      (r.getLong(0), r.getLong(1))
    }
    val base = (0L until 200L).sum
    assert(at(tPre) === ((200L, base)))
    assert(at(tUpd) === ((200L, base + 4 * 10000L))) // ids 7,57,107,157
    assert(at(tNow) === ((201L, base + 4 * 10000L + 9000L)))
    // pruned travel: only flag=1 rows at tPre (ids ≡ 1 mod 3)
    val onlyF1 = (0L until 200L).filter(_ % 3 == 1)
    assert(at(tPre, "WHERE flag = 1") === ((onlyF1.size.toLong, onlyF1.sum)))
    // PLAN AUDIT: the pruned travel read plans exactly ONE dir partition
    val pruned = spark.sql(s"SELECT id FROM $cat.db.t " +
      s"TIMESTAMP AS OF timestamp_millis($tPre) WHERE flag = 1")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val parts = scan.inputPartitions.collect { case p: AuditDirPartition => p }
    assert(parts.size === 1, s"expected 1 pruned dir, got ${parts.size}")
    assert(parts.head.relDir === "flag=1")
    assert(parts.head.baseFiles.nonEmpty, "travel must read the dir's base")
    // refusal before the first commit is still loud
    val ex = intercept[Exception](at(tPre - 1000000L))
    assert(ex.getMessage.contains("TIMESTAMP AS OF"), ex.getMessage)
  }

  test("a running streaming tail keeps replaying exact epoch slices " +
    "across the compaction") {
    val (cat, wh) = freshCat("s")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    streamEpochs(cat, 3)
    val path = wh.resolve("db").resolve("t").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType)))
    val tail = new AuditMicroBatchStream(path, schema, schema,
      Seq(AuditPartition.Level("flag", LongType, None)))
    // consume epoch 0, checkpoint, then compact
    val off1 = PagedOffset(1)
    assert(tail.planInputPartitions(PagedOffset(0), off1).length > 0)
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 2)")
    // the tail resumes PAST the compaction: epochs 1..2 resolve through
    // the folded tombstones (files still on disk), exact row totals
    val parts = tail.planInputPartitions(off1, tail.latestOffset())
    val rows = parts.collect { case p: AuditFilePartition =>
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(p.file)).size.toLong
    }.sum
    assert(rows === 200L, s"epochs 1..2 must replay exactly, got $rows")
  }

  test("VACUUM reclaims folded files; tails replay reclaimed epochs " +
    "from the per-dir base; reads stay exact") {
    val (cat, wh) = freshCat("vac")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    streamEpochs(cat, 3) // epochs 0..2: ids 0..299
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 1)")
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 3)")
    val path = wh.resolve("db").resolve("t").toString
    val dirs = AuditPartition.listDirsByCols(path, Seq("flag"))
    def foldedOnDisk(): Int = dirs.map { case (_, d) =>
      AuditBase.readManifest(d.toString).count(e => e.folded &&
        java.nio.file.Files.exists(d.resolve(e.file)))
    }.sum
    assert(foldedOnDisk() > 0, "compaction leaves folded files on disk")
    val res = spark.sql(
      s"CALL $cat.system.vacuum(table => 'db.t')").collect()
    assert(res.head.getInt(1) > 0, res.toSeq) // deleted_files
    assert(foldedOnDisk() === 0, "VACUUM reclaims every folded file")
    // tombstones stay (travel vintages + CDF fold axis)
    assert(dirs.forall { case (_, d) =>
      AuditBase.readManifest(d.toString).exists(_.folded) })
    // current and pinned reads stay exact (resolved from the base)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head.getLong(0)
      === 301L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 1")
      .head.getLong(0) === 200L)
    // a tail whose slice spans the reclaimed epochs replays them from
    // the base by origin, exactly
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType)))
    val tail = new AuditMicroBatchStream(path, schema, schema,
      Seq(AuditPartition.Level("flag", LongType, None)))
    val fac = tail.createReaderFactory()
    val rows = tail.planInputPartitions(PagedOffset(0), tail.latestOffset())
      .map { p =>
        val r = fac.createReader(p)
        var n = 0L
        try { while (r.next()) n += 1 } finally r.close()
        n
      }.sum
    assert(rows === 300L, s"all 3 epochs must replay exactly, got $rows")
    // retain_last keeps the newest superseded epochs' files on disk
    val (cat2, wh2) = freshCat("vac2")
    spark.sql(s"CREATE TABLE $cat2.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    val ck2 = tempDir("graft_pb_ck2")
    val q2 = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "3").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), (col("id") % 3).as("flag"))
      .writeStream.option("checkpointLocation", ck2.toString)
      .outputMode("append").toTable(s"$cat2.db.t")
    try q2.processAllAvailable() finally q2.stop()
    spark.sql(s"CALL $cat2.system.optimize(table => 'db.t', " +
      "target_file_count => 3)")
    spark.sql(s"CALL $cat2.system.vacuum(table => 'db.t', " +
      "retain_last => 1)").collect()
    val path2 = wh2.resolve("db").resolve("t").toString
    val epochRe = """part-e(-?\d+)-\d+\.jsonl""".r
    val survivingEpochs = AuditPartition.listDirsByCols(path2, Seq("flag"))
      .flatMap { case (_, d) =>
        AuditBase.readManifest(d.toString).collect {
          case e if e.folded && epochRe.pattern.matcher(e.file).matches() &&
            java.nio.file.Files.exists(d.resolve(e.file)) =>
            AuditScan.epochOf(e.file).get
        }
      }.toSet
    assert(survivingEpochs === Set(2L),
      s"retain_last => 1 keeps exactly the newest epoch: $survivingEpochs")
  }

  test("storage-partitioned join SURVIVES compaction: zero exchanges " +
    "over two compacted tables") {
    val (cat, _) = freshCat("spj")
    spark.sql(s"CREATE TABLE $cat.db.a (flag BIGINT, qty BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    spark.sql(s"CREATE TABLE $cat.db.b (flag BIGINT, price BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    spark.sql(s"INSERT INTO $cat.db.a SELECT id % 3, id FROM range(60)")
    spark.sql(s"INSERT INTO $cat.db.b VALUES (0, 10), (1, 20), (2, 30)")
    spark.sql(s"CALL $cat.system.optimize(table => 'db.a', " +
      "target_file_count => 3)")
    spark.sql(s"CALL $cat.system.optimize(table => 'db.b', " +
      "target_file_count => 3)")
    val was = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val wasB = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(s"SELECT a.flag, a.qty, b.price " +
        s"FROM $cat.db.a a JOIN $cat.db.b b ON a.flag = b.flag")
      val sums = j.collect().groupBy(_.getLong(0))
        .map { case (f, rs) => (f, rs.map(r => r.getLong(1) * r.getLong(2)).sum) }
      val exp = (0L to 2L).map(f => (f,
        (0L until 60L).filter(_ % 3 == f).sum * (10L + f * 10L))).toMap
      assert(sums === exp)
      // base files read INSIDE the dir partitions keep the KeyGrouped
      // contract — both join-side exchanges elided
      val full = j.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), full.take(1500))
      assert(!plan.contains("Exchange"),
        "SPJ should elide both join-side exchanges:\n" + full.take(2500))
    } finally {
      was.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
      wasB.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("a fresh partitioned feed over a compacted+vacuumed table emits " +
    "the FULL history from the base by origin") {
    val (cat, wh) = freshCat("hist")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    streamEpochs(cat, 2) // ids 0..199
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 1)")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id % 100 = 3") // 2 deletes
    val path = wh.resolve("db").resolve("t").toString
    val cdfSchema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType),
      StructField("_commit_ts", LongType),
      StructField("_file", StringType)))
    def feed() = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path).option("partitionby", "flag")
      .option("changeFeed", "true").load()
    def byType(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("_change_type").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    val before = byType(feed())
    assert(before === Map("insert" -> 201L, "delete" -> 2L), before.toString)
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 2)")
    // compacted: a FRESH feed still emits the whole history (base-origin
    // replay), with _commit_ts on the batch insert and dir-qualified ids
    val afterOpt = feed()
    assert(byType(afterOpt) === before, byType(afterOpt).toString)
    assert(afterOpt.where(col("id") === 9000L &&
      col("_commit_ts").isNull).count() === 0L,
      "base-resolved batch insert must carry its tombstone commit ts")
    assert(afterOpt.where(!col("_file").contains("/")).count() === 0L,
      "partitioned feed events must carry dir-qualified row ids")
    // ...and after VACUUM reclaims the folded originals, still exact
    // (delete events read original values from the base by origin)
    spark.sql(s"CALL $cat.system.vacuum(table => 'db.t')").collect()
    val afterVac = feed()
    assert(byType(afterVac) === before, byType(afterVac).toString)
    // the deletes carry the ORIGINAL row values back
    assert(afterVac.where(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 103L))
  }

  test("a running partitioned change-feed tail SURVIVES the compaction: " +
    "the entries axis is fold-stable") {
    val (cat, wh) = freshCat("c")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    streamEpochs(cat, 2)
    val path = wh.resolve("db").resolve("t").toString
    val cdfSchema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType)))
    val feed = new AuditPartitionedCdfStream(path, cdfSchema,
      Seq(AuditPartition.Level("flag", LongType, None)))
    val consumed = feed.latestOffset()
    // offsets round-trip the fold axis
    assert(feed.deserializeOffset(consumed.json()).asInstanceOf[AuditPartCdfOffset]
      .dirs.values.forall(_.mfolds === 0L))
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 2)")
    // the tail RESUMES across the compaction: entries kept their
    // positions (tombstoned in place), so nothing new to emit...
    assert(feed.planInputPartitions(consumed, feed.latestOffset()).isEmpty)
    // ...and a post-compaction append flows through as usual
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 1)")
    val parts = feed.planInputPartitions(consumed, feed.latestOffset())
    assert(parts.length === 1, parts.toSeq)
    // a FRESH slice over the whole axis replays the compacted history
    // (still on disk here) exactly once
    val fac = feed.createReaderFactory()
    val events = feed.planInputPartitions(feed.initialOffset(),
      feed.latestOffset()).map { p =>
      val r = fac.createReader(p)
      var n = 0L
      try { while (r.next()) n += 1 } finally r.close()
      n
    }.sum
    assert(events === 201L, s"full history must replay, got $events")
    // ...and still does after VACUUM reclaims the folded originals
    spark.sql(s"CALL $cat.system.vacuum(table => 'db.t')").collect()
    val events2 = feed.planInputPartitions(feed.initialOffset(),
      feed.latestOffset()).map { p =>
      val r = fac.createReader(p)
      var n = 0L
      try { while (r.next()) n += 1 } finally r.close()
      n
    }.sum
    assert(events2 === 201L, s"base-origin replay must cover, got $events2")
    // a LEGACY (pre-fold-axis) checkpoint over a folded dir restarts
    // loudly — its live-entry axis cannot be translated
    val legacy = AuditPartCdfOffset(consumed.asInstanceOf[AuditPartCdfOffset]
      .dirs.map { case (k, v) => (k, v.copy(folds = -1L, mfolds = -1L)) })
    val ex = intercept[Exception](
      feed.planInputPartitions(legacy, feed.latestOffset()))
    assert(ex.getMessage.contains("folded"), ex.getMessage)
  }
}
