package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** OPTIMIZE / VACUUM over the audit table format: compaction into an
  * origin-tagged base checkpoint, superseded-epoch reclamation, and the
  * retention-bounded time-travel expiry — with every read contract
  * (current, pinned, metadata count, change feed, epoch tail, delta DML)
  * asserted identical across maintenance. */
class AuditMaintenanceSpec extends SparkSpec with TempDirs {
  // made outside any test, so the shared warehouse lives until the suite ends
  private val wh = tempDir("graft_maint_wh")

  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.graft_m", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_m.warehouse", wh.toString)
  }

  private def dataDir(t: String) = wh.resolve("db").resolve(t)

  private def jsonlFiles(t: String, prefix: String): Seq[String] = {
    val d = dataDir(t)
    if (!java.nio.file.Files.isDirectory(d)) return Seq.empty
    val listing = java.nio.file.Files.list(d)
    try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.endsWith(".jsonl")).toSeq.sorted
    finally listing.close()
  }

  /** 4 streamed epochs (ids 0..399), a delta MERGE (update 5,17; insert
    * 1000) and a delta DELETE (3,103,203,303) — the fixture every test
    * compacts. */
  private def buildTable(t: String): Unit = {
    init()
    spark.sql(s"DROP TABLE IF EXISTS graft_m.db.$t")
    spark.sql(s"CREATE TABLE graft_m.db.$t (id BIGINT, v BIGINT) USING audit")
    val ckpt = tempDir("graft_maint_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "4").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), col("duration_ms").as("v"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", dataDir(t).toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.sql(
      s"""MERGE INTO graft_m.db.$t t
         |USING (SELECT * FROM VALUES (5L, 111L), (17L, 111L), (1000L, 222L)
         |       AS s(id, v)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(s"DELETE FROM graft_m.db.$t WHERE id % 100 = 3 AND id < 400")
  }

  private def snap(sqlText: String): Seq[(Long, Long)] =
    spark.sql(sqlText).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_commit_epoch",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_pos",
      org.apache.spark.sql.types.LongType)))

  private def cdfEvents(t: String): Seq[(String, Any, Long, Long, String, Long)] =
    spark.read.schema(cdfSchema).format(classOf[JsonAuditSink].getName)
      .option("path", dataDir(t).toString).option("changeFeed", "true").load()
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        r.getLong(0), r.getLong(1), r.getString(4), r.getLong(5)))
      .toSeq.sortBy(e => (e._1, e._5, e._6))

  test("OPTIMIZE compacts to sorted base files; every read is unchanged") {
    buildTable("opt1")
    val curBefore = snap("SELECT id, v FROM graft_m.db.opt1 ORDER BY id")
    val pinBefore = snap("SELECT id, v FROM graft_m.db.opt1 VERSION AS OF 2 ORDER BY id")
    val cdfBefore = cdfEvents("opt1")
    assert(curBefore.size === 397) // 400 - 4 deleted - 2 updated-old + 3 inserted
    assert(pinBefore.size === 300) // pure epochs 0..2, vectors ignored

    val res = spark.sql(
      "CALL graft_m.system.optimize(table => 'db.opt1', " +
        "target_file_count => 2, sort_by => 'id')").collect()
    assert(res.head.getInt(1) === 2, res.toSeq)    // base_files
    assert(res.head.getLong(2) === 403L, res.toSeq) // full history incl deleted
    assert(res.head.getLong(3) === 3L, res.toSeq)   // through epoch

    assert(jsonlFiles("opt1", "base-").size === 2)
    assert(jsonlFiles("opt1", "part-e").size === 4) // epoch files wait for VACUUM
    // folded batch files (the MERGE's inserts) reclaimed; epoch files stay
    assert(jsonlFiles("opt1", "part-").forall(_.startsWith("part-e")))

    // within-file sort honored (ids ascending inside each base file)
    val ids = java.nio.file.Files
      .readAllLines(dataDir("opt1").resolve(jsonlFiles("opt1", "base-").head))
      .asScala.map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
    assert(ids.toSeq === ids.toSeq.sorted)

    // current, pinned, metadata count, and the change feed are identical
    assert(snap("SELECT id, v FROM graft_m.db.opt1 ORDER BY id") === curBefore)
    assert(snap("SELECT id, v FROM graft_m.db.opt1 VERSION AS OF 2 ORDER BY id")
      === pinBefore)
    val cnt = spark.sql("SELECT count(*) FROM graft_m.db.opt1")
    assert(cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(cnt.head.getLong(0) === 397L)
    assert(cdfEvents("opt1") === cdfBefore)
  }

  test("delta DML, appends, and re-OPTIMIZE keep working on a compacted table") {
    buildTable("opt2")
    spark.sql("CALL graft_m.system.optimize(table => 'db.opt2', target_file_count => 2)")
    // delta UPDATE against base rows: vectors key on ORIGIN row ids
    spark.sql("UPDATE graft_m.db.opt2 SET v = 1 WHERE id IN (7, 250)")
    assert(snap("SELECT id, v FROM graft_m.db.opt2 WHERE id IN (7, 250) ORDER BY id")
      === Seq((7L, 1L), (250L, 1L)))
    // pinned history still shows the pre-UPDATE values
    val pin = snap("SELECT id, v FROM graft_m.db.opt2 VERSION AS OF 2 ORDER BY id")
    assert(pin.size === 300 && pin.count(_._2 == 1L) === 0)
    // the UPDATE and the append land as fresh live batch files whose
    // names never reuse a folded entry's (delete vectors key on them)
    spark.sql("INSERT INTO graft_m.db.opt2 VALUES (2000, 9)")
    val manifest = AuditBase.readManifest(dataDir("opt2").toString)
    val folded = manifest.filter(_.folded).map(_.file).toSet
    val live = manifest.filterNot(_.folded)
    // 2 updated rows + 1 appended row, all in fresh live files
    assert(folded.nonEmpty && live.map(_.rows).sum === 3L, manifest)
    assert(live.forall(e => !folded(e.file)), manifest)
    assert(spark.sql("SELECT count(*) FROM graft_m.db.opt2").head.getLong(0) === 398L)
    val cur = snap("SELECT id, v FROM graft_m.db.opt2 ORDER BY id")
    // re-OPTIMIZE folds everything again; answers stable
    spark.sql("CALL graft_m.system.optimize(table => 'db.opt2', target_file_count => 1)")
    assert(jsonlFiles("opt2", "base-").size === 1)
    assert(snap("SELECT id, v FROM graft_m.db.opt2 ORDER BY id") === cur)
    assert(snap("SELECT id, v FROM graft_m.db.opt2 VERSION AS OF 2 ORDER BY id")
      === pin)
  }

  test("VACUUM reclaims epoch files, retains recent versions, expires the rest") {
    buildTable("vac1")
    val pin3 = snap("SELECT id, v FROM graft_m.db.vac1 VERSION AS OF 3 ORDER BY id")
    val cur = snap("SELECT id, v FROM graft_m.db.vac1 ORDER BY id")
    val cdf = cdfEvents("vac1")
    spark.sql("CALL graft_m.system.optimize(table => 'db.vac1', target_file_count => 2)")
    val res = spark.sql(
      "CALL graft_m.system.vacuum(table => 'db.vac1', retain_last => 2)").collect()
    assert(res.head.getInt(1) === 4, res.toSeq)     // 4 epoch files reclaimed
    assert(res.head.getLong(2) === 1L, res.toSeq)   // expired through epoch 1
    assert(jsonlFiles("vac1", "part-e").isEmpty)

    // retained versions answer (from the base); expired ones error cleanly
    assert(snap("SELECT id, v FROM graft_m.db.vac1 VERSION AS OF 3 ORDER BY id")
      === pin3)
    assert(snap("SELECT id, v FROM graft_m.db.vac1 VERSION AS OF 2 ORDER BY id")
      .size === 300)
    val err = intercept[Exception](
      spark.sql("SELECT * FROM graft_m.db.vac1 VERSION AS OF 1").collect())
    assert(err.getMessage.contains("expired") ||
      Option(err.getCause).exists(_.getMessage.contains("expired")),
      err.getMessage)
    val errCnt = intercept[Exception](
      spark.sql("SELECT count(*) FROM graft_m.db.vac1 VERSION AS OF 0").collect())
    assert(errCnt.getMessage.contains("expired") ||
      Option(errCnt.getCause).exists(_.getMessage.contains("expired")))

    // current state and the full change feed are untouched
    assert(snap("SELECT id, v FROM graft_m.db.vac1 ORDER BY id") === cur)
    assert(cdfEvents("vac1") === cdf)

    // the epoch TAIL replays every epoch from the base (same offset axis)
    val tailCkpt = tempDir("graft_maint_tail")
    val outDir = tempDir("graft_maint_out")
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(cdfSchema.take(2)))
      .format(classOf[JsonAuditSink].getName)
      .option("path", dataDir("vac1").toString).load()
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", tailCkpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val replayed = spark.read.parquet(outDir.toString)
    assert(replayed.count() === 400L) // all 4 epochs, pure insert history
    assert(replayed.agg(sum("id")).head.getLong(0) === (0L until 400L).sum)
  }

  test("a sort_by base reports its ordering: per-partition sorts are elided") {
    buildTable("ord1")
    spark.sql("CALL graft_m.system.optimize(table => 'db.ord1', " +
      "target_file_count => 2, sort_by => 'id')")
    val df = spark.sql("SELECT id, v FROM graft_m.db.ord1")
      .sortWithinPartitions("id")
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("Sort "),
      df.queryExecution.executedPlan.toString.take(800))
    // an unsorted append withdraws the ordering claim — the sort returns
    spark.sql("INSERT INTO graft_m.db.ord1 VALUES (50000, 1)")
    val df2 = spark.sql("SELECT id, v FROM graft_m.db.ord1")
      .sortWithinPartitions("id")
    df2.collect()
    assert(df2.queryExecution.executedPlan.toString.contains("Sort "),
      df2.queryExecution.executedPlan.toString.take(800))
  }

  test("OPTIMIZE zorder_by clusters files in every dimension; sort_by in one") {
    init()
    // 80x80 grid over (a, b), written unclustered (hash-shuffled, 8 files)
    def grid(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graft_m.db.$t")
      spark.sql(s"CREATE TABLE graft_m.db.$t (a BIGINT, b BIGINT) USING audit")
      spark.range(0, 6400).toDF("id")
        .select((col("id") % 80).as("a"), expr("id DIV 80").as("b"))
        .repartition(8, col("id"))
        .write.format(classOf[JsonAuditSink].getName)
        .option("path", dataDir(t).toString).mode("append").save()
    }
    def survivors(t: String, pred: org.apache.spark.sql.Column): Int =
      spark.table(s"graft_m.db.$t").where(pred).rdd.getNumPartitions

    grid("zo1")
    val before = snap("SELECT a, b FROM graft_m.db.zo1 ORDER BY a, b")
    // unclustered: every file spans both full ranges — nothing skips
    assert(survivors("zo1", col("a") >= 10L && col("a") < 20L) === 8)
    spark.sql("CALL graft_m.system.optimize(table => 'db.zo1', " +
      "target_file_count => 16, zorder_by => 'a,b')")
    // discrete tile splits may leave a partition empty: count <= target
    val nFiles = jsonlFiles("zo1", "base-").size
    assert(nFiles >= 12 && nFiles <= 16, nFiles)
    // one-eighth slices of EITHER dimension now open a minority of files
    val aSurv = survivors("zo1", col("a") >= 10L && col("a") < 20L)
    val bSurv = survivors("zo1", col("b") >= 10L && col("b") < 20L)
    assert(aSurv <= nFiles / 2, s"a-slice opened $aSurv of $nFiles files")
    assert(bSurv <= nFiles / 2, s"b-slice opened $bSurv of $nFiles files")
    // and answers are unchanged
    assert(snap("SELECT a, b FROM graft_m.db.zo1 ORDER BY a, b") === before)
    assert(spark.table("graft_m.db.zo1")
      .where(col("a") >= 10L && col("a") < 20L).count() === 800L)

    // contrast: lexicographic sort_by 'a' prunes a-slices hard but leaves
    // b-slices opening every file (each file spans the full b range)
    grid("zo2")
    spark.sql("CALL graft_m.system.optimize(table => 'db.zo2', " +
      "target_file_count => 16, sort_by => 'a')")
    val nFiles2 = jsonlFiles("zo2", "base-").size
    assert(survivors("zo2", col("a") >= 10L && col("a") < 20L) <= 4)
    assert(survivors("zo2", col("b") >= 10L && col("b") < 20L) === nFiles2)

    // guardrails: mutual exclusion and non-integral columns fail loudly
    val ex1 = intercept[Exception](spark.sql(
      "CALL graft_m.system.optimize(table => 'db.zo1', " +
        "sort_by => 'a', zorder_by => 'a,b')").collect())
    assert(ex1.getMessage.contains("mutually exclusive"), ex1.getMessage)
    val ex2 = intercept[Exception](spark.sql(
      "CALL graft_m.system.optimize(table => 'db.zo1', " +
        "zorder_by => 'nope')").collect())
    assert(ex2.getMessage.contains("not in table schema"), ex2.getMessage)
  }

  test("z-order bounds: a mostly-null column takes the exact quantile pass") {
    // 40k rows: the 5% sample holds ~2000 rows, far above 20 per bucket,
    // but the 1%-dense column has only ~20 non-null sampled values — too
    // few to cut 8 buckets, so both columns take the exact pass
    val df = spark.range(0, 40000).toDF("id").select(col("id").as("dense"),
      when(col("id") % 100 === 0, col("id") / 100).cast("long").as("sparse"))
    val probs = (1 until 8).map(_.toDouble / 8).toArray
    val exact = df.select(col("dense").cast("double"),
        col("sparse").cast("double"))
      .stat.approxQuantile(Array("dense", "sparse"), probs, 0.001)
      .map(_.map(_.toLong).distinct.sorted)
    val bounds = AuditMaintenance.zQuantileBounds(df, Seq("dense", "sparse"), 3)
    assert(bounds.map(_.toSeq).toSeq === exact.map(_.toSeq).toSeq)
    assert(bounds(1).length === 7 && bounds(1).last < 400L, bounds(1).toSeq)
  }

  test("OPTIMIZE pins its snapshot: commits landing mid-compaction survive live") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.cc1")
    spark.sql("CREATE TABLE graft_m.db.cc1 (id BIGINT, v BIGINT) USING audit")
    spark.sql("INSERT INTO graft_m.db.cc1 SELECT id, id * 2 FROM range(100)")
    val path = dataDir("cc1").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    // capture the compaction's input snapshot, then land "concurrent"
    // commits before the compaction executes: a batch INSERT and a
    // streaming epoch — the scan plans lazily, so without the pin both
    // would be read into the base AND stay live (duplicates), or be
    // folded without being read (lost rows)
    val snap = AuditMaintenance.snapshot(path)
    spark.sql("INSERT INTO graft_m.db.cc1 VALUES (1000, 1), (1001, 2)")
    val sw = new AuditStreamingWrite(path, schema)
    val stage = dataDir("cc1").resolve("_staging").resolve(sw.stageSub)
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.write(stage.resolve("stage-00000-1.jsonl"),
      (5000L until 5005L).map(i => s"""{"id":$i,"v":9}""" + "\n")
        .mkString.getBytes("UTF-8"))
    sw.commit(0L,
      Array(AuditCommitMessage(Seq(("", "stage-00000-1.jsonl", 5L,
        AuditStats.FileStats(2,
          Map("id" -> (5000L, 5004L), "v" -> (9L, 9L)), Map.empty))))))
    val (_, baseRows, through) = AuditMaintenance.optimize(
      spark, path, schema, 2, None, Nil, Some(snap))
    // the base folded exactly the pinned snapshot; late commits stay live
    assert(baseRows === 100L)
    assert(through === -1L) // no epochs existed at snapshot time
    assert(AuditBase.readManifest(path).exists(!_.folded),
      "the mid-compaction INSERT's manifest entry must stay live")
    assert(jsonlFiles("cc1", "part-e0-").nonEmpty,
      "the mid-compaction epoch's file must survive")
    // nothing lost, nothing duplicated
    val q = spark.sql(
      "SELECT count(*), count(DISTINCT id) FROM graft_m.db.cc1").head
    assert(q.getLong(0) === 107L, q)
    assert(q.getLong(1) === 107L, q)
    // a fresh OPTIMIZE folds the late commits too; answers unchanged
    spark.sql("CALL graft_m.system.optimize(table => 'db.cc1', " +
      "target_file_count => 1)")
    val q2 = spark.sql(
      "SELECT count(*), count(DISTINCT id) FROM graft_m.db.cc1").head
    assert((q2.getLong(0), q2.getLong(1)) === ((107L, 107L)), q2)
  }

  test("LIMIT and sorted-base TopN push a per-partition row cap") {
    buildTable("cap1")
    // plain LIMIT caps every partition before sorting enters the picture
    val lim = spark.sql("SELECT id, v FROM graft_m.db.cap1 LIMIT 5")
    assert(lim.collect().length === 5)
    assert(lim.queryExecution.executedPlan.toString.contains("rowCap=5"),
      lim.queryExecution.executedPlan.toString.take(600))
    // pre-compaction: epoch files are unsorted → TopN must NOT claim
    val pre = spark.sql("SELECT id, v FROM graft_m.db.cap1 ORDER BY id LIMIT 4")
    assert(!pre.queryExecution.executedPlan.toString.contains("rowCap"),
      pre.queryExecution.executedPlan.toString.take(600))
    assert(pre.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 4L)) // 3 deleted
    // sorted base: each file ascending on id → its first k are its top-k
    spark.sql("CALL graft_m.system.optimize(table => 'db.cap1', " +
      "target_file_count => 2, sort_by => 'id')")
    val top = spark.sql("SELECT id, v FROM graft_m.db.cap1 ORDER BY id LIMIT 4")
    assert(top.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 4L))
    assert(top.queryExecution.executedPlan.toString.contains("rowCap=4"),
      top.queryExecution.executedPlan.toString.take(600))
    // descending order is not the base's order → refuse
    val desc = spark.sql("SELECT id, v FROM graft_m.db.cap1 ORDER BY id DESC LIMIT 4")
    assert(!desc.queryExecution.executedPlan.toString.contains("rowCap"))
    assert(desc.collect().map(_.getLong(0)).headOption === Some(1000L))
  }

  test("bucket(n, col) partitioning: routed writes, pruned reads, zero-exchange SPJ") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.bkt_a")
    spark.sql("DROP TABLE IF EXISTS graft_m.db.bkt_b")
    spark.sql(
      """CREATE TABLE graft_m.db.bkt_a (okey BIGINT, qty BIGINT)
        |USING audit PARTITIONED BY (bucket(4, okey))""".stripMargin)
    spark.sql(
      """CREATE TABLE graft_m.db.bkt_b (okey BIGINT, price BIGINT)
        |USING audit PARTITIONED BY (bucket(4, okey))""".stripMargin)
    spark.sql("INSERT INTO graft_m.db.bkt_a " +
      "SELECT id, id * 2 FROM range(0, 64)")
    spark.sql("INSERT INTO graft_m.db.bkt_b " +
      "SELECT id, id * 10 FROM range(0, 64) WHERE id % 2 = 0")
    // rows landed in okey=<bucket> dirs, each with its own manifest
    val dirs = {
      val listing = java.nio.file.Files.list(wh.resolve("db").resolve("bkt_a"))
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("okey=")).toSeq.sorted
      finally listing.close()
    }
    assert(dirs.size === 4, dirs)
    // entries visible per dir (OCC appends may still be txn-only)
    assert(dirs.forall(d => AuditPartition.manifestEntries(
      wh.resolve("db").resolve("bkt_a").resolve(d)).nonEmpty))
    // per-row routing matches the shared hash
    dirs.foreach { d =>
      val b = d.stripPrefix("okey=").toInt
      val ids = spark.read.schema("okey BIGINT, qty BIGINT")
        .json(wh.resolve("db").resolve("bkt_a").resolve(d).toString + "/*.jsonl")
        .collect().map(_.getLong(0))
      assert(ids.forall(id => AuditPartition.bucketOf(Long.box(id), 4) === b))
    }
    // EqualTo prunes to ONE bucket dir; the residual keeps answers exact
    val one = spark.sql("SELECT qty FROM graft_m.db.bkt_a WHERE okey = 17")
    assert(one.rdd.getNumPartitions === 1)
    assert(one.head.getLong(0) === 34L)
    // COUNT with a bucket filter must NOT take the metadata path (the dir
    // holds the whole hash bucket, not just okey=17)
    val cnt = spark.sql("SELECT count(*) FROM graft_m.db.bkt_a WHERE okey = 17")
    assert(!cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(cnt.head.getLong(0) === 1L)
    // SPJ: same bucket transform both sides → zero join-side exchanges
    val was = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val wasBroadcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        """SELECT a.okey, a.qty, b.price FROM graft_m.db.bkt_a a
          |JOIN graft_m.db.bkt_b b ON a.okey = b.okey""".stripMargin)
      val rows = j.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.length === 32)
      assert(rows.forall { case (k, q, p) => q === k * 2 && p === k * 10 })
      val full = j.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), full.take(1500))
      assert(!plan.contains("Exchange"),
        "bucketed SPJ must not shuffle either side:\n" + full.take(1500))
    } finally {
      was.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
      wasBroadcast.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("streaming writes route epochs into partition directories") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.ps1")
    spark.sql(
      """CREATE TABLE graft_m.db.ps1 (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    val ckpt = tempDir("graft_pstream_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "4").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), (col("id") % 3).as("flag"))
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable("graft_m.db.ps1")
    try q.processAllAvailable() finally q.stop()
    // epochs landed INSIDE partition dirs, recorded in their manifests
    val dirs = (0 to 2).map(t => dataDir("ps1").resolve(s"flag=$t"))
    assert(dirs.forall(java.nio.file.Files.isDirectory(_)), dirs)
    dirs.foreach { d =>
      val entries = AuditPartition.manifestEntries(d)
      assert(entries.nonEmpty && entries.forall(_._1.startsWith("part-e")), entries)
    }
    assert(java.nio.file.Files.readAllLines(
      dataDir("ps1").resolve("_EPOCHS")).size >= 4)
    // every read contract keeps working on the streamed partitioned table
    assert(spark.sql("SELECT count(*) FROM graft_m.db.ps1").head.getLong(0) === 400L)
    val cnt = spark.sql("SELECT count(*) FROM graft_m.db.ps1 WHERE flag = 1")
    assert(cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(cnt.head.getLong(0) === 133L)
    val pruned = spark.table("graft_m.db.ps1").where(col("flag") === 2L)
    assert(pruned.rdd.getNumPartitions === 1, "partition pruning must hold")
    assert(pruned.count() === 133L)
    // a later batch INSERT appends beside the epoch files without clashes
    spark.sql("INSERT INTO graft_m.db.ps1 VALUES (9000, 1), (9001, 1)")
    assert(spark.sql("SELECT count(*) FROM graft_m.db.ps1 WHERE flag = 1")
      .head.getLong(0) === 135L)
    // epoch replay retracts its own files from EVERY partition first: a
    // replay of epoch 0 that now routes only to flag=9 must remove the
    // epoch-0 files from flag=0..2 and leave totals exactly-once
    val path = dataDir("ps1").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.LongType)))
    val psw = new AuditPartitionedStreamingWrite(path, schema,
      Seq(AuditPartition.Level("flag", org.apache.spark.sql.types.LongType, None)))
    val stage = dataDir("ps1").resolve("_staging").resolve(psw.stageSub)
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.write(stage.resolve("stage-redo.jsonl"),
      "{\"id\":77,\"flag\":9}\n".getBytes("UTF-8"))
    psw
      .commit(0L, Array(AuditCommitMessage(
        Seq(("flag=9", "stage-redo.jsonl", 1L,
          AuditStats.FileStats(2, Map("id" -> (77L, 77L), "flag" -> (9L, 9L)),
            Map.empty))))))
    dirs.foreach { d =>
      assert(!AuditPartition.manifestEntries(d).exists(_._1.startsWith("part-e0-")),
        s"epoch-0 entries must be retracted from $d")
    }
    assert(spark.sql("SELECT count(*) FROM graft_m.db.ps1 WHERE flag = 9")
      .head.getLong(0) === 1L)
    // 400 original - epoch 0's 100 rows + 2 inserted + 1 replayed
    assert(spark.sql("SELECT count(*) FROM graft_m.db.ps1").head.getLong(0) === 303L)
  }

  test("partitioned streaming tail replays epochs across partition dirs") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.ps2")
    spark.sql(
      """CREATE TABLE graft_m.db.ps2 (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    val wckpt = tempDir("graft_ptail_wckpt")
    def writeRun(pages: Int): Unit = {
      val w = spark.readStream.format(classOf[PagedSource].getName)
        .option("pages", pages.toString).option("pageSize", "100")
        .option("pagesPerTrigger", "1")
        .load().select(col("id"), (col("id") % 3).as("flag"))
        .writeStream
        .option("checkpointLocation", wckpt.toString)
        .outputMode("append").toTable("graft_m.db.ps2")
      try w.processAllAvailable() finally w.stop()
    }
    writeRun(2) // epochs 0-1: ids 0..199, routed across flag=0..2
    val tail = spark.readStream.table("graft_m.db.ps2")
      .groupBy().agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
        sum(col("flag")).as("flag_sum"))
    val q = tail.writeStream.outputMode("complete")
      .format("memory").queryName("graft_ptail").start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("graft_ptail").head
      assert(r1.getLong(0) === 200L)
      assert(r1.getLong(1) === (0L until 200L).sum)
      assert(r1.getLong(2) === (0L until 200L).map(_ % 3).sum)
      // a batch INSERT is not an epoch: the tail's offset axis ignores it
      spark.sql("INSERT INTO graft_m.db.ps2 VALUES (9000, 1)")
      // more epochs land while the tail is live — incremental pickup
      writeRun(4) // epochs 2-3: ids 200..399
      q.processAllAvailable()
      val r2 = spark.table("graft_ptail").head
      assert(r2.getLong(0) === 400L,
        "tail must deliver the new epochs and skip the batch insert")
      assert(r2.getLong(1) === (0L until 400L).sum)
    } finally q.stop()
    // the shrunken-log guard: a checkpoint past the current epoch log
    // (OPTIMIZE folds _EPOCHS) must fail loudly, not plan empty slices
    val stream = new AuditMicroBatchStream(
      dataDir("ps2").toString,
      spark.table("graft_m.db.ps2").schema,
      spark.table("graft_m.db.ps2").schema,
      Seq(AuditPartition.Level("flag",
        org.apache.spark.sql.types.LongType, None)))
    assert(stream.planInputPartitions(PagedOffset(0), PagedOffset(4))
      .length > 0)
    val err = intercept[IllegalArgumentException] {
      stream.planInputPartitions(PagedOffset(99), PagedOffset(99))
    }
    assert(err.getMessage.contains("exceeds the epoch log"))
  }

  test("partitioned tables skip files inside surviving dirs via per-dir stats") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.pz1")
    spark.sql(
      """CREATE TABLE graft_m.db.pz1 (id BIGINT, flag STRING)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    // two inserts with disjoint id ranges → 2 files per partition dir,
    // each with tight per-dir _STATS bounds
    spark.sql(
      """INSERT INTO graft_m.db.pz1
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END
        |FROM range(0, 1000)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_m.db.pz1
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END
        |FROM range(100000, 101000)""".stripMargin)
    // per-dir stats are readable pre-consolidation (they travel in txns)
    assert(AuditStats.read(dataDir("pz1").resolve("flag=A").toString).nonEmpty)
    def dirFiles(where: String): Seq[Int] = {
      val q = spark.sql(s"SELECT id FROM graft_m.db.pz1 WHERE $where")
      val scan = q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      scan.inputPartitions.collect {
        case p: AuditDirPartition => p.files.size
      }
    }
    // partition pruning composes with in-dir file skipping: the id
    // slice keeps only the first insert's files (half the dir)
    val allA = dirFiles("flag = 'A'").head
    val keptA = dirFiles("flag = 'A' AND id < 1000").head
    assert(allA >= 2 && keptA <= allA / 2, s"$keptA of $allA files kept")
    // no partition predicate: both dirs survive, each drops the low half
    val both = dirFiles("id >= 100000")
    assert(both.size === 2 && both.forall(_ <= allA / 2), both)
    // answers stay exact under the skip (predicates are residual)
    assert(spark.sql(
      "SELECT count(*) , sum(id) FROM graft_m.db.pz1 WHERE id < 1000")
      .head.toSeq === Seq(1000L, (0L until 1000L).sum))
    // partitioned predicate DELETE now takes the DELTA path (pure-append
    // logs, CDC-visible): counts stay exact via vector subtraction …
    spark.sql("DELETE FROM graft_m.db.pz1 WHERE id >= 100500")
    assert(spark.sql(
      "SELECT count(*) FROM graft_m.db.pz1 WHERE id >= 100000")
      .head.getLong(0) === 500L)
    // … while MIN/MAX correctly REFUSES the metadata claim (an
    // outstanding vector could hide the extreme row) yet answers exactly
    val mm0 = spark.sql("SELECT min(id), max(id) FROM graft_m.db.pz1")
    assert(!mm0.queryExecution.executedPlan.toString.contains("AuditCountScan"),
      mm0.queryExecution.executedPlan.toString.take(500))
    assert(mm0.head.toSeq === Seq(0L, 100499L))
    // partitioned OPTIMIZE (per-dir base checkpoints) PRESERVES the
    // vectors — origin-keyed, they keep applying to base rows, which is
    // what lets TIMESTAMP AS OF travel across the compaction. The
    // metadata MIN/MAX claim therefore stays correctly refused (a vector
    // could hide the extreme row; base stats cover deleted rows too) —
    // but answers stay exact through the row-level path.
    spark.sql(
      "CALL graft_m.system.optimize(table => 'db.pz1', target_file_count => 4)")
    val mm = spark.sql("SELECT min(id), max(id) FROM graft_m.db.pz1")
    assert(!mm.queryExecution.executedPlan.toString.contains("AuditCountScan"),
      mm.queryExecution.executedPlan.toString.take(500))
    assert(mm.head.toSeq === Seq(0L, 100499L))
    // partition-sliced extremes likewise: row-level but slice-exact
    val mmA = spark.sql(
      "SELECT min(id), max(id) FROM graft_m.db.pz1 WHERE flag = 'A'")
    assert(mmA.head.toSeq === Seq(0L, 100498L)) // 'A' holds the even ids
    // counts DO stay metadata-only across the compaction (base rows +
    // live manifest − vectors)
    val cnt = spark.sql("SELECT count(*) FROM graft_m.db.pz1")
    assert(cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"),
      cnt.queryExecution.executedPlan.toString.take(500))
    assert(cnt.head.getLong(0) === 1500L)
    // VACUUM folds the base-origin vectors — rows physically blanked in
    // the base files, stats RECOMPUTED over the survivors — so the
    // metadata MIN/MAX claim comes back, exact
    spark.sql("CALL graft_m.system.vacuum(table => 'db.pz1')").collect()
    val mmV = spark.sql("SELECT min(id), max(id) FROM graft_m.db.pz1")
    assert(mmV.queryExecution.executedPlan.toString.contains("AuditCountScan"),
      mmV.queryExecution.executedPlan.toString.take(500))
    assert(mmV.head.toSeq === Seq(0L, 100499L))
    val mmVA = spark.sql(
      "SELECT min(id), max(id) FROM graft_m.db.pz1 WHERE flag = 'A'")
    assert(mmVA.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(mmVA.head.toSeq === Seq(0L, 100498L))
    // counts and rows stay exact through the fold
    assert(spark.sql("SELECT count(*) FROM graft_m.db.pz1")
      .head.getLong(0) === 1500L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_m.db.pz1 WHERE id >= 100000")
      .head.getLong(0) === 500L)
  }

  test("grouped COUNT by the partition column answers from manifests only") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.gc1")
    spark.sql(
      """CREATE TABLE graft_m.db.gc1 (id BIGINT, flag STRING)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_m.db.gc1
        |SELECT id, CASE WHEN id % 7 = 0 THEN NULL
        |                WHEN id % 3 = 0 THEN 'A'
        |                WHEN id % 3 = 1 THEN 'B' ELSE 'C' END
        |FROM range(2100)""".stripMargin)
    val q = spark.sql(
      "SELECT flag, count(*) AS n FROM graft_m.db.gc1 GROUP BY flag")
    assert(q.queryExecution.executedPlan.toString.contains("AuditGroupCountScan"),
      q.queryExecution.executedPlan.toString.take(600))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(t => Option(t._1).getOrElse("~"))
    // ids 0..2099: %7==0 → 300 nulls; of the rest: %3 splits the 1800
    assert(got.map(_._2).sum === 2100L)
    assert(got.toMap.apply(null) === 300L)
    // partition-sliced grouped count: pruned AND still metadata-only
    val sliced = spark.sql(
      "SELECT flag, count(*) AS n FROM graft_m.db.gc1 " +
        "WHERE flag IN ('A', 'B') GROUP BY flag ORDER BY flag")
    assert(sliced.queryExecution.executedPlan.toString
      .contains("AuditGroupCountScan"))
    assert(sliced.collect().map(_.getLong(1)).sum ===
      got.collect { case (f, n) if f == "A" || f == "B" => n }.sum)
    // refusals stay row-level: count(col), non-partition grouping
    val c1 = spark.sql("SELECT flag, count(id) FROM graft_m.db.gc1 GROUP BY flag")
    assert(!c1.queryExecution.executedPlan.toString.contains("GroupCountScan"))
    val c2 = spark.sql(
      "SELECT id % 2, count(*) FROM graft_m.db.gc1 GROUP BY id % 2")
    assert(!c2.queryExecution.executedPlan.toString.contains("GroupCountScan"))
    assert(c1.collect().map(_.getLong(1)).sum === 2100L) // ids are never null
    // metadata DELETE keeps the grouped counts exact
    spark.sql("DELETE FROM graft_m.db.gc1 WHERE flag = 'A'")
    val after = spark.sql(
      "SELECT flag, count(*) FROM graft_m.db.gc1 GROUP BY flag")
    assert(after.queryExecution.executedPlan.toString
      .contains("AuditGroupCountScan"))
    assert(after.collect().map(r => Option(r.getString(0))).toSet ===
      Set(None, Some("B"), Some("C"))) // empty partition = no group
  }

  test("partitioned OPTIMIZE compacts epoch files into per-dir batch files") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.po1")
    spark.sql(
      """CREATE TABLE graft_m.db.po1 (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    val ckpt = tempDir("graft_po_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "4").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), (col("id") % 3).as("flag"))
      .writeStream.option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable("graft_m.db.po1")
    try q.processAllAvailable() finally q.stop()
    spark.sql("INSERT INTO graft_m.db.po1 VALUES (9000, 1)")
    val before = snap("SELECT id, flag FROM graft_m.db.po1 ORDER BY id")
    assert(before.size === 401)
    val filesBefore = (0 to 2).map(t =>
      AuditPartition.manifestEntries(
        dataDir("po1").resolve(s"flag=$t")).size).sum
    assert(filesBefore > 6, s"streamed fixture should be fragmented: $filesBefore")

    val res = spark.sql("CALL graft_m.system.optimize(table => 'db.po1', " +
      "target_file_count => 3, sort_by => 'id')").collect()
    assert(res.head.getLong(2) === 401L, res.toSeq)
    // PER-DIR BASE CHECKPOINT: one base file per dir (rows route whole-
    // dir-per-task), original entries tombstoned, epoch log PRESERVED
    // (that is what keeps VERSION AS OF / tails / travel resolving)
    (0 to 2).foreach { t =>
      val pdir = dataDir("po1").resolve(s"flag=$t")
      assert(AuditPartition.manifestEntries(pdir).isEmpty,
        s"flag=$t live entries should all be folded into the base")
      val b = AuditBase.read(pdir.toString)
      assert(b.isDefined && b.get.files.size === 1, s"flag=$t: $b")
      assert(b.get.files.head._1.matches("base-[0-9a-f]{8}-\\d{5}\\.jsonl"), b)
      assert(b.get.ts.isDefined, "base must carry the snapshot instant")
      assert(AuditStats.read(pdir.toString).nonEmpty)
    }
    assert(java.nio.file.Files.exists(dataDir("po1").resolve("_EPOCHS")),
      "the epoch log survives partitioned OPTIMIZE (history preserved)")
    // every read contract is unchanged
    assert(snap("SELECT id, flag FROM graft_m.db.po1 ORDER BY id") === before)
    val cnt = spark.sql(
      "SELECT count(*) FROM graft_m.db.po1 WHERE flag = 1")
    assert(cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(cnt.head.getLong(0) === 134L) // 133 streamed + 1 inserted
    assert(spark.sql("SELECT min(id), max(id) FROM graft_m.db.po1")
      .head.toSeq === Seq(0L, 9000L))
    // within-dir sort honored (in the base file)
    val f0 = AuditBase.read(
      dataDir("po1").resolve("flag=0").toString).get.files.head._1
    val ids = java.nio.file.Files.readAllLines(
      dataDir("po1").resolve("flag=0").resolve(f0))
      .asScala.map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
    assert(ids.toSeq === ids.toSeq.sorted)
    // sort_by and zorder_by stay mutually exclusive on either layout
    val ex = intercept[Exception](spark.sql(
      "CALL graft_m.system.optimize(table => 'db.po1', " +
        "sort_by => 'id', zorder_by => 'id')").collect())
    assert(ex.getMessage.contains("mutually exclusive"), ex.getMessage)
  }

  test("partitioned OPTIMIZE zorder_by tiles files within dirs; bloom_by blooms them") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.po4")
    spark.sql(
      """CREATE TABLE graft_m.db.po4 (id BIGINT, v BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_m.db.po4
        |SELECT id, (id * 37) % 1000, id % 2 FROM range(0, 2000)""".stripMargin)
    val before = snap("SELECT id, v, flag FROM graft_m.db.po4 ORDER BY id")
    spark.sql("CALL graft_m.system.optimize(table => 'db.po4', " +
      "target_file_count => 8, zorder_by => 'id,v', bloom_by => 'id')")
      .collect()
    assert(snap("SELECT id, v, flag FROM graft_m.db.po4 ORDER BY id") === before)
    (0 to 1).foreach { t =>
      val pdir = dataDir("po4").resolve(s"flag=$t")
      val entries = AuditBase.read(pdir.toString).get.files
      assert(entries.size >= 2,
        s"flag=$t base should hold multiple z-tiled files: $entries")
      val stats = AuditStats.read(pdir.toString)
      // every base file carries bounds for BOTH z-ordered dimensions and
      // an id bloom; z-tiling makes the per-file id ranges non-identical
      assert(entries.forall(e => stats.get(e._1)
        .exists(s => s.ints.contains("id") && s.ints.contains("v") &&
          s.blooms.contains("id"))), stats.keySet)
      val idBounds = entries.flatMap(e => stats(e._1).ints.get("id"))
      assert(idBounds.distinct.size > 1,
        s"z-tiled files should have distinct id ranges: $idBounds")
    }
    // a selective range predicate answers correctly through the zone maps
    assert(spark.sql(
      "SELECT count(*) FROM graft_m.db.po4 WHERE id BETWEEN 100 AND 199")
      .head.getLong(0) === 100L)
    // and blooms survive a follow-up compaction without re-requesting
    spark.sql("CALL graft_m.system.optimize(table => 'db.po4', " +
      "target_file_count => 4)").collect()
    val pdir0 = dataDir("po4").resolve("flag=0")
    assert(AuditStats.read(pdir0.toString).values.exists(_.blooms.contains("id")),
      "bloomed columns must survive partitioned maintenance")
  }

  test("partitioned OPTIMIZE stages beside the table; crash leftovers are safe") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.po2")
    spark.sql(
      """CREATE TABLE graft_m.db.po2 (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql("INSERT INTO graft_m.db.po2 SELECT id, id % 2 FROM range(0, 100)")
    val before = snap("SELECT id, flag FROM graft_m.db.po2 ORDER BY id")
    val parent = dataDir("po2").getParent
    // simulate a CRASHED rewrite: an orphan stage tree beside the data dir
    val orphanStage = parent.resolve(".po2.optstage.deadbeef")
    java.nio.file.Files.createDirectories(orphanStage.resolve("flag=0"))
    java.nio.file.Files.write(
      orphanStage.resolve("flag=0").resolve("part-00000.jsonl"),
      "{\"id\":1,\"flag\":0}\n".getBytes("UTF-8"))
    // and a displaced old tree with the data dir LIVE (publish completed)
    val oldTree = parent.resolve(".po2.old.deadbeef")
    java.nio.file.Files.createDirectories(oldTree)
    java.nio.file.Files.write(oldTree.resolve("junk.jsonl"),
      "{}\n".getBytes("UTF-8"))
    // neither leftover is visible to a read
    assert(snap("SELECT id, flag FROM graft_m.db.po2 ORDER BY id") === before)
    // clean_orphans reclaims both (the data dir is live, so .old is dead)
    spark.sql("CALL graft_m.system.vacuum(table => 'db.po2', " +
      "clean_orphans => true)").collect()
    assert(!java.nio.file.Files.exists(orphanStage), "orphan stage reclaimed")
    assert(!java.nio.file.Files.exists(oldTree), "displaced old tree reclaimed")
    // a displaced tree with the data dir MISSING is the only copy: kept
    val oldTree2 = parent.resolve(".po2.old.cafebabe")
    java.nio.file.Files.createDirectories(oldTree2)
    val dataDirPath = dataDir("po2")
    val hidden = parent.resolve(".po2.hidden_during_test")
    java.nio.file.Files.move(dataDirPath, hidden)
    try {
      AuditMaintenance.vacuum(dataDirPath.toString, 0, cleanOrphans = true)
      assert(java.nio.file.Files.exists(oldTree2),
        "the only surviving copy must never be auto-deleted")
    } finally {
      java.nio.file.Files.delete(oldTree2)
      java.nio.file.Files.move(hidden, dataDirPath)
    }
    // a successful swap leaves no hidden siblings and identical answers
    spark.sql("CALL graft_m.system.optimize(table => 'db.po2', " +
      "target_file_count => 2, sort_by => 'id')").collect()
    val listing = java.nio.file.Files.list(parent)
    val leftovers =
      try listing.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(".po2.")).toSeq
      finally listing.close()
    assert(leftovers.isEmpty, leftovers)
    assert(snap("SELECT id, flag FROM graft_m.db.po2 ORDER BY id") === before)
  }

  test("partitioned OPTIMIZE killed mid-run leaves the table byte-identical") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.po3")
    spark.sql(
      """CREATE TABLE graft_m.db.po3 (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql("INSERT INTO graft_m.db.po3 SELECT id, id % 3 FROM range(0, 300)")
    spark.sql("INSERT INTO graft_m.db.po3 VALUES (9000, 1)")
    // outstanding delta vectors must also survive the aborted maintenance
    spark.sql("UPDATE graft_m.db.po3 SET flag = 2 WHERE id = 9000")
    val q = "SELECT id, flag FROM graft_m.db.po3 ORDER BY id, flag"
    val before = snap(q)
    val beforeCount = spark.sql(
      "SELECT count(*) FROM graft_m.db.po3 WHERE flag = 2").head.getLong(0)
    // KILL the rewrite after staging, before any rename: the failure hook
    // throws exactly in the window the stage-and-swap design protects
    sys.props("graft.audit.maintFailPoint") = "after-stage"
    try {
      val ex = intercept[Throwable](
        spark.sql("CALL graft_m.system.optimize(table => 'db.po3', " +
          "target_file_count => 2)").collect())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(ex).exists(t => t.getMessage != null &&
        t.getMessage.contains("injected failure")), ex.toString)
    } finally sys.props.remove("graft.audit.maintFailPoint")
    // the live table is UNTOUCHED: identical rows, identical metadata count
    assert(snap(q) === before)
    assert(spark.sql("SELECT count(*) FROM graft_m.db.po3 WHERE flag = 2")
      .head.getLong(0) === beforeCount)
    // the aborted run's lease does not block the retry...
    // ...and the orphan stage is reclaimable, then the retry succeeds
    spark.sql("CALL graft_m.system.vacuum(table => 'db.po3', " +
      "clean_orphans => true)").collect()
    spark.sql("CALL graft_m.system.optimize(table => 'db.po3', " +
      "target_file_count => 2)").collect()
    assert(snap(q) === before)
  }

  test("history procedure lists epochs, batch commits, base, and deletes") {
    buildTable("his1")
    def hist() = spark.sql(
      "CALL graft_m.system.history(table => 'db.his1')").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -99L else r.getLong(1),
        r.getInt(2), r.getLong(3), r.getString(4))).toSeq
    val before = hist()
    // 4 streamed epochs + the MERGE's delta batch commit + delete vectors
    assert(before.count(_._1 == "epoch") === 4, before)
    assert(before.filter(_._1 == "epoch").map(_._4).sum === 400L)
    assert(before.count(_._1 == "batch") === 1, before)
    assert(before.count(_._1 == "base") === 0)
    val dels = before.filter(_._1 == "deletes")
    assert(dels.map(_._4) === Seq(6L), before) // 2 updated-old + 4 deleted
    // after OPTIMIZE: base row appears, batch entries marked folded
    spark.sql("CALL graft_m.system.optimize(table => 'db.his1', " +
      "target_file_count => 2)")
    val after = hist()
    val base = after.filter(_._1 == "base")
    assert(base.map(b => (b._2, b._3, b._4)) === Seq((3L, 2, 403L)), after)
    assert(after.filter(_._1 == "batch").forall(_._5.contains("folded")))
    // vectors are origin-keyed and survive compaction untouched
    assert(after.filter(_._1 == "deletes").map(_._4) === Seq(6L), after)
    // unknown procedure name still fails loudly
    val ex = intercept[Exception](spark.sql(
      "CALL graft_m.system.nope(table => 'db.his1')").collect())
    assert(ex.getMessage.contains("nope"), ex.getMessage)
  }

  test("catalog functions: hex_hash/hex_bucket bind, compute, and refuse bad args") {
    init()
    val h = spark.sql(
      "SELECT graft_m.system.hex_hash('abc'), graft_m.system.hex_bucket('abc', 7)")
      .head
    assert(h.getLong(0) === graft.functions.Hashing.hexHashLocal("abc"))
    assert(h.getLong(1) === java.lang.Math.floorMod(
      graft.functions.Hashing.hexHashLocal("abc"), 7L))
    // null flows through as null (isResultNullable honest)
    val n = spark.sql(
      "SELECT graft_m.system.hex_hash(CAST(NULL AS STRING))").head
    assert(n.isNullAt(0))
    // wrong arity/type refuses at analysis
    intercept[Exception](
      spark.sql("SELECT graft_m.system.hex_hash(1, 2)").collect())
    intercept[Exception](
      spark.sql("SELECT graft_m.system.nope('x')").collect())
    // SHOW FUNCTIONS surfaces the system namespace
    val fns = spark.sql("SHOW FUNCTIONS IN graft_m.system").collect()
      .map(_.getString(0)).mkString(";")
    assert(fns.contains("hex_hash") && fns.contains("hex_bucket"), fns)
  }

  test("VACUUM clean_orphans removes unreferenced files and staged leftovers") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.orf1")
    spark.sql("CREATE TABLE graft_m.db.orf1 (id BIGINT, v BIGINT) USING audit")
    spark.sql("INSERT INTO graft_m.db.orf1 SELECT id, id FROM range(100)")
    val before = snap("SELECT id, v FROM graft_m.db.orf1 ORDER BY id")
    // plant a crash's debris: an unreferenced data file + a staged leftover
    val d = dataDir("orf1")
    java.nio.file.Files.write(d.resolve("part-99999.jsonl"),
      "{\"id\":666,\"v\":666}\n".getBytes("UTF-8"))
    java.nio.file.Files.createDirectories(d.resolve("_staging"))
    java.nio.file.Files.write(d.resolve("_staging").resolve("stage-junk.jsonl"),
      "{\"id\":667,\"v\":667}\n".getBytes("UTF-8"))
    // debris is invisible to reads (manifest-driven) but holds space
    assert(snap("SELECT id, v FROM graft_m.db.orf1 ORDER BY id") === before)
    // orphan cleanup works without a base checkpoint
    val res = spark.sql(
      "CALL graft_m.system.vacuum(table => 'db.orf1', clean_orphans => true)")
      .collect()
    assert(res.head.getInt(1) === 2, res.toSeq) // both debris files removed
    assert(!java.nio.file.Files.exists(d.resolve("part-99999.jsonl")))
    assert(!java.nio.file.Files.exists(d.resolve("_staging")))
    assert(snap("SELECT id, v FROM graft_m.db.orf1 ORDER BY id") === before)
    // referenced files are untouched; plain VACUUM still demands a base
    val ex = intercept[Exception](spark.sql(
      "CALL graft_m.system.vacuum(table => 'db.orf1')").collect())
    assert(ex.getMessage.contains("base checkpoint"), ex.getMessage)
    // with a base, epoch reclaim and orphan cleanup compose
    spark.sql("CALL graft_m.system.optimize(table => 'db.orf1', " +
      "target_file_count => 1)")
    java.nio.file.Files.write(d.resolve("part-88888.jsonl"),
      "{\"id\":6,\"v\":6}\n".getBytes("UTF-8"))
    spark.sql(
      "CALL graft_m.system.vacuum(table => 'db.orf1', clean_orphans => true)")
    assert(!java.nio.file.Files.exists(d.resolve("part-88888.jsonl")))
    assert(snap("SELECT id, v FROM graft_m.db.orf1 ORDER BY id") === before)
    // the ".tmp-" sweep is SCOPED to lease-protected metadata targets:
    // an aged _MANIFEST staging tmp is a provable crash (its writer
    // would hold the lease this VACUUM holds) and goes; an aged tmp of
    // an UN-leased writer (stream-lock claim staging) survives — a
    // paused writer must never find its staged file swept before its
    // atomic move (the advisor's NoSuchFileException failure mode)
    val deadMani = d.resolve("_MANIFEST.tmp-deadcafe")
    val pausedLock = d.resolve("_STREAM_LOCK.tmp-paused01")
    java.nio.file.Files.write(deadMani, "{}".getBytes("UTF-8"))
    java.nio.file.Files.write(pausedLock, "claim".getBytes("UTF-8"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - AuditMaintLock.leaseMs * 20)
    java.nio.file.Files.setLastModifiedTime(deadMani, old)
    java.nio.file.Files.setLastModifiedTime(pausedLock, old)
    spark.sql(
      "CALL graft_m.system.vacuum(table => 'db.orf1', clean_orphans => true)")
    assert(!java.nio.file.Files.exists(deadMani),
      "aged lease-protected staging tmp must be reclaimed")
    assert(java.nio.file.Files.exists(pausedLock),
      "un-leased writer staging must survive the sweep")
    java.nio.file.Files.delete(pausedLock)
  }

  test("SHOW PARTITIONS / ADD / DROP PARTITION manage the directory layout") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.pm1")
    spark.sql(
      """CREATE TABLE graft_m.db.pm1 (id BIGINT, flag STRING)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_m.db.pm1 SELECT id,
        |CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END FROM range(100)""".stripMargin)
    def parts(): Seq[String] =
      spark.sql("SHOW PARTITIONS graft_m.db.pm1").collect()
        .map(_.getString(0)).toSeq.sorted
    assert(parts() === Seq("flag=A", "flag=B"))
    // pre-created partition shows up empty; writes land in it
    spark.sql("ALTER TABLE graft_m.db.pm1 ADD PARTITION (flag = 'C')")
    assert(parts() === Seq("flag=A", "flag=B", "flag=C"))
    spark.sql("INSERT INTO graft_m.db.pm1 VALUES (900, 'C')")
    assert(spark.sql(
      "SELECT count(*) FROM graft_m.db.pm1 WHERE flag = 'C'")
      .head.getLong(0) === 1L)
    // DROP PARTITION is the O(1) retention delete: data goes with the dir
    spark.sql("ALTER TABLE graft_m.db.pm1 DROP PARTITION (flag = 'A')")
    assert(parts() === Seq("flag=B", "flag=C"))
    assert(spark.sql("SELECT count(*) FROM graft_m.db.pm1")
      .head.getLong(0) === 51L)
    // duplicate ADD fails loudly; DROP of a missing partition errors
    intercept[Exception](spark.sql(
      "ALTER TABLE graft_m.db.pm1 ADD PARTITION (flag = 'B')"))
    intercept[Exception](spark.sql(
      "ALTER TABLE graft_m.db.pm1 DROP PARTITION (flag = 'zzz')"))
    // sliced listing
    assert(spark.sql("SHOW PARTITIONS graft_m.db.pm1 PARTITION (flag = 'B')")
      .collect().map(_.getString(0)).toSeq === Seq("flag=B"))
  }

  test("maintenance guardrails: bad targets fail loudly; TRUNCATE clears the base") {
    init()
    // vacuum before optimize
    spark.sql("DROP TABLE IF EXISTS graft_m.db.g1")
    spark.sql("CREATE TABLE graft_m.db.g1 (id BIGINT, v BIGINT) USING audit")
    spark.sql("INSERT INTO graft_m.db.g1 VALUES (1, 1)")
    val e1 = intercept[Exception](
      spark.sql("CALL graft_m.system.vacuum(table => 'db.g1')").collect())
    assert(e1.getMessage.contains("OPTIMIZE") ||
      Option(e1.getCause).exists(_.getMessage.contains("OPTIMIZE")))
    // VACUUM on an uncompacted table (either layout) has nothing to
    // reclaim: only base-superseded files are reclaimable
    spark.sql("DROP TABLE IF EXISTS graft_m.db.g2")
    spark.sql("CREATE TABLE graft_m.db.g2 (id BIGINT, flag STRING) " +
      "USING audit PARTITIONED BY (flag)")
    val e2 = intercept[Exception](
      spark.sql("CALL graft_m.system.vacuum(table => 'db.g2')").collect())
    assert(e2.getMessage.contains("no base checkpoint") ||
      Option(e2.getCause).exists(_.getMessage.contains("no base checkpoint")))
    // unknown procedure
    intercept[Exception](
      spark.sql("CALL graft_m.system.nope(table => 'db.g1')").collect())
    // TRUNCATE on a compacted table clears base + logs; table reads empty
    buildTable("g3")
    spark.sql("CALL graft_m.system.optimize(table => 'db.g3', target_file_count => 1)")
    spark.sql("TRUNCATE TABLE graft_m.db.g3")
    assert(spark.sql("SELECT count(*) FROM graft_m.db.g3").head.getLong(0) === 0L)
    assert(jsonlFiles("g3", "").isEmpty)
    assert(!java.nio.file.Files.exists(dataDir("g3").resolve("_BASE")))
    // and the table is writable again afterwards
    spark.sql("INSERT INTO graft_m.db.g3 VALUES (1, 1)")
    assert(spark.sql("SELECT count(*) FROM graft_m.db.g3").head.getLong(0) === 1L)
    // SHOW PROCEDURES lists the maintenance surface
    val procs = spark.sql("SHOW PROCEDURES IN graft_m.system").collect()
      .map(_.toSeq.mkString(".")).mkString(";")
    assert(procs.contains("optimize") && procs.contains("vacuum"), procs)
    assert(procs.contains("restore") && procs.contains("sync_identity"),
      procs)
  }

  test("RESTORE truncates epochs after the target; refuses mixed state") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.rst")
    spark.sql("CREATE TABLE graft_m.db.rst (id BIGINT, v BIGINT) USING audit")
    val ckpt = tempDir("graft_rst_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "4").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), col("duration_ms").as("v"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", dataDir("rst").toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.sql("SELECT count(*) FROM graft_m.db.rst")
      .head.getLong(0) === 400L)
    // the stopped stream's writer lease lingers until its TTL (the
    // crashed-writer contract) — shrink it so RESTORE can proceed
    sys.props("graft.audit.streamLeaseMs") = "1"
    Thread.sleep(5)
    // a bad publish happened at epochs 2-3: restore to epoch 1
    val res = spark.sql(
      "CALL graft_m.system.restore(table => 'db.rst', version => 1)")
      .head
    assert(res.getLong(1) === 1L && res.getInt(2) === 2 &&
      res.getLong(3) === 200L, res.toString)
    assert(spark.sql("SELECT count(*) FROM graft_m.db.rst")
      .head.getLong(0) === 200L)
    assert(spark.sql("SELECT max(id) FROM graft_m.db.rst")
      .head.getLong(0) === 199L)
    // the epoch log is trimmed; time travel within kept history works
    assert(AuditScan.committedEpochs(dataDir("rst").toString) === Seq(0L, 1L))
    assert(spark.sql("SELECT count(*) FROM graft_m.db.rst VERSION AS OF 0")
      .head.getLong(0) === 100L)
    // restoring to the current head is a no-op
    val noop = spark.sql(
      "CALL graft_m.system.restore(table => 'db.rst', version => 1)").head
    assert(noop.getInt(2) === 0 && noop.getLong(3) === 0L)
    // the stream RESUMES from its checkpoint... its source offsets are
    // exhausted, but a fresh batch append now exists → mixed state, and
    // a further restore refuses loudly
    spark.sql("INSERT INTO graft_m.db.rst VALUES (9000, 1)")
    val exMixed = intercept[Exception](spark.sql(
      "CALL graft_m.system.restore(table => 'db.rst', version => 0)"))
    assert(exMixed.getMessage.contains("batch txn appends"),
      exMixed.getMessage)
    // predating-all-history refused
    spark.sql("DROP TABLE IF EXISTS graft_m.db.rst2")
    spark.sql("CREATE TABLE graft_m.db.rst2 (id BIGINT) USING audit")
    val exNone = intercept[Exception](spark.sql(
      "CALL graft_m.system.restore(table => 'db.rst2', version => 0)"))
    assert(exNone.getMessage.contains("no epoch history"), exNone.getMessage)
    sys.props.remove("graft.audit.streamLeaseMs")
  }

  test("a change-feed tail across a RESTORE fails loudly, never drifts") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.rstc")
    spark.sql("CREATE TABLE graft_m.db.rstc (id BIGINT, v BIGINT) USING audit")
    val ckpt = tempDir("graft_rstc_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "3").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), col("duration_ms").as("v"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", dataDir("rstc").toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val path = dataDir("rstc").toString
    val stream = new AuditCdfStream(path, cdfSchema)
    val consumed = stream.latestOffset() // tail checkpointed at 3 epochs
    sys.props("graft.audit.streamLeaseMs") = "1"
    try {
      Thread.sleep(5)
      AuditMaintenance.restore(path, 0L)
    } finally sys.props.remove("graft.audit.streamLeaseMs")
    val ex = intercept[IllegalArgumentException](
      stream.planInputPartitions(consumed, stream.latestOffset()))
    assert(ex.getMessage.contains("exceeds the current logs"),
      ex.getMessage)
  }

  test("RESTORE on a PARTITIONED table trims per-dir manifests") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.rstp")
    spark.sql("CREATE TABLE graft_m.db.rstp (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    val ckpt = tempDir("graft_rstp_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "3").option("pageSize", "90")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), (col("id") % 3).as("flag"))
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable("graft_m.db.rstp")
    try q.processAllAvailable() finally q.stop()
    assert(spark.sql("SELECT count(*) FROM graft_m.db.rstp")
      .head.getLong(0) === 270L)
    sys.props("graft.audit.streamLeaseMs") = "1"
    Thread.sleep(5)
    try {
      spark.sql(
        "CALL graft_m.system.restore(table => 'db.rstp', version => 1)")
      assert(spark.sql("SELECT count(*) FROM graft_m.db.rstp")
        .head.getLong(0) === 180L)
      // each partition dir's manifest dropped its post-restore entries
      // and pruned reads stay exact
      assert(spark.table("graft_m.db.rstp").where("flag = 1").count()
        === 60L)
      AuditPartition.listDirsByCols(dataDir("rstp").toString, Seq("flag"))
        .foreach { case (rel, pdir) =>
          val entries = AuditPartition.manifestEntries(pdir)
          assert(entries.forall { case (f, _) =>
            AuditScan.epochOf(f).exists(_ <= 1L) }, s"$rel: $entries")
        }
      // a delta DELETE (vectors) makes a further REAL restore refuse
      // (epoch 1 still exists beyond the new target 0)
      spark.sql("DELETE FROM graft_m.db.rstp WHERE id % 30 = 7")
      val ex = intercept[Exception](spark.sql(
        "CALL graft_m.system.restore(table => 'db.rstp', version => 0)"))
      assert(ex.getMessage.contains("delete vectors"), ex.getMessage)
    } finally sys.props.remove("graft.audit.streamLeaseMs")
  }

  test("VACUUM older_than expires only epochs provably before the cutoff") {
    buildTable("vt")
    spark.sql("CALL graft_m.system.optimize(table => 'db.vt', " +
      "target_file_count => 2)")
    val path = dataDir("vt").toString
    val ts = AuditScan.epochTimestamps(path)
    assert(ts.keySet === Set(0L, 1L, 2L, 3L))
    // cutoff BEFORE epoch 0's commit: nothing is provably old enough
    val before = spark.sql(
      s"""CALL graft_m.system.vacuum(table => 'db.vt',
         |  older_than => timestamp_millis(${ts(0L) - 60000}))""".stripMargin)
      .head
    assert(before.getLong(2) === -1L,
      s"nothing should time-expire, got $before")
    assert(spark.sql("SELECT count(*) FROM graft_m.db.vt VERSION AS OF 0")
      .head.getLong(0) === 100L)
    // cutoff AFTER every commit, retain_last still caps what expires
    val after = spark.sql(
      s"""CALL graft_m.system.vacuum(table => 'db.vt', retain_last => 2,
         |  older_than => timestamp_millis(${ts.values.max + 60000}))""".stripMargin)
      .head
    assert(after.getLong(2) === 1L, s"count cap must hold, got $after")
    // the two retained versions still travel
    assert(spark.sql("SELECT count(*) FROM graft_m.db.vt VERSION AS OF 2")
      .head.getLong(0) === 300L)
  }

  test("history reports the travel window: full history, then the fold " +
    "watermark after VACUUM, per partition on partitioned tables") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft_m.db.tw")
    spark.sql("CREATE TABLE graft_m.db.tw (id BIGINT, v BIGINT) USING audit")
    spark.sql("INSERT INTO graft_m.db.tw SELECT id, id FROM range(100)")
    def hist(t: String) = spark.sql(
      s"CALL graft_m.system.history(table => 'db.$t')").collect()
      .filter(_.getString(0) == "travel").map(_.getString(4)).toSeq
    assert(hist("tw") === Seq("full history travelable"))
    spark.sql("DELETE FROM graft_m.db.tw WHERE id % 10 = 3")
    spark.sql("CALL graft_m.system.vacuum(table => 'db.tw')")
    val t = hist("tw")
    assert(t.size === 1 && t.head.startsWith("travels from ") &&
      t.head.contains("fold watermark"), t)
    // partitioned: one travel row PER DIRECTORY, each with its own window
    spark.sql("DROP TABLE IF EXISTS graft_m.db.twp")
    spark.sql("CREATE TABLE graft_m.db.twp (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    spark.sql("INSERT INTO graft_m.db.twp SELECT id, id % 2 FROM range(100)")
    // vectors in flag=1 only: its window shrinks, flag=0 stays full
    spark.sql("DELETE FROM graft_m.db.twp WHERE id % 10 = 3")
    spark.sql("CALL graft_m.system.vacuum(table => 'db.twp')")
    val p = hist("twp")
    assert(p.size === 2, p)
    assert(p.count(_.startsWith("flag=0: full history")) === 1, p)
    assert(p.count(s => s.startsWith("flag=1: travels from ") &&
      s.contains("fold watermark")) === 1, p)
  }
}
