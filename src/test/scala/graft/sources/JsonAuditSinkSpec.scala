package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, TempDirs}

/** JsonAuditSink (DSv2 write path): staged-file two-phase commit must
  * publish exactly the written rows with a truthful manifest, overwrite
  * must truncate prior files, and aborted attempts must leave no trace. */
class JsonAuditSinkSpec extends SparkSpec with TempDirs {

  private val d = "/root/testdata/sf0.001"

  private def tempDir(): java.nio.file.Path = tempDir("graft_audit_sink")

  test("append publishes committed part files plus a manifest that adds up") {
    val dir = tempDir()
    val src = graft.Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(3)
    val n = src.count()
    src.write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()

    val files = java.nio.file.Files.list(dir)
    val names = try files.iterator().asScala.map(_.getFileName.toString).toSet
      finally files.close()
    assert(names.count(_.endsWith(".jsonl")) === 3, names)
    // commit reclaims its OWN staging subdir; an empty `_staging` root may
    // remain (concurrent commits each own a subdir — VACUUM removes the root)
    val stagingRoot = dir.resolve("_staging")
    if (java.nio.file.Files.isDirectory(stagingRoot)) {
      val l = java.nio.file.Files.list(stagingRoot)
      try assert(l.count() === 0L, "no staged debris may survive commit")
      finally l.close()
    }

    // the append publishes as an immutable OCC txn commit…
    val txnLines = java.nio.file.Files.readAllLines(
      dir.resolve("_TXN").resolve("1.json"))
    assert(txnLines.get(0) === s"""{"v":1,"files":3,"rows":$n}""", txnLines.get(0))
    // …which consolidation folds into _MANIFEST with identical totals
    AuditBase.consolidate(dir.toString)
    val manifestHead = java.nio.file.Files.readAllLines(dir.resolve("_MANIFEST"))
      .get(0)
    assert(manifestHead === s"""{"files":3,"rows":$n,"txnfloor":1}""", manifestHead)
    assert(!java.nio.file.Files.exists(dir.resolve("_TXN").resolve("1.json")),
      "consolidation garbage-collects the folded txn file")

    // byte-exact round trip through a plain JSON reader
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val back = spark.read.schema(schema).json(s"$dir/*.jsonl")
    assert(back.count() === n)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.toString).sorted.toSeq
    assert(key(back) === key(src))
  }

  test("overwrite truncates previously committed files, not just adds") {
    val dir = tempDir()
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.write.format(classOf[JsonAuditSink].getName)
        .option("path", dir.toString).mode(mode).save()
    val ev = graft.Tables.events(spark, d)
      .select(col("event_id"), col("event_type")).repartition(2)
    write(ev, "append")
    write(ev.limit(10).repartition(1), "overwrite")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType)))
    assert(spark.read.schema(schema).json(s"$dir/*.jsonl").count() === 10L)
    // the overwrite empties `_MANIFEST` and publishes as a `_TXN` append:
    // the logical manifest holds exactly the one new file and its rows
    val live = AuditBase.readManifest(dir.toString).filterNot(_.folded)
    assert((live.size, live.map(_.rows).sum) === ((1, 10L)), live)
  }

  test("streaming write commits one atomic epoch per micro-batch (full custom loop)") {
    // custom source → custom sink: 4 one-page micro-batches through the
    // epoch-committed streaming write; every row lands exactly once
    val dir = tempDir()
    val ckpt = tempDir()
    val stream = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "4").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load()
      .select(col("id"), col("track_id"), col("title"))
    val q = stream.writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val epochs = java.nio.file.Files.readAllLines(dir.resolve("_EPOCHS")).asScala
    assert(epochs.size >= 4, epochs.mkString("\n"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("track_id", LongType),
      StructField("title", StringType)))
    val back = spark.read.schema(schema).json(s"$dir/*.jsonl")
    assert(back.count() === 400L)
    assert(back.agg(countDistinct(col("id"))).head.getLong(0) === 400L)
  }

  test("control characters in string values survive the JSON round trip") {
    val dir = tempDir()
    import spark.implicits._
    val src = Seq(
      (1L, "line1\nline2"),          // raw newline: the framing killer
      (2L, "tab\there\rcr"),
      (3L, "quote\" and back\\slash"),
      (4L, "low\u0001ctl\u001fend"),
      (5L, "plain")).toDF("k", "s")
    src.write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()
    // one physical line per record — a raw \n would break this count
    val lines = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".jsonl"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala).toSeq
    assert(lines.size === 5, lines.mkString("\n"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val back = spark.read.schema(schema).json(s"$dir/*.jsonl")
    assert(back.where(col("s").isNull).count() === 0L, "corrupt json row")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(key(back) === key(src))
  }

  test("epoch replay is idempotent: stale part files and _EPOCHS lines are replaced") {
    val dir = tempDir()
    val w = new AuditStreamingWrite(dir.toString,
      StructType(Seq(StructField("x", LongType))))
    // tasks stage into the writer's commit-scoped subdir
    val stage = dir.resolve("_staging").resolve(w.stageSub)
    java.nio.file.Files.createDirectories(stage)
    def stageFile(name: String, rows: Int): AuditCommitMessage = {
      val body = (0 until rows).map(i => s"""{"x":$i}""" + "\n").mkString
      java.nio.file.Files.write(stage.resolve(name), body.getBytes("UTF-8"))
      AuditCommitMessage(
        Seq(("", name, rows.toLong, AuditStats.FileStats.empty)))
    }
    // attempt 1 of epoch 5: three task files
    w.commit(5L, Array(stageFile("stage-00000-1.jsonl", 2),
      stageFile("stage-00001-2.jsonl", 3), stageFile("stage-00002-3.jsonl", 4)))
    // replay of epoch 5: only ONE task file this time (e.g. different
    // partitioning after recovery) — must fully supersede attempt 1
    w.commit(5L, Array(stageFile("stage-00000-9.jsonl", 6)))
    val names = {
      val l = java.nio.file.Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
    }
    assert(names.count(_.startsWith("part-e5-")) === 1,
      s"stale attempt-1 files must not survive: $names")
    val epochLines = java.nio.file.Files.readAllLines(dir.resolve("_EPOCHS")).asScala
      .filter(_.startsWith("""{"epoch":5,"""))
    assert(epochLines.size === 1 && epochLines.head
      .matches("""\{"epoch":5,"files":1,"rows":6,"ts":\d+\}"""),
      epochLines.mkString("\n"))
    // a neighboring epoch is untouched by epoch-5 replays
    w.commit(6L, Array(stageFile("stage-00000-11.jsonl", 1)))
    w.commit(5L, Array(stageFile("stage-00000-12.jsonl", 2)))
    val allEpochs = java.nio.file.Files.readAllLines(dir.resolve("_EPOCHS")).asScala
    assert(allEpochs.exists(_.startsWith("""{"epoch":6,""")), allEpochs.mkString("\n"))
  }

  test("streaming abort removes the reported staged files") {
    val dir = tempDir()
    val w = new AuditStreamingWrite(dir.toString,
      StructType(Seq(StructField("x", LongType))))
    val stage = dir.resolve("_staging").resolve(w.stageSub)
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.write(stage.resolve("stage-00000-7.jsonl"), "x".getBytes)
    w.abort(3L, Array(AuditCommitMessage(
      Seq(("", "stage-00000-7.jsonl", 1L, AuditStats.FileStats.empty)))))
    val left = {
      val l = java.nio.file.Files.list(stage)
      try l.count() finally l.close()
    }
    assert(left === 0L)
  }

  test("aborted writer leaves no staged file behind") {
    val dir = tempDir()
    val schema = StructType(Seq(StructField("x", LongType)))
    val w = new AuditWriterFactory(dir.toString, schema).createWriter(0, 42L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(1L))
    w.abort()
    val staged = java.nio.file.Files.list(dir.resolve("_staging"))
    val left = try staged.count() finally staged.close()
    assert(left === 0L)
  }

  test("versionAsOf reconstructs each epoch prefix byte-exact") {
    import org.apache.spark.sql.functions._
    val out = tempDir()
    val ckpt = tempDir("graft_travel_ckpt")
    // 4 epochs of 100 ids each: page counter = offset = version log
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "4").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load()
      .select(col("id"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val schema = StructType(Seq(StructField("id", LongType)))
    def readVersion(v: Option[Int]) = {
      val r = spark.read.schema(schema).format(classOf[JsonAuditSink].getName)
        .option("path", out.toString)
      v.fold(r)(x => r.option("versionAsOf", x.toString)).load()
    }
    (0 to 3).foreach { v =>
      val ids = readVersion(Some(v)).collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === (0L until (v + 1L) * 100L),
        s"versionAsOf=$v must be exactly the first ${v + 1} epochs")
    }
    // a version beyond the log = the full table; no option = everything
    assert(readVersion(Some(99)).count() === 400L)
    assert(readVersion(None).count() === 400L)
    // pinned reads are manifest-driven: an uncommitted straggler in the
    // directory must stay invisible
    java.nio.file.Files.write(out.resolve("part-e9-00000.jsonl"),
      "{\"id\":9999}\n".getBytes("UTF-8"))
    assert(readVersion(None).count() === 400L,
      "a part file with no _EPOCHS entry must not be read")
  }

  test("streaming tail: the epoch log replays as micro-batches with totals intact") {
    import org.apache.spark.sql.functions._
    val out = tempDir()
    val ckpt = tempDir("graft_tail_ckpt")
    val w = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "4").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try w.processAllAvailable() finally w.stop()
    // now SUBSCRIBE to the table: the _EPOCHS log is the offset axis
    val schema = StructType(Seq(StructField("id", LongType)))
    val tail = spark.readStream.schema(schema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", out.toString).load()
      .groupBy().agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
    val q = tail.writeStream.outputMode("complete")
      .format("memory").queryName("graft_audit_tail").start()
    try {
      q.processAllAvailable()
      val row = spark.table("graft_audit_tail").head
      assert(row.getLong(0) === 400L)
      assert(row.getLong(1) === (0L until 400L).sum)
    } finally q.stop()
  }

  test("streaming tail picks up epochs committed AFTER the tail started") {
    import org.apache.spark.sql.functions._
    val out = tempDir()
    // writer run 1: epochs 0-1 (pages 0-1 of 4)
    val ckpt = tempDir("graft_tail2_wckpt")
    def writeRun(pages: Int): Unit = {
      val w = spark.readStream.format(classOf[PagedSource].getName)
        .option("pages", pages.toString).option("pageSize", "100")
        .option("pagesPerTrigger", "1")
        .load().select(col("id"))
        .writeStream.format(classOf[JsonAuditSink].getName)
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try w.processAllAvailable() finally w.stop()
    }
    writeRun(2)
    val schema = StructType(Seq(StructField("id", LongType)))
    val tail = spark.readStream.schema(schema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", out.toString).load()
      .groupBy().agg(count(lit(1)).as("n"))
    val q = tail.writeStream.outputMode("complete")
      .format("memory").queryName("graft_audit_tail2").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_audit_tail2").head.getLong(0) === 200L)
      // MORE epochs land while the tail is live (same writer checkpoint
      // resumes at page 2) — the subscriber must see them incrementally
      writeRun(4)
      q.processAllAvailable()
      assert(spark.table("graft_audit_tail2").head.getLong(0) === 400L)
    } finally q.stop()
  }

  test("targetFileCount/clusterBy/sortBy control the committed layout") {
    import org.apache.spark.sql.functions._
    val out = tempDir()
    spark.range(0, 300).toDF("id")
      .withColumn("id", col("id").cast("long"))
      .repartition(8) // writer must NOT inherit this: 3 files requested
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", out.toString)
      .option("targetFileCount", "3")
      .option("clusterBy", "id").option("sortBy", "id")
      .mode("append").save()
    val committed = AuditBase.readManifest(out.toString)
    assert(committed.size === 3 && committed.map(_.rows).sum === 300L, committed)
    // every committed file is internally sorted by id (the writer wrote
    // rows in arrival order, so order proves Spark applied the sort)
    committed.foreach { e =>
      val ids = java.nio.file.Files
        .readAllLines(out.resolve(e.file)).asScala
        .map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
      assert(ids.toSeq === ids.sorted.toSeq, s"file ${e.file} not sorted")
    }
    // and the full set survives intact
    val schema = StructType(Seq(StructField("id", LongType)))
    val back = spark.read.schema(schema).format(classOf[JsonAuditSink].getName)
      .option("path", out.toString).load()
    assert(back.agg(countDistinct(col("id"))).head.getLong(0) === 300L)
  }

  test("mixed batch+epoch tables: pinned reads see only epoch history (documented)") {
    import org.apache.spark.sql.functions._
    val out = tempDir()
    // batch commit first...
    spark.range(0, 7).toDF("id").write.format(classOf[JsonAuditSink].getName)
      .option("path", out.toString).mode("append").save()
    // ...then two streamed epochs on top
    val ckpt = tempDir("graft_mix_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "2").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select((col("id") + 1000L).as("id"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val schema = StructType(Seq(StructField("id", LongType)))
    def read(v: Option[Int]) = {
      val r = spark.read.schema(schema).format(classOf[JsonAuditSink].getName)
        .option("path", out.toString)
      v.fold(r)(x => r.option("versionAsOf", x.toString)).load()
    }
    // un-pinned: batch + all epochs
    assert(read(None).count() === 207L)
    // pinned: epoch history ONLY — batch files carry no version, so a
    // time-travel read must not silently include them at every version
    assert(read(Some(0)).count() === 100L)
    assert(read(Some(1)).count() === 200L)
    assert(read(Some(0)).agg(min(col("id"))).head.getLong(0) === 1000L)
  }

  test("string/boolean/double columns survive the versioned read round trip") {
    import org.apache.spark.sql.functions._
    val out = tempDir()
    val src = spark.range(0, 50).toDF("id")
      .withColumn("label", concat(lit("v\"x\n"), col("id").cast("string")))
      .withColumn("score", col("id").cast("double") / 7.0)
      .withColumn("flag", col("id") % 2 === 0)
    src.write.format(classOf[JsonAuditSink].getName)
      .option("path", out.toString).mode("append").save()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("label", StringType),
      StructField("score", DoubleType), StructField("flag", BooleanType)))
    val back = spark.read.schema(schema).format(classOf[JsonAuditSink].getName)
      .option("path", out.toString).load()
    assert(back.count() === 50L)
    val got = back.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2), r.getBoolean(3))).sortBy(_._1)
    val want = src.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2), r.getBoolean(3))).sortBy(_._1)
    assert(got.toSeq === want.toSeq)
  }

  test("zone-map stats skip non-overlapping files; predicates stay residual") {
    val dir = tempDir()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    // 8 range-partitioned files → disjoint id ranges, tight _STATS bounds
    spark.range(0, 8000).toDF("id")
      .select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(8, col("id"))
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()
    // stats travel inside the txn commit until consolidation — read the
    // merged view, one zone-map line per committed file
    assert(AuditStats.read(dir.toString).size === 8)
    def read() = spark.read.schema(schema)
      .format(classOf[JsonAuditSink].getName).option("path", dir.toString).load()
    // a 1.5-file-wide slice plans 2 of 8 partitions, answers stay exact
    val sliced = read().where(col("id") >= 2100L && col("id") < 3600L)
    assert(sliced.rdd.getNumPartitions === 2, sliced.rdd.getNumPartitions)
    assert(sliced.count() === 1500L)
    assert(sliced.agg(sum(col("v"))).head.getLong(0) ===
      (2100L until 3600L).map(_ * 3L).sum)
    // IN-list: one value per end of the table → exactly 2 files survive
    val inq = read().where(col("id").isin(5L, 7995L))
    assert(inq.rdd.getNumPartitions === 2)
    assert(inq.count() === 2L)
    // a predicate stats can't decide (string/unknown col shapes) skips nothing
    assert(read().where(col("v") =!= 0L).rdd.getNumPartitions === 8)
    // delete-rewrite leaves stats as supersets: skipping still never lies
    val tbl = new AuditTable(dir.toString, schema)
    tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan("id", 1000L)))
    val after = read().where(col("id") >= 500L && col("id") < 1500L)
    assert(after.count() === 500L) // 1000..1499 survive, skip is superset-safe
    // a later append's file gets its own stats line and skips cleanly
    spark.range(100000, 100010).toDF("id")
      .select(col("id"), (col("id") * 3L).as("v"))
      .repartition(1)
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()
    val far = read().where(col("id") >= 100000L)
    assert(far.rdd.getNumPartitions === 1)
    assert(far.count() === 10L)
  }

  test("metadata MIN/MAX answers from zone maps with exactness gates") {
    val dir = tempDir()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    spark.range(100, 900).toDF("id")
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
      .repartition(4)
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()
    def read() = spark.read.schema(schema)
      .format(classOf[JsonAuditSink].getName).option("path", dir.toString).load()
    val q = read().agg(count(lit(1)), min(col("id")), max(col("id")))
    assert(q.queryExecution.executedPlan.toString.contains("AuditCountScan"),
      q.queryExecution.executedPlan.toString.take(900))
    assert(q.head.toSeq === Seq(800L, 100L, 899L))
    // string min is not statable → whole aggregation stays row-level
    val qs = read().agg(min(col("name")))
    assert(!qs.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(qs.head.getString(0) === "n100")
    // metadata DELETE recomputes bounds during its rewrite → still exact
    val tbl = new AuditTable(dir.toString, schema)
    tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 800L)))
    val q2 = read().agg(min(col("id")), max(col("id")))
    assert(q2.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(q2.head.toSeq === Seq(100L, 799L))
    // outstanding delete vectors could hide the extreme row → refuse
    AuditDeletes.append(dir.toString, Seq(("part-00000.jsonl", 0L)))
    val q3 = read().agg(min(col("id")), max(col("id")))
    assert(!q3.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    // ... while plain COUNT still takes the manifest path (vector-adjusted)
    val q4 = read().agg(count(lit(1)))
    assert(q4.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(q4.head.getLong(0) === 699L)
  }

  test("zone-map disjointness logic: And/Or/In bounds compose conservatively") {
    import org.apache.spark.sql.sources._
    val st = AuditStats.FileStats(2, Map("id" -> (100L, 200L)), Map.empty)
    val empty = AuditStats.FileStats(2, Map.empty, Map.empty)
    val cols = Set("id", "v")
    assert(AuditStats.canSkip(st, Seq(EqualTo("id", 50L)), cols))
    assert(!AuditStats.canSkip(st, Seq(EqualTo("id", 150L)), cols))
    assert(AuditStats.canSkip(st, Seq(GreaterThan("id", 200L)), cols))
    assert(!AuditStats.canSkip(st, Seq(GreaterThanOrEqual("id", 200L)), cols))
    assert(AuditStats.canSkip(st, Seq(LessThan("id", 100L)), cols))
    assert(AuditStats.canSkip(st, Seq(In("id", Array(10L, 300L))), cols))
    assert(!AuditStats.canSkip(st, Seq(In("id", Array(10L, 150L))), cols))
    // In with a value stats can't type → conservative keep
    assert(!AuditStats.canSkip(st, Seq(In("id", Array[Any](10L, "x"))), cols))
    assert(AuditStats.canSkip(st,
      Seq(And(LessThan("id", 100L), IsNotNull("id"))), cols))
    assert(!AuditStats.canSkip(st,
      Seq(Or(LessThan("id", 100L), IsNotNull("id"))), cols))
    assert(AuditStats.canSkip(st,
      Seq(Or(LessThan("id", 100L), GreaterThan("id", 300L))), cols))
    // non-statable / unknown column → keep
    assert(!AuditStats.canSkip(st, Seq(EqualTo("other", 1L)), cols))
    // a statable column ABSENT from the file's line = all-null (or an
    // empty file): every null-rejecting comparison on it is refuted
    assert(AuditStats.canSkip(st, Seq(EqualTo("v", 1L)), cols))
    assert(AuditStats.canSkip(empty, Seq(LessThan("id", 100L)), cols))
    assert(!AuditStats.canSkip(empty, Seq(IsNull("id")), cols))
  }

  test("estimateStatistics follows zone-map pruning and flips the join strategy") {
    // the same contract on both layouts: a zero-level table, and one
    // partitioned by `flag` whose per-directory zone maps prune alike
    for (levels <- Seq(Nil, Seq(AuditPartition.Level("flag", LongType, None)))) {
      val dir = tempDir()
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("pad", StringType)) ++
        levels.map(l => StructField(l.col, l.dt)))
      val layout = levels.map(l => ("partitionby", l.col)).toMap
      // ~8 MB over 16 range-partitioned files, disjoint id ranges
      spark.range(0, 40000).toDF("id")
        .select(col("id"), concat(lit("x" * 180), col("id").cast("string")).as("pad"),
          (col("id") % 2).as("flag"))
        .select(schema.fieldNames.toSeq.map(col): _*)
        .repartitionByRange(16, col("id"))
        .write.format(classOf[JsonAuditSink].getName).options(layout)
        .option("path", dir.toString).mode("append").save()
      def scan(filters: Seq[org.apache.spark.sql.sources.Filter]) = {
        val b = new AuditScanBuilder(dir.toString, schema, None, levels)
        b.pushFilters(filters.toArray)
        b.build().asInstanceOf[AuditScan]
      }
      val full = scan(Nil).estimateStatistics()
      val sliced = scan(Seq(org.apache.spark.sql.sources.LessThan("id", 2000L)))
        .estimateStatistics()
      assert(full.numRows.getAsLong === 40000L)
      // the slice survives ~1 of 16 files: both metrics shrink with it
      assert(sliced.numRows.getAsLong <= 40000L / 8)
      assert(sliced.sizeInBytes.getAsLong <= full.sizeInBytes.getAsLong / 8)
      // CBO flip: a narrow slice of a big audit table broadcasts; the
      // unfiltered read of the same table stays shuffle-sided
      def read() = spark.read.schema(schema)
        .format(classOf[JsonAuditSink].getName).options(layout)
        .option("path", dir.toString).load()
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1024 * 1024).toString)
      try {
        val bc = read().join(read().where(col("id") < 2000L), "id")
          .queryExecution.executedPlan.toString
        assert(bc.contains("BroadcastHashJoin"), bc.take(500))
        val sm = read().join(read(), "id").queryExecution.executedPlan.toString
        assert(!sm.contains("BroadcastHashJoin"), sm.take(500))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("estimateStatistics totals the base files OPTIMIZE leaves, on both layouts") {
    val wh = tempDir("graft_audit_stats_wh")
    val cat = SparkSpec.uniqueCat("graft_stats")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("pad", StringType), StructField("flag", LongType)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1024 * 1024).toString)
    try for ((t, layout, levels) <- Seq(
        ("u", "", Nil),
        ("p", "PARTITIONED BY (flag)",
          Seq(AuditPartition.Level("flag", LongType, None))))) {
      spark.sql(s"CREATE TABLE $cat.db.$t (id BIGINT, pad STRING, flag BIGINT) " +
        s"USING audit $layout")
      // ~3 MB: above the 1 MB broadcast threshold
      spark.sql(s"INSERT INTO $cat.db.$t SELECT id, " +
        s"concat('${"x" * 60}', CAST(id AS STRING)), id % 2 FROM range(0, 20000)")
      spark.sql(s"CALL $cat.system.optimize(table => 'db.$t')")
      val path = wh.resolve("db").resolve(t)
      val baseBytes = AuditPartition.listDirs(path.toString, levels)
        .flatMap { case (_, d) =>
          AuditBase.read(d.toString).toSeq.flatMap(_.files)
            .map(f => java.nio.file.Files.size(d.resolve(f._1)))
        }.sum
      assert(baseBytes > 1024L * 1024L, s"$t: $baseBytes base bytes")
      val stats = new AuditScanBuilder(path.toString, schema, None, levels)
        .build().asInstanceOf[AuditScan].estimateStatistics()
      assert(stats.sizeInBytes.getAsLong === baseBytes, s"$t: sizeInBytes")
      assert(stats.numRows.getAsLong === 20000L, s"$t: numRows")
      // the self-join of the whole table stays shuffle-sided
      val sm = spark.sql(s"SELECT a.id FROM $cat.db.$t a JOIN $cat.db.$t b " +
        "ON a.id = b.id").queryExecution.executedPlan.toString
      assert(!sm.contains("BroadcastHashJoin"), s"$t: ${sm.take(500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloom filters refute point lookups where bounds cannot") {
    val dir = tempDir()
    val keyOf = (i: Long) => i * 2654435761L % 100000L
    val keys = (0L until 8000L).map(keyOf).toSet
    spark.range(0, 8000).toDF("id")
      .select((col("id") * 2654435761L % 100000L).as("key"),
        concat(lit("u"), col("id").cast("string")).as("name"))
      .repartition(8, col("id")) // hash-scattered: every file spans the range
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString)
      .option("bloomcols", "key,name")
      .mode("append").save()
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("name", StringType)))
    def read() = spark.read.schema(schema)
      .format(classOf[JsonAuditSink].getName).option("path", dir.toString).load()
    // an absent value INSIDE the min/max envelope: only a bloom can refute
    val mid = (keys.min + keys.max) / 2
    val absentKey = (mid to keys.max).find(!keys.contains(_)).get
    val miss = read().where(col("key") === absentKey)
    assert(miss.rdd.getNumPartitions <= 1, // fp rate allows a stray file
      s"bloom should prune bound-overlapped files: ${miss.rdd.getNumPartitions}")
    assert(miss.count() === 0L)
    // a present value keeps its file(s) and answers exactly
    val hitKey = keyOf(4321L)
    val expected = (0L until 8000L).count(keyOf(_) == hitKey).toLong
    val hit = read().where(col("key") === hitKey)
    assert(hit.count() === expected)
    assert(hit.rdd.getNumPartitions >= 1)
    // string blooms: equality and IN both refute scattered lookups
    assert(read().where(col("name") === "nope").rdd.getNumPartitions <= 1)
    assert(read().where(col("name") === "u4321").count() === 1L)
    assert(read().where(col("name").isin("u10", "u7999")).count() === 2L)
    // ranges never consult blooms — the scattered layout opens everything
    assert(read().where(col("key") > keys.min && col("key") < keys.max)
      .rdd.getNumPartitions === 8)
    // blooms survive OPTIMIZE (compaction recomputes them on base files;
    // without that a maintenance run would silently lose the skipping)
    val tbl = new AuditTable(dir.toString, schema)
    AuditMaintenance.optimize(spark, dir.toString, schema, 4, None)
    assert(java.nio.file.Files.list(dir).iterator().asScala
      .count(_.getFileName.toString.startsWith("base-")) === 4)
    val postMiss = read().where(col("key") === absentKey)
    assert(postMiss.rdd.getNumPartitions <= 1,
      s"post-OPTIMIZE bloom pruning lost: ${postMiss.rdd.getNumPartitions}")
    assert(read().where(col("key") === hitKey).count() === expected)

    // a table written WITHOUT bloomcols carries no blooms and never
    // bloom-refutes (every file survives the same in-envelope probe)
    val plain = tempDir()
    spark.range(0, 800).toDF("id")
      .select((col("id") * 2654435761L % 100000L).as("key"),
        lit("x").as("name"))
      .repartition(4, col("id"))
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", plain.toString).mode("append").save()
    val plainKeys = (0L until 800L).map(keyOf).toSet
    val plainMid = (plainKeys.min + plainKeys.max) / 2
    val plainAbsent = (plainMid to plainKeys.max)
      .find(!plainKeys.contains(_)).get
    val pm = spark.read.schema(schema)
      .format(classOf[JsonAuditSink].getName).option("path", plain.toString)
      .load().where(col("key") === plainAbsent)
    assert(pm.rdd.getNumPartitions === 4)
    assert(pm.count() === 0L)
  }

  test("string zone maps: truncated bounds refute in UTF8 binary order") {
    import org.apache.spark.sql.sources._
    val strCols = Set("name", "tag")
    def st(lo: String, hi: Option[String], v: Int = 2) =
      AuditStats.FileStats(v, Map.empty, Map("name" -> (lo, hi)))
    val bb_dd = st("bb", Some("dd"))
    def skip(s: AuditStats.FileStats, f: Filter*) =
      AuditStats.canSkip(s, f.toSeq, Set.empty, strCols)
    assert(skip(bb_dd, EqualTo("name", "aa")))
    assert(!skip(bb_dd, EqualTo("name", "cc")))
    assert(skip(bb_dd, EqualTo("name", "ee")))
    assert(skip(bb_dd, GreaterThan("name", "dd")))
    assert(!skip(bb_dd, GreaterThanOrEqual("name", "dd")))
    assert(skip(bb_dd, GreaterThanOrEqual("name", "ee")))
    assert(skip(bb_dd, LessThan("name", "bb")))
    assert(!skip(bb_dd, LessThanOrEqual("name", "bb")))
    assert(skip(bb_dd, LessThanOrEqual("name", "ab")))
    assert(skip(bb_dd, In("name", Array[Any]("aa", "zz"))))
    assert(!skip(bb_dd, In("name", Array[Any]("aa", "cc"))))
    // all matching rows live in [prefix, succ(prefix))
    assert(skip(bb_dd, StringStartsWith("name", "a")))
    assert(!skip(bb_dd, StringStartsWith("name", "c")))
    assert(!skip(bb_dd, StringStartsWith("name", "b"))) // "bb" starts with it
    assert(skip(bb_dd, StringStartsWith("name", "e")))
    // unbounded above (truncated max with no successor): only lower-bound
    // refutations remain available
    val open = st("bb", None)
    assert(!skip(open, GreaterThan("name", "zz")))
    assert(skip(open, LessThan("name", "bb")))
    // absent string column: all-null inference needs a v2 line
    assert(skip(bb_dd, EqualTo("tag", "x")))
    assert(!skip(st("bb", Some("dd"), v = 1), EqualTo("tag", "x")))
    // UTF8String BINARY order, not UTF-16 code-unit order: U+10000 (a
    // surrogate pair in Java, 4 bytes in UTF-8) sorts ABOVE U+FFFF
    val supp = new String(Character.toChars(0x10000))
    assert(skip(st("\uFFFF", Some("\uFFFF")), GreaterThan("name", supp)))
    // java.lang.String.compareTo would order these the other way:
    assert("\uFFFF".compareTo(supp) > 0)
  }

  test("string zone-map bounds: truncation, successor, and line round trip") {
    // truncation: bounds cap at 16 code points; upper bound is a successor
    val long = "abcdefghijklmnop" + "qrstuvwx" // 24 cps
    assert(AuditStats.truncLower(long) === "abcdefghijklmnop")
    assert(AuditStats.truncUpper(long) === Some("abcdefghijklmnoq"))
    assert(AuditStats.truncUpper("short") === Some("short"))
    assert(AuditStats.prefixSucc("ab") === Some("ac"))
    // surrogate gap is never a bound: U+D7FF increments to U+E000
    assert(AuditStats.prefixSucc("\uD7FF") === Some("\uE000"))
    assert(AuditStats.prefixSucc(
      new String(Character.toChars(0x10FFFF))) === None)
    // line/read round trip with hostile bound content (quotes, escapes,
    // int-shaped substrings inside a string bound)
    val dir = tempDir()
    val bits = AuditBloom.newBits
    AuditBloom.add(bits, AuditBloom.hashLong(42L))
    val hostile = AuditStats.FileStats(2,
      Map("id" -> (-5L, 9L)),
      Map("name" -> ("""a"b\c""" + "\n", Some("""x":[1,2]""")),
        "open" -> ("lo", None)),
      Map("id" -> AuditBloom.encode(bits)))
    AuditStats.append(dir.toString, Seq(("f1.jsonl", hostile)))
    val back = AuditStats.read(dir.toString)
    assert(back === Map("f1.jsonl" -> hostile))
    val rt = AuditBloom.decode(back("f1.jsonl").blooms("id"))
    assert(AuditBloom.mightContain(rt, AuditBloom.hashLong(42L)))
    assert(!AuditBloom.mightContain(rt, AuditBloom.hashLong(43L)))
    // v1 lines (no "v", int-only) still parse as version 1
    java.nio.file.Files.write(dir.resolve("_STATS"),
      """{"file":"old.jsonl","cols":{"id":[1,2]}}""".stripMargin
        .concat("\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val all = AuditStats.read(dir.toString)
    assert(all("old.jsonl") ===
      AuditStats.FileStats(1, Map("id" -> (1L, 2L)), Map.empty))
  }

  test("string-keyed files are skipped at planning; answers stay exact") {
    val dir = tempDir()
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("v", LongType)))
    // 8 range-partitioned files over a string key: k000..k799 zero-padded
    // (lexicographic == numeric), plus one file of >16-cp names
    spark.range(0, 800).toDF("id")
      .select(format_string("k%03d", col("id")).as("name"), col("id").as("v"))
      .repartitionByRange(8, col("name"))
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()
    def read() = spark.read.schema(schema)
      .format(classOf[JsonAuditSink].getName).option("path", dir.toString).load()
    // equality hits exactly one file
    val eq = read().where(col("name") === "k500")
    assert(eq.rdd.getNumPartitions === 1)
    assert(eq.collect().map(_.getLong(1)).toSeq === Seq(500L))
    // range slice spans a couple of files (sampled split points wobble)
    val rng = read().where(col("name") >= "k190" && col("name") < "k310")
    assert(rng.rdd.getNumPartitions <= 3, rng.rdd.getNumPartitions)
    assert(rng.count() === 120L)
    // prefix pushdown prunes too
    val pre = read().where(col("name").startsWith("k7"))
    assert(pre.rdd.getNumPartitions === 1)
    assert(pre.count() === 100L)
    // long names: bounds truncate to 16 cps, superset-safe — a probe
    // inside the truncated range keeps the file, outside skips it
    spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("z-" + "a" * 30, 9000L),
      org.apache.spark.sql.Row("z-" + "m" * 30, 9001L)), schema)
      .repartition(1)
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()
    assert(read().where(col("name") > "z-" + "n" * 30).rdd.getNumPartitions === 0)
    assert(read().where(col("name") === "z-" + "m" * 30).count() === 1L)
  }
}
