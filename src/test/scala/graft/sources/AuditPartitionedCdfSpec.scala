package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** Time travel and the change feed on PARTITIONED audit tables: pinned
  * reads keep only epoch files <= v in every partition directory (batch
  * txn appends are excluded, matching the unpartitioned contract), and
  * the partitioned feed — whose offset is the per-directory manifest
  * length — resumes exactly and fails loudly when history is rewritten
  * under it. */
class AuditPartitionedCdfSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session

  private def freshTable(tag: String): (String, java.nio.file.Path) = {
    val wh = tempDir(s"graft_pcdf_${tag}_")
    val cat = s"graft_pcdf_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(
      s"""CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT)
         |USING audit PARTITIONED BY (flag)""".stripMargin)
    (cat, wh.resolve("db").resolve("t"))
  }

  private def streamEpochs(cat: String, pages: Int): Unit = {
    val ckpt = tempDir("graft_pcdf_ckpt")
    val w = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", pages.toString).option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), (col("id") % 3).as("flag"))
      .writeStream.option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable(s"$cat.db.t")
    try w.processAllAvailable() finally w.stop()
  }

  test("VERSION AS OF on a partitioned table pins epoch history per dir") {
    val (cat, dataDir) = freshTable("tt")
    streamEpochs(cat, 3) // epochs 0..2, ids 0..299
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 0)") // txn append
    // pinned: epochs <= 1 only — ids 0..199, no txn row
    val v1 = spark.sql(s"SELECT id FROM $cat.db.t VERSION AS OF 1")
    assert(v1.count() === 200L)
    assert(v1.agg(max(col("id"))).head.getLong(0) === 199L)
    // pinned + partition-pruned
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.t VERSION AS OF 0 WHERE flag = 1")
      .head.getLong(0) === 33L)
    // pinned metadata COUNT stays exact (manifest-only, epoch-filtered)
    val cnt = spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 1")
    assert(cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(cnt.head.getLong(0) === 200L)
    // the current read still sees everything
    assert(spark.table(s"$cat.db.t").count() === 301L)
  }

  test("partitioned change feed: batch events cover epochs AND txn appends") {
    val (cat, dataDir) = freshTable("ev")
    streamEpochs(cat, 2) // ids 0..199
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 1), (9001, 2)")
    val cdfSchema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType),
      StructField("_commit_epoch", LongType)))
    val events = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", dataDir.toString)
      .option("partitionby", "flag")
      .option("changeFeed", "true").load()
    assert(events.count() === 202L)
    assert(events.filter(col("_change_type") =!= "insert").count() === 0L)
    // epoch files carry their epoch stamp; txn appends carry null
    assert(events.filter(col("_commit_epoch").isNull)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(9000L, 9001L))
    assert(events.filter(col("_commit_epoch") === 0L).count() === 100L)
  }

  test("startingEpoch: incremental batch CDC pulls only new commits") {
    val (cat, dataDir) = freshTable("inc")
    streamEpochs(cat, 3) // epochs 0..2, ids 0..299
    val cdfSchema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType),
      StructField("_commit_epoch", LongType)))
    def since(e: Long) = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", dataDir.toString)
      .option("partitionby", "flag")
      .option("changeFeed", "true")
      .option("startingEpoch", e.toString).load()
    // "changes since epoch 1" — the daily-downstream-job pattern
    assert(since(1L).count() === 200L)
    assert(since(1L).agg(min(col("id"))).head.getLong(0) === 100L)
    assert(since(3L).count() === 0L) // caught up
    // un-epoch'd events (txn appends) make an incremental pull refuse
    // loudly — re-emitting them every pull would double-count
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 1)")
    val ex = intercept[Exception](since(1L).count())
    assert(ex.getMessage.contains("batch txn appends"), ex.getMessage)
    // the full (non-incremental) feed still reads everything
    assert(spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", dataDir.toString).option("partitionby", "flag")
      .option("changeFeed", "true").load().count() === 301L)

    // UNPARTITIONED twin, and the pull survives OPTIMIZE: folded epochs
    // resolve from the base checkpoint by ORIGIN, same replay keys
    val cat2 = s"graft_pcdf_inc_u"
    val wh2 = tempDir("graft_pcdf_incu_")
    spark.conf.set(s"spark.sql.catalog.$cat2", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", wh2.toString)
    spark.sql(s"CREATE TABLE $cat2.db.u (id BIGINT, flag BIGINT) USING audit")
    val ckpt = tempDir("graft_pcdf_incu_ck")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "3").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(col("id"), (col("id") % 3).as("flag"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", wh2.resolve("db/u").toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def uSince(e: Long) = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", wh2.resolve("db/u").toString)
      .option("changeFeed", "true")
      .option("startingEpoch", e.toString).load()
    assert(uSince(2L).count() === 100L)
    spark.sql(s"CALL $cat2.system.optimize(table => 'db.u', " +
      "target_file_count => 1)")
    assert(uSince(2L).count() === 100L,
      "incremental CDC must survive compaction (base-origin replay)")
    assert(uSince(2L).agg(min(col("id"))).head.getLong(0) === 200L)
    // startingTimestamp resolves through the commit-time axis
    val uts = AuditScan.epochTimestamps(wh2.resolve("db/u").toString)
    def uSinceTs(ms: Long) = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", wh2.resolve("db/u").toString)
      .option("changeFeed", "true")
      .option("startingTimestamp", ms.toString).load()
    assert(uSinceTs(uts.values.min).count() === 300L) // at-or-after first
    assert(uSinceTs(uts.values.max + 1).count() === 0L) // past the head
  }

  test("partitioned feed offsets are per-directory and fail loudly on rewrite") {
    val (cat, dataDir) = freshTable("off")
    streamEpochs(cat, 2)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType)))
    val stream = new AuditPartitionedCdfStream(dataDir.toString, schema,
      Seq(AuditPartition.Level("flag", LongType, None)))
    val off = stream.latestOffset().asInstanceOf[AuditPartCdfOffset]
    // two epochs routed into three flag dirs: two entries per dir, each
    // offset carrying the exact row total under its consumed entries
    assert(off.dirs.keySet === Set("flag=0", "flag=1", "flag=2"))
    assert(off.dirs.values.map(_.entries).toSet === Set(2))
    assert(off.dirs.values.map(_.rows).sum === 200L)
    assert(off.dirs.values.map(_.dels).toSet === Set(0))
    // offsets round-trip through their JSON form
    assert(stream.deserializeOffset(off.json()) === off)
    // a legacy (round-11, entries-only) offset still parses and resumes;
    // legacy BARE-token keys normalize to level-0 relDirs on parse
    val legacy = stream.deserializeOffset("""{"0":2,"1":2,"2":2}""")
      .asInstanceOf[AuditPartCdfOffset]
    assert(legacy.dirs("flag=1") === AuditPartCdfOffset.DirOff(2, -1L, 0))
    assert(stream.planInputPartitions(legacy, off).isEmpty)
    // a restored offset beyond a (rewritten) manifest fails loudly
    val bad = AuditPartCdfOffset(off.dirs.map { case (t, o) =>
      (t, o.copy(entries = 99)) })
    val ex = intercept[IllegalArgumentException](
      stream.planInputPartitions(bad, bad))
    assert(ex.getMessage.contains("restart the feed"), ex.getMessage)
    // a vanished partition directory (DROP PARTITION / truncate) too
    val gone = AuditPartCdfOffset(Map("7" -> AuditPartCdfOffset.DirOff(1, -1L, 0)))
    val ex2 = intercept[IllegalStateException](
      stream.planInputPartitions(AuditPartCdfOffset(Map.empty), gone))
    assert(ex2.getMessage.contains("vanished"), ex2.getMessage)
  }

  test("DROP PARTITION under a live tail fails loudly, never silently skips") {
    val (cat, dataDir) = freshTable("drop")
    streamEpochs(cat, 2) // dirs flag=0,1,2 populated
    val cdfSchema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType)))
    val ckpt = tempDir("graft_pcdf_dropck")
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    def startTail() = spark.readStream.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", dataDir.toString)
      .option("partitionby", "flag")
      .option("changeFeed", "true").load()
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(batch.count()); ()
      }
      .start()
    val tail = startTail()
    try tail.processAllAvailable() finally tail.stop()
    assert(seen.get() === 200L)
    // the tail consumed from flag=1; drop that partition under it
    spark.sql(s"ALTER TABLE $cat.db.t DROP PARTITION (flag = 1)")
    val tail2 = startTail()
    val ex = intercept[Throwable] {
      try tail2.processAllAvailable() finally tail2.stop()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(ex).exists(t => t.getMessage != null &&
      t.getMessage.contains("vanished")), ex.toString)
    // and nothing was silently re-counted or skipped into the sink
    assert(seen.get() === 200L)
  }

  test("a plain SQL DELETE on a partitioned table is CDC-visible") {
    // simple convertible predicates used to take the METADATA path
    // (in-place manifest fold) — a live tail then tripped the rewrite
    // detector on a perfectly legitimate DELETE. Partitioned predicate
    // deletes now route to the delta (vector) path: the tail consumes
    // them as delete events, pure-append history intact.
    val (cat, dataDir) = freshTable("sdel")
    streamEpochs(cat, 1) // ids 0..99 across flag=0,1,2
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType)))
    val stream = new AuditPartitionedCdfStream(dataDir.toString, schema,
      Seq(AuditPartition.Level("flag", LongType, None)))
    val consumed = stream.latestOffset().asInstanceOf[AuditPartCdfOffset]
    spark.sql(s"DELETE FROM $cat.db.t WHERE id < 4") // fully convertible
    assert(spark.table(s"$cat.db.t").count() === 96L)
    // the slice after the DELETE plans WITHOUT tripping the detector …
    val end = stream.latestOffset().asInstanceOf[AuditPartCdfOffset]
    val parts = stream.planInputPartitions(consumed, end)
    val factory = stream.createReaderFactory()
    val events = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getLong(0), row.getUTF8String(2).toString))
      }
      r.close(); buf
    }
    // … and carries exactly the four deletes with their original rows
    assert(events.count(_._2 == "insert") === 0)
    assert(events.filter(_._2 == "delete").map(_._1).toSet ===
      Set(0L, 1L, 2L, 3L))
  }

  test("bucket-partitioned delta DML: vectors, cross-bucket moves, history") {
    val wh = tempDir("graft_pcdf_bkt_")
    val cat = "graft_pcdf_bkt"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(
      s"""CREATE TABLE $cat.db.b (id BIGINT, name STRING, v BIGINT)
         |USING audit PARTITIONED BY (bucket(4, name))""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.db.b
         |SELECT id, concat('k', id), id * 10 FROM range(0, 100)""".stripMargin)
    // delta UPDATE that changes the BUCKETING column: the row must move
    // to its new hash bucket's directory via delete-vector + append
    spark.sql(s"UPDATE $cat.db.b SET name = 'moved' WHERE id = 7")
    spark.sql(s"DELETE FROM $cat.db.b WHERE id % 1000 IN (3, 4)")
    assert(spark.table(s"$cat.db.b").count() === 98L)
    assert(spark.sql(s"SELECT v FROM $cat.db.b WHERE name = 'moved'")
      .head.getLong(0) === 70L)
    // bucket-pruned read finds the moved row in its NEW bucket
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.b WHERE name = 'k7'")
      .head.getLong(0) === 0L)
    // history on a PARTITIONED table: per-directory rows + vector counts
    val hist = spark.sql(s"CALL $cat.system.history(table => 'db.b')")
      .collect().map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(hist.exists(_._1 == "partition"), hist)
    assert(hist.collect { case ("partition", n) => n }.sum === 98L, hist)
    assert(hist.collect { case ("deletes", n) => n }.sum === 3L, hist)
  }

  test("partitioned delta DML emits update/delete events; in-place rewrite detected") {
    val (cat, dataDir) = freshTable("dml")
    streamEpochs(cat, 2) // ids 0..199 across flag=0,1,2
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType),
      StructField("_file", StringType), StructField("_pos", LongType)))
    val stream = new AuditPartitionedCdfStream(dataDir.toString, schema,
      Seq(AuditPartition.Level("flag", LongType, None)))
    val consumed = stream.latestOffset().asInstanceOf[AuditPartCdfOffset]
    // delta DML: an UPDATE that MOVES a row across partitions (id=9 gets
    // flag 1 instead of 0) plus a plain DELETE — both append-only
    spark.sql(s"UPDATE $cat.db.t SET flag = 1 WHERE id = 9")
    // the modulo keeps the predicate off the metadata (in-place rewrite)
    // path: the strict V2→V1 converter refuses it, so the DELETE takes
    // the row-level DELTA path and lands as per-directory vectors
    spark.sql(s"DELETE FROM $cat.db.t WHERE id % 1000 IN (4, 5)")
    // table state: moved row visible under its new partition, deletes gone
    assert(spark.table(s"$cat.db.t").count() === 198L)
    assert(spark.sql(s"SELECT flag FROM $cat.db.t WHERE id = 9")
      .head.getLong(0) === 1L)
    // metadata COUNT stays exact under outstanding vectors
    // (flag=0 held ids ≡0 mod 3 → 67 rows; id=9 moved away → 66)
    val cnt = spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE flag = 0")
    assert(cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"))
    assert(cnt.head.getLong(0) === 66L)
    // the feed's incremental slice carries the DML as events
    val end = stream.latestOffset().asInstanceOf[AuditPartCdfOffset]
    val parts = stream.planInputPartitions(consumed, end)
    val factory = stream.createReaderFactory()
    val events = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, String, Long)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getLong(0), row.getLong(1), row.getUTF8String(2).toString,
          row.getUTF8String(3).toString, row.getLong(4)))
      }
      r.close(); buf
    }
    val dels = events.filter(_._3 == "delete")
    val ins = events.filter(_._3 == "insert")
    // delete events carry ORIGINAL values incl. the pre-move flag, and
    // dir-qualified row ids; the moved row re-inserts under flag=1
    assert(dels.map(e => (e._1, e._2)).toSet === Set((9L, 0L), (4L, 1L), (5L, 2L)))
    assert(dels.forall(_._4.startsWith("flag=")))
    assert(ins.map(e => (e._1, e._2)).toSet === Set((9L, 1L)))
    // VERSION AS OF pre-DML epochs still resolves pre-DML state (delta
    // DML never rewrites committed files)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 1")
      .head.getLong(0) === 200L)
    // the retroactive metadata path (TRUNCATE-grade rewrite) changes
    // consumed-entry row counts IN PLACE — the tail must detect it
    AuditDelete.deleteWhere(dataDir.toString,
      StructType(schema.take(2)),
      Array(org.apache.spark.sql.sources.LessThan("id", 3L)),
      Seq(AuditPartition.Level("flag", LongType, None)))
    val ex = intercept[IllegalArgumentException](
      stream.planInputPartitions(end, stream.latestOffset()))
    assert(ex.getMessage.contains("rewrote published history"), ex.getMessage)
  }
}
