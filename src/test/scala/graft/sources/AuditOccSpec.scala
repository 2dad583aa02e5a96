package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** Optimistic concurrency for audit batch appends: commits publish as
  * immutable `_TXN/<v>.json` files via put-if-absent, so concurrent
  * appenders can NEVER lose each other's rows (the old read-modify-write
  * manifest would drop one side). Readers fold `_MANIFEST` + live txns;
  * maintenance consolidates with a stable CDF axis. */
class AuditOccSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session
  private val schema = StructType(Seq(StructField("id", LongType)))

  private def tempDir(): java.nio.file.Path = tempDir("graft_occ_")

  private def append(dir: java.nio.file.Path, from: Long, until: Long): Unit =
    spark.range(from, until).toDF("id").repartition(2)
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()

  private def read(dir: java.nio.file.Path) =
    spark.read.schema(schema).format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).load()

  test("CONCURRENT appends: no commit is ever lost") {
    val dir = tempDir()
    val ranges = (0 until 6).map(i => (i * 1000L, i * 1000L + 1000L))
    // 6 threads commit simultaneously; under the old read-modify-write
    // manifest two racing commits would read the same prior state and the
    // second manifest write would orphan the first's files
    val threads = ranges.map { case (a, b) =>
      new Thread(() => append(dir, a, b))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(read(dir).count() === 6000L)
    assert(read(dir).agg(countDistinct(col("id"))).head.getLong(0) === 6000L)
    // every commit is a distinct txn version, versions contiguous from 1
    val txns = {
      val l = java.nio.file.Files.list(dir.resolve("_TXN"))
      try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally l.close()
    }
    assert(txns === (1 to 6).map(v => s"$v.json"), txns)
    // metadata COUNT agrees before any consolidation
    val plan = read(dir).agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("AuditCountScan"), plan.take(500))
    assert(read(dir).agg(count(lit(1))).head.getLong(0) === 6000L)
  }

  test("consolidation folds txns in commit order; reads and CDF axis stable") {
    val dir = tempDir()
    append(dir, 0L, 100L)
    append(dir, 100L, 200L)
    val before = read(dir).collect().map(_.getLong(0)).sorted.toSeq
    // CDF axis = manifest line order; capture it pre-consolidation
    val cdfSchema = StructType(schema.fields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType))
    def cdf() = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).option("changeFeed", "true").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val cdfBefore = cdf()
    AuditBase.consolidate(dir.toString)
    assert(read(dir).collect().map(_.getLong(0)).sorted.toSeq === before)
    assert(cdf() === cdfBefore, "consolidation must not reorder the CDF axis")
    // manifest carries everything; txn dir is empty
    assert(AuditBase.readManifest(dir.toString).map(_.rows).sum === 200L)
    assert(AuditBase.readTxnFloor(dir.toString) === 2L)
    // a post-consolidation append starts ABOVE the floor
    append(dir, 200L, 300L)
    assert(java.nio.file.Files.exists(dir.resolve("_TXN").resolve("3.json")))
    assert(read(dir).count() === 300L)
  }

  test("zone maps and blooms publish atomically with the txn commit") {
    val dir = tempDir()
    spark.range(0, 4000).toDF("id")
      .repartitionByRange(4, col("id"))
      .write.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString).mode("append").save()
    // file skipping works straight off the txn-carried stats — no
    // consolidation has happened
    assert(!java.nio.file.Files.exists(dir.resolve("_STATS")))
    val sliced = read(dir).where(col("id") >= 1100L && col("id") < 1900L)
    assert(sliced.rdd.getNumPartitions === 1, sliced.rdd.getNumPartitions)
    assert(sliced.count() === 800L)
  }

  test("crash debris: a lost commit attempt is invisible and reclaimable") {
    val dir = tempDir()
    append(dir, 0L, 50L)
    // simulate a crash between file-move and txn publish: an orphan data
    // file plus a tmp txn attempt
    java.nio.file.Files.write(dir.resolve("part-xdeadbeef-00000.jsonl"),
      "{\"id\":999999}\n".getBytes("UTF-8"))
    val txnTmp = dir.resolve("_TXN").resolve("2.json.tmp-deadbeef")
    java.nio.file.Files.write(txnTmp, "{}".getBytes("UTF-8"))
    // invisible to reads (manifest-driven, never a glob)
    assert(read(dir).count() === 50L)
    // VACUUM clean_orphans reclaims both
    AuditMaintenance.vacuum(dir.toString, retainLast = Int.MaxValue,
      cleanOrphans = true)
    assert(!java.nio.file.Files.exists(dir.resolve("part-xdeadbeef-00000.jsonl")))
    assert(!java.nio.file.Files.exists(txnTmp))
    assert(read(dir).count() === 50L)
  }

  test("a live streaming writer and OCC batch appenders do not corrupt each other") {
    // epochs commit through the separate _EPOCHS log; batch appends
    // through _TXN — the logical table is the union, and neither
    // commit path read-modify-writes the other's metadata
    val dir = tempDir()
    val ckpt = tempDir("graft_occ_ckpt")
    val stream = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "2").option("pageSize", "50")
      .option("pagesPerTrigger", "1")
      .load().select(col("id").plus(100000L).as("id"))
      .writeStream.format(classOf[JsonAuditSink].getName)
      .option("path", dir.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      val appenders = (0 until 3).map { i =>
        new Thread(() => append(dir, i * 100L, i * 100L + 100L))
      }
      appenders.foreach(_.start())
      stream.processAllAvailable()
      appenders.foreach(_.join())
      stream.processAllAvailable()
    } finally stream.stop()
    assert(read(dir).count() === 400L) // 3×100 batch + 100 streamed
    assert(read(dir).agg(countDistinct(col("id"))).head.getLong(0) === 400L)
  }

  test("maintenance on an unconsolidated table sees every txn commit") {
    val dir = tempDir()
    append(dir, 0L, 100L)
    append(dir, 100L, 200L)
    // metadata DELETE consolidates first, then rewrites in place
    val tbl = new AuditTable(dir.toString, schema)
    tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan("id", 30L)))
    assert(read(dir).count() === 170L)
    assert(AuditBase.readManifest(dir.toString).map(_.rows).sum === 170L)
    // the fold left no live txns behind
    assert(AuditBase.readManifest(dir.toString).nonEmpty)
    val txnDir = dir.resolve("_TXN")
    val live =
      if (!java.nio.file.Files.isDirectory(txnDir)) Seq.empty
      else {
        val l = java.nio.file.Files.list(txnDir)
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".json")).toSeq
        finally l.close()
      }
    assert(live.isEmpty, live)
  }

  test("an append racing OPTIMIZE's fold after its consolidation counts once") {
    val dir = tempDir()
    append(dir, 0L, 100L)
    // a racing appender's whole commit: a data file, then its OCC txn
    def rawAppend(from: Long): Unit = {
      val name = s"part-xraced-$from.jsonl"
      java.nio.file.Files.write(dir.resolve(name),
        (from until from + 10).map(i => s"""{"id":$i}""")
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      AuditBase.commitTxn(dir.toString,
        Seq(AuditBase.ManifestEntry(name, 10L, folded = false)), Nil)
    }
    val p = PosixCommitPrimitives
    // OPTIMIZE's commit publishes its base files, consolidates (a
    // _MANIFEST replace), then rewrites the manifest with the fold. One
    // append lands before the consolidation and one right after it.
    final class Racing extends CommitPrimitives {
      @volatile var armed, fired = false
      def createMarker(t: java.nio.file.Path): Unit = p.createMarker(t)
      def linkIfAbsent(t: java.nio.file.Path, s: java.nio.file.Path): Unit =
        p.linkIfAbsent(t, s)
      def renameClaim(s: java.nio.file.Path, t: java.nio.file.Path): Unit =
        p.renameClaim(s, t)
      def appendBounded(t: java.nio.file.Path, c: Array[Byte]): Unit =
        p.appendBounded(t, c)
      def publishData(s: java.nio.file.Path, t: java.nio.file.Path,
          r: Boolean): Unit = {
        p.publishData(s, t, r)
        if (!armed && t.getFileName.toString.startsWith("base-")) {
          armed = true
          rawAppend(1000L)
        }
      }
      def replace(t: java.nio.file.Path, c: Array[Byte]): Unit = {
        p.replace(t, c)
        if (armed && !fired && t.getFileName.toString == "_MANIFEST") {
          fired = true
          rawAppend(2000L)
        }
      }
    }
    val racing = new Racing
    CommitPrimitives.withImpl(racing) {
      AuditMaintenance.optimize(spark, dir.toString, schema, 1, None)
    }
    assert(racing.fired)
    val ids = read(dir).collect().map(_.getLong(0)).toSeq
    assert(ids.sorted === ((0L until 100L) ++ (1000L until 1010L) ++
      (2000L until 2010L)))
    assert(read(dir).agg(count(lit(1))).head.getLong(0) === 120L)
    // both racers stay live batch entries, listed once each
    val live = AuditBase.readManifest(dir.toString).filterNot(_.folded)
      .map(_.file)
    assert(live.sorted === Seq("part-xraced-1000.jsonl",
      "part-xraced-2000.jsonl"), live)
  }
}
