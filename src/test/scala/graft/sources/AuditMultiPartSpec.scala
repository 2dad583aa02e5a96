package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** MULTI-LEVEL partitioning (`PARTITIONED BY (y, m, d)`) — the
  * reference's own `{year}/{month}/{day}` zone layout
  * (main.py:41-46, spark_jobs/playback_pipeline.py:254-262) expressed
  * natively by the catalog-managed audit table format: nested
  * `y=…/m=…/d=…` directories, per-LEAF manifests, per-level static and
  * runtime (DPP) pruning, partitioned delta DML, OPTIMIZE and the
  * change feed over the nested tree. */
class AuditMultiPartSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session

  private def freshCat(tag: String): (String, java.nio.file.Path) = {
    val wh = tempDir(s"graft_mp_${tag}_")
    val cat = s"graft_mp_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    (cat, wh)
  }

  private def mkTable(cat: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $cat.db.t (id BIGINT, y BIGINT, m BIGINT, v STRING)
         |USING audit PARTITIONED BY (y, m)""".stripMargin)
    // 2 years x 3 months x 50 rows
    spark.sql(
      s"""INSERT INTO $cat.db.t
         |SELECT id, 2023 + (id % 2), 1 + (id % 3), concat('v', id)
         |FROM range(0, 300)""".stripMargin)
  }

  test("nested directory layout: y=…/m=… leaves with per-leaf manifests") {
    val (cat, wh) = freshCat("layout")
    mkTable(cat)
    val data = wh.resolve("db/t")
    val dirs = AuditPartition.listDirsByCols(data.toString, Seq("y", "m"))
    assert(dirs.map(_._1).toSet === (for {
      y <- Seq(2023, 2024); m <- Seq(1, 2, 3)
    } yield s"y=$y/m=$m").toSet)
    dirs.foreach { case (_, d) =>
      assert(AuditPartition.manifestEntries(d).nonEmpty, d.toString)
    }
    assert(spark.table(s"$cat.db.t").count() === 300L)
  }

  test("static pruning per level; partial predicates open only matching subtrees") {
    val (cat, _) = freshCat("prune")
    mkTable(cat)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
    // both levels pinned → exactly one leaf dir planned
    val one = spark.table(s"$cat.db.t").where("y = 2023 AND m = 2")
    assert(scanOf(one).inputPartitions.collect {
      case p: AuditDirPartition => p.relDir
    } === Seq("y=2023/m=2"))
    assert(one.count() === 50L)
    // only the INNER level restricted → every y, one m per y
    val inner = spark.table(s"$cat.db.t").where("m = 3")
    assert(scanOf(inner).inputPartitions.collect {
      case p: AuditDirPartition => p.relDir
    }.toSet === Set("y=2023/m=3", "y=2024/m=3"))
    assert(inner.count() === 100L)
    // partition-sliced COUNT(*) stays metadata-only
    val cnt = spark.sql(
      s"SELECT count(*) FROM $cat.db.t WHERE y = 2024 AND m IN (1, 2)")
    assert(cnt.queryExecution.executedPlan.toString.contains("AuditCountScan"),
      cnt.queryExecution.executedPlan.toString.take(500))
    assert(cnt.head.getLong(0) === 100L)
    // grouped metadata count over a LEVEL SUBSET (y alone)
    val grp = spark.sql(s"SELECT y, count(*) AS c FROM $cat.db.t GROUP BY y")
    assert(grp.queryExecution.executedPlan.toString.contains("AuditGroupCountScan"),
      grp.queryExecution.executedPlan.toString.take(500))
    assert(grp.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ===
      Map(2023L -> 150L, 2024L -> 150L))
  }

  test("runtime (DPP) pruning narrows any level of the nested layout") {
    val (cat, _) = freshCat("dpp")
    mkTable(cat)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dim = spark.range(0, 1).toDF("k")
        .select((col("k") + 2L).as("m")).where(col("m") > 0L)
      val joined = spark.table(s"$cat.db.t").join(broadcast(dim), "m")
      assert(joined.count() === 100L)
      val scans = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.exists(_.runtimeFilters.nonEmpty),
        "expected a dynamicpruning runtime filter on the inner level")
      joined.collect()
      assert(scans.flatMap(_.scan match {
        case s: AuditScan => s.runtimeFilterApi
        case _            => None
      }).nonEmpty, "runtime filter never reached the audit scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("partitioned delta DML on the nested layout (vectors + cross-leaf move)") {
    val (cat, wh) = freshCat("dml")
    mkTable(cat)
    // UPDATE that MOVES rows into a different (y, m) leaf
    spark.sql(s"UPDATE $cat.db.t SET m = 12, v = 'moved' WHERE id < 4")
    assert(spark.table(s"$cat.db.t").where("m = 12").count() === 4L)
    assert(spark.table(s"$cat.db.t").count() === 300L)
    // the new leaves exist; original leaves carry delete vectors
    val data = wh.resolve("db/t")
    val dirs = AuditPartition.listDirsByCols(data.toString, Seq("y", "m"))
    assert(dirs.exists(_._1 == "y=2023/m=12"))
    assert(dirs.exists(_._1 == "y=2024/m=12"))
    assert(AuditDeletes.count(data.resolve("y=2023/m=1").toString) > 0)
    // delta DELETE in one leaf only
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 100 AND y = 2023 AND m = 2")
    assert(spark.table(s"$cat.db.t").count() === 299L)
    // MERGE routes inserts to a brand-new leaf
    spark.range(1000, 1002).toDF("id")
      .select(col("id"), lit(2025L).as("y"), lit(7L).as("m"),
        lit("new").as("v"))
      .createOrReplaceTempView("mp_src")
    spark.sql(
      s"""MERGE INTO $cat.db.t t USING mp_src s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table(s"$cat.db.t").where("y = 2025 AND m = 7").count() === 2L)
    assert(spark.table(s"$cat.db.t").count() === 301L)
  }

  test("OPTIMIZE compacts nested leaves in place; reads stay byte-identical") {
    val (cat, wh) = freshCat("opt")
    mkTable(cat)
    // extra appends → multiple files per leaf
    spark.sql(
      s"""INSERT INTO $cat.db.t
         |SELECT id + 300, 2023 + (id % 2), 1 + (id % 3), concat('w', id)
         |FROM range(0, 300)""".stripMargin)
    val before = spark.table(s"$cat.db.t").orderBy("id").collect().toSeq
    val data = wh.resolve("db/t")
    val filesBefore = AuditPartition
      .listDirsByCols(data.toString, Seq("y", "m"))
      .map { case (_, d) => AuditPartition.manifestEntries(d).size }.sum
    spark.sql(
      s"CALL $cat.system.optimize(table => 'db.t', target_file_count => 2)")
    val filesAfter = AuditPartition
      .listDirsByCols(data.toString, Seq("y", "m"))
      .map { case (_, d) => AuditPartition.manifestEntries(d).size }.sum
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(spark.table(s"$cat.db.t").orderBy("id").collect().toSeq === before)
  }

  test("change feed over the nested layout carries dir-qualified row ids") {
    val (cat, wh) = freshCat("cdf")
    mkTable(cat)
    spark.sql(s"UPDATE $cat.db.t SET v = 'u' WHERE id = 7")
    def feed() = spark.read.format(classOf[JsonAuditSink].getName)
      .schema("id BIGINT, y BIGINT, m BIGINT, v STRING, " +
        "_change_type STRING, _file STRING")
      .option("changeFeed", "true")
      .option("partitionby", "y,m")
      .load(wh.resolve("db/t").toString)
    val events = feed().collect()
    // 300 inserts + (1 delete + 1 re-insert) from the UPDATE
    assert(events.count(_.getString(4) == "insert") === 301)
    assert(events.count(_.getString(4) == "delete") === 1)
    val del = events.filter(_.getString(4) == "delete").head
    assert(del.getLong(0) === 7L && del.getString(3) === "v7")
    // row ids are NESTED-dir qualified (unique table-wide)
    assert(del.getString(5).matches("""y=\d+/m=\d+/part-.*\.jsonl"""),
      del.getString(5))
    assert(events.forall(_.getString(5).startsWith("y=")))
  }

  test("SHOW PARTITIONS / DROP PARTITION over the nested layout") {
    val (cat, wh) = freshCat("mgmt")
    mkTable(cat)
    val parts = spark.sql(s"SHOW PARTITIONS $cat.db.t").collect()
      .map(_.getString(0)).toSet
    assert(parts === (for {
      y <- Seq(2023, 2024); m <- Seq(1, 2, 3)
    } yield s"y=$y/m=$m").toSet)
    // partial spec filters on one level
    val partial = spark.sql(s"SHOW PARTITIONS $cat.db.t PARTITION (m = 2)")
      .collect().map(_.getString(0)).toSet
    assert(partial === Set("y=2023/m=2", "y=2024/m=2"))
    // DROP PARTITION removes one leaf (the O(1) retention delete)
    spark.sql(s"ALTER TABLE $cat.db.t DROP PARTITION (y = 2023, m = 1)")
    assert(spark.table(s"$cat.db.t").count() === 250L)
    assert(!java.nio.file.Files.isDirectory(
      wh.resolve("db/t/y=2023/m=1")))
  }

  test("mixed identity+bucket levels route and prune") {
    val (cat, wh) = freshCat("mixed")
    spark.sql(
      s"""CREATE TABLE $cat.db.b (id BIGINT, y BIGINT, name STRING)
         |USING audit PARTITIONED BY (y, bucket(4, name))""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.db.b
         |SELECT id, 2023 + (id % 2), concat('n', id % 16)
         |FROM range(0, 160)""".stripMargin)
    val dirs = AuditPartition
      .listDirsByCols(wh.resolve("db/b").toString, Seq("y", "name"))
    assert(dirs.nonEmpty && dirs.forall { case (rel, _) =>
      rel.matches("""y=\d+/name=\d""") })
    // bucket level prunes but keeps the predicate residual
    val q = spark.table(s"$cat.db.b").where("y = 2024 AND name = 'n3'")
    val planned = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.collect { case p: AuditDirPartition => p.relDir }
    assert(planned.size === 1 && planned.head.startsWith("y=2024/name="))
    assert(q.count() === 10L)
  }

  test("generated columns recompute through nested-layout delta DML") {
    val (cat, wh) = freshCat("gen")
    spark.sql(
      s"""CREATE TABLE $cat.db.g (id BIGINT, y BIGINT, m BIGINT,
         |  leaf STRING GENERATED ALWAYS AS (concat(y, '/', m)))
         |USING audit PARTITIONED BY (y, m)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.db.g (id, y, m)
         |SELECT id, 2023 + (id % 2), 1 + (id % 3) FROM range(0, 120)""".stripMargin)
    val data = wh.resolve("db/g")
    def leafFiles(): Map[String, Int] = AuditPartition
      .listDirsByCols(data.toString, Seq("y", "m"))
      .map { case (rel, d) =>
        rel -> AuditPartition.manifestEntries(d).size
      }.toMap
    val before = leafFiles()
    // an UPDATE that MOVES rows across leaves recomputes the generated
    // column with the NEW partition value
    spark.sql(s"UPDATE $cat.db.g SET m = 12 WHERE id < 4")
    val moved = spark.sql(
      s"SELECT y, m, leaf FROM $cat.db.g WHERE id < 4").collect()
    assert(moved.length === 4)
    assert(moved.forall(r => r.getString(2) === s"${r.getLong(0)}/12"))
    // every surviving row's generated value agrees with its columns
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.g " +
      "WHERE leaf <> concat(y, '/', m)").head.getLong(0) === 0L)
    // MERGE inserts into a brand-new leaf compute the generated value
    spark.range(500, 503).toDF("id")
      .selectExpr("id", "CAST(2025 AS BIGINT) AS y", "CAST(9 AS BIGINT) AS m")
      .createOrReplaceTempView("mp_gen_src")
    spark.sql(
      s"""MERGE INTO $cat.db.g t USING mp_gen_src s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, y, m) VALUES (s.id, s.y, s.m)""".stripMargin)
    val ins = spark.sql(
      s"SELECT leaf FROM $cat.db.g WHERE id >= 500").collect()
    assert(ins.length === 3 && ins.forall(_.getString(0) === "2025/9"))
    // DML wrote only the touched leaves: untouched (y,m) leaves gained
    // no files (writes target-dir-scoped, the 100 TB property)
    val after = leafFiles()
    val touched = Set("y=2023/m=12", "y=2024/m=12", "y=2025/m=9")
    before.keySet.diff(touched).foreach { rel =>
      // source leaves of moved rows gain only delete vectors, not files
      assert(after(rel) === before(rel), s"untouched leaf $rel grew files")
    }
  }

  test("a generated column can BE a nested partition LEVEL (moves on UPDATE)") {
    val (cat, wh) = freshCat("genlvl")
    spark.sql(
      s"""CREATE TABLE $cat.db.p (id BIGINT, ts BIGINT,
         |  y BIGINT GENERATED ALWAYS AS (ts DIV 100),
         |  mb BIGINT GENERATED ALWAYS AS (ts % 4))
         |USING audit PARTITIONED BY (y, mb)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.p (id, ts) " +
      "SELECT id, 202300 + id % 8 FROM range(0, 80)")
    val data = wh.resolve("db/p")
    val dirs0 = AuditPartition.listDirsByCols(data.toString, Seq("y", "mb"))
      .map(_._1).toSet
    assert(dirs0 === (for (y <- Seq(2023); b <- 0 to 3)
      yield s"y=$y/mb=$b").toSet)
    // UPDATE the BASE column: both generated partition levels recompute
    // and the row re-routes to the recomputed leaf
    spark.sql(s"UPDATE $cat.db.p SET ts = 202401 WHERE id = 0")
    val r = spark.sql(s"SELECT ts, y, mb FROM $cat.db.p WHERE id = 0").head
    assert(r.getLong(1) === 2024L && r.getLong(2) === 1L)
    val dirs1 = AuditPartition.listDirsByCols(data.toString, Seq("y", "mb"))
      .map(_._1).toSet
    assert(dirs1.contains("y=2024/mb=1"))
    // pruned read over the new leaf finds the moved row only there
    assert(spark.table(s"$cat.db.p")
      .where("y = 2024 AND mb = 1").count() === 1L)
    assert(spark.table(s"$cat.db.p").count() === 80L)
  }
}
