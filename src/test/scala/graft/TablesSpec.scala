package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** [[Tables]]' schema memo: one inference per file and conf, and none that
  * a rewrite or a conf change could make stale. */
class TablesSpec extends SparkSpec with TempDirs with JobCounts {

  private val d = "/root/testdata/sf0.001"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Writes `df` as the single parquet file `{dir}/{name}.parquet`. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val scratch = dir.resolve(s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch)
    try Files.move(part.filter(_.getFileName.toString.startsWith("part-")).findFirst().get,
      dir.resolve(s"$name.parquet"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally part.close()
    sources.deleteTree(scratch)
  }

  test("a second read of a table launches no job and is a fresh relation") {
    Tables.nation(spark, d)
    val (a, jobs) = withJobs(Tables.nation(spark, d))
    assert(jobs === 0)
    assert(a.schema === spark.read.parquet(s"$d/nation.parquet").schema)
    // a self-join resolves: each read has its own attribute ids
    val b = Tables.nation(spark, d)
    assert(a.join(b, a("n_nationkey") === b("n_regionkey")).count() ===
      spark.read.parquet(s"$d/nation.parquet").where("n_regionkey < 5").count())
  }

  test("a parquet file rewritten at the same path with a new column is read " +
      "with its new schema") {
    val dir = tempDir("graft_tables_")
    writeTable(spark.range(3).toDF("id"), dir, "t")
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq === Seq("id"))
    writeTable(spark.range(3).selectExpr("id", "id * 2 AS twice"), dir, "t")
    val t = Tables.table(spark, dir.toString, "t")
    assert(t.columns.toSeq === Seq("id", "twice"))
    assert(t.where("twice = 4").count() === 1L)
  }

  test("a type-mapping conf is part of the memo key") {
    // events.parquet is not written by Spark, so its footer's timestamp
    // annotation, read under this conf, decides the ts type
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.get(key)
    try {
      val types = Seq("true", "false").map { v =>
        spark.conf.set(key, v)
        val t = Tables.table(spark, d, "events").schema("ts").dataType
        assert(t === spark.read.parquet(s"$d/events.parquet").schema("ts").dataType, s"$key=$v")
        t
      }
      assert(types === Seq(TimestampNTZType, TimestampType))
    } finally spark.conf.set(key, before)
  }

  test("events keeps its ts type under both nanosAsLong values") {
    val before = spark.conf.get(nanosAsLong)
    try for (v <- Seq("false", "true", "false")) {
      spark.conf.set(nanosAsLong, v)
      assert(Tables.table(spark, d, "events").schema ===
        spark.read.parquet(s"$d/events.parquet").schema, s"nanosAsLong=$v")
      assert(Tables.events(spark, d).schema("ts").dataType === TimestampType)
    } finally spark.conf.set(nanosAsLong, before)
  }
}
