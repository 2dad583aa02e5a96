package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Synthetic-table loading helpers (see /root/repo/TESTDATA.md).
  *
  * All operator queries run over the driver-generated parquet tables at
  * `sfDir`. Parquet scans are the canonical source: self-describing schema,
  * column pruning and predicate pushdown reach the file footer
  * (reference parquet scan: spark_jobs/playback_pipeline_curated.py:190).
  *
  * Schema memo: inferring a parquet schema is a Spark job (a footer read
  * per file), and a query that reads a table three times paid it three
  * times. [[table]] infers each file's schema once and reads with
  * `.schema(s)` after that, which launches no job. The memo key is what
  * decides the inferred schema: the file (qualified path, length and
  * modification time, so a file rewritten in place is inferred again) and
  * the session confs that change how parquet types map to Spark types —
  * `nanosAsLong` above all, since [[events]] sets it and the legacy
  * TIMESTAMP(NANOS) flavor reads as a long only under it. A directory is
  * never memoized: its own length and mtime do not track its files. Each
  * call still builds a fresh relation, so a self-join of two reads keeps
  * distinct attribute ids.
  */
object Tables {

  /** The confs that parquet schema inference reads to map footer types. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas = TrieMap.empty[(String, Long, Long, Seq[String]), StructType]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val st = path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path)
    if (!st.isFile) spark.read.parquet(path.toString)
    else {
      val key = (st.getPath.toString, st.getLen, st.getModificationTime,
        inferenceConfs.map(spark.conf.get))
      val schema = schemas.getOrElseUpdate(key, spark.read.parquet(path.toString).schema)
      spark.read.schema(schema).parquet(path.toString)
    }
  }

  def lineitem(spark: SparkSession, d: String): DataFrame   = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame     = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame   = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame   = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame       = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame     = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame     = table(spark, d, "region")
  /** events.ts has shipped in two parquet flavors: legacy TIMESTAMP(NANOS)
    * — which Spark's reader rejects outright ([PARQUET_TYPE_ILLEGAL]) unless
    * read as a raw nanos long under the legacy conf — and standard
    * TIMESTAMP(MICROS). Normalize both to a microsecond TimestampType
    * column. The nanos branch uses integral `div` so no double round-trip
    * ever touches the 1.7e18 nanos values (> 2^53); DuckDB's
    * `CAST(ts AS TIMESTAMP)` truncates ns→µs the same way, so oracles stay
    * aligned on either flavor.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ flavor; session TZ is UTC, so the cast is exact
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame  = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")
}
