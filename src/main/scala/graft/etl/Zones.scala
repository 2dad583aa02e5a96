package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Medallion-zone path conventions + IO, implemented ONCE (the reference
  * copy-pastes `write_to_gcs`/`move_blob` 4×, SURVEY §2.12).
  *
  * Zone layout mirrors the reference's date-partitioned lake
  * (main.py:41-46; spark_jobs/playback_pipeline.py:254-262):
  * `{root}/00_landing_zone/{y}/{m}/{d}/…` → clean CSV → curated Parquet →
  * a local-parquet "warehouse" standing in for BigQuery (no egress).
  *
  * Scale note: directory date-partitioning keeps per-day jobs reading only
  * their own prefix; at cluster scale the same layout becomes Hive-style
  * partition pruning by swapping the path scheme for `date=` partitions —
  * the write API below is already partition-agnostic. Per-day steps plan
  * on one partition: a day is at most 50 plays, its landing document is
  * one unsplittable JSON file, and each clean CSV and curated Parquet
  * table is the one part file that single partition writes, so the steps
  * that read them declare it with `coalesce(1)` and run without a shuffle.
  * A cross-day plan is where partitioned shuffles belong.
  */
final case class Zones(root: String) {
  def landing(y: Int, m: Int, d: Int): String =
    s"$root/00_landing_zone/$y/$m/$d"
  def clean(y: Int, m: Int, d: Int, table: String): String =
    s"$root/01_clean_zone/$y/$m/$d/$table"
  def curated(y: Int, m: Int, d: Int, table: String): String =
    s"$root/02_curated_zone/$y/$m/$d/$table"
  def warehouse(table: String): String =
    s"$root/warehouse/$table"
}

object Zones {

  /** K1 — clean-zone CSV sink, idempotent overwrite, header row
    * (reference: spark_jobs/playback_pipeline.py:66-88). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S2 — clean-zone CSV scan with header
    * (reference: spark_jobs/playback_pipeline_curated.py:173), typed by
    * the declared [[Pipeline.cleanSchemas]] entry of the table that
    * [[Zones.clean]] puts last in the path instead of by an inference scan.
    * A path naming no known table fails loudly. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(declared(Pipeline.cleanSchemas, path))
      .option("header", "true").csv(path)

  /** K2 — curated-zone Parquet sink, idempotent overwrite
    * (reference: spark_jobs/playback_pipeline_curated.py:64-86). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S3 — curated or warehouse Parquet scan
    * (reference: spark_jobs/playback_pipeline_curated.py:190), typed by the
    * declared [[Pipeline.curatedSchemas]] entry of the table last in the
    * path, so the read runs no footer-inference job. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(declared(Pipeline.curatedSchemas, path)).parquet(path)

  private def declared(schemas: Map[String, String], path: String): String = {
    val table = path.stripSuffix("/").split('/').last
    schemas.getOrElse(table, throw new IllegalArgumentException(
      s"no declared schema for table '$table' (from $path); known tables: " +
        Pipeline.tables.mkString(", ")))
  }
}
