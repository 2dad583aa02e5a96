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
  * the write API below is already partition-agnostic.
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

  /** S2 — clean-zone CSV scan with header + schema inference
    * (reference: spark_jobs/playback_pipeline_curated.py:173). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** K2 — curated-zone Parquet sink, idempotent overwrite
    * (reference: spark_jobs/playback_pipeline_curated.py:64-86). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S3 — curated Parquet scan
    * (reference: spark_jobs/playback_pipeline_curated.py:190). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
