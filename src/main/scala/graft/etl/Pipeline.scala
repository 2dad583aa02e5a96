package graft.etl

import org.apache.spark.sql.SparkSession

import graft.ingest.Fixture

/** End-to-end pipeline orchestration over a local zone root — the
  * reference's clean-zone job → curated-zone job → warehouse delta append
  * (SURVEY §3), run over days already landed by ingestion
  * ([[graft.ingest.Fixture.land]] stands in for main.py).
  *
  * Returns per-table delta row counts appended to the warehouse.
  */
object Pipeline {

  val tables: Seq[String] = Seq("playback_hist", "albums", "artists")

  /** Each clean-zone table's CSV schema (DDL), keyed by table name and
    * typed as CSV schema inference types what the clean zone writes: ISO
    * `played_at` as TIMESTAMP, integral columns as INT, the durations as
    * DOUBLE and release dates as DATE. [[Zones.readCsv]] reads with it, so
    * curating a table scans its CSV once, with no inference pass. One
    * difference: inference typed a day holding a month-precision release
    * date (`2001-03`) as TIMESTAMP; it is DATE (`2001-03-01`) on every day
    * now. The warehouse's `to_date` already gave both the same value. */
  val cleanSchemas: Map[String, String] = Map(
    "playback_hist" ->
      """played_at TIMESTAMP, duration_ms INT, duration_s DOUBLE,
        |duration_min DOUBLE, track_href STRING, track_id STRING,
        |track_name STRING, track_uri STRING, artist_names STRING,
        |artist_ids STRING, popularity INT, album_id STRING,
        |album_name STRING, album_release_date DATE,
        |album_uri STRING""".stripMargin,
    "albums" ->
      """album_type STRING, album_href STRING, album_id STRING,
        |album_name STRING, album_release_date DATE,
        |album_release_date_precision STRING, total_tracks INT, type STRING,
        |album_uri STRING""".stripMargin,
    "artists" ->
      """artist_spotify_url STRING, artist_href STRING, artist_id STRING,
        |artist_name STRING, artist_uri STRING""".stripMargin)

  /** Each curated table's Parquet schema (DDL), keyed by table name: the
    * `upload_timestamp` that [[CuratedZone.addUploadTimestamp]] puts first,
    * then the table's clean columns. The warehouse holds the same columns.
    * [[Zones.readParquet]] reads with it, so no read runs a footer job. */
  val curatedSchemas: Map[String, String] =
    cleanSchemas.map { case (t, ddl) => t -> s"upload_timestamp TIMESTAMP, $ddl" }

  /** Process the day landed at `{landing(y, m, d)}/playback_hist.json`. */
  def run(spark: SparkSession, zones: Zones, y: Int, m: Int, d: Int): Map[String, Long] = {
    val landed = s"${zones.landing(y, m, d)}/playback_hist.json"

    // 1. clean-zone job (playback_pipeline.py) — flatten to 3 tables, CSV
    val (playback, albums, artists) = CleanZone.run(spark, landed)
    Zones.writeCsv(playback, zones.clean(y, m, d, "playback_hist"))
    Zones.writeCsv(albums, zones.clean(y, m, d, "albums"))
    Zones.writeCsv(artists, zones.clean(y, m, d, "artists"))

    // 2. curated-zone job (playback_pipeline_curated.py) — CSV→parquet with
    //    audit stamp, then warehouse delta append per table
    tables.map { t =>
      CuratedZone.curateTable(spark, zones.clean(y, m, d, t), zones.curated(y, m, d, t))
      t -> CuratedZone.publishTable(spark, zones.curated(y, m, d, t), zones.warehouse(t))
    }.toMap
  }

  /** Backfill variant (the ad-hoc jobs, SURVEY §3.4): process every day
    * already landed under the landing zone instead of one day, publishing
    * each day's own document. Dates are discovered from the directory
    * layout, mirroring the blob-path walk at
    * spark_jobs/adhoc/playback_pipeline_adhoc.py:265-274.
    */
  def runBackfill(spark: SparkSession, zones: Zones): Map[(Int, Int, Int), Map[String, Long]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(zones.root), spark.sparkContext.hadoopConfiguration)
    val landingRoot = new org.apache.hadoop.fs.Path(s"${zones.root}/00_landing_zone")
    if (!fs.exists(landingRoot)) Map.empty
    else {
      val dates = for {
        y <- fs.listStatus(landingRoot).toSeq.filter(_.isDirectory)
        m <- fs.listStatus(y.getPath).toSeq.filter(_.isDirectory)
        d <- fs.listStatus(m.getPath).toSeq.filter(_.isDirectory)
      } yield (y.getPath.getName.toInt, m.getPath.getName.toInt, d.getPath.getName.toInt)
      dates.sorted.map { case (y, m, d) =>
        (y, m, d) -> run(spark, zones, y, m, d)
      }.toMap
    }
  }

  /** Demo main: land the fixture, run the full pipeline twice into the
    * zone root `args(0)`, or into a scratch root deleted on exit, and print
    * the delta counts — the second run must append zero playback rows
    * (idempotence via the anti-join delta load). */
  def main(args: Array[String]): Unit =
    if (args.nonEmpty) demo(args(0))
    else graft.sources.withScratch("graft_zones")(root => demo(root.toString))

  private def demo(root: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val zones = Zones(root)
    Fixture.land(zones.landing(2024, 1, 5))
    val first = run(spark, zones, 2024, 1, 5)
    val second = run(spark, zones, 2024, 1, 5)
    println(s"first run deltas:  $first")
    println(s"second run deltas: $second " +
      "(expect playback_hist -> 0; albums/artists re-append — reference quirk)")
    spark.stop()
  }
}
