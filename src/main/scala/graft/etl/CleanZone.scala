package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Clean-zone job: flatten the nested playback JSON into three relational
  * tables (reference: spark_jobs/playback_pipeline.py:91-225,278-310),
  * each parse implemented once as a pure DataFrame => DataFrame.
  *
  * Differences from the reference are mechanism-only (SURVEY §4.3): the two
  * Python UDFs are native Column expressions ([[Functions]]), no interleaved
  * show()/count() actions re-running the lineage, and each output is
  * computed once — one projection pass over one typed landing scan.
  *
  * Two outputs differ from the reference's regex-over-JSON artist bag
  * (playback_pipeline.py:161-193), and both are fixes: `artist_names` and
  * `artist_ids` are projected from each play's own artist array, so a play
  * listed twice in the landing document no longer gets every artist twice,
  * and a name containing `"` or `\` comes through whole instead of being
  * cut at its escaped quote.
  */
object CleanZone {

  /** The landing-document fields the three parsers read, typed as JSON
    * schema inference types them (`played_at` stays a string; the integral
    * fields are BIGINT), so the clean CSVs and everything downstream keep
    * their types. */
  private val LandingSchema: String =
    """items ARRAY<STRUCT<
      |  played_at: STRING,
      |  track: STRUCT<
      |    album: STRUCT<album_type: STRING, href: STRING, id: STRING,
      |      name: STRING, release_date: STRING,
      |      release_date_precision: STRING, total_tracks: BIGINT,
      |      type: STRING, uri: STRING>,
      |    artists: ARRAY<STRUCT<external_urls: STRUCT<spotify: STRING>,
      |      href: STRING, id: STRING, name: STRING, uri: STRING>>,
      |    duration_ms: BIGINT, href: STRING, id: STRING, name: STRING,
      |    popularity: BIGINT, type: STRING, uri: STRING>>>""".stripMargin

  /** S1 — multiline nested JSON scan (reference:
    * spark_jobs/playback_pipeline.py:264) with `LandingSchema`: no
    * inference pass over the document, and a quiet day's
    * `{"items": []}` scans as zero plays instead of an untyped column. */
  def readLanding(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(LandingSchema).option("multiLine", "true").json(path)

  private def items(df: DataFrame): DataFrame =
    df.select(explode(col("items")).as("items")).select("items.*")

  /** albums — 9-column contract (reference: playback_pipeline.py:91-112). */
  def parseAlbums(df: DataFrame): DataFrame =
    items(df)
      .select("track.album")
      .select(
        col("album.album_type").as("album_type"),
        col("album.href").as("album_href"),
        col("album.id").as("album_id"),
        col("album.name").as("album_name"),
        col("album.release_date").as("album_release_date"),
        col("album.release_date_precision").as("album_release_date_precision"),
        col("album.total_tracks").as("total_tracks"),
        col("album.type").as("type"),
        col("album.uri").as("album_uri"))
      .withColumn("album_release_date", Functions.completeYear(col("album_release_date")))
      .dropDuplicates()

  /** artists — 5-column contract incl. the 2-level nested path
    * external_urls.spotify (reference: playback_pipeline.py:115-136). */
  def parseArtists(df: DataFrame): DataFrame =
    items(df)
      .select("track.artists")
      .select(explode(col("artists")).as("artists_exploded"))
      .select(
        col("artists_exploded.external_urls.spotify").as("artist_spotify_url"),
        col("artists_exploded.href").as("artist_href"),
        col("artists_exploded.id").as("artist_id"),
        col("artists_exploded.name").as("artist_name"),
        col("artists_exploded.uri").as("artist_uri"))
      .dropDuplicates()

  /** tracks — flatten track + album fields, ", "-join each play's artist
    * names and ids in array order (the reference's F9 bag, SURVEY §2.9),
    * derive durations, complete bare years
    * (reference: playback_pipeline.py:161-225). Duplicate plays are
    * dropped once, by [[playbackHistory]]. */
  def parseTracks(df: DataFrame): DataFrame =
    items(df)
      .select(
        col("played_at"),
        col("track.album").as("album"),
        array_join(transform(col("track.artists"), a => a("name")), ", ")
          .as("artist_names"),
        array_join(col("track.artists.id"), ", ").as("artist_ids"),
        col("track.duration_ms").as("duration_ms"),
        col("track.href").as("track_href"),
        col("track.id").as("track_id"),
        col("track.name").as("track_name"),
        col("track.popularity").as("popularity"),
        col("track.type").as("type"),
        col("track.uri").as("track_uri"))
      .select(col("*"),
        col("album.id").as("album_id"),
        col("album.name").as("album_name"),
        col("album.release_date").as("album_release_date"),
        col("album.uri").as("album_uri"))
      .drop("album")
      .withColumn("duration_s", Functions.durationSeconds(col("duration_ms")))
      .withColumn("duration_min", Functions.durationMinutes(col("duration_ms")))
      .withColumn("album_release_date", Functions.completeYear(col("album_release_date")))

  /** The 15-column playback_hist output contract, exact order
    * (reference: playback_pipeline.py:289-307; SURVEY §1.5). */
  val outputCols: Seq[String] = Seq(
    "played_at", "duration_ms", "duration_s", "duration_min",
    "track_href", "track_id", "track_name", "track_uri",
    "artist_names", "artist_ids", "popularity",
    "album_id", "album_name", "album_release_date", "album_uri")

  /** The 15-column projection, dedup, global played_at sort
    * (reference: playback_pipeline.py:278-307). */
  def playbackHistory(tracks: DataFrame): DataFrame =
    tracks.select(outputCols.map(col): _*)
      .dropDuplicates()
      .orderBy("played_at")

  /** Full clean-zone job over one landing document: returns the three
    * output tables (playback_hist, albums, artists). */
  def run(spark: SparkSession, landingJsonPath: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val df = readLanding(spark, landingJsonPath)
    (playbackHistory(parseTracks(df)), parseAlbums(df), parseArtists(df))
  }
}
