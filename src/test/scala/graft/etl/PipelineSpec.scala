package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.SparkSpec
import graft.ingest.Fixture

/** Golden-fixture pipeline tests (SURVEY §5#4): landing JSON → clean →
  * curated → warehouse, asserting the reference's output contracts and the
  * idempotence of the delta load.
  */
class PipelineSpec extends SparkSpec {

  private lazy val zones = Zones(Files.createTempDirectory("graft_spec_zones").toString)
  private lazy val deltas = {
    Fixture.land(zones.landing(2024, 1, 5))
    Pipeline.run(spark, zones, 2024, 1, 5)
  }

  /** Lands `json` as `{dir}/playback_hist.json`; returns its path. */
  private def landDoc(dir: String, json: String): String = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "playback_hist.json"), json).toString
  }

  private def oddItem(playedAt: String, artists: Seq[(String, String)]): String = {
    val as = artists.map { case (id, name) =>
      s"""{"external_urls": {"spotify": "https://open.spotify.test/artist/$id"},
         | "href": "https://api.spotify.test/v1/artists/$id", "id": "$id",
         | "name": "$name", "uri": "spotify:artist:$id"}""".stripMargin
    }
    s"""{"played_at": "$playedAt", "track": {
       | "album": {"album_type": "album", "href": "https://api.spotify.test/v1/albums/alQ",
       |   "id": "alQ", "name": "Odd Names", "release_date": "2001-02-03",
       |   "release_date_precision": "day", "total_tracks": 9, "type": "album",
       |   "uri": "spotify:album:alQ"},
       | "artists": [${as.mkString(", ")}],
       | "duration_ms": 120000, "href": "https://api.spotify.test/v1/tracks/trQ",
       | "id": "trQ", "name": "Odd Song", "popularity": 5, "type": "track",
       | "uri": "spotify:track:trQ"}}""".stripMargin
  }

  // A non-fixture day whose artist names hold a JSON-escaped quote and
  // backslash; the second play lists the same artists in reverse order.
  private val quoted = "arQ" -> """The \"Quoted\" Band"""
  private val slash = "arB" -> """Back\\slash"""
  private val oddDoc = s"""{"items": [
    |${oddItem("2024-01-06T08:00:00.000Z", Seq(quoted, slash))},
    |${oddItem("2024-01-06T09:00:00.000Z", Seq(slash, quoted))}]}""".stripMargin

  test("clean zone: playback_hist honors the 15-column contract, in order") {
    val landed = Fixture.land(Files.createTempDirectory("graft_landing").toString)
    val (playback, albums, artists) = CleanZone.run(spark, landed)
    assert(playback.columns.toSeq === CleanZone.outputCols)
    assert(albums.columns.toSeq === Seq("album_type", "album_href", "album_id",
      "album_name", "album_release_date", "album_release_date_precision",
      "total_tracks", "type", "album_uri"))
    assert(artists.columns.toSeq === Seq("artist_spotify_url", "artist_href",
      "artist_id", "artist_name", "artist_uri"))

    // dedup collapsed the duplicated play: 4 items → 3 plays
    val rows = playback.collect()
    assert(rows.length === 3)

    // multi-artist play: ", "-joined names from the play's own artist
    // array, so the duplicated landing item does not double them (the
    // reference's collect_list bag does, playback_pipeline.py:161-193).
    val song1 = rows.filter(_.getAs[String]("track_id") == "tr1")
    val byPlay = song1.map(r =>
      r.getAs[String]("played_at") -> r.getAs[String]("artist_names")).toMap
    assert(byPlay("2024-01-05T17:23:45.123Z") === "Solo Artist, Guest Artist")
    assert(byPlay("2024-01-05T19:10:05.500Z") === "Solo Artist, Guest Artist")
    assert(song1.forall(_.getAs[String]("artist_ids").startsWith("ar1, ar2")))

    // bare-year completion (F10) flowed into the output
    assert(song1.forall(_.getAs[String]("album_release_date") == "1974-12-31"))

    // durations (F4/F5)
    assert(song1.forall(_.getAs[Double]("duration_s") == 215.0))
    assert(song1.forall(_.getAs[Double]("duration_min") == 3.58))

    // artists table deduped across the repeated plays: 3 distinct artists
    assert(artists.count() === 3)
    // albums: 2 distinct albums, bare year completed
    val albumRows = albums.collect()
    assert(albumRows.length === 2)
    assert(albumRows.map(_.getAs[String]("album_release_date")).sorted.toSeq
      === Seq("1974-12-31", "2020-03-15"))

    // names holding an escaped quote or backslash come through whole, and
    // names and ids keep each play's array order
    val odd = CleanZone.run(spark,
      landDoc(Files.createTempDirectory("graft_landing").toString, oddDoc))._1
      .collect().map(r => r.getAs[String]("played_at") ->
        (r.getAs[String]("artist_names"), r.getAs[String]("artist_ids"))).toMap
    assert(odd === Map(
      "2024-01-06T08:00:00.000Z" -> ("The \"Quoted\" Band, Back\\slash", "arQ, arB"),
      "2024-01-06T09:00:00.000Z" -> ("Back\\slash, The \"Quoted\" Band", "arB, arQ")))
  }

  test("curated zone: upload_timestamp leads, played_at inferred as timestamp, release date is DateType") {
    deltas // force the pipeline run
    val curated = Zones.readParquet(spark, zones.curated(2024, 1, 5, "playback_hist"))
    assert(curated.columns.head === "upload_timestamp")
    assert(curated.schema("upload_timestamp").dataType === TimestampType)
    // CSV inferSchema promoted the ISO string to a timestamp (S2 semantics)
    assert(curated.schema("played_at").dataType === TimestampType)

    val wh = Zones.readParquet(spark, zones.warehouse("playback_hist"))
    assert(wh.schema("album_release_date").dataType === DateType)
  }

  test("warehouse delta load: second run appends zero playback rows (keyed), " +
      "but albums/artists re-append (reference quirk preserved)") {
    assert(deltas === Map("playback_hist" -> 3L, "albums" -> 2L, "artists" -> 3L))
    val second = Pipeline.run(spark, zones, 2024, 1, 5)
    // played_at-keyed table is delta-protected; key-less tables are not
    // (reference: delta_load_tracks only guards frames with played_at,
    // spark_jobs/playback_pipeline_curated.py:95,122-123)
    assert(second === Map("playback_hist" -> 0L, "albums" -> 2L, "artists" -> 3L))
    // warehouse playback still has exactly the first-run rows
    assert(Zones.readParquet(spark, zones.warehouse("playback_hist")).count() === 3)
  }

  test("IN-list delta variant (reference mechanism) agrees with the anti-join path") {
    deltas
    val curated = Zones.readParquet(spark, zones.curated(2024, 1, 5, "playback_hist"))
    val wh = Zones.readParquet(spark, zones.warehouse("playback_hist"))
    val viaAnti = CuratedZone.deltaLoad(curated, wh)
    val viaInList = CuratedZone.deltaLoadViaInList(curated, wh)
    assert(viaInList.count() === viaAnti.count())
    // fully-published warehouse ⇒ both find no delta
    assert(viaInList.count() === 0)
    // and a schema without the key passes through untouched (…curated.py:95)
    val keyless = curated.drop("played_at")
    assert(CuratedZone.deltaLoadViaInList(keyless, wh).count() === keyless.count())
  }

  test("basic-auth header builds the reference's base64 form (F12)") {
    assert(graft.ingest.Fixture.basicAuthHeader("id", "secret")
      === "Basic " + java.util.Base64.getEncoder.encodeToString("id:secret".getBytes("UTF-8")))
  }

  test("backfill discovers and reprocesses landed dates (ad-hoc variant)") {
    deltas
    landDoc(zones.landing(2024, 1, 6), oddDoc)
    val res = Pipeline.runBackfill(spark, zones)
    assert(res.keySet === Set((2024, 1, 5), (2024, 1, 6)))
    // playback is delta-protected on re-run
    assert(res((2024, 1, 5))("playback_hist") === 0L)
    // a day landed by ingestion publishes its own plays, names intact
    // through the clean CSV
    assert(res((2024, 1, 6)) === Map("playback_hist" -> 2L, "albums" -> 1L, "artists" -> 2L))
    val published = Zones.readParquet(spark, zones.warehouse("playback_hist"))
      .where("track_id = 'trQ'").collect().map(_.getAs[String]("artist_names")).sorted.toSeq
    assert(published === Seq("Back\\slash, The \"Quoted\" Band", "The \"Quoted\" Band, Back\\slash"))
  }

  test("a quiet day's empty landing document publishes nothing") {
    val quiet = Zones(Files.createTempDirectory("graft_spec_quiet").toString)
    Fixture.land(quiet.landing(2024, 1, 5))
    Pipeline.run(spark, quiet, 2024, 1, 5)
    def parquetFiles(t: String): Int =
      Option(new java.io.File(quiet.warehouse(t)).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    val before = Pipeline.tables.map(t => t -> parquetFiles(t)).toMap

    landDoc(quiet.landing(2024, 1, 6), """{"items": []}""")
    val res = Pipeline.run(spark, quiet, 2024, 1, 6)
    assert(res === Pipeline.tables.map(_ -> 0L).toMap)
    Pipeline.tables.foreach { t =>
      assert(Zones.readCsv(spark, quiet.clean(2024, 1, 6, t)).count() === 0, t)
    }
    assert(Pipeline.tables.map(t => t -> parquetFiles(t)).toMap === before)
  }
}
