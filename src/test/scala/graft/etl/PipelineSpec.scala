package graft.etl

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.{JobCounts, SparkSpec, TempDirs}
import graft.ingest.Fixture
import graft.sources.deleteTree

/** Golden-fixture pipeline tests (SURVEY §5#4): landing JSON → clean →
  * curated → warehouse, asserting the reference's output contracts and the
  * idempotence of the delta load.
  */
class PipelineSpec extends SparkSpec with TempDirs with JobCounts {

  // made outside any test, so the shared zones live until the suite ends
  private val zones = Zones(tempDir("graft_spec_zones").toString)
  private lazy val deltas = {
    Fixture.land(zones.landing(2024, 1, 5))
    Pipeline.run(spark, zones, 2024, 1, 5)
  }

  /** Lands `json` as `{dir}/playback_hist.json`; returns its path. */
  private def landDoc(dir: String, json: String): String = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "playback_hist.json"), json).toString
  }

  /** `_staging*` entries left in any of `z`'s warehouse directories. */
  private def stagingLeft(z: Zones): Seq[String] = Pipeline.tables.flatMap { t =>
    Option(new java.io.File(z.warehouse(t)).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("_staging")).map(n => s"$t/$n")
  }

  /** `dir`'s `part-*` files. */
  private def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))

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
    val landed = Fixture.land(tempDir("graft_landing").toString)
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
      landDoc(tempDir("graft_landing").toString, oddDoc))._1
      .collect().map(r => r.getAs[String]("played_at") ->
        (r.getAs[String]("artist_names"), r.getAs[String]("artist_ids"))).toMap
    assert(odd === Map(
      "2024-01-06T08:00:00.000Z" -> ("The \"Quoted\" Band, Back\\slash", "arQ, arB"),
      "2024-01-06T09:00:00.000Z" -> ("Back\\slash, The \"Quoted\" Band", "arB, arQ")))
  }

  test("curated zone: upload_timestamp leads, played_at inferred as timestamp, release date is DateType") {
    deltas // force the pipeline run
    // read the files' own schemas (footer inference), not the declared
    // curated schema that Zones.readParquet imposes, so this checks what
    // curateTable and publishTable wrote
    val curated = spark.read.parquet(zones.curated(2024, 1, 5, "playback_hist"))
    assert(curated.columns.head === "upload_timestamp")
    assert(curated.schema("upload_timestamp").dataType === TimestampType)
    // the clean CSV's declared schema reads the ISO string as a timestamp,
    // and the curated file keeps that type
    assert(curated.schema("played_at").dataType === TimestampType)

    val wh = spark.read.parquet(zones.warehouse("playback_hist"))
    assert(wh.schema("album_release_date").dataType === DateType)
  }

  test("warehouse delta load: second run appends zero playback rows (keyed), " +
      "but albums/artists re-append (reference quirk preserved)") {
    assert(deltas === Map("playback_hist" -> 3L, "albums" -> 2L, "artists" -> 3L))
    assert(stagingLeft(zones).isEmpty)
    val second = Pipeline.run(spark, zones, 2024, 1, 5)
    assert(stagingLeft(zones).isEmpty)
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
    val quiet = Zones(tempDir("graft_spec_quiet").toString)
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
    assert(stagingLeft(quiet).isEmpty)
  }

  test("publish: one execution per table and no schema-inference job") {
    val z = Zones(tempDir("graft_spec_publish").toString)
    Fixture.land(z.landing(2024, 1, 5))
    Pipeline.run(spark, z, 2024, 1, 5)
    /** Each table's (published rows, jobs) when published into `warehouse(t)`. */
    def publish(warehouse: String => String): Map[String, (Long, Int)] =
      Pipeline.tables.map { t =>
        t -> withJobs(CuratedZone.publishTable(spark, z.curated(2024, 1, 5, t), warehouse(t)))
      }.toMap
    val fresh = publish(t => s"${z.root}/fresh_warehouse/$t")
    val rerun = publish(z.warehouse)
    assert(fresh.map { case (t, (n, _)) => t -> n } ===
      Map("playback_hist" -> 3L, "albums" -> 2L, "artists" -> 3L))
    assert(rerun.map { case (t, (n, _)) => t -> n } ===
      Map("playback_hist" -> 0L, "albums" -> 2L, "artists" -> 3L))
    // the warehouse side's broadcast and the write; a keyless table reads
    // no warehouse
    val budget = Map("playback_hist" -> 2, "albums" -> 1, "artists" -> 1)
    assertBudget(for ((run, res) <- Seq("fresh" -> fresh, "rerun" -> rerun);
        (t, (_, j)) <- res) yield (s"$run $t", j, budget(t)))
  }

  test("day: each clean write and each curation runs one job") {
    val z = Zones(tempDir("graft_spec_day").toString)
    val (playback, albums, artists) =
      CleanZone.run(spark, Fixture.land(z.landing(2024, 1, 5)))
    val writes = Pipeline.tables.zip(Seq(playback, albums, artists)).map { case (t, df) =>
      (s"Zones.writeCsv $t", withJobs(Zones.writeCsv(df, z.clean(2024, 1, 5, t)))._2, 1)
    }
    val curations = Pipeline.tables.map { t =>
      (s"CuratedZone.curateTable $t", withJobs(CuratedZone.curateTable(spark,
        z.clean(2024, 1, 5, t), z.curated(2024, 1, 5, t)))._2, 1)
    }
    assertBudget(writes ++ curations)
  }

  test("day: one part file per clean and curated table, playback in played_at " +
      "order, and one warehouse file per non-empty publish") {
    val z = Zones(tempDir("graft_spec_files").toString)
    Fixture.land(z.landing(2024, 1, 5))
    // a day whose document lists its plays newest first, as the API does
    landDoc(z.landing(2024, 1, 6), s"""{"items": [
      |${oddItem("2024-01-06T09:00:00.000Z", Seq(slash, quoted))},
      |${oddItem("2024-01-06T08:30:00.000Z", Seq(quoted))},
      |${oddItem("2024-01-06T08:00:00.000Z", Seq(quoted, slash))}]}""".stripMargin)
    // the rerun of the first day publishes no playback rows
    for ((y, m, d) <- Seq((2024, 1, 5), (2024, 1, 6), (2024, 1, 5))) {
      val before = Pipeline.tables.map(t => t -> partFiles(z.warehouse(t)).size).toMap
      val res = Pipeline.run(spark, z, y, m, d)
      Pipeline.tables.foreach { t =>
        assert(partFiles(z.clean(y, m, d, t)).size === 1, s"$d clean $t")
        assert(partFiles(z.curated(y, m, d, t)).size === 1, s"$d curated $t")
        assert(partFiles(z.warehouse(t)).size - before(t) === (if (res(t) > 0) 1 else 0),
          s"$d warehouse $t (published ${res(t)})")
      }
      val csv = partFiles(z.clean(y, m, d, "playback_hist")).head.toPath
      val playedAt = Files.readAllLines(csv).asScala.toSeq.drop(1)
        .map(l => Instant.parse(l.takeWhile(_ != ',')))
      assert(playedAt.size === 3, s"$d")
      assert(playedAt === playedAt.sorted, s"$d")
    }
  }

  test("warehouse reads skip a leftover staging directory") {
    deltas
    val wh = zones.warehouse("playback_hist")
    val before = Zones.readParquet(spark, wh).count()
    val planted = s"$wh/_staging-x"
    Zones.readParquet(spark, zones.curated(2024, 1, 5, "playback_hist"))
      .write.parquet(planted)
    try {
      assert(new java.io.File(planted).listFiles()
        .exists(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
      assert(spark.read.parquet(planted).count() === 3)
      assert(Zones.readParquet(spark, wh).count() === before)
    } finally deleteTree(Paths.get(planted))
  }
}
