package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.etl.{CleanZone, CuratedZone, Pipeline, Zones}

/** The medallion backfill: for every landed day, the steps of
  * `Pipeline.run` that follow landing, called one by one so that each
  * layer gets its own span. `Pipeline.runBackfill` is not used because
  * `Pipeline.run` overwrites each landed document with the built-in
  * fixture before processing it. */
final class Backfill(spark: SparkSession, tracer: Tracer) {

  /** Landed days under `{root}/00_landing_zone/{y}/{m}/{d}`, in date order. */
  def days(root: String): Seq[(Int, Int, Int)] = {
    def dirs(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
    (for {
      y <- dirs(new File(root, "00_landing_zone"))
      m <- dirs(y)
      d <- dirs(m)
    } yield (y.getName.toInt, m.getName.toInt, d.getName.toInt)).sorted
  }

  /** Copies a generated landing tree into a fresh zone root. */
  def land(landing: Path, root: Path): Unit =
    Files.walk(landing).forEach { src =>
      val dst = root.resolve("00_landing_zone").resolve(landing.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  var warehouseFilesRead = 0L
  var publishes = 0L

  /** One day, both zones. */
  def day(zones: Zones, y: Int, m: Int, d: Int, group: String): Unit = {
    val landed = s"${zones.landing(y, m, d)}/playback_hist.json"
    tracer.span("etl.clean", "clean", group) {
      val (playback, albums, artists) =
        tracer.span("etl.clean", "CleanZone.run", group)(CleanZone.run(spark, landed))
      Seq("playback_hist" -> playback, "albums" -> albums, "artists" -> artists)
        .foreach { case (t, df) =>
          tracer.span("etl.clean", s"Zones.writeCsv $t", group)(
            Zones.writeCsv(df, zones.clean(y, m, d, t)))
        }
    }
    Pipeline.tables.foreach { t =>
      tracer.span("etl.curate", s"CuratedZone.curateTable $t", group)(
        CuratedZone.curateTable(spark, zones.clean(y, m, d, t), zones.curated(y, m, d, t)))
      if (tracer.enabled) {
        warehouseFilesRead += Option(new File(zones.warehouse(t)).listFiles())
          .toSeq.flatten.count(_.getName.endsWith(".parquet"))
        publishes += 1
      }
      tracer.span("etl.publish", s"CuratedZone.publishTable $t", group)(
        CuratedZone.publishTable(spark, zones.curated(y, m, d, t), zones.warehouse(t)))
    }
  }

  /** Both passes over every day under `root`; returns each pass's seconds
    * per day and the number of days that threw. */
  def passes(root: String): (Seq[Double], Seq[Double], Int) = {
    val zones = Zones(root)
    val ds = days(root)
    var failed = 0
    def pass(p: Int): Seq[Double] = ds.map { case (y, m, d) =>
      val group = f"pass$p-$y%04d-$m%02d-$d%02d"
      val t0 = System.nanoTime()
      try tracer.span("etl", group, group)(day(zones, y, m, d, group))
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $group failed: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val first = pass(1)
    val second = pass(2)
    (first, second, failed)
  }

  /** Bytes on disk under the clean, curated and warehouse zones. */
  def lakeBytes(root: String): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length
    Seq("01_clean_zone", "02_curated_zone", "warehouse").map(z => size(new File(root, z))).sum
  }
}
