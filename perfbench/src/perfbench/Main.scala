package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up and warm-up, then whole timed
  * rounds of the workload until `--seconds` have passed, then
  * `result.json` in the run directory. `run.py` starts it, checks the
  * outputs and prints the metrics. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val runDir = new File(opts("run-dir"))
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced,
      Seq(new File(runDir, "tmp"), new File(runDir, "spark-warehouse")))

    val result = try {
      if (workload == "pipeline_backfill") runBackfill(spark, tracer, opts, runDir, seconds)
      else runQueries(spark, tracer, workload, opts, runDir, seconds)
    } finally {
      if (traced) tracer.write(new File(opts("trace-file")))
      spark.stop()
    }
    Files.writeString(Paths.get(runDir.getPath, "result.json"), result + "\n")
  }

  /** CPU seconds this JVM has used, all threads. */
  private def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Whole rounds until `seconds` have passed; at least one. Returns the
    * start time and each round's result with its CPU seconds. */
  private def timedRounds[R](tracer: Tracer, seconds: Double)(round: => R)
      : (Long, Seq[(R, Double)]) = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[(R, Double)]
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer.round = n
      val c0 = cpuSeconds
      val r = round
      out += ((r, cpuSeconds - c0))
      n += 1
    }
    (startMs, out.result())
  }

  private def runBackfill(spark: SparkSession, tracer: Tracer, opts: Map[String, String],
      runDir: File, seconds: Double): String = {
    val b = new Backfill(spark, tracer)
    val zones = new File(runDir, "zones")
    // Warm-up: the same steps over other generated days, in their own root.
    val warm = new File(zones, "warm").toPath
    b.land(Paths.get(opts("warm-landing")), warm)
    tracer.round = -1
    b.passes(warm.toString)
    val landing = Paths.get(opts("landing"))
    var r = 0
    val (startMs, timed) = timedRounds(tracer, seconds) {
      val root = new File(zones, s"r$r").toPath
      r += 1
      b.land(landing, root)
      b.warehouseFilesRead = 0; b.publishes = 0
      val (first, second, failed) = b.passes(root.toString)
      val days = b.days(root.toString).size
      (root.toString, first, second, failed, days, b.lakeBytes(root.toString),
        b.warehouseFilesRead.toDouble / math.max(1L, b.publishes))
    }
    val rounds = timed.map(_._1)
    val landedBytes = Files.walk(landing).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum
    val layerMetrics = if (!tracer.enabled) Nil else Layers.metrics(tracer.all, rounds.size) ++ Seq(
      "etl.clean.scan_ratio" -> Layers.median(rounds.indices.map(i =>
        Layers.sum(tracer.all, i, "etl.clean", "input_bytes").toDouble / (2.0 * landedBytes))),
      "etl.publish.warehouse_files" -> Layers.median(rounds.map(_._7)),
      "etl.jobs_per_day" -> Layers.median(rounds.indices.map(i =>
        Layers.sum(tracer.all, i, "etl", "jobs").toDouble / (2.0 * rounds(i)._5))),
      "etl.backfill_s" -> Layers.median(rounds.map(_._2.sum)),
      "etl.rerun_s" -> Layers.median(rounds.map(_._3.sum)),
      "etl.lake_bytes" -> Layers.median(rounds.map(_._6.toDouble)))
    Json.obj(Seq(
      "timed_start_ms" -> startMs.toString,
      "attempted" -> rounds.map(2 * _._5).sum.toString,
      "failed" -> rounds.map(_._4).sum.toString,
      "rounds" -> timed.map { case ((root, first, second, _, _, bytes, _), cpu) =>
        Json.obj(Seq("root" -> Json.str(root), "round_s" -> Json.num(first.sum + second.sum),
          "round_cpu_s" -> Json.num(cpu),
          "backfill_s" -> Json.num(first.sum), "rerun_s" -> Json.num(second.sum),
          "day_s" -> (first ++ second).map(Json.num).mkString("[", ",", "]"),
          "lake_bytes" -> bytes.toString))
      }.mkString("[", ",", "]"),
      "layers" -> Json.obj(layerMetrics.map { case (k, v) => k -> Json.num(v) })))
  }

  private def runQueries(spark: SparkSession, tracer: Tracer, workload: String,
      opts: Map[String, String], runDir: File, seconds: Double): String = {
    val mix = Queries.mixes(workload)
    val outDir = new File(runDir, "outputs")
    val w = new QueryWorkload(spark, tracer, mix, opts("data"), outDir)
    w.warmUp()
    val oracleSql = graft.SparkEntry.oracleSql
    Files.writeString(new File(outDir, "oracle_sql.json").toPath,
      Json.obj(mix.map { case (_, q) => q -> Json.str(oracleSql.getOrElse(q, "")) }))
    val (startMs, timed) = timedRounds(tracer, seconds)(w.round())
    val rounds = timed.map(_._1)
    val layerMetrics = if (!tracer.enabled) Nil
      else Layers.metrics(tracer.all, rounds.size) ++ Layers.pipelineOnly.map(_ -> 0.0)
    Json.obj(Seq(
      "timed_start_ms" -> startMs.toString,
      "attempted" -> rounds.map(_.size).sum.toString,
      "failed" -> rounds.map(_.count(_._3 < 0)).sum.toString,
      "rounds" -> timed.map { case (r, cpu) =>
        Json.obj(Seq(
          "round_s" -> Json.num(r.map(_._4).sum),
          "round_cpu_s" -> Json.num(cpu),
          "layer_s" -> Json.obj(r.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, qs) =>
            l -> Json.num(qs.map(_._4).sum) }),
          "rows" -> Json.obj(r.map(x => x._2 -> x._3.toString))))
      }.mkString("[", ",", "]"),
      "layers" -> Json.obj(layerMetrics.map { case (k, v) => k -> Json.num(v) })))
  }
}

/** Per-layer metrics from the spans of the timed rounds: each is the median
  * over rounds of that round's sum. A layer's own spans are those whose
  * parent belongs to another layer; a query's build, plan and exec spans
  * are its children in the same layer. */
object Layers {
  val all: Seq[String] = Seq("etl.clean", "etl.curate", "etl.publish", "ops",
    "ops.graph", "ops.lake", "operators", "sources", "streaming")
  val queryLayers: Set[String] = Set("ops", "ops.graph", "ops.lake", "operators",
    "sources", "streaming")
  /** Metrics only the pipeline has; the query mixes report them as 0. */
  val pipelineOnly: Seq[String] = Seq("etl.clean.scan_ratio", "etl.publish.warehouse_files",
    "etl.jobs_per_day", "etl.backfill_s", "etl.rerun_s", "etl.lake_bytes")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Spans of `layer` in `round` not nested inside another span of it. */
  def own(spans: Seq[Span], round: Int, layer: String): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(s => s.round == round && s.layer == layer &&
      byId.get(s.parent).forall(_.layer != layer))
  }

  def sum(spans: Seq[Span], round: Int, layer: String, count: String): Long =
    own(spans, round, layer).map(_.counts(count)).sum

  def metrics(spans: Seq[Span], rounds: Int): Seq[(String, Double)] = {
    val byId = spans.map(s => s.id -> s).toMap
    def perRound(f: Int => Double): Double = median((0 until rounds).map(f))
    def wall(ss: Seq[Span]): Double = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
    all.flatMap { l =>
      def c(name: String, scale: Double = 1.0) =
        perRound(r => sum(spans, r, l, name) * scale)
      Seq(
        s"$l.wall_s" -> perRound(r => wall(own(spans, r, l))),
        s"$l.jobs" -> c("jobs"), s"$l.tasks" -> c("tasks"),
        s"$l.task_cpu_s" -> c("task_cpu_ns", 1e-9), s"$l.gc_s" -> c("gc_ms", 1e-3),
        s"$l.shuffle_bytes" -> c("shuffle_bytes"), s"$l.input_bytes" -> c("input_bytes"),
        s"$l.output_bytes" -> c("output_bytes")) ++
      (if (!queryLayers(l)) Nil else Seq("build", "plan", "exec").map { phase =>
        s"$l.${phase}_s" -> perRound(r => wall(spans.filter(s => s.round == r &&
          s.layer == l && s.name == phase && byId.get(s.parent).exists(_.layer == l))))
      })
    } ++ Seq(
      "sources.files_written" -> perRound(r => sum(spans, r, "sources", "files_written")),
      "ops.lake.files_written" -> perRound(r => sum(spans, r, "ops.lake", "files_written"))) ++
    Seq("batches" -> 1.0, "add_batch_ms" -> 1e-3, "wal_commit_ms" -> 1e-3,
        "planning_ms" -> 1e-3, "state_commit_ms" -> 1e-3, "state_rows" -> 1.0).map {
      case (k, scale) =>
        s"streaming.${k.stripSuffix("_ms") + (if (k.endsWith("_ms")) "_s" else "")}" ->
          perRound(r => sum(spans, r, "streaming", k) * scale)
    }
  }
}
