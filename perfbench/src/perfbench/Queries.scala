package perfbench

import org.apache.spark.sql.SparkSession

/** The two query mixes. Every query is reached through
  * `graft.SparkEntry.queries`; its layer is the module that defines it.
  *
  * Choice rule (README.md gives the costs behind it): one cheap query for
  * each kind of work the mix stands for, so that a run with its warm-up
  * fits the time one run may take. `queries_compute` writes no table and runs no stream;
  * `queries_lake_stream` is the commit- and micro-batch-bound work. */
object Queries {

  val mixes: Map[String, Seq[(String, String)]] = Map(
    "queries_compute" -> Seq(
      // ops: relational, analytic, scalar, time series, as-of
      "ops" -> "q_sql_q6", "ops" -> "q_histogram", "ops" -> "q_json_extract",
      "ops" -> "q_ewma", "ops" -> "q_sql_asof",
      // operators: dedup, text, similarity, sampling, multimodal
      "operators" -> "q_dedup_exact", "operators" -> "q_token_count",
      "operators" -> "q_l2_normalize", "operators" -> "q_hash_sample",
      "operators" -> "q_frame_sample",
      // ops.GraphOps: the peeling and frontier loops
      "ops.graph" -> "q_kcore", "ops.graph" -> "q_bfs"),
    "queries_lake_stream" -> Seq(
      // sources: appends, MERGE, time travel, CDF, z-order OPTIMIZE, on
      // partitioned and unpartitioned tables
      "sources" -> "q_audit_cdf", "sources" -> "q_catalog_merge_part",
      "sources" -> "q_audit_part_travel", "sources" -> "q_audit_part_zorder",
      // ops.LakeOps
      "ops.lake" -> "q_partition_prune",
      // streaming.EventStream drives: aggregation and stream-stream join
      "streaming" -> "q_stream_daily", "streaming" -> "q_stream_join"))

  /** Layers whose queries write tables; their spans count files written. */
  val writingLayers: Set[String] = Set("sources", "ops.lake")
}

/** Runs a query mix: a warm-up round that also writes every result as
  * parquet for the oracle check, then timed rounds of build, plan and
  * `toRdd.count()` per query. */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, mix: Seq[(String, String)],
    dataDir: String, outDir: java.io.File) {

  private val fns = {
    val all = graft.SparkEntry.queries
    val missing = mix.map(_._2).filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    mix.map { case (_, q) => q -> all(q) }.toMap
  }

  def warmUp(): Unit = mix.foreach { case (_, q) =>
    try fns(q)(spark, dataDir).write.mode("overwrite")
      .parquet(new java.io.File(outDir, q).getPath)
    catch { case e: Exception =>
      System.err.println(s"[perfbench] $q failed in warm-up: $e")
    }
  }

  /** One timed round: per query its row count (-1 when it threw) and its
    * wall seconds. */
  def round(): Seq[(String, String, Long, Double)] = mix.map { case (layer, q) =>
    val t0 = System.nanoTime()
    val rows =
      try tracer.span(layer, q, q, Queries.writingLayers(layer)) {
        val df = tracer.span(layer, "build", q)(fns(q)(spark, dataDir))
        tracer.span(layer, "plan", q)(df.queryExecution.executedPlan)
        tracer.span(layer, "exec", q)(df.queryExecution.toRdd.count())
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        -1L
      }
    (layer, q, rows, (System.nanoTime() - t0) / 1e9)
  }
}
