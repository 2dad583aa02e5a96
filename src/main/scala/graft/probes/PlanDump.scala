package graft.probes

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Round-21 measurement tool (guide §1/§7.2): dump `.explain("formatted")`
  * for every declared query (or the SPARK_GRAFT_ONLY subset) to a
  * directory, one file per query, plus a one-line-per-query summary of
  * plan smells (Exchange count, join strategies, scans with empty
  * PushedFilters). Read-only: builds plans, never executes them.
  *
  * Usage: sbt "runMain graft.probes.PlanDump <sfDir> <outDir>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val summary = new StringBuilder
    names.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        val exchanges = "(?m)^\\s*[*+:\\-\\s]*Exchange ".r
          .findAllIn(plan).length
        val smj = plan.split('\n').count(_.contains("SortMergeJoin"))
        val bhj = plan.split('\n').count(_.contains("BroadcastHashJoin"))
        val shj = plan.split('\n').count(_.contains("ShuffledHashJoin"))
        val bnl = plan.split('\n').count(_.contains("BroadcastNestedLoopJoin"))
        val cart = plan.split('\n').count(_.contains("CartesianProduct"))
        val scans = plan.split('\n').count(_.contains("Scan parquet"))
        val emptyPush = "PushedFilters: \\[\\]".r.findAllIn(plan).length
        summary.append(
          f"$name%-28s exch=$exchanges%2d smj=$smj bhj=$bhj shj=$shj " +
            f"bnl=$bnl cart=$cart scans=$scans emptyPush=$emptyPush%n")
      } catch { case NonFatal(e) =>
        summary.append(s"$name PLAN_FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(s"$outDir/_summary.txt"), summary.toString)
    println(s"[plandump] wrote ${names.size} plans to $outDir")
    spark.stop()
  }
}
