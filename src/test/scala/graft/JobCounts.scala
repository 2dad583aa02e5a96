package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a call starts, for specs that hold a call to a
  * job budget. */
trait JobCounts { this: SparkSpec =>

  /** `f`'s result and the number of Spark jobs it started. */
  def withJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "spark-spec-jobs"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val r = f
      ListenerBusDrain(sc)
      (r, jobs.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  /** Asserts each (call, jobs, max) holds jobs <= max, listing them all. */
  def assertBudget(counts: Seq[(String, Int, Int)]): Unit =
    assert(counts.forall { case (_, j, max) => j <= max },
      counts.map { case (call, j, max) => s"$call: $j jobs (max $max)" }.mkString(", "))
}
