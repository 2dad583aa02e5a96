package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark and JVM counts at one instant. A span's counts are the
  * difference of the snapshots taken at its start and end. */
final case class Counts(values: Vector[Long]) {
  def -(o: Counts): Counts = Counts(values.zip(o.values).map { case (a, b) => a - b })
  def apply(name: String): Long = values(Counts.names.indexOf(name))
}

object Counts {
  /** Times are kept in the unit Spark reports them in (ns or ms); the
    * suffix says which. */
  val names: Vector[String] = Vector(
    "jobs", "tasks", "task_cpu_ns", "gc_ms", "shuffle_bytes", "input_bytes",
    "output_bytes", "batches", "add_batch_ms", "wal_commit_ms", "planning_ms",
    "state_commit_ms", "state_rows", "files_written")
}

/** The SparkListener and StreamingQueryListener the traced run registers.
  * Task metrics and streaming progress are summed into counters; GC time
  * comes from the JVM's collectors, since in local mode every task's
  * `jvmGCTime` reports the same shared collections. */
final class Listeners extends SparkListener {
  private val c = Vector.fill(Counts.names.size)(new AtomicLong)
  private def add(name: String, v: Long): Unit = c(Counts.names.indexOf(name)).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_cpu_ns", m.executorCpuTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      add("batches", 1)
      add("add_batch_ms", ms("addBatch"))
      add("wal_commit_ms", ms("walCommit"))
      add("planning_ms", ms("queryPlanning"))
      p.stateOperators.foreach { s =>
        add("state_commit_ms", s.commitTimeMs)
        add("state_rows", s.numRowsUpdated)
      }
    }
  }

  def addFiles(n: Long): Unit = add("files_written", n)

  def snapshot(): Counts = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    Counts(c.map(_.get).updated(Counts.names.indexOf("gc_ms"), gc))
  }
}

/** One call into a layer. Spans of one day or one query share `group`. */
final case class Span(id: Int, parent: Int, group: String, round: Int,
    layer: String, name: String, startNs: Long, endNs: Long, counts: Counts)

/** Records spans around calls into the program's public functions. With
  * tracing off, `span` only runs its body: untraced runs register no
  * listener and keep no spans, so they measure the program alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean, watchDirs: Seq[java.io.File]) {
  private val listeners = new Listeners
  if (enabled) {
    spark.sparkContext.addSparkListener(listeners)
    spark.streams.addListener(listeners.streams)
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val epochNs = System.nanoTime()
  var round: Int = -1

  private def counts(): Counts = {
    PerfbenchBus.drain(spark.sparkContext)
    listeners.snapshot()
  }

  /** Files under the run's scratch directories, by path and mtime: the
    * files a call wrote are those whose (path, mtime) is new at its end. */
  private def files(): Set[(String, Long)] = {
    val out = Set.newBuilder[(String, Long)]
    def walk(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach { k =>
        if (k.isDirectory) walk(k) else out += ((k.getPath, k.lastModified))
      }
    }
    watchDirs.foreach(walk)
    out.result()
  }

  /** Runs `body` as a span. `countFiles` also counts the files it left on
    * disk (a directory walk, so only around whole table-writing queries). */
  def span[T](layer: String, name: String, group: String,
      countFiles: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = if (countFiles) files() else Set.empty[(String, Long)]
      val c0 = counts()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (countFiles) listeners.addFiles((files() -- before).size.toLong)
        spans += Span(id, parent, group, round, layer, name,
          t0 - epochNs, t1 - epochNs, counts() - c0)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** The trace file: one JSON object per span, times in ns from the start
    * of tracing, counts by name. */
  def write(path: java.io.File): Unit = {
    val sb = new StringBuilder("[\n")
    spans.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"group":${Json.str(s.group)},""" +
        s""""round":${s.round},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":{""" +
        Counts.names.zip(s.counts.values).map { case (k, v) => s""""$k":$v""" }.mkString(",") +
        "}}"
    }
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(path.toPath, sb.toString)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
