package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table shape.
  *
  * The reference has NO streaming (README.md:25 lists it as future work) —
  * this module is the engine's forward-looking stream path, built the
  * Spark-native way: `readStream` → event-time watermark → windowed
  * aggregation, plus stateful sessionization via mapGroupsWithState. The
  * batch queries in [[graft.ops.ScalarOps]] (dailyAgg) are the same logical
  * aggregations; this is their incremental form.
  *
  * Scale: watermark bounds state; window aggs are partial+final over the
  * shuffle by (window, key); session state is per-user and evicted on
  * timeout — the standard unbounded-stream-safe design.
  */
object EventStream {

  /** Explicit schema — streaming sources require one (no inference). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Canonical raw layout for every staged micro-batch file below: ts as an
    * epoch-NANOS long. The source table has shipped in two parquet flavors —
    * legacy TIMESTAMP(NANOS), which Spark's reader only accepts as a raw
    * long under `nanosAsLong`, and standard TIMESTAMP(MICROS). [[rawEvents]]
    * normalizes both to this layout, so the staged-file readers and their
    * `timestamp_micros(ts div 1000)` conversion are flavor-independent. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The on-disk type of `sfDir/events.parquet`'s ts column: LongType for
    * the legacy TIMESTAMP(NANOS) flavor (surfaced as a raw long under the
    * nanosAsLong conf), TimestampType / TimestampNTZType for the standard
    * micros flavors. One footer read, no data scan. */
  private def sourceTsType(spark: SparkSession, sfDir: String): DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
  }

  /** Batch read of `sfDir/events.parquet` normalized to [[rawSchema]]
    * (ts = epoch nanos long) whichever timestamp flavor is on disk.
    * Integral arithmetic only — nanos values (~1.7e18) exceed 2^53, so a
    * double round-trip would corrupt them. The NTZ flavor casts through
    * TimestampType first; the session TZ is UTC, so the cast is exact. */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    if (df.schema("ts").dataType == LongType) df
    else df.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      .select(rawSchema.map(f => col(f.name)): _*)
  }

  /** File-stream read of `sfDir/events.parquet` (the direct-source drives)
    * with ts normalized to TimestampType(µs) whichever flavor is on disk.
    * Streams need the schema up front, so the flavor is sniffed from the
    * footer via [[sourceTsType]] before the stream starts. */
  def srcEvents(spark: SparkSession, sfDir: String): DataFrame =
    sourceTsType(spark, sfDir) match {
      case LongType =>
        spark.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case onDisk =>
        val schema = StructType(rawSchema.map(f =>
          if (f.name == "ts") StructField("ts", onDisk) else f))
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
          .withColumn("ts", col("ts").cast(TimestampType))
    }

  /** Write `df` (rawSchema layout) as a single parquet file at `dst` via a
    * scratch dir — the staging primitive for the multi-micro-batch drives.
    * Staging always goes through [[rawEvents]]' normalized layout, so a
    * staged dir never mixes timestamp flavors whatever the source ships. */
  def stageOne(df: DataFrame, scratch: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val listing = java.nio.file.Files.list(scratch)
    val part =
      try listing.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst()
      finally listing.close()
    part.ifPresent(p => java.nio.file.Files.move(p, dst))
  }

  /** Stage SEVERAL micro-batch files in ONE write job (the
    * streamingLateData pattern, shared — round-21, guide §1.2 step 1:
    * one source pass + one commit instead of one job per staged file).
    * `df` must carry an integer `__batch` column in [0, names.size)
    * selecting each row's staged file; `coalesce(1)` + `partitionBy`
    * routes every batch to exactly one part file, moved to
    * `inDir/<names(b)>` and stamped `mtimes(b)`. An empty batch is a
    * LOUD error unless its index is listed in `allowEmpty` — most drives
    * depend on every staged file arriving (a silently missing
    * watermark-sentinel batch would leave state unflushed and fail the
    * oracle with no pointer to the staging step; round-21 review
    * finding); streamingLateData opts its strata in because a fixture
    * spanning <7 days legitimately has no old-odd rows.
    * The staged files hold the same row SETS as the per-batch filtered
    * writes they replace; within-file order is whatever the single write
    * task sees, which every drive is insensitive to by design (order-free
    * folds / max-reductions / dedup on unique keys). */
  def landBatches(df: DataFrame, root: java.nio.file.Path,
      inDir: java.nio.file.Path, names: Seq[String],
      mtimes: Seq[Long], allowEmpty: Set[Int] = Set.empty): Unit = {
    val stage = root.resolve("stage_all")
    df.coalesce(1).write.partitionBy("__batch")
      .mode("overwrite").parquet(stage.toString)
    names.indices.foreach { b =>
      val dir = stage.resolve(s"__batch=$b")
      if (!java.nio.file.Files.isDirectory(dir)) {
        require(allowEmpty.contains(b),
          s"landBatches: staged batch $b (${names(b)}) produced no rows")
      } else {
        val listing = java.nio.file.Files.list(dir)
        val part =
          try listing.filter(p => p.getFileName.toString.startsWith("part-"))
            .findFirst()
          finally listing.close() // Files.list leaks a directory handle otherwise
        part.ifPresent { p =>
          val dst = inDir.resolve(names(b))
          java.nio.file.Files.move(p, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mtimes(b)))
        }
      }
    }
  }

  /** Tumbling 5-minute windows per event type with a 10-minute watermark:
    * late data beyond the watermark is dropped, state is bounded. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class SessionUpdate(user_id: Long, n_events: Long,
      total_value: Double, closed: Boolean)
  /** State accumulates exact integer CENTS, not doubles: the fold order over
    * a group's iterator depends on shuffle internals, and a double sum would
    * be order-dependent in its last ulp — cents make the emitted total
    * deterministic (and oracle-checkable) under any partitioning. */
  final case class SessionState(n_events: Long, total_cents: Long)

  /** One rounding rule for the whole engine: matches `Money.cents`
    * (Spark `round(x*100)`: BigDecimal HALF_UP = ties away from zero) and
    * the DuckDB oracle's `round()`. `math.round` would differ on negative
    * ties (half toward +inf), silently diverging stream from batch. */
  private def toCents(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Per-user session accumulation with processing-time timeout: each batch
    * folds new events into per-user state; on timeout the session closes and
    * emits its final rollup. The `KeyValueGroupedDataset.mapGroupsWithState`
    * path — custom state the built-in window aggs can't express. */
  def sessionize(events: Dataset[Event],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](timeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(userId, s.n_events, s.total_cents / 100.0, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0L))
            val (n, c) = batch.foldLeft((prev.n_events, prev.total_cents)) {
              case ((cn, cc), e) => (cn + 1, cc + toCents(e.value))
            }
            state.update(SessionState(n, c))
            if (useTimeout) state.setTimeoutDuration("30 seconds")
            SessionUpdate(userId, n, c / 100.0, closed = false)
          }
      }
  }

  final case class TwsUpdate(user_id: Long, n_events: Long, total_cents: Long)

  /** The transformWithState surface: per-user running rollup held in an
    * explicit named ValueState variable. Unlike mapGroupsWithState's single
    * opaque state value, the processor declares typed state variables
    * against the handle in init (ValueState here; ListState/MapState and
    * event-time timers hang off the same handle) — state lives in the
    * RocksDB state-store provider, the only provider the operator supports.
    * Emits the running rollup after folding each batch's slice; cents keep
    * the fold order-independent (same discipline as [[SessionState]]).
    */
  final class RunningRollupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, TwsUpdate] {
    @transient private var rollup:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      rollup = getHandle.getValueState[SessionState]("rollup",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsUpdate] = {
      val prev = if (rollup.exists()) rollup.get() else SessionState(0L, 0L)
      val (n, c) = rows.foldLeft((prev.n_events, prev.total_cents)) {
        case ((cn, cc), e) => (cn + 1, cc + toCents(e.value))
      }
      rollup.update(SessionState(n, c))
      Iterator.single(TwsUpdate(userId, n, c))
    }
  }

  /** TRANSFORMWITHSTATE (Spark 4's arbitrary-state successor to
    * mapGroupsWithState): two REAL micro-batches (event_id parity split,
    * maxFilesPerTrigger=1) prove the named ValueState PERSISTS across
    * batches in the RocksDB provider — each batch folds its slice into the
    * per-user rollup and emits the running total. Counts and positive-cents
    * totals are strictly increasing, so the per-user MAX over the
    * Update-mode emission chain is the final state: a deterministic
    * reduction needing no sink ordering, which must equal the plain batch
    * aggregation (the oracle shared with [[streamingSessions]] — the same
    * answer through the old and new state APIs).
    */
  def streamingTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = rawEvents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_stream_tws")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    // both parity batches staged in one pass (landBatches, round 21)
    landBatches(raw.withColumn("__batch", (col("event_id") % 2).cast("int")),
      root, inDir, Seq("batch0.parquet", "batch1.parquet"),
      Seq(now - 30000L, now))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Event]
    val out = stream.groupByKey(_.user_id)
      .transformWithState(new RunningRollupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
    try runToMemory(out.toDF(), "graft_stream_tws", OutputMode.Update)
    finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      deleteRecursively(root)
    }
    spark.table("graft_stream_tws")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        (max(col("total_cents")).cast("double") / 100.0).as("total_value"))
      .orderBy("user_id")
  }

  // def, not val: streamingSessionsSql initializes later in the object
  def streamingTwsSql: String = streamingSessionsSql

  /** [[RunningRollupProcessor]] plus batch warm-start: handleInitialState
    * seeds each user's ValueState from a pre-aggregated batch frame BEFORE
    * any stream rows arrive — the bootstrap path for migrating a batch
    * pipeline's accumulated state into a streaming deployment without
    * replaying history. */
  final class SeededRollupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Event, TwsUpdate, SessionState] {
    @transient private var rollup:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      rollup = getHandle.getValueState[SessionState]("rollup",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInitialState(userId: Long, initial: SessionState,
        timers: org.apache.spark.sql.streaming.TimerValues): Unit =
      rollup.update(initial)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsUpdate] = {
      val prev = if (rollup.exists()) rollup.get() else SessionState(0L, 0L)
      val (n, c) = rows.foldLeft((prev.n_events, prev.total_cents)) {
        case ((cn, cc), e) => (cn + 1, cc + toCents(e.value))
      }
      rollup.update(SessionState(n, c))
      Iterator.single(TwsUpdate(userId, n, c))
    }
  }

  /** transformWithState INITIAL STATE: even-id events are pre-aggregated
    * BATCH-side into per-user SessionState and handed to the operator as
    * its initial state; only odd-id events flow through the stream. The
    * final per-user rollup must equal the batch aggregation over ALL
    * events (the q_stream_sessions oracle) — proving the seeded state is
    * genuinely folded under, not recomputed. Users who only ever appear
    * in the seed never get stream rows and emit nothing; the rollup
    * re-unions the seed for them (their state is correct but silent —
    * exactly the semantics a warm-started deployment sees).
    */
  def streamingTwsInit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = rawEvents(spark, sfDir)
    val toEvent = (df: DataFrame) => df
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    // distributed seed build (no driver collect): per-user cents rollup of
    // the even half, pinned because it feeds BOTH the initial state and the
    // silent-user re-union below
    val seedDs = toEvent(raw.where(col("event_id") % 2 === 0)).as[Event]
      .groupByKey(_.user_id)
      .mapGroups { (u, it) =>
        var n = 0L; var c = 0L
        it.foreach { e => n += 1; c += toCents(e.value) }
        (u, SessionState(n, c))
      }.localCheckpoint()
    val initialState = seedDs.groupByKey(_._1).mapValues(_._2)
    val root = java.nio.file.Files.createTempDirectory("graft_stream_tws_init")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val stage = root.resolve("stage")
    raw.where(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val listing = java.nio.file.Files.list(stage)
    val part =
      try listing.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      finally listing.close()
    java.nio.file.Files.move(part, inDir.resolve("batch0.parquet"))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = toEvent(spark.readStream.schema(rawSchema)
      .parquet(inDir.toString)).as[Event]
    val out = stream.groupByKey(_.user_id)
      .transformWithState(new SeededRollupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update(),
        initialState)
    try runToMemory(out.toDF(), "graft_stream_tws_init", OutputMode.Update)
    finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      deleteRecursively(root)
    }
    // silent seed-only users re-enter from the seed itself; streamed users'
    // last Update row (per-user max: counts strictly increase) wins the union
    val streamed = spark.table("graft_stream_tws_init")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("total_cents")).as("total_cents"))
    val seedDf = seedDs.toDF("user_id", "s")
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.total_cents").as("total_cents"))
      .join(streamed.select("user_id"), Seq("user_id"), "left_anti")
    streamed.unionByName(seedDf)
      .select(col("user_id"), col("n_events"),
        (col("total_cents").cast("double") / 100.0).as("total_value"))
      .orderBy("user_id")
  }

  // def, not val: streamingSessionsSql initializes later in the object
  def streamingTwsInitSql: String = streamingSessionsSql

  final case class TwsTypeRollup(user_id: Long, event_type: String,
      n_events: Long, total_value: Double)

  /** The TIMER + MapState half of the transformWithState surface: state is
    * a per-user MAP keyed by event_type (one composite-keyed RocksDB range
    * per user, vs. packing a growing map into one ValueState blob), input
    * batches only accumulate, and emission happens EXCLUSIVELY in
    * [[handleExpiredTimer]] when the event-time watermark passes the
    * per-user timer (last event + 30 min) — the exactly-once flush
    * contract of [[streamingTimeoutSessions]] re-expressed in the new API
    * (registerTimer/deleteTimer replacing setTimeoutTimestamp).
    */
  final class TimerFlushProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, TwsTypeRollup] {
    private val GapMs = 30L * 60L * 1000L
    @transient private var byType:
        org.apache.spark.sql.streaming.MapState[String, SessionState] = _
    @transient private var timerTs:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      byType = getHandle.getMapState[String, SessionState]("by_type",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      timerTs = getHandle.getValueState[Long]("timer_ts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsTypeRollup] = {
      var lastMs = if (timerTs.exists()) timerTs.get() - GapMs else 0L
      rows.foreach { e =>
        val prev =
          if (byType.containsKey(e.event_type)) byType.getValue(e.event_type)
          else SessionState(0L, 0L)
        byType.updateValue(e.event_type,
          SessionState(prev.n_events + 1, prev.total_cents + toCents(e.value)))
        lastMs = math.max(lastMs, e.ts.getTime)
      }
      // one live timer per user: slide it to (latest event + gap)
      if (timerTs.exists()) getHandle.deleteTimer(timerTs.get())
      val t = lastMs + GapMs
      getHandle.registerTimer(t)
      timerTs.update(t)
      Iterator.empty
    }
    override def handleExpiredTimer(userId: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TwsTypeRollup] = {
      // materialize before clearing: the state iterator is live
      val out = byType.iterator().map { case (tpe, s) =>
        TwsTypeRollup(userId, tpe, s.n_events, s.total_cents / 100.0)
      }.toVector
      byType.clear(); timerTs.clear()
      out.iterator
    }
  }

  /** transformWithState with EVENT-TIME TIMERS over three real
    * micro-batches (parity-split data + a far-future flush sentinel):
    * batches 0/1 only fold into MapState and slide each user's timer;
    * the sentinel batch advances the watermark ~30 days past every
    * timer, and the trailing no-data micro-batch fires them all —
    * emitting each user's per-type rollup exactly once. The sentinel
    * user's own timer sits above the final watermark (never fires), and
    * is filtered besides. Oracle: the batch (user, type) aggregation.
    */
  def streamingTwsTimer(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = rawEvents(spark, sfDir)
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val sentinel = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        -1L, maxNs + 30L * dayNs, -1L, "__flush__", 0.0, "{}")),
      rawSchema)
    val root = java.nio.file.Files.createTempDirectory("graft_stream_tws_timer")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    // parity batches + flush sentinel staged in one pass (landBatches, r21)
    landBatches(
      raw.withColumn("__batch", (col("event_id") % 2).cast("int"))
        .unionByName(sentinel.withColumn("__batch", lit(2))),
      root, inDir, Seq("b0.parquet", "b1.parquet", "b2.parquet"),
      Seq(now - 60000L, now - 30000L, now))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ts", "1 minute")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Event]
    val out = stream.groupByKey(_.user_id)
      .transformWithState(new TimerFlushProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    try runToMemory(out.toDF(), "graft_stream_tws_timer", OutputMode.Append)
    finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      deleteRecursively(root)
    }
    spark.table("graft_stream_tws_timer")
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("total_value"))
      .orderBy("user_id", "event_type")
  }

  val streamingTwsTimerSql: String =
    s"""SELECT user_id, event_type, count(*) AS n_events,
      |       CAST(sum(${graft.functions.Money.centsSql("value")}) AS DOUBLE)
      |         / 100.0 AS total_value
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** Stateful width for drives whose per-batch state is commit-bound, not
    * compute-bound: every stateful operator opens one state store PER
    * shuffle partition PER micro-batch and pays a commit (delta file +
    * fsync) on each — a stream-stream join is FOUR stores per partition —
    * so a drive whose keyed state is a few MB (user-cardinality rollups,
    * the view/purchase join state) wants the narrowest width that still
    * overlaps commit I/O. Round-22 A/B (ProbeStreamWidth, min-of-3 warm,
    * one JVM): width 2 beat 8 on all six join drives (e.g. q_stream_join_agg
    * 6.47→4.64 s, q_stream_join 2.47→1.86 s) and on late/rewindow/update;
    * width 1 serialized batch-0 work and lost on several. Drives with
    * LARGE per-batch state keep width 8 (measured worse at 2):
    * q_stream_dedup/_wm hold every event key (~600 k), session_window
    * merges interval state, tws_timer's RocksDB stores commit heavier per
    * store. On a real cluster this is the same dial — size stateful width
    * to state volume, never to scan parallelism. */
  private val NarrowParts = 2

  /** Drive a stream synchronously into an in-memory table (test/demo
    * harness) named `name`, to SELECT from.
    *
    * Shuffle width is set to `parts` for the duration of the stream:
    * stateful operators open one state store PER shuffle partition PER
    * micro-batch, so a width sized for batch scans pays pure state-store
    * overhead on these rollup-sized streams (`NarrowParts` covers which
    * drives take the narrow width). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode,
      parts: Int = 8): Unit = {
    val spark = df.sparkSession
    spark.catalog.dropTempView(name) // idempotent re-runs
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      val q = df.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Batch-contract entry for the streaming path: streams the events table
    * (AvailableNow-style — one synchronous pass over what's on disk)
    * through the windowed aggregation in Complete mode and returns the
    * result as a DataFrame. Deterministic: all data arrives in one batch,
    * so the complete-mode output IS the full grouped aggregation — which is
    * exactly what the DuckDB oracle computes batch-wise. Proves the
    * incremental plan produces the batch answer (the streaming/batch parity
    * Spark's model promises).
    *
    * The stream reads the source file directly via [[srcEvents]], which
    * sniffs the on-disk timestamp flavor and hands back ts as a real
    * timestamp — streaming sources require an explicit schema anyway.
    */
  def streamingDailyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val stream = srcEvents(spark, sfDir)
    val agg = stream
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
    runToMemory(agg, "graft_stream_daily", OutputMode.Complete)
    spark.table("graft_stream_daily")
      .select(col("window.start").cast("timestamp_ntz").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("day", "event_type")
  }

  val streamingDailyAggSql: String =
    s"""SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
      |       count(*) AS n_events,
      |       ${graft.functions.Money.moneySumSql("value")} AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  /** Batch-contract entry for STATEFUL streaming: the whole events table
    * arrives as one micro-batch (file source, no maxFilesPerTrigger cap),
    * flows through `mapGroupsWithState` sessionization in Update mode, and
    * the per-user session rollups are returned. Deterministic because state
    * accumulates integer cents (see [[SessionState]]) — so the custom-state
    * operator itself is oracle-checked against the equivalent batch
    * aggregation, not just spec'd. */
  def streamingSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val stream = srcEvents(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    // NoTimeout: the synchronous one-batch drive never fires timers, so each
    // user's final Update-mode row is the complete session rollup
    val sessions = sessionize(stream, GroupStateTimeout.NoTimeout)
    runToMemory(sessions.toDF(), "graft_stream_sessions", OutputMode.Update)
    spark.table("graft_stream_sessions")
      .select(col("user_id"), col("n_events"), col("total_value"))
      .orderBy("user_id")
  }

  /** UPDATE-MODE windowed aggregation across REAL multiple micro-batches:
    * the third output mode's semantics made deterministic. Two staged
    * files split by event_id parity arrive as separate batches; Update
    * mode re-emits a (window, type) row each batch its value CHANGES, so
    * the memory sink accumulates supersede chains. Because counts and
    * positive-cents sums are STRICTLY INCREASING across updates, the last
    * update per key ≡ the per-key MAX over the chain — a deterministic
    * reduction that requires no sink ordering. The reduced result must
    * equal the plain batch aggregation (the oracle): proves update rows
    * supersede rather than accumulate. State is (window, type)-sized; in
    * production a watermark bounds it — omitted here so the two-batch
    * drive exercises pure Update semantics. */
  def streamingUpdateAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_stream_upd")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    // both parity batches staged in one pass (landBatches, round 21)
    landBatches(raw.withColumn("__batch", (col("event_id") % 2).cast("int")),
      root, inDir, Seq("batch0.parquet", "batch1.parquet"),
      Seq(now - 30000L, now))
    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val agg = stream
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
    try runToMemory(agg, "graft_stream_update", OutputMode.Update, NarrowParts)
    finally deleteRecursively(root)
    spark.table("graft_stream_update")
      .groupBy(col("window.start").cast("timestamp_ntz").as("day"),
        col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("sum_value")).as("sum_value"))
      .orderBy("day", "event_type")
  }

  /** Oracle: the plain batch aggregation — identical to the Complete-mode
    * query's; the operator under test is the Update emission path. */
  val streamingUpdateAggSql: String = streamingDailyAggSql

  /** Oracle: the batch answer to the session rollup — cents summed exactly,
    * divided once at the boundary (same op order as the state fold's emit). */
  val streamingSessionsSql: String =
    s"""SELECT user_id, count(*) AS n_events,
      |       CAST(sum(${graft.functions.Money.centsSql("value")}) AS DOUBLE) / 100.0
      |         AS total_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Oracle-checked WATERMARK LATE-DATA DROP: the one streaming behavior the
    * single-batch queries above can't exercise (all data in one batch means
    * nothing is ever late).
    *
    * Arrival is made deterministic by staging the events table into four
    * micro-batch files (mtime-ordered, maxFilesPerTrigger=1). The staging
    * accounts for Spark's TWO watermarks per batch (SPARK-40925): eviction
    * uses the watermark from the previous batch's data, but LATE-EVENT
    * FILTERING uses the one from the batch before that — so rows are only
    * dropped when they arrive ≥2 batches after the data that advanced the
    * watermark past their window (proven by driving: a 2-batch layout
    * merges "late" rows into still-live state and drops nothing).
    *
    *   batch0 = even event_ids — spans the full range: the watermark
    *            becomes (max ts − 3 days) after this batch
    *   batch1 = odd event_ids from the last 7 calendar days — on time
    *   batch2 = odd event_ids OLDER than 7 days — every row's 1-day window
    *            closed ≥3 days before the late-filter watermark: ALL DROPPED
    *            (the 4-day margin makes the result robust to the exact
    *            boundary predicate and to ms-truncation of watermark stats)
    *   batch3 = one far-future sentinel row — advances the watermark past
    *            every real window so Append mode flushes them all (the
    *            sentinel's own window never closes and is filtered out)
    *
    * The DuckDB oracle restates the drop relationally — keep the evens and
    * the recent odds, drop the old odds — with the same cutoff arithmetic
    * (whole-day truncation of the global max ts, minus 7 days).
    */
  def streamingLateData(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: the raw table feeds four derived frames (max-ts agg + three
    // batch filters) — a lazy plan would rescan the parquet for each
    val raw = rawEvents(spark, sfDir)
      .localCheckpoint()

    // cutoff = UTC-midnight of the global max ts, minus 7 days (in ns, on
    // the raw long column — the oracle does the identical truncation on µs)
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val cutoffNs = (maxNs / dayNs) * dayNs - 7L * dayNs
    val odd = raw.where(col("event_id") % 2 === 1)
    val sentinel = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        -1L, maxNs + 30L * dayNs, -1L, "__flush__", 0.0, "{}")),
      rawSchema)

    // stage all four arrival batches in ONE write job ([[landBatches]]);
    // an empty stratum (e.g. a fixture spanning <7 days has no old-odd
    // rows) just means fewer arrival batches — the oracle's relational
    // restatement agrees
    val root = java.nio.file.Files.createTempDirectory("graft_stream_late")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    landBatches(
      raw.withColumn("__batch",
          when(col("event_id") % 2 === 0, 0)
            .when(col("ts") >= cutoffNs, 1).otherwise(2))
        .unionByName(sentinel.withColumn("__batch", lit(3))),
      root, inDir, (0 to 3).map(b => s"batch$b.parquet"),
      (0 to 3).map(b => now - (3 - b) * 30000L),
      // only the DATA strata may legitimately be empty (a fixture spanning
      // <7 days has no old-odd rows); batch 3 is the watermark SENTINEL —
      // listing it would silently defeat the missing-sentinel guard
      // landBatches exists for (round-21 advice)
      allowEmpty = Set(0, 1, 2))

    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ts", "3 days")
    val agg = stream
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
    try runToMemory(agg, "graft_stream_late", OutputMode.Append, NarrowParts)
    finally deleteRecursively(root) // the sink table holds the result; staging is disposable
    spark.table("graft_stream_late")
      .where(col("event_type") =!= "__flush__")
      .select(col("window.start").cast("timestamp_ntz").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("day", "event_type")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  val streamingLateDataSql: String =
    s"""WITH cut AS (
      |  SELECT date_trunc('day', max(CAST(ts AS TIMESTAMP)))
      |           - INTERVAL 7 DAY AS cutoff
      |  FROM events
      |), kept AS (
      |  SELECT e.* FROM events e WHERE e.event_id % 2 = 0
      |  UNION ALL
      |  SELECT e.* FROM events e, cut
      |  WHERE e.event_id % 2 = 1 AND CAST(e.ts AS TIMESTAMP) >= cut.cutoff
      |)
      |SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
      |       count(*) AS n_events,
      |       ${graft.functions.Money.moneySumSql("value")} AS sum_value
      |FROM kept
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  /** STREAMING SESSION WINDOWS: the `session_window` gap-merge aggregation
    * running as a STREAM — the one stateful aggregation operator the other
    * streaming queries don't touch (its state store merges overlapping
    * session intervals per key instead of keying fixed windows). Driven
    * with two mtime-ordered files (maxFilesPerTrigger=1): the real events,
    * then one far-future sentinel that advances the watermark past every
    * real session; Spark's trailing no-data micro-batch then evicts and
    * emits every closed session in Append mode. Output ≡ the BATCH
    * session_window answer ([[graft.ops.AnalyticOps.sessionWindowAgg]]),
    * so the streaming operator is checked against the same
    * gaps-and-islands oracle — stream/batch parity for session merging.
    *
    * Scale: state is per (user, open-session interval) and bounded by the
    * watermark; the shuffle is the same (key, session)-merge exchange the
    * batch form pays. The sentinel is written as a plain BIGINT ts file —
    * the explicit long schema plus nanosAsLong reads both that and the
    * TIMESTAMP(NANOS) original uniformly. */
  def streamingSessionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val sentinel = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        -1L, maxNs + 30L * dayNs, -1L, "__flush__", 0.0, "{}")),
      rawSchema)

    val root = java.nio.file.Files.createTempDirectory("graft_stream_sw")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    // data batch + flush sentinel staged in one pass (landBatches, r21)
    landBatches(
      raw.withColumn("__batch", lit(0))
        .unionByName(sentinel.withColumn("__batch", lit(1))),
      root, inDir, Seq("batch0.parquet", "batch1.parquet"),
      Seq(now - 30000L, now))

    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ts", "1 hour")
    val agg = stream
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
    try runToMemory(agg, "graft_stream_session_window", OutputMode.Append)
    finally deleteRecursively(root)
    spark.table("graft_stream_session_window")
      .where(col("user_id") >= 0)
      .select(col("user_id"),
        col("sw.start").cast("timestamp_ntz").as("session_start"),
        col("sw.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Oracle: identical to the batch session_window query's — the streaming
    * run must reproduce the batch answer exactly. */
  val streamingSessionWindowSql: String =
    graft.ops.AnalyticOps.sessionWindowAggSql

  /** CHAINED TIME-WINDOW AGGREGATION (re-windowing): hourly partials
    * re-aggregated into daily totals INSIDE one streaming query — two
    * stateful aggs back to back, joined by `window_time()` (the Spark-3.4+
    * multiple-stateful-operator path, where each downstream operator runs
    * on the upstream's propagated output watermark). This is the streaming
    * rollup cascade a 100 TB pipeline wants: the wide raw stream collapses
    * at the finest grain once, and every coarser grain aggregates
    * partial-sized input — the second shuffle carries (hour, type) rows,
    * never raw events.
    *
    * Drive: the session-window staging (real file, then one far-future
    * sentinel file, maxFilesPerTrigger=1); the trailing no-data batches
    * flush the hourly windows through to the daily agg and then the daily
    * windows themselves (processAllAvailable drains until no state
    * changes). Cents keep both grains' sums exact; the final daily output
    * must equal the DIRECT batch daily aggregation — the cascade must be
    * lossless, which is exactly what the shared oracle checks. The
    * sentinel's own windows sit above the final watermark, so it never
    * reaches the sink. */
  def streamingRewindow(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val sentinel = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        -1L, maxNs + 30L * dayNs, -1L, "__flush__", 0.0, "{}")),
      rawSchema)

    val root = java.nio.file.Files.createTempDirectory("graft_stream_rw")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    // data batch + flush sentinel staged in one pass (landBatches, r21)
    landBatches(
      raw.withColumn("__batch", lit(0))
        .unionByName(sentinel.withColumn("__batch", lit(1))),
      root, inDir, Seq("batch0.parquet", "batch1.parquet"),
      Seq(now - 30000L, now))

    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ts", "1 hour")
    val hourly = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.Money.cents(col("value"))).as("cents"))
    val daily = hourly
      .groupBy(window(window_time(col("window")), "1 day").as("day_w"),
        col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        graft.functions.Money.centsToDollars(sum(col("cents"))).as("sum_value"))
    try runToMemory(daily, "graft_stream_rewindow", OutputMode.Append, NarrowParts)
    finally deleteRecursively(root)
    spark.table("graft_stream_rewindow")
      .where(col("event_type") =!= "__flush__")
      .select(col("day_w.start").cast("timestamp_ntz").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("day", "event_type")
  }

  /** Oracle: the DIRECT batch daily aggregation — the hourly→daily cascade
    * must be lossless, so the answer is identical to q_stream_daily's. */
  val streamingRewindowSql: String = streamingDailyAggSql

  /** STREAM-STATIC JOIN: the streaming enrich pattern — each micro-batch of
    * the event stream joins a static dimension table (here: customer, on
    * user_id = c_custkey) before aggregating per market segment. The static
    * side is a plain batch DataFrame; Spark re-plans it per micro-batch and
    * broadcasts it (dimension-sized), so the stream side never shuffles for
    * the join — the scale-correct enrich topology. Complete-mode single
    * batch keeps it deterministic; the oracle is the equivalent batch join.
    */
  def streamingEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = srcEvents(spark, sfDir)
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enriched = stream.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("c_mktsegment"))
      // no countDistinct: distinct aggregates are unsupported on streams —
      // the mergeable alternative at scale is approx_count_distinct
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
    runToMemory(enriched.toDF(), "graft_stream_enrich", OutputMode.Complete)
    spark.table("graft_stream_enrich")
      .select(col("c_mktsegment"), col("n_events"), col("sum_value"))
      .orderBy("c_mktsegment")
  }

  val streamingEnrichSql: String =
    s"""SELECT c.c_mktsegment,
      |       count(*) AS n_events,
      |       ${graft.functions.Money.moneySumSql("value")} AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c.c_mktsegment
      |ORDER BY c.c_mktsegment""".stripMargin

  /** STREAM-STREAM JOIN: view→purchase attribution — every purchase joined
    * to the same user's views in the preceding hour. Spark plans a
    * StreamingSymmetricHashJoin: both sides keep keyed state, each arriving
    * row probes the other side's state. The watermarks + the two-sided
    * time-range condition are what BOUND that state on an unbounded stream
    * (rows older than watermark − range drop out of state); on this
    * single-batch drive nothing is evicted, so the emitted set is exactly
    * the batch interval join — which is the oracle. The join result is
    * rolled up batch-side from the sink table (aggregating ON TOP of a
    * stream-stream join in Append mode would hold output until watermark
    * passes — unnecessary here).
    */
  def streamingJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def src() = srcEvents(spark, sfDir)
    val views = src().where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 day")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 day")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") > col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr("interval 1 hour"))
    runToMemory(joined, "graft_stream_join", OutputMode.Append, NarrowParts)
    spark.table("graft_stream_join")
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_attributed"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
      .orderBy("day")
  }

  /** STREAM-STREAM JOIN UNDER LATE DATA: the multi-batch twin of
    * [[streamingJoin]] — proves the watermark actually DROPS a late side
    * of a StreamingSymmetricHashJoin (the single-batch drive above can't:
    * nothing there is ever late).
    *
    * Staged arrival (mtime-ordered files, maxFilesPerTrigger=1), views and
    * purchases only:
    *
    *   batch0 = ALL views + EVEN purchases — full ts range; every even
    *            purchase attributes in-batch (nothing late, nothing
    *            evicted at watermark 0), and the watermark advances to
    *            (max b0 ts − 3 days) after the batch
    *   batch1 = odd purchases from the last calendar day — on time (late
    *            filtering at batch1 still uses the pre-b0 watermark, per
    *            the SPARK-40925 two-watermark rule), and the views they
    *            probe are ≥ 1 day above the view-state eviction line
    *            (wm − 3d − 1h), so they attribute exactly like the evens
    *   batch2 = odd purchases OLDER than 7 calendar days — they arrive
    *            ≥2 batches after the data that advanced the watermark, so
    *            the late filter (wm from batch0 = max − 3d) drops them at
    *            input: NO attribution, even though matching views sit in
    *            the oracle's reach (the ~4-day margin absorbs boundary
    *            predicates and ms truncation of watermark stats)
    *
    *   odd purchases BETWEEN the two cutoffs are excluded from stream AND
    *   oracle: their arrival would race view-state eviction (they'd need
    *   views below the eviction line), which is exactly the boundary this
    *   layout is designed to stay away from.
    *
    * Inner stream-stream joins emit on match (only OUTER joins wait for
    * the watermark), so no flush sentinel is needed. The oracle restates
    * the drop relationally: attribute every purchase that is even or
    * recent-odd; old odds contribute nothing.
    */
  def streamingJoinLate(spark: SparkSession, sfDir: String): DataFrame = {
    // two consumers only (max-ts agg + ONE staged write): a re-scan of the
    // pushdown-pruned parquet beats materializing a checkpoint here
    val raw = rawEvents(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val d0Ns = (maxNs / dayNs) * dayNs
    val recentNs = d0Ns - 1L * dayNs
    val oldNs = d0Ns - 7L * dayNs

    val root = java.nio.file.Files.createTempDirectory("graft_stream_join_late")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val stage = root.resolve("stage")
    raw.withColumn("__batch",
        when(col("event_type") === "view" || col("event_id") % 2 === 0, 0)
          .when(col("ts") >= recentNs, 1)
          .when(col("ts") < oldNs, 2)
          .otherwise(-1)) // between-cutoff odds: excluded (see scaladoc)
      .where(col("__batch") >= 0)
      .coalesce(1)
      .write.partitionBy("__batch").mode("overwrite").parquet(stage.toString)
    val now = System.currentTimeMillis()
    (0 to 2).foreach { b =>
      val dir = stage.resolve(s"__batch=$b")
      if (java.nio.file.Files.isDirectory(dir)) {
        val listing = java.nio.file.Files.list(dir)
        val part =
          try listing.filter(p => p.getFileName.toString.startsWith("part-"))
            .findFirst()
          finally listing.close()
        part.ifPresent { p =>
          val dst = inDir.resolve(s"batch$b.parquet")
          java.nio.file.Files.move(p, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(now - (2 - b) * 30000L))
        }
      }
    }

    def src() = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val views = src().where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "3 days")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "3 days")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") > col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr("interval 1 hour"))
    try runToMemory(joined, "graft_stream_join_late", OutputMode.Append, NarrowParts)
    finally deleteRecursively(root)
    spark.table("graft_stream_join_late")
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_attributed"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
      .orderBy("day")
  }

  val streamingJoinLateSql: String =
    s"""WITH mx AS (
      |  SELECT date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS d0
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |), p AS (
      |  SELECT e.* FROM events e, mx
      |  WHERE e.event_type = 'purchase'
      |    AND (e.event_id % 2 = 0
      |         OR CAST(e.ts AS TIMESTAMP) >= mx.d0 - INTERVAL 1 DAY)
      |)
      |SELECT CAST(p.ts AS DATE) AS day,
      |       count(*) AS n_attributed,
      |       ${graft.functions.Money.moneySumSql("p.value")} AS sum_value
      |FROM events v
      |JOIN p ON v.user_id = p.user_id
      |      AND v.event_type = 'view'
      |      AND CAST(p.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
      |      AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  val streamingJoinSql: String =
    s"""SELECT CAST(p.ts AS DATE) AS day,
      |       count(*) AS n_attributed,
      |       ${graft.functions.Money.moneySumSql("p.value")} AS sum_value
      |FROM events v
      |JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** STREAM-STREAM LEFT SEMI JOIN: purchases with at least one view by the
    * same user in the preceding hour — attribution EXISTENCE without row
    * multiplication. StreamingSymmetricHashJoin supports left_semi
    * natively: a left (purchase) row emits ONCE on its first match and is
    * marked matched in state; further matching views add nothing. At
    * 100 TB the semi form keeps the same keyed state as the inner join but
    * emits |purchases| rows, not |pairs| — the right shape whenever the
    * question is "did it convert", not "which view". Watermarks + the
    * two-sided time bound evict state exactly like [[streamingJoin]]; on
    * this single-batch drive the emitted set is the batch semi join, which
    * is the oracle's EXISTS. Completes the streaming join family:
    * inner / left outer / full outer / left semi.
    */
  def streamingSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def src() = srcEvents(spark, sfDir)
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 day")
    val views = src().where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 day")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("p_ts") > col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr("interval 1 hour"),
      "left_semi")
    runToMemory(joined, "graft_stream_semi", OutputMode.Append, NarrowParts)
    spark.table("graft_stream_semi")
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
      .orderBy("day")
  }

  val streamingSemiJoinSql: String =
    s"""SELECT CAST(p.ts AS DATE) AS day,
      |       count(*) AS n_purchases,
      |       ${graft.functions.Money.moneySumSql("p.value")} AS sum_value
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |  AND EXISTS (
      |    SELECT 1 FROM events v
      |    WHERE v.event_type = 'view' AND v.user_id = p.user_id
      |      AND CAST(p.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
      |      AND CAST(p.ts AS TIMESTAMP)
      |          <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR)
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** CHAINED STATEFUL OPERATORS: a stream-stream inner join feeding a
    * windowed aggregation INSIDE one streaming query — the
    * multiple-stateful-operator pipeline (watermark propagation is
    * simulated per operator through the join, accounting for its state
    * retention, so the downstream agg knows when a window is final).
    * [[streamingJoin]] had to roll up batch-side from the sink; this runs
    * the same attribution rollup end-to-end incrementally, which is the
    * shape a production pipeline actually deploys (join + agg state both
    * watermark-bounded; two keyed state stores, one per operator).
    *
    * Drive: batch0 = the whole events table in one staged file; batch1 = one far-future
    * two-sided sentinel pair (the global watermark is the MIN over both
    * sides' trackers), 2 h apart so the pair cannot join; the trailing
    * no-data micro-batch applies the sentinel-advanced watermark, which —
    * propagated through the join — finalizes every real day window in
    * Append mode. The inner join emits sentinel rows never (unmatched), so
    * the aggregated output is exactly [[streamingJoinSql]]'s answer: the
    * shared oracle now also proves in-stream window finalization.
    */
  def streamingJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val d0Ns = (maxNs / dayNs) * dayNs

    val root = java.nio.file.Files.createTempDirectory("graft_stream_join_agg")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    val sentinel = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(
          9000001L, d0Ns + 40L * dayNs, -1L, "view", 0.0,
          null.asInstanceOf[String]),
        org.apache.spark.sql.Row(
          9100001L, d0Ns + 40L * dayNs + 7200L * 1000000000L, -1L,
          "purchase", 0.0, null.asInstanceOf[String])),
      rawSchema)
    // data batch + watermark sentinel staged in one pass (landBatches, r21)
    landBatches(
      raw.withColumn("__batch", lit(0))
        .unionByName(sentinel.withColumn("__batch", lit(1))),
      root, inDir, Seq("batch0.parquet", "batch1.parquet"),
      Seq(now - 30000L, now))

    def src() = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val views = src().where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 day")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 day")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") > col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr("interval 1 hour"))
    val agg = joined
      .groupBy(window(col("p_ts"), "1 day"))
      .agg(count(lit(1)).as("n_attributed"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
    try runToMemory(agg, "graft_stream_join_agg", OutputMode.Append, NarrowParts)
    finally deleteRecursively(root)
    spark.table("graft_stream_join_agg")
      .select(col("window.start").cast("timestamp_ntz").as("day"),
        col("n_attributed"), col("sum_value"))
      .orderBy("day")
  }

  val streamingJoinAggSql: String =
    s"""SELECT date_trunc('day', CAST(p.ts AS TIMESTAMP)) AS day,
      |       count(*) AS n_attributed,
      |       ${graft.functions.Money.moneySumSql("p.value")} AS sum_value
      |FROM events v
      |JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** STREAMING DEDUPLICATION: `dropDuplicates` on a stream is a stateful
    * operator (StreamingDeduplicate — every seen key held in state; with a
    * watermark the state is bounded to the lateness horizon). Arrival has
    * REAL duplicates: the staging write lands two full copies of the events
    * table, both read in one micro-batch, and the stream must collapse
    * them. The rolled-up output equals the batch distinct — the oracle. */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_dedup")
    // two identical copies → every event_id arrives exactly twice; stage
    // the normalized layout once, clone the staged file for the second copy
    stageOne(rawEvents(spark, sfDir), root.resolve("stage0"),
      root.resolve("copy0.parquet"))
    java.nio.file.Files.copy(root.resolve("copy0.parquet"),
      root.resolve("copy1.parquet"))
    // dedup is the ONLY stateful operator in the stream (Append emits each
    // key on first sight); the rollup runs batch-side from the sink table —
    // chaining a second stateful agg would need the multi-operator
    // watermark rules for no benefit here. The event-time column is PART OF
    // the dedup key: Spark only evicts dedup state for keys that embed the
    // watermark column (StreamingDeduplicateExec keys its eviction
    // predicate on the dedup key expressions), so dropDuplicates on
    // event_id alone would grow state forever on an unbounded stream.
    // Duplicate copies share identical ts, so the output is unchanged.
    val stream = spark.readStream.schema(rawSchema)
      .parquet(root.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ts", "1 day")
      .dropDuplicates("event_id", "ts")
    try runToMemory(stream, "graft_stream_dedup", OutputMode.Append)
    finally deleteRecursively(root)
    spark.table("graft_stream_dedup")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val streamingDedupSql: String =
    s"""SELECT event_type, count(*) AS n_events,
      |       ${graft.functions.Money.moneySumSql("value")} AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** CHECKPOINT RESTART / EXACTLY-ONCE: the operational streaming property
    * the other queries can't show — stop a query, land more data, start a
    * NEW query on the SAME checkpoint, and the file sink must contain every
    * input row exactly once. Drive: run 1 sees only the first half (second
    * file doesn't exist yet), stops; the second half lands; run 2 resumes
    * from the checkpoint and processes ONLY the new file (the offset log
    * proves what was consumed; the sink's transaction log de-dupes any
    * replayed task output). If restart semantics broke — reprocessing the
    * first file or losing the offset — every count below would double or
    * halve and the batch oracle would catch it. */
  def streamingRestart(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
      .localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft_stream_restart")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = root.resolve(s"stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val listing = java.nio.file.Files.list(stage)
      val part =
        try listing.filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().get()
        finally listing.close()
      java.nio.file.Files.move(part, inDir.resolve(s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema(rawSchema).parquet(inDir.toString)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      q.stop()
    }
    try {
      land(raw.where(col("event_id") % 2 === 0), "half0")
      runOnce()                                      // consumes half0 only
      land(raw.where(col("event_id") % 2 === 1), "half1")
      runOnce()                                      // resumes: half1 only
      spark.read.parquet(outDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.functions.Money.moneySum(col("value")).as("sum_value"))
        .orderBy("event_type")
        .localCheckpoint() // pin: the temp output dir is deleted below
    } finally deleteRecursively(root)
  }

  val streamingRestartSql: String =
    s"""SELECT event_type, count(*) AS n_events,
      |       ${graft.functions.Money.moneySumSql("value")} AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  final case class TimeoutState(n_events: Long, total_cents: Long, last_ms: Long)
  final case class TimeoutSummary(user_id: Long, n_events: Long, total_value: Double)

  /** TIMEOUT-DRIVEN EMISSION via flatMapGroupsWithState + EventTimeTimeout:
    * the state-API surface the Update-mode sessionizer (q_stream_sessions)
    * doesn't exercise — state accumulates SILENTLY (Iterator.empty per
    * batch) and each user's summary is emitted exactly once, by the TIMER
    * firing when the event-time watermark passes their last event + gap.
    * This is how a production sessionizer actually closes sessions:
    * emission on quiescence, not on every update.
    *
    * Drive: batch0 = the whole events table (states build, timers set —
    * the first batch runs at watermark 0, so every setTimeoutTimestamp is
    * valid); batch1 = one far-future sentinel that advances the watermark
    * past every timer; the automatic no-data micro-batch then fires ALL
    * timeouts (the same flush mechanics q_stream_late relies on). The
    * sentinel's own timer sits 30 days past the watermark and never
    * fires; its user id is filtered from the result. All state folds are
    * order-free (count, cents sum, max ts) — batch iterator order within
    * a group is arrival order and must never matter.
    *
    * The oracle is the batch per-user rollup: timeout emission must
    * reproduce it exactly, one row per user, no duplicates (state.remove
    * on fire), none missing (every timer eventually passes). */
  def streamingTimeoutSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = rawEvents(spark, sfDir)
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val sentinel = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        -1L, maxNs + 30L * dayNs, -1L, "__flush__", 0.0, "{}")),
      rawSchema)

    val root = java.nio.file.Files.createTempDirectory("graft_stream_timeout")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    // data batch + flush sentinel staged in one pass (landBatches, r21)
    landBatches(
      raw.withColumn("__batch", lit(0))
        .unionByName(sentinel.withColumn("__batch", lit(1))),
      root, inDir, Seq("b0.parquet", "b1.parquet"),
      Seq(now - 30000L, now))

    val GapMs = 30L * 60L * 1000L
    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ts", "1 minute")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val out = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[TimeoutState, TimeoutSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, batch, state: GroupState[TimeoutState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(TimeoutSummary(userId, s.n_events, s.total_cents / 100.0))
          } else {
            val prev = state.getOption.getOrElse(TimeoutState(0L, 0L, 0L))
            val next = batch.foldLeft(prev) { (acc, e) =>
              TimeoutState(acc.n_events + 1, acc.total_cents + toCents(e.value),
                math.max(acc.last_ms, e.ts.getTime))
            }
            state.update(next)
            state.setTimeoutTimestamp(next.last_ms + GapMs)
            Iterator.empty
          }
      }
    try runToMemory(out.toDF(), "graft_stream_timeout", OutputMode.Append)
    finally deleteRecursively(root)
    spark.table("graft_stream_timeout")
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), col("n_events"), col("total_value"))
      .orderBy("user_id")
  }

  /** Oracle: the batch per-user rollup — identical to q_stream_sessions'
    * answer, but produced by the timeout path instead of Update rows. */
  val streamingTimeoutSessionsSql: String = streamingSessionsSql

  /** STREAMING MERGE via foreachBatch: the custom-sink pattern for
    * "stream upserts into a lake table" — each micro-batch runs a
    * key-based MERGE (anti-join out matched keys, union the batch in)
    * against the versioned warehouse directory, exactly the delete-before-
    * insert upsert of q_upsert driven incrementally. The second batch
    * OVERLAPS the first (all odd rows + a re-delivery of the low even
    * ids), so the merge's idempotent-update path is genuinely exercised:
    * a blind append would double-count the overlap; the oracle (each
    * event exactly once) proves the merge collapsed it.
    *
    * Versioned dirs (v0 → v1 → …) because a parquet dir can't be read and
    * overwritten in the same job — the same swap discipline every lake
    * format formalizes in a transaction log. Batch-internal dedup
    * (dropDuplicates on the key) guards against duplicate keys WITHIN one
    * arriving batch, matching MERGE's one-source-row-per-key contract. */
  def streamingForeachMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
      .localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft_stream_merge")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)

    val now = System.currentTimeMillis()
    // both arrival batches staged in one job (landBatches, round 21); the
    // strata OVERLAP (low even ids are re-delivered in b1 — the update
    // path), so they union with literal batch ids rather than routing on
    // a partition expression
    landBatches(
      raw.where(col("event_id") % 2 === 0).withColumn("__batch", lit(0))
        .unionByName(
          raw.where(col("event_id") % 2 === 1 || col("event_id") < 1000)
            .withColumn("__batch", lit(1))),
      root, inDir, Seq("b0.parquet", "b1.parquet"),
      Seq(now - 30000L, now))

    var version = -1
    def warehouseDir(v: Int) = root.resolve(s"wh_v$v").toString
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .select(col("event_id"), col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val incoming = batch.dropDuplicates("event_id")
        val merged =
          if (version < 0) incoming
          else spark.read.parquet(warehouseDir(version))
            .join(incoming, Seq("event_id"), "left_anti")
            .unionByName(incoming)
        merged.write.mode("overwrite").parquet(warehouseDir(version + 1))
        version += 1
      }
      .outputMode(OutputMode.Update)
      .start()
    q.processAllAvailable()
    q.stop()
    try spark.read.parquet(warehouseDir(version))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
      .orderBy("event_type")
      .localCheckpoint() // pin: the temp warehouse dirs are deleted below
    finally deleteRecursively(root)
  }

  /** STREAMING AS-OF ENRICHMENT: incoming events enriched per micro-batch
    * with the most recent prior signup from a STATIC feature history —
    * the lambda-free serving path a feature store runs, here driving the
    * NATIVE as-of operator ([[graft.plans.AsOfJoinExec]]) inside
    * foreachBatch (batch planning per micro-batch, so the custom exec
    * needs no streaming-specific support). Because the right side is
    * static and as-of is per-left-row independent, the union of
    * per-batch outputs must equal the one-shot batch as-of — which is
    * exactly the DuckDB ASOF oracle this query shares with q_asof_join.
    * Results land in an append-only parquet dir (append is safe: each
    * batch writes its own files — no MERGE discipline needed for
    * insert-only enrichment). */
  def streamingAsOfEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_asof")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val outDir = root.resolve("out").toString
    // stage the raw file twice, split by event_id parity → 2 micro-batches
    val raw = rawEvents(spark, sfDir)
      .localCheckpoint()
    val now = System.currentTimeMillis()
    // both parity batches staged in one pass (landBatches, round 21)
    landBatches(raw.withColumn("__batch", (col("event_id") % 2).cast("int")),
      root, inDir, Seq("b0.parquet", "b1.parquet"),
      Seq(now - 30000L, now))

    // static feature history: one signup row per (user, ts), pinned once
    val withTs = raw.select(col("event_id"), col("user_id"),
      expr("timestamp_micros(ts div 1000)").as("ts"), col("event_type"))
    val signups = withTs.where(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts").as("signup_ts_k"))
      .agg(max(col("event_id")).as("signup_id"))
      .select(col("user_id"), col("signup_ts_k").as("ts"), col("signup_id"))
      .localCheckpoint()

    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ev = batch.select(col("event_id"), col("user_id"),
            expr("timestamp_micros(ts div 1000)").as("ts"), col("event_type"))
          .where(col("event_type") =!= "signup")
        graft.ops.NativeAsOf.asOfNative(ev, signups, "user_id", "ts", leftOuter = false)
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
            col("asof_signup_id").as("signup_id"),
            (unix_micros(col("ts")) - unix_micros(col("asof_ts")))
              .as("micros_since_signup"))
          .write.mode("append").parquet(outDir)
      }
      .outputMode(OutputMode.Append)
      .start()
    q.processAllAvailable()
    q.stop()
    try spark.read.parquet(outDir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"), col("event_type"),
        col("signup_id"), col("micros_since_signup"))
      .orderBy("event_id")
      .localCheckpoint() // pin: the temp dirs are deleted below
    finally deleteRecursively(root)
  }

  /** Oracle: every event exactly once — the merge collapsed the overlap. */
  val streamingForeachMergeSql: String =
    s"""SELECT event_type, count(*) AS n_events,
      |       ${graft.functions.Money.moneySumSql("value")} AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** STREAM-STREAM LEFT OUTER JOIN: the null-emitting side of the join
    * family — [[streamingJoin]]/[[streamingJoinLate]] are inner (emit on
    * match); a LEFT outer join must additionally emit every unmatched view
    * null-padded, and Structured Streaming only does that when the
    * EVICTION watermark passes the view's last possible match time
    * (view_ts + 1h) — an unmatched row is provably unmatched only once no
    * future purchase could still pair with it.
    *
    * Drive layout (mtime-ordered, maxFilesPerTrigger=1):
    *
    *   batch0 = ALL views + ALL purchases — matches emit inner-style;
    *            unmatched views sit in state (wm still 0, nothing flushes)
    *   batch1 = sentinel view at d0+10d (user −1, matches nothing) —
    *            processed under post-b0 wm (max−3d): only views older than
    *            max−3d−1h flush; the batch's real job is advancing wm to
    *            d0+10d−3d
    *   batch2 = sentinel view at d0+20d, batch3 = sentinel at d0+30d —
    *            state cleanup trails the wm by ONE MORE batch (the same
    *            SPARK-40925 lag the late filter has: batch2 still evicts
    *            with the post-b0 wm = max−3d, measured — the last 3 days'
    *            unmatched views survived it), so the d0+7d wm from batch1
    *            only drives eviction in batch3, which flushes ALL remaining
    *            unmatched views null-padded. The sentinels themselves never
    *            flush (wm never passes their own horizon) and are filtered
    *            from the rollup regardless.
    *
    * The trailing sentinel batches are the point: outer-join null emission
    * happens during a LATER batch's state cleanup, never at end-of-stream —
    * processAllAvailable() on a drained source runs no extra batch, so
    * without them the unmatched rows would simply never appear. The
    * oracle is the plain relational LEFT JOIN rollup: n_rows counts views
    * (+1 per extra match), n_matched counts non-null partners. */
  def streamingOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val d0Ns = (maxNs / dayNs) * dayNs

    val root = java.nio.file.Files.createTempDirectory("graft_stream_outer")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    // batch0 = the whole normalized events table in one staged file (the
    // type filter runs stream-side)
    // one view AND one purchase per sentinel batch: the global watermark is
    // the MIN over both sides' trackers, so advancing only the view side
    // would pin the join's eviction line at the purchases' batch0 max
    // (measured: the last 3 days' unmatched views never flushed). Distinct
    // negative users + 10-day spacing keep sentinels from matching anything.
    def sentinel(b: Int): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(
            9000000L + b, d0Ns + b.toLong * 10L * dayNs, -1L, "view", 0.0,
            null.asInstanceOf[String]),
          org.apache.spark.sql.Row(
            9100000L + b, d0Ns + b.toLong * 10L * dayNs, -2L, "purchase", 0.0,
            null.asInstanceOf[String])),
        rawSchema)
    // ONE sentinel suffices — see streamingFullOuterJoin's round-16 note
    // (watermark from batch1 applies at the next batch; the no-data
    // micro-batch flushes batch0's unmatched state). Both batches staged
    // in one pass (landBatches, round 21).
    landBatches(
      raw.withColumn("__batch", lit(0))
        .unionByName(sentinel(1).withColumn("__batch", lit(1))),
      root, inDir, Seq("batch0.parquet", "batch1.parquet"),
      Seq(now - 3 * 30000L, now - 2 * 30000L))

    def src() = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val views = src().where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "3 days")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "3 days")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") > col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr("interval 1 hour"),
      "left_outer")
    try runToMemory(joined, "graft_stream_outer", OutputMode.Append, NarrowParts)
    finally deleteRecursively(root)
    spark.table("graft_stream_outer")
      .where(col("v_user") >= 0)
      .groupBy(to_date(col("view_ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_user")).as("n_matched"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
      .orderBy("day")
  }

  val streamingOuterJoinSql: String =
    s"""SELECT CAST(v.ts AS DATE) AS day,
      |       count(*) AS n_rows,
      |       count(p.user_id) AS n_matched,
      |       ${graft.functions.Money.moneySumSql("p.value")} AS sum_value
      |FROM events v
      |LEFT JOIN events p
      |  ON p.event_type = 'purchase'
      | AND v.user_id = p.user_id
      | AND CAST(p.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
      |WHERE v.event_type = 'view'
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** STREAM-STREAM FULL OUTER JOIN: completes the streaming join family
    * (inner / left outer / full outer): BOTH sides' unmatched rows flush
    * null-padded when the watermark passes their state — unmatched views
    * AND unmatched purchases, where [[streamingOuterJoin]] only preserves
    * views. Same staged drive (batch0 = the whole table in one staged file, three
    * two-sided sentinel batches walking the watermark forward — the
    * global watermark is the MIN over both sides, so each sentinel batch
    * carries both event types); same time-bounded equi-join, so state
    * stays bounded. The rollup classifies each emitted row as matched /
    * view-only / purchase-only; the oracle is the relational FULL JOIN
    * under the identical time band. */
  def streamingFullOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val d0Ns = (maxNs / dayNs) * dayNs

    val root = java.nio.file.Files.createTempDirectory("graft_stream_fouter")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    def sentinel(b: Int): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(
            9000000L + b, d0Ns + b.toLong * 10L * dayNs, -1L, "view", 0.0,
            null.asInstanceOf[String]),
          org.apache.spark.sql.Row(
            9100000L + b, d0Ns + b.toLong * 10L * dayNs, -2L, "purchase", 0.0,
            null.asInstanceOf[String])),
        rawSchema)
    // ONE sentinel suffices (round-16 probe): the watermark computed from
    // batch1 (+10d − 3d delay = +7d > every data ts) applies at the NEXT
    // batch, and processAllAvailable runs a NO-DATA micro-batch whenever
    // the watermark advanced (spark.sql.streaming.noDataMicroBatches,
    // default on) — that final empty batch flushes batch0's unmatched
    // state on both sides. The previous three-sentinel walk re-ran the
    // stateful join choreography twice more for rows the rollup filters
    // out anyway (oracle hash-green at both verify scales). Both batches
    // staged in one pass (landBatches, round 21).
    landBatches(
      raw.withColumn("__batch", lit(0))
        .unionByName(sentinel(1).withColumn("__batch", lit(1))),
      root, inDir, Seq("batch0.parquet", "batch1.parquet"),
      Seq(now - 3 * 30000L, now - 2 * 30000L))

    def src() = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val views = src().where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "3 days")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "3 days")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") > col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr("interval 1 hour"),
      "full_outer")
    try runToMemory(joined, "graft_stream_fouter", OutputMode.Append, NarrowParts)
    finally deleteRecursively(root)
    spark.table("graft_stream_fouter")
      .where(coalesce(col("v_user"), lit(0L)) >= 0 &&
        coalesce(col("p_user"), lit(0L)) >= 0)
      .groupBy(to_date(coalesce(col("view_ts"), col("p_ts"))).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("view_ts").isNotNull && col("p_ts").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_view_only"),
        sum(when(col("view_ts").isNull, 1L).otherwise(0L)).as("n_purch_only"))
      .orderBy("day")
  }

  val streamingFullOuterJoinSql: String =
    """WITH v AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS vts
      |  FROM events WHERE event_type = 'view'
      |), p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT CAST(COALESCE(v.vts, p.pts) AS DATE) AS day,
      |       count(*) AS n_rows,
      |       CAST(sum(CASE WHEN v.vts IS NOT NULL AND p.pts IS NOT NULL
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |       CAST(sum(CASE WHEN p.pts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_view_only,
      |       CAST(sum(CASE WHEN v.vts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_purch_only
      |FROM v FULL JOIN p
      |  ON v.user_id = p.user_id
      | AND p.pts > v.vts
      | AND p.pts <= v.vts + INTERVAL 1 HOUR
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** STREAMING DEDUP WITHIN WATERMARK: `dropDuplicatesWithinWatermark` —
    * the TTL'd dedup (SPARK-42931): the business key (event_id) excludes
    * the event-time column, and state expires once the watermark passes
    * event_time + delay, so a re-arrival AFTER expiry re-emits (plain
    * `dropDuplicates` would suppress it forever and hold state forever).
    *
    * Layout (mtime-ordered, maxFilesPerTrigger=1, delay 3d):
    *
    *   batch0 = the full events table — all unique, all emit; post-b0
    *            wm = d0 − 3d
    *   batch1 = sentinel pair at d0+10d — jumps the wm to d0+7d
    *   batch2 = a SECOND COPY of the last-2-days slice (ts ≥ d0 − 2d).
    *            The late filter runs on the LAGGED wm (post-b0 = d0−3d,
    *            same SPARK-40925 rule as the joins) → nothing in the slice
    *            is late; and the state-EXPIRY comparison ALSO runs on the
    *            lagged wm (measured: the slice came back halved when the
    *            oracle assumed post-b1 expiry) → the batch0 entries are
    *            still live → the whole slice is SUPPRESSED as cross-batch
    *            duplicates.
    *
    * So the observable contract here is cross-batch suppression within the
    * watermark (q_stream_dedup's plain variant only ever dedups within one
    * arrival). True TTL re-emission is NOT deterministically reachable in
    * this harness: both the late line and the expiry line track the same
    * lagged wm, and ts ≥ wm (not late) contradicts ts < wm − delay
    * (expired) for any positive delay — a wedge would need the lines to
    * lag by DIFFERENT batch counts, which SPARK-40925 rules out. The
    * oracle is therefore the pure distinct: every event exactly once. */
  def streamingDedupWithinWm(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
    val maxNs = raw.agg(max(col("ts"))).head.getLong(0)
    val dayNs = 86400L * 1000000000L
    val d0Ns = (maxNs / dayNs) * dayNs
    val recentNs = d0Ns - 2L * dayNs

    val root = java.nio.file.Files.createTempDirectory("graft_stream_dedup_wm")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val now = System.currentTimeMillis()
    val sentinel = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        9000001L, d0Ns + 10L * dayNs, -1L, "view", 0.0,
        null.asInstanceOf[String])),
      rawSchema)
    // batch0 = the whole events table, batch1 = watermark sentinel,
    // batch2 = the recent slice RE-DELIVERED (overlaps batch0, so the
    // strata union with literal ids) — all staged in one pass
    // (landBatches, round 21)
    landBatches(
      raw.withColumn("__batch", lit(0))
        .unionByName(sentinel.withColumn("__batch", lit(1)))
        .unionByName(raw.where(col("ts") >= recentNs)
          .withColumn("__batch", lit(2))),
      root, inDir, (0 to 2).map(b => s"batch$b.parquet"),
      (0 to 2).map(b => now - (2 - b) * 30000L))

    val deduped = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ts", "3 days")
      .dropDuplicatesWithinWatermark("event_id")
    try runToMemory(deduped, "graft_stream_dedup_wm", OutputMode.Append)
    finally deleteRecursively(root)
    spark.table("graft_stream_dedup_wm")
      .where(col("user_id") >= 0)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("sum_value"))
      .orderBy("day")
  }

  val streamingDedupWithinWmSql: String =
    s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
      |       ${graft.functions.Money.moneySumSql("value")} AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_outer"    -> ((s, d) => streamingOuterJoin(s, d)),
    "q_stream_full_outer" -> ((s, d) => streamingFullOuterJoin(s, d)),
    "q_stream_asof"     -> ((s, d) => streamingAsOfEnrich(s, d)),
    "q_stream_dedup_wm" -> ((s, d) => streamingDedupWithinWm(s, d)),
    "q_stream_daily"    -> ((s, d) => streamingDailyAgg(s, d)),
    "q_stream_rewindow" -> ((s, d) => streamingRewindow(s, d)),
    "q_stream_update"   -> ((s, d) => streamingUpdateAgg(s, d)),
    "q_stream_session_window" -> ((s, d) => streamingSessionWindow(s, d)),
    "q_stream_sessions" -> ((s, d) => streamingSessions(s, d)),
    "q_stream_tws"      -> ((s, d) => streamingTws(s, d)),
    "q_stream_tws_timer" -> ((s, d) => streamingTwsTimer(s, d)),
    "q_stream_tws_init" -> ((s, d) => streamingTwsInit(s, d)),
    "q_stream_late"     -> ((s, d) => streamingLateData(s, d)),
    "q_stream_enrich"   -> ((s, d) => streamingEnrich(s, d)),
    "q_stream_join"     -> ((s, d) => streamingJoin(s, d)),
    "q_stream_semi"     -> ((s, d) => streamingSemiJoin(s, d)),
    "q_stream_join_agg" -> ((s, d) => streamingJoinAgg(s, d)),
    "q_stream_join_late" -> ((s, d) => streamingJoinLate(s, d)),
    "q_stream_dedup"    -> ((s, d) => streamingDedup(s, d)),
    "q_stream_restart"  -> ((s, d) => streamingRestart(s, d)),
    "q_stream_merge"    -> ((s, d) => streamingForeachMerge(s, d)),
    "q_stream_timeout"  -> ((s, d) => streamingTimeoutSessions(s, d)))

  def oracles: Map[String, String] = Map(
    "q_stream_asof"     -> graft.ops.AsOfJoin.eventToLastSignupSql,
    "q_stream_outer"    -> streamingOuterJoinSql,
    "q_stream_full_outer" -> streamingFullOuterJoinSql,
    "q_stream_dedup_wm" -> streamingDedupWithinWmSql,
    "q_stream_daily"    -> streamingDailyAggSql,
    "q_stream_rewindow" -> streamingRewindowSql,
    "q_stream_update"   -> streamingUpdateAggSql,
    "q_stream_session_window" -> streamingSessionWindowSql,
    "q_stream_sessions" -> streamingSessionsSql,
    "q_stream_tws"      -> streamingTwsSql,
    "q_stream_tws_timer" -> streamingTwsTimerSql,
    "q_stream_tws_init" -> streamingTwsInitSql,
    "q_stream_late"     -> streamingLateDataSql,
    "q_stream_enrich"   -> streamingEnrichSql,
    "q_stream_join"     -> streamingJoinSql,
    "q_stream_semi"     -> streamingSemiJoinSql,
    "q_stream_join_agg" -> streamingJoinAggSql,
    "q_stream_join_late" -> streamingJoinLateSql,
    "q_stream_dedup"    -> streamingDedupSql,
    "q_stream_restart"  -> streamingRestartSql,
    "q_stream_merge"    -> streamingForeachMergeSql,
    "q_stream_timeout"  -> streamingTimeoutSessionsSql)
}
