package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{aggregate, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 custom source: a paginated-API catalog modeled the
  * Spark-native way.
  *
  * The reference ingests its catalog by looping limit/offset pages on the
  * driver (single-threaded REST pagination; `ingest/Fixture` mirrors that
  * shape hermetically). This source instead maps EACH PAGE to one
  * [[InputPartition]], so a backfill of thousands of pages fans out across
  * the cluster like any other scan — plus the two pushdowns that make a
  * source a good citizen at 100 TB:
  *
  *   - `SupportsPushDownFilters`: id-range predicates prune whole PAGES at
  *     planning (the manifest-level skip; the filters are also left as
  *     residuals, so kept pages are still row-filtered — best-effort
  *     pruning can never change answers)
  *   - `SupportsPushDownRequiredColumns`: unprojected columns are never
  *     generated (ReadSchema narrows, like a parquet scan)
  *
  * Rows are a deterministic function of the global index through the
  * engine-standard md5 hash ([[graft.functions.Hashing.hexHashLocal]]), so
  * a DuckDB oracle can rebuild the identical "API response" from range(n) —
  * the custom source is oracle-checked end to end (q_source_v2), not just
  * spec-smoked. Zero egress: nothing is fetched; the page reader IS the
  * deterministic fixture.
  */
object PagedSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("track_id", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("title", StringType, nullable = false)))

  val TrackMod = 500L
  val DurBase = 30000L
  val DurSpan = 300000L

  /** Executor-side row formula — MUST stay byte-identical to
    * [[graft.functions.Hashing.hexHashLocal]] and the q_source_v2 oracle. */
  def trackId(idx: Long): Long =
    graft.functions.Hashing.hexHashLocal(s"pg:$idx") % TrackMod
  def durationMs(idx: Long): Long =
    DurBase + graft.functions.Hashing.hexHashLocal(s"dur:$idx") % DurSpan

  /** Streaming read of `pages` pages of `pageSize` rows, `perTrigger`
    * pages per micro-batch. */
  def stream(spark: org.apache.spark.sql.SparkSession, pages: Int,
      pageSize: Int, perTrigger: Int): org.apache.spark.sql.DataFrame =
    spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", pages.toString).option("pageSize", pageSize.toString)
      .option("pagesPerTrigger", perTrigger.toString).load()
}

class PagedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val pages = Option(properties.get("pages")).map(_.toInt).getOrElse(1)
    val pageSize = Option(properties.get("pagesize")).map(_.toInt)
      .orElse(Option(properties.get("pageSize")).map(_.toInt)).getOrElse(100)
    new PagedTable(pages, pageSize)
  }
}

final class PagedTable(pages: Int, pageSize: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_paged(pages=$pages, pageSize=$pageSize)"
  override def schema(): StructType = PagedSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(pages, pageSize,
      Option(options.get("pagesPerTrigger")).map(_.toInt).getOrElse(pages),
      Option(options.get("columnar")).exists(_.toBoolean))
}

/** One pushed aggregate: op ∈ count_star|count|sum|min|max over a long
  * column of the paged schema. */
final case class PagedAgg(op: String, column: String)

final class PagedScanBuilder(pages: Int, pageSize: Int,
    pagesPerTrigger: Int = Int.MaxValue, columnar: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = PagedSource.schema
  private var accepted: Array[Filter] = Array.empty
  private var lo: Long = 0L
  private var hi: Long = pages.toLong * pageSize // exclusive
  private var pushedAggs: Option[Seq[PagedAgg]] = None
  private var perPartitionCap: Long = Long.MaxValue

  /** LIMIT n: every partition can stop after n rows (Spark reapplies the
    * global limit above). At 100 TB this is the difference between paging
    * through the whole catalog and touching ceil(n/pageSize) rows/page. */
  override def pushLimit(limit: Int): Boolean = {
    perPartitionCap = limit.toLong
    false // partial: Spark keeps the global limit
  }

  /** ORDER BY id LIMIT n: ids ascend within and across pages, so each
    * page's FIRST n rows are its top-n — same cap as pushLimit, claimed
    * only for the id-ascending order. Partial: Spark's TakeOrdered merges. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val idAsc = orders.toSeq match {
      case Seq(o) => (o.expression match {
        case n: NamedReference => n.fieldNames.sameElements(Array("id"))
        case _ => false
      }) && o.direction == SortDirection.ASCENDING
      case _ => false
    }
    if (idAsc) perPartitionCap = limit.toLong
    idAsc // claimed (partially) only when the source order matches
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after aggregate pushdown the read schema is fixed by the aggregation
    if (pushedAggs.isEmpty) required = requiredSchema

  /** Consume id bounds EXACTLY (the page reader enforces [lo, hi) on the
    * global index, so these are full pushdowns — which is what licenses
    * aggregate pushdown on top: Spark only pushes an aggregation when no
    * residual filter remains). Anything else stays residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter {
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v); true
      case GreaterThan("id", v: Long)        => lo = math.max(lo, v + 1); true
      case LessThan("id", v: Long)           => hi = math.min(hi, v); true
      case LessThanOrEqual("id", v: Long)    => hi = math.min(hi, v + 1); true
      case _                                 => false
    }
    filters.filterNot(accepted.contains)
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** Per-page PARTIAL aggregation pushed into the source — the "server-side
    * rollup" a paginated catalog API would do: each page ships its
    * group/agg partials (≤ groups-per-page rows) instead of pageSize raw
    * rows, and Spark's final aggregation merges them. Deliberately NOT
    * complete pushdown ([[supportCompletePushDown]] stays false): the final
    * combine remains distributed, which is the scale-correct contract when
    * pages vastly outnumber groups. Accepted only for GROUP BY track_id
    * with count/sum/min/max over long columns — grouped partials keep
    * empty-input semantics exact (an empty grouped aggregate is an empty
    * result on both paths; the ungrouped empty case would need a
    * synthesized identity row, so it is not claimed). */
  override def pushAggregation(aggregation: aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    def ref(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case n: NamedReference if n.fieldNames.length == 1 =>
          Some(n.fieldNames.head)
        case _ => None
      }
    val longCols = Set("id", "track_id", "duration_ms")
    val groupOk = aggregation.groupByExpressions.toSeq match {
      case Seq(g) => ref(g).contains("track_id")
      case _      => false
    }
    val aggs = aggregation.aggregateExpressions.toSeq.map {
      case _: aggregate.CountStar => Some(PagedAgg("count_star", ""))
      case c: aggregate.Count if !c.isDistinct =>
        ref(c.column).filter(longCols).map(PagedAgg("count", _))
      case s: aggregate.Sum if !s.isDistinct =>
        ref(s.column).filter(longCols).map(PagedAgg("sum", _))
      case m: aggregate.Min => ref(m.column).filter(longCols).map(PagedAgg("min", _))
      case m: aggregate.Max => ref(m.column).filter(longCols).map(PagedAgg("max", _))
      case _ => None
    }
    if (groupOk && aggs.nonEmpty && aggs.forall(_.isDefined)) {
      pushedAggs = Some(aggs.flatten)
      true
    } else false
  }

  override def build(): Scan = pushedAggs match {
    case Some(aggs) => new PagedAggScan(pages, pageSize, aggs, lo, hi)
    case None => new PagedScan(pages, pageSize, required, lo, hi, pagesPerTrigger,
      perPartitionCap, columnar)
  }
}

/** The aggregated scan: one partial-rollup row per (page, track_id). Read
  * schema is the V2 pushdown contract — group columns first, then one
  * column per aggregate (count/sum → long partials, min/max → the column
  * type; everything here is long). */
final class PagedAggScan(pages: Int, pageSize: Int, aggs: Seq[PagedAgg],
    lo: Long, hi: Long) extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    StructField("track_id", LongType, nullable = false) +:
      aggs.zipWithIndex.map { case (a, i) =>
        StructField(s"agg_${i}_${a.op}", LongType, nullable = false)
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"PagedAggScan pages=$pages pageSize=$pageSize idRange=[$lo,$hi) " +
      s"groupBy=track_id aggs=${aggs.map(a => s"${a.op}(${a.column})").mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    (0 until pages).filter { p =>
      val first = p.toLong * pageSize
      first < hi && (first + pageSize) > lo
    }.map(p => PagePartition(p, pageSize): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedAggReaderFactory(aggs, lo, hi)
}

final class PagedAggReaderFactory(aggs: Seq[PagedAgg], lo: Long, hi: Long)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagePartition]
    new PartitionReader[InternalRow] {
      private def colVal(idx: Long, c: String): Long = c match {
        case "id"          => idx
        case "track_id"    => PagedSource.trackId(idx)
        case "duration_ms" => PagedSource.durationMs(idx)
      }
      // page-local partial rollup, grouped by track_id (insertion-ordered
      // for deterministic row order; the values are order-free)
      private val groups = {
        val m = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Long]]
        val first = math.max(p.page.toLong * p.pageSize, lo)
        val last = math.min((p.page.toLong + 1L) * p.pageSize, hi)
        var idx = first
        while (idx < last) {
          val acc = m.getOrElseUpdate(PagedSource.trackId(idx),
            aggs.map {
              case PagedAgg("min", _) => Long.MaxValue
              case PagedAgg("max", _) => Long.MinValue
              case _                  => 0L
            }.toArray)
          var i = 0
          while (i < aggs.length) {
            aggs(i) match {
              case PagedAgg("count_star", _) => acc(i) += 1L
              case PagedAgg("count", _)      => acc(i) += 1L // cols are non-null
              case PagedAgg("sum", c)        => acc(i) += colVal(idx, c)
              case PagedAgg("min", c)        => acc(i) = math.min(acc(i), colVal(idx, c))
              case PagedAgg("max", c)        => acc(i) = math.max(acc(i), colVal(idx, c))
              case _                         => ()
            }
            i += 1
          }
          idx += 1
        }
        m.iterator.toArray
      }
      private var i = -1
      override def next(): Boolean = { i += 1; i < groups.length }
      override def get(): InternalRow = {
        val (track, acc) = groups(i)
        new GenericInternalRow((track +: acc.toSeq).toArray[Any])
      }
      override def close(): Unit = ()
    }
  }
}

final class PagedScan(pages: Int, pageSize: Int, required: StructType,
    lo: Long, hi: Long, pagesPerTrigger: Int = Int.MaxValue,
    perPartitionCap: Long = Long.MaxValue, columnar: Boolean = false)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  /** Pages admitted by a runtime (DPP) id filter; None = no runtime filter
    * arrived. Page-level pruning is best-effort — kept pages still emit
    * every row in [lo, hi) and the join above re-evaluates the condition,
    * so a coarse prune can never change answers. */
  private var runtimePages: Option[Set[Int]] = None

  /** Which runtime-filter API last pruned: "v2-native" for the Predicate
    * overload, "v1" for the converted Filter path (spec-visible). */
  private[sources] var runtimeFilterApi: Option[String] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PagedScan pages=$pages pageSize=$pageSize idRange=[$lo,$hi) " +
      s"cap=$perPartitionCap cols=${required.fieldNames.mkString(",")}" +
      runtimePages.map(s => s" runtimePages=${s.size}").getOrElse("")

  private def survivingPages: Seq[Int] =
    (0 until pages).filter { p =>
      val first = p.toLong * pageSize
      first < hi && (first + pageSize) > lo && // page overlaps [lo, hi)
        runtimePages.forall(_.contains(p))
    }

  override def planInputPartitions(): Array[InputPartition] =
    survivingPages.map(p => PagePartition(p, pageSize): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    if (columnar)
      new PagedColumnarReaderFactory(required, lo, hi, perPartitionCap)
    else new PagedReaderFactory(required.fieldNames, lo, hi, perPartitionCap)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PagedMicroBatchStream(pages, pageSize, pagesPerTrigger,
      required.fieldNames)

  /** POST-pushdown statistics: row count over the pruned id range (capped
    * by a pushed limit), byte size from the pruned column widths. This is
    * what makes join strategy follow reality — a narrow pushed slice of
    * the catalog reports a few KB and gets BROADCAST; an unfiltered scan
    * reports its true size and shuffles. Without it, DSv2 relations fall
    * back to defaultSizeInBytes (= "huge"), and every join against the
    * source becomes a sort-merge at 100 TB whether it needs to or not. */
  override def estimateStatistics(): Statistics = {
    val rangeRows = survivingPages.map { p =>
      val first = math.max(p.toLong * pageSize, lo)
      val last = math.min((p.toLong + 1L) * pageSize, hi)
      math.min(math.max(0L, last - first), perPartitionCap)
    }.sum
    val rowWidth = required.fields.map(_.dataType.defaultSize).sum.max(8)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(rangeRows * rowWidth)
      override def numRows: java.util.OptionalLong =
        java.util.OptionalLong.of(rangeRows)
    }
  }

  /** Runtime filtering (dynamic "partition" pruning for the paged layout):
    * ids are contiguous per page, so a runtime IN/EQ set from a selective
    * broadcast join maps each value to page(value / pageSize) and the scan
    * drops every page outside that set AT EXECUTION TIME — the DSv2 lever
    * that matters most at 100 TB, where the selective dim arrives only
    * after the build side runs. Non-id predicates are ignored (best-effort
    * contract). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[Filter]): Unit = {
    def toPage(v: Any): Option[Int] = v match {
      case l: Long              => Some((l / pageSize).toInt)
      case l: java.lang.Long    => Some((l.longValue / pageSize).toInt)
      case i: java.lang.Integer => Some((i.longValue / pageSize).toInt)
      case _                    => None
    }
    filters.foreach {
      case org.apache.spark.sql.sources.In("id", vs) =>
        val pagesHit = vs.toSeq.flatMap(toPage)
        if (pagesHit.length == vs.length) { // only prune on a fully-understood set
          runtimePages = Some(pagesHit.toSet)
          runtimeFilterApi = Some(runtimeFilterApi.getOrElse("v1"))
        }
      case org.apache.spark.sql.sources.EqualTo("id", v) =>
        toPage(v).foreach { p =>
          runtimePages = Some(Set(p))
          runtimeFilterApi = Some(runtimeFilterApi.getOrElse("v1"))
        }
      case _ => () // best-effort: unknown runtime predicates prune nothing
    }
  }

  /** NATIVE V2 predicate path ([[SupportsRuntimeV2Filtering]] — the API
    * the DSv2 ecosystem is converging on; v1 `Filter` above stays as the
    * compatibility fallback). Spark's DPP calls THIS overload: `IN` / `=`
    * predicates over the id column are parsed straight from the connector
    * expression tree (FieldReference + LiteralValue — no v1 conversion in
    * the hot path); any shape the native parser does not understand
    * delegates to the default v1-converting implementation so the two
    * paths can never disagree on what prunes. */
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
    def isIdRef(e: Expression): Boolean = e match {
      case r: NamedReference => r.fieldNames.toSeq == Seq("id")
      case _                 => false
    }
    def litPage(e: Expression): Option[Int] = e match {
      case l: Literal[_] => l.value match {
        case v: java.lang.Long    => Some((v.longValue / pageSize).toInt)
        case v: java.lang.Integer => Some((v.longValue / pageSize).toInt)
        case _                    => None
      }
      case _ => None
    }
    val unhandled = predicates.filterNot { p =>
      (p.name, p.children().toSeq) match {
        case ("IN", ref +: vals) if isIdRef(ref) && vals.nonEmpty =>
          val pagesHit = vals.flatMap(litPage)
          pagesHit.length == vals.length && {
            runtimePages = Some(pagesHit.toSet)
            runtimeFilterApi = Some("v2-native")
            true
          }
        case ("=", Seq(a, b)) if isIdRef(a) || isIdRef(b) =>
          val lit = if (isIdRef(a)) litPage(b) else litPage(a)
          lit.exists { pg =>
            runtimePages = Some(Set(pg))
            runtimeFilterApi = Some("v2-native")
            true
          }
        case _ => false
      }
    }
    if (unhandled.nonEmpty)
      super.filter(unhandled) // default SupportsRuntimeFiltering v1 bridge
  }
}

/** Offset = number of pages fully consumed (exclusive upper page). */
final case class PagedOffset(page: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = page.toString
}

/** The streaming half of the connector: the page counter IS the offset
  * log. Each trigger admits up to `pagesPerTrigger` more pages —
  * `latestOffset` advances incrementally, so one run yields
  * ceil(pages/step) REAL micro-batches; `planInputPartitions(start, end)`
  * maps the offset range back to page partitions (identical readers to the
  * batch path — one row formula, two arrival modes). Offsets are
  * checkpointable ints: restart-safe exactly-once in the standard
  * offset-log contract (commit() has nothing to clean: pages are
  * idempotently re-generable, the replayable-source property).
  *
  * Restart safety: the stream is STATELESS — it implements
  * [[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]],
  * so each trigger's target is computed as `min(pages, start + step)` from
  * the engine-supplied START offset (the restored committed offset after a
  * checkpoint restart). A mutable "pages advanced so far" counter would
  * reset to zero on restart and report a latest offset BELOW the committed
  * one, replaying already-committed pages; deriving the end from the start
  * makes the offset sequence monotone by construction. */
final class PagedMicroBatchStream(pages: Int, pageSize: Int, step: Int,
    cols: Array[String])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  override def initialOffset(): Offset = PagedOffset(0)

  /** Not called once SupportsAdmissionControl is implemented; keep the
    * contract explicit rather than silently wrong. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "paged source is admission-controlled: latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admit up to `step` more pages past the (possibly restored) start. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[PagedOffset].page
    PagedOffset(math.min(pages, from + math.max(1, step)))
  }

  /** True end of the source — lets progress reporting show real backlog. */
  override def reportLatestOffset(): Offset = PagedOffset(pages)

  override def deserializeOffset(json: String): Offset =
    PagedOffset(json.trim.toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    (start.asInstanceOf[PagedOffset].page until end.asInstanceOf[PagedOffset].page)
      .map(p => PagePartition(p, pageSize): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(cols)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class PagePartition(page: Int, pageSize: Int) extends InputPartition

/** Row reader; [lo, hi) bounds are enforced HERE because the id filters are
  * fully pushed (no residual re-evaluation above the scan). The streaming
  * path passes the unbounded defaults. */
final class PagedReaderFactory(cols: Array[String],
    lo: Long = 0L, hi: Long = Long.MaxValue, cap: Long = Long.MaxValue)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagePartition]
    new PartitionReader[InternalRow] {
      private val first = math.max(p.page.toLong * p.pageSize, lo)
      private val last = math.min(math.min((p.page.toLong + 1L) * p.pageSize, hi),
        if (cap == Long.MaxValue || first > Long.MaxValue - cap) Long.MaxValue
        else first + cap)
      private var idx = first - 1
      override def next(): Boolean = { idx += 1; idx < last }
      override def get(): InternalRow = {
        val vals: Array[Any] = cols.map {
          case "id"          => idx
          case "track_id"    => PagedSource.trackId(idx)
          case "duration_ms" => PagedSource.durationMs(idx)
          case "title"       => UTF8String.fromString(s"trk_${PagedSource.trackId(idx)}")
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = ()
    }
  }
}

/** The VECTORIZED read path: `option("columnar", "true")` swaps the
  * row-at-a-time reader for one that fills [[org.apache.spark.sql.vectorized
  * .ColumnarBatch]]es of [[org.apache.spark.sql.execution.vectorized
  * .OnHeapColumnVector]]s (4096 rows per batch, the parquet reader's
  * batch size). `BatchScanExec` sees `supportColumnarReads` and plans the
  * scan columnar with a `ColumnarToRow` boundary — the same shape Spark's
  * own vectorized parquet path uses, so downstream whole-stage codegen
  * consumes batches, not rows. Both paths share the row formula and the
  * [lo, hi)/cap enforcement; a spec pins them row-identical, and the
  * q_source_v2 oracle stays green under either (SCALING.md records the
  * local A/B). */
final class PagedColumnarReaderFactory(required: StructType,
    lo: Long, hi: Long, cap: Long) extends PartitionReaderFactory {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  /** Row fallback (the API requires it even when columnar is supported). */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PagedReaderFactory(required.fieldNames, lo, hi, cap).createReader(partition)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[PagePartition]
    new PartitionReader[ColumnarBatch] {
      private val first = math.max(p.page.toLong * p.pageSize, lo)
      private val last = math.min(math.min((p.page.toLong + 1L) * p.pageSize, hi),
        if (cap == Long.MaxValue || first > Long.MaxValue - cap) Long.MaxValue
        else first + cap)
      private val batchSize = 4096
      private var idx = first
      private var batch: ColumnarBatch = _

      override def next(): Boolean = {
        if (batch != null) { batch.close(); batch = null }
        if (idx >= last) false
        else {
          val n = math.min(batchSize.toLong, last - idx).toInt
          val vectors = org.apache.spark.sql.execution.vectorized
            .OnHeapColumnVector.allocateColumns(n, required)
          var c = 0
          while (c < required.length) {
            val v = vectors(c)
            required(c).name match {
              case "id" =>
                var i = 0; while (i < n) { v.putLong(i, idx + i); i += 1 }
              case "track_id" =>
                var i = 0
                while (i < n) { v.putLong(i, PagedSource.trackId(idx + i)); i += 1 }
              case "duration_ms" =>
                var i = 0
                while (i < n) { v.putLong(i, PagedSource.durationMs(idx + i)); i += 1 }
              case "title" =>
                var i = 0
                while (i < n) {
                  val b = s"trk_${PagedSource.trackId(idx + i)}"
                    .getBytes(java.nio.charset.StandardCharsets.UTF_8)
                  v.putByteArray(i, b, 0, b.length)
                  i += 1
                }
            }
            c += 1
          }
          idx += n
          batch = new ColumnarBatch(
            vectors.map(_.asInstanceOf[org.apache.spark.sql.vectorized.ColumnVector]),
            n)
          true
        }
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = if (batch != null) { batch.close(); batch = null }
    }
  }
}

/** The oracle-checked query over the custom source (sfDir is ignored — the
  * source is its own deterministic fixture, same n at every scale). */
object PagedApi {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  val Pages = 40
  val PageSize = 1500

  /** Per-track listening rollup over a pushed id slice: the id predicates
    * prune pages at planning (38 of 40 partitions survive) AND re-filter
    * rows; title is never generated (column pruning). */
  def sourceV2(spark: SparkSession, d: String): DataFrame =
    spark.read.format(classOf[PagedSource].getName)
      .option("pages", Pages.toString).option("pageSize", PageSize.toString)
      .load()
      .where(col("id") >= 3000L && col("id") < 57000L)
      .groupBy(col("track_id"))
      .agg(count(lit(1)).as("n_plays"), sum(col("duration_ms")).as("total_ms"))
      .orderBy("track_id")

  val sourceV2Sql: String = {
    val track = graft.functions.Hashing.hexHashSql("'pg:' || CAST(t.r AS VARCHAR)")
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         $track % ${PagedSource.TrackMod} AS track_id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT track_id, count(*) AS n_plays,
      |       CAST(sum(duration_ms) AS BIGINT) AS total_ms
      |FROM src
      |WHERE id >= 3000 AND id < 57000
      |GROUP BY track_id
      |ORDER BY track_id""".stripMargin
  }

  /** The STREAMING read of the same connector: 6 real micro-batches
    * (pagesPerTrigger=7 over 40 pages) drive the per-track rollup in
    * Complete mode; the final state must equal the batch rollup over the
    * whole range — the replayable-offset-source contract checked against
    * the same DuckDB rebuild (no id slice here: offsets, not filters,
    * bound each batch's pages). */
  def sourceV2Stream(spark: SparkSession, d: String): DataFrame = {
    val stream = PagedSource.stream(spark, Pages, PageSize, 7)
      .groupBy(col("track_id"))
      .agg(count(lit(1)).as("n_plays"), sum(col("duration_ms")).as("total_ms"))
    graft.streaming.EventStream.runToMemory(stream, "graft_source_v2_stream",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    spark.table("graft_source_v2_stream").orderBy("track_id")
  }

  val sourceV2StreamSql: String = {
    val track = graft.functions.Hashing.hexHashSql("'pg:' || CAST(t.r AS VARCHAR)")
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT $track % ${PagedSource.TrackMod} AS track_id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT track_id, count(*) AS n_plays,
      |       CAST(sum(duration_ms) AS BIGINT) AS total_ms
      |FROM src
      |GROUP BY track_id
      |ORDER BY track_id""".stripMargin
  }

  /** The aggregate-pushdown read: per-track rollup with count/sum/min/max
    * over an id slice — the source ships ONE partial row per (page, track)
    * and Spark's final aggregation merges. Same deterministic fixture, so
    * the pushed path is hash-checked against the row-level rebuild in
    * DuckDB — if a page's partial rollup dropped or double-counted a row,
    * the oracle catches it. */
  def sourceV2Agg(spark: SparkSession, d: String): DataFrame =
    spark.read.format(classOf[PagedSource].getName)
      .option("pages", Pages.toString).option("pageSize", PageSize.toString)
      .load()
      .where(col("id") >= 1200L && col("id") < 48600L)
      .groupBy(col("track_id"))
      .agg(count(lit(1)).as("n_plays"),
        sum(col("duration_ms")).as("total_ms"),
        min(col("duration_ms")).as("min_ms"),
        max(col("duration_ms")).as("max_ms"))
      .orderBy("track_id")

  val sourceV2AggSql: String = {
    val track = graft.functions.Hashing.hexHashSql("'pg:' || CAST(t.r AS VARCHAR)")
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         $track % ${PagedSource.TrackMod} AS track_id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT track_id, count(*) AS n_plays,
      |       CAST(sum(duration_ms) AS BIGINT) AS total_ms,
      |       min(duration_ms) AS min_ms, max(duration_ms) AS max_ms
      |FROM src
      |WHERE id >= 1200 AND id < 48600
      |GROUP BY track_id
      |ORDER BY track_id""".stripMargin
  }

  /** Top-N pushdown read: ORDER BY id LIMIT k over an id slice — each page
    * partition stops after k rows (ids ascend in-page, so its first k ARE
    * its top-k) and Spark's TakeOrdered merges. Deterministic output (id is
    * unique), so the pushed path hash-checks against the row-level rebuild. */
  def sourceV2TopN(spark: SparkSession, d: String): DataFrame =
    spark.read.format(classOf[PagedSource].getName)
      .option("pages", Pages.toString).option("pageSize", PageSize.toString)
      .load()
      .where(col("id") >= 3000L && col("id") < 57000L)
      .orderBy(col("id")).limit(700)
      .select(col("id"), col("track_id"), col("duration_ms"))

  val sourceV2TopNSql: String = {
    val track = graft.functions.Hashing.hexHashSql("'pg:' || CAST(t.r AS VARCHAR)")
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         $track % ${PagedSource.TrackMod} AS track_id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT id, track_id, duration_ms
      |FROM src
      |WHERE id >= 3000 AND id < 57000
      |ORDER BY id LIMIT 700""".stripMargin
  }

  /** Selective-dim join against the source — the runtime-filtering (DPP)
    * path: the 12-id dim broadcasts, and [[PagedScan.filter]] maps the ids
    * to pages so only those pages are generated at execution (spec-audited;
    * the join re-evaluates the condition, so pruning is answer-invariant —
    * which is exactly what this oracle hash-checks). */
  def sourceV2Dpp(spark: SparkSession, d: String): DataFrame = {
    val fact = spark.read.format(classOf[PagedSource].getName)
      .option("pages", Pages.toString).option("pageSize", PageSize.toString)
      .load()
    val dim = spark.range(0, 12).toDF("k")
      .select((col("k") * 4801L + 997L).as("id"))
      .where(col("id") >= 0L)
    fact.join(broadcast(dim), Seq("id"))
      .select(col("id"), col("track_id"), col("duration_ms"))
      .orderBy(col("id"))
  }

  val sourceV2DppSql: String = {
    val track = graft.functions.Hashing.hexHashSql("'pg:' || CAST(t.r AS VARCHAR)")
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         $track % ${PagedSource.TrackMod} AS track_id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |),
      |dim AS (SELECT CAST(t.r AS BIGINT) * 4801 + 997 AS id FROM range(12) t(r))
      |SELECT s.id, s.track_id, s.duration_ms
      |FROM src s JOIN dim d ON s.id = d.id
      |ORDER BY s.id""".stripMargin
  }

  /** TIME TRAVEL over the audit sink's epoch manifests, end to end: the
    * paged source streams 7 pages per trigger into [[JsonAuditSink]] (six
    * two-phase-committed epochs), then `versionAsOf = 2` reconstructs the
    * table as of the THIRD epoch — exactly pages [0, 21), ids < 31500 —
    * and rolls it up. Deterministic because offsets (not wall clock) bound
    * each epoch, so the oracle rebuilds the same prefix from range().
    * Covers source offsets → sink epochs → versioned read in ONE query. */
  def sourceV2TimeTravel(spark: SparkSession, d: String): DataFrame = {
    withScratch("graft_audit_travel") { root =>
      val out = root.resolve("tbl").toString
      val ckpt = root.resolve("ckpt").toString
      val q = PagedSource.stream(spark, Pages, PageSize, 7)
        .select(col("id"), col("track_id"), col("duration_ms"))
        .writeStream.format(classOf[JsonAuditSink].getName)
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("track_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("duration_ms",
          org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", out).option("versionAsOf", "2").load()
        .groupBy(col("track_id"))
        .agg(count(lit(1)).as("n_plays"), sum(col("duration_ms")).as("total_ms"))
        .orderBy(col("track_id"))
        .localCheckpoint() // pin: withScratch deletes the table dir
    }
  }

  val sourceV2TimeTravelSql: String = {
    val track = graft.functions.Hashing.hexHashSql("'pg:' || CAST(t.r AS VARCHAR)")
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         $track % ${PagedSource.TrackMod} AS track_id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT track_id, count(*) AS n_plays,
      |       CAST(sum(duration_ms) AS BIGINT) AS total_ms
      |FROM src
      |WHERE id < ${3 * 7 * PageSize}
      |GROUP BY track_id
      |ORDER BY track_id""".stripMargin
  }

  /** `_epoch` METADATA COLUMN, oracle-checked: the same 6-epoch staged
    * table as [[sourceV2TimeTravel]], read back WITH the metadata column
    * and rolled up per commit epoch. Offsets make epoch membership a pure
    * function of id (epoch = id div pagesPerTrigger·pageSize), so the
    * oracle recomputes the per-epoch row counts, duration sums, and id
    * ranges from range() — proving both the commit structure and the
    * metadata-column plumbing value-exact. */
  def epochRollup(spark: SparkSession, d: String): DataFrame = {
    withScratch("graft_epoch_rollup") { root =>
      val out = root.resolve("tbl").toString
      val ckpt = root.resolve("ckpt").toString
      val q = PagedSource.stream(spark, Pages, PageSize, 7)
        .select(col("id"), col("duration_ms"))
        .writeStream.format(classOf[JsonAuditSink].getName)
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("duration_ms",
          org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", out).load()
        .select(col("_epoch"), col("id"), col("duration_ms"))
        .groupBy(col("_epoch"))
        .agg(count(lit(1)).as("n_rows"), sum(col("duration_ms")).as("total_ms"),
          min(col("id")).as("lo_id"), max(col("id")).as("hi_id"))
        .orderBy(col("_epoch"))
        .localCheckpoint() // pin: withScratch deletes the table dir
    }
  }

  val epochRollupSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    val perEpoch = 7 * PageSize
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT id // $perEpoch AS _epoch, count(*) AS n_rows,
      |       CAST(sum(duration_ms) AS BIGINT) AS total_ms,
      |       min(id) AS lo_id, max(id) AS hi_id
      |FROM src
      |GROUP BY 1
      |ORDER BY _epoch""".stripMargin
  }

  /** ZONE-MAP file skipping, oracle-checked: the paged rows land in the
    * audit table as 8 range-partitioned files (repartitionByRange → each
    * task's file covers a disjoint id range, and the writer records
    * min/max per integral column in `_STATS` as the rows stream through).
    * The sliced read-back then plans ONLY the overlapping files — the
    * spec asserts ~2 of 8 partitions survive — while the predicate stays
    * residual, so this oracle hash-checks that skipping is answer-exact.
    * This is the manifest-level data skipping every table format keeps
    * (parquet zone maps lifted to table metadata), and at 100 TB it is
    * the difference between a metadata lookup and a full-table read for
    * every range-predicated query. */
  def auditSkip(spark: SparkSession, d: String): DataFrame = {
    withScratch("graft_audit_skip") { root =>
      val out = root.resolve("tbl").toString
      spark.read.format(classOf[PagedSource].getName)
        .option("pages", Pages.toString).option("pageSize", PageSize.toString)
        .load()
        .select(col("id"), col("track_id"), col("duration_ms"))
        .repartitionByRange(8, col("id"))
        .write.format(classOf[JsonAuditSink].getName)
        .option("path", out).mode("append").save()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("track_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("duration_ms",
          org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", out).load()
        .where(col("id") >= 9000L && col("id") < 19500L)
        .groupBy(pmod(col("id"), lit(7L)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("duration_ms")).as("total_ms"),
          min(col("track_id")).as("lo_track"))
        .orderBy(col("bucket"))
        .localCheckpoint() // pin: withScratch deletes the table dir
    }
  }

  val auditSkipSql: String = {
    val track = graft.functions.Hashing.hexHashSql("'pg:' || CAST(t.r AS VARCHAR)")
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         $track % ${PagedSource.TrackMod} AS track_id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT id % 7 AS bucket, count(*) AS n_rows,
      |       CAST(sum(duration_ms) AS BIGINT) AS total_ms,
      |       min(track_id) AS lo_track
      |FROM src
      |WHERE id >= 9000 AND id < 19500
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin
  }

  /** STRING zone-map skipping, oracle-checked: files range-partitioned on
    * a string key record truncated min/max bounds in `_STATS`; an
    * equality + prefix predicate read-back then plans only the
    * overlapping files (the spec asserts the pruning and the UTF8-binary
    * comparison semantics; this hash gate proves skipping is
    * answer-exact). The high-cardinality composed key also exercises the
    * 16-code-point truncation path on every bound. */
  def auditSkipStr(spark: SparkSession, d: String): DataFrame = {
    withScratch("graft_audit_skipstr") { root =>
      val out = root.resolve("tbl").toString
      graft.Tables.lineitem(spark, d)
        .select(
          concat(col("l_returnflag"), lit("-"), col("l_linestatus"), lit("-key-"),
            lpad(col("l_orderkey").cast("string"), 10, "0")).as("k"),
          col("l_orderkey").as("okey"),
          col("l_quantity").cast("long").as("qty"))
        .repartitionByRange(8, col("k"))
        .write.format(classOf[JsonAuditSink].getName)
        .option("path", out).mode("append").save()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("okey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", out).load()
        .where(col("k").startsWith("R-F") || col("k") >= "N-O-key-0000005000")
        .groupBy(substring(col("k"), 1, 3).as("grp"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
          min(col("okey")).as("lo_okey"), max(col("k")).as("hi_k"))
        .orderBy(col("grp"))
        .localCheckpoint() // pin: withScratch deletes the table dir
    }
  }

  val auditSkipStrSql: String =
    """WITH src AS (
      |  SELECT l_returnflag || '-' || l_linestatus || '-key-' ||
      |         lpad(CAST(l_orderkey AS VARCHAR), 10, '0') AS k,
      |         l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem
      |)
      |SELECT substring(k, 1, 3) AS grp, count(*) AS n_rows,
      |       CAST(sum(qty) AS BIGINT) AS sum_qty,
      |       min(okey) AS lo_okey, max(k) AS hi_k
      |FROM src
      |WHERE k LIKE 'R-F%' OR k >= 'N-O-key-0000005000'
      |GROUP BY 1
      |ORDER BY grp""".stripMargin

  /** BLOOM-FILTER skipping, oracle-checked: a hash-scattered layout makes
    * every file's min/max envelope overlap every probe, so only the
    * opt-in per-column blooms (`bloomcols` write option) can prune
    * point lookups — the spec asserts the pruning; this hash gate proves
    * the probe answers are exact under it. At 100 TB this is the
    * metadata-only point-lookup path for tables not clustered on the
    * probed column. */
  def auditBloom(spark: SparkSession, d: String): DataFrame = {
    withScratch("graft_audit_bloom") { root =>
      val out = root.resolve("tbl").toString
      graft.Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("okey"),
          col("l_partkey").as("pkey"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(8, col("l_linenumber")) // scatter: no okey clustering
        .write.format(classOf[JsonAuditSink].getName)
        .option("path", out)
        .option("bloomcols", "okey")
        .mode("append").save()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("okey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", out).load()
        .where(col("okey").isin(1L, 7L, 32L, 35876L, 999999999L))
        .groupBy(col("okey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
          min(col("pkey")).as("lo_pkey"))
        .orderBy(col("okey"))
        .localCheckpoint() // pin: withScratch deletes the table dir
    }
  }

  val auditBloomSql: String =
    """SELECT l_orderkey AS okey, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       min(l_partkey) AS lo_pkey
      |FROM lineitem
      |WHERE l_orderkey IN (1, 7, 32, 35876, 999999999)
      |GROUP BY 1
      |ORDER BY okey""".stripMargin

  /** Metadata MIN/MAX, oracle-checked: count(*)+min/max over two integral
    * columns answer from `_MANIFEST` + the `_STATS` zone maps without
    * opening a data file (the spec asserts the AuditCountScan plan and
    * the exactness gates: outstanding delete vectors or an un-statable
    * column refuse the pushdown). The hash gate proves the
    * metadata-answered extremes equal the row-level recomputation. */
  def auditMinMax(spark: SparkSession, d: String): DataFrame = {
    withScratch("graft_audit_minmax") { root =>
      val out = root.resolve("tbl").toString
      spark.read.format(classOf[PagedSource].getName)
        .option("pages", Pages.toString).option("pageSize", PageSize.toString)
        .load()
        .where(col("id") >= 1200L && col("id") < 48600L)
        .select(col("id"), col("track_id"), col("duration_ms"))
        .repartition(4)
        .write.format(classOf[JsonAuditSink].getName)
        .option("path", out).mode("append").save()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("track_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("duration_ms",
          org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", out).load()
        .agg(count(lit(1)).as("n_rows"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          min(col("duration_ms")).as("min_dur"),
          max(col("duration_ms")).as("max_dur"))
        .localCheckpoint() // pin: withScratch deletes the table dir
    }
  }

  val auditMinMaxSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS duration_ms
      |  FROM range(${Pages * PageSize}) t(r)
      |)
      |SELECT count(*) AS n_rows, min(id) AS min_id, max(id) AS max_id,
      |       CAST(min(duration_ms) AS BIGINT) AS min_dur,
      |       CAST(max(duration_ms) AS BIGINT) AS max_dur
      |FROM src
      |WHERE id >= 1200 AND id < 48600""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_v2" -> (sourceV2 _),
    "q_audit_skip" -> (auditSkip _),
    "q_audit_skip_str" -> (auditSkipStr _),
    "q_audit_bloom" -> (auditBloom _),
    "q_audit_minmax" -> (auditMinMax _),
    "q_source_v2_agg" -> (sourceV2Agg _),
    "q_source_v2_topn" -> (sourceV2TopN _),
    "q_source_v2_dpp" -> (sourceV2Dpp _),
    "q_audit_travel" -> (sourceV2TimeTravel _),
    "q_epoch_rollup" -> (epochRollup _),
    "q_source_v2_stream" -> (sourceV2Stream _))
  val oracles: Map[String, String] = Map(
    "q_source_v2" -> sourceV2Sql,
    "q_audit_skip" -> auditSkipSql,
    "q_audit_skip_str" -> auditSkipStrSql,
    "q_audit_bloom" -> auditBloomSql,
    "q_audit_minmax" -> auditMinMaxSql,
    "q_source_v2_agg" -> sourceV2AggSql,
    "q_source_v2_topn" -> sourceV2TopNSql,
    "q_source_v2_dpp" -> sourceV2DppSql,
    "q_audit_travel" -> sourceV2TimeTravelSql,
    "q_epoch_rollup" -> epochRollupSql,
    "q_source_v2_stream" -> sourceV2StreamSql)
}
