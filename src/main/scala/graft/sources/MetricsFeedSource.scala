package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, GeneralScalarExpression, NamedReference, SortDirection, Transform, Expression => V2Expression, Literal => V2Lit, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 TableProvider — the one Spark SOURCE extension
  * surface the repo had not yet exercised (TopNPerKey covers the
  * logical/physical operator side; this covers the connector side the
  * reference's HTTP pollers occupy: chStats.py:66-125 pulls
  * system-table feeds over HTTP — on Spark the idiomatic equivalent is
  * a V2 connector that PLANS the pull, so Catalyst can push work into
  * it instead of filtering after the fact).
  *
  * A deterministic synthetic metrics feed: row i of `rows` carries
  * id=i, node = 'node'||i%50, kind ∈ {gauge,counter,timer} by i%3,
  * value = (i·2654435761) % 100000 — pure BIGINT arithmetic both
  * engines evaluate identically (products ≤ rows·2.7e9 ≪ 2^63), so a
  * DuckDB `range()` oracle reproduces the feed exactly with no
  * side-channel files.
  *
  * What it demonstrates (each spec-gated, PlanSpec):
  *  - SupportsPushDownV2Filters: >=, >, <, <=, = of `id` against a
  *    literal (either side) fold into the generated range, and
  *    `id % m = r` folds into a stride — V2ScanRelationPushDown hands
  *    the predicate to the source and the source answers with fewer
  *    rows PLANNED, not fewer rows filtered (the 100 TB story:
  *    predicates reach the feed, the cluster never materializes the
  *    pruned span). Leaves are read by the shared `V2Leaf`.
  *  - Partition pruning: the row space splits into `partitions`
  *    fixed-width slices (the "files" of a synthetic feed); slices
  *    wholly outside the pushed range are never planned —
  *    lastPlannedPartitions is the observable.
  *  - SupportsPushDownRequiredColumns: the reader materializes ONLY
  *    the pruned schema (an unrequested string column costs zero
  *    UTF8String allocations per row).
  *
  * Scale shape: embarrassingly parallel — each InputPartition is a
  * closed-form range generator with O(1) state, no driver collect, no
  * shuffle until the consumer aggregates. */
object MetricsFeedSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("node", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("value", LongType, nullable = false)))

  // test-observable planning telemetry (PlanSpec asserts source-side
  // partition pruning happened, not just row filtering)
  @volatile var lastPlannedPartitions: Int = -1
  @volatile var lastPlannedRange: (Long, Long) = (-1L, -1L)
  // aggregate-pushdown observables: the accepted agg shape, and how many
  // rows actually crossed the source boundary (local-mode/test hook — a
  // single-JVM counter, same scope caveat as AccountingSink.abortedTasks)
  @volatile var lastPushedAggregation: String = ""
  // limit/top-N pushdown observable: "limit:N" or "topn:N" when folded
  @volatile var lastPushedLimit: String = ""
  // runtime (DPP) filtering observable: the clamped range + values seen
  @volatile var lastRuntimeFilter: String = ""
  // join-pushdown observable (q83): the absorbed join's shape
  @volatile var lastPushedJoin: String = ""
  // offset / table-sample pushdown observables (q88)
  @volatile var lastPushedOffset: String = ""
  @volatile var lastPushedSample: String = ""
  val rowsEmitted = new java.util.concurrent.atomic.AtomicLong(0L)
  // AcceptsLatestSeenOffset observable: the offset-log hint the engine
  // delivers to a restarted stream (single-JVM test hook)
  @volatile var lastLatestSeenOffset: Long = -1L
  // streaming observable: the distinct non-empty offset intervals
  // planned (local-mode/test hook; Spark may re-plan one micro-batch
  // several times — the INTERVAL SET, not the call count, is the
  // exactly-once observable: it must partition [0, rows))
  val streamIntervals =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()

  def nodeOf(id: Long): String = "node" + (id % 50)
  def kindOf(id: Long): String = (id % 3) match {
    case 0 => "gauge"
    case 1 => "counter"
    case _ => "timer"
  }
  def valueOf(id: Long): Long = (id * 2654435761L) % 100000L

  /** `parts` fixed-width slices of [from, until) clipped to [lo, hi),
    * each reading ids ≡ rem (mod step); slices wholly outside the range
    * never plan. A batch scan slices the FULL row space (the feed's
    * "files"), a micro-batch its own offset interval. */
  def slices(from: Long, until: Long, parts: Int, lo: Long, hi: Long,
      step: Long = 1L, rem: Long = 0L): Array[InputPartition] = {
    val width = math.max(1L, (until - from + parts - 1) / parts)
    (from until until by width).flatMap { s =>
      val a = math.max(s, lo)
      val b = math.min(s + width, hi)
      if (a < b) Some(MetricsFeedPartition(a, b, step, rem): InputPartition)
      else None
    }.toArray
  }
}

class MetricsFeedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MetricsFeedSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MetricsFeedTable(
      properties.getOrDefault("rows", "100000").toLong,
      properties.getOrDefault("partitions", "8").toInt,
      properties.getOrDefault("streamStep", "25000").toLong,
      properties.getOrDefault("clusterByKind", "false").toBoolean,
      properties.getOrDefault("columnar", "false").toBoolean)
}

class MetricsFeedTable(rows: Long, parts: Int, streamStep: Long,
    clusterByKind: Boolean, columnar: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"metrics_feed($rows)"
  override def schema(): StructType = MetricsFeedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.CONTINUOUS_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MetricsFeedScanBuilder(rows, parts, streamStep, clusterByKind, columnar)
}

class MetricsFeedScanBuilder(rows: Long, parts: Int,
    streamStep: Long = 25000L, clusterByKind: Boolean = false,
    columnar: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownV2Filters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset with SupportsPushDownTableSample
    with SupportsPushDownJoin {

  // ---- SupportsPushDownJoin (q83 — the last pushdown face, new in
  // Spark 4.1; conf-gated by spark.sql.optimizer.datasourceV2JoinPushdown):
  // a feed⋈feed INNER equi-join on `id` is absorbed into ONE scan. The
  // engine contract (probed): both sides' ScanBuilders get
  // isOtherSideCompatibleForJoin, then the LEFT builder receives
  // pushDownJoin with each side's pruning-surviving columns as
  // ColumnWithAlias (alias non-null only on name collisions — right's
  // id arrives as id_1) and the condition REWRITTEN over the post-alias
  // names (`id = id_1`); returning true makes THIS builder the joined
  // relation — its scan must emit leftCols ++ rightCols under the
  // aliased names, and the engine may prune that joined schema again.
  // Soundness gate: both sides plain (no agg/limit/stride/cluster/
  // columnar/prior join), INNER only, condition exactly the id pair —
  // then the join is the RANGE INTERSECTION of two deterministic feeds
  // and every output column is closed-form in the shared id. At 100 TB
  // this is the federation endgame: the join costs ZERO rows over the
  // wire beyond its result — no exchange, no build side, one scan.
  private var joinedMode: Option[StructType] = None
  // immutable joined-name → original feed column map, built ONCE at
  // pushDownJoin time. The engine may prune the joined schema MORE THAN
  // once; remapping a mutable parallel array on each call zips the full
  // joined field list against an already-shortened source list and
  // mis-maps (r14 advisory) — a lookup against this frozen map is
  // idempotent under any prune sequence.
  private var joinedNameToSource: Map[String, String] = Map.empty
  private def plainSide: Boolean =
    aggFuncs.isEmpty && pushedLimit.isEmpty && stride.isEmpty &&
      !clusterByKind && !columnar && joinedMode.isEmpty

  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other match {
      case o: MetricsFeedScanBuilder => plainSide && o.plainSide
      case _ => false
    }

  override def pushDownJoin(other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftOut: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightOut: Array[SupportsPushDownJoin.ColumnWithAlias],
      cond: Predicate): Boolean = other match {
    case o: MetricsFeedScanBuilder
        if joinType == org.apache.spark.sql.connector.join.JoinType.INNER_JOIN &&
          plainSide && o.plainSide =>
      def eff(c: SupportsPushDownJoin.ColumnWithAlias): String =
        Option(c.alias()).getOrElse(c.colName())
      val leftId = leftOut.find(_.colName() == "id").map(eff)
      val rightId = rightOut.find(_.colName() == "id").map(eff)
      val condOk = cond.name() == "=" && (cond.children() match {
        case Array(a: NamedReference, b: NamedReference) =>
          val names = Set(a.fieldNames.mkString("."), b.fieldNames.mkString("."))
          (leftId, rightId) match {
            case (Some(l), Some(r)) => l != r && names == Set(l, r)
            case _ => false
          }
        case _ => false
      })
      if (!condOk) false
      else {
        // inner equi-join on the shared deterministic key: the joined
        // feed IS the intersection of the two pushed id ranges
        lo = math.max(lo, o.lo)
        hi = math.min(hi, o.hi)
        val base = MetricsFeedSource.schema
        val cols = leftOut ++ rightOut
        joinedMode = Some(StructType(cols.map(c =>
          base(base.fieldIndex(c.colName())).copy(name = eff(c)))))
        joinedNameToSource =
          joinedMode.get.fieldNames.zip(cols.map(_.colName())).toMap
        required = joinedMode.get
        MetricsFeedSource.lastPushedJoin =
          s"inner(id) range=[$lo,$hi) cols=${required.fieldNames.mkString(",")}"
        true
      }
    case _ => false
  }
  private var lo = 0L
  private var hi = rows
  // stride mode (q87): only ids ≡ r (mod m) are generated — the folded
  // form of a pushed `id % m = r`
  private var stride: Option[(Long, Long)] = None
  private var pushed = Array.empty[Predicate]
  private var required = MetricsFeedSource.schema
  private var aggFuncs: Option[Seq[String]] = None
  private var pushedLimit: String = ""

  // ---- SupportsPushDownV2Filters: comparisons of `id` with a literal
  // fold into the range; `id % m = r` — a FUNCTION-BEARING leaf the V1
  // Filter API cannot express — folds into a STRIDE-m lattice scan (each
  // slice walks only ids ≡ r mod m: a modulo shard-probe costs 1/m of the
  // feed over the wire). Anything else, a malformed residue included,
  // stays residual (soundness over coverage). The stride declines under
  // clusterByKind and columnar, and every face that assumes contiguous
  // ids (aggregate, limit/topN, offset, join) declines once it is pushed.
  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val (acc, rest) = predicates.partition {
      case V2Leaf(t, op @ (">=" | ">" | "<" | "<=" | "="), Seq(v: java.lang.Long))
          if isCol(t, "id") =>
        clamp(op, v); true
      case V2Leaf(IdMod(m), "=", Seq(r: java.lang.Long))
          if r >= 0 && r < m && stride.isEmpty && !clusterByKind && !columnar =>
        stride = Some((m, r.longValue)); true
      case _ => false
    }
    pushed = acc
    rest
  }
  override def pushedPredicates(): Array[Predicate] = pushed
  /** `id % m` with a literal m: the one function-bearing term folded. */
  private object IdMod {
    def unapply(e: V2Expression): Option[Long] = e match {
      case g: GeneralScalarExpression if g.name == "%" => g.children match {
        case Array(a, l: V2Lit[_]) if isCol(a, "id") => l.value match {
          case m: java.lang.Long => Some(m.longValue)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }
  // strict bounds need v±1; saturate at Long.MaxValue — a folded
  // predicate is reported fully handled (no residual Filter), so a
  // wrapped increment would return rows the predicate excludes
  private def clamp(op: String, v: Long): Unit = op match {
    case ">=" => lo = math.max(lo, v)
    case ">"  => lo = if (v == Long.MaxValue) math.max(lo, hi) else math.max(lo, v + 1)
    case "<"  => hi = math.min(hi, v)
    case "<=" => if (v != Long.MaxValue) hi = math.min(hi, v + 1)
    case "="  => clamp(">=", v); clamp("<=", v)
  }
  override def pruneColumns(requiredSchema: StructType): Unit =
    // in joined mode the engine prunes the JOINED (aliased) schema; the
    // per-field sources are resolved at build() against the frozen
    // joinedNameToSource map, so repeated prunes cannot drift
    required = requiredSchema

  // ---- SupportsPushDownLimit / SupportsPushDownTopN: the feed emits
  // ids ASCENDING within and ACROSS its fixed-width slices, so LIMIT n
  // folds to planning only [lo, lo+n) — and ORDER BY id ASC LIMIT n is
  // the SAME clamp (the first n ids ARE the ascending top-n). Partial
  // push (isPartiallyPushed=true): Spark keeps its global limit/sort on
  // the ≤n surviving rows — free — while the source never plans the
  // pruned span (the federation lever: a dashboard's top-k probe costs
  // k rows of feed, not a full scan).
  override def pushLimit(limit: Int): Boolean = {
    if (stride.nonEmpty) return false
    hi = math.min(hi, lo + limit)
    pushedLimit = s"limit:$limit"
    MetricsFeedSource.lastPushedLimit = pushedLimit
    true
  }
  // plain LIMIT is FULLY pushed (the planned range IS exactly the first
  // n ids — set semantics, no ordering claim), which is what lets the
  // engine compose OFFSET behind it (OffsetAndLimit pushes limit+offset
  // then offset ONLY when the limit was complete). TopN stays PARTIAL:
  // a multi-partition scan's output interleaves across slices, so Spark
  // must keep its sort on the ≤n surviving rows.
  override def isPartiallyPushed(): Boolean = pushedLimit.startsWith("topn")
  override def pushTopN(orders: Array[V2SortOrder], limit: Int): Boolean = {
    val idAsc = orders.length == 1 && isCol(orders(0).expression, "id") &&
      orders(0).direction == SortDirection.ASCENDING
    if (!idAsc || stride.nonEmpty) return false
    hi = math.min(hi, lo + limit)
    pushedLimit = s"topn:$limit"
    MetricsFeedSource.lastPushedLimit = pushedLimit
    true
  }

  // ---- SupportsPushDownOffset / SupportsPushDownTableSample (q88 —
  // the pagination + sampled-scan faces completing the pushdown
  // matrix): the feed emits ids ASCENDING across its slices, so OFFSET
  // n folds to advancing the planned range's low end (the source
  // DEFINES scan order as id order — the same contract that makes the
  // limit/topN folds sound), and TABLESAMPLE [lower, upper) folds to
  // the contiguous id sub-range covering that fraction of the planned
  // span — the JDBC TABLESAMPLE SYSTEM analog: the SOURCE defines the
  // sample as a range slice, deterministic by construction (seed
  // ignored, documented; a row-store source samples pages the same
  // way). At 100 TB: a paginated dashboard probe or a 1% profiling
  // scan costs exactly its result's rows over the wire, never a full
  // scan post-filtered.
  override def pushOffset(n: Int): Boolean = {
    if (aggFuncs.nonEmpty || stride.nonEmpty) return false
    // an empty range stays empty (lo near Long.MaxValue would wrap lo + n)
    if (lo < hi) lo = math.min(hi, lo + n)
    MetricsFeedSource.lastPushedOffset = s"offset:$n -> [$lo,$hi)"
    true
  }
  override def pushTableSample(lower: Double, upper: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    // pushed BEFORE any predicate (rule order), so no stride exists yet
    if (withReplacement || aggFuncs.nonEmpty) return false
    val span = math.max(0L, hi - lo)
    val newLo = lo + math.floor(lower * span).toLong
    val newHi = lo + math.floor(upper * span).toLong
    lo = newLo
    hi = math.max(newLo, newHi)
    MetricsFeedSource.lastPushedSample = s"sample[$lower,$upper) -> [$lo,$hi)"
    true
  }

  // ---- SupportsPushDownAggregates (the JDBC-pushdown shape for a
  // synthetic feed): accept GROUP BY kind with COUNT(*)/SUM/MIN/MAX on
  // `value`. PARTIAL pushdown (supportCompletePushDown = false) — each
  // InputPartition answers its slice's groups and Spark plans only the
  // final merge, so parallelism survives and the 100 TB of feed rows
  // never cross the source boundary: |partitions|·|groups| rows do.
  private def isCol(e: V2Expression, name: String): Boolean = e match {
    case f: NamedReference => f.fieldNames.sameElements(Array(name))
    case _ => false
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean = false
  override def pushAggregation(agg: Aggregation): Boolean = {
    // the clustered mode (q61) and aggregate pushdown (q58) are
    // ALTERNATIVE federation levers: when the source declares its
    // kind-partitioning, Spark plans the whole aggregate shuffle-free
    // over raw rows — pushing partials too would just hide which lever
    // did the work
    if (clusterByKind || stride.nonEmpty) return false
    val groupOk = agg.groupByExpressions.length == 1 &&
      isCol(agg.groupByExpressions()(0), "kind")
    if (!groupOk) return false
    val funcs = agg.aggregateExpressions.map {
      case _: CountStar                                      => "count_star"
      case s: Sum if isCol(s.column, "value") && !s.isDistinct => "sum_value"
      case m: Min if isCol(m.column, "value")                => "min_value"
      case m: Max if isCol(m.column, "value")                => "max_value"
      case _                                                 => ""
    }
    if (funcs.contains("")) return false
    aggFuncs = Some(funcs.toSeq)
    MetricsFeedSource.lastPushedAggregation =
      s"group=[kind] funcs=[${funcs.mkString(",")}]"
    true
  }

  override def build(): Scan = aggFuncs match {
    case Some(funcs) =>
      new MetricsFeedAggScan(rows, parts, lo, hi, funcs, pushed)
    case None =>
      new MetricsFeedScan(rows, parts, lo, hi, required, pushed, streamStep,
        clusterByKind, pushedLimit, columnar,
        fieldSources = if (joinedMode.isDefined)
          Some(required.fieldNames.map(joinedNameToSource)) else None,
        stride = stride)
  }
}

/** Row-index offset for the micro-batch stream (exclusive high-water
  * mark into the feed's row space). */
case class MetricsFeedOffset(hwm: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = hwm.toString
}

/** The STREAMING half of the connector (the reference's pollers run on
  * a cadence — chStats.py:538-579; on Spark the idiomatic form is a
  * MicroBatchStream the engine schedules): each trigger admits the next
  * `streamStep` rows of the feed, a micro-batch plans the SAME
  * closed-form range partitions as the batch scan over [start, end),
  * and exactly-once falls out of the offset contract — a row belongs to
  * precisely one [start, end) interval, restarts resume from the
  * committed offset, and no source state exists beyond the offset
  * itself (O(1) checkpoint). */
class MetricsFeedMicroBatch(rows: Long, parts: Int, step: Long,
    required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.AcceptsLatestSeenOffset {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // ---- AcceptsLatestSeenOffset (the restart-hint face of the
  // admission-control protocol): on restart the engine tells the NEW
  // source instance the latest offset in the offset log — including a
  // planned-but-uncommitted epoch's — BEFORE the first latestOffset()
  // call. This source needs no state from it (availability is already a
  // pure function of the engine-supplied start offset), so the hint is
  // recorded for observability only; a source whose external cursor
  // must be re-seeked (Kafka) would act on it here. Same restart
  // caveat as metrics(): the hint can arrive as a raw SerializedOffset,
  // so parse the json form rather than bare-casting.
  override def setLatestSeenOffset(offset: Offset): Unit =
    MetricsFeedSource.lastLatestSeenOffset = offset match {
      case m: MetricsFeedOffset => m.hwm
      case other => other.json().toLong
    }

  // ---- Trigger.AvailableNow (StreamingSpec-pinned): the engine asks
  // the source to FREEZE its end offset at prepare time, then drains
  // admission-sized batches to exactly that point and TERMINATES — the
  // run-as-batch-job operational mode (nightly catch-up on a cadence).
  // A growing source must not chase its own tail under AvailableNow;
  // this feed is bounded and immutable, so the frozen end IS `rows`,
  // captured here to honor the contract shape.
  @volatile private var availableNowEnd: Long = rows
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = rows

  // ---- ReportsSourceMetrics (st23 — q68's metric story carried into
  // streaming: the per-batch SOURCE metrics Kafka reports as
  // offsetOutOfRange/dataLoss surface in
  // StreamingQueryProgress.sources[i].metrics): consumed = the
  // engine-committed offset it hands us, backlog = what the feed still
  // holds beyond it. Pure function of the offset — no instance state,
  // same restart-safety posture as admission control.
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    // on a RESTARTED stream the engine passes the checkpoint's offset
    // as a raw SerializedOffset WITHOUT routing it through
    // deserializeOffset (probed: the st20 restart pin caught the bare
    // cast) — parse via the json form, which both shapes carry
    val consumed = if (latestConsumedOffset.isPresent)
      latestConsumedOffset.get() match {
        case m: MetricsFeedOffset => m.hwm
        case other => other.json().toLong
      }
    else 0L
    java.util.Map.of(
      "rowsConsumed", consumed.toString,
      "rowsBacklog", math.max(0L, rows - consumed).toString)
  }
  // NO instance state: availability is a pure function of the
  // engine-supplied start offset (SupportsAdmissionControl — the
  // Kafka/rate-source protocol). A self-advancing in-memory high-water
  // mark is NOT restart-safe: the engine's first latestOffset() on a
  // restarted stream fires BEFORE any deserializeOffset/plan call
  // reaches the new instance, so a fresh hwm=0 would REGRESS below the
  // committed offset C — MicroBatchExecution then logs a backwards
  // offset and replans already-committed rows (exactly-once broken;
  // StreamingSpec pins the restart).
  override def initialOffset(): Offset = MetricsFeedOffset(0L)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(step.toInt)
  // honor the ENGINE-supplied limit, not the captured step: under
  // Trigger.AvailableNow or an engine-composed limit the admission
  // contract is that availability advances by what the engine allows
  // (min over a composite's max-rows components; allAvailable admits
  // the full remainder). The default limit above IS maxRows(step), so
  // steady-state epochs are unchanged.
  private def admit(limit: ReadLimit): Long = limit match {
    case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable =>
      rows
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      r.maxRows()
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      val caps = c.getReadLimits.map(admit)
      if (caps.isEmpty) step else caps.min
    case _ => step // ReadMinRows etc. impose no cap — fall back to the step
  }
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[MetricsFeedOffset].hwm
    MetricsFeedOffset(math.min(availableNowEnd, s + admit(limit)))
  }
  override def latestOffset(): Offset =
    // the engine never calls the stateless-source form on an
    // admission-controlled stream (Kafka throws here too)
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def deserializeOffset(json: String): Offset =
    MetricsFeedOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[MetricsFeedOffset].hwm
    val hi = end.asInstanceOf[MetricsFeedOffset].hwm
    if (lo < hi) MetricsFeedSource.streamIntervals.add((lo, hi))
    MetricsFeedSource.slices(lo, hi, parts, lo, hi)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new MetricsFeedReaderFactory(required.fieldNames)
}

/** CONTINUOUS trigger support (the r14 verdict's spike, answered YES —
  * the epoch-marker protocol IS usable by a custom V2 source in local
  * mode, probed end-to-end by StreamingSpec): partition r owns the
  * residue class ids ≡ r (mod parts) — a FIXED ownership, the
  * continuous contract (partitions live for the stream's lifetime; the
  * engine injects epoch markers around the long-running readers and
  * reconfigures only when needsReconfiguration flips). Each reader
  * emits its class ascending and BLOCKS at the bounded feed's end (the
  * rate-source idiom — a live feed would block awaiting arrival);
  * per-partition offsets carry the next id, mergeOffsets folds them
  * into the checkpointed composite. Exactly-once bookkeeping is the
  * engine's: it commits merged offsets per epoch, and a restart
  * resumes each partition from its own committed position. */
case class MetricsFeedPartitionOffset(rem: Int, next: Long)
    extends org.apache.spark.sql.connector.read.streaming.PartitionOffset

case class MetricsFeedContinuousOffset(next: Map[Int, Long])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    next.toSeq.sortBy(_._1).map { case (r, n) => s"$r:$n" }.mkString(",")
}

case class MetricsFeedContinuousPartition(rem: Int, start: Long,
    rows: Long, parts: Int) extends InputPartition

class MetricsFeedContinuousStream(rows: Long, parts: Int,
    required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.ContinuousStream {
  import org.apache.spark.sql.connector.read.streaming.{ContinuousPartitionReader, ContinuousPartitionReaderFactory, Offset, PartitionOffset}

  private def parse(json: String): Map[Int, Long] =
    json.split(",").filter(_.nonEmpty).map { s =>
      val Array(r, n) = s.split(":"); r.toInt -> n.toLong
    }.toMap
  private def decode(o: Offset): Map[Int, Long] = o match {
    case m: MetricsFeedContinuousOffset => m.next
    case other => parse(other.json()) // restart delivers a SerializedOffset (the st20 lesson)
  }
  override def initialOffset(): Offset =
    MetricsFeedContinuousOffset((0 until parts).map(r => r -> r.toLong).toMap)
  override def deserializeOffset(json: String): Offset =
    MetricsFeedContinuousOffset(parse(json))
  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val m = decode(start)
    (0 until parts).map(r => MetricsFeedContinuousPartition(r,
      m.getOrElse(r, r.toLong), rows, parts): InputPartition).toArray
  }
  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    MetricsFeedContinuousOffset(offsets.map {
      case MetricsFeedPartitionOffset(r, n) => r -> n
    }.toMap)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory = {
    val fields = required.fieldNames
    new ContinuousPartitionReaderFactory {
      override def createReader(p: InputPartition)
          : ContinuousPartitionReader[InternalRow] = {
        val cp = p.asInstanceOf[MetricsFeedContinuousPartition]
        val rowFactory = new MetricsFeedReaderFactory(fields)
        new ContinuousPartitionReader[InternalRow] {
          private var cur = cp.start - cp.parts
          override def next(): Boolean = {
            // bounded feed: block at the end (the rate-source idiom);
            // the engine interrupts the task at stop/reconfigure
            while (cur + cp.parts >= cp.rows) Thread.sleep(50)
            cur += cp.parts
            true
          }
          override def get(): InternalRow = rowFactory.rowAt(cur)
          override def getOffset(): PartitionOffset =
            MetricsFeedPartitionOffset(cp.rem, cur + cp.parts)
          override def close(): Unit = ()
        }
      }
    }
  }
}

/** Pre-aggregated scan: readSchema is the pushed aggregation's shape
  * (group column then agg columns, positional contract of
  * V2ScanRelationPushDown); each partition emits ≤ |kinds| rows. */
class MetricsFeedAggScan(rows: Long, parts: Int, lo: Long, hi: Long,
    funcs: Seq[String], pushed: Array[Predicate]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    StructField("kind", StringType, nullable = false) +:
      funcs.map(f => StructField(f, LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"MetricsFeed range=[$lo,$hi) of $rows, " +
      s"PushedAggregates: [${funcs.mkString(", ")}] groupBy=[kind], " +
      s"PushedFilters: ${pushed.map(_.describe()).mkString("[", ", ", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val slices = MetricsFeedSource.slices(0L, rows, parts, lo, hi)
    MetricsFeedSource.lastPlannedPartitions = slices.length
    MetricsFeedSource.lastPlannedRange = (lo, hi)
    MetricsFeedSource.rowsEmitted.set(0L)
    slices
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new MetricsFeedAggReaderFactory(funcs.toArray)
}

class MetricsFeedAggReaderFactory(funcs: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MetricsFeedPartition]
    new PartitionReader[InternalRow] {
      // aggregate the slice once, up front: per-kind (count, sum, min, max)
      private val out: Array[InternalRow] = {
        val cnt = new Array[Long](3)
        val sum = new Array[Long](3)
        val mn = Array.fill(3)(Long.MaxValue)
        val mx = Array.fill(3)(Long.MinValue)
        var id = mp.start
        while (id < mp.end) {
          val k = (id % 3).toInt
          val v = MetricsFeedSource.valueOf(id)
          cnt(k) += 1; sum(k) += v
          if (v < mn(k)) mn(k) = v
          if (v > mx(k)) mx(k) = v
          id += 1
        }
        (0 until 3).filter(cnt(_) > 0).map { k =>
          val vals = new Array[Any](1 + funcs.length)
          vals(0) = UTF8String.fromString(MetricsFeedSource.kindOf(k))
          var i = 0
          while (i < funcs.length) {
            vals(1 + i) = funcs(i) match {
              case "count_star" => cnt(k)
              case "sum_value"  => sum(k)
              case "min_value"  => mn(k)
              case "max_value"  => mx(k)
            }
            i += 1
          }
          new GenericInternalRow(vals): InternalRow
        }.toArray
      }
      private var cur = -1
      override def next(): Boolean = { cur += 1; cur < out.length }
      override def get(): InternalRow = {
        MetricsFeedSource.rowsEmitted.incrementAndGet()
        out(cur)
      }
      override def close(): Unit = ()
    }
  }
}

class MetricsFeedScan(rows: Long, parts: Int, lo: Long, hi: Long,
    required: StructType, pushed: Array[Predicate],
    streamStep: Long = 25000L, clusterByKind: Boolean = false,
    pushedLimit: String = "", columnar: Boolean = false,
    // joined mode (q83): per-field ORIGINAL feed column each (possibly
    // aliased) output field derives from — id_1 still reads "id"
    fieldSources: Option[Array[String]] = None,
    // stride mode (q87): only ids ≡ rem (mod m) are generated — the
    // folded form of a pushed `id % m = rem`
    stride: Option[(Long, Long)] = None) extends Scan with Batch
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering
    with SupportsReportStatistics with SupportsReportOrdering {
  // Runtime (DPP) clamp: filter() only RECORDS the delivered id bounds;
  // planInputPartitions combines them with the statically-pushed [lo, hi)
  // per invocation. Keeping the static range immutable means a repeated
  // or re-entrant filter() call can never compound destructively, and
  // the planned range is always derivable from (static push, last
  // runtime delivery). One Scan instance must still not be SHARED by two
  // plan subtrees — a clamp delivered for one join narrows the other —
  // but each DataFrame plan builds its own ScanBuilder/Scan, so sharing
  // requires deliberate plan surgery.
  @volatile private var runtimeClamp: Option[(Long, Long)] = None
  private def rlo: Long = math.max(lo, runtimeClamp.map(_._1).getOrElse(lo))
  private def rhi: Long = math.min(hi, runtimeClamp.map(_._2).getOrElse(hi))
  override def readSchema(): StructType = required

  // ---- SupportsRuntimeV2Filtering (q62 — the LAST pushdown face after
  // static predicates q51, aggregates q58, limit/top-n + declared
  // partitioning q61): joining the feed to a selective dim on `id`
  // makes the optimizer plant a DynamicPruningSubquery; once the build
  // side materializes, its id VALUES arrive here as an IN predicate and
  // the scan re-plans — slices outside [min, max+1] of the delivered
  // set are never read. This is DPP generalized to a V2 source: the
  // probe side's planned volume is decided by the OTHER side's data at
  // RUNTIME, not by any static predicate.
  // only declare columns that SURVIVED pruning: PartitionPruning
  // resolves these refs against the scan's output, so advertising a
  // pruned-away `id` fails analysis on any query that doesn't select
  // it (found by q69's kind-only projection)
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("id")) Array(Expressions.column("id"))
    else Array.empty
  override def filter(predicates: Array[Predicate]): Unit = {
    // combine all predicates delivered in THIS call, then record the
    // result — never narrow an already-recorded clamp in place
    var cLo = Long.MinValue
    var cHi = Long.MaxValue
    var seen = 0
    predicates.foreach { p =>
      val vals: Seq[Long] = V2Leaf.column(p) match {
        case Some((_, "IN" | "=", vs)) => vs.collect { case v: java.lang.Long => v.longValue }
        case _ => Seq.empty
      }
      if (vals.nonEmpty) {
        cLo = math.max(cLo, vals.min)
        cHi = math.min(cHi, vals.max + 1)
        seen += vals.length
      }
    }
    if (seen > 0) {
      runtimeClamp = Some((cLo, cHi))
      MetricsFeedSource.lastRuntimeFilter = s"IN:$seen -> [$rlo,$rhi)"
    }
  }
  // ---- SupportsReportStatistics (q65 — the OPTIMIZER-facing twin of
  // q56's sketch-driven join planning, delivered through the connector
  // API): statistics are estimated AFTER pushdown, so the reported row
  // count is the PLANNED range's, not the table's — a selective id
  // filter makes the feed broadcast-sized and Spark's own join planner
  // flips SMJ → BHJ from source-reported stats alone, zero hints
  // (PlanSpec gates both directions). Width = the PRUNED schema's
  // default sizes: column pruning shrinks the estimate too.
  override def estimateStatistics(): Statistics = {
    val n0 = math.max(0L, rhi - rlo)
    // a stride scan generates 1/m of the range's ids
    val n = stride.map { case (m, _) => n0 / m }.getOrElse(n0)
    val width = math.max(8, required.fields.map(_.dataType.defaultSize).sum)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(n * width)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(n)
    }
  }

  // ---- DSv2 custom metrics (q68 — the connectors stop being the
  // engine's observability blind spot): slices planned/pruned are
  // DRIVER metrics reported after planning; rows read is a TASK metric
  // each reader streams via currentMetricsValues. All three surface as
  // SQL metrics on the scan node — the q62 prune count becomes a
  // first-class metric instead of plan-string parsing.
  private var plannedSlices = -1
  private var prunedSlices = -1
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FeedRowsReadMetric, new FeedSlicesPlannedMetric, new FeedSlicesPrunedMetric)
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(FeedTaskMetric("feed_slices_planned", plannedSlices.toLong),
      FeedTaskMetric("feed_slices_pruned", prunedSlices.toLong))

  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MetricsFeedMicroBatch(rows, parts, streamStep, required)
  override def toContinuousStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
    new MetricsFeedContinuousStream(rows, parts, required)
  override def description(): String =
    s"MetricsFeed range=[$lo,$hi) of $rows, " +
      s"PushedFilters: ${pushed.map(_.describe()).mkString("[", ", ", "]")}, " +
      stride.map { case (m, r) => s"Stride: id%$m=$r, " }.getOrElse("") +
      (if (pushedLimit.nonEmpty) s"PushedLimit: $pushedLimit, " else "") +
      (if (clusterByKind) "KeyGroupedBy: [kind], " else "") +
      (if (fieldSources.nonEmpty) "PushedJoin: inner(id), " else "") +
      // truthful only when id SURVIVED pruning — same condition
      // filterAttributes() uses (kind-only projections report none)
      (if (required.fieldNames.contains("id")) "RuntimeFilterable: [id], "
       else "") +
      s"ReadSchema: ${required.simpleString}"

  // ---- SupportsReportOrdering (q70 — the SORT-side twin of the
  // partitioning report): every split's reader emits ids ASCENDING, and
  // a kind-clustered split carries ONE kind, so [kind ASC, id ASC]
  // (clustered) / [id ASC] (sliced) is truthful per-partition ordering.
  // EnsureRequirements then drops the per-partition SortExec a
  // sort-merge join would otherwise plant on the scan side — composed
  // with the q69 co-partitioning, an SPJ plans with zero exchanges AND
  // zero input sorts. Only columns that survived pruning are reported
  // (the filterAttributes lesson: these refs resolve against output).
  override def outputOrdering(): Array[V2SortOrder] = {
    // (ids ascend within a clustered split too — stride 3 — so any
    // pruned subset of [kind, id] stays truthful per-partition)
    (if (clusterByKind) Seq("kind", "id") else Seq("id"))
      .filter(required.fieldNames.contains)
      .map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING): V2SortOrder).toArray
  }

  // ---- SupportsReportPartitioning (q61): the source DECLARES that its
  // splits are clustered by `kind`, so a groupBy(kind) consumer plans
  // both aggregate phases WITHOUT an exchange — the third federation
  // lever after predicate (q51) and aggregate (q58) pushdown. The trade
  // is parallelism = |kinds| partitions, which is the honest contract of
  // source-declared clustering (a real bucketed source declares N
  // buckets); requires spark.sql.sources.v2.bucketing.enabled.
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (clusterByKind)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity("kind")), 3)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(parts)

  override def planInputPartitions(): Array[InputPartition] = {
    val slices: Array[InputPartition] =
      if (clusterByKind) {
        // one stride-3 split per kind; every split carries its partition
        // key (HasPartitionKey — without it Spark ignores the report).
        // Bounds stay inside [0, rows], so no id walk can wrap.
        val end = math.max(0L, rhi)
        (0 until 3).map { k =>
          MetricsFeedKindPartition(math.min(rlo, end), end, k): InputPartition
        }.toArray
      } else {
        // slices outside the pushed (or runtime-clamped) range never
        // plan. In stride mode (q87) each slice walks only its residue
        // class — same slicing, 1/m of the rows generated.
        val (m, r) = stride.getOrElse((1L, 0L))
        MetricsFeedSource.slices(0L, rows, parts, rlo, rhi, m, r)
      }
    MetricsFeedSource.lastPlannedPartitions = slices.length
    MetricsFeedSource.lastPlannedRange = (rlo, rhi)
    plannedSlices = slices.length
    prunedSlices = (if (clusterByKind) 3 else parts) - slices.length
    slices
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new MetricsFeedReaderFactory(
      fieldSources.getOrElse(required.fieldNames), columnar)
}

// ---- q68 metric classes: driver + task values fold by SUM into the
// scan node's SQL metrics
class FeedRowsReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "feed_rows_read"
  override def description(): String = "rows emitted by the feed readers"
}
class FeedSlicesPlannedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "feed_slices_planned"
  override def description(): String = "feed slices planned after pushdown/pruning"
}
class FeedSlicesPrunedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "feed_slices_pruned"
  override def description(): String = "feed slices pruned by static + runtime filters"
}
case class FeedTaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

/** What every batch and micro-batch row slice reads: the ids ≡ rem
  * (mod step) within [start, end). */
sealed trait MetricsFeedSlice extends InputPartition {
  def start: Long
  def end: Long
  def step: Long
  def rem: Long
}

/** A range slice (step 1), or a stride slice (q87): the physical form of
  * a pushed `id % step = rem`. */
case class MetricsFeedPartition(start: Long, end: Long,
    step: Long = 1L, rem: Long = 0L) extends MetricsFeedSlice

/** A per-kind split: ids ≡ kind (mod 3) within [start, end), declaring
  * its partition key for KeyGroupedPartitioning. */
case class MetricsFeedKindPartition(start: Long, end: Long, kind: Int)
    extends MetricsFeedSlice with HasPartitionKey {
  override def step: Long = 3L
  override def rem: Long = kind.toLong
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(MetricsFeedSource.kindOf(kind))))
}

class MetricsFeedReaderFactory(fields: Array[String],
    columnar: Boolean = false)
    extends PartitionReaderFactory {
  private[sources] def rowAt(cur: Long): InternalRow = {
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      vals(i) = fields(i) match {
        case "id"    => cur
        case "node"  => UTF8String.fromString(MetricsFeedSource.nodeOf(cur))
        case "kind"  => UTF8String.fromString(MetricsFeedSource.kindOf(cur))
        case "value" => MetricsFeedSource.valueOf(cur)
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  private def taskMetrics(rows: Long) =
    Array[org.apache.spark.sql.connector.metric.CustomTaskMetric](
      FeedTaskMetric("feed_rows_read", rows))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sl = p.asInstanceOf[MetricsFeedSlice]
    new PartitionReader[InternalRow] {
      // first id >= start with id ≡ rem (mod step), then every step-th id
      private var cur = sl.start + Math.floorMod(sl.rem - sl.start, sl.step) - sl.step
      private var n = 0L
      override def next(): Boolean =
        { cur += sl.step; val ok = cur < sl.end; if (ok) n += 1; ok }
      override def get(): InternalRow = rowAt(cur)
      override def currentMetricsValues() = taskMetrics(n)
      override def close(): Unit = ()
    }
  }

  // ---- COLUMNAR read path (q66 — the throughput face of the connector
  // matrix): the reader fills OnHeapColumnVector batches directly, so
  // the scan feeds whole-stage codegen's vectorized loop without a
  // per-row InternalRow allocation; Spark inserts ColumnarToRow above
  // the scan (PlanSpec-gated) exactly as it does for vectorized parquet.
  // Range slices only: a stride never folds under `columnar`.
  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar && p.isInstanceOf[MetricsFeedPartition]

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val mp = p.asInstanceOf[MetricsFeedPartition]
    new PartitionReader[ColumnarBatch] {
      private val capacity = 4096
      private val types = fields.map {
        case "id" | "value"  => LongType: DataType
        case "node" | "kind" => StringType: DataType
      }
      private val vectors =
        types.map(t => new OnHeapColumnVector(capacity, t))
      private val batch = new ColumnarBatch(
        vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))
      private var cur = mp.start
      private var rowsRead = 0L
      override def next(): Boolean = {
        if (cur >= mp.end) return false
        val n = math.min(capacity.toLong, mp.end - cur).toInt
        var f = 0
        while (f < fields.length) {
          val v = vectors(f)
          v.reset()
          fields(f) match {
            case "id" =>
              var i = 0
              while (i < n) { v.putLong(i, cur + i); i += 1 }
            case "value" =>
              var i = 0
              while (i < n) { v.putLong(i, MetricsFeedSource.valueOf(cur + i)); i += 1 }
            case "node" =>
              var i = 0
              while (i < n) {
                val b = MetricsFeedSource.nodeOf(cur + i).getBytes("UTF-8")
                v.putByteArray(i, b, 0, b.length); i += 1
              }
            case "kind" =>
              var i = 0
              while (i < n) {
                val b = MetricsFeedSource.kindOf(cur + i).getBytes("UTF-8")
                v.putByteArray(i, b, 0, b.length); i += 1
              }
          }
          f += 1
        }
        batch.setNumRows(n)
        cur += n
        rowsRead += n
        true
      }
      override def get(): ColumnarBatch = batch
      override def currentMetricsValues() = taskMetrics(rowsRead)
      override def close(): Unit = vectors.foreach(_.close())
    }
  }
}
