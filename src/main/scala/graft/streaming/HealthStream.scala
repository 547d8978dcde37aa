package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** The reference's daemon surface (chStats.py:538-579: periodic health
  * jobs) re-expressed as Structured Streaming.
  *
  * The same declarative aggregation runs in batch and stream modes —
  * batch for the oracle gate, readStream + watermark for continuous
  * operation. State is bounded by the watermark; sessionization state by
  * the gap timeout. Nothing here collects to the driver.
  */
object HealthStream {

  /** The ONE init-state sentinel for the alert-cooldown recurrence
    * (-2^62): ancient enough that any real ts_us >= 0 alerts on the
    * first event, yet far enough from Long.MinValue that
    * `ts_us - sentinel` can never overflow (ts_us < 2^60, so the
    * difference stays below 2^63). Referenced by the
    * transformWithState processor, the st14 batch fold, its DuckDB
    * oracle, and FoldPropertySpec — one constant, no drift. */
  val CooldownSentinelUs: Long = -4611686018427387904L

  /** events.parquet on-disk schema in its CURRENT generator form (ts is
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ, the
    * session is UTC so the cast below is identity on the micros value —
    * same contract as Tables.events). Fixture-writing tests pin this
    * form; `readEventStream` does NOT — it sniffs the footer and, like
    * Tables.events, also accepts the legacy TIMESTAMP(NANOS) form
    * (surfacing as Long under nanosAsLong). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Continuous source over an events directory/file, normalized so `ts`
    * is always µs TimestampType. A streaming source needs a user schema
    * up front, so the on-disk ts form is sniffed from the parquet footer
    * at stream-construction time (`Tables.parquet`: inferred once per
    * fingerprint), then branched exactly like Tables.events — a stream
    * pinned to one hardcoded form would fail on shards written by the
    * other generator vintage. */
  def readEventStream(spark: SparkSession, path: String): DataFrame = {
    val onDisk = Tables.parquet(spark, path).schema
    val raw = spark.readStream.schema(onDisk).parquet(path)
    onDisk("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }

  /** Continuous source over a documents directory/file — the ingest
    * side of the training-data pipeline (documents arrive as parquet
    * shards; the quality gate runs on arrival). Schema sniffed through
    * `Tables.parquet` like readEventStream (documents has no timestamp
    * column, so no normalization branch is needed). */
  def readDocumentStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(Tables.parquet(spark, path).schema).parquet(path)

  /** Ingest quality gate — the filter a training pipeline runs ON
    * ARRIVAL (streaming) and in backfill (batch) with the SAME code:
    * per-doc lexical-diversity score (distinct-token ratio, integer bp)
    * plus a minimum length; per (source, kept) counters and the kept
    * token mass are what the ingest dashboard watches. Per-row logic is
    * stateless, so the streaming form needs no watermark; the running
    * aggregate's state is bounded by sources × 2 rows at ANY volume. */
  def qualityGate(docs: DataFrame, minQbp: Long = 4500,
      minTokens: Long = 20): DataFrame =
    docs
      .withColumn("_w", split(trim(col("text")), "\\s+"))
      .withColumn("n_tokens", size(col("_w")).cast("long"))
      .withColumn("q_bp", expr("size(array_distinct(_w)) * 10000 div size(_w)"))
      .withColumn("kept",
        (col("q_bp") >= minQbp && col("n_tokens") >= minTokens).cast("int"))
      .groupBy(col("source"), col("kept"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept") === 1, col("n_tokens")).otherwise(0L)).as("kept_tokens"))

  /** Windowed health aggregation; valid on both batch and streaming
    * inputs (watermark is a no-op in batch). */
  def windowedHealth(events: DataFrame): DataFrame =
    windowedHealthAt(events, 5)

  /** Windowed health at an arbitrary cadence — the reference runs the
    * same jobs at 3/5/30-minute intervals (chStats.py:538-579,667-673);
    * in Spark each cadence is just another streaming query over the SAME
    * source, all sharing one watermark policy. */
  def windowedHealthAt(events: DataFrame, minutes: Int): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$minutes minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"), col("event_type"),
        col("n"), col("n_errors"))

  /** Sliding-window error-rate monitor: overlapping width/slide windows
    * (each event lands in width÷slide of them — Spark expands this
    * map-side, no self-join). Valid on batch and streaming inputs;
    * streaming state is bounded by watermark + window horizon. err_pct
    * is integer-truncated so every engine agrees bit-for-bit. */
  def slidingRate(events: DataFrame, widthMinutes: Int = 10,
      slideMinutes: Int = 5): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$widthMinutes minutes", s"$slideMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("w.end").cast("timestamp_ntz").as("win_end"),
        col("n_total"), col("n_errors"),
        expr("CAST(n_errors * 100 div n_total AS INT)").as("err_pct"))

  /** Windowed distinct-entity counts, streaming-legal form: a direct
    * COUNT(DISTINCT) aggregate is unsupported on streams, so the
    * distinct is expressed as dropDuplicates on the
    * (window, event_type, user) key followed by an ordinary windowed
    * count. The dedup key MUST be the window STRUCT itself, not an
    * extracted field: the struct attribute carries the event-time
    * watermark metadata, which is what lets Spark evict dedup state
    * once the watermark passes the window (a `getField("start")` alias
    * drops that metadata and the state would grow forever — eviction
    * is asserted in StreamingSpec via state-operator metrics). Both
    * stateful stages then chain natively and stay watermark-bounded.
    * Valid on batch and streaming inputs; parity proven in
    * StreamingSpec. The batch oracle is a plain
    * COUNT(DISTINCT user_id) per bucket. */
  def windowedDistinctUsers(events: DataFrame, minutes: Int = 5): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(window(col("ts"), s"$minutes minutes").as("w"),
        col("event_type"), col("user_id"))
      .dropDuplicates("w", "event_type", "user_id")
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"),
        col("event_type"), col("n_users"))

  /** Windowed p95 latency monitor, streaming-legal form: an exact
    * percentile needs the window's full distribution, which streaming
    * can't hold — but a BOUNDED value histogram can ride ONE windowed
    * aggregate as 16 bucket-count COLUMNS (the k-agg-columns shape that
    * also carries the LSH minhashes), and the p95 bucket then falls out
    * map-side from a cumulative CASE cascade over those 16 counts.
    * Bucket arithmetic is integer cents (vb = cents div 3200, clamped
    * to [0, 15] — the lower clamp keeps a negative value in bucket 0 in
    * BOTH engines instead of silently falling through every CASE arm
    * here while DuckDB's cumulative window counts it) so both engines
    * agree exactly; the reported p95 is the bucket upper bound — a
    * ≤32-unit overestimate, never under. State per window: 17 longs,
    * at any event volume. Valid on batch and streaming inputs; parity
    * in StreamingSpec. */
  def windowedP95(events: DataFrame, minutes: Int = 5): DataFrame = {
    val bucketed = events
      .withWatermark("ts", "1 hour")
      .withColumn("vb", expr(
        "CAST(greatest(0, least(15, CAST(round(value * 100) AS BIGINT) div 3200)) AS INT)"))
    val counts = (0 until 16).map(i =>
      sum(when(col("vb") === i, 1L).otherwise(0L)).as(s"c$i"))
    val agged = bucketed
      .groupBy(window(col("ts"), s"$minutes minutes").as("w"))
      .agg(count(lit(1)).as("n_total"), counts: _*)
    val cums = (0 until 16).map(i => (0 to i).map(j => col(s"c$j")).reduce(_ + _))
    val p95 = (0 until 16).foldRight(lit(15)) { (i, acc) =>
      when(cums(i) * 100 >= col("n_total") * 95, lit(i)).otherwise(acc)
    }
    agged.select(col("w.start").cast("timestamp_ntz").as("bucket"),
      col("n_total"), p95.cast("int").as("p95_bucket"))
      .withColumn("p95_ub", ((col("p95_bucket") + 1) * 32).cast("int"))
  }

  /** Windowed DOMAIN-FREE p95 — the streaming face of m47's log
    * sketch. windowedP95's fixed 16×32-unit grid assumes values < 512
    * (everything above clamps into the top bucket); this replaces the
    * grid with OCTAVE bins — bin = number of binary digits of the
    * cents value (the cross-engine integer floor-log2+1; 0 for v ≤ 0),
    * clamped at 62 only by the BIGINT ceiling, so there is NO domain
    * assumption left. State per window is 63 count COLUMNS = 63 longs
    * at ANY value magnitude — the st11 constant-state trade applied to
    * percentiles. The estimate is the octave's inclusive max 2^k - 1:
    * never under the true p95, at most 2× over (m47's 16-sub-bucket
    * mantissa refinement is the batch job; streaming state must stay
    * fixed-width, and 63 longs is the price of unboundedness). Valid
    * on batch and streaming inputs; parity in StreamingSpec. */
  def windowedLogP95(events: DataFrame, minutes: Int = 5): DataFrame = {
    val bucketed = events
      .withWatermark("ts", "1 hour")
      .withColumn("ob", expr(
        "CAST(CASE WHEN CAST(round(value * 100) AS BIGINT) <= 0 THEN 0 " +
        "ELSE least(62, length(bin(CAST(round(value * 100) AS BIGINT)))) END AS INT)"))
    val counts = (0 until 63).map(i =>
      sum(when(col("ob") === i, 1L).otherwise(0L)).as(s"c$i"))
    val agged = bucketed
      .groupBy(window(col("ts"), s"$minutes minutes").as("w"))
      .agg(count(lit(1)).as("n_total"), counts: _*)
    // rank selection as ONE O(63) aggregate pass over the counts array —
    // the naive 63 running-sum columns + 63-branch pick is O(63²)
    // expression nodes and measured 1.6 s of pure projection cost on
    // 8.6k window rows; this HOF runs interpreted but on aggregate
    // rows only, never the event stream
    val arr = array((0 until 63).map(i => col(s"c$i")): _*)
    agged
      .withColumn("_obs", arr)
      .withColumn("p95_octave", expr(
        "aggregate(_obs, named_struct('i', 0, 'cum', CAST(0 AS BIGINT), 'ans', -1), " +
        "(acc, x) -> named_struct('i', acc.i + 1, 'cum', acc.cum + x, " +
        "'ans', IF(acc.ans >= 0, acc.ans, " +
        "IF((acc.cum + x) * 100 >= 95 * n_total, acc.i, -1))), " +
        "acc -> acc.ans)").cast("int"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"),
        col("n_total"), col("p95_octave"),
        expr("shiftleft(CAST(1 AS BIGINT), p95_octave) - 1").as("p95_ub_cents"))
  }

  /** Windowed approximate distinct users — the STREAMING face of the
    * m35 HyperLogLog sketch: an exact windowed COUNT(DISTINCT) needs
    * per-key dedup state that grows with the user population (st9's
    * dedup-then-count pays exactly that), but the 64 HLL registers ride
    * ONE windowed aggregate as 64 max() COLUMNS (the st10 k-agg-columns
    * shape) — 64 longs of state per window at ANY cardinality, and max
    * is trivially mergeable so partial aggregation and late-arrival
    * merges are exact. Register index/rank and the integer estimate are
    * shared with m35 (HllSketch) and reproduce bit-for-bit in DuckDB.
    * Valid on batch and streaming inputs; parity in StreamingSpec. */
  def windowedHllDistinct(events: DataFrame, minutes: Int = 5): DataFrame = {
    import graft.functions.HllSketch
    val hashed = HllSketch.withIndexRank(
      events.withWatermark("ts", "1 hour"), col("user_id"))
    val aggs = HllSketch.registerAggs
    hashed
      .groupBy(window(col("ts"), s"$minutes minutes").as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("n_hit", expr(HllSketch.nHitExpr))
      .withColumn("s_total", expr(HllSketch.sTotalExpr))
      .withColumn("est_distinct", expr(HllSketch.estimateExpr))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"),
        col("n_hit"), col("est_distinct"))
  }

  /** Windowed count-min frequency watchlist — m32's STREAMING face and
    * the sketch family's third streaming member (st11 = HLL distinct,
    * st12 = log-histogram percentile, this = CMS frequency): per-key
    * windowed counts on an UNBOUNDED key space would hold one state row
    * per observed key; the 2×64 count-min sketch rides ONE windowed
    * aggregate as 128 sum() COLUMNS — 128 longs of state per window at
    * ANY key cardinality — and sums are trivially mergeable, so partial
    * aggregation and late-arrival merges stay exact. The monitor then
    * answers frequencies for a fixed WATCHLIST of probe keys (the only
    * query shape a bounded-state stream monitor can offer) by two O(1)
    * bucket lookups per key: est = min over rows of that row's bucket
    * count, ≥ the true count always (one-sided CMS error; asserted vs
    * exact in StreamingSpec). Both bucket rows derive from DISJOINT
    * nibble ranges of ONE md5 (nibbles 1-2 and 3-4, each mod 64) — the
    * standard production move for getting d sketch hashes out of one
    * 128-bit hash (Kirsch-Mitzenmacher), halving the per-event hash
    * cost vs per-row salting; probe lookups are a post-aggregation
    * STATELESS explode+projection over the window rows — never a join,
    * streaming-legal in append mode. */
  def windowedCmsWatchlist(events: DataFrame, probes: Seq[Long],
      minutes: Int = 5): DataFrame = {
    def bucketOf(mCol: String, off: Int): String =
      s"((instr('0123456789abcdef', substr($mCol, ${off}, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substr($mCol, ${off + 1}, 1)) - 1) % 64"
    val keyed = events.withWatermark("ts", "1 hour")
      .select(col("ts"), col("user_id").cast("string").as("key"))
      .withColumn("_m", md5(concat(lit("cms|"), col("key"))))
      .withColumn("b0", expr(bucketOf("_m", 1)))
      .withColumn("b1", expr(bucketOf("_m", 3)))
    val sums =
      (0 until 64).map(i => sum(when(col("b0") === i, 1L).otherwise(0L)).as(s"c0_$i")) ++
      (0 until 64).map(i => sum(when(col("b1") === i, 1L).otherwise(0L)).as(s"c1_$i"))
    keyed
      .groupBy(window(col("ts"), s"$minutes minutes").as("w"))
      .agg(sums.head, sums.tail: _*)
      .withColumn("_c0", array((0 until 64).map(i => col(s"c0_$i")): _*))
      .withColumn("_c1", array((0 until 64).map(i => col(s"c1_$i")): _*))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"),
        explode(array(probes.map(p => lit(p.toString)): _*)).as("key"),
        col("_c0"), col("_c1"))
      .withColumn("_m", md5(concat(lit("cms|"), col("key"))))
      .withColumn("cms_n", least(
        expr(s"element_at(_c0, ${bucketOf("_m", 1)} + 1)"),
        expr(s"element_at(_c1, ${bucketOf("_m", 3)} + 1)")))
      .select(col("bucket"), col("key"), col("cms_n"))
  }

  /** Stream-static enrichment: the event stream broadcast-joined to a
    * slowly-changing dimension (user → nation via customer), then
    * windowed per enriched key. In streaming mode Spark re-plans the
    * static side per micro-batch (dimension updates picked up without a
    * restart); the join itself is stateless — only the windowed agg
    * holds watermark-bounded state. Events with no directory entry keep
    * the reference's fallback-chain behavior (getHostName analog:
    * unknown → sentinel label, never dropped).
    */
  def enrichedHealth(events: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val dim = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(nation.select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), events("user_id") === dim("c_custkey"), "left")
      .withColumn("nation", coalesce(col("n_name"), lit("UNKNOWN")))
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("nation"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"), col("nation"),
        col("n_events"), col("n_errors"))
  }

  /** Stream enrichment against a REFRESHABLE dimension — the reference
    * hot-reloads its cluster config every 30 min / on SIGHUP
    * (chStats.py:517-558 refresh_variables/auto_refresh), and a monitor
    * that cannot pick up a new node without restart fails its core job.
    *
    * A plain stream-static join cannot express that: the static side's
    * parquet file listing is resolved ONCE at stream start, so
    * overwriting the dim path kills the query with
    * FAILED_READ_FILE.FILE_NOT_EXIST on the next micro-batch (probed
    * empirically; pinned in StreamingSpec). The working shape is
    * foreachBatch with the dim re-read per batch: `Tables.parquet`
    * builds a fresh file index on every invocation, and a rewritten dim
    * changes its fingerprint, so its schema is inferred again. A config
    * overwrite therefore lands at the next micro-batch boundary with no
    * restart — the dim is tiny (it broadcasts), so the per-batch re-list
    * is noise.
    *
    * `enrich(batchDf, dimDf)` declares the per-batch join; `sink` is the
    * idempotent writer (foreachBatch may replay a batch id on recovery).
    */
  def enrichRefreshable(stream: DataFrame, dimPath: String,
      enrich: (DataFrame, DataFrame) => DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val dim = Tables.parquet(batch.sparkSession, dimPath)
      sink(enrich(batch.toDF(), broadcast(dim)), batchId)
    }

  /** Event-sequence correlation (funnel): every (click, error) pair for
    * the same user with the error inside [click, click + window). In
    * batch this is an equi-join on user plus a µs range predicate; in
    * streaming the SAME code is a watermarked stream-stream inner join —
    * the time-range condition lets Spark bound each side's join state to
    * the window + watermark horizon. Comparisons are in integer µs so
    * batch, stream, and the SQL oracle agree bit-for-bit.
    */
  def clickErrorFunnel(clickSide: DataFrame, errorSide: DataFrame,
      windowMinutes: Int): DataFrame =
    funnelJoin(clickSide, errorSide, windowMinutes, "inner")

  /** Left-outer funnel: every click, matched to its errors when any
    * land inside the window, with NULL error columns otherwise. In
    * streaming this is a watermarked stream-stream LEFT OUTER join —
    * the unmatched-click rows can only emit once the watermark passes
    * the click's join horizon (Spark holds them in state until no
    * future error could match), which StreamingSpec drives with a
    * sentinel watermark-advancing event. Batch form is a plain left
    * join; both are bit-identical in µs integers.
    */
  def clickErrorFunnelOuter(clickSide: DataFrame, errorSide: DataFrame,
      windowMinutes: Int): DataFrame =
    funnelJoin(clickSide, errorSide, windowMinutes, "left_outer")

  /** Both funnels: watermarked clicks and errors, joined by `joinType`
    * on user and the [click, click + window) range. */
  private def funnelJoin(clickSide: DataFrame, errorSide: DataFrame,
      windowMinutes: Int, joinType: String): DataFrame = {
    val clicks = clickSide.filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"), unix_micros(col("ts")).as("click_us"))
    val errors = errorSide.filter(col("event_type") === "error")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("error_ts"), unix_micros(col("ts")).as("error_us"))
    // the range condition is on the watermarked event-time columns —
    // that is what lets streaming bound join state; ts is µs-exact so
    // this is bit-identical to comparing click_us/error_us
    clicks.join(errors,
        col("user_id") === col("e_user") &&
        col("error_ts") >= col("click_ts") &&
        col("error_ts") < col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
        joinType)
      .select(col("user_id"), col("click_id"), col("error_id"),
        (col("error_us") - col("click_us")).as("gap_us"))
  }

  /** Declarative gap-based sessionization (batch form): a session breaks
    * when the gap to the previous event exceeds gapMinutes. Windows +
    * prefix-sum — all engine-portable, oracle-checkable. */
  def sessions(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs, 1L)
          .when(lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
  }

  case class Ev(user_id: Long, event_id: Long, ts_us: Long)
  /** Ev plus the event-time column: the analyzer requires the
    * watermarked attribute to be present in the Dataset feeding
    * flatMapGroupsWithState under EventTimeTimeout. */
  case class EvW(user_id: Long, event_id: Long, ts_us: Long,
      event_ts: java.sql.Timestamp)
  case class SessionOut(user_id: Long, session_idx: Long, start_us: Long,
      end_us: Long, n_events: Long)

  /** Stateful sessionization via flatMapGroupsWithState — the streaming
    * scale path (per-key state, no global windowing). In batch mode each
    * group arrives complete; in stream mode state carries sessions
    * across micro-batches AND is bounded by an event-time timeout: when
    * the watermark passes a key's last event + gap with no new events,
    * the open session is flushed and its state dropped. A node that
    * stops reporting therefore emits its final session and holds no
    * state forever (the reference's silent-node closure, the daemon
    * cadence at chStats.py:538-579).
    */
  def sessionsStateful(events: Dataset[Ev], gapMinutes: Int): Dataset[SessionOut] = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val gapMs = gapMinutes.toLong * 60L * 1000L
    val spark = events.sparkSession
    import spark.implicits._
    val isBatch = !events.isStreaming // resolved on driver; closure-safe

    // state: (sessionIdx, start, lastTs, count) of the open session
    def fn(userId: Long, it: Iterator[EvW],
        state: GroupState[(Long, Long, Long, Long)]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // watermark passed last-event + gap with no new data: the open
        // session is final — emit it and drop the state
        val out = state.getOption.map { case (idx, start, last, n) =>
          SessionOut(userId, idx, start, last, n)
        }
        state.remove()
        out.iterator
      } else {
        val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
        val out = List.newBuilder[SessionOut]
        var cur: Option[(Long, Long, Long, Long)] = state.getOption
        evs.foreach { e =>
          cur match {
            case Some((idx, start, last, n)) if e.ts_us - last <= gapUs =>
              cur = Some((idx, start, e.ts_us, n + 1))
            case Some((idx, start, last, n)) =>
              out += SessionOut(userId, idx, start, last, n)
              cur = Some((idx + 1, e.ts_us, e.ts_us, 1L))
            case None =>
              cur = Some((1L, e.ts_us, e.ts_us, 1L))
          }
        }
        cur.foreach { c =>
          state.update(c)
          // expire once the event-time watermark passes last + gap (the
          // timestamp must sit above the current watermark or Spark
          // rejects it — a key whose horizon already passed gets the
          // next possible instant)
          if (!isBatch) state.setTimeoutTimestamp(
            math.max(c._3 / 1000L + gapMs, state.getCurrentWatermarkMs + 1L))
        }
        if (isBatch && evs.nonEmpty) {
          // batch mode: groups are complete — flush the open session too
          cur.foreach { case (idx, start, last, n) =>
            out += SessionOut(userId, idx, start, last, n)
          }
        }
        out.result().iterator
      }
    }

    // EventTimeTimeout requires a watermark upstream (and the
    // watermarked column kept in the grouped Dataset); lateness
    // allowance = the session gap (events later than that would break
    // session identity anyway). Batch mode ignores both — the flush
    // path above covers it.
    events.toDF()
      .withColumn("event_ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("event_ts", s"$gapMinutes minutes")
      .as[EvW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ---- alert cooldown (st14): transformWithState production form ----

  case class AlertOut(user_id: Long, alert_ts_us: Long, alert_seq: Long)

  /** Per-key alert cooldown: an error event raises an alert only when
    * ≥ cooldown has elapsed since the key's LAST RAISED alert — a
    * recursive dependency on the operator's own output no window
    * function expresses (each decision depends on which prior events
    * alerted, not on any fixed frame). The reference throttles its
    * notifications the same way (one event per condition per cadence,
    * chStats.py:538-579 cadence gating around uploadEvents). Spark 4's
    * transformWithState holds (lastAlert, seq) as two ValueState longs
    * per key in RocksDB — state size is independent of event volume,
    * the property that lets the operator run forever at 100 TB/day.
    */
  class CooldownProcessor(cooldownUs: Long)
      extends StatefulProcessor[Long, Ev, AlertOut] {
    @transient private var lastAlert: ValueState[Long] = _
    @transient private var seq: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastAlert = getHandle.getValueState[Long]("lastAlert", Encoders.scalaLong, TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("alertSeq", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[AlertOut] = {
      // arrival order within a micro-batch is not event order
      val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var last = if (lastAlert.exists()) lastAlert.get() else CooldownSentinelUs
      var n = if (seq.exists()) seq.get() else 0L
      val out = Array.newBuilder[AlertOut]
      evs.foreach { e =>
        if (e.ts_us - last >= cooldownUs) {
          last = e.ts_us; n += 1; out += AlertOut(key, e.ts_us, n)
        }
      }
      lastAlert.update(last); seq.update(n)
      out.result().iterator
    }
  }

  /** Streaming alert-cooldown over an error-event stream; requires the
    * RocksDB state store provider (transformWithState's backing store).
    * Batch-fold equivalent (the oracle): st14 in StreamingQueries.
    */
  def alertCooldownStream(errors: Dataset[Ev],
      cooldownMinutes: Int = 10): Dataset[AlertOut] = {
    import errors.sparkSession.implicits._
    errors.groupByKey(_.user_id)
      .transformWithState(new CooldownProcessor(cooldownMinutes * 60000000L),
        TimeMode.None(), OutputMode.Append())
  }

  // ---- streaming SCD2 capture (m52's streaming face) -----------------

  case class Scd2Out(user_id: Long, version: Long, state: String,
      valid_from_us: Long)

  /** Streaming SCD TYPE-2 change capture — m52's streaming face: the
    * CDC-ingest path OPENS a version row the moment the tracked
    * attribute changes (append mode can only emit what is already
    * final: version, state, valid_from — the interval CLOSE lands with
    * the next change, which is why the batch m52 owns valid_to).
    * State is (lastState, version): one string + one long per key,
    * independent of event volume. StreamingSpec proves the emitted
    * rows equal m52's batch output projected on the open-side columns,
    * across micro-batches on the real corpus. */
  class Scd2Processor extends StatefulProcessor[Long, EvT, Scd2Out] {
    @transient private var lastState: ValueState[String] = _
    @transient private var version: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastState = getHandle.getValueState[String]("lastState", Encoders.STRING, TTLConfig.NONE)
      version = getHandle.getValueState[Long]("scd2Version", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[EvT],
        timerValues: TimerValues): Iterator[Scd2Out] = {
      val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var prev = if (lastState.exists()) lastState.get() else null
      var v = if (version.exists()) version.get() else 0L
      val out = Array.newBuilder[Scd2Out]
      evs.foreach { e =>
        if (prev == null || prev != e.event_type) {
          v += 1
          out += Scd2Out(key, v, e.event_type, e.ts_us)
          prev = e.event_type
        }
      }
      lastState.update(prev); version.update(v)
      out.result().iterator
    }
  }

  /** Streaming SCD2 capture; requires the RocksDB state store provider.
    * Batch twin (the oracle): m52_scd2_history. */
  def scd2Stream(events: Dataset[EvT]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new Scd2Processor,
        TimeMode.None(), OutputMode.Append())
  }

  // ---- online feature serving (p20's streaming face) ----------------

  case class EvV(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, vc: Long)
  case class FeatureOut(user_id: Long, label_event_id: Long,
      label_ts_us: Long, prior_events: Long, prior_errors: Long,
      prior_value_cents: Long)

  /** ONLINE point-in-time feature serving — p20's streaming face: the
    * feature store keeps per-user running counters (three ValueState
    * longs — state independent of event volume, like st14) and, when a
    * label event ('purchase') arrives, emits the feature row FIRST and
    * only then folds the label event into the counters — the same
    * exclusive-frame contract as p20's (unboundedPreceding, -1) batch
    * window, so online serving and offline training read IDENTICAL
    * features (the training-serving-skew proof, asserted as exact
    * row-set equality with the p20 batch query in StreamingSpec).
    * Within-batch input sorts by (ts_us, event_id) — the arrival-order
    * contract all transformWithState processors here share. */
  class FeatureServeProcessor
      extends StatefulProcessor[Long, EvV, FeatureOut] {
    @transient private var nEvents: ValueState[Long] = _
    @transient private var nErrors: ValueState[Long] = _
    @transient private var sumVc: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nEvents = getHandle.getValueState[Long]("nEvents", Encoders.scalaLong, TTLConfig.NONE)
      nErrors = getHandle.getValueState[Long]("nErrors", Encoders.scalaLong, TTLConfig.NONE)
      sumVc = getHandle.getValueState[Long]("sumVc", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[EvV],
        timerValues: TimerValues): Iterator[FeatureOut] = {
      val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var n = if (nEvents.exists()) nEvents.get() else 0L
      var ne = if (nErrors.exists()) nErrors.get() else 0L
      var sv = if (sumVc.exists()) sumVc.get() else 0L
      val out = Array.newBuilder[FeatureOut]
      evs.foreach { e =>
        // emit BEFORE folding: the label never sees itself
        if (e.event_type == "purchase")
          out += FeatureOut(key, e.event_id, e.ts_us, n, ne, sv)
        n += 1
        if (e.event_type == "error") ne += 1
        sv += e.vc
      }
      nEvents.update(n); nErrors.update(ne); sumVc.update(sv)
      out.result().iterator
    }
  }

  /** Streaming feature serving; requires the RocksDB state store
    * provider. Batch twin (the oracle): p20_pit_features. */
  def featureServeStream(events: Dataset[EvV]): Dataset[FeatureOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FeatureServeProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  // ---- streaming sequence miner (st16): ListState carry-over buffer --

  case class EvT(user_id: Long, event_id: Long, ts_us: Long, event_type: String)
  case class TriOut(user_id: Long, pos: Long, trigram: String)

  /** Streaming trigram extraction over user timelines — m50's mining
    * pass run ON ARRIVAL: each arriving event closes one trigram with
    * the user's buffered last-two event types, so a pattern STRADDLING
    * a micro-batch boundary is still found (the property a per-batch
    * window recompute cannot give). The buffer is a ListState — the
    * third transformWithState state surface exercised here, after
    * st14's ValueState and the watchdog's event-time timers — holding
    * at most 2 type strings + a position counter per key: state is
    * independent of event volume, like st14. Within-batch input is
    * sorted by (ts_us, event_id) — same arrival-order contract as
    * st14; pos numbers each user's trigrams sequentially across
    * batches (the cross-batch continuity proof hangs off it). */
  class SeqTrigramProcessor
      extends StatefulProcessor[Long, EvT, TriOut] {
    @transient private var buf: ListState[String] = _
    @transient private var pos: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[String]("lastTypes", Encoders.STRING, TTLConfig.NONE)
      pos = getHandle.getValueState[Long]("triPos", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[EvT],
        timerValues: TimerValues): Iterator[TriOut] = {
      val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var last = buf.get().toArray.toSeq // oldest-first, 0..2 elements
      var n = if (pos.exists()) pos.get() else 0L
      val out = Array.newBuilder[TriOut]
      evs.foreach { e =>
        if (last.length == 2) {
          n += 1
          out += TriOut(key, n, s"${last(0)} ${last(1)} ${e.event_type}")
        }
        last = (last :+ e.event_type).takeRight(2)
      }
      buf.put(last.toArray); pos.update(n)
      out.result().iterator
    }
  }

  /** Streaming trigram miner; requires the RocksDB state store provider
    * (transformWithState's backing store). Batch twin: m50's
    * zip-of-slices extraction (StreamingSpec proves the multiset of
    * emitted trigrams matches it exactly, including one that straddles
    * the batch boundary). */
  def seqTrigramStream(events: Dataset[EvT]): Dataset[TriOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SeqTrigramProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  // ---- streaming per-entity profile (st17): MapState histogram ------

  case class ProfileOut(user_id: Long, event_type: String, n: Long)

  /** Per-user event-type histogram maintained in a MapState — the
    * FOURTH and final transformWithState state surface (ValueState
    * st14, ListState st16, event-time timers watchdog, MapState here):
    * the per-entity profile a monitor keeps ("what does this user's
    * traffic normally look like"). Each micro-batch emits the new
    * cumulative count for exactly the (user, type) cells the batch
    * touched — untouched cells are neither re-emitted nor rewritten,
    * the delta-emission contract that keeps sink volume proportional
    * to CHANGE rather than state size (StreamingSpec plants an
    * untouched cell and proves it). State per key = one map entry per
    * distinct type seen: bounded by the type vocabulary, not volume. */
  class ProfileProcessor extends StatefulProcessor[Long, EvT, ProfileOut] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("typeCounts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EvT],
        timerValues: TimerValues): Iterator[ProfileOut] = {
      val delta = scala.collection.mutable.LinkedHashMap[String, Long]()
      rows.foreach(e => delta(e.event_type) = delta.getOrElse(e.event_type, 0L) + 1L)
      delta.toSeq.sortBy(_._1).map { case (t, d) =>
        val n = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + d
        counts.updateValue(t, n)
        ProfileOut(key, t, n)
      }.iterator
    }
  }

  /** Streaming per-user profile maintenance; RocksDB provider required
    * (transformWithState). Batch twin: st17's plain (user, type)
    * count — the LATEST emission per cell equals it. */
  def profileStream(events: Dataset[EvT]): Dataset[ProfileOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  // ---- silent-node watchdog: event-time TIMERS (handleExpiredTimer) --

  case class NodeDown(node_id: Long, last_seen_us: Long, expiry_ms: Long)

  /** Absent-node detection as a PUSH, not a poll: m23's batch anti-join
    * asks "who is missing from this window" on every run; this
    * registers one event-time timer per live key at last_seen + gap —
    * when the watermark passes it with no newer heartbeat, the expired
    * timer EMITS the down event and frees the key's state (state and
    * timer count = live keys, not history). The reference's absent-
    * replica path (chStats.py error-record emission) is exactly this
    * contract, minus the rescan. */
  class WatchdogProcessor(gapMs: Long)
      extends StatefulProcessor[Long, EvW, NodeDown] {
    @transient private var lastSeen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long]("lastSeen", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EvW],
        timerValues: TimerValues): Iterator[NodeDown] = {
      var mx = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      rows.foreach(e => mx = math.max(mx, e.ts_us))
      // slide the key's single deadline forward to last_seen + gap
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      lastSeen.update(mx)
      getHandle.registerTimer(mx / 1000L + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[NodeDown] = {
      val ls = lastSeen.get()
      lastSeen.clear() // expiry frees the key entirely
      Iterator.single(NodeDown(key, ls, expiredTimerInfo.getExpiryTimeInMs))
    }
  }

  /** Streaming watchdog over a heartbeat stream (RocksDB-backed, like
    * alertCooldownStream). The watermark drives timer expiry, so
    * "down" is an event-time fact — reproducible from the log, not a
    * wall-clock race. */
  def watchdogStream(events: Dataset[Ev], gapMinutes: Int): Dataset[NodeDown] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("event_ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("event_ts", "1 second")
      .as[EvW]
      .groupByKey(_.user_id)
      .transformWithState(new WatchdogProcessor(gapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
