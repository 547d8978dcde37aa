package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.PerfBenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** Closed-loop benchmark of one workload in this JVM: one client submits
  * each key only after the previous one has finished.
  *
  * A run builds the session and makes `warmPasses` warm-up passes; the
  * first writes every key's output as parquet for the oracle compare, the
  * others use the noop sink. Then it makes measured passes until
  * `seconds` of measuring are used. The seed fixes the key
  * order of each measured pass. A measured execution is the key's builder call plus
  * the noop sink, so every output column is evaluated and nothing is
  * written. At the end it takes the live heap and writes `record.json`
  * (and, traced, `trace.jsonl`) to `outDir`.
  *
  * With `trace` on, passes run untraced, traced, traced, untraced, ...;
  * the difference of the two kinds' medians is the tracing overhead.
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir>
  */
object PerfBench {
  final case class Pass(index: Int, traced: Boolean, wall: Double,
      times: Map[String, Double], start: Double, end: Double)

  /** What a traced pass leaves behind: its counts by key and the time of
    * the standalone source scans that follow it. */
  final case class TracedPass(pass: Pass, byKey: Map[String, Counts], scanS: Double)

  /** Unmeasured passes before the measured ones. Pass times keep falling
    * for about three passes after a cold start as the JIT compiles the hot
    * paths; measuring from the fourth keeps that slope out of the medians. */
  val warmPasses = 3

  val monitor = Seq("m45_hll_algebra", "m32_cms_heavy_hitters", "m44_burn_rate",
    "m20_cons_parse", "m47_log_quantile")
  val ingest = Seq("st19_stream_source", "st20_stream_sink", "st21_stream_observe",
    "st24_sink_metrics", "q37_format_roundtrip")

  def keysOf(workload: String): Seq[String] = workload match {
    case "monitor" => monitor
    case "ingest"  => ingest
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.size - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, outDir) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val keys = keysOf(workload)
    val cpus = Runtime.getRuntime.availableProcessors
    new File(outDir).mkdirs()
    val tracer = new Tracer()
    val root = tracer.nextId()
    val runStart = tracer.nowMs()

    val t0 = System.nanoTime()
    val spark = tracer.span("session", "session build", root) {
      GraftSession.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions",
          GraftSession.shufflePartitionsFor(dataDir, cpus).toLong)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", sys.props("perfbench.warehouse")))
        .getOrCreate()
    }
    val sessionBuild = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    var attempted = 0
    var passSpan = 0L

    val checkDir = new File(outDir, "check")
    val checkErrors = mutable.ArrayBuffer[Map[String, Any]]()

    /** One execution: builder call + sink call, timed together. Pass 0
      * writes the output as one parquet file for the oracle compare;
      * every other pass uses the noop sink. With `trace` the builder and
      * sink calls get spans of their own. */
    def execute(key: String, pass: Int, trace: Boolean): Option[Double] = {
      val fn = SparkEntry.queries(key)
      def call[T](kind: String, parent: Long, id: Long = tracer.nextId())(body: => T): T =
        if (!trace) body
        else {
          if (kind == "builder") tracer.builderSpans.add(id)
          sc.setLocalProperty("perfbench.span", id.toString)
          try tracer.span(kind, key, parent, id)(body)
          finally sc.setLocalProperty("perfbench.span", null)
        }
      val keySpan = tracer.nextId()
      tracer.currentKey = key
      tracer.keySpan = keySpan
      var built: Option[DataFrame] = None
      val start = System.nanoTime()
      try {
        val r = call("key", passSpan, keySpan) {
          val df = call("builder", keySpan)(fn(spark, dataDir))
          built = Some(df)
          call("sink", keySpan) {
            if (pass == 0)
              df.coalesce(1).write.mode("overwrite").parquet(new File(checkDir, key).getPath)
            else df.write.mode("overwrite").format("noop").save()
          }
          (System.nanoTime() - start) / 1e9
        }
        Some(r)
      } catch {
        case e: Throwable =>
          val failure = Map("key" -> key, "pass" -> pass, "error" -> e.toString.take(500))
          if (pass == 0) checkErrors += failure else failures += failure
          System.err.println(s"[perfbench] $key (pass $pass): $e")
          None
      } finally {
        if (trace) {
          PerfBenchBridge.drain(sc)
          built.foreach(df => tracer.analyzed(df.queryExecution))
        }
        tracer.currentKey = ""
      }
    }

    def runPass(index: Int, trace: Boolean): Pass = {
      // warm-up passes (index <= 0) run in name order, so every run warms
      // the JIT the same way (with a seeded warm-up order, the same seeds
      // ran slow in repeated sets); the seed orders the measured passes
      val order =
        if (index <= 0) keys.sorted
        else new scala.util.Random(seed * 1000003L + index).shuffle(keys)
      passSpan = tracer.nextId()
      if (trace) {
        tracer.counts.clear()
        sc.addSparkListener(tracer.sparkListener)
      }
      val start = tracer.nowMs()
      val t0 = System.nanoTime()
      val times = order.flatMap(k => execute(k, index, trace).map(k -> _)).toMap
      val wall = (System.nanoTime() - t0) / 1e9
      val end = tracer.nowMs()
      if (trace) {
        tracer.record(Span(passSpan, root, "pass", s"pass $index", start, end))
        PerfBenchBridge.drain(sc)
        sc.removeSparkListener(tracer.sparkListener)
      }
      Pass(index, trace, wall, times, start, end)
    }

    // warm-up (codegen, JIT, file listings, derived layouts); pass 0 also
    // writes the outputs the oracle compare reads; not measured
    val warm = runPass(0, trace = false)
    val rewarm = (1 until warmPasses).map { i =>
      attempted += keys.size
      runPass(-i, trace = false)
    }
    val setup = (System.nanoTime() - t0) / 1e9
    Json.write(new File(checkDir, "oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) })

    val passes = mutable.ArrayBuffer[Pass]()
    val traceRecords = mutable.ArrayBuffer[TracedPass]()
    val gateViolations = mutable.ArrayBuffer[Map[String, Any]]()
    val measureStart = System.nanoTime()
    def measured = (System.nanoTime() - measureStart) / 1e9
    // start another pass only while it is expected to end inside the
    // measuring window; a trace run makes at least U T T U
    def more: Boolean =
      passes.size < (if (traced) 4 else 1) ||
        measured + median(passes.map(_.wall).toSeq) <= seconds
    while (more) {
      val index = passes.size + 1
      // U T T U U T T U ...: a steady drift in pass times cancels out of
      // the traced-minus-untraced difference
      val trace = traced && (index % 4 == 2 || index % 4 == 3)
      val p = runPass(index, trace)
      attempted += keys.size
      passes += p
      if (trace) {
        val byKey = tracer.counts.toMap
        // sources layer: each table the engine reads, scanned into noop
        val scan = timedScans(spark, dataDir)
        traceRecords += TracedPass(p, byKey, scan)
        if (workload == "ingest") keys.foreach { k =>
          if (!byKey.get(k).exists(_.wroteSomething))
            gateViolations += Map("key" -> k, "pass" -> index)
        }
      }
    }

    // full collections with pauses between them, so the context cleaner
    // can release what the first collection found unreachable
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val untracedPasses = passes.filterNot(_.traced)
    val samples = untracedPasses.flatMap(_.times.values).toSeq
    val passS = median(untracedPasses.map(_.wall).toSeq)
    // a key's latency is its median over the measured passes; the query
    // quantiles are taken over those per-key latencies, so each lands in
    // the middle of one key's samples instead of on the edge between two
    // keys of different cost
    val keyLatency = keys.map(k => median(untracedPasses.flatMap(_.times.get(k)).toSeq))
    val endToEnd = Map(
      "setup_s" -> setup,
      "pass_s" -> passS,
      "query_p50_s" -> quantile(keyLatency, 0.5),
      "query_p90_s" -> quantile(keyLatency, 0.9),
      "heap_live_mb" -> heapLive)

    val perLayer = if (!traced) Map.empty[String, Double] else {
      val spans = tracer.spans.toSeq
      layerMetrics(traceRecords.toSeq, spans, cpus) ++ Map(
        "session.build_s" -> sessionBuild,
        "trace.overhead_s" -> (median(traceRecords.map(_.pass.wall).toSeq) - passS))
    }

    spark.stop()

    val perKey = keys.map { k =>
      val ts = untracedPasses.flatMap(_.times.get(k)).toSeq
      val counts = new Counts
      traceRecords.foreach(_.byKey.get(k).foreach(counts.add))
      k -> (Map("median_s" -> median(ts), "samples" -> ts.size) ++
        (if (traced) Map("per_traced_pass" -> scaled(counts, traceRecords.size)) else Map()))
    }.toMap

    val spans = tracer.spans.toSeq :+ Span(root, 0, "run", workload, runStart, tracer.nowMs())
    val self = Tracer.selfTimes(spans)
    if (traced) {
      val w = new PrintWriter(new File(outDir, "trace.jsonl"))
      try spans.sortBy(_.start).foreach { s =>
        w.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> self(s.id))))
      } finally w.close()
    }

    Json.write(new File(outDir, "record.json"), Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cpus, "keys" -> keys, "session_build_s" -> sessionBuild,
      "warmup_pass_s" -> warm.wall, "rewarm_pass_s" -> rewarm.map(_.wall), "attempted" -> attempted,
      "failures" -> failures.toSeq, "check_errors" -> checkErrors.toSeq,
      "gate_violations" -> gateViolations.toSeq, "query_samples" -> samples.size,
      "self_s_per_traced_pass" -> (if (!traced) Map() else spans
        .filter(s => s.kind != "run" && s.kind != "session")
        .groupBy(_.kind).map { case (k, ss) =>
          k -> ss.map(s => self(s.id)).sum / 1e3 / traceRecords.size }),
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wall, "key_s" -> p.times)).toSeq,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer, "per_key" -> perKey))
  }

  private def scaled(c: Counts, n: Int): Map[String, Any] =
    c.toMap.map {
      case (k, v: Long) if k != "max_stage_width" => k -> v.toDouble / n.max(1)
      case (k, v: Double) => k -> v / n.max(1)
      case kv => kv
    }

  /** Time one noop scan of every input table through `Tables`. */
  private def timedScans(spark: SparkSession, dir: String): Double = {
    val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders, Tables.lineitem,
      Tables.events, Tables.documents, Tables.embeddings)
    val t0 = System.nanoTime()
    loaders.foreach(_(spark, dir).write.mode("overwrite").format("noop").save())
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-layer metrics of the traced passes: each is the median over
    * those passes of its per-pass value. */
  private def layerMetrics(records: Seq[TracedPass], spans: Seq[Span],
      cpus: Int): Map[String, Double] = {
    val mb = 1048576.0
    val perPass = records.map { case TracedPass(p, byKey, scanS) =>
      val c = new Counts
      byKey.values.foreach(c.add)
      def in(kind: String) =
        spans.filter(s => s.kind == kind && s.start >= p.start && s.start <= p.end)
      val buildS = in("builder").map(s => s.end - s.start).sum / 1e3
      val jobs = in("job").map(s => (s.start, s.end))
      val idleS = (p.end - p.start - Tracer.covered(p.start, p.end, jobs)) / 1e3
      Map(
        "queries.build_s" -> buildS,
        "queries.build_jobs" -> c.buildJobs.toDouble,
        "queries.build_share" -> buildS / p.wall,
        "plans.analysis_s" -> c.analysisMs / 1e3,
        "plans.optimize_s" -> c.optimizeMs / 1e3,
        "plans.planning_s" -> c.planningMs / 1e3,
        "scheduler.jobs" -> c.jobs.toDouble,
        "scheduler.stages" -> c.stages.toDouble,
        "scheduler.tasks" -> c.tasks.toDouble,
        "scheduler.idle_s" -> idleS,
        "scheduler.single_task_stage_frac" -> c.singleTaskStages.toDouble / c.stages.max(1),
        "scheduler.max_stage_width" -> c.maxStageWidth.toDouble,
        "exec.task_run_s" -> c.taskRunMs / 1e3,
        "exec.task_cpu_s" -> c.taskCpuNs / 1e9,
        "exec.task_gc_s" -> c.taskGcMs / 1e3,
        "exec.slot_util" -> c.taskRunMs / 1e3 / (p.wall * cpus),
        "shuffle.write_mb" -> c.shuffleWrite / mb,
        "shuffle.read_mb" -> c.shuffleRead / mb,
        "shuffle.spill_mb" -> c.spill / mb,
        "sources.input_mb" -> c.inputBytes / mb,
        "sources.input_rows" -> c.inputRows.toDouble,
        "sources.scan_s" -> scanS,
        "streaming.batches" -> c.batches.toDouble,
        "streaming.batch_p50_ms" -> median(c.batchMs.map(_.toDouble).toSeq),
        "streaming.commit_ms" -> c.commitMs.toDouble,
        "streaming.state_rows" -> c.stateRows.toDouble,
        "sinks.write_mb" -> c.outputBytes / mb,
        "sinks.rows_written" -> c.outputRows.toDouble)
    }
    perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
  }
}
