package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfBenchSqlBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (driver spans are
  * taken from `nanoTime` against an epoch anchor, so they line up with
  * the listener bus's millisecond event times). `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double)

/** Work counted at one layer boundary. One instance per key per pass;
  * pass totals are sums of these. */
final class Counts {
  var jobs, buildJobs, stages, singleTaskStages, tasks, maxStageWidth = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L
  var analysisMs, optimizeMs, planningMs = 0L
  var batches, commitMs, stateRows = 0L
  val batchMs = mutable.ArrayBuffer[Long]()

  def add(o: Counts): Unit = {
    jobs += o.jobs; buildJobs += o.buildJobs; stages += o.stages
    singleTaskStages += o.singleTaskStages; tasks += o.tasks
    maxStageWidth = maxStageWidth.max(o.maxStageWidth)
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; taskGcMs += o.taskGcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    analysisMs += o.analysisMs; optimizeMs += o.optimizeMs; planningMs += o.planningMs
    batches += o.batches; commitMs += o.commitMs; stateRows += o.stateRows
    batchMs ++= o.batchMs
  }

  /** The ingest gate: the key wrote bytes or rows, or ran a micro-batch. */
  def wroteSomething: Boolean = outputBytes > 0 || outputRows > 0 || batches > 0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages,
    "single_task_stages" -> singleTaskStages, "tasks" -> tasks,
    "max_stage_width" -> maxStageWidth, "task_run_ms" -> taskRunMs,
    "task_cpu_ms" -> taskCpuNs / 1e6, "task_gc_ms" -> taskGcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "output_bytes" -> outputBytes, "output_rows" -> outputRows,
    "analysis_ms" -> analysisMs, "optimize_ms" -> optimizeMs,
    "planning_ms" -> planningMs, "batches" -> batches, "commit_ms" -> commitMs,
    "state_rows" -> stateRows)
}

/** Spans and counts for a traced run, collected from outside the engine:
  * driver-side spans around calls into public entry points, and a
  * SparkListener, QueryExecutionListener and StreamingQueryListener for
  * the work Spark does underneath them. Everything stays in memory until
  * the run writes it out.
  *
  * Only the SparkListener is registered, on the SparkContext: it hands
  * SQL-execution and streaming-progress events to the other two, so
  * queries and streams of every session are seen, including sessions a
  * key builds for itself.
  *
  * Attribution: the harness drains the listener bus after every key, so
  * every event handled while `currentKey` is K was posted while K ran.
  * A Spark job's parent span comes from the `perfbench.span` local
  * property the harness sets around each builder and sink call. */
final class Tracer {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer[Span]()
  @volatile var currentKey = ""
  @volatile var keySpan = 0L
  /** counts of the pass being traced, by key; reset per pass */
  val counts = mutable.Map[String, Counts]()

  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Time `body` as a span; the span is recorded even when body throws. */
  def span[T](kind: String, name: String, parent: Long, id: Long = nextId())(body: => T): T = {
    val t0 = nowMs()
    try body finally record(Span(id, parent, kind, name, t0, nowMs()))
  }

  /** Catalyst analyzes the builder's DataFrame when the builder creates
    * it; the sink's execution only analyzes the write around it. Called
    * on the driver thread after the bus is drained. */
  def analyzed(qe: QueryExecution): Unit =
    here.analysisMs += qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)

  private def here: Counts = counts.synchronized {
    counts.getOrElseUpdate(currentKey, new Counts)
  }

  private val openJobs = mutable.Map[Int, (Long, Long, Double)]()
  /** span ids of the builder calls; a job under one is an eager build job */
  val builderSpans = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toLong).getOrElse(keySpan)
      val inBuild = builderSpans.contains(parent)
      val c = here
      c.jobs += 1
      if (inBuild) c.buildJobs += 1
      openJobs(e.jobId) = (nextId(), parent, e.time.toDouble)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      openJobs.remove(e.jobId).foreach { case (id, parent, t0) =>
        record(Span(id, parent, "job", s"job ${e.jobId}", t0, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = here
      val n = e.stageInfo.numTasks.toLong
      c.stages += 1
      c.tasks += n
      if (n == 1) c.singleTaskStages += 1
      c.maxStageWidth = c.maxStageWidth.max(n)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfBenchSqlBridge.finished(end).foreach { case (name, qe, ns) =>
          queryListener.onSuccess(name, qe, ns)
        }
      case p: StreamingQueryListener.QueryProgressEvent => streamListener.onQueryProgress(p)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val c = here
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = here
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizeMs += ms("optimization")
      c.planningMs += ms("planning")
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val c = here
      c.batches += 1
      c.batchMs += d("triggerExecution")
      c.commitMs += d("walCommit") + d("commitOffsets") +
        p.stateOperators.map(_.commitTimeMs).sum
      c.stateRows = p.stateOperators.map(_.numRowsTotal).sum
    }
  }
}

object Tracer {
  /** Total length of the union of intervals `iv`, each clipped to [from, to]. */
  def covered(from: Double, to: Double, iv: Seq[(Double, Double)]): Double = {
    var total, lo, hi = 0.0
    var open = false
    iv.map { case (a, b) => (a.max(from), b.min(to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (open && a <= hi) hi = hi.max(b)
        else {
          if (open) total += hi - lo
          lo = a; hi = b; open = true
        }
      }
    if (open) total += hi - lo
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.end - s.start - covered(s.start, s.end, iv))
    }.toMap
  }
}
