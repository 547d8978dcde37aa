package graft

/** Benchmark harness. One discarded warm PASS over the whole suite
  * (codegen compile, file listing, broadcast build), then
  * SPARK_GRAFT_BENCH_N measured passes (default 5 — JIT/profile warmup
  * of regex-heavy plans needs several spread-out executions to reach
  * steady state under interleaving); the reported number
  * is the per-query MINIMUM across passes (best-of-N, timeit's
  * rationale: contention and GC only ever ADD time, so the minimum is
  * the closest estimator of uncontended steady-state cost). Passes are
  * INTERLEAVED — every query runs once per pass, not N times
  * back-to-back — so a minutes-long system contention burst inflates a
  * stretch of different queries once each (their minima survive)
  * instead of poisoning all N samples of whichever query it lands on
  * (observed: the same query measuring 1.2s and 54s median-of-3 in
  * adjacent suite runs under burst contention).
  *
  * Output protocol (automated callers tail-parse with a bounded window):
  *   1. the FULL per-query JSON is written to /tmp/graft_bench_full.json
  *      and echoed to stderr (unbounded channels);
  *   2. then, after spark.stop(), a COMPACT JSON line (under 1 KB: suite
  *      total, headline queries, error list, pointer to the full file)
  *      is the LAST line of both stderr and stdout — a capture of
  *      either stream, or of both merged, ends on it.
  * Errored queries are surfaced in "errors" (never silently dropped from
  * the report) and excluded from the total.
  *
  * Data dir: SPARK_GRAFT_SF_DIR. Trailing arguments name a key subset
  * (e.g. `SPARK_GRAFT_BENCH_N=4 ... graft.Bench d20_prefix_simjoin` for
  * a quick per-key min-of-4 — not steady state; only the full
  * interleaved suite settles a regression). The loop lives in
  * `Harness.bench`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Harness.main(Array("bench", sfDir) ++ args)
  }
}
