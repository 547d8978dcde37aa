package graft

import org.apache.spark.sql.SparkSession

/** Central session configuration for the graft engine.
  *
  * Scale posture: AQE on (runtime partition coalescing + skew-join
  * splitting), UTC session time, and no hard-coded partition counts in any
  * operator — parallelism comes from the cluster config, so the same code
  * runs on local[32] and a 1000-executor cluster.
  *
  * Coalescing floor: under `parallelismFirst` (Spark's default) AQE
  * coalesces a shuffle to partitions of
  * `max(min(total / cores, advisory), minPartitionSize)` bytes. Spark's
  * 1 MB floor merges every sub-MB shuffle into ONE partition, so a small
  * input's post-shuffle work (m20's log-line parse) runs on one thread.
  * graft lowers the floor to 16 KB: a shuffle smaller than
  * cores × 1 MB now still spreads over the cores. A shuffle of
  * cores × 1 MB or more is sized by `total / cores` or the advisory size
  * alone, as before, and skew splitting never reads the floor, so the
  * large shuffles that carry the work at sf ≥ 1 coalesce as they did.
  * Smaller shuffles at sf ≥ 1 (partial aggregates, narrow key columns)
  * do spread wider. The floor's cost is more tasks where the
  * post-shuffle work is trivial.
  */
object GraftSession {

  /** Apply graft's standard config to a builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.adaptive.enabled", "true")
    // static conf, default 100: a 90+-query workload cycling through the
    // whole-stage-codegen cache re-Janino-compiles every plan on every
    // revisit (~1.5× uniform slowdown measured on the interleaved bench)
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // coalescing floor (see the scaladoc above); Spark's default is 1 MB
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
    // spark.sql.codegen.hugeMethodLimit stays at its 65535 default —
    // PROBED in r15, do not "fix" it to HotSpot's 8000 JIT cutoff: the
    // fallback helped exactly one pathological stage (q85's inner-join
    // isnotnull inlining a Morton tree below the window — fixed
    // structurally, see Relational.bucketedGlobalRankBy's left join)
    // and cost 0.1-0.28 s EACH on ten other keys (m20/q56/q8/s10/s20/
    // s22/s6/s9: un-JIT-able generated bytecode with its
    // subexpression-eliminated locals still beats Spark's interpreted
    // expression path, which re-walks shared subtrees per reference).
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet has shipped as TIMESTAMP(NANOS) (older generators) and
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) (current). Keep nanosAsLong
    // so a NANOS column arrives as Long; Tables.events normalizes either
    // form to µs TimestampType.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    // write µs (not INT96) so emitted timestamps match DuckDB's TIMESTAMP
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // local files through java.nio instead of a `chmod`/`readlink` child
    // process per create, mkdir and checkpoint rename (graft.sources.LocalFs)
    .config("spark.hadoop.fs.file.impl", classOf[graft.sources.ForklessLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.sources.ForklessLocalFs].getName)

  /** Shuffle-partition count for a bench/measurement run over `dir`:
    * scale with INPUT VOLUME, not a fixed thread count. The r14 sf10
    * cohort showed why: m5/m20's oracle-mandated global ORDER BY
    * materializes 60M wide parsed rows through 32 range partitions
    * (~1.9M rows/task) and single-JVM GC turns a linear plan into
    * 1.3-1.5× superlinear wall time. A real cluster sets
    * spark.sql.shuffle.partitions ∝ data; the harness does the same:
    * one shuffle partition per ~4 MB of source parquet (compressed
    * parquet fans out 10-30× into shuffle rows, so this lands near the
    * classic 100-200 MB-per-task target), floored at the thread count
    * (so sf0.1 and below run one partition per thread) and capped at
    * 1024. SPARK_GRAFT_SHUFFLE_PARTITIONS overrides. */
  def shufflePartitionsFor(dir: String, cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse {
        def size(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
        val bytes = scala.util.Try(size(new java.io.File(dir))).getOrElse(0L)
        math.max(cpus, math.min(1024L, bytes / (4L << 20)).toInt)
      }

  /** Local session for tests / tools. */
  def local(cores: String = "4", shufflePartitions: Int = 8): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
