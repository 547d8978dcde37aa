package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{count, expr, lit}
import scala.util.Try

/** The one runner behind every harness main. Subcommands:
  *   bench   <dir>                     [keys...]  interleaved warm + min-of-N suite bench
  *   verify  <dir> <outDir>            [keys...]  parquet per key + oracle_sql.json
  *   smoke   <dir>                     [keys...]  noop-sink run, one [smoke] line per key
  *   explain <dir> <outDir> <suffix>   [keys...]  <outDir>/<key>_<suffix>.txt + operator census
  *   keys                                         every key, sorted
  * Trailing keys select a subset (no keys = every key); an unknown key
  * fails before any work. Every subcommand builds its session through
  * `session` and picks keys through `select` (from `SparkEntry`'s
  * registry); bench and smoke evaluate a key through `runNoop`. The one
  * key list kept here is `headline`; which keys a scale bench skips is
  * each record's `baseline` flag. `graft.Bench` and `graft.Verify` are the
  * fixed-name entry points into `bench` and `verify`.
  * Usage: `sbt "runMain graft.Harness smoke <sfDir>"`, or
  * `tools/run_main.sh graft.Harness ...` from compiled classes.
  */
object Harness {
  type Builder = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: dir :: keys =>
      val ks = select(keys)
      val (full, compact) = withSession(dir)(bench(_, dir, ks))
      // compact last on BOTH streams: a capture that tails either one,
      // or both merged, ends on the compact line
      System.err.println(full)
      System.err.println(compact)
      System.err.flush()
      System.out.println(compact)
      System.out.flush()
    case "verify" :: dir :: outDir :: keys =>
      val ks = select(keys)
      withSession(dir)(verify(_, dir, outDir, ks))
    case "smoke" :: dir :: keys =>
      val ks = select(keys)
      val failed = withSession(dir)(smoke(_, dir, ks)).collect { case (k, Left(_)) => k }
      println(s"[smoke] ${ks.size - failed.size}/${ks.size} pass at $dir" +
        (if (failed.nonEmpty) s"; FAILED: ${failed.mkString(",")}" else ""))
      if (failed.nonEmpty) sys.exit(1)
    case "explain" :: dir :: outDir :: suffix :: keys =>
      val ks = select(keys)
      withSession(dir)(explain(_, dir, outDir, suffix, ks))
    case List("keys") => SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    case _ =>
      System.err.println("usage: graft.Harness bench <dir> | verify <dir> <outDir> | " +
        "smoke <dir> | explain <dir> <outDir> <suffix>  [keys...]  |  keys")
      sys.exit(2)
  }

  /** SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The harness session: local[cpus], shuffle width sized to `dir`. */
  def session(dir: String): SparkSession = {
    val spark = GraftSession.local(cpus.toString, GraftSession.shufflePartitionsFor(dir, cpus))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def withSession[T](dir: String)(f: SparkSession => T): T = {
    val spark = session(dir)
    try f(spark) finally spark.stop()
  }

  /** Named keys in argument order, or every key sorted when none are named. */
  def select(keys: Seq[String]): Seq[(String, Builder)] = {
    val all = SparkEntry.queries
    val unknown = keys.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query key(s): ${unknown.mkString(", ")}")
    if (keys.isEmpty) all.toSeq.sortBy(_._1) else keys.distinct.map(k => k -> all(k))
  }

  /** One timed execution: builder call + noop sink, returning (rows,
    * seconds). The noop sink evaluates every output column (count()
    * would let Catalyst prune computed columns — the m39 class of
    * data-dependent ANSI error lives in a final projection) and writes
    * nothing. The timer starts BEFORE the builder, so eager work inside
    * it (localCheckpoint'ed subplans) is measured; the row count rides
    * the same write as an Observation, never a second evaluation. */
  def runNoop(spark: SparkSession, dir: String, fn: Builder): (Long, Double) = {
    val t0 = System.nanoTime()
    val obs = Observation()
    fn(spark, dir).observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").format("noop").save()
    val sec = (System.nanoTime() - t0) / 1e9
    (obs.get("rows").asInstanceOf[Long], sec)
  }

  /** Every key once through `runNoop`; a `[smoke] <key> rows=… sec=…`
    * line per key on stdout, failures on stderr. Catches every throw so
    * one bad key cannot hide the rest. */
  def smoke(spark: SparkSession, dir: String, keys: Seq[(String, Builder)])
      : Seq[(String, Either[Throwable, (Long, Double)])] =
    keys.map { case (name, fn) =>
      val r = try Right(runNoop(spark, dir, fn)) catch { case e: Throwable => Left(e) }
      r match {
        case Right((rows, sec)) => println(f"[smoke] $name rows=$rows sec=$sec%.3f")
        case Left(e) => System.err.println(s"[smoke] FAIL $name: $e")
      }
      name -> r
    }

  /** Correctness dump: each key's result as one parquet file under
    * `outDir`, plus oracle_sql.json for the DuckDB oracle compare
    * (tools/check_correctness.py). */
  def verify(spark: SparkSession, dir: String, outDir: String,
      keys: Seq[(String, Builder)]): Unit = {
    new java.io.File(outDir).mkdirs()
    keys.foreach { case (name, fn) =>
      try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(keys.map(_._1).toSet))
  }

  /** The selected keys' DuckDB SQL as one JSON object, in
    * `SparkEntry.oracleSql` iteration order. */
  def oracleJson(keys: Set[String]): String =
    SparkEntry.oracleSql.iterator.filter(kv => keys(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make
    * the checker's json.load fail and silently zero the correctness
    * gate. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes `.explain("formatted")` per key to `<outDir>/<key>_<suffix>.txt`
    * (the before/after plan evidence optimization work commits) and
    * prints a one-line operator census of the executed plan per key. */
  def explain(spark: SparkSession, dir: String, outDir: String, suffix: String,
      keys: Seq[(String, Builder)]): Unit = {
    new java.io.File(outDir).mkdirs()
    keys.foreach { case (name, fn) =>
      val qe = fn(spark, dir).queryExecution
      val path = s"$outDir/${name}_$suffix.txt"
      val w = new java.io.PrintWriter(path)
      try w.println(qe.explainString(ExplainMode.fromString("formatted"))) finally w.close()
      println(f"[explain] $name%-22s ${census(qe.executedPlan.toString)} -> $path")
    }
  }

  private val censusOps = Seq("Exchange" -> "Exchange ", "SMJ" -> "SortMergeJoin",
    "BHJ" -> "BroadcastHashJoin", "BNLJ" -> "BroadcastNestedLoopJoin",
    "CART" -> "CartesianProduct", "Sort" -> "Sort \\[", "TOP" -> "TakeOrderedAndProject")

  private def census(plan: String): String = censusOps
    .map { case (tag, re) => tag -> re.r.findAllIn(plan).size }
    .collect { case (tag, n) if n > 0 => s"$tag=$n" }.mkString(" ")

  // ------------------------------------------------------------ bench

  /** SURVEY §6 headline set — inlined in the compact line. The original
    * six are sub-second overhead-bound keys; the six after them are the
    * suite's heaviest, where parallelism and optimization wins show. */
  val headline = Seq("q1_pricing_summary", "q3_join_agg",
    "q4_broadcast_join", "d3_minhash_lsh", "s1_ann_brute", "t2_quality",
    "d20_prefix_simjoin", "q37_format_roundtrip", "t17_embed_fidelity",
    "s11_ann_pq", "q56_sketch_join_strategy", "t27_bpe_batch")

  /** SPARK_GRAFT_BENCH_SKIP_BASELINES=1 — scale-run cost control
    * (SF≥1): drop the keys whose record sets `baseline` (the
    * DECLARED-quadratic correctness baselines and the byte-linear I/O
    * roundtrip; each record's comment says why). They dominate sf1 wall
    * time while measuring nothing about the scale paths. sf0.1 benches
    * never set this. */
  lazy val baselines: Set[String] =
    SparkEntry.registry.values.filter(_.baseline).map(_.name).toSet

  private val fullPath = "/tmp/graft_bench_full.json"

  private def r3(v: Double): String = f"$v%.3f"

  private def jsonObj(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => jsonString(k) + ":" + r3(v) }.mkString("{", ",", "}")

  private def jsonArr(ks: Seq[String]): String = ks.map(jsonString).mkString("[", ",", "]")

  /** See `graft.Bench` for the measurement method. Returns the full and
    * the compact JSON lines, and writes the full one to `fullPath`. */
  def bench(spark: SparkSession, dir: String, keys: Seq[(String, Builder)]): (String, String) = {
    val iters = Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "5").trim.toInt)
      .getOrElse(5).max(1)
    val skipBaselines = sys.env.get("SPARK_GRAFT_BENCH_SKIP_BASELINES")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val ordered = keys.filterNot { case (n, _) => skipBaselines && baselines(n) }
    // JIT/codegen warmup so the first measured queries don't absorb JVM
    // startup (hash agg, shuffle, md5/regex/string/window codepaths).
    spark.range(2000000)
      .selectExpr("id", "md5(cast(id as string)) as m")
      .selectExpr("id", "m", "regexp_replace(upper(m), '[0-9]+', ' ') as r")
      .selectExpr("id", "m", "r", "explode(split(trim(r), '\\\\s+')) as t")
      .groupBy(expr("substr(m, 1, 2)"))
      .agg(expr("count(distinct t)"), expr("sum(length(r))"))
      .count()
    spark.range(1000000).selectExpr("id % 97 as k", "id as v")
      .selectExpr("k", "v", "row_number() over (partition by k order by v desc) as rn")
      .filter(expr("rn <= 3"))
      .write.mode("overwrite").format("noop").save()
    val failed = scala.collection.mutable.Set[String]()
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    (0 to iters).foreach { pass => // pass 0 = warm, discarded
      ordered.foreach { case (name, fn) =>
        if (!failed(name)) {
          try {
            val t = runNoop(spark, dir, fn)._2
            if (pass > 0) samples(name) ::= t
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name (pass $pass): $e")
            failed += name
          }
        }
      }
    }
    val results = ordered.map { case (name, _) =>
      name -> (if (failed(name) || samples(name).isEmpty) -1.0 else samples(name).min)
    }
    val ok = results.filter(_._2 >= 0)
    // pass-to-pass spread (max/min per query): drift like a contention
    // burst inflating one query is visible in ONE artifact
    val spread = ok.collect { case (k, v) if v > 0 => k -> samples(k).max / v }
    // honesty guard: a per-query minimum below ~50 ms at sf0.1 usually
    // means the query escaped evaluation (lazy plan, cached result)
    val suspects = ok.filter(_._2 < 0.05).map(_._1)
    val full =
      s"""{"metric":"total","value":${r3(ok.map(_._2).sum)},"unit":"sec","queries":${jsonObj(results)},"spread":${jsonObj(spread)},"suspect_fast":${jsonArr(suspects)},"sf":${jsonString(dir)},"runs":$iters,"n_queries":${results.length},"errors":${jsonArr(results.filter(_._2 < 0).map(_._1))}}"""
    Try(Files.writeString(Paths.get(fullPath), full + "\n"))
    (full, compactLine(results, dir, iters))
  }

  /** The line automated callers tail-parse: suite total, headline
    * keys, errors and a pointer to the full file. Errors are capped at
    * ten names so the line stays under 1 KB; the full JSON lists all. */
  def compactLine(results: Seq[(String, Double)], dir: String, runs: Int): String = {
    val ok = results.filter(_._2 >= 0)
    val errs = results.filter(_._2 < 0).map(_._1)
    s"""{"metric":"total","value":${r3(ok.map(_._2).sum)},"unit":"sec","queries":${jsonObj(ok.filter(kv => headline.contains(kv._1)))},"sf":${jsonString(dir)},"runs":$runs,"n_queries":${results.length},"errors":${jsonArr(errs.take(10))},"full":${jsonString(fullPath)}}"""
  }
}
