package graft

import java.nio.file.Files
import java.time.Instant

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Every declared query must run at sf0.001 and return rows; spot-check
  * known invariants. The DuckDB oracle parity is exercised by
  * tools/check_correctness.py (driver gate replica).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  val sf = "/root/testdata/sf0.001"

  test("every declared query runs and returns rows at sf0.001") {
    // fork gate on the same loop, so no key runs an extra time: a JFR
    // recording of process starts, none of which may come from Hadoop's
    // Shell (the chmod/readlink that graft.sources.LocalFs replaces)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val windows = ArrayBuffer.empty[(String, Instant, Instant)]
    // the context's start (and Shell's one-time `setsid` probe) is not a key's
    spark.sparkContext
    rec.start()
    // noop sink, not count(): every output column is evaluated (count()
    // lets Catalyst prune computed ones); rows ride the same write
    val empty = try SparkEntry.queries.flatMap { case (name, fn) =>
      val t0 = Instant.now()
      val rows = Harness.runNoop(spark, sf, fn)._1
      windows += ((name, t0, Instant.now()))
      if (rows == 0) Some(name) else None
    } finally rec.stop()
    val jfr = Files.createTempFile("graft_forks", ".jfr")
    val forks = try {
      rec.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
      }
    } finally { rec.close(); Files.deleteIfExists(jfr) }
    assert(empty.isEmpty, s"queries with zero rows: $empty")
    if (forks.nonEmpty) {
      val at = forks.map { e =>
        val t = e.getStartTime
        val key = windows.collectFirst {
          case (k, a, b) if !t.isBefore(a) && !t.isAfter(b) => k
        }
        (e.getString("command").split(" ").head, key.getOrElse("(between keys)"))
      }
      fail(s"${forks.size} process starts through Hadoop's Shell, by command and key: " +
        at.groupBy(identity).toSeq.sortBy(-_._2.size)
          .map { case ((cmd, key), n) => s"${n.size}x $cmd in $key" }.mkString("; "))
    }
  }

  test("driver smoke: entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("key registry: names unique, oracles non-blank, 307 keys") {
    val keys = SparkEntry.keys
    val twice = keys.map(_.name).diff(keys.map(_.name).distinct)
    assert(twice.isEmpty, s"declared twice: $twice")
    val blank = keys.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle: $blank")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 307)
    // a repeated name is an error, not a silent replacement
    val q1 = SparkEntry.registry("q1_pricing_summary")
    val e = intercept[IllegalArgumentException] {
      graft.queries.QueryKey.registry(Seq(q1, q1.copy(oracle = "SELECT 1")(q1.build)))
    }
    assert(e.getMessage.contains("q1_pricing_summary"))
  }

  test("results are partitioning-invariant: shuffle-partition count never changes output") {
    // the determinism contract behind every oracle claim: float finishes
    // (m37), integer trainers (s6), sketches (m47), window reuse (t13),
    // candidate metrics (d19), Expand reshape (q41) — each must produce
    // IDENTICAL rows whether the shuffle fans to 3 or 16 partitions
    val keys = Seq("m37_metric_correlation", "t13_rarity_score",
      "s6_ann_trained", "m47_log_quantile", "d19_containment", "q41_unpivot",
      // round-10 iterative/fold keys: BPE's argmax ties, the beam
      // walk's (sim, node) order, and the sketch censuses must not
      // depend on how the shuffle fans out
      "t21_bpe_learn", "s22_graph_ann", "q50_join_cardinality",
      // ranks numbered by TopNPerKey's final heap, not a window: heap
      // order must not depend on how many partitions feed it
      "s3_ann_ivf", "s12_ann_ivfpq", "s18_probe_sweep", "s24_serving_index",
      // monitoring keys whose sub-MB shuffles split at all only because
      // graft's coalescing floor (16 KB) is below Spark's 1 MB
      "m20_cons_parse", "m32_cms_heavy_hitters", "m44_burn_rate", "m45_hll_algebra")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(n: Int, k: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try SparkEntry.queries(k)(spark, sf).collect().toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    keys.foreach { k =>
      assert(run(3, k) == run(16, k), s"$k output changed with partitioning")
    }
  }

  test("Observation metrics ride the job — no second pass, values match a direct agg") {
    import org.apache.spark.sql.functions._
    // the production telemetry hook: a 100-TB ingest accounts rows /
    // nulls / value mass DURING the job via observe(), instead of
    // re-scanning the corpus for a metrics pass. Values must equal a
    // direct aggregation of the same input.
    val obs = new org.apache.spark.sql.Observation("ingest_metrics")
    val ev = graft.sources.Tables.events(spark, sf)
    val out = ev.observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_users"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    out.collect() // one job; metrics observed on the side
    val m = obs.get
    val direct = ev.agg(count(lit(1)),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)),
      sum(round(col("value") * 100).cast("long"))).head()
    assert(m("n_rows") == direct.getLong(0))
    assert(m("n_null_users") == direct.getLong(1))
    assert(m("value_cents") == direct.getLong(2))
  }

  test("q49: typed TopKIds aggregator is result-identical to the window top-k form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("q49_typed_agg")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        col("l_partkey"))
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("cents").desc, col("l_partkey"))
    val want = li.withColumn("rn", row_number().over(w))
      .groupBy(col("l_orderkey"))
      .agg(concat_ws(",", expr(
        "transform(array_sort(collect_list(IF(rn <= 3, struct(rn, l_partkey), NULL))), x -> CAST(x.l_partkey AS STRING))"))
        .as("top_parts"), count(lit(1)).as("n_items"))
      .orderBy(col("l_orderkey")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length == want.length && got.sameElements(want),
      s"first diff: ${got.zip(want).find { case (a, b) => a != b }}")
    // k=1 degenerates to max_by with the deterministic tie-break
    val udaf1 = udaf(new graft.functions.TypedAggregators.TopKIds(1))
    val one = li.groupBy(col("l_orderkey"))
      .agg(udaf1(col("cents"), col("l_partkey")).as("top1"),
        min_by(col("l_partkey"), struct(negate(col("cents")), col("l_partkey"))).as("mb"))
      .filter(col("top1") =!= col("mb").cast("string")).count()
    assert(one == 0L, "TopKIds(1) must equal min_by on (-cents, partkey)")
  }

  test("TopKIds reduce/merge match the sort-take-k reference on random streams (in-place insert)") {
    val rnd = new scala.util.Random(49)
    val agg = new graft.functions.TypedAggregators.TopKIds(3)
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      // small value domain forces ties → exercises the id tie-break
      val pairs = Seq.fill(n)((rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
      val want = pairs.sortBy { case (v, id) => (-v, id) }.take(3)
        .map(_._2).mkString(",")
      // single-buffer fold (pure reduce path)
      val folded = pairs.foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(folded) == want, s"reduce path diverged on $pairs")
      // partitioned fold + merge (the partial/final split), random cut
      val cut = rnd.nextInt(n + 1)
      val (l, r) = pairs.splitAt(cut)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(merged) == want, s"merge path diverged on $pairs cut=$cut")
    }
  }

  test("q1 aggregates are internally consistent") {
    val r = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(r.length == 6) // 3 returnflags x 2 linestatus
    r.foreach { row =>
      val sumQty = row.getAs[Double]("sum_qty")
      val avgQty = row.getAs[Double]("avg_qty")
      val n = row.getAs[Long]("count_order")
      assert(math.abs(sumQty / n - avgQty) < 1e-9)
    }
  }

  test("q7 top-k is sorted descending") {
    val prices = SparkEntry.queries("q7_topk_orders")(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("q50: sketch join-cardinality estimates are one-sided and coarsening only adds") {
    // hash collisions merge buckets, and Σ l[b]·o[b] over merged buckets
    // can only gain cross terms → est ≥ exact; width 256 merges MORE
    // than 4096 (it is its div-16 coarsening) → est_256 ≥ est_4096
    val rows = SparkEntry.queries("q50_join_cardinality")(spark, sf)
      .collect().map(r => r.getAs[String]("variant") ->
        (r.getAs[Long]("est"), r.getAs[Long]("err_bp"))).toMap
    assert(rows.keySet == Set("exact", "cms_4096", "cms_256"))
    val exact = rows("exact")._1
    assert(rows("exact")._2 == 0L)
    assert(exact > 0L)
    assert(rows("cms_4096")._1 >= exact, s"4096 must be one-sided: $rows")
    assert(rows("cms_256")._1 >= rows("cms_4096")._1,
      s"coarsening must only add collisions: $rows")
    assert(rows("cms_4096")._2 >= 0L && rows("cms_256")._2 >= rows("cms_4096")._2)
  }

  test("q85 Layout: morton interleaves exactly; two-level fileIds == global rank on any partitioning") {
    import org.apache.spark.sql.functions._
    import graft.operators.Layout
    import spark.implicits._
    // closed-form morton checks: x occupies even bit positions, y odd
    val m = spark.range(1).select(
      Layout.morton(lit(3L), lit(1L), 2).as("a"),   // 0b0101 | 0b0010 = 7
      Layout.morton(lit(0L), lit(3L), 2).as("b"),   // 0b1010 = 10
      Layout.morton(lit(16383L), lit(0L), 14).as("c")) // all even bits set
      .collect()(0)
    assert(m.getLong(0) == 7L && m.getLong(1) == 10L, m.toString)
    assert(m.getLong(2) == (0 until 14).map(i => 1L << (2 * i)).sum)
    // file assignment is partitioning-invariant and equals the global
    // row_number formulation (the single-partition-sort oracle)
    val data = (0L until 5000L).map(i => ((i * 131) % 997, (i * 37) % 997, i))
    def files(parts: Int) = {
      val df = spark.createDataset(data).toDF("x", "y", "id").repartition(parts)
      Layout.fileIds(df, Layout.morton(col("x"), col("y"), 10),
          Seq(col("x"), col("y"), col("id")), bucketShift = 15, rowsPerFile = 256)
        .select(col("id"), col("_file")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    val f1 = files(1)
    assert(files(7) == f1, "file assignment changed with partitioning")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("m"), col("x"), col("y"), col("id"))
    val truth = spark.createDataset(data).toDF("x", "y", "id")
      .withColumn("m", Layout.morton(col("x"), col("y"), 10))
      .withColumn("_file", ((row_number().over(w) - 1) / 256).cast("long"))
      .select(col("id"), col("_file")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(f1 == truth, "two-level rank diverged from the global sort")
  }
}
