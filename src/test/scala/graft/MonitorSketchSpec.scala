package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Null-edge differential gate for the monitor sketch keys (m32, m44,
  * m45, m47), the m35 null-key case and m43's null bins. The sf
  * fixtures carry no nulls, so the DuckDB oracle never sees a
  * null-semantics slip; this spec plants an events table that has null
  * user_id, null ts, null value and null event_type rows, users
  * repeated within and across event types, CMS buckets shared by
  * several keys, and a type whose only events have a null user_id.
  * Each key must equal, row for row and in schema, the formulation it
  * replaced (`Reference` below: the self-joined, re-aggregated and
  * wide-column builders, kept verbatim) — m43, m45 and m47 on the
  * fixture stripped of the rows they drop, as their oracles do. */
class MonitorSketchSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()

  /** 3,000 events over three hours (36 five-minute buckets), plus 200
    * null-ts errors, 5 events of a type seen only with a null user_id,
    * and one event with a null type. Hour 1 burns at 25% errors (50% in
    * its first bucket), the other hours at 5%: with the null-ts errors
    * in the global rate some buckets page, and without them more do. */
  private def plant(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val main = (0 until 3000).map { i =>
      val hot = if (i >= 1000 && i < 1083) i % 2 == 0 else if (i >= 1000 && i < 2000)
        i % 4 == 0 else i % 20 == 0
      val tpe = if (hot) "error" else Seq("view", "click", "purchase")(i % 3)
      // every third event goes to one of 40 heavy users, the rest spread
      // over ~1,000 light ones (all 64 HLL registers hit)
      val user = if (i % 97 == 0) None
        else if (i % 3 == 0) Some(1L + (i / 3) % 40) else Some(41L + (i * 7919L) % 1500)
      val value = if (i % 89 == 0) None else Some(((i * 37) % 20000 - 500) / 100.0)
      // one event every 3.6 s: hour 1 is events 1000..1999
      (i.toLong, Option(base + i * 3600000L), user, Option(tpe), value)
    }
    val nullTs = (0 until 200).map(i =>
      (3000L + i, Option.empty[Long], Option(1L + i % 50), Option("error"), Option(1.5)))
    val ghost = (0 until 5).map(i =>
      (3200L + i, Option(base + i * 1000000L), Option.empty[Long], Option("ghost"), Option(2.0)))
    val untyped = Seq((3300L, Option(base), Option(7L), Option.empty[String], Option(3.0)))
    (main ++ nullTs ++ ghost ++ untyped)
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", expr("timestamp_micros(ts_us)").cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", lit("{}").as("props"))
  }

  private lazy val dir: String = {
    val d = TempDirs("graft_sketch_nulls")
    plant(spark).coalesce(1).write.parquet(s"$d/events.parquet")
    d.toString
  }

  /** The planted fixture without the rows `keep` rejects, as its own
    * table — what a key that drops those rows must equal. */
  private def stripped(prefix: String, keep: Column): String = {
    val d = TempDirs(prefix)
    Tables.events(spark, dir).filter(keep).write.parquet(s"$d/events.parquet")
    d.toString
  }

  /** `key` on the planted fixture equals `ref` on `refDir`, row for row
    * and in schema. */
  private def assertSameRows(key: String, ref: (SparkSession, String) => DataFrame,
      refDir: String = dir): Unit = {
    val now = SparkEntry.queries(key)(spark, dir)
    val was = ref(spark, refDir)
    assert(now.schema == was.schema, s"$key schema")
    val (a, b) = (now.collect().toSeq, was.collect().toSeq)
    assert(a.nonEmpty, s"$key: no rows")
    assert(a == b, s"$key:\nnow ${a.mkString("\n")}\nwas ${b.mkString("\n")}")
  }

  test("the planted fixture carries every null edge the four keys must keep") {
    val ev = Tables.events(spark, dir)
    val r = ev.agg(
      sum(when(col("user_id").isNull, 1).otherwise(0)),
      sum(when(col("ts").isNull, 1).otherwise(0)),
      sum(when(col("value").isNull, 1).otherwise(0)),
      sum(when(col("event_type") === "ghost" && col("user_id").isNotNull, 1).otherwise(0)),
      countDistinct(col("user_id"))).head()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0 && r.getLong(2) > 0, r)
    assert(r.getLong(3) == 0 && r.getLong(4) >= 500, r)
  }

  test("m32: per-key hashing equals the per-event sketch, and the estimate is one-sided") {
    assertSameRows("m32_cms_heavy_hitters", Reference.m32)
    val out = SparkEntry.queries("m32_cms_heavy_hitters")(spark, dir).collect()
    assert(out.forall(r => !r.isNullAt(0) && r.getLong(2) >= r.getLong(1)))
    // 500+ keys share 4 × 256 cells: some top key's cells all carry another key
    assert(out.exists(r => r.getLong(2) > r.getLong(1)))
  }

  test("m44: window rollups equal the self-joined hour and global rates; the null-ts bucket counts in g only") {
    assertSameRows("m44_burn_rate", Reference.m44)
    val out = SparkEntry.queries("m44_burn_rate")(spark, dir).collect()
    assert(out.forall(!_.isNullAt(0)))
    assert(out.exists(_.getInt(5) == 1), "the hot bucket must page")
  }

  test("m45: tall register vectors equal the 64 wide columns, a null-only type included") {
    // a null type is no segment (the oracle never pairs it); null
    // user_ids stay — they are no register, and ghost has only those
    assertSameRows("m45_hll_algebra", Reference.m45,
      stripped("graft_sketch_m45", col("event_type").isNotNull))
    val out = SparkEntry.queries("m45_hll_algebra")(spark, dir).collect()
    assert(out.exists(r => r.getString(0) == "ghost" || r.getString(1) == "ghost"))
  }

  test("m47: binning without the day equals the per-day partials merged") {
    // rows without a v (null value or user_id) or a type carry no bin
    assertSameRows("m47_log_quantile", Reference.m47,
      stripped("graft_sketch_m47", col("event_type").isNotNull &&
        col("value").isNotNull && col("user_id").isNotNull))
  }

  test("m43: a null value or type carries no bin") {
    assertSameRows("m43_quantile_sketch", Reference.m43,
      stripped("graft_sketch_m43", col("event_type").isNotNull && col("value").isNotNull))
  }

  test("m35: a null user_id is no register — n_hit stays within 64") {
    val nonNull = stripped("graft_sketch_nonull", col("user_id").isNotNull)
    val withNulls = SparkEntry.queries("m35_hll_distinct")(spark, dir).head()
    val without = SparkEntry.queries("m35_hll_distinct")(spark, nonNull).head()
    // every register is hit by the non-null keys, so a counted null
    // group would read 65
    assert(without.getInt(1) == 64, without)
    assert(withNulls == without, s"$withNulls != $without")
  }

  /** The builders the four keys had before they were folded to one
    * aggregate, verbatim, and m43's builder before it dropped null
    * values and types. */
  private object Reference {
    def m43(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT) div 64").as("bin"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val merged = daily.groupBy(col("event_type"), col("bin"))
        .agg(sum(col("c")).as("c"))
      val byType = Window.partitionBy(col("event_type"))
      val cum = merged
        .withColumn("n", sum(col("c")).over(byType))
        .withColumn("cum", sum(col("c"))
          .over(byType.orderBy(col("bin"))))
      def estAt(p: Int): Column =
        ((min(when(col("cum") * 100 >= col("n") * p, col("bin"))) + 1) * 64)
          .cast("double") / 100.0
      cum.groupBy(col("event_type"))
        .agg(max(col("n")).cast("long").as("n"),
          count(lit(1)).cast("int").as("n_bins"),
          estAt(50).as("p50_est"), estAt(95).as("p95_est"), estAt(99).as("p99_est"))
        .orderBy(col("event_type"))
    }

    def m32(s: SparkSession, dir: String): DataFrame = {
      val keys = Tables.events(s, dir)
        .select(col("user_id").cast("string").as("key"))
      val bucketed = keys.select(col("key"),
          explode(array((0 until 4).map(i => lit(i)): _*)).as("r"))
        .withColumn("_m", md5(concat(lit("cms"), col("r"), lit("|"), col("key"))))
        .withColumn("b", expr(
          "(instr('0123456789abcdef', substr(_m, 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substr(_m, 2, 1)) - 1)"))
        .select(col("key"), col("r"), col("b"))
      val sketch = bucketed.groupBy(col("r"), col("b"))
        .agg(count(lit(1)).as("c"))
      val trueCounts = keys.groupBy(col("key")).agg(count(lit(1)).as("true_n"))
      val est = bucketed.distinct()
        .join(broadcast(sketch), Seq("r", "b"))
        .groupBy(col("key")).agg(min(col("c")).as("cms_n"))
      trueCounts.join(est, Seq("key"))
        .orderBy(col("true_n").desc, col("key"))
        .limit(20)
    }

    def m44(s: SparkSession, dir: String): DataFrame = {
      val b5 = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 300000000").as("b5"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .groupBy(col("b5"))
        .agg(count(lit(1)).as("n"), sum(col("is_err")).as("e"))
      val h = b5.groupBy(expr("b5 div 12").as("bh"))
        .agg(sum(col("n")).as("nh"), sum(col("e")).as("eh"))
      val g = b5.agg(expr("sum(e) * 10000 div sum(n)").as("g_bp"))
      b5.withColumn("bh", expr("b5 div 12"))
        .join(h, Seq("bh"))
        .crossJoin(broadcast(g))
        .withColumn("err5_bp", expr("e * 10000 div n"))
        .withColumn("err1h_bp", expr("eh * 10000 div nh"))
        .withColumn("fast_burn",
          (col("err5_bp") >= lit(2) * col("g_bp") &&
           col("err1h_bp") * 10 >= lit(12) * col("g_bp")).cast("int"))
        .select(expr("timestamp_micros(b5 * 300000000)").cast("timestamp_ntz").as("bucket"),
          col("n"), col("e"), col("err5_bp"), col("err1h_bp"), col("fast_burn"))
        .orderBy(col("bucket"))
    }

    def m45(s: SparkSession, dir: String): DataFrame = {
      import graft.functions.HllSketch
      val hashed = HllSketch.withIndexRank(
        Tables.events(s, dir).select(col("event_type"), col("user_id")),
        col("user_id"))
      val aggs = HllSketch.registerAggs
      val perType = hashed.groupBy(col("event_type"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("s_total", expr(HllSketch.sTotalExpr))
        .withColumn("est", expr(HllSketch.estimateExpr))
        .withColumn("regs", array((0 until HllSketch.registers)
          .map(i => coalesce(col(s"r$i"), lit(0))): _*))
        .select(col("event_type"), col("regs"), col("est"))
      perType
        .agg(expr("array_sort(collect_list(struct(event_type, regs, est)))").as("sk"))
        .select(explode(expr(
          "flatten(transform(sequence(1, size(sk) - 1), i -> " +
          "transform(sequence(0, i - 1), j -> struct(sk[j] AS a, sk[i] AS b))))")).as("p"))
        .select(col("p.a.event_type").as("type_a"), col("p.b.event_type").as("type_b"),
          col("p.a.est").as("est_a"), col("p.b.est").as("est_b"),
          expr("aggregate(zip_with(p.a.regs, p.b.regs, (x, y) -> " +
            "shiftleft(CAST(1 AS BIGINT), CAST(50 - greatest(x, y) AS INT))), " +
            "CAST(0 AS BIGINT), (acc, t) -> acc + t)").as("s_union"))
        .withColumn("est_union", expr(HllSketch.estimateOf("s_union")))
        .withColumn("est_inter",
          expr("greatest(CAST(0 AS BIGINT), est_a + est_b - est_union)"))
        .withColumn("jaccard_bp", expr("est_inter * 10000 div est_union"))
        .drop("s_union")
        .orderBy(col("type_a"), col("type_b"))
    }

    def m47(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val binned = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT) * " +
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 24 AS INT))").as("v"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .select(col("event_type"), col("day"),
          expr("CASE WHEN v < 16 THEN v ELSE 16 * (length(bin(v)) - 1) + " +
            "v div shiftleft(CAST(1 AS BIGINT), length(bin(v)) - 5) - 64 END").as("qbin"))
      val daily = binned.groupBy(col("event_type"), col("day"), col("qbin"))
        .agg(count(lit(1)).as("c"))
      val merged = daily.groupBy(col("event_type"), col("qbin"))
        .agg(sum(col("c")).as("c"))
      val byType = Window.partitionBy(col("event_type"))
      val cum = merged
        .withColumn("n", sum(col("c")).over(byType))
        .withColumn("cum", sum(col("c")).over(byType.orderBy(col("qbin"))))
      val ranks = cum.groupBy(col("event_type"))
        .agg(max(col("n")).cast("long").as("n"),
          count(lit(1)).cast("int").as("n_bins"),
          min(when(col("cum") * 100 >= col("n") * 50, col("qbin"))).as("b50"),
          min(when(col("cum") * 100 >= col("n") * 95, col("qbin"))).as("b95"),
          min(when(col("cum") * 100 >= col("n") * 99, col("qbin"))).as("b99"))
      def ub(c: String) = expr(s"CASE WHEN $c < 16 THEN $c ELSE " +
        s"shiftleft(CAST(17 + $c % 16 AS BIGINT), CAST($c div 16 - 1 AS INT)) - 1 END")
      ranks.select(col("event_type"), col("n"), col("n_bins"),
          ub("b50").as("p50_max_cents"), ub("b95").as("p95_max_cents"),
          ub("b99").as("p99_max_cents"))
        .orderBy(col("event_type"))
    }
  }
}
