package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational
import graft.sources.Tables

class TopNPerKeySpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  val sf = "/root/testdata/sf0.001"

  test("custom TopNPerKey == window row_number formulation") {
    val df = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val fast = Relational.topNPerGroupFast(df, 5, Seq("l_returnflag"),
        Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)))
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber").collect().toSeq
    val window = Relational.topNPerGroup(df, 5, col("l_returnflag"),
        col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber").collect().toSeq
    assert(fast == window)
  }

  test("TopNPerKeyExec is planned (strategy injected) with no per-group sort") {
    val df = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val p = Relational.topNPerGroupFast(df, 3, Seq("l_returnflag"),
        Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)))
      .queryExecution.executedPlan.toString
    assert(p.contains("TopNPerKey"), p)
    assert(!p.contains("Sort ["), p) // heaps, not sort
    assert(p.contains("Exchange hashpartitioning(l_returnflag"), p) // co-located by key
  }

  test("keyless (global) top-n returns n rows total, not n per partition") {
    import spark.implicits._
    val df = spark.range(0, 1000).select($"id".cast("int").as("v")).repartition(8)
    val r = Relational.topNPerGroupFast(df, 5, Seq.empty, Seq(("v", false)))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(r == Seq(995, 996, 997, 998, 999))
  }

  test("rejects n <= 0") {
    import spark.implicits._
    val tiny = Seq(("a", 1)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Relational.topNPerGroupFast(tiny, 0, Seq("k"), Seq(("v", false)))
    }
  }

  test("partial-pass key cap: pass-through keeps results exact beyond the cap") {
    import spark.implicits._
    // 200 distinct keys but only 16 tracked per partition — overflow
    // rows stream through to the final pass unreduced, result unchanged
    val df = spark.range(0, 2000)
      .select(($"id" % 200).as("k"), $"id".as("v")).repartition(4)
    val fast = Relational.topNPerGroupFast(df, 2, Seq("k"),
        Seq(("v", false)), maxPartialKeys = 16)
      .orderBy("k", "v").collect().toSeq
    val window = Relational.topNPerGroup(df, 2, col("k"), col("v").desc)
      .orderBy("k", "v").collect().toSeq
    assert(fast == window)
  }

  test("per-key quota == window row_number filtered against the quota") {
    import spark.implicits._
    // quotas per key: a→3, b→0 (keeps nothing), c→7 (> group size), d→1
    val quota = Seq(("a", 3), ("b", 0), ("c", 7), ("d", 1)).toDF("k", "q")
    val df = spark.range(0, 400)
      .select(element_at(array(lit("a"), lit("b"), lit("c"), lit("d")),
        ($"id" % 4 + 1).cast("int")).as("k"), $"id".as("v"))
      .join(broadcast(quota), Seq("k"))
      .repartition(4)
    val fast = Relational.topNPerGroupQuota(df, "q", Seq("k"), Seq(("v", false)))
      .select("k", "v").orderBy("k", "v").collect().toSeq
    val window = df.withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"k").orderBy($"v".desc)))
      .filter($"_rn" <= $"q")
      .select("k", "v").orderBy("k", "v").collect().toSeq
    assert(fast == window)
    assert(fast.count(_.getString(0) == "b") == 0)
    assert(fast.count(_.getString(0) == "c") == 7)
    assert(fast.count(_.getString(0) == "d") == 1)
  }

  test("handles n larger than group size and empty input") {
    import spark.implicits._
    val tiny = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val r = Relational.topNPerGroupFast(tiny, 10, Seq("k"), Seq(("v", false)))
      .orderBy("k", "v").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(r == Seq(("a", 1), ("a", 2), ("b", 3)))
    val empty = Relational.topNPerGroupFast(tiny.filter($"v" > 100), 3,
      Seq("k"), Seq(("v", false)))
    assert(empty.count() == 0)
  }

  test("operator rank == row_number over the same total order, keyed and keyless, 1 and 8 partitions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ties on v are broken by id, so the order is total
    val base = spark.range(0, 600)
      .select(($"id" % 7).as("k"), ($"id" * 37 % 11).as("v"), $"id")
    for (parts <- Seq(1, 8); keyed <- Seq(true, false)) {
      val df = base.repartition(parts)
      val part = if (keyed) Seq("k") else Seq.empty
      val fast = Relational.topNPerGroupFast(df, 9, part,
          Seq(("v", false), ("id", true)), rank = Some("rnk"))
      val rnk = fast.schema("rnk")
      assert(rnk.dataType == org.apache.spark.sql.types.IntegerType && !rnk.nullable, rnk)
      val w = Window.partitionBy(part.map(col): _*).orderBy($"v".desc, $"id")
      val window = df.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 9)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.select("k", "v", "id", "rnk").orderBy("k", "id", "rnk").collect().toSeq
      assert(rows(fast) == rows(window), s"parts=$parts keyed=$keyed")
      assert(fast.count() == (if (keyed) 63 else 9))
    }
  }

  test("a ranked result self-joins: each side keeps its own rank column") {
    import spark.implicits._
    val df = spark.range(0, 40).select(($"id" % 4).as("k"), $"id".as("v"))
    val top = Relational.topNPerGroupFast(df, 3, Seq("k"), Seq(("v", false)),
      rank = Some("rnk"))
    val pairs = top.as("a").join(top.as("b"), $"a.k" === $"b.k" && $"a.rnk" + 1 === $"b.rnk")
      .select($"a.v" - $"b.v").collect().map(_.getLong(0)).toSeq
    // ranks 1→2 and 2→3 in each of the 4 keys, each step 4 apart
    assert(pairs == Seq.fill(8)(4L))
    // the rank's placeholder value never leaks into a filter above
    assert(top.filter($"rnk" === 2).count() == 4)
    assert(top.filter($"rnk" <=> 0).count() == 0)
  }
}
