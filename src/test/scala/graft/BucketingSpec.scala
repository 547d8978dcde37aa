package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Storage-layout levers for 100 TB: bucketing (co-located joins with no
  * exchange on either side) and partition pruning (scan skips
  * partitions entirely). Exercised via real writes to temp paths.
  * Uses the shared test session (static confs like warehouse dir can't
  * change after startup), so tables carry explicit paths and the
  * broadcast threshold is toggled via runtime conf.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()

  private def withNoBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  val sf = "/root/testdata/sf0.001"

  test("bucketed tables join with zero exchanges") { withNoBroadcast {
    val base = TempDirs("graft_bkt")
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$base/li").saveAsTable("li_bucketed")
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$base/ord").saveAsTable("ord_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    // co-located: neither join input is re-shuffled on its key
    assert("Exchange hashpartitioning\\(l_orderkey".r.findFirstIn(p).isEmpty, p)
    assert("Exchange hashpartitioning\\(o_orderkey".r.findFirstIn(p).isEmpty, p)
    assert(joined.collect().map(_.getAs[Long]("n")).sum == 6000L)
  }}

  test("partition pruning skips non-matching partitions at scan time") {
    val base = TempDirs("graft_part")
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day")
      .parquet(s"$base/events")
    val q = spark.read.parquet(s"$base/events")
      .filter(col("day") === "2024-01-02")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(day"), p)
    val n = q.count()
    assert(n > 0 && n < 1000) // one day's slice, not the full table
  }
}
