package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables.parquet` infers a source's schema once per fingerprint (path,
  * file listing, schema-shaping confs) and reads with it afterwards. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  val sf = "/root/testdata/sf0.001"

  private def writeEvents(path: String, ntz: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val us = 1704110400000000L
    val ts = if (ntz) expr(s"timestamp_micros($us)").cast("timestamp_ntz") else lit(us * 1000L + 999L)
    Seq((1L, 7L, "view", 1.0, "{}")).toDF("event_id", "user_id", "event_type", "value", "props")
      .select($"event_id", ts.as("ts"), $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(path)
  }

  test("a second read of the same source starts no Spark job") {
    val dir = TempDirs("graft_tables_jobs").toString
    writeEvents(s"$dir/events.parquet", ntz = true)
    assert(SparkJobs.during(spark)(Tables.events(spark, dir)) >= 1, "the first read infers the schema")
    assert(SparkJobs.during(spark)(Tables.events(spark, dir)) == 0)
    assert(SparkJobs.during(spark)(Tables.events(spark, dir).schema) == 0)
  }

  test("a file rewritten at the same path with another ts type is inferred again") {
    val dir = TempDirs("graft_tables_rewrite").toString
    val path = s"$dir/events.parquet"
    def raw = Tables.table(spark, dir, "events").schema("ts").dataType
    def micros = Tables.events(spark, dir).select(unix_micros(col("ts"))).head().getLong(0)
    writeEvents(path, ntz = false)
    assert(raw == LongType)
    assert(micros == 1704110400000000L)
    writeEvents(path, ntz = true)
    assert(raw == TimestampNTZType, "a cached schema outlived its file")
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    assert(micros == 1704110400000000L)
    writeEvents(path, ntz = false)
    assert(raw == LongType)
  }

  test("the schema and rows equal a plain spark.read.parquet read") {
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
    names.foreach { n =>
      val plain = spark.read.parquet(s"$sf/$n.parquet")
      val read = Tables.table(spark, sf, n)
      assert(read.schema == plain.schema, n) // StructType equality includes nullability
      assert(read.except(plain).isEmpty && plain.except(read).isEmpty, n)
    }
    // a derived artifact: a Spark-written directory, and a partitioned
    // one, whose listing holds subdirectories (the plain read's path)
    val base = TempDirs("graft_tables_derived").toString
    val docs = Tables.documents(spark, sf).withColumn("shard", pmod(col("doc_id"), lit(3)))
    docs.write.parquet(s"$base/flat")
    docs.write.partitionBy("shard").parquet(s"$base/parted")
    Seq("flat", "parted").foreach { v =>
      val plain = spark.read.parquet(s"$base/$v")
      val read = Tables.parquet(spark, s"$base/$v")
      assert(read.schema == plain.schema, v)
      assert(read.except(plain).isEmpty && plain.except(read).isEmpty, v)
    }
  }
}
