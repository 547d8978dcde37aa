package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.streaming.HealthStream

/** Stream/batch parity: the production path is readStream over the same
  * aggregation code the batch oracle checks.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  val sf = "/root/testdata/sf0.001"

  test("streaming windowed health == batch windowed health") {
    // file stream source requires a directory: stage the table file
    val dir = TempDirs("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.windowedHealth(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("health_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("health_out")
      .orderBy("bucket", "event_type").collect().toSeq
    val batch = HealthStream.windowedHealth(Tables.events(spark, sf))
      .orderBy("bucket", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("ingest quality gate: streaming == batch; state is sources×2 rows regardless of volume") {
    val dir = TempDirs("graft_docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val stream = HealthStream.readDocumentStream(spark, dir.toString)
    val q = HealthStream.qualityGate(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("quality_out").start()
    q.processAllAvailable()
    val streamed = spark.table("quality_out")
      .orderBy("source", "kept").collect().toSeq
    q.stop()
    val batch = HealthStream.qualityGate(Tables.documents(spark, sf))
      .orderBy("source", "kept").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.exists(_.getAs[Int]("kept") == 0)
      && streamed.exists(_.getAs[Int]("kept") == 1),
      "gate must both keep and drop on this corpus or the thresholds test nothing")
    // per-row logic is stateless; aggregate state rows = sources × verdicts
    val nSources = Tables.documents(spark, sf).select("source").distinct().count()
    assert(streamed.size <= nSources * 2, s"${streamed.size} state rows for $nSources sources")
  }

  test("stream-static dim refresh: foreachBatch re-read picks up an overwritten dim at the next micro-batch") {
    // the reference hot-reloads its config every 30 min / on SIGHUP
    // (chStats.py:517-558); this asserts the Spark shape that delivers
    // it — enrichRefreshable re-reads the dim per batch, so batch N+1
    // reflects a dim overwrite with no stream restart
    import spark.implicits._
    val base = TempDirs("graft_dimref")
    val srcDir = s"$base/src"; val dimDir = s"$base/dim"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    Seq((101L, "node-a")).toDF("node_id", "node_name")
      .write.mode("overwrite").parquet(dimDir)
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val stream = spark.readStream.schema("event_id LONG, user_id LONG").parquet(srcDir)
    val q = HealthStream.enrichRefreshable(stream, dimDir,
      (b, d) => b.join(d, b("user_id") === d("node_id"), "left")
        .select(b("event_id"), coalesce(d("node_name"), lit("UNKNOWN")).as("nation"))) {
      (df, _) => out.synchronized {
        out ++= df.collect().map(r => (r.getLong(0), r.getString(1)))
      }
    }.start()
    Seq((1L, 101L)).toDF("event_id", "user_id").write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    // hot-swap the dim between micro-batches: rename a node, add one
    Seq((101L, "node-b"), (102L, "node-c")).toDF("node_id", "node_name")
      .write.mode("overwrite").parquet(dimDir)
    Seq((2L, 101L), (3L, 102L)).toDF("event_id", "user_id")
      .write.mode("append").parquet(srcDir)
    q.processAllAvailable(); q.stop()
    val byEvent = out.toMap
    assert(byEvent(1L) == "node-a", s"batch 1 must see the original dim: $out")
    assert(byEvent(2L) == "node-b", s"batch 2 must see the RENAMED node: $out")
    assert(byEvent(3L) == "node-c", s"batch 2 must see the ADDED node: $out")
  }

  test("canary: a start-time-resolved stream-static join DIES on dim overwrite (why enrichRefreshable exists)") {
    // pins the failure mode: the static side's file listing is resolved
    // once at stream start, so an overwrite (new file UUIDs, old files
    // deleted) kills the query. If Spark ever re-resolves the static
    // side per batch, this fails — then the foreachBatch re-read in
    // enrichRefreshable can be retired for the plain join.
    import spark.implicits._
    val base = TempDirs("graft_dimstale")
    val srcDir = s"$base/src"; val dimDir = s"$base/dim"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    Seq((101L, "node-a")).toDF("node_id", "node_name")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir) // resolved ONCE, listing cached
    val stream = spark.readStream.schema("event_id LONG, user_id LONG").parquet(srcDir)
    val q = stream.join(dim, col("user_id") === col("node_id"), "left")
      .select(col("event_id"), col("node_name"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dimstale_out").start()
    Seq((1L, 101L)).toDF("event_id", "user_id").write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    Seq((101L, "node-b")).toDF("node_id", "node_name")
      .write.mode("overwrite").parquet(dimDir)
    Seq((2L, 101L)).toDF("event_id", "user_id").write.mode("append").parquet(srcDir)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      throw new IllegalStateException("stream survived the dim overwrite — " +
        "Spark now re-resolves the static side; retire the canary and " +
        "consider the plain join for refresh")
    }
    assert(ex.getMessage.contains("FILE_NOT_EXIST"), ex.getMessage)
    q.stop()
  }

  test("sliding-window rate: streaming == batch (overlapping windows)") {
    val dir = TempDirs("graft_slide")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.slidingRate(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("slide_out").orderBy("win_start").collect().toSeq
    val batch = HealthStream.slidingRate(Tables.events(spark, sf))
      .orderBy("win_start").collect().toSeq
    assert(streamed == batch)
    // windows overlap: successive starts are slide apart, width covers 2
    assert(streamed.nonEmpty)
  }

  test("windowed distinct users: chained dedup + agg streaming == batch") {
    val dir = TempDirs("graft_distinct")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.windowedDistinctUsers(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("distinct_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("distinct_out")
      .orderBy("bucket", "event_type").collect().toSeq
    val batch = HealthStream.windowedDistinctUsers(Tables.events(spark, sf))
      .orderBy("bucket", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("windowed distinct users: dedup state evicts once the watermark passes the window") {
    import spark.implicits._
    // the dedup key must carry event-time metadata (the window STRUCT);
    // keyed on an extracted window-start alias the state never evicts
    // and this assertion fails with all 10 stale keys still held
    def ns(min: Long) = 1704110400000000L + min * 60000000L
    val dir = TempDirs("graft_devict")
    def mkBatch(rows: Seq[(Long, Long, Long)], path: String): Unit =
      rows.map { case (id, t, u) => (id, t, u, "view", 1.0, "{}") }
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select($"event_id",
          expr("timestamp_micros(ts_us)").cast("timestamp_ntz").as("ts"),
          $"user_id", $"event_type", $"value", $"props")
        .coalesce(1).write.parquet(s"$dir/$path")
    // batch 1: 10 distinct users in window [12:00,12:05)
    mkBatch((1L to 10L).map(u => (u, ns(0), u)), "f1")
    val stream = spark.readStream.schema(HealthStream.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/f*")
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = HealthStream.windowedDistinctUsers(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("devict_out").start()
    q.processAllAvailable()
    // batch 2 advances the watermark (5h later, 1h delay) past the
    // 12:00 window; batch 3 runs UNDER that watermark — that is the
    // micro-batch in which the dedup operator drops the 10 stale keys
    mkBatch(Seq((100L, ns(300), 100L)), "f2")
    q.processAllAvailable()
    mkBatch(Seq((101L, ns(360), 101L)), "f3")
    q.processAllAvailable()
    val dedupState = q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName.toLowerCase.contains("dedup"))
    q.stop()
    assert(dedupState.nonEmpty, "dedup state operator must report progress")
    val finalRows = dedupState.last.numRowsTotal
    assert(finalRows <= 2,
      s"dedup state must evict watermark-passed keys, still holds $finalRows rows")
  }

  test("windowed HLL distinct: streaming == batch (64-long state per window)") {
    val dir = TempDirs("graft_hll")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.windowedHllDistinct(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("hll_out").orderBy("bucket").collect().toSeq
    val batch = HealthStream.windowedHllDistinct(Tables.events(spark, sf))
      .orderBy("bucket").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // sanity: estimates land within a plausible band of the exact
    // per-window distinct (raw 64-register HLL: wide tolerance)
    val exact = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(countDistinct(col("user_id")).as("d"))
      .select(col("window.start").cast("timestamp_ntz"), col("d"))
      .collect().map(r => (r.get(0), r.getLong(1))).toMap
    streamed.foreach { r =>
      val est = r.getLong(2)
      val ex = exact(r.get(0))
      assert(est > 0 && est < ex * 3 + 64, s"est $est vs exact $ex")
    }
  }

  test("windowed CMS watchlist: streaming == batch; estimate never under the true count") {
    val dir = TempDirs("graft_cms")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val probes = (0L until 8L).map(_ * 10)
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.windowedCmsWatchlist(stream, probes)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("cms_out").orderBy("bucket", "key").collect().toSeq
    val batch = HealthStream.windowedCmsWatchlist(Tables.events(spark, sf), probes)
      .orderBy("bucket", "key").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // one-sided CMS error: the estimate is ≥ the exact per-window count
    // for every probe key (collisions only ever inflate)
    val exact = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "5 minutes"),
        col("user_id").cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz"), col("key"), col("n"))
      .collect().map(r => ((r.get(0), r.getString(1)), r.getLong(2))).toMap
    streamed.foreach { r =>
      val est = r.getLong(2)
      val ex = exact.getOrElse((r.get(0), r.getString(1)), 0L)
      assert(est >= ex, s"CMS must never undercount: est $est < exact $ex")
    }
    // and at least one probe key actually occurs, so the bound is not
    // vacuously 0 ≥ 0 everywhere
    assert(streamed.exists(_.getLong(2) > 0))
  }

  test("CMS state is per-WINDOW, not per-key: 500 distinct users, 2 state rows") {
    import spark.implicits._
    // the bounded-state claim made concrete: st9's dedup-then-count
    // holds one state row per (window, type, user); the CMS sketch must
    // hold exactly one row per WINDOW no matter how many distinct keys
    // stream through it
    def ns(min: Long) = 1704110400000000L + min * 60000000L
    val dir = TempDirs("graft_cmsstate")
    (1L to 500L).map(u => (u, ns(u % 10), u, "view", 1.0, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id",
        expr("timestamp_micros(ts_us)").cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.parquet(s"$dir/f1")
    val stream = spark.readStream.schema(HealthStream.eventSchema)
      .parquet(s"$dir/f*")
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = HealthStream.windowedCmsWatchlist(stream, probes = Seq(1L, 2L))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_state_out").start()
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    // 500 users land in minutes 0-9 → exactly two 5-minute windows
    assert(stateRows == 2L,
      s"CMS state must be one row per window (2), held $stateRows")
  }

  test("windowed p95 histogram: streaming == batch (17-long state per window)") {
    val dir = TempDirs("graft_p95")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.windowedP95(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("p95_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("p95_out").orderBy("bucket").collect().toSeq
    val batch = HealthStream.windowedP95(Tables.events(spark, sf))
      .orderBy("bucket").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("windowed domain-free p95: streaming == batch (63-long octave state per window)") {
    val dir = TempDirs("graft_logp95")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.windowedLogP95(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("logp95_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("logp95_out").orderBy("bucket").collect().toSeq
    val batch = HealthStream.windowedLogP95(Tables.events(spark, sf))
      .orderBy("bucket").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // never-under / ≤2× bound against the CEIL-RANK order statistic —
    // the same rank convention the query's cum*100 >= 95*n guard uses
    // (percentile() interpolates between values and can sit below it)
    val byWindow = Tables.events(spark, sf)
      .select(window(col("ts"), "5 minutes")("start").cast("timestamp_ntz").as("b"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.get(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    streamed.foreach { r =>
      val ub = r.getLong(3)
      val sorted = byWindow(r.get(0))
      val n = sorted.length
      val exact = sorted(((n * 95 + 99) / 100) - 1) // ceil(n*95/100)-th value
      assert(ub >= exact, s"ub $ub under exact rank value $exact")
      // octave [2^(k-1), 2^k): inclusive max 2^k - 1 ≤ 2·v - 1
      assert(ub <= math.max(2 * exact - 1, 0L),
        s"ub $ub above the 2x octave bound over exact rank value $exact")
    }
  }

  test("stream-static enrich: streaming windowed enrich == batch") {
    val dir = TempDirs("graft_enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val cust = Tables.customer(spark, sf)
    val nat = Tables.nation(spark, sf)
    val q = HealthStream.enrichedHealth(stream, cust, nat)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("enrich_out")
      .orderBy("bucket", "nation").collect().toSeq
    val batch = HealthStream.enrichedHealth(Tables.events(spark, sf), cust, nat)
      .orderBy("bucket", "nation").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("event sink lands PH_SYSTEM payload lines per micro-batch") {
    val dir = TempDirs("graft_sink")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val out = TempDirs("graft_sink_out")
    val chk = TempDirs("graft_sink_chk")
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = graft.streaming.EventSink.start(
      HealthStream.windowedHealth(stream), out.toString, chk.toString, mode = "complete")
    q.processAllAvailable(); q.stop()

    val lines = spark.read.text(s"$out/batch_*").collect().map(_.getString(0))
    val expected = HealthStream.windowedHealth(Tables.events(spark, sf)).count()
    assert(lines.length == expected)
    assert(lines.forall(_.startsWith("PH_SYSTEM_DATA_NODE_HEALTH={\"eventType\":\"")))
  }

  test("stream-stream LEFT OUTER funnel: unmatched clicks emit after the watermark") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val dir = TempDirs("graft_outer")
    ev.write.parquet(s"$dir/f1")
    // sentinel click+error for two disjoint fake users, 3 h past the
    // end of data: they advance BOTH sides' watermarks (each passes its
    // side's type filter) so every real click's join horizon expires
    // and the unmatched-NULL rows can leave state; they match no real
    // user and (distinct users) not each other
    val maxUs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
    Seq((-1L, maxUs + 10800000000L, -1L, "click", 0.0, ""),
        (-2L, maxUs + 10800000000L, -2L, "error", 0.0, ""))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", expr("timestamp_micros(ts_us)").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.parquet(s"$dir/f2")
    val schema = org.apache.spark.sql.types.StructType(
      graft.streaming.HealthStream.eventSchema.map {
        case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.TimestampType)
        case f => f
      })
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
    val chk = TempDirs("graft_outer_chk")
    val q = HealthStream.clickErrorFunnelOuter(stream, stream, windowMinutes = 10)
      .writeStream.outputMode("append")
      .option("checkpointLocation", chk.toString)
      .format("memory").queryName("outer_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("outer_out").filter($"user_id" >= 0)
      .orderBy($"user_id", $"click_id", $"error_id".asc_nulls_first).collect().toSeq
    val batch = HealthStream.clickErrorFunnelOuter(ev, ev, windowMinutes = 10)
      .orderBy($"user_id", $"click_id", $"error_id".asc_nulls_first).collect().toSeq
    assert(streamed == batch)
    assert(streamed.exists(_.isNullAt(2)), "some click must be unmatched (NULL error)")
  }

  test("incremental multi-batch stream == batch (checkpointed file source)") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val dir = TempDirs("graft_incr")
    // two arrival batches
    ev.filter($"event_id" < 500).write.parquet(s"$dir/f1")
    ev.filter($"event_id" >= 500).write.parquet(s"$dir/f2")
    // files written by this test already carry µs TimestampType
    val schema = org.apache.spark.sql.types.StructType(
      graft.streaming.HealthStream.eventSchema.map {
        case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.TimestampType)
        case f => f
      })
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
    val chk = TempDirs("graft_incr_chk")
    val q = HealthStream.windowedHealth(stream)
      .writeStream.outputMode("complete")
      .option("checkpointLocation", chk.toString)
      .format("memory").queryName("incr_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("incr_out").orderBy("bucket", "event_type").collect().toSeq
    val batch = HealthStream.windowedHealth(ev).orderBy("bucket", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("Trigger.AvailableNow: the feed drains in admission-sized batches to the frozen end, then the query TERMINATES itself") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    graft.sources.MetricsFeedSource.streamIntervals.clear()
    spark.catalog.dropTempView("avnow_out")
    val q = spark.readStream.format("graft.sources.MetricsFeedSource")
      .option("rows", "9000").option("partitions", "4")
      .option("streamStep", "3000").load()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("avnow_out")
      .trigger(Trigger.AvailableNow())
      .start()
    // AvailableNow terminates ON ITS OWN once the frozen end is reached
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    // every row drained exactly once, in admission-sized offset intervals
    import scala.jdk.CollectionConverters._
    val ivs = graft.sources.MetricsFeedSource.streamIntervals.asScala
      .toSeq.sortBy(_._1)
    assert(ivs.nonEmpty && ivs.head._1 == 0L && ivs.last._2 == 9000L &&
      ivs.sliding(2).forall(w => w.length < 2 || w(0)._2 == w(1)._1),
      s"intervals must partition [0,9000): $ivs")
    assert(ivs.forall(iv => iv._2 - iv._1 <= 3000L),
      s"admission cap violated: $ivs")
    val total = spark.table("avnow_out")
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(total == 9000L, s"drained $total of 9000")
  }

  test("st22: statestore batch read == the in-flight aggregation; batchId option time-travels state") {
    import org.apache.spark.sql.functions._
    // 3 admission epochs of 3000 rows through a streaming agg
    val chk = TempDirs("graft_st22_spec")
    val q = spark.readStream.format("graft.sources.MetricsFeedSource")
      .option("rows", "9000").option("partitions", "4")
      .option("streamStep", "3000").load()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", chk.toString).start()
    q.processAllAvailable(); q.stop()
    // inventory: ONE stateful operator, the agg's stateStoreSave
    val md = spark.read.format("state-metadata").load(chk.toString).collect()
    assert(md.length == 1 &&
      md(0).getAs[String]("operatorName") == "stateStoreSave" &&
      md(0).getAs[String]("stateStoreName") == "default" &&
      md(0).getAs[Long]("maxBatchId") == 2L, md.mkString(","))
    def stateAt(batch: Option[Long]) = {
      val r = spark.read.format("statestore").option("path", chk.toString)
      batch.foreach(b => r.option("batchId", b.toString))
      r.load().select(col("key.kind"), col("value.count"), col("value.sum"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
        .sortBy(_._1).toSeq
    }
    def batchAgg(n: Long) = spark.read
      .format("graft.sources.MetricsFeedSource")
      .option("rows", n.toString).option("partitions", "4").load()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .sortBy(_._1).toSeq
    // final durable state == the full-feed aggregation, exactly
    assert(stateAt(None) == batchAgg(9000))
    // batchId=0 time-travels to the FIRST epoch's fold — the state the
    // job had durably committed after admitting rows [0, 3000)
    assert(stateAt(Some(0L)) == batchAgg(3000))
  }

  test("checkpoint recovery: a RESTARTED query resumes state — no loss, no double-count") {
    import spark.implicits._
    // the operational contract a 100-TB deployment actually relies on:
    // kill the job (deploy/crash), restart a NEW query object from the
    // same checkpoint, and the windowed state carries over. The file
    // source will not re-read f1 after restart (checkpoint tracks seen
    // files), so if aggregate state were NOT restored, every window
    // would be missing f1's counts and the batch compare below fails.
    val ev = Tables.events(spark, sf)
    val dir = TempDirs("graft_recover")
    val chk = TempDirs("graft_recover_chk")
    val schema = org.apache.spark.sql.types.StructType(
      graft.streaming.HealthStream.eventSchema.map {
        case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.TimestampType)
        case f => f
      })
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/f*")
      HealthStream.windowedHealth(stream)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", chk.toString)
        .format("memory").queryName("recover_out").start()
    }
    // phase 1: half the data arrives, the job processes it and DIES
    ev.filter($"event_id" % 2 === 0).write.parquet(s"$dir/f1")
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // phase 2: the other half arrives while the job is down; restart
    ev.filter($"event_id" % 2 =!= 0).write.parquet(s"$dir/f2")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val streamed = spark.table("recover_out")
      .orderBy("bucket", "event_type").collect().toSeq
    val batch = HealthStream.windowedHealth(ev)
      .orderBy("bucket", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("checkpoint recovery holds under RocksDB CHANGELOG checkpointing (the large-state production mode)") {
    // with changelog checkpointing, a commit uploads the batch's state
    // DELTA instead of a full RocksDB snapshot — the knob that keeps
    // commit latency flat as state grows to 100-TB scale. Recovery then
    // REPLAYS the changelog onto the last snapshot; this test kills and
    // restarts mid-stream and proves the replayed state is exact (same
    // contract as the heap-provider recovery test above).
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val dir = TempDirs("graft_chlog")
    val chk = TempDirs("graft_chlog_chk")
    val schema = org.apache.spark.sql.types.StructType(
      graft.streaming.HealthStream.eventSchema.map {
        case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.TimestampType)
        case f => f
      })
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
      def startQuery() = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/f*")
        HealthStream.windowedHealth(stream)
          .writeStream.outputMode("complete")
          .option("checkpointLocation", chk.toString)
          .format("memory").queryName("chlog_out").start()
      }
      ev.filter($"event_id" % 2 === 0).write.parquet(s"$dir/f1")
      val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
      ev.filter($"event_id" % 2 =!= 0).write.parquet(s"$dir/f2")
      val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
      val streamed = spark.table("chlog_out")
        .orderBy("bucket", "event_type").collect().toSeq
      val batch = HealthStream.windowedHealth(ev)
        .orderBy("bucket", "event_type").collect().toSeq
      assert(streamed == batch)
    } finally {
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming ingest dedup: dropDuplicatesWithinWatermark emits each key once") {
    import spark.implicits._
    val dir = TempDirs("graft_sdedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = stream
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"user_id", $"event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sdedup_out")
      .groupBy($"user_id", $"event_type").count().collect()
    assert(streamed.nonEmpty && streamed.forall(_.getLong(2) == 1L),
      "every (user, type) key must be emitted exactly once")
    val batchKeys = Tables.events(spark, sf)
      .select($"user_id", $"event_type").distinct().count()
    assert(streamed.length == batchKeys)
  }

  test("stream-stream funnel join == batch funnel join") {
    val dir = TempDirs("graft_funnel")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    // two independent stream readers over the same source — a real
    // stream-stream join, not a self-join of one stream node
    val clicks = HealthStream.readEventStream(spark, dir.toString)
    val errors = HealthStream.readEventStream(spark, dir.toString)
    val q = HealthStream.clickErrorFunnel(clicks, errors, windowMinutes = 10)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("funnel_out")
      .orderBy("user_id", "click_id", "error_id").collect().toSeq
    val ev = Tables.events(spark, sf)
    val batch = HealthStream.clickErrorFunnel(ev, ev, windowMinutes = 10)
      .orderBy("user_id", "click_id", "error_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("late data beyond the watermark is dropped from append-mode windows") {
    import spark.implicits._
    // 2024-01-01 12:00 UTC in µs; windowedHealth = 5-min windows, 1h watermark
    def ns(min: Long) = 1704110400000000L + min * 60000000L
    val dir = TempDirs("graft_late")
    def mkBatch(rows: Seq[(Long, Long)], path: String): Unit =
      rows.map { case (id, t) => (id, t, 1L, "view", 1.0, "{}") }
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select($"event_id",
          expr("timestamp_micros(ts_us)").cast("timestamp_ntz").as("ts"),
          $"user_id", $"event_type", $"value", $"props")
        .write.parquet(s"$dir/$path")

    // batch 1: two events in window [12:00,12:05) + one at 14:00 that
    // drives the watermark to 13:00 once the batch commits
    mkBatch(Seq((1L, ns(0)), (2L, ns(1)), (3L, ns(120))), "f1")
    val stream = spark.readStream.schema(HealthStream.eventSchema)
      .parquet(s"$dir/f*")
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = HealthStream.windowedHealth(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    q.processAllAvailable()
    // batch 2: event 4 is LATE (12:02 < watermark 13:00, its window is
    // closed) and must be dropped; event 5 advances the watermark
    mkBatch(Seq((4L, ns(2)), (5L, ns(240))), "f2")
    q.processAllAvailable(); q.stop()

    val w0 = spark.table("late_out")
      .filter($"bucket" === java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))
      .collect()
    assert(w0.length == 1, s"window [12:00,12:05) must finalize exactly once: ${w0.toSeq}")
    assert(w0(0).getAs[Long]("n") == 2L,
      s"late event 4 must NOT be counted: ${w0.toSeq}")
  }

  test("multi-cadence jobs off one source: 3- and 30-minute streams both match batch") {
    val dir = TempDirs("graft_cadence")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = HealthStream.readEventStream(spark, dir.toString)
    val qs = Seq(3, 30).map { m =>
      HealthStream.windowedHealthAt(stream, m)
        .writeStream.outputMode("complete")
        .format("memory").queryName(s"cadence_$m").start()
    }
    qs.foreach(_.processAllAvailable()); qs.foreach(_.stop())
    Seq(3, 30).foreach { m =>
      val streamed = spark.table(s"cadence_$m")
        .orderBy("bucket", "event_type").collect().toSeq
      val batch = HealthStream.windowedHealthAt(Tables.events(spark, sf), m)
        .orderBy("bucket", "event_type").collect().toSeq
      assert(streamed == batch, s"cadence $m diverged")
    }
  }

  test("JDBC sink round-trip: stream → Derby → read-back == batch; replay is idempotent") {
    import spark.implicits._
    val dir = TempDirs("graft_jdbc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val chk = TempDirs("graft_jdbc_chk")
    val db = TempDirs("graft_derby").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val table = "graft_payloads"

    val stream = HealthStream.readEventStream(spark, dir.toString)
    val q = graft.streaming.JdbcSink.start(
      graft.streaming.EventSink.toKeyedPayloads(HealthStream.windowedHealth(stream)),
      url, table, chk.toString, mode = "complete")
    q.processAllAvailable(); q.stop()

    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()

    val lastBatch = readBack().agg(max($"batch_id")).collect()(0).getLong(0)
    val sunk = readBack().filter($"batch_id" === lastBatch)
      .select($"k", $"payload").orderBy($"k").collect().toSeq
    val expected = graft.streaming.EventSink.toKeyedPayloads(
        HealthStream.windowedHealth(Tables.events(spark, sf)))
      .orderBy($"k").collect().toSeq
    assert(sunk == expected)

    // idempotent replay: re-writing the same batchId must not duplicate
    val batchDf = graft.streaming.EventSink.toKeyedPayloads(
      HealthStream.windowedHealth(Tables.events(spark, sf)))
    graft.streaming.JdbcSink.writeBatch(batchDf, lastBatch, url, table)
    graft.streaming.JdbcSink.writeBatch(batchDf, lastBatch, url, table)
    assert(readBack().filter($"batch_id" === lastBatch).count() == expected.size)
  }

  test("sink replay under PARTIAL failure: a batch killed mid-insert converges after restart (exactly-once)") {
    // r5 verdict ask #5: the idempotence test above replays CLEAN
    // batches; this one kills the writer mid-insert — after a committed
    // prefix of rows, the state a real executor death leaves behind
    // (writeBatch commits every insertBatchSize rows) — restarts from
    // the checkpoint, and asserts the replayed delete-then-insert heals
    // the partial garbage to exactly-once state.
    import spark.implicits._
    val dir = TempDirs("graft_partial")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val chk = TempDirs("graft_partial_chk")
    val db = TempDirs("graft_partial_derby").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val table = "graft_partial_payloads"
    graft.streaming.JdbcSink.ensureTable(url, table)

    val expected = graft.streaming.EventSink.toKeyedPayloads(
        HealthStream.windowedHealth(Tables.events(spark, sf)))
      .orderBy($"k").collect().toSeq

    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery() = {
      val stream = HealthStream.readEventStream(spark, dir.toString)
      graft.streaming.EventSink.toKeyedPayloads(HealthStream.windowedHealth(stream))
        .writeStream.outputMode("complete")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (failOnce.getAndSet(false)) {
            // crash AFTER a committed insert prefix lands on disk
            graft.streaming.JdbcSink.writeBatch(b.toDF().limit(3), id, url, table)
            throw new RuntimeException("injected crash mid-insert")
          }
          graft.streaming.JdbcSink.writeBatch(b.toDF(), id, url, table)
        }
        .option("checkpointLocation", chk.toString)
        .start()
    }
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()

    val q1 = startQuery()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      throw new IllegalStateException("injected crash did not surface")
    }
    q1.stop()
    // the partial prefix is on disk — the mid-crash state to be healed
    assert(readBack().count() == 3, "crash must leave the committed partial prefix")

    val q2 = startQuery() // same checkpoint: the engine replays the batch
    q2.processAllAvailable(); q2.stop()
    val lastBatch = readBack().agg(max($"batch_id")).collect()(0).getLong(0)
    val sunk = readBack().filter($"batch_id" === lastBatch)
      .select($"k", $"payload").orderBy($"k").collect().toSeq
    assert(sunk == expected, "replay must produce the full batch")
    assert(readBack().count() == expected.size,
      "delete-then-insert must wipe the partial garbage — no duplicates, no strays")
  }

  test("stateful sessionization: cross-batch state + event-time expiry of a silent user") {
    import spark.implicits._
    // base well above epoch so watermark arithmetic never clamps
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    def min(m: Long) = base + m * 60L * 1000000L
    // user 1: events at t+0 and t+5min (one session, split across two
    // micro-batches), then silent. user 2: a lone event at t+200min that
    // drives the watermark past user 1's gap horizon.
    val dir = TempDirs("graft_state")
    Seq((1L, 1L, min(0))).toDF("user_id", "event_id", "ts_us")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((1L, 2L, min(5)), (2L, 3L, min(200))).toDF("user_id", "event_id", "ts_us")
      .coalesce(1).write.parquet(s"$dir/f2")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, event_id BIGINT, ts_us BIGINT")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/f*")
      .as[HealthStream.Ev]
    val q = HealthStream.sessionsStateful(stream, 30).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("state_out").start()
    q.processAllAvailable(); q.stop()

    // final watermark = 200min - 30min lateness = 170min. User 1's
    // horizon (5min + 30min gap = 35min) passed → the open session is
    // flushed by timeout (state carried e1 across the batch boundary
    // into e2's session first). User 2's horizon (230min) has not →
    // nothing emitted, state retained but bounded by the watermark.
    val streamed = spark.table("state_out")
      .select($"user_id", $"session_idx", $"start_us", $"end_us", $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(streamed == Seq((1L, 1L, min(0), min(5), 2L)))
  }

  test("stateful sessionization parity holds on the RocksDB state store") {
    import spark.implicits._
    // the provider a large deployment runs (state lives off-heap/on-disk
    // instead of executor heap) — emitted results must be identical to
    // the default HDFS-backed provider on the same stream
    val dir = TempDirs("graft_rocks")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    def runWith(provider: Option[String], sink: String): Seq[org.apache.spark.sql.Row] = {
      provider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      try {
        val stream = HealthStream.readEventStream(spark, dir.toString)
          .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
          .as[HealthStream.Ev]
        val q = HealthStream.sessionsStateful(stream, 30).toDF()
          .writeStream.outputMode("append")
          .format("memory").queryName(sink).start()
        q.processAllAvailable(); q.stop()
        spark.table(sink)
          .select("user_id", "session_idx", "start_us", "end_us", "n_events")
          .orderBy("user_id", "session_idx").collect().toSeq
      } finally {
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val rocks = runWith(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocks_out")
    val default = runWith(None, "rocks_default_out")
    assert(rocks == default)
    assert(rocks.nonEmpty)
  }

  test("st14: transformWithState alert cooldown — alerts exact, ValueState survives micro-batches (RocksDB)") {
    import spark.implicits._
    val base = TempDirs("graft_tws")
    val srcDir = s"$base/src"; val chk = s"$base/chk"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // cooldown = 10 min = 600e6 µs. user 1: alert at t0, suppressed at
    // t0+5m, alert at t0+11m40s; user 2: alert in batch 1, then a
    // batch-2 event INSIDE the cooldown of the batch-1 alert — the
    // suppression only happens if lastAlert state crossed the batch
    // boundary.
    val t0 = 1000000000L
    def write(rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("user_id", "event_id", "ts_us")
        .write.mode("append").parquet(srcDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      write(Seq((1L, 1L, t0), (1L, 2L, t0 + 300000000L), (2L, 3L, t0 + 1000000000L)))
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_us LONG")
        .parquet(srcDir).as[HealthStream.Ev]
      val q = HealthStream.alertCooldownStream(stream).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_out").option("checkpointLocation", chk).start()
      q.processAllAvailable()
      // batch 2: u2 suppressed (inside cooldown of the batch-1 alert),
      // u1 alerts again, u2 alerts after its cooldown
      write(Seq((2L, 4L, t0 + 1100000000L), (1L, 5L, t0 + 700000000L),
        (2L, 6L, t0 + 1650000000L)))
      q.processAllAvailable(); q.stop()
      val got = spark.table("tws_out")
        .select("user_id", "alert_ts_us", "alert_seq")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Set(
        (1L, t0, 1L), (1L, t0 + 700000000L, 2L),
        (2L, t0 + 1000000000L, 1L), (2L, t0 + 1650000000L, 2L))
      assert(got == want, s"got $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("st16: ListState trigram buffer carries across micro-batches — the straddling pattern emits") {
    import spark.implicits._
    val base = TempDirs("graft_tws_seq")
    val srcDir = s"$base/src"; val chk = s"$base/chk"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val t0 = 1000000000L
    def write(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("user_id", "event_id", "ts_us", "event_type")
        .write.mode("append").parquet(srcDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch 1: user 1 sees a b c (one complete trigram) then d stays
      // buffered with c; user 2 sees only a b — no trigram yet
      write(Seq((1L, 1L, t0, "a"), (1L, 2L, t0 + 1, "b"), (1L, 3L, t0 + 2, "c"),
        (1L, 4L, t0 + 3, "d"), (2L, 5L, t0, "a"), (2L, 6L, t0 + 1, "b")))
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_us LONG, event_type STRING")
        .parquet(srcDir).as[HealthStream.EvT]
      val q = HealthStream.seqTrigramStream(stream).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_seq_out").option("checkpointLocation", chk).start()
      q.processAllAvailable()
      // batch 2: user 1's e closes (c d e) — both of its types arrived
      // in batch 1, so this trigram exists ONLY if the ListState buffer
      // crossed the boundary; user 2's c closes (a b c) the same way
      write(Seq((1L, 7L, t0 + 4, "e"), (2L, 8L, t0 + 2, "c")))
      q.processAllAvailable(); q.stop()
      val got = spark.table("tws_seq_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = Set(
        (1L, 1L, "a b c"), (1L, 2L, "b c d"), (1L, 3L, "c d e"),
        (2L, 1L, "a b c"))
      assert(got == want, s"got $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("st17: MapState profile — cumulative counts across batches; untouched cells do NOT re-emit") {
    import spark.implicits._
    val base = TempDirs("graft_tws_prof")
    val srcDir = s"$base/src"; val chk = s"$base/chk"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val t0 = 1000000000L
    def write(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("user_id", "event_id", "ts_us", "event_type")
        .write.mode("append").parquet(srcDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch 1: user 1 = 2×click + 1×error; user 2 = 1×click
      write(Seq((1L, 1L, t0, "click"), (1L, 2L, t0 + 1, "click"),
        (1L, 3L, t0 + 2, "error"), (2L, 4L, t0, "click")))
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_us LONG, event_type STRING")
        .parquet(srcDir).as[HealthStream.EvT]
      val q = HealthStream.profileStream(stream).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_prof_out").option("checkpointLocation", chk).start()
      q.processAllAvailable()
      val afterB1 = spark.table("tws_prof_out").count()
      // batch 2 touches ONLY user 1's click cell — user 1's error cell
      // and user 2 entirely must not re-emit
      write(Seq((1L, 5L, t0 + 3, "click")))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("tws_prof_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(afterB1 == 3, s"batch 1 must emit 3 touched cells, got $afterB1")
      assert(rows.length == 4, s"batch 2 must add exactly ONE delta row, got ${rows.toSeq}")
      // the LATEST emission per cell equals the batch twin over all data
      val latest = rows.groupBy(r => (r._1, r._2))
        .map { case (k, vs) => k -> vs.map(_._3).max }
      val want = Map((1L, "click") -> 3L, (1L, "error") -> 1L, (2L, "click") -> 1L)
      assert(latest == want, s"got $latest")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("p20 streaming face: online feature serving equals the offline batch features exactly") {
    import spark.implicits._
    // the training-serving-skew proof: the SAME real corpus, streamed
    // in two ts-ordered micro-batches through the ValueState counters,
    // must emit row-for-row the features p20's exclusive batch window
    // materializes offline
    val base = TempDirs("graft_tws_feat")
    val srcDir = s"$base/src"; val chk = s"$base/chk"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .localCheckpoint()
    val mid = ev.agg(expr("percentile_approx(ts_us, 0.5)")).head().getLong(0)
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(2).write.mode("append").parquet(srcDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      write(ev.filter(col("ts_us") <= mid))
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_us LONG, event_type STRING, vc LONG")
        .parquet(srcDir).as[HealthStream.EvV]
      val q = HealthStream.featureServeStream(stream).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_feat_out").option("checkpointLocation", chk).start()
      q.processAllAvailable()
      write(ev.filter(col("ts_us") > mid))
      q.processAllAvailable(); q.stop()
      val got = spark.table("tws_feat_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val want = SparkEntry.queries("p20_pit_features")(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("label_event_id"),
          r.getAs[Long]("label_ts_us"), r.getAs[Long]("prior_events"),
          r.getAs[Long]("prior_errors"), r.getAs[Long]("prior_value_cents"))).toSet
      assert(want.nonEmpty && got == want,
        s"online/offline diverge: only-online=${got -- want}, only-offline=${(want -- got).take(3)}")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("m52 streaming face: SCD2 change capture equals the batch history's open side") {
    import spark.implicits._
    // streaming can only emit what is final at open time (version,
    // state, valid_from); the batch m52 owns valid_to. The capture
    // must agree with the batch history row-for-row on those columns —
    // across micro-batches, with versions continuing through state.
    val base = TempDirs("graft_tws_scd2")
    val srcDir = s"$base/src"; val chk = s"$base/chk"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"))
      .localCheckpoint()
    val mid = ev.agg(expr("percentile_approx(ts_us, 0.5)")).head().getLong(0)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      ev.filter(col("ts_us") <= mid).coalesce(2).write.mode("append").parquet(srcDir)
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_us LONG, event_type STRING")
        .parquet(srcDir).as[HealthStream.EvT]
      val q = HealthStream.scd2Stream(stream).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_scd2_out").option("checkpointLocation", chk).start()
      q.processAllAvailable()
      ev.filter(col("ts_us") > mid).coalesce(2).write.mode("append").parquet(srcDir)
      q.processAllAvailable(); q.stop()
      val got = spark.table("tws_scd2_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      val want = SparkEntry.queries("m52_scd2_history")(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("version").toLong,
          r.getAs[String]("state"), r.getAs[Long]("valid_from_us"))).toSet
      assert(want.nonEmpty && got == want,
        s"capture/history diverge: only-stream=${(got -- want).take(3)}, only-batch=${(want -- got).take(3)}")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("canary: transformWithState REQUIRES the RocksDB provider — heap state store is rejected") {
    // pins the platform constraint the st14 docs claim; if Spark ever
    // lifts it, this fails and the docs should drop the requirement
    import spark.implicits._
    val base = TempDirs("graft_twsheap")
    val srcDir = s"$base/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    Seq((1L, 1L, 1000000000L)).toDF("user_id", "event_id", "ts_us")
      .write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_us LONG")
      .parquet(srcDir).as[HealthStream.Ev]
    val q = HealthStream.alertCooldownStream(stream).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("tws_heap_out").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      throw new IllegalStateException("transformWithState ran on the heap " +
        "provider — Spark lifted the RocksDB requirement; retire this canary")
    }
    assert(ex.getMessage.contains("RocksDB") ||
      ex.getMessage.contains("STATE_STORE"), ex.getMessage)
    q.stop()
  }

  test("Trigger.AvailableNow: drains existing files then self-terminates; restart from the checkpoint reads ONLY new files") {
    // the nightly-catchup shape: a batch-cadence job with streaming
    // exactly-once bookkeeping — each run drains what's new and exits,
    // offsets carried by the checkpoint (vs a cron'd batch job that
    // must reinvent source tracking)
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = TempDirs("graft_avnow")
    val srcDir = s"$base/src"; val chk = s"$base/chk"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("event_id LONG").parquet(srcDir)
      val q = stream.writeStream.option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.collect().map(_.getLong(0)) }; ()
        }.start()
      assert(q.awaitTermination(120000), "AvailableNow must self-terminate")
    }
    Seq(1L, 2L, 3L).toDF("event_id").write.mode("append").parquet(srcDir)
    runOnce()
    assert(seen.sorted == Seq(1L, 2L, 3L), s"first run drains the backlog: $seen")
    seen.clear()
    Seq(4L, 5L).toDF("event_id").write.mode("append").parquet(srcDir)
    runOnce()
    assert(seen.sorted == Seq(4L, 5L),
      s"second run must process only the NEW files (checkpointed offsets): $seen")
  }

  test("watchdog: an event-time TIMER fires when the watermark passes a silent node's deadline — state freed") {
    // m23's absent-node semantics as a PUSH: node 2 heartbeats once and
    // goes silent; node 1 keeps beating. When the watermark (driven by
    // node 1's later beats) passes node 2's last_seen + gap, the
    // expired timer emits NodeDown(2) — node 1, still inside its
    // deadline, must NOT emit.
    import spark.implicits._
    val base = TempDirs("graft_wdog")
    val srcDir = s"$base/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val t0 = 1700000000000000L // µs
    def write(rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("user_id", "event_id", "ts_us").write.mode("append").parquet(srcDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      write(Seq((1L, 1L, t0), (2L, 2L, t0)))
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_us LONG")
        .parquet(srcDir).as[HealthStream.Ev]
      val q = HealthStream.watchdogStream(stream, gapMinutes = 10).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("wdog_out").start()
      q.processAllAvailable()
      // node 1 beats 30 min later → watermark jumps past node 2's
      // t0+10min deadline; one more batch lets the expired timer fire
      write(Seq((1L, 3L, t0 + 1800000000L)))
      q.processAllAvailable()
      write(Seq((1L, 4L, t0 + 1860000000L)))
      q.processAllAvailable(); q.stop()
      val down = spark.table("wdog_out")
        .select("node_id", "last_seen_us")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(down == Set((2L, t0)),
        s"exactly node 2, last seen at its only heartbeat: $down")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("maxFilesPerTrigger=1 backpressure: N files become N micro-batches — per-batch input is bounded") {
    // the ingest-control knob that keeps a catch-up run from loading an
    // unbounded backlog into one batch (per-batch state/shuffle must be
    // sized for the trigger, not for however long the stream was down)
    import spark.implicits._
    val base = TempDirs("graft_mfpt")
    val srcDir = s"$base/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    (1 to 3).foreach { i =>
      Seq(i.toLong).toDF("event_id").write.mode("append").parquet(srcDir)
    }
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.schema("event_id LONG")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.collect().map(_.getLong(0)).toSeq }; ()
      }.start()
    q.processAllAvailable(); q.stop()
    val nonEmpty = batches.filter(_.nonEmpty)
    assert(nonEmpty.size == 3, s"3 single-file batches expected: $batches")
    assert(nonEmpty.forall(_.size == 1), s"each batch carries ONE file's rows: $batches")
    assert(nonEmpty.flatten.sorted == Seq(1L, 2L, 3L), s"no loss, no dupes: $batches")
  }

  test("streaming near-dup ingest gate: split-batch foreachBatch == one-shot batch against the persisted index") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    // build the serving index ONCE (the DerivedLayouts cost model)
    val idxDir = TempDirs("graft_ndidx").toString + "/index"
    Dedup.neardupServingIndex(docs.filter(expr("doc_id % 5 != 4")),
      "doc_id", "text", bands = 4, rows = 2, maxBucket = 64)
      .write.parquet(idxDir)
    val batchDocs = docs.filter(expr("doc_id % 5 = 4"))
    val expected = Dedup.neardupIngestGate(batchDocs,
        spark.read.parquet(idxDir), "doc_id", "text", 4, 2, 0.3)
      .orderBy("doc_id").collect().toSeq
    assert(expected.nonEmpty &&
      expected.exists(_.getAs[Int]("is_dup") == 1) &&
      expected.exists(_.getAs[Int]("is_dup") == 0),
      "gate must both flag and clear on this corpus or the parity proves nothing")
    // stage arrivals as TWO files → two micro-batches (maxFilesPerTrigger=1)
    val srcDir = TempDirs("graft_ndstream")
    Seq("doc_id % 10 = 4", "doc_id % 10 = 9").zipWithIndex.foreach { case (p, i) =>
      val tmp = TempDirs("graft_ndpart").toString + "/p"
      batchDocs.filter(expr(p)).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"b$i.parquet"))
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
    val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    var nBatches = 0
    val q = stream.writeStream.foreachBatch {
      (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = Dedup.neardupIngestGate(b, spark.read.parquet(idxDir),
          "doc_id", "text", 4, 2, 0.3)
        out.synchronized { out ++= v.collect(); nBatches += 1 }; ()
    }.start()
    q.processAllAvailable(); q.stop()
    assert(nBatches >= 2, s"parity must span micro-batches, got $nBatches")
    val streamed = out.sortBy(_.getAs[Long]("doc_id")).toSeq
    assert(streamed == expected)
  }

  test("DSv2 micro-batch stream: 3 offset intervals, exactly-once totals == one-shot batch read") {
    import graft.sources.MetricsFeedSource
    MetricsFeedSource.streamIntervals.clear()
    val streamed = SparkEntry.queries("st19_stream_source")(spark, sf)
      .collect().toSeq
    // 60000 rows / 20000-step triggers → the planned offset intervals
    // PARTITION the row space: 3 intervals, no gap, no overlap — the
    // exactly-once contract made visible
    import scala.jdk.CollectionConverters._
    val ivs = MetricsFeedSource.streamIntervals.asScala.toSeq.sorted
    assert(ivs == Seq((0L, 20000L), (20000L, 40000L), (40000L, 60000L)),
      ivs.toString)
    // exactly-once across batch boundaries: the complete-mode totals
    // equal a single batch read of the same feed
    val batch = spark.read.format("graft.sources.MetricsFeedSource")
      .option("rows", "60000").option("partitions", "4").load()
      .groupBy("kind")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .orderBy("kind").collect().toSeq
    assert(streamed == batch)
  }

  test("DSv2 streaming sink: epoch-keyed commits; checkpoint-range replay is idempotent; restart resumes monotone") {
    import graft.sources.AccountingSink
    val runId = "st20spec"
    AccountingSink.clear(runId)
    val cpDir = TempDirs("graft_st20spec").toFile
    def run(rows: Int): Unit = {
      val q = spark.readStream.format("graft.sources.MetricsFeedSource")
        .option("rows", rows.toString).option("partitions", "4")
        .option("streamStep", "20000").load()
        .writeStream.format("graft.sources.AccountingSink")
        .option("runId", runId)
        .option("checkpointLocation", cpDir.getAbsolutePath)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      // the manager deregisters asynchronously after stop; a same-
      // checkpoint restart races it ("concurrently using …/commits")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    }
    // AcceptsLatestSeenOffset: a FRESH start has no offset log, so the
    // engine delivers no hint
    graft.sources.MetricsFeedSource.lastLatestSeenOffset = -1L
    run(40000)
    val first = AccountingSink.epochResults(runId)
    assert(first.map(_._1) == Seq(0L, 1L), first.toString)
    assert(graft.sources.MetricsFeedSource.lastLatestSeenOffset == -1L,
      "fresh start must not receive a latest-seen offset")
    // REPLAY a committed range: drop the checkpoint's last commit marker
    // (the crash window between the sink's epoch commit and the engine's
    // checkpoint commit) — on restart the engine re-executes epoch 1
    // against the SAME offsets and re-commits it to the sink; the
    // epoch-keyed fold must come back byte-identical, not double-counted
    val c1 = new java.io.File(cpDir, "commits/1")
    assert(c1.exists, "checkpoint layout changed")
    assert(c1.delete())
    // the local FS keeps a checksum sidecar; leaving it would block the
    // re-commit's rename (FileAlreadyExistsException on .1.crc)
    new java.io.File(cpDir, "commits/.1.crc").delete()
    run(40000)
    val replayed = AccountingSink.epochResults(runId)
    assert(replayed == first, s"replay changed totals: $first -> $replayed")
    // AcceptsLatestSeenOffset on RESTART: the engine tells the new
    // source instance the latest offset in the offset log — here 40000
    // (epoch 1's end) — BEFORE the first latestOffset() call; arrives
    // as a SerializedOffset (the st20/st23 restart lesson), parsed via
    // json(). This source is stateless so the hint is observational;
    // the pin proves the protocol fires with the right value.
    assert(graft.sources.MetricsFeedSource.lastLatestSeenOffset == 40000L,
      s"latest-seen = ${graft.sources.MetricsFeedSource.lastLatestSeenOffset}")
    // restart with MORE feed available: latestOffset must resume from
    // the committed offset (the monotone-hwm contract — a regressed
    // offset would re-plan committed rows), so exactly one NEW epoch
    // [40000, 60000) appears and earlier epochs stay untouched
    run(60000)
    val resumed = AccountingSink.epochResults(runId)
    assert(resumed.map(_._1) == Seq(0L, 1L, 2L), resumed.toString)
    assert(resumed.take(2) == first)
    // hash-check every epoch against the feed's closed form
    def intervalSum(lo: Long, hi: Long): Long =
      (lo until hi).map(i => (i * 2654435761L) % 100000L).sum
    resumed.foreach { case (e, (n, sv, _)) =>
      assert(n == 20000L)
      assert(sv == intervalSum(e * 20000L, (e + 1) * 20000L), s"epoch $e")
    }
  }

  test("st24: ReportsSinkMetrics — cumulative per-epoch sink metrics in progress; replay-safe (no double count)") {
    import graft.sources.{AccountingSink, AccountingTable}
    val runId = "st24spec"
    AccountingSink.clear(runId)
    val cpDir = TempDirs("graft_st24spec").toFile
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = spark.readStream.format("graft.sources.MetricsFeedSource")
        .option("rows", "60000").option("partitions", "4")
        .option("streamStep", "20000").load()
        .writeStream.format("graft.sources.AccountingSink")
        .option("runId", runId)
        .option("checkpointLocation", cpDir.getAbsolutePath)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      q
    }
    val q = run()
    // each progress event carries the sink's CUMULATIVE commit registry
    val seen = q.recentProgress.toSeq.filter(_.sink.numOutputRows > 0)
      .map(p => (p.sink.numOutputRows,
        p.sink.metrics.get("rowsCommitted").toLong,
        p.sink.metrics.get("epochsCommitted").toLong))
    assert(seen == Seq((20000L, 20000L, 1L), (20000L, 40000L, 2L),
      (20000L, 60000L, 3L)), seen.toString)
    // replay epoch 2 (drop its commit marker + crc): the epoch-keyed
    // registry overwrites the same key, so the sink METRIC — not just
    // the totals — is replay-safe
    val c2 = new java.io.File(cpDir, "commits/2")
    assert(c2.exists && c2.delete())
    new java.io.File(cpDir, "commits/.2.crc").delete()
    run()
    val t = new AccountingTable(new org.apache.spark.sql.types.StructType(), runId)
    assert(t.metrics().get("rowsCommitted") == "60000" &&
      t.metrics().get("epochsCommitted") == "3", t.metrics().toString)
  }

  test("continuous trigger: the feed serves Trigger.Continuous in local mode — complete row set through epoch markers") {
    // the r14 verdict's spike, answered YES: a custom V2 source CAN run
    // under the continuous (epoch-marker) protocol in local mode —
    // fixed residue-class partitions, blocking readers, per-partition
    // offsets merged into the checkpointed composite
    spark.sql("DROP VIEW IF EXISTS cont_spike")
    val q = spark.readStream.format("graft.sources.MetricsFeedSource")
      .option("rows", "4000").option("partitions", "2").load()
      .writeStream.format("memory").queryName("cont_spike")
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("200 milliseconds"))
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.table("cont_spike").select("id").distinct.count() < 4000 &&
          System.nanoTime() < deadline) Thread.sleep(200)
    } finally q.stop()
    val got = spark.table("cont_spike").select("id").collect()
      .map(_.getLong(0)).toSet
    assert(got == (0L until 4000L).toSet,
      s"missing=${(0L until 4000L).toSet.diff(got).take(5)} extra=${got.diff((0L until 4000L).toSet).take(5)}")
  }

  test("stateful sessionization (flatMapGroupsWithState) == declarative sessions") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .as[HealthStream.Ev]
    val stateful = HealthStream.sessionsStateful(ev, 30).toDF()
      .select("user_id", "session_idx", "start_us", "end_us", "n_events")
      .orderBy("user_id", "session_idx").collect().toSeq
    val declarative = HealthStream.sessions(Tables.events(spark, sf), 30)
      .select("user_id", "session_idx", "start_us", "end_us", "n_events")
      .orderBy("user_id", "session_idx").collect().toSeq
    assert(stateful == declarative)
  }
}
