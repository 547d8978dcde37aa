package graft

/** Physical-plan quality gates: what must hold for the 100 TB story.
  * These assert the *shape* of the plan, not timings — pushdown reaching
  * the scan, dims broadcast, top-k not materializing a global sort.
  */
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The filters pushed into a key's one parquet scan. */
  private def pushedFilters(name: String): Set[String] = {
    val scans = plan(name).linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.size == 1, scans)
    "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(scans.head)
      .map(_.group(1).split(", ").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  }

  /** Every physical node under `p`, AQE stages' subplans included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** A key's executed plan plus the plans its builder already ran
    * eagerly (localCheckpoint pins, layout builds): those are collected
    * through a listener, ended by a sentinel query (delivery is async
    * but in order). */
  private def keyPlans(key: String): Seq[SparkPlan] = {
    val executed = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(key)(spark, sf)
      val sentinel = s"canary_end_$key"
      spark.range(1).select(org.apache.spark.sql.functions.lit(sentinel)).collect()
      val eager = Iterator.continually(executed.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(qe => Option(qe).getOrElse(fail(s"$key: sentinel never reached the listener")))
        .map(_.executedPlan).takeWhile(!_.toString.contains(sentinel)).toList
      df.queryExecution.executedPlan :: eager
    } finally spark.listenerManager.unregister(listener)
  }

  test("q2: filters and projection are pushed to the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // scan reads only the 5 output columns, not all 16
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("q4: dimension joins are broadcast, not shuffled") {
    val p = plan("q4_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q7: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q7_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_"), p)
  }

  test("q1: aggregation runs inside whole-stage codegen") {
    // AQE finalizes codegen stages at execution time
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages
    assert(p.contains("*(") , p)
  }

  test("q56: sketch picks broadcast at small SF; forced tiers flip the physical join") {
    import graft.operators.SketchPlanner
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    // default thresholds at sf0.001: est ≪ 1e5 → broadcast, honored
    val p1 = plan("q56_sketch_join_strategy")
    assert(p1.contains("BroadcastHashJoin"), p1)
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val line = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    // thresholds at 0 → top tier: the SAME join plans as sort-merge
    val (j2, s2, _) = SketchPlanner.sketchJoin(
      line, "l_orderkey", urgent, "o_orderkey", 0L, 0L)
    assert(s2 == "merge")
    assert(j2.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      j2.queryExecution.executedPlan.toString)
    // middle tier: shuffle-hash, no sort phase, no silent broadcast
    val (j3, s3, _) = SketchPlanner.sketchJoin(
      line, "l_orderkey", urgent, "o_orderkey", 0L, Long.MaxValue)
    assert(s3 == "shuffle_hash")
    val p3 = j3.queryExecution.executedPlan.toString
    assert(p3.contains("ShuffledHashJoin") && !p3.contains("SortMergeJoin"), p3)
  }

  test("p21: both snapshot faces are bare layout scans — no join in the measured read") {
    val p = plan("p21_compaction_exec")
    // two FileScans (small + compacted layouts), zero joins: the bin
    // join happened at compaction time, readers pay only their scan
    assert(p.linesIterator.count(_.contains("FileScan")) == 2, p)
    assert(!p.contains("Join"), p)
  }

  test("s24: serving reads the persisted indexes — no build machinery in the plan") {
    val p = plan("s24_serving_index")
    // toString truncates long tmp-dir Locations — identify the index
    // scans by their column signatures instead
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan parquet") && l.contains("term#")), p)
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan parquet") && l.contains("id_a#")), p)
    // no index-BUILD machinery at serve time: the sub-split block
    // columns (kNN graph construction) and the documents text scan
    // (posting-list df window) must be absent
    assert(!p.contains("_sub"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("FileScan parquet") && l.contains("text#")), p)
  }

  test("d25: perceptual near-dup banding is an equi-join, never a cross product") {
    val p = plan("d25_image_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t25: html extraction is map-only until ONE per-doc hash aggregate") {
    val p = plan("t25_html_extract")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // exactly one exchange: the partial → final hash aggregate shuffle
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("d3: LSH candidate join is an equi-join, never a cross product") {
    val p = plan("d3_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s1: brute-force ANN broadcasts the query side") {
    val p = plan("s1_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("m9: enrichment dim join is broadcast") {
    val p = plan("m9_enrich_lookup")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d3: pair generation is join-free (one pass over the corpus)") {
    val p = plan("d3_minhash_lsh")
    assert(!p.contains("Join"), p)
    // exactly one scan of documents — the self-join shape would scan twice
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
  }

  test("m23: absent-node anti-join broadcasts the reporting set") {
    val p = plan("m23_absent_nodes")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("m24: all three cadences come from a single fact scan") {
    val p = plan("m24_cadence_rollup")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
  }

  test("q8: rank filter pushes a partial WindowGroupLimit below the shuffle") {
    // Catalyst's InferWindowGroupLimit turns rank<=k into a per-partition
    // top-k BEFORE the exchange: the shuffle carries <=k rows per group
    // per input partition, not the whole fact table
    val p = plan("q8_window_rank")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
  }

  test("m22: nested assembly partial-aggregates the fact before collect_list") {
    val p = plan("m22_nested_roundtrip")
    // the replica-level aggregate must be partial (map-side combine);
    // collect_list only ever sees directory-cardinality rows
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
  }

  test("p2: stratified sample filters map-side through a broadcast config dim") {
    val p = plan("p2_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p3: per-group sample goes through TopNPerKey bounded heaps") {
    val p = plan("p3_group_sample")
    assert(p.contains("TopNPerKey"), p)
    // no window-function fallback: the sample must not sort the corpus
    assert(!p.contains("Window"), p)
  }

  test("p6: rebalancing never windows the corpus — quota heaps only") {
    // the remainder selection must be the per-key-quota TopNPerKey
    // (bounded heaps); a row_number window over the ~5-value lang key
    // would sort each whole class in one task at 100 TB
    val p = plan("p6_balanced_resample")
    assert(p.contains("TopNPerKey"), p)
    assert(!p.contains("Window"), p)
  }

  test("p4: packing windows over the sub-sharded (lang, block) key") {
    // partitioning by lang alone (~5 values) would single-task each
    // language's packing pass; the block sub-shard keys the window
    val p = plan("p4_token_pack")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("blk"), p)
  }

  test("q29: grouping sets are one Expand over one scan") {
    val p = plan("q29_grouping_sets")
    assert(p.contains("Expand"), p)
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
  }

  test("p17: the two distinct-split counts plan without an Expand") {
    // countDistinct pairs would plan one Expand whose group order
    // follows exprIds, so p17's plan would depend on what was built first
    val p = plan("p17_split_leakage")
    assert(!p.contains("Expand"), p)
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
  }

  test("st5: stream-static enrich broadcasts the dimension") {
    val p = plan("st5_stream_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t6: per-doc top-k terms pushes a partial WindowGroupLimit") {
    // the rank filter must bound the shuffle (≤k rows per doc per
    // partition), not sort the full (doc, term) aggregate
    val p = plan("t6_tfidf")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("m27: incremental merge partial-aggregates both branches") {
    val p = plan("m27_incremental_rollup")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d10: contamination check broadcasts the eval grams, no self-join") {
    val p = plan("d10_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q31: quantile bucketing never sorts the fact table") {
    val p = plan("q31_quantile_bucket")
    // the only Sort below a Window must sit on the histogram aggregate
    // (post-agg), never on the raw orders scan: every Window/Sort in the
    // plan has an Aggregate between itself and the FileScan
    val lines = p.linesIterator.toList
    val firstWindow = lines.indexWhere(_.contains("Window"))
    assert(firstWindow >= 0, p)
    val scanBelow = lines.indexWhere(_.contains("FileScan"), firstWindow)
    assert(scanBelow > firstWindow, p)
    assert(lines.slice(firstWindow, scanBelow).exists(_.contains("HashAggregate")),
      "Window must run over the histogram aggregate, not the fact\n" + p)
    // boundaries come back as a broadcast (1-row nested-loop is fine)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("t7: PMI joins see aggregated vocabulary sides; top-k is ordered-limit") {
    val p = plan("t7_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s6: codebook training partial-aggregates before every shuffle") {
    val p = plan("s6_ann_trained")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // both Lloyd iterations + search assignment ride broadcast centroid
    // sets — the corpus is never shuffled for assignment
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("s7: rerank stage broadcasts the bounded candidate set onto the corpus") {
    val p = plan("s7_ann_rerank")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the full-precision rerank join is an equi BHJ, not a shuffle join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t8: vocab top-K is a bounded TakeOrdered; the coverage window sits above the limit") {
    val p = plan("t8_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the global (unpartitioned) window must run on the K=200 survivors,
    // i.e. appear above the limit in the tree — the term counts
    // themselves partial-aggregate before their shuffle
    val winAt = p.linesIterator.indexWhere(_.contains("Window"))
    val takeAt = p.linesIterator.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(winAt >= 0 && takeAt > winAt, s"window@$winAt take@$takeAt\n$p")
    assert(p.contains("partial_"), p)
  }

  test("m30: funnel type-filters reach the parquet scans; aggregates are partial") {
    val p = plan("m30_funnel_conversion")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)") ||
      p.contains("EqualTo(event_type,view)"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
  }

  test("p7: mixture materialization never hash-shuffles — map-side explode only") {
    val p = plan("p7_weighted_mix")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("st7: sliding windows expand map-side into one partial-agg shuffle") {
    val p = plan("st7_sliding_rate")
    // no self-join: overlap comes from the window expansion, then one
    // partial-agg exchange
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("m29: CDC upsert is one partial-agg shuffle, never a window sort") {
    val p = plan("m29_cdc_upsert")
    // max_by(struct) partial-aggregates map-side; a row_number
    // formulation would show Window + per-key Sort here instead
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
  }

  test("x7: content-hash dedup hashes map-side — payload bytes never shuffle") {
    val df = SparkEntry.queries("x7_content_dedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), p)
    // the hash exchange partitions on the md5 key (Catalyst names the
    // computed group key _groupingexpression), not the blob; the
    // partial agg below it means only (key, counters) rows shuffle
    val exch = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(exch.contains("_groupingexpression") || exch.contains("content_hash"), p)
    assert(!exch.contains("payload"), p)
  }

  test("multimodal canary: each x-family key scans the same documents columns; payloads never shuffle before the decode") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapElementsExec,
      MapPartitionsExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val id = "struct<doc_id:bigint>"
    val n = "struct<doc_id:bigint,n_chars:bigint>"
    val text = "struct<doc_id:bigint,text:string>"
    // the documents columns each key reads: its synthesizer's input
    // column, plus x9's manifest join
    val expected = Map(
      "x1_binary_meta" -> Seq(n), "x2_frame_sample" -> Seq(text),
      "x3_modality_stats" -> Seq(n), "x4_resize" -> Seq(n),
      "x5_features" -> Seq(text), "x6_audio_meta" -> Seq(n),
      "x7_content_dedup" -> Seq(id), "x8_video_meta" -> Seq(n),
      "x9_sample_manifest" -> Seq(
        "struct<doc_id:bigint,lang:string,source:string,n_chars:bigint>", n),
      "x10_tar_index" -> Seq(n), "x11_zip_index" -> Seq(n),
      "x12_warc_index" -> Seq(n), "x13_tiff_meta" -> Seq(n),
      "x14_sniff_dispatch" -> Seq(n), "x15_npy_meta" -> Seq(id),
      "x16_safetensors_meta" -> Seq(id), "x17_image_phash" -> Seq(id),
      "x18_pdf_extract" -> Seq(text), "x19_pcm_energy" -> Seq(id),
      "x20_audio_fingerprint" -> Seq(id), "x21_exif_orientation" -> Seq(id),
      "x22_oriented_phash" -> Seq(id), "x23_scene_cuts" -> Seq(id),
      "d25_image_neardup" -> Seq(id), "d26_audio_neardup" -> Seq(id),
      "d27_oriented_neardup" -> Seq(id), "t12_utf8_audit" -> Seq(text),
      "t25_html_extract" -> Seq(text))
    // x2/x5 are declarative column expressions; every other key maps
    // payloads through typed object operators
    val declarative = Set("x2_frame_sample", "x5_features")
    // d25-d27 decode inside an eager localCheckpoint, so the documents
    // scan lives in a plan the builder already executed (keyPlans)
    for ((key, schemas) <- expected) {
      val all = keyPlans(key).flatMap(nodes)
      val scans = all.collect { case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName.startsWith("documents")) =>
        s.requiredSchema.catalogString }
      assert(scans.distinct.sorted == schemas.sorted, s"$key documents ReadSchema")
      val maps = all.filter(m => m.isInstanceOf[MapElementsExec] || m.isInstanceOf[MapPartitionsExec])
      assert(maps.isEmpty == declarative(key), s"$key object maps: ${maps.size}")
      for (m <- maps)
        assert(!nodes(m).exists(x => x.isInstanceOf[Exchange] || x.isInstanceOf[QueryStageExec]),
          s"$key: an exchange sits between the documents scan and the decode\n$m")
    }
  }

  test("ranked top-k canary: no Window sits directly above a TopNPerKey in any s-family plan") {
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SortExec,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // the final heap emits each key's survivors best-first and numbers
    // them (topNPerGroupFast's rank): a window reached through only
    // these row-preserving or row-dropping nodes would re-sort the
    // survivors to derive the same number
    def under(p: SparkPlan): SparkPlan = p match {
      case q: QueryStageExec => under(q.plan)
      case _: SortExec | _: ProjectExec | _: FilterExec | _: Exchange | _: AQEShuffleReadExec |
          _: WholeStageCodegenExec | _: InputAdapter | _: WindowGroupLimitExec =>
        under(p.children.head)
      case other => other
    }
    val keys = SparkEntry.queries.keys.filter(_.matches("s\\d+_.*")).toSeq.sorted
    assert(keys.size == 27, keys)
    val reranked = keys.filter(k => keyPlans(k).flatMap(nodes).exists {
      case w: WindowExec => under(w.child).isInstanceOf[graft.plans.TopNPerKeyExec]
      case _ => false
    })
    assert(reranked.isEmpty, s"a Window re-ranks TopNPerKey survivors in $reranked")
  }

  test("t17: no Window in its executed plan or its eager checkpoint plans") {
    // both top-3s (exact truth, hashed widths) are TopNPerKey heaps; a
    // row_number window would sort every candidate pair per query
    val windows = keyPlans("t17_embed_fidelity").flatMap(nodes)
      .filter(_.getClass.getPackage.getName == "org.apache.spark.sql.execution.window")
    assert(windows.isEmpty, windows.map(_.nodeName).mkString(", "))
  }

  test("d11: accuracy eval joins ride the bounded candidate set — no cross product") {
    val p = plan("d11_minhash_accuracy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q32: correlated subqueries de-correlate to joins — no per-row re-execution") {
    val p = plan("q32_correlated_subquery")
    // RewriteCorrelatedScalarSubquery → aggregate + join; EXISTS → semi
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("partial_"), p)
  }

  test("d12: bloom probe broadcasts the 32-row sketch — the incoming half never shuffles") {
    val p = plan("d12_bloom_dedup")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p8: z-order stats are one 64-group partial-agg shuffle, all map-side math") {
    val p = plan("p8_zorder_layout")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("m37: correlation is two chained partial aggs — no window, no join") {
    val p = plan("m37_metric_correlation")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("m38: flap counting reuses the lag window's partitioning for the agg") {
    val p = plan("m38_flap_detection")
    // window partitions by user_id; the groupBy(user_id) above it must
    // NOT re-shuffle — one hash exchange total
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("m36: interpolation is one per-entity window + bounded map-side explode") {
    val p = plan("m36_linear_interp")
    assert(p.contains("Generate explode"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("p10: quota windows run on the cells aggregate; the corpus rides broadcast + quota heaps") {
    val p = plan("p10_quota_matrix")
    // selection must be the variable-quota TopNPerKey, never a corpus
    // row_number; the quota table joins back as a broadcast
    assert(p.contains("TopNPerKey"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // windows are legal here ONLY on the aggregated cells (below them
    // sits the cells HashAggregate, not the documents scan): every
    // Window in the plan must sort rows that already passed an agg
    val lines = p.linesIterator.toList
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0 && lines.drop(winIdx).exists(_.contains("HashAggregate")), p)
  }

  test("m43: quantile sketch partial-aggregates the corpus once; estimates never touch it again") {
    val p = plan("m43_quantile_sketch")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("st11: streaming HLL is ONE windowed agg — no join, 64 register columns") {
    val p = plan("st11_stream_hll")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("st10: p95 histogram is ONE windowed agg — no join, single hash shuffle") {
    val p = plan("st10_stream_p95")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("p9: ring assignment broadcasts the ring — never a cartesian shuffle") {
    val p = plan("p9_consistent_shards")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("d14: cluster census assigns via broadcast codebook + max_by — no window sort") {
    val p = plan("d14_cluster_dedup")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), p)
  }

  test("s9/d6: bucket sub-split censuses join as broadcasts — the pairing join is the only corpus join") {
    // s9's executed plan starts at the localCheckpoint, so gate the
    // candidate pipeline (subSplitBlocks + pairing) directly — the same
    // shape d6/d16 use via cosineDupPairs
    import org.apache.spark.sql.functions.col
    val vecs = graft.sources.Tables.embeddings(spark, sf)
    val p = graft.operators.Similarity.cosineDupPairs(vecs, "vec_id",
      "embedding", "label", threshold = 0.35)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the three census joins (base/mid/fine counts) must be broadcasts of
    // narrow aggregates, never corpus shuffles — at most the one
    // block-equi pairing join may be a shuffled join
    val shuffled = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(shuffled <= 1, s"sub-split must not add shuffled joins (found $shuffled):\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p)
  }

  test("q34: NOT IN plans as a broadcast null-aware anti join, not a per-row subquery") {
    val p = plan("q34_nullaware_anti")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the single-column NOT IN rewrite: BroadcastHashJoin's trailing
    // boolean operand is isNullAwareAntiJoin — must be true
    assert(p.contains("LeftAnti, BuildRight, true"), p)
  }

  test("m41: island merge is per-entity windows + one agg — a single hash exchange") {
    val p = plan("m41_interval_coalesce")
    assert(!p.contains("Join"), p)
    // running-max, island-sum, and the groupBy all share the user_id
    // partitioning — one exchange total
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("s8: pair generation is in-row — the top-k result is never self-joined") {
    val df = SparkEntry.queries("s8_topk_diversity")(spark, sf)
    val analyzed = df.queryExecution.optimizedPlan.toString
    // exactly one pass over the candidate pipeline: the brute-force
    // cross join appears once; pairs come from the in-row explode
    assert(analyzed.linesIterator.count(_.contains("Join Cross")) <= 1, analyzed)
    assert(analyzed.contains("explode"), analyzed)
  }

  test("s11: PQ codebook and LUT ride broadcasts — no shuffle join anywhere") {
    val df = SparkEntry.queries("s11_ann_pq")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // encode + ADC joins are broadcasts of the tiny codebook/LUT; the
    // only exchanges are the per-(vec,s)/per-(query,vec) partial aggs
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // ranking rides the bounded-heap operator, not a global sort
    assert(p.contains("TopNPerKey"), p)
  }

  test("q36: bucketed join is sort-merge with NO exchange on either input") {
    val p = plan("q36_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    // co-located: neither side re-shuffles on the join key — the only
    // exchanges are the post-join segment agg and the final sort
    assert("Exchange hashpartitioning\\(o_custkey".r.findFirstIn(p).isEmpty, p)
    assert("Exchange hashpartitioning\\(c_custkey".r.findFirstIn(p).isEmpty, p)
    // the scans report their bucket count
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("m45: sketch algebra partial-aggregates the corpus once; pairing never rejoins it") {
    val df = SparkEntry.queries("m45_hll_algebra")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    // one corpus scan (a single relation leaf), no self-join of the sketch
    assert(p.linesIterator.count(_.contains("Relation")) == 1, p)
    assert(!p.contains("Join"), p)
    // register vectors are the tall (type, idx) grid, not 64 wide columns
    assert("\\br63\\b".r.findFirstIn(p).isEmpty, p)
    // the null-type filter reaches the scan
    assert(pushedFilters("m45_hll_algebra") == Set("IsNotNull(event_type)"))
  }

  test("m32: the corpus is aggregated once per key before the ×4 explode and its md5") {
    val p = SparkEntry.queries("m32_cms_heavy_hitters")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val lines = p.linesIterator.toSeq
    assert(lines.count(_.contains("Relation")) == 1, p)
    assert(!p.contains("Join"), p)
    // tree strings print parents first: the Generate sits above the
    // per-key count, so md5 runs once per (distinct key, row)
    val generate = lines.indexWhere(_.contains("Generate"))
    val perKey = lines.indexWhere(l => l.contains("Aggregate") && l.contains("AS true_n"))
    assert(generate >= 0 && perKey > generate, p)
    assert(lines.drop(perKey).forall(l => !l.contains("md5")), p)
  }

  test("m44: the hour and global rollups are windows over the 5-min rows — no join of any kind") {
    val df = SparkEntry.queries("m44_burn_rate")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString + df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(df.queryExecution.optimizedPlan.toString.linesIterator
      .count(_.contains("Relation")) == 1, p)
  }

  test("p11: day predicate prunes partitions at the scan — no day filter post-scan") {
    val df = SparkEntry.queries("p11_partition_prune")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(day"), p)
    // pruning happened at planning: the partition count in the scan is
    // the 3 matching days, so no Filter node re-checks `day`
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Filter") && l.contains("day")), p)
  }

  test("q40: WITH RECURSIVE plans as the native UnionLoop operator") {
    val df = SparkEntry.queries("q40_recursive_cte")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("UnionLoop"), p)
  }

  test("q39: selective join side injects a runtime bloom filter into the fact scan stage") {
    val df = SparkEntry.queries("q39_runtime_filter")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the bloom probe runs in the application side's scan stage, so
    // non-matching fact rows die before the join shuffle
    assert(p.contains("might_contain"), p)
    assert(p.contains("SortMergeJoin"), p)
  }

  test("q83: feed⋈feed equi-join is ABSORBED into one scan — no join operator, decline path keeps parity") {
    val df = SparkEntry.queries("q83_join_pushdown")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // ONE scan carrying the pushed join; no join operator anywhere
    assert(p.contains("PushedJoin: inner(id)"), p)
    assert(!p.contains("MergeJoin") && !p.contains("HashJoin") &&
      !p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BatchScan")) == 1, p)
    assert(graft.sources.MetricsFeedSource.lastPushedJoin
      .startsWith("inner(id) range=[0,40000)"),
      graft.sources.MetricsFeedSource.lastPushedJoin)
    // decline path: a non-id condition is NOT absorbed — Spark plans
    // the normal join and the answer is the engine's own
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    def feed(n: Int) = s.read.format("graft.sources.MetricsFeedSource")
      .option("rows", n.toString).option("partitions", "4").load()
    val a = feed(300); val b = feed(200)
    val weird = a.join(b, a("id") === b("value"))
    assert(weird.queryExecution.executedPlan.toString.contains("Join"),
      weird.queryExecution.executedPlan.toString)
    // and the absorbed result equals the engine-planned join bit for bit
    val c = feed(300); val d = feed(200)
    val pushedRows = c.join(d, c("id") === d("id"))
      .select(c("id"), c("kind"), d("value"))
      .collect().map(_.toString).sorted.toSeq
    val s2 = spark.newSession()
    def feed2(n: Int) = s2.read.format("graft.sources.MetricsFeedSource")
      .option("rows", n.toString).option("partitions", "4").load()
    val e = feed2(300); val f = feed2(200)
    val plainRows = e.join(f, e("id") === f("id"))
      .select(e("id"), e("kind"), f("value"))
      .collect().map(_.toString).sorted.toSeq
    assert(pushedRows == plainRows && pushedRows.length == 200)
  }

  test("s12: composed IVF×PQ — the ADC LUT joins broadcast WITH the cell key, no full-code scan") {
    val df = SparkEntry.queries("s12_ann_ivfpq")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the scoring join carries the IVF cell as an equi-key next to the
    // PQ code key: other-cell code rows die at the map-side hash probe
    // (the prune), and the LUT side is a broadcast — never a shuffle
    val lutJoin = p.linesIterator.filter(_.contains("BroadcastHashJoin"))
      .filter(l => l.contains("cent_id") && l.contains("ivf_cell"))
    assert(lutJoin.nonEmpty, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // ranking rides the bounded-heap operator, not a global sort
    assert(p.contains("TopNPerKey"), p)
  }

  test("s13: multi-probe query cells ride TopNPerKey heaps and broadcast onto the corpus") {
    val p = plan("s13_ann_multiprobe")
    assert(p.contains("TopNPerKey"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("m47: log sketch is a pure partial-agg pipeline — no join, corpus work in one groupBy") {
    val p = plan("m47_log_quantile")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // no output depends on the day: the corpus bins straight to (type, qbin)
    assert("\\bday\\b".r.findFirstIn(p).isEmpty && !p.contains("86400000000"), p)
    // rows without a type or a v are dropped at the scan
    assert(pushedFilters("m47_log_quantile") ==
      Set("IsNotNull(event_type)", "IsNotNull(value)", "IsNotNull(user_id)"))
  }

  test("st12: domain-free p95 aggregates map-side — one window groupBy, no join, no per-event sort") {
    val p = plan("st12_stream_log_p95")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("s14: the filter attribute is INSIDE the LSH probe's broadcast equi-key") {
    val p = plan("s14_ann_filtered")
    // the probe join hashes on (bucket, lang): cross-predicate
    // candidates die map-side, before any cosine is computed
    val probe = p.linesIterator.filter(_.contains("BroadcastHashJoin"))
      .filter(l => l.contains("bucket") && l.contains("lang"))
    assert(probe.nonEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TopNPerKey"), p)
  }

  test("st13: CMS watchlist is ONE windowed agg — no join, probe lookup is a post-agg explode") {
    val p = plan("st13_stream_cms")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // the watchlist probe is a stateless generate above the aggregate
    assert(p.contains("Generate"), p)
  }

  test("t13: corpus frequency reuses the tf aggregate's window — the fact is scanned once") {
    val p = plan("t13_rarity_score")
    // one parquet scan of documents: a tf⋈cf self-join would show two
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p13: both layout manifests come from ONE fact scan via map-side explode") {
    val p = plan("p13_zonemap_skip")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(scans == 1, p)
    assert(p.contains("Generate"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
  }

  test("s15: search reads the MATERIALIZED index — no argmax re-assignment of the stored side") {
    val p = plan("s15_ann_index_append")
    // the index side is a FileScan of the persisted (id, vec, cell)
    // layout; the delta's argmax is checkpointed out — serving never
    // recomputes any assignment
    assert(p.contains("graft_ivf_index"), p)
    assert(!p.contains("max_by"), p)
    assert(p.contains("TopNPerKey"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q41: unpivot plans as ONE Expand over ONE scan with partial aggregation") {
    val p = plan("q41_unpivot")
    assert(p.contains("Expand"), p)
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, p)
    assert(p.contains("partial_"), p)
  }

  test("d20: prefix pairs come from bucket explode — no corpus self-join, no cartesian") {
    val p = plan("d20_prefix_simjoin")
    assert(p.contains("Generate"), p) // in-row pair explode of token buckets
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q49: typed Aggregator plans as PARTIAL ObjectHashAggregate — k-pair buffers cross the shuffle, not rows") {
    val p = plan("q49_typed_agg")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topkids"), "map-side combine must apply:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("d23: substring dedup is one corpus scan, zero joins, three agg-row shuffles") {
    val p = plan("d23_substring_dedup")
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      "substring dedup must scan the corpus once:\n" + p)
    assert(!p.contains("Join"), "fp flagging must be window-based, never a join-back:\n" + p)
    // (fp,doc) partial agg + count-over-fp window + per-doc rollup
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
    assert(p.contains("partial_"), "window explode must combine map-side:\n" + p)
    // window fingerprints come from a Generate (position explode below
    // the md5 projection — tokenization runs once per doc, not per window)
    assert(p.contains("Generate"), p)
  }

  test("d24: removal flags on aggregate rows — three pruned scans, no cartesian, no corpus self-join") {
    val p = plan("d24_substring_removal")
    // window pass + token pass + docs-side restore (t10's pattern);
    // anything more means an accidental re-derivation
    assert("documents\\.parquet".r.findAllIn(p).size == 3,
      "removal must read the corpus exactly three times:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the (fp,doc) explode combines map-side before the fp window
    assert(p.contains("partial_"), p)
    assert(p.contains("Generate"), p)
  }

  test("p12: dim join injects a RUNTIME dynamicpruning partition filter on the fact scan") {
    val df = SparkEntry.queries("p12_dynamic_prune")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // no day literal exists in the query, yet the fact scan carries a
    // runtime partition filter fed by the broadcast dim (DPP)
    assert(p.contains("dynamicpruning"), p)
    assert(p.contains("PartitionFilters"), p)
    // the dim side is broadcast (5 rows), never a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p15: four pipeline stages fuse into ONE scan — partial dedup limit, one fused filter, no joins") {
    val p = plan("p15_pipeline_e2e")
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      "the composed pipeline must scan the corpus once:\n" + p)
    // dedup candidates pruned map-side before the hash shuffle
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    // dedup rank, quality floors, and split draw fuse into one Filter
    assert("\\(rn#\\d+ = 1\\)".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "stage chaining must not introduce joins:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3,
      "dedup + pack window + bin agg are the only shuffles:\n" + p)
  }

  test("q46: SHUFFLE_HASH hint forces a ShuffledHashJoin — no sort phase, no silent broadcast fallback") {
    val p = plan("q46_join_hints")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("st14/m48: sequential folds ride ONE user_id exchange — the recurrence runs on aggregate rows") {
    for (k <- Seq("st14_alert_cooldown", "m48_ewma_smooth")) {
      val p = plan(k)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"$k:\n$p")
      assert(p.contains("partial_count"), s"$k must map-side combine:\n$p")
      // the fold input is the per-key collected array (the HOF itself is
      // fused into the aggregate's result expressions — not printed)
      assert(p.contains("collect_list"), s"$k folds over collected arrays:\n$p")
    }
  }

  test("s16: lexical channel is an inverted-index term join — never doc×doc; fusion join rides bounded lists") {
    val p = plan("s16_hybrid_rrf")
    // only the declared-brute vector channel may cross-join (broadcast
    // query side); the term join and the fusion join must be equi-joins
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "only the vector channel may be a broadcast nested loop:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    // both channels bound their lists before fusion (TopNPerKey heaps
    // for lexical, rank filter for vector)
    assert(p.contains("TopNPerKey") || p.contains("WindowGroupLimit"), p)
  }

  test("p14: manifest agg reads ONLY (doc_id, n_chars); cumsum window sits on aggregate rows") {
    val p = plan("p14_compaction_plan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      "compaction stats must never scan text:\n" + p)
    // the single-partition window input is the 200-row shard manifest:
    // a partial agg must sit below the window's SinglePartition exchange
    assert(p.contains("partial_count"), p)
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("q42: correlated LATERAL de-correlates to a broadcast join + partial WindowGroupLimit") {
    val p = plan("q42_lateral")
    // the naive interpretation re-runs the subquery per outer row; the
    // plan must instead be ONE customer scan, per-key limit pushed
    // below the shuffle, joined to the broadcast nation dim
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("customer\\.parquet".r.findAllIn(p).size == 1,
      "lateral subquery must not rescan customer per outer row:\n" + p)
  }

  test("q43: forward-fill window and per-user agg share ONE hash exchange") {
    val p = plan("q43_fill_forward")
    // the groupBy(user_id) must ride the window's hashpartitioning —
    // one data shuffle total (+ the final presentation range sort)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count"), p) // agg still map-side combines
    assert(p.contains("last(reading_c"), p)
  }

  test("m52/p20: change-detection + versioning / features + labels ride ONE user exchange") {
    // m52: the lag window, the post-filter row_number/lead window, and
    // nothing else — both windows share the (user_id) hashpartitioning
    val pm = plan("m52_scd2_history")
    assert("Exchange hashpartitioning".r.findAllIn(pm).size == 1, pm)
    assert(!pm.contains("CartesianProduct"), pm)
    // p20: all cumulative frames ride one exchange and ONE partial sort
    // (Spark splits count/sum into two Window nodes that share the sort
    // — fine; a SECOND sort or a join-back would not be), label filter
    // above, never a join back
    val pp = plan("p20_pit_features")
    assert("Exchange hashpartitioning".r.findAllIn(pp).size == 1, pp)
    assert("Sort \\[.*\\], false, 0".r.findAllIn(pp).size == 1,
      s"windows must share one partial sort\n$pp")
    assert(!pp.contains("SortMergeJoin") && !pp.contains("BroadcastHashJoin"), pp)
  }

  test("t15: triangle stage runs entirely on the checkpointed edge list — zero corpus rescans") {
    val p = plan("t15_colloc_triangles")
    // the corpus → edge-list pass materializes via localCheckpoint at
    // construction; degrees, orientation, and both wedge joins must
    // read the checkpoint (ExistingRDD), never documents.parquet again
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("parquet"), p)
  }

  test("t17: truth and both hash widths share the ONE checkpointed (doc,term) aggregate") {
    val p = plan("t17_embed_fidelity")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("parquet"), p)
  }

  test("s19: drift monitor is pure partial aggregation — no joins touch vector rows") {
    val p = plan("s19_embed_drift")
    assert(p.contains("posexplode"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("d22: the sweep's final plan re-hashes NOTHING — candidates checkpointed, truth read from the artifact") {
    val p = plan("d22_banding_sweep")
    // the signature/candidate pass and the shingle sets materialize via
    // localCheckpoint at construction; the exact truth is the PERSISTED
    // simtruth artifact (paid once — d20 is the key that measures the
    // live join); the measured plan reads ExistingRDDs + the artifact
    // FileScan with zero md5/shingle recompute
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("md5"), p)
    assert(p.contains("simtruth"), p)
  }

  test("s18: the probe sweep runs ONE corpus cell-assignment, not one per probe level") {
    val p = plan("s18_probe_sweep")
    // nearestCell's argmax is a MAP-SIDE array_max fold over the
    // broadcast centroid array (r16 — the old max_by partial+final agg
    // pair and its corpus shuffle are gone); the sweep must plan
    // exactly one such fold (the brute truth side has none; a
    // per-level re-search would plan three, an inlined one more).
    // Anchored to the assignment shape — the fold over `_cbs` inside
    // cellColumn's explode — so an unrelated array_max cannot count.
    val asg = "explode\\(array\\(\\(array_max\\(transform\\(_cbs".r.findAllIn(p).size
    assert(asg == 1, s"expected 1 map-side array_max corpus assignment, saw $asg\n$p")
    assert(!p.contains("max_by"), s"the shuffled argmax form is back\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("assignment barrier canary: a filter on a non-cell column above indexWithCells reaches the scan") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.sources.Tables
    // the barrier that keeps the `cell` fold from being inlined must not
    // block a caller's predicate on a SIBLING column: it has to prune at
    // the corpus scan, not run above every assignment (a Project flagged
    // nondeterministic, the r16 barrier, failed this)
    val vecs = Tables.embeddings(spark, sf)
    val p = Similarity.indexWithCells(vecs, vecs.filter(col("vec_id") < 8),
        "vec_id", "embedding")
      .filter(col("vec_id") >= 100)
      .queryExecution.executedPlan.toString
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(_.contains("GreaterThanOrEqual(vec_id,100)")), p)
  }

  test("q52: a failed write never publishes — abort discards task accounting") {
    import graft.sources.AccountingSink
    import spark.implicits._
    val runId = "abort_test"
    AccountingSink.clear(runId)
    val poisoned = spark.range(0, 1000, 1, 4)
      .map { i => if (i == 500L) throw new RuntimeException("poisoned row"); i }
      .toDF("value")
    val e = intercept[Exception] {
      poisoned.write.format("graft.sources.AccountingSink")
        .option("runId", runId).mode("append").save()
    }
    assert(e.getMessage != null)
    // commit() never ran → no published result; the failed attempt's
    // writer aborted and its counts were discarded
    assert(AccountingSink.result(runId).isEmpty,
      "failed job must not publish partial accounting")
    assert(AccountingSink.abortedTasks(runId) >= 1,
      "the poisoned task's writer must have aborted")
  }

  test("q53: time travel reads every snapshot from ONE scan — versions add, scans don't") {
    val p = plan("q53_snapshot_read")
    // both snapshots come off one multi-path FileScan; snapshot totals
    // are a cumulative sum over per-delta aggregates (2 rows)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("input_file_name"), p)
    assert(!p.contains("Union"), s"per-snapshot rescans would union\n$p")
  }

  test("s25: the masked serving face is an index scan + broadcast anti-join — no rebuild") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.sources.{DerivedLayouts, Tables}
    val vecs = Tables.embeddings(spark, sf)
    val cents = vecs.filter(col("vec_id") < 8)
    val base = DerivedLayouts.once(s"ivf_index|$sf") { p =>
      Similarity.indexWithCells(vecs.filter(pmod(col("vec_id"), lit(10)) =!= 0),
          cents, "vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$p/index")
    }
    val index = spark.read.parquet(s"$base/index")
    val tomb = vecs.filter(pmod(col("vec_id"), lit(20)) === 7).select(col("vec_id"))
    val queries = Similarity.indexWithCells(
      vecs.filter(pmod(col("vec_id"), lit(50)) === 0), cents, "vec_id", "embedding")
    val masked = Similarity.searchAssigned(
      index.join(broadcast(tomb), Seq("vec_id"), "left_anti"),
      queries, "vec_id", "embedding", k = 3)
    val p = masked.queryExecution.executedPlan.toString
    // delete is served as a broadcast ANTI join over the persisted
    // index scan — never a sort-merge, never an index rewrite
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"), p)
    assert(p.toLowerCase.contains("graft_ivf_index"),
      s"masked face must scan the persisted index artifact\n$p")
  }

  test("p22: the manifest is one scan of the shard files — no joins, partition column from layout") {
    val p = plan("p22_shard_export")
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), s"manifest must not join\n$p")
    assert(p.contains("input_file_name"), p)
  }

  test("q57: the accounting and both version faces are bare scans of the written layout") {
    val p = plan("q57_merge_into")
    // accounting + v1 + v2: three FileScans, no join in the READ path
    // (the merge's full-outer join ran at layout-build time)
    assert("FileScan parquet".r.findAllIn(p).size == 3, p)
    assert(!p.contains("Join"), s"the measured read must not re-merge\n$p")
  }

  test("p25/bucketedGlobalRank: two-level rank == global row_number; every window stays partitioned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    // 400 rows, 2 groups, md5 keys — exactly p25's shape pre-checkpoint
    val df = (0L until 400L).toDF("id")
      .withColumn("g", (col("id") % 2).cast("int"))
      .withColumn("k", md5(concat(col("g").cast("string"), lit("|"),
        col("id").cast("string"))))
    val ranked = graft.operators.Relational
      .bucketedGlobalRank(df, "k", Seq("g"), "pos")
    // positions equal the single-window global rank exactly
    val truth = df.withColumn("pos2",
      (row_number().over(W.partitionBy(col("g")).orderBy(col("k"))) - 1).cast("long"))
    assert(ranked.join(truth, Seq("id", "g", "k"))
      .filter(col("pos") =!= col("pos2")).count() == 0)
    // and the plan never windows a group globally: both window passes
    // carry the group key, the rank pass also the bucket prefix
    val p = ranked.queryExecution.executedPlan.toString
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    // windowspecdefinition(g, ...) — the partition spec leads with the
    // group key in every window pass
    windows.foreach { w =>
      assert(w.contains("windowspecdefinition(g#"), s"unpartitioned window:\n$w\n$p")
    }
    assert(windows.exists(_.contains("_bkt")), p)
  }

  test("q60: MV substitution answers the aggregate from the rollup — fact never scanned, session-isolated") {
    import org.apache.spark.sql.functions._
    import graft.plans.MvRewrite
    MvRewrite.rewrites.set(0L)
    val df = SparkEntry.queries("q60_mv_rewrite")(spark, sf)
    val rewrittenRows = df.collect().toSeq
    val p = df.queryExecution.executedPlan.toString
    // the rule fired, the scan reads the MV layout, the fact is gone
    assert(MvRewrite.rewrites.get() >= 1L, p)
    assert(p.contains("graft_mvrollup"), p)
    assert(!p.contains("lineitem.parquet"), s"fact scanned despite MV\n$p")
    // soundness: the same aggregate on the PARENT session (flag never
    // set there) scans the fact and agrees row-for-row
    def factAgg(s: org.apache.spark.sql.SparkSession) =
      graft.sources.Tables.lineitem(s, sf)
        .groupBy(col("l_returnflag"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_c"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    val off = factAgg(spark)
    assert(off.queryExecution.executedPlan.toString.contains("lineitem.parquet"),
      "the parent session must be untouched by q60's opt-in")
    assert(off.collect().toSeq == rewrittenRows)
    // the isolation is load-bearing: in a flag-ON session even a bare
    // count(*) by l_returnflag (q10's n_lines leg) answers from the MV —
    // result-identical but a plan distortion, which is exactly why the
    // query scopes the flag to its own session
    val on = spark.newSession()
    on.conf.set("spark.graft.mv.enabled", "true")
    val bare = graft.sources.Tables.lineitem(on, sf)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_lines"))
    assert(bare.queryExecution.executedPlan.toString.contains("graft_mvrollup"))
    // narrowness: a WRAPPED aggregate (division over the sum) vetoes
    // even with the flag on — the rule never rewrites shapes it cannot
    // prove
    val wrapped = graft.sources.Tables.lineitem(on, sf)
      .groupBy(col("l_returnflag"))
      .agg((sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("q"))
    assert(wrapped.queryExecution.executedPlan.toString.contains("lineitem.parquet"))
  }

  test("q60v2: MIN/MAX rewrite from MV partials; COUNT(NULL) and a stale fact veto") {
    import org.apache.spark.sql.functions._
    import graft.plans.MvRewrite
    // q60 registers the MV (with min/max partial columns) as a side
    // effect; run it first so the registry is populated
    SparkEntry.queries("q60_mv_rewrite")(spark, sf).collect()
    val on = spark.newSession()
    on.conf.set("spark.graft.mv.enabled", "true")
    def li = graft.sources.Tables.lineitem(on, sf)
    def centsP = round(col("l_extendedprice") * 100).cast("long")
    // MIN and MAX queries answer from the MV (decomposable partials)
    val mm = li.groupBy(col("l_returnflag"))
      .agg(min(centsP).as("lo_c"), max(centsP).as("hi_c"))
    val pmm = mm.queryExecution.executedPlan.toString
    assert(pmm.contains("graft_mvrollup"), pmm)
    assert(!pmm.contains("lineitem.parquet"), pmm)
    // ...and agree exactly with the fact-scan answer (flag-off session)
    val truth = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("lo_c"),
        max(round(col("l_extendedprice") * 100).cast("long")).as("hi_c"))
      .orderBy(col("l_returnflag"))
    assert(mm.orderBy(col("l_returnflag")).collect().toSeq == truth.collect().toSeq)
    // COUNT(NULL) is 0 on the fact — it must NOT rewrite to the row count
    val cn = li.groupBy(col("l_returnflag"))
      .agg(count(lit(null)).as("n_null"))
    val pcn = cn.queryExecution.executedPlan.toString
    assert(pcn.contains("lineitem.parquet"), pcn)
    assert(cn.collect().forall(_.getLong(1) == 0L))
    // freshness: a registration whose fact fingerprint no longer matches
    // the live listing vetoes (register against a copy, then append a
    // file to the copy — the MV is silently stale and must not answer)
    val tmp = TempDirs("graft_mvfresh").toString
    val factCopy = s"$tmp/factcopy.parquet"
    graft.sources.Tables.lineitem(spark, sf).write.parquet(factCopy)
    val mvPath = s"$tmp/mv"
    spark.read.parquet(factCopy)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
        count(lit(1)).as("n_rows"))
      .write.parquet(mvPath)
    MvRewrite.register(MvRewrite.MvDef(
      factFragment = factCopy, mvPath = mvPath,
      groupCols = Set("l_returnflag", "l_linestatus"),
      centsCols = Map("l_quantity" -> "qty_c"), countCol = "n_rows"), spark)
    def copyAgg = on.read.parquet(factCopy)
      .groupBy(col("l_returnflag"))
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("q_c"))
    // fresh listing → rewrite fires
    assert(copyAgg.queryExecution.executedPlan.toString.contains("/mv"),
      copyAgg.queryExecution.executedPlan.toString)
    // append a file (fact changed after registration) → veto
    graft.sources.Tables.lineitem(spark, sf).limit(5)
      .write.mode("append").parquet(factCopy)
    val pStale = copyAgg.queryExecution.executedPlan.toString
    assert(pStale.contains("factcopy.parquet") && !pStale.contains("/mv"), pStale)
  }

  test("q61: reported kind-partitioning plans the aggregate with ZERO hash exchange; limit/top-n fold into the scan") {
    import org.apache.spark.sql.functions._
    import graft.sources.MetricsFeedSource
    val df = SparkEntry.queries("q61_clustered_source")(spark, sf)
    assert(df.collect().length == 3)
    val p = df.queryExecution.executedPlan.toString
    // both aggregate phases sit on the scan — the only exchange left is
    // the 3-row orderBy's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("KeyGroupedBy: [kind]"), p)
    assert(p.contains("HashAggregate"), p)
    // LIMIT folds to planning only [0, n)
    val s = spark.newSession()
    val feed = s.read.format("graft.sources.MetricsFeedSource")
      .option("rows", "200000").option("partitions", "8").load()
    MetricsFeedSource.lastPushedLimit = ""
    assert(feed.limit(50000).count() == 50000L)
    assert(MetricsFeedSource.lastPushedLimit == "limit:50000")
    assert(MetricsFeedSource.lastPlannedRange == ((0L, 50000L)))
    // ORDER BY id ASC LIMIT n is the same clamp (ascending layout);
    // Spark keeps its top-n on the n surviving rows — values must be
    // exactly the first n ids
    MetricsFeedSource.lastPushedLimit = ""
    val top = feed.orderBy(col("id")).limit(1000).collect()
    assert(MetricsFeedSource.lastPushedLimit == "topn:1000")
    assert(MetricsFeedSource.lastPlannedRange == ((0L, 1000L)))
    assert(top.length == 1000 && top.head.getLong(0) == 0L &&
      top.last.getLong(0) == 999L)
    // composition: the pushed filter clamps first, the limit rides on top
    MetricsFeedSource.lastPushedLimit = ""
    assert(feed.filter(col("id") >= 100000L).limit(500).count() == 500L)
    assert(MetricsFeedSource.lastPlannedRange == ((100000L, 100500L)))
    // a DESCENDING top-n must NOT fold (the layout only serves ASC)
    MetricsFeedSource.lastPushedLimit = ""
    val desc = feed.orderBy(col("id").desc).limit(10).collect()
    assert(MetricsFeedSource.lastPushedLimit == "", "desc top-n wrongly pushed")
    assert(desc.head.getLong(0) == 199999L)
  }

  test("q87: V2 predicate id%3=1 folds to a stride scan with zero Filter; a malformed residue stays a Filter") {
    import org.apache.spark.sql.functions._
    import graft.sources.MetricsFeedSource
    val df = SparkEntry.queries("q87_v2_predicates")(spark, sf)
    val out = df.collect()
    // ids ≡ 1 (mod 3) in [15000, 60000): 15000 rows over all 50 nodes
    assert(out.length == 50)
    assert(out.map(_.getLong(1)).sum == 15000L)
    val p = df.queryExecution.executedPlan.toString
    // fully pushed: the stride is IN the scan, no Filter node remains
    assert(p.contains("Stride: id%3=1"), p)
    assert(p.contains("PushedFilters: [(id % 3) = 1, id >= 15000]"), p)
    assert(!p.contains("Filter ("), p)
    assert(MetricsFeedSource.lastPlannedRange == ((15000L, 60000L)))
    // a malformed residue (r >= m) stays residual
    val feed = spark.newSession().read.format("graft.sources.MetricsFeedSource")
      .option("rows", "60000").option("partitions", "8").load()
    val odd = feed.filter(col("id") % 3 === 5)
    assert(odd.count() == 0L)
    assert(odd.queryExecution.executedPlan.toString.contains("Filter ("))
  }

  test("q88: OFFSET and TABLESAMPLE fold into the planned range — planned, not filtered") {
    import org.apache.spark.sql.functions._
    import graft.sources.MetricsFeedSource
    val df = SparkEntry.queries("q88_offset_sample")(spark, sf)
    val out = df.collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .toSeq == Seq((1, 30000L, 0L, 29999L), (2, 9000L, 30000L, 38999L)), out.toSeq)
    val s = spark.newSession()
    val feed = s.read.format("graft.sources.MetricsFeedSource")
      .option("rows", "100000").option("partitions", "8").load()
    // TABLESAMPLE: the Sample node vanishes (pushed) and the planned
    // range IS the fraction slice
    MetricsFeedSource.lastPushedSample = ""
    val sampled = feed.sample(0.25, 7L)
    assert(sampled.count() == 25000L)
    assert(MetricsFeedSource.lastPushedSample.startsWith("sample[0.0,0.25)"),
      MetricsFeedSource.lastPushedSample)
    assert(MetricsFeedSource.lastPlannedRange == ((0L, 25000L)))
    assert(!sampled.queryExecution.executedPlan.toString.contains("Sample"),
      sampled.queryExecution.executedPlan.toString)
    // engine caveat pin: a Filter BELOW the Sample blocks the push even
    // though the filter itself folds — the Sample stays a plan node and
    // samples correctly (Bernoulli), it just isn't source-planned
    MetricsFeedSource.lastPushedSample = ""
    val blocked = feed.filter(col("id") < 80000L).sample(0.3, 42L)
    val bp = blocked.queryExecution.executedPlan.toString
    assert(bp.contains("Sample") && bp.contains("id < 80000"), bp)
    assert(MetricsFeedSource.lastPushedSample == "",
      MetricsFeedSource.lastPushedSample)
    // OFFSET composes BEHIND the complete limit push: page [40000, 40500)
    MetricsFeedSource.lastPushedOffset = ""
    val page = feed.offset(40000).limit(500).collect()
    assert(MetricsFeedSource.lastPushedOffset.startsWith("offset:40000"),
      MetricsFeedSource.lastPushedOffset)
    assert(MetricsFeedSource.lastPlannedRange == ((40000L, 40500L)))
    assert(page.length == 500 && page.head.getLong(0) == 40000L &&
      page.last.getLong(0) == 40499L)
    // plain LIMIT alone is COMPLETE (set semantics): exactly n rows planned
    MetricsFeedSource.lastPushedLimit = ""
    assert(feed.limit(1234).count() == 1234L)
    assert(MetricsFeedSource.lastPlannedRange == ((0L, 1234L)))
  }

  test("q69: storage-partitioned join — baseline agg, fact join, re-agg all plan with ZERO exchanges") {
    val df = SparkEntry.queries("q69_spj_join")(spark, sf)
    val out = df.collect()
    assert(out.length == 3)
    val p = df.queryExecution.executedPlan.toString
    // not a single shuffle anywhere except the 3-row orderBy's range
    // partitioning: both scans declare KeyGroupedPartitioning(kind) and
    // every stage (baseline agg, fact-side join, final agg) rides it
    assert(!p.contains("Exchange hashpartitioning"), p)
    // co-partitioning, not a broadcast, did the work
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    // the fact side really was the 240k-row raw scan (80k rows per kind)
    assert(out.map(_.getLong(2)).sum == 240000L)
    // base_n = 120000/3 per kind
    assert(out.forall(_.getLong(3) == 40000L))
  }

  test("q70: reported ordering feeds the merge join sort-free on the fact side") {
    val df = SparkEntry.queries("q70_report_ordering")(spark, sf)
    val out = df.collect()
    assert(out.length == 3)
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("SortMergeJoin"), p)
    // the FACT side feeds the merge join with NO sort: the scan REPORTS
    // [kind ASC, id ASC] so EnsureRequirements plants nothing above it.
    // (The envelope side keeps its 3-row sort — HashAggregate output is
    // unordered, inherently.) Assert structurally on the final plan:
    // the SMJ's streamed (fact) subtree contains the 180k scan and zero
    // SortExec nodes.
    val finalPlan = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // AQE wraps subtrees in QueryStageExec LEAVES — expand them so the
    // collect really walks the whole physical tree
    def deepCollect[T](n: org.apache.spark.sql.execution.SparkPlan)(
        pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
      n.collect(pf) ++ n.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
      }.flatMap(deepCollect(_)(pf))
    val smj = deepCollect(finalPlan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.length == 1, finalPlan.toString)
    val factSide = smj.head.left
    assert(deepCollect(factSide) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, factSide.toString)
    assert(factSide.toString.contains("metrics_feed(180000)"), factSide.toString)
    // the envelope is [min, max] of the SAME generator — every current
    // value of a kind whose domain is covered lands inside
    assert(out.map(_.getLong(2)).sum == 180000L)
  }

  test("q73: the V2 catalog aggregate runs two-phase — map-side partial states merge across ONE exchange") {
    val df = SparkEntry.queries("q73_catalog_udaf")(spark, sf)
    val out = df.collect()
    assert(out.nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SigMajorityBound"), p)
    // partial (update) below the hash exchange, final (merge) above —
    // rows never cross the shuffle, 49-counter states do
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("partial_v2aggregator"), p)
    // the scan reads ONLY doc_id — pruning composes with the catalog fn
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    // every family elects SOME 48-bit centroid
    assert(out.forall { r =>
      val c = r.getLong(1); c >= 0 && c < (1L << 48)
    })
  }

  test("q74: observe() meters the SAME pass — CollectMetrics in-plan, ONE scan, observed values reconcile with the gate") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q74_observed_metrics")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the gate partitions the corpus exactly: kept + short == rows
    assert(out("n_kept") + out("n_short") == out("n_rows"), out.toString)
    assert(out("kept_chars") <= out("chars"), out.toString)
    // plan shape: the observation rides the one existing scan
    val docs = graft.sources.Tables.documents(spark, sf)
    val gated = docs.observe("g", count(lit(1)).as("n"))
      .filter(col("n_chars") >= 200)
      .agg(count(lit(1)).as("n_kept"))
    gated.collect()
    val opt = gated.queryExecution.optimizedPlan
    assert(opt.toString.contains("CollectMetrics"), opt.toString)
    val scans = opt.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.length == 1, opt.toString)
    // the observation really was collected on this pass
    assert(gated.queryExecution.observedMetrics("g").getAs[Long]("n") > 0)
  }

  test("q62: the dim's id values RUNTIME-prune the V2 scan — dynamicpruningexpression in-plan, range clamped") {
    import graft.sources.MetricsFeedSource
    MetricsFeedSource.lastRuntimeFilter = ""
    val df = SparkEntry.queries("q62_runtime_prune")(spark, sf)
    val out = df.collect()
    assert(out.length == 3)
    val p = df.queryExecution.executedPlan.toString
    // the optimizer planted the dynamic-pruning subquery against the
    // scan's declared filterAttributes
    assert(p.contains("dynamicpruningexpression"), p)
    assert(p.contains("RuntimeFilterable: [id]"), p)
    // ...and at execution the 300 build-side values clamped the planned
    // range to their [min, max+1): slices outside never read
    assert(MetricsFeedSource.lastRuntimeFilter == "IN:300 -> [120000,149901)",
      MetricsFeedSource.lastRuntimeFilter)
    assert(MetricsFeedSource.lastPlannedRange == ((120000L, 149901L)))
    // 16 static slices of 300k → width 18750; [120000, 149901) spans 2
    assert(MetricsFeedSource.lastPlannedPartitions == 2)
    // pruning is a superset — the join still verified exactly
    assert(out.map(_.getLong(1)).sum == 300L)
  }

  test("q59: SQL UDF bodies are INLINED — no UDF invocation node survives analysis") {
    val df = SparkEntry.queries("q59_sql_udf")(spark, sf)
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    // scalar + composed + table UDFs all dissolve into plain expressions:
    // the plan carries codegen'd round()/arithmetic, never an opaque call
    assert(!p.contains("ScalaUDF") && !p.contains("Invoke"), p)
    assert(p.contains("round("), p)
    // the table UDF became a 3-row local relation on the broadcast side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q58: DSv2 source answers the GROUP BY itself — aggregate pushdown, merge-only plan") {
    import graft.sources.MetricsFeedSource
    MetricsFeedSource.lastPushedAggregation = ""
    val df = SparkEntry.queries("q58_agg_pushdown")(spark, sf)
    val out = df.collect()
    assert(out.length == 3)
    // the source ACCEPTED the aggregation shape...
    assert(MetricsFeedSource.lastPushedAggregation ==
      "group=[kind] funcs=[count_star,sum_value,min_value,max_value]")
    val p = df.queryExecution.executedPlan.toString
    // ...the scan carries it (and the composed filter) in its description...
    assert(p.contains("PushedAggregates: [count_star, sum_value, min_value, max_value]"), p)
    assert(p.contains("range=[0,240000)"), p)
    // ...and what crossed the connector boundary is |slices|·|kinds| ≤ 24
    // pre-aggregated rows, not the 240 000 raw feed rows (local-mode
    // counter — single-JVM observable, AccountingSink scope caveat)
    val emitted = MetricsFeedSource.rowsEmitted.get()
    assert(emitted > 0 && emitted <= 24, s"rows crossing the boundary: $emitted")
    // final merge only: Spark's agg consumes the pushed columns (count
    // rewritten to a SUM over the source's partial counts), so no
    // partial_count over raw rows appears anywhere in the plan
    assert(!p.contains("partial_count"), p)
  }

  test("q51: DSv2 source answers the predicate by planning — pushdown, pruning, fewer slices") {
    import graft.sources.MetricsFeedSource
    MetricsFeedSource.lastPlannedPartitions = -1
    // force execution so planInputPartitions actually runs
    val df = SparkEntry.queries("q51_pushdown_source")(spark, sf)
    assert(df.collect().length == 3)
    // id >= 150000 folded into the generated range...
    assert(MetricsFeedSource.lastPlannedRange == ((150000L, 200000L)))
    // ...and only the 2 of 8 fixed-width slices overlapping it planned
    assert(MetricsFeedSource.lastPlannedPartitions == 2)
    val p = df.queryExecution.executedPlan.toString
    // the filter reached the source, and the post-scan Filter is gone
    assert(p.contains("range=[150000,200000)"), p)
    // column pruning: the reader's schema carries no `node`
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("node"), s"unrequested column must not be materialized\n$p")
  }

  test("q65: source-reported statistics flip the join — BHJ from stats alone, SMJ when stats say big") {
    import org.apache.spark.sql.functions._
    // the key's selective probe (1000 rows reported post-pushdown) plans
    // a broadcast join with ZERO hints
    val df = SparkEntry.queries("q65_source_stats")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // direction 2: an UNFILTERED 1M-row probe reports rows × pruned
    // width (16 B for id+value) ≈ 16 MB > the 10 MB threshold on BOTH
    // sides — the same join shape plans a shuffle join, purely because
    // the source said so (the probe's value is aggregated so pruning
    // cannot shrink it below the threshold)
    def feed = spark.read.format("graft.sources.MetricsFeedSource")
      .option("rows", "1000000").option("partitions", "8").load()
    val bigProbe = feed.select(col("id"), col("value"))
    val big = feed.select(col("id").as("bid"), col("kind"))
    val p2 = big.join(bigProbe, col("bid") === col("id"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .queryExecution.executedPlan.toString
    assert(!p2.contains("BroadcastHashJoin"), p2)
    // direction 3: threshold off → even the selective probe shuffles,
    // and the result is row-identical (the stats changed the PLAN only)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df2 = SparkEntry.queries("q65_source_stats")(s2, sf)
    val p3 = df2.queryExecution.executedPlan.toString
    assert(!p3.contains("BroadcastHashJoin"), p3)
    assert(df.collect().map(_.toString).toSeq == df2.collect().map(_.toString).toSeq)
  }

  test("q66: the V2 scan is COLUMNAR — ColumnarToRow above the scan, row-mode twin row-identical") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q66_columnar_scan")(spark, sf)
    // AQE inserts the row/columnar transitions when a stage
    // MATERIALIZES — execute first, then read the final adaptive plan
    val rows = df.collect().map(_.toString).toSeq
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"), p)
    assert(p.contains("range=[100000,400000)"), p) // pushdown composes
    // row-mode twin: same query, columnar off — byte-identical rows
    val feedRow = spark.read.format("graft.sources.MetricsFeedSource")
      .option("rows", "400000").option("partitions", "8").load()
    val twin = feedRow.filter(col("id") >= 100000L)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        sum(col("id")).as("sum_id"))
      .orderBy(col("kind"))
    val twinRows = twin.collect().map(_.toString).toSeq
    assert(!twin.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(rows == twinRows)
  }

  test("q68/sink: rows through the V2 writer surface as a SQL metric on the write node (listener-read)") {
    import graft.sources.AccountingSink
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var captured: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("AccountingWrite"))
          captured = Some(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      AccountingSink.clear("planspec_metrics")
      spark.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "20000").option("partitions", "4").load()
        .write.format("graft.sources.AccountingSink")
        .option("runId", "planspec_metrics").mode("append").save()
      // QueryExecutionListener delivery is async — poll briefly
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val qe = captured.getOrElse(fail("write execution never reached the listener"))
      val writeNodes = qe.executedPlan.collect {
        case n if n.metrics.contains("sink_rows_written") => n
      }
      assert(writeNodes.nonEmpty,
        s"no node carries sink_rows_written:\n${qe.executedPlan}")
      assert(writeNodes.head.metrics("sink_rows_written").value == 20000L)
      // and the metric agrees with the commit-message accounting
      assert(AccountingSink.result("planspec_metrics").exists(_._1 == 20000L))
    } finally spark.listenerManager.unregister(listener)
  }

  test("q63: resolution goes THROUGH the catalog — identifier in-plan, pushdown and pruning intact") {
    val df = SparkEntry.queries("q63_table_catalog")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // catalog-qualified identifiers survive into the scans (the v1/v2
    // time-travel scans resolve to the snapshot layout's parquet)
    assert(p.contains("graft.corpus.documents"), p)
    assert(p.contains("graft.corpus.embeddings"), p)
    // the lang predicate reached the parquet scan THROUGH the catalog —
    // same PushedFilters a path-based read plans
    assert(p.contains("EqualTo(lang,en)"), p)
    // pruning: no scan in the whole union reads `text` (only counts and
    // n_chars/label are needed anywhere)
    assert(!p.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"text must be pruned from every catalog scan\n$p")
  }

  test("q64: V2 catalog functions plan as codegen'd Invoke — zero ScalaUDF, zero row-boxing fallback") {
    val df = SparkEntry.queries("q64_fn_catalog")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // magic-method dispatch: Invoke on the bound function, never the
    // interpreted ApplyFunctionExpression fallback or an opaque ScalaUDF
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.toLowerCase.contains("applyfunctionexpression"), p)
    assert(p.contains("invoke"), s"expected Invoke dispatch in-plan\n$p")
    // and the call sites resolved through the function catalog
    assert(p.contains("token_count") || p.contains("TokenCount"), p)
  }
}
