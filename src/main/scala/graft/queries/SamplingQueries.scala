package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Training-data sampling & packing coverage (SURVEY §2, p*): the
  * selection/packing stages a large-scale training pipeline runs after
  * dedup/quality filtering. All draws are keyed on md5 hex (identical in
  * Spark and DuckDB — CLAUDE.md invariants) so every "random" decision
  * is a pure function of the row: re-running the pipeline on 100 TB, or
  * on any subset, reproduces the same split/sample bit-for-bit with zero
  * coordination (no RNG state, no driver-side sampling pass).
  *
  * Scale shapes: p1/p2 are map-only filters (no shuffle beyond the final
  * agg); p3 bounds per-group sample memory via the TopNPerKey partial
  * heaps; p4 windows over a sub-sharded (lang, block) key so packing
  * parallelism is unbounded; p5 is an explode whose fan-out is bounded
  * by ceil(tokens/stride) per doc; p6 is map-side fan-out plus a
  * per-key-quota TopNPerKey remainder — no corpus-wide window anywhere
  * in the family.
  */
object SamplingQueries {

  /** Deterministic per-row draw in [0x00, 0xff]: first hex byte of a
    * salted md5 of the doc id. Distinct salts give independent draws
    * (p1's split must not correlate with p2's sample).
    */
  private def drawHex(salt: String) =
    substring(md5(concat_ws("|", lit(salt), col("doc_id").cast("string"))), 1, 2)

  private def drawHexSql(salt: String) =
    s"substr(md5('$salt|' || CAST(doc_id AS VARCHAR)), 1, 2)"

  /** p21/p24's layout build under `path`: the corpus as 40 small files
    * (one per doc_id % 40 shard) in small/, then p14's plan EXECUTED
    * over that snapshot — shard stats → cumulative-byte bins
    * (20000-char target) → one file per bin in compacted/. */
  private def writeCompaction(s: SparkSession, dir: String, path: String): Unit = {
    val docs = Tables.documents(s, dir)
      .withColumn("shard", pmod(col("doc_id"), lit(40)).cast("int"))
    docs.repartition(40, col("shard"))
      .write.partitionBy("shard").parquet(s"$path/small")
    val small = Tables.parquet(s, s"$path/small")
    val w = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = small.groupBy(col("shard"))
      .agg(sum(col("n_chars")).as("bytes"))
      .withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("bin", expr("CAST((cum - bytes) div 20000 AS INT)"))
      .select(col("shard"), col("bin"))
    small.join(broadcast(bins), Seq("shard"))
      .repartition(col("bin"))
      .write.partitionBy("bin").parquet(s"$path/compacted")
  }

  /** p21/p24's oracle opening: p14's byte-target bin count over the 40
    * doc_id shards → nb(n_bins). */
  private val compactionBinsCte =
    """shards AS (SELECT doc_id % 40 AS shard,
      |    CAST(sum(n_chars) AS BIGINT) AS bytes
      |  FROM documents GROUP BY 1),
      |c AS (SELECT shard, bytes, sum(bytes) OVER (ORDER BY shard
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM shards),
      |nb AS (SELECT CAST(count(DISTINCT (cum - bytes) // 20000) AS BIGINT)
      |    AS n_bins FROM c)""".stripMargin

  /** Order-free corpus digest (p21, p24, q57): the sum over rows of the
    * integer value of md5(doc_id || '|' || text)'s first 6 hex digits.
    * It keeps its `|` margins for the host's stripMargin: stripped here,
    * its `||` line would lose its indent to that second strip. */
  private[queries] val corpusDigest =
    """CAST(sum(list_sum(list_transform(generate_series(0, 5), k ->
      |      CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)
      |        || '|' || text), 1 + k, 1)) - 1 AS BIGINT)
      |      * (1::BIGINT << (4 * (5 - k)))))) AS BIGINT)"""

  def keys: Seq[QueryKey] = Seq(
    // deterministic EPOCH shuffle — the training-data ORDERING op (every
    // multi-epoch run needs a different, reproducible global permutation
    // per epoch; RNG state would make retries non-deterministic): epoch
    // e's order is md5("ep<e>|" ++ doc_id), and the global position is
    // computed WITHOUT a corpus-wide single-partition window — the
    // TeraSort two-level rank: 256 hex-prefix buckets rank in parallel
    // (row_number partitioned by (epoch, bucket)) and a 768-row bucket-
    // offset cumsum lifts them to exact global positions. Verification:
    // per epoch, a position-weighted polynomial DIGEST of the permutation
    // (order-sensitive yet distributive — Σ((pos+1)·h(doc)) mod p needs
    // no corpus-sized collect_list), exact distinct-position count
    // (permutation totality), and displacement mass vs epoch 0 (the
    // orders genuinely differ). Cross-epoch comparison is a PIVOT into
    // per-epoch position columns in one groupBy(doc_id) — never an
    // epoch×epoch self-join.
    QueryKey("p25_epoch_shuffle",
      // global row_number per epoch — positionally identical to the Spark
      // side's two-level bucket rank because the bucket is a PREFIX of the
      // sort key (order by (prefix, k) == order by k)
      """WITH e AS (SELECT doc_id, unnest([0, 1, 2]) AS epoch FROM documents),
        |k AS (SELECT doc_id, epoch,
        |    md5('ep' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM e),
        |p AS (SELECT doc_id, epoch,
        |    CAST(row_number() OVER (PARTITION BY epoch ORDER BY k) - 1 AS BIGINT) AS pos
        |  FROM k),
        |piv AS (SELECT doc_id,
        |    max(CASE WHEN epoch = 0 THEN pos END) AS p0,
        |    max(CASE WHEN epoch = 1 THEN pos END) AS p1,
        |    max(CASE WHEN epoch = 2 THEN pos END) AS p2
        |  FROM p GROUP BY doc_id),
        |h AS (SELECT *, CAST(list_sum(list_transform(generate_series(0, 7), j ->
        |    CAST(strpos('0123456789abcdef',
        |      substring(md5(CAST(doc_id AS VARCHAR)), 1 + j, 1)) - 1 AS BIGINT)
        |      * (1::BIGINT << (4 * (7 - j))))) AS BIGINT) % 1000000007 AS hv
        |  FROM piv),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT p0) AS BIGINT) AS nd0,
        |    CAST(count(DISTINCT p1) AS BIGINT) AS nd1,
        |    CAST(count(DISTINCT p2) AS BIGINT) AS nd2,
        |    CAST(sum(((p0 + 1) * hv) % 1000000007) AS BIGINT) AS dg0,
        |    CAST(sum(((p1 + 1) * hv) % 1000000007) AS BIGINT) AS dg1,
        |    CAST(sum(((p2 + 1) * hv) % 1000000007) AS BIGINT) AS dg2,
        |    CAST(sum(abs(p1 - p0)) AS BIGINT) AS disp1,
        |    CAST(sum(abs(p2 - p0)) AS BIGINT) AS disp2
        |  FROM h)
        |SELECT CAST(0 AS INT) AS epoch, n_docs, nd0 AS n_distinct_pos,
        |  dg0 AS perm_digest, 0::BIGINT AS disp_vs_e0 FROM a
        |UNION ALL SELECT CAST(1 AS INT), n_docs, nd1, dg1, disp1 FROM a
        |UNION ALL SELECT CAST(2 AS INT), n_docs, nd2, dg2, disp2 FROM a
        |ORDER BY epoch""".stripMargin) { (s, dir) =>
      val M = 1000000007L
      val keyed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("epoch", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("k", md5(concat(lit("ep"), col("epoch").cast("string"),
          lit("|"), col("doc_id").cast("string"))))
      val pos = graft.operators.Relational
        .bucketedGlobalRank(keyed, "k", Seq("epoch"), "pos")
        .select(col("doc_id"), col("epoch"), col("pos"))
      val piv = pos.groupBy(col("doc_id"))
        .agg(max(when(col("epoch") === 0, col("pos"))).as("p0"),
          max(when(col("epoch") === 1, col("pos"))).as("p1"),
          max(when(col("epoch") === 2, col("pos"))).as("p2"))
        .withColumn("hv", expr(
          "conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)")
          .cast("long") % M)
      val a = piv.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("p0")).as("nd0"),
        countDistinct(col("p1")).as("nd1"),
        countDistinct(col("p2")).as("nd2"),
        sum(expr(s"((p0 + 1) * hv) % $M")).as("dg0"),
        sum(expr(s"((p1 + 1) * hv) % $M")).as("dg1"),
        sum(expr(s"((p2 + 1) * hv) % $M")).as("dg2"),
        sum(expr("abs(p1 - p0)")).as("disp1"),
        sum(expr("abs(p2 - p0)")).as("disp2")).localCheckpoint()
      def row(e: Int, nd: String, dg: String,
          disp: org.apache.spark.sql.Column): DataFrame =
        a.select(lit(e).as("epoch"), col("n_docs"),
          col(nd).as("n_distinct_pos"), col(dg).as("perm_digest"),
          disp.as("disp_vs_e0"))
      row(0, "nd0", "dg0", lit(0L))
        .unionByName(row(1, "nd1", "dg1", col("disp1")))
        .unionByName(row(2, "nd2", "dg2", col("disp2")))
        .orderBy(col("epoch"))
    },

    // corpus DATA CARD (Gebru et al. 2018, "Datasheets for Datasets" —
    // the release artifact every published training set ships): per
    // (source, lang) cell — doc/unique counts with exact duplicate
    // share, token and char mass, mean doc length, and the t2-class
    // quality-gate pass share, all in one scan + one grouped aggregate
    // (the countDistinct is the standard two-phase expand). Integer bp
    // ratios (floor div). At 100 TB this is the cheap pass that runs
    // LAST and gets read FIRST.
    QueryKey("p26_data_card",
      """WITH d AS (SELECT source, lang, n_chars, md5(text) AS h,
        |    regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |q AS (SELECT source, lang, n_chars, h,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(list_distinct(w)) * 10000 // len(w) >= 4500
        |      AND len(w) >= 20 THEN 1 ELSE 0 END AS q_ok
        |  FROM d)
        |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
        |  CAST((count(*) - count(DISTINCT h)) * 10000 // count(*) AS BIGINT) AS dup_bp,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(sum(n_tokens) // count(*) AS BIGINT) AS tokens_avg,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(q_ok) * 10000 // count(*) AS BIGINT) AS quality_bp
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("_w", split(trim(col("text")), "\\s+"))
        .withColumn("n_tokens", size(col("_w")).cast("long"))
        .withColumn("q_ok",
          (expr("size(array_distinct(_w)) * 10000 div size(_w)") >= 4500 &&
            col("n_tokens") >= 20).cast("long"))
        .withColumn("h", md5(col("text")))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_unique"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(col("n_chars").cast("long")).as("chars_total"),
          sum(col("q_ok")).as("n_quality"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_unique"),
          expr("(n_docs - n_unique) * 10000 div n_docs").as("dup_bp"),
          col("tokens_total"),
          expr("tokens_total div n_docs").as("tokens_avg"),
          col("chars_total"),
          expr("n_quality * 10000 div n_docs").as("quality_bp"))
        .orderBy(col("source"), col("lang"))
    },

    // deterministic train/val/test split: hex-threshold on the draw
    // ('1a' = 26/256 ≈ 10% test, '33' → next ≈10% val). Map-only per
    // row; the groupBy here only summarizes the split for checking.
    QueryKey("p1_hash_split",
      s"""SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM (SELECT lang, n_chars,
         |    CASE WHEN ${drawHexSql("split")} < '1a' THEN 'test'
         |         WHEN ${drawHexSql("split")} < '33' THEN 'val'
         |         ELSE 'train' END AS split
         |  FROM documents) t
         |GROUP BY split, lang ORDER BY split, lang""".stripMargin) { (s, dir) =>
      val k = drawHex("split")
      Tables.documents(s, dir)
        .withColumn("split",
          when(k < "1a", "test").when(k < "33", "val").otherwise("train"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"), col("lang"))
    },

    // stratified downsampling: per-language keep-rate from a broadcast
    // config dim (e.g. downweight over-represented en). The filter is
    // map-side (broadcast hash join + threshold compare) — at 100 TB
    // this never shuffles the corpus.
    QueryKey("p2_stratified_sample",
      s"""SELECT doc_id, lang FROM documents
         |JOIN (VALUES ('en','20'),('de','80'),('es','80'),('fr','80'),('zh','40'))
         |  r(lang, keep_below) USING (lang)
         |WHERE ${drawHexSql("strat")} < keep_below
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val rates = Seq(("en", "20"), ("de", "80"), ("es", "80"),
          ("fr", "80"), ("zh", "40"))
        .toDF("lang", "keep_below")
      Tables.documents(s, dir)
        .withColumn("k", drawHex("strat"))
        .join(broadcast(rates), Seq("lang"))
        .filter(col("k") < col("keep_below"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // fixed-size per-group sample (reservoir-style, deterministic): the
    // n smallest salted-md5 draws per language, through the TopNPerKey
    // custom operator — per-partition bounded heaps, so the shuffle
    // carries ≤ groups×n rows instead of the corpus.
    QueryKey("p3_group_sample",
      """SELECT lang, doc_id, samp_key FROM (
        |  SELECT lang, doc_id, md5('res|' || CAST(doc_id AS VARCHAR)) AS samp_key,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('res|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20 ORDER BY lang, samp_key, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"))
        .withColumn("samp_key",
          md5(concat_ws("|", lit("res"), col("doc_id").cast("string"))))
      graft.operators.Relational.topNPerGroupFast(docs, n = 20,
          part = Seq("lang"), order = Seq(("samp_key", true), ("doc_id", true)))
        .select(col("lang"), col("doc_id"), col("samp_key"))
        .orderBy(col("lang"), col("samp_key"), col("doc_id"))
    },

    // sequence packing: next-fit packing (budget 256 tokens) in doc_id
    // order. Packing is inherently sequential per shard, so the shard
    // key decides the parallelism: `lang` alone (~5 values) would pack
    // each whole language in ONE task at 100 TB. The shard is therefore
    // sub-divided into fixed 128-doc blocks — (lang, doc_id div 128) —
    // so packing parallelizes per block and stays deterministic (bins
    // never cross a block boundary; the cost is ≤ 1 partial bin per
    // block, i.e. < 256 wasted tokens per 128 docs — a bounded,
    // documented packing-efficiency trade for unbounded parallelism).
    // Bin ids are composite (block*1e6 + bin-within-block) so they stay
    // unique per lang.
    QueryKey("p4_token_pack",
      """SELECT lang, bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM (
        |  SELECT lang, doc_id, n_tokens,
        |    CAST(blk * 1000000 + (sum(n_tokens) OVER (PARTITION BY lang, blk ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 256 AS BIGINT) AS bin
        |  FROM (SELECT lang, doc_id, doc_id // 128 AS blk,
        |      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
        |    FROM documents) a) b
        |GROUP BY lang, bin ORDER BY lang, bin""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("lang"), col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .withColumn("blk", expr("doc_id div 128"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr("blk * 1000000 + (cum - n_tokens) div 256"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("bin"))
    },

    // deterministic class rebalancing: oversample every language up to
    // the majority class count. Each doc gets floor(target/c) copies
    // MAP-SIDE (broadcast-joined class sizes, explode — no shuffle of
    // the corpus); the remaining (target mod c) copies go to the docs
    // with the smallest salted-md5 draws per class, selected through the
    // per-key-quota TopNPerKey (bounded heaps, shuffle ≤ Σ quota rows) —
    // NOT a corpus-wide row_number window, whose ~5-value partition key
    // would sort each whole class in one task at 100 TB. The corpus is
    // scanned twice (map-only fan-out + heap selection); both passes are
    // embarrassingly parallel.
    QueryKey("p6_balanced_resample",
      """WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |tgt AS (SELECT max(c) AS target FROM lc),
        |ranked AS (
        |  SELECT d.doc_id, d.lang, lc.c, tgt.target,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5('bal|' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rnk
        |  FROM documents d JOIN lc USING (lang) CROSS JOIN tgt)
        |SELECT doc_id, lang, CAST(i AS INT) AS copy_idx
        |FROM (
        |  SELECT doc_id, lang,
        |    unnest(generate_series(1, CAST(target // c +
        |      (CASE WHEN rnk <= target % c THEN 1 ELSE 0 END) AS INT))) AS i
        |  FROM ranked) u
        |ORDER BY doc_id, copy_idx""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      // class sizes and the majority-class target are tiny aggregates,
      // broadcast back — never a global single-partition window
      val langCounts = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val target = langCounts.agg(max(col("c")).as("target"))
      val enriched = docs
        .join(broadcast(langCounts), Seq("lang"))
        .crossJoin(broadcast(target))
        .withColumn("base", expr("CAST(target div c AS INT)"))
        .withColumn("rem", expr("CAST(target % c AS INT)"))
      val baseCopies = enriched.select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), col("base"))).as("copy_idx"))
      val extras = graft.operators.Relational.topNPerGroupQuota(
          enriched.withColumn("draw",
            md5(concat_ws("|", lit("bal"), col("doc_id").cast("string")))),
          limitCol = "rem", part = Seq("lang"),
          order = Seq(("draw", true), ("doc_id", true)))
        .select(col("doc_id"), col("lang"), (col("base") + 1).as("copy_idx"))
      baseCopies.unionByName(extras)
        .select(col("doc_id"), col("lang"), col("copy_idx").cast("int").as("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    },

    // TWO-DIMENSIONAL quota sampling — the data-mixture curation move
    // p2/p3 can't express: each lang gets a 60% budget, distributed
    // across its (lang, source) cells PROPORTIONALLY to cell size by
    // the largest-remainder method (floor share per cell, the leftover
    // +1s to the cells with the largest integer remainders — exact,
    // deterministic, sums to the budget). Selection within each cell is
    // the n-smallest salted-md5 draws via the variable-quota TopNPerKey
    // (bounded heaps; shuffle ≤ Σ quota rows). Scale shape: ALL quota
    // arithmetic (windows included) runs on the cells AGGREGATE (one
    // row per distinct (lang, source) — bounded, never corpus-sized);
    // the corpus itself sees one broadcast join + heap selection, no
    // window anywhere.
    QueryKey("p10_quota_matrix",
      s"""WITH d AS (SELECT doc_id, lang, source,
         |    md5('q2d|' || CAST(doc_id AS VARCHAR)) AS draw FROM documents),
         |cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
         |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS lc FROM cells GROUP BY 1),
         |alloc AS (SELECT lang, source, c, lc, (lc * 60) // 100 AS b,
         |    ((lc * 60) // 100) * c // lc AS prop,
         |    (((lc * 60) // 100) * c) % lc AS frac
         |  FROM cells JOIN lt USING (lang)),
         |ranked AS (SELECT *,
         |    row_number() OVER (PARTITION BY lang ORDER BY frac DESC, source) AS rr,
         |    b - sum(prop) OVER (PARTITION BY lang) AS rem FROM alloc),
         |quota AS (SELECT lang, source, c,
         |    CAST(prop + CASE WHEN rr <= rem THEN 1 ELSE 0 END AS INT) AS q FROM ranked),
         |kept AS (SELECT d.doc_id, d.lang, d.source, c, q,
         |    row_number() OVER (PARTITION BY d.lang, d.source ORDER BY draw, doc_id) AS rn
         |  FROM d JOIN quota USING (lang, source))
         |SELECT doc_id, lang, source, c AS cell_n, q AS cell_quota
         |FROM kept WHERE rn <= q ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("draw",
          md5(concat_ws("|", lit("q2d"), col("doc_id").cast("string"))))
      val cells = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("c"))
      val lt = cells.groupBy(col("lang")).agg(sum(col("c")).as("lc"))
      val alloc = cells.join(lt, Seq("lang"))
        .withColumn("b", expr("(lc * 60) div 100"))
        .withColumn("prop", expr("(b * c) div lc"))
        .withColumn("frac", expr("(b * c) % lc"))
      val wLang = Window.partitionBy(col("lang"))
      val ranked = alloc
        .withColumn("rr", row_number().over(
          wLang.orderBy(col("frac").desc, col("source"))))
        .withColumn("rem", col("b") - sum(col("prop")).over(wLang))
      val quota = ranked.withColumn("q",
          (col("prop") + when(col("rr") <= col("rem"), 1).otherwise(0)).cast("int"))
        .select(col("lang"), col("source"), col("c"), col("q"))
      val kept = graft.operators.Relational.topNPerGroupQuota(
        docs.join(broadcast(quota), Seq("lang", "source")),
        limitCol = "q", part = Seq("lang", "source"),
        order = Seq(("draw", true), ("doc_id", true)))
      kept.select(col("doc_id"), col("lang"), col("source"),
          col("c").as("cell_n"), col("q").as("cell_quota"))
        .orderBy(col("doc_id"))
    },

    // training-mixture materialization: each source carries an explicit
    // mixture weight in 16ths (epochs = w div 16 full passes; the
    // fractional remainder is a per-doc hex-draw so exactly ~frac/16 of
    // the source gets one extra pass). Entirely map-side — weight
    // arithmetic + bounded explode (≤4 copies), no shuffle before the
    // output sort; deterministic under retry like the whole p-family.
    QueryKey("p7_weighted_mix",
      s"""SELECT doc_id, source, CAST(e AS INT) AS epoch
         |FROM (
         |  SELECT doc_id, source,
         |    unnest(generate_series(1, w64 // 16 + extra)) AS e
         |  FROM (
         |    SELECT doc_id, source,
         |      (CAST(substr(source, 4) AS INT) * 37) % 64 AS w64,
         |      CASE WHEN substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 1) <
         |          lower(hex((CAST(substr(source, 4) AS INT) * 37) % 64 % 16))
         |        THEN 1 ELSE 0 END AS extra
         |    FROM documents) t) u
         |ORDER BY doc_id, epoch""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("w64", expr("(CAST(substring(source, 4, 10) AS INT) * 37) % 64"))
        .withColumn("extra",
          when(substring(drawHex("mix"), 1, 1) <
            lower(hex(pmod(col("w64"), lit(16)))), 1).otherwise(0))
        .withColumn("n_copies", expr("w64 div 16").cast("int") + col("extra"))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1), col("n_copies"))).as("epoch"))
        .withColumn("epoch", col("epoch").cast("int"))
        .orderBy(col("doc_id"), col("epoch"))
    },

    // sliding-window chunking with overlap (chunk 40 tokens, stride 30):
    // context-window pre-segmentation. Chunk content is verified by md5
    // of the re-joined token slice; fan-out per doc is ceil(tokens/30).
    // The words array is built ONCE per row (zip-of-slices pitfall does
    // not apply: slice() sits outside any transform() lambda).
    QueryKey("p5_chunk_overlap",
      """SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(least(40, nw - i*30) AS INT) AS chunk_tokens,
        |  md5(array_to_string(wd[(i*30+1):(i*30+40)], ' ')) AS chunk_md5
        |FROM (
        |  SELECT doc_id, wd, len(wd) AS nw,
        |    unnest(range(0, (len(wd)-1)//30 + 1)) AS i
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd
        |    FROM documents) a) b
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
        .withColumn("nw", size(col("words")))
        .withColumn("chunk_idx",
          explode(sequence(lit(0), expr("CAST((nw - 1) div 30 AS INT)"))))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(40), col("nw") - col("chunk_idx") * 30).as("chunk_tokens"),
          md5(concat_ws(" ", slice(col("words"), col("chunk_idx") * 30 + 1, lit(40))))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // consistent-hash resharding plan: assign every doc to a shard on
    // an md5 ring (16 virtual nodes per shard), for cluster sizes 8 AND
    // 9, and report how much data each shard-8 bucket would hand off —
    // the elasticity property (≈1/9 of keys move when a node joins,
    // vs 8/9 under mod-N) that makes 100 TB rebalancing affordable.
    // Engine-portable integers throughout: ring positions and key
    // positions are 16-bit md5-hex values; the nearest-vnode argmin is
    // min(dist*16+node) with the shard recovered by %16 — an exact
    // integer argmin with a deterministic tie-break, identical in both
    // engines (never an arg_min whose tie behavior is undefined).
    // Scale shape: the ring (≤144 rows) broadcasts; assignment is one
    // partial-agg shuffle carrying one row per key per ring.
    QueryKey("p9_consistent_shards", {
      def hex4(e: String) =
        s"((strpos('0123456789abcdef', substr($e, 1, 1)) - 1) * 4096 + " +
        s"(strpos('0123456789abcdef', substr($e, 2, 1)) - 1) * 256 + " +
        s"(strpos('0123456789abcdef', substr($e, 3, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substr($e, 4, 1)) - 1))"
      def ringCte(name: String, n: Int) =
        s"""$name AS (SELECT nn.g AS node,
           |    ${hex4(s"md5('ring|' || CAST(nn.g AS VARCHAR) || '|' || CAST(vv.g AS VARCHAR))")} AS pos
           |  FROM generate_series(0, ${n - 1}) nn(g), generate_series(0, 15) vv(g))""".stripMargin
      s"""WITH ${ringCte("ring8", 8)},
         |${ringCte("ring9", 9)},
         |keys AS (SELECT doc_id,
         |    ${hex4("md5('key|' || CAST(doc_id AS VARCHAR))")} AS kpos
         |  FROM documents),
         |a8 AS (SELECT doc_id,
         |    CAST(min(((pos - kpos + 65536) % 65536) * 16 + node) % 16 AS INT) AS shard8
         |  FROM keys CROSS JOIN ring8 GROUP BY doc_id),
         |a9 AS (SELECT doc_id,
         |    CAST(min(((pos - kpos + 65536) % 65536) * 16 + node) % 16 AS INT) AS shard9
         |  FROM keys CROSS JOIN ring9 GROUP BY doc_id)
         |SELECT shard8, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |FROM a8 JOIN a9 USING (doc_id)
         |GROUP BY shard8 ORDER BY shard8""".stripMargin
    }) { (s, dir) =>
      def hex4(e: String) =
        s"((instr('0123456789abcdef', substr($e, 1, 1)) - 1) * 4096 + " +
        s"(instr('0123456789abcdef', substr($e, 2, 1)) - 1) * 256 + " +
        s"(instr('0123456789abcdef', substr($e, 3, 1)) - 1) * 16 + " +
        s"(instr('0123456789abcdef', substr($e, 4, 1)) - 1))"
      def ring(n: Int): DataFrame = {
        import s.implicits._
        (0 until n).flatMap(node => (0 until 16).map(v => (node, v)))
          .toDF("node", "v")
          .withColumn("pos", expr(hex4(
            "md5(concat('ring|', CAST(node AS STRING), '|', CAST(v AS STRING)))")))
          .select(col("node"), col("pos"))
      }
      val keys = Tables.documents(s, dir).select(col("doc_id"),
        expr(hex4("md5(concat('key|', CAST(doc_id AS STRING)))")).as("kpos"))
      def assign(n: Int, outCol: String): DataFrame =
        keys.crossJoin(broadcast(ring(n)))
          .withColumn("dist", expr("(pos - kpos + 65536) % 65536"))
          .groupBy(col("doc_id"))
          .agg(expr("CAST(min(dist * 16 + node) % 16 AS INT)").as(outCol))
      assign(8, "shard8").join(assign(9, "shard9"), Seq("doc_id"))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(sum(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END) AS BIGINT)")
            .as("n_moved"))
        .orderBy(col("shard8"))
    },

    // z-order data layout: interleave the bits of two filter dimensions
    // (customer key, order-day, each masked to 8 bits so the layout is
    // scale-invariant) into one clustering key, then report per-bucket
    // min/max spans of BOTH dims — the file-skipping stats a lakehouse
    // OPTIMIZE ZORDER produces. Each of the 64 buckets is a 32×32 tile
    // of the (x, y) plane, so both spans come out ≤ 31 — min/max
    // pruning works for predicates on EITHER dimension, which a
    // single-key sort cannot give. Scale shape: the z-value is pure
    // map-side integer bit-spreading (the classic mask cascade, no UDF,
    // stays in codegen); the stats are one partial-agg shuffle of 64
    // groups. At 100 TB the same z-key feeds repartitionByRange before
    // the parquet write.
    QueryKey("p8_zorder_layout", {
      def spreadSql(e: String): String = {
        val a = s"(($e) | (($e) << 8)) & 16711935"
        val b = s"(($a) | (($a) << 4)) & 252645135"
        val c = s"(($b) | (($b) << 2)) & 858993459"
        s"(($c) | (($c) << 1)) & 1431655765"
      }
      s"""SELECT bucket, count(*) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM (SELECT x, y,
         |    CAST(((${spreadSql("x")}) | ((${spreadSql("y")}) << 1)) // 1024 AS INT) AS bucket
         |  FROM (SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
         |      CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS BIGINT) AS y
         |    FROM orders) s) t
         |GROUP BY bucket ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
      def spread(e: String): String = {
        val a = s"(($e) | shiftleft(($e), 8)) & 16711935"
        val b = s"(($a) | shiftleft(($a), 4)) & 252645135"
        val c = s"(($b) | shiftleft(($b), 2)) & 858993459"
        s"(($c) | shiftleft(($c), 1)) & 1431655765"
      }
      Tables.orders(s, dir)
        .withColumn("_x", expr("CAST(o_custkey % 256 AS BIGINT)"))
        .withColumn("_y", expr(
          "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01') % 256 AS BIGINT)"))
        .withColumn("_z", expr(s"(${spread("_x")}) | shiftleft(${spread("_y")}, 1)"))
        .withColumn("bucket", expr("CAST(_z div 1024 AS INT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("_x")).as("min_x"), max(col("_x")).as("max_x"),
          min(col("_y")).as("min_y"), max(col("_y")).as("max_y"))
        .orderBy(col("bucket"))
    },

    // partition-pruned layout scan — the hive-partitioned-by-day layout
    // a 100-TB event store actually ships, written then read back with
    // a day predicate that prunes at PLANNING time: non-matching
    // partition directories are never opened (PartitionFilters gate in
    // PlanSpec/BucketingSpec — here 3 of 30 days survive, so ~90% of
    // the corpus is skipped before a single row is read). The write is
    // part of the measured operator: layout cost is paid once, every
    // later time-ranged read pays only for the days it needs. Pairs
    // with p8 (z-order = intra-file skipping) as the two layout levers.
    QueryKey("p11_partition_prune",
      """SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS TIMESTAMP) AS day, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // day-partitioned layout is written ONCE per (JVM, source dir) and
      // shared with p12 — repeated invocations prune-read the cached copy
      val base = graft.sources.DerivedLayouts.once(s"events_by_day|$dir") { p =>
        Tables.events(s, dir).withColumn("day", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("day").parquet(s"$p/events")
      }
      Tables.parquet(s, s"$base/events")
        .filter(col("day").between("2024-01-05", "2024-01-07"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          (sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0).as("total_value"))
        .withColumn("day", col("day").cast("timestamp_ntz"))
        .orderBy(col("day"), col("event_type"))
    },

    // DYNAMIC partition pruning — p11's static prune needs the day
    // literal IN the query; real marts filter through a DIMENSION whose
    // qualifying days are only known after evaluating the dim's own
    // predicate. Spark turns the broadcast dim into a RUNTIME partition
    // filter on the fact scan (PartitionFilters: ... dynamicpruning#N —
    // gated in PlanSpec), so here 25 of 30 day directories are never
    // opened even though no day literal appears anywhere. At 100 TB this
    // is the difference between scanning the store and scanning the five
    // days the dim selects; the dim (5 rows) broadcasts, the DPP
    // subquery reuses that same broadcast exchange.
    QueryKey("p12_dynamic_prune",
      """SELECT CAST(d.day AS TIMESTAMP) AS day, e.event_type,
        |  count(*) AS n, count(DISTINCT e.user_id) AS n_users,
        |  sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM events e
        |JOIN (SELECT DATE '2024-01-01' + CAST(n_nationkey AS INT) AS day
        |      FROM nation WHERE n_regionkey = 1) d
        |  ON CAST(CAST(e.ts AS TIMESTAMP) AS DATE) = d.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val base = graft.sources.DerivedLayouts.once(s"events_by_day|$dir") { p =>
        Tables.events(s, dir).withColumn("day", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("day").parquet(s"$p/events")
      }
      val fact = Tables.parquet(s, s"$base/events")
      // "audit days" dim: one day per region-1 nation (runtime-only set)
      val dim = Tables.nation(s, dir)
        .filter(col("n_regionkey") === 1)
        .select(date_add(to_date(lit("2024-01-01")),
          col("n_nationkey").cast("int")).as("day"))
      fact.join(broadcast(dim), "day")
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          (sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0).as("total_value"))
        .withColumn("day", col("day").cast("timestamp_ntz"))
        .orderBy(col("day"), col("event_type"))
    },

    // ZONE-MAP skipping manifest — the third scan-pruning lever after
    // partition pruning (p11/p12) and clustering (p8): per-shard
    // min/max stats (the Delta/Iceberg per-file stats a lakehouse
    // collects at write time) plus the skip decision a planner makes
    // for a cents∈[10000,20000] predicate. The same stats are built
    // for TWO candidate layouts — time-sharded (day×hour) and
    // value-clustered — from ONE corpus pass: each row explodes to its
    // two (layout, shard) keys map-side and a single partial agg
    // collapses them (a union of two re-aggs would rescan the fact
    // twice — CLAUDE.md branch-rescan pitfall). The result makes the
    // layout lesson measurable: every time shard spans the full value
    // range (zone maps useless, all scanned), while the value-clustered
    // layout scans only the shards the band touches.
    QueryKey("p13_zonemap_skip",
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |sh AS (
        |  SELECT 'time' AS layout,
        |    (us // 86400000000) * 24 + (us % 86400000000) // 3600000000 AS shard_key, c
        |  FROM e
        |  UNION ALL
        |  SELECT 'value' AS layout, c // 3200 AS shard_key, c FROM e)
        |SELECT layout, shard_key, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(c) AS BIGINT) AS min_c, CAST(max(c) AS BIGINT) AS max_c,
        |  CAST(CASE WHEN max(c) >= 10000 AND min(c) <= 20000 THEN 1 ELSE 0 END AS INT) AS scanned
        |FROM sh GROUP BY 1, 2 ORDER BY layout, shard_key""".stripMargin) { (s, dir) =>
      val lay = Tables.events(s, dir)
        .select(expr("unix_micros(ts)").as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .select(col("c"), explode(array(
          struct(lit("time").as("layout"),
            expr("(us div 86400000000) * 24 + (us % 86400000000) div 3600000000")
              .as("shard_key")),
          struct(lit("value").as("layout"),
            expr("c div 3200").as("shard_key")))).as("sh"))
        .select(col("sh.layout").as("layout"), col("sh.shard_key").as("shard_key"),
          col("c"))
      lay.groupBy(col("layout"), col("shard_key"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("c")).as("min_c"), max(col("c")).as("max_c"))
        .withColumn("scanned",
          (col("max_c") >= 10000 && col("min_c") <= 20000).cast("int"))
        .orderBy(col("layout"), col("shard_key"))
    },

    // CAPSTONE composition — the four stages a training-data build
    // actually chains, as ONE declarative DAG: exact dedup (d1's
    // min-id-per-hash) → quality floors (t2's signal class) → the
    // deterministic md5 train split (p1's draw, train slice) → token
    // packing (p4's sub-sharded cumsum bins). The point is that the
    // family operators COMPOSE without materialization barriers: ONE
    // corpus scan; a PARTIAL WindowGroupLimit prunes dup candidates
    // map-side below the dedup shuffle; the rn=1 dedup filter, both
    // quality floors, and the split draw all FUSE into a single Filter
    // (PlanSpec-gated); three shuffles total (dedup hash, pack window,
    // bin agg) and every intermediate "table" is a plan fragment, not
    // a write. At 100 TB this is the difference between one job and
    // four jobs with three intermediate datasets on disk.
    QueryKey("p15_pipeline_e2e",
      s"""WITH dd AS (SELECT * FROM (
         |    SELECT d.*, row_number() OVER (PARTITION BY md5(text)
         |      ORDER BY doc_id) AS rn FROM documents d) x WHERE rn = 1),
         |tk AS (SELECT doc_id, lang, n_chars,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
         |  FROM dd),
         |train AS (SELECT * FROM tk
         |  WHERE n_chars >= 100 AND n_tokens >= 20
         |    AND ${drawHexSql("split")} >= '33'),
         |c AS (SELECT lang, doc_id, n_tokens, doc_id // 128 AS blk,
         |    sum(n_tokens) OVER (PARTITION BY lang, doc_id // 128 ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM train)
         |SELECT lang, CAST(blk * 1000000 + (cum - n_tokens) // 2048 AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val keepW = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val deduped = Tables.documents(s, dir)
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(keepW))
        .filter(col("rn") === 1)
      val kept = deduped
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .filter(col("n_chars") >= 100 && col("n_tokens") >= 20)
      val train = kept.filter(drawHex("split") >= "33")
      val w = Window.partitionBy(col("lang"), col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      train
        .withColumn("blk", expr("doc_id div 128"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr("blk * 1000000 + (cum - n_tokens) div 2048"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("bin"))
    },

    // small-file COMPACTION planner — the maintenance pass every
    // long-lived 100-TB table needs (ingest writes thousands of
    // under-sized shards; reads then pay per-file open + scheduling
    // cost): pack ADJACENT shards, in shard order, into target-size
    // output files via the start-offset rule (a shard joins the bin its
    // running-sum start falls in — the one-pass streaming compactor;
    // order-preserving so p8-style clustering survives compaction).
    // Scale shape: the corpus pass is ONE partial agg over a pruned
    // 2-column scan (doc_id, n_chars — never text); the cumsum window
    // runs on MANIFEST rows (one per shard), which is the only
    // single-partition step and is manifest-sized, not corpus-sized.
    // Horvitz–Thompson importance sampling — quality-WEIGHTED curation
    // (the continuous sibling of p2's per-stratum constants): each doc's
    // keep probability is derived from its own content (distinct-token
    // ratio in bp → a 256-scale threshold, floored at 16/256 so every
    // row keeps p > 0 — the unbiasedness precondition), the draw is the
    // usual salted-md5 byte, and kept rows carry the inverse-probability
    // weight (×10⁴) that makes downstream weighted aggregates unbiased
    // estimates of the full corpus (SamplingSpec proves the HT corpus-
    // size estimate lands near truth). Map-only: no shuffle before the
    // output sort at any SF.
    QueryKey("p16_importance_sample",
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |    CAST(len(list_distinct(w)) * 10000 // len(w) AS BIGINT) AS q_bp,
        |    md5('imp|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM d),
        |s2 AS (SELECT doc_id, q_bp,
        |    greatest(q_bp * 256 // 10000, 16) AS t256,
        |    (instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |    (instr('0123456789abcdef', substring(h, 2, 1)) - 1) AS dr
        |  FROM s1)
        |SELECT doc_id, q_bp, CAST(t256 AS BIGINT) AS t256,
        |  CAST(256 * 10000 // t256 AS BIGINT) AS inv_w_sc
        |FROM s2 WHERE dr < t256 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("_w", split(trim(col("text")), "\\s+"))
        .withColumn("q_bp", expr("size(array_distinct(_w)) * 10000 div size(_w)"))
        .withColumn("t256", greatest(expr("q_bp * 256 div 10000"), lit(16L)))
        .withColumn("_h", md5(concat_ws("|", lit("imp"), col("doc_id").cast("string"))))
        .withColumn("_d", expr(
          "(instr('0123456789abcdef', substring(_h, 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(_h, 2, 1)) - 1)"))
        .filter(col("_d") < col("t256"))
        .withColumn("inv_w_sc", expr("256 * 10000 div t256"))
        .select(col("doc_id"), col("q_bp"), col("t256"), col("inv_w_sc"))
        .orderBy(col("doc_id"))
    },

    // LEAKAGE-SAFE splitting — the reason production splits key on a
    // CONTENT cluster, not the row id: near-duplicate docs (here d8's
    // prefix family) must land in the SAME split or the eval set leaks
    // into training. One scan computes BOTH schemes' assignments (p1's
    // exact thresholds, salt "split"); per-cluster distinct-split
    // counts then summarize each scheme: the naive id-keyed split
    // straddles multi-doc clusters (leak > 0), the cluster-keyed split
    // straddles ZERO by construction — and the oracle hash-checks both
    // numbers. Group stats ride one partial-agg shuffle (each
    // distinct-split count is the size of a ≤3-element collect_set, so
    // no distinct-aggregate Expand); the scheme explode runs on
    // cluster-level aggregate rows.
    QueryKey("p17_split_leakage",
      """WITH d AS (SELECT doc_id,
        |    array_to_string(regexp_split_to_array(trim(text), '\s+')[1:2], ' ') AS ckey
        |  FROM documents),
        |s AS (SELECT ckey,
        |    CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
        |         WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < '33' THEN 'val'
        |         ELSE 'train' END AS naive_split,
        |    CASE WHEN substr(md5('split|' || ckey), 1, 2) < '1a' THEN 'test'
        |         WHEN substr(md5('split|' || ckey), 1, 2) < '33' THEN 'val'
        |         ELSE 'train' END AS cluster_split
        |  FROM d),
        |g AS (SELECT ckey, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT naive_split) AS BIGINT) AS nd_naive,
        |    CAST(count(DISTINCT cluster_split) AS BIGINT) AS nd_cluster
        |  FROM s GROUP BY 1),
        |u AS (SELECT 'cluster' AS scheme, nd_cluster AS nd, n_docs FROM g
        |  UNION ALL SELECT 'naive', nd_naive, n_docs FROM g)
        |SELECT scheme, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_groups,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling_groups,
        |  CAST(sum(CASE WHEN nd > 1 THEN n_docs ELSE 0 END) AS BIGINT) AS n_docs_straddling
        |FROM u GROUP BY scheme ORDER BY scheme""".stripMargin) { (s, dir) =>
      def splitOf(c: org.apache.spark.sql.Column) = {
        val k = substring(md5(concat_ws("|", lit("split"), c)), 1, 2)
        when(k < "1a", "test").when(k < "33", "val").otherwise("train")
      }
      Tables.documents(s, dir)
        .withColumn("ckey",
          expr("array_join(slice(split(trim(text), '\\\\s+'), 1, 2), ' ')"))
        .withColumn("naive_split", splitOf(col("doc_id").cast("string")))
        .withColumn("cluster_split", splitOf(col("ckey")))
        .groupBy(col("ckey"))
        .agg(count(lit(1)).as("n_docs"),
          size(collect_set(col("naive_split"))).cast("long").as("nd_naive"),
          size(collect_set(col("cluster_split"))).cast("long").as("nd_cluster"))
        .select(col("n_docs"), explode(array(
          struct(lit("cluster").as("scheme"), col("nd_cluster").as("nd")),
          struct(lit("naive").as("scheme"), col("nd_naive").as("nd")))).as("x"))
        .select(col("x.scheme").as("scheme"), col("x.nd").as("nd"), col("n_docs"))
        .groupBy(col("scheme"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_multi_groups"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_straddling_groups"),
          sum(when(col("nd") > 1, col("n_docs")).otherwise(0L)).as("n_docs_straddling"))
        .orderBy(col("scheme"))
    },

    // TEMPERATURE-weighted mixture (r7-r9 Next: p7's fixed 16ths made
    // principled) — the standard multi-source training recipe: source
    // sampling mass ∝ m_s^T with T = 3/4, computed FROM corpus stats
    // rather than hand-config. The libm trap (pow/log are not
    // correctly rounded → never oracle-safe) is dodged by picking the
    // dyadic temperature the CORRECTLY-ROUNDED op set can express
    // exactly: the per-source replication factor is
    //   r_s = (m_max / m_s)^(1/4) = sqrt(sqrt(m_max / m_s))
    // — one division of two exact integers + two IEEE sqrts, all
    // bit-identical cross-engine (the m37 class). Anchoring at the
    // LARGEST source (exactly 1 epoch) also removes the only other
    // hazard: normalizing by Σ w_s would SUM raw doubles (order-
    // dependent — forbidden); max() of integers is exact. Emitted mass
    // of source s is then m_s · r_s ∝ m_s^(3/4) — the T=3/4 mixture.
    // Materialization is p7's machinery at 1/256 resolution: full
    // epochs = r256 div 256, the fractional epoch is a per-doc
    // 2-hex-digit md5 draw < r256 % 256, and epochs cap at 8 (the
    // declared max-upsampling guard every production recipe carries —
    // a 4096×-smaller source would otherwise explode; the cap is the
    // config, not a silent truncation). Scale shape: per-source agg
    // (|sources| rows) broadcasts back; the explode is map-side and
    // ≤8; the only corpus exchanges are the stats partial agg and the
    // output sort. SamplingSpec proves the closed form on a skewed
    // fixture (100× mass gap → 3 epochs + 41/256 draw), the
    // largest-source-exactly-once invariant, and the cap.
    QueryKey("p18_temperature_mix",
      s"""WITH src AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS m
         |  FROM documents GROUP BY 1),
         |mx AS (SELECT max(m) AS m_max FROM src),
         |r AS (SELECT source,
         |    CAST(floor(sqrt(sqrt(CAST(m_max AS DOUBLE) / CAST(m AS DOUBLE))) * 256)
         |      AS BIGINT) AS r256
         |  FROM src CROSS JOIN mx),
         |base AS (SELECT doc_id, d.source, r256,
         |    (strpos('0123456789abcdef', substr(${drawHexSql("mix7")}, 1, 1)) - 1) * 16 +
         |    (strpos('0123456789abcdef', substr(${drawHexSql("mix7")}, 2, 1)) - 1) AS draw
         |  FROM documents d JOIN r ON d.source = r.source),
         |c AS (SELECT doc_id, source,
         |    least(r256 // 256 + CASE WHEN draw < r256 % 256 THEN 1 ELSE 0 END, 8)
         |      AS n_copies
         |  FROM base)
         |SELECT doc_id, source, CAST(e AS INT) AS epoch
         |FROM (SELECT doc_id, source,
         |    unnest(generate_series(1, CAST(n_copies AS INT))) AS e
         |  FROM c) u
         |ORDER BY doc_id, epoch""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val src = docs.groupBy(col("source")).agg(sum(col("n_chars")).as("m"))
      val mx = src.agg(max(col("m")).as("m_max"))
      val r = src.crossJoin(broadcast(mx))
        .select(col("source"), expr(
          "CAST(floor(sqrt(sqrt(CAST(m_max AS DOUBLE) / CAST(m AS DOUBLE))) * 256) " +
          "AS BIGINT)").as("r256"))
      docs.join(broadcast(r), Seq("source"))
        .withColumn("_h", drawHex("mix7"))
        .withColumn("_d", expr(
          "(instr('0123456789abcdef', substring(_h, 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(_h, 2, 1)) - 1)"))
        .withColumn("n_copies", least(
          expr("r256 div 256") + when(col("_d") < expr("r256 % 256"), 1L).otherwise(0L),
          lit(8L)))
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1), col("n_copies"))).as("epoch"))
        .withColumn("epoch", col("epoch").cast("int"))
        .orderBy(col("doc_id"), col("epoch"))
    },

    // PADDING-efficiency eval (p4's measurement half): fixed-size
    // batches of 8 waste (batch_size·max_len − Σ len) token slots to
    // padding; length-sorted bucketing is the standard fix. PRICE both
    // schemes — arrival order vs (len, doc_id) order — in ONE corpus
    // scan: a ×2 scheme explode BEFORE the window (the CLAUDE.md
    // union-of-re-aggs trap dodged: branches of one base rescan the
    // fact; one exchange on (lang, scheme) with a scheme-conditional
    // sort key does not), windows partitioned per (lang, scheme) —
    // the p4 shard grain, never a corpus-wide partitionless window.
    // Trailing partial batches pad to their own size (n·max), not 8.
    QueryKey("p19_pad_efficiency",
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS len
        |  FROM documents),
        |tagged AS (
        |  SELECT doc_id, lang, len, s.scheme,
        |    CASE WHEN s.scheme = 'arrival' THEN 0 ELSE len END AS k1
        |  FROM d, (SELECT unnest(['arrival', 'length_sorted']) AS scheme) s),
        |rn AS (SELECT *, row_number() OVER (PARTITION BY lang, scheme
        |    ORDER BY k1, doc_id) AS rn FROM tagged),
        |b AS (SELECT scheme, lang, (rn - 1) // 8 AS batch,
        |    CAST(count(*) AS BIGINT) AS bn, CAST(sum(len) AS BIGINT) AS btok,
        |    CAST(max(len) AS INT) AS bmax
        |  FROM rn GROUP BY 1, 2, 3),
        |agg AS (SELECT scheme, CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(btok) AS BIGINT) AS sum_tokens,
        |    CAST(sum(bn * bmax) AS BIGINT) AS padded_slots
        |  FROM b GROUP BY 1)
        |SELECT scheme, n_batches, sum_tokens, padded_slots,
        |  CAST(CASE WHEN padded_slots = 0 THEN NULL
        |    ELSE (padded_slots - sum_tokens) * 10000 // padded_slots END
        |    AS BIGINT) AS waste_bp
        |FROM agg ORDER BY scheme""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(trim(col("text")), "\\s+")).as("len"))
        .withColumn("scheme", explode(array(lit("arrival"), lit("length_sorted"))))
        .withColumn("k1",
          when(col("scheme") === "arrival", lit(0)).otherwise(col("len")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"), col("scheme"))
            .orderBy(col("k1"), col("doc_id"))))
        .withColumn("batch", expr("CAST((rn - 1) div 8 AS BIGINT)"))
        .groupBy(col("scheme"), col("lang"), col("batch"))
        .agg(count(lit(1)).as("bn"), sum(col("len")).as("btok"),
          max(col("len")).as("bmax"))
        .groupBy(col("scheme"))
        .agg(count(lit(1)).as("n_batches"), sum(col("btok")).as("sum_tokens"),
          sum(col("bn") * col("bmax")).as("padded_slots"))
        .select(col("scheme"), col("n_batches"), col("sum_tokens"),
          col("padded_slots"),
          expr("CASE WHEN padded_slots = 0 THEN NULL " +
            "ELSE (padded_slots - sum_tokens) * 10000 div padded_slots END")
            .as("waste_bp"))
        .orderBy(col("scheme"))
    },

    // POINT-IN-TIME feature materialization — the feature-store op
    // that kills training-serving skew: for every labeled example
    // (each 'purchase' event), per-user activity features computed
    // ONLY from events STRICTLY BEFORE the label row — an EXCLUSIVE
    // growing frame (unboundedPreceding, -1), so no future row and
    // not even the label row itself leaks into its own features (the
    // classic leakage bug a naive per-user groupBy join commits).
    // ONE pass: cumulative count/sums over the (user) exchange, label
    // filter after. Integer cents; empty first frames coalesce to 0.
    QueryKey("p20_pit_features",
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    event_id, event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |f AS (SELECT *,
        |    CAST(count(*) OVER w AS BIGINT) AS prior_events,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      OVER w, 0) AS BIGINT) AS prior_errors,
        |    CAST(coalesce(sum(vc) OVER w, 0) AS BIGINT) AS prior_value_cents
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS label_event_id, ts_us AS label_ts_us,
        |  prior_events, prior_errors, prior_value_cents
        |FROM f WHERE event_type = 'purchase'
        |ORDER BY user_id, label_event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .withColumn("prior_events", count(lit(1)).over(w))
        .withColumn("prior_errors",
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w))
        .withColumn("prior_value_c", sum(col("vc")).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("label_event_id"),
          col("ts_us").as("label_ts_us"), col("prior_events"),
          coalesce(col("prior_errors"), lit(0L)).as("prior_errors"),
          coalesce(col("prior_value_c"), lit(0L)).as("prior_value_cents"))
        .orderBy(col("user_id"), col("label_event_id"))
    },

    // COMPACTION EXECUTION + snapshot isolation (p14 plans, q53 reads
    // snapshots — this key RUNS the plan and proves readers are whole):
    // the corpus lands as 40 small files (one per doc_id%40 shard — the
    // small-file problem every long-lived append log grows), p14's
    // byte-target bin plan is computed FROM that snapshot, and the
    // compaction writes one file per bin into a NEW layout version —
    // the small files are never touched (append-only, snapshot
    // isolation by construction). The output is the PROOF: both faces
    // re-read their layout and must produce the identical corpus
    // digest (order-free sum of per-row md5 prefixes), identical
    // counts, and the expected file counts (40 → n_bins). A compaction
    // that drops, duplicates, or corrupts one row breaks the digest;
    // one that rewrote v1 in place would not be snapshot-isolated (the
    // stream-static lesson: readers pin file listings). DerivedLayouts
    // write-once; scale shape: digests computed map-side, one agg row
    // per face, no joins in the measured read.
    QueryKey("p21_compaction_exec",
      s"""WITH $compactionBinsCte,
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    $corpusDigest AS digest
        |  FROM documents)
        |SELECT 'compacted' AS face, n_bins AS n_files, n_docs, sum_chars, digest
        |  FROM d, nb
        |UNION ALL SELECT 'small', CAST(40 AS BIGINT), n_docs, sum_chars, digest
        |  FROM d, nb
        |ORDER BY face""".stripMargin) { (s, dir) =>
      import graft.sources.DerivedLayouts
      val base = DerivedLayouts.once(s"compactexec|$dir") { path =>
        writeCompaction(s, dir, path)
      }
      def face(name: String, sub: String): DataFrame =
        Tables.parquet(s, s"$base/$sub")
          .withColumn("_dig",
            expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), " +
              "'|', text)), 1, 6), 16, 10) AS BIGINT)"))
          // nondeterministic exprs can't sit inside an agg — material-
          // ize the file name per row first
          .withColumn("_f", input_file_name())
          .agg(countDistinct(col("_f")).as("n_files"),
            count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            sum(col("_dig")).as("digest"))
          .select(lit(name).as("face"), col("n_files"), col("n_docs"),
            col("sum_chars"), col("digest"))
      face("compacted", "compacted").unionByName(face("small", "small"))
        .orderBy(col("face"))
    },

    // SHARD EXPORT — the LAST op of every training-data pipeline
    // (after dedup/quality/mixing, the corpus is globally shuffled and
    // written as balanced shards for the trainer): the permutation is
    // a salted md5 over the doc key (deterministic pseudo-random —
    // re-running on any cluster shape reproduces identical shards,
    // the p1 zero-coordination contract; never a sampled
    // repartitionByRange, whose boundaries are nondeterministic), the
    // shard is the key's first hex nibble (16 shards, balanced in
    // expectation, count scales by adding nibbles), and the write is
    // one file per shard (repartition(16, shard) + partitionBy). The
    // output is the export MANIFEST read back from the files: per
    // shard, file count (must be 1 — the layout property, asserted
    // through the oracle), doc count, char mass, order-free digest,
    // and the shard's key range. A trainer consumes the manifest, not
    // a directory listing.
    QueryKey("p22_shard_export",
      // both faces must equal the corpus truth computed ONCE — the
      // snapshot-isolation proof is that 'small' (re-read AFTER the
      // compaction ran) and 'compacted' carry the identical digest;
      // n_files is closed-form (40 shards; p14's bin count for the copy)
      // n_files is the literal 1 the layout must deliver (one file per
      // shard) — a multi-file shard breaks the compare even when the
      // row contents agree
      """WITH d AS (SELECT doc_id, text, n_chars,
        |    md5('shard|' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |s AS (SELECT doc_id, text, n_chars, skey,
        |    CAST(strpos('0123456789abcdef', substring(skey, 1, 1)) - 1 AS INT)
        |      AS shard,
        |    CAST(list_sum(list_transform(generate_series(0, 5), k ->
        |      CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)
        |        || '|' || text), 1 + k, 1)) - 1 AS BIGINT)
        |      * (1::BIGINT << (4 * (5 - k))))) AS BIGINT) AS dig
        |  FROM d)
        |SELECT shard, CAST(1 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(dig) AS BIGINT) AS digest,
        |  min(substring(skey, 1, 8)) AS key_lo,
        |  max(substring(skey, 1, 8)) AS key_hi
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir) =>
      import graft.sources.DerivedLayouts
      val base = DerivedLayouts.once(s"shardexp|$dir") { path =>
        Tables.documents(s, dir)
          .withColumn("skey", md5(concat_ws("|", lit("shard"),
            col("doc_id").cast("string"))))
          .withColumn("shard",
            expr("CAST(instr('0123456789abcdef', substring(skey, 1, 1)) - 1 AS INT)"))
          .repartition(16, col("shard"))
          .write.partitionBy("shard").parquet(s"$path/shards")
      }
      Tables.parquet(s, s"$base/shards")
        .withColumn("_dig",
          expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), " +
            "'|', text)), 1, 6), 16, 10) AS BIGINT)"))
        .withColumn("_f", input_file_name())
        .groupBy(col("shard"))
        .agg(countDistinct(col("_f")).as("n_files"),
          count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("_dig")).as("digest"),
          min(substring(col("skey"), 1, 8)).as("key_lo"),
          max(substring(col("skey"), 1, 8)).as("key_hi"))
        .orderBy(col("shard"))
    },

    QueryKey("p14_compaction_plan",
      """WITH shards AS (SELECT doc_id % 200 AS shard_id,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |c AS (SELECT shard_id, n_docs, bytes,
        |    CAST(sum(bytes) OVER (ORDER BY shard_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM shards)
        |SELECT (cum - bytes) // 20000 AS bin,
        |  CAST(count(*) AS BIGINT) AS n_shards,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  min(shard_id) AS shard_lo, max(shard_id) AS shard_hi
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val shards = Tables.documents(s, dir)
        .groupBy(pmod(col("doc_id"), lit(200)).as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val w = Window.orderBy(col("shard_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      shards.withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("bin", expr("(cum - bytes) div 20000"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_shards"), sum(col("n_docs")).as("n_docs"),
          sum(col("bytes")).as("total_bytes"),
          min(col("shard_id")).as("shard_lo"), max(col("shard_id")).as("shard_hi"))
        .orderBy(col("bin"))
    },

    // FIRST-FIT-DECREASING bin packing — the packing algorithm
    // production batchers actually run (p4 is streaming next-fit; p19
    // PRICES arrival-vs-sorted; this packs BETTER, 11/9-OPT guaranteed
    // vs next-fit's 2-OPT): per (lang, blk) shard the items are
    // length-sorted and ONE aggregate() fold walks them, placing each
    // into the FIRST bin with room (bin loads ride the fold state as
    // an array — the sequential recurrence is per-shard, so packing
    // parallelism is unbounded across shards, the p4 contract). A
    // second fold prices streaming next-fit on arrival order over the
    // SAME collected items — bins_ffd ≤ bins_nextfit row by row is
    // the algorithmic claim, visible in the output. Oracle replays
    // both folds as recursive CTE walks with LIST state (the t27
    // pattern; list_reduce is banned — round-7 finding).
    QueryKey("p23_ffd_pack",
      // both packing folds replayed as recursive walks with LIST /
      // scalar state (rn → rn+1 per (lang, blk) key; list_reduce is
      // banned — round-7 finding)
      """WITH RECURSIVE base AS MATERIALIZED (SELECT lang,
        |    doc_id // 128 AS blk, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS t
        |  FROM documents),
        |fi AS MATERIALIZED (SELECT lang, blk, doc_id, t,
        |    CAST(row_number() OVER (PARTITION BY lang, blk
        |      ORDER BY t DESC, doc_id) AS INT) AS rn
        |  FROM base),
        |ai AS MATERIALIZED (SELECT lang, blk, doc_id, t,
        |    CAST(row_number() OVER (PARTITION BY lang, blk
        |      ORDER BY doc_id) AS INT) AS rn
        |  FROM base),
        |g AS MATERIALIZED (SELECT lang, blk, CAST(count(*) AS INT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(t) AS BIGINT) AS sum_tokens
        |  FROM base GROUP BY 1, 2),
        |fw(lang, blk, rn, loads) AS (
        |  SELECT lang, blk, 0, CAST([] AS BIGINT[]) FROM g
        |  UNION ALL
        |  SELECT w.lang, w.blk, i.rn,
        |    CASE WHEN len(w.loads) = 0 THEN [i.t]
        |      WHEN len(list_filter(range(1, len(w.loads) + 1),
        |          j -> w.loads[j] + i.t <= 256)) = 0
        |        THEN list_append(w.loads, i.t)
        |      ELSE list_transform(range(1, len(w.loads) + 1), j ->
        |        CASE WHEN j = list_filter(range(1, len(w.loads) + 1),
        |            j2 -> w.loads[j2] + i.t <= 256)[1]
        |          THEN w.loads[j] + i.t ELSE w.loads[j] END)
        |    END
        |  FROM fw w JOIN fi i ON i.lang = w.lang AND i.blk = w.blk
        |    AND i.rn = w.rn + 1),
        |ffd AS MATERIALIZED (SELECT w.lang, w.blk,
        |    CAST(len(w.loads) AS INT) AS bins_ffd
        |  FROM fw w JOIN g ON g.lang = w.lang AND g.blk = w.blk AND w.rn = g.n),
        |aw(lang, blk, rn, bins, cur) AS (
        |  SELECT lang, blk, 0, 0, CAST(0 AS BIGINT) FROM g
        |  UNION ALL
        |  SELECT w.lang, w.blk, i.rn,
        |    CASE WHEN w.bins = 0 THEN 1
        |      WHEN w.cur + i.t <= 256 THEN w.bins ELSE w.bins + 1 END,
        |    CASE WHEN w.bins = 0 THEN i.t
        |      WHEN w.cur + i.t <= 256 THEN w.cur + i.t ELSE i.t END
        |  FROM aw w JOIN ai i ON i.lang = w.lang AND i.blk = w.blk
        |    AND i.rn = w.rn + 1),
        |nf AS MATERIALIZED (SELECT w.lang, w.blk,
        |    CAST(w.bins AS INT) AS bins_nextfit
        |  FROM aw w JOIN g ON g.lang = w.lang AND g.blk = w.blk AND w.rn = g.n)
        |SELECT g.lang, CAST(g.blk AS BIGINT) AS blk, g.n_docs, g.sum_tokens,
        |  ffd.bins_ffd, nf.bins_nextfit
        |FROM g JOIN ffd USING (lang, blk) JOIN nf USING (lang, blk)
        |ORDER BY lang, blk""".stripMargin) { (s, dir) =>
      val ffdFold =
        """aggregate(
          |  array_sort(fitems),
          |  CAST(array() AS ARRAY<BIGINT>),
          |  (loads, x) -> CASE
          |    WHEN size(loads) = 0 THEN array(x.t)
          |    WHEN size(filter(sequence(0, size(loads) - 1),
          |        i -> element_at(loads, i + 1) + x.t <= 256)) = 0
          |      THEN concat(loads, array(x.t))
          |    ELSE transform(loads, (l, j) ->
          |      IF(j = element_at(filter(sequence(0, size(loads) - 1),
          |           i -> element_at(loads, i + 1) + x.t <= 256), 1),
          |        l + x.t, l))
          |  END)""".stripMargin
      val nfFold =
        """aggregate(
          |  array_sort(aitems),
          |  named_struct('bins', 0, 'cur', CAST(0 AS BIGINT)),
          |  (acc, x) -> CASE
          |    WHEN acc.bins = 0 THEN named_struct('bins', 1, 'cur', x.t)
          |    WHEN acc.cur + x.t <= 256
          |      THEN named_struct('bins', acc.bins, 'cur', acc.cur + x.t)
          |    ELSE named_struct('bins', acc.bins + 1, 'cur', x.t)
          |  END).bins""".stripMargin
      Tables.documents(s, dir)
        .withColumn("t",
          expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)"))
        .withColumn("blk", expr("doc_id div 128"))
        .groupBy(col("lang"), col("blk"))
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"),
          collect_list(expr(
            "named_struct('nt', -t, 'id', doc_id, 't', t)")).as("fitems"),
          collect_list(expr(
            "named_struct('id', doc_id, 't', t)")).as("aitems"))
        .select(col("lang"), col("blk"), col("n_docs"), col("sum_tokens"),
          expr(s"CAST(size($ffdFold) AS INT)").as("bins_ffd"),
          expr(s"CAST($nfFold AS INT)").as("bins_nextfit"))
        .orderBy(col("lang"), col("blk"))
    },

    // VACUUM after compaction — the maintenance op that closes the
    // p21 → here lifecycle (p21 proves the compacted copy whole while
    // BOTH layouts exist; vacuum reclaims the superseded small files
    // and must prove the active version never noticed): its OWN layout
    // copy (never p21's cached one — vacuuming a shared artifact would
    // poison the other key in the same JVM), the same 40-shard →
    // byte-binned compaction, then the small files are DELETED
    // (retention expired, nothing references them) and the reclaim is
    // accounted by FILE COUNT (parquet byte sizes are
    // compression-dependent, never oracle-safe). Output: the active
    // face re-read AFTER deletion — identical digest/counts to the
    // p21 contract — plus the reclaim row; a vacuum that deleted a
    // referenced file would break the active digest, one that missed
    // files would break n_reclaimed.
    QueryKey("p24_snapshot_vacuum",
      // the active face must read IDENTICALLY to p21's compacted face
      // even though the small files are gone — that identity IS the
      // vacuum-safety proof
      s"""WITH $compactionBinsCte,
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    $corpusDigest AS digest
        |  FROM documents)
        |SELECT 'active' AS face, n_bins AS n_files, n_docs, digest FROM d, nb
        |UNION ALL SELECT 'reclaimed', CAST(40 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(NULL AS BIGINT) FROM d
        |ORDER BY face""".stripMargin) { (s, dir) =>
      import graft.sources.DerivedLayouts
      val base = DerivedLayouts.once(s"vacuum|$dir") { path =>
        writeCompaction(s, dir, path)
        // retention expired: delete the superseded small files and
        // record the reclaim count (driver-side layout management,
        // the p21/DerivedLayouts write class)
        val smallDir = java.nio.file.Paths.get(path, "small")
        val deleted = java.nio.file.Files.walk(smallDir)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
          .map { p => java.nio.file.Files.delete(p); 1L }.sum
        java.nio.file.Files.walk(smallDir)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        import s.implicits._
        Seq(deleted).toDF("n_reclaimed").write.parquet(s"$path/reclaim")
      }
      val active = Tables.parquet(s, s"$base/compacted")
        .withColumn("_dig",
          expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), " +
            "'|', text)), 1, 6), 16, 10) AS BIGINT)"))
        .withColumn("_f", input_file_name())
        .agg(countDistinct(col("_f")).as("n_files"),
          count(lit(1)).as("n_docs"), sum(col("_dig")).as("digest"))
        .select(lit("active").as("face"), col("n_files"), col("n_docs"),
          col("digest"))
      val reclaim = Tables.parquet(s, s"$base/reclaim")
        .select(lit("reclaimed").as("face"), col("n_reclaimed").as("n_files"),
          lit(0L).as("n_docs"), lit(null).cast("long").as("digest"))
      active.unionByName(reclaim).orderBy(col("face"))
    }
  )
}
