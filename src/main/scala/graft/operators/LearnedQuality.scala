package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Learned (model-based) document quality filter — the fastText-style
  * architecture production pipelines (CCNet, Gopher, LLaMA — public
  * knowledge) run instead of hand-set heuristic gates: a LINEAR scorer
  * over cheap per-doc features, trained from labeled examples, applied
  * map-side with broadcast weights.
  *
  * Everything is INTEGER so the model is oracle-exact cross-engine:
  *
  *   - Training is closed-form naive Bayes: per-class feature counts →
  *     log-odds weights. The log is `il16`, a 1/16-resolution
  *     FIXED-POINT log2 — 16·floor(log2 v) plus a linear interpolation
  *     of the mantissa, all integer ops (libm log is not correctly
  *     rounded and never cross-engine safe; plain floor-log2 proved too
  *     coarse: every informative weight rounded to 0 and the model
  *     degenerated to the prior — measured before this design).
  *   - Three feature families share the 1/16-log2 unit: hashed token
  *     buckets (t16's 16-dim hashing trick — the fastText bag-of-words
  *     channel), a log-scaled length bin, and a 1/16-granular lexical
  *     diversity bin. Weights are il16 class-conditional log-odds with
  *     +1 smoothing.
  *   - Classification: score = prior + w_len[lbin] + w_div[dbin] +
  *     Σ_b tf_b·w_b, predict positive iff score ≥ 0.
  *
  * Scale: training reduces to ≤ (16 + |lbins| + |dbins| + 1) weight
  * rows; classification joins them back via broadcast() onto one
  * corpus pass — no iteration, no driver-side collect, no UDF.
  */
object LearnedQuality {

  /** SQL fragment: fixed-point log2 with 1/16 resolution, exact in
    * Spark (div/shiftleft) — il16(v) = 16·e + (v·16) div 2^e − 16,
    * e = floor(log2 v) = length(bin(v)) − 1. Piecewise-linear in the
    * mantissa, monotone, integer-only (shift ≤ 62 for v < 2^59 —
    * token-count range). The DuckDB twin is PipelineQueries.IL
    * (`//` and `1::BIGINT <<`). */
  def il16Sql(v: String): String =
    s"(16 * (length(bin($v)) - 1) + (($v) * 16) div " +
      s"shiftleft(CAST(1 AS BIGINT), length(bin($v)) - 1) - 16)"

  /** Smoothed integer log-odds of a feature between classes:
    * il16(c1+1) − il16(n1+1) − il16(c0+1) + il16(n0+1)
    * ≈ 16·log2((c1/n1)/(c0/n0)). Args are column names. */
  def logOdds(c1: String, n1: String, c0: String, n0: String): Column =
    expr(s"${il16Sql(s"$c1 + 1")} - ${il16Sql(s"$n1 + 1")} - " +
      s"${il16Sql(s"$c0 + 1")} + ${il16Sql(s"$n0 + 1")}")

  /** Per-doc scalar features: n_tokens, n_distinct, stop_hits, the
    * log-length bin and the 1/16 diversity bin; `carry` columns ride
    * along. One corpus scan. */
  def docFeatures(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame =
    docs
      .withColumn("_w", Dedup.words(col(textCol)))
      .select(Seq(col(idCol).as("doc_id")) ++ carry.map(col) ++ Seq(
        size(col("_w")).cast("long").as("n_tokens"),
        size(array_distinct(col("_w"))).cast("long").as("n_distinct"),
        TextFunctions.stopHits("_w", TextFunctions.enStop).cast("long")
          .as("stop_hits")): _*)
      .withColumn("lbin", expr("length(bin(greatest(n_tokens, 1))) - 1"))
      .withColumn("dbin", expr(
        "CASE WHEN n_tokens > 0 THEN (n_distinct * 16) div n_tokens ELSE 0 END"))

  /** (doc, bucket, tf) hashed-token features (t16's first-md5-nibble
    * bucket), `carry` per-doc columns riding through the explode so
    * training needs no join back to the corpus. */
  def bucketTf(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val gcols = (Seq("doc_id") ++ carry ++ Seq("bucket")).map(col)
    docs
      .select(Seq(col(idCol).as("doc_id")) ++ carry.map(col) :+
        explode(Dedup.words(col(textCol))).as("_t"): _*)
      .filter(length(col("_t")) > 0)
      .withColumn("bucket",
        expr("CAST(instr('0123456789abcdef', substring(md5(_t), 1, 1)) - 1 AS INT)"))
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** Learned weights: three broadcast-sized DataFrames + the prior row
    * (prior, n_train). */
  case class Model(bucketW: DataFrame, lenW: DataFrame, divW: DataFrame,
      prior: DataFrame)

  /** Closed-form training. `label` must evaluate to integer 0/1 on a
    * corpus row. Two corpus scans (token counts, doc scalars); every
    * aggregate is partial; weight frames are aggregate-row sized. */
  def train(docs: DataFrame, idCol: String, textCol: String,
      label: Column): Model = {
    val labeled = docs.withColumn("label", label)
    val tf = bucketTf(labeled, idCol, textCol, carry = Seq("label"))
    // COMPLETE the bucket axis (0..15) before the log-odds: a bucket no
    // training token hashed to must still carry its smoothed weight
    // il16(1)−il16(n1+1)−il16(1)+il16(n0+1), not vanish — classify()'s
    // inner join would otherwise silently score unseen buckets as 0
    // (the round-8 what's-wrong #2). 16 rows, driver-free range.
    val allBuckets = docs.sparkSession.range(16)
      .select(col("id").cast("int").as("bucket"))
    val bc = allBuckets.join(
        tf.groupBy(col("bucket")).agg(
          sum(when(col("label") === 1, col("tf")).otherwise(0L)).as("_c1"),
          sum(when(col("label") === 0, col("tf")).otherwise(0L)).as("_c0")),
        Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("_c1"), lit(0L)).as("c1"),
        coalesce(col("_c0"), lit(0L)).as("c0"))
    val masses = bc.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"))
    val bucketW = bc.crossJoin(broadcast(masses))
      .select(col("bucket"), logOdds("c1", "n1", "c0", "n0").as("w"))
    val feats = docFeatures(labeled, idCol, textCol, carry = Seq("label"))
    val docMass = feats.agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("m1"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("m0"))
    def catW(c: String): DataFrame =
      feats.groupBy(col(c)).agg(
          sum(when(col("label") === 1, 1L).otherwise(0L)).as("k1"),
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("k0"))
        .crossJoin(broadcast(docMass))
        .select(col(c), logOdds("k1", "m1", "k0", "m0").as("w"))
    val prior = docMass.select(
      expr(s"${il16Sql("m1 + 1")} - ${il16Sql("m0 + 1")}").as("prior"),
      (col("m1") + col("m0")).as("n_train"))
    Model(bucketW, catW("lbin"), catW("dbin"), prior)
  }

  // ------------------------------------------------- multi-class NB

  /** Hashed WITHIN-WORD char-trigram term frequencies (16 md5-nibble
    * buckets) — the fastText formulation exactly: a word's sub-word
    * n-grams are a property of the WORD, so they are computed once per
    * DISTINCT word (vocab-bounded — trigram substrings, md5s, and
    * bucket multiplicities all |V|-sized) and reach the corpus through
    * one broadcast join against the (doc, word, count) token grain.
    * The corpus-sized side allocates one token string per occurrence,
    * never one trigram string per char position — the first t26 shape
    * exploded every char of every doc (corpus-BYTE-sized rows) and
    * measured 3.6× at 10× data; this one is token-grain and flat.
    * Words under 3 chars carry no trigrams (fastText's <w> padding is
    * omitted; both engines agree). */
  def charTrigramTf(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val toks = docs
      .select(Seq(col(idCol).as("doc_id")) ++ carry.map(col) :+
        explode(expr(s"filter(split(trim($textCol), '\\\\s+'), x -> x <> '')"))
          .as("_w"): _*)
      .groupBy((Seq("doc_id") ++ carry ++ Seq("_w")).map(col): _*)
      .agg(count(lit(1)).as("_wc"))
      // the vocab build and the probe both consume this grain — pin it
      // so the corpus explode runs once (self-join rescan trap)
      .localCheckpoint()
    val wordBuckets = toks.select(col("_w")).distinct()
      .select(col("_w"), explode(expr(
        "CASE WHEN length(_w) >= 3 THEN transform(sequence(1, length(_w) - 2), " +
        "i -> substring(_w, i, 3)) ELSE CAST(array() AS ARRAY<STRING>) END"))
        .as("_g"))
      .withColumn("bucket",
        expr("CAST(instr('0123456789abcdef', substring(md5(_g), 1, 1)) - 1 AS INT)"))
      .groupBy(col("_w"), col("bucket")).agg(count(lit(1)).as("_m"))
    toks.join(broadcast(wordBuckets), Seq("_w"))
      .groupBy((Seq("doc_id") ++ carry ++ Seq("bucket")).map(col): _*)
      .agg(sum(expr("_wc * _m")).as("tf"))
  }

  /** Multi-class weights: (lang, bucket, w) on the COMPLETED
    * lang×bucket grid, plus (lang, prior, m). */
  case class LangModel(weights: DataFrame, priors: DataFrame)

  /** Closed-form multi-class naive Bayes over hashed char trigrams
    * (il16 fixed-point class-conditional log-probs — the t20 integer
    * machinery multi-classed): w(b,c) = il16(c_{b,c}+1) − il16(n_c+16)
    * (+1 per bucket smoothing ⇒ +16 on the class mass), prior(c) =
    * il16(m_c+1). Classes come from the observed training labels;
    * every frame is ≤ 16·|L| rows. */
  def trainLang(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): LangModel = {
    val tf = charTrigramTf(docs, idCol, textCol, carry = Seq(labelCol))
    val langs = docs.select(col(labelCol).as("lang")).distinct()
    val buckets = docs.sparkSession.range(16)
      .select(col("id").cast("int").as("bucket"))
    // complete the lang×bucket grid (the round-8 unseen-bucket lesson)
    val bc = langs.crossJoin(broadcast(buckets))
      .join(tf.groupBy(col(labelCol).as("lang"), col("bucket"))
          .agg(sum(col("tf")).as("_c")),
        Seq("lang", "bucket"), "left")
      .select(col("lang"), col("bucket"), coalesce(col("_c"), lit(0L)).as("c"))
    val nc = bc.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val weights = bc.join(broadcast(nc), Seq("lang"))
      .select(col("lang"), col("bucket"),
        expr(s"${il16Sql("c + 1")} - ${il16Sql("n + 16")}").as("w"))
    val priors = docs.groupBy(col(labelCol).as("lang"))
      .agg(count(lit(1)).as("m"))
      .select(col("lang"), expr(il16Sql("m + 1")).as("prior"), col("m"))
    LangModel(weights, priors)
  }

  /** Map-side argmax scoring: per doc, score every class (broadcast
    * 16·|L| weight rows), predict the max score with the lang-ascending
    * tie-break (min of (−score, lang) — deterministic cross-engine). */
  def classifyLang(docs: DataFrame, idCol: String, textCol: String,
      model: LangModel): DataFrame =
    charTrigramTf(docs, idCol, textCol)
      .join(broadcast(model.weights), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * col("w")).as("_ts"))
      .join(broadcast(model.priors.select(col("lang"), col("prior"))),
        Seq("lang"))
      .withColumn("score", col("prior") + col("_ts"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("lang").as("lang")))
        .as("_best"))
      .select(col("doc_id"), col("_best.lang").as("pred"))

  // ------------------------------------------ bigram LM / perplexity

  /** Within-doc adjacent word pairs (doc_id, prev, wrd). Pairs built
    * by zip-of-slices OUTSIDE any lambda (the projection-collapse
    * recompute trap); docs under two words contribute nothing. */
  def wordBigrams(docs: DataFrame, idCol: String, wordsCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(wordsCol).as("ws"))
      .select(col("doc_id"), explode(expr(
        "IF(size(ws) < 2, " +
        "CAST(array() AS ARRAY<STRUCT<prev: STRING, wrd: STRING>>), " +
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
        "(a, b) -> named_struct('prev', a, 'wrd', b)))")).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.wrd").as("wrd"))

  /** Add-one-smoothed bigram language model: pair counts c(prev,wrd),
    * context masses c(prev), and the training vocabulary size — the
    * CCNet-style perplexity filter's model half. All counts integer;
    * tables are vocab-bounded (pairs ≤ observed bigram types). */
  case class BigramLm(pairCounts: DataFrame, ctxCounts: DataFrame,
      vocabSize: DataFrame)

  def trainBigramLm(docs: DataFrame, idCol: String, wordsCol: String): BigramLm = {
    val bg = wordBigrams(docs, idCol, wordsCol)
    val pairs = bg.groupBy(col("prev"), col("wrd")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ctx = pairs.groupBy(col("prev")).agg(sum(col("c")).as("cp"))
    val vocab = docs.select(explode(col(wordsCol)).as("w")).distinct()
      .agg(count(lit(1)).as("v"))
    BigramLm(pairs, ctx, vocab)
  }

  /** Per-doc negative log-likelihood under the model, in il16 units
    * (16ths of a bit): nll = Σ il16(c(prev)+V) − il16(c(prev,wrd)+1)
    * over the doc's bigrams — add-one smoothing makes unseen pairs
    * (and unseen contexts, cp→0) finite instead of fatal. Integer
    * throughout, so cross-engine exact; avg = nll div n_bigrams is
    * the length-normalized perplexity proxy the keep-gate thresholds. */
  def bigramNll(docs: DataFrame, idCol: String, wordsCol: String,
      lm: BigramLm): DataFrame =
    wordBigrams(docs, idCol, wordsCol)
      .join(lm.pairCounts, Seq("prev", "wrd"), "left")
      .join(lm.ctxCounts, Seq("prev"), "left")
      .crossJoin(broadcast(lm.vocabSize))
      .withColumn("_lp",
        expr(s"${il16Sql("coalesce(cp, 0) + v")} - ${il16Sql("coalesce(c, 0) + 1")}"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("nll_il16"))

  /** Map-side scoring under a trained model: broadcast weight joins,
    * integer dot product, threshold at 0 → (doc_id, score, pred). */
  def classify(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame = {
    val tokScore = bucketTf(docs, idCol, textCol)
      .join(broadcast(model.bucketW), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("w")).as("tok_score"))
    docFeatures(docs, idCol, textCol)
      .join(broadcast(model.lenW.withColumnRenamed("w", "wl")), Seq("lbin"), "left")
      .join(broadcast(model.divW.withColumnRenamed("w", "wd")), Seq("dbin"), "left")
      .join(tokScore, Seq("doc_id"), "left")
      .crossJoin(broadcast(model.prior.select(col("prior"))))
      .withColumn("score",
        col("prior") + coalesce(col("wl"), lit(0L)) +
          coalesce(col("wd"), lit(0L)) + coalesce(col("tok_score"), lit(0L)))
      .select(col("doc_id"), col("score"),
        when(col("score") >= 0, 1).otherwise(0).as("pred"))
  }
}
