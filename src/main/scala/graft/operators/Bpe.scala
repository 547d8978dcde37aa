package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge LEARNING (Sennrich et al. 2016) — the
  * tokenizer-training op every LLM data pipeline runs before anything
  * else can count a token. t3/t8 consume a tokenizer's output; this is
  * the pass that produces one.
  *
  * Semantics (classic word-internal BPE, no end-of-word marker —
  * documented choice): the corpus collapses to its whitespace-token
  * vocabulary with counts; each word starts as its character sequence;
  * each iteration counts ADJACENT symbol pairs weighted by word count
  * (overlapping occurrences each count: "aaa" yields (a,a) twice —
  * Sennrich's counting), merges the argmax pair (tie-break: count
  * desc, then left, then right — total order, both engines agree),
  * and re-segments every word by the standard GREEDY left-to-right
  * non-overlapping replace ("aaaa" + merge (a,a) → [aa][aa], never
  * [aa][a][a]).
  *
  * Scale shape: ONE corpus scan builds the vocabulary aggregate —
  * everything after runs on |V| rows (vocab ≪ corpus at any SF; a
  * 100 TB crawl's distinct-word vocab is millions of rows — a few
  * executors' worth). The argmax pair is a 1-row aggregate: the
  * round's one probe collects it, and the fold takes it back as a
  * literal (only the picked pairs reach the driver, never a segment);
  * iterations are driver-composed like s10's PageRank with
  * localCheckpoint breaking lineage every other round (the
  * checkpointed frame is vocab-sized).
  * Per-word state is the symbol array — bounded by word length.
  *
  * The greedy re-segmentation is ONE aggregate() HOF fold per word
  * (the st14/m48 sequential-fold pattern): acc ends with `left` and
  * the next symbol is `right` → replace the tail with the merged
  * symbol, else append. The DuckDB oracle expresses the same fold as
  * a recursive CTE walking symbol positions (list_reduce is broken
  * for varying lengths — CLAUDE.md round-7 finding) with every
  * reused stage MATERIALIZED (the CTE-inlining lesson).
  *
  * One learner serves every entry point: the sequential learner is the
  * batched one below at batchMax = 1 (the top candidate is always
  * conflict-free, so each round merges exactly the argmax pair).
  *
  * Output: one row per merge iteration — iter, left_sym, right_sym,
  * merged, pair_cnt (corpus occurrences of the pair at merge time),
  * syms_after (total corpus symbol count after applying the merge —
  * the compression curve a tokenizer trainer actually watches). */
object Bpe {

  /** `n` sequential Sennrich merges: (iter, left_sym, right_sym, merged,
    * pair_cnt, syms_after). */
  def learnMerges(docs: DataFrame, textCol: String, n: Int): DataFrame =
    learn(docs, textCol, n, batchMax = 1)._2
      .select(col("round").as("iter"), col("left_sym"), col("right_sym"),
        col("merged"), col("pair_cnt"), col("syms_after"))

  /** Final per-word segmentation after `n` learned merges:
    * (w, cnt, syms) — the apply half (t22) joins this vocab-sized
    * frame back to the exploded corpus, so the expensive merge loop
    * runs once on |V| rows and never touches corpus-sized data. */
  def segmentVocab(docs: DataFrame, textCol: String, n: Int): DataFrame =
    learn(docs, textCol, n, batchMax = 1)._1

  /** BATCHED BPE learning at production merge counts (t21 proves the
    * algorithm at 3 merges with one driver round each; a 32k-merge
    * production vocab cannot afford one driver composition per merge).
    * Per driver round the top-`CandCap` pairs are scanned IN RANK
    * ORDER (pair_cnt desc, l, r) and up to `batchMax` pairwise
    * CONFLICT-FREE pairs are accepted — a pair joins the batch only if
    * {l, r, l||r} is disjoint from every earlier acceptance's
    * {l, r, l||r}. Disjointness makes the batch order-independent and
    * count-stable: applying one accepted merge cannot create, destroy,
    * or retarget an occurrence of another (their symbol supports never
    * touch — merging (a,b) in "…c a b d…" leaves c,d non-adjacent),
    * and no merged symbol can string-collide with another acceptance's
    * operand (merged strings are in the used set too). ONE greedy
    * left-to-right fold therefore applies the whole batch exactly as
    * sequential application in rank order would. Documented deviation
    * from strictly-sequential Sennrich: a pair CREATED by a same-round
    * merge cannot jump the queue until the next round (it does not
    * exist in this round's candidate table); between-round semantics
    * are unchanged. Both engines implement the identical rule.
    *
    * PRICED (round 12, recorded in SURVEY.md): at the t27 operating point
    * (8 rounds × batchMax 16 → 82 merges) vs batchMax=1 sequential at
    * the same merge budget, the merge SETS share 58/82 entries
    * (Jaccard 54%) and 79/82 rank positions differ — but the metric a
    * trainer optimizes, corpus symbols after the budget, lands within
    * 3% (sf0.01: 33 283 batched vs 32 321 sequential; sf0.001: 35 163
    * vs 34 170). The divergence is corpus-amplified: this 31-word
    * near-uniform vocabulary produces near-TIED pair counts everywhere,
    * so rank order is maximally fragile under the one-round queue
    * delay; Zipfian corpora with separated counts reorder far less.
    * A batch size decaying over the same round budget was measured
    * and rejected (round 13, SURVEY.md): it learns fewer merges and
    * recovers no rank fidelity, so the batch size is flat.
    *
    * Scale shape unchanged from learnMerges: one corpus scan, then
    * |V|-row rounds; the selection fold runs on ONE aggregate row of
    * ≤CandCap candidate structs (only the ≤batchMax picks are
    * collected); driver compositions drop from `merges` to `rounds` —
    * 16× fewer at batchMax=16. Output: (round, rnk, left_sym,
    * right_sym, merged, pair_cnt, syms_after) — global merge order is
    * (round, rnk). */
  def learnMergesBatched(docs: DataFrame, textCol: String, rounds: Int,
      batchMax: Int): DataFrame =
    learn(docs, textCol, rounds, batchMax)._2

  /** Candidate pairs scanned per round: the batch's selection window. */
  private val CandCap = 256

  /** A round's accepted merges, in rank order. */
  private val PickList = "ARRAY<STRUCT<l: STRING, r: STRING, c: BIGINT>>"

  /** The learner: up to `rounds` rounds of ≤ `batchMax` conflict-free
    * merges. Returns the final segmentation (w, cnt, syms) and the
    * merge table (round, rnk, left_sym, right_sym, merged, pair_cnt,
    * syms_after). */
  private def learn(docs: DataFrame, textCol: String, rounds: Int,
      batchMax: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1 && batchMax >= 1 && batchMax <= CandCap,
      s"need rounds >= 1 and 1 <= batchMax <= $CandCap (got $rounds, $batchMax)")
    var segs = vocab(docs, textCol).localCheckpoint()
    var outs = Seq.empty[DataFrame]
    var rnd = 0
    var exhausted = false
    while (rnd < rounds && !exhausted) {
      rnd += 1
      // the round's probe: ONE aggregate row holds the ≤ batchMax
      // accepted picks, and only they reach the driver
      val picks = pairCounts(segs).limit(CandCap)
        .agg(expr("array_sort(collect_list(" +
          "struct(-pair_cnt AS nc, l AS l, r AS r, pair_cnt AS c)))").as("cs"))
        .select(expr(
          s"""aggregate(cs,
             |  named_struct('used', CAST(array() AS ARRAY<STRING>),
             |    'picks', CAST(array() AS $PickList)),
             |  (acc, x) -> IF(size(acc.picks) < $batchMax
             |      AND NOT arrays_overlap(array(x.l, x.r, concat(x.l, x.r)), acc.used),
             |    named_struct(
             |      'used', concat(acc.used, array(x.l, x.r, concat(x.l, x.r))),
             |      'picks', concat(acc.picks,
             |        array(named_struct('l', x.l, 'r', x.r, 'c', x.c)))),
             |    acc)).picks""".stripMargin))
        .head().getSeq[Row](0)
      // degenerate corpus (every word already one symbol, or more
      // rounds than available merges): the pick list is EMPTY — stop,
      // matching the oracle's recursive walk which keeps single-symbol
      // words.
      if (picks.isEmpty) { exhausted = true }
      else {
        // the picks fold back in as a literal: the bytes a broadcast of
        // the pick row would ship, without its collect job
        val pickList = array(picks.map(p => struct(lit(p.getString(0)).as("l"),
          lit(p.getString(1)).as("r"), lit(p.getLong(2)).as("c"))): _*).cast(PickList)
        segs = segs.withColumn("picks", pickList)
          .withColumn("syms", expr(
            "aggregate(syms, slice(syms, 1, 0), (acc, x) -> " +
            "IF(size(acc) > 0 AND exists(picks, p -> " +
            "p.l = element_at(acc, -1) AND p.r = x), " +
            "concat(slice(acc, 1, size(acc) - 1), " +
            "array(concat(element_at(acc, -1), x))), " +
            "concat(acc, array(x))))"))
          .drop("picks")
        // r16: checkpoint every OTHER round — the frame is vocab-sized
        // (|V| rows), so carrying at most two rounds of fold lineage is
        // cheaper than an eager materialization job per round.
        if (rnd % 2 == 0 || rnd == rounds) segs = segs.localCheckpoint()
        outs = outs :+ segs
          .agg(sum(col("cnt") * size(col("syms"))).as("syms_after"))
          .select(lit(rnd).as("round"),
            posexplode(pickList).as(Seq("idx", "p")), col("syms_after"))
          .select(col("round"), (col("idx") + 1).cast("int").as("rnk"),
            col("p.l").as("left_sym"), col("p.r").as("right_sym"),
            concat(col("p.l"), col("p.r")).as("merged"),
            col("p.c").as("pair_cnt"), col("syms_after"))
      }
    }
    val merges =
      if (outs.isEmpty)
        docs.sparkSession.emptyDataFrame
          .withColumn("round", lit(0)).withColumn("rnk", lit(0))
          .withColumn("left_sym", lit("")).withColumn("right_sym", lit(""))
          .withColumn("merged", lit(""))
          .withColumn("pair_cnt", lit(0L)).withColumn("syms_after", lit(0L))
      else outs.reduce(_ unionByName _).orderBy(col("round"), col("rnk"))
    (segs, merges)
  }

  /** Word counts (w, cnt) over the whitespace split, each word's
    * characters as its starting segmentation `syms` — the frame the
    * learner folds merges into. */
  private def vocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))

  /** Adjacent-symbol pair counts (l, r, pair_cnt) of a segmentation,
    * weighted by word count, best first (ties by l, r). */
  private def pairCounts(segs: DataFrame): DataFrame =
    segs
      .select(col("cnt"), explode(expr(
        "IF(size(syms) < 2, array(), transform(sequence(0, size(syms) - 2), " +
        "j -> named_struct('l', syms[j], 'r', syms[j + 1])))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("pair_cnt"))
      .orderBy(col("pair_cnt").desc, col("l"), col("r"))
}
