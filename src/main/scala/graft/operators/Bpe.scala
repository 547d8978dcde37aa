package graft.operators

import org.apache.spark.sql.DataFrame
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
  * executors' worth). The argmax pair is a 1-row aggregate broadcast
  * back (never collected to the driver); iterations are
  * driver-composed like s10's PageRank with localCheckpoint breaking
  * lineage between rounds (the checkpointed frame is vocab-sized).
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
  * Output: one row per merge iteration — iter, left_sym, right_sym,
  * merged, pair_cnt (corpus occurrences of the pair at merge time),
  * syms_after (total corpus symbol count after applying the merge —
  * the compression curve a tokenizer trainer actually watches). */
object Bpe {

  def learnMerges(docs: DataFrame, textCol: String, n: Int): DataFrame =
    run(docs, textCol, n)._2

  /** Final per-word segmentation after `n` learned merges:
    * (w, cnt, syms) — the apply half (t22) joins this vocab-sized
    * frame back to the exploded corpus, so the expensive merge loop
    * runs once on |V| rows and never touches corpus-sized data. */
  def segmentVocab(docs: DataFrame, textCol: String, n: Int): DataFrame =
    run(docs, textCol, n)._1

  /** BATCHED BPE learning at production merge counts (t21 proves the
    * algorithm at 3 merges with one driver round each; a 32k-merge
    * production vocab cannot afford one driver composition per merge).
    * Per driver round the top-`candCap` pairs are scanned IN RANK
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
    *
    * HYBRID SCHEDULE REJECTED (round 13, SURVEY.md, measured over
    * learnMergesScheduled): the suggested decay toward sequential at the
    * same 8-round budget (16,16,16,16,8,4,4,2) is strictly WORSE here —
    * it learns only 66 merges in the 8 rounds (the late small-batch
    * rounds waste the compositions the big batches exist to amortize),
    * rank fidelity does NOT improve (first divergence still position 3;
    * Jaccard 48% vs flat's 54% over the common prefix), and compression
    * after the budget degrades (46 496 vs 33 283 symbols). Root cause is
    * the paragraph above: divergence starts at rank 3 — in the HEAD,
    * where every schedule still batches — because counts are near-tied
    * from the start on this corpus, so no tail-sequencing can recover
    * order fidelity. A true sequential tail at the 82-merge point costs
    * one driver round per merge and blows the ≤8-round budget by
    * construction. Flat batchMax stays the operating point.
    *
    * Scale shape unchanged from learnMerges: one corpus scan, then
    * |V|-row rounds; the selection fold runs on ONE aggregate row of
    * ≤candCap candidate structs (never a driver collect); driver
    * compositions drop from `merges` to `rounds` — 16× fewer at
    * batchMax=16. Output: (round, rnk, left_sym, right_sym, merged,
    * pair_cnt, syms_after) — global merge order is (round, rnk). */
  def learnMergesBatched(docs: DataFrame, textCol: String, rounds: Int,
      batchMax: Int, candCap: Int = 256): DataFrame =
    learnMergesScheduled(docs, textCol, Seq.fill(rounds)(batchMax), candCap)

  /** Schedule-generalized batched learning: round i accepts up to
    * schedule(i) conflict-free pairs (same selection fold, same
    * disjointness proof). A DECAYING schedule (e.g. 16,16,16,16,8,4,4,2)
    * is the hybrid the round-12 pricing suggested — big batches while
    * pair counts are separated, shrinking toward sequential as the
    * near-tied tail approaches — at the SAME driver-round budget.
    * Measured (round 13, SURVEY.md): the decay does NOT close
    * the gap on THIS corpus — see the scaladoc numbers below. */
  def learnMergesScheduled(docs: DataFrame, textCol: String,
      schedule: Seq[Int], candCap: Int = 256): DataFrame = {
    require(schedule.nonEmpty && schedule.forall(_ >= 1) &&
      candCap >= schedule.max)
    val rounds = schedule.length
    var segs = vocab(docs, textCol).localCheckpoint()
    var outs = Seq.empty[DataFrame]
    var rnd = 0
    var exhausted = false
    while (rnd < rounds && !exhausted) {
      rnd += 1
      val batchMax = schedule(rnd - 1)
      val cands = pairCounts(segs).limit(candCap)
      val picks = cands
        .agg(expr("array_sort(collect_list(" +
          "struct(-pair_cnt AS nc, l AS l, r AS r, pair_cnt AS c)))").as("cs"))
        .select(expr(
          s"""aggregate(cs,
             |  named_struct('used', CAST(array() AS ARRAY<STRING>),
             |    'picks', CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING, c: BIGINT>>)),
             |  (acc, x) -> IF(size(acc.picks) < $batchMax
             |      AND NOT arrays_overlap(array(x.l, x.r, concat(x.l, x.r)), acc.used),
             |    named_struct(
             |      'used', concat(acc.used, array(x.l, x.r, concat(x.l, x.r))),
             |      'picks', concat(acc.picks,
             |        array(named_struct('l', x.l, 'r', x.r, 'c', x.c)))),
             |    acc)).picks""".stripMargin).as("picks"))
        .localCheckpoint()
      // exhaustion probe on the 1-row checkpointed frame (d9 class)
      if (picks.filter(size(col("picks")) > 0).isEmpty) { exhausted = true }
      else {
        segs = segs.crossJoin(broadcast(picks))
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
        // cheaper than an eager materialization job per round (each
        // picks frame in the lineage is itself checkpointed, bounding
        // plan depth); halves the per-round driver job count the
        // r15 verdict flagged as t27's remaining cost.
        if (rnd % 2 == 0 || rnd == rounds) segs = segs.localCheckpoint()
        val after = segs.agg(
          sum(col("cnt") * size(col("syms"))).as("syms_after"))
        outs = outs :+ picks.crossJoin(broadcast(after))
          .select(lit(rnd).as("round"),
            posexplode(col("picks")).as(Seq("idx", "p")), col("syms_after"))
          .select(col("round"), (col("idx") + 1).cast("int").as("rnk"),
            col("p.l").as("left_sym"), col("p.r").as("right_sym"),
            concat(col("p.l"), col("p.r")).as("merged"),
            col("p.c").as("pair_cnt"), col("syms_after"))
      }
    }
    if (outs.isEmpty)
      docs.sparkSession.emptyDataFrame
        .withColumn("round", lit(0)).withColumn("rnk", lit(0))
        .withColumn("left_sym", lit("")).withColumn("right_sym", lit(""))
        .withColumn("merged", lit(""))
        .withColumn("pair_cnt", lit(0L)).withColumn("syms_after", lit(0L))
    else outs.reduce(_ unionByName _).orderBy(col("round"), col("rnk"))
  }

  /** Word counts (w, cnt) over the whitespace split, each word's
    * characters as its starting segmentation `syms` — the frame both
    * learners fold merges into. */
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

  private def run(docs: DataFrame, textCol: String, n: Int)
      : (DataFrame, DataFrame) = {
    require(n >= 1, s"need at least one merge iteration (got $n)")
    var segs = vocab(docs, textCol).localCheckpoint()
    var outs = Seq.empty[DataFrame]
    var it = 0
    var exhausted = false
    while (it < n && !exhausted) {
      it += 1
      val best = pairCounts(segs).limit(1)
        .localCheckpoint()
      // degenerate corpus (every word already one symbol, or n exceeds
      // the available merges): best is EMPTY and crossJoin(broadcast)
      // would silently empty segs and every later iteration — stop
      // instead, matching the oracle's recursive walk which keeps
      // single-symbol words. 1-row probe on a checkpointed frame (the
      // d9 convergence-probe pattern), never a label collect.
      if (best.isEmpty) { exhausted = true }
      else {
      segs = segs.crossJoin(broadcast(best))
        .withColumn("syms", expr(
          "aggregate(syms, slice(syms, 1, 0), (acc, x) -> " +
          "IF(size(acc) > 0 AND element_at(acc, -1) = l AND x = r, " +
          "concat(slice(acc, 1, size(acc) - 1), array(concat(l, r))), " +
          "concat(acc, array(x))))"))
        .drop("l", "r", "pair_cnt")
        .localCheckpoint()
      val after = segs.agg(
        sum(col("cnt") * size(col("syms"))).as("syms_after"))
      outs = outs :+ best.crossJoin(broadcast(after))
        .select(lit(it).as("iter"), col("l").as("left_sym"),
          col("r").as("right_sym"), concat(col("l"), col("r")).as("merged"),
          col("pair_cnt"), col("syms_after"))
      }
    }
    val merges =
      if (outs.isEmpty)
        docs.sparkSession.emptyDataFrame
          .withColumn("iter", lit(0))
          .withColumn("left_sym", lit("")).withColumn("right_sym", lit(""))
          .withColumn("merged", lit(""))
          .withColumn("pair_cnt", lit(0L)).withColumn("syms_after", lit(0L))
          .limit(0)
      else outs.reduce(_ unionByName _).orderBy(col("iter"))
    (segs, merges)
  }
}
