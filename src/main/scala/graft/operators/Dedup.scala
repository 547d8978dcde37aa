package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication at pipeline scale.
  *
  * Scale posture: exact/normalized dedup are single hash-shuffle
  * groupBys; MinHash-LSH replaces the O(n²) pairwise scan with a
  * band-bucket equi-join (linear-ish in corpus size, bounded per-bucket
  * fan-out); exact Jaccard verification runs only on LSH candidates.
  *
  * Oracle determinism: shingle hashing uses salted md5 (identical hex in
  * every engine) and signatures are lexicographic mins of hex strings —
  * no engine-specific hash functions anywhere.
  */
object Dedup {

  /** Whitespace-normalized lowercase text (the canonical form). */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Word array (trim + split on whitespace runs). */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word-3-gram shingles of the named string column.
    *
    * Built by zipping the word array against its own 1- and 2-shifted
    * slices: the split() runs once per document when the zipped array is
    * constructed. (A sequence+element_at lambda would re-evaluate the
    * inlined split per element — quadratic per doc after Catalyst's
    * projection collapse.) */
  def shingles(textCol: String): Column = ngrams(textCol, 3)

  /** Word n-grams of the named string column, zip-of-slices shape (see
    * shingles). `distinct=false` keeps multiplicity (frequency mining —
    * PMI, contamination weighting); `true` is the dedup/set semantics. */
  def ngrams(textCol: String, n: Int, distinct: Boolean = true): Column = {
    val w = s"split(trim($textCol), '\\\\s+')"
    val sz = s"size($w) - ${n - 1}"
    val slices = (1 to n).map(i => s"slice($w, $i, $sz)").mkString(", ")
    val fields = (0 until n).map(i => s"x.`$i`").mkString(", ")
    val grams = expr(
      s"CASE WHEN size($w) >= $n THEN " +
      s"transform(arrays_zip($slices), x -> concat_ws(' ', $fields)) " +
      "ELSE array() END")
    if (distinct) array_distinct(grams) else grams
  }

  /** Exact dedup: keep min id per key; emits (key survivors with copy
    * counts). One hash-shuffle; map-side partial agg applies. */
  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature: `numHashes` salted-md5 min COLUMNS
    * (`_m0.._mk`) over one shingle-row pass.
    *
    * Deliberately row-oriented rather than nested array transforms:
    * Catalyst's projection collapse would otherwise inline the shingle
    * expression into every per-hash lambda (quadratic recompute). The
    * numHashes signatures are NOT a ×numHashes explode — they are
    * numHashes min() columns over ONE shingle-row pass, so the (string)
    * min aggregate sees |shingles| rows, the map-side combine applies
    * per column, and the shuffle carries one row per document. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame = {
    // spread docs across the cluster BEFORE the shingle fan-out — a
    // narrow scan of few files would otherwise run the whole
    // shingle-explode in a handful of tasks
    val fanout = docs.sparkSession.sparkContext.defaultParallelism
    val shingleRows = docs.repartition(fanout, col(idCol))
      .select(col(idCol), explode(shingles(textCol)).as("_s"))
    val minCols = (0 until numHashes).map { h =>
      min(md5(concat(lit(s"$h|"), col("_s")))).as(s"_m$h")
    }
    shingleRows.groupBy(col(idCol))
      .agg(minCols.head, minCols.drop(1): _*)
  }

  /** (doc id, band key) rows from a signature frame — band key = band id
    * ":" concat of the band's `rows` signatures, byte-identical to
    * hashing per band in the oracle's formulation. */
  private def bandedKeys(mins: DataFrame, idCol: String, bands: Int,
      rows: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      concat(lit(s"$b:") +: (b * rows until (b + 1) * rows)
        .map(h => col(s"_m$h")): _*)
    }
    mins.select(col(idCol), explode(array(bandKeys: _*)).as("_key"))
  }

  /** In-bucket pair explode over a sorted `_ids` array column. */
  private val bucketPairsExpr: String =
    "flatten(transform(sequence(0, size(_ids) - 2), i -> " +
    "transform(slice(_ids, i + 2, size(_ids) - i - 1), " +
    "y -> struct(_ids[i] AS id_a, y AS id_b))))" // [] is 0-based, slice is 1-based

  /** LSH candidate pairs: MinHash signatures → band keys → bounded
    * bucket pair explode (no self-join anywhere). */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rows: Int, maxBucket: Int = 64): DataFrame = {
    val mins = minhashSignatures(docs, idCol, textCol, bands * rows)
    val banded = bandedKeys(mins, idCol, bands, rows)
    // Pair generation WITHOUT a self-join: group band keys into bounded
    // id arrays and explode each bucket's pairs directly. A self-join on
    // the band key would evaluate the whole shingle/hash pipeline twice
    // (no exchange reuse once AQE broadcasts one side — and broadcasting
    // the banded corpus is itself impossible at 100 TB); this shape is
    // one pass, one shuffle row per (doc, band).
    //
    // Skew guard: a band key shared by B docs fans out to B(B-1)/2
    // candidate pairs, so one degenerate bucket (boilerplate text, empty
    // docs) goes quadratic at corpus scale. Buckets above maxBucket are
    // dropped entirely — at that size the shared band stops being
    // near-duplicate evidence (standard LSH practice) — which also
    // bounds the explode fan-out at maxBucket²/2 per bucket.
    banded.groupBy(col("_key"))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucket))
      .select(explode(expr(bucketPairsExpr)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** Banding-parameter SWEEP: candidate pairs for several (bands, rows)
    * configurations over the SAME signature columns in one pass — the
    * tuning curve behind LSH's S-curve trade (more bands → higher
    * recall, lower precision). One shingle/minhash pass computes the
    * max-needed signature count (localCheckpointed: the per-config
    * band keys are projections of it, never re-hashes); every config's
    * keys ride ONE tagged explode into one (cfg, key) grouping — the
    * sweep costs one extra shuffle over a single config, not
    * |configs| pipelines. Returns (cfg, id_a, id_b) distinct pairs
    * with the same per-bucket cap/pair-explode guards as
    * lshCandidates. */
  def lshCandidatesSweep(docs: DataFrame, idCol: String, textCol: String,
      configs: Seq[(Int, Int)], maxBucket: Int = 64): DataFrame = {
    val numHashes = configs.map { case (b, r) => b * r }.max
    val mins = minhashSignatures(docs, idCol, textCol, numHashes).localCheckpoint()
    val allKeys = configs.flatMap { case (bds, r) =>
      (0 until bds).map { b =>
        struct(lit(s"${bds}x$r").as("cfg"),
          concat(lit(s"$b:") +: (b * r until (b + 1) * r)
            .map(h => col(s"_m$h")): _*).as("key"))
      }
    }
    mins.select(col(idCol), explode(array(allKeys: _*)).as("ck"))
      .select(col("ck.cfg").as("cfg"), col("ck.key").as("_key"), col(idCol))
      .groupBy(col("cfg"), col("_key"))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucket))
      .select(col("cfg"), explode(expr(bucketPairsExpr)).as("p"))
      .select(col("cfg"), col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** Incremental LSH dedup: candidate pairs for a NEW batch against an
    * already-indexed corpus — the nightly-crawl shape. One signature
    * pass covers both sides here (in production the index side's band
    * keys are precomputed and stored; re-deriving them changes cost,
    * not semantics), but pair GENERATION is what the incremental
    * contract bounds: only buckets containing at least one new doc
    * explode, and only pairs touching a new doc emit — the index is
    * NEVER re-paired against itself, so a day's increment costs
    * O(|new|·bucket) instead of re-running corpus-wide dedup.
    *
    * `newPred(v)` renders a SQL predicate deciding whether doc id `v`
    * belongs to the new batch (id-derivable in the fixture; a real
    * pipeline would carry an is_new column into the bucket structs).
    */
  def lshCandidatesIncremental(docs: DataFrame, idCol: String,
      textCol: String, bands: Int, rows: Int, newPred: String => String,
      maxBucket: Int = 64): DataFrame = {
    val mins = minhashSignatures(docs, idCol, textCol, bands * rows)
    bandedKeys(mins, idCol, bands, rows)
      .groupBy(col("_key"))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucket))
      // pure-index buckets never explode: the increment's cost bound
      .filter(expr(s"exists(_ids, x -> ${newPred("x")})"))
      .select(explode(expr(bucketPairsExpr)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .filter(expr(newPred("id_a")) || expr(newPred("id_b")))
      .distinct()
  }

  /** Exact word-3-gram Jaccard for candidate pairs (array intersect /
    * union on the bounded candidate set, not the full corpus). */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val sets = docs.select(col(idCol).as("_id"), shingles(textCol).as("_set"))
    candidates
      .join(sets.toDF("_id", "set_a"), col("id_a") === col("_id")).drop("_id")
      .join(sets.toDF("_id", "set_b"), col("id_b") === col("_id")).drop("_id")
      // |A∪B| = |A|+|B|-|A∩B| (exact on distinct arrays) — half the
      // per-pair set-op cost vs materializing the union (r15)
      .withColumn("_inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("_inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the AllPairs/
    * PPJoin family) — the completeness guarantee the LSH path cannot
    * give: every pair with shingle-set Jaccard ≥ t IS in the output,
    * zero false negatives (MinHash banding misses pairs with
    * probability (1-t^r)^b; an eval-dedup or legal-compliance pass
    * cannot accept that). The classic prefix theorem: under ONE global
    * total token order, two sets with overlap ≥ o share their globally
    * smallest common token inside BOTH (n-o+1)-prefixes — were it
    * deeper in either set, fewer than o tokens could follow it. With
    * Jaccard ≥ t, inter ≥ ⌈t·n⌉ per side (union ≥ n), so prefix length
    * n - ⌈t·n⌉ + 1 suffices. Ordering rarest-first (global doc-freq
    * asc, token asc) makes prefixes maximally selective: common tokens
    * fall OUT of prefixes, so candidate buckets are small by
    * construction — the skew guard is inherent, no cap needed (and none
    * allowed: completeness is the contract). Measured at sf0.01: 977
    * candidates from 124,750 possible pairs (127×), max bucket 7.
    *
    * Scale shape: one (doc, shingle) explode; token doc-freq via a
    * count-over-token window on the SAME frame (no freq join-back);
    * per-doc rank window bounded by doc length; pair generation is the
    * d3 one-pass move — groupBy(token) + in-row pair explode of the
    * sorted bucket, never a self-join of the pipeline; exact verify
    * joins ride the bounded candidate set. Integer bp threshold via
    * cross-multiplication — no division before the filter. */
  def prefixSimJoin(docs: DataFrame, idCol: String, textCol: String,
      tBp: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingle-set table feeds three consumers (token frame + both
    // verify joins); without pinning, each re-derives the split+3-gram
    // arrays from the scan — measured 2.5 s/evaluation at sf0.1 (the
    // s12 tradeoff call: checkpoint when the re-derived prefix is the
    // expensive part, unlike s11's cheap scan lineage)
    // spread before the shingle build (r15, guide §2.5): the split +
    // 3-gram + distinct arrays are computed INTO the checkpoint, and a
    // single-row-group scan ran that whole pass in one task (A/B:
    // 4.97 -> 4.55 s solo at sf0.1)
    val sets = Relational.spread(docs, col(idCol))
      .select(col(idCol).as("_id"), shingles(textCol).as("tk"))
      .filter(size(col("tk")) > 0)
      .withColumn("n", size(col("tk")).cast("long"))
      .localCheckpoint()
    // r15 probe note: a vocab-grain dfreq aggregate broadcast back
    // (removing this exchange+sort by t) measured SLOWER at sf0.1
    // (0.57-0.71 s vs 0.49 s for the window form — the added agg pass +
    // join probe outweighs the saved sort at this grain), so the
    // count-over-token window stays.
    val rk = sets.select(col("_id"), col("n"), explode(col("tk")).as("t"))
      .withColumn("dfreq", count(lit(1)).over(Window.partitionBy(col("t"))))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("_id")).orderBy(col("dfreq"), col("t"))).cast("long"))
    val pref = rk.filter(col("r") <= expr(s"n - ($tBp * n + 9999) div 10000 + 1"))
    // AllPairs LENGTH filter at pair generation: J ≥ t forces
    // inter ≥ t·max(n_a,n_b) and inter ≤ min, so min·10⁴ ≥ t·max or the
    // pair cannot qualify — 119k → 43k candidates at sf0.1, provably
    // no true pair dropped (completeness spec re-proves it)
    val pairs = pref.groupBy(col("t"))
      .agg(sort_array(collect_list(struct(col("_id").as("i"), col("n")))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(" +
        "slice(ids, i + 2, size(ids) - i - 1), " +
        "y -> struct(x.i AS id_a, x.n AS n_a, y.i AS id_b, y.n AS n_b))))"))
        .as("p"))
      .filter(expr(s"least(p.n_a, p.n_b) * 10000 >= $tBp * greatest(p.n_a, p.n_b)"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    // uni from the inclusion-exclusion identity |A∪B| = |A|+|B|-|A∩B|
    // (exact — tk is array_distinct by construction), not array_union:
    // the union materialized a second hash set per pair just to size it,
    // and the r15 probe measured the verify stage at 2× the cost of the
    // intersect-only form (d20 ~4.8 → ~3.7 s solo at sf0.1).
    pairs
      .join(sets.select(col("_id"), col("tk").as("tk_a"), col("n").as("na")),
        col("id_a") === col("_id")).drop("_id")
      .join(sets.select(col("_id"), col("tk").as("tk_b"), col("n").as("nb")),
        col("id_b") === col("_id")).drop("_id")
      .withColumn("inter", size(array_intersect(col("tk_a"), col("tk_b"))).cast("long"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * lit(10000L) >= lit(tBp) * col("uni"))
      .select(col("id_a"), col("id_b"), expr("inter * 10000 div uni").as("jac_bp"))
  }

  /** Asymmetric CONTAINMENT verification for candidate pairs — the
    * subset-duplication metric Jaccard structurally misses: a short doc
    * wholly quoted inside a long one has containment |A∩B|/min(|A|,|B|)
    * = 1.0 but Jaccard |A∩B|/|A∪B| ≈ |A|/|B| → 0, so a Jaccard-
    * thresholded dedup keeps both copies (CCNet/C4 filter this case
    * explicitly). Emits both metrics in integer basis points
    * (containment ≥ jaccard always — equality iff |A|=|B| sets) so the
    * asymmetric pairs are visible next to the symmetric ones. Same
    * scale shape as jaccardVerify: exact set arithmetic runs on the
    * bounded candidate set only, never the corpus cross product; both
    * sides of every candidate are banded docs, so shingle sets are
    * non-empty and the min() divisor is never zero. */
  def containmentVerify(candidates: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, minContainBp: Long): DataFrame = {
    val sets = docs.select(col(idCol).as("_id"), shingles(textCol).as("_set"))
    candidates
      .join(sets.toDF("_id", "set_a"), col("id_a") === col("_id")).drop("_id")
      .join(sets.toDF("_id", "set_b"), col("id_b") === col("_id")).drop("_id")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("n_a", size(col("set_a")).cast("long"))
      .withColumn("n_b", size(col("set_b")).cast("long"))
      .withColumn("cont_bp", expr("inter * 10000 div least(n_a, n_b)"))
      .withColumn("jac_bp", expr("inter * 10000 div (n_a + n_b - inter)"))
      .filter(col("cont_bp") >= minContainBp)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("cont_bp"), col("jac_bp"))
  }

  /** Exact SUBSTRING-level duplication report (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * public knowledge): the pass every document-granularity d-key
    * structurally misses. A 500-token doc sharing one verbatim
    * 50-token run with another (news-wire quote, boilerplate
    * paragraph) is invisible to set-similarity dedup — the run is a
    * tiny fraction of either doc's shingle set — but is exactly what
    * substring dedup removes from training data.
    *
    * Shape: each doc explodes into stride-`stride` windows of `w`
    * tokens; a window's md5 fingerprint seen in ≥2 DISTINCT docs marks
    * a duplicated span. Output: one row per doc — INCLUDING docs under
    * w tokens, which report (n_win=0, n_dup_win=0, dup_bp=0) rather
    * than vanishing (a per-doc quality report that silently drops rows
    * is a footgun for any downstream join — the round-8 what's-wrong
    * #3). Short docs ride the same single scan as a per-doc sentinel
    * "window" (fp = 's'||doc_id — 's' cannot collide with 32-char md5
    * hex, and per-doc uniqueness keeps nd=1 AND avoids the skew bomb a
    * shared short-doc key would make of the count-over-fp window at
    * 100 TB); sentinel rows are excluded from every count by the
    * length(fp)=32 test, so no join and no second scan is added.
    *
    * Stride contract: `stride = 1` gives the Lee-et-al GUARANTEE —
    * every verbatim cross-doc run of ≥ w tokens yields equal
    * fingerprints at every internal offset, alignment-free (it is the
    * hashing equivalent of their suffix-array pass). `stride > 1` is
    * the cheaper SAMPLED variant: two docs' windows only coincide when
    * their copies of a run start at equal positions mod stride, so it
    * detects long duplicated blocks probabilistically — a monitoring
    * grain, not a dedup guarantee. The d23 key runs stride 1.
    *
    * Scale: never doc×doc — ONE corpus scan, then three agg-row
    * exchanges: (fp, doc) partial agg (map-side combine shrinks the
    * shuffle to distinct fingerprints per doc), a count-over-fp window
    * on those aggregate rows (distinct-doc count per fingerprint with
    * no distinct aggregation and no join-back), and the per-doc
    * rollup. Window positions explode BEFORE the md5 projection —
    * a transform(sequence(...), i -> md5(...)) lambda would let
    * projection collapse inline the split() into itself and re-split
    * the doc once per window (the §6 trap); below a Generate the
    * tokenization provably runs once per doc. */
  def substringDupReport(docs: DataFrame, idCol: String, textCol: String,
      w: Int, stride: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread before the stride-window explode (r15, guide §2.5): the
    // per-window slice+md5 pass otherwise runs single-task on a
    // one-row-group scan
    val wins = Relational.spread(docs, col(idCol))
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(expr(s"CASE WHEN size(tk) >= $w " +
          s"THEN sequence(1, size(tk) - ${w - 1}, $stride) " +
          "ELSE array(0) END")).as("i")) // i=0: short-doc sentinel
      .select(col("doc_id"), expr(
        s"CASE WHEN i = 0 THEN concat('s', CAST(doc_id AS STRING)) " +
        s"ELSE md5(concat_ws(' ', slice(tk, i, $w))) END").as("fp"))
    val perFpDoc = wins.groupBy(col("fp"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val flagged = perFpDoc.withColumn("nd",
      count(lit(1)).over(Window.partitionBy(col("fp"))))
    flagged.groupBy(col("doc_id"))
      .agg(coalesce(sum(when(length(col("fp")) === 32, col("c"))), lit(0L))
          .as("n_win"),
        coalesce(sum(when(length(col("fp")) === 32 && col("nd") >= 2, col("c"))),
          lit(0L)).as("n_dup_win"))
      .withColumn("dup_bp",
        expr("CASE WHEN n_win = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_dup_win * 10000 div n_win END"))
  }

  /** Substring-dedup REMOVAL pass (Lee et al. 2021 completed — d23's
    * report says WHERE the duplicated spans are; this pass takes them
    * OUT, which is what the paper's pipeline actually ships): every
    * window fingerprint shared by ≥2 distinct docs keeps ONE canonical
    * copy — the min-doc_id holder keeps ALL its text untouched; every
    * other doc removes the tokens covered by its copies of the shared
    * window — and each doc's surviving tokens reassemble in position
    * order (t10's reassembly shape). Overlapping flagged windows union
    * their token ranges via the distinct (doc, position) set, so
    * adjacent stride-1 windows of one long shared run remove the run
    * once, not w times.
    *
    * Guarantee scope: keepers are chosen PER FINGERPRINT, so a
    * NON-OVERLAPPING shared run survives in exactly one doc (its
    * keeper). When two shared runs OVERLAP inside one doc with
    * DIFFERENT keepers, that doc can be keeper for one run while a
    * non-keeper removal of the other clips its copy — the clipped
    * run then survives nowhere intact (round-9 advisor example:
    * doc2 keeps run Y but loses part of it removing run X whose
    * keeper is doc1, while doc3's copy of Y is removed too). That is
    * the safe failure direction for training-data dedup — at most
    * OVER-removal of duplicated content, never under-removal, and
    * never removal of non-duplicated tokens (every removed position
    * is covered by some cross-doc-shared window by construction).
    * Resolving keepers on unioned ranges would need an extra
    * position-level keeper join per fp-overlap component for a case
    * measured at zero occurrences on the synthetic corpus.
    *
    * Stride contract: removal REQUIRES stride = 1 (enforced). d23's
    * report documents stride > 1 as a sampled MONITORING grain —
    * legitimate for reporting, but a removal pass under sampling
    * silently under-removes (two docs' copies of a run only match
    * when aligned mod stride), violating the guarantee above, so it
    * is rejected here rather than documented.
    *
    * Output: one row per doc — n_tokens, n_removed, clean_len,
    * clean_hash (md5 of the reassembled text; '' when everything was
    * removed — the exact-duplicate-of-keeper case). Docs under w
    * tokens never match a window and pass through whole.
    *
    * Scale shape: never doc×doc. Scan 1 explodes windows into the
    * (fp, doc) partial agg carrying each doc's position list (bounded:
    * positions of ONE 16-token string within one doc); flagging is
    * d23's count-over-fp window on aggregate rows plus min-doc_id for
    * the keeper; only FLAGGED (fp, doc) rows — dup-content-sized, not
    * corpus-sized — explode into removed (doc, position) pairs. Scan 2
    * posexplodes tokens for the position-level anti join (one
    * (doc, pos) shuffle — the same per-token cost class as the d23
    * fingerprint shuffle) and the per-doc reassembly; scan 3 is the
    * column-pruned docs side restoring rows for docs with nothing
    * removed or everything removed (t10's left-join pattern — branch
    * reuse doesn't exist, and three scans beat checkpointing the
    * corpus-sized token table). */
  def substringDedupApply(docs: DataFrame, idCol: String, textCol: String,
      w: Int, stride: Int): DataFrame = {
    require(stride == 1,
      s"substringDedupApply requires stride=1 (got $stride): sampled " +
      "windows silently under-remove — use substringDupReport for the " +
      "stride>1 monitoring grain")
    import org.apache.spark.sql.expressions.Window
    // spread before tokenize+explode (r15, guide §2.5) — all three
    // consumers re-derive toks, each otherwise single-task on a
    // one-row-group scan
    def toks = Relational.spread(docs, col(idCol))
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("tk"))
    val wins = toks
      .filter(size(col("tk")) >= w)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(1, size(tk) - ${w - 1}, $stride)")).as("i"))
      .select(col("doc_id"), col("i"),
        expr(s"md5(concat_ws(' ', slice(tk, i, $w)))").as("fp"))
    val perFpDoc = wins.groupBy(col("fp"), col("doc_id"))
      .agg(collect_list(col("i")).as("ps"))
    val wFp = Window.partitionBy(col("fp"))
    val flagged = perFpDoc
      .withColumn("nd", count(lit(1)).over(wFp))
      .withColumn("keeper", min(col("doc_id")).over(wFp))
      .filter(col("nd") >= 2 && col("doc_id") =!= col("keeper"))
    val rmPos = flagged
      .select(col("doc_id"), explode(col("ps")).as("i"))
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${w - 1})")).as("p"))
      .distinct()
    val tokRows = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    val clean = tokRows.join(rmPos, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(p, tok))), " +
          "x -> x.tok), ' ')").as("clean"))
    toks.select(col("doc_id"), size(col("tk")).cast("int").as("n_tokens"))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0))).cast("int").as("n_removed"),
        length(coalesce(col("clean"), lit(""))).cast("int").as("clean_len"),
        md5(coalesce(col("clean"), lit(""))).as("clean_hash"))
  }

  /** 16-bit SimHash over distinct tokens, md5-nibble bit source.
    *
    * Row-oriented for scale: tokens explode to rows, md5 runs once per
    * token, and the 16 bit-balances are plain conditional sums — fully
    * codegen'd, map-side partial aggregation, 16 longs per doc on the
    * shuffle. bit b of md5(token): nibble = hex digit at 1 + b/4,
    * bit = (nibble div 2^(3-b%4)) % 2; out bit set iff balance > 0. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokenHashes = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol),
        explode(expr(s"array_distinct(split(trim($textCol), '\\\\s+'))")).as("_t"))
      .select(col(idCol), md5(col("_t")).as("_m"))
    val balances = (0 until 16).map { b =>
      val pow = Seq(8, 4, 2, 1)(b % 4)
      sum(expr(
        s"CASE WHEN ((instr('0123456789abcdef', substr(_m, ${1 + b / 4}, 1)) - 1) " +
        s"div $pow) % 2 = 1 THEN 1 ELSE -1 END")).as(s"_b$b")
    }
    val bits = (0 until 16).map(b => s"CASE WHEN _b$b > 0 THEN ${1 << (15 - b)} ELSE 0 END")
    tokenHashes.groupBy(col(idCol))
      .agg(balances.head, balances.tail: _*)
      .select(col(idCol), expr(bits.mkString("cast(", " + ", " as int)")).as("simhash"))
  }

  /** PERSISTED serving index for the streaming ingest near-dup gate
    * (s24's build-once contract applied to LSH dedup): one row per
    * indexed doc carrying its LSH band keys AND its shingle set, so
    * serving needs neither the index corpus text nor a re-hash. The
    * bucket cap is an INDEX property: band keys shared by > maxBucket
    * indexed docs are dropped AT BUILD TIME (at that occupancy the
    * shared band stops being near-dup evidence — d18's contract), so a
    * degenerate bucket can never explode a serve-time join: per-bucket
    * fan-out is ≤ maxBucket·|batch∩bucket|, linear in the batch. */
  def neardupServingIndex(indexDocs: DataFrame, idCol: String,
      textCol: String, bands: Int, rows: Int, maxBucket: Int = 64): DataFrame = {
    val mins = minhashSignatures(indexDocs, idCol, textCol, bands * rows)
    val kept = bandedKeys(mins, idCol, bands, rows)
      .groupBy(col("_key"))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")) <= maxBucket)
      .select(col("_key"), explode(col("_ids")).as(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_key"))).as("band_keys"))
    indexDocs.select(col(idCol), sort_array(shingles(textCol)).as("shingles"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("band_keys"),
          array().cast("array<string>")).as("band_keys"),
        col("shingles"))
  }

  /** Streaming-ingest near-dup gate: per BATCH-doc verdict against the
    * persisted index — band-key equi-join surfaces candidates, exact
    * shingle Jaccard ≥ threshold verifies, and every batch doc reports
    * (n_candidates, n_dups, min_dup_id, is_dup) even with zero matches.
    * Pure stream-static joins + per-row map work, so the same code runs
    * unchanged inside foreachBatch (StreamingSpec parity face). Batch
    * docs with no shingles produce no band keys and report clean.
    * Empty-shingle candidates cannot arise (no keys → no candidates),
    * so the Jaccard division is never 0/0 (m39 ANSI class). */
  def neardupIngestGate(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String, bands: Int, rows: Int, threshold: Double): DataFrame = {
    val bm = minhashSignatures(batch, idCol, textCol, bands * rows)
    val bkeys = bandedKeys(bm, idCol, bands, rows)
    val ikeys = index.select(col(idCol).as("idx_id"),
      explode(col("band_keys")).as("_key"))
    val cand = bkeys.join(ikeys, Seq("_key"))
      .select(col(idCol), col("idx_id")).distinct()
      .localCheckpoint()
    val bsh = batch.select(col(idCol), shingles(textCol).as("b_sh"))
    val ish = index.select(col(idCol).as("idx_id"), col("shingles").as("i_sh"))
    val ver = cand.join(bsh, Seq(idCol)).join(ish, Seq("idx_id"))
      .withColumn("_inter", size(array_intersect(col("b_sh"), col("i_sh"))))
      // inclusion-exclusion union size — see prefixSimJoin (r15)
      .withColumn("jaccard", col("_inter").cast("double") /
        (size(col("b_sh")) + size(col("i_sh")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dups"), min(col("idx_id")).as("min_dup"))
    val candAgg = cand.groupBy(col(idCol)).agg(count(lit(1)).as("n_candidates"))
    batch.select(col(idCol))
      .join(candAgg, Seq(idCol), "left")
      .join(ver, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("min_dup"), lit(-1L)).as("min_dup_id"))
      .withColumn("is_dup",
        when(col("n_dups") > 0, 1).otherwise(0).cast("int"))
  }

  /** In-bucket pair explode over a sorted (_id, _lo, _hi) struct array
    * (sort_array orders by _id first, so id_a < id_b by construction). */
  private val hammingPairsExpr: String =
    "flatten(transform(sequence(0, size(_g) - 2), i -> " +
    "transform(slice(_g, i + 2, size(_g) - i - 1), y -> " +
    "struct(_g[i]._id AS id_a, y._id AS id_b, _g[i]._lo AS lo_a, " +
    "_g[i]._hi AS hi_a, y._lo AS lo_b, y._hi AS hi_b))))"

  /** Hamming-banded near-dup verdicts over 64-bit perceptual signatures
    * (two 32-bit words — the shift-63 BIGINT convention), shared by the
    * image (d25/aHash) and audio (d26/energy-contour) dedup passes:
    * signatures band into 4×16-bit words, candidates share a band
    * (hamming ≤ 3 with 4 bands ⇒ ≥ 1 band identical — pigeonhole, so
    * banding loses nothing up to radius 3; callers use maxHamming ≤ 2
    * where ≥ 2 bands agree), exact hamming verifies via bit_count(xor).
    *
    * Skew guard (the lshCandidates/subSplitBlocks precedent ported): a
    * band VALUE shared by B docs would fan out to B²/2 candidate pairs —
    * a corpus of near-constant images (all-white pages → identical aHash
    * words) makes one band hot and quadratic. Bucket populations are
    * therefore censused first — as two stacked window counts riding the
    * SAME hashpartitioning(_b,_v) exchange the bucket groupBy needs
    * (clustering on a key subset satisfies the finer window), so the
    * guard costs in-partition passes, not shuffles — and an
    * over-`maxBucket` bucket SUB-SPLITS by
    * the signature's OPPOSITE 16-bit word ((b+2)%4) instead of dropping;
    * a sub-bucket still over cap (> maxBucket docs sharing 32 sig bits)
    * is dropped from that band — at that density the mass is
    * exact-signature duplication, which belongs to a cheap groupBy on
    * (lo, hi) (the x7/d1 exact pass), not to pair generation. Recall
    * consequence at the radius: a pair is lost only when EVERY band the
    * two signatures agree on was over cap AND its opposite word differs
    * between them — e.g. at maxHamming ≤ 2 with both errors in words
    * 2,3, buckets 0 and 1 refine by words 2 and 3 and both mismatch;
    * under-cap buckets keep the full pigeonhole guarantee.
    *
    * Pair generation is collect-and-explode (no self-join — the
    * lshCandidates shape): every collected bucket is ≤ maxBucket
    * structs, so per-row memory and fan-out are bounded. Sig words ride
    * the bucket so verification needs no corpus re-join; never
    * all-pairs. Input must be (id, lo, hi) only — callers filter valid
    * and checkpoint. Output: per-id verdict (idCol, n_dups, keeper,
    * is_dup) over ALL input ids. */
  def hammingNearDup(sigs: DataFrame, idCol: String, loCol: String,
      hiCol: String, maxHamming: Int, maxBucket: Int = 256): DataFrame = {
    val bands = sigs.select(col(idCol).as("_id"), col(loCol).as("_lo"),
        col(hiCol).as("_hi"),
        explode(array(
          struct(lit(0).as("b"), expr(s"$loCol % 65536").as("v")),
          struct(lit(1).as("b"), expr(s"$loCol div 65536").as("v")),
          struct(lit(2).as("b"), expr(s"$hiCol % 65536").as("v")),
          struct(lit(3).as("b"), expr(s"$hiCol div 65536").as("v"))))
          .as("band"))
      .select(col("_id"), col("_lo"), col("_hi"),
        col("band.b").as("_b"), col("band.v").as("_v"))
    // Both census levels ride ONE exchange: hashpartitioning(_b,_v)
    // satisfies the (_b,_v) window, the finer (_b,_v,_sub) window
    // (clustering on a subset of the keys), AND the bucket groupBy —
    // so the cap machinery adds two in-partition passes, zero extra
    // shuffles and zero driver actions on the common path.
    import org.apache.spark.sql.expressions.Window
    val w0 = Window.partitionBy(col("_b"), col("_v"))
    val w1 = Window.partitionBy(col("_b"), col("_v"), col("_sub"))
    val keyed = bands
      .withColumn("_n0", count(lit(1)).over(w0))
      .withColumn("_sub",
        when(col("_n0") <= maxBucket, lit(-1L))
          .otherwise( // opposite word of band b: (b+2) % 4
            when(col("_b") === 0, expr("_hi % 65536"))
              .when(col("_b") === 1, expr("_hi div 65536"))
              .when(col("_b") === 2, expr("_lo % 65536"))
              .otherwise(expr("_lo div 65536"))))
      .withColumn("_n1",
        when(col("_n0") <= maxBucket, lit(0L))
          .otherwise(count(lit(1)).over(w1)))
      .filter(col("_n0") <= maxBucket || col("_n1") <= maxBucket)
    val pairs = keyed
      .groupBy(col("_b"), col("_v"), col("_sub"))
      .agg(sort_array(collect_list(struct(col("_id"), col("_lo"),
        col("_hi")))).as("_g"))
      .filter(size(col("_g")) >= 2)
      .select(explode(expr(hammingPairsExpr)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.lo_a").as("lo_a"), col("p.hi_a").as("hi_a"),
        col("p.lo_b").as("lo_b"), col("p.hi_b").as("hi_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(expr("lo_a ^ lo_b")) + bit_count(expr("hi_a ^ hi_b")))
      .filter(col("hamming") <= maxHamming)
    val neigh = pairs.select(col("id_a").as(idCol), col("id_b").as("n_id"))
      .unionByName(pairs.select(col("id_b").as(idCol), col("id_a").as("n_id")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dups"), min(col("n_id")).as("min_n"))
    sigs.select(col(idCol)).join(neigh, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        least(coalesce(col("min_n"), col(idCol)), col(idCol)).as("keeper"))
      .withColumn("is_dup",
        when(col("keeper") =!= col(idCol), 1).otherwise(0))
  }
}
