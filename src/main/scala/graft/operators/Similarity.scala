package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.Relational

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Scale posture: the query set is the small side and is broadcast; the
  * corpus streams. Brute force is the correctness baseline (still a
  * broadcast-nested-loop, no corpus shuffle); sign-LSH bucketing is the
  * scale path — bucket equi-join bounds each query's candidate set so
  * compared-pairs grow ~n/2^bits per query instead of n.
  */
object Similarity {

  /** Top-k cosine neighbors by brute force. Deterministic ranking:
    * round(cos,6) desc, then neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    rankTopK(scoredProbe(corpusSide(corpus, idCol, vecCol),
      querySide(queries, idCol, vecCol), Nil), k)

  /** Corpus rows as (neighbor_id, n_vec, extra…). */
  private def corpusSide(df: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec")) ++ extra: _*)

  /** Query rows as (query_id, q_vec, extra…). */
  private def querySide(df: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as("query_id"), col(vecCol).as("q_vec")) ++ extra: _*)

  /** The scored probe every search shares: corpus rows meet the
    * BROADCAST query rows on `on` (no key: every pair), self-pairs drop,
    * and each pair scores `sim` = round(cosine, 6). The corpus streams;
    * the query side is the small one. */
  private def scoredProbe(cand: DataFrame, q: DataFrame, on: Seq[String]): DataFrame =
    (if (on.isEmpty) cand.crossJoin(broadcast(q)) else cand.join(broadcast(q), on))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("n_vec")), 6))

  /** Reduce candidate (query_id, neighbor_id, sim, keep…) rows to ranked
    * top-k per query via the custom TopNPerKey operator: per-partition
    * partial heaps mean the shuffle carries at most queries*k rows —
    * windowing the full candidate set would shuffle ALL of them — and
    * the final heap numbers its survivors `rnk`. */
  private def rankTopK(sims: DataFrame, k: Int, keep: String*): DataFrame = {
    val cols = Seq("query_id", "neighbor_id", "sim") ++ keep
    Relational.topNPerGroupFast(sims.select(cols.map(col): _*), k, Seq("query_id"),
        Seq(("sim", false), ("neighbor_id", true)), rank = Some("rnk"))
      .select((col("query_id") +: col("rnk") +: cols.tail.map(col)): _*)
  }

  /** Sign-LSH bucket id: one bit per leading dimension's sign. A
    * dimension past the vector's length counts as positive
    * (try_element_at + coalesce) so short vectors bucket rather than
    * throw under ANSI — the DuckDB mirror is `coalesce(e[i+1], 1)`,
    * list_extract past the end being NULL there. */
  def signBucket(vecCol: String, bits: Int): Column = expr(
    s"aggregate(transform(sequence(0, ${bits - 1}), i -> " +
    s"CASE WHEN coalesce(try_element_at($vecCol, i + 1), CAST(1.0 AS FLOAT)) >= 0 " +
    s"THEN shiftleft(1, i) ELSE 0 END), " +
    "0, (acc, x) -> acc + x)")

  /** Hierarchical block refinement: assign every vector an effective
    * block key — the base block when its population is within `cap`,
    * else the base extended with `bits1` (then `bits2`) sign-LSH bits.
    * Only when even the finest sub-block exceeds `cap` (identical sign
    * patterns — e.g. exact-duplicate vectors, which sign bits cannot
    * separate) is the row dropped, the irreducible final guard. This is
    * the scale fix for cap-by-drop: at 100× corpus an over-cap block
    * sub-splits and still produces pairs/neighbors instead of silently
    * vanishing from the result.
    *
    * Scale shape: ONE corpus pass builds the finest census
    * (groupBy(base, fine-bucket) partial agg — the exchange carries one
    * narrow row per occupied sub-block, never vectors); the coarser
    * censuses re-aggregate that tiny result. All three join back as
    * broadcasts, so the refinement adds zero corpus shuffles. Level
    * choice is per-block deterministic (population is a function of the
    * key), so both engines agree exactly.
    *
    * Output: input columns + `_base` / `_lvl` / `_sub` (the composite
    * effective key — join on all three) + `_bn` (effective population;
    * singleton blocks are dropped since they cannot pair). */
  def subSplitBlocks(vectors: DataFrame, vecCol: String, blockCol: Column,
      cap: Int, bits1: Int, bits2: Int): DataFrame = {
    require(bits1 < bits2, "bits1 must refine coarser than bits2")
    val mask1 = (1 << bits1) - 1
    val base = vectors.withColumn("_base", blockCol)
      .withColumn("_sbf", signBucket(vecCol, bits2))
    val cf = base.groupBy(col("_base"), col("_sbf"))
      .agg(count(lit(1)).as("_nf"))
    val cm = cf.groupBy(col("_base"), col("_sbf").bitwiseAND(lit(mask1)).as("_sbm"))
      .agg(sum(col("_nf")).as("_nm"))
    val c0 = cm.groupBy(col("_base")).agg(sum(col("_nm")).as("_n0"))
    base
      .withColumn("_sbm", col("_sbf").bitwiseAND(lit(mask1)))
      .join(broadcast(c0), Seq("_base"))
      .join(broadcast(cm), Seq("_base", "_sbm"))
      .join(broadcast(cf), Seq("_base", "_sbf"))
      .withColumn("_lvl",
        when(col("_n0") <= cap, lit(0))
          .when(col("_nm") <= cap, lit(1))
          .when(col("_nf") <= cap, lit(2)))
      .withColumn("_sub",
        when(col("_lvl") === 0, lit(-1))
          .when(col("_lvl") === 1, col("_sbm"))
          .otherwise(col("_sbf")))
      .withColumn("_bn",
        when(col("_lvl") === 0, col("_n0"))
          .when(col("_lvl") === 1, col("_nm"))
          .otherwise(col("_nf")))
      .filter(col("_lvl").isNotNull && col("_bn") >= 2)
      .drop("_sbf", "_sbm", "_n0", "_nm", "_nf")
  }

  /** Top-k within the query's sign bucket (scale path). Queries whose
    * bucket holds no other vectors produce no rows. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, bits: Int, k: Int): DataFrame =
    lshSearch(corpus, queries, idCol, vecCol, bits, k, Nil)

  /** Sign-LSH search whose equi-key is the bucket plus `attrs`. */
  private def lshSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, bits: Int, k: Int, attrs: Seq[String]): DataFrame = {
    val key = signBucket(vecCol, bits).as("bucket") +: attrs.map(col)
    rankTopK(scoredProbe(corpusSide(corpus, idCol, vecCol, key: _*),
      querySide(queries, idCol, vecCol, key: _*), "bucket" +: attrs), k, attrs: _*)
  }

  /** Contrastive TRIPLET mining — the embedding-model training-data
    * op (anchor, hardest positive, hardest negative): for each anchor,
    * the most-similar same-label vector and the most-similar
    * DIFFERENT-label vector within its sign-LSH bucket, plus the
    * triplet margin sim_neg − sim_pos (margin ≥ 0 flags the violated
    * triplets a trainer actually wants — where an impostor outranks
    * the nearest true neighbor). Differs from lshTopKFiltered in kind:
    * the label predicate is an INEQUALITY for the negative side, so it
    * cannot ride the equi-key — both sides score off ONE bucket-bounded
    * broadcast probe and split by a pos/neg tag AFTER the hash join
    * (still never a corpus×corpus pair set). Top-1 per (anchor, side)
    * goes through TopNPerKey partial heaps — the shuffle carries ≤
    * 2 rows per anchor. Anchors missing either side in their bucket
    * drop (inner join — a triplet needs both legs; documented).
    * Margin is a subtraction of two round-6 doubles — IEEE subtraction
    * is correctly rounded, so cross-engine exact on identical inputs. */
  def tripletMine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, bits: Int): DataFrame = {
    val bucket = signBucket(vecCol, bits).as("bucket")
    val scored = scoredProbe(
        corpusSide(corpus, idCol, vecCol, col(labelCol).as("n_label"), bucket),
        querySide(queries, idCol, vecCol, col(labelCol).as("q_label"), bucket),
        Seq("bucket"))
      .withColumn("side",
        when(col("n_label") === col("q_label"), "pos").otherwise("neg"))
      .select(col("query_id"), col("side"), col("neighbor_id"), col("sim"))
    val top1 = Relational.topNPerGroupFast(scored, 1,
      Seq("query_id", "side"), Seq(("sim", false), ("neighbor_id", true)))
    val pos = top1.filter(col("side") === "pos").select(col("query_id"),
      col("neighbor_id").as("pos_id"), col("sim").as("sim_pos"))
    val neg = top1.filter(col("side") === "neg").select(col("query_id"),
      col("neighbor_id").as("neg_id"), col("sim").as("sim_neg"))
    pos.join(neg, Seq("query_id"))
      .withColumn("margin", round(col("sim_neg") - col("sim_pos"), 6))
  }

  /** FILTERED ANN — metadata-predicate vector search (the "only
    * neighbors with my tenant/language/license" production shape). The
    * filter attribute becomes part of the LSH equi-join key
    * (bucket, attr), so non-qualifying candidates are dropped by the
    * hash probe MAP-SIDE — they are never cosine-scored and never reach
    * the ranking. The alternative, POST-filtering an unfiltered top-k,
    * both wastes the score work and silently under-fills k (a query
    * whose true same-attr neighbors rank below k cross-attr ones
    * returns fewer than k rows); pre-filter keeps k genuine
    * within-predicate neighbors. Cost is the same one broadcast hash
    * join as lshTopK — the composite key only SHRINKS each probe's
    * candidate set (bucket∩attr instead of bucket). */
  def lshTopKFiltered(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, filterCol: String, bits: Int, k: Int): DataFrame =
    lshSearch(corpus, queries, idCol, vecCol, bits, k, Seq(filterCol))

  /** Nearest-centroid assignment: the centroids fold into ONE broadcast
    * array row and the argmax runs MAP-SIDE (array_max over
    * (sim, -cent_id) structs) — no corpus exchange, no ×|cells|
    * explode. Deterministic: round(cosine, 6), max sim, lowest
    * cent_id on ties (struct ordering is NaN-aware both ways). `cents`
    * must have (cent_id, c_vec) and at least one row; `_cbs` and
    * `cell` are reserved column names. */
  private def nearestCell(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, outId: String, outVec: String): DataFrame = {
    requireUnreserved(df, "nearestCell")
    df.select(col(idCol).as(outId), col(vecCol).as(outVec))
      .crossJoin(broadcast(cents.groupBy().agg(nonEmptyBook(
        array_sort(collect_list(struct(col("cent_id"), col("c_vec")))), "nearestCell")
        .as("_cbs"))))
      .select(col(outId), col(outVec), cellColumn(
        s"array_max(transform(_cbs, cb -> named_struct(" +
        s"'sim', round(cosine_sim($outVec, cb.c_vec), 6), " +
        s"'nid', -cb.cent_id))).nid * -1"))
  }

  /** The assignment fold as column `cell`, emitted through a one-element
    * explode: a Generate output is an attribute, never an alias, so
    * Catalyst cannot substitute the fold into downstream join probe
    * keys or inferred isnotnull filters (3 evaluations/row, probed on
    * s18), while predicates on every OTHER column still push through
    * it to the scan (PlanSpec canary). */
  private def cellColumn(fold: String): Column = explode(array(expr(fold))).as("cell")

  /** The codebook folds write `_cbs` and `cell`; a caller column of
    * either name would be shadowed or silently overwritten. */
  private def requireUnreserved(df: DataFrame, op: String): Unit = {
    val clash = df.columns.filter(Set("_cbs", "cell"))
    require(clash.isEmpty,
      s"$op: input has reserved column(s) ${clash.mkString(", ")}; rename before assigning")
  }

  /** Fails the codebook aggregate's single row when it holds no
    * centroids — checked once, inside the broadcast build, never per
    * corpus row and never as an extra job. An empty codebook would
    * otherwise fold to a NULL (or missing) cell for every vector. */
  private def nonEmptyBook(cbs: Column, op: String): Column =
    when(size(cbs) > 0, cbs).otherwise(raise_error(lit(s"$op: empty codebook")))

  /** Public nearest-centroid assignment: (id, cell) per corpus vector,
    * through nearestCell's broadcast zero-exchange fold. */
  def assignCells(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    nearestCell(corpus, centsOf(centroids, idCol, vecCol), idCol, vecCol, "vec_id", "_v")
      .select(col("vec_id"), col("cell"))

  /** A centroid set as the codebook rows nearestCell folds: (cent_id, c_vec). */
  private def centsOf(centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    centroids.select(col(idCol).as("cent_id"), col(vecCol).as("c_vec"))

  /** Public (id, vec, cell) assignment keeping the vector — the
    * MATERIALIZED-INDEX row shape: what an IVF index persists so that
    * serving never re-runs the argmax over the corpus (s15 writes this
    * as a layout; the nightly delta is the only thing ever assigned
    * again). Column names pass through unchanged so the output can be
    * written and unioned with later batches. */
  def indexWithCells(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    nearestCell(corpus, centsOf(centroids, idCol, vecCol), idCol, vecCol, idCol, vecCol)

  /** Cell-partitioned search over PRE-ASSIGNED rows (both sides carry
    * a `cell` column): the serving half of IVF, split out so a
    * materialized index (indexWithCells written to disk) can be
    * searched without re-assignment. Queries broadcast; ranking rides
    * TopNPerKey bounded heaps. */
  def searchAssigned(corpusCells: DataFrame, queryCells: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    // `cell` may be nearestCell's argmax fold — cellColumn's Generate
    // keeps the join from inlining it into probe keys and inferred
    // filters (a left-join dodge does NOT work here: the probe's =!=
    // filter null-rejects, so EliminateOuterJoin converts it back)
    rankTopK(scoredProbe(corpusSide(corpusCells, idCol, vecCol, col("cell")),
      querySide(queryCells, idCol, vecCol, col("cell")), Seq("cell")), k)

  /** IVF-style ANN: assign every vector to its nearest centroid cell
    * (broadcast centroid set), then search only within the query's cell.
    * `centroids` is the codebook — a fixed seed set, or the output of
    * `trainIvfCodebook`. Deterministic assignment: max cosine, centroid
    * id as tie-break. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    searchAssigned(indexWithCells(corpus, centroids, idCol, vecCol),
      indexWithCells(queries, centroids, idCol, vecCol), idCol, vecCol, k)

  /** Multi-probe IVF — the recall knob a production IVF index always
    * exposes (nprobe): the corpus keeps ONE cell per vector, but each
    * query searches its `nprobe` NEAREST cells instead of only the
    * first, recovering neighbors that fell just across a Voronoi
    * boundary. Cost scales linearly in nprobe (each probe cell's
    * population), never back toward brute force. The query side stays
    * tiny: queries×|centroids| scored rows reduce through TopNPerKey
    * bounded heaps to queries×nprobe (cell, vector) rows, which
    * broadcast onto the cell-partitioned corpus — the corpus is
    * assigned and joined exactly as in ivfTopK. A corpus vector can
    * match a query at most once: its single cell equals at most one of
    * the query's distinct probe cells. */
  def ivfTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String, nprobe: Int,
      k: Int): DataFrame = {
    val cents = centsOf(centroids, idCol, vecCol)
    rankTopK(scoredProbe(nearestCell(corpus, cents, idCol, vecCol, "neighbor_id", "n_vec"),
      queryCells(queries, cents, idCol, vecCol, nprobe), Seq("cell")), k)
  }

  /** Each query's `nprobe` nearest cells as (query_id, q_vec, cell, arn),
    * `arn` the 1-based probe rank by round(cosine, 6) desc, cent_id asc:
    * queries×|centroids| scored rows reduce through TopNPerKey bounded
    * heaps, which number the survivors. */
  private def queryCells(queries: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, nprobe: Int): DataFrame = {
    val scored = querySide(queries, idCol, vecCol)
      .crossJoin(broadcast(cents))
      .withColumn("_csim", round(cosine(col("q_vec"), col("c_vec")), 6))
      .select(col("query_id"), col("q_vec"), col("cent_id"), col("_csim"))
    Relational.topNPerGroupFast(scored, nprobe, Seq("query_id"),
        Seq(("_csim", false), ("cent_id", true)), rank = Some("arn"))
      .select(col("query_id"), col("q_vec"), col("cent_id").as("cell"), col("arn"))
  }

  /** Probe-sweep recall eval — the tuning curve behind multi-probe's
    * `nprobe` knob: for every probe level in `probes`, recall@k of
    * multi-probe IVF against brute-force truth, per query. The sweep is
    * ONE index search, not |probes|: the corpus is assigned and scored
    * once against the UNION probe set (max nprobe), each candidate
    * tagged with the probe rank `arn` of the query cell that reached
    * it; the nprobe=p result is then the arn≤p slice re-ranked — a
    * probe-level explode over the already-bounded candidate rows (the
    * corpus is scanned and cosine-scored exactly once). Every
    * (nprobe, query) pair emits, including empty-candidate ones
    * (recall 0 — what an index tuner must see). Integer recall
    * (n_hits*100 div k); all ranking deterministic (round(·,6) +
    * id tie-breaks). */
  def probeSweepRecall(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      probes: Seq[Int], k: Int): DataFrame = {
    val probesArr = array(probes.map(lit): _*)
    val cents = centsOf(centroids, idCol, vecCol)
    val cand = scoredProbe(nearestCell(corpus, cents, idCol, vecCol, "neighbor_id", "n_vec"),
      queryCells(queries, cents, idCol, vecCol, probes.max), Seq("cell"))
    val leveled = cand.select(col("query_id"), col("neighbor_id"), col("sim"),
      explode(filter(probesArr, p => p >= col("arn"))).as("nprobe"))
    val top = Relational.topNPerGroupFast(leveled, k, Seq("nprobe", "query_id"),
        Seq(("sim", false), ("neighbor_id", true)))
      .select(col("nprobe"), col("query_id"), col("neighbor_id"))
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = top.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    val base = queries.select(col(idCol).as("query_id"))
      .select(col("query_id"), explode(probesArr).as("nprobe"))
    base.join(hits, Seq("nprobe", "query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_pct", expr(s"CAST(n_hits * 100 div $k AS INT)"))
      .select(col("nprobe"), col("query_id"), col("n_hits"), col("recall_pct"))
  }

  /** Two-stage retrieval: coarse top-`coarseK` over int8-quantized
    * vectors (the 4×-memory-bandwidth scan a production index does),
    * then exact full-precision rerank of ONLY the coarse survivors down
    * to top-`k`. The candidate set (queries × coarseK rows) broadcasts
    * back onto the full-precision corpus — the expensive float cosine
    * runs on coarseK rows per query, never the corpus. Both stages are
    * deterministic: integer-exact coarse sims, round(·,6) + neighbor-id
    * tie-break in both rankings. */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, coarseK: Int, k: Int): DataFrame = {
    val quant = expr(s"transform($vecCol, x -> " +
      "cast(greatest(-127.0D, least(127.0D, floor(cast(x as double) * 127.0D + 0.5D))) as float))")
    val cand = bruteForceTopK(corpus.withColumn(vecCol, quant),
        queries.withColumn(vecCol, quant), idCol, vecCol, coarseK)
      .select(col("query_id"), col("neighbor_id"))
    rankTopK(scoredProbe(
      corpusSide(corpus, idCol, vecCol).join(broadcast(cand), Seq("neighbor_id")),
      querySide(queries, idCol, vecCol), Seq("query_id")), k)
  }

  /** Lloyd's k-means over INTEGER-quantized vectors — the trained-
    * codebook path for ivfTopK. Input vectors must hold integer-valued
    * components (s4's int8 quantization); the centroid update is then
    * exact integer arithmetic — per-dimension scaled floor-division
    * `(scale * sum) fdiv n` — so training is bit-identical on any
    * engine and any partitioning (no float-sum order drift), the same
    * reason production PQ/IVF codebooks ship quantized.
    *
    * Scale shape: the codebook is k rows and stays broadcast; each
    * Lloyd iteration is one map-side broadcast assign (no corpus
    * shuffle) + one groupBy(cell) with dim sum COLUMNS (partial agg:
    * k×(dim+1) rows per partition reach the exchange — the
    * one-pass-k-columns shape, not a ×dim explode). Centroids never
    * visit the driver; `iters` chains tiny plan segments instead.
    * Empty cells drop out of the codebook (standard Lloyd's). */
  def trainIvfCodebook(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int, scale: Int = 64): DataFrame = {
    def fdiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long") // floor div, exact: |a| << 2^53
    var cents = vectors.filter(col(idCol) < k)
      .select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("c_vec"))
    (1 to iters).foreach { _ =>
      val assigned = nearestCell(vectors, cents, idCol, vecCol, "_vid", "_v")
      val sums = (1 to dim).map(i =>
        sum(element_at(col("_v"), i).cast("long")).as(s"_s$i"))
      cents = assigned.groupBy(col("cell").as("cent_id"))
        .agg(count(lit(1)).as("_n"), sums: _*)
        .select(col("cent_id"),
          array((1 to dim).map(i =>
            fdiv(lit(scale.toLong) * col(s"_s$i"), col("_n")).cast("float")): _*)
            .as("c_vec"))
    }
    cents.select(col("cent_id").as(idCol), col("c_vec").as(vecCol))
  }

  // ------------------------------------------------------ product quant

  /** PQ subvector rows: (_vid, s, sv) where sv is the s-th width-dim
    * slice of the vector after int8 quantization ×64 — every component
    * a small exact long, so assignment (integer L2), centroid update
    * (floor-div), and ADC dots are bit-identical on any partitioning
    * and in DuckDB. The ×8 projection-collapse recompute of the
    * element-wise quantization is deliberate: it is 64 cheap arithmetic
    * ops, far below the cost of materializing through a shuffle. */
  def pqSubRows(vectors: DataFrame, idCol: String, vecCol: String,
      subs: Int, width: Int, keep: Seq[String] = Nil): DataFrame =
    vectors
      .withColumn("_v64", expr(s"transform($vecCol, x -> " +
        "CAST(greatest(-127.0D, least(127.0D, floor(CAST(x AS DOUBLE) * 127.0D + 0.5D))) " +
        "AS BIGINT) * 64)"))
      .select(col(idCol).cast("long").as("_vid") +: keep.map(col) :+ explode(expr(
        s"transform(sequence(0, ${subs - 1}), s -> " +
        s"struct(s AS s, slice(_v64, s * $width + 1, $width) AS sv))")).as("p"): _*)
      .select(col("_vid") +: keep.map(col) :+ col("p.s").as("s") :+
        col("p.sv").as("sv"): _*)

  /** Nearest-centroid assignment per (vector, subspace): exact integer
    * L2, deterministic tie-break on cent_id. Returns (_vid, s, sv, cell).
    * The whole codebook (subs·k rows) folds into ONE broadcast row,
    * `_cbs[s]` = subspace s's centroids cent_id-ascending, and the
    * argmin runs MAP-SIDE as an array_min over per-centroid (d, cent_id)
    * structs: same distance, same tie-break as a min(struct(_d,
    * cent_id)) aggregate, zero exchange. `cents` must have (s, cent_id,
    * c) with s = 0..subs-1 and at least one row; `_cbs` and `cell` are
    * reserved column names. */
  def assignPq(subRows: DataFrame, cents: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    requireUnreserved(subRows, "assignPq")
    val book = cents.groupBy().agg(nonEmptyBook(
        array_sort(collect_list(struct(col("s"), col("cent_id"), col("c")))), "assignPq")
        .as("_all"))
      .select(expr("transform(sequence(0, array_max(transform(_all, cb -> cb.s))), " +
        "i -> filter(_all, cb -> cb.s = i))").as("_cbs"))
    // downstream joins key on `cell` (PQ codes ⋈ LUT): cellColumn
    // keeps the fold out of the probe key
    subRows.crossJoin(broadcast(book))
      .select(col("_vid") +: col("s") +: col("sv") +: cellColumn(
        "array_min(transform(element_at(_cbs, s + 1), cb -> named_struct(" +
        "'d', aggregate(zip_with(sv, cb.c, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS BIGINT), (acc, t) -> acc + t), " +
        "'id', cb.cent_id))).id") +: keep.map(col): _*)
  }

  /** Per-subspace integer k-means (`subs` independent codebooks trained
    * in ONE partitioned dataframe): exact integer L2 assignment +
    * floor-div centroid update at scale 64 — training is bit-identical
    * on any partitioning, and centroids never touch the driver. */
  def trainPqCodebooks(subRows: DataFrame, width: Int, k: Int,
      iters: Int): DataFrame = {
    def fdiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long") // floor div, exact: |a| << 2^53
    var cents = subRows.filter(col("_vid") < k)
      .select(col("s"), col("_vid").as("cent_id"), col("sv").as("c"))
    (1 to iters).foreach { _ =>
      val sums = (1 to width).map(i => sum(element_at(col("sv"), i)).as(s"_s$i"))
      cents = assignPq(subRows, cents)
        .groupBy(col("s"), col("cell").as("cent_id"))
        .agg(count(lit(1)).as("_n"), sums: _*)
        .select(col("s"), col("cent_id"),
          array((1 to width).map(i => fdiv(col(s"_s$i"), col("_n"))): _*).as("c"))
    }
    cents
  }

  /** ADC (asymmetric distance computation) top-k: vectors live as
    * `subs` one-byte codes; each query dots its subvectors against the
    * broadcast codebook ONCE (queries·subs·k lookup rows), and scoring
    * a vector is `subs` table lookups + an integer sum — the
    * compressed-domain scan that makes a 100-TB ANN index fit in
    * memory (8 bytes/vector instead of 256). Candidate PRUNING is
    * orthogonal (IVF, s3/s6); like s1/s4 this baseline scans all
    * codes. Exact long arithmetic end to end. */
  def pqTopK(codes: DataFrame, queryRows: DataFrame, cents: DataFrame,
      k: Int): DataFrame =
    adcTopK(codes, queryRows, cents, Nil, k)

  /** The LUT + ADC + ranked top-k tail every PQ search shares. Each
    * query sub-row dots the broadcast codebook once (the LUT, carrying
    * the query's `cellKeys`); code rows meet the broadcast LUT on
    * (s, cent_id, cellKeys…), so other-cell code rows drop at the
    * map-side hash probe; an exact long `score` per (query, vector),
    * self excluded; top-k by score desc, vec_id asc, numbered `rnk`. */
  private def adcTopK(codes: DataFrame, querySub: DataFrame, book: DataFrame,
      cellKeys: Seq[String], k: Int): DataFrame = {
    val lut = querySub.join(broadcast(book), Seq("s"))
      .select((col("_vid").as("query_id") +: cellKeys.map(col)) ++ Seq(col("s"),
        col("cent_id"), expr("aggregate(zip_with(sv, c, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, t) -> acc + t)").as("dot")): _*)
    val scores = codes
      .join(broadcast(lut), Seq("s", "cent_id") ++ cellKeys)
      .filter(col("_vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("_vid").as("vec_id"))
      .agg(sum(col("dot")).as("score"))
    Relational.topNPerGroupFast(scores, k, Seq("query_id"),
        Seq(("score", false), ("vec_id", true)), rank = Some("rnk"))
      .select(col("query_id"), col("rnk"), col("vec_id"), col("score"))
  }

  /** Composed IVF×PQ retrieval — the production 100-TB ANN serving
    * shape (prune-then-ADC): every vector gets an IVF cell (broadcast
    * centroid argmax, the s3 path) AND `subs` one-byte PQ codes (the
    * s11 path); a query then ADC-scores ONLY vectors in its own cell.
    * The broadcast LUT carries each query's cell, so the
    * (s, cent_id, ivf_cell) hash probe drops other-cell code rows
    * MAP-SIDE — the score aggregate receives same-cell pairs only,
    * ~1/|cells| of s11's all-pairs input, and non-matching corpus rows
    * never reach a shuffle. No corpus⋈corpus shuffle join anywhere:
    * cell assignment is the one argmax groupBy, the codes ride the same
    * sub-row frame (the cell column travels with the rows instead of
    * joining back on id), and both the codebook and the LUT broadcast.
    *
    * `queryPred` selects query sub-rows by `_vid`. Scoring is exact
    * long arithmetic end to end; ranking is score desc, vec_id asc. */
  def ivfPqTopK(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryPred: Column, subs: Int, width: Int,
      pqK: Int, iters: Int, k: Int): DataFrame = {
    val (_, sub, book, codes) = ivfPqBuild(vectors, idCol, vecCol, centroids,
      subs, width, pqK, iters)
    adcTopK(codes, sub.filter(queryPred), book, Seq("ivf_cell"), k)
  }

  /** The IVF-PQ build ivfPqTopK and ivfPqIndex share: centroid rows
    * (cent_id, c_vec); sub-rows (_vid, s, sv, ivf_cell) of every vector
    * carrying its IVF cell; the trained PQ codebook (s, cent_id, c); the
    * codes (s, cent_id, _vid, ivf_cell). The assignment and the codebook
    * are pinned: unlike s11's cheap re-derivable scan lineage, the
    * assignment feeds two training iterations, the encode and the
    * queries, and the codebook feeds the encode, the LUT and the
    * persisted artifact — none of them re-runs either. */
  private def ivfPqBuild(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, subs: Int, width: Int, pqK: Int, iters: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cents = centsOf(centroids, idCol, vecCol)
    val assigned = nearestCell(vectors, cents, idCol, vecCol, "_aid", "_v")
      .withColumnRenamed("cell", "ivf_cell")
      .localCheckpoint()
    val sub = pqSubRows(assigned, "_aid", "_v", subs, width, keep = Seq("ivf_cell"))
    val book = trainPqCodebooks(sub, width, pqK, iters).localCheckpoint()
    val codes = assignPq(sub, book, keep = Seq("ivf_cell"))
      .select(col("s"), col("cell").as("cent_id"), col("_vid"), col("ivf_cell"))
    (cents, sub, book, codes)
  }

  /** BUILD half of the persisted IVF-PQ serving index (s27 — the
    * build/serve split s12 lacks: s12 re-trains codebooks inside every
    * query; production builds ONCE and serves many query batches).
    * Returns the three tables a serving index persists: IVF centroids
    * (cent_id, c_vec), trained PQ codebooks (s, cent_id, c), and the
    * compressed corpus codes (s, cent_id, _vid, ivf_cell) — 8 one-byte
    * code ids + one cell id per vector, the only corpus-sized artifact.
    * Training math identical to ivfPqTopK (same centroids, same Lloyd
    * iterations), so serving through the artifact answers exactly what
    * the in-query build answers (PipelineSpec pins the parity). */
  def ivfPqIndex(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, subs: Int, width: Int, pqK: Int, iters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cents, _, book, codes) = ivfPqBuild(vectors, idCol, vecCol, centroids,
      subs, width, pqK, iters)
    (cents, book, codes)
  }

  /** SERVE half (s27): answer a FRESH query batch from the persisted
    * index. The only raw-vector compute is the query batch's own cell
    * assignment + sub-vector quantization (O(|batch|), broadcast
    * centroids); the corpus is touched ONLY through the codes table —
    * the broadcast LUT carries each query's cell so other-cell code
    * rows drop at the map-side hash probe, and the score aggregate sees
    * ~1/|cells| of the codes. At 100 TB the index is built nightly and
    * this path is the per-request cost. */
  def ivfPqServe(queries: DataFrame, idCol: String, vecCol: String,
      ivfCents: DataFrame, book: DataFrame, codes: DataFrame,
      subs: Int, width: Int, k: Int): DataFrame = {
    val qAssigned = nearestCell(queries, ivfCents, idCol, vecCol, "_aid", "_v")
      .withColumnRenamed("cell", "ivf_cell")
    adcTopK(codes, pqSubRows(qAssigned, "_aid", "_v", subs, width,
      keep = Seq("ivf_cell")), book, Seq("ivf_cell"), k)
  }

  /** Embedding near-duplicate pairs, blocked by a key (label, cluster,
    * or LSH bucket) to avoid the full cross product.
    *
    * Skew guard (the fixed version of Dedup.lshCandidates' maxBucket): a
    * block of B vectors fans out to B(B-1)/2 pairs, so one degenerate
    * block (a catch-all label) goes quadratic at corpus scale. Blocks
    * larger than `maxBlock` SUB-SPLIT on `splitBits` sign-LSH bits via
    * subSplitBlocks — pairs within an over-cap block are still found
    * among sign-compatible vectors instead of the block silently
    * dropping out of the result. Only a block whose members share one
    * sign pattern even at `splitBits._2` bits (exact-dup pile) is
    * dropped as the final guard. The census joins are broadcasts of
    * narrow aggregates — the guard never shuffles the vectors. */
  def cosineDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double, maxBlock: Int = 1024,
      splitBits: (Int, Int) = (4, 8)): DataFrame = {
    val blocked = subSplitBlocks(vectors, vecCol, col(blockCol), maxBlock,
      splitBits._1, splitBits._2)
    val v = blocked.select(col("_base"), col("_lvl"), col("_sub"),
      col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val u = blocked.select(col("_base"), col("_lvl"), col("_sub"),
      col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    v.join(u, Seq("_base", "_lvl", "_sub"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
