package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Bpe, Dedup, Graph, HtmlText, LearnedQuality, Relational, Similarity}
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import scala.reflect.runtime.universe.TypeTag

/** LLM-data-pipeline coverage (SURVEY §2: d*, s*, t*, x*) over the
  * documents/embeddings tables.
  */
object PipelineQueries {

  /** The df-capped lexical posting lists (term in ≤10% of docs) — the
    * s16/s17 index BUILD, also persisted as a DerivedLayouts artifact
    * by s24 (serving must read the index, not re-run this window). */
  private def lexPostings(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("term"))
      .filter(length(col("term")) >= 3)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 10 <= col("n_docs"))
      .select(col("doc_id"), col("term"))
  }

  /** Lexical top-n per query: each doc's distinct rare-term overlap
    * `inter` with each query doc (`isQ`) through the posting lists, best
    * n by inter desc, doc_id asc; `rank` numbers them. */
  private def lexTop(postings: DataFrame, isQ: Column => Column, n: Int,
      rank: Option[String]): DataFrame = {
    val qTerms = postings.filter(isQ(col("doc_id")))
      .withColumnRenamed("doc_id", "query_id")
    val overlap = postings.join(qTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("inter"))
    Relational.topNPerGroupFast(overlap, n, Seq("query_id"),
      Seq(("inter", false), ("doc_id", true)), rank = rank)
  }

  /** The query panel the ANN and hybrid evals probe with: every 50th
    * id. `first` keeps only the first copy of a ScaleUp'ed corpus
    * (clones shift ids by 100000000), so that panel does not grow with
    * the corpus. The oracles spell their own predicate: `% 50 = 0`,
    * and `firstPanel` for `first`. */
  private object Panel {
    def apply(id: Column): Column = pmod(id, lit(50)) === 0
    def first(id: Column): Column = apply(id) && id < 100000000L
  }

  private def firstPanel(id: String): String = s"$id % 50 = 0 AND $id < 100000000"

  /** Exact term-space tf-cosine truth (t17, s20): each panel doc's
    * (`isQ`) inverted-index dot with every other doc over `termTf`
    * (doc_id, w, tf_w), cosine on exact integer moments (m37-class sqrt
    * finish), best k per query by sim desc, doc_id asc →
    * (query_id, doc_id). */
  private def tfCosineTruth(termTf: DataFrame, isQ: Column => Column, k: Int): DataFrame = {
    val en2 = termTf.groupBy(col("doc_id")).agg(sum(expr("tf_w * tf_w")).as("n2"))
    val eq = termTf.filter(isQ(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("w"), col("tf_w").as("qtf"))
    val sims = termTf.join(broadcast(eq), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("tf_w * qtf")).as("dot"))
      .join(broadcast(en2.select(col("doc_id").as("query_id"),
        col("n2").as("qn2"))), Seq("query_id"))
      .join(en2, Seq("doc_id"))
      .withColumn("sim", round(col("dot") / sqrt(col("qn2")) / sqrt(col("n2")), 6))
      .select(col("query_id"), col("doc_id"), col("sim"))
    Relational.topNPerGroupFast(sims, k, Seq("query_id"),
        Seq(("sim", false), ("doc_id", true)))
      .select(col("query_id"), col("doc_id"))
  }

  /** The two hybrid-retrieval channels (s16 serving, s17 eval, s24's
    * hybrid face), each a bounded top-20 per query over the first-copy
    * query set:
    *  - lexical: distinct RARE-term overlap over `postings`, the df-capped
    *    posting lists (s16/s17 pin lexPostings for its two consumers;
    *    s24 passes its persisted artifact);
    *  - vector: s2's sign-LSH bucket-pruned cosine (the scale path).
    * Levers measured in SURVEY §6j: the brute/uncapped first cut read
    * 43× at 10× data; this shape reads 1.0×. */
  private def hybridChannels(s: SparkSession, dir: String,
      postings: DataFrame): (DataFrame, DataFrame) = {
    val vecs = Tables.embeddings(s, dir)
    val lexTop20 = lexTop(postings, Panel.first, 20, Some("lex_rank"))
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val vecTop = Similarity.lshTopK(vecs, vecs.filter(Panel.first(col("vec_id"))),
        "vec_id", "embedding", bits = 4, k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("vec_rank"))
    (lexTop20, vecTop)
  }

  /** Reciprocal-rank fusion of two ranked lists on (query_id, doc_id):
    * integer floor(1e9/(60+rank)) per list, summed over a FULL OUTER
    * join (a doc only one list surfaced still scores), then the top 5
    * per query by rrf desc, doc_id asc, numbered `rnk`. Rank positions,
    * not scores, cross the channel boundary, so the channels' score
    * scales never need calibrating. */
  private def rrfTop5(a: DataFrame, rankA: String, b: DataFrame,
      rankB: String): DataFrame = {
    def rr(rank: String) =
      coalesce(expr(s"CAST(1000000000 AS BIGINT) div (60 + $rank)"), lit(0L))
    Relational.topNPerGroupFast(
      a.join(b, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", rr(rankA) + rr(rankB)),
      5, Seq("query_id"), Seq(("rrf", false), ("doc_id", true)), rank = Some("rnk"))
  }

  /** One row of an ANN recall eval: the `truth` rows `cand` also holds
    * (semi join on every truth column), the one-row `counts` (n_queries
    * first, then any cost columns) broadcast beside the hit count, and
    * recall_bp — hits in truncating basis points of k·n_queries, NULL
    * on an empty panel. */
  private def recallRow(label: Column, truth: DataFrame, cand: DataFrame,
      k: Int, counts: DataFrame*): DataFrame =
    counts.foldLeft(truth.join(cand, truth.columns.toSeq, "left_semi")
        .agg(count(lit(1)).as("n_hits")))((df, c) => df.crossJoin(broadcast(c)))
      .select((label +: counts.flatMap(_.columns).map(col)) ++ Seq(col("n_hits"),
        expr(s"CASE WHEN n_queries = 0 THEN NULL " +
          s"ELSE n_hits * 10000 div ($k * n_queries) END").as("recall_bp")): _*)

  /** Each query's best 3 (query_id, node) by sim desc, node asc. */
  private def top3Nodes(scored: DataFrame): DataFrame =
    Relational.topNPerGroupFast(scored, 3, Seq("query_id"),
        Seq(("sim", false), ("node", true)))
      .select(col("query_id"), col("node"))

  /** Greedy BEAM walk over a kNN edge list (id_a, id_b), the graph ANN
    * paradigm shared by s22, s23 and s24: each query starts from the
    * entry set (graph nodes with id < 8 — s3's centroid convention), then
    * 3 hops of expand-neighbors → `score` → keep the best 8 by sim desc,
    * node asc. `score` maps (query_id, node) candidates to
    * (query_id, node, sim). Every hop but the last is pinned (the next
    * hop expands it); the last beam is left to its one consumer. Returns
    * each hop's (scored, beam). */
  private def beamWalk(queryIds: DataFrame, edges: DataFrame)(
      score: DataFrame => DataFrame): Seq[(DataFrame, DataFrame)] = {
    val entries = edges.filter(col("id_a") < 8)
      .select(col("id_a").as("node")).distinct()
    var frontier = queryIds.crossJoin(broadcast(entries)).localCheckpoint()
    (1 to 3).map { hop =>
      val cand = frontier.select(col("query_id"), col("node"))
        .join(edges, col("node") === col("id_a"))
        .select(col("query_id"), col("id_b").as("node"))
        .union(frontier.select(col("query_id"), col("node")))
        .distinct()
      val scored = score(cand)
      val beam = Relational.topNPerGroupFast(scored, 8,
          Seq("query_id"), Seq(("sim", false), ("node", true)))
        .select(col("query_id"), col("node"), col("sim"))
      frontier = if (hop < 3) beam.localCheckpoint() else beam
      (scored, frontier)
    }
  }

  /** A beam hop's scorer: each (query_id, node) candidate against the
    * broadcast query panel (query_id, qe), sim = round(cosine, 6). */
  private def hopScore(vecs: DataFrame, q: DataFrame)(cand: DataFrame): DataFrame =
    cand.join(vecs.select(col("vec_id").as("node"), col("embedding")), Seq("node"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim",
        round(graft.functions.VectorFunctions.cosine(col("embedding"), col("qe")), 6))
      .select(col("query_id"), col("node"), col("sim"))

  /** s15/s25's IVF index over s3's frozen codebook (vec_id < 8): the 90%
    * "indexed" corpus assigned ONCE and persisted as an (id, vec, cell)
    * layout, plus the 10% delta batch — the only rows a nightly run
    * assigns — pinned so its two uses never recompute the argmax. */
  private def ivfIndexDelta(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val vecs = Tables.embeddings(s, dir)
    val cents = vecs.filter(col("vec_id") < 8)
    val base = graft.sources.DerivedLayouts.once(s"ivf_index|$dir") { p =>
      Similarity.indexWithCells(vecs.filter(pmod(col("vec_id"), lit(10)) =!= 0),
          cents, "vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$p/index")
    }
    val index = Tables.parquet(s, s"$base/index")
    val delta = Similarity.indexWithCells(
        vecs.filter(pmod(col("vec_id"), lit(10)) === 0), cents,
        "vec_id", "embedding")
      .localCheckpoint()
    (index, delta)
  }

  /** Undirected collocation edges (a < b, unordered-pair support ≥ 3)
    * from ONE bigram pass — shared by the graph-family keys (t15
    * triangles, t18 k-core). */
  private def collocEdges(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Dedup.ngrams("text", 2, distinct = false)).as("b"))
      .select(substring_index(col("b"), " ", 1).as("w1"),
        substring_index(col("b"), " ", -1).as("w2"))
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
      .select(col("a"), col("b"))

  /** Directed kNN edges (k=3): s9's sub-split sign-LSH bucket pairing,
    * top-3 by cosine per vector via bounded heaps, checkpointed so
    * downstream graph passes (s9 census, s10 PageRank iterations)
    * never re-evaluate the candidate pipeline. */
  private def knnTopEdges(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val vecs = Tables.embeddings(s, dir)
    val bb = Similarity.subSplitBlocks(vecs, "embedding",
        Similarity.signBucket("embedding", 4), cap = 256, bits1 = 8, bits2 = 12)
      .select(col("_base"), col("_lvl"), col("_sub"), col("vec_id"), col("embedding"))
    val edges = bb.select(col("_base"), col("_lvl"), col("_sub"),
        col("vec_id").as("id_a"), col("embedding").as("va"))
      .join(bb.select(col("_base"), col("_lvl"), col("_sub"),
        col("vec_id").as("id_b"), col("embedding").as("vb")),
        Seq("_base", "_lvl", "_sub"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", round(VectorFunctions.cosine(col("va"), col("vb")), 6))
      .select(col("id_a"), col("id_b"), col("sim"))
    graft.operators.Relational.topNPerGroupFast(edges, 3,
        Seq("id_a"), Seq(("sim", false), ("id_b", true)))
      .select(col("id_a"), col("id_b"), col("sim"))
      .localCheckpoint(true)
  }

  /** Exact Jaccard ≥ 0.8 truth pairs as a PERSISTED artifact (the s24
    * serving posture: pay the exact join once, every eval reads the
    * layout). d20 is the key that MEASURES the live join; d21/d22
    * consume this artifact — their op is the eval, not the truth. */
  private def simTruth(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DerivedLayouts
    val base = DerivedLayouts.once(s"simtruth|$dir") { path =>
      Dedup.prefixSimJoin(Tables.documents(s, dir), "doc_id", "text",
          tBp = 8000L)
        .select(col("id_a"), col("id_b"))
        .write.parquet(s"$path/truth")
    }
    Tables.parquet(s, s"$base/truth")
  }

  /** t2's per-doc quality features — also a p27 curation gate. */
  private def qualityFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("_w", Dedup.words(col("text")))
      .select(col("doc_id"),
        size(col("_w")).as("n_tokens"),
        size(array_distinct(col("_w"))).as("n_distinct"),
        TextFunctions.stopHits("_w", TextFunctions.enStop).as("stop_hits"))
      .withColumn("quality",
        TextFunctions.qualityScore(col("n_distinct"), col("n_tokens"), col("stop_hits")))

  /** t14's Gopher-style repetition signals — also a p27 curation gate. */
  private def repetitionFrame(docs0: DataFrame): DataFrame = {
    val docs = Relational.spread(docs0, col("doc_id"))
    val tagged = docs.select(col("doc_id"),
        explode(concat(
          transform(Dedup.ngrams("text", 2, distinct = false),
            b => struct(lit(2).as("g"), b.as("gram"))),
          transform(Dedup.ngrams("text", 3, distinct = false),
            t => struct(lit(3).as("g"), t.as("gram"))))).as("ng"))
      .select(col("doc_id"), col("ng.g").as("g"), col("ng.gram").as("gram"))
    tagged.groupBy(col("doc_id"), col("g"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("g"))
      .agg(sum(col("c")).as("n_grams"), max(col("c")).as("top_n"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_n"))
      .groupBy(col("doc_id"))
      .agg(
        coalesce(max(when(col("g") === 2, col("n_grams"))), lit(0L)).as("n_bi"),
        coalesce(max(when(col("g") === 2, col("top_n"))), lit(0L)).as("top_bi_n"),
        coalesce(max(when(col("g") === 3, col("n_grams"))), lit(0L)).as("n_tri"),
        coalesce(max(when(col("g") === 3, col("dup_n"))), lit(0L)).as("dup_tri_n"))
      .select(col("doc_id"), col("n_bi"), col("top_bi_n"),
        expr("CAST(CASE WHEN n_bi > 0 THEN top_bi_n * 10000 div n_bi ELSE 0 END AS INT)")
          .as("top_bi_bp"),
        col("n_tri"), col("dup_tri_n"),
        expr("CAST(CASE WHEN n_tri > 0 THEN dup_tri_n * 10000 div n_tri ELSE 0 END AS INT)")
          .as("dup_tri_bp"))
  }

  /** A stopword list as the SQL IN-list the text oracles test
    * membership with; `en` is the English one (p27, p28, t1, t2, t20,
    * t26). */
  private def stops(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")
  private val en = stops(TextFunctions.enStop)

  /** IL = the il16 fixed-point log2 (LearnedQuality.il16Sql's DuckDB
    * twin: // for div, 1::BIGINT << for shiftleft) — t20, t26, t28. */
  private def IL(v: String): String = s"(16*(length(bin($v))-1) + (($v)*16) // " +
    s"(1::BIGINT << (length(bin($v))-1)) - 16)"

  /** DuckDB CTEs producing per-doc distinct word-3-gram shingle lists
    * from the word split w(doc_id, wd) — the exact mirror of
    * Dedup.shingles — then their 8 minhash values and 4×2 band keys
    * (the d-family and st18). */
  private[queries] val minhashBandsCte =
    """sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(wd) >= 3
      |    THEN list_transform(generate_series(1, len(wd)-2), i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
      |    ELSE [] END) AS s
      |  FROM w),
      |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
      |sig AS (SELECT doc_id,
      |  list_transform(generate_series(0, 7), h ->
      |    list_min(list_transform(s, x -> md5(CAST(h AS VARCHAR) || '|' || x)))) AS g
      |  FROM sh2),
      |bands AS (SELECT doc_id, CAST(b AS VARCHAR) || ':' || g[2*b+1] || g[2*b+2] AS k
      |  FROM sig, generate_series(0, 3) t(b))""".stripMargin

  private val shingleBase =
    s"""w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wd FROM documents),
       |$minhashBandsCte,
       |bandsk AS (SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY k) <= 64)""".stripMargin

  private val shingleCte = shingleBase +
    """,
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM bandsk a JOIN bandsk c USING (k) WHERE a.doc_id < c.doc_id)""".stripMargin

  /** DuckDB mirror of Dedup.prefixSimJoin's candidate step at Jaccard
    * 0.8 (d21, d22) over t2(doc_id, tk, n): each set's rarest-first
    * prefix, then the pairs that share a prefix token and pass the
    * length filter → pcand(id_a, id_b). */
  private val prefixCandCtes =
    """tok AS (SELECT doc_id, n, unnest(tk) AS t FROM t2),
      |dfq AS (SELECT t, count(*) AS dfreq FROM tok GROUP BY t),
      |rk AS (SELECT doc_id, n, t,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY dfreq, t) AS r
      |  FROM tok JOIN dfq USING (t)),
      |pref AS (SELECT doc_id, n, t FROM rk
      |  WHERE r <= n - (8000 * n + 9999) // 10000 + 1),
      |pcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
      |  WHERE least(a.n, b.n) * 10000 >= 8000 * greatest(a.n, b.n))""".stripMargin

  /** DuckDB CTE: per-vector squared norm in explicit double arithmetic —
    * mirror of VectorFunctions.norm2. */
  private val vecCte =
    """v AS (SELECT vec_id, label, embedding AS e,
      |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
      |  FROM embeddings)""".stripMargin

  private val dotAB =
    "list_sum(list_transform(generate_series(1, len(a.e)), i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))"

  /** The hybrid keys' DuckDB mirrors (s16, s17, s24; Spark side
    * hybridChannels + rrfTop5). vb: s2's 4-bit sign bucket over `v`,
    * a dimension past the vector's end counting positive (also s23's
    * LSH row). */
  private val lshBucketCte =
    """vb AS (SELECT *, CAST(list_sum(list_transform(generate_series(0, 3), i ->
      |    CASE WHEN coalesce(e[i+1], 1) >= 0 THEN (1 << i) ELSE 0 END)) AS INT)
      |    AS bucket FROM v)""".stripMargin

  /** Vector channel: the `q` panel's bucket-mates scored into `sims`,
    * top 20 per query in vtop(query_id, doc_id, vec_rank). */
  private def vecTop20Cte(sims: String, q: String): String =
    s"""$sims AS (SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
       |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
       |  FROM vb a JOIN $q b ON a.bucket = b.bucket WHERE a.vec_id <> b.vec_id),
       |vtop AS (SELECT query_id, doc_id, vec_rank FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, doc_id) AS INT) AS vec_rank
       |    FROM $sims) x WHERE vec_rank <= 20)""".stripMargin

  /** Lexical channel: lexPostings' df-capped terms, each first-copy
    * panel doc's distinct-term overlap, top 20 per query in
    * ltop(query_id, doc_id, lex_rank). */
  private val lexTop20Cte =
    s"""terms0 AS (SELECT DISTINCT doc_id, t AS term
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wd
       |    FROM documents) a, unnest(wd) u(t)
       |  WHERE length(t) >= 3),
       |terms AS (SELECT doc_id, term FROM (
       |    SELECT doc_id, term, count(*) OVER (PARTITION BY term) AS df
       |    FROM terms0) x
       |  WHERE df * 10 <= (SELECT count(*) FROM documents)),
       |ov AS (SELECT tq.doc_id AS query_id, td.doc_id,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM terms tq JOIN terms td USING (term)
       |  WHERE ${firstPanel("tq.doc_id")}
       |    AND td.doc_id <> tq.doc_id
       |  GROUP BY 1, 2),
       |ltop AS (SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY inter DESC, doc_id) AS INT) AS lex_rank
       |    FROM ov) x WHERE lex_rank <= 20)""".stripMargin

  /** RRF of vtop and ltop over a full outer join into `name`(query_id,
    * doc_id, rrf): floor(1e9/(60+rank)) per list, 0 where a list
    * missed the doc. */
  private def rrfCte(name: String): String =
    s"""$name AS (SELECT COALESCE(vt.query_id, lt.query_id) AS query_id,
       |    COALESCE(vt.doc_id, lt.doc_id) AS doc_id,
       |    COALESCE(CAST(1000000000 AS BIGINT) // (60 + vt.vec_rank), 0) +
       |    COALESCE(CAST(1000000000 AS BIGINT) // (60 + lt.lex_rank), 0) AS rrf
       |  FROM vtop vt FULL OUTER JOIN ltop lt
       |    ON vt.query_id = lt.query_id AND vt.doc_id = lt.doc_id)""".stripMargin

  /** DuckDB mirror of s3's IVF assignment (s3, s13, s15, s18, s25):
    * `vecCte`, the fixed codebook c (vec_id < 8), every vector's
    * centroids ranked by rounded cosine in asg (arn, tie-break
    * cent_id) and its argmax cell in cells(vec_id, e, n2, cell). */
  private val ivfCellsCte =
    s"""$vecCte,
       |c AS (SELECT vec_id AS cent_id, e AS c_vec, n2 AS c_n2 FROM v WHERE vec_id < 8),
       |asg0 AS (SELECT a.vec_id, a.e, a.n2, c.cent_id,
       |    round(list_sum(list_transform(generate_series(1, len(a.e)), i ->
       |      CAST(a.e[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE))) / sqrt(a.n2 * c.c_n2), 6) AS csim
       |  FROM v a CROSS JOIN c),
       |asg AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS arn
       |  FROM asg0),
       |cells AS (SELECT vec_id, e, n2, cent_id AS cell FROM asg WHERE arn = 1)""".stripMargin

  /** The ANN keys' exact probe and result tail (s1–s4, s6, s13, s15):
    * every (query b, candidate a) pair of the FROM clause `pairs`
    * scored by rounded cosine, ranked per query by sim desc,
    * neighbor_id asc → the top-k (query_id, rnk, neighbor_id, sim). */
  private def probeTopK(pairs: String, k: Int): String =
    s"""sims AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
       |  FROM $pairs),
       |ranked AS (SELECT query_id, neighbor_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
       |  FROM sims)
       |SELECT query_id, rnk, neighbor_id, sim FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** DuckDB mirror of Similarity.subSplitBlocks over the `v` CTE:
    * appends CTEs ending in vkk(vec_id, e, n2, base, lvl, sub) — the
    * effective-block assignment (base block when ≤ cap, else base +
    * bits1 then bits2 sign bits; finest-over-cap and singleton blocks
    * dropped). Sign semantics mirror signBucket: a dimension past the
    * vector's length counts positive (list_extract past end is NULL →
    * coalesce(…, 1)). Window counts here replace Spark's broadcast
    * census joins — the oracle need not be scale-shaped, only exact. */
  private def subSplitCte(baseSql: String, cap: Int, bits1: Int, bits2: Int): String =
    s"""vs AS (SELECT *, $baseSql AS base,
       |    CAST(list_sum(list_transform(generate_series(0, ${bits2 - 1}), i ->
       |      CASE WHEN coalesce(e[i+1], 1) >= 0 THEN (1 << i) ELSE 0 END)) AS INT) AS sf
       |  FROM v),
       |vc AS (SELECT *, sf % ${1 << bits1} AS sm,
       |    count(*) OVER (PARTITION BY base) AS n0,
       |    count(*) OVER (PARTITION BY base, sf % ${1 << bits1}) AS nm,
       |    count(*) OVER (PARTITION BY base, sf) AS nf FROM vs),
       |vk AS (SELECT *,
       |    CASE WHEN n0 <= $cap THEN 0 WHEN nm <= $cap THEN 1 WHEN nf <= $cap THEN 2 END AS lvl,
       |    CASE WHEN n0 <= $cap THEN -1 WHEN nm <= $cap THEN sm ELSE sf END AS sub,
       |    CASE WHEN n0 <= $cap THEN n0 WHEN nm <= $cap THEN nm ELSE nf END AS bn
       |  FROM vc),
       |vkk AS (SELECT vec_id, e, n2, base, lvl, sub FROM vk
       |  WHERE lvl IS NOT NULL AND bn >= 2)""".stripMargin

  /** Rounded cosine of `vecAlias`(e, n2) against the panel query
    * q(qe, qn2) — the graph-ANN oracles' scorer (s22, s23, s24). */
  private def simOf(vecAlias: String): String =
    s"round(list_sum(list_transform(generate_series(1, len($vecAlias.e)), i -> " +
    s"CAST($vecAlias.e[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) / " +
    s"sqrt($vecAlias.n2 * q.qn2), 6)"

  /** One beamWalk hop over the knn `top` edges (s22, s24): frontier
    * `fin` expanded by its neighbors in n$k, scored against the qq panel
    * in s$k, best 8 per query in f$k (MATERIALIZED: it feeds both the
    * next expansion and the union). */
  private def beamHopCte(k: Int, fin: String): String =
    s"""n$k AS (SELECT DISTINCT f.query_id, t.id_b AS node
       |  FROM $fin f JOIN top t ON f.node = t.id_a
       |  UNION SELECT query_id, node FROM $fin),
       |s$k AS (SELECT n.query_id, n.node, ${simOf("a")} AS sim
       |  FROM n$k n JOIN v a ON a.vec_id = n.node
       |  JOIN qq q ON q.query_id = n.query_id),
       |f$k AS MATERIALIZED (SELECT query_id, node, sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, node) AS rn FROM s$k) x
       |  WHERE rn <= 8)""".stripMargin

  /** DuckDB mirror of knnTopEdges: the s9 sub-split pairing + top-3
    * per vector — shared by the s9 census and s10 PageRank oracles. */
  private lazy val knnTopCte: String =
    s"""$vecCte,
       |${subSplitCte(
          "CAST(list_sum(list_transform(generate_series(0, 3), i -> " +
          "CASE WHEN coalesce(e[i+1], 1) >= 0 THEN (1 << i) ELSE 0 END)) AS INT)",
          256, 8, 12)},
       |edges AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
       |  FROM vkk a JOIN vkk b ON a.base = b.base AND a.lvl = b.lvl
       |    AND a.sub = b.sub AND a.vec_id <> b.vec_id),
       |top AS (SELECT id_a, id_b, sim FROM (
       |    SELECT id_a, id_b, sim,
       |      row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn
       |    FROM edges) t WHERE rn <= 3)""".stripMargin

  /** The BPE oracles' opening (t21, t22, t27): word counts v over the
    * whitespace split, each word's character segmentation s0. */
  private val bpeVocabCtes =
    s"""WITH RECURSIVE v AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents) x
       |  WHERE length(w) > 0 GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT w, cnt,
       |    list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS syms
       |  FROM v)""".stripMargin

  /** Shared BPE oracle prefix (t21 learn / t22 apply): vocab → char
    * segmentation s0 → three merge iterations. Each iteration k yields
    * pair counts p_k, the argmax pair b_k, a recursive greedy
    * re-segmentation walk w_k (list_reduce mis-folds varying lengths —
    * round-7 finding), final segs s_k, and post-merge corpus symbol
    * count a_k. Reused stages MATERIALIZED (CTE-inlining lesson). */
  private def bpeIterCtes(k: Int, sIn: String): String =
    s"""p$k AS (SELECT s.syms[u.j] AS l, s.syms[u.j + 1] AS r,
       |    CAST(sum(s.cnt) AS BIGINT) AS pair_cnt
       |  FROM $sIn s, unnest(generate_series(1, len(s.syms) - 1)) AS u(j)
       |  GROUP BY 1, 2),
       |b$k AS MATERIALIZED (SELECT l, r, pair_cnt FROM p$k
       |  ORDER BY pair_cnt DESC, l, r LIMIT 1),
       |w$k(w, cnt, syms, i, acc) AS (
       |  SELECT w, cnt, syms, 1, [syms[1]] FROM $sIn
       |  UNION ALL
       |  SELECT x.w, x.cnt, x.syms, x.i + 1,
       |    CASE WHEN x.acc[-1] = b.l AND x.syms[x.i + 1] = b.r
       |      THEN list_append(x.acc[1:len(x.acc) - 1], b.l || b.r)
       |      ELSE list_append(x.acc, x.syms[x.i + 1]) END
       |  FROM w$k x, b$k b WHERE x.i < len(x.syms)),
       |s$k AS MATERIALIZED (SELECT w, cnt, acc AS syms FROM w$k
       |  WHERE i = len(syms)),
       |a$k AS (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) AS syms_after
       |  FROM s$k)""".stripMargin

  private def bpeOracleCtes: String =
    s"""$bpeVocabCtes,
       |${bpeIterCtes(1, "s0")},
       |${bpeIterCtes(2, "s1")},
       |${bpeIterCtes(3, "s2")}""".stripMargin

  /** t28's keep-gate threshold in il16 units (16ths of a bit of
    * per-bigram NLL): sits square between the natural and scrambled
    * avg_nll clusters at every tested SF (measured maxima/minima —
    * sf0.001: 40 vs 120, sf0.01: 39 vs 120, sf0.1: 40 vs 143) — one
    * literal shared by the Spark query and the DuckDB oracle. */
  private val PerplexityKeepBelow = 80

  /** One BATCHED-BPE oracle round (mirror of Bpe.learnMergesBatched):
    * pair counts p$k, ranked candidates c$k (top-256), a recursive
    * greedy conflict-free SELECTION walk g$k over candidate rank
    * (used-set disjointness on {l, r, l||r}, batch cap 16) → the
    * 1-row pick list k$k, the greedy multi-pair re-segmentation walk
    * w$k (membership test against the pick list instead of t21's
    * single argmax pair), final segs s$k, per-round output rows o$k.
    * Reused stages MATERIALIZED (CTE-inlining lesson); list_reduce
    * never used (round-7 finding). */
  private def bpeBatchIterCtes(k: Int, sIn: String): String =
    s"""p$k AS (SELECT s.syms[u.j] AS l, s.syms[u.j + 1] AS r,
       |    CAST(sum(s.cnt) AS BIGINT) AS pair_cnt
       |  FROM $sIn s, unnest(generate_series(1, len(s.syms) - 1)) AS u(j)
       |  GROUP BY 1, 2),
       |c$k AS MATERIALIZED (SELECT l, r, pair_cnt,
       |    CAST(row_number() OVER (ORDER BY pair_cnt DESC, l, r) AS INT) AS rn
       |  FROM p$k ORDER BY pair_cnt DESC, l, r LIMIT 256),
       |g$k(rn, used, picks) AS (
       |  SELECT 0, CAST([] AS VARCHAR[]),
       |    CAST([] AS STRUCT(l VARCHAR, r VARCHAR, c BIGINT)[])
       |  UNION ALL
       |  SELECT c.rn,
       |    CASE WHEN len(g.picks) < 16
       |        AND NOT list_has_any(g.used, [c.l, c.r, c.l || c.r])
       |      THEN g.used || [c.l, c.r, c.l || c.r] ELSE g.used END,
       |    CASE WHEN len(g.picks) < 16
       |        AND NOT list_has_any(g.used, [c.l, c.r, c.l || c.r])
       |      THEN list_append(g.picks, {'l': c.l, 'r': c.r, 'c': c.pair_cnt})
       |      ELSE g.picks END
       |  FROM g$k g JOIN c$k c ON c.rn = g.rn + 1),
       |k$k AS MATERIALIZED (SELECT picks FROM g$k ORDER BY rn DESC LIMIT 1),
       |w$k(w, cnt, syms, i, acc) AS (
       |  SELECT w, cnt, syms, 1, [syms[1]] FROM $sIn
       |  UNION ALL
       |  SELECT x.w, x.cnt, x.syms, x.i + 1,
       |    CASE WHEN len(list_filter(b.picks, p ->
       |        p.l = x.acc[-1] AND p.r = x.syms[x.i + 1])) > 0
       |      THEN list_append(x.acc[1:len(x.acc) - 1], x.acc[-1] || x.syms[x.i + 1])
       |      ELSE list_append(x.acc, x.syms[x.i + 1]) END
       |  FROM w$k x, k$k b WHERE x.i < len(x.syms)),
       |s$k AS MATERIALIZED (SELECT w, cnt, acc AS syms FROM w$k
       |  WHERE i = len(syms)),
       |a$k AS (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) AS syms_after
       |  FROM s$k),
       |o$k AS (SELECT $k AS round, CAST(u.j AS INT) AS rnk,
       |    b.picks[u.j].l AS left_sym, b.picks[u.j].r AS right_sym,
       |    b.picks[u.j].l || b.picks[u.j].r AS merged,
       |    b.picks[u.j].c AS pair_cnt, a.syms_after
       |  FROM k$k b, a$k a, unnest(generate_series(1, len(b.picks))) AS u(j))""".stripMargin

  private def bpeBatchOracle: String = {
    val iters = (1 to 8)
      .map(k => bpeBatchIterCtes(k, if (k == 1) "s0" else s"s${k - 1}"))
      .mkString(",\n")
    s"""$bpeVocabCtes,
       |$iters
       |SELECT round, rnk, left_sym, right_sym, merged, pair_cnt, syms_after
       |FROM (${(1 to 8).map(k => s"SELECT * FROM o$k").mkString(" UNION ALL ")}) u
       |ORDER BY round, rnk""".stripMargin
  }

  /** One integer-PageRank iteration as a CTE: rank in millionths,
    * per-edge contribution r // outdeg, damping 85·Σ // 100. */
  private def prIterCte(prev: String, cur: String): String =
    s"""$cur AS (SELECT n.id, CAST(150000 + (85 * COALESCE(s.x, 0)) // 100 AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT t.id_b AS id, CAST(sum(r.r // o.outdeg) AS BIGINT) AS x
       |    FROM top t JOIN outd o ON t.id_a = o.id_a
       |    JOIN $prev r ON r.id = t.id_a GROUP BY 1) s ON n.id = s.id)""".stripMargin

  /** s11 PQ oracle fragments: assignment of `sr` subrows to `cin`
    * centroids by exact integer L2 (tie-break cent_id) → `$asg(_vid,
    * s, sv, cell)`; pqIterCteSql adds the floor-div centroid update at
    * the same ×64 scale → `$cout(s, cent_id, c)`. */
  private def pqAssignCte(cin: String, asg: String): String =
    s"""$asg AS (SELECT _vid, s, sv, cell FROM (
       |    SELECT r.vec_id AS _vid, r.s, r.sv, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY r.vec_id, r.s ORDER BY
       |        list_sum(list_transform(generate_series(1, 8), i ->
       |          (r.sv[i] - c.c[i]) * (r.sv[i] - c.c[i]))), c.cent_id) AS rn
       |    FROM sr r JOIN $cin c ON r.s = c.s) t WHERE rn = 1)""".stripMargin

  private def pqIterCte(cin: String, asg: String, cout: String): String =
    s"""${pqAssignCte(cin, asg)},
       |${cout}g AS (SELECT s, cell, CAST(count(*) AS BIGINT) AS n, list(sv) AS vl
       |  FROM $asg GROUP BY 1, 2),
       |$cout AS (SELECT s, cell AS cent_id, list_transform(generate_series(1, 8), i ->
       |    CAST((list_sum(list_transform(vl, v -> v[i])) -
       |      ((list_sum(list_transform(vl, v -> v[i])) % n + n) % n)) // n AS BIGINT)) AS c
       |  FROM ${cout}g)""".stripMargin

  /** s12/s27's IVF×PQ oracle: s3's argmax cells, s11's two-iteration
    * PQ codebooks and codes, then the query batch `vec_id % 50 = rem`
    * scored by ADC against its own cell's codes → top-3 per query. */
  private def ivfPqOracle(rem: Int): String =
    s"""WITH $vecCte,
       |c AS (SELECT vec_id AS cent_id, e AS c_vec, n2 AS c_n2 FROM v WHERE vec_id < 8),
       |asg0 AS (SELECT a.vec_id, c.cent_id,
       |    round(list_sum(list_transform(generate_series(1, len(a.e)), i ->
       |      CAST(a.e[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE))) / sqrt(a.n2 * c.c_n2), 6) AS csim
       |  FROM v a CROSS JOIN c),
       |cells AS (SELECT vec_id, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS arn
       |    FROM asg0) t WHERE arn = 1),
       |p64 AS (SELECT vec_id, list_transform(embedding, x ->
       |    64 * CAST(greatest(-127.0, least(127.0,
       |      floor(CAST(x AS DOUBLE) * 127.0 + 0.5))) AS BIGINT)) AS v64
       |  FROM embeddings),
       |sr AS (SELECT vec_id, s,
       |    list_transform(generate_series(1, 8), i -> v64[s * 8 + i]) AS sv
       |  FROM p64, generate_series(0, 7) t(s)),
       |c0 AS (SELECT s, vec_id AS cent_id, sv AS c FROM sr WHERE vec_id < 16),
       |${pqIterCte("c0", "a1", "c1")},
       |${pqIterCte("c1", "a2", "c2")},
       |${pqAssignCte("c2", "cod")},
       |lut AS (SELECT q.vec_id AS query_id, qc.cell AS q_cell, q.s, c.cent_id,
       |    CAST(list_sum(list_transform(generate_series(1, 8), i ->
       |      q.sv[i] * c.c[i])) AS BIGINT) AS dot
       |  FROM (SELECT * FROM sr WHERE vec_id % 50 = $rem) q
       |  JOIN cells qc ON q.vec_id = qc.vec_id
       |  JOIN c2 c ON q.s = c.s),
       |sc AS (SELECT l.query_id, d._vid AS vec_id, CAST(sum(l.dot) AS BIGINT) AS score
       |  FROM cod d JOIN cells dc ON d._vid = dc.vec_id
       |  JOIN lut l ON d.s = l.s AND d.cell = l.cent_id AND dc.cell = l.q_cell
       |  WHERE d._vid <> l.query_id GROUP BY 1, 2)
       |SELECT query_id, CAST(rn AS INT) AS rnk, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM sc) t
       |WHERE rn <= 3 ORDER BY query_id, rnk""".stripMargin

  /** s6 integer-k-means oracle fragments (mirror of
    * Similarity.trainIvfCodebook at dim=64, scale=64). Assignment of
    * `vsrc` (vec_id, e, n2) to centroid set `csrc` (cent_id, c): two
    * CTEs, `${out}0` scored and `$out` the argmax cell. */
  private def s6Assign(vsrc: String, csrc: String, out: String): String =
    s"""${out}0 AS (SELECT a.vec_id, a.e, a.n2, c.cent_id,
       |    round(list_sum(list_transform(generate_series(1, 64), i ->
       |      CAST(a.e[i] AS DOUBLE) * CAST(c.c[i] AS DOUBLE))) /
       |      sqrt(a.n2 * list_sum(list_transform(c.c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS csim
       |  FROM $vsrc a CROSS JOIN $csrc c),
       |$out AS (SELECT vec_id, e, n2, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS arn
       |    FROM ${out}0) t WHERE arn = 1)""".stripMargin

  /** Centroid update: per-dimension exact scaled floor-division
    * (64*sum) fdiv n over the cell's integer vectors — list() collect is
    * order-safe because the summed components are integers. */
  private def s6Update(asg: String, out: String): String =
    s"""${out}g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n, list(e) AS vl
       |  FROM $asg GROUP BY cell),
       |$out AS (SELECT cell AS cent_id, list_transform(generate_series(1, 64), i ->
       |    (64*list_sum(list_transform(vl, v -> v[i]))
       |     - ((64*list_sum(list_transform(vl, v -> v[i])) % n + n) % n)) // n
       |  ) AS c FROM ${out}g)""".stripMargin

  /** DuckDB closed form of the aHash-family signature (x17, x20, x22,
    * d25–d27): the group word from md5('<salt>|' || doc_id // 20)
    * nibbles, the flip mask (1<<f)-1 on the LOW word → CTE s(doc_id,
    * sig_lo, sig_hi). Opens the WITH. */
  private def aHashCte(salt: String): String =
    s"""WITH p AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS f,
       |    md5('$salt|' || CAST(doc_id // 20 AS VARCHAR)) AS h
       |  FROM documents),
       |s0 AS (SELECT doc_id, f,
       |    CAST(list_sum(list_transform(generate_series(0, 7), k ->
       |      CAST(strpos('0123456789abcdef', substring(h, 1 + k, 1)) - 1 AS BIGINT)
       |        * (1::BIGINT << (4 * (7 - k))))) AS BIGINT) AS hi0,
       |    CAST(list_sum(list_transform(generate_series(0, 7), k ->
       |      CAST(strpos('0123456789abcdef', substring(h, 9 + k, 1)) - 1 AS BIGINT)
       |        * (1::BIGINT << (4 * (7 - k))))) AS BIGINT) AS lo0
       |  FROM p),
       |s AS (SELECT doc_id, xor(lo0, (1::BIGINT << f) - 1) AS sig_lo,
       |    hi0 AS sig_hi FROM s0)""".stripMargin

  /** d25–d27's oracle: `aHashCte(salt)` cut into 4×16-bit bands, pairs
    * sharing a band verified at hamming ≤ 2, then the per-doc verdict
    * (neighbor count, min-id keeper, is_dup). */
  private def nearDupOracle(salt: String): String =
    s"""${aHashCte(salt)},
       |bd AS (SELECT doc_id, sig_lo, sig_hi, b,
       |    CASE b WHEN 0 THEN sig_lo % 65536 WHEN 1 THEN sig_lo // 65536
       |           WHEN 2 THEN sig_hi % 65536 ELSE sig_hi // 65536 END AS v
       |  FROM s, generate_series(0, 3) t(b)),
       |pr AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
       |    a.sig_lo AS lo_a, a.sig_hi AS hi_a, c.sig_lo AS lo_b, c.sig_hi AS hi_b
       |  FROM bd a JOIN bd c ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id),
       |vp AS (SELECT id_a, id_b FROM pr
       |  WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 2),
       |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dups,
       |    min(n_id) AS min_n
       |  FROM (SELECT id_a AS doc_id, id_b AS n_id FROM vp
       |    UNION ALL SELECT id_b, id_a FROM vp) u GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups,
       |  CAST(least(coalesce(min_n, d.doc_id), d.doc_id) AS BIGINT) AS keeper,
       |  CAST(CASE WHEN coalesce(min_n, d.doc_id) < d.doc_id THEN 1 ELSE 0 END
       |    AS INT) AS is_dup
       |FROM documents d LEFT JOIN ne USING (doc_id) ORDER BY doc_id""".stripMargin

  /** d25–d27's builder over one signature codec: synthesize each doc's
    * payload, decode map-side, pin the valid signatures and band them
    * through Dedup.hammingNearDup at radius 2. */
  private def nearDups[T <: Product : TypeTag](synth: Long => Array[Byte],
      decode: (Long, Array[Byte]) => T)(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
      (id, _: Long) => synth(id))
    val sigs = Multimodal.decode(payloads)(decode).toDF()
      .filter(col("valid"))
      .select(col("doc_id"), col("sig_lo"), col("sig_hi"))
      .localCheckpoint()
    Dedup.hammingNearDup(sigs, "doc_id", "sig_lo", "sig_hi", maxHamming = 2)
      .orderBy(col("doc_id"))
  }

  def keys: Seq[QueryKey] = Seq(
    // exact dedup over a simulated duplicate ingest (corpus ∪ re-ingested
    // copy with shifted ids): one hash-shuffle groupBy, keeper = min id.
    QueryKey("d1_exact_dedup",
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY text ORDER BY keeper_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val dup = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val all = docs.select(col("doc_id"), col("text")).union(dup)
      Dedup.exactDedup(all, col("text"), col("doc_id"))
        .select(col("keeper_id"), col("n_copies"))
        .orderBy(col("keeper_id"))
    },

    // normalized dedup: the re-ingested copy is case-mangled and
    // space-padded; normalization folds it onto the original.
    QueryKey("d2_norm_dedup",
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 100000, '  ' || upper(text) FROM documents)
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |ORDER BY keeper_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val dup = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("  "), upper(col("text"))).as("text"))
      val all = docs.select(col("doc_id"), col("text")).union(dup)
      Dedup.exactDedup(all, Dedup.normalized(col("text")), col("doc_id"))
        .select(col("keeper_id"), col("n_copies"))
        .orderBy(col("keeper_id"))
    },

    QueryKey("d3_minhash_lsh",
      s"""WITH $shingleCte
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.lshCandidates(Tables.documents(s, dir), "doc_id", "text", bands = 4, rows = 2)
        .orderBy(col("id_a"), col("id_b"))
    },

    QueryKey("d4_ngram_jaccard",
      s"""WITH $shingleCte
         |SELECT id_a, id_b,
         |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) AS jaccard
         |FROM cand JOIN sh2 x ON id_a = x.doc_id JOIN sh2 y ON id_b = y.doc_id
         |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2)
      Dedup.jaccardVerify(cand, docs, "doc_id", "text", threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    },

    QueryKey("d5_simhash",
      """SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 15), b ->
        |  CASE WHEN list_sum(list_transform(
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')), t ->
        |      CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), 1 + b // 4, 1)) - 1)
        |        // (CASE WHEN b % 4 = 0 THEN 8 WHEN b % 4 = 1 THEN 4
        |                 WHEN b % 4 = 2 THEN 2 ELSE 1 END)) % 2 = 1
        |      THEN 1 ELSE -1 END)) > 0
        |  THEN (1 << (15 - b)) ELSE 0 END)) AS INT) AS simhash
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.simhash16(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // asymmetric CONTAINMENT dedup — the subset-duplication metric d4's
    // Jaccard structurally misses: a short doc wholly quoted inside a
    // long one has containment 1.0 but Jaccard ≈ |A|/|B| → 0, so a
    // Jaccard threshold keeps both copies (the quote/boilerplate-
    // inclusion case CCNet/C4 filter explicitly; DedupSpec plants the
    // asymmetric fixture). Same bounded candidate set as d4; both
    // metrics emitted in integer bp so symmetric vs contained pairs are
    // distinguishable downstream.
    QueryKey("d19_containment",
      s"""WITH $shingleCte,
         |m AS (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS inter,
         |    CAST(len(x.s) AS BIGINT) AS n_a, CAST(len(y.s) AS BIGINT) AS n_b
         |  FROM cand JOIN sh2 x ON id_a = x.doc_id JOIN sh2 y ON id_b = y.doc_id)
         |SELECT id_a, id_b, n_a, n_b,
         |  CAST(inter * 10000 // least(n_a, n_b) AS BIGINT) AS cont_bp,
         |  CAST(inter * 10000 // (n_a + n_b - inter) AS BIGINT) AS jac_bp
         |FROM m WHERE inter * 10000 // least(n_a, n_b) >= 6000
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2)
      Dedup.containmentVerify(cand, docs, "doc_id", "text", minContainBp = 6000L)
        .orderBy(col("id_a"), col("id_b"))
    },

    QueryKey("d6_embed_dup",
      s"""WITH $vecCte,
         |${subSplitCte("label", 1024, 4, 8)}
         |SELECT id_a, id_b, sim FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM vkk a JOIN vkk b ON a.base = b.base AND a.lvl = b.lvl
         |    AND a.sub = b.sub AND a.vec_id < b.vec_id) t
         |WHERE sim > 0.35 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Similarity.cosineDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          "label", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    },

    // exact SUBSTRING-level dedup report (Lee et al. 2021 — the
    // canonical training-data dedup pass; round-7 verdict Missing #1):
    // stride-1 windows of 16 tokens, md5 window fingerprints, a
    // fingerprint in ≥2 distinct docs marks a duplicated span. Stride
    // 1 is the GUARANTEE (every shared ≥16-token run caught at every
    // offset, alignment-free — the hashing form of Lee's suffix-array
    // pass; stride>1 only matches runs aligned mod stride). Finds the
    // verbatim 16-token run shared between two otherwise-unrelated
    // docs that d3/d4/d19/d20 all (correctly, by their own contracts)
    // score far below any document-similarity threshold — PipelineSpec
    // plants exactly that pair and proves d4's Jaccard misses it while
    // this key flags it. Scale shape (PlanSpec-gated): ONE corpus
    // scan, zero joins, three agg-row exchanges — (fp,doc) partial
    // agg, count-over-fp window, per-doc rollup.
    QueryKey("d23_substring_dedup",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd FROM documents),
        |win AS (SELECT doc_id, CASE WHEN i = 0 THEN 's' || CAST(doc_id AS VARCHAR)
        |    ELSE md5(array_to_string(wd[i:i+15], ' ')) END AS fp
        |  FROM (SELECT doc_id, wd, unnest(CASE WHEN len(wd) >= 16
        |      THEN generate_series(1, len(wd) - 15) ELSE [0] END) AS i
        |    FROM w) z),
        |g AS (SELECT fp, doc_id, CAST(count(*) AS BIGINT) AS c FROM win GROUP BY 1, 2),
        |d AS (SELECT fp, doc_id, c, count(*) OVER (PARTITION BY fp) AS nd FROM g),
        |r AS (SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN length(fp) = 32 THEN c END), 0) AS BIGINT) AS n_win,
        |    CAST(coalesce(sum(CASE WHEN length(fp) = 32 AND nd >= 2 THEN c END), 0) AS BIGINT) AS n_dup_win
        |  FROM d GROUP BY doc_id)
        |SELECT doc_id, n_win, n_dup_win,
        |  CAST(CASE WHEN n_win = 0 THEN 0 ELSE n_dup_win * 10000 // n_win END AS BIGINT) AS dup_bp
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.substringDupReport(Tables.documents(s, dir), "doc_id", "text",
          w = 16, stride = 1)
        .orderBy(col("doc_id"))
    },

    // the REMOVAL half of the Lee et al. pass (d23 reports duplicated
    // spans; this key takes them out — round-8 verdict Next #3): shared
    // ≥16-token runs survive in exactly ONE doc (min doc_id keeps its
    // text untouched), every other holder loses exactly the covered
    // tokens, and surviving tokens reassemble in position order with an
    // md5 content proof. PipelineSpec plants the d23 misaligned-copy
    // fixture and checks the keeper's hash is unchanged, the other
    // doc's clean text equals its text minus the run, and clean docs
    // pass through byte-identical. Scale shape in
    // Dedup.substringDedupApply's scaladoc: flagging on aggregate rows
    // (d23's windows + keeper min), only dup-content-sized rows explode
    // into removed positions, one (doc,pos) per-token anti-join shuffle
    // — the same cost class as d23's fingerprint shuffle.
    QueryKey("d24_substring_removal",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd FROM documents),
        |win AS (SELECT doc_id, i, md5(array_to_string(wd[i:i+15], ' ')) AS fp
        |  FROM (SELECT doc_id, wd, unnest(generate_series(1, len(wd) - 15)) AS i
        |    FROM w WHERE len(wd) >= 16) z),
        |g AS (SELECT fp, doc_id, list(i) AS ps FROM win GROUP BY 1, 2),
        |st AS (SELECT fp, doc_id, ps, count(*) OVER (PARTITION BY fp) AS nd,
        |    min(doc_id) OVER (PARTITION BY fp) AS keeper FROM g),
        |fl AS (SELECT doc_id, unnest(ps) AS i FROM st
        |  WHERE nd >= 2 AND doc_id <> keeper),
        |rm AS (SELECT DISTINCT doc_id, p FROM
        |  (SELECT doc_id, unnest(generate_series(i, i + 15)) AS p FROM fl) z2),
        |tok AS (SELECT doc_id, i AS p, wd[i] AS tok
        |  FROM (SELECT doc_id, wd, unnest(generate_series(1, len(wd))) AS i FROM w) z3),
        |kept AS (SELECT doc_id, p, tok FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.doc_id = t.doc_id AND rm.p = t.p)),
        |cl AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS clean FROM kept GROUP BY 1)
        |SELECT w.doc_id, CAST(len(wd) AS INT) AS n_tokens,
        |  CAST(len(wd) - coalesce(n_kept, 0) AS INT) AS n_removed,
        |  CAST(length(coalesce(clean, '')) AS INT) AS clean_len,
        |  md5(coalesce(clean, '')) AS clean_hash
        |FROM w LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.substringDedupApply(Tables.documents(s, dir), "doc_id", "text",
          w = 16, stride = 1)
        .orderBy(col("doc_id"))
    },

    // EXACT set-similarity self-join via prefix filtering (AllPairs/
    // PPJoin) — the zero-false-negative guarantee d3's probabilistic
    // LSH banding cannot give (an eval-decontamination or compliance
    // dedup cannot tolerate missed pairs): EVERY doc pair with
    // shingle-set Jaccard ≥ 0.8 is found, proven by PipelineSpec
    // against brute-force all-pairs truth. Rarest-first global token
    // order keeps prefixes selective — 977 candidates of 124,750
    // possible pairs at sf0.01, max bucket 7 — and the skew guard is
    // inherent (common tokens fall out of prefixes), so no cap is
    // needed and none breaks the contract.
    // baseline: output grows ~quadratically under ScaleUp's cloning,
    // and the completeness contract must verify every pair
    QueryKey("d20_prefix_simjoin",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(wd) >= 3
        |    THEN list_transform(generate_series(1, len(wd)-2), i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
        |    ELSE [] END) AS tk FROM w),
        |t2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM sh WHERE len(tk) > 0),
        |tok AS (SELECT doc_id, n, unnest(tk) AS t FROM t2),
        |df AS (SELECT t, count(*) AS dfreq FROM tok GROUP BY t),
        |rk AS (SELECT doc_id, n, t,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY dfreq, t) AS r
        |  FROM tok JOIN df USING (t)),
        |pref AS (SELECT doc_id, n, t FROM rk WHERE r <= n - (8000 * n + 9999) // 10000 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
        |  WHERE least(a.n, b.n) * 10000 >= 8000 * greatest(a.n, b.n)),
        |v AS (SELECT id_a, id_b,
        |    CAST(len(list_intersect(x.tk, y.tk)) AS BIGINT) AS inter,
        |    CAST(len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS BIGINT) AS uni
        |  FROM cand JOIN t2 x ON id_a = x.doc_id JOIN t2 y ON id_b = y.doc_id)
        |SELECT id_a, id_b, CAST(inter * 10000 // uni AS BIGINT) AS jac_bp
        |FROM v WHERE inter * 10000 >= 8000 * uni
        |ORDER BY id_a, id_b""".stripMargin, baseline = true) { (s, dir) =>
      Dedup.prefixSimJoin(Tables.documents(s, dir), "doc_id", "text",
          tBp = 8000L)
        .orderBy(col("id_a"), col("id_b"))
    },

    // the dedup analog of s17's eval: PRICE the probabilistic/exact
    // trade with numbers instead of theory. d20's prefix join is the
    // zero-false-negative truth (every Jaccard ≥ 0.8 pair); d3's
    // MinHash banding is the cheap probabilistic path (misses a pair
    // with probability (1-t^r)^b). This key measures banding's
    // pair-DISCOVERY recall against the exact truth, and its precision
    // (share of candidates that verify at ≥ 0.8, integer
    // cross-multiplication — no division before the filter). One
    // all-integer summary row. Runs both pipelines ⇒ joins the SF≥1
    // baseline skip set with d20.
    // baseline: runs d20's exact join as its truth
    QueryKey("d21_lsh_recall",
      s"""WITH $shingleCte,
         |t2 AS (SELECT doc_id, s AS tk, CAST(len(s) AS BIGINT) AS n FROM sh2),
         |$prefixCandCtes,
         |truth AS (SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |      CAST(len(list_intersect(x.tk, y.tk)) AS BIGINT) AS inter,
         |      CAST(len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS BIGINT) AS uni
         |    FROM pcand JOIN t2 x ON id_a = x.doc_id JOIN t2 y ON id_b = y.doc_id) z
         |  WHERE inter * 10000 >= 8000 * uni),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
         |found AS (SELECT CAST(count(*) AS BIGINT) AS n_found
         |  FROM truth JOIN cand USING (id_a, id_b)),
         |prec AS (SELECT CAST(count(*) AS BIGINT) AS n_precise FROM (
         |    SELECT CAST(len(list_intersect(x.tk, y.tk)) AS BIGINT) AS inter,
         |      CAST(len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS BIGINT) AS uni
         |    FROM cand JOIN t2 x ON id_a = x.doc_id JOIN t2 y ON id_b = y.doc_id) z
         |  WHERE inter * 10000 >= 8000 * uni)
         |SELECT n_true, n_candidates, n_found, n_precise,
         |  CASE WHEN n_true = 0 THEN CAST(10000 AS BIGINT)
         |       ELSE n_found * 10000 // n_true END AS recall_bp,
         |  CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
         |       ELSE n_precise * 10000 // n_candidates END AS precision_bp
         |FROM nt, nc, found, prec""".stripMargin, baseline = true) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val truth = simTruth(s, dir)
      val cand = Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val sets = Relational.spread(docs, col("doc_id"))
        .select(col("doc_id").as("_id"), Dedup.shingles("text").as("_set"))
        // spread: both verify joins re-derive this shingle build, each
        // otherwise single-task (r15)
      val precise = cand
        .join(sets.toDF("_id", "set_a"), col("id_a") === col("_id")).drop("_id")
        .join(sets.toDF("_id", "set_b"), col("id_b") === col("_id")).drop("_id")
        .withColumn("inter",
          size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        .withColumn("uni",
          (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
        .filter(col("inter") * 10000 >= col("uni") * 8000)
      val nT = truth.agg(count(lit(1)).as("n_true"))
      val nC = cand.agg(count(lit(1)).as("n_candidates"))
      val nF = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
      val nP = precise.agg(count(lit(1)).as("n_precise"))
      nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nF)).crossJoin(broadcast(nP))
        .select(col("n_true"), col("n_candidates"), col("n_found"), col("n_precise"),
          expr("CASE WHEN n_true = 0 THEN CAST(10000 AS BIGINT) " +
            "ELSE n_found * 10000 div n_true END").as("recall_bp"),
          expr("CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n_precise * 10000 div n_candidates END").as("precision_bp"))
    },

    // the LSH S-CURVE made measurable — the banding sweep that
    // completes the tuning-curve trilogy (s18 sweeps nprobe, t17
    // sweeps hash width, this sweeps bands×rows): 8 bands of 1 / 4 of
    // 2 / 2 of 4 over the SAME 8 minhash columns, each config's
    // recall AND verified precision against d20's exact prefix-join
    // truth. One signature pass serves all three configs (tagged
    // explode, Dedup.lshCandidatesSweep); the truth and the shingle
    // sets are checkpointed once. Like d21 it runs the exact join as
    // its truth ⇒ SF≥1 baseline-skip set.
    // baseline: same exact-join truth as d21
    QueryKey("d22_banding_sweep",
      s"""WITH $shingleBase,
         |bandsS AS (
         |  SELECT doc_id, '8x1' AS cfg, CAST(b AS VARCHAR) || ':' || g[b+1] AS k
         |    FROM sig, generate_series(0, 7) t(b)
         |  UNION ALL
         |  SELECT doc_id, '4x2', CAST(b AS VARCHAR) || ':' || g[2*b+1] || g[2*b+2]
         |    FROM sig, generate_series(0, 3) t(b)
         |  UNION ALL
         |  SELECT doc_id, '2x4',
         |    CAST(b AS VARCHAR) || ':' || g[4*b+1] || g[4*b+2] || g[4*b+3] || g[4*b+4]
         |    FROM sig, generate_series(0, 1) t(b)),
         |bandskS AS (SELECT * FROM bandsS
         |  QUALIFY count(*) OVER (PARTITION BY cfg, k) <= 64),
         |candS AS MATERIALIZED (SELECT DISTINCT cfg, a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM bandskS a JOIN bandskS c USING (cfg, k) WHERE a.doc_id < c.doc_id),
         |t2 AS MATERIALIZED (SELECT doc_id, s AS tk, CAST(len(s) AS BIGINT) AS n FROM sh2),
         |$prefixCandCtes,
         |truth AS MATERIALIZED (SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |      CAST(len(list_intersect(x.tk, y.tk)) AS BIGINT) AS inter,
         |      CAST(len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS BIGINT) AS uni
         |    FROM pcand JOIN t2 x ON id_a = x.doc_id JOIN t2 y ON id_b = y.doc_id) z
         |  WHERE inter * 10000 >= 8000 * uni),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
         |agg AS (SELECT cfg, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM candS GROUP BY 1),
         |fnd AS (SELECT cfg, CAST(count(*) AS BIGINT) AS n_found
         |  FROM candS JOIN truth USING (id_a, id_b) GROUP BY 1),
         |prc AS (SELECT cfg, CAST(count(*) AS BIGINT) AS n_precise FROM (
         |    SELECT cfg,
         |      CAST(len(list_intersect(x.tk, y.tk)) AS BIGINT) AS inter,
         |      CAST(len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS BIGINT) AS uni
         |    FROM candS JOIN t2 x ON id_a = x.doc_id JOIN t2 y ON id_b = y.doc_id) z
         |  WHERE inter * 10000 >= 8000 * uni GROUP BY 1)
         |SELECT agg.cfg, n_true, n_candidates,
         |  CAST(coalesce(n_found, 0) AS BIGINT) AS n_found,
         |  CAST(coalesce(n_precise, 0) AS BIGINT) AS n_precise,
         |  CASE WHEN n_true = 0 THEN CAST(10000 AS BIGINT)
         |       ELSE coalesce(n_found, 0) * 10000 // n_true END AS recall_bp,
         |  CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
         |       ELSE coalesce(n_precise, 0) * 10000 // n_candidates END AS precision_bp
         |FROM agg LEFT JOIN fnd USING (cfg) LEFT JOIN prc USING (cfg)
         |CROSS JOIN nt ORDER BY agg.cfg""".stripMargin, baseline = true) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val truth = simTruth(s, dir)
      val cand = Dedup.lshCandidatesSweep(docs, "doc_id", "text",
          configs = Seq((8, 1), (4, 2), (2, 4))).localCheckpoint()
      val sets = Relational.spread(docs, col("doc_id"))
        .select(col("doc_id").as("_id"), Dedup.shingles("text").as("_set"))
        .localCheckpoint() // spread: shingle build otherwise single-task (r15)
      val nT = truth.agg(count(lit(1)).as("n_true"))
      // the config candidate sets NEST ((2,4) ⊆ (4,2) ⊆ (8,1): a
      // matching slot-pair implies its matching slots), so the exact
      // Jaccard verification runs ONCE per distinct pair and each
      // config's precise count attributes by membership — not once per
      // (config, pair)
      val verified = cand.select(col("id_a"), col("id_b")).distinct()
        .join(sets.toDF("_id", "set_a"), col("id_a") === col("_id")).drop("_id")
        .join(sets.toDF("_id", "set_b"), col("id_b") === col("_id")).drop("_id")
        .withColumn("inter",
          size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        .withColumn("uni",
          (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
        .filter(col("inter") * 10000 >= col("uni") * 8000)
        .select(col("id_a"), col("id_b"))
      // ONE tagged pass over the checkpointed candidates (r16, was
      // three: a groupBy plus two semi-join+groupBy legs each rescanned
      // cand): truth and verified are bounded pair sets with unique
      // keys, so left-join markers preserve candidate multiplicity and
      // sum(marker) ≡ the semi-join counts.
      val perCfg = cand
        .join(broadcast(truth.withColumn("_t", lit(1L))),
          Seq("id_a", "id_b"), "left")
        .join(broadcast(verified.withColumn("_v", lit(1L))),
          Seq("id_a", "id_b"), "left")
        .groupBy(col("cfg"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(col("_t")), lit(0L)).as("n_found"),
          coalesce(sum(col("_v")), lit(0L)).as("n_precise"))
      perCfg
        .crossJoin(broadcast(nT))
        .select(col("cfg"), col("n_true"), col("n_candidates"), col("n_found"),
          col("n_precise"),
          expr("CASE WHEN n_true = 0 THEN CAST(10000 AS BIGINT) " +
            "ELSE n_found * 10000 div n_true END").as("recall_bp"),
          expr("CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n_precise * 10000 div n_candidates END").as("precision_bp"))
        .orderBy(col("cfg"))
    },

    // LABEL-FREE embedding dedup — the 100 TB blocking path: a real
    // corpus has no label column, so the block key is itself a sign-LSH
    // bucket (4 bits) and cosineDupPairs' sub-split refines any over-cap
    // bucket on (8, 12) bits. Same guard/pairing machinery as d6, but
    // nothing about the data model is assumed beyond the vectors —
    // candidate pairs are sign-compatible by construction (cos > 0.35
    // pairs overwhelmingly agree on leading-dim signs), and the pair
    // fan-out is capped per effective bucket exactly as in d6.
    QueryKey("d17_embed_dedup_global",
      s"""WITH $vecCte,
         |${subSplitCte(
            "CAST(list_sum(list_transform(generate_series(0, 3), i -> " +
            "CASE WHEN coalesce(e[i+1], 1) >= 0 THEN (1 << i) ELSE 0 END)) AS INT)",
            1024, 8, 12)}
         |SELECT id_a, id_b, sim FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM vkk a JOIN vkk b ON a.base = b.base AND a.lvl = b.lvl
         |    AND a.sub = b.sub AND a.vec_id < b.vec_id) t
         |WHERE sim > 0.35 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
        .withColumn("sb", Similarity.signBucket("embedding", 4))
      Similarity.cosineDupPairs(vecs, "vec_id", "embedding", "sb",
          threshold = 0.35, maxBlock = 1024, splitBits = (8, 12))
        .orderBy(col("id_a"), col("id_b"))
    },

    // INCREMENTAL dedup — the nightly-crawl shape: the day's new batch
    // (doc_id ≡ 4 mod 5, ~20%) is deduped against the already-indexed
    // corpus without EVER re-pairing the index against itself — pure-
    // index LSH buckets never explode and index×index pairs never emit
    // (asserted in RegressionSpec), so a day's increment costs
    // O(|new|·bucket), not a corpus-wide re-dedup. Verified candidates
    // carry which channel they came from (new-new vs new-index) — the
    // split an ingest monitor alerts on (new-new spikes = a duplicated
    // crawl frontier; new-index spikes = re-crawling known content).
    // baseline: output grows ~quadratically under ScaleUp's cloning
    QueryKey("d18_incremental_dedup",
      s"""WITH $shingleBase,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM bandsk a JOIN bandsk c USING (k)
         |  WHERE a.doc_id < c.doc_id AND (a.doc_id % 5 = 4 OR c.doc_id % 5 = 4)),
         |j AS (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) AS jaccard
         |  FROM cand JOIN sh2 x ON id_a = x.doc_id JOIN sh2 y ON id_b = y.doc_id)
         |SELECT id_a, id_b, jaccard,
         |  CASE WHEN id_a % 5 = 4 AND id_b % 5 = 4 THEN 'new-new' ELSE 'new-index' END AS kind
         |FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin, baseline = true) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = Dedup.lshCandidatesIncremental(docs, "doc_id", "text",
        bands = 4, rows = 2, v => s"$v % 5 = 4")
      Dedup.jaccardVerify(cand, docs, "doc_id", "text", threshold = 0.3)
        .withColumn("kind",
          when(col("id_a") % 5 === 4 && col("id_b") % 5 === 4, "new-new")
            .otherwise("new-index"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // end-to-end near-dup removal: LSH candidates → Jaccard verify →
    // drop the higher id of each verified pair (left-anti join).
    QueryKey("d7_dedup_apply",
      s"""WITH $shingleCte,
         |dups AS (SELECT DISTINCT id_b AS drop_id
         |  FROM cand JOIN sh2 x ON id_a = x.doc_id JOIN sh2 y ON id_b = y.doc_id
         |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) >= 0.5)
         |SELECT doc_id, n_chars FROM documents
         |WHERE NOT EXISTS (SELECT 1 FROM dups WHERE drop_id = doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2)
      val dups = Dedup.jaccardVerify(cand, docs, "doc_id", "text", threshold = 0.5)
        .select(col("id_b").as("drop_id")).distinct()
      docs.join(dups, col("doc_id") === col("drop_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // near-dup GROUP assembly: verified pairs → connected components →
    // (doc, component) membership. The step after pair generation in a
    // real dedup pipeline: keep one doc per component.
    QueryKey("d9_dedup_groups",
      s"""WITH RECURSIVE $shingleCte,
         |vp AS (SELECT id_a, id_b
         |  FROM cand JOIN sh2 x ON id_a = x.doc_id JOIN sh2 y ON id_b = y.doc_id
         |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
         |reach(id, l) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.l FROM e JOIN reach ON e.b = reach.id)
         |SELECT id, min(l) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2)
      val dups = Dedup.jaccardVerify(cand, docs, "doc_id", "text", threshold = 0.5)
      Graph.connectedComponents(dups.select(col("id_a"), col("id_b")))
        .orderBy(col("id"))
    },

    // bloom-filter membership pre-filter for incremental dedup — the
    // bounded-memory way to ask "was this doc already ingested?" at
    // 100 TB. The reference half of the corpus (even sources) builds a
    // 2016-bit bloom (32 longs × 63 usable bits; 63 because DuckDB's
    // BIGINT << 63 overflows, and the oracle must run the identical
    // arithmetic) from k=4 md5-derived probe positions; the incoming
    // half (odd sources) probes it through a broadcast of the 32-row
    // sketch. Exact membership joins back in, so the result PROVES
    // bloom_hit ⊇ exact_hit and surfaces every false positive. Scale
    // shape: sketch size is O(m) at any corpus size; the build is one
    // partial-agg shuffle of ≤ 32 rows per partition (bit_or combines
    // map-side); the probe never shuffles the incoming half.
    QueryKey("d12_bloom_dedup",
      """WITH keyed AS (SELECT doc_id,
        |    md5(array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:6], ' ')) AS k,
        |    CAST(substr(source, 4) AS INT) % 2 AS half
        |  FROM documents),
        |ref AS (SELECT DISTINCT k FROM keyed WHERE half = 0),
        |inc AS (SELECT doc_id, k FROM keyed WHERE half = 1),
        |rpos AS (SELECT k,
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 256 +
        |     (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)) % 2016 AS pos
        |  FROM (SELECT k, md5('bf' || CAST(t.g AS VARCHAR) || '|' || k) AS h
        |    FROM ref, LATERAL unnest(generate_series(0, 3)) t(g)) a),
        |bloom AS (SELECT CAST(pos // 63 AS INT) AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
        |  FROM rpos GROUP BY 1),
        |ipos AS (SELECT doc_id, k,
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 256 +
        |     (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)) % 2016 AS pos
        |  FROM (SELECT doc_id, k, md5('bf' || CAST(t.g AS VARCHAR) || '|' || k) AS h
        |    FROM inc, LATERAL unnest(generate_series(0, 3)) t(g)) a),
        |probed AS (SELECT doc_id, k,
        |    CASE WHEN sum((coalesce(b.bits, 0) >> CAST(pos % 63 AS INT)) & 1) = 4
        |      THEN 1 ELSE 0 END AS bloom_hit
        |  FROM ipos LEFT JOIN bloom b ON CAST(pos // 63 AS INT) = b.word
        |  GROUP BY doc_id, k)
        |SELECT doc_id, CAST(bloom_hit AS INT) AS bloom_hit,
        |  CAST(CASE WHEN r.k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit,
        |  CAST(CASE WHEN bloom_hit = 1 AND r.k IS NULL THEN 1 ELSE 0 END AS INT) AS is_fp
        |FROM probed p LEFT JOIN ref r ON p.k = r.k
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        expr("md5(array_join(slice(split(trim(text), '\\\\s+'), 1, 6), ' '))").as("k"),
        expr("CAST(substring(source, 4) AS INT) % 2").as("half"))
      def positions(d: DataFrame): DataFrame = d
        .withColumn("h", explode(array((0 until 4).map(lit): _*)))
        .withColumn("_hex", expr("md5(concat('bf', CAST(h AS STRING), '|', k))"))
        .withColumn("pos", expr(
          "((instr('0123456789abcdef', substring(_hex, 1, 1)) - 1) * 256 + " +
          "(instr('0123456789abcdef', substring(_hex, 2, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(_hex, 3, 1)) - 1)) % 2016"))
      val ref = keyed.filter(col("half") === 0).select(col("k")).distinct()
      val bloom = positions(ref)
        .groupBy(expr("CAST(pos div 63 AS INT)").as("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))").as("bits"))
      val inc = keyed.filter(col("half") === 1).select(col("doc_id"), col("k"))
      val probed = positions(inc)
        .withColumn("word", expr("CAST(pos div 63 AS INT)"))
        .join(broadcast(bloom), Seq("word"), "left")
        .withColumn("bit", expr(
          "CAST(shiftright(coalesce(bits, CAST(0 AS BIGINT)), CAST(pos % 63 AS INT)) & 1 AS INT)"))
        .groupBy(col("doc_id"), col("k"))
        .agg((sum(col("bit")) === 4).cast("int").as("bloom_hit"))
      probed
        .join(ref.withColumn("_e", lit(1)), Seq("k"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("_e"), lit(0)).cast("int").as("exact_hit"))
        .withColumn("is_fp", (col("bloom_hit") === 1 && col("exact_hit") === 0).cast("int"))
        .orderBy(col("doc_id"))
    },

    // cluster-level semantic dedup / diversification: assign every
    // embedding to its nearest centroid cell and keep ONE representative
    // per cell (min id) — the "semantic dedup" pass that thins
    // over-represented regions of a training corpus, where pairwise
    // near-dup search (d6) only removes near-copies. Output is the
    // per-cell census: members, keeper, and how many distinct source
    // labels the cell collapses. Scale shape: the codebook broadcasts;
    // assignment is a map-side cosine + ONE max_by partial-agg shuffle
    // (one row per vector, no window sort); the census re-joins labels
    // on the co-keyed vec_id.
    QueryKey("d14_cluster_dedup",
      s"""WITH $vecCte,
         |c AS (SELECT vec_id AS cent_id, e AS c_vec, n2 AS c_n2 FROM v WHERE vec_id < 8),
         |asg0 AS (SELECT a.vec_id, c.cent_id,
         |    round(list_sum(list_transform(generate_series(1, len(a.e)), i ->
         |      CAST(a.e[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE))) / sqrt(a.n2 * c.c_n2), 6) AS csim
         |  FROM v a CROSS JOIN c),
         |asg AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS arn
         |  FROM asg0),
         |cells AS (SELECT vec_id, cent_id AS cell FROM asg WHERE arn = 1)
         |SELECT cell, count(*) AS n_members, min(cl.vec_id) AS keeper_id,
         |  count(DISTINCT e2.label) AS n_labels
         |FROM cells cl JOIN embeddings e2 ON cl.vec_id = e2.vec_id
         |GROUP BY cell ORDER BY cell""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val cents = vecs.filter(col("vec_id") < 8)
      Similarity.assignCells(vecs, cents, "vec_id", "embedding")
        .join(vecs.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("keeper_id"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy(col("cell"))
    },

    // fuzzy entity resolution: edit-distance join of noisy entity names
    // onto their canonical forms — record linkage where exact keys
    // fail. Names are a deterministic typo fixture (drop/double/swap a
    // character, one variant beyond the distance bound so the negative
    // path is exercised). The join is BLOCKED on the numeric suffix, so
    // levenshtein runs on block-mates only — at 100 TB the blocking key
    // bounds candidates per name; an unblocked fuzzy join is quadratic
    // and never acceptable. Scale shape: equi-join on the block key
    // (AQE may broadcast the canonical side), codegen'd levenshtein,
    // one partial-agg shuffle for the census.
    QueryKey("d15_fuzzy_join",
      """WITH named AS (SELECT doc_id,
        |    CASE CAST(doc_id // 30 AS INT) % 4
        |      WHEN 0 THEN 'node-' || CAST(doc_id % 30 AS VARCHAR)
        |      WHEN 1 THEN 'node' || CAST(doc_id % 30 AS VARCHAR)
        |      WHEN 2 THEN 'node--' || CAST(doc_id % 30 AS VARCHAR)
        |      ELSE 'n0dd' || CAST(doc_id % 30 AS VARCHAR)
        |    END AS name
        |  FROM documents),
        |b AS (SELECT doc_id, name, regexp_extract(name, '[0-9]+$') AS blk FROM named),
        |canon AS (SELECT DISTINCT blk, 'node-' || blk AS canonical FROM b)
        |SELECT canonical, count(*) AS n_names,
        |  CAST(sum(CASE WHEN levenshtein(name, canonical) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(max(levenshtein(name, canonical)) AS INT) AS max_lev
        |FROM b JOIN canon USING (blk)
        |GROUP BY canonical ORDER BY canonical""".stripMargin) { (s, dir) =>
      val name =
        "CASE CAST(doc_id div 30 AS INT) % 4 " +
        "WHEN 0 THEN concat('node-', CAST(doc_id % 30 AS STRING)) " +
        "WHEN 1 THEN concat('node', CAST(doc_id % 30 AS STRING)) " +
        "WHEN 2 THEN concat('node--', CAST(doc_id % 30 AS STRING)) " +
        "ELSE concat('n0dd', CAST(doc_id % 30 AS STRING)) END"
      val named = Tables.documents(s, dir)
        .withColumn("name", expr(name))
        .withColumn("blk", expr("regexp_extract(name, '[0-9]+$', 0)"))
      val canon = named.select(col("blk")).distinct()
        .withColumn("canonical", concat(lit("node-"), col("blk")))
      named.join(canon, Seq("blk"))
        .withColumn("lev", levenshtein(col("name"), col("canonical")))
        .withColumn("matched", (col("lev") <= 2).cast("int"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_names"),
          expr("CAST(sum(matched) AS BIGINT)").as("n_matched"),
          max(col("lev")).as("max_lev"))
        .orderBy(col("canonical"))
    },

    // dedup signal attribution: the audit a multi-signal pipeline runs
    // before trusting its channels — every pair flagged by the LEXICAL
    // channel (LSH→Jaccard) or the EMBEDDING channel (blocked cosine),
    // full-outer reconciled with per-channel flags and scores. On this
    // corpus the channels are disjoint (text dups and semantic
    // neighbors are different populations) — exactly what the audit is
    // for. Scale shape: both inputs are the already-bounded candidate
    // outputs (d4/d6 shapes); the reconciliation join is tiny.
    QueryKey("d16_signal_audit",
      s"""WITH $shingleCte,
         |$vecCte,
         |lex AS (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) AS jaccard
         |  FROM cand JOIN sh2 x ON id_a = x.doc_id JOIN sh2 y ON id_b = y.doc_id
         |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) >= 0.3),
         |${subSplitCte("label", 1024, 4, 8)},
         |emb AS (SELECT id_a, id_b, sim FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |    FROM vkk a JOIN vkk b ON a.base = b.base AND a.lvl = b.lvl
         |      AND a.sub = b.sub AND a.vec_id < b.vec_id) t
         |  WHERE sim > 0.35)
         |SELECT coalesce(l.id_a, e.id_a) AS id_a, coalesce(l.id_b, e.id_b) AS id_b,
         |  l.jaccard, e.sim,
         |  CAST(CASE WHEN l.jaccard IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_lex,
         |  CAST(CASE WHEN e.sim IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_emb
         |FROM lex l FULL OUTER JOIN emb e ON l.id_a = e.id_a AND l.id_b = e.id_b
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2)
      val lex = Dedup.jaccardVerify(cand, docs, "doc_id", "text", threshold = 0.3)
      val emb = Similarity.cosineDupPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", threshold = 0.35)
      lex.join(emb, Seq("id_a", "id_b"), "full_outer")
        .select(col("id_a"), col("id_b"), col("jaccard"), col("sim"),
          col("jaccard").isNotNull.cast("int").as("in_lex"),
          col("sim").isNotNull.cast("int").as("in_emb"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // URL canonicalization dedup — the first pass of any web-crawl
    // pipeline: scheme/host case-folding, default-port stripping,
    // tracking-parameter removal, trailing-slash normalization, then
    // an exact group-by on the canonical form. URLs are a per-doc
    // deterministic fixture (three variant spellings per canonical
    // target, driven by doc_id — same synthesize-then-process pattern
    // as t9/m20); the oracle canonicalizes identically, so a
    // normalization bug splits a group and breaks the hash. No
    // lookaheads in the regexes — RE2 (DuckDB) has none, so the rules
    // stay in the Java∩RE2 common subset. Scale shape: map-only
    // string ops, one partial-agg shuffle on the canonical key.
    QueryKey("d13_url_dedup",
      """WITH u AS (SELECT doc_id,
        |    CASE CAST(doc_id // 40 AS INT) % 3
        |      WHEN 0 THEN 'http://www.site' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/path/' || CAST(doc_id % 40 AS VARCHAR)
        |      WHEN 1 THEN 'HTTP://WWW.Site' || CAST(doc_id % 40 AS VARCHAR) || '.Example.COM:80/path/' || CAST(doc_id % 40 AS VARCHAR)
        |      ELSE 'http://www.site' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/path/' || CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=feed'
        |    END AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    regexp_replace(regexp_replace(replace(lower(url), ':80/', '/'),
        |      '\?utm_[a-z_]+=[a-z]*$', ''), '/$', '') AS canonical
        |  FROM u)
        |SELECT canonical, count(*) AS n_urls,
        |  count(DISTINCT url) AS n_raw_variants,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin) { (s, dir) =>
      val url =
        "CASE CAST(doc_id div 40 AS INT) % 3 " +
        "WHEN 0 THEN concat('http://www.site', CAST(doc_id % 40 AS STRING), '.example.com/path/', CAST(doc_id % 40 AS STRING)) " +
        "WHEN 1 THEN concat('HTTP://WWW.Site', CAST(doc_id % 40 AS STRING), '.Example.COM:80/path/', CAST(doc_id % 40 AS STRING)) " +
        "ELSE concat('http://www.site', CAST(doc_id % 40 AS STRING), '.example.com/path/', CAST(doc_id % 40 AS STRING), '/?utm_source=feed') END"
      Tables.documents(s, dir)
        .withColumn("url", expr(url))
        .withColumn("canonical", expr(
          "regexp_replace(regexp_replace(replace(lower(url), ':80/', '/'), " +
          "'\\\\?utm_[a-z_]+=[a-z]*$', ''), '/$', '')"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_raw_variants"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("canonical"))
    },

    // training-sample manifest assembly: one JSON manifest line per
    // sample joining all three modality tables — document metadata,
    // embedding dimensionality, decoded image container metadata (the
    // REAL PNG/JPEG header parse behind x1). The deterministic
    // serialization contract (fixed struct field order, m6's escaping
    // rules) makes the manifest hashable: the oracle re-derives the
    // exact JSON text arithmetically. Scale shape: two co-keyed joins
    // on doc_id (no broadcast assumption — both sides are corpus-sized
    // at 100 TB; AQE picks the strategy), map-side to_json, no windows.
    QueryKey("x9_sample_manifest",
      """WITH m AS (SELECT d.doc_id, d.lang, d.source, d.n_chars,
        |    CAST(len(e.embedding) AS INT) AS dim,
        |    CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |    CAST(d.doc_id % 640 + 16 AS INT) AS w, CAST(d.doc_id % 480 + 16 AS INT) AS h
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |j AS (SELECT doc_id,
        |    '{"doc_id":' || CAST(doc_id AS VARCHAR) || ',"lang":"' || lang ||
        |    '","source":"' || source || '","n_chars":' || CAST(n_chars AS VARCHAR) ||
        |    ',"dim":' || CAST(dim AS VARCHAR) || ',"format":"' || fmt ||
        |    '","width":' || CAST(w AS VARCHAR) || ',"height":' || CAST(h AS VARCHAR) || '}'
        |      AS manifest
        |  FROM m)
        |SELECT doc_id, manifest, md5(manifest) AS manifest_md5
        |FROM j ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val payloads = Multimodal.synthesize(docs, "n_chars")(Multimodal.synthImage)
      val meta = Multimodal.decode(payloads)(Multimodal.decodeHeader).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"))
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), size(col("embedding")).cast("int").as("dim"))
      docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .join(emb, Seq("doc_id"))
        .join(meta, Seq("doc_id"))
        .withColumn("manifest", to_json(struct(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("dim"), col("format"), col("width"), col("height"))))
        .select(col("doc_id"), col("manifest"), md5(col("manifest")).as("manifest_md5"))
        .orderBy(col("doc_id"))
    },

    // corpus-wide kNN graph (the input to graph-based clustering and
    // connectivity-based dedup): every vector's top-3 neighbors WITHIN
    // its effective sign-LSH bucket, plus degree and reciprocity stats.
    // Scale guards: buckets over 256 vectors SUB-SPLIT on further sign
    // bits (4 base bits → 8 → 12 via subSplitBlocks) instead of being
    // dropped — at 100× corpus every 4-bit bucket blows the cap, and
    // drop-semantics would silently return an EMPTY graph; with the
    // refinement the pair fan-out stays ≤cap²/bucket while every
    // sign-separable vector keeps its neighbors (only an exact-dup sign
    // pile is dropped, the irreducible guard). Ranking rides TopNPerKey
    // bounded heaps; the edge list (≤3·n rows) is localCheckpoint-
    // materialized (d9 precedent) so the stats and reciprocity branches
    // don't re-evaluate the candidate pipeline. Reciprocity is an
    // unordered-pair groupBy (count=2 ⇒ mutual), not a self-join.
    QueryKey("s9_knn_graph",
      s"""WITH $knnTopCte,
         |mut AS (SELECT least(id_a, id_b) AS pa, greatest(id_a, id_b) AS pb
         |  FROM top GROUP BY 1, 2 HAVING count(*) = 2),
         |mpv AS (SELECT id AS vec_id, CAST(count(*) AS INT) AS nm FROM (
         |    SELECT pa AS id FROM mut UNION ALL SELECT pb AS id FROM mut) u GROUP BY id)
         |SELECT t.id_a AS vec_id, CAST(count(*) AS INT) AS degree,
         |  min(CASE WHEN rn2 = 1 THEN id_b END) AS nn_id,
         |  max(CASE WHEN rn2 = 1 THEN sim END) AS nn_sim,
         |  CAST(coalesce(any_value(m.nm), 0) AS INT) AS n_mutual
         |FROM (SELECT id_a, id_b, sim,
         |    row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn2
         |  FROM top) t
         |LEFT JOIN mpv m ON t.id_a = m.vec_id
         |GROUP BY t.id_a ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val top = knnTopEdges(s, dir)
      val mutualPerVec = top
        .groupBy(least(col("id_a"), col("id_b")).as("pa"),
          greatest(col("id_a"), col("id_b")).as("pb"))
        .agg(count(lit(1)).as("_c")).filter(col("_c") === 2)
        .select(explode(array(col("pa"), col("pb"))).as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).cast("int").as("n_mutual"))
      top.groupBy(col("id_a").as("vec_id"))
        .agg(count(lit(1)).cast("int").as("degree"),
          max_by(col("id_b"), struct(col("sim"), (-col("id_b")).as("_n"))).as("nn_id"),
          max(col("sim")).as("nn_sim"))
        .join(mutualPerVec, Seq("vec_id"), "left")
        .withColumn("n_mutual", coalesce(col("n_mutual"), lit(0)))
        .orderBy(col("vec_id"))
    },

    // graph centrality over the kNN graph — integer PageRank
    // (Graph.pageRank), the standard "which samples anchor dense
    // semantic regions" signal (curation keeps/weights central
    // exemplars, prunes satellites). Scale shape: the edge list is
    // built ONCE (s9's bucketed pipeline, bounded heaps) and
    // checkpointed — each iteration is one broadcast-size join + one
    // partial-agg groupBy on the EDGE table (3 rows per vector), never
    // back to the embedding corpus.
    QueryKey("s10_graph_rank",
      s"""WITH $knnTopCte,
         |outd AS (SELECT id_a, CAST(count(*) AS BIGINT) AS outdeg FROM top GROUP BY 1),
         |ind AS (SELECT id_b, CAST(count(*) AS INT) AS indeg FROM top GROUP BY 1),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM top UNION ALL SELECT id_b FROM top) u),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |${prIterCte("r0", "r1")},
         |${prIterCte("r1", "r2")},
         |${prIterCte("r2", "r3")}
         |SELECT n.id AS vec_id, CAST(COALESCE(ind.indeg, 0) AS INT) AS in_deg,
         |  CAST(COALESCE(outd.outdeg, 0) AS INT) AS out_deg, r3.r AS rank_e6
         |FROM nodes n LEFT JOIN ind ON n.id = ind.id_b
         |LEFT JOIN outd ON n.id = outd.id_a
         |JOIN r3 ON n.id = r3.id
         |ORDER BY rank_e6 DESC, vec_id""".stripMargin) { (s, dir) =>
      val top = knnTopEdges(s, dir)
      val ind = top.groupBy(col("id_b").as("id"))
        .agg(count(lit(1)).cast("int").as("in_deg"))
      Graph.pageRank(top.select(col("id_a").as("src"), col("id_b").as("dst")))
        .join(ind, Seq("id"), "left")
        .select(col("id").as("vec_id"), coalesce(col("in_deg"), lit(0)).as("in_deg"),
          col("out_deg").cast("int").as("out_deg"), col("r").as("rank_e6"))
        .orderBy(col("rank_e6").desc, col("vec_id"))
    },

    // result-set diversity evaluation: average/max pairwise cosine
    // WITHIN each query's top-k — the redundancy measure an MMR-style
    // diversifier optimizes. Scale shape: pairs are generated IN-ROW
    // from each query's collected k-neighbor list (k structs per query,
    // k(k-1)/2 in-row pairs) — the top-k result is never self-joined,
    // so nothing re-evaluates the candidate pipeline twice (CLAUDE.md
    // branch-reuse trap). Per-pair cosines are floored to integer basis
    // points before the per-query sum (order-free), with ONE final
    // division for the average.
    // baseline: brute-force diversity input
    QueryKey("s8_topk_diversity",
      s"""WITH $vecCte,
         |q AS (SELECT * FROM v WHERE vec_id % 50 = 0),
         |sims AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM v a CROSS JOIN q b WHERE a.vec_id <> b.vec_id),
         |topk AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM sims) t WHERE rnk <= 5),
         |pq AS (SELECT t.query_id, t.neighbor_id, v.e, v.n2
         |  FROM topk t JOIN v ON t.neighbor_id = v.vec_id),
         |pairs AS (SELECT a.query_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS c
         |  FROM pq a JOIN pq b
         |    ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id)
         |SELECT query_id, CAST(count(*) AS INT) AS n_pairs,
         |  CAST(sum(CAST(floor(c * 10000) AS BIGINT)) AS BIGINT) AS sum_bp,
         |  max(c) AS max_pair_sim,
         |  CAST(CAST(sum(CAST(floor(c * 10000) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / (count(*) * 10000) AS avg_pair_sim
         |FROM pairs GROUP BY query_id ORDER BY query_id""".stripMargin, baseline = true) { (s, dir) =>
      import graft.functions.VectorFunctions
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      val topk = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      val nb = topk
        .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec")),
          Seq("neighbor_id"))
        .groupBy(col("query_id"))
        .agg(expr("array_sort(collect_list(struct(neighbor_id, nvec)))").as("nbs"))
        .filter(size(col("nbs")) >= 2)
      nb.select(col("query_id"), explode(expr(
          "flatten(transform(sequence(1, size(nbs) - 1), i -> " +
          "transform(sequence(0, i - 1), j -> struct(nbs[j] AS a, nbs[i] AS b))))")).as("p"))
        .select(col("query_id"),
          round(VectorFunctions.cosine(col("p.a.nvec"), col("p.b.nvec")), 6).as("c"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).cast("int").as("n_pairs"),
          expr("CAST(sum(CAST(floor(c * 10000) AS BIGINT)) AS BIGINT)").as("sum_bp"),
          max(col("c")).as("max_pair_sim"))
        .withColumn("avg_pair_sim",
          col("sum_bp").cast("double") / (col("n_pairs") * 10000))
        .orderBy(col("query_id"))
    },

    // archive-index extraction from REAL tar bytes: valid 2-member
    // ustar archives synthesized per doc (ASCII-octal size fields,
    // spec checksums, 512-byte blocking, zero-block terminator), then
    // the member index — names, octal-parsed sizes, verified checksums —
    // walked back out of the actual header chain. The training-data
    // relevance: web corpora arrive as tar/warc containers, and the
    // index walk is the first op of any shard reader. The oracle
    // predicts every decoded field arithmetically, so a parser bug
    // (octal, checksum blanking, block advance) breaks the hash.
    QueryKey("x10_tar_index",
      """SELECT doc_id, CAST(3072 AS INT) AS byte_len, CAST(2 AS INT) AS n_members,
        |  'doc' || CAST(doc_id AS VARCHAR) || '.txt,meta' || CAST(doc_id AS VARCHAR) || '.json'
        |    AS member_names,
        |  CAST((n_chars % 100 + 1) + (doc_id % 50 + 2) AS BIGINT) AS data_bytes,
        |  CAST(1 AS INT) AS checksums_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthTar)
      Multimodal.decode(payloads)(Multimodal.decodeTarIndex).toDF()
        .orderBy(col("doc_id"))
    },

    // zip shard index — x10's twin for the OTHER container training
    // shards ship in: synthesize a real 2-member STORED zip per doc
    // (CRC-32s, central directory, EOCD), then index it the way a real
    // unzip does — backward EOCD scan, central-directory walk, local-
    // header cross-check, CRC recompute. Same Multimodal.decode map
    // as every x-decoder; payload bytes never shuffle (the index rows
    // do). Oracle derives every field arithmetically from doc_id /
    // n_chars (fixed 30/46/22-byte zip overheads + name lengths).
    QueryKey("x11_zip_index",
      // byte_len: 2 local headers (30+name) + data + 2 central entries
      // (46+name) + EOCD 22, names doc<id>.txt (7+digits) and
      // meta<id>.json (9+digits) = 206 + 4*digits + s1 + s2
      """SELECT doc_id,
        |  CAST(206 + 4 * length(CAST(doc_id AS VARCHAR))
        |    + (n_chars % 100 + 1) + (doc_id % 50 + 2) AS INT) AS byte_len,
        |  CAST(2 AS INT) AS n_members,
        |  'doc' || CAST(doc_id AS VARCHAR) || '.txt,meta' || CAST(doc_id AS VARCHAR) || '.json'
        |    AS member_names,
        |  CAST((n_chars % 100 + 1) + (doc_id % 50 + 2) AS BIGINT) AS data_bytes,
        |  CAST(1 AS INT) AS crc_ok, CAST(1 AS INT) AS structure_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthZip)
      Multimodal.decode(payloads)(Multimodal.decodeZipIndex).toDF()
        .orderBy(col("doc_id"))
    },

    // WARC shard index — the tar/zip TRIPLET's third container, and the
    // one web-scale training text actually ships in (CommonCrawl's
    // ISO 28500 format): synthesize a real WARC/1.0 shard per doc
    // (warcinfo + two response records, CRLF headers, Content-Length
    // delimited bodies, CRLF CRLF terminators), then walk it the way a
    // real WARC reader does — version line, header scan, exact payload
    // skip, terminator check. Same Multimodal.decode map as every
    // x-decoder; payload bytes never shuffle. Oracle predicts every
    // field arithmetically (243 + 2·digits + len(s1) + len(s2) + s1 +
    // s2 byte length), so an off-by-one in the walk breaks the hash.
    QueryKey("x12_warc_index",
      // byte_len: warcinfo 60 + two responses at 74 + len(uri) +
      // len(str(size)) + size, uris 17+digits and 18+digits
      """SELECT doc_id,
        |  CAST(243 + 2 * length(CAST(doc_id AS VARCHAR))
        |    + length(CAST(n_chars % 100 + 1 AS VARCHAR))
        |    + length(CAST(doc_id % 50 + 2 AS VARCHAR))
        |    + (n_chars % 100 + 1) + (doc_id % 50 + 2) AS INT) AS byte_len,
        |  CAST(3 AS INT) AS n_records, CAST(2 AS INT) AS n_responses,
        |  'http://ex.org/doc' || CAST(doc_id AS VARCHAR) ||
        |    ',http://ex.org/meta' || CAST(doc_id AS VARCHAR) AS uris,
        |  CAST((n_chars % 100 + 1) + (doc_id % 50 + 2) AS BIGINT) AS content_bytes,
        |  CAST(1 AS INT) AS structure_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthWarc)
      Multimodal.decode(payloads)(Multimodal.decodeWarcIndex).toDF()
        .orderBy(col("doc_id"))
    },

    // HTML→TEXT extraction (the round-10 verdict's #1 gap — the
    // most-executed op of a real web pipeline: every WARC response
    // body passes through it between x12's container index and every
    // t-family gate): WARC shards carry deterministic HTML pages
    // (script/style blocks, a content paragraph, a link-dense nav
    // div planted by formula), the x12 record walk hands the response
    // BODY to the extractor, and HtmlText.extract applies
    // script/style strip + tag strip + the 50% link-density
    // boilerplate rule in the Java∩RE2 regex subset — the DuckDB
    // oracle rebuilds the identical page with concat and runs the
    // identical patterns, so a tag-strip off-by-one breaks kept_md5.
    // Scale shape: map-only regex work, one bounded block explode,
    // ONE per-doc hash shuffle; payload bytes never cross it.
    QueryKey("t25_html_extract",
      // the oracle REBUILDS the synthesized page with concat (byte-exact
      // by construction — Multimodal.synthHtml) and runs the identical
      // Java∩RE2 regex pipeline; string_agg skips NULLs so kept text
      // assembles in block order exactly like the Spark sort+concat_ws
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><script type="text/javascript">var page=' || doc_id ||
        |    ';track();</script><style>.nav{color:#333}</style></head><body><p>' ||
        |    text || ' <a href="/ref">details</a></p><div class="nav">' ||
        |    array_to_string(list_transform(generate_series(0, CAST(doc_id % 5 AS INT) + 2),
        |      j -> '<a href="/p' || j || '">item ' || j || '</a>'), ' | ') ||
        |    '</div></body></html>' AS html
        |  FROM documents),
        |ns AS (SELECT doc_id, regexp_replace(regexp_replace(html,
        |    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS c FROM h),
        |b AS (SELECT doc_id, i AS pos, l[i] AS blk FROM (
        |    SELECT doc_id,
        |      regexp_extract_all(c, '(?s)<(?:p|div)[^>]*>.*?</(?:p|div)>') AS l,
        |      unnest(generate_series(1, len(
        |        regexp_extract_all(c, '(?s)<(?:p|div)[^>]*>.*?</(?:p|div)>')))) AS i
        |    FROM ns) z),
        |per AS (SELECT doc_id, pos,
        |    trim(regexp_replace(regexp_replace(blk, '<[^>]*>', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS txt,
        |    CAST(coalesce(list_sum(list_transform(
        |      regexp_extract_all(blk, '<a [^>]*>([^<]*)</a>', 1),
        |      x -> length(x))), 0) AS BIGINT) AS ac
        |  FROM b),
        |cl AS (SELECT doc_id, pos, txt, CAST(length(txt) AS BIGINT) AS tc, ac,
        |    (ac * 2 < length(txt)) AS keep FROM per)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_blocks,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  CAST(length(coalesce(string_agg(CASE WHEN keep THEN txt END, ' '
        |    ORDER BY pos), '')) AS BIGINT) AS kept_chars,
        |  CAST(sum(CASE WHEN NOT keep THEN tc ELSE 0 END) AS BIGINT) AS dropped_chars,
        |  md5(coalesce(string_agg(CASE WHEN keep THEN txt END, ' '
        |    ORDER BY pos), '')) AS kept_md5
        |FROM cl GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val shards = Multimodal.synthesize(Tables.documents(s, dir), "text")(Multimodal.synthWarcHtml)
      val bodies = Multimodal.decode(shards)(Multimodal.decodeWarcBody).toDF()
      HtmlText.extract(bodies, "doc_id", "body").orderBy(col("doc_id"))
    },

    // perceptual image HASH (x7 catches only byte-identical media —
    // this is the near-dup signature d25 dedups on): headered raw
    // 8-bit gray payloads (codec-free, oracle closed-form) decode
    // through the REAL aHash pipeline — 8×8 integer average-pool,
    // global mean, threshold bits — into two 32-bit signature words
    // (one 64-bit BIGINT would hit the shift-63 DuckDB overflow
    // trap). The planted sub-quantization pixel noise (+doc_id%3 on
    // one pixel) must vanish in the pooling floor — hash INVARIANCE
    // is the property that makes it perceptual. Map-side decode,
    // payloads never shuffle (x-family contract).
    QueryKey("x17_image_phash",
      // closed-form aHash: the group word comes from md5 nibbles (the
      // st13 Kirsch-Mitzenmacher build), the flip mask is (1<<f)-1 on
      // the LOW word only (f ≤ 3), and mean = 50 + 100·n_hi//64 exactly
      // (3200/64 = 50); the planted +doc_id%3 pixel vanishes in the
      // 4-pixel average floor, so the oracle needs NO pixel simulation
      s"""${aHashCte("ph")}
        |SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(50 + (100 * CAST(bit_count(sig_lo) + bit_count(sig_hi) AS BIGINT))
        |    // 64 AS INT) AS mean,
        |  sig_lo, sig_hi, TRUE AS valid
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthGray(id))
      Multimodal.decode(payloads)(Multimodal.decodeGrayHash).toDF()
        .orderBy(col("doc_id"))
    },

    // perceptual image NEAR-DUP dedup (d3's banding applied to x17's
    // aHash bits — completes the multimodal dedup story past exact
    // bytes): signatures band into 4×16-bit words, candidates share a
    // band (hamming ≤ 2 ⇒ ≥ 2 of 4 bands identical — pigeonhole, so
    // banding loses NOTHING at this radius), exact hamming verifies
    // via bit_count(xor) and kills the planted distance-3 variants
    // the bands still surface (verification does real work). Per-doc
    // verdict: neighbor count + min-id keeper. Never all-pairs: the
    // only join is band-equality, sig words ride the explode so
    // verification needs no corpus re-join.
    QueryKey("d25_image_neardup", nearDupOracle("ph"))(
      nearDups(Multimodal.synthGray, Multimodal.decodeGrayHash)),

    // perceptual AUDIO near-dup dedup (d25's machinery — the SHARED
    // Dedup.hammingNearDup banding — over x20's energy-contour
    // signatures, completing the multimodal dedup story for the second
    // modality): group members whose payload bytes differ by time-shift
    // rotation AND sub-3-bit contour flips pair up; the distance-3
    // variants the bands still surface die in exact bit_count(xor)
    // verification. x7's content hash catches none of these twins —
    // that gap is what this key closes.
    QueryKey("d26_audio_neardup", nearDupOracle("af"))(
      nearDups(Multimodal.synthAudioFpWav, Multimodal.decodeAudioFpWav)),

    // orientation-NORMALIZED perceptual hash (x21 composed INTO x17 —
    // the gap x21's own row names: a rotated twin hashes differently
    // under plain aHash until tag 274 is applied): pixels arrive in
    // CAMERA orientation with a real trailing TIFF, the decoder walks
    // the same IFD x21 walks, pools 8×8 like x17, then moves the 64
    // pooled cells through the display transform — an integer index
    // permutation, no resampling (all 8 tag values are axis-aligned, so
    // the transform commutes with pooling). The normalized signature of
    // every rotated/mirrored/stripped member collapses to the upright
    // formula, which is exactly what the closed-form oracle predicts.
    // Map-side decode, payload bytes never shuffle (x-family contract).
    QueryKey("x22_oriented_phash",
      // the x17 closed form on the 'po|' salt: ORIENTATION NEVER REACHES
      // THE ORACLE — the synthesis stores T⁻¹(upright) and the decoder
      // applies T on the pooled grid, so the normalized signature is the
      // upright formula for every tag value (that invariance IS the
      // operator's contract; the oracle checking it needs no rotation
      // simulation). orientation/byte_order are the x21 closed forms.
      s"""${aHashCte("po")}
        |SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 1
        |    ELSE 1 + doc_id % 8 END AS INT) AS orientation,
        |  CASE WHEN doc_id % 5 = 4 THEN 'none'
        |    WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(50 + (100 * CAST(bit_count(sig_lo) + bit_count(sig_hi) AS BIGINT))
        |    // 64 AS INT) AS mean,
        |  sig_lo, sig_hi, TRUE AS valid
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthGrayOriented(id))
      Multimodal.decode(payloads)(Multimodal.decodeOrientedHash).toDF()
        .orderBy(col("doc_id"))
    },

    // orientation-ROBUST image near-dup dedup (d25 made robust to the
    // single most common benign transform in a crawl): groups whose
    // members were stored under 8 different camera orientations — split
    // into singletons by unnormalized aHash — band and pair exactly like
    // d25 once x22's normalization runs first. Same shared
    // Dedup.hammingNearDup (hot-band capped), same verify radius.
    QueryKey("d27_oriented_neardup", nearDupOracle("po"))(
      nearDups(Multimodal.synthGrayOriented, Multimodal.decodeOrientedHash)),

    // video SCENE-CUT detection (x8 reads the container's metadata;
    // this reads the CONTENT — the keyframe-extraction op a
    // vision-training pipeline runs to pick one frame per scene):
    // 24-frame raw gray sequences decode map-side to per-frame integer
    // mean luma; a cut fires where |Δmean| ≥ 25 between consecutive
    // frames (planted scene deltas are 100, intra-scene 0 — the
    // threshold sits far from both, and the doc-dependent luma offset
    // shifts every frame equally so deltas are invariant to it).
    // Truncated payloads (doc_id%13==5) fail valid rather than
    // reporting a partial cut list. Map-side decode, payload bytes
    // never shuffle (x-family contract); oracle closed-form from the
    // synthesis (scene count 2 + doc_id%3 fixes the cut positions).
    QueryKey("x23_scene_cuts",
      // closed-form from the synthesis: scenes = 2 + doc_id%3 equal
      // slices of 24 frames → cuts at the slice boundaries; first luma =
      // 60 + doc_id%5; %13==5 truncated → invalid zeros
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 13 = 5 THEN 0 ELSE 24 END AS INT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 13 = 5 THEN 0 ELSE 16 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 13 = 5 THEN 0 ELSE 12 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 13 = 5 THEN 0
        |    ELSE 1 + doc_id % 3 END AS INT) AS n_cuts,
        |  CASE WHEN doc_id % 13 = 5 THEN ''
        |    WHEN doc_id % 3 = 0 THEN '12'
        |    WHEN doc_id % 3 = 1 THEN '8,16'
        |    ELSE '6,12,18' END AS cut_frames,
        |  CAST(CASE WHEN doc_id % 13 = 5 THEN 0
        |    ELSE 60 + doc_id % 5 END AS INT) AS first_luma,
        |  doc_id % 13 <> 5 AS valid
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthVideoScenes(id))
      Multimodal.decode(payloads)(Multimodal.decodeSceneCuts).toDF()
        .orderBy(col("doc_id"))
    },

    // CURATION-POLICY LEDGER (the "why was this doc dropped" audit
    // artifact a corpus release ships next to p26's data card — round-11
    // verdict missing #5): every existing gate renders ONE per-doc
    // verdict row — near-dup drop (d7's LSH+Jaccard pipeline), substring
    // duplication ≥ 25% (d23's windows), too-short (< 40 tokens),
    // low-quality (t2's score < 40), repetitive (any duplicated
    // trigram, t14) — folded into keep/drop with FIRST-FAILING-RULE
    // attribution under the pipeline's fixed rule order (dedup before
    // quality, the order production pipelines apply them). The funnel
    // (per-rule n_failed / n_dropped_here) is a trivial aggregation of
    // this ledger; PipelineSpec reconciles it against the standalone
    // gate keys. Scale shape: each gate is its own doc-grain frame (the
    // gates' own scale stories apply unchanged); the ledger adds only
    // doc-grain equi-joins of narrow verdict columns.
    QueryKey("p27_curation_ledger", {
      // each gate's own oracle form composed as CTEs over the shared `w`
      // word split: d7's nd drop set, d23's window duplication, t2's
      // quality score, t14's trigram repetition — then the same fixed
      // rule-order fold both engines evaluate identically (pure integer
      // flags; no doubles cross the fold)
      s"""WITH $shingleCte,
         |nd AS (SELECT DISTINCT id_b AS doc_id
         |  FROM cand JOIN sh2 x ON id_a = x.doc_id JOIN sh2 y ON id_b = y.doc_id
         |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         |    / len(list_distinct(x.s || y.s)) >= 0.5),
         |win AS (SELECT doc_id, CASE WHEN i = 0 THEN 's' || CAST(doc_id AS VARCHAR)
         |    ELSE md5(array_to_string(wd[i:i+15], ' ')) END AS fp
         |  FROM (SELECT doc_id, wd, unnest(CASE WHEN len(wd) >= 16
         |      THEN generate_series(1, len(wd) - 15) ELSE [0] END) AS i FROM w) z),
         |wg AS (SELECT fp, doc_id, CAST(count(*) AS BIGINT) AS c FROM win GROUP BY 1, 2),
         |wd2 AS (SELECT fp, doc_id, c, count(*) OVER (PARTITION BY fp) AS ndp FROM wg),
         |subbp AS (SELECT doc_id,
         |    CASE WHEN coalesce(sum(CASE WHEN length(fp) = 32 THEN c END), 0) = 0 THEN 0
         |      ELSE coalesce(sum(CASE WHEN length(fp) = 32 AND ndp >= 2 THEN c END), 0)
         |        * 10000 // coalesce(sum(CASE WHEN length(fp) = 32 THEN c END), 0)
         |    END AS dup_bp
         |  FROM wd2 GROUP BY doc_id),
         |qf AS (SELECT doc_id, CAST(len(wd) AS INT) AS n_tokens,
         |    CAST(floor(CAST(len(list_distinct(wd)) AS DOUBLE) / len(wd) * 50.0 +
         |      CAST(len(list_filter(wd, x -> x IN ($en))) AS DOUBLE) / len(wd) * 20.0 +
         |      CAST(least(len(wd), 100) AS DOUBLE) / 100.0 * 30.0) AS INT) AS quality
         |  FROM w),
         |tri AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c FROM
         |    (SELECT doc_id, unnest(CASE WHEN len(wd) >= 3
         |      THEN list_transform(generate_series(1, len(wd)-2),
         |        i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
         |      ELSE [] END) AS gram FROM w) tg GROUP BY 1, 2),
         |rep AS (SELECT doc_id, CASE WHEN sum(c) > 0
         |    THEN sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 10000 // sum(c)
         |    ELSE 0 END AS dup_tri_bp
         |  FROM tri GROUP BY doc_id),
         |led AS (SELECT d.doc_id,
         |    CAST(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS f_near_dup,
         |    CAST(CASE WHEN coalesce(subbp.dup_bp, 0) >= 2500 THEN 1 ELSE 0 END AS INT) AS f_substring,
         |    CAST(CASE WHEN coalesce(qf.n_tokens, 0) < 40 THEN 1 ELSE 0 END AS INT) AS f_short,
         |    CAST(CASE WHEN coalesce(qf.quality, 0) < 40 THEN 1 ELSE 0 END AS INT) AS f_quality,
         |    CAST(CASE WHEN coalesce(rep.dup_tri_bp, 0) > 0 THEN 1 ELSE 0 END AS INT) AS f_repeat
         |  FROM documents d LEFT JOIN nd USING (doc_id) LEFT JOIN subbp USING (doc_id)
         |    LEFT JOIN qf USING (doc_id) LEFT JOIN rep USING (doc_id))
         |SELECT doc_id, f_near_dup, f_substring, f_short, f_quality, f_repeat,
         |  CAST(CASE WHEN f_near_dup + f_substring + f_short + f_quality + f_repeat = 0
         |    THEN 1 ELSE 0 END AS INT) AS keep,
         |  CASE WHEN f_near_dup = 1 THEN 'near_dup'
         |    WHEN f_substring = 1 THEN 'substring_dup'
         |    WHEN f_short = 1 THEN 'too_short'
         |    WHEN f_quality = 1 THEN 'low_quality'
         |    WHEN f_repeat = 1 THEN 'repetitive'
         |    ELSE 'none' END AS first_fail
         |FROM led ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      import graft.sources.DerivedLayouts
      val docs = Tables.documents(s, dir)
      // the two expensive gate verdicts persist once (the s24 posture:
      // d7 and t14 are the keys that MEASURE those pipelines live; the
      // ledger is an audit JOIN over verdicts, not a recompute)
      val base = DerivedLayouts.once(s"ledgergates|$dir") { path =>
        Dedup.jaccardVerify(
            Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2),
            docs, "doc_id", "text", threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
          .write.parquet(s"$path/nd")
        repetitionFrame(docs).select(col("doc_id"), col("dup_tri_bp"))
          .write.parquet(s"$path/rep")
      }
      val nd = Tables.parquet(s, s"$base/nd").withColumn("_nd", lit(1))
      val sub = Dedup.substringDupReport(docs, "doc_id", "text", w = 16, stride = 1)
        .select(col("doc_id"), col("dup_bp"))
      val q = qualityFrame(docs).select(col("doc_id"), col("n_tokens"), col("quality"))
      val rep = Tables.parquet(s, s"$base/rep")
      docs.select(col("doc_id"))
        .join(nd, Seq("doc_id"), "left")
        .join(sub, Seq("doc_id"), "left")
        .join(q, Seq("doc_id"), "left")
        .join(rep, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("_nd"), lit(0)).as("f_near_dup"),
          when(coalesce(col("dup_bp"), lit(0L)) >= 2500, 1).otherwise(0)
            .as("f_substring"),
          when(coalesce(col("n_tokens"), lit(0)) < 40, 1).otherwise(0)
            .as("f_short"),
          when(coalesce(col("quality"), lit(0)) < 40, 1).otherwise(0)
            .as("f_quality"),
          when(coalesce(col("dup_tri_bp"), lit(0)) > 0, 1).otherwise(0)
            .as("f_repeat"))
        .withColumn("keep",
          when(col("f_near_dup") + col("f_substring") + col("f_short") +
            col("f_quality") + col("f_repeat") === 0, 1).otherwise(0))
        .withColumn("first_fail",
          when(col("f_near_dup") === 1, "near_dup")
            .when(col("f_substring") === 1, "substring_dup")
            .when(col("f_short") === 1, "too_short")
            .when(col("f_quality") === 1, "low_quality")
            .when(col("f_repeat") === 1, "repetitive")
            .otherwise("none"))
        .orderBy(col("doc_id"))
    },

    // VERBATIM-overlap audit (the memorization metric d10's weighted
    // n-gram contamination does not report — publications report the
    // LONGEST shared token run between eval and training text, Lee et
    // al. 2021 / Carlini et al. 2022): even-id docs are the training
    // half, odd-id docs the eval half; 8-token stride-1 window
    // fingerprints mark shared positions, and a gaps-and-islands pass
    // (position − row_number, per-doc window — never global) turns
    // consecutive shared windows into runs: longest run r ⇒ r + 7
    // verbatim tokens. Per-eval-doc rows with share-of-doc bp. Scale
    // shape: one window-fingerprint shuffle (the d23 cost class), a
    // semi-join against the train fingerprint set, and per-doc windows
    // over only the SHARED positions.
    QueryKey("t31_verbatim_overlap",
      // d23's window-fingerprint form + the gaps-and-islands recurrence
      // (i − row_number constant per consecutive run)
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd
        |  FROM documents),
        |win AS (SELECT doc_id, i, md5(array_to_string(wd[i:i+7], ' ')) AS fp
        |  FROM (SELECT doc_id, wd, unnest(generate_series(1, len(wd) - 7)) AS i
        |    FROM w WHERE len(wd) >= 8) z),
        |tr AS (SELECT DISTINCT fp FROM win WHERE doc_id % 2 = 0),
        |sh AS (SELECT doc_id, i FROM win
        |  WHERE doc_id % 2 = 1 AND fp IN (SELECT fp FROM tr)),
        |runs AS (SELECT doc_id,
        |    i - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS grp
        |  FROM sh),
        |agg AS (SELECT doc_id, CAST(max(run) AS BIGINT) AS longest_run_win,
        |    CAST(sum(run) AS BIGINT) AS n_shared_win
        |  FROM (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run
        |    FROM runs GROUP BY 1, 2) r GROUP BY 1)
        |SELECT d.doc_id, CAST(len(wd) AS INT) AS n_tokens,
        |  CAST(greatest(len(wd) - 7, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(n_shared_win, 0) AS BIGINT) AS n_shared_win,
        |  CAST(coalesce(longest_run_win, 0) AS BIGINT) AS longest_run_win,
        |  CAST(CASE WHEN coalesce(longest_run_win, 0) > 0
        |    THEN longest_run_win + 7 ELSE 0 END AS BIGINT) AS verbatim_tokens,
        |  CAST(CASE WHEN len(wd) = 0 THEN 0
        |    WHEN coalesce(longest_run_win, 0) > 0
        |    THEN (longest_run_win + 7) * 10000 // len(wd)
        |    ELSE 0 END AS BIGINT) AS verbatim_bp
        |FROM w d LEFT JOIN agg USING (doc_id)
        |WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val wins = docs
        .select(col("doc_id"), Dedup.words(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(expr("CASE WHEN size(tk) >= 8 " +
            "THEN sequence(1, size(tk) - 7) ELSE array() END")).as("i"),
          col("tk"))
        .select(col("doc_id"), col("i"),
          expr("md5(concat_ws(' ', slice(tk, i, 8)))").as("fp"))
      val trainFps = wins.filter(col("doc_id") % 2 === 0)
        .select(col("fp")).distinct()
      val shared = wins.filter(col("doc_id") % 2 === 1)
        .join(trainFps, Seq("fp"), "left_semi")
        .select(col("doc_id"), col("i"))
      val runs = shared
        .withColumn("grp", col("i") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))))
        .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
        .groupBy(col("doc_id"))
        .agg(max(col("run")).as("longest_run_win"),
          sum(col("run")).as("n_shared_win"))
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), size(Dedup.words(col("text"))).as("n_tokens"))
        .join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(greatest(n_tokens - 7, 0) AS BIGINT)").as("n_windows"),
          coalesce(col("n_shared_win"), lit(0L)).as("n_shared_win"),
          coalesce(col("longest_run_win"), lit(0L)).as("longest_run_win"),
          expr("CAST(CASE WHEN coalesce(longest_run_win, 0) > 0 " +
            "THEN longest_run_win + 7 ELSE 0 END AS BIGINT)")
            .as("verbatim_tokens"))
        .withColumn("verbatim_bp",
          expr("CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE verbatim_tokens * 10000 div n_tokens END"))
        .orderBy(col("doc_id"))
    },

    // mixture REWEIGHTING via multiplicative weights (the DoReMi-class
    // domain-weight tuner — Xie et al. 2023 learn domain weights by
    // iteratively upweighting domains with excess signal; the update
    // rule is the classic multiplicative-weights method, Arora-Hazan-
    // Kale 2012): per-source mean quality (2-decimal fixed point) is
    // the domain signal, and three unrolled MW rounds shift weight
    // toward sources whose signal exceeds the CURRENT mixture mean —
    // the mixture mean moves as weights move, which is what makes this
    // an iteration and not a one-shot ranking. Pure integer arithmetic
    // end to end (scaled weights, truncating div — both engines agree
    // on negative truncation), so the oracle replays the identical
    // recurrence. Scale shape: one corpus pass for the per-source
    // aggregate; every MW round runs on |sources| aggregate rows with
    // a broadcast 1-row total — the iteration costs nothing at 100 TB.
    // SPAN-CORRUPTION sample builder (p29 — the T5/UL2 denoising
    // objective's data op: mask deterministic token spans with sentinel
    // tokens, emit (input, target) pairs where the target replays the
    // masked spans behind their sentinels): span starts at every 7th
    // token position (1-based p ≡ 4 mod 7, span length 2, stride > span
    // so spans never overlap — the deterministic analog of the 15%/mean-3
    // random policy), input replaces each span with <extra_id_k>, target
    // is the sentinel-keyed concatenation of the masked tokens. Pure
    // per-row array algebra over ONE corpus pass — no shuffle at all
    // until the output sort; both engines build byte-identical strings
    // so the md5s are the gate. Guard: Spark sequence(1, 0) DESCENDS —
    // empty-token docs need the explicit empty array.
    QueryKey("p29_span_corruption",
      // byte-identical string synthesis both sides: sentinel ids are
      // 0-based span ranks p//7, positions 1-based, spans [p, p+1]
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> length(w) > 0) AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |built AS (
        |  SELECT doc_id, n,
        |    array_to_string(list_filter(list_transform(generate_series(1, n), p ->
        |      CASE WHEN p % 7 = 4 AND p < n
        |             THEN '<extra_id_' || CAST(p // 7 AS VARCHAR) || '>'
        |           WHEN p % 7 = 5 AND p > 4 THEN NULL
        |           ELSE toks[p] END),
        |      x -> x IS NOT NULL), ' ') AS input_str,
        |    list_filter(generate_series(1, n), p -> p % 7 = 4 AND p < n) AS starts,
        |    array_to_string(list_transform(
        |      list_filter(generate_series(1, n), p -> p % 7 = 4 AND p < n),
        |      p -> '<extra_id_' || CAST(p // 7 AS VARCHAR) || '> '
        |        || toks[p] || ' ' || toks[p + 1]), ' ') AS target_str
        |  FROM n)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(len(starts) AS BIGINT) AS n_spans,
        |  md5(input_str) AS input_md5, md5(target_str) AS target_md5
        |FROM built ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks",
          expr("filter(split(trim(text), '\\\\s+'), w -> length(w) > 0)"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
        .withColumn("pos", expr("IF(n = 0, array(), sequence(1, n))"))
        .withColumn("input_str", expr(
          """concat_ws(' ', filter(transform(pos, p ->
            |  CASE WHEN p % 7 = 4 AND p < n
            |         THEN concat('<extra_id_', CAST(p div 7 AS STRING), '>')
            |       WHEN p % 7 = 5 AND p > 4 THEN CAST(NULL AS STRING)
            |       ELSE element_at(toks, p) END),
            |  x -> x IS NOT NULL))""".stripMargin))
        .withColumn("starts", expr("filter(pos, p -> p % 7 = 4 AND p < n)"))
        .withColumn("target_str", expr(
          """concat_ws(' ', transform(starts, p ->
            |  concat('<extra_id_', CAST(p div 7 AS STRING), '> ',
            |    element_at(toks, p), ' ', element_at(toks, p + 1))))""".stripMargin))
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          size(col("starts")).cast("long").as("n_spans"),
          md5(col("input_str")).as("input_md5"),
          md5(col("target_str")).as("target_md5"))
        .orderBy(col("doc_id"))
    },

    QueryKey("p28_mixture_reweight", {
      // the identical integer MW recurrence unrolled (negative division
      // truncates toward zero in BOTH engines — the verified invariant);
      // every sum wrapped CAST BIGINT against DuckDB's HUGEINT
      def round(i: Int): String =
        s"""t$i AS (SELECT CAST(sum(w * qs) AS BIGINT) AS wq,
           |    CAST(sum(w) AS BIGINT) AS ws FROM r${i - 1}),
           |r$i AS (SELECT source, n_docs, qs,
           |    w * (10000 + (qs - (SELECT wq // ws FROM t$i)) * 2) // 10000 AS w
           |  FROM r${i - 1})""".stripMargin
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wd
         |  FROM documents),
         |qf AS (SELECT doc_id,
         |    CAST(floor(CAST(len(list_distinct(wd)) AS DOUBLE) / len(wd) * 50.0 +
         |      CAST(len(list_filter(wd, x -> x IN ($en))) AS DOUBLE) / len(wd) * 20.0 +
         |      CAST(least(len(wd), 100) AS DOUBLE) / 100.0 * 30.0) AS INT) AS quality
         |  FROM w),
         |dq AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(CAST(sum(quality) AS BIGINT) * 100 // count(*) AS BIGINT) AS qs
         |  FROM qf JOIN documents d USING (doc_id) GROUP BY 1),
         |r0 AS (SELECT source, n_docs, qs, CAST(10000 AS BIGINT) AS w FROM dq),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM r3)
         |SELECT source, n_docs, qs, CAST(w AS BIGINT) AS w_final,
         |  CAST(w * 10000 // (SELECT tw FROM tw) AS BIGINT) AS mix_bp
         |FROM r3 ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val dq = qualityFrame(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("quality")).as("_sq"))
        .withColumn("qs", expr("_sq * 100 div n_docs"))
        .drop("_sq")
        // the corpus pass materializes ONCE (|sources| rows): each MW
        // round's total + update branch would otherwise re-evaluate the
        // whole aggregate lineage (the N-branch rescan trap)
        .localCheckpoint()
      var r = dq.withColumn("w", lit(10000L))
      for (_ <- 1 to 3) {
        val tot = r.agg(sum(expr("w * qs")).as("_wq"), sum(col("w")).as("_ws"))
        r = r.crossJoin(broadcast(tot))
          .withColumn("w",
            expr("w * (10000 + (qs - _wq div _ws) * 2) div 10000"))
          .drop("_wq", "_ws")
      }
      val tw = r.agg(sum(col("w")).as("_tw"))
      r.crossJoin(broadcast(tw))
        .select(col("source"), col("n_docs"), col("qs"),
          col("w").as("w_final"),
          expr("w * 10000 div _tw").as("mix_bp"))
        .orderBy(col("source"))
    },

    // PII redaction: regex scrubbing of emails / IPv4s / long digit runs
    // with per-doc detection counts and a hash of the redacted text.
    // The documents text is digit-free word soup, so a deterministic
    // PII-bearing fixture is appended per doc (same synthesize-then-
    // process pattern as m20's keeper lines and x1's PNG payloads); the
    // oracle runs the identical construct + regexes in DuckDB, so a
    // redaction bug breaks the hash. Scale shape: map-only — three
    // codegen'd regexps per row, no shuffle before the output sort.
    QueryKey("t9_pii_redact",
      """WITH pii AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source ||
        |  '.net mail admin' || CAST(doc_id % 7 AS VARCHAR) || '@example.org host 10.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id * 7 % 256 AS VARCHAR) || '.' ||
        |  CAST(doc_id * 13 % 256 AS VARCHAR) ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' gw 192.168.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
        |  ' tel ' || CAST(5550000000 + doc_id AS VARCHAR) AS p
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(p, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(p, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(p, '\d{7,}')) AS INT) AS n_nums,
        |  CAST(length(r) AS INT) AS red_len, md5(r) AS red_hash
        |FROM (SELECT doc_id, p,
        |    regexp_replace(regexp_replace(regexp_replace(p,
        |      '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
        |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |      '\d{7,}', '<NUM>', 'g') AS r
        |  FROM pii) t
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailPat = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
      val ipPat = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      val numPat = "\\d{7,}"
      // sort raw docs first, run the regex battery after (r15 m5
      // pattern): single-row-group input means the pre-exchange stage
      // is one task, and the range sampler evaluates its child twice —
      // sorting first makes the 6-regex pass run once, 32-way
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .orderBy(col("doc_id"))
        .withColumn("_pii", expr(
          "concat(text, ' contact user', CAST(doc_id AS STRING), '@', source, " +
          "'.net mail admin', CAST(doc_id % 7 AS STRING), '@example.org host 10.', " +
          "CAST(doc_id % 256 AS STRING), '.', CAST(doc_id * 7 % 256 AS STRING), '.', " +
          "CAST(doc_id * 13 % 256 AS STRING), " +
          "CASE WHEN doc_id % 3 = 0 THEN concat(' gw 192.168.0.', CAST(doc_id % 250 AS STRING)) ELSE '' END, " +
          "' tel ', CAST(5550000000 + doc_id AS STRING))"))
        .withColumn("_red",
          regexp_replace(regexp_replace(regexp_replace(col("_pii"),
            emailPat, "<EMAIL>"), ipPat, "<IP>"), numPat, "<NUM>"))
        .select(col("doc_id"),
          regexp_count(col("_pii"), lit(emailPat)).cast("int").as("n_emails"),
          regexp_count(col("_pii"), lit(ipPat)).cast("int").as("n_ips"),
          regexp_count(col("_pii"), lit(numPat)).cast("int").as("n_nums"),
          length(col("_red")).cast("int").as("red_len"),
          md5(col("_red")).as("red_hash"))
        // ordered by the pre-redact sort — see m5 note
    },

    // line-level boilerplate removal (the CCNet/RefinedWeb "shared
    // lines" pass, on aligned 3-word segments since the synthetic text
    // has no newlines): segments appearing in >= 3 DISTINCT docs are
    // boilerplate and are dropped from every doc; surviving segments
    // reassemble in position order. Scale shape: segment explode is
    // p5's slice-per-exploded-row (never a slice inside a transform
    // lambda); corpus frequency is one partial-agg hash shuffle
    // (two-phase countDistinct on doc_id); removal is an anti join on
    // the segment key (AQE may broadcast the boilerplate head — Zipf
    // bounds it at total_segs/threshold); reassembly collects only a
    // doc's own bounded segment list. The corpus is scanned twice
    // (frequency pass + removal pass) — deliberate: branch reuse
    // doesn't exist (CLAUDE.md), and two parquet scans beat collecting
    // per-segment occurrence lists, which a hot segment makes unbounded.
    QueryKey("t10_line_dedup",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |segs AS (SELECT doc_id, CAST(t.g AS INT) AS seg_idx,
        |    array_to_string(w[(t.g*3+1):(t.g*3+3)], ' ') AS seg
        |  FROM w, LATERAL unnest(generate_series(0, (len(w)+2)//3 - 1)) t(g)),
        |boiler AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)),
        |clean AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST((len(w.w)+2)//3 AS INT) AS n_segs,
        |  CAST((len(w.w)+2)//3 - coalesce(c.n_kept, 0) AS INT) AS n_removed,
        |  CAST(length(coalesce(c.clean, '')) AS INT) AS clean_len,
        |  md5(coalesce(c.clean, '')) AS clean_hash
        |FROM documents d JOIN w ON d.doc_id = w.doc_id
        |LEFT JOIN clean c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      def segsOf(d: DataFrame): DataFrame = d
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("_w"))
        .withColumn("n_segs", expr("CAST((size(_w) + 2) div 3 AS INT)"))
        .withColumn("seg_idx", explode(sequence(lit(0), col("n_segs") - 1)))
        .select(col("doc_id"), col("seg_idx"),
          concat_ws(" ", slice(col("_w"), col("seg_idx") * 3 + 1, lit(3))).as("seg"))
      val boiler = segsOf(docs).groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 3).select(col("seg"))
      val clean = segsOf(docs).join(boiler, Seq("seg"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg), ' ')")
            .as("clean"))
      docs.select(col("doc_id"),
          expr("CAST((size(split(trim(text), '\\\\s+')) + 2) div 3 AS INT)").as("n_segs"))
        .join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          (col("n_segs") - coalesce(col("n_kept"), lit(0))).cast("int").as("n_removed"),
          length(coalesce(col("clean"), lit(""))).cast("int").as("clean_len"),
          md5(coalesce(col("clean"), lit(""))).as("clean_hash"))
        .orderBy(col("doc_id"))
    },

    // lexical-diversity quality scoring: per-doc Simpson index and
    // type-token ratio in integer basis points. Simpson (1 - Σp²) is
    // the repetition detector entropy is usually used for, but unlike
    // entropy it needs NO logarithms — Σc² and Σc are exact integers,
    // so the score is bit-identical across engines and partitionings
    // (a log-based entropy would hang determinism on libm ulps). Scale
    // shape: two chained partial aggs, both on high-cardinality keys
    // ((doc,term) then doc) — no windows, no collected term lists.
    QueryKey("t11_token_diversity",
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS INT) AS n_types,
        |  CAST(10000 - (10000 * CAST(sum(c * c) AS BIGINT))
        |    // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS BIGINT) AS simpson_bp,
        |  CAST((10000 * count(*)) // CAST(sum(c) AS BIGINT) AS BIGINT) AS ttr_bp
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(expr("CAST(sum(c) AS BIGINT)").as("n_tokens"),
          count(lit(1)).cast("int").as("n_types"),
          expr("CAST(sum(c * c) AS BIGINT)").as("_ss"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          expr("10000 - (10000 * _ss) div (n_tokens * n_tokens)").as("simpson_bp"),
          expr("(10000 * n_types) div n_tokens").as("ttr_bp"))
        .orderBy(col("doc_id"))
    },

    // encoding QA — byte-level UTF-8 audit over raw crawl payloads: a
    // structural state machine (valid lead + the right continuation
    // count, resync-on-error advancing one byte) classifies every byte
    // as ASCII / multi-byte / invalid — the mojibake gate a corpus runs
    // before any tokenizer sees the bytes. The fixture plants
    // deterministic damage per doc (bad continuation, lone continuation
    // byte, plus VALID 2- and 3-byte chars that must NOT count as
    // damage), and the oracle predicts every count arithmetically — a
    // scanner bug (resync, range bounds, truncation) breaks the hash.
    // Scale shape: one map over payload bytes (Multimodal.decode), no
    // shuffle before the output sort.
    QueryKey("t12_utf8_audit",
      """SELECT doc_id,
        |  CAST(length(text) + CASE WHEN doc_id % 7 = 3 THEN 3 WHEN doc_id % 7 = 5 THEN 6
        |    WHEN doc_id % 7 = 0 THEN 2 WHEN doc_id % 7 = 6 THEN 3 ELSE 0 END AS INT) AS n_bytes,
        |  CAST(length(text) + CASE WHEN doc_id % 7 = 3 THEN 2 WHEN doc_id % 7 = 5 THEN 4
        |    WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INT) AS n_ascii,
        |  CAST(CASE WHEN doc_id % 7 IN (5, 6) THEN 1 ELSE 0 END AS INT) AS n_multi,
        |  CAST(CASE WHEN doc_id % 7 IN (0, 3) THEN 1 ELSE 0 END AS INT) AS n_invalid,
        |  CAST(CASE WHEN doc_id % 7 IN (0, 3) THEN 0 ELSE 1 END AS INT) AS is_valid
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "text")(Multimodal.synthRawText)
      Multimodal.decode(payloads)(Multimodal.utf8Scan).toDF()
        .orderBy(col("doc_id"))
    },

    // corpus TEXT drift — s19's lexical sibling (the other half of the
    // ingest drift dashboard): total-variation distance between the
    // term distributions of the parity halves, all-integer (the exact
    // numerator Σ|cnt_a·N_b − cnt_b·N_a| with ONE final floor division
    // to bp), plus the top-5 most-drifted terms by that exact
    // numerator (deterministic term tie-break). One (half, term)
    // partial agg; everything after runs on vocabulary-sized rows.
    QueryKey("t19_text_drift",
      """WITH tk AS (SELECT doc_id % 2 AS half,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
        |tc AS (SELECT half, t, CAST(count(*) AS BIGINT) AS c
        |  FROM tk WHERE length(t) > 0 GROUP BY 1, 2),
        |tot AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN half = 0 THEN c END), 0) AS BIGINT) AS na,
        |    CAST(coalesce(sum(CASE WHEN half = 1 THEN c END), 0) AS BIGINT) AS nb
        |  FROM tc),
        |wide AS (SELECT t,
        |    coalesce(max(CASE WHEN half = 0 THEN c END), 0) AS ca,
        |    coalesce(max(CASE WHEN half = 1 THEN c END), 0) AS cb
        |  FROM tc GROUP BY 1),
        |w2 AS (SELECT t, ca, cb, abs(ca * nb - cb * na) AS num, na, nb
        |  FROM wide CROSS JOIN tot),
        |s0 AS MATERIALIZED (SELECT CAST(max(na) AS BIGINT) AS n_ref_tokens,
        |    CAST(max(nb) AS BIGINT) AS n_cur_tokens,
        |    CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(num) AS BIGINT) AS s,
        |    CAST(2 * max(na) * max(nb) AS BIGINT) AS d
        |  FROM w2),
        |s1 AS (SELECT *, s // d AS q0, s % d AS r0 FROM s0),
        |s2 AS (SELECT *, (r0 * 10) // d AS q1, (r0 * 10) % d AS r1 FROM s1),
        |s3 AS (SELECT *, (r1 * 10) // d AS q2, (r1 * 10) % d AS r2 FROM s2),
        |s4 AS (SELECT *, (r2 * 10) // d AS q3, (r2 * 10) % d AS r3 FROM s3),
        |summ AS (SELECT n_ref_tokens, n_cur_tokens, n_terms,
        |    CAST(10000 * q0 + 1000 * q1 + 100 * q2 + 10 * q3
        |      + (r3 * 10) // d AS BIGINT) AS tv_bp
        |  FROM s4),
        |top AS (SELECT string_agg(t, ',' ORDER BY num DESC, t) AS top_drifted FROM (
        |    SELECT t, num FROM w2 ORDER BY num DESC, t LIMIT 5) z)
        |SELECT n_ref_tokens, n_cur_tokens, n_terms, tv_bp, top_drifted
        |FROM summ, top""".stripMargin) { (s, dir) =>
      val terms = Tables.documents(s, dir)
        .select(pmod(col("doc_id"), lit(2)).cast("int").as("half"),
          explode(split(trim(col("text")), "\\s+")).as("t"))
        .filter(length(col("t")) > 0)
        .groupBy(col("half"), col("t")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val tot = terms.groupBy(col("half")).agg(sum(col("c")).as("n"))
      val wide = terms.groupBy(col("t")).agg(
          coalesce(max(when(col("half") === 0, col("c"))), lit(0L)).as("ca"),
          coalesce(max(when(col("half") === 1, col("c"))), lit(0L)).as("cb"))
        .crossJoin(broadcast(tot.groupBy().agg(
          coalesce(max(when(col("half") === 0, col("n"))), lit(0L)).as("na"),
          coalesce(max(when(col("half") === 1, col("n"))), lit(0L)).as("nb"))))
        .withColumn("num", expr("abs(ca * nb - cb * na)"))
      // tv_bp = floor(10^4 · Σnum / D), D = 2·na·nb, computed by STAGED
      // division — never materializing Σnum·10^4 (Σnum is bounded by D,
      // so the old single-shot ·10000 overflowed BIGINT once per-half
      // token mass reached ~2e7 under heavy drift: the m39 class of
      // data-dependent ANSI throw; round-7 advisor finding). Exactness:
      // with q0 = S div D, r0 = S mod D, floor(10^4·S/D) = 10^4·q0 +
      // floor(10^4·r0/D), and each ×10 peel is the same identity one
      // digit down — every step is integer-exact in BOTH engines.
      // Ceiling: the largest intermediate is 10·r < 10·D, safe while
      // D = 2·na·nb ≤ 9.2e17, i.e. ~6.8e8 tokens PER HALF (~3 GB of
      // text — a per-shard drift monitor's grain); beyond that the
      // per-term cross-product |ca·nb − cb·na| is the next ceiling at
      // ~3e9 tokens per half. 10000× the old headroom.
      val summary = wide.agg(
          max(col("na")).as("n_ref_tokens"), max(col("nb")).as("n_cur_tokens"),
          count(lit(1)).as("n_terms"), sum(col("num")).as("s"))
        .withColumn("d", expr("2 * n_ref_tokens * n_cur_tokens"))
        .withColumn("q0", expr("s div d")).withColumn("r0", expr("s % d"))
        .withColumn("q1", expr("(r0 * 10) div d")).withColumn("r1", expr("(r0 * 10) % d"))
        .withColumn("q2", expr("(r1 * 10) div d")).withColumn("r2", expr("(r1 * 10) % d"))
        .withColumn("q3", expr("(r2 * 10) div d")).withColumn("r3", expr("(r2 * 10) % d"))
        .withColumn("q4", expr("(r3 * 10) div d"))
        .withColumn("tv_bp", expr(
          "CAST(10000 * q0 + 1000 * q1 + 100 * q2 + 10 * q3 + q4 AS BIGINT)"))
        .select(col("n_ref_tokens"), col("n_cur_tokens"), col("n_terms"),
          col("tv_bp"))
      // deterministic assembly: collect_list order after a limit is not
      // contractual — re-sort in-row before joining the names
      val top = wide.orderBy(col("num").desc, col("t")).limit(5)
        .select(col("num"), col("t"))
        .agg(concat_ws(",", expr(
          "transform(array_sort(collect_list(struct(-num AS nn, t AS t))), x -> x.t)"))
          .as("top_drifted"))
      summary.crossJoin(broadcast(top))
    },

    // LEARNED quality classifier (round-7 verdict Next #2): the
    // fastText-architecture model-based filter production pipelines
    // run where t2/t13/t14 are hand-set gates. Closed-form integer
    // naive-Bayes training (LearnedQuality: il16 1/16-fixed-point-log2
    // class log-odds over hashed token buckets + length bin +
    // diversity bin), broadcast weights, map-side integer dot +
    // threshold. Weak supervision from t2's heuristic label
    // (quality ≥ 42, the corpus median), trained on doc_id%5<4, evaled
    // on the held-out 20%. Output: ONE confusion/agreement row —
    // measured acc 7600 bp vs 5400 bp majority baseline at sf0.01, a
    // +22 pt lift proving the model LEARNS (plain floor-log2 weights
    // all rounded to 0 and degenerated to the prior — measured, which
    // is why il16 exists). PipelineSpec plants separable good/bad docs
    // and the model classifies held-out ones correctly.
    QueryKey("t20_learned_quality", {
      s"""WITH scal AS MATERIALIZED (SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         |    CAST(len(list_filter(w, x -> x IN ($en))) AS BIGINT) AS stop_hits
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |    FROM documents) b),
         |lab AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN CAST(floor(CAST(n_distinct AS DOUBLE)/n_tokens*50.0 +
         |      CAST(stop_hits AS DOUBLE)/n_tokens*20.0 +
         |      CAST(least(n_tokens,100) AS DOUBLE)/100.0*30.0) AS INT) >= 42
         |      THEN 1 ELSE 0 END AS heur,
         |    length(bin(greatest(n_tokens,1)))-1 AS lbin,
         |    CASE WHEN n_tokens > 0 THEN (n_distinct*16)//n_tokens ELSE 0 END AS dbin,
         |    doc_id % 5 < 4 AS train FROM scal),
         |tf AS MATERIALIZED (SELECT u.doc_id,
         |    CAST(instr('0123456789abcdef', substring(md5(u.t),1,1)) - 1 AS INT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
         |    FROM documents) u
         |  WHERE length(u.t) > 0 GROUP BY 1, 2),
         |bc0 AS (SELECT bucket,
         |    CAST(sum(CASE WHEN l.heur=1 THEN tf.tf ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN l.heur=0 THEN tf.tf ELSE 0 END) AS BIGINT) AS c0
         |  FROM tf JOIN lab l USING (doc_id) WHERE l.train GROUP BY 1),
         |bc AS (SELECT g.bucket, coalesce(c1, 0) AS c1, coalesce(c0, 0) AS c0
         |  FROM (SELECT unnest(generate_series(0, 15)) AS bucket) g
         |  LEFT JOIN bc0 ON g.bucket = bc0.bucket),
         |ms AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c0) AS BIGINT) AS n0 FROM bc),
         |bw AS MATERIALIZED (SELECT bucket,
         |    ${IL("c1+1")} - ${IL("n1+1")} - ${IL("c0+1")} + ${IL("n0+1")} AS w
         |  FROM bc, ms),
         |dm AS MATERIALIZED (SELECT
         |    CAST(count(*) FILTER (heur=1) AS BIGINT) AS m1,
         |    CAST(count(*) FILTER (heur=0) AS BIGINT) AS m0 FROM lab WHERE train),
         |lw AS MATERIALIZED (SELECT z.lbin,
         |    ${IL("k1+1")} - ${IL("m1+1")} - ${IL("k0+1")} + ${IL("m0+1")} AS w
         |  FROM (SELECT lbin, CAST(count(*) FILTER (heur=1) AS BIGINT) AS k1,
         |      CAST(count(*) FILTER (heur=0) AS BIGINT) AS k0
         |    FROM lab WHERE train GROUP BY 1) z, dm),
         |dw AS MATERIALIZED (SELECT z.dbin,
         |    ${IL("k1+1")} - ${IL("m1+1")} - ${IL("k0+1")} + ${IL("m0+1")} AS w
         |  FROM (SELECT dbin, CAST(count(*) FILTER (heur=1) AS BIGINT) AS k1,
         |      CAST(count(*) FILTER (heur=0) AS BIGINT) AS k0
         |    FROM lab WHERE train GROUP BY 1) z, dm),
         |pr AS MATERIALIZED (SELECT ${IL("m1+1")} - ${IL("m0+1")} AS prior,
         |    m1 + m0 AS n_train FROM dm),
         |ts AS (SELECT tf.doc_id, CAST(sum(tf.tf * bw.w) AS BIGINT) AS tok_score
         |  FROM tf JOIN bw USING (bucket)
         |  JOIN lab l ON l.doc_id = tf.doc_id AND NOT l.train GROUP BY 1),
         |ev AS (SELECT l.doc_id, l.heur,
         |    (SELECT prior FROM pr) + coalesce(lw.w, 0) + coalesce(dw.w, 0)
         |      + coalesce(ts.tok_score, 0) AS score
         |  FROM lab l LEFT JOIN lw ON l.lbin = lw.lbin
         |  LEFT JOIN dw ON l.dbin = dw.dbin
         |  LEFT JOIN ts ON ts.doc_id = l.doc_id WHERE NOT l.train),
         |cf AS (SELECT
         |    CAST(sum(CASE WHEN score >= 0 AND heur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN score < 0 AND heur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN score >= 0 AND heur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN score < 0 AND heur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(count(*) AS BIGINT) AS n_eval FROM ev)
         |SELECT CAST(pr.n_train AS BIGINT) AS n_train, n_eval, tp, tn, fp, fn,
         |  CAST(CASE WHEN n_eval = 0 THEN NULL
         |    ELSE (tp + tn) * 10000 // n_eval END AS BIGINT) AS acc_bp,
         |  CAST(CASE WHEN n_eval = 0 THEN NULL
         |    ELSE greatest(tp + fn, tn + fp) * 10000 // n_eval END AS BIGINT) AS majority_bp
         |FROM cf, pr""".stripMargin
    }) { (s, dir) =>
      val labeled = Tables.documents(s, dir)
        .withColumn("_w", Dedup.words(col("text")))
        .withColumn("heur",
          when(TextFunctions.qualityScore(
            size(array_distinct(col("_w"))), size(col("_w")),
            TextFunctions.stopHits("_w", TextFunctions.enStop)) >= 42, 1)
            .otherwise(0))
        .select(col("doc_id"), col("text"), col("heur"))
      val model = LearnedQuality.train(
        labeled.filter(pmod(col("doc_id"), lit(5)) < 4),
        "doc_id", "text", col("heur"))
      val eval = labeled.filter(pmod(col("doc_id"), lit(5)) === 4)
      val preds = LearnedQuality.classify(eval, "doc_id", "text", model)
        .join(eval.select(col("doc_id"), col("heur")), Seq("doc_id"))
      preds.agg(
          sum(when(col("pred") === 1 && col("heur") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") === 0 && col("heur") === 0, 1L).otherwise(0L)).as("tn"),
          sum(when(col("pred") === 1 && col("heur") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("pred") === 0 && col("heur") === 1, 1L).otherwise(0L)).as("fn"),
          count(lit(1)).as("n_eval"))
        .crossJoin(broadcast(model.prior.select(col("n_train"))))
        // m39 guard: a corpus whose doc_ids all land in the train split
        // leaves n_eval=0 — NULL, never a data-dependent ANSI divide
        .withColumn("acc_bp",
          expr("CASE WHEN n_eval = 0 THEN NULL ELSE (tp + tn) * 10000 div n_eval END"))
        .withColumn("majority_bp",
          expr("CASE WHEN n_eval = 0 THEN NULL " +
            "ELSE greatest(tp + fn, tn + fp) * 10000 div n_eval END"))
        .select(col("n_train"), col("n_eval"), col("tp"), col("tn"),
          col("fp"), col("fn"), col("acc_bp"), col("majority_bp"))
    },

    // LEARNED language ID (round-10 verdict #7 — t20's integer
    // fixed-point NB machinery MULTI-CLASSED over hashed char-trigram
    // features, the fastText-architecture langid production pipelines
    // run where t1 is a hand-set stopword gate): deterministic
    // language markers are planted per doc (doc_id%3 appends repeated
    // de/fr stopword runs sized to dominate the base text's English
    // hits — the m20/t9 synthesize-then-process pattern; %3==2 stays
    // English), t1's heuristic TEACHES (weak supervision: train on
    // doc_id%5<4 heuristic labels), and the multi-class NB must
    // recover the language from sub-word char-trigram buckets alone.
    // One confusion row: held-out agreement vs the majority-class
    // baseline. All-integer il16 scoring; argmax tie-break is
    // lang-ascending (min of (−score, lang)) — cross-engine exact.
    QueryKey("t26_learned_langid", {
      s"""WITH aug AS MATERIALIZED (SELECT doc_id,
         |    text || CASE CAST(doc_id % 3 AS INT)
         |      WHEN 0 THEN repeat(' und der die ist',
         |        CAST(len(regexp_split_to_array(trim(text), '\\s+')) // 4 + 1 AS INT))
         |      WHEN 1 THEN repeat(' le la et est',
         |        CAST(len(regexp_split_to_array(trim(text), '\\s+')) // 4 + 1 AS INT))
         |      ELSE '' END AS atext
         |  FROM documents),
         |lab AS MATERIALIZED (SELECT doc_id, atext,
         |    CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
         |         WHEN de >= fr AND de > 0 THEN 'de'
         |         WHEN fr > 0 THEN 'fr' ELSE 'und' END AS heur,
         |    doc_id % 5 < 4 AS train
         |  FROM (SELECT doc_id, atext,
         |      len(list_filter(w, x -> x IN ($en))) AS en,
         |      len(list_filter(w, x -> x IN (${stops(TextFunctions.deStop)}))) AS de,
         |      len(list_filter(w, x -> x IN (${stops(TextFunctions.frStop)}))) AS fr
         |    FROM (SELECT doc_id, atext,
         |        regexp_split_to_array(trim(atext), '\\s+') AS w FROM aug) z) z2),
         |wtk AS MATERIALIZED (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS wc
         |  FROM (SELECT doc_id, unnest(list_filter(
         |      regexp_split_to_array(trim(atext), '\\s+'), x -> x <> '')) AS w
         |    FROM lab) z
         |  GROUP BY 1, 2),
         |wbk AS MATERIALIZED (SELECT w,
         |    CAST(instr('0123456789abcdef', substring(md5(g), 1, 1)) - 1 AS INT)
         |      AS bucket,
         |    CAST(count(*) AS BIGINT) AS m
         |  FROM (SELECT w, unnest(CASE WHEN length(w) >= 3
         |      THEN list_transform(generate_series(1, length(w) - 2),
         |        i -> substr(w, i, 3))
         |      ELSE [] END) AS g
         |    FROM (SELECT DISTINCT w FROM wtk) d) u
         |  GROUP BY 1, 2),
         |tf AS MATERIALIZED (SELECT t.doc_id, b.bucket,
         |    CAST(sum(t.wc * b.m) AS BIGINT) AS tf
         |  FROM wtk t JOIN wbk b ON b.w = t.w GROUP BY 1, 2),
         |cls AS (SELECT DISTINCT heur AS lang FROM lab WHERE train),
         |bc AS (SELECT c.lang, b.bucket, CAST(coalesce(t.c, 0) AS BIGINT) AS c
         |  FROM cls c CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bucket) b
         |  LEFT JOIN (SELECT l.heur AS lang, tf.bucket,
         |      CAST(sum(tf.tf) AS BIGINT) AS c
         |    FROM tf JOIN lab l USING (doc_id) WHERE l.train GROUP BY 1, 2) t
         |    ON t.lang = c.lang AND t.bucket = b.bucket),
         |nc AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM bc GROUP BY 1),
         |wt AS MATERIALIZED (SELECT bc.lang, bc.bucket,
         |    ${IL("c + 1")} - ${IL("n + 16")} AS w
         |  FROM bc JOIN nc USING (lang)),
         |pr AS MATERIALIZED (SELECT lang, ${IL("m + 1")} AS prior, m FROM (
         |    SELECT heur AS lang, CAST(count(*) AS BIGINT) AS m
         |    FROM lab WHERE train GROUP BY 1) z),
         |sc AS (SELECT t.doc_id, w.lang, CAST(sum(t.tf * w.w) AS BIGINT) AS ts
         |  FROM tf t JOIN lab l ON l.doc_id = t.doc_id AND NOT l.train
         |  JOIN wt w ON w.bucket = t.bucket
         |  GROUP BY 1, 2),
         |pred AS (SELECT doc_id, lang AS pred FROM (
         |    SELECT sc.doc_id, sc.lang, sc.ts + pr.prior AS score,
         |      row_number() OVER (PARTITION BY sc.doc_id
         |        ORDER BY (sc.ts + pr.prior) DESC, sc.lang) AS rn
         |    FROM sc JOIN pr USING (lang)) x
         |  WHERE rn = 1),
         |ev AS (SELECT p.doc_id, p.pred, l.heur FROM pred p JOIN lab l USING (doc_id)),
         |mj AS (SELECT CAST(coalesce(max(k), 0) AS BIGINT) AS n_majority FROM (
         |    SELECT count(*) AS k FROM lab WHERE NOT train GROUP BY heur) z),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM lab WHERE train),
         |cf AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
         |    CAST(sum(CASE WHEN pred = heur THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_correct FROM ev)
         |SELECT n_train, n_eval, n_correct, n_majority,
         |  CAST(CASE WHEN n_eval = 0 THEN NULL
         |    ELSE n_correct * 10000 // n_eval END AS BIGINT) AS acc_bp,
         |  CAST(CASE WHEN n_eval = 0 THEN NULL
         |    ELSE n_majority * 10000 // n_eval END AS BIGINT) AS majority_bp
         |FROM nt, cf, mj""".stripMargin
    }) { (s, dir) =>
      // r15 probe: spreading the scan here REGRESSED 2.0 -> 6.0 s (the
      // train/classify pair re-runs the repartition exchange per
      // consumer and the added stages dominate the vocab-grain work) —
      // left as the plain scan deliberately
      val aug = Tables.documents(s, dir)
        .withColumn("_ntok", size(split(trim(col("text")), "\\s+")))
        .withColumn("_k", (col("_ntok") / 4).cast("int") + 1)
        .withColumn("atext", concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            expr("repeat(' und der die ist', _k)"))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            expr("repeat(' le la et est', _k)"))
          .otherwise(lit(""))))
      val labeled = aug
        .withColumn("_w", Dedup.words(col("atext")))
        .withColumn("heur", TextFunctions.langId(
          TextFunctions.stopHits("_w", TextFunctions.enStop),
          TextFunctions.stopHits("_w", TextFunctions.deStop),
          TextFunctions.stopHits("_w", TextFunctions.frStop)))
        .select(col("doc_id"), col("atext"), col("heur"))
        // r16: SIX consumers read this frame (train tf, label set,
        // priors, eval tf, eval heur join, majority) and each re-ran
        // the augment + words + 3×stopHits lineage — the very cost the
        // r15 spread probe identified (lineage re-run per consumer).
        // One localCheckpoint attacks the cause without the
        // per-consumer exchange that made the spread regress 3×.
        .localCheckpoint()
      val model = LearnedQuality.trainLang(
        labeled.filter(pmod(col("doc_id"), lit(5)) < 4),
        "doc_id", "atext", "heur")
      val eval = labeled.filter(pmod(col("doc_id"), lit(5)) === 4)
      val preds = LearnedQuality.classifyLang(eval, "doc_id", "atext", model)
        .join(eval.select(col("doc_id"), col("heur")), Seq("doc_id"))
      val maj = eval.groupBy(col("heur")).agg(count(lit(1)).as("k"))
        .agg(coalesce(max(col("k")), lit(0L)).as("n_majority"))
      preds.agg(count(lit(1)).as("n_eval"),
          sum(when(col("pred") === col("heur"), 1L).otherwise(0L))
            .as("n_correct"))
        .crossJoin(broadcast(model.priors.agg(sum(col("m")).as("n_train"))))
        .crossJoin(broadcast(maj))
        .select(col("n_train"), col("n_eval"), col("n_correct"),
          col("n_majority"),
          expr("CASE WHEN n_eval = 0 THEN NULL " +
            "ELSE n_correct * 10000 div n_eval END").as("acc_bp"),
          expr("CASE WHEN n_eval = 0 THEN NULL " +
            "ELSE n_majority * 10000 div n_eval END").as("majority_bp"))
    },

    // PERPLEXITY quality filter (the CCNet gate — Wenzek et al. 2020:
    // score corpus docs under a language model trained on trusted
    // text, drop the high-perplexity tail; t13 is the unigram-rarity
    // cousin, this is the SEQUENCE model): an add-one-smoothed bigram
    // LM trains on the %5<4 split, and the %5==4 held-out docs are
    // scored. The corpus's own 31-word vocabulary is near-uniform
    // (measured: bigram NLL ≈ il16-uniform 78 — no order signal to
    // learn), so the sequence structure is PLANTED (the t26
    // synthesize-then-process pattern): every doc carries a rigid
    // 8-marker cycle sized to its token count, and doc_id%3==0 eval
    // docs get the SAME markers in a fixed SCRAMBLED order — unigram
    // counts identical, adjacency destroyed, so ONLY a sequence model
    // separates (a unigram/rarity gate scores both classes equal by
    // construction). nll is integer il16 (16ths of a bit) end to end;
    // avg_nll = nll div n_bigrams is the length-normalized perplexity
    // proxy the keep-gate thresholds. Scale shape: one bigram explode
    // per side, counts bigram-type-bounded, vocab scalar broadcast;
    // the pair join is a plain hash shuffle (no broadcast assumption
    // on the model).
    QueryKey("t28_perplexity_lm", {
      val cyc = " qm0x qm1x qm2x qm3x qm4x qm5x qm6x qm7x"
      val scr = " qm0x qm2x qm4x qm6x qm1x qm3x qm5x qm7x"
      s"""WITH dd AS MATERIALIZED (SELECT doc_id, text,
         |    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      x -> x <> '')) // 8 + 1 AS k
         |  FROM documents),
         |tr AS MATERIALIZED (SELECT doc_id,
         |    list_filter(regexp_split_to_array(
         |      trim(text || repeat('$cyc', CAST(k AS INT))), '\\s+'),
         |      x -> x <> '') AS ws
         |  FROM dd WHERE doc_id % 5 < 4),
         |trb AS (SELECT ws[u.j] AS prev, ws[u.j + 1] AS wrd
         |  FROM tr, unnest(generate_series(1, len(ws) - 1)) AS u(j)),
         |cnt AS MATERIALIZED (SELECT prev, wrd, CAST(count(*) AS BIGINT) AS c
         |  FROM trb GROUP BY 1, 2),
         |ctx AS MATERIALIZED (SELECT prev, CAST(sum(c) AS BIGINT) AS cp
         |  FROM cnt GROUP BY 1),
         |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
         |  FROM (SELECT unnest(ws) AS w FROM tr) z),
         |ev AS MATERIALIZED (SELECT doc_id,
         |    list_filter(regexp_split_to_array(trim(text || repeat(
         |      CASE WHEN doc_id % 3 = 0 THEN '$scr' ELSE '$cyc' END,
         |      CAST(k AS INT))), '\\s+'), x -> x <> '') AS aws,
         |    CASE WHEN doc_id % 3 = 0 THEN 'scrambled' ELSE 'natural' END AS planted
         |  FROM dd WHERE doc_id % 5 = 4),
         |evb AS (SELECT doc_id, aws[u.j] AS prev, aws[u.j + 1] AS wrd
         |  FROM ev, unnest(generate_series(1, len(aws) - 1)) AS u(j)),
         |sc AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(${IL("coalesce(ctx.cp, 0) + voc.v")}
         |      - ${IL("coalesce(cnt.c, 0) + 1")}) AS BIGINT) AS nll_il16
         |  FROM evb e
         |  LEFT JOIN cnt ON cnt.prev = e.prev AND cnt.wrd = e.wrd
         |  LEFT JOIN ctx ON ctx.prev = e.prev
         |  CROSS JOIN voc
         |  GROUP BY 1)
         |SELECT ev.doc_id, ev.planted,
         |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(sc.nll_il16, 0) AS BIGINT) AS nll_il16,
         |  CAST(sc.nll_il16 // sc.n_bigrams AS BIGINT) AS avg_nll,
         |  CAST(CASE WHEN sc.n_bigrams IS NULL THEN NULL
         |    WHEN sc.nll_il16 // sc.n_bigrams < $PerplexityKeepBelow THEN 1
         |    ELSE 0 END AS INT) AS keep
         |FROM ev LEFT JOIN sc USING (doc_id) ORDER BY ev.doc_id""".stripMargin
    }) { (s, dir) =>
      val cyc = " qm0x qm1x qm2x qm3x qm4x qm5x qm6x qm7x"
      val scr = " qm0x qm2x qm4x qm6x qm1x qm3x qm5x qm7x"
      val docs = Tables.documents(s, dir)
        .withColumn("_k",
          expr("size(filter(split(trim(text), '\\\\s+'), x -> x <> '')) div 8 + 1"))
      val lm = LearnedQuality.trainBigramLm(
        docs.filter(pmod(col("doc_id"), lit(5)) < 4)
          .withColumn("ws", expr(
            s"filter(split(trim(concat(text, repeat('$cyc', _k))), '\\\\s+'), " +
            "x -> x <> '')")),
        "doc_id", "ws")
      val eval0 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
        .withColumn("aws", expr(
          "filter(split(trim(concat(text, repeat(" +
          s"IF(doc_id % 3 = 0, '$scr', '$cyc'), _k))), '\\\\s+'), " +
          "x -> x <> '')"))
      val scored = LearnedQuality.bigramNll(eval0, "doc_id", "aws", lm)
      eval0.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("scrambled"))
            .otherwise(lit("natural")).as("planted"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"), col("planted"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("nll_il16"), lit(0L)).as("nll_il16"),
          expr("CASE WHEN n_bigrams IS NULL THEN NULL " +
            "ELSE nll_il16 div n_bigrams END").as("avg_nll"),
          expr("CAST(CASE WHEN n_bigrams IS NULL THEN NULL " +
            s"WHEN nll_il16 div n_bigrams < ${PerplexityKeepBelow} THEN 1 " +
            "ELSE 0 END AS INT)").as("keep"))
        .orderBy(col("doc_id"))
    },

    // BPE merge LEARNING (Sennrich et al. 2016) — the tokenizer-
    // training pass itself (t3/t8 consume a tokenizer; this produces
    // one): 3 greedy merges over the corpus vocabulary with the
    // compression curve (syms_after) a trainer actually watches. ONE
    // corpus scan builds the vocab aggregate; pair counting, argmax
    // (1-row broadcast, never collected) and the greedy left-to-right
    // re-segmentation fold all run on |V| rows. See Bpe.learnMerges
    // for semantics + the recursive-CTE oracle mapping.
    QueryKey("t21_bpe_learn", {
      // three chained greedy-merge iterations; each fold is a recursive
      // CTE over symbol positions (list_reduce is broken for varying
      // lengths — round-7 finding) and every reused stage MATERIALIZED
      // (the CTE-inlining lesson). Mirrors Bpe.learnMerges exactly.
      s"""$bpeOracleCtes
         |SELECT * FROM (
         |  SELECT 1 AS iter, b.l AS left_sym, b.r AS right_sym,
         |    b.l || b.r AS merged, b.pair_cnt, a.syms_after FROM b1 b, a1 a
         |  UNION ALL SELECT 2, b.l, b.r, b.l || b.r, b.pair_cnt, a.syms_after
         |    FROM b2 b, a2 a
         |  UNION ALL SELECT 3, b.l, b.r, b.l || b.r, b.pair_cnt, a.syms_after
         |    FROM b3 b, a3 a) u
         |ORDER BY iter""".stripMargin
    }) { (s, dir) =>
      Bpe.learnMerges(Tables.documents(s, dir), "text", n = 3)
    },

    // BPE at PRODUCTION merge count (round-10 verdict #5 — t21 is one
    // driver round per merge; a 32k-merge vocab needs batching): up to
    // 16 pairwise conflict-free merges per driver round ({l, r, l||r}
    // disjointness makes the batch order-independent and count-stable,
    // so ONE greedy fold applies all 16 exactly as sequential
    // application would — see Bpe.learnMergesBatched for the proof
    // sketch and the documented queue-jump deviation). 8 rounds learn
    // 82 merges on this corpus (≥64 in ≤8 driver compositions — the
    // verdict's bar); the oracle unrolls all 8 rounds with a recursive
    // selection walk + multi-pair re-segmentation walk per round.
    QueryKey("t27_bpe_batch", bpeBatchOracle) { (s, dir) =>
      Bpe.learnMergesBatched(Tables.documents(s, dir), "text",
        rounds = 8, batchMax = 16)
    },

    // DETOKENIZATION round-trip audit (t32 — the losslessness gate a
    // tokenizer ships with: encode → decode must reproduce the input,
    // or training/serving silently see different text): every corpus
    // token decodes THROUGH the BPE segmentation (t22's vocab-grain
    // join — the segmentation and its decode are computed once per
    // DISTINCT word, never per token) and must equal the original word
    // in place; a document is ok only if EVERY token round-trips. The
    // oracle asserts the identity analytically (concat of merged
    // symbols IS the word by construction) — the Spark side carries
    // the burden: any merge-fold or decode bug breaks n_ok and the
    // hash. Token-grain equality deliberately replaces whole-document
    // string rebuilding (first cut concat_ws'd every doc back together
    // for an md5: corpus-byte string synthesis, 7.4 s warm at sf0.1 —
    // the per-token form audits the same fold at 4× less).
    QueryKey("t32_detok_roundtrip",
      // same shared CTE chain as t21; the apply half joins the final
      // segmentation s3 back to the exploded corpus
      // the identity is analytic in the oracle (merged symbols concat to
      // the word by construction) — n_ok == n_docs; n_syms prices the
      // segmentation so a wrong merge fold still breaks the hash
      s"""$bpeOracleCtes,
         |d AS (SELECT doc_id, lang, w FROM (
         |    SELECT doc_id, lang,
         |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM documents) x WHERE length(w) > 0),
         |j AS (SELECT d.doc_id, d.lang, len(s.syms) AS n_syms
         |  FROM d JOIN s3 s USING (w)),
         |per AS (SELECT doc_id, lang, CAST(sum(n_syms) AS BIGINT) AS n_syms
         |  FROM j GROUP BY 1, 2)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_ok,
         |  CAST(sum(n_syms) AS BIGINT) AS n_syms
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val segs = Bpe.segmentVocab(docs, "text", n = 3)
        .select(col("w"), concat_ws("", col("syms")).as("rebuilt"),
          size(col("syms")).cast("long").as("n_syms"))
      docs.select(col("doc_id"), col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .join(segs, Seq("w"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(
          sum(when(col("rebuilt") === col("w"), 0L).otherwise(1L)).as("n_bad"),
          sum(col("n_syms")).as("n_syms"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_bad") === 0L, 1L).otherwise(0L)).as("n_ok"),
          sum(col("n_syms")).as("n_syms"))
        .orderBy(col("lang"))
    },

    // BPE APPLICATION (t21's apply half — train→apply like d23→d24 and
    // LearnedQuality.train→classify): segment the corpus with the 3
    // learned merges and account per-doc token budgets (the number a
    // packing pass like p4 actually consumes). The merge loop runs ONCE
    // on the |V|-row vocab (Bpe.segmentVocab); the corpus-sized side is
    // one explode + equi-join on the word — never re-segmented per
    // occurrence. compression_bp = chars saved per doc, truncating.
    QueryKey("t22_bpe_apply",
      s"""$bpeOracleCtes,
         |d AS (SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM documents) x WHERE length(w) > 0),
         |seg AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_syms FROM s3)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
         |  CAST(sum(seg.n_syms) AS BIGINT) AS n_bpe,
         |  CAST(CASE WHEN sum(length(d.w)) = 0 THEN NULL
         |    ELSE (sum(length(d.w)) - sum(seg.n_syms)) * 10000 // sum(length(d.w))
         |    END AS BIGINT) AS compression_bp
         |FROM d JOIN seg USING (w)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val segs = Bpe.segmentVocab(docs, "text", n = 3)
        .select(col("w"), size(col("syms")).as("n_syms"))
      docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .join(segs, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).as("n_chars"),
          sum(col("n_syms")).cast("long").as("n_bpe"))
        .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_bpe"),
          expr("CASE WHEN n_chars = 0 THEN NULL " +
            "ELSE (n_chars - n_bpe) * 10000 div n_chars END")
            .as("compression_bp"))
        .orderBy(col("doc_id"))
    },

    // corpus LAW diagnostics, Zipf half — the statistical sanity gate a
    // crawl batch passes before training (a Zipf slope far from a
    // natural corpus's flags boilerplate floods or spam): word counts
    // collapse to frequency OCTAVES (length(bin(cnt))-1 — the
    // cross-engine integer floor-log2; libm log2 is never oracle-safe),
    // then ONE integer OLS of octave-of-type-count on octave (m40's
    // cross-moment pattern, millionths, single final div). Two
    // aggregates end-to-end: corpus → vocab → ~20 octave rows; the fit
    // is a 1-row broadcast back onto the octave histogram.
    QueryKey("t23_zipf_octaves",
      """WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) x
        |  WHERE length(w) > 0 GROUP BY 1),
        |oct AS (SELECT CAST(length(bin(cnt)) - 1 AS INT) AS octave,
        |    CAST(count(*) AS BIGINT) AS n_types, CAST(sum(cnt) AS BIGINT) AS mass
        |  FROM wc GROUP BY 1),
        |pts AS (SELECT CAST(octave AS BIGINT) AS x,
        |    CAST(length(bin(n_types)) - 1 AS BIGINT) AS y FROM oct),
        |fit AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy FROM pts)
        |SELECT octave, n_types, mass,
        |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) END
        |    AS BIGINT) AS zipf_slope_mi
        |FROM oct, fit ORDER BY octave""".stripMargin) { (s, dir) =>
      val oct = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .groupBy((length(bin(col("cnt"))) - 1).as("octave"))
        .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("mass"))
      val fit = oct
        .select(col("octave").cast("long").as("x"),
          (length(bin(col("n_types"))) - 1).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
        .select(expr("CASE WHEN n * sxx - sx * sx = 0 THEN NULL " +
          "ELSE (n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) END")
          .as("zipf_slope_mi"))
      oct.crossJoin(broadcast(fit)).orderBy(col("octave"))
    },

    // corpus LAW diagnostics, Heaps half — vocabulary GROWTH across
    // corpus quartiles (sub-linear growth is healthy; a flat curve
    // means the crawl stopped finding new language, a linear one means
    // unfiltered noise): quartile = doc_id·4 div n_docs (broadcast
    // 1-row count), each word charged to the quartile of its FIRST
    // appearance (min — one partial agg on vocab rows). The cumulative
    // window runs partitionless on FOUR aggregate rows (p14's
    // documented manifest-sized exception, not a corpus window).
    QueryKey("t24_heaps_growth",
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |dw AS (SELECT w,
        |    CAST(LEAST(3, doc_id * 4 // n_docs) AS INT) AS q
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) x, nd
        |  WHERE length(w) > 0),
        |nt AS (SELECT q, CAST(count(*) AS BIGINT) AS new_types FROM (
        |    SELECT w, CAST(min(q) AS INT) AS q FROM dw GROUP BY 1) f GROUP BY 1),
        |tk AS (SELECT q, CAST(count(*) AS BIGINT) AS n_tokens FROM dw GROUP BY 1)
        |SELECT tk.q, CAST(coalesce(nt.new_types, 0) AS BIGINT) AS new_types,
        |  tk.n_tokens,
        |  CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY tk.q) AS BIGINT)
        |    AS cum_vocab,
        |  CAST(sum(tk.n_tokens) OVER (ORDER BY tk.q) AS BIGINT) AS cum_tokens
        |FROM tk LEFT JOIN nt USING (q) ORDER BY q""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val dw = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .crossJoin(broadcast(nd))
        .select(col("w"),
          least(lit(3), expr("doc_id * 4 div n_docs")).cast("int").as("q"))
      val newTypes = dw.groupBy(col("w")).agg(min(col("q")).as("q"))
        .groupBy(col("q")).agg(count(lit(1)).as("new_types"))
      dw.groupBy(col("q")).agg(count(lit(1)).as("n_tokens"))
        .join(newTypes, Seq("q"), "left")
        .select(col("q"), coalesce(col("new_types"), lit(0L)).as("new_types"),
          col("n_tokens"))
        .withColumn("cum_vocab",
          sum(col("new_types")).over(Window.orderBy(col("q"))))
        .withColumn("cum_tokens",
          sum(col("n_tokens")).over(Window.orderBy(col("q"))))
        .orderBy(col("q"))
    },

    // the hashing trick (Weinberger et al. 2009) — fixed-width feature
    // vectors from unbounded vocabulary with NO dictionary pass: each
    // word maps to bucket = first md5 nibble (16-dim), per-doc term
    // frequencies sum into buckets. The output is the SPARSE row form
    // (doc, bucket, tf) — what a 100-TB vectorizer emits (dense arrays
    // waste storage at high width, and the sparse form is what the
    // downstream dot-product join wants, t17). One explode + one
    // partial-agg hash shuffle; md5 is the only cross-engine hash.
    QueryKey("t16_feature_hash",
      """SELECT doc_id,
        |  CAST(instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1 AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS tf
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents) t
        |WHERE length(w) > 0
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .withColumn("bucket",
          expr("CAST(instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1 AS INT)"))
        .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("tf"))
        .orderBy(col("doc_id"), col("bucket"))
    },

    // does the hashed embedding FAITHFULLY stand in for the exact one,
    // and how fast does fidelity buy back with width? — the eval that
    // closes the r7 self-assessment gap (the synthetic corpus's
    // text⊥embeddings independence capped what hybrid fusion could
    // show; with TEXT-DERIVED vectors the fidelity question becomes
    // measurable). Truth = EXACT term-space tf-cosine top-3 (the
    // unhashed vectorizer — hashing is then the ONLY difference being
    // scored, not a metric mismatch). Approx = t16's hashed-BoW cosine
    // at widths 16 and 256, BOTH bucket ids from disjoint nibble
    // ranges of ONE md5 per term (the st13 Kirsch-Mitzenmacher move).
    // The width sweep shares everything: ONE (doc,term) aggregate
    // (localCheckpointed) feeds truth AND both widths (the width-
    // tagged bucket rows are one explode + one partial-agg shuffle);
    // cosine = dot/sqrt·sqrt on exact integer moments (m37-class
    // finish). Measured at sf0.01: recall 20% at width 16 → 100% at
    // width 256 — the hashing-trick distortion is real at toy width
    // and GONE at production width. Query-side joins are broadcast;
    // the dense-width dot touches the corpus per query like s1's
    // declared brute baseline (at 100 TB the candidate set would be
    // LSH-pruned first, s2/s5).
    // baseline: exact term-space cosine truth + dense-width dot, like s5
    QueryKey("t17_embed_fidelity",
      s"""WITH tt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf_w FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        |    FROM documents) x
        |  WHERE length(w) > 0 GROUP BY 1, 2),
        |en2 AS (SELECT doc_id, CAST(sum(tf_w * tf_w) AS BIGINT) AS n2 FROM tt GROUP BY 1),
        |eq AS (SELECT doc_id AS query_id, w, tf_w AS qtf FROM tt WHERE ${firstPanel("doc_id")}),
        |edots AS (SELECT eq.query_id, tt.doc_id, CAST(sum(tt.tf_w * eq.qtf) AS BIGINT) AS dot
        |  FROM tt JOIN eq ON tt.w = eq.w AND tt.doc_id <> eq.query_id GROUP BY 1, 2),
        |esim AS (SELECT d.query_id, d.doc_id,
        |    round(CAST(d.dot AS DOUBLE) / sqrt(a.n2) / sqrt(b.n2), 6) AS sim
        |  FROM edots d JOIN en2 a ON d.query_id = a.doc_id JOIN en2 b ON d.doc_id = b.doc_id),
        |truth AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rnk
        |    FROM esim) t WHERE rnk <= 3),
        |wb AS (SELECT doc_id, tf_w,
        |    (instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1) AS b16,
        |    (instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1)
        |      + 16 * (instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1) AS b256
        |  FROM tt),
        |tf AS (SELECT doc_id, width, bucket, CAST(sum(tf_w) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, tf_w, 16 AS width, CAST(b16 AS INT) AS bucket FROM wb
        |    UNION ALL
        |    SELECT doc_id, tf_w, 256 AS width, CAST(b256 AS INT) AS bucket FROM wb) u
        |  GROUP BY 1, 2, 3),
        |n2 AS (SELECT doc_id, width, CAST(sum(tf * tf) AS BIGINT) AS n2
        |  FROM tf GROUP BY 1, 2),
        |qtf AS (SELECT doc_id AS query_id, width, bucket, tf AS qtf
        |  FROM tf WHERE ${firstPanel("doc_id")}),
        |dots AS (SELECT q.width, q.query_id, tf.doc_id,
        |    CAST(sum(tf.tf * q.qtf) AS BIGINT) AS dot
        |  FROM tf JOIN qtf q ON tf.width = q.width AND tf.bucket = q.bucket
        |    AND tf.doc_id <> q.query_id
        |  GROUP BY 1, 2, 3),
        |hsim AS (SELECT d.width, d.query_id, d.doc_id,
        |    round(CAST(d.dot AS DOUBLE) / sqrt(a.n2) / sqrt(b.n2), 6) AS sim
        |  FROM dots d
        |  JOIN n2 a ON d.query_id = a.doc_id AND d.width = a.width
        |  JOIN n2 b ON d.doc_id = b.doc_id AND d.width = b.width),
        |approx AS (SELECT width, query_id, doc_id FROM (
        |    SELECT width, query_id, doc_id,
        |      row_number() OVER (PARTITION BY width, query_id ORDER BY sim DESC, doc_id) AS rnk
        |    FROM hsim) t WHERE rnk <= 3),
        |hits AS (SELECT a.width, a.query_id, count(*) AS n_hits FROM approx a
        |  JOIN truth t ON t.query_id = a.query_id AND t.doc_id = a.doc_id
        |  GROUP BY 1, 2)
        |SELECT CAST(q0.width AS INT) AS width, q0.query_id,
        |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(n_hits, 0) * 100 // 3 AS INT) AS recall_pct
        |FROM (SELECT DISTINCT doc_id AS query_id, width FROM tt, (
        |    SELECT unnest([16, 256]) AS width) ws WHERE ${firstPanel("doc_id")}) q0
        |LEFT JOIN hits ON q0.query_id = hits.query_id AND q0.width = hits.width
        |ORDER BY q0.width, q0.query_id""".stripMargin, baseline = true) { (s, dir) =>
      // first-copy query bound (the s16/s17 lever): without the id cap
      // the query set grows WITH the corpus and the exact-truth join
      // goes quadratic — measured 557 s at ~sf1 vs 4.8 s at sf0.1
      // before the bound; the eval question is per-query fidelity, so
      // a bounded panel is the honest form (Panel.first)
      // spread INTO the checkpoint (r15): AQE coalesces the small tf
      // aggregate to ~1 partition, and both inverted-index dot joins
      // then fan out ~15M joined rows on that width — the whole truth
      // pass ran near-single-threaded off the checkpoint
      val termTf = Relational.spread(
          Tables.documents(s, dir)
            .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
            .filter(length(col("w")) > 0)
            .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf_w")),
          col("doc_id"))
        .localCheckpoint()
      val truth = tfCosineTruth(termTf, Panel.first, 3)
      // hashed side, width-tagged from one md5 per term
      val tf = termTf
        .withColumn("_b16",
          expr("instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1"))
        .withColumn("_b256",
          expr("_b16 + 16 * (instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1)"))
        .select(col("doc_id"), col("tf_w"), explode(array(
          struct(lit(16).as("width"), col("_b16").cast("int").as("bucket")),
          struct(lit(256).as("width"), col("_b256").cast("int").as("bucket")))).as("wb"))
        .select(col("doc_id"), col("wb.width").as("width"),
          col("wb.bucket").as("bucket"), col("tf_w"))
        .groupBy(col("doc_id"), col("width"), col("bucket"))
        .agg(sum(col("tf_w")).as("tf"))
        // spread into the checkpoint — same rationale as termTf above
        .transform(d => Relational.spread(d, col("doc_id")))
        .localCheckpoint()
      val n2 = tf.groupBy(col("doc_id"), col("width")).agg(sum(expr("tf * tf")).as("n2"))
      val qTf = tf.filter(Panel.first(col("doc_id")))
        .select(col("doc_id").as("query_id"), col("width"), col("bucket"),
          col("tf").as("qtf"))
      val dots = tf.join(broadcast(qTf), Seq("width", "bucket"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("width"), col("query_id"), col("doc_id"))
        .agg(sum(expr("tf * qtf")).as("dot"))
      val hashSims = dots
        .join(broadcast(n2.select(col("doc_id").as("query_id"), col("width"),
          col("n2").as("qn2"))), Seq("query_id", "width"))
        .join(n2, Seq("doc_id", "width"))
        .withColumn("sim", round(col("dot") / sqrt(col("qn2")) / sqrt(col("n2")), 6))
      val approx = Relational.topNPerGroupFast(hashSims, 3, Seq("width", "query_id"),
          Seq(("sim", false), ("doc_id", true)))
        .select(col("width"), col("query_id"), col("doc_id"))
      val hits = approx.join(truth, Seq("query_id", "doc_id"), "left_semi")
        .groupBy(col("width"), col("query_id")).agg(count(lit(1)).as("n_hits"))
      termTf.filter(Panel.first(col("doc_id"))).select(col("doc_id").as("query_id")).distinct()
        .select(col("query_id"), explode(array(lit(16), lit(256))).as("width"))
        .join(hits, Seq("width", "query_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall_pct", expr("CAST(n_hits * 100 div 3 AS INT)"))
        .select(col("width"), col("query_id"), col("n_hits"), col("recall_pct"))
        .orderBy(col("width"), col("query_id"))
    },

    // triangle counting over the word-collocation graph — the graph-
    // analytics primitive behind community/cohesion metrics, in the
    // DEGREE-ORIENTED form that scales: each undirected edge is
    // oriented low-(degree,name) → high, so every triangle is found
    // exactly once and each node's out-list is O(√m) — the wedge join
    // never explodes on hubs (the naive undirected join squares the
    // hottest degree). Corpus → edge list is ONE bigram pass (support
    // ≥ 3 on the unordered pair); the edge list is vocabulary-sized
    // and localCheckpointed — degrees, orientation, and the two wedge
    // joins never touch the corpus again. Output: one all-integer
    // summary row (nodes/edges/wedges/triangles + global clustering
    // coefficient 3T/W in bp, floor).
    QueryKey("t15_colloc_triangles",
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS wd FROM documents),
        |bg AS (SELECT unnest(CASE WHEN len(wd) >= 2
        |    THEN list_transform(generate_series(1, len(wd)-1), i -> [wd[i], wd[i+1]])
        |    ELSE [] END) AS pr FROM w),
        |e0 AS (SELECT CASE WHEN pr[1] < pr[2] THEN pr[1] ELSE pr[2] END AS a,
        |    CASE WHEN pr[1] < pr[2] THEN pr[2] ELSE pr[1] END AS b
        |  FROM bg WHERE pr[1] <> pr[2]),
        |edges AS (SELECT a, b FROM e0 GROUP BY a, b HAVING count(*) >= 3),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS w FROM edges UNION ALL SELECT b AS w FROM edges) u GROUP BY 1),
        |orient AS (SELECT
        |    CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
        |      THEN e.a ELSE e.b END AS src,
        |    CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
        |      THEN e.b ELSE e.a END AS dst
        |  FROM edges e JOIN deg da ON e.a = da.w JOIN deg db ON e.b = db.w),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM orient e1 JOIN orient e2 ON e1.dst = e2.src
        |  JOIN orient e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ea AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CAST(CASE WHEN n_wedges > 0 THEN 3 * n_triangles * 10000 // n_wedges
        |    ELSE 0 END AS BIGINT) AS global_cc_bp
        |FROM na, ea, tri""".stripMargin) { (s, dir) =>
      Graph.triangleStats(collocEdges(s, dir))
    },

    // k-core of the collocation graph — the PEELING primitive behind
    // dense-region extraction (curation keeps the cohesive vocabulary
    // core; SIEM keeps the tightly-coupled host cluster). The cascade
    // is the point: removing one node can push neighbors below k, so a
    // single degree filter is NOT a k-core — PipelineSpec plants the
    // path graph where they differ and the hub-star that collapses
    // entirely. Driver-bounded peel loop on the checkpointed
    // vocabulary-sized edge list (d9's pattern; native recursion is
    // blocked by the same aggregate-over-recursive-ref rule, canary-
    // pinned). kCore runs to TRUE fixpoint (throws at its safety cap
    // instead of truncating — round-7 verdict finding); the oracle
    // unrolls 16 peels, 4× the observed convergence depth — beyond-
    // fixpoint rounds are no-ops, so extra unrolls never desync, and a
    // cascade deeper than 16 would fail LOUDLY at the hash gate.
    QueryKey("t18_colloc_kcore", {
      // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
      // reference, and an 8-deep unroll referencing its predecessor 4×
      // expands exponentially (first symptom: "Too many open files"
      // from re-opening the parquet under each inlined copy)
      def iter(inE: String, outE: String): String =
        s"""d$outE AS MATERIALIZED (SELECT w, count(*) AS dg FROM (
           |    SELECT a AS w FROM $inE UNION ALL SELECT b AS w FROM $inE) u GROUP BY 1),
           |k$outE AS MATERIALIZED (SELECT w FROM d$outE WHERE dg >= 29),
           |$outE AS MATERIALIZED (SELECT e.a, e.b FROM $inE e
           |  JOIN k$outE x ON e.a = x.w JOIN k$outE y ON e.b = y.w)""".stripMargin
      // 16 unrolled peels: Spark-side kCore now iterates to TRUE
      // fixpoint (throwing at its safety cap rather than truncating),
      // and beyond-fixpoint peels are no-ops, so the oracle stays exact
      // as long as its unroll depth >= the actual convergence depth
      // (observed <= 4 at every tested SF; 16 is 4x margin — a deeper
      // cascade would surface as a loud hash mismatch, never a silent
      // agreement on a truncated answer, which is what the old
      // 8-bounded-on-BOTH-sides form risked)
      val chain = (1 to 16).map(i => iter(if (i == 1) "edges" else s"e${i - 1}", s"e$i"))
        .mkString(",\n")
      s"""WITH w AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS wd FROM documents),
         |bg AS (SELECT unnest(CASE WHEN len(wd) >= 2
         |    THEN list_transform(generate_series(1, len(wd)-1), i -> [wd[i], wd[i+1]])
         |    ELSE [] END) AS pr FROM w),
         |e0 AS (SELECT CASE WHEN pr[1] < pr[2] THEN pr[1] ELSE pr[2] END AS a,
         |    CASE WHEN pr[1] < pr[2] THEN pr[2] ELSE pr[1] END AS b
         |  FROM bg WHERE pr[1] <> pr[2]),
         |edges AS MATERIALIZED (SELECT a, b FROM e0 GROUP BY a, b HAVING count(*) >= 3),
         |$chain
         |SELECT w, CAST(count(*) AS BIGINT) AS core_deg FROM (
         |  SELECT a AS w FROM e16 UNION ALL SELECT b AS w FROM e16) u
         |GROUP BY w ORDER BY w""".stripMargin
    }) { (s, dir) =>
      Graph.kCore(collocEdges(s, dir), k = 29).orderBy(col("w"))
    },

    // TextRank keyword extraction (Mihalcea & Tarau 2004) — the graph
    // trio completed on the WORD side (t15 triangles, t18 k-core, now
    // centrality): s10's integer PageRank (Graph.pageRank) over the
    // UNDIRECTED collocation graph (each edge contributes both
    // directions), top-20 words by rank with degree. The directed edge
    // list is vocabulary-bounded and checkpointed once, so iterations
    // never rescan the corpus. A hub word (high degree) splits its rank thinly — the
    // r div deg contribution is what separates TextRank from raw
    // degree ranking.
    QueryKey("t29_textrank_keywords", {
      // s10's unrolled integer-PageRank recurrence over the undirected
      // collocation edges; iteration CTEs MATERIALIZED (CTE-inlining
      // lesson — each step references its predecessor via the contrib
      // join)
      def iter(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (SELECT n.w,
           |    CAST(150000 + (85 * COALESCE(s.x, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT ed.dst AS w, CAST(sum(p.r // dg.deg) AS BIGINT) AS x
           |    FROM ed JOIN $prev p ON p.w = ed.src JOIN dg ON dg.src = ed.src
           |    GROUP BY 1) s ON s.w = n.w)""".stripMargin
      s"""WITH w AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS wd
         |  FROM documents),
         |bg AS (SELECT unnest(CASE WHEN len(wd) >= 2
         |    THEN list_transform(generate_series(1, len(wd)-1), i -> [wd[i], wd[i+1]])
         |    ELSE [] END) AS pr FROM w),
         |e0 AS (SELECT CASE WHEN pr[1] < pr[2] THEN pr[1] ELSE pr[2] END AS a,
         |    CASE WHEN pr[1] < pr[2] THEN pr[2] ELSE pr[1] END AS b
         |  FROM bg WHERE pr[1] <> pr[2]),
         |eu AS MATERIALIZED (SELECT a, b FROM e0 GROUP BY a, b HAVING count(*) >= 3),
         |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM eu
         |  UNION ALL SELECT b, a FROM eu),
         |dg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM ed GROUP BY 1),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS w FROM ed),
         |r0 AS (SELECT w, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT n.w, CAST(dg.deg AS INT) AS deg, r3.r AS rank_e6
         |FROM nodes n JOIN dg ON dg.src = n.w JOIN r3 ON r3.w = n.w
         |ORDER BY r3.r DESC, n.w LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val und = collocEdges(s, dir)
      val ed = und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
      Graph.pageRank(ed)
        .orderBy(col("r").desc, col("id")).limit(20)
        .select(col("id").as("w"), col("out_deg").cast("int").as("deg"),
          col("r").as("rank_e6"))
    },

    // Unicode NFC normalization audit — the tokenizer-input contract
    // pass (t12 audits byte VALIDITY; this audits canonical FORM): two
    // byte-distinct spellings of é must become ONE vocab entry before
    // any t-family counting, so every crawled doc passes through NFC
    // between decode and tokenize. Native Catalyst expression
    // (NfcNormalize, registered as nfc_normalize) wrapping the JDK's
    // Unicode-standard normalizer — codegen'd, map-only, with an
    // isNormalized fast path so the overwhelmingly-ASCII row never
    // allocates. Planted per-doc accent tails (doc_id%6) cover: already-
    // NFC ASCII, composition (e+U+0301→é, a+U+0300→à, two-step
    // o+U+0302+U+0301→ố), an already-composed no-op (é), and pure
    // CANONICAL REORDERING (q+U+0307+U+0323 → U+0323 first — changed
    // bytes at UNCHANGED length, the case a naive composer misses).
    // DuckDB's utf8proc nfc_normalize is byte-identical on all six
    // (probed empirically) — the oracle hash proves the JDK and
    // utf8proc agree on every row.
    QueryKey("t30_unicode_norm",
      // utf8proc NFC vs the JDK normalizer — byte-identical by the
      // Unicode standard; the md5 proves it per row (chr() codepoints:
      // 769=U+0301, 768=U+0300, 233=U+00E9, 770=U+0302, 775=U+0307,
      // 803=U+0323)
      """WITH r AS (SELECT doc_id,
        |    substring(trim(text), 1, 12) || ' ' ||
        |    CASE CAST(doc_id % 6 AS INT)
        |      WHEN 1 THEN 'e' || chr(769)
        |      WHEN 2 THEN 'a' || chr(768)
        |      WHEN 3 THEN chr(233)
        |      WHEN 4 THEN 'o' || chr(770) || chr(769)
        |      WHEN 5 THEN 'q' || chr(775) || chr(803)
        |      ELSE '' END AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM r)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw <> norm THEN 1 ELSE 0 END AS INT) AS changed,
        |  CAST(length(raw) AS INT) AS len_before,
        |  CAST(length(norm) AS INT) AS len_after,
        |  md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tail = when(col("doc_id") % 6 === 1, lit("e\u0301"))
        .when(col("doc_id") % 6 === 2, lit("a\u0300"))
        .when(col("doc_id") % 6 === 3, lit("\u00e9"))
        .when(col("doc_id") % 6 === 4, lit("o\u0302\u0301"))
        .when(col("doc_id") % 6 === 5, lit("q\u0307\u0323"))
        .otherwise(lit(""))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(substring(trim(col("text")), 1, 12), lit(" "), tail).as("raw"))
        .withColumn("norm", expr("nfc_normalize(raw)"))
        .select(col("doc_id"),
          when(col("raw") =!= col("norm"), 1).otherwise(0).cast("int").as("changed"),
          length(col("raw")).cast("int").as("len_before"),
          length(col("norm")).cast("int").as("len_after"),
          md5(col("norm")).as("norm_md5"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition quality signals (Rae et al. 2021, §A1):
    // the share of a document covered by its single most-frequent
    // bigram and by duplicated trigrams — the boilerplate /
    // loop-generated-text gates a training pipeline applies before
    // packing. Scale shape: ONE corpus scan explodes BOTH gram sizes
    // (tagged 2/3) into one partial-agg hash shuffle; everything after
    // the (doc,g,gram) count is aggregate-row-sized. Integer bp ratios
    // (floor div); docs with <2 words have no grams and are absent in
    // both engines; trigram columns guard the 2-word case to 0.
    QueryKey("t14_repetition",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd FROM documents),
        |g AS (
        |  SELECT doc_id, 2 AS g, unnest(CASE WHEN len(wd) >= 2
        |      THEN list_transform(generate_series(1, len(wd)-1), i -> wd[i] || ' ' || wd[i+1])
        |      ELSE [] END) AS gram FROM w
        |  UNION ALL
        |  SELECT doc_id, 3 AS g, unnest(CASE WHEN len(wd) >= 3
        |      THEN list_transform(generate_series(1, len(wd)-2), i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
        |      ELSE [] END) AS gram FROM w),
        |c AS (SELECT doc_id, g, gram, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, g, CAST(sum(c) AS BIGINT) AS n_grams,
        |    CAST(max(c) AS BIGINT) AS top_n,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_n
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(coalesce(max(CASE WHEN g = 2 THEN n_grams END), 0) AS BIGINT) AS n_bi,
        |  CAST(coalesce(max(CASE WHEN g = 2 THEN top_n END), 0) AS BIGINT) AS top_bi_n,
        |  CAST(CASE WHEN coalesce(max(CASE WHEN g = 2 THEN n_grams END), 0) > 0
        |    THEN coalesce(max(CASE WHEN g = 2 THEN top_n END), 0) * 10000
        |      // max(CASE WHEN g = 2 THEN n_grams END)
        |    ELSE 0 END AS INT) AS top_bi_bp,
        |  CAST(coalesce(max(CASE WHEN g = 3 THEN n_grams END), 0) AS BIGINT) AS n_tri,
        |  CAST(coalesce(max(CASE WHEN g = 3 THEN dup_n END), 0) AS BIGINT) AS dup_tri_n,
        |  CAST(CASE WHEN coalesce(max(CASE WHEN g = 3 THEN n_grams END), 0) > 0
        |    THEN coalesce(max(CASE WHEN g = 3 THEN dup_n END), 0) * 10000
        |      // max(CASE WHEN g = 3 THEN n_grams END)
        |    ELSE 0 END AS INT) AS dup_tri_bp
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      repetitionFrame(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    // tokenizer-vocabulary construction: top-200 terms by corpus
    // frequency with cumulative coverage in basis points. Scale shape:
    // term counts are ONE partial-agg hash shuffle; the top-K is a
    // bounded TakeOrdered (never a global sort of the vocabulary); the
    // running coverage sum windows over the K=200 SURVIVING rows only —
    // a corpus-independent constant — with the total-token count
    // broadcast as a 1-row scalar.
    QueryKey("t8_vocab_coverage",
      """WITH t2 AS (SELECT term FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents) a WHERE length(term) > 0),
        |counts AS (SELECT term, count(*) AS n FROM t2 GROUP BY term),
        |tot AS (SELECT count(*) AS tot FROM t2),
        |top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 200)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rnk,
        |  term, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(sum(n) OVER (ORDER BY n DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    * 10000 // (SELECT tot FROM tot) AS INT) AS cum_bp
        |FROM top ORDER BY rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val terms = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
      val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
      val total = terms.agg(count(lit(1)).as("tot"))
      val byFreq = Window.orderBy(col("n").desc, col("term"))
      counts.orderBy(col("n").desc, col("term")).limit(200)
        .crossJoin(broadcast(total))
        .withColumn("rnk", row_number().over(byFreq).cast("int"))
        .withColumn("cum_n",
          sum(col("n")).over(byFreq.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("rnk"), col("term"), col("n"),
          expr("CAST(cum_n * 10000 div tot AS INT)").as("cum_bp"))
        .orderBy(col("rnk"))
    },

    // sketch-quality evaluation: per candidate pair, the MinHash
    // estimate of Jaccard (slot-agreement fraction over the SAME 8
    // hashes the LSH bands use) against the exact word-3-gram Jaccard,
    // with the error in integer basis points. The eval rides the
    // bounded candidate set — signatures and shingle sets join onto a
    // tiny pair table, never pairwise over the corpus.
    // baseline: output grows ~quadratically under ScaleUp's cloning
    // (every doc cloned, so true near-dup pairs multiply)
    QueryKey("d11_minhash_accuracy",
      s"""WITH $shingleCte
         |SELECT id_a, id_b,
         |  CAST(m AS INT) AS n_slot_matches,
         |  CAST(m AS DOUBLE) / 8 AS est_jaccard,
         |  CAST(i AS DOUBLE) / u AS jaccard,
         |  CAST(abs(10000 * (m * u - 8 * i)) // (8 * u) AS BIGINT) AS err_bp
         |FROM (
         |  SELECT id_a, id_b,
         |    CAST(len(list_filter(generate_series(1, 8), h -> x.g[h] = y.g[h])) AS BIGINT) AS m,
         |    CAST(len(list_intersect(xs.s, ys.s)) AS BIGINT) AS i,
         |    CAST(len(list_distinct(xs.s || ys.s)) AS BIGINT) AS u
         |  FROM cand
         |  JOIN sig x ON id_a = x.doc_id JOIN sig y ON id_b = y.doc_id
         |  JOIN sh2 xs ON id_a = xs.doc_id JOIN sh2 ys ON id_b = ys.doc_id) t
         |ORDER BY id_a, id_b""".stripMargin, baseline = true) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = Dedup.lshCandidates(docs, "doc_id", "text", bands = 4, rows = 2)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 8)
        .select(col("doc_id"), array((0 until 8).map(h => col(s"_m$h")): _*).as("sig"))
      val sets = docs.select(col("doc_id"), Dedup.shingles("text").as("sset"))
      cand
        .join(sigs.toDF("_id", "sig_a"), col("id_a") === col("_id")).drop("_id")
        .join(sigs.toDF("_id", "sig_b"), col("id_b") === col("_id")).drop("_id")
        .join(sets.toDF("_id", "set_a"), col("id_a") === col("_id")).drop("_id")
        .join(sets.toDF("_id", "set_b"), col("id_b") === col("_id")).drop("_id")
        .withColumn("n_slot_matches",
          expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))").cast("int"))
        .withColumn("inter",
          size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        // |A∪B| = |A|+|B|-|A∩B| on distinct arrays — see prefixSimJoin (r15)
        .withColumn("uni",
          (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
        .select(col("id_a"), col("id_b"), col("n_slot_matches"),
          (col("n_slot_matches").cast("double") / lit(8)).as("est_jaccard"),
          (col("inter").cast("double") / col("uni")).as("jaccard"),
          expr("abs(10000L * (n_slot_matches * uni - 8 * inter)) div (8 * uni)")
            .as("err_bp"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // corpus-wide top-20 word bigrams (explode + count + top-k).
    QueryKey("t5_ngram_freq",
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(CASE WHEN len(wd) >= 2
        |    THEN list_transform(generate_series(1, len(wd) - 1), i -> wd[i] || ' ' || wd[i+1])
        |    ELSE [] END) AS bigram
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS wd FROM documents) a) b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (s, dir) =>
      val bigrams = Tables.documents(s, dir)
        .select(explode(expr(
          "CASE WHEN size(split(trim(text), '\\\\s+')) >= 2 THEN " +
          "transform(arrays_zip(slice(split(trim(text), '\\\\s+'), 1, size(split(trim(text), '\\\\s+')) - 1), " +
          "slice(split(trim(text), '\\\\s+'), 2, size(split(trim(text), '\\\\s+')) - 1)), " +
          "x -> concat_ws(' ', x.`0`, x.`1`)) ELSE array() END")).as("bigram"))
      bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    // corpus-likelihood quality filter — the KenLM-proxy rarity score a
    // training pipeline runs where a real LM filter would need libm
    // logs (never oracle-safe): a doc whose tokens are mostly corpus-
    // rare is the gibberish/OCR-noise candidate, flagged by (a) mean
    // corpus frequency of its tokens and (b) the basis-point share of
    // near-hapax tokens (cf < 3). One (doc,term) hash agg; the corpus
    // frequency comes from a sum-over-term window on the SAME aggregate
    // (t6's plan-reuse move — a tf⋈cf self-join would evaluate the tf
    // pipeline twice); the doc scores are a second partial agg over the
    // (doc,term) rows. All integer arithmetic, truncating divisions.
    QueryKey("t13_rarity_score",
      """WITH terms AS (
        |  SELECT doc_id, t AS term
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd
        |    FROM documents) a, unnest(wd) u(t)
        |  WHERE length(t) >= 1),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM terms GROUP BY 1, 2),
        |sc AS (SELECT doc_id, term, tf,
        |    CAST(sum(tf) OVER (PARTITION BY term) AS BIGINT) AS cf FROM tf)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf * cf) // sum(tf) AS BIGINT) AS mean_cf,
        |  CAST(sum(CASE WHEN cf < 3 THEN tf ELSE 0 END) * 10000 // sum(tf) AS BIGINT) AS rare_bp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(length(col("term")) >= 1)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      tf.withColumn("cf", sum(col("tf")).over(Window.partitionBy(col("term"))))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("cf")).as("_cfm"),
          sum(when(col("cf") < 3, col("tf")).otherwise(0L)).as("_nr"))
        .withColumn("mean_cf", expr("_cfm div n_tokens"))
        .withColumn("rare_bp", expr("_nr * 10000 div n_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("mean_cf"), col("rare_bp"))
        .orderBy(col("doc_id"))
    },

    // integer-scaled TF-IDF top terms per doc, one pass: tf is a single
    // (doc,term) hash agg; df comes from a count-over-term window on the
    // SAME aggregate (a tf⋈df self-join would re-evaluate the whole tf
    // pipeline twice — CLAUDE.md plan-reuse pitfall); idf is scaled
    // integer division so ranking is bit-exact vs the oracle. Top-5 per
    // doc through the rank window (partial WindowGroupLimit below the
    // exchange — shuffle-bounded, not a corpus sort).
    QueryKey("t6_tfidf",
      """WITH terms AS (
        |  SELECT doc_id, t AS term
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd
        |    FROM documents) a, unnest(wd) u(t)
        |  WHERE length(t) >= 3),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term, tf,
        |    count(*) OVER (PARTITION BY term) AS df FROM tf)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, CAST(score AS BIGINT) AS score
        |FROM (SELECT doc_id, term,
        |    tf * ((n_docs * 1000000) // df) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * ((n_docs * 1000000) // df) DESC, term) AS rnk
        |  FROM scored, n) x
        |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("wd"))
      val tf = docs.select(col("doc_id"), explode(col("wd")).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
        .crossJoin(broadcast(n))
        .withColumn("score", expr("tf * ((n_docs * 1000000) div df)"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("rnk"))
    },

    // modality distribution over REAL decoded metadata: synthesized
    // valid PNG/JPEG payloads, format read back from the magic bytes.
    QueryKey("x3_modality_stats",
      """SELECT format, count(*) AS n,
        |  CAST(sum(byte_len) AS BIGINT) / CAST(count(*) AS DOUBLE) AS avg_bytes FROM (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 41 END + n_chars % 100 AS BIGINT) AS byte_len
        |  FROM documents) t
        |GROUP BY format ORDER BY format""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthImage)
      Multimodal.decode(payloads)(Multimodal.decodeHeader).toDF()
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n"),
          (sum(col("byte_len").cast("long")) / count(lit(1))).as("avg_bytes"))
        .orderBy(col("format"))
    },

    // prefix-blocking dedup: docs sharing a 5-word prefix (cheap
    // blocking key; the groups feed exact/fuzzy verification).
    QueryKey("d8_prefix_dup",
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_docs
        |FROM documents
        |GROUP BY array_to_string(regexp_split_to_array(trim(text), '\s+')[1:5], ' ')
        |HAVING count(*) > 1
        |ORDER BY keeper_id""".stripMargin) { (s, dir) =>
      val prefix = expr("concat_ws(' ', slice(split(trim(text), '\\\\s+'), 1, 5))")
      Tables.documents(s, dir)
        .groupBy(prefix.as("prefix"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .select(col("keeper_id"), col("n_docs"))
        .orderBy(col("keeper_id"))
    },

    // eval-set decontamination: corpus docs sharing any distinct word-
    // 4-gram with the (small) eval split — the n-gram-overlap benchmark
    // contamination check every training pipeline runs before release.
    // Eval grams are an aggregate (distinct) and broadcast; the corpus
    // explodes ONCE and re-aggregates per doc — no corpus self-join, no
    // corpus-side shuffle beyond the final per-doc count.
    QueryKey("d10_contamination",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(wd) >= 4
        |    THEN list_transform(generate_series(1, len(wd)-3), i ->
        |      wd[i]||' '||wd[i+1]||' '||wd[i+2]||' '||wd[i+3])
        |    ELSE [] END)) AS gram FROM w),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 23 = 0)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM g JOIN ev USING (gram) WHERE g.doc_id % 23 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val grams = Dedup.ngrams("text", 4)
      val evalGrams = docs.filter(pmod(col("doc_id"), lit(23)) === 0)
        .select(explode(grams).as("gram")).distinct()
      docs.filter(pmod(col("doc_id"), lit(23)) =!= 0)
        .select(col("doc_id"), explode(grams).as("gram"))
        .join(broadcast(evalGrams), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy(col("doc_id"))
    },

    // collocation mining: corpus bigram PMI, integer-scaled
    // ((n_xy·N·10000) div (n_x·n_y)) with a support floor — exact
    // integer arithmetic end to end, global top-20 via ordered limit
    // (TakeOrderedAndProject, never a full sort). Word/bigram counts are
    // aggregates, so both PMI joins see vocabulary-sized inputs, not the
    // corpus.
    QueryKey("t7_pmi_bigrams",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd FROM documents),
        |uc AS (SELECT word, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(wd) AS word FROM w) GROUP BY 1),
        |bg AS (SELECT unnest(CASE WHEN len(wd) >= 2
        |    THEN list_transform(generate_series(1, len(wd)-1), i -> wd[i] || ' ' || wd[i+1])
        |    ELSE [] END) AS b FROM w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bg),
        |bc AS (SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
        |    CAST(count(*) AS BIGINT) AS n_xy
        |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT w1, w2, n_xy,
        |  CAST(n_xy * n_total * 10000 // (x.n * y.n) AS BIGINT) AS pmi_scaled
        |FROM bc CROSS JOIN tot JOIN uc x ON bc.w1 = x.word JOIN uc y ON bc.w2 = y.word
        |ORDER BY pmi_scaled DESC, w1, w2 LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val uni = docs
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n_w"))
      val nTot = docs
        .agg(sum(greatest(size(split(trim(col("text")), "\\s+")) - 1, lit(0)))
          .cast("long").as("n_total"))
      val bc = docs
        .select(explode(Dedup.ngrams("text", 2, distinct = false)).as("b"))
        .select(substring_index(col("b"), " ", 1).as("w1"),
          substring_index(col("b"), " ", -1).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 3)
      bc.crossJoin(broadcast(nTot))
        .join(uni.select(col("word").as("w1"), col("n_w").as("n_x")), Seq("w1"))
        .join(uni.select(col("word").as("w2"), col("n_w").as("n_y")), Seq("w2"))
        .withColumn("pmi_scaled", expr("n_xy * n_total * 10000 div (n_x * n_y)"))
        .select(col("w1"), col("w2"), col("n_xy"), col("pmi_scaled"))
        .orderBy(col("pmi_scaled").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // baseline: brute-force ANN truth and eval, quadratic in the corpus
    QueryKey("s1_ann_brute",
      s"""WITH $vecCte,
         |q AS (SELECT * FROM v WHERE vec_id % 50 = 0),
         |${probeTopK("v a CROSS JOIN q b WHERE a.vec_id <> b.vec_id", 5)}""".stripMargin, baseline = true) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    QueryKey("s2_ann_lsh",
      s"""WITH $vecCte,
         |vb AS (SELECT *, CAST(list_sum(list_transform(generate_series(0, 3), i ->
         |    CASE WHEN e[i+1] >= 0 THEN (1 << i) ELSE 0 END)) AS INT) AS bucket FROM v),
         |q AS (SELECT * FROM vb WHERE vec_id % 50 = 0),
         |${probeTopK("vb a JOIN q b ON a.bucket = b.bucket WHERE a.vec_id <> b.vec_id", 3)}""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      Similarity.lshTopK(vecs, q, "vec_id", "embedding", bits = 4, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // INDEX-PARADIGM Pareto table — the eval that PICKS a serving
    // index: all four ANN paradigms (brute / sign-LSH buckets / IVF
    // cells / graph beam walk) on ONE query panel, each priced by the
    // two numbers a serving team actually trades — recall@3 vs
    // n_scored (total exact similarity evaluations, the latency
    // proxy). Brute is the ceiling row (recall 10000 bp at max cost,
    // d21's priced-truth contract); the others show what each pruning
    // geometry buys. Brute, LSH and IVF reuse their standalone keys'
    // exact forms (s1/s2/s3); the graph row is s22's walk with self
    // dropped from every beam. Brute truth ⇒ SF≥1 baseline skip set.
    QueryKey("s23_index_pareto", {
      // four paradigm CTE families joined on one truth; the graph walk
      // here EXCLUDES self from scoring (each paradigm's scored frame is
      // its cost), unlike s22 where self anchors the beam
      def hop(k: Int, fin: String) =
        s"""n$k AS (SELECT DISTINCT f.query_id, t.id_b AS node
           |  FROM $fin f JOIN top t ON f.node = t.id_a
           |  UNION SELECT query_id, node FROM $fin),
           |s$k AS MATERIALIZED (SELECT n.query_id, n.node, ${simOf("a")} AS sim
           |  FROM n$k n JOIN v a ON a.vec_id = n.node
           |  JOIN qq q ON q.query_id = n.query_id
           |  WHERE n.node <> n.query_id),
           |f$k AS MATERIALIZED (SELECT query_id, node, sim FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, node) AS rn FROM s$k) x
           |  WHERE rn <= 8)""".stripMargin
      def top3(src: String, out: String) =
        s"""$out AS (SELECT query_id, node FROM (
           |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, node) AS rn FROM $src) x WHERE rn <= 3)""".stripMargin
      def hits(t3: String) =
        s"CAST((SELECT count(*) FROM (SELECT * FROM tr INTERSECT SELECT * FROM $t3) z) AS BIGINT)"
      s"""WITH $knnTopCte,
         |qq AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, n2 AS qn2
         |  FROM v WHERE vec_id % 50 = 0),
         |bs AS MATERIALIZED (SELECT q.query_id, a.vec_id AS node, ${simOf("a")} AS sim
         |  FROM v a, qq q WHERE a.vec_id <> q.query_id),
         |${top3("bs", "tr")},
         |$lshBucketCte,
         |ls AS MATERIALIZED (SELECT q.query_id, a.vec_id AS node, ${simOf("a")} AS sim
         |  FROM vb a JOIN (SELECT vec_id AS query_id, e AS qe, n2 AS qn2, bucket
         |    FROM vb WHERE vec_id % 50 = 0) q USING (bucket)
         |  WHERE a.vec_id <> q.query_id),
         |${top3("ls", "l3")},
         |c AS (SELECT vec_id AS cent_id, e AS c_vec, n2 AS c_n2 FROM v WHERE vec_id < 8),
         |asg0 AS (SELECT a.vec_id, a.e, a.n2, c.cent_id,
         |    round(list_sum(list_transform(generate_series(1, len(a.e)), i ->
         |      CAST(a.e[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE))) / sqrt(a.n2 * c.c_n2), 6) AS csim
         |  FROM v a CROSS JOIN c),
         |cells AS MATERIALIZED (SELECT vec_id, e, n2, cent_id AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC, cent_id) AS arn FROM asg0) x WHERE arn = 1),
         |isc AS MATERIALIZED (SELECT q.query_id, a.vec_id AS node, ${simOf("a")} AS sim
         |  FROM cells a JOIN (SELECT vec_id AS query_id, e AS qe, n2 AS qn2, cell
         |    FROM cells WHERE vec_id % 50 = 0) q USING (cell)
         |  WHERE a.vec_id <> q.query_id),
         |${top3("isc", "i3")},
         |ent AS (SELECT DISTINCT id_a AS node FROM top WHERE id_a < 8),
         |f0 AS MATERIALIZED (SELECT query_id, node FROM qq, ent),
         |${hop(1, "f0")},
         |${hop(2, "f1")},
         |${hop(3, "f2")},
         |${top3("f3", "g3")},
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM qq)
         |SELECT variant, n_queries, n_scored, n_hits,
         |  CAST(CASE WHEN n_queries = 0 THEN NULL
         |    ELSE n_hits * 10000 // (3 * n_queries) END AS BIGINT) AS recall_bp
         |FROM (
         |  SELECT 'brute' AS variant, nq.n_queries,
         |    CAST((SELECT count(*) FROM bs) AS BIGINT) AS n_scored,
         |    CAST((SELECT count(*) FROM tr) AS BIGINT) AS n_hits FROM nq
         |  UNION ALL SELECT 'lsh', nq.n_queries,
         |    CAST((SELECT count(*) FROM ls) AS BIGINT), ${hits("l3")} FROM nq
         |  UNION ALL SELECT 'ivf', nq.n_queries,
         |    CAST((SELECT count(*) FROM isc) AS BIGINT), ${hits("i3")} FROM nq
         |  UNION ALL SELECT 'graph', nq.n_queries,
         |    CAST((SELECT count(*) FROM s1) + (SELECT count(*) FROM s2)
         |      + (SELECT count(*) FROM s3) AS BIGINT), ${hits("g3")} FROM nq) u
         |ORDER BY variant""".stripMargin
    }) { (s, dir) =>
      import graft.functions.VectorFunctions
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val q = vecs.filter(Panel(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        .localCheckpoint()
      val nQ = q.agg(count(lit(1)).as("n_queries"))
      def score(cand: DataFrame): DataFrame = cand
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("sim",
          round(VectorFunctions.cosine(col("embedding"), col("qe")), 6))
        .select(col("query_id"), col("vec_id").as("node"), col("sim"))
      // brute: the scored frame IS the truth's source
      val bruteScored = score(vecs.crossJoin(broadcast(q))).localCheckpoint()
      val truth = top3Nodes(bruteScored).localCheckpoint()
      // sign-LSH (s2's geometry, bits=4)
      val vb = vecs.withColumn("bucket", Similarity.signBucket("embedding", 4))
      val lshScored = score(vb.join(
        broadcast(vb.filter(Panel(col("vec_id")))
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("bucket"))), Seq("bucket")))
      // IVF (s3's geometry: centroids vec_id<8, argmax-cosine cells).
      // r16: map-side argmax via indexWithCells — the old
      // crossJoin×8 + TopNPerKey(1) shuffled the corpus (vectors
      // included) just to undo the explode; tie-break identical
      // (max csim, then min cent_id).
      val cells = Similarity.indexWithCells(vecs,
          vecs.filter(col("vec_id") < 8), "vec_id", "embedding")
        .select(col("vec_id"), col("embedding"), col("cell"))
        .localCheckpoint()
      val ivfScored = score(cells.join(
        broadcast(cells.filter(Panel(col("vec_id")))
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("cell"))), Seq("cell")))
      // graph beam walk — s22's walk, except that s23 drops self from
      // every beam (its oracle's n.node <> n.query_id) while s22 keeps
      // self in the beam as the neighborhood anchor
      val edges = knnTopEdges(s, dir).select(col("id_a"), col("id_b"))
      val walk = beamWalk(q.select(col("query_id")), edges)(cand =>
        hopScore(vecs, q)(cand.filter(col("node") =!= col("query_id"))))
      val graphScored = walk.map(_._1.agg(count(lit(1)).as("c"))).reduce(_ unionByName _)
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_scored"))
      def row(name: String, nScored: DataFrame, t3: DataFrame): DataFrame =
        recallRow(lit(name).as("variant"), truth, t3, 3, nQ, nScored)
      def cnt(scored: DataFrame) = scored.agg(count(lit(1)).as("n_scored"))
      row("brute", cnt(bruteScored), truth)
        .unionByName(row("lsh", cnt(lshScored), top3Nodes(lshScored)))
        .unionByName(row("ivf", cnt(ivfScored), top3Nodes(ivfScored)))
        .unionByName(row("graph", graphScored,
          top3Nodes(walk.last._2.filter(col("node") =!= col("query_id")))))
        .orderBy(col("variant"))
    },

    // GRAPH-based ANN (DiskANN/HNSW-class serving — the third ANN
    // paradigm after IVF cells and LSH buckets): greedy BEAM search
    // over the s9 kNN graph. Per query: start from a fixed entry set
    // (graph nodes with id < 8 — s3's centroid convention), then 3
    // hops of expand-neighbors → exact-score → keep beam-8; recall@3
    // vs brute truth PER HOP is the tuning curve (s18's contract for
    // the graph paradigm — one more hop buys recall at one more
    // bounded join). Scale shape: the frontier is |Q|·beam rows; each
    // hop is one equi-join against the CHECKPOINTED edge list + one
    // hash probe into the corpus for candidate vectors with the query
    // panel broadcast — never corpus×corpus, cost linear in hops.
    // Self stays in the beam (it anchors the neighborhood) but never
    // in results or truth. Brute truth ⇒ SF≥1 baseline skip set.
    QueryKey("s22_graph_ann", {
      // unrolled 3-hop beam walk over the knn `top` edges; per-hop stages
      // MATERIALIZED (each frontier feeds both the neighbor join and the
      // union — the CTE-inlining lesson)
      def hop(k: Int, fin: String) =
        s"""${beamHopCte(k, fin)},
           |r$k AS (SELECT query_id, node FROM (
           |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, node) AS rn
           |    FROM f$k WHERE node <> query_id) x WHERE rn <= 3)""".stripMargin
      s"""WITH $knnTopCte,
         |qq AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, n2 AS qn2
         |  FROM v WHERE vec_id % 50 = 0),
         |ent AS (SELECT DISTINCT id_a AS node FROM top WHERE id_a < 8),
         |f0 AS MATERIALIZED (SELECT query_id, node FROM qq, ent),
         |${hop(1, "f0")},
         |${hop(2, "f1")},
         |${hop(3, "f2")},
         |tr AS MATERIALIZED (SELECT query_id, node FROM (
         |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, node) AS rn FROM (
         |      SELECT q.query_id, a.vec_id AS node, ${simOf("a")} AS sim
         |      FROM v a, qq q WHERE a.vec_id <> q.query_id) y) x
         |  WHERE rn <= 3),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM qq)
         |SELECT CAST(hop AS INT) AS hop, n_queries, n_hits,
         |  CAST(CASE WHEN n_queries = 0 THEN NULL
         |    ELSE n_hits * 10000 // (3 * n_queries) END AS BIGINT) AS recall_bp
         |FROM (
         |  SELECT 1 AS hop, nq.n_queries,
         |    CAST((SELECT count(*) FROM (SELECT * FROM tr INTERSECT SELECT * FROM r1) z)
         |      AS BIGINT) AS n_hits FROM nq
         |  UNION ALL SELECT 2, nq.n_queries,
         |    CAST((SELECT count(*) FROM (SELECT * FROM tr INTERSECT SELECT * FROM r2) z)
         |      AS BIGINT) FROM nq
         |  UNION ALL SELECT 3, nq.n_queries,
         |    CAST((SELECT count(*) FROM (SELECT * FROM tr INTERSECT SELECT * FROM r3) z)
         |      AS BIGINT) FROM nq) u
         |ORDER BY hop""".stripMargin
    }) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val edges = knnTopEdges(s, dir).select(col("id_a"), col("id_b"))
      val panel = vecs.filter(Panel(col("vec_id")))
      val q = panel.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val beams = beamWalk(q.select(col("query_id")), edges)(hopScore(vecs, q)).map(_._2)
      val truth = Similarity.bruteForceTopK(vecs, panel, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id").as("node"))
        .localCheckpoint()
      val nQ = q.agg(count(lit(1)).as("n_queries"))
      beams.zipWithIndex.map { case (beam, i) =>
          recallRow(lit(i + 1).as("hop"), truth,
            top3Nodes(beam.filter(col("node") =!= col("query_id"))), 3, nQ)
        }.reduce(_ unionByName _).orderBy(col("hop"))
    },

    // PERSISTED serving indexes (round-10 verdict #4 — s15's
    // build-once lifecycle applied to the other two channels): s16's
    // df-capped posting lists and s22's kNN edge list become
    // DerivedLayouts parquet ARTIFACTS, built once; serving reads the
    // index FileScan and never re-runs the df window or the sub-split
    // graph construction (PlanSpec gates: postings + edges FileScans
    // present, no _sub block columns, no documents scan in the
    // serving plan). Two faces, one serving surface: 'hybrid' = s16's
    // RRF top-5 with the lexical channel reading the postings index;
    // 'graph' = the s22 beam walk (3 hops, beam-8, top-3) over the
    // edges index — the LAST hop is deliberately un-checkpointed so
    // the serving plan itself proves it joins the edge FileScan.
    // Oracle = the full rebuild-from-scratch twin (s16 + s22 oracle
    // pipelines), so index staleness or a bad artifact breaks the
    // hash.
    QueryKey("s24_serving_index", {
      // the REBUILD-from-scratch twin: the oracle re-derives the posting
      // lists and the kNN graph the long way (s16 + s22 pipelines) — a
      // stale or corrupted persisted artifact breaks the hash
      s"""WITH $knnTopCte,
         |qq AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, n2 AS qn2
         |  FROM v WHERE ${firstPanel("vec_id")}),
         |ent AS (SELECT DISTINCT id_a AS node FROM top WHERE id_a < 8),
         |f0 AS MATERIALIZED (SELECT query_id, node FROM qq, ent),
         |${beamHopCte(1, "f0")},
         |${beamHopCte(2, "f1")},
         |${beamHopCte(3, "f2")},
         |gface AS (SELECT query_id, CAST(rn AS INT) AS rnk, node AS ref_id FROM (
         |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, node) AS rn
         |    FROM f3 WHERE node <> query_id) x WHERE rn <= 3),
         |$lshBucketCte,
         |qv AS (SELECT * FROM vb WHERE ${firstPanel("vec_id")}),
         |${vecTop20Cte("sims", "qv")},
         |$lexTop20Cte,
         |${rrfCte("fused")},
         |hface AS (SELECT query_id, rnk, doc_id AS ref_id FROM (
         |  SELECT query_id, doc_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rnk
         |  FROM fused) x WHERE rnk <= 5)
         |SELECT face, query_id, rnk, ref_id FROM (
         |  SELECT 'graph' AS face, query_id, rnk, ref_id FROM gface
         |  UNION ALL SELECT 'hybrid', query_id, rnk, ref_id FROM hface) u
         |ORDER BY face, query_id, rnk""".stripMargin
    }) { (s, dir) =>
      import graft.sources.DerivedLayouts
      val base = DerivedLayouts.once(s"servidx|$dir") { path =>
        lexPostings(s, dir).write.parquet(s"$path/postings")
        knnTopEdges(s, dir).select(col("id_a"), col("id_b"))
          .write.parquet(s"$path/edges")
      }
      // hybrid channel: s16's channels with the lexical one reading the
      // postings INDEX scan (query-time join + top-k)
      val (lexTop20, vecTop) = hybridChannels(s, dir, Tables.parquet(s, s"$base/postings"))
      val hybridFace = rrfTop5(vecTop, "vec_rank", lexTop20, "lex_rank")
        .select(lit("hybrid").as("face"), col("query_id"), col("rnk"),
          col("doc_id").as("ref_id"))
      // graph channel: beam walk over the edges INDEX scan; the last hop
      // stays UN-checkpointed, so the serving plan shows the edges
      // FileScan (PlanSpec), not a checkpoint scan
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel.first(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val walk = beamWalk(q.select(col("query_id")),
        Tables.parquet(s, s"$base/edges"))(hopScore(vecs, q))
      val graphFace = Relational.topNPerGroupFast(
          walk.last._2.filter(col("node") =!= col("query_id")), 3,
          Seq("query_id"), Seq(("sim", false), ("node", true)), rank = Some("rnk"))
        .select(lit("graph").as("face"), col("query_id"), col("rnk"),
          col("node").as("ref_id"))
      hybridFace.unionByName(graphFace)
        .orderBy(col("face"), col("query_id"), col("rnk"))
    },

    // contrastive TRIPLET mining — the embedding-model training op:
    // per anchor, hardest same-label positive + hardest different-label
    // negative within the sign-LSH bucket, with the triplet margin
    // (margin ≥ 0 = violated triplet, the rows a metric-learning
    // trainer feeds back). The label INEQUALITY cannot ride the s14
    // equi-key — both sides come off ONE bucket-bounded broadcast
    // probe, tagged pos/neg after the hash join. See
    // Similarity.tripletMine.
    QueryKey("s21_triplet_mining",
      s"""WITH $vecCte,
         |vb AS (SELECT *, CAST(list_sum(list_transform(generate_series(0, 3), i ->
         |    CASE WHEN e[i+1] >= 0 THEN (1 << i) ELSE 0 END)) AS INT) AS bucket FROM v),
         |q AS (SELECT * FROM vb WHERE vec_id % 50 = 0),
         |sims AS (SELECT b.vec_id AS query_id,
         |    CASE WHEN a.label = b.label THEN 'pos' ELSE 'neg' END AS side,
         |    a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM vb a JOIN q b ON a.bucket = b.bucket WHERE a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id, side
         |    ORDER BY sim DESC, neighbor_id) AS rn FROM sims),
         |p AS (SELECT query_id, neighbor_id AS pos_id, sim AS sim_pos
         |  FROM r WHERE side = 'pos' AND rn = 1),
         |n AS (SELECT query_id, neighbor_id AS neg_id, sim AS sim_neg
         |  FROM r WHERE side = 'neg' AND rn = 1)
         |SELECT query_id, pos_id, sim_pos, neg_id, sim_neg,
         |  round(sim_neg - sim_pos, 6) AS margin
         |FROM p JOIN n USING (query_id) ORDER BY query_id""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      Similarity.tripletMine(vecs, q, "vec_id", "embedding", "label", bits = 4)
        .orderBy(col("query_id"))
    },

    QueryKey("s3_ann_ivf",
      s"""WITH $ivfCellsCte,
         |q AS (SELECT * FROM cells WHERE vec_id % 50 = 0),
         |${probeTopK("cells a JOIN q b ON a.cell = b.cell AND a.vec_id <> b.vec_id", 3)}""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      val cents = vecs.filter(col("vec_id") < 8)
      Similarity.ivfTopK(vecs, q, cents, "vec_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // int8 scalar quantization + ANN over the quantized vectors: the
    // 100 TB bandwidth story (4 bytes -> 1 byte per dim). Quantized
    // components are small exact integers, so cosine arithmetic is
    // bit-identical across engines with no float drift.
    // baseline: brute-force ANN over the quantized codes
    QueryKey("s4_ann_quantized",
      s"""WITH vq AS (SELECT vec_id,
         |    list_transform(embedding, x -> greatest(-127.0, least(127.0, floor(CAST(x AS DOUBLE)*127.0 + 0.5)))) AS e
         |  FROM embeddings),
         |v AS (SELECT vec_id, e, list_sum(list_transform(e, x -> x*x)) AS n2 FROM vq),
         |q AS (SELECT * FROM v WHERE vec_id % 50 = 0),
         |${probeTopK("v a CROSS JOIN q b WHERE a.vec_id <> b.vec_id", 5)}""".stripMargin, baseline = true) { (s, dir) =>
      val quant = expr("transform(embedding, x -> " +
        "cast(greatest(-127.0D, least(127.0D, floor(cast(x as double) * 127.0D + 0.5D))) as float))")
      val vecs = Tables.embeddings(s, dir).withColumn("embedding", quant)
      val q = vecs.filter(Panel(col("vec_id")))
      Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // ANN quality evaluation: recall of the sign-LSH scale path against
    // brute-force ground truth at the same k. The eval is itself a
    // distributed op — both result sets are queries×k rows, so the
    // intersection join is trivially small; every query appears (empty
    // LSH bucket → recall 0), which is what an index-quality monitor
    // must surface. Integer recall (n_hits*100 div k) — no float drift.
    // baseline: brute-force ANN ground truth
    QueryKey("s5_ann_recall",
      s"""WITH $vecCte,
         |q0 AS (SELECT * FROM v WHERE vec_id % 50 = 0),
         |tsims AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM v a CROSS JOIN q0 b WHERE a.vec_id <> b.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM tsims) t WHERE rnk <= 3),
         |vb AS (SELECT *, CAST(list_sum(list_transform(generate_series(0, 3), i ->
         |    CASE WHEN e[i+1] >= 0 THEN (1 << i) ELSE 0 END)) AS INT) AS bucket FROM v),
         |qb AS (SELECT * FROM vb WHERE vec_id % 50 = 0),
         |lsims AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM vb a JOIN qb b ON a.bucket = b.bucket WHERE a.vec_id <> b.vec_id),
         |lsh AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM lsims) t WHERE rnk <= 3),
         |hits AS (SELECT t.query_id, count(*) AS n_hits
         |  FROM truth t JOIN lsh l
         |    ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
         |  GROUP BY 1)
         |SELECT q0.vec_id AS query_id,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(n_hits, 0) * 100 // 3 AS INT) AS recall_pct
         |FROM q0 LEFT JOIN hits ON q0.vec_id = hits.query_id
         |ORDER BY query_id""".stripMargin, baseline = true) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      val truth = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(vecs, q, "vec_id", "embedding", bits = 4, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall_pct", expr("CAST(n_hits * 100 div 3 AS INT)"))
        .orderBy(col("query_id"))
    },

    // trained-codebook IVF: integer k-means (k=8, 2 Lloyd iterations,
    // exact scaled-floor-div centroid update) over the int8-quantized
    // corpus, then cell-partitioned search — closes s3's fixed-seed
    // codebook gap. The 8-row trained book is localCheckpointed so its
    // three downstream uses (corpus assign, query assign, broadcast)
    // don't re-run training per branch.
    QueryKey("s6_ann_trained",
      s"""WITH vq AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(greatest(-127.0,
         |      least(127.0, floor(CAST(x AS DOUBLE)*127.0 + 0.5))) AS BIGINT)) AS e
         |  FROM embeddings),
         |vn AS (SELECT vec_id, e,
         |    list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
         |  FROM vq),
         |c0 AS (SELECT vec_id AS cent_id, e AS c FROM vq WHERE vec_id < 8),
         |${s6Assign("vn", "c0", "asg1")},
         |${s6Update("asg1", "c1")},
         |${s6Assign("vn", "c1", "asg2")},
         |${s6Update("asg2", "c2")},
         |${s6Assign("vn", "c2", "cells")},
         |q AS (SELECT * FROM cells WHERE vec_id % 50 = 0),
         |${probeTopK("cells a JOIN q b ON a.cell = b.cell AND a.vec_id <> b.vec_id", 3)}""".stripMargin) { (s, dir) =>
      val quant = expr("transform(embedding, x -> " +
        "cast(greatest(-127.0D, least(127.0D, floor(cast(x as double) * 127.0D + 0.5D))) as float))")
      val vecs = Tables.embeddings(s, dir).withColumn("embedding", quant)
      val q = vecs.filter(Panel(col("vec_id")))
      val book = Similarity.trainIvfCodebook(vecs, "vec_id", "embedding",
        dim = 64, k = 8, iters = 2).localCheckpoint()
      Similarity.ivfTopK(vecs, q, book, "vec_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // product quantization — the memory-side ANN scale lever (s4 int8
    // = 64 B/vector; PQ = 8 one-byte codes): 8 per-subspace integer
    // k-means codebooks trained in ONE partitioned dataframe (exact
    // integer L2 assignment + floor-div update — bit-identical on any
    // partitioning, codebooks never on the driver), vectors encoded as
    // 8 codes, queries scored via ADC: a per-query dot table against
    // the broadcast codebook, then 8 lookups + an integer sum per
    // vector. Candidate pruning is orthogonal (IVF, s3/s6); like s1/s4
    // the compressed-domain scan is the declared baseline. Ranking
    // rides TopNPerKey bounded heaps; every number exact long.
    // baseline: all-codes ADC scan
    QueryKey("s11_ann_pq",
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x ->
         |    64 * CAST(greatest(-127.0, least(127.0,
         |      floor(CAST(x AS DOUBLE) * 127.0 + 0.5))) AS BIGINT)) AS v64
         |  FROM embeddings),
         |sr AS (SELECT vec_id, s,
         |    list_transform(generate_series(1, 8), i -> v64[s * 8 + i]) AS sv
         |  FROM v, generate_series(0, 7) t(s)),
         |c0 AS (SELECT s, vec_id AS cent_id, sv AS c FROM sr WHERE vec_id < 16),
         |${pqIterCte("c0", "a1", "c1")},
         |${pqIterCte("c1", "a2", "c2")},
         |${pqAssignCte("c2", "cod")},
         |lut AS (SELECT q.vec_id AS query_id, q.s, c.cent_id,
         |    CAST(list_sum(list_transform(generate_series(1, 8), i ->
         |      q.sv[i] * c.c[i])) AS BIGINT) AS dot
         |  FROM (SELECT * FROM sr WHERE vec_id % 50 = 0) q JOIN c2 c ON q.s = c.s),
         |sc AS (SELECT l.query_id, d._vid AS vec_id, CAST(sum(l.dot) AS BIGINT) AS score
         |  FROM cod d JOIN lut l ON d.s = l.s AND d.cell = l.cent_id
         |  WHERE d._vid <> l.query_id GROUP BY 1, 2)
         |SELECT query_id, CAST(rn AS INT) AS rnk, vec_id, score FROM (
         |  SELECT query_id, vec_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |  FROM sc) t
         |WHERE rn <= 3 ORDER BY query_id, rnk""".stripMargin, baseline = true) { (s, dir) =>
      // sub is re-referenced 4× (2 train iterations, encode, queries);
      // the re-derived scan+quant+explode lineage measured CHEAPER than
      // an eager localCheckpoint materialization — map-side arithmetic
      // over a columnar scan beats pinning 8N array rows
      val sub = Similarity.pqSubRows(Tables.embeddings(s, dir), "vec_id", "embedding",
        subs = 8, width = 8)
      val book = Similarity.trainPqCodebooks(sub, width = 8, k = 16, iters = 2)
        .localCheckpoint()
      val codes = Similarity.assignPq(sub, book)
        .select(col("s"), col("cell").as("cent_id"), col("_vid"))
      val qs = sub.filter(Panel(col("_vid")))
      Similarity.pqTopK(codes, qs, book, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // multi-probe IVF — the production recall knob (nprobe=2): each
    // query searches its 2 nearest cells, recovering cross-boundary
    // neighbors s3's single probe misses; cost grows with the probed
    // population only (SimilaritySpec proves recall(2-probe) ≥
    // recall(1-probe) against brute-force truth on the fixture).
    QueryKey("s13_ann_multiprobe",
      s"""WITH $ivfCellsCte,
         |qcells AS (SELECT vec_id, e, n2, cent_id AS cell FROM asg
         |  WHERE arn <= 2 AND vec_id % 50 = 0),
         |${probeTopK("cells a JOIN qcells b ON a.cell = b.cell AND a.vec_id <> b.vec_id", 3)}""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      val cents = vecs.filter(col("vec_id") < 8)
      Similarity.ivfTopKMultiProbe(vecs, q, cents, "vec_id", "embedding",
          nprobe = 2, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // embedding DRIFT monitor — the MLOps gate between an indexed
    // reference corpus and today's batch (distribution shift silently
    // degrades every ANN/dedup threshold downstream): halves keyed by
    // vec_id parity stand in for last-week/this-week. Everything is
    // integer until the one final cosine: embeddings int8-quantized
    // (s4's exact contract), per-(half, dim) sums via ONE posexplode +
    // partial agg (128 aggregate rows), and the centroid cosine is
    // computed on the SUM vectors — cosine is scale-invariant, so
    // sum-vector cosine IS mean-vector cosine with no division drift.
    // Per-dim mean shift reported in exact micro-units (floor div).
    QueryKey("s19_embed_drift",
      """WITH q AS (SELECT vec_id % 2 AS half,
        |    list_transform(embedding, x -> CAST(greatest(-127.0,
        |      least(127.0, floor(CAST(x AS DOUBLE) * 127.0 + 0.5))) AS BIGINT)) AS e
        |  FROM embeddings),
        |d AS (SELECT half, generate_subscripts(e, 1) - 1 AS dim, unnest(e) AS v FROM q),
        |s AS (SELECT half, dim, CAST(sum(v) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
        |wide AS (SELECT dim,
        |    coalesce(max(CASE WHEN half = 0 THEN sv END), 0) AS s0,
        |    coalesce(max(CASE WHEN half = 1 THEN sv END), 0) AS s1,
        |    coalesce(max(CASE WHEN half = 0 THEN n END), 0) AS n0,
        |    coalesce(max(CASE WHEN half = 1 THEN n END), 0) AS n1
        |  FROM s GROUP BY 1)
        |SELECT CAST(max(n0) AS BIGINT) AS n_ref, CAST(max(n1) AS BIGINT) AS n_cur,
        |  round(CAST(sum(s0 * s1) AS DOUBLE) / sqrt(CAST(sum(s0 * s0) AS DOUBLE))
        |    / sqrt(CAST(sum(s1 * s1) AS DOUBLE)), 6) AS centroid_cos,
        |  CAST(max(abs(s0 * 1000000 // greatest(n0, 1)
        |    - s1 * 1000000 // greatest(n1, 1))) AS BIGINT) AS max_dim_shift_micro
        |FROM wide""".stripMargin) { (s, dir) =>
      val quant = expr("transform(embedding, x -> " +
        "cast(greatest(-127.0D, least(127.0D, floor(cast(x as double) * 127.0D + 0.5D))) as long))")
      val dims = Tables.embeddings(s, dir)
        .select(pmod(col("vec_id"), lit(2)).cast("int").as("half"),
          posexplode(quant).as(Seq("dim", "v")))
        .groupBy(col("half"), col("dim"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      val wide = dims.groupBy(col("dim")).agg(
        coalesce(max(when(col("half") === 0, col("sv"))), lit(0L)).as("s0"),
        coalesce(max(when(col("half") === 1, col("sv"))), lit(0L)).as("s1"),
        coalesce(max(when(col("half") === 0, col("n"))), lit(0L)).as("n0"),
        coalesce(max(when(col("half") === 1, col("n"))), lit(0L)).as("n1"))
      wide.agg(
          max(col("n0")).as("n_ref"), max(col("n1")).as("n_cur"),
          sum(expr("s0 * s1")).as("_dot"),
          sum(expr("s0 * s0")).as("_a2"),
          sum(expr("s1 * s1")).as("_b2"),
          max(expr("abs(s0 * 1000000 div greatest(n0, 1) - " +
            "s1 * 1000000 div greatest(n1, 1))")).as("max_dim_shift_micro"))
        .select(col("n_ref"), col("n_cur"),
          round(col("_dot") / sqrt(col("_a2")) / sqrt(col("_b2")), 6)
            .as("centroid_cos"),
          col("max_dim_shift_micro"))
    },

    // the nprobe TUNING CURVE — s13 fixes nprobe=2 by declaration; a
    // production index is tuned by sweeping it and reading the
    // recall-vs-cost trade. One index search serves the whole sweep:
    // candidates carry the probe rank of the query cell that reached
    // them, so each probe level is a slice-and-rerank of the SAME
    // bounded candidate rows (the corpus is assigned and cosine-scored
    // exactly once — cost does not multiply by |sweep|). Answers the
    // r7 self-assessment gap: the recall knob now has a measured curve,
    // not a fixed setting.
    QueryKey("s18_probe_sweep",
      s"""WITH $ivfCellsCte,
         |qc AS (SELECT vec_id, e, n2, cent_id AS cell, arn FROM asg
         |  WHERE arn <= 4 AND ${firstPanel("vec_id")}),
         |probes AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |cand AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim, b.arn
         |  FROM cells a JOIN qc b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |lv AS (SELECT p.nprobe, cand.query_id, cand.neighbor_id, cand.sim
         |  FROM cand JOIN probes p ON cand.arn <= p.nprobe),
         |topk AS (SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT nprobe, query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY nprobe, query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM lv) t WHERE rnk <= 3),
         |tsims AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM v a CROSS JOIN (SELECT * FROM v WHERE ${firstPanel("vec_id")}) b
         |  WHERE a.vec_id <> b.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM tsims) t WHERE rnk <= 3),
         |hits AS (SELECT k.nprobe, k.query_id, count(*) AS n_hits
         |  FROM topk k JOIN truth tr
         |    ON k.query_id = tr.query_id AND k.neighbor_id = tr.neighbor_id
         |  GROUP BY 1, 2)
         |SELECT CAST(p.nprobe AS INT) AS nprobe, q0.vec_id AS query_id,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(n_hits, 0) * 100 // 3 AS INT) AS recall_pct
         |FROM (SELECT vec_id FROM v WHERE ${firstPanel("vec_id")}) q0
         |CROSS JOIN probes p
         |LEFT JOIN hits ON hits.nprobe = p.nprobe AND hits.query_id = q0.vec_id
         |ORDER BY nprobe, query_id""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      // first-copy panel bound (t17's lesson): the sweep's brute-truth
      // side must not grow its query set WITH the corpus — sf1 read
      // 11.2× before the cap
      val q = vecs.filter(Panel.first(col("vec_id")))
      val cents = vecs.filter(col("vec_id") < 8)
      Similarity.probeSweepRecall(vecs, q, cents, "vec_id", "embedding",
          probes = Seq(1, 2, 4), k = 3)
        .orderBy(col("nprobe"), col("query_id"))
    },

    // MATRYOSHKA prefix-dimension eval (Kusupati et al. 2022 — the
    // modern serving lever s4/s11 don't price: MRL-trained embeddings
    // serve the FIRST w dims as a w-dim embedding, trading recall for
    // w/64 of the bandwidth/compute with no re-encoding): recall@3 of
    // prefix-w cosine vs the full-64-dim brute truth for w ∈
    // {4,8,16,32,64} (the 64 row is the built-in sanity bound at
    // 10000 bp). Scale shape: ONE corpus×panel pass scores EVERY
    // width from prefix slices (5 sim columns, never 5 scans), widths
    // then ride a ×5 explode into ONE bounded TopNPerKey over
    // (query, width); the recall join is top3 (|Q|·15 rows,
    // checkpointed once — the self-join rescan trap) against its own
    // width-64 face. Panel first-copy-bounded (t17 lesson); brute
    // truth ⇒ SF≥1 baseline skip set.
    QueryKey("s26_matryoshka",
      // prefix-w moments re-derived per width via generate_series(1, w)
      // folds — the same left-to-right double accumulation the Spark
      // CosineSim loop runs on the sliced arrays
      s"""WITH $vecCte,
         |q AS (SELECT * FROM v WHERE ${firstPanel("vec_id")}),
         |widths AS (SELECT unnest([4, 8, 16, 32, 64]) AS width),
         |sims AS (SELECT b.vec_id AS query_id, a.vec_id, w.width,
         |    round(list_sum(list_transform(generate_series(1, w.width), i ->
         |        CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))
         |      / sqrt(list_sum(list_transform(generate_series(1, w.width), i ->
         |          CAST(a.e[i] AS DOUBLE) * CAST(a.e[i] AS DOUBLE)))
         |        * list_sum(list_transform(generate_series(1, w.width), i ->
         |          CAST(b.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))), 6) AS sim
         |  FROM v a CROSS JOIN q b CROSS JOIN widths w WHERE a.vec_id <> b.vec_id),
         |top3 AS (SELECT query_id, width, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id, width
         |      ORDER BY sim DESC, vec_id) AS rn FROM sims) t WHERE rn <= 3),
         |truth AS (SELECT query_id, vec_id FROM top3 WHERE width = 64),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q),
         |hits AS (SELECT width, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM top3 t JOIN truth u USING (query_id, vec_id) GROUP BY 1)
         |SELECT CAST(w.width AS INT) AS width, n_queries,
         |  coalesce(n_hits, 0::BIGINT) AS n_hits,
         |  CASE WHEN n_queries = 0 THEN NULL
         |    ELSE coalesce(n_hits, 0::BIGINT) * 10000 // (3 * n_queries) END AS recall_bp
         |FROM widths w LEFT JOIN hits USING (width) CROSS JOIN nq
         |ORDER BY width""".stripMargin) { (s, dir) =>
      import graft.functions.VectorFunctions
      val widths = Seq(4, 8, 16, 32, 64)
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val q = vecs.filter(Panel.first(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val scored = vecs.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id") +: col("vec_id") +: widths.map { w =>
          round(VectorFunctions.cosine(
            slice(col("embedding"), 1, w), slice(col("qe"), 1, w)), 6)
            .as(s"sim_$w")
        }: _*)
      val exploded = scored.select(col("query_id"), col("vec_id"),
          explode(array(widths.map(w =>
            struct(lit(w).as("width"), col(s"sim_$w").as("sim"))): _*)).as("ws"))
        .select(col("query_id"), col("ws.width").as("width"),
          col("vec_id"), col("ws.sim").as("sim"))
      val top3 = Relational.topNPerGroupFast(exploded, 3,
          Seq("query_id", "width"), Seq(("sim", false), ("vec_id", true)))
        .select(col("query_id"), col("width"), col("vec_id"))
        .localCheckpoint()
      val truth = top3.filter(col("width") === 64)
        .select(col("query_id"), col("vec_id"))
      val nQ = q.agg(count(lit(1)).as("n_queries"))
      val hits = top3.join(truth, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("width")).agg(count(lit(1)).as("n_hits"))
      // a zero-hit width must still report (recall 0), so the output
      // spine is the width list itself, not the hit groups
      import s.implicits._
      widths.toDF("width")
        .join(hits, Seq("width"), "left")
        .crossJoin(broadcast(nQ))
        .select(col("width").cast("int").as("width"), col("n_queries"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("CASE WHEN n_queries = 0 THEN NULL " +
            "ELSE coalesce(n_hits, CAST(0 AS BIGINT)) * 10000 div (3 * n_queries) END")
            .as("recall_bp"))
        .orderBy(col("width"))
    },

    // FILTERED vector search — the metadata-predicate serving shape
    // every production vector store exposes (tenant / language /
    // license filters): neighbors must share the query's document
    // language, with the language living in a DIFFERENT table than the
    // vectors (documents is the metadata store, embeddings the index —
    // one co-keyed id join attaches it). The predicate joins the LSH
    // probe as part of the equi-key (bucket, lang), so cross-lang
    // candidates die at the map-side hash probe — never cosine-scored —
    // instead of being post-filtered out of a fixed-k result (which
    // both wastes score work and under-fills k; SimilaritySpec proves
    // the under-fill on a planted fixture).
    QueryKey("s14_ann_filtered",
      s"""WITH $vecCte,
         |vm AS (SELECT v.*, d.lang FROM v JOIN documents d ON v.vec_id = d.doc_id),
         |vb AS (SELECT *, CAST(list_sum(list_transform(generate_series(0, 3), i ->
         |    CASE WHEN e[i+1] >= 0 THEN (1 << i) ELSE 0 END)) AS INT) AS bucket FROM vm),
         |q AS (SELECT * FROM vb WHERE vec_id % 50 = 0),
         |sims AS (SELECT b.vec_id AS query_id, b.lang, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM vb a JOIN q b ON a.bucket = b.bucket AND a.lang = b.lang
         |  WHERE a.vec_id <> b.vec_id),
         |ranked AS (SELECT query_id, lang, neighbor_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
         |  FROM sims)
         |SELECT query_id, rnk, neighbor_id, sim, lang FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val meta = Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("lang"))
      val vecs = Tables.embeddings(s, dir).join(meta, Seq("vec_id"))
      val q = vecs.filter(Panel(col("vec_id")))
      Similarity.lshTopKFiltered(vecs, q, "vec_id", "embedding", "lang",
          bits = 4, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // INCREMENTAL ANN index maintenance — d18's serving-side analog
    // (the nightly-embedding-batch shape): the 90% "indexed" corpus is
    // assigned ONCE and persisted as a materialized (id, vec, cell)
    // layout (DerivedLayouts — the index build is paid once, exactly a
    // real index's cost model); the 10% delta batch is the ONLY thing
    // the nightly run assigns (O(delta) argmax, checkpointed so its
    // two uses — corpus append and query set — never recompute), and
    // search runs over index ∪ delta with NO re-assignment of the
    // stored side (PlanSpec: the search plan reads the index layout
    // and contains no argmax aggregate at all). The frozen codebook
    // (vec_id < 8, s3's) makes stored assignment == recompute, which
    // the oracle proves by recomputing everything.
    // HYBRID retrieval with reciprocal-rank fusion — the RAG serving
    // shape no single channel covers: a lexical inverted-index channel
    // (distinct RARE-term overlap, the t6 token contract) and a
    // sign-LSH vector channel each produce a bounded top-20 per query;
    // fusion sums integer reciprocal ranks floor(1e9/(60+rank)) over a
    // FULL OUTER join of the two lists (a doc surfaced by only one
    // channel still scores). All-integer fusion — rank positions, not
    // float scores, cross the channel boundary, so lexical and vector
    // scales never need calibrating. Scale shape (each lever measured
    // in §6j — the first cut was brute + uncapped and read 43× at 10×
    // data): (1) the query set is bounded to first-copy ids — the
    // serving question is what a QUERY costs as the index grows, not
    // corpus×corpus; (2) the vector channel is s2's bucket-pruned
    // lshTopK, not brute; (3) posting lists are df-capped (terms in
    // >10% of docs are template boilerplate carrying no overlap
    // signal — the classic stop-posting prune), and the capped terms
    // table is localCheckpoint'ed for its two consumers (d20's
    // re-derivation tradeoff). Fusion join carries ≤ 2×queries×20 rows.
    QueryKey("s16_hybrid_rrf",
      s"""WITH $vecCte,
         |$lshBucketCte,
         |q AS (SELECT * FROM vb WHERE ${firstPanel("vec_id")}),
         |${vecTop20Cte("sims", "q")},
         |$lexTop20Cte,
         |${rrfCte("fused")}
         |SELECT query_id, rnk, doc_id, rrf FROM (
         |  SELECT query_id, doc_id, rrf, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rnk
         |  FROM fused) x
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val (lexTop20, vecTop) = hybridChannels(s, dir, lexPostings(s, dir).localCheckpoint())
      rrfTop5(vecTop, "vec_rank", lexTop20, "lex_rank")
        .select(col("query_id"), col("rnk"), col("doc_id"), col("rrf"))
        .orderBy(col("query_id"), col("rnk"))
    },

    // the eval half of the hybrid story (s5's contract applied to
    // s16): recall@5 vs BRUTE ground truth for the lexical channel
    // alone, the LSH vector channel alone, and the RRF fusion — the
    // measurement that justifies running two channels at all. One
    // summary row per variant, all-integer (hit counts, truncating
    // basis points). Ground truth is the declared-brute shape over the
    // bounded query set, so this key joins the SF≥1 baseline skip set
    // with s5.
    // baseline: brute ground truth, like s5
    QueryKey("s17_hybrid_recall",
      s"""WITH $vecCte,
         |$lshBucketCte,
         |q AS (SELECT * FROM vb WHERE ${firstPanel("vec_id")}),
         |tsims AS (SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM v a CROSS JOIN q b WHERE a.vec_id <> b.vec_id),
         |truth AS (SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, doc_id) AS r
         |    FROM tsims) x WHERE r <= 5),
         |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
         |  FROM truth),
         |${vecTop20Cte("lsims", "q")},
         |vec5 AS (SELECT query_id, doc_id FROM vtop WHERE vec_rank <= 5),
         |$lexTop20Cte,
         |lex5 AS (SELECT query_id, doc_id FROM ltop WHERE lex_rank <= 5),
         |${rrfCte("fus")},
         |fused5 AS (SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
         |    FROM fus) x WHERE rnk <= 5),
         |hits AS (
         |  SELECT 'fused' AS variant, CAST(count(*) AS BIGINT) AS n_hits
         |    FROM truth JOIN fused5 USING (query_id, doc_id)
         |  UNION ALL SELECT 'lexical', CAST(count(*) AS BIGINT)
         |    FROM truth JOIN lex5 USING (query_id, doc_id)
         |  UNION ALL SELECT 'vector', CAST(count(*) AS BIGINT)
         |    FROM truth JOIN vec5 USING (query_id, doc_id))
         |SELECT variant, n_queries, n_hits,
         |  n_hits * 10000 // (5 * n_queries) AS recall_bp
         |FROM hits, nq ORDER BY variant""".stripMargin, baseline = true) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel.first(col("vec_id")))
      val truth = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
        .localCheckpoint()
      // scalar as a broadcast 1-row side, never a driver action
      val nQ = truth.agg(countDistinct(col("query_id")).as("n_queries"))
      val (lexTop20, vecTop) = hybridChannels(s, dir, lexPostings(s, dir).localCheckpoint())
      def top5(ranked: DataFrame, rank: String) =
        ranked.filter(col(rank) <= 5).select(col("query_id"), col("doc_id"))
      def row(name: String, cand: DataFrame) =
        recallRow(lit(name).as("variant"), truth, cand, 5, nQ)
      row("fused", top5(rrfTop5(vecTop, "vec_rank", lexTop20, "lex_rank"), "rnk"))
        .unionByName(row("lexical", top5(lexTop20, "lex_rank")))
        .unionByName(row("vector", top5(vecTop, "vec_rank")))
        .orderBy(col("variant"))
    },

    // COMPLEMENTARY-channel hybrid (rounds 7-9 Next #1, landed with
    // the channel pair the width probe actually selected): the eval
    // that PICKS a hybrid's channels, in s17's recall form. Truth is
    // exact term-space tf-cosine top-5 (t17's truth — text-derived, so
    // every candidate channel scores against the SAME signal). Fused
    // channels are TWO width-32 hashed-tf projections whose bucket ids
    // come from DISJOINT nibble ranges of ONE md5 per term (nibbles
    // 1-2 vs 3-4 — the st13 Kirsch-Mitzenmacher move: independent
    // collision patterns, no second digest), RRF-fused over top-20
    // lists. The probe (sf0.01/sf0.001, recorded in SURVEY §6l) showed
    // WHY this pair and not the prescribed lexical+vector fusion:
    // rare-term overlap has ZERO signal on this corpus (31-word
    // vocabulary → exactly ONE term survives the 10% df cap; lexical
    // recall 0/50), and fusing a zero-signal channel actively HURTS
    // (width-128 fused 22/50 vs vector-alone 50/50). Width selection
    // is the ensemble curve: fusion beats both channels strictly while
    // they are mid-strength with uncorrelated collision noise (w=32:
    // fused 31 vs 27/19 at sf0.01, 26 vs 21/20 at sf0.001) and
    // dilutes once one channel saturates (w>=64). The lexical channel
    // is still PRICED here as a variant row — the eval records the
    // measured reason it is excluded from fusion — and SimilaritySpec
    // asserts the hybrid claim itself: fused recall_bp strictly
    // exceeds every single channel's. Scale shape: bounded first-copy
    // query panel (t17's lever), query-side joins broadcast, channels
    // share ONE (doc,term) aggregate and ONE md5 per term; the
    // corpus-sized exchanges are the termTf partial agg and the
    // channel dot partial aggs. Exact-truth member of the SF>=1 skip
    // set with s5/s17.
    // baseline: exact tf-cosine truth, like s17/t17
    QueryKey("s20_hybrid_complement",
      // chtop is consumed four times (a/b fusion sides + a5/b5) and tt
      // three times — MATERIALIZED per the round-7 CTE-inlining lesson
      """WITH tt AS MATERIALIZED (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf_w FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) x
        |  WHERE length(w) > 0 GROUP BY 1, 2),
        |en2 AS (SELECT doc_id, CAST(sum(tf_w * tf_w) AS BIGINT) AS n2 FROM tt GROUP BY 1),
        |eq AS (SELECT doc_id AS query_id, w, tf_w AS qtf FROM tt
        |  WHERE doc_id % 50 = 0 AND doc_id < 500),
        |edots AS (SELECT eq.query_id, tt.doc_id, CAST(sum(tt.tf_w * eq.qtf) AS BIGINT) AS dot
        |  FROM tt JOIN eq ON tt.w = eq.w AND tt.doc_id <> eq.query_id GROUP BY 1, 2),
        |esim AS (SELECT d.query_id, d.doc_id,
        |    round(CAST(d.dot AS DOUBLE) / sqrt(a.n2) / sqrt(b.n2), 6) AS sim
        |  FROM edots d JOIN en2 a ON d.query_id = a.doc_id JOIN en2 b ON d.doc_id = b.doc_id),
        |truth AS MATERIALIZED (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rnk
        |    FROM esim) t WHERE rnk <= 5),
        |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries FROM truth),
        |terms0 AS (SELECT DISTINCT doc_id, t AS term
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wd
        |    FROM documents) a, unnest(wd) u(t)
        |  WHERE length(t) >= 3),
        |terms AS MATERIALIZED (SELECT doc_id, term FROM (
        |    SELECT doc_id, term, count(*) OVER (PARTITION BY term) AS df
        |    FROM terms0) x
        |  WHERE df * 10 <= (SELECT count(*) FROM documents)),
        |ov AS (SELECT tq.doc_id AS query_id, td.doc_id,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM terms tq JOIN terms td USING (term)
        |  WHERE tq.doc_id % 50 = 0 AND tq.doc_id < 500
        |    AND td.doc_id <> tq.doc_id
        |  GROUP BY 1, 2),
        |lex5 AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY inter DESC, doc_id) AS r
        |    FROM ov) x WHERE r <= 5),
        |wb AS (SELECT doc_id, tf_w,
        |    (instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1)
        |      + 16 * ((instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1) % 2) AS ba,
        |    (instr('0123456789abcdef', substring(md5(w), 3, 1)) - 1)
        |      + 16 * ((instr('0123456789abcdef', substring(md5(w), 4, 1)) - 1) % 2) AS bb
        |  FROM tt),
        |tf AS MATERIALIZED (SELECT doc_id, ch, bucket, CAST(sum(tf_w) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, tf_w, 'hash_a' AS ch, CAST(ba AS INT) AS bucket FROM wb
        |    UNION ALL
        |    SELECT doc_id, tf_w, 'hash_b' AS ch, CAST(bb AS INT) AS bucket FROM wb) u
        |  GROUP BY 1, 2, 3),
        |n2 AS (SELECT doc_id, ch, CAST(sum(tf * tf) AS BIGINT) AS n2
        |  FROM tf GROUP BY 1, 2),
        |qtf AS (SELECT doc_id AS query_id, ch, bucket, tf AS qtf
        |  FROM tf WHERE doc_id % 50 = 0 AND doc_id < 500),
        |dots AS (SELECT q.ch, q.query_id, tf.doc_id,
        |    CAST(sum(tf.tf * q.qtf) AS BIGINT) AS dot
        |  FROM tf JOIN qtf q ON tf.ch = q.ch AND tf.bucket = q.bucket
        |    AND tf.doc_id <> q.query_id
        |  GROUP BY 1, 2, 3),
        |hsim AS (SELECT d.ch, d.query_id, d.doc_id,
        |    round(CAST(d.dot AS DOUBLE) / sqrt(a.n2) / sqrt(b.n2), 6) AS sim
        |  FROM dots d
        |  JOIN n2 a ON d.query_id = a.doc_id AND d.ch = a.ch
        |  JOIN n2 b ON d.doc_id = b.doc_id AND d.ch = b.ch),
        |chtop AS MATERIALIZED (SELECT ch, query_id, doc_id, rnk FROM (
        |    SELECT ch, query_id, doc_id, row_number() OVER (
        |      PARTITION BY ch, query_id ORDER BY sim DESC, doc_id) AS rnk
        |    FROM hsim) t WHERE rnk <= 20),
        |fus AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
        |    COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    COALESCE(CAST(1000000000 AS BIGINT) // (60 + a.rnk), 0) +
        |    COALESCE(CAST(1000000000 AS BIGINT) // (60 + b.rnk), 0) AS rrf
        |  FROM (SELECT * FROM chtop WHERE ch = 'hash_a') a
        |  FULL OUTER JOIN (SELECT * FROM chtop WHERE ch = 'hash_b') b
        |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
        |fused5 AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
        |    FROM fus) x WHERE rnk <= 5),
        |a5 AS (SELECT query_id, doc_id FROM chtop WHERE ch = 'hash_a' AND rnk <= 5),
        |b5 AS (SELECT query_id, doc_id FROM chtop WHERE ch = 'hash_b' AND rnk <= 5),
        |hits AS (
        |  SELECT 'fused' AS variant, CAST(count(*) AS BIGINT) AS n_hits
        |    FROM truth JOIN fused5 USING (query_id, doc_id)
        |  UNION ALL SELECT 'hash_a', CAST(count(*) AS BIGINT)
        |    FROM truth JOIN a5 USING (query_id, doc_id)
        |  UNION ALL SELECT 'hash_b', CAST(count(*) AS BIGINT)
        |    FROM truth JOIN b5 USING (query_id, doc_id)
        |  UNION ALL SELECT 'lexical', CAST(count(*) AS BIGINT)
        |    FROM truth JOIN lex5 USING (query_id, doc_id))
        |SELECT variant, n_queries, n_hits,
        |  CASE WHEN n_queries = 0 THEN NULL
        |    ELSE n_hits * 10000 // (5 * n_queries) END AS recall_bp
        |FROM hits, nq ORDER BY variant""".stripMargin, baseline = true) { (s, dir) =>
      // FIXED 10-query panel (round-10 verdict #8: s20 had grown to 7%
      // of the sf0.1 suite): ids 0,50,…,450 exist at every SF ≥ 0.01,
      // so the panel no longer grows with the corpus — sf0.01/sf0.001
      // results are bit-identical to the %50 panel (all their ids are
      // < 500) and the sf0.1 truth join shrinks 10×. The eval's
      // verdict is panel-size-free (recall_bp normalizes by
      // n_queries); the first-copy bound stays for ScaleUp clones.
      val isQ = (c: Column) => Panel(c) && c < 500L
      val docs = Tables.documents(s, dir)
      val termTf = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf_w"))
        .localCheckpoint()
      val truth = tfCosineTruth(termTf, isQ, 5).localCheckpoint()
      val nQ = truth.agg(countDistinct(col("query_id")).as("n_queries"))
      // lexical channel (s16's exact form) — priced, not fused
      val lex5 = lexTop(lexPostings(s, dir).localCheckpoint(), isQ, 5, None)
        .select(col("query_id"), col("doc_id"))
      // two hashed-tf channels, width 32, one md5 per term
      def nib(i: Int) = s"(instr('0123456789abcdef', substring(_h, $i, 1)) - 1)"
      val tf32 = termTf.withColumn("_h", md5(col("w")))
        .select(col("doc_id"), col("tf_w"), explode(array(
          struct(lit("hash_a").as("ch"),
            expr(s"CAST(${nib(1)} + 16 * (${nib(2)} % 2) AS INT)").as("bucket")),
          struct(lit("hash_b").as("ch"),
            expr(s"CAST(${nib(3)} + 16 * (${nib(4)} % 2) AS INT)").as("bucket")))).as("cb"))
        .select(col("doc_id"), col("cb.ch").as("ch"),
          col("cb.bucket").as("bucket"), col("tf_w"))
        .groupBy(col("doc_id"), col("ch"), col("bucket"))
        .agg(sum(col("tf_w")).as("tf"))
        .localCheckpoint()
      val n2 = tf32.groupBy(col("doc_id"), col("ch")).agg(sum(expr("tf * tf")).as("n2"))
      val qTf = tf32.filter(isQ(col("doc_id")))
        .select(col("doc_id").as("query_id"), col("ch"), col("bucket"),
          col("tf").as("qtf"))
      val chSims = tf32.join(broadcast(qTf), Seq("ch", "bucket"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("ch"), col("query_id"), col("doc_id"))
        .agg(sum(expr("tf * qtf")).as("dot"))
        .join(broadcast(n2.select(col("doc_id").as("query_id"), col("ch"),
          col("n2").as("qn2"))), Seq("query_id", "ch"))
        .join(n2, Seq("doc_id", "ch"))
        .withColumn("sim", round(col("dot") / sqrt(col("qn2")) / sqrt(col("n2")), 6))
        .select(col("ch"), col("query_id"), col("doc_id"), col("sim"))
      val chTop = Relational.topNPerGroupFast(chSims, 20, Seq("ch", "query_id"),
          Seq(("sim", false), ("doc_id", true)), rank = Some("rnk"))
        .select(col("ch"), col("query_id"), col("doc_id"), col("rnk"))
        .localCheckpoint()
      def top(ch: String, n: Int) =
        chTop.filter(col("ch") === s"hash_$ch" && col("rnk") <= n)
        .select(col("query_id"), col("doc_id"), col("rnk").as(s"rank_$ch"))
      def row(name: String, cand: DataFrame) =
        recallRow(lit(name).as("variant"), truth,
          cand.select(col("query_id"), col("doc_id")), 5, nQ)
      row("fused", rrfTop5(top("a", 20), "rank_a", top("b", 20), "rank_b"))
        .unionByName(row("hash_a", top("a", 5)))
        .unionByName(row("hash_b", top("b", 5)))
        .unionByName(row("lexical", lex5))
        .orderBy(col("variant"))
    },

    QueryKey("s15_ann_index_append",
      s"""WITH $ivfCellsCte,
         |q AS (SELECT * FROM cells WHERE vec_id % 10 = 0),
         |${probeTopK("cells a JOIN q b ON a.cell = b.cell AND a.vec_id <> b.vec_id", 3)}""".stripMargin) { (s, dir) =>
      val (index, delta) = ivfIndexDelta(s, dir)
      Similarity.searchAssigned(index.unionByName(delta), delta,
          "vec_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // TOMBSTONE deletion in the ANN index lifecycle (s15 builds +
    // appends; this is the third act every vector store needs — a
    // delete API): the cheap production path serves the EXISTING
    // persisted index behind a tombstone anti-join (delete is a
    // metadata write, no index rebuild), and the key PROVES it
    // row-identical to the expensive path (index rebuilt from scratch
    // without the deleted vectors) — legal because cell assignment is
    // per-vector deterministic, so removing rows can't move survivors
    // between cells. Both faces emit; the oracle computes the search
    // ONCE and emits it for both, so any divergence — a tombstoned
    // vector surfacing, or a rebuild shifting a result — breaks the
    // compare. Tombstones broadcast (deletion sets are small);
    // queries are never tombstoned by construction (%50 ∩ %20==7 = ∅).
    QueryKey("s25_ann_tombstone",
      // the oracle computes the post-delete search ONCE and emits both
      // faces from it — the masked and rebuilt plans must agree with it
      // row-for-row or the compare breaks
      s"""WITH $ivfCellsCte,
         |live AS (SELECT * FROM cells WHERE vec_id % 20 <> 7),
         |q AS (SELECT * FROM cells WHERE vec_id % 50 = 0),
         |sims AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM live a JOIN q b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |ranked AS MATERIALIZED (SELECT query_id, neighbor_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
         |  FROM sims)
         |SELECT face, query_id, rnk, neighbor_id, sim FROM (
         |  SELECT 'masked' AS face, * FROM ranked WHERE rnk <= 3
         |  UNION ALL
         |  SELECT 'rebuilt', * FROM ranked WHERE rnk <= 3) u
         |ORDER BY face, query_id, rnk""".stripMargin) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val cents = vecs.filter(col("vec_id") < 8)
      val (index, delta) = ivfIndexDelta(s, dir)
      val queries = delta.filter(Panel(col("vec_id")))
        .localCheckpoint()
      val tomb = vecs.filter(pmod(col("vec_id"), lit(20)) === 7)
        .select(col("vec_id"))
      val masked = Similarity.searchAssigned(
        index.unionByName(delta).join(broadcast(tomb), Seq("vec_id"), "left_anti"),
        queries, "vec_id", "embedding", k = 3)
      val rebuilt = Similarity.searchAssigned(
        Similarity.indexWithCells(vecs.filter(pmod(col("vec_id"), lit(20)) =!= 7),
          cents, "vec_id", "embedding"),
        queries, "vec_id", "embedding", k = 3)
      masked.withColumn("face", lit("masked"))
        .unionByName(rebuilt.withColumn("face", lit("rebuilt")))
        .select(col("face"), col("query_id"), col("rnk"), col("neighbor_id"),
          col("sim"))
        .orderBy(col("face"), col("query_id"), col("rnk"))
    },

    // composed IVF×PQ — the production prune-then-ADC serving shape:
    // s3's cell pruning and s11's compressed-domain ADC scoring in ONE
    // retrieval. A query scores only its own IVF cell's codes (the
    // broadcast LUT carries the query's cell, so other-cell code rows
    // drop at the map-side hash probe — the score aggregate sees
    // ~1/|cells| of s11's all-pairs input). Fixed-seed centroids
    // (vec_id < 8, s3's codebook) + 8×8 PQ codebooks k=16 trained 2
    // Lloyd iterations (s11's) — both halves identical to their
    // standalone keys; the composition is the only new moving part.
    QueryKey("s12_ann_ivfpq",
      ivfPqOracle(0)) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val cents = vecs.filter(col("vec_id") < 8)
      Similarity.ivfPqTopK(vecs, "vec_id", "embedding", cents,
        Panel(col("_vid")), subs = 8, width = 8,
        pqK = 16, iters = 2, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // PERSISTED serving index, IVF-PQ edition (s27 — the build/serve
    // split completing the lifecycle story: s12 trains codebooks INSIDE
    // the query; production builds the index once — nightly — and
    // serves many query batches against the artifact; d21/d22/s24
    // DerivedLayouts precedent). BUILD (once, memoized): IVF cell
    // assignment + 2-iteration PQ codebook training + corpus encoding,
    // persisted as three parquet tables (centroids / codebooks / codes
    // — the codes are the only corpus-sized artifact, 8 one-byte code
    // ids + a cell id per vector). SERVE (the measured op): a FRESH
    // query batch (vec_id % 50 = 25 — ids s12 never queried) is
    // cell-assigned and quantized (O(|batch|), broadcast centroids),
    // then scored purely in the compressed domain — broadcast LUT into
    // the codes join, other-cell rows drop at the map-side probe,
    // TopNPerKey bounds the shuffle. The oracle re-derives the whole
    // index closed-form, so a stale/wrong artifact breaks the hash;
    // PipelineSpec pins serve-through-artifact == s12's in-query build
    // on s12's own query set (recall parity by construction).
    QueryKey("s27_ann_serve",
      // s12's closed form verbatim with the FRESH query batch (% 50 =
      // 25): the oracle re-derives the persisted index end-to-end, so a
      // stale or wrongly-trained artifact breaks the hash
      ivfPqOracle(25)) { (s, dir) =>
      import graft.sources.DerivedLayouts
      val base = DerivedLayouts.once(s"ivfpq_index|$dir") { path =>
        val vecs = Tables.embeddings(s, dir)
        val cents = vecs.filter(col("vec_id") < 8)
        val (ivfCents, book, codes) = Similarity.ivfPqIndex(
          vecs, "vec_id", "embedding", cents,
          subs = 8, width = 8, pqK = 16, iters = 2)
        ivfCents.write.parquet(s"$path/cents")
        book.write.parquet(s"$path/book")
        codes.write.parquet(s"$path/codes")
      }
      val queries = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(50)) === 25)
      Similarity.ivfPqServe(queries, "vec_id", "embedding",
        Tables.parquet(s, s"$base/cents"), Tables.parquet(s, s"$base/book"),
        Tables.parquet(s, s"$base/codes"), subs = 8, width = 8, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    // two-stage retrieval: quantized coarse top-10 → full-precision
    // rerank top-3 (the production ANN serving shape: compressed scan,
    // exact rerank of survivors only).
    // baseline: brute-force coarse stage
    QueryKey("s7_ann_rerank",
      s"""WITH vq AS (SELECT vec_id,
         |    list_transform(embedding, x -> greatest(-127.0, least(127.0, floor(CAST(x AS DOUBLE)*127.0 + 0.5)))) AS e
         |  FROM embeddings),
         |vi AS (SELECT vec_id, e, list_sum(list_transform(e, x -> x*x)) AS n2 FROM vq),
         |qi AS (SELECT * FROM vi WHERE vec_id % 50 = 0),
         |cs AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM vi a CROSS JOIN qi b WHERE a.vec_id <> b.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS crn
         |    FROM cs) t0 WHERE crn <= 10),
         |$vecCte,
         |rs AS (SELECT c.query_id, c.neighbor_id,
         |    round($dotAB / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM cand c JOIN v a ON c.neighbor_id = a.vec_id
         |    JOIN v b ON c.query_id = b.vec_id)
         |SELECT query_id, rnk, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
         |  FROM rs) t1 WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin, baseline = true) { (s, dir) =>
      val vecs = Tables.embeddings(s, dir)
      val q = vecs.filter(Panel(col("vec_id")))
      Similarity.rerankTopK(vecs, q, "vec_id", "embedding", coarseK = 10, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },

    QueryKey("t1_langid", {
      val de = stops(TextFunctions.deStop)
      val fr = stops(TextFunctions.frStop)
      s"""SELECT doc_id, en_hits, de_hits, fr_hits,
         |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
         |       WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
         |       WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w IN ($en))) AS INT) AS en_hits,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w IN ($de))) AS INT) AS de_hits,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w IN ($fr))) AS INT) AS fr_hits
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val withWords = Tables.documents(s, dir)
        .withColumn("_w", Dedup.words(col("text")))
      withWords.select(col("doc_id"),
          TextFunctions.stopHits("_w", TextFunctions.enStop).as("en_hits"),
          TextFunctions.stopHits("_w", TextFunctions.deStop).as("de_hits"),
          TextFunctions.stopHits("_w", TextFunctions.frStop).as("fr_hits"))
        .withColumn("lang_pred",
          TextFunctions.langId(col("en_hits"), col("de_hits"), col("fr_hits")))
        .orderBy(col("doc_id"))
    },

    QueryKey("t2_quality", {
      s"""SELECT doc_id, n_tokens, n_distinct, stop_hits,
         |  CAST(floor(CAST(n_distinct AS DOUBLE) / n_tokens * 50.0 +
         |             CAST(stop_hits AS DOUBLE) / n_tokens * 20.0 +
         |             CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 30.0) AS INT) AS quality
         |FROM (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
         |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS INT) AS n_distinct,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w IN ($en))) AS INT) AS stop_hits
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      qualityFrame(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryKey("t3_tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS INT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
          call_function("token_count", col("text")).as("n_re_tokens"))
        .orderBy(col("doc_id"))
    },

    QueryKey("t4_fingerprint",
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)), i ->
        |    unicode(substr(text, i, 1)) * ((i * 2654435761) % 1000000007))) AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          call_function("poly_hash", col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // binary metadata extraction from REAL bytes: valid PNG/JPEG payloads
    // are synthesized per document, then width/height/format are parsed
    // back out of the actual container headers (signature + IHDR for PNG,
    // marker walk to SOF0 for JPEG). The oracle predicts the decode
    // output arithmetically — a parser bug breaks the hash.
    QueryKey("x1_binary_meta",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 41 END + n_chars % 100 AS INT) AS byte_len,
        |  CAST(doc_id % 640 + 16 AS INT) AS width,
        |  CAST(doc_id % 480 + 16 AS INT) AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthImage)
      Multimodal.decode(payloads)(Multimodal.decodeHeader).toDF()
        .orderBy(col("doc_id"))
    },

    // NPY tensor-shard metadata — the array format ML pipelines
    // actually ship embeddings/activations in (x-family's SIZE-PROOF
    // exercise): real \x93NUMPY v1.0 bytes with LE uint16 header
    // length, 64-byte preamble alignment, '\n' terminator; decode
    // parses dtype+shape from the ASCII header dict and VALIDATES
    // data_bytes == payload − preamble (a truncated shard fails valid
    // rather than mis-reporting a shape). Two itemsizes ('<f4'/'<i8'
    // by parity) exercise the size arithmetic. Payload bytes never
    // cross a shuffle (map-side decode, x-family contract).
    QueryKey("x15_npy_meta",
      // closed-form from the synthesis formulas (x-family contract: Spark
      // synthesizes REAL bytes and really parses them; the oracle proves
      // the round-trip lands back on the formula). header_len reproduces
      // the 64-byte alignment: pad the dict+LF to the next multiple of 64
      // counting the 10 preamble bytes.
      """SELECT doc_id,
        |  CAST(10 + header_len + data_bytes AS INT) AS byte_len,
        |  dtype, CAST(rows AS INT) AS rows, CAST(cols AS INT) AS cols,
        |  CAST(rows * cols AS BIGINT) AS n_elems,
        |  CAST(item AS INT) AS item_bytes,
        |  CAST(data_bytes AS BIGINT) AS data_bytes,
        |  CAST(header_len AS INT) AS header_len,
        |  TRUE AS valid
        |FROM (
        |  SELECT doc_id, dtype, rows, cols, item, rows * cols * item AS data_bytes,
        |    ((10 + length(dict) + 1 + 63) // 64) * 64 - 10 AS header_len
        |  FROM (
        |    SELECT doc_id, dtype, rows, cols, item,
        |      '{''descr'': ''' || dtype || ''', ''fortran_order'': False, ' ||
        |      '''shape'': (' || rows || ', ' || cols || '), }' AS dict
        |    FROM (
        |      SELECT doc_id, doc_id % 5 + 1 AS rows, doc_id % 7 + 1 AS cols,
        |        CASE WHEN doc_id % 2 = 0 THEN '<f4' ELSE '<i8' END AS dtype,
        |        CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 8 END AS item
        |      FROM documents) a) b) c
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthNpy(id))
      Multimodal.decode(payloads)(Multimodal.decodeNpyHeader).toDF()
        .orderBy(col("doc_id"))
    },

    // safetensors shard metadata (x15's modern sibling — the format
    // model weights actually ship in): real 8-byte LE u64 header
    // length + byte-exact JSON tensor table + concatenated data; the
    // decode proves offset CONTIGUITY (two tensors must tile
    // [0, total) with no gap/overlap) and the size identity
    // 8 + header + total == payload. Map-side decode, payloads never
    // shuffle (x-family contract).
    QueryKey("x16_safetensors_meta",
      // byte-exact JSON rebuilt in SQL → header_len closed-form (the
      // synthesis emits no whitespace precisely so this is possible)
      """SELECT doc_id,
        |  CAST(8 + length(json) + b AS INT) AS byte_len,
        |  CAST(2 AS INT) AS n_tensors,
        |  CAST(length(json) AS INT) AS header_len,
        |  CAST(b AS BIGINT) AS total_data_bytes,
        |  TRUE AS contiguous, TRUE AS valid
        |FROM (
        |  SELECT doc_id, b,
        |    '{"emb":{"dtype":"F32","shape":[' || r || ',' || c ||
        |    '],"data_offsets":[0,' || a || ']},"ids":{"dtype":"I64","shape":[' ||
        |    r || '],"data_offsets":[' || a || ',' || b || ']}}' AS json
        |  FROM (
        |    SELECT doc_id, r, c, r * c * 4 AS a, r * c * 4 + r * 8 AS b
        |    FROM (SELECT doc_id, doc_id % 5 + 1 AS r, doc_id % 7 + 1 AS c
        |      FROM documents) x) y) z
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthSafetensors(id))
      Multimodal.decode(payloads)(Multimodal.decodeSafetensorsHeader).toDF()
        .orderBy(col("doc_id"))
    },

    // PDF text extraction from REAL bytes (the crawled-PDF corpus op
    // between a container index and the t-family text gates — t25's
    // sibling for the other big document format): minimal VALID
    // single-page PDFs synthesized per doc (5 objects, correct xref
    // byte offsets, startxref), the decoder walks startxref → xref →
    // per-object offset checks (xref_ok) and slices the content
    // stream by its /Length dict before collecting `(...) Tj` text
    // operators in order. Extraction still succeeds on a broken xref
    // (scavenger mode, spec-pinned); map-side decode, payload bytes
    // never shuffle (x-family contract).
    QueryKey("x18_pdf_extract",
      // words sanitized with the IDENTICAL regex the synthesis applies;
      // stream_len = 13 ("BT /F1 12 Tf ") + Σ(len+9) per "(w) Tj T* "
      // + 2 ("ET"); list_sum of an empty list is NULL → coalesce
      """WITH w AS (SELECT doc_id,
        |    list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x <> '')[1:8], x -> regexp_replace(x, '[()\\]', '', 'g')) AS ws
        |  FROM documents)
        |SELECT doc_id, CAST(5 AS INT) AS n_objs,
        |  CAST(15 + coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
        |    + 9 * len(ws) AS INT) AS stream_len,
        |  CAST(len(ws) AS INT) AS n_text_ops,
        |  array_to_string(ws, ' ') AS text,
        |  TRUE AS xref_ok, TRUE AS valid
        |FROM w ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "text")(Multimodal.synthPdf)
      Multimodal.decode(payloads)(Multimodal.decodePdfText).toDF()
        .orderBy(col("doc_id"))
    },

    // PCM frame energy / silence detection over REAL samples (x6 stops
    // at the WAV header; this is the feature-extraction pass a speech
    // pipeline runs on the payload): 8-bit mono PCM synthesized with
    // per-frame square-wave amplitudes and two planted digital-silence
    // frames, decoded into 50-sample-frame L1 energies — silent ⇔
    // energy 0 (the VAD/silence-trim primitive). The decoder REQUIRES
    // 8-bit mono (a 16-bit file fails valid rather than mis-framing)
    // and clamps the declared data size to the bytes present
    // (truncation-safe, spec-pinned). Closed-form oracle from the
    // synthesis amplitudes — no sample simulation needed.
    QueryKey("x19_pcm_energy",
      // frames 0..7 carry amplitude a+f; silent frames f0, f0+1 subtract
      // (a+f0)+(a+f0+1) from Σ(a+f)=8a+28 → total = 50·(6a+27−2f0);
      // frame 7 is never silent (f0 ≤ 3) → max = 50·(a+7)
      """SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(400 AS INT) AS n_samples, CAST(8 AS INT) AS n_frames,
        |  CAST(2 AS INT) AS n_silent,
        |  CAST(50 * (6 * a + 27 - 2 * f0) AS BIGINT) AS total_energy,
        |  CAST(50 * (a + 7) AS BIGINT) AS max_frame_energy,
        |  TRUE AS valid
        |FROM (SELECT doc_id, 20 + (doc_id % 5) * 10 AS a, doc_id % 4 AS f0
        |  FROM documents) x
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthPcmWav(id))
      Multimodal.decode(payloads)(Multimodal.decodePcmEnergy).toDF()
        .orderBy(col("doc_id"))
    },

    // EXIF ORIENTATION decode (the metadata pass that must precede any
    // pixel-level dedup: a rotated twin hashes differently under x17's
    // aHash unless orientation-normalized first): JPEG marker walk to
    // APP1 + "Exif\0\0" gate + a TIFF IFD walk INSIDE the segment for
    // tag 274 — x1's marker walk composed with x13's both-byte-orders
    // IFD walk, offsets relative to the embedded TIFF base (the bug
    // absolute-offset parsers hit). doc_id%5==4 files carry no Exif
    // and take the assume-upright default (orientation 1, present
    // false) — the path every viewer implements. Closed-form oracle
    // from the synthesis formulas; map-side decode.
    QueryKey("x21_exif_orientation",
      // closed-form from the synthesis: base jpeg = 41 + doc_id%7 bytes
      // (soi 2 + app0 18 + sof0 19 + pad + eoi 2), the Exif APP1 adds 48
      // (4 header + 6 "Exif\0\0" + 38 TIFF); orientation 1 + doc_id%8,
      // byte order by doc_id parity, %5==4 stripped
      """SELECT doc_id,
        |  CAST(41 + doc_id % 7
        |    + CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 48 END AS INT) AS byte_len,
        |  doc_id % 5 <> 4 AS exif_present,
        |  CASE WHEN doc_id % 5 = 4 THEN 'none'
        |    WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 1
        |    ELSE 1 + doc_id % 8 END AS INT) AS orientation,
        |  CAST(CASE WHEN doc_id % 5 = 4 OR doc_id % 8 = 0
        |    THEN 0 ELSE 1 END AS INT) AS needs_transform,
        |  TRUE AS valid
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthJpegExif(id))
      Multimodal.decode(payloads)(Multimodal.decodeJpegExif).toDF()
        .orderBy(col("doc_id"))
    },

    // perceptual AUDIO fingerprint (x17's aHash transplanted to the
    // audio modality — the echoprint-class signature d26 dedups on):
    // 8-bit mono WAV with a 64-frame energy contour; decode = WAV gate
    // (8-bit mono REQUIRED, size clamped) → per-frame L1 energies →
    // global mean threshold → two 32-bit signature words. The planted
    // per-doc TIME-SHIFT (every frame cyclically rotated by doc_id%7
    // samples) changes the payload bytes — x7's content hash sees 20
    // distinct files per group — but not one frame's energy: signature
    // INVARIANCE to re-encode-class perturbations is the property that
    // makes it perceptual. Map-side decode, payloads never shuffle.
    QueryKey("x20_audio_fingerprint",
      // closed-form energy-contour fingerprint: group word from
      // md5('af|'||g) (the x17 construction, audio salt), flip mask
      // (1<<f)-1 on the LOW word, mean = 1500 + 3000·n_set//64 exactly
      // (64 frames × 50 samples: e_i ∈ {4500, 1500}, Σ = 96000 +
      // 3000·n_set); the planted per-frame rotation never reaches the
      // oracle — L1 energy is permutation-invariant, so no sample
      // simulation needed
      s"""${aHashCte("af")}
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(64 AS INT) AS n_frames,
        |  CAST(1500 + (3000 * CAST(bit_count(sig_lo) + bit_count(sig_hi) AS BIGINT))
        |    // 64 AS BIGINT) AS mean_energy,
        |  sig_lo, sig_hi, TRUE AS valid
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthAudioFpWav(id))
      Multimodal.decode(payloads)(Multimodal.decodeAudioFpWav).toDF()
        .orderBy(col("doc_id"))
    },

    // TIFF metadata — the x-family's ENDIANNESS exercise: the container
    // declares its own byte order ("II"/"MM"), and the SHORT tag values
    // are left-justified in their 4-byte fields, which a naive
    // always-u32 parser silently misreads on big-endian files (the
    // MultimodalSpec negative paths pin both traps). Even doc_ids
    // synthesize little-endian, odd big-endian — the corpus mixes
    // orders like a real crawl.
    QueryKey("x13_tiff_meta",
      """SELECT doc_id,
        |  CAST(38 + n_chars % 100 AS INT) AS byte_len,
        |  CASE WHEN doc_id % 2 = 0 THEN 'le' ELSE 'be' END AS byte_order,
        |  CAST(doc_id % 640 + 16 AS INT) AS width,
        |  CAST(doc_id % 480 + 16 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthTiffDoc)
      Multimodal.decode(payloads)(Multimodal.decodeTiffHeader).toDF()
        .orderBy(col("doc_id"))
    },

    // mixed-container SNIFFING — the real crawl shape: content-type is
    // unknown up front, so the reader classifies by magic bytes and
    // dispatches to the matching header decoder (x1 png/jpeg, x6 wav,
    // x13 tiff) into one uniform manifest row; a payload matching no
    // signature classifies "unknown" instead of being mis-parsed by the
    // wrong decoder (MultimodalSpec pins the negative path).
    QueryKey("x14_sniff_dispatch",
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'wav' ELSE 'tiff' END AS kind,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 22050
        |    ELSE doc_id % 640 + 16 END AS INT) AS d1,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 1
        |    ELSE doc_id % 480 + 16 END AS INT) AS d2
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthMixed)
      Multimodal.decode(payloads)(Multimodal.sniffDecodeHeader).toDF()
        .orderBy(col("doc_id"))
    },

    QueryKey("x2_frame_sample",
      """SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(unicode(substr(text, CAST(i AS INT) * 16 + 1, 1)) AS INT) AS frame_byte
        |FROM (SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text) - 1) / 16) AS INT) + 1)) AS i
        |  FROM documents) t
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(Tables.documents(s, dir), stride = 16)
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // resize plumbing: thumbnail dims from decoded metadata (integer
    // aspect-preserving scale; the real codec call sits behind the
    // same decodeMeta boundary).
    QueryKey("x4_resize",
      """SELECT doc_id, width, height,
        |  CAST((width * 128) // greatest(width, height, 1) AS INT) AS thumb_w,
        |  CAST((height * 128) // greatest(width, height, 1) AS INT) AS thumb_h
        |FROM (SELECT doc_id, CAST(doc_id % 640 + 16 AS INT) AS width,
        |    CAST(doc_id % 480 + 16 AS INT) AS height FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthImage)
      Multimodal.decode(payloads)(Multimodal.decodeHeader).toDF()
        .withColumn("thumb_w",
          expr("cast((width * 128) div greatest(width, height, 1) as int)"))
        .withColumn("thumb_h",
          expr("cast((height * 128) div greatest(width, height, 1) as int)"))
        .select(col("doc_id"), col("width"), col("height"), col("thumb_w"), col("thumb_h"))
        .orderBy(col("doc_id"))
    },

    // audio metadata from REAL bytes: valid WAV (RIFF/WAVE/fmt) payloads
    // synthesized per doc, sample rate + channels parsed back out of the
    // little-endian header (byte-order counterpart to PNG/JPEG's BE).
    QueryKey("x6_audio_meta",
      """SELECT doc_id,
        |  CAST(44 + n_chars % 100 AS INT) AS byte_len,
        |  CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS INT) AS channels,
        |  'wav' AS format
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthAudio)
      Multimodal.decode(payloads)(Multimodal.decodeAudioHeader).toDF()
        .orderBy(col("doc_id"))
    },

    // video metadata from REAL bytes: minimal valid MP4 (ftyp + moov/
    // mvhd + mdat) synthesized per doc; the decoder does the true
    // ISO-BMFF traversal — walk top-level boxes to moov, walk moov's
    // children to mvhd, read big-endian timescale/duration — no fixed
    // offsets. duration_ms is integer arithmetic, oracle-predictable.
    QueryKey("x8_video_meta",
      """SELECT doc_id,
        |  CAST(148 + n_chars % 100 AS INT) AS byte_len,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 600 WHEN 1 THEN 1000
        |       WHEN 2 THEN 90000 ELSE 44100 END AS INT) AS timescale,
        |  CAST((doc_id % 120 + 1) * (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 600
        |       WHEN 1 THEN 1000 WHEN 2 THEN 90000 ELSE 44100 END) AS BIGINT)
        |    AS duration_units,
        |  CAST((doc_id % 120 + 1) * 1000 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "n_chars")(Multimodal.synthVideo)
      Multimodal.decode(payloads)(Multimodal.decodeVideoHeader).toDF()
        .orderBy(col("doc_id"))
    },

    // content-hash dedup of media payloads: group byte-identical blobs
    // by md5(payload), computed map-side so the shuffle carries one
    // 32-hex-char key + counters per distinct payload — never the bytes
    // themselves (THE dedup shape for binary at 100 TB). Payloads are
    // synthesized with deliberate duplicates (params from doc_id % 40);
    // the oracle predicts group structure from the residue.
    QueryKey("x7_content_dedup",
      // group structure predicted from the synthesis residue: docs with
      // the same doc_id % 40 share byte-identical payloads (injective in
      // the residue), so md5-groups == residue-groups; byte length follows
      // x1's arithmetic with pad = residue.
      """SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(CASE WHEN r % 2 = 0 THEN 57 ELSE 41 END + r AS INT) AS n_bytes
        |FROM (SELECT doc_id, doc_id % 40 AS r FROM documents) t
        |GROUP BY r ORDER BY keeper_id""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.synthesize(Tables.documents(s, dir), "doc_id")(
        (id, _: Long) => Multimodal.synthShared(id))
      payloads
        .groupBy(md5(col("payload")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"),
          max(length(col("payload"))).as("n_bytes"))
        .select(col("keeper_id"), col("n_copies"), col("n_bytes"))
        .orderBy(col("keeper_id"))
    },

    // feature-extraction plumbing: byte-class histogram per payload
    // (stand-in for an embedding/feature vector; declarative, codegen'd).
    QueryKey("x5_features",
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INT) AS n_letters,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS n_digits,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS n_spaces,
        |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |    - length(regexp_replace(text, '[^0-9]', '', 'g'))
        |    - (length(text) - length(replace(text, ' ', ''))) AS INT) AS n_other
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_letters", length(regexp_replace(col("text"), "[^A-Za-z]", "")))
        .withColumn("n_digits", length(regexp_replace(col("text"), "[^0-9]", "")))
        .withColumn("n_spaces",
          length(col("text")) - length(regexp_replace(col("text"), " ", "")))
        .withColumn("n_other",
          (length(col("text")) - col("n_letters") - col("n_digits") - col("n_spaces"))
            .cast("int"))
        .select(col("doc_id"), col("n_letters"), col("n_digits"), col("n_spaces"),
          col("n_other"))
        .orderBy(col("doc_id"))
    }
  )
}
