package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Graph, LearnedQuality, Similarity}
import graft.sources.Tables
import graft.multimodal.Multimodal

class PipelineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  val sf = "/root/testdata/sf0.001"

  test("triangleStats counts planted graphs exactly: K4, a path, and a hub star") {
    import spark.implicits._
    def stats(edges: Seq[(String, String)]) =
      Graph.triangleStats(edges.toDF("a", "b")).collect().head
    // K4: 4 triangles, 12 wedges, cc = 1
    val k4 = for { x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
                   if x < y } yield (x, y)
    val rk4 = stats(k4)
    assert((rk4.getLong(0), rk4.getLong(1), rk4.getLong(2), rk4.getLong(3), rk4.getLong(4))
      == ((4L, 6L, 12L, 4L, 10000L)))
    // path a-b-c-d: 0 triangles, 2 wedges
    val rp = stats(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert((rp.getLong(3), rp.getLong(2), rp.getLong(4)) == ((0L, 2L, 0L)))
    // star hub + one rim edge: exactly 1 triangle; degree orientation
    // must point INTO the hub so the hub's out-list stays small
    val star = Seq(("h", "r1"), ("h", "r2"), ("h", "r3"), ("h", "r4"), ("r1", "r2"))
      .map { case (x, y) => (if (x < y) x else y, if (x < y) y else x) }
    val rs = stats(star)
    assert(rs.getLong(3) == 1L, s"star+rim must have exactly 1 triangle, got $rs")
  }

  test("kCore cascades to fixpoint: a path dissolves at k=2, K4 survives at k=3, a star collapses") {
    import spark.implicits._
    def core(edges: Seq[(String, String)], k: Int) =
      Graph.kCore(edges.toDF("a", "b"), k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // path a-b-c-d at k=2: a one-pass degree filter would only drop the
    // endpoints; the CASCADE then drops b and c too — the k-core is empty
    assert(core(Seq(("a", "b"), ("b", "c"), ("c", "d")), 2).isEmpty,
      "path must dissolve entirely under k=2 peeling")
    // K4 at k=3 is already a fixpoint: all four nodes stay at degree 3
    val k4 = for { x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
                   if x < y } yield (x, y)
    assert(core(k4, 3) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // star: rims have degree 1 → removed at k=2, stranding the hub
    assert(core(Seq(("h", "r1"), ("h", "r2"), ("h", "r3"), ("h", "r4")), 2).isEmpty)
  }

  test("html extract: planted boilerplate drops, body text survives byte-exact") {
    import spark.implicits._
    import graft.operators.HtmlText
    // content paragraph + link-dense nav: nav must drop, paragraph text
    // (including its inline anchor's text) must survive byte-exact
    val html = "<html><head><script>var x=1;</script><style>.a{}</style>" +
      "</head><body><p>real body words <a href=\"/r\">details</a></p>" +
      "<div class=\"nav\"><a href=\"/1\">one</a> | <a href=\"/2\">two</a> | " +
      "<a href=\"/3\">three</a></div></body></html>"
    val r = HtmlText.extract(Seq((1L, html)).toDF("doc_id", "body"),
      "doc_id", "body").collect().head
    assert(r.getAs[Int]("n_blocks") == 2 && r.getAs[Int]("n_kept") == 1)
    val kept = "real body words details"
    assert(r.getAs[Long]("kept_chars") == kept.length.toLong)
    // nav text "one | two | three" = 17 chars dropped
    assert(r.getAs[Long]("dropped_chars") == 17L)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(kept.getBytes("US-ASCII")).map(b => f"$b%02x").mkString
    assert(r.getAs[String]("kept_md5") == md,
      "kept text must be byte-exact (hash-pinned), not just counted")
    // script/style payloads must never leak into kept text: a page that
    // is ONLY script+style yields zero blocks → zero rows, not js-text
    val jsOnly = "<html><body><script>var leak=1;</script></body></html>"
    assert(HtmlText.extract(Seq((2L, jsOnly)).toDF("doc_id", "body"),
      "doc_id", "body").count() == 0)
  }

  test("image near-dup: planted group members pair within hamming 2, disjoint groups never pair") {
    val q = SparkEntry.queries("d25_image_neardup")
    val rows = q(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 500 docs, 20 per group g = id div 20 (consecutive blocks — group
    // size stays fixed as the corpus scales); flip masks are nested
    // prefixes (1<<f)-1 so within-group hamming = |Δf| exactly. The
    // banded + verified result must equal the BRUTE hamming ≤ 2 truth:
    // same-f and |Δf| ≤ 2 members pair; the planted distance-3
    // variants (f=0 vs f=3) are banding candidates VERIFICATION must
    // kill; cross-group (md5-random, hamming ≫ 2) must never appear.
    assert(rows.size == 500)
    for (id <- 0L until 500L) {
      val g = id / 20
      val f = id % 4
      val members = (g * 20 until (g + 1) * 20)
      val neigh = members.filter(m => m != id && math.abs((m % 4) - f) <= 2)
      val keeper = (neigh :+ id).min
      assert(rows(id) == ((neigh.size.toLong, keeper)),
        s"id $id: expected (${neigh.size}, $keeper), got ${rows(id)}")
    }
  }

  test("exact dedup folds duplicate ingest onto min id") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("id", "t")
    val r = Dedup.exactDedup(df, col("t"), col("id"))
      .orderBy("keeper_id").collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("lsh candidates find planted near-duplicates and skip unrelated") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely different words with no overlap whatsoever in any shingle here"
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidates(docs, "doc_id", "text", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard verification scores identical docs at 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.jaccardVerify(cand, docs, "doc_id", "text", 0.5).collect()
    assert(r.length == 1 && r(0).getAs[Double]("jaccard") == 1.0)
  }

  test("prefix sim-join is COMPLETE: equals brute-force all-pairs truth at sf0.001") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val result = Dedup.prefixSimJoin(docs, "doc_id", "text", tBp = 8000L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth: exact Jaccard over ALL pairs
    val sets = docs.select(col("doc_id"), Dedup.shingles("text").as("tk"))
      .filter(size(col("tk")) > 0)
    val truth = sets.toDF("id_a", "tk_a")
      .crossJoin(sets.toDF("id_b", "tk_b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("tk_a"), col("tk_b"))).cast("long"))
      .withColumn("uni", size(array_union(col("tk_a"), col("tk_b"))).cast("long"))
      .filter(col("inter") * lit(10000L) >= lit(8000L) * col("uni"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain at least one similar pair")
    assert(result == truth,
      s"missed=${truth -- result} extra=${result -- truth}")
  }

  test("containment catches a wholly-quoted doc that Jaccard misses") {
    import spark.implicits._
    // doc 1 = a short passage; doc 2 = a long doc QUOTING doc 1 whole.
    // Every 3-gram of doc 1 appears in doc 2, but doc 2 has many more.
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = "one two three four five six seven eight nine ten " +
      quote + " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    val docs = Seq((1L, quote), (2L, host)).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.containmentVerify(cand, docs, "doc_id", "text",
      minContainBp = 6000L).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("cont_bp") == 10000L) // fully contained
    // Jaccard on the same pair is small — a 30%-Jaccard dedup keeps both
    assert(row.getAs[Long]("jac_bp") < 3000L)
    // invariant: containment ≥ jaccard for every pair
    assert(row.getAs[Long]("cont_bp") >= row.getAs[Long]("jac_bp"))
  }

  test("d23: one shared 16-token run is flagged (misaligned copies) while d4's Jaccard misses the pair") {
    import spark.implicits._
    // two ~90-token docs with DISJOINT vocabularies sharing ONE verbatim
    // 16-token run — planted at DIFFERENT positions (40 vs 37) to prove
    // the stride-1 guarantee is alignment-free; doc 3 is clean.
    val run = (1 to 16).map(i => s"shared$i").mkString(" ")
    val a = ((1 to 40).map(i => s"alpha$i") ++ Seq(run) ++
      (41 to 74).map(i => s"alpha$i")).mkString(" ")
    val b = ((1 to 37).map(i => s"beta$i") ++ Seq(run) ++
      (38 to 74).map(i => s"beta$i")).mkString(" ")
    val c = (1 to 90).map(i => s"gamma$i").mkString(" ")
    // two docs BELOW the window width — including an identical pair —
    // must each still emit a (0, 0, 0) report row, never vanish and
    // never flag each other (the sentinel fp is per-doc unique)
    val short = "tiny doc under sixteen tokens"
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, short), (5L, short))
      .toDF("doc_id", "text")
    val rep = Dedup.substringDupReport(docs, "doc_id", "text", w = 16, stride = 1)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_win"), r.getAs[Long]("n_dup_win")))).toMap
    // exactly the run's single fully-contained window is duplicated in each
    assert(rep(1L)._2 == 1 && rep(2L)._2 == 1, s"shared run not flagged: $rep")
    assert(rep(3L)._2 == 0, s"clean doc falsely flagged: $rep")
    assert(rep(4L) == ((0L, 0L)) && rep(5L) == ((0L, 0L)),
      s"short docs must report zero windows, not vanish: $rep")
    assert(rep.values.forall { case (nw, nd) => nd <= nw })
    // the SAME pair scores far below d4's 0.3 Jaccard threshold: the run
    // is 16 of ~180 distinct 3-gram shingles — document-level dedup
    // (correctly, by its contract) cannot see it
    val jac = Dedup.jaccardVerify(Seq((1L, 2L)).toDF("id_a", "id_b"), docs,
      "doc_id", "text", threshold = 0.3).collect()
    assert(jac.isEmpty, s"d4 should not fire on a 16/180-shingle overlap: ${jac.toSeq}")
  }

  test("d24: removal keeps the shared run in exactly one doc; all other text is intact") {
    import spark.implicits._
    // d23's misaligned-copy fixture: the 16-token run sits at position
    // 41 in doc 1 and 38 in doc 2; doc 3 is clean; docs 4/5 are an
    // identical SHORT pair (under w — must pass through whole)
    val run = (1 to 16).map(i => s"shared$i")
    val aToks = (1 to 40).map(i => s"alpha$i") ++ run ++ (41 to 74).map(i => s"alpha$i")
    val bToks = (1 to 37).map(i => s"beta$i") ++ run ++ (38 to 74).map(i => s"beta$i")
    val cToks = (1 to 90).map(i => s"gamma$i")
    val short = "tiny doc under sixteen tokens"
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")),
      (3L, cToks.mkString(" ")), (4L, short), (5L, short))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupApply(docs, "doc_id", "text", w = 16, stride = 1)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_hash")))).toMap
    def h(s: String) = {
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    // doc 1 is the keeper (min doc_id over the shared fp): untouched
    assert(out(1L) == ((90, 0, h(aToks.mkString(" ")))), s"keeper altered: $out")
    // doc 2 loses EXACTLY the 16 run tokens; the rest reassembles intact
    val bClean = (1 to 37).map(i => s"beta$i") ++ (38 to 74).map(i => s"beta$i")
    assert(out(2L) == ((90, 16, h(bClean.mkString(" ")))),
      s"non-keeper must lose exactly the covered run: $out")
    // clean and short docs pass through byte-identical
    assert(out(3L) == ((90, 0, h(cToks.mkString(" ")))))
    assert(out(4L) == ((5, 0, h(short))) && out(5L) == ((5, 0, h(short))))
    // an exact duplicate of a whole doc empties entirely (the keeper
    // holds the only copy)
    val dup = Seq((1L, aToks.mkString(" ")), (2L, aToks.mkString(" ")))
      .toDF("doc_id", "text")
    val d2 = Dedup.substringDedupApply(dup, "doc_id", "text", 16, 1)
      .filter($"doc_id" === 2L).collect().head
    assert(d2.getAs[Int]("n_removed") == 90 && d2.getAs[String]("clean_hash") == h(""),
      s"full duplicate must empty: $d2")
    // stride > 1 is REJECTED for removal (r9 Next #5): sampled windows
    // silently under-remove — two copies of a run only match when
    // aligned mod stride — so the monitoring grain belongs to d23's
    // report, never to a pass that claims the removal guarantee
    val e = intercept[IllegalArgumentException] {
      Dedup.substringDedupApply(docs, "doc_id", "text", w = 16, stride = 2)
    }
    assert(e.getMessage.contains("stride=1"), s"unexpected message: ${e.getMessage}")
  }

  test("t20: learned classifier separates planted good/bad docs on held-out data") {
    import spark.implicits._
    // good = 60 unique tokens (diverse, long); bad = one token repeated
    // 12× (repetitive, short). Train on 40, classify 10 UNSEEN docs —
    // the integer naive-Bayes weights must generalize, not memorize.
    def good(i: Int) = (i.toLong, (1 to 60).map(j => s"tok${j}w$i").mkString(" "), 1)
    def bad(i: Int) = (i.toLong, Seq.fill(12)("spam").mkString(" "), 0)
    val trainDocs = ((1 to 20).map(good) ++ (21 to 40).map(bad))
      .toDF("doc_id", "text", "label")
    val held = ((41 to 45).map(good) ++ (46 to 50).map(bad))
      .toDF("doc_id", "text", "label")
    val model = LearnedQuality.train(trainDocs, "doc_id", "text", col("label"))
    val preds = LearnedQuality.classify(held, "doc_id", "text", model)
      .join(held.select(col("doc_id"), col("label")), Seq("doc_id"))
      .collect()
    assert(preds.length == 10)
    preds.foreach { r =>
      assert(r.getAs[Int]("pred") == r.getAs[Int]("label"),
        s"misclassified held-out doc: $r")
    }
    // the weight tables stay broadcast-sized: 16 buckets + a few bins
    assert(model.bucketW.count() <= 16)
    assert(model.lenW.count() <= 8 && model.divW.count() <= 17)
  }

  test("t20: a bucket absent from training still scores by the closed-form smoothed weight") {
    import spark.implicits._
    // Scala references for the integer model math
    def nib(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      (d(0) >> 4) & 0xf
    }
    def il16(v: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      16L * e + (v * 16) / (1L << e) - 16
    }
    // training vocabulary confined to 15 of the 16 hash buckets; the
    // held-out token hashes to the one bucket NO training token reaches
    val toks = (1 to 2000).map(i => s"w$i")
    val trainToks = toks.filter(t => nib(t) != 7)
    val heldTok = toks.find(t => nib(t) == 7).get
    val good = (1 to 8).map(i =>
      (i.toLong, trainToks.slice(i * 20, i * 20 + 20).mkString(" "), 1))
    val bad = (9 to 16).map(i =>
      (i.toLong, Seq.fill(10)(trainToks(i)).mkString(" "), 0))
    val model = LearnedQuality.train((good ++ bad).toDF("doc_id", "text", "label"),
      "doc_id", "text", col("label"))
    val bw = model.bucketW.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bw.size == 16, s"bucket axis must be complete, got ${bw.keySet}")
    // n1 = 8 good docs × 20 tokens, n0 = 8 bad docs × 10 tokens
    val (n1, n0) = (160L, 80L)
    assert(bw(7) == il16(1) - il16(n1 + 1) - il16(1) + il16(n0 + 1),
      "empty bucket must carry the smoothed log-odds, not vanish")
    // a doc made ONLY of the unseen-bucket token: its score must equal
    // prior + w_len + w_div + tf·w_bucket — zero silent drops
    val scored = LearnedQuality.classify(
      Seq((100L, Seq.fill(4)(heldTok).mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", model).collect().head
    val wl = model.lenW.collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    val wd = model.divW.collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    val prior = model.prior.collect().head.getLong(0)
    // 4 tokens, 1 distinct: lbin = floor(log2 4) = 2, dbin = 16/4 = 4
    val expected = prior + wl.getOrElse(2L, 0L) + wd.getOrElse(4L, 0L) + 4L * bw(7)
    assert(scored.getAs[Long]("score") == expected,
      s"classify diverged from closed-form math: got $scored want $expected")
  }

  test("brute-force ANN: nearest neighbor of a vector is its duplicate") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.001f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
    val top = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 1).collect()
    assert(top.length == 1 && top(0).getAs[Long]("neighbor_id") == 1L)
  }

  test("token_count native expression matches regex semantics") {
    import spark.implicits._
    val r = Seq("ab12 cd  34ef-gh").toDF("text")
      .select(call_function("token_count", $"text")).head().getInt(0)
    // runs: ab, 12, cd, 34, ef, gh
    assert(r == 6)
  }

  test("poly_hash is order-sensitive and deterministic") {
    import spark.implicits._
    val df = Seq(("ab", "ba")).toDF("x", "y")
      .select(call_function("poly_hash", $"x").as("hx"),
        call_function("poly_hash", $"y").as("hy"))
    val row = df.head()
    assert(row.getLong(0) != row.getLong(1))
    val again = df.head()
    assert(row.getLong(0) == again.getLong(0))
  }

  test("connected components: chains, cliques, and isolated pairs resolve to min ids") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 (diameter 5), clique {10,11,12}, pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val r = graft.operators.Graph.connectedComponents(pairs)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert((1L to 6L).forall(r(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(r(_) == 10L))
    assert(r(20L) == 20L && r(21L) == 20L)
  }

  test("d12: bloom membership has zero false negatives (bloom_hit ⊇ exact_hit)") {
    val rows = SparkEntry.queries("d12_bloom_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the defining bloom-filter guarantee: an exact member NEVER probes negative
    assert(!rows.exists(r => r.getAs[Int]("exact_hit") == 1 && r.getAs[Int]("bloom_hit") == 0))
    // and every flagged FP is bloom-positive / exact-negative by construction
    assert(rows.filter(_.getAs[Int]("is_fp") == 1)
      .forall(r => r.getAs[Int]("bloom_hit") == 1 && r.getAs[Int]("exact_hit") == 0))
  }

  test("t10: boilerplate removal conserves segments and empties only fully-removed docs") {
    val rows = SparkEntry.queries("t10_line_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val n = r.getAs[Int]("n_segs"); val rm = r.getAs[Int]("n_removed")
      rm >= 0 && rm <= n && (r.getAs[Int]("clean_len") == 0) == (rm == n)
    })
    // the threshold actually bites on the corpus: some doc loses a segment
    assert(rows.exists(_.getAs[Int]("n_removed") > 0))
  }

  test("s8: every query carries exactly k(k-1)/2 in-row pairs") {
    val rows = SparkEntry.queries("s8_topk_diversity")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("n_pairs") == 10))
  }

  test("m35: HLL sketch stays within its 64-register budget and estimates > 0") {
    val r = SparkEntry.queries("m35_hll_distinct")(spark, sf).head()
    assert(r.getAs[Int]("n_hit") <= 64 && r.getAs[Int]("n_hit") > 0)
    assert(r.getAs[Long]("est_distinct") > 0)
  }

  test("d13: canonicalization folds all variant spellings into one group per target") {
    val rows = SparkEntry.queries("d13_url_dedup")(spark, sf).collect()
    // every canonical group holds ≥1 URLs and raw variants never exceed 3 spellings
    assert(rows.nonEmpty && rows.forall { r =>
      val v = r.getAs[Long]("n_raw_variants")
      v >= 1 && v <= 3 && r.getAs[Long]("n_urls") >= v
    })
  }

  test("multimodal decode keeps the partition-parallel map shape") {
    val payloads = Multimodal.synthesize(Tables.documents(spark, sf), "n_chars")(
      Multimodal.synthImage)
    val out = Multimodal.decode(payloads)(Multimodal.decodeHeader)
    assert(out.count() == 500)
    // doc 0: even id → PNG; dims follow the synthesis formula; byte_len
    // = 57 + n_chars%100 (doc 0 has 128 chars → pad 28)
    val one = out.filter(col("doc_id") === 0).head()
    assert(one.byte_len == 85 && one.width == 16 && one.height == 16 &&
      one.format == "png")
  }

  test("t21: BPE merges match the hand-computed Sennrich fixture") {
    import spark.implicits._
    // vocab: low×5 lower×2 newest×6 — the classic Sennrich example.
    // iter1: (w,e)=8 wins → "we", corpus syms 61-8=53
    // iter2: (l,o)=7 wins → "lo", 53-7=46
    // iter3: four pairs tie at 6; tie-break (cnt desc, l, r) picks
    //        (e,we) over (n,e)/(s,t)/(we,s) → "ewe", 46-6=40
    val docs = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest")).mkString(" ")
    ).toDF("text")
    val out = graft.operators.Bpe.learnMerges(docs, "text", n = 3)
      .collect().map(r => (r.getAs[Int]("iter"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_cnt"), r.getAs[Long]("syms_after")))
    assert(out.toSeq == Seq(
      (1, "we", 8L, 53L), (2, "lo", 7L, 46L), (3, "ewe", 6L, 40L)))
  }

  test("t22: apply conserves the learn half's accounting — Σ n_bpe equals iter-3 syms_after") {
    // the train→apply contract: segmenting the corpus with the learned
    // merges must land on exactly the compression curve training
    // reported (same greedy reseg, same corpus)
    val learned = SparkEntry.queries("t21_bpe_learn")(spark, sf)
      .filter(col("iter") === 3).head().getAs[Long]("syms_after")
    val applied = SparkEntry.queries("t22_bpe_apply")(spark, sf)
      .agg(sum(col("n_bpe"))).head().getLong(0)
    assert(applied == learned, s"apply total $applied != learn curve $learned")
  }

  test("t23: planted octave counts land on the exact integer slope") {
    import spark.implicits._
    // counts 1,1,1,1 / 2,2 / 4 → octaves 0,1,2 with n_types 4,2,1 →
    // y = floor_log2(n_types) = 2,1,0: a perfect slope of −1 per octave
    val dir = TempDirs("graft_t23").toString
    Seq((1L, "w1 w2 w3 w4 x1 x1 x2 x2 y y y y"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t23_zipf_octaves")(spark, dir)
      .collect().map(r => r.getAs[Int]("octave") ->
        (r.getAs[Long]("n_types"), r.getAs[Long]("mass"),
          r.getAs[Long]("zipf_slope_mi"))).toMap
    assert(rows == Map(
      0 -> ((4L, 4L, -1000000L)),
      1 -> ((2L, 4L, -1000000L)),
      2 -> ((1L, 4L, -1000000L))), rows.toString)
  }

  test("t24: words charge the quartile of their first appearance; cumulatives are exact") {
    import spark.implicits._
    // 4 docs → quartile = doc_id; 'a' first in q0, 'c' in q1, 'd' in
    // q2, 'e' in q3 — re-appearances never re-count as new types
    val dir = TempDirs("graft_t24").toString
    Seq((0L, "a b"), (1L, "a c"), (2L, "c d"), (3L, "a d e"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t24_heaps_growth")(spark, dir)
      .collect().map(r => (r.getAs[Int]("q"), r.getAs[Long]("new_types"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_vocab"),
        r.getAs[Long]("cum_tokens")))
    assert(rows.toSeq == Seq(
      (0, 2L, 2L, 2L, 2L), (1, 1L, 2L, 3L, 4L),
      (2, 1L, 2L, 4L, 6L), (3, 1L, 3L, 5L, 9L)), rows.toSeq.toString)
  }

  test("t26: multi-class NB separates planted languages on held-out docs") {
    import spark.implicits._
    val de = "der die und ist nicht das ein der und ist"
    val fr = "le la les et est un une le et est"
    val en = "the and of to is in it the and of"
    val docs = (0L until 30L).map { i =>
      (i % 3) match {
        case 0 => (i, de, "de")
        case 1 => (i, fr, "fr")
        case _ => (i, en, "en")
      }
    }.toDF("doc_id", "text", "lbl")
    val model = LearnedQuality.trainLang(
      docs.filter(pmod(col("doc_id"), lit(5)) < 4), "doc_id", "text", "lbl")
    val eval = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val preds = LearnedQuality.classifyLang(eval, "doc_id", "text", model)
      .join(eval.select(col("doc_id"), col("lbl")), Seq("doc_id")).collect()
    // eval holds docs of all three classes (ids 4,9,14,19,24,29) and
    // every one must classify from char-trigram buckets alone
    assert(preds.length == 6)
    assert(preds.forall(r => r.getAs[String]("pred") == r.getAs[String]("lbl")),
      preds.mkString(","))
  }

  /** Sequential Sennrich BPE in plain Scala: (merged, pair_cnt,
    * syms_after) per merge — overlapping pair counts weighted by word
    * count, argmax by (count desc, l, r), greedy left-to-right reseg. */
  private def sennrich(texts: Seq[String], n: Int): Seq[(String, Long, Long)] = {
    var segs = texts.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).toSeq.map { case (w, ws) => (w.map(_.toString).toVector, ws.size.toLong) }
    val out = Seq.newBuilder[(String, Long, Long)]
    var it = 0
    var exhausted = false
    while (it < n && !exhausted) {
      val pairs = segs.flatMap { case (sy, c) => sy.zip(sy.tail).map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (pairs.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = pairs.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        segs = segs.map { case (sy, c) =>
          (sy.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r) else acc :+ x
          }, c)
        }
        out += ((l + r, cnt, segs.map { case (sy, c) => sy.size * c }.sum))
        it += 1
      }
    }
    out.result()
  }

  test("t27: batchMax=1 reduces batched BPE to exactly sequential Sennrich merges") {
    import spark.implicits._
    // with a batch of one, every round must pick the single argmax
    // pair: the batched learner (and learnMerges, which runs it at
    // batchMax=1) must equal plain sequential Sennrich — on the t21
    // fixture, and on a random three-letter corpus dense in ties and
    // overlapping pairs, run past exhaustion
    val rng = new scala.util.Random(27)
    val random = Seq.fill(12)(Seq.fill(1 + rng.nextInt(6))(
      Seq.fill(1 + rng.nextInt(6))("abc"(rng.nextInt(3))).mkString).mkString(" "))
    val fixtures = Seq(
      Seq((Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest")).mkString(" ")) -> 3,
      random -> 8,
      Seq("ab ab a") -> 3)
    for ((texts, n) <- fixtures) {
      val docs = texts.toDF("text")
      val want = sennrich(texts, n)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[String]("merged"), r.getAs[Long]("pair_cnt"), r.getAs[Long]("syms_after"))).toSeq
      val batOut = rows(graft.operators.Bpe
        .learnMergesBatched(docs, "text", rounds = n, batchMax = 1))
      assert(batOut == want, s"batched@1 $batOut != sequential $want")
      assert(rows(graft.operators.Bpe.learnMerges(docs, "text", n)) == want)
    }
  }

  test("t27: >=64 merges in <=8 rounds, conflict-free batches, monotone compression") {
    val rows = SparkEntry.queries("t27_bpe_batch")(spark, sf).collect()
    assert(rows.length >= 64, s"only ${rows.length} merges learned")
    val rounds = rows.map(_.getAs[Int]("round")).distinct
    assert(rounds.length <= 8)
    // within a round, every acceptance's {l, r, merged} is disjoint
    // from every other's — the invariant that makes one fold correct
    rows.groupBy(_.getAs[Int]("round")).foreach { case (rnd, rs) =>
      val symSets = rs.map(r => Set(r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged")))
      for (i <- symSets.indices; j <- symSets.indices if i < j)
        assert((symSets(i) & symSets(j)).isEmpty,
          s"round $rnd: picks $i and $j share symbols")
    }
    // the compression curve strictly decreases round over round
    val curve = rows.groupBy(_.getAs[Int]("round")).toSeq.sortBy(_._1)
      .map(_._2.head.getAs[Long]("syms_after"))
    assert(curve.zip(curve.tail).forall { case (a, b) => b < a }, curve)
  }

  test("t28: bigram LM separates natural from word-reversed text; unseen pairs stay finite") {
    import spark.implicits._
    // train corpus with rigid bigram structure ("a b c d e" repeated);
    // a reversed doc keeps every unigram but no trained bigram
    val sent = "a b c d e"
    val train = (0L until 20L).map(i => (i, sent)).toDF("doc_id", "text")
      .withColumn("ws", expr("filter(split(trim(text), '\\\\s+'), x -> x <> '')"))
    val lm = LearnedQuality.trainBigramLm(train, "doc_id", "ws")
    val eval = Seq(
      (100L, "a b c d e"),        // natural: every bigram seen 20x
      (101L, "e d c b a"),        // reversed: zero seen bigrams
      (102L, "a b z q w")         // unseen words: cp=0 path must stay finite
    ).toDF("doc_id", "text")
      .withColumn("ws", expr("filter(split(trim(text), '\\\\s+'), x -> x <> '')"))
    val rows = LearnedQuality.bigramNll(eval, "doc_id", "ws", lm)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("nll_il16"))).toMap
    assert(rows(100L)._1 == 4L && rows(101L)._1 == 4L && rows(102L)._1 == 4L)
    // natural scores strictly lower NLL than reversed; both finite
    assert(rows(100L)._2 < rows(101L)._2,
      s"natural ${rows(100L)._2} !< reversed ${rows(101L)._2}")
    assert(rows(102L)._2 > rows(100L)._2,
      "unseen-word docs score above natural text — and stay finite")
    // closed-form check on the natural doc: V=5, each bigram has
    // c=20, cp=20 → lp-term = il16(25) − il16(21) per bigram
    def il16(v: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      16 * e + (v * 16) / (1L << e) - 16
    }
    assert(rows(100L)._2 == 4L * (il16(25) - il16(21)), rows(100L).toString)
  }

  test("t21: overlapping pairs each count; re-segmentation is greedy left-to-right") {
    import spark.implicits._
    // "aaaa" holds (a,a) three times, "aaa" twice → pair_cnt 5 (Sennrich
    // counting); greedy reseg: aaaa → [aa][aa] (never [aa][a][a]),
    // aaa → [aa][a] → corpus syms 2+2=4
    val out = graft.operators.Bpe.learnMerges(
      Seq("aaaa aaa").toDF("text"), "text", n = 1).head()
    assert(out.getAs[String]("merged") == "aa")
    assert(out.getAs[Long]("pair_cnt") == 5L)
    assert(out.getAs[Long]("syms_after") == 4L)
  }

  test("p27: ledger flags reconcile to the standalone gate keys; first-fail partitions the corpus") {
    import org.apache.spark.sql.Row
    val led = SparkEntry.queries("p27_curation_ledger")(spark, sf).collect()
    val n = led.length
    def cnt(f: Row => Boolean) = led.count(f)
    // every flag column equals the standalone gate key's own verdict
    val d7Survivors = SparkEntry.queries("d7_dedup_apply")(spark, sf).count()
    assert(cnt(_.getAs[Int]("f_near_dup") == 1) == n - d7Survivors)
    val d23Hits = SparkEntry.queries("d23_substring_dedup")(spark, sf)
      .filter(col("dup_bp") >= 2500).count()
    assert(cnt(_.getAs[Int]("f_substring") == 1) == d23Hits)
    val t2 = SparkEntry.queries("t2_quality")(spark, sf).collect()
    assert(cnt(_.getAs[Int]("f_short") == 1) ==
      t2.count(_.getAs[Int]("n_tokens") < 40))
    assert(cnt(_.getAs[Int]("f_quality") == 1) ==
      t2.count(_.getAs[Int]("quality") < 40))
    val t14Hits = SparkEntry.queries("t14_repetition")(spark, sf)
      .filter(col("dup_tri_bp") > 0).count()
    assert(cnt(_.getAs[Int]("f_repeat") == 1) == t14Hits)
    // the removal funnel: first_fail PARTITIONS the corpus (every doc
    // charged to exactly one rule or to 'none' == keep)
    val byRule = led.groupBy(_.getAs[String]("first_fail"))
      .view.mapValues(_.length).toMap
    assert(byRule.values.sum == n)
    assert(byRule.getOrElse("none", 0) == cnt(_.getAs[Int]("keep") == 1))
    // near_dup is the first rule, so its funnel row equals its flag count
    assert(byRule.getOrElse("near_dup", 0) == cnt(_.getAs[Int]("f_near_dup") == 1))
    // the fixture corpus exercises survivors plus several live rules
    assert(byRule.getOrElse("none", 0) > 0 && byRule.size >= 3, byRule.toString)
  }

  test("p28: MW shifts weight toward above-mixture-quality sources; shares sum to ~10000") {
    val out = SparkEntry.queries("p28_mixture_reweight")(spark, sf).collect()
    assert(out.length > 1)
    val best = out.maxBy(_.getAs[Long]("qs"))
    val worst = out.minBy(_.getAs[Long]("qs"))
    // the extreme domains sit strictly above/below the weighted mean in
    // every round, so three multiplicative updates move them apart
    assert(best.getAs[Long]("w_final") > 10000L, best.toString)
    assert(worst.getAs[Long]("w_final") < 10000L, worst.toString)
    // floor-divided shares: sum within |domains| of exactly 10000
    val tot = out.map(_.getAs[Long]("mix_bp")).sum
    assert(tot <= 10000L && tot >= 10000L - out.length, tot.toString)
  }

  test("hammingNearDup: hot band sub-splits instead of going quadratic; cold verdicts unchanged") {
    import spark.implicits._
    def sig(w0: Long, w1: Long, w2: Long, w3: Long): (Long, Long) =
      (w0 | (w1 << 16), w2 | (w3 << 16))
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    def add(id: Long, s: (Long, Long)): Unit = rows += ((id, s._1, s._2))
    // planted COLD group: 3 sigs pairwise hamming <= 2, keeper = 0
    add(0L, sig(0x1234, 0x2345, 0x3456, 0x4567))
    add(1L, sig(0x1234, 0x2345 ^ 1, 0x3456, 0x4567))
    add(2L, sig(0x1234, 0x2345 ^ 2, 0x3456, 0x4567))
    // hot populations: 20 docs each sharing ONE band value, all other
    // words spread (37·id mod 2^16 is injective and any two distinct
    // values repeated across three words give hamming >= 3 — no pairs)
    def spread(id: Long) = (37L * id) % 65536L
    (100L until 120L).foreach(i => add(i, sig(0xAAAA, spread(i), spread(i), spread(i))))
    (200L until 220L).foreach(i => add(i, sig(spread(i), 0xDDDD, spread(i), spread(i))))
    (300L until 320L).foreach(i => add(i, sig(spread(i), spread(i), 0xCCCC, spread(i))))
    // C pair: agrees ONLY on the two HOT opposite bands (0 and 2); the
    // sub-split key of each hot band is the other — found via refinement
    add(400L, sig(0xAAAA, 0x0101, 0xCCCC, 0x0202))
    add(401L, sig(0xAAAA, 0x0101 ^ 4, 0xCCCC, 0x0202 ^ 4))
    // D pair: agrees only on ADJACENT hot bands (0 and 1); both
    // refinement keys (words 2 and 3) differ — the documented recall
    // loss at the cap
    add(500L, sig(0xAAAA, 0xDDDD, 0x0303, 0x0404))
    add(501L, sig(0xAAAA, 0xDDDD, 0x0303 ^ 8, 0x0404 ^ 8))
    val sigs = rows.toSeq.toDF("doc_id", "sig_lo", "sig_hi").localCheckpoint()

    def verdicts(cap: Int) = Dedup.hammingNearDup(sigs, "doc_id", "sig_lo",
        "sig_hi", maxHamming = 2, maxBucket = cap)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toMap
    val capped = verdicts(8)
    // cold planted group: verdicts unchanged by the cap machinery
    Seq(0L, 1L, 2L).foreach { id =>
      assert(capped(id) == ((2L, 0L, if (id == 0L) 0 else 1)), s"id=$id ${capped(id)}")
    }
    // hot populations never pair (spread words are >= 3 apart)
    assert((100L until 120L).forall(capped(_)._1 == 0L))
    // C pair survives the hot buckets via the opposite-word sub-split
    assert(capped(400L) == ((1L, 400L, 0)) && capped(401L) == ((1L, 400L, 1)), capped(400L))
    // D pair is the priced loss: adjacent hot bands, both sub-keys differ
    assert(capped(500L)._1 == 0L && capped(501L)._1 == 0L)
    // an uncapped run (cap >> any bucket) finds D — proving the loss is
    // exactly the cap trade, not a banding bug
    val uncapped = verdicts(100000)
    assert(uncapped(500L) == ((1L, 500L, 0)) && uncapped(501L) == ((1L, 500L, 1)))
    assert(uncapped(400L) == ((1L, 400L, 0)))
    Seq(0L, 1L, 2L).foreach(id => assert(uncapped(id) == capped(id)))
  }

  test("d25/d26/d27 band buckets stay under the hammingNearDup cap at every gated SF " +
      "(the capped Spark plan == uncapped DuckDB oracle exactness contract)") {
    // hammingNearDup drops pairs only from a band bucket > maxBucket
    // whose opposite-word sub-split is ALSO > maxBucket; the d25/d26/d27
    // oracles are uncapped all-band-pair joins, so exactness requires no
    // bucket at the CORRECTNESS-gated SFs (sf0.001/sf0.01) — and the
    // benched sf0.1 — to exceed the cap. This is that gate: if the
    // generator's group sizes ever grow past it, this fails before the
    // driver's hash compare does.
    val cap = 256L
    def maxBucket(sigs: org.apache.spark.sql.DataFrame): Long =
      sigs.select(col("doc_id"),
          explode(array(
            struct(lit(0).as("b"), expr("sig_lo % 65536").as("v")),
            struct(lit(1).as("b"), expr("sig_lo div 65536").as("v")),
            struct(lit(2).as("b"), expr("sig_hi % 65536").as("v")),
            struct(lit(3).as("b"), expr("sig_hi div 65536").as("v")))).as("_bv"))
        .groupBy(col("_bv.b"), col("_bv.v")).count()
        .agg(max(col("count"))).collect()(0).getLong(0)
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)
    assert(dirs.size >= 2, s"expected gated SF dirs, found $dirs")
    for (d <- dirs) {
      val docs = Tables.documents(spark, d)
      def sigs[T <: Product : scala.reflect.runtime.universe.TypeTag](
          synth: Long => Array[Byte], parse: (Long, Array[Byte]) => T) =
        Multimodal.decode(Multimodal.synthesize(docs, "doc_id")((id, _: Long) => synth(id)))(
          parse).toDF()
          .filter(col("valid")).select(col("doc_id"), col("sig_lo"), col("sig_hi"))
      val image = sigs(Multimodal.synthGray, Multimodal.decodeGrayHash)
      val audio = sigs(Multimodal.synthAudioFpWav, Multimodal.decodeAudioFpWav)
      val orient = sigs(Multimodal.synthGrayOriented, Multimodal.decodeOrientedHash)
      for ((name, sigs) <- Seq("d25" -> image, "d26" -> audio, "d27" -> orient)) {
        val m = maxBucket(sigs)
        assert(m <= cap,
          s"$name at $d: max band-bucket population $m exceeds the " +
            s"hammingNearDup cap $cap — the capped plan can now drop pairs " +
            "the uncapped oracle reports; mirror the cap in the oracle or " +
            "raise maxBucket")
      }
    }
  }

  test("iterative keys run no more Spark jobs than their ratchet") {
    // the driver-loop keys pay jobs per iteration (eager pins and
    // convergence probes): one warm run, then one counted noop run each
    // at sf0.001. The bounds are the counts measured when the loops were
    // folded to one per algorithm; lower one when a change saves jobs.
    val ratchet = Map(
      "t18_colloc_kcore" -> 12, "d9_dedup_groups" -> 21,
      "s10_graph_rank" -> 29, "t29_textrank_keywords" -> 15,
      "t21_bpe_learn" -> 14, "t22_bpe_apply" -> 15,
      "t27_bpe_batch" -> 31, "t32_detok_roundtrip" -> 16)
    val jobs = ratchet.keys.toSeq.sorted.map { key =>
      val fn = SparkEntry.queries(key)
      Harness.runNoop(spark, sf, fn)
      key -> SparkJobs.during(spark)(Harness.runNoop(spark, sf, fn))
    }.toMap
    assert(jobs.forall { case (k, n) => n <= ratchet(k) }, s"jobs per key: $jobs")
  }
}
