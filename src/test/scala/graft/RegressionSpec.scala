package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.expressions.TextExprUtil
import graft.multimodal.Multimodal
import graft.sources.LogLines

/** Edge-case regression coverage for defects the sf corpora don't
  * exercise: empty documents, sparse pivot combinations, quote-bearing
  * payload values, and non-BMP text.
  */
class RegressionSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()

  test("Tables.events normalizes every on-disk ts form to identical µs timestamps") {
    import spark.implicits._
    // the generator has flipped events.ts between TIMESTAMP(NANOS)
    // (arriving as Long under nanosAsLong) and TIMESTAMP(MICROS, NTZ)
    // across rounds; both forms must load to the same µs TimestampType
    // values or every unix_micros/watermark consumer silently breaks.
    // NOTE: the "ns" leg below writes a plain INT64 column — Spark
    // cannot author a TIMESTAMP(NANOS) parquet file — so it exercises
    // only the LongType branch of Tables.events (what nanosAsLong
    // surfaces), not the parquet nanos logical-type read path itself;
    // a regression in Spark's nanos footer handling would not be
    // caught here
    val us = 1704110400000000L // 2024-01-01 12:00:00 UTC
    val dir = TempDirs("graft_tsforms")
    Seq((1L, us * 1000L + 999L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/ns/events.parquet") // Long column = the ns form
    Seq((1L, us, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", expr("timestamp_micros(ts_us)").cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.parquet(s"$dir/ntz/events.parquet")
    val fromNs = graft.sources.Tables.events(spark, s"$dir/ns")
    val fromNtz = graft.sources.Tables.events(spark, s"$dir/ntz")
    assert(fromNs.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(fromNtz.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val a = fromNs.select(unix_micros($"ts")).head().getLong(0)
    val b = fromNtz.select(unix_micros($"ts")).head().getLong(0)
    assert(a == us, s"ns form must floor-truncate to µs: $a")
    assert(b == us, s"NTZ form must be identity on µs under UTC: $b")
  }

  test("sampleFrames emits no frames for an empty document") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "abcdef")).toDF("doc_id", "text")
    val r = Multimodal.sampleFrames(docs, stride = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(!r.exists(_._1 == 1L), "empty doc must produce zero frames")
    // "abcdef": frames at chars 1 and 5 → 'a' (97), 'e' (101)
    assert(r.filter(_._1 == 2L).sortBy(_._2) == Seq((2L, 0, 97), (2L, 1, 101)))
  }

  test("LSH bucket cap drops degenerate band buckets instead of going quadratic") {
    import spark.implicits._
    // 40 identical docs share every band key; with maxBucket=10 the
    // degenerate bucket is dropped (0 pairs); distinct near-dup pairs
    // below the cap still surface
    val boiler = (1L to 40L).map(i => (i, "the same boilerplate text repeated here again and again"))
    val pair = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta iota"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")
    val capped = graft.operators.Dedup.lshCandidates(docs, "doc_id", "text",
      bands = 4, rows = 2, maxBucket = 10).collect()
    assert(capped.forall(r => r.getLong(0) >= 100L),
      "boilerplate bucket must be dropped")
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).contains((100L, 101L)))
    // without the cap the boilerplate bucket contributes 40*39/2 pairs
    val uncapped = graft.operators.Dedup.lshCandidates(docs, "doc_id", "text",
      bands = 4, rows = 2, maxBucket = 1000).count()
    assert(uncapped >= 40L * 39 / 2)
  }

  test("cosine dup-pair block cap drops degenerate label blocks instead of going quadratic") {
    import spark.implicits._
    // 20 near-identical vectors share one catch-all label; with
    // maxBlock=10 that block is dropped (0 pairs from it) while a true
    // near-dup pair in a small label still surfaces
    val big = (1L to 20L).map(i => (i, "catchall", Array(1.0f, 0.0f, 0.1f * (i % 2))))
    val small = Seq((100L, "tight", Array(0.6f, 0.8f, 0.0f)),
      (101L, "tight", Array(0.6f, 0.8f, 0.01f)))
    val vecs = (big ++ small).toDF("vec_id", "label", "embedding")
    val capped = graft.operators.Similarity.cosineDupPairs(vecs, "vec_id",
      "embedding", "label", threshold = 0.9, maxBlock = 10).collect()
    assert(capped.forall(_.getLong(0) >= 100L), "catch-all block must be dropped")
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).contains((100L, 101L)))
    // without the cap the catch-all block contributes ~20*19/2 pairs
    val uncapped = graft.operators.Similarity.cosineDupPairs(vecs, "vec_id",
      "embedding", "label", threshold = 0.9, maxBlock = 1000).count()
    assert(uncapped >= 20L * 19 / 2)
  }

  test("cosineDupPairs sub-splits a sign-separable over-cap block — its true pairs still surface") {
    import spark.implicits._
    // 24 vectors share one label (> maxBlock=10) in 4 sign groups of 6
    // (dims 0-1 sign patterns). Old drop-semantics returned ZERO pairs
    // from this block; the sub-split refines it on 4 sign bits and each
    // 6-vector sub-block pairs normally — scale behavior for the
    // catch-all label a 100× corpus always produces.
    val big = for (g <- 0 until 4; j <- 0 until 6) yield {
      val s0 = if ((g & 1) == 0) 1.0f else -1.0f
      val s1 = if ((g & 2) == 0) 1.0f else -1.0f
      ((g * 10 + j + 1).toLong, "catchall", Array(s0, s1, 1.0f, 1.0f + 0.001f * j))
    }
    val vecs = big.toDF("vec_id", "label", "embedding")
    val pairs = graft.operators.Similarity.cosineDupPairs(vecs, "vec_id",
      "embedding", "label", threshold = 0.9, maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)), s"near-dup pair inside the over-cap block must survive: ${pairs.toSeq}")
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => (a - 1) / 10 == (b - 1) / 10 },
      s"pairs must stay within one sign sub-block: ${pairs.toSeq}")
    // each of the 4 sub-blocks contributes its 6*5/2 near-identical pairs
    assert(pairs.length == 4 * 15, s"expected 60 within-group pairs, got ${pairs.length}")
  }

  test("subSplitBlocks refines an over-cap bucket instead of dropping it; identical-sign piles still drop") {
    import spark.implicits._
    // 300 vectors in ONE 4-bit base bucket (cap 256): dims 0-3 positive,
    // dim 4's sign splits them 150/150 — the s9 scale scenario where
    // drop-semantics returned an empty kNN graph
    val vecs = (0 until 300).map { i =>
      val d4 = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(1.0f, 1.0f, 1.0f, 1.0f, d4, 1.0f, 1.0f, 1.0f + 0.001f * i))
    }.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.subSplitBlocks(vecs, "embedding",
      graft.operators.Similarity.signBucket("embedding", 4), cap = 256, bits1 = 8, bits2 = 12)
      .select(col("vec_id"), col("_lvl"), col("_sub"), col("_bn")).collect()
    assert(out.length == 300, "no vector may drop when sign bits separate the bucket")
    assert(out.forall(_.getInt(1) == 1), "refinement must stop at the first under-cap level")
    assert(out.map(_.getInt(2)).distinct.length == 2, "dim-4 sign must yield two sub-blocks")
    assert(out.forall(_.getLong(3) == 150L))
    // the irreducible case: identical sign patterns at every width → drop
    val pile = (0 until 300).map(i => (i.toLong, Array.fill(8)(1.0f + 0.001f * i)))
      .toDF("vec_id", "embedding")
    val dropped = graft.operators.Similarity.subSplitBlocks(pile, "embedding",
      graft.operators.Similarity.signBucket("embedding", 4), cap = 256, bits1 = 8, bits2 = 12)
    assert(dropped.count() == 0, "an exact-dup sign pile cannot sub-split and must drop")
  }

  test("incremental LSH never emits index-index pairs; new-index dups still surface") {
    import spark.implicits._
    // ids 1,2: identical INDEXED docs (a true near-dup pair that a full
    // dedup would find — the increment must NOT re-find it); id 4 is
    // NEW (≡4 mod 5) and near-identical to them; id 9 is NEW and
    // unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (9L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.lshCandidatesIncremental(
        docs, "doc_id", "text", bands = 4, rows = 2, v => s"$v % 5 = 4")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((1L, 2L)), "index-index pair must never emit")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)),
      s"new doc must pair with its index near-dups, got $pairs")
    assert(!pairs.exists { case (a, b) => a == 9L || b == 9L },
      "unrelated new doc must produce no candidates")
  }

  test("HLL max-merge of segment sketches IS the sketch of the union — exactly") {
    import spark.implicits._
    import graft.functions.HllSketch
    // segments overlap: A = 1..300, B = 200..500 (union 1..500); the
    // vectors come from registerVectors, the code m45 runs
    val rows = ((1 to 300).map(i => ("A", i)) ++ (200 to 500).map(i => ("B", i)))
      .toDF("seg", "key")
    def vectorsOf(df: org.apache.spark.sql.DataFrame) =
      HllSketch.registerVectors(HllSketch.withIndexRank(df, col("key")), "seg")
        .collect().sortBy(_.getString(0))
    val Seq(a, b) = vectorsOf(rows).toSeq
    val merged = a.getSeq[Int](1).zip(b.getSeq[Int](1)).map { case (x, y) => math.max(x, y) }
    val sUnion = merged.map(r => 1L << (50 - r)).sum
    val estUnion = 2904064L * 1099511627776L / (1000L * (sUnion / 1024))
    // direct sketch over the distinct union of keys
    val direct = vectorsOf((1 to 500).map(i => ("U", i)).toDF("seg", "key")).head
    assert(merged == direct.getSeq[Int](1), "max-merged registers != union registers")
    assert(estUnion == direct.getLong(2),
      s"max-merge estimate $estUnion != direct union sketch ${direct.getLong(2)}")
    // union estimate dominates both sides (registers only grow)
    assert(estUnion >= math.max(a.getLong(2), b.getLong(2)))
    // the wide registerAggs form (st11's) gives the same estimate
    val aggs = HllSketch.registerAggs
    val wide = HllSketch.withIndexRank(rows, col("key")).groupBy(col("seg"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("seg"), expr(HllSketch.estimateOf(HllSketch.sTotalExpr)))
      .collect().sortBy(_.getString(0)).map(_.getLong(1)).toSeq
    assert(wide == Seq(a.getLong(2), b.getLong(2)))
  }

  test("pivot fills absent (flag, status) combinations with 0, not NULL") {
    import spark.implicits._
    // 'B' never occurs with status 'O' — the q16 shape must count it as 0
    val df = Seq(("A", "F"), ("A", "O"), ("B", "F")).toDF("flag", "status")
      .groupBy($"flag").pivot("status", Seq("F", "O")).agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O"))
      .orderBy($"flag")
    val b = df.filter($"flag" === "B").head()
    assert(!b.isNullAt(2), "absent combo must not be NULL")
    assert(b.getLong(1) == 1L && b.getLong(2) == 0L)
  }

  test("jstr JSON-escapes quotes, backslashes, and control characters") {
    import spark.implicits._
    val in = "a\"b\\c\nd\te\rf"
    val out = Seq(in).toDF("v").select(LogLines.jstr($"v")).head().getString(0)
    assert(out == "\"a\\\"b\\\\c\\nd\\te\\rf\"")
    // the escaped value must survive a real JSON parse round-trip
    val back = Seq(in).toDF("v")
      .select(get_json_object(
        concat(lit("{\"k\":"), LogLines.jstr($"v"), lit("}")), "$.k"))
      .head().getString(0)
    assert(back == in)
  }

  test("phPayload with a quote-bearing device name stays valid JSON") {
    import spark.implicits._
    val payload = Seq("""node "7" \ rack""").toDF("name")
      .select(LogLines.phPayload("DATA_NODE_HEALTH",
        "deviceName" -> LogLines.jstr($"name"),
        "queueSize" -> lit(2).cast("string")).as("p"))
      .head().getString(0)
    assert(payload.startsWith("PH_SYSTEM_DATA_NODE_HEALTH="))
    val json = payload.stripPrefix("PH_SYSTEM_DATA_NODE_HEALTH=")
    val parsed = Seq(json).toDF("j")
      .select(get_json_object($"j", "$.deviceName")).head().getString(0)
    assert(parsed == """node "7" \ rack""")
  }

  test("canary: recursive-CTE connected components stays blocked on UNION support — migrate d9 when this fails") {
    // Connected components needs UNION **DISTINCT** recursion: under
    // UNION ALL, min-label propagation around a cycle re-emits the same
    // (node, label) row forever — no accumulated-set dedup exists to
    // retire it — and d9's dedup graphs are cyclic near-cliques by
    // construction, so the native path cannot terminate on them. Spark
    // 4.1 rejects UNION inside a recursive CTE. The day this assertion
    // FAILS, Spark has shipped distinct recursion: replace
    // Graph.connectedComponents' driver loop with the native recursion
    // (q40's UnionLoop path) — the query below is exactly that shape.
    import spark.implicits._
    Seq((1, 2), (2, 3)).toDF("src", "dst").createOrReplaceTempView("cc_canary_e")
    val ex = intercept[Exception] {
      spark.sql(
        """WITH RECURSIVE cc(id, l) AS (
          |  SELECT src, src FROM cc_canary_e
          |  UNION
          |  SELECT e.dst, c.l FROM cc c JOIN cc_canary_e e ON e.src = c.id
          |  WHERE c.l < e.dst)
          |SELECT id, min(l) AS component FROM cc GROUP BY id""".stripMargin).collect()
    }
    assert(ex.getMessage.contains("UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"), ex.getMessage)
  }

  test("canary: recursive-CTE PageRank stays blocked on aggregate-over-recursion — migrate s10 when this fails") {
    // s10's per-level contribution sum is an aggregate OVER the
    // recursive reference (each level groups the previous level's
    // contributions by target node) — the SQL standard prohibits it and
    // Spark 4.1 enforces the prohibition, so s10's driver-composed
    // 3-iteration plan is the idiomatic form TODAY (r5 verdict item
    // re-probed, not assumed). The day this FAILS, Spark allows
    // aggregates in the recursive term: re-express s10's loop as
    // WITH RECURSIVE over (edges ⋈ prev-level ranks → group by target).
    import spark.implicits._
    Seq((1, 2, 100L)).toDF("src", "dst", "r").createOrReplaceTempView("pr_canary_e")
    val ex = intercept[Exception] {
      spark.sql(
        """WITH RECURSIVE pr(id, r, it) AS (
          |  SELECT src, r, 0 FROM pr_canary_e
          |  UNION ALL
          |  SELECT p.id, s.tot, p.it + 1
          |  FROM pr p JOIN (SELECT it AS it2, sum(r) AS tot FROM pr GROUP BY it) s
          |    ON p.it = s.it2
          |  WHERE p.it < 2)
          |SELECT * FROM pr WHERE it = 2""".stripMargin).collect()
    }
    assert(ex.getMessage.contains("INVALID_RECURSIVE_REFERENCE"), ex.getMessage)
  }

  test("empty-input resilience: st14 with zero error events and p15 on an empty corpus return empty, not errors") {
    // the 100-TB failure mode: a healthy day has no errors, a fresh
    // table has no rows — operators must degrade to empty output, not
    // throw (aggregate() HOF on a never-built array, window over zero
    // rows, a split draw on nothing)
    import spark.implicits._
    val base = TempDirs("graft_empty")
    // events with NO error rows (st14 filters to errors first)
    Seq((1L, 1706000000000000L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", expr("timestamp_micros(ts_us)").cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.parquet(s"$base/noerr/events.parquet")
    assert(SparkEntry.queries("st14_alert_cooldown")(spark, s"$base/noerr").count() == 0)
    // documents with zero rows
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").schema)
      .write.parquet(s"$base/empty/documents.parquet")
    assert(SparkEntry.queries("p15_pipeline_e2e")(spark, s"$base/empty").count() == 0)
    assert(SparkEntry.queries("p14_compaction_plan")(spark, s"$base/empty").count() == 0)
  }

  test("canary: m5/m20/t9 output order is PHYSICAL (pre-parse sort, no top Sort node) — re-add ordering if this fails") {
    // r15 moved these keys to sort-raw-then-parse: the declared output
    // order rides "Project preserves Sort order" with no top-level Sort
    // to re-establish it (a trailing orderBy would let EliminateSorts
    // drop the inner sort and push the parse back below the exchange).
    // A future Spark rule that reorders projection output would break
    // the oracle's hash compare invisibly — this canary pins the
    // physical order at sf0.001.
    val dir = "/root/testdata/sf0.001"
    for ((key, ord) <- Seq("m5_kv_parse" -> "event_id",
        "m20_cons_parse" -> "event_id", "t9_pii_redact" -> "doc_id")) {
      val got = SparkEntry.queries(key)(spark, dir)
        .select(col(ord)).collect().map(_.getLong(0)).toSeq
      assert(got == got.sorted,
        s"$key output no longer arrives ordered by $ord — physical order broke")
    }
  }

  test("bucketedGlobalRankBy contract: NULL buckets keep rows with NULL rank (inner-join form dropped them)") {
    import spark.implicits._
    import graft.operators.Relational
    // The r15 left-join rewrite is output-identical to the old inner
    // join ONLY while the bucket expression is non-null (all four
    // callers derive non-null buckets: morton over pmod, md5 prefixes).
    // This pins the divergent null behavior so a future nullable-bucket
    // caller hits a failing test instead of a silent semantics change.
    val df = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "k")
    val ranked = Relational.bucketedGlobalRankBy(df,
      substring(col("k"), 1, 1), Seq(col("k")), Nil, "rk")
    val rows = ranked.select(col("id"), col("rk")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(rows(3L) == -1L, "null-bucket row must surface with NULL rank under the left join")
    // NOTE the second-order violation this pins: the null GROUP also
    // counts into the offset cumsum (nulls-first window order), so the
    // non-null ranks start at 1, not 0 — under the old inner join the
    // null ROW was dropped but its offset contribution remained, i.e.
    // BOTH forms mis-rank when a null bucket exists. Non-null buckets
    // are the contract; this test documents exactly how it degrades.
    assert(Set(rows(1L), rows(2L)) == Set(1L, 2L),
      "offset shift under a null bucket changed — re-audit the contract")
  }

  test("polyHash iterates code points, matching SQL character indexing") {
    val s = "a😀b" // a😀b — 3 code points, 4 UTF-16 units
    val cps = s.codePoints().toArray
    val expected = cps.zipWithIndex.map { case (c, i) =>
      c.toLong * ((i + 1).toLong * 2654435761L % 1000000007L)
    }.sum
    assert(TextExprUtil.polyHash(UTF8String.fromString(s)) == expected)
    // and it must NOT equal the broken UTF-16 code-unit interpretation
    val utf16 = s.zipWithIndex.map { case (c, i) =>
      c.toLong * ((i + 1).toLong * 2654435761L % 1000000007L)
    }.sum
    assert(expected != utf16)
  }
}
