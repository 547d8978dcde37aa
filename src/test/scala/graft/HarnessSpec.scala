package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The harness's own contracts: the JSON it writes parses back, the
  * compact bench line fits a bounded tail window, key selection is
  * loud, and smoke really evaluates. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  val sf = "/root/testdata/sf0.001"
  private val json = new ObjectMapper()

  test("jsonString escapes quotes, backslashes and every control char; Jackson reads it back") {
    val nasty = "a\"b\\c\nd\re\tf\u0000g\u0001h\u001fi\u007fj é"
    assert(json.readValue(Harness.jsonString(nasty), classOf[String]) == nasty)
    (0 until 0x20).foreach { c =>
      val s = s"x${c.toChar}y"
      assert(json.readValue(Harness.jsonString(s), classOf[String]) == s, s"char $c")
    }
  }

  test("oracle_sql.json parses back to exactly SparkEntry.oracleSql") {
    val back = json.readValue(Harness.oracleJson(SparkEntry.oracleSql.keySet),
      classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == SparkEntry.oracleSql)
    val one = json.readTree(Harness.oracleJson(Set("q1_pricing_summary")))
    assert(one.size == 1 && one.has("q1_pricing_summary"))
  }

  /** md5 of `oracle_sql.json` as `Harness verify` writes it for every
    * key. The oracles share hand-written SQL fragments, and a change to
    * one fragment reaches every key that interpolates it; this pin
    * catches any changed oracle byte without a Verify run. A change
    * that means to alter an oracle updates this value and says why in
    * CHANGES.md. */
  private val OracleJsonMd5 = "4e458300527724efb0708c66461b3b37"

  test("oracle_sql.json is byte-identical to the pinned oracle set") {
    val bytes = Harness.oracleJson(SparkEntry.oracleSql.keySet).getBytes("UTF-8")
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString
    assert(md5 == OracleJsonMd5,
      "an oracle's SQL changed; diff oracle_sql.json against the last commit " +
        "(tools/diff_outputs.py names the keys)")
  }

  test("the compact bench line parses and stays under 1 KB at 307 keys with every headline key") {
    val keys = SparkEntry.queries.keys.toSeq.sorted // 307 today
    def check(results: Seq[(String, Double)]): Unit = {
      val line = Harness.compactLine(results, "/data/sf0.1", 5)
      assert(line.getBytes("UTF-8").length < 1024, s"${line.length} bytes: $line")
      val node = json.readTree(line)
      assert(node.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "queries",
        "sf", "runs", "n_queries", "errors", "full"))
      assert(node.get("n_queries").asInt == keys.size)
    }
    val allOk = keys.map(k => k -> 12.345)
    check(allOk)
    assert(json.readTree(Harness.compactLine(allOk, "/data/sf0.1", 5))
      .get("queries").size == 12)
    check(keys.map(k => k -> -1.0)) // every key failed: the error list is capped
  }

  test("every headline key is registered; the skip-baselines set is the declared 15") {
    val unknown = Harness.headline.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"headline keys with no record: $unknown")
    assert(Harness.baselines == Set("s1_ann_brute", "s4_ann_quantized",
      "s5_ann_recall", "s7_ann_rerank", "s8_topk_diversity", "s11_ann_pq",
      "s17_hybrid_recall", "s20_hybrid_complement", "t17_embed_fidelity",
      "d21_lsh_recall", "d22_banding_sweep", "q37_format_roundtrip",
      "d18_incremental_dedup", "d11_minhash_accuracy", "d20_prefix_simjoin"))
  }

  test("key selection rejects an unknown key instead of running nothing") {
    val e = intercept[IllegalArgumentException] {
      Harness.select(Seq("q1_pricing_summary", "q0_no_such_key"))
    }
    assert(e.getMessage.contains("q0_no_such_key"))
    assert(Harness.select(Nil).size == SparkEntry.queries.size)
    assert(Harness.select(Seq("m1_health_snapshot", "q1_pricing_summary")).map(_._1) ==
      Seq("m1_health_snapshot", "q1_pricing_summary"))
  }

  test("smoke evaluates two keys through the noop sink and reports their rows") {
    val keys = Seq("q1_pricing_summary", "m5_kv_parse")
    val out = Harness.smoke(spark, sf, Harness.select(keys))
    assert(out.map(_._1) == keys)
    out.foreach {
      case (k, Right((rows, sec))) => assert(rows > 0 && sec > 0, k)
      case (k, Left(e)) => fail(s"$k threw", e)
    }
  }
}
