package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

/** Property coverage for the graph primitives (t15 triangles, t18
  * k-core, d9 components, s10/t29 PageRank): on random Erdős–Rényi
  * graphs the distributed implementations must equal plain Scala
  * references (brute enumeration, peeling, union-find, the integer
  * PageRank recurrence). This pins the orientation logic (the
  * (degree, name) total order, tie-breaks) and the peel cascade —
  * classes of bug a fixed planted fixture can miss.
  */
class GraphPropertySpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  private val rng = new scala.util.Random(41)

  private def randomGraph(n: Int, p: Double): Seq[(String, String)] = {
    val nodes = (0 until n).map(i => f"n$i%02d")
    for { i <- 0 until n; j <- i + 1 until n if rng.nextDouble() < p }
      yield (nodes(i), nodes(j))
  }

  private def bruteTriangles(edges: Seq[(String, String)]): (Long, Long, Long) = {
    val es = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def adj(a: String, b: String) =
      es.contains((a, b)) || es.contains((b, a))
    val tris = (for {
      i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
      if adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(k)) && adj(nodes(i), nodes(k))
    } yield 1).size.toLong
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map(_._2.size.toLong)
    (tris, deg.map(d => d * (d - 1) / 2).sum, deg.size.toLong)
  }

  private def bruteKCore(edges: Seq[(String, String)], k: Int): Map[String, Long] = {
    var es = edges.toSet
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (w, xs) => w -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val ne = es.filter(e => keep(e._1) && keep(e._2))
      changed = ne != es; es = ne
    }
    es.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
  }

  /** Component of each id as its minimum member, by union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** (out_deg, rank in millionths) per node after three rounds of
    * r = 150000 + 85·Σ(r div outdeg) div 100, from r₀ = 10⁶. */
  private def brutePageRank(edges: Seq[(String, String)]): Map[String, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupMapReduce(_._2)(e => r(e._1) / outdeg(e._1))(_ + _)
      r = nodes.map(v => v -> (150000L + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    nodes.map(v => v -> ((outdeg.getOrElse(v, 0L), r(v)))).toMap
  }

  test("triangleStats equals brute enumeration on 10 random graphs") {
    import spark.implicits._
    for (trial <- 1 to 10) {
      val edges = randomGraph(12 + rng.nextInt(8), 0.15 + rng.nextDouble() * 0.4)
      if (edges.nonEmpty) {
        val r = Graph.triangleStats(edges.toDF("a", "b")).collect().head
        val (tris, wedges, nodes) = bruteTriangles(edges)
        assert((r.getLong(0), r.getLong(2), r.getLong(3)) == ((nodes, wedges, tris)),
          s"trial $trial (${edges.size} edges): got " +
            s"(${r.getLong(0)}, ${r.getLong(2)}, ${r.getLong(3)}), " +
            s"want ($nodes, $wedges, $tris)")
      }
    }
  }

  test("kCore runs a >8-deep cascade to fixpoint; a too-low safety cap throws") {
    import spark.implicits._
    // 20-node path at k=2: every peel removes exactly the two current
    // endpoints, so reaching the (empty) fixpoint takes 10 rounds —
    // past the old maxIters=8 bound, under which this graph silently
    // returned 4 non-core survivors (round-7 verdict finding #1).
    val path = (0 until 19).map(i => (f"p$i%02d", f"p${i + 1}%02d"))
    val got = Graph.kCore(path.toDF("a", "b"), k = 2).collect()
    assert(got.isEmpty, s"20-path has an empty 2-core, got ${got.toSeq}")
    assert(bruteKCore(path, 2).isEmpty)
    // the cap is a loud contract, not a silent truncation
    val e = intercept[IllegalArgumentException] {
      Graph.kCore(path.toDF("a", "b"), k = 2, maxIters = 3).collect()
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("connectedComponents: a path longer than maxIters throws; the default cap gives one component") {
    import spark.implicits._
    // min-label propagation moves a label one hop per round, so a
    // 12-node path needs 11 rounds, plus one to see the fixpoint
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Graph.connectedComponents(path, maxIters = 4)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    val got = Graph.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 11L).map(_ -> 0L).toMap, got)
  }

  test("kCore equals brute peel-to-fixpoint on 10 random graphs across k") {
    import spark.implicits._
    for (trial <- 1 to 10) {
      val edges = randomGraph(10 + rng.nextInt(8), 0.2 + rng.nextDouble() * 0.4)
      val k = 2 + rng.nextInt(3)
      if (edges.nonEmpty) {
        val got = Graph.kCore(edges.toDF("a", "b"), k).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = bruteKCore(edges, k)
        assert(got == want, s"trial $trial k=$k: got $got want $want")
      }
    }
  }

  test("connectedComponents equals union-find on 10 random graphs") {
    import spark.implicits._
    for (trial <- 1 to 10) {
      // sparse pairs over up to 30 ids: several components, some trees
      val n = 12 + rng.nextInt(18)
      val pairs = for { i <- 0 until n; j <- i + 1 until n if rng.nextDouble() < 1.5 / n }
        yield (i.toLong, j.toLong)
      if (pairs.nonEmpty) {
        val got = Graph.connectedComponents(pairs.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = unionFind(pairs)
        assert(got == want, s"trial $trial (${pairs.size} pairs): got $got want $want")
      }
    }
  }

  test("pageRank equals an integer PageRank in plain Scala on 10 random graphs") {
    import spark.implicits._
    for (trial <- 1 to 10) {
      val n = 8 + rng.nextInt(10)
      val inner = for { i <- 0 until n; j <- 0 until n if i != j && rng.nextDouble() < 0.2 }
        yield (f"n$i%02d", f"n$j%02d")
      // a source with no in-edges and a sink with no out-edges on every graph
      val edges = inner ++ Seq(("src", "n00"), ("src", "n01"), ("n00", "sink"))
      val got = Graph.pageRank(edges.toDF("src", "dst")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = brutePageRank(edges)
      assert(got == want, s"trial $trial (${edges.size} edges): got $got want $want")
      assert(got("src")._2 == 150000L && got("sink")._1 == 0L, got)
    }
  }
}
