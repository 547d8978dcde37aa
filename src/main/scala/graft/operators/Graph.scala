package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Graph-analytics primitives over edge-list DataFrames: the one-shot
  * triangle census, and the iterative passes — integer PageRank (s10,
  * t29), k-core peeling (t18) and connected components (d9). The two
  * fixpoint passes share one driver loop (`fixpoint`).
  */
object Graph {

  /** Triangle census of an undirected graph, in the DEGREE-ORIENTED
    * form that scales: each edge is oriented low-(degree,name) → high,
    * so every triangle is enumerated exactly once and each node's
    * out-list is O(√m) — the wedge join never squares a hub's degree
    * (the naive undirected three-way join does). Input `edges` must be
    * distinct undirected pairs (a, b) with a < b and no self-loops; it
    * is localCheckpointed internally because degrees, orientation, and
    * the two wedge joins re-reference it (self-joins never reuse
    * subtrees — the §6 Catalyst trap). Output: ONE all-integer row
    * (n_nodes, n_edges, n_wedges, n_triangles, global_cc_bp =
    * floor(3T/W · 10⁴)).
    */
  def triangleStats(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val deg = edges.select(explode(array(col("a"), col("b"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val oriented = edges
      .join(broadcast(deg.select(col("w").as("a"), col("deg").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("w").as("b"), col("deg").as("db"))), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst"))
    val e1 = oriented.select(col("src").as("x"), col("dst").as("y"))
    val tri = e1
      .join(oriented.select(col("src").as("y"), col("dst").as("z")), Seq("y"))
      .join(oriented.select(col("src").as("x"), col("dst").as("z")),
        Seq("x", "z"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nodeAgg = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edgeAgg = edges.agg(count(lit(1)).as("n_edges"))
    nodeAgg.crossJoin(broadcast(edgeAgg)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("CASE WHEN n_wedges > 0 THEN 3 * n_triangles * 10000 div n_wedges ELSE 0 END")
          .as("global_cc_bp"))
  }

  /** k-core decomposition by iterative peeling: repeatedly remove
    * nodes of degree < k (and their edges) until FIXPOINT — the
    * cascade matters: removing one node can push its neighbors below
    * k (a single degree-filter pass is NOT a k-core; PipelineSpec
    * plants the path graph where the difference shows). Returns the
    * surviving (w, core_deg) rows. Runs on `fixpoint` with the edge
    * count as its probe (edges shrink iff some node dropped); every
    * peel runs on the pinned vocabulary-sized edge list — the corpus
    * is never touched. `maxIters` is a SAFETY CAP, not the semantics:
    * hitting it throws (a loud contract beats silently returning
    * non-core survivors — round-7 verdict finding; GraphPropertySpec
    * plants a 20-node path whose k=2 cascade needs 10 peels, past the
    * old bound of 8). The default cap is far above any plausible
    * cascade depth on collocation-class graphs (observed ≤ 4 at every
    * tested SF; each extra peel costs one vocabulary-sized agg + two
    * broadcast semi joins, so a deep cascade is slow, never wrong).
    * Spark recursion can't express this natively for the same reason
    * as d9/s10: the per-level degree AGGREGATE over the recursive
    * reference is prohibited (canary-pinned in RegressionSpec). */
  def kCore(edgesIn: DataFrame, k: Int, maxIters: Int = 64): DataFrame =
    fixpoint(s"kCore($k)", edgesIn, maxIters, count(lit(1))) { edges =>
      val keep = edges.select(explode(array(col("a"), col("b"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("w"))
      edges
        .join(broadcast(keep.withColumnRenamed("w", "a")), Seq("a"))
        .join(broadcast(keep.withColumnRenamed("w", "b")), Seq("b"))
        .select(col("a"), col("b"))
    }.select(explode(array(col("a"), col("b"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("core_deg"))

  /** Connected components over an undirected pair graph by iterative
    * min-label propagation: each round, every node takes the minimum
    * label among itself and its neighbors, until a fixpoint — then every
    * member of a component carries the component's minimum id. Output:
    * (id, component).
    *
    * Scale shape: the pair graph is TINY relative to the corpus (d9
    * feeds only near-duplicate docs), each round is one
    * broadcast-friendly equi-join + one partial-agg groupBy. Edges and
    * per-round labels are pinned (Pregel-style lineage truncation —
    * without it every round would re-evaluate the expensive upstream
    * pair pipeline). Runs on `fixpoint` with sum(component) as its
    * probe: labels only ever decrease, so an unchanged sum means
    * fixpoint — never a label collect. Dedup clusters are near-cliques,
    * so this converges in 2-3 rounds; maxIters is a runaway bound, not
    * a correctness knob (unconverged labels split components).
    *
    * Why not the native recursive CTE (q40's UnionLoop path): connected
    * components needs UNION **DISTINCT** recursion — under UNION ALL,
    * min-label propagation around a cycle re-emits the same (node,
    * label) row forever (a 2-cycle ping-pongs `(b,l)→(c,l)→(b,l)…`
    * because no accumulated-set dedup exists to retire it), and dedup
    * graphs are cyclic near-cliques by construction. Spark 4.1 rejects
    * UNION inside a recursive CTE (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE
    * — probed empirically, not assumed). A canary in RegressionSpec
    * pins that error: the day it fails, Spark has shipped distinct
    * recursion and this loop should migrate to it.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .localCheckpoint()
    val init = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    fixpoint("connectedComponents", init, maxIters,
        coalesce(sum(col("component")), lit(0L))) { labels =>
      edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("component"))
        .union(labels)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
    }
  }

  /** Integer PageRank over directed `edges(src, dst)`, in millionths:
    * r₀ = 10⁶, then three damped rounds of
    * r = 150000 + 85·Σ(r div outdeg) div 100 over each node's in-edges.
    * EXACT integer arithmetic, so partial-agg order can't change a
    * digit. Every node on either side gets a row (id, out_deg, r); a
    * sink's out_deg is 0 and a node with no in-edges holds the damping
    * floor. Each round is one join + one partial-agg groupBy on the
    * edge rows; the caller pins `edges` when it is expensive to
    * re-derive. Three rounds are composed on the driver into one plan:
    * Spark 4.1 recursion cannot re-aggregate over the recursive
    * reference (canary-pinned in RegressionSpec). */
  def pageRank(edges: DataFrame): DataFrame = {
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val weighted = edges.join(outd, Seq("src"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst"))).distinct()
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to 3) {
      val contribs = weighted.join(ranks, weighted("src") === ranks("id"))
        .select(col("dst").as("id"), expr("r div out_deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("in_sum"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .withColumn("r", expr("150000 + (85 * coalesce(in_sum, CAST(0 AS BIGINT))) div 100"))
        .select(col("id"), col("r"))
    }
    ranks.join(outd.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"), col("r"))
  }

  /** The driver loop of the fixpoint passes: pins `init`, then applies
    * `step` and pins each new state, until a state's 1-row `probe`
    * aggregate equals the previous state's. The probe is observed on
    * the pin's own job (`Dataset.observe`), so it costs no job of its
    * own. `maxIters` is a safety cap: reaching it throws, because a
    * truncated iteration is not the answer. */
  private def fixpoint(name: String, init: DataFrame, maxIters: Int,
      probe: Column)(step: DataFrame => DataFrame): DataFrame = {
    def pin(df: DataFrame): (DataFrame, Long) = {
      val obs = Observation()
      val pinned = df.observe(obs, probe.as("probe")).localCheckpoint()
      (pinned, obs.get("probe").asInstanceOf[Long])
    }
    var (state, prev) = pin(init)
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      val (next, p) = pin(step(state))
      done = p == prev
      state = next; prev = p; it += 1
    }
    require(done,
      s"$name did not converge to a fixpoint within $maxIters rounds " +
        "— raise maxIters; a truncated iteration is not the answer")
    state
  }
}
