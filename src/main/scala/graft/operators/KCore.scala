package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the classic graph
  * degeneracy primitive (Seidman 1983; the distributed formulation is
  * Batagelj–Zaveršnik peeling run level-synchronously): repeatedly delete
  * every vertex whose CURRENT degree is below k until a fixpoint; what
  * survives is the maximal subgraph of minimum degree ≥ k. The signal a
  * graph-quality pipeline uses to separate a cohesive community core from
  * chains and pendants that PageRank still rewards.
  *
  * Per round: one map-side-combinable degree aggregate + two hash
  * semi-joins of the edge relation against the survivor set, run by
  * `Fixpoint.iterate`. Rounds are data-dependent (a chain can peel one
  * vertex per round), so the operator takes an explicit `maxRounds` and
  * THROWS on non-convergence rather than silently returning a
  * half-peeled graph — the oracle unrolls a fixed round count, which is
  * sound because peeling is IDEMPOTENT at the fixpoint (extra unrolled
  * rounds are no-ops).
  *
  * Convergence detector: the directed edge count — peeling strictly
  * shrinks it until the fixpoint.
  */
object KCore {

  /** Vertices of the k-core of the undirected unique-pair `edges`
    * (columns a, b; each pair listed once). Returns column `node`. */
  def coreMembers(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val und = edges.select(col("a").cast("long"), col("b").cast("long"))
    Fixpoint.iterate("k-core peeling",
        und.unionByName(und.select(col("b").as("a"), col("a").as("b"))),
        maxRounds, count(lit(1)).as("n")) { e =>
      // keep's localCheckpoint measured FASTER than recomputing the
      // degree aggregate per semi-join reference (r15 A/B: 2.8 s vs
      // 3.6 s at sf0.1 — the un-checkpointed subplan did not
      // broadcast-reuse across the two semi-joins); deliberately kept
      val keep = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("a").as("n"))
        .localCheckpoint()
      e.join(keep, e("a") === keep("n"), "leftsemi")
        .join(keep.withColumnRenamed("n", "n2"),
          col("b") === col("n2"), "leftsemi")
    }.select(col("a").as("node")).distinct()
  }
}
