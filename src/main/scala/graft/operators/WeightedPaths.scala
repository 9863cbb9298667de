package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Level-synchronous single-source shortest paths — Bellman–Ford as
  * iterated relaxation: dist_i = MIN per node over
  * (dist_{i-1} ∪ {(b, d(a) + w(a,b))}). Distances only DECREASE and are
  * bounded below, so the fixpoint test is exact integer bookkeeping:
  * converged ⟺ (labeled count, Σ dist) both stable — a float distance
  * would make that test (and the cross-engine oracle) impossible, which
  * is why weights are integer by contract.
  *
  * BFS hop distances are the unit-weight case (`hopDistances`): the same
  * min-union recurrence reaches each node first at its shortest hop count
  * (Pregel's canonical level-synchronous BFS), and a labeled node's
  * distance never changes afterwards, so (count, Σd) stops changing in
  * the same round as the labeled-node count.
  *
  * Per round: one hash join of the label relation against the
  * (checkpointed once) edge relation (shuffle ∝ labeled frontier ×
  * degree) + one map-side-combinable min aggregate, run by
  * `Fixpoint.iterate`; a graph whose weighted depth exceeds `maxRounds`
  * throws rather than returning half-relaxed distances. Idempotent at the
  * fixpoint, so a fixed unrolled round count is a sound oracle (the
  * KCore convention).
  */
object WeightedPaths {

  /** (node, d) integer shortest distances from `seed` over undirected
    * weighted unique-pair edges (a, b, w); only REACHED nodes appear. */
  def shortestDistances(edges: DataFrame, seed: Long,
      maxRounds: Int): DataFrame = {
    val und = edges.select(col("a").cast("long"), col("b").cast("long"),
      col("w").cast("long"))
    val e = und
      .unionByName(und.select(col("b").as("a"), col("a").as("b"), col("w")))
      .localCheckpoint()
    Fixpoint.iterate("Bellman-Ford",
        e.sparkSession.range(1).select(lit(seed).as("node"), lit(0L).as("d")),
        maxRounds, count(lit(1)).as("n"), sum(col("d")).as("sd")) { dist =>
      dist.unionByName(
          dist.join(e, dist("node") === e("a"))
            .select(col("b").as("node"), (dist("d") + col("w")).as("d")))
        .groupBy(col("node")).agg(min(col("d")).as("d"))
    }
  }

  /** (node, d) BFS hop distances from `seed` over undirected unique-pair
    * edges (a, b); only REACHED nodes appear. */
  def hopDistances(edges: DataFrame, seed: Long, maxRounds: Int): DataFrame =
    shortestDistances(edges.select(col("a"), col("b"), lit(1L).as("w")),
      seed, maxRounds)
}
