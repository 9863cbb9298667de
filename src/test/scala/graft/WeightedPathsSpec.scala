package graft

import graft.operators.WeightedPaths

/** Bellman–Ford semantics the affinity-graph gate can't isolate: a
  * longer-hop cheap path must beat a direct expensive edge (the case
  * hop-BFS cannot express), unreachable nodes stay absent, and an
  * insufficient round budget throws instead of returning half-relaxed
  * distances. */
class WeightedPathsSpec extends SparkSpec {
  import spark.implicits._

  test("two cheap hops beat one expensive edge") {
    // 1-2 (w=10), 2-3 (w=10), 1-3 (w=100): dist(3) = 20 via 2 hops
    val e = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 100L))
      .toDF("a", "b", "w")
    val d = WeightedPaths.shortestDistances(e, seed = 1L, maxRounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
  }

  test("unreachable nodes never appear; chain relaxes over rounds") {
    // path 1-2-3-4 plus isolated pair 8-9
    val e = Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 4L, 5L), (8L, 9L, 1L))
      .toDF("a", "b", "w")
    val d = WeightedPaths.shortestDistances(e, 1L, 8)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 5L, 3L -> 10L, 4L -> 15L))
  }

  test("insufficient round budget throws, never returns early") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("a", "b", "w")
    // 4 hops of relaxation + 1 stability round don't fit in 3
    val ex = intercept[IllegalArgumentException] {
      WeightedPaths.shortestDistances(e, 1L, maxRounds = 3)
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  test("a seed with no edges is its own whole answer, hop and weighted") {
    // the observed seed already reads (count 1, Σd 0), so round 1 is the
    // stability round even with a one-round budget
    val e = Seq((8L, 9L, 3L)).toDF("a", "b", "w")
    val weighted = WeightedPaths.shortestDistances(e, 1L, maxRounds = 1)
      .as[(Long, Long)].collect().toSeq
    val hops = WeightedPaths.hopDistances(e.select($"a", $"b"), 1L, 1)
      .as[(Long, Long)].collect().toSeq
    assert(weighted == Seq((1L, 0L)))
    assert(hops == Seq((1L, 0L)))
  }
}
