package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WeightedPaths

/** Hand-graph pins for level-synchronous BFS hop distances — the
  * unit-weight case of `WeightedPaths`. */
class BfsSpec extends AnyFunSuite with SparkSpec {

  private def dists(edges: Seq[(Long, Long)], seed: Long,
                    maxRounds: Int = 10): Map[Long, Long] = {
    import spark.implicits._
    WeightedPaths.hopDistances(edges.toDF("a", "b"), seed, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph: distance equals position") {
    assert(dists(Seq((1L, 2L), (2L, 3L), (3L, 4L)), seed = 1L) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("shortest path wins when a long way around exists") {
    // cycle 1-2-3-4-5-1: node 4 is 2 hops via 5, not 3 via 2-3
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(dists(cyc, seed = 1L) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("disconnected component is absent, not mislabeled") {
    val got = dists(Seq((1L, 2L), (8L, 9L)), seed = 1L)
    assert(got == Map(1L -> 0L, 2L -> 1L))
  }

  test("insufficient round budget throws, never half-labels") {
    // eccentricity 3 needs 4 rounds (3 growth + 1 stability check)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assertThrows[IllegalArgumentException](dists(path, 1L, maxRounds = 3))
  }
}
