package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one converge-or-throw loop behind the iterative operators
  * (`DedupOps.connectedComponents`, `KCore.coreMembers`,
  * `WeightedPaths.shortestDistances`): seed → step → step → … until a
  * round's probe equals the previous round's.
  *
  * Every relation the loop produces — the seed and each step's result —
  * is materialized with an eager `localCheckpoint`, so the plan stays
  * O(1) deep whatever the round count and no round re-derives the loop's
  * upstream (the D-Streams lineage cut for iterative work; on a real
  * cluster swap in reliable `checkpoint`).
  *
  * The probe rides the checkpoint job via `observe` (r16: one job per
  * round instead of checkpoint + a second probe job re-reading the fresh
  * blocks — about half the loops' jobs were probe scheduling).
  * CollectMetricsExec is exactly-once per partition (updates from failed
  * or duplicate task attempts are discarded — the contract that makes
  * streaming progress metrics reliable), and it preserves the child's
  * outputPartitioning, so a step that hash-partitions its result keeps
  * that layout through the checkpoint for the next round's join.
  *
  * The probe must be monotone in the operator's recurrence (strictly
  * changing until the fixpoint), so equal consecutive probes mean the
  * fixpoint; each operator states why its probe is. The round budget is
  * convergence-or-THROW: an unconverged result would be wrong, never
  * just slow, so it is never returned. */
private[operators] object Fixpoint {

  /** The fixpoint of `step` from `seed`, detected by the named aggregate
    * columns `probe +: more`. Throws IllegalArgumentException if
    * `maxRounds` steps pass without two equal consecutive probes. */
  def iterate(name: String, seed: DataFrame, maxRounds: Int, probe: Column,
      more: Column*)(step: DataFrame => DataFrame): DataFrame = {
    def materialize(df: DataFrame): (DataFrame, Map[String, Any]) = {
      val obs = Observation()
      val ck = df.observe(obs, probe, more: _*).localCheckpoint()
      (ck, obs.get)
    }
    var (cur, prev) = materialize(seed)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val (next, p) = materialize(step(cur))
      converged = p == prev
      prev = p
      cur = next
      rounds += 1
    }
    require(converged,
      s"$name did not reach a fixpoint within $maxRounds rounds")
    cur
  }
}
