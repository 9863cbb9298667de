package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism repair for per-row-CPU kernels (optimization guide
  * §2.5: "input skew — one huge unsplittable file → repartition
  * immediately after the read"; §1.2 step 1 — fix the distributed shape
  * before per-task work).
  *
  * Parquet scans split at ROW-GROUP granularity. A small table written as
  * one file with one row group (the driver's test tables are exactly
  * that) gives the scan stage ONE effective task — and whole-stage
  * codegen fuses every per-row kernel and partial aggregate into that
  * stage (md5 row hashes, shingle explode, vector arithmetic), so the
  * whole kernel runs on one core while the rest of the box idles.
  * Measured r15 (32-core box, sf0.1): merkle_bucket_diff's four digest
  * scans at ~1.2 s each with execSum ≈ wall (serial), profile_columns'
  * 2.3 s single-task expand+partial-aggregate.
  *
  * `bySize` inserts a hash repartition on `key` across the session's
  * default parallelism ONLY while the relation's optimizer-estimated
  * footprint is at most cores × spark.sql.files.openCostInBytes (4 MB
  * default → 128 MB at 32 cores). Below that bound the scan cannot reach
  * full parallelism even in the best case (Spark packs ≥ openCost-sized
  * splits, so < cores splits exist) and the repartition moves at most
  * that many bytes — trivially cheap next to the kernel it parallelizes.
  * Above the bound the input spans enough splits that the scan
  * parallelizes itself (at 100 TB: thousands of files/row groups) and an
  * extra exchange of the payload would be pure loss — the helper is a
  * no-op there. Scale-adaptive by construction: no tuning knob; the
  * decision derives from input size and session parallelism, the two
  * things that actually differ between the bench box and a cluster.
  *
  * `key` must be deterministic and high-cardinality (doc ids, order
  * keys): hash repartitioning on it is retry-safe (SPARK-38388 — never
  * derive a shuffle key from rand()) and avoids round-robin
  * repartition's sort-before-repartition pass.
  */
object FanOut {
  /** Width target: ~64 KB of input per task. Measured A/B (r15, sf0.1
    * documents = 584 KB, 32-core box): width 8 beats width 32 by ~20 %
    * on every shingle-kernel query (per-task scheduling + codegen-stage
    * overhead outweighs extra parallelism below ~64 KB/task), and width
    * 8 beats no-fan-out by ~25–40 %. Width grows linearly with input
    * size until the core cap, so larger single-file inputs still use
    * the whole box; beyond `bound` the helper is a no-op anyway. */
  private val TargetBytesPerTask = 64L << 10

  def bySize(df: DataFrame, key: Column): DataFrame = {
    val s = df.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val bound = BigInt(s.sessionState.conf.filesOpenCostInBytes) * cores
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (bytes / TargetBytesPerTask).min(cores).max(2).toInt
    if (n > 1 && bytes <= bound) df.repartition(n, key) else df
  }
}
