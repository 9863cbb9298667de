package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N× corpus synthesizer for local scale testing.
  *
  * `runMain graft.ScaleGen <srcSfDir> <outDir> [copies=10] [tables]`
  * unions `copies` shifted replicas of `documents`, `embeddings`,
  * `events`, `lineitem` and `orders` (the tables the heavy paths
  * consume) and copies the remaining star tables verbatim, producing a
  * directory Verify/Bench can consume via `SPARK_GRAFT_SF_DIR`. The
  * optional `tables` comma-list restricts replication (excluded tables
  * copy verbatim) — e.g. a 1000× documents+embeddings corpus without
  * paying for 1000× lineitem. Do NOT compose runs (10× of 10×): the
  * per-replica id shifts add rather than compose, colliding key ranges —
  * always generate each factor directly from the source dir.
  *
  * Replica construction is chosen so the WORKLOAD SHAPE scales, not just
  * the row count:
  *
  *  - `documents`: replica k Caesar-rotates letters and digits by k
  *    (`translate`, codegen'd, length-preserving — `n_chars` stays
  *    truthful). Rotation is a bijection on the token alphabet, so two
  *    docs that are near-duplicates WITHIN a replica remain exactly as
  *    similar, while tokens never collide ACROSS replicas — near-dup
  *    pair/cluster density grows ~linearly with copies instead of
  *    quadratically (10 verbatim copies would weld every doc into a
  *    10-clique and measure an artifact, not the operator).
  *  - `embeddings`: replica k adds a deterministic per-(vector, dim,
  *    replica) sinusoid perturbation (±0.05 on unit-ish coords), so
  *    replicas are distinct points with the same cluster geometry —
  *    k-means/IVF at N× sees N× genuine points, not N-fold degenerate
  *    duplicates.
  *  - ids shift by k·10^7 (far above any fixture id), keeping joins and
  *    group keys collision-free and the generation replayable: same
  *    inputs → byte-identical output (no wall-clock, no RNG).
  */
object ScaleGen {
  private val Lower  = "abcdefghijklmnopqrstuvwxyz"
  private val Upper  = Lower.toUpperCase
  private val Digits = "0123456789"
  // a pure rotation repeats every |alphabet| copies — replicas k and k+26
  // would be byte-identical, welding exact-dup cliques across replicas at
  // copies > 26. An AFFINE permutation i -> (a*i + b) mod n with a coprime
  // to n gives 12×26 = 312 distinct letter bijections (4×10 for digits);
  // k < 26 keeps a = 1, i.e. degenerates to the plain rotation.
  private val LetterAs = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private val DigitAs  = Seq(1, 3, 7, 9)
  private def affine(s: String, a: Int, b: Int): String =
    (0 until s.length).map(i => s((a * i + b) % s.length)).mkString

  /** documents replica k: ids shifted, text alphabet-permuted (identity at k=0). */
  private def docReplica(docs: DataFrame, k: Int): DataFrame = {
    val shifted = docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
    if (k == 0) shifted
    else {
      val la = LetterAs((k / 26) % LetterAs.size)
      val da = DigitAs((k / 10) % DigitAs.size)
      shifted.withColumn("text",
        translate(col("text"),
          Lower + Upper + Digits,
          affine(Lower, la, k % 26) + affine(Upper, la, k % 26) +
            affine(Digits, da, k % 10)))
    }
  }

  /** events replica k: user/event ids shifted into disjoint ranges, event
    * times UNchanged — the same window structure carries k× the per-window
    * key cardinality, which is exactly what grows streaming/window state
    * at scale (replica-shifted timestamps would instead grow the window
    * COUNT and leave per-window state flat). Written as TimestampType µs
    * parquet; both the batch adapter and the explicit-long streaming
    * readers surface the identical epoch-µs values they see on the
    * original nanos file. */
  private def eventsReplica(events: DataFrame, k: Int): DataFrame =
    events
      .withColumn("user_id", col("user_id") + lit(k * 1000000L))
      .withColumn("event_id", col("event_id") + lit(k * 100000000L))

  /** lineitem/orders replica k: orderkeys shift together into disjoint
    * ranges (join consistency preserved); dim keys (cust/part/supp) stay
    * UNCHANGED — the fact side grows k× against fixed dims, the
    * fact-outgrows-dims shape a real 100 TB warehouse has, which is what
    * scales the maintenance family (checksum, MV refresh, profiling) and
    * keeps every dim join meaningful. Dates/prices verbatim: the digest,
    * group and window structure carries k× the rows per group. */
  private def lineitemReplica(li: DataFrame, k: Int): DataFrame =
    li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))

  private def ordersReplica(o: DataFrame, k: Int): DataFrame =
    o.withColumn("o_orderkey", col("o_orderkey") + lit(k * 1000000000L))

  /** embeddings replica k: ids shifted, coordinates perturbed (identity at k=0). */
  private def embReplica(embs: DataFrame, k: Int): DataFrame = {
    val shifted = embs.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
    if (k == 0) shifted
    else shifted.withColumn("embedding",
      expr(s"transform(embedding, (x, i) -> cast(x + 0.05d * sin(vec_id * 0.131d + i * 0.37d + $k * 1.7d) as float))"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <srcSfDir> <outDir> [copies=10] [tables=all]")
    val src    = args(0)
    val out    = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional comma-list restricting which replicated tables are written
    // (e.g. "documents,embeddings" for a 1000x corpus without paying for
    // 1000x lineitem); unreplicated star tables always copy verbatim.
    val wanted: String => Boolean = if (args.length > 3) {
      val s = args(3).split(",").map(_.trim).toSet
      // lineitem and orders shift their join keys in lockstep (k*1e9 on
      // both orderkeys); replicating one without the other would leave
      // every k>0 replica's foreign keys dangling, so the pair must be
      // replicated as a unit.
      require(s.contains("lineitem") == s.contains("orders"),
        s"tables=$s replicates one of lineitem/orders without the other; " +
          "their orderkeys shift together — include both or neither")
      s
    } else _ => true
    val spark = GraftSession()
    // events.ts must land as int64 TIMESTAMP(MICROS), not legacy INT96:
    // the streaming readers' explicit long-ts schema can surface an
    // int64 column as epoch-µs but has no INT96 conversion
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def copyVerbatim(t: String): Unit = {
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      val to   = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    // an excluded replicated table still copies verbatim at 1x, so the out
    // dir stays a drop-in SPARK_GRAFT_SF_DIR for every registry query
    def writeReplicated(name: String, rep: Int => DataFrame): Unit =
      if (wanted(name))
        (0 until copies).map(rep).reduce(_ unionAll _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      else copyVerbatim(name)

    val docs = graft.sources.Tables.documents(spark, src)
    val embs = graft.sources.Tables.embeddings(spark, src)
    writeReplicated("documents", docReplica(docs, _))
    writeReplicated("embeddings", embReplica(embs, _))
    lazy val events = graft.sources.Tables.events(spark, src)
    writeReplicated("events", eventsReplica(events, _))
    lazy val li = graft.sources.Tables.lineitem(spark, src)
    writeReplicated("lineitem", lineitemReplica(li, _))
    lazy val ords = graft.sources.Tables.orders(spark, src)
    writeReplicated("orders", ordersReplica(ords, _))

    // remaining tables verbatim (heavy paths don't read them, but the dir
    // stays a drop-in SPARK_GRAFT_SF_DIR for any registry query)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(copyVerbatim)
    println(s"[scalegen] wrote $copies x $src -> $out")
    spark.stop()
  }
}
