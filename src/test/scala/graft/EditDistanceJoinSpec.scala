package graft

import org.apache.spark.sql.functions._
import graft.operators.EditDistanceJoin
import graft.sources.Tables

/** PassJoin candidate completeness is a theorem (pigeonhole over k+1
  * segments + the ±k position shift bound); these tests check the
  * IMPLEMENTATION of that theorem empirically: the operator's output must
  * EQUAL the brute-force all-pairs Levenshtein join — same pairs, same
  * distances — on both a hand-built edge-case corpus and the real fixture. */
class EditDistanceJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Every pair's exact Levenshtein distance, filtered to ≤ k. Only pairs
    * with |len a − len b| ≤ k are compared: the distance is at least the
    * length difference, so the rest can never pass the filter. Each `a`
    * row explodes its length band len ± k and equi-joins `b` on length, so
    * every in-band pair meets exactly once. */
  private def bruteForce(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val a = df.select(col("doc_id").as("ida"), col("text").as("ta"))
      .filter(length(col("ta")) >= k + 1)
      .withColumn("band", explode(sequence(
        length(col("ta")) - k, length(col("ta")) + k)))
    val b = df.select(col("doc_id").as("idb"), col("text").as("tb"))
      .filter(length(col("tb")) >= k + 1)
    a.join(b, col("band") === length(col("tb")) && col("ida") < col("idb"))
      .withColumn("d", levenshtein(col("ta"), col("tb")))
      .filter(col("d") <= k)
      .select(col("ida").as("doc_id_lo"), col("idb").as("doc_id_hi"),
        col("d").cast("long").as("edit_dist"))
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("passJoin == brute force on edit-type edge cases (k=2)") {
    // deletes, inserts, substitutions, combinations, at string edges and
    // segment boundaries; lengths indivisible by k+1; a too-short string
    val docs = Seq(
      (1L, "abcdefghij"),
      (2L, "abcdefghi"),    // delete last          (d=1 vs 1)
      (3L, "bcdefghij"),    // delete first         (d=1 vs 1)
      (4L, "abcXefghij"),   // substitute mid       (d=1 vs 1)
      (5L, "abXdefghXj"),   // two substitutions    (d=2 vs 1)
      (6L, "aabcdefghijz"), // insert front + back  (d=2 vs 1)
      (7L, "abcdeZfghi"),   // insert mid of 2      (d=2 vs 1? actually vs 2: d=1)
      (8L, "zzzzzzzzzz"),   // unrelated
      (9L, "ab"))           // below k+1 → excluded
      .toDF("doc_id", "text")
    val got = asSet(EditDistanceJoin.passJoin(docs, col("doc_id"), col("text"), 2))
    val want = asSet(bruteForce(docs, 2))
    assert(got == want, s"got=$got want=$want")
    assert(want.exists(_._3 == 2L)) // the corpus genuinely exercises d=2
    assert(!want.exists(t => t._1 == 9L || t._2 == 9L))
  }

  test("passJoin == brute force on the sf0.001 corpus with planted variants (k=1 and k=2)") {
    val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat(substring(col("text"), 1, 24),
          expr("substring(text, 26, length(text))")).as("text"))
    val corpus = docs.unionByName(planted)
    for (k <- Seq(1, 2)) {
      val got = asSet(EditDistanceJoin.passJoin(corpus, col("doc_id"), col("text"), k))
      val want = asSet(bruteForce(corpus, k))
      assert(got == want, s"k=$k: got ${got.size} pairs, want ${want.size}")
      assert(want.nonEmpty)
    }
  }
}
