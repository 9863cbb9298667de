package graft

import org.apache.spark.sql.functions._

/** Deterministic WIDE-VOCABULARY documents fixture for the similarity
  * family.
  *
  * `runMain graft.WideVocabGen <srcSfDir> <outDir> [docs=5000] [vocab=50000]`
  *
  * The driver fixture's documents table draws from a 31-word vocabulary,
  * which caps distinct 3-gram shingles at ~30 k and pushes every
  * LSH/df-cap code path into a degenerate corner: mean shingle df grows
  * with the corpus instead of staying Zipf-shaped (FIXTURES.md). This
  * main writes a drop-in SPARK_GRAFT_SF_DIR whose documents are sampled
  * from a `vocab`-token vocabulary under a Zipf(≈1) law, with planted
  * near-duplicate pairs at a controlled overlap, so the similarity gates
  * (`minhash_lsh_pairs`, `prefix_filter_jaccard`, `sparse_cosine_pairs`,
  * …) exercise a REALISTIC document-frequency distribution and their
  * DuckDB oracles still replay exactly (generation is pure hash
  * arithmetic — no RNG, no wall clock; same args → byte-identical rows).
  *
  * Construction (all codegen'd column expressions):
  *  - token at (doc, pos): rank = floor(vocab^u) with u uniform from
  *    xxhash64(doc, pos) — the inverse-CDF of a log-uniform law, i.e.
  *    P(rank = k) ∝ ~1/k (Zipf exponent ~1: few stopword-like ranks with
  *    huge df, a long tail of df ≈ 1..10);
  *  - doc length: 40..200 tokens by doc hash;
  *  - planted near-dups at three CONTROLLED similarity tiers (a twin
  *    re-draws tokens at pos % m == 0 under a different hash salt; with
  *    3-gram shingles the unchanged-window fraction is u ≈ (m−3)/m and
  *    shingle-Jaccard J = u/(2−u)):
  *      tier A, m=30 (doc_id % 10 == 0, twin at +10^7):  J₃ ≈ 0.82 —
  *        above the minhash gate's 0.8 verify threshold;
  *      tier B, m=15 (doc_id % 10 == 3, twin at +2·10^7): J₃ ≈ 0.67 —
  *        above the prefix filter's τ = 3/5, below 0.8;
  *      tier C, m=5  (doc_id % 10 == 6, twin at +3·10^7): J₃ ≈ 0.25 —
  *        the negative control (candidate-or-below, verified away).
  *    Twin ids sit far above the base range; membership, not threshold,
  *    still classifies.
  * Every other table copies verbatim, so the out dir runs ANY registry
  * query.
  */
object WideVocabGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: WideVocabGen <srcSfDir> <outDir> [docs=5000] [vocab=50000]")
    val src = args(0)
    val out = args(1)
    val nDocs = if (args.length > 2) args(2).toInt else 5000
    val vocab = if (args.length > 3) args(3).toInt else 50000
    val spark = GraftSession()

    // token rank at (doc, pos) under `salt`: floor(vocab^u) + 1 with
    // u ∈ [0,1) from a 1e9+7-bucket hash — log-uniform ≈ Zipf(1)
    def tokenExpr(salt: String): String =
      s"concat('tok', cast(cast(power($vocab, " +
        s"pmod(xxhash64(concat('$salt', cast(doc_id as string), '_', " +
        s"cast(p as string))), 1000000007L) / 1000000007.0d) as bigint) " +
        s"+ 1 as string))"

    val base = spark.range(nDocs.toLong).select(col("id").as("doc_id"))
      .withColumn("len",
        (lit(40) + pmod(xxhash64(concat(lit("wvlen_"),
          col("doc_id").cast("string"))), lit(161L))).cast("int"))
      .withColumn("text", expr(
        s"array_join(transform(sequence(0, len - 1), p -> ${tokenExpr("wv_")}), ' ')"))
    def plantTier(residue: Int, m: Int, offset: Long) =
      spark.range(nDocs.toLong).select(col("id").as("doc_id"))
        .filter(col("doc_id") % 10 === residue)
        .withColumn("len",
          (lit(40) + pmod(xxhash64(concat(lit("wvlen_"),
            col("doc_id").cast("string"))), lit(161L))).cast("int"))
        .withColumn("text", expr(
          s"array_join(transform(sequence(0, len - 1), p -> " +
            s"CASE WHEN p % $m = 0 THEN ${tokenExpr("wvalt_")} " +
            s"ELSE ${tokenExpr("wv_")} END), ' ')"))
        .withColumn("doc_id", col("doc_id") + lit(offset))
    val docs = base
      .unionByName(plantTier(0, 30, 10000000L))
      .unionByName(plantTier(3, 15, 20000000L))
      .unionByName(plantTier(6, 5, 30000000L))
      .withColumn("lang", element_at(
        typedLit(Seq("en", "es", "de", "fr", "zh")),
        (pmod(xxhash64(concat(lit("wvlang_"),
          col("doc_id").cast("string"))), lit(5L)) + 1).cast("int")))
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(4L)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    def copyVerbatim(t: String): Unit = {
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      val to = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Seq("embeddings", "events", "lineitem", "orders",
      "region", "nation", "customer", "supplier", "part").foreach(copyVerbatim)
    println(s"[widevocab] wrote $nDocs base + 3 x ${nDocs / 10} planted " +
      s"tiers (J3 ~ 0.82/0.67/0.25), vocab=$vocab -> $out")
    spark.stop()
  }
}
