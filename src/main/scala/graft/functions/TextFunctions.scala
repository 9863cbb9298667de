package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data pipeline surface
  * (north star, BASELINE.json): tokenization, shingling, fingerprinting,
  * quality metrics, language-ID heuristics.
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition —
  * codegen'd Catalyst expressions, no UDFs — so whole-stage codegen spans
  * hold across the hot paths (the 100 TB design constraint).
  *
  * Hashing convention: md5 lowercase-hex of UTF-8 — chosen because it is
  * bit-identical in every SQL engine (the oracle runs the same formulas in
  * DuckDB), making the "random" permutations of MinHash/SimHash
  * deterministic cross-engine.
  */
object TextFunctions {

  /** Whitespace tokens, empties dropped (multi-space safe). */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  /** Distinct token set. */
  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Token count (BPE-less "token counting": whitespace words). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Word n-gram shingles ("w1_w2_w3") from a pre-materialized token-array
    * column — the unit feature for MinHash and n-gram Jaccard. Documents
    * shorter than n yield an empty array.
    *
    * PERF: `ws` must be a column reference to an already-projected token
    * array, not an inline `tokens(...)` expression — a lambda body
    * re-evaluates captured subexpressions per element, so inlining the
    * tokenization makes shingling O(tokens²) per document (measured 5× on
    * the sf0.1 shingle bag). `wordShingles` below exists for one-shot
    * column contexts; explode paths should project tokens first. */
  def shinglesOf(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws("_", (1 to n).map(k => element_at(ws, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Shingles straight from text; fine for single-use projections. */
  def wordShingles(text: Column, n: Int): Column = shinglesOf(tokens(text), n)

  /** Character n-grams at every start position; docs shorter than `n`
    * yield empty (NOT a descending `sequence` — Spark's sequence(1, 0)
    * counts down). Same binding note as `shinglesOf`: pass a projected
    * column, not a computed expression, in explode paths. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - lit(n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Modulus/base of the char-n-gram window-hash family — shared by the
    * Spark expression (CharNGramHashes) and every oracle SQL that
    * re-derives the same hashes via an ascii()-fold, so the two engines
    * agree bit-for-bit. p < 2³⁰ also keeps the hashes inside the MinHash
    * permutation family's 2⁴⁰ input domain. */
  val NGramHashB: Long = 1000003L
  val NGramHashP: Long = 1000000007L

  /** All n-code-point window hashes of `text` as array<long> — one
    * codegen'd pass (see CharNGramHashes). The row-local feature
    * representation for char-n-gram MinHash/Jaccard dedup. */
  def charNGramHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CharNGramHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        n, NGramHashB, NGramHashP))

  /** All word-n-gram shingle hashes of `text` as array<long> — one
    * codegen'd pass (see WordShingleHashes), bit-identical to
    * `shingleHash40` over the exploded `shinglesOf` strings. The word
    * counterpart of `charNGramHashes`: the row-local feature
    * representation for word-shingle MinHash/Jaccard dedup. */
  def wordShingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      WordShingleHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))

  /** 1-based char positions where a width-n window hash ≡ 0 (mod m) ends
    * — the CDC cut rule, fused hash+filter in one codegen'd pass (see
    * CdcCutPositions). */
  def cdcCutPositions(text: Column, n: Int, m: Long): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CdcCutPositions(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        n, NGramHashB, NGramHashP, m))

  /** Rabin–Karp polynomial rolling hash h = (h·b + code(c)) mod p left-
    * folded over the char stream — the incremental-fingerprint primitive.
    * One codegen'd `aggregate`; empty text hashes to 0. Composable:
    * h(a ++ b) = (h(a)·bᐞ|b| + h(b)) mod p (property-tested).
    *
    * ASCII-ONLY CONTRACT: `code(c)` is Spark's ascii(), which returns the
    * first BYTE of the UTF-8 encoding — negative for multibyte lead
    * bytes — while DuckDB's ascii() returns the Unicode code point, so
    * the two engines diverge (and the hash can go negative) outside
    * printable ASCII. Normalize or strip non-ASCII first, or use the
    * code-point-exact CharNGramHashes expression family instead. */
  def rollingHash(text: Column, b: Long, p: Long): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      aggregate(charShingles(text, 1), lit(0L),
        (acc, c) => (acc * lit(b) + ascii(c)) % lit(p)))

  /** Canonical-text fingerprint: md5 of lowercased, whitespace-collapsed,
    * trimmed text — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), " +", " "))

  /** Order-insensitive fingerprint: md5 over the sorted distinct token set
    * — catches word-permutation duplicates (set-equality ⇔ Jaccard = 1). */
  def wordSetFingerprint(text: Column): Column =
    md5(concat_ws("|", array_sort(distinctTokens(text))))

  /** Ratio of tokens drawn from `markers` (e.g. stopwords), 6 dp. */
  def markerRatio(text: Column, markers: Seq[String]): Column = {
    val ts = tokens(text)
    round(size(filter(ts, w => w.isin(markers.map(lit): _*)))
      .cast("double") / greatest(size(ts), lit(1)), 6)
  }

  /** Language marker sets for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** Count of tokens matching a marker set. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(markers.map(lit): _*))).cast("long")

  /** Heuristic language guess: arg-max of marker hits with fixed precedence
    * (en, de, es, fr), 'und' (undetermined) when no marker fires. A
    * deterministic classifier — the oracle checks parity, accuracy is the
    * caller's model problem. */
  def langGuess(text: Column): Column = {
    val hits = langMarkers.map { case (l, ms) => l -> markerHits(text, ms) }
    val best = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und")) { case ((l, h), acc) =>
      when(best > 0 && h === best, lit(l)).otherwise(acc)
    }
  }
}
