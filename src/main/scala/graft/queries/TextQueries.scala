package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.DedupOps
import graft.sources.Tables

/** Text-analysis + document-dedup surface over the `documents` table
  * (north-star training-data pipeline ops). Oracle SQL for the hash-based
  * operators (MinHash/SimHash) is *generated* from the same parameters as
  * the Spark pipeline, so both engines evaluate the identical formulas.
  */
object TextQueries {

  // shared MinHash/LSH parameters (Spark pipeline + oracle generator)
  private val ShingleN   = 3
  private val NumHashes  = 16
  private val Bands      = 8
  private val Threshold  = 0.8

  // ── token statistics ───────────────────────────────────────────────────
  private val tokenStats: Q = (s, dir) => {
    val ts = TextFunctions.tokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(ts).cast("long").as("n_tokens"),
      size(array_distinct(ts)).cast("long").as("n_unique"),
      when(size(ts) > 0,
        round(aggregate(transform(ts, w => length(w).cast("double")),
          lit(0.0), (a, v) => a + v) / size(ts), 6)).as("avg_token_len"))
  }

  // LEFT JOIN keeps zero-token documents (the grouped form would drop
  // them while Spark emits a row) — same pattern as text_normalize
  private val tokenStatsSql =
    """WITH t AS (SELECT doc_id, w
      |           FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
      |           WHERE w <> ''),
      |agg AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT w) AS n_unique,
      |               round(CAST(sum(length(w)) AS DOUBLE) / count(*), 6) AS avg_token_len
      |        FROM t GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
      |       CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique, avg_token_len
      |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin

  // ── quality scoring ────────────────────────────────────────────────────
  private val textQuality: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.markerRatio(col("text"),
        TextFunctions.langMarkers.head._2).as("stopword_ratio"),
      when(length(col("text")) > 0,
        round(length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
          .cast("double") / length(col("text")), 6)).as("punct_ratio"))

  private val textQualitySql =
    """WITH t AS (SELECT doc_id, text FROM documents),
      |w AS (SELECT doc_id, count(*) AS n_tokens,
      |             sum(CASE WHEN w IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS hits
      |      FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM t)
      |      WHERE w <> '' GROUP BY doc_id)
      |SELECT t.doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
      |       round(CAST(coalesce(hits, 0) AS DOUBLE) / greatest(coalesce(n_tokens, 0), 1), 6)
      |         AS stopword_ratio,
      |       CASE WHEN length(text) > 0
      |            THEN round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |                       / length(text), 6) END AS punct_ratio
      |FROM t LEFT JOIN w ON t.doc_id = w.doc_id""".stripMargin

  // ── composite quality filter (C4-style keep/drop with reasons) ─────────
  // Rule chain over the text_quality signals; verdict = first failing rule
  // in a FIXED order (so both engines agree on multi-fail docs), keep =
  // passed all. Built on the same textQuality relation on both sides —
  // one definition of the signals, two consumers.
  private val qualityFilter: Q = (s, dir) =>
    textQuality(s, dir).select(col("doc_id"),
      when(col("n_tokens") < 5, "too_short")
        .when(col("n_tokens") > 500, "too_long")
        .when(col("stopword_ratio") < 0.01, "low_stopword")
        .when(col("punct_ratio") > 0.2, "high_punct")
        .otherwise("ok").as("verdict"))
      .withColumn("keep", col("verdict") === "ok")

  private val qualityFilterSql =
    s"""WITH q AS ($textQualitySql)
       |SELECT doc_id, verdict, verdict = 'ok' AS keep
       |FROM (SELECT doc_id,
       |             CASE WHEN n_tokens < 5 THEN 'too_short'
       |                  WHEN n_tokens > 500 THEN 'too_long'
       |                  WHEN stopword_ratio < 0.01 THEN 'low_stopword'
       |                  WHEN punct_ratio > 0.2 THEN 'high_punct'
       |                  ELSE 'ok' END AS verdict
       |      FROM q)""".stripMargin

  // ── document length histogram ──────────────────────────────────────────
  private val lengthHistogram: Q = (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(expr("n_chars div 50").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  private val lengthHistogramSql =
    """SELECT n_chars // 50 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(min(n_chars) AS BIGINT) AS min_chars,
      |       CAST(max(n_chars) AS BIGINT) AS max_chars
      |FROM documents GROUP BY 1""".stripMargin

  // ── temperature-based source reweighting (training-mix sampling) ───────
  // Per-source sampling multipliers for a temperature-adjusted mix:
  // temp_share_s ∝ share_s^α (α = 0.5 upsamples rare sources), and
  // sample_weight = temp_share/share is the per-doc acceptance multiplier
  // a sampler applies. Totals reach each source row via tiny broadcast
  // cross-joins, never a global window.
  private val ReweightAlpha = 0.5

  private val sourceReweight: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val total = docs.agg(count(lit(1)).as("total"))
    val shared = counts.crossJoin(broadcast(total))
      .withColumn("share0", col("n_docs") / col("total"))
    val z = shared.agg(sum(pow(col("share0"), ReweightAlpha)).as("z"))
    shared.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        round(col("share0"), 6).as("share"),
        round(pow(col("share0"), ReweightAlpha) / col("z"), 6).as("temp_share"),
        round(pow(col("share0"), ReweightAlpha) / col("z") / col("share0"), 6)
          .as("sample_weight"))
  }

  private val sourceReweightSql =
    s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |t AS (SELECT count(*) AS total FROM documents),
       |sh AS (SELECT source, n_docs, CAST(n_docs AS DOUBLE) / total AS share0
       |       FROM c CROSS JOIN t),
       |z AS (SELECT sum(pow(share0, $ReweightAlpha)) AS z FROM sh)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |       round(share0, 6) AS share,
       |       round(pow(share0, $ReweightAlpha) / z, 6) AS temp_share,
       |       round(pow(share0, $ReweightAlpha) / z / share0, 6) AS sample_weight
       |FROM sh CROSS JOIN z""".stripMargin

  // ── language-ID heuristic ──────────────────────────────────────────────
  private val langId: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val hitCols = TextFunctions.langMarkers.map { case (l, ms) =>
      TextFunctions.markerHits(col("text"), ms).as(s"${l}_hits")
    }
    d.select((col("doc_id") +: col("lang").as("lang_labeled") +:
        TextFunctions.langGuess(col("text")).as("lang_guess") +: hitCols): _*)
  }

  private val langIdSql = {
    val markerIn = TextFunctions.langMarkers.map { case (l, ms) =>
      l -> ms.map(m => s"'$m'").mkString("(", ",", ")")
    }
    val hitAggs = markerIn.map { case (l, in) =>
      s"sum(CASE WHEN w IN $in THEN 1 ELSE 0 END) AS ${l}_hits"
    }.mkString(",\n             ")
    val langs = TextFunctions.langMarkers.map(_._1)
    // coalesce at the OUTER level so zero-token docs (absent from h after
    // the LEFT JOIN) read as 0 hits → 'und', matching Spark's row
    def hits(l: String) = s"coalesce(h.${l}_hits, 0)"
    val best = s"greatest(${langs.map(hits).mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN ${hits(l)} = $best THEN '$l'").mkString(" ")
    s"""WITH h AS (
       |  SELECT doc_id, $hitAggs
       |  FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY doc_id)
       |SELECT d.doc_id, d.lang AS lang_labeled,
       |       CASE WHEN $best = 0 THEN 'und' $caseArms ELSE 'und' END AS lang_guess,
       |       ${langs.map(l => s"CAST(${hits(l)} AS BIGINT) AS ${l}_hits").mkString(", ")}
       |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin
  }

  // ── fingerprinting ─────────────────────────────────────────────────────
  private val docFingerprint: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.wordSetFingerprint(col("text")).as("fp_set"))

  private val docFingerprintSql =
    """WITH ws AS (
      |  SELECT doc_id, md5(string_agg(DISTINCT w, '|' ORDER BY w)) AS fp_set
      |  FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY doc_id)
      |SELECT d.doc_id,
      |       md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
      |       coalesce(ws.fp_set, md5('')) AS fp_set
      |FROM documents d LEFT JOIN ws ON d.doc_id = ws.doc_id""".stripMargin

  // ── normalization pipeline: lower → strip punct → drop stopwords ───────
  private val Stopwords = Seq("the", "a", "of", "and", "is")

  private val textNormalize: Q = (s, dir) => {
    val toks = TextFunctions.tokens(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "))
    val kept = filter(toks, w => !w.isin(Stopwords.map(lit): _*))
    Tables.documents(s, dir).select(
      col("doc_id"),
      concat_ws(" ", kept).as("normalized"),
      size(kept).cast("long").as("n_kept"),
      md5(concat_ws(" ", kept)).as("norm_fp"))
  }

  private val textNormalizeSql = {
    val in = Stopwords.map(w => s"'$w'").mkString("(", ",", ")")
    // Row-local list-lambda replay: the prior unnest + string_agg(ORDER
    // BY i) form exploded 500 k docs into ~50 M token rows and rebuilt
    // every document inside a grouped sorted string aggregate — DuckDB
    // cannot spill that op and the 100x corpus OOM-poisoned the whole
    // campaign connection. list_filter preserves the split order, so
    // array_to_string over it is the same normalized text with zero row
    // amplification — the same row-local shape the Spark side computes.
    s"""SELECT doc_id,
       |       coalesce(array_to_string(kept, ' '), '') AS normalized,
       |       CAST(coalesce(len(kept), 0) AS BIGINT) AS n_kept,
       |       md5(coalesce(array_to_string(kept, ' '), '')) AS norm_fp
       |FROM (SELECT doc_id,
       |             list_filter(
       |               str_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
       |               w -> w <> '' AND w NOT IN $in) AS kept
       |      FROM documents)""".stripMargin
  }

  // ── cross-domain join: documents ⋈ embeddings (doc_id = vec_id) ────────
  private val docEmbeddingJoin: Q = (s, dir) => {
    import graft.operators.VectorOps
    Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        round(VectorOps.norm(col("embedding")), 6).as("emb_norm"))
  }

  private val docEmbeddingJoinSql =
    """SELECT doc_id, lang,
      |       (SELECT CAST(count(*) AS BIGINT)
      |        FROM unnest(str_split(d.text, ' ')) AS t(w) WHERE w <> '') AS n_tokens,
      |       round(sqrt((SELECT sum(v * v) FROM
      |         unnest(CAST(e.embedding AS DOUBLE[])) AS u(v))), 6) AS emb_norm
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin

  // ── generator/UDTF surface: positional token explode ───────────────────
  private val explodeTokens: Q = (s, dir) =>
    Tables.documents(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))

  // positions are renumbered AFTER the empty-token filter so they match
  // Spark's posexplode over the filtered array (multi-space texts would
  // otherwise diverge)
  private val explodeTokensSql =
    """SELECT doc_id,
      |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT) AS pos,
      |       w AS token
      |FROM (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      |      FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      |            WHERE doc_id < 50))
      |WHERE w <> ''""".stripMargin

  // ── array-function surface over token arrays ───────────────────────────
  private val arrayFuncs: Q = (s, dir) => {
    val ts = TextFunctions.tokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      concat_ws(" ", slice(ts, 1, 5)).as("first5"),
      array_contains(ts, "spark").as("has_spark"),
      try_element_at(ts, lit(-1)).as("last_token"),
      size(array_distinct(ts)).cast("long").as("n_distinct"),
      concat_ws(" ", reverse(slice(ts, 1, 3))).as("first3_reversed"))
  }

  private val arrayFuncsSql =
    """WITH t AS (SELECT doc_id,
      |                  list_filter(str_split(text, ' '), w -> w <> '') AS ws
      |           FROM documents)
      |SELECT doc_id,
      |       array_to_string(list_slice(ws, 1, 5), ' ') AS first5,
      |       list_contains(ws, 'spark') AS has_spark,
      |       ws[-1] AS last_token,
      |       CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
      |       array_to_string(list_reverse(list_slice(ws, 1, 3)), ' ') AS first3_reversed
      |FROM t""".stripMargin

  // ── TF-IDF: top terms per document ─────────────────────────────────────
  // tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed);
  // top-5 terms per doc by rounded score, term tiebreak.
  private val tfidfTopTerms: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // FanOut: the tokenize + explode kernel runs single-task fused into
    // a single-row-group scan otherwise (Profile r15)
    val toks = graft.operators.FanOut.bySize(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
    val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    // tf is already one row per (doc, term): derive document frequency
    // from it instead of re-exploding + distinct-ing the corpus
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n"))
    val scored = tf.join(broadcast(df), Seq("w")).crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("w"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("w").as("term"), col("tfidf"),
        col("rnk").cast("long").as("rnk"))
  }

  private val tfidfTopTermsSql =
    """WITH toks AS (SELECT doc_id, w
      |              FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)
      |              WHERE w <> ''),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |scored AS (SELECT doc_id, tf.w,
      |                  round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
      |           FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
      |SELECT doc_id, w AS term, tfidf, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                   ORDER BY tfidf DESC, w) AS rnk
      |      FROM scored)
      |WHERE rnk <= 5""".stripMargin

  // ── rolling-hash document fingerprint (Rabin–Karp) ─────────────────────
  // The polynomial rolling hash h = (h·B + code(c)) mod P over the char
  // stream — the incremental-fingerprint primitive (content chunking,
  // shift-resistant dedup anchors). One codegen'd `aggregate` over the
  // char array; no shuffle, no UDF. Oracle seeds DuckDB's first-element
  // list_reduce with a prepended sentinel so both engines run the exact
  // left fold (validated value-identical incl. empty docs).
  private val RkB = 31L
  private val RkP = 1000000007L

  private val rollingHashFingerprint: Q = (s, dir) =>
    // FanOut: the whole-text char fold fused into a single-row-group scan
    // ran on one core (Profile r15: 1 job, 1 task, 1.7 s execSum = wall)
    graft.operators.FanOut.bySize(Tables.documents(s, dir), col("doc_id")).select(col("doc_id"),
      TextFunctions.rollingHash(col("text"), RkB, RkP).as("rk_hash"),
      length(col("text")).cast("long").as("n_chars"))

  private val rollingHashFingerprintSql =
    s"""SELECT doc_id,
       |       CASE WHEN length(text) = 0 THEN 0
       |            ELSE CAST(list_reduce(list_prepend('', str_split(text, '')),
       |                 (acc, c) -> ((CASE WHEN acc = '' THEN 0
       |                               ELSE CAST(acc AS BIGINT) END) * $RkB
       |                              + ascii(c)) % $RkP) AS BIGINT) END AS rk_hash,
       |       CAST(length(text) AS BIGINT) AS n_chars
       |FROM documents""".stripMargin

  // ── BM25 relevance scoring ─────────────────────────────────────────────
  // The standard retrieval score a data pipeline uses for query-based
  // corpus filtering ("keep docs relevant to X"): per (doc, query-term)
  //   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)        (Robertson-Sparck)
  //   s(d,t) = idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))
  // summed over the fixed query. Scale shape: the term filter lands
  // BEFORE the tf aggregate (only query-term rows shuffle), per-term df
  // and the (N, avgdl) scalars broadcast — the fact side shuffles once.
  private val Bm25K1 = 1.2
  private val Bm25B  = 0.75
  private val Bm25Query = Seq("spark", "join", "vector")

  private val bm25Scores: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val dl = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s", col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
        (col("tf") + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
  }

  private val bm25ScoresSql = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, w
       |              FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)
       |              WHERE w <> ''),
       |dl AS (SELECT d.doc_id, coalesce(t.c, 0) AS dl
       |       FROM documents d LEFT JOIN
       |            (SELECT doc_id, count(*) AS c FROM toks GROUP BY 1) t
       |            ON d.doc_id = t.doc_id),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |       WHERE w IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (SELECT tf.doc_id,
       |                  ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |                    * tf * ($Bm25K1 + 1.0)
       |                    / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl / avgdl)) AS s
       |           FROM tf JOIN df ON tf.w = df.w
       |                   JOIN dl ON tf.doc_id = dl.doc_id
       |                   CROSS JOIN stats)
       |SELECT doc_id, round(sum(s), 6) AS bm25,
       |       CAST(count(*) AS BIGINT) AS n_terms_hit
       |FROM scored GROUP BY 1""".stripMargin
  }

  // ── repetition score (n-gram repetition quality signal) ────────────────
  // 1 - unique_bigrams/bigrams: the standard "repetitive document" filter
  // in training-data pipelines (high ratio = boilerplate/spam). Join-free
  // single pass: both counts come from one materialized bigram array.
  private val repetitionScore: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ws"))
      .select(col("doc_id"), TextFunctions.shinglesOf(col("ws"), 2).as("bi"))
      .select(col("doc_id"),
        size(col("bi")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bi"))).cast("long").as("n_unique_bigrams"),
        when(size(col("bi")) > 0,
          round(lit(1.0) - size(array_distinct(col("bi"))).cast("double") /
            size(col("bi")), 6)).as("rep_ratio"))

  private val repetitionScoreSql =
    """WITH tok AS (SELECT doc_id, w, i FROM
      |             (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i
      |              FROM (SELECT doc_id, str_split(text,' ') AS ws FROM documents))
      |             WHERE w <> ''),
      |bi AS (SELECT doc_id, w || '_' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i) AS g
      |       FROM tok),
      |a AS (SELECT doc_id, count(*) AS nb, count(DISTINCT g) AS nu
      |      FROM bi WHERE g IS NOT NULL GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
      |       CAST(coalesce(nu, 0) AS BIGINT) AS n_unique_bigrams,
      |       CASE WHEN nb > 0 THEN round(1 - CAST(nu AS DOUBLE) / nb, 6) END AS rep_ratio
      |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin

  // ── PII detection / redaction ──────────────────────────────────────────
  // Standard pre-training scrub: count and mask emails, phone numbers, and
  // URLs. The fixture corpus contains none, so the query first plants
  // deterministic PII derived from doc_id (same enrichment in the oracle) —
  // the operator under test is the count+redact pass, which is pure
  // codegen'd regex (regexp_extract_all / regexp_replace), no UDF.
  // Patterns are kept to the Java-regex ∩ RE2 common dialect so Spark and
  // DuckDB compile identical automata.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\d{3}-\\d{4}"
  private val UrlRe   = "https?://\\S+"

  private val piiScrub: Q = (s, dir) => {
    val enriched = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" via https://ex.org/d/"), col("doc_id").cast("string"))
    Tables.documents(s, dir)
      .select(col("doc_id"), enriched.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("t"), lit(UrlRe), lit(0)))
          .cast("long").as("n_urls"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          UrlRe, "<URL>").as("redacted"))
  }

  private val piiScrubSql =
    s"""WITH e AS (SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR)
       |       || '@example.com or call 555-'
       |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |       || ' via https://ex.org/d/' || CAST(doc_id AS VARCHAR) AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$UrlRe')) AS BIGINT) AS n_urls,
       |  regexp_replace(regexp_replace(regexp_replace(
       |    t, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g'),
       |    '$UrlRe', '<URL>', 'g') AS redacted
       |FROM e""".stripMargin

  // ── count-min sketch heavy hitters ─────────────────────────────────────
  // Token heavy-hitters through a REAL count-min sketch: D=4 md5-derived
  // hash rows × W=256 buckets, estimate = min over rows of the bucket
  // count, top-20 terms by estimate. Unlike HLL/percentile_approx (rows-
  // only gate entries), CMS with FIXED hash functions is deterministic,
  // so the oracle replays the identical sketch in SQL and the gate
  // hash-checks estimate AND exact count side by side (est >= exact
  // always; equality when no bucket collision). Scale path: the sketch
  // table is D*W rows regardless of corpus size — mergeable across
  // partitions, broadcastable back for estimation.
  private val CmsD = 4
  private val CmsW = 256

  private def cmsBucket(i: Int, w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(i.toString), w)), 1, 8), 16, 10)
      .cast("long") % CmsW

  private val cmsTopkTerms: Q = (s, dir) => {
    // ONE corpus pass: the term-frequency aggregate. A bucket's sketch
    // count equals the exact_n-weighted sum over the distinct terms that
    // hash to it, so every stage below runs on the vocabulary, hashing
    // each term once — not once per occurrence per branch. Checkpointed
    // because 8 downstream branches (4 sketch rows + 4 estimation melts)
    // would otherwise each re-run the corpus aggregation.
    val tf = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("exact_n"))
      .localCheckpoint()
    val hashed = tf.select(
      (col("w") +: col("exact_n") +:
        (0 until CmsD).map(i => cmsBucket(i, col("w")).as(s"b$i"))): _*)
    // the sketch: one count per (row, bucket) — D*W rows total
    val sketch = (0 until CmsD).map { i =>
      hashed.groupBy(col(s"b$i").as("bucket"))
        .agg(sum(col("exact_n")).as("cnt")).withColumn("hrow", lit(i))
    }.reduce(_ unionByName _)
    val est = (0 until CmsD).map { i =>
      hashed.select(col("w"), col("exact_n"),
        lit(i).as("hrow"), col(s"b$i").as("bucket"))
    }.reduce(_ unionByName _)
      .join(broadcast(sketch), Seq("hrow", "bucket"))
      .groupBy(col("w"), col("exact_n"))
      .agg(min(col("cnt")).as("cms_est"))
    est.orderBy(col("cms_est").desc, col("w")).limit(20)
      .select(col("w").as("term"), col("cms_est"), col("exact_n"))
  }

  private val cmsTopkTermsSql = {
    val buckets = (0 until CmsD).map(i =>
      s"CAST(('0x' || substring(md5('$i' || w), 1, 8)) AS BIGINT) % $CmsW AS b$i")
      .mkString(",\n       ")
    val sketchSelects = (0 until CmsD).map(i =>
      s"SELECT $i AS hrow, b$i AS bucket, count(*) AS cnt FROM h GROUP BY 2")
      .mkString("\n  UNION ALL ")
    val estSelects = (0 until CmsD).map(i =>
      s"SELECT w, exact_n, $i AS hrow, b$i AS bucket FROM t")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT w FROM
       |              (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
       |              WHERE w <> ''),
       |h AS (SELECT w,
       |       $buckets
       |      FROM toks),
       |sk AS (
       |  $sketchSelects),
       |t AS (SELECT w, ${(0 until CmsD).map(i => s"b$i").mkString(", ")},
       |             count(*) AS exact_n
       |      FROM h GROUP BY ALL),
       |e AS (
       |  $estSelects),
       |est AS (SELECT w, exact_n, min(cnt) AS cms_est
       |        FROM e JOIN sk USING (hrow, bucket)
       |        GROUP BY 1, 2)
       |SELECT w AS term, CAST(cms_est AS BIGINT) AS cms_est,
       |       CAST(exact_n AS BIGINT) AS exact_n
       |FROM est ORDER BY cms_est DESC, w LIMIT 20""".stripMargin
  }

  // ── shard packing (token-budget sequential binning) ────────────────────
  // Pack docs (in doc_id order) into training shards of ~ShardBudget
  // tokens: shard = which budget-multiple the doc's cumulative START falls
  // in. The running total comes from operators.PrefixSum — two narrow
  // passes, NO single-partition global window (see its scaladoc); the
  // oracle is the plain global-window form, so the gate proves the
  // distributed decomposition is value-identical to it.
  private val ShardBudget = 2048L

  private val shardPacking: Q = (s, dir) => {
    val weighted = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.PrefixSum
      .withRunningTotal(weighted, "doc_id", "n_tokens", "cum_tokens")
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div $ShardBudget").as("shard_id"))
  }

  private val shardPackingSql =
    s"""WITH t AS (SELECT doc_id, count(*) FILTER (WHERE w <> '') AS n_tokens
       |           FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w
       |                 FROM documents)
       |           GROUP BY doc_id),
       |a AS (SELECT d.doc_id, coalesce(t.n_tokens, 0) AS n_tokens
       |      FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id),
       |c AS (SELECT doc_id, n_tokens,
       |             sum(n_tokens) OVER (ORDER BY doc_id
       |                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |      FROM a)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |       CAST((cum_tokens - n_tokens) // $ShardBudget AS BIGINT) AS shard_id
       |FROM c""".stripMargin

  /** Sequence packing (concat-and-chunk): docs laid end-to-end in id
    * order, the token stream cut into ShardBudget-token sequences, one
    * span row per (doc, sequence) overlap — docs SPLIT across sequence
    * boundaries, the real pretraining packing shape (`shard_packing`
    * bins whole docs). Oracle recomputes the running total as a global
    * window + a range unnest per doc, so the gate again proves the
    * PrefixSum decomposition + row-local span fan-out value-identical
    * to the single-partition form. */
  private val packSequences: Q = (s, dir) => {
    val weighted = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.Packing
      .packSequences(weighted, "doc_id", "n_tokens", ShardBudget)
  }

  private val packSequencesSql =
    s"""WITH t AS (SELECT doc_id, count(*) FILTER (WHERE w <> '') AS n_tokens
       |           FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w
       |                 FROM documents)
       |           GROUP BY doc_id),
       |a AS (SELECT d.doc_id, coalesce(t.n_tokens, 0) AS n_tokens
       |      FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id),
       |c AS (SELECT doc_id, n_tokens,
       |             sum(n_tokens) OVER (ORDER BY doc_id
       |                                 ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM a WHERE n_tokens > 0),
       |sp AS (SELECT doc_id, n_tokens, cum - n_tokens AS s, cum AS e,
       |              unnest(range(CAST((cum - n_tokens) // $ShardBudget AS BIGINT),
       |                           CAST((cum - 1) // $ShardBudget + 1 AS BIGINT))) AS seq_id
       |       FROM c)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(seq_id AS BIGINT) AS seq_id,
       |       CAST(greatest(s, seq_id * $ShardBudget) - s AS BIGINT) AS doc_offset,
       |       CAST(greatest(s, seq_id * $ShardBudget)
       |            - seq_id * $ShardBudget AS BIGINT) AS seq_offset,
       |       CAST(least(e, (seq_id + 1) * $ShardBudget)
       |            - greatest(s, seq_id * $ShardBudget) AS BIGINT) AS span_len
       |FROM sp""".stripMargin

  // ── end-to-end training-data pipeline composition ──────────────────────
  // The capstone "library composes" query: quality-filter → exact dedup
  // (keep min doc_id per canonical fingerprint) → token count → pack the
  // survivors into token-budget shards. Every stage is an operator gated
  // on its own elsewhere; the oracle chains the same stages as CTEs, so
  // the gate checks the COMPOSITION end to end, not just the parts.
  private val pipelineEndToEnd: Q = (s, dir) => {
    val kept = Tables.documents(s, dir)
      .join(qualityFilter(s, dir).filter(col("keep")).select("doc_id"), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val deduped = kept
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val weighted = deduped.select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.PrefixSum
      .withRunningTotal(weighted, "doc_id", "n_tokens", "cum_tokens")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum_tokens - n_tokens) div $ShardBudget").as("shard_id"))
  }

  private val pipelineEndToEndSql =
    s"""WITH q AS ($qualityFilterSql),
       |kept AS (SELECT d.doc_id, d.text
       |         FROM documents d JOIN q ON d.doc_id = q.doc_id WHERE q.keep),
       |dd AS (SELECT doc_id, text FROM (
       |         SELECT doc_id, text, row_number() OVER (
       |           PARTITION BY md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
       |           ORDER BY doc_id) AS rn
       |         FROM kept) WHERE rn = 1),
       |t AS (SELECT doc_id, count(*) FILTER (WHERE w <> '') AS n_tokens
       |      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM dd)
       |      GROUP BY doc_id),
       |a AS (SELECT dd.doc_id, coalesce(t.n_tokens, 0) AS n_tokens
       |      FROM dd LEFT JOIN t ON dd.doc_id = t.doc_id),
       |c AS (SELECT doc_id, n_tokens,
       |             sum(n_tokens) OVER (ORDER BY doc_id
       |                                 ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM a)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST((cum - n_tokens) // $ShardBudget AS BIGINT) AS shard_id
       |FROM c""".stripMargin

  // ── full curation pipeline composition (4th end-to-end gate) ───────────
  /** The complete LLM-corpus curation pass as ONE query, chaining the
    * five gated families the way a production pipeline runs them:
    * (1) near-dup removal — MinHash LSH pair mining → connected
    * components → canonical keep (byte-longest per cluster, singletons
    * keep; `canonical_docs`); (2) benchmark decontamination — probe set
    * = every 10th doc, train docs sharing any distinct word-8-gram hash
    * with it drop, probe docs themselves never enter the corpus
    * (`decontaminate_ngrams`); (3) C4-style quality filter
    * (`quality_filter`); (4) DSIR importance weights computed over the
    * FULL corpus (the raw/target bucket distributions are corpus-level
    * statistics — survivors-only distributions would shift as upstream
    * stages change; `dsir_importance`) attached to survivors; (5)
    * sequence packing of survivors into 2048-token training sequences
    * with split spans (`pack_sequences`). Scale shape: every stage keeps
    * its gated plan — LSH candidates ∝ true pairs, the probe hash set
    * broadcasts, components iterate on the pair relation (near-dup-family
    * sized, not corpus sized), the DSIR ratio table is 64 rows broadcast,
    * and packing is the PrefixSum decomposition — the composition adds
    * only id-cardinality semi-joins between stages. The oracle chains the
    * SAME stages as CTEs, so the gate checks the composition end to end. */
  private val pipelineCuration: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // Stages 1 (components loop), 3 (GD training) and 4 (gram
    // materialization) each run INTERNAL actions at construction time
    // (loop rounds / training rounds / localCheckpoint) and are mutually
    // independent — construct them concurrently so each stage's tail
    // back-fills the others' idle cores (optimization guide §2.6
    // "overlap independent jobs"); every stage is deterministic, so the
    // composed result is unchanged.
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // `blocking`: each future parks its thread on long Spark actions —
    // mark the bodies so the global pool can compensate instead of
    // starving under nested/parallel use (r15 advice)
    // 1. near-dup canonical keep
    val fCanon = Future(blocking {
      val pairs = wordLshPairs(docs)
      val labels = DedupOps.connectedComponents(pairs.select(col("d1"), col("d2")))
      DedupOps.canonicalPerCluster(labels, docs,
          col("doc_id"), octet_length(col("text")).cast("long"))
        .filter(col("is_canonical")).select("doc_id")
    })
    // 3. quality keep
    val fQuality = Future(blocking {
      qualityFilter(s, dir).filter(col("keep")).select("doc_id")
    })
    // 4. corpus-level DSIR weights
    val fDsir = Future(blocking {
      graft.operators.Dsir.hashedNgramLogWeights(
        docs, "doc_id", "text", col("lang") === "en", DsirBuckets, DsirAlpha)
    })
    // 2. decontamination (train side only — probe docs never pass);
    // fully lazy (no construction-time actions), built inline
    val clean = DedupOps.ngramOverlap(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), DecontamN)
      .filter(!col("contaminated")).select("doc_id")
    val canon = Await.result(fCanon, Duration.Inf)
    val quality = Await.result(fQuality, Duration.Inf)
    val dsir = Await.result(fDsir, Duration.Inf)
    // survivors = canon ∩ clean ∩ quality
    val kept = docs.select(col("doc_id"), col("text"))
      .join(canon, "doc_id").join(clean, "doc_id").join(quality, "doc_id")
    // 5. pack survivors into training sequences, weights carried along
    val weighted = kept.select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.Packing
      .packSequences(weighted, "doc_id", "n_tokens", ShardBudget)
      .join(dsir.select(col("doc_id"), col("dsir_logw")), "doc_id")
  }

  private lazy val pipelineCurationSql =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  ${minhashLshPairsSql.replace("\n", "\n  ")}
       |),
       |e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
       |      UNION SELECT d2, d1 FROM pairs),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |reach(node, lbl) AS (
       |  SELECT node, node FROM n
       |  UNION
       |  SELECT e.src, reach.lbl FROM e JOIN reach ON reach.node = e.dst),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1),
       |canon AS (SELECT doc_id FROM (
       |  SELECT d.doc_id, row_number() OVER (
       |           PARTITION BY coalesce(lab.cluster_id, d.doc_id)
       |           ORDER BY strlen(d.text) DESC, d.doc_id) AS rn
       |  FROM documents d LEFT JOIN lab ON lab.node = d.doc_id) WHERE rn = 1),
       |decon AS (
       |  ${decontaminateNgramsSql.replace("\n", "\n  ")}
       |),
       |clean AS (SELECT doc_id FROM decon WHERE NOT contaminated),
       |q AS (
       |  ${qualityFilterSql.replace("\n", "\n  ")}
       |),
       |qk AS (SELECT doc_id FROM q WHERE keep),
       |ds AS (
       |  ${dsirImportanceSql.replace("\n", "\n  ")}
       |),
       |kept AS (SELECT d.doc_id, d.text FROM documents d
       |         JOIN canon USING (doc_id)
       |         JOIN clean USING (doc_id)
       |         JOIN qk USING (doc_id)),
       |pt AS (SELECT doc_id, count(*) FILTER (WHERE w <> '') AS n_tokens
       |       FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM kept)
       |       GROUP BY doc_id),
       |pa AS (SELECT kept.doc_id, coalesce(pt.n_tokens, 0) AS n_tokens
       |       FROM kept LEFT JOIN pt ON kept.doc_id = pt.doc_id),
       |pc AS (SELECT doc_id, n_tokens,
       |              sum(n_tokens) OVER (ORDER BY doc_id
       |                                  ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM pa WHERE n_tokens > 0),
       |sp AS (SELECT doc_id, n_tokens, cum - n_tokens AS s, cum AS e,
       |              unnest(range(CAST((cum - n_tokens) // $ShardBudget AS BIGINT),
       |                           CAST((cum - 1) // $ShardBudget + 1 AS BIGINT))) AS seq_id
       |       FROM pc)
       |SELECT sp.doc_id, CAST(sp.n_tokens AS BIGINT) AS n_tokens,
       |       CAST(sp.seq_id AS BIGINT) AS seq_id,
       |       CAST(greatest(sp.s, sp.seq_id * $ShardBudget) - sp.s AS BIGINT)
       |         AS doc_offset,
       |       CAST(greatest(sp.s, sp.seq_id * $ShardBudget)
       |            - sp.seq_id * $ShardBudget AS BIGINT) AS seq_offset,
       |       CAST(least(sp.e, (sp.seq_id + 1) * $ShardBudget)
       |            - greatest(sp.s, sp.seq_id * $ShardBudget) AS BIGINT) AS span_len,
       |       ds.dsir_logw
       |FROM sp JOIN ds ON ds.doc_id = sp.doc_id""".stripMargin

  // ── higher-order array functions (lambda surface) ──────────────────────
  // filter/transform/aggregate/exists as first-class gated ops — both
  // engines evaluate real lambdas (DuckDB list_* equivalents). Tokens are
  // materialized in their own projection first: a lambda re-evaluates
  // captured subexpressions PER ELEMENT (the measured O(tokens²) trap).
  private val hofFuncs: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        size(filter(col("ws"), w => length(w) > 4)).cast("long")
          .as("n_long_tokens"),
        aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (a, v) => a + v).as("total_chars"),
        exists(col("ws"), w => w === "spark").as("has_spark"))

  private val hofFuncsSql =
    """WITH t AS (SELECT doc_id,
      |                  list_filter(str_split(text, ' '), w -> w <> '') AS ws
      |           FROM documents)
      |SELECT doc_id,
      |       CAST(len(list_filter(ws, w -> length(w) > 4)) AS BIGINT) AS n_long_tokens,
      |       CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT)
      |         AS total_chars,
      |       list_contains(ws, 'spark') AS has_spark
      |FROM t""".stripMargin

  // ── map functions (MapType surface) ────────────────────────────────────
  // map_from_arrays / map_keys / element_at / map_filter over a
  // deterministically-built map (first 3 sorted distinct tokens → length).
  // The oracle derives the same VALUES from the sorted token list —
  // MapType is a Spark-side shape; the cross-engine contract is on the
  // scalars extracted from it (map iteration order = insertion order =
  // sorted, which is what makes first_key well-defined).
  private val mapFuncs: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        slice(array_sort(array_distinct(col("ws"))), 1, 3).as("ks"))
      .select(col("doc_id"),
        map_from_arrays(col("ks"),
          transform(col("ks"), k => length(k).cast("long"))).as("m"),
        col("ks"))
      .select(col("doc_id"),
        size(map_keys(col("m"))).cast("long").as("n_keys"),
        try_element_at(map_keys(col("m")), lit(1)).as("first_key"),
        when(size(col("ks")) > 0,
          element_at(col("m"), element_at(col("ks"), 1))).as("first_len"),
        size(map_filter(col("m"), (_, v) => v > 3)).cast("long")
          .as("n_long_keys"))

  private val mapFuncsSql =
    """WITH t AS (SELECT doc_id,
      |                  list_sort(list_distinct(
      |                    list_filter(str_split(text, ' '), w -> w <> ''))) AS ds
      |           FROM documents),
      |k AS (SELECT doc_id, ds[1:3] AS ks FROM t)
      |SELECT doc_id, CAST(len(ks) AS BIGINT) AS n_keys,
      |       ks[1] AS first_key,
      |       CAST(CASE WHEN len(ks) > 0 THEN length(ks[1]) END AS BIGINT) AS first_len,
      |       CAST(len(list_filter(ks, x -> length(x) > 3)) AS BIGINT) AS n_long_keys
      |FROM k""".stripMargin

  // ── global bigram counts (n-gram frequency table) ──────────────────────
  private val bigramCounts: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(TextFunctions.tokens(col("text")).as("ws"))
      .select(explode(TextFunctions.shinglesOf(col("ws"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  private val bigramCountsSql =
    """WITH tok AS (SELECT doc_id, w, i FROM
      |             (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i
      |              FROM (SELECT doc_id, str_split(text,' ') AS ws FROM documents))
      |             WHERE w <> ''),
      |bi AS (SELECT w || '_' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS bigram
      |       FROM tok)
      |SELECT bigram, CAST(count(*) AS BIGINT) AS n
      |FROM bi WHERE bigram IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  // ── exact substring dedup: maximal cross-doc repeated spans ────────────
  // Word-8-gram occurrences shared by ≥ 2 docs, merged per doc into
  // maximal spans (operators.DedupOps.repeatedSpans — the Lee-et-al-style
  // substring-granularity dedup that catches verbatim boilerplate between
  // docs that are NOT near-duplicates of each other).
  private val SpanN = 8
  private val repeatedSpansQ: Q = (s, dir) =>
    graft.operators.DedupOps.repeatedSpans(
      Tables.documents(s, dir), col("doc_id"), col("text"), SpanN)

  private val repeatedSpansSql = {
    val gram = (1 until SpanN)
      .map(k => s"lead(w, $k) OVER wd").mkString("w || '_' || ", " || '_' || ", "")
    s"""WITH tok AS (SELECT doc_id, w,
       |                    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
       |             FROM (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
       |                   FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents))
       |             WHERE w <> ''),
       |g AS (SELECT doc_id, pos, $gram AS gram
       |      FROM tok WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
       |grams AS (SELECT doc_id, pos,
       |                 CAST(('0x' || substring(md5(gram), 1, 10)) AS BIGINT) AS h
       |          FROM g WHERE gram IS NOT NULL),
       |rep AS (SELECT h FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |marks AS (SELECT doc_id, pos AS s, pos + ${SpanN - 1} AS e
       |          FROM grams JOIN rep USING (h)),
       |mk AS (SELECT doc_id, s, e,
       |              CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |                   THEN 1 ELSE 0 END AS brk
       |       FROM marks),
       |mg AS (SELECT doc_id, s, e,
       |              sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM mk)
       |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
       |       CAST(max(e) AS BIGINT) AS span_end,
       |       CAST(count(*) AS BIGINT) AS n_grams
       |FROM mg GROUP BY doc_id, grp""".stripMargin
  }

  // ── n-gram LM quality score (model-free perplexity filter) ─────────────
  // The KenLM-style quality signal pipelines run before training: score
  // each document by the mean log-probability of its bigram transitions
  // under a bigram LM with add-α smoothing trained on the corpus itself:
  //   P(w2 | w1) = (c(w1,w2) + α) / (c(w1·) + α·V)
  // Low scores mark gibberish / OCR noise (improbable transitions), very
  // high scores mark boilerplate. Scale shape: bigram fan-out is row-local
  // (arrays_zip of two slices — no window, no per-doc shuffle), both count
  // tables come from map-side-combinable groupBys, the context total
  // c(w1·) is the row-sum of the bigram table (vocab-bounded, never a
  // second corpus pass), the vocab scalar broadcasts; the corpus shuffles
  // once on the bigram key for the probability lookup.
  private val LmAlpha = 0.5
  private val ngramLmScore: Q = (s, dir) =>
    graft.operators.LmScore.bigramLmScore(
      Tables.documents(s, dir), "doc_id", "text", LmAlpha)

  private val ngramLmScoreSql =
    s"""WITH tok AS (SELECT doc_id, w, i FROM
       |             (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
       |              FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents))
       |             WHERE w <> ''),
       |bi AS (SELECT doc_id, w1, w2 FROM
       |       (SELECT doc_id, w AS w1,
       |               lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM tok)
       |       WHERE w2 IS NOT NULL),
       |cb AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
       |cu AS (SELECT w1, sum(c12) AS c1 FROM cb GROUP BY 1),
       |v AS (SELECT count(DISTINCT w) AS vocab FROM tok),
       |per_doc AS (SELECT doc_id, count(*) AS nb,
       |                   avg(ln((c12 + $LmAlpha) / (c1 + $LmAlpha * vocab))) AS lp
       |            FROM bi JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
       |            GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
       |       round(coalesce(lp, 0.0), 6) AS lm_score
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin

  // ── DSIR importance weighting (hashed-n-gram target/raw log-ratio) ─────
  // Data selection for pretraining (Xie et al. 2023): score every doc by
  // how target-like its hashed-bigram distribution is — here the target
  // domain is the corpus' English slice. One corpus pass builds BOTH
  // distributions (conditional sum inside one bucket groupBy), the
  // 64-row ratio table broadcasts, and the per-doc sum is one shuffle on
  // doc_id. Bucket assignment uses the md5-prefix 40-bit convention so
  // DuckDB replays the hash bit-for-bit.
  private val DsirBuckets = 64
  private val DsirAlpha = 0.5
  private val dsirImportance: Q = (s, dir) =>
    graft.operators.Dsir.hashedNgramLogWeights(
      Tables.documents(s, dir), "doc_id", "text",
      col("lang") === "en", DsirBuckets, DsirAlpha)

  private val dsirImportanceSql =
    s"""WITH tok AS (SELECT doc_id, lang, w, i FROM
       |             (SELECT doc_id, lang, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
       |              FROM (SELECT doc_id, lang, str_split(text, ' ') AS ws FROM documents))
       |             WHERE w <> ''),
       |bi AS (SELECT doc_id, t,
       |              CAST(('0x' || substring(md5(w1 || ' ' || w2), 1, 10)) AS BIGINT)
       |                % $DsirBuckets AS b
       |       FROM (SELECT doc_id, lang = 'en' AS t, w AS w1,
       |                    lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM tok)
       |       WHERE w2 IS NOT NULL),
       |cnt AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct, count(*) AS cr
       |        FROM bi GROUP BY 1),
       |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM cnt),
       |lr AS (SELECT b, ln((ct + $DsirAlpha) / (tt + $DsirAlpha * $DsirBuckets))
       |               - ln((cr + $DsirAlpha) / (tr + $DsirAlpha * $DsirBuckets)) AS lr
       |       FROM cnt CROSS JOIN tot),
       |per_doc AS (SELECT doc_id, count(*) AS ng, round(sum(lr), 6) AS logw
       |            FROM bi JOIN lr USING (b) GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(ng, 0) AS BIGINT) AS n_grams,
       |       coalesce(logw, 0.0) AS dsir_logw
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin

  // ── weighted reservoir sampling (Efraimidis–Spirakis) ──────────────────
  // Deterministic weighted subsampling: each doc gets key u^(1/w) with
  // u ∈ (0,1] hash-derived from its id and w = n_chars; the top-k by key
  // IS a weighted sample without replacement (E–S 2006, public). Fully
  // distributed: the key is a row-local projection, the top-20 goes
  // through TakeOrderedAndProject (k rows per partition, no global
  // sort) — the shape that picks 1M docs from 100 TB in one pass. The
  // key is rounded to 9 dp before ranking with an id tiebreak so pow's
  // last-ulp differences across engines can't flip an order.
  // Planted-heavy convention (as in the dedup gates): every 500th doc is
  // re-ingested under a shifted id with an effectively unbounded weight,
  // whose key u^(1/w) rounds to exactly 1.0 — so the hash check proves
  // weight DOMINANCE structurally (heavies always outrank naturals),
  // not just that both engines replay the same formula. The fixture's
  // own length spread is too narrow for a 20-doc sample to show bias
  // statistically.
  // ── BPE merge training (tokenizer training at corpus scale) ───────────
  // Greedy byte-pair-encoding over the normalized word vocabulary
  // (operators.BpeTrain): the corpus is read once for the word-count
  // groupBy, then every merge round runs on the vocab — pair fan-out
  // row-local, winner a 1-row broadcast with a deterministic
  // count-desc/pair-asc tie-break, merge applied via the space-doubling
  // replace sandwich (BPE's exact greedy semantics, portable literal
  // string ops in both engines). The oracle replays all rounds as
  // chained CTEs.
  private val BpeRounds = 4

  /** The shared training CTE chain: words → vocab0 → (pairs/best/vocab)×k.
    * Every vocab CTE carries the word so the encode oracle can join back. */
  private def bpeCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""pairs$r AS (SELECT s[i] || ' ' || s[i+1] AS pair, sum(cnt) AS cnt
         |  FROM (SELECT string_split(trim(sym), ' ') AS s, cnt FROM vocab${r - 1}) v,
         |       unnest(generate_series(1, len(v.s) - 1)) AS t(i)
         |  GROUP BY 1),
         |best$r AS (SELECT pair, cnt FROM pairs$r ORDER BY cnt DESC, pair LIMIT 1),
         |vocab$r AS (SELECT w, replace(replace(replace(sym, ' ', '  '),
         |                     ' ' || (SELECT replace(pair, ' ', '  ') FROM best$r) || ' ',
         |                     ' ' || (SELECT replace(pair, ' ', '') FROM best$r) || ' '),
         |                   '  ', ' ') AS sym, cnt
         |            FROM vocab${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, count(*) AS cnt FROM
       |    (SELECT unnest(str_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |                             ' ')) AS w
       |     FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |vocab0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS sym,
       |                  cnt FROM words),
       |$rounds""".stripMargin
  }

  private val bpeMergesQ: Q = (s, dir) =>
    graft.operators.BpeTrain.bpeMerges(Tables.documents(s, dir), "text", BpeRounds)

  private val bpeMergesSql: String = {
    val sel = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS step, pair, replace(pair, ' ', '') AS merged, " +
        s"CAST(cnt AS BIGINT) AS cnt FROM best$r").mkString("\nUNION ALL ")
    s"""WITH $bpeCtes
       |$sel""".stripMargin
  }

  // ── BPE encode (trained merges applied back to the corpus) ────────────
  // The companion pass: a word's post-merge symbol count is a VOCAB
  // property, so encoding is one corpus word-count pass joined to the
  // trained vocab — no per-document merge replay. Docs with no alnum
  // words keep (0, 0) via the LEFT join.
  private val bpeEncodeQ: Q = (s, dir) =>
    graft.operators.BpeTrain.bpeEncode(
      Tables.documents(s, dir), "doc_id", "text", BpeRounds)

  private val bpeEncodeSql: String =
    s"""WITH $bpeCtes,
       |enc AS (SELECT w, len(string_split(trim(sym), ' ')) AS nsym FROM vocab$BpeRounds),
       |tok AS (SELECT doc_id, w, count(*) AS c FROM
       |        (SELECT doc_id,
       |                unnest(str_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |                                 ' ')) AS w
       |         FROM documents)
       |        WHERE w <> '' GROUP BY 1, 2),
       |per_doc AS (SELECT doc_id, sum(c) AS n_words, sum(c * nsym) AS n_tokens
       |            FROM tok JOIN enc USING (w) GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       |       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin

  // ── learned quality scoring (logistic regression, full-batch GD) ──────
  // The fastText/CCNet-style trained quality filter
  // (operators.QualityClassifier): hashed bag-of-words features in a
  // fixed 64-bucket space, two GD rounds against the corpus' own en-flag
  // as the stand-in positive class, then every doc scored under the
  // final weights. 6-dp per-round rounding (the kmeans Lloyd's
  // convention) makes training oracle-replayable; the oracle chains both
  // rounds as CTEs.
  private val QcBuckets = 64
  private val QcLr = 1.0
  private val QcRounds = 2
  private val qualityLrScore: Q = (s, dir) =>
    graft.operators.QualityClassifier.logRegQualityScores(
      Tables.documents(s, dir), "doc_id", "text",
      col("lang") === "en", QcBuckets, QcLr, QcRounds)

  private val qualityLrScoreSql: String = {
    val rounds = (1 to QcRounds).map { r =>
      s"""z$r AS (SELECT doc_id,
         |    round(CAST(sum(CAST(round(tf * wt * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS z
         |  FROM db JOIN w${r - 1} USING (b) GROUP BY 1),
         |p$r AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p FROM z$r),
         |g$r AS (SELECT b,
         |    round(round(CAST(sum(CAST(round(tf * (p - y) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 6)
         |          / (SELECT ndocs FROM nt), 6) AS g
         |  FROM db JOIN p$r USING (doc_id) GROUP BY 1),
         |w$r AS (SELECT w.b, round(wt - $QcLr * coalesce(g, 0.0), 6) AS wt
         |  FROM w${r - 1} w LEFT JOIN g$r USING (b))""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (SELECT doc_id, y, w FROM
       |             (SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y,
       |                     unnest(str_split(text, ' ')) AS w FROM documents)
       |             WHERE w <> ''),
       |nd AS (SELECT doc_id, y, count(*) AS n FROM tok GROUP BY 1, 2),
       |db AS (SELECT doc_id, y, n, b, CAST(count(*) AS DOUBLE) / n AS tf FROM
       |       (SELECT t.doc_id, t.y, nd.n,
       |               CAST(('0x' || substring(md5(w), 1, 10)) AS BIGINT) % $QcBuckets AS b
       |        FROM tok t JOIN nd USING (doc_id, y))
       |       GROUP BY 1, 2, 3, 4),
       |nt AS (SELECT count(DISTINCT doc_id) AS ndocs FROM db),
       |w0 AS (SELECT unnest(generate_series(0, ${QcBuckets - 1})) AS b, 0.0 AS wt),
       |$rounds,
       |zf AS (SELECT doc_id, n,
       |         round(CAST(sum(CAST(round(tf * wt * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS z
       |       FROM db JOIN w$QcRounds USING (b) GROUP BY 1, 2)
       |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_words,
       |       coalesce(round(1.0 / (1.0 + exp(-z)), 4), 0.5) AS lr_score
       |FROM documents d LEFT JOIN zf USING (doc_id)""".stripMargin
  }

  private val EsK = 20
  private val weightedSampleTopk: Q = (s, dir) => {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val planted = base.filter(col("doc_id") % 500 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        lit(1000000000L).as("n_chars"))
    base.unionByName(planted)
      .select(col("doc_id"), col("n_chars"),
        round(pow(
          (conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))),
            1, 10), 16, 10).cast("double") + 1.0) / 1099511627776.0,
          lit(1.0) / col("n_chars")), 9).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(EsK)
  }

  private val weightedSampleTopkSql =
    s"""WITH corpus AS (SELECT doc_id, n_chars FROM documents
       |                UNION ALL
       |                SELECT doc_id + 2000000, CAST(1000000000 AS BIGINT)
       |                FROM documents WHERE doc_id % 500 = 0)
       |SELECT doc_id, n_chars,
       |       round(pow((CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 10))
       |                   AS BIGINT) + 1.0) / 1099511627776.0,
       |                 1.0 / n_chars), 9) AS es_key
       |FROM corpus
       |ORDER BY es_key DESC, doc_id
       |LIMIT $EsK""".stripMargin

  // ── deterministic dataset split + stratified sample ────────────────────
  private val datasetSplit: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      graft.functions.Sampling.split(col("doc_id")).as("split"))

  private val datasetSplitSql = {
    val b = graft.functions.Sampling.bucket100Sql("doc_id")
    s"""SELECT doc_id,
       |       CASE WHEN $b < 80 THEN 'train'
       |            WHEN $b < 90 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  private val stratifiedSample: Q = (s, dir) =>
    Tables.documents(s, dir)
      .filter(graft.functions.Sampling.samplePredicate(col("doc_id"), 20))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        concat_ws(",", array_sort(collect_set(col("doc_id").cast("string"))))
          .as("sample_ids"))

  private val stratifiedSampleSql = {
    val b = graft.functions.Sampling.bucket100Sql("doc_id")
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
       |       string_agg(DISTINCT CAST(doc_id AS VARCHAR), ','
       |                  ORDER BY CAST(doc_id AS VARCHAR)) AS sample_ids
       |FROM documents WHERE $b < 20
       |GROUP BY 1""".stripMargin
  }

  // ── exact + word-set dedup ─────────────────────────────────────────────
  // The fixture has near-dups but no byte-exact dups, so the plain form
  // passed vacuously on zero rows (r3 review finding) — the gate plants
  // deterministic exact copies (every 50th doc re-ingested under a
  // shifted id, mirrored in the oracle) so grouping, canonical-min and
  // multiplicity are all value-checked on a NON-empty result.
  private val dedupDocsExact: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    DedupOps.exactGroups(docs.unionByName(planted), col("doc_id"), col("text"))
      .filter(col("n_docs") > 1)
  }

  private val dedupDocsExactSql =
    """WITH corpus AS (SELECT doc_id, text FROM documents
      |                UNION ALL
      |                SELECT doc_id + 1000000, text FROM documents
      |                WHERE doc_id % 50 = 0)
      |SELECT md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
      |       CAST(min(doc_id) AS BIGINT) AS canonical_id,
      |       CAST(count(*) AS BIGINT) AS n_docs
      |FROM corpus GROUP BY 1 HAVING count(*) > 1""".stripMargin

  private val dedupDocsWordset: Q = (s, dir) =>
    DedupOps.wordSetGroups(Tables.documents(s, dir), col("doc_id"), col("text"))
      .filter(col("n_docs") > 1)

  private val dedupDocsWordsetSql =
    """WITH f AS (
      |  SELECT doc_id, md5(string_agg(DISTINCT w, '|' ORDER BY w)) AS fp
      |  FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY doc_id)
      |SELECT fp, CAST(min(doc_id) AS BIGINT) AS canonical_id,
      |       CAST(count(*) AS BIGINT) AS n_docs
      |FROM f GROUP BY 1 HAVING count(*) > 1""".stripMargin

  // ── MinHash signatures + LSH near-dup pairs ────────────────────────────
  /** Oracle CTEs `toks → tok → sh` over `src`'s (doc_id, text): the
    * word `n`-gram shingles `g`, joined with '_'. The lead()-window
    * shingling mirrors Spark's transform(sequence(...)) exactly (empties
    * filtered first; the tail's NULL shingles are left for the caller's
    * `WHERE g IS NOT NULL`). No leading `WITH`, no trailing comma. */
  private[queries] def wordShingleCtes(src: String, n: Int): String = {
    val g = (1 until n).map(k => s"lead(w,$k) OVER win").mkString("w || '_' || ", " || '_' || ", "")
    s"""toks AS (SELECT doc_id, str_split(text,' ') AS ws FROM $src),
       |tok AS (SELECT doc_id, w, i FROM
       |        (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM toks)
       |        WHERE w <> ''),
       |sh AS (SELECT doc_id,
       |              $g AS g
       |       FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i))""".stripMargin
  }

  /** The `dt` CTE over [[wordShingleCtes]]: distinct (doc_id, g) with g
    * the shingle's 40-bit md5 prefix, as the row-local kernels hash it. */
  private[queries] val hashedShingleDt: String =
    """dt AS MATERIALIZED (SELECT DISTINCT doc_id,
      |              CAST(('0x' || substring(md5(g), 1, 10)) AS BIGINT) AS g
      |       FROM sh WHERE g IS NOT NULL)""".stripMargin

  // Oracle CTE prefix: 3-gram shingles → distinct features → 16 min-hash
  // columns.
  private def shingleCtes: String =
    s"""WITH ${wordShingleCtes("documents", ShingleN)},
       |dt AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM sh WHERE g IS NOT NULL),
       |dh AS (SELECT doc_id,
       |              CAST(('0x' || substring(md5(g), 1, 10)) AS BIGINT) AS h
       |       FROM dt),
       |sig AS MATERIALIZED (SELECT doc_id,
       |        ${minHashColsSql(NumHashes, "h")}
       |        FROM dh GROUP BY doc_id)""".stripMargin

  private val minhashSignatures: Q = (s, dir) =>
    DedupOps.minHashSignatures(
      // bag, not set: min is duplicate-insensitive, so the distinct's
      // shuffle is skipped (oracle result identical)
      DedupOps.shingleBag(Tables.documents(s, dir), col("doc_id"), col("text"), ShingleN),
      NumHashes)

  private val minhashSignaturesSql = s"$shingleCtes\nSELECT * FROM sig"

  // Same CTE family with dt = DISTINCT HASHED shingles: the oracle for
  // the row-local array pipeline, where Jaccard is over hash sets (both
  // engines see identical — possibly collided — sets, so 40-bit
  // collisions can never diverge the gate).
  private def shingleCtesHashed: String =
    s"""WITH ${wordShingleCtes("documents", ShingleN)},
       |$hashedShingleDt,
       |sig AS MATERIALIZED (SELECT doc_id,
       |        ${minHashColsSql(NumHashes, "g")}
       |        FROM dt GROUP BY doc_id)""".stripMargin

  /** The word-shingle MinHash-LSH near-dup pairs (d1, d2, jaccard) at the
    * gate parameters — one row-local pass (WordShingleHashes kernel +
    * MinHashBandKeys band keys), the corpus never exploded. The pair
    * relation `minhash_lsh_pairs` gates, and the one the cluster,
    * canonical, split and curation queries build on. */
  private def wordLshPairs(docs: DataFrame): DataFrame =
    DedupOps.lshPairsArrayLocal(
      DedupOps.wordShingleHashes(docs, col("doc_id"), col("text"), ShingleN),
      NumHashes, Bands, Threshold)

  private val minhashLshPairs: Q = (s, dir) =>
    wordLshPairs(Tables.documents(s, dir))

  /** Oracle SQL for the first `n` MinHash signature columns over the
    * feature column `g`: `min((a_i * g + b_i) % P) AS mh<i>`, one per
    * line, continuation lines indented by `indent` spaces — DedupOps'
    * permutation family replayed in DuckDB. */
  private[queries] def minHashColsSql(n: Int, g: String, indent: Int = 8): String =
    (0 until n).map(i =>
      s"min((${DedupOps.mhA(i)} * $g + ${DedupOps.mhB(i)}) % ${DedupOps.MinHashP}) AS mh$i")
      .mkString(",\n" + " " * indent)

  /** Oracle SQL for band `b`'s key: the MinHashBandKeys arithmetic fold
    * over the band's `rowsPerBand` signature columns, in order. */
  private[queries] def bandKeySql(b: Int, rowsPerBand: Int): String = {
    import graft.functions.TextFunctions.{NGramHashB => FB, NGramHashP => FP}
    (0 until rowsPerBand).foldLeft("CAST(0 AS BIGINT)")((acc, r) =>
      s"((($acc) * $FB + mh${b * rowsPerBand + r}) % $FP)")
  }

  /** The `bands` CTE body: one (doc_id, band, band_hash) row per doc and
    * band, read from the `sig` CTE. */
  private def bandSelectsSql(bands: Int): String =
    (0 until bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeySql(b, NumHashes / bands)} AS band_hash FROM sig")
      .mkString("\n  UNION ALL ")

  /** The band→candidate→exact-Jaccard oracle tail, shared by the word-
    * shingle and char-n-gram variants: works over any CTE prefix defining
    * `dt` (distinct (doc_id, g) features) and `sig` (minhash columns). */
  private def lshPairsSqlOver(ctes: String, bands: Int): String =
    s"""$ctes,
       |bands AS MATERIALIZED (
       |  ${bandSelectsSql(bands)}),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.band_hash = b.band_hash
       |          AND a.doc_id < b.doc_id),
       |dl AS MATERIALIZED (SELECT doc_id, list(g ORDER BY g) AS gs, count(*) AS n
       |                    FROM dt GROUP BY 1),
       |inter AS (SELECT d1, d2, len(list_intersect(a.gs, b.gs)) AS inter,
       |                 a.n AS n1, b.n AS n2
       |          FROM cand JOIN dl a ON a.doc_id = d1
       |                    JOIN dl b ON b.doc_id = d2)
       |SELECT d1, d2,
       |       round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jaccard
       |FROM inter
       |WHERE round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) >= $Threshold""".stripMargin

  private val minhashLshPairsSql = lshPairsSqlOver(shingleCtesHashed, Bands)

  // ── char-n-gram Jaccard near-dup pairs ─────────────────────────────────
  // Same MinHash+LSH skeleton over character 5-grams instead of word
  // shingles — robust to tokenization differences (whitespace damage,
  // joined words) that break word-level dedup. The lead()-window char
  // shingling in the oracle mirrors Spark's substr transform exactly
  // (docs shorter than 5 chars contribute nothing on either side).
  //
  // Parameter choice is a measured scale guard, not taste: 3-grams over
  // this small-vocabulary corpus give UNRELATED pairs Jaccard ≈ 0.5–0.7,
  // and at 2 rows/band LSH admits ~94% of all O(n²) pairs as candidates —
  // the sf0.1 bench degenerated to a ~10⁹-row verify join. 5-grams push
  // unrelated pairs below 0.3 while true near-dups stay ≥ 0.8, and
  // 4 rows × 4 bands makes P(candidate) ≈ j⁴-per-band: ≤ 3% at j = 0.3,
  // ≥ 87% at the 0.8 threshold — candidates stay ∝ true-pair count.
  private val CharShingleN  = 5
  private val CharLshBands  = 4
  // The window hash mirrors CharNGramHashes' fold h = (h·B + cp) % P over
  // the N code points of each window: same modular arithmetic over
  // DuckDB's ascii() (which returns the code point), so both engines
  // produce identical hashes. lead() past the doc end is NULL, which
  // nulls the whole fold — exactly the "no window starts here" rows.
  private def charWindowHashSqlN(n: Int): String = {
    import graft.functions.TextFunctions.{NGramHashB => B, NGramHashP => P}
    (1 until n).foldLeft("CAST(ascii(c) AS BIGINT)") { (acc, k) =>
      s"((($acc) * $B + ascii(lead(c, $k) OVER win)) % $P)"
    }
  }
  private def charWindowHashSql: String = charWindowHashSqlN(CharShingleN)

  private def charShingleCtes: String =
    s"""WITH ch AS (SELECT doc_id, unnest(str_split(text, '')) AS c,
       |                   generate_subscripts(str_split(text, ''), 1) AS i
       |            FROM documents),
       |wh AS (SELECT doc_id, $charWindowHashSql AS g
       |       FROM ch WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
       |dt AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM wh WHERE g IS NOT NULL),
       |sig AS MATERIALIZED (SELECT doc_id,
       |        ${minHashColsSql(NumHashes, "g")}
       |        FROM dt GROUP BY doc_id)""".stripMargin

  private val ngramJaccardPairs: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // char shingles are ~10× denser than word shingles (one per character),
    // so this query takes the row-local array path: per-doc hashed window
    // arrays from the codegen'd rolling-hash expression (SAME fold in the
    // oracle over ascii()), band keys from the fused MinHashBandKeys
    // kernel, Jaccard via array_intersect on the joined pairs — the
    // corpus is never exploded or shuffled. No persist: the hash pass is
    // a cheap codegen projection, and an InMemoryRelation would pin its
    // partitioning against AQE for no win (measured a wash).
    val hashed = DedupOps.charShingleHashes(docs, col("doc_id"), col("text"), CharShingleN)
    DedupOps.lshPairsArrayLocal(hashed, NumHashes, CharLshBands, Threshold)
  }

  private val ngramJaccardPairsSql =
    lshPairsSqlOver(charShingleCtes, CharLshBands)

  // ── dedup clusters (pairs → connected components) ──────────────────────
  // The step after near-dup pair mining: label every involved doc with the
  // min doc id reachable through any chain of LSH-verified pairs, plus the
  // cluster size — exactly what a pipeline needs to keep one canonical doc
  // per cluster. Oracle: recursive-CTE reachability closure over the SAME
  // pair relation, min label per node.
  private val dedupClusters: Q = (s, dir) => {
    val pairs = wordLshPairs(Tables.documents(s, dir))
    DedupOps.connectedComponents(pairs.select(col("d1"), col("d2")))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
      .select(col("node").as("doc_id"), col("cluster_id"),
        col("cluster_size").cast("long").as("cluster_size"))
  }

  private val dedupClustersSql =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  ${minhashLshPairsSql.replace("\n", "\n  ")}
       |),
       |e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
       |      UNION SELECT d2, d1 FROM pairs),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |reach(node, lbl) AS (
       |  SELECT node, node FROM n
       |  UNION
       |  SELECT e.src, reach.lbl FROM e JOIN reach ON reach.node = e.dst),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1)
       |SELECT CAST(node AS BIGINT) AS doc_id,
       |       CAST(cluster_id AS BIGINT) AS cluster_id,
       |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM lab""".stripMargin

  /** Canonical-doc selection over the LSH near-dup clusters: every doc
    * keep/drop-labeled, keeping the byte-longest member per cluster
    * (doc-id tiebreak) and every singleton. The pipeline verdict the
    * cluster labels exist to produce; oracle = the recursive-closure
    * cluster CTE + the same length ranking (byte length on both sides:
    * Spark octet_length ≡ DuckDB strlen). */
  private val canonicalDocs: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val pairs = wordLshPairs(docs)
    val labels = DedupOps.connectedComponents(pairs.select(col("d1"), col("d2")))
    DedupOps.canonicalPerCluster(labels, docs,
      col("doc_id"), octet_length(col("text")).cast("long"))
  }

  private val canonicalDocsSql =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  ${minhashLshPairsSql.replace("\n", "\n  ")}
       |),
       |e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
       |      UNION SELECT d2, d1 FROM pairs),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |reach(node, lbl) AS (
       |  SELECT node, node FROM n
       |  UNION
       |  SELECT e.src, reach.lbl FROM e JOIN reach ON reach.node = e.dst),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1),
       |scored AS (SELECT d.doc_id,
       |                  coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
       |                  strlen(d.text) AS q
       |           FROM documents d LEFT JOIN lab ON lab.node = d.doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |       CAST(cluster_id AS BIGINT) AS cluster_id,
       |       (row_number() OVER (PARTITION BY cluster_id
       |                           ORDER BY q DESC, doc_id) = 1) AS is_canonical
       |FROM scored""".stripMargin

  /** Leakage-safe train/val/test split: assignment is a deterministic
    * hash of the near-dup CLUSTER label, not of the document — so two
    * near-duplicates can never straddle a split boundary (the train/test
    * contamination `dataset_split`'s per-doc hash cannot rule out).
    * Clustered docs inherit their component's min-label; singletons
    * self-label. Buckets: md5(cluster) % 10 → 0–7 train, 8 val, 9 test.
    * Scale shape: the LSH pair mining + label propagation already gated
    * in `dedup_clusters`, then one id-only left join and a row-local
    * bucket hash — the split pass adds nothing corpus-sized. */
  private val leakageSafeSplit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val pairs = wordLshPairs(docs)
    val labels = DedupOps.connectedComponents(pairs.select(col("d1"), col("d2")))
    val bucket = pmod(
      conv(substring(md5(col("cluster_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(10))
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), bucket.as("bucket"),
        when(bucket < 8, "train").when(bucket === 8, "val")
          .otherwise("test").as("split"))
  }

  private val leakageSafeSplitSql =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  ${minhashLshPairsSql.replace("\n", "\n  ")}
       |),
       |e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
       |      UNION SELECT d2, d1 FROM pairs),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |reach(node, lbl) AS (
       |  SELECT node, node FROM n
       |  UNION
       |  SELECT e.src, reach.lbl FROM e JOIN reach ON reach.node = e.dst),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1),
       |asg AS (SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_id
       |        FROM documents d LEFT JOIN lab ON lab.node = d.doc_id),
       |b AS (SELECT doc_id, cluster_id,
       |             CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
       |                  AS BIGINT) % 10 AS bucket
       |      FROM asg)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |       CAST(cluster_id AS BIGINT) AS cluster_id, bucket,
       |       CASE WHEN bucket < 8 THEN 'train'
       |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
       |FROM b""".stripMargin

  // ── content-defined chunking (rolling-hash cut points) ─────────────────
  // CDC with an 8-char window hash, cut where hash % 64 == 0 (avg chunk
  // ≈ 64 chars): boundaries stay stable under edits, so chunk_fp makes
  // chunk-level dedup a plain groupBy. Oracle recomputes the identical
  // fold + cut rule with window functions.
  private val CdcW = 8
  private val CdcM = 64
  private val cdcChunks: Q = (s, dir) =>
    // FanOut: the CDC cut kernel fused into a single-row-group scan runs
    // single-task otherwise (the passage_scrub Profile finding)
    graft.operators.Chunking.cdcChunks(
      graft.operators.FanOut.bySize(Tables.documents(s, dir), col("doc_id")),
      col("doc_id"), col("text"), CdcW, CdcM)

  private val cdcChunksSql =
    s"""WITH ch AS (SELECT doc_id, unnest(str_split(text, '')) AS c,
       |                   generate_subscripts(str_split(text, ''), 1) AS i
       |            FROM documents),
       |wh AS (SELECT doc_id, i, ${charWindowHashSqlN(CdcW)} AS g
       |       FROM ch WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
       |cuts AS (SELECT doc_id, i + ${CdcW - 1} AS c FROM wh
       |         WHERE g IS NOT NULL AND g % $CdcM = 0
       |         UNION
       |         SELECT doc_id, length(text) FROM documents WHERE length(text) > 0),
       |chunks AS (SELECT doc_id, row_number() OVER win AS chunk_idx,
       |                  coalesce(lag(c) OVER win, 0) + 1 AS s, c AS e
       |           FROM cuts WINDOW win AS (PARTITION BY doc_id ORDER BY c))
       |SELECT k.doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(s AS BIGINT) AS start_pos,
       |       CAST(e - s + 1 AS BIGINT) AS chunk_len,
       |       md5(substring(d.text, s, e - s + 1)) AS chunk_fp
       |FROM chunks k JOIN documents d ON d.doc_id = k.doc_id""".stripMargin

  // ── chunk-level dedup (the CDC payoff) ─────────────────────────────────
  // Near-duplicate docs defeat whole-doc fingerprints; their SHARED
  // passages produce identical CDC chunks. One hash groupBy over chunk
  // fingerprints (map-side combinable) finds every cross-doc repeated
  // chunk; ≥ 2 docs filter keeps the output the interesting set.
  private val chunkDedup: Q = (s, dir) =>
    graft.operators.Chunking.cdcChunks(
        graft.operators.FanOut.bySize(Tables.documents(s, dir), col("doc_id")),
        col("doc_id"), col("text"), CdcW, CdcM)
      .groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"),
        min(col("chunk_len")).as("chunk_len"))
      .filter(col("n_docs") >= 2)

  private val chunkDedupSql =
    s"""WITH chunks AS (
       |  ${cdcChunksSql.replace("\n", "\n  ")}
       |)
       |SELECT chunk_fp, CAST(count(*) AS BIGINT) AS n_copies,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(min(doc_id) AS BIGINT) AS canonical_doc,
       |       CAST(min(chunk_len) AS BIGINT) AS chunk_len
       |FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin

  // ── benchmark decontamination (train/probe n-gram overlap) ─────────────
  // Probe set = every 10th doc (a stand-in benchmark), train = the rest;
  // per train doc, the count of distinct word-8-gram hashes shared with
  // the probe set and a contaminated flag. 8-grams, not the MinHash
  // family's 3-grams: decontamination needs long-enough spans that shared
  // VOCABULARY doesn't flag (at 3-grams the template corpus marks 95% of
  // docs; at 8-grams only genuine shared passages — the planted near-dups
  // — fire). Oracle: the same split and hash over an 8-lead window chain.
  private val DecontamN = 8
  private val decontaminateNgrams: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    DedupOps.ngramOverlap(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      col("doc_id"), col("text"), DecontamN)
  }

  private val decontaminateNgramsSql =
    s"""WITH ${wordShingleCtes("documents", DecontamN)},
       |dh AS (SELECT DISTINCT doc_id,
       |              CAST(('0x' || substring(md5(g), 1, 10)) AS BIGINT) AS h
       |       FROM sh WHERE g IS NOT NULL),
       |probe AS (SELECT DISTINCT h FROM dh WHERE doc_id % 10 = 0),
       |matched AS (SELECT doc_id, count(DISTINCT dh.h) AS n_overlap
       |            FROM dh JOIN probe ON dh.h = probe.h
       |            WHERE doc_id % 10 <> 0 GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(coalesce(m.n_overlap, 0) AS BIGINT) AS n_overlap,
       |       coalesce(m.n_overlap, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
       |LEFT JOIN matched m ON m.doc_id = d.doc_id""".stripMargin

  // ── SimHash ────────────────────────────────────────────────────────────
  private val simhashDocs: Q = (s, dir) =>
    DedupOps.simHash16(Tables.documents(s, dir), col("doc_id"), col("text"))

  private val simhashDocsSql = {
    val sums = (0 until 16).map(b =>
      s"sum(CASE WHEN substr(h, ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n       ")
    val bits = (0 until 16).map(b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT DISTINCT doc_id, w
       |           FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)
       |           WHERE w <> ''),
       |h AS (SELECT doc_id, md5(w) AS h FROM t),
       |s AS (SELECT doc_id,
       |      $sums
       |      FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM s""".stripMargin
  }

  // ── KMV mergeable distinct sketch (the sketch-table pattern) ───────────
  // Per-source KMV sketches of distinct word bigrams (k smallest 40-bit
  // hashes), then a GLOBAL estimate computed from the sketch rows alone —
  // union, dedup, re-top-k — never re-touching the corpus: the
  // pre-aggregated sketch-table re-aggregation a warehouse actually runs.
  // Unlike HLL, KMV is order statistics over a portable hash, so the
  // oracle replays sketches, merge, and estimates exactly.
  private val KmvK = 64

  /** The KMV gates' shared prep: the distinct (source, h) word-bigram
    * hashes and their per-source KMV sketch (source, h ≤ k smallest).
    * `hashed` feeds the sketch AND both exact sides: both are eagerly
    * checkpointed so the corpus scan + distinct runs once, not per
    * consumer (c2258b0 pattern). */
  private def kmvHashedAndSketch(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hashed = Tables.documents(s, dir)
      // project tokens BEFORE shingling: inlining tokens() into the
      // shingle lambda re-tokenizes per element — O(tokens²) per doc
      // (TextFunctions.shinglesOf PERF note; measured 4.3 s → 0.3 s here)
      .select(col("source"), TextFunctions.tokens(col("text")).as("ws"))
      .select(col("source"),
        explode(TextFunctions.shinglesOf(col("ws"), 2)).as("g"))
      .select(col("source"), DedupOps.shingleHash40(col("g")).as("h"))
      .distinct().localCheckpoint()
    (hashed, graft.operators.KmvSketch.sketch(
      hashed, col("source"), col("h"), KmvK).localCheckpoint())
  }

  private val kmvSketchQ: Q = (s, dir) => {
    val (hashed, sk) = kmvHashedAndSketch(s, dir)
    val est = graft.operators.KmvSketch.estimate(sk, KmvK)
      .unionByName(graft.operators.KmvSketch.estimate(
        graft.operators.KmvSketch.merge(sk, "ALL", KmvK), KmvK))
    val exact = hashed.groupBy(col("source").as("scope"))
      .agg(count(lit(1)).as("n_exact"))
      .unionByName(hashed.select(col("h")).distinct()
        .agg(count(lit(1)).as("n_exact")).select(lit("ALL").as("scope"), col("n_exact")))
    est.join(exact, "scope")
      .select(col("scope"), col("n_exact"), col("sketch_n"), col("est"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
  }

  private val kmvSketchSql = {
    val spaceK = s"${(KmvK - 1).toDouble} * 1099511627776.0"
    s"""WITH tok AS (SELECT doc_id, source, w, i FROM (
       |        SELECT doc_id, source, unnest(str_split(text,' ')) AS w,
       |               generate_subscripts(str_split(text,' '),1) AS i
       |        FROM documents) WHERE w <> ''),
       |bg AS (SELECT source, w || '_' || lead(w,1) OVER win AS g
       |       FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
       |hashed AS (SELECT DISTINCT source,
       |                  CAST(('0x' || substring(md5(g), 1, 10)) AS BIGINT) AS h
       |           FROM bg WHERE g IS NOT NULL),
       |sk AS (SELECT * FROM (
       |         SELECT source, h,
       |                row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
       |         FROM hashed) WHERE rnk <= $KmvK),
       |gsk AS (SELECT * FROM (
       |          SELECT h, row_number() OVER (ORDER BY h) AS rnk
       |          FROM (SELECT DISTINCT h FROM sk)) WHERE rnk <= $KmvK),
       |per AS (SELECT source AS scope, count(*) AS sketch_n, max(h) AS hk
       |        FROM sk GROUP BY 1
       |        UNION ALL
       |        SELECT 'ALL', count(*), max(h) FROM gsk),
       |est AS (SELECT scope, sketch_n,
       |               round(CASE WHEN sketch_n < $KmvK THEN CAST(sketch_n AS DOUBLE)
       |                          ELSE ($spaceK) / hk END, 4) AS est
       |        FROM per),
       |ex AS (SELECT source AS scope, count(*) AS n FROM hashed GROUP BY 1
       |       UNION ALL
       |       SELECT 'ALL', count(*) FROM (SELECT DISTINCT h FROM hashed))
       |SELECT e.scope, CAST(ex.n AS BIGINT) AS n_exact,
       |       CAST(e.sketch_n AS BIGINT) AS sketch_n, e.est,
       |       round(abs(e.est - ex.n) / ex.n, 4) AS rel_err
       |FROM est e JOIN ex ON ex.scope = e.scope""".stripMargin
  }

  /** All-pairs source-overlap matrix from the PERSISTED KMV sketch table
    * only (Beyer et al. ρ·D̂: fraction of the pair's union minima present
    * in both sketches × the union estimate) — the "how much do any two
    * sources overlap" question answered without re-touching raw data,
    * exact below saturation. Input: pairs × 2k sketch rows — driver-scale
    * metadata at any corpus size. Exact counts ride along for the
    * accuracy statement. */
  private val kmvIntersectionQ: Q = (s, dir) => {
    val (hashed, sk) = kmvHashedAndSketch(s, dir)
    val est = graft.operators.KmvSketch.pairIntersectEstimates(sk, KmvK)
    val exact = hashed.as("x")
      .join(hashed.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("g1"), col("y.source").as("g2"))
      .agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("g1", "g2"), "left")
      .select(col("g1").as("source_a"), col("g2").as("source_b"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("n_union"), col("n_both"), col("est_intersection"),
        round(abs(col("est_intersection") -
            coalesce(col("n_exact"), lit(0L))) /
          greatest(coalesce(col("n_exact"), lit(0L)), lit(1L)), 4)
          .as("rel_err"))
  }

  private val kmvIntersectionSql = {
    val spaceK = s"${(KmvK - 1).toDouble} * 1099511627776.0"
    s"""WITH tok AS (SELECT doc_id, source, w, i FROM (
       |        SELECT doc_id, source, unnest(str_split(text,' ')) AS w,
       |               generate_subscripts(str_split(text,' '),1) AS i
       |        FROM documents) WHERE w <> ''),
       |bg AS (SELECT source, w || '_' || lead(w,1) OVER win AS g
       |       FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
       |hashed AS (SELECT DISTINCT source,
       |                  CAST(('0x' || substring(md5(g), 1, 10)) AS BIGINT) AS h
       |           FROM bg WHERE g IS NOT NULL),
       |sk AS (SELECT * FROM (
       |         SELECT source, h,
       |                row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
       |         FROM hashed) WHERE rnk <= $KmvK),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pr AS (SELECT a.source AS g1, b.source AS g2
       |       FROM srcs a JOIN srcs b ON a.source < b.source),
       |prows AS (SELECT DISTINCT g1, g2, h FROM (
       |            SELECT g1, g2, sk.h FROM pr JOIN sk ON sk.source = g1
       |            UNION ALL
       |            SELECT g1, g2, sk.h FROM pr JOIN sk ON sk.source = g2)),
       |mi AS (SELECT * FROM (
       |         SELECT g1, g2, h,
       |                row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS r
       |         FROM prows) WHERE r <= $KmvK),
       |fl AS (SELECT mi.g1, mi.g2, mi.h,
       |              CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
       |                   THEN 1 ELSE 0 END AS b2
       |       FROM mi
       |       LEFT JOIN sk a ON a.source = mi.g1 AND a.h = mi.h
       |       LEFT JOIN sk b ON b.source = mi.g2 AND b.h = mi.h),
       |ag AS (SELECT g1, g2, count(*) AS n_union, max(h) AS hk,
       |              sum(b2) AS n_both
       |       FROM fl GROUP BY 1, 2),
       |est AS (SELECT g1, g2, n_union, n_both,
       |               round((CAST(n_both AS DOUBLE) / n_union) *
       |                     (CASE WHEN n_union < $KmvK
       |                           THEN CAST(n_union AS DOUBLE)
       |                           ELSE ($spaceK) / hk END), 4)
       |                 AS est_intersection
       |        FROM ag),
       |ex AS (SELECT x.source AS g1, y.source AS g2, count(*) AS n_exact
       |       FROM hashed x JOIN hashed y
       |         ON x.h = y.h AND x.source < y.source
       |       GROUP BY 1, 2)
       |SELECT e.g1 AS source_a, e.g2 AS source_b,
       |       CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact,
       |       CAST(n_union AS BIGINT) AS n_union,
       |       CAST(n_both AS BIGINT) AS n_both, est_intersection,
       |       round(abs(est_intersection - coalesce(n_exact, 0)) /
       |             greatest(coalesce(n_exact, 0), 1), 4) AS rel_err
       |FROM est e LEFT JOIN ex ON ex.g1 = e.g1 AND ex.g2 = e.g2""".stripMargin
  }

  // ── incremental dedup against a persisted signature index ──────────────
  // The ingestion shape: the historical corpus's band keys + feature sets
  // are a PERSISTED parquet index (keys partitioned by band → probes prune
  // to matching band partitions); only the new batch is hashed. Batch docs
  // drop on a verified match against the index or a lower-id batch doc.
  // Planted positives: every 50th indexed doc re-enters the batch with a
  // 2-token prefix edit (Jaccard ≈ 0.95 ≥ 0.8 — MinHash must still catch
  // it). The oracle recomputes both halves from the corpus definition.
  private val dedupIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val planted = old.filter(col("doc_id") % 50 === 10)
      .select((col("doc_id") + 6000000L).as("doc_id"),
        concat(lit("xq "), col("text")).as("text"))
    val batch = docs.filter(col("doc_id") % 3 === 0).unionByName(planted)

    val oldHashed = DedupOps.wordShingleHashes(old, col("doc_id"), col("text"), ShingleN)
    val scratch = scratchPath("incr_index", dir)
    DedupOps.bandKeysArrayLocal(oldHashed, NumHashes, Bands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$scratch/keys")
    oldHashed.select(col("doc_id"), array_distinct(col("hs")).as("gs"))
      .write.mode("overwrite").parquet(s"$scratch/sets")

    // materialized once: the batch shingle-hash kernel otherwise
    // re-evaluates ~5× (band-keys feed the cross and self candidate
    // joins, sets feed both verifies and the final keep relation);
    // (doc_id, hs) is ~8 B per shingle — the posting-relation bound
    val bHashed = DedupOps.wordShingleHashes(batch, col("doc_id"), col("text"), ShingleN)
      .localCheckpoint()
    DedupOps.incrementalDedup(
      s.read.parquet(s"$scratch/keys"), s.read.parquet(s"$scratch/sets"),
      DedupOps.bandKeysArrayLocal(bHashed, NumHashes, Bands),
      bHashed.select(col("doc_id"), array_distinct(col("hs")).as("gs")),
      Threshold)
  }

  private val dedupIncrementalSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 6000000, 'xq ' || text FROM documents
       |  WHERE doc_id % 50 = 10 AND doc_id % 3 <> 0),
       |-- batch membership by CONSTRUCTION (planted ids are the ones not
       |-- in documents), not by an id threshold: ScaleGen replica ids
       |-- exceed the +6000000 plant offset and would misclassify
       |-- (the 10x full-registry oracle run's finding, same family as
       |-- the streaming_near_dedup oracle fix)
       |flag AS (SELECT doc_id, (doc_id % 3 = 0 OR
       |                         doc_id NOT IN (SELECT doc_id FROM documents)) AS is_b
       |         FROM corpus),
       |${wordShingleCtes("corpus", ShingleN)},
       |$hashedShingleDt,
       |sig AS MATERIALIZED (SELECT doc_id,
       |        ${minHashColsSql(NumHashes, "g")}
       |        FROM dt GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  ${bandSelectsSql(Bands)}),
       |bb AS (SELECT bands.* FROM bands JOIN flag USING (doc_id) WHERE is_b),
       |ob AS (SELECT bands.* FROM bands JOIN flag USING (doc_id) WHERE NOT is_b),
       |candx AS (SELECT DISTINCT b.doc_id AS d1, o.doc_id AS d2
       |          FROM bb b JOIN ob o ON b.band = o.band AND b.band_hash = o.band_hash),
       |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |          FROM bb a JOIN bb b
       |            ON a.band = b.band AND a.band_hash = b.band_hash
       |           AND a.doc_id < b.doc_id),
       |dl AS MATERIALIZED (SELECT doc_id, list(g ORDER BY g) AS gs, count(*) AS n
       |                    FROM dt GROUP BY 1),
       |vx AS (SELECT d1, d2 FROM (
       |         SELECT c.d1, c.d2, len(list_intersect(a.gs, b.gs)) AS inter,
       |                a.n AS n1, b.n AS n2
       |         FROM candx c
       |         JOIN dl a ON a.doc_id = c.d1 JOIN dl b ON b.doc_id = c.d2)
       |       WHERE round(CAST(inter AS DOUBLE)/(n1 + n2 - inter), 6) >= $Threshold),
       |vs AS (SELECT d1, d2 FROM (
       |         SELECT c.d1, c.d2, len(list_intersect(a.gs, b.gs)) AS inter,
       |                a.n AS n1, b.n AS n2
       |         FROM cands c
       |         JOIN dl a ON a.doc_id = c.d1 JOIN dl b ON b.doc_id = c.d2)
       |       WHERE round(CAST(inter AS DOUBLE)/(n1 + n2 - inter), 6) >= $Threshold),
       |dox AS (SELECT d1 AS doc_id, count(*) AS n FROM vx GROUP BY 1),
       |dos AS (SELECT d2 AS doc_id, count(*) AS n FROM vs GROUP BY 1)
       |SELECT f.doc_id,
       |       CAST(coalesce(x.n, 0) AS BIGINT) AS n_dup_index,
       |       CAST(coalesce(s.n, 0) AS BIGINT) AS n_dup_batch,
       |       (coalesce(x.n, 0) = 0 AND coalesce(s.n, 0) = 0) AS keep
       |FROM flag f
       |LEFT JOIN dox x ON x.doc_id = f.doc_id
       |LEFT JOIN dos s ON s.doc_id = f.doc_id
       |WHERE f.is_b""".stripMargin

  // ── duplicated-passage scrub with reconstruction ───────────────────────
  // The Dolma-style payoff of CDC chunking: remove every cross-doc
  // duplicated chunk except its canonical occurrence (min doc_id, then min
  // chunk_idx) and re-assemble each document from the survivors. Output is
  // one row per input doc with the scrubbed text pinned by md5 — so the
  // hash check covers the reconstruction byte-for-byte, not just counts.
  private val passageScrub: Q = (s, dir) =>
    graft.operators.Chunking.passageScrub(
      Tables.documents(s, dir), col("doc_id"), col("text"), CdcW, CdcM)

  private val passageScrubSql =
    s"""WITH chunks AS (
       |  ${cdcChunksSql.replace("\n", "\n  ")}
       |),
       |dups AS (SELECT chunk_fp, min(doc_id) AS cdoc FROM chunks
       |         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |canon AS (SELECT c.chunk_fp, d.cdoc, min(c.chunk_idx) AS cidx
       |          FROM chunks c JOIN dups d
       |            ON d.chunk_fp = c.chunk_fp AND c.doc_id = d.cdoc
       |          GROUP BY 1, 2),
       |kept AS (SELECT c.doc_id, c.chunk_idx, c.start_pos, c.chunk_len
       |         FROM chunks c LEFT JOIN canon k ON k.chunk_fp = c.chunk_fp
       |         WHERE k.chunk_fp IS NULL
       |            OR (c.doc_id = k.cdoc AND c.chunk_idx = k.cidx)),
       |scrub AS (SELECT k.doc_id, count(*) AS nkept,
       |                 string_agg(substring(d.text, CAST(k.start_pos AS INT),
       |                                      CAST(k.chunk_len AS INT)),
       |                            '' ORDER BY k.chunk_idx) AS st
       |          FROM kept k JOIN documents d ON d.doc_id = k.doc_id
       |          GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS nch FROM chunks GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(coalesce(t.nch, 0) AS BIGINT) AS n_chunks,
       |       CAST(coalesce(t.nch, 0) - coalesce(s.nkept, 0) AS BIGINT) AS n_removed,
       |       CAST(length(coalesce(s.st, '')) AS BIGINT) AS scrubbed_len,
       |       md5(coalesce(s.st, '')) AS scrubbed_md5
       |FROM documents d
       |LEFT JOIN tot t ON t.doc_id = d.doc_id
       |LEFT JOIN scrub s ON s.doc_id = d.doc_id""".stripMargin

  // ── edit-distance similarity join (PassJoin) ───────────────────────────
  // Fuzzy matching where token-set similarity is blind: all pairs within
  // Levenshtein distance ≤ 2, found by PassJoin segment partitioning (an
  // equi-join, never O(n²) — operators.EditDistanceJoin). Planted
  // positives make the hash check bite: every 25th doc re-enters with one
  // char deleted (distance 1, id+4e6), every 60th with two chars deleted
  // (distance 2, id+5e6); the del1-vs-del2 variants of a common origin sit
  // at distance 3 and must be EXCLUDED — the exact verify's job. The
  // oracle replays the identical segment arithmetic, 40-bit md5 hash,
  // position windows, and Levenshtein verify.
  private val EdK = 2 // → 3 segments per string
  private val editDistancePairs: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val del1 = docs
      .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 120)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(substring(col("text"), 1, 39),
          expr("substring(text, 41, length(text))")).as("text"))
    val del2 = docs
      .filter(col("doc_id") % 60 === 0 && length(col("text")) >= 150)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(substring(col("text"), 1, 19),
          expr("substring(text, 21, 69)"),
          expr("substring(text, 91, length(text))")).as("text"))
    graft.operators.EditDistanceJoin.passJoin(
      docs.unionByName(del1).unionByName(del2), col("doc_id"), col("text"), EdK)
  }

  private val editDistancePairsSql = {
    val n = EdK + 1 // segments
    // segment arithmetic for indexed length l, slot i (1-based), DuckDB form
    def sl(l: String, i: String) =
      s"($l//$n) + CASE WHEN $i > $n-($l%$n) THEN 1 ELSE 0 END"
    def st(l: String, i: String) =
      s"1 + ($i-1)*($l//$n) + greatest(0, $i-1-($n-($l%$n)))"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 4000000, substring(text, 1, 39) || substring(text, 41, length(text))
       |  FROM documents WHERE doc_id % 25 = 0 AND length(text) >= 120
       |  UNION ALL
       |  SELECT doc_id + 5000000,
       |         substring(text, 1, 19) || substring(text, 21, 69) || substring(text, 91, length(text))
       |  FROM documents WHERE doc_id % 60 = 0 AND length(text) >= 150),
       |base AS (SELECT doc_id AS id, text AS t, length(text) AS m
       |         FROM corpus WHERE length(text) >= $n),
       |segs AS (
       |  SELECT m AS l, i.i AS i,
       |         CAST(('0x' || substring(md5(substring(t, ${st("m", "i.i")}, ${sl("m", "i.i")})), 1, 10)) AS BIGINT) AS h,
       |         id AS sid
       |  FROM base CROSS JOIN (SELECT unnest(generate_series(1, $n)) AS i) i),
       |probes AS (
       |  SELECT l, i, CAST(('0x' || substring(md5(substring(t, p, seglen)), 1, 10)) AS BIGINT) AS h,
       |         id AS pid
       |  FROM (SELECT b.id, b.t, b.m, b.m + dl.dl AS l, i.i AS i,
       |               ${sl("(b.m + dl.dl)", "i.i")} AS seglen,
       |               ${st("(b.m + dl.dl)", "i.i")} + d.d AS p
       |        FROM base b
       |        CROSS JOIN (SELECT unnest(generate_series(-$EdK, $EdK)) AS dl) dl
       |        CROSS JOIN (SELECT unnest(generate_series(1, $n)) AS i) i
       |        CROSS JOIN (SELECT unnest(generate_series(-$EdK, $EdK)) AS d) d
       |        WHERE b.m + dl.dl >= $n)
       |  WHERE p >= 1 AND p + seglen - 1 <= m),
       |cand AS (
       |  SELECT DISTINCT least(sid, pid) AS a, greatest(sid, pid) AS b
       |  FROM segs JOIN probes USING (l, i, h)
       |  WHERE sid <> pid)
       |SELECT c.a AS doc_id_lo, c.b AS doc_id_hi,
       |       CAST(levenshtein(x.t, y.t) AS BIGINT) AS edit_dist
       |FROM cand c JOIN base x ON x.id = c.a JOIN base y ON y.id = c.b
       |WHERE levenshtein(x.t, y.t) <= $EdK""".stripMargin
  }

  val all: Map[String, Q] = Map(
    "token_stats"         -> tokenStats,
    "text_quality"        -> textQuality,
    "repetition_score"    -> repetitionScore,
    "pii_scrub"           -> piiScrub,
    "shard_packing"       -> shardPacking,
    "pack_sequences"      -> packSequences,
    "cms_topk_terms"      -> cmsTopkTerms,
    "pipeline_end_to_end" -> pipelineEndToEnd,
    "pipeline_curation"   -> pipelineCuration,
    "hof_funcs"           -> hofFuncs,
    "map_funcs"           -> mapFuncs,
    "quality_filter"      -> qualityFilter,
    "length_histogram"    -> lengthHistogram,
    "source_reweight"     -> sourceReweight,
    "lang_id"             -> langId,
    "doc_fingerprint"     -> docFingerprint,
    "text_normalize"      -> textNormalize,
    "doc_embedding_join"  -> docEmbeddingJoin,
    "explode_tokens"      -> explodeTokens,
    "array_funcs"         -> arrayFuncs,
    "tfidf_top_terms"     -> tfidfTopTerms,
    "bigram_counts"       -> bigramCounts,
    "ngram_lm_score"      -> ngramLmScore,
    "dsir_importance"     -> dsirImportance,
    "bpe_merges"          -> bpeMergesQ,
    "bpe_encode"          -> bpeEncodeQ,
    "quality_lr_score"    -> qualityLrScore,
    "weighted_sample_topk" -> weightedSampleTopk,
    "repeated_spans"      -> repeatedSpansQ,
    "dataset_split"       -> datasetSplit,
    "stratified_sample"   -> stratifiedSample,
    "dedup_docs_exact"    -> dedupDocsExact,
    "dedup_docs_wordset"  -> dedupDocsWordset,
    "minhash_signatures"  -> minhashSignatures,
    "minhash_lsh_pairs"   -> minhashLshPairs,
    "ngram_jaccard_pairs" -> ngramJaccardPairs,
    "bm25_scores"         -> bm25Scores,
    "rolling_hash_fingerprint" -> rollingHashFingerprint,
    "dedup_clusters"      -> dedupClusters,
    "canonical_docs"      -> canonicalDocs,
    "leakage_safe_split"  -> leakageSafeSplit,
    "decontaminate_ngrams" -> decontaminateNgrams,
    "cdc_chunks"          -> cdcChunks,
    "chunk_dedup"         -> chunkDedup,
    "edit_distance_pairs" -> editDistancePairs,
    "dedup_incremental"   -> dedupIncremental,
    "kmv_sketch"          -> kmvSketchQ,
    "kmv_intersection"    -> kmvIntersectionQ,
    "passage_scrub"       -> passageScrub,
    "simhash_docs"        -> simhashDocs,
  )

  val oracles: Map[String, String] = Map(
    "token_stats"         -> tokenStatsSql,
    "text_quality"        -> textQualitySql,
    "repetition_score"    -> repetitionScoreSql,
    "pii_scrub"           -> piiScrubSql,
    "shard_packing"       -> shardPackingSql,
    "pack_sequences"      -> packSequencesSql,
    "cms_topk_terms"      -> cmsTopkTermsSql,
    "pipeline_end_to_end" -> pipelineEndToEndSql,
    "pipeline_curation"   -> pipelineCurationSql,
    "hof_funcs"           -> hofFuncsSql,
    "map_funcs"           -> mapFuncsSql,
    "quality_filter"      -> qualityFilterSql,
    "length_histogram"    -> lengthHistogramSql,
    "source_reweight"     -> sourceReweightSql,
    "lang_id"             -> langIdSql,
    "doc_fingerprint"     -> docFingerprintSql,
    "text_normalize"      -> textNormalizeSql,
    "doc_embedding_join"  -> docEmbeddingJoinSql,
    "explode_tokens"      -> explodeTokensSql,
    "array_funcs"         -> arrayFuncsSql,
    "tfidf_top_terms"     -> tfidfTopTermsSql,
    "bigram_counts"       -> bigramCountsSql,
    "ngram_lm_score"      -> ngramLmScoreSql,
    "dsir_importance"     -> dsirImportanceSql,
    "bpe_merges"          -> bpeMergesSql,
    "bpe_encode"          -> bpeEncodeSql,
    "quality_lr_score"    -> qualityLrScoreSql,
    "weighted_sample_topk" -> weightedSampleTopkSql,
    "repeated_spans"      -> repeatedSpansSql,
    "dataset_split"       -> datasetSplitSql,
    "stratified_sample"   -> stratifiedSampleSql,
    "dedup_docs_exact"    -> dedupDocsExactSql,
    "dedup_docs_wordset"  -> dedupDocsWordsetSql,
    "minhash_signatures"  -> minhashSignaturesSql,
    "minhash_lsh_pairs"   -> minhashLshPairsSql,
    "ngram_jaccard_pairs" -> ngramJaccardPairsSql,
    "bm25_scores"         -> bm25ScoresSql,
    "rolling_hash_fingerprint" -> rollingHashFingerprintSql,
    "dedup_clusters"      -> dedupClustersSql,
    "canonical_docs"      -> canonicalDocsSql,
    "leakage_safe_split"  -> leakageSafeSplitSql,
    "decontaminate_ngrams" -> decontaminateNgramsSql,
    "cdc_chunks"          -> cdcChunksSql,
    "chunk_dedup"         -> chunkDedupSql,
    "edit_distance_pairs" -> editDistancePairsSql,
    "dedup_incremental"   -> dedupIncrementalSql,
    "kmv_sketch"          -> kmvSketchSql,
    "kmv_intersection"    -> kmvIntersectionSql,
    "passage_scrub"       -> passageScrubSql,
    "simhash_docs"        -> simhashDocsSql,
  )
}
