package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: one JSON line with per-query and total seconds.
  *
  * One untimed warmup pass (JIT, codegen caches, parquet footer cache),
  * then `SPARK_GRAFT_RUNS` timed passes (default 3) — the reported
  * per-query number is the MEDIAN across passes, so a single contended
  * run on a busy box can't poison the recorded artifact (the round-2
  * driver run read up to 17× inflated on queries that re-measured at
  * baseline on an idle box). Queries run in name order for stable
  * cross-round diffs.
  *
  * The stdout line keeps the driver contract (`"queries"` maps name →
  * median seconds) and MUST stay short: the driver captures a bounded
  * tail of the output, and the round-2 line already overflowed it
  * (`"parsed": null` in the recorded artifact). Per-query min/median/max
  * spread therefore goes to `BENCH_DETAIL.json` next to the repo root
  * instead of the stdout line.
  */
object Bench {
  /** The queries reported by name when the full registry map would
    * overflow the consumer's 2000-char stdout tail: ONE representative
    * per family (flagship, TPC-H join/agg, each streaming shape, each
    * dedup/ANN/text/graph/sketch family) — the rows BASELINE.md and the
    * round verdicts track; full spread always lands in BENCH_DETAIL.json.
    * Budget: at 28 entries the worst-case line is ~1.2 KB vs the 1.9 KB
    * cap (r6's 68-entry set overflowed it and the artifact degraded to
    * the no-per-query minimal line) — re-check the arithmetic when
    * adding names. */
  private val Headline: Set[String] = Set(
    "unique_users_per_minute", "q1_agg", "q18_large_orders",
    "q21_suppliers_waiting",
    "streaming_unique_users", "streaming_late_data_drop",
    "streaming_near_dedup", "streaming_upsert_sink",
    "streaming_outer_join", "state_store_dump",
    "dedup_docs_exact", "minhash_lsh_pairs",
    "simhash64_near_pairs_banded", "semantic_dedup",
    "edit_distance_pairs", "knn_bruteforce", "knn_ivfpq",
    "kmeans_centroids", "multimodal_pipeline", "tfidf_top_terms",
    "text_quality", "pack_sequences", "supplier_pagerank",
    "kmv_intersection", "range_join_orders", "window_analytics",
    "pipeline_end_to_end", "c4_line_filter",
    // round-7 families: one maintenance + one time-series representative
    "cdc_apply", "resample_ffill",
    // round-8 families: one sequence-analytics + one exact-similarity
    // representative (32 entries ≈ 1.4 KB worst case vs the 1.9 KB cap)
    "funnel_conversion", "prefix_filter_jaccard")

  /** Force `df` via the noop SINK, not a column-less count(): count() lets
    * Catalyst prune every column that doesn't affect the row count, so
    * pure-projection queries measured their scan only (c4_line_filter
    * recorded 0.057 s vs 0.58 s real materialization in r6). The noop sink
    * evaluates and serializes every output row — each recorded number is a
    * materialization time. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    // SPARK_GRAFT_ONLY narrows the sweep for local iteration; unset, the
    // sweep covers the full registry
    val only = Queries.only.map(_.toSet)
    val spark = GraftSession()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // a renamed registry entry must not silently vanish from the
    // headline fallback line
    val staleHeadline = Headline -- SparkEntry.queries.keySet
    require(staleHeadline.isEmpty,
      s"Bench.Headline names not in registry: ${staleHeadline.mkString(", ")}")

    def runOne(name: String, fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { noop(fn(spark, sfDir)); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      // elapsed BEFORE the cache teardown — the teardown is harness
      // hygiene, not query cost, and must not bias the reported time
      val elapsed = (System.nanoTime() - t0) / 1e9
      // drop caches a query persisted for its own intermediate reuse:
      // each pass builds a NEW lineage, so a leftover cache is never hit
      // again — it only piles up memory pressure across the 100+-query
      // sweep (measured: 2.6× max-pass inflation on ngram_jaccard_pairs)
      spark.catalog.clearCache()
      (elapsed, err)
    }

    // SPARK_GRAFT_NO_WARMUP=1 skips the untimed warmup pass — for
    // COLD-JVM measurements (e.g. the streaming sentinel gates' cold
    // spread protocol: 3 separate single-run invocations, each paying
    // session init + codegen once, SCALING round-11)
    if (sys.env.get("SPARK_GRAFT_NO_WARMUP").isEmpty)
      queries.foreach { case (n, f) => runOne(n, f) } // warmup, untimed
    // In-sweep drift control: the same fixed query timed at sweep start,
    // middle, and end (median of 3 reps each). Cross-round totals are
    // only comparable up to BOX STATE — the r9→r10 sweep read 1.16×
    // purely from background drift and cost two A/B campaigns to settle;
    // the three calibration medians normalize that for free (a drifting
    // box shows a start→end slope; a uniformly slower box shows a level
    // shift vs the prior round's calibration).
    // Box-load marker: 1-minute loadavg at timed-sweep start/end, recorded
    // next to the calibration so a contended sweep is SELF-IDENTIFYING —
    // the r12 driver artifact read a uniform 1.28× smear because DuckDB
    // oracle replays shared the box, and nothing in the artifact said so.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ").head
      catch { case _: Throwable => "-1" }
    val loadStart = loadavg()
    val calibName = "q1_agg"
    def calibrate(): Double = SparkEntry.queries.get(calibName) match {
      case Some(f) =>
        val ts = (1 to 3).map(_ => runOne(calibName, f)._1).sorted
        ts(1)
      case None => -1.0 // SPARK_GRAFT_ONLY never filters this map lookup,
                        // but a renamed registry entry degrades gracefully
    }
    val calibStart = calibrate()
    // run-major order (full registry per pass, `runs` passes) so one
    // transient load spike degrades one PASS of many queries — each
    // query's other passes still vote it back to a sane median
    var calibMiddle = -1.0
    val passes = (1 to runs).map { r =>
      val pass = queries.map { case (n, f) => n -> runOne(n, f) }
      if (r == (runs + 1) / 2) calibMiddle = calibrate()
      pass
    }
    val calibEnd = calibrate()
    val byQuery = queries.map { case (n, _) =>
      val ts = passes.map(_.find(_._1 == n).get._2._1).sorted
      val firstErr = passes.flatMap(_.find(_._1 == n).get._2._2).headOption
      (n, ts.head, ts(ts.size / 2), ts.last, firstErr)
    }

    // ms precision keeps the line short enough for tail-buffer parsers
    // (full Double.toString of 67 entries overflowed a ~3 KB tail in r1);
    // Double.toString, not %f — String.format is locale-dependent.
    def fmt(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    def qsJson(entries: Seq[(String, Double, Double, Double, Option[String])]) =
      entries.map { case (k, _, med, _, _) => "\"" + k + "\":" + fmt(med) }
        .mkString("{", ",", "}")
    // a failed query must not masquerade as a fast pass — name it
    val errs = byQuery.collect { case (k, _, _, _, Some(e)) =>
      "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    val total = fmt(byQuery.map(_._3).sum)
    // full spread per query → repo file (the stdout line must stay short)
    val detail = byQuery.map { case (k, min, med, max, _) =>
      "\"" + k + "\":[" + fmt(min) + "," + fmt(med) + "," + fmt(max) + "]"
    }.mkString("{", ",", "}")
    // Calibration-normalized total: total × (pinned reference calibration /
    // this sweep's calibration median). The pinned reference is the r11
    // q1_agg quiet-box band (0.312 s) — with it, cross-round totals
    // self-adjudicate in one line instead of the per-query ratio analysis
    // the r12/r13 verdicts each had to run (242 vs 208 s was pure host
    // variance; the calibrations said so, but nothing composed them).
    val CalibRef = 0.312
    val calibMedian = Seq(calibStart, calibMiddle, calibEnd)
      .filter(_ > 0).sorted match {
        case s if s.nonEmpty => s(s.size / 2)
        case _ => -1.0
      }
    val normalizedTotal =
      if (calibMedian > 0) fmt(byQuery.map(_._3).sum * CalibRef / calibMedian)
      else "-1"
    val calib = s"""{"query":"$calibName","start":${fmt(calibStart)},""" +
      s""""middle":${fmt(calibMiddle)},"end":${fmt(calibEnd)},""" +
      s""""reference":$CalibRef,"loadavg_start":$loadStart,"loadavg_end":${loadavg()}}"""
    val detailJson =
      s"""{"sf":"$sfDir","runs":$runs,"unit":"sec","normalized_total":$normalizedTotal,"calibration":$calib,"spread_min_med_max":$detail}"""
    // SPARK_GRAFT_ONLY iteration runs must not clobber the round's
    // full-sweep artifact (a 3-query detail file looks like a sweep)
    val detailPath =
      if (only.isEmpty) "BENCH_DETAIL.json" else "BENCH_DETAIL_only.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      detailJson.getBytes("UTF-8"))
    catch { case _: Throwable => () } // detail is best-effort, never fails the bench
    def line(qs: String, extra: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"n_queries":${byQuery.size},$extra"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // The consumer keeps only the LAST ~2000 chars of stdout: a line
    // longer than that loses its head and parses as null (the r4
    // artifact did exactly that at 116 registry entries). When the full
    // per-query map no longer fits, fall back to the HEADLINE subset —
    // total/value still cover every benched query, and the complete
    // min/med/max spread is in BENCH_DETAIL.json either way.
    val full = line(qsJson(byQuery), "")
    val headline = {
      val hs = byQuery.filter(q => Headline(q._1))
      line(qsJson(hs), "\"queries_note\":\"headline subset of n_queries; full spread in BENCH_DETAIL.json\",")
    }
    // last-ditch: Headline growth or a large errors map can push even the
    // fallback past the budget — drop the per-query map entirely rather
    // than emit a head-truncated (parses-as-null) line
    val minimal =
      line("{}", "\"queries_note\":\"omitted (line budget); see BENCH_DETAIL.json\",")
    val out = Seq(full, headline, minimal).find(_.length <= 1900).getOrElse(minimal)
    println(out)
    spark.stop()
  }
}
