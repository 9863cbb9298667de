package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.SessionFunnelState.{funnelWalk, walkEvents}

/** Sequence analytics + robust statistics over the `events` table —
  * round-8 additions to the product-analytics family (funnels, Markov
  * transitions, CUSUM drift, winsorization, point-in-time dimension
  * lookup). Reference-absent (the reference computes one windowed
  * distinct count); these are the operators the same event stream feeds
  * in a production analytics warehouse, each held to the engine's
  * conventions: integer/fixed-point arithmetic wherever a decision or a
  * sum crosses engines, bounded per-entity windows, group-cardinality
  * joins, no global sorts.
  */
object AnalyticsQueries {

  /** Literal CASE on a group key for a driver-scale per-group long —
    * the round-10 join-tax rule (SCALING.md): broadcast-joining even a
    * 5-row scalar side onto a fact stream prices every row through join
    * machinery; a collected literal CASE folds into the scan's codegen.
    * Keys absent from `m` yield null (callers filter to replicate inner
    * -join semantics); an EMPTY `m` (empty input relation) yields a null
    * literal so downstream filters produce an empty result instead of a
    * plan-build NoSuchElementException. */
  private def literalCaseOn(key: org.apache.spark.sql.Column,
      m: List[(String, Long)]): org.apache.spark.sql.Column =
    if (m.isEmpty) lit(null).cast("long")
    else m.tail.foldLeft(when(key === m.head._1, lit(m.head._2))) {
      case (acc, (g, v)) => acc.when(key === g, lit(v))
    }

  /** Ordered funnel conversion (view → click → purchase): step k counts
    * users whose FIRST step-k event occurs strictly after their step-k−1
    * completion time — the textbook ordered funnel, not mere presence.
    *
    * Shape: three user-keyed conditional min-aggregates chained by
    * user-cardinality joins (each stage's relation is ≤ |users| rows, so
    * Catalyst broadcasts or reuses the user_id hash partitioning — never
    * an event-scale re-shuffle). Lag sums are exact integer µs. */
  private val funnelConversion: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(
      col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("us") > col("t1"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t2"), min(col("t1")).as("t1"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("us") > col("t2"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t3"), min(col("t2")).as("t2"))
    t1.agg(count(lit(1)).as("users"), lit(0L).as("sum_lag_us"))
      .select(lit("1_view").as("step"), col("users"), col("sum_lag_us"))
      .unionByName(t2.agg(count(lit(1)).as("users"),
          sum(col("t2") - col("t1")).as("sum_lag_us"))
        .select(lit("2_click").as("step"), col("users"), col("sum_lag_us")))
      .unionByName(t3.agg(count(lit(1)).as("users"),
          sum(col("t3") - col("t2")).as("sum_lag_us"))
        .select(lit("3_purchase").as("step"), col("users"), col("sum_lag_us")))
  }

  private val funnelConversionSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS us,
      |         event_type
      |  FROM events),
      |t1 AS (SELECT user_id, min(us) AS t1 FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, min(e.us) AS t2, min(t.t1) AS t1
      |       FROM ev e JOIN t1 t ON e.user_id = t.user_id AND e.us > t.t1
      |       WHERE e.event_type = 'click' GROUP BY 1),
      |t3 AS (SELECT e.user_id, min(e.us) AS t3, min(t.t2) AS t2
      |       FROM ev e JOIN t2 t ON e.user_id = t.user_id AND e.us > t.t2
      |       WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS users,
      |       CAST(0 AS BIGINT) AS sum_lag_us FROM t1
      |UNION ALL
      |SELECT '2_click', CAST(count(*) AS BIGINT),
      |       CAST(sum(t2 - t1) AS BIGINT) FROM t2
      |UNION ALL
      |SELECT '3_purchase', CAST(count(*) AS BIGINT),
      |       CAST(sum(t3 - t2) AS BIGINT) FROM t3""".stripMargin

  /** First-order Markov transition matrix of the event stream: successor
    * pairs per user (one lag window over bounded per-user partitions),
    * global pair counts, and the per-source transition probability in
    * 1e-6 fixed point via INTEGER floor division — engine-exact, no
    * float ratio crosses the oracle. The 25-row result is the sequence
    * model product analytics and session-based recommenders start from. */
  private val eventTransitions: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_fp", expr("1000000 * n div sum(n) OVER " +
        "(PARTITION BY from_type)"))
  }

  private val eventTransitionsSql =
    """WITH ordered AS (
      |  SELECT user_id, event_type,
      |         lag(event_type, 1) OVER (
      |           PARTITION BY user_id
      |           ORDER BY date_trunc('microseconds', ts), event_id)
      |           AS from_type
      |  FROM events),
      |pairs AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n
      |  FROM ordered WHERE from_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |       CAST(1000000 * n // sum(n) OVER (PARTITION BY from_type)
      |            AS BIGINT) AS p_fp
      |FROM pairs""".stripMargin

  /** CUSUM drift detection per user — the classic one-sided cumulative-sum
    * changepoint statistic S_i = max(0, S_{i-1} + (x_i − µ)), a
    * NON-ASSOCIATIVE left fold (like `ewma_user_value`): each user's
    * bounded history collects into one sorted array and folds row-locally
    * via HOF `aggregate`, carrying (running S, max S, crossings) in one
    * struct accumulator. Everything is 1e-2 fixed-point integer — µ is
    * the user's floor-divided mean, the threshold is integer — so the
    * fold replays bit-for-bit in the oracle's recursive CTE. */
  private val cusumChangepoint: Q = (s, dir) => {
    val h = 100000L // 1000.00 units in 1e-2 fixed point
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("u"),
        col("event_id").as("e"),
        round(col("value") * 100).cast("long").as("v"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sv"),
        sort_array(collect_list(struct(col("u"), col("e"), col("v"))))
          .as("arr"))
      .withColumn("mu_fp", expr("sv div n_events"))
      .select(col("user_id"), col("n_events"), col("mu_fp"),
        expr(s"""aggregate(arr,
                named_struct('s', CAST(0 AS BIGINT),
                             'mx', CAST(0 AS BIGINT),
                             'k', CAST(0 AS BIGINT)),
                (acc, x) -> named_struct(
                  's', greatest(CAST(0 AS BIGINT), acc.s + x.v - mu_fp),
                  'mx', greatest(acc.mx,
                    greatest(CAST(0 AS BIGINT), acc.s + x.v - mu_fp)),
                  'k', acc.k + CASE WHEN
                    greatest(CAST(0 AS BIGINT), acc.s + x.v - mu_fp) > ${h}L
                    THEN 1 ELSE 0 END),
                acc -> acc)""").as("c"))
      .select(col("user_id"), col("n_events"), col("mu_fp"),
        col("c.mx").as("max_cusum_fp"), col("c.k").as("n_over"))
  }

  private val cusumChangepointSql =
    """WITH RECURSIVE base AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
      |         row_number() OVER (
      |           PARTITION BY user_id
      |           ORDER BY date_trunc('microseconds', ts), event_id) AS rn
      |  FROM events),
      |mu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |              sum(v) // count(*) AS mu_fp
      |       FROM base GROUP BY 1),
      |rec AS (
      |  SELECT b.user_id, b.rn,
      |         greatest(0, b.v - m.mu_fp) AS s,
      |         greatest(0, b.v - m.mu_fp) AS mx,
      |         CASE WHEN greatest(0, b.v - m.mu_fp) > 100000
      |              THEN 1 ELSE 0 END AS k
      |  FROM base b JOIN mu m ON b.user_id = m.user_id WHERE b.rn = 1
      |  UNION ALL
      |  SELECT b.user_id, b.rn,
      |         greatest(0, r.s + b.v - m.mu_fp),
      |         greatest(r.mx, greatest(0, r.s + b.v - m.mu_fp)),
      |         r.k + CASE WHEN greatest(0, r.s + b.v - m.mu_fp) > 100000
      |                    THEN 1 ELSE 0 END
      |  FROM rec r
      |  JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
      |  JOIN mu m ON b.user_id = m.user_id),
      |last AS (SELECT user_id, max(rn) AS mx_rn FROM base GROUP BY 1)
      |SELECT r.user_id, m.n AS n_events,
      |       CAST(m.mu_fp AS BIGINT) AS mu_fp,
      |       CAST(r.mx AS BIGINT) AS max_cusum_fp,
      |       CAST(r.k AS BIGINT) AS n_over
      |FROM rec r
      |JOIN last l ON r.user_id = l.user_id AND r.rn = l.mx_rn
      |JOIN mu m ON r.user_id = m.user_id""".stripMargin

  /** Winsorization — per-type p05/p95 DISCRETE-rank bounds (value at
    * ascending rank ⌈n/20⌉ / ⌈19n/20⌉, exact integer ceilings — no
    * interpolation float), then every value clipped into [lo, hi].
    * Reports the clip counts and the winsorized fixed-point sum — the
    * robust-mean building block. */
  // Round-11 re-plan: the per-type ranked window was a total sort (the
  // low-cardinality cliff); valuesAtRanks picks both bound values from
  // cell-sized scans and they inline as literal CASEs. The rank
  // arithmetic also moved from float ceil(0.05·n) to the EXACT integer
  // ceilings (n+19) div 20 and (19n+19) div 20: 0.05 is not dyadic, so
  // the double product crosses 1 ULP above the true value at n ≡ 0
  // (mod 20) and Spark's ceil gave rank+1 where DuckDB's DECIMAL gave
  // rank — a latent fixture-luck divergence (the memory-book threshold
  // rule), now retired on BOTH sides.
  private val winsorizeValues: Q = (s, dir) => {
    import graft.operators.DistributionRanks
    val ev = Tables.events(s, dir).select(col("event_type"),
      col("event_id"), round(col("value") * 100).cast("long").as("v"))
    val picks = DistributionRanks.valuesAtRanks(ev, col("event_type"),
      col("v"), n => Seq("lo" -> (n + 19) / 20, "hi" -> (19 * n + 19) / 20))
    def exprOf(label: String) = literalCaseOn(col("event_type"),
      picks.toList.collect { case ((g, l), v) if l == label => g -> v }
        .sortBy(_._1))
    val (loExpr, hiExpr) = (exprOf("lo"), exprOf("hi"))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(loExpr).as("lo_fp"), min(hiExpr).as("hi_fp"),
        count_if(col("v") < loExpr).as("n_low"),
        count_if(col("v") > hiExpr).as("n_high"),
        sum(greatest(loExpr, least(hiExpr, col("v"))))
          .as("sum_wins_fp"))
  }

  private val winsorizeValuesSql =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |ranked AS (
      |  SELECT event_type, v,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY v, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev),
      |bounds AS (
      |  SELECT event_type,
      |         min(CASE WHEN rn = (n + 19) // 20 THEN v END) AS lo_fp,
      |         min(CASE WHEN rn = (19 * n + 19) // 20 THEN v END) AS hi_fp
      |  FROM ranked
      |  WHERE rn = (n + 19) // 20 OR rn = (19 * n + 19) // 20
      |  GROUP BY 1)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(b.lo_fp) AS BIGINT) AS lo_fp,
      |       CAST(min(b.hi_fp) AS BIGINT) AS hi_fp,
      |       CAST(sum(CASE WHEN e.v < b.lo_fp THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_low,
      |       CAST(sum(CASE WHEN e.v > b.hi_fp THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_high,
      |       CAST(sum(greatest(b.lo_fp, least(b.hi_fp, e.v))) AS BIGINT)
      |         AS sum_wins_fp
      |FROM ev e JOIN bounds b ON e.event_type = b.event_type
      |GROUP BY 1""".stripMargin

  /** Winsorization, sketch-rank form — `winsorize_values` without its
    * scale cliff (measured: 10.8 s at 100×, the same 5-partition
    * per-type total sort as `mad_outliers`). The p05/p95 clip bounds
    * come from the per-type `sketchThinned` bottom-k at integer ranks
    * ceil(5·n/100) / ceil(95·n/100) over the k-row sample (exact ≤ k
    * rows, ~1/√k rank error above); the clip pass — broadcast bounds +
    * one map-side-combinable conditional aggregate — is the only stage
    * that touches every row. All rank arithmetic integer; the oracle
    * replays the sketch bit-for-bit. */
  private val WzK = 256
  private val winsorizeSketch: Q = (s, dir) => {
    import graft.operators.QuantileSketch
    val ev = Tables.events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("v"),
      conv(substring(md5(concat(lit("wz_"), col("event_id"))), 1, 15),
        16, 10).cast("long").as("h"))
    val sk = QuantileSketch.sketchThinned(
      ev, col("event_type"), col("h"), col("v"), WzK)
    // p05/p95 via the operator's integer-rank API (exact num/den
    // arithmetic inside ranksAt) — no reliance on sketch-internal
    // column names
    val bounds = QuantileSketch.ranksAt(sk, Seq((5, 100), (95, 100)))
      .groupBy(col("scope").as("event_type"))
      .agg(min(when(col("num") === 5, col("est"))).as("lo_fp"),
        min(when(col("num") === 95, col("est"))).as("hi_fp"))
    // bounds collected to the driver (5 types × 2 longs) and inlined as
    // literal CASEs — the join-tax rule; the isNotNull filter replicates
    // the inner join for a type absent from the sketch (none are: the
    // starvation guard throws first, and the collect() evaluates it)
    val bLocal = bounds.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val loExpr = literalCaseOn(col("event_type"), bLocal.map(t => t._1 -> t._2))
    val hiExpr = literalCaseOn(col("event_type"), bLocal.map(t => t._1 -> t._3))
    ev.filter(loExpr.isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(loExpr).as("lo_fp"), min(hiExpr).as("hi_fp"),
        count_if(col("v") < loExpr).as("n_low"),
        count_if(col("v") > hiExpr).as("n_high"),
        sum(greatest(loExpr, least(hiExpr, col("v"))))
          .as("sum_wins_fp"))
  }

  private val winsorizeSketchSql =
    s"""WITH ev AS (
      |  SELECT event_type,
      |         CAST(round(value * 100) AS BIGINT) AS v,
      |         CAST(('0x' || substring(md5('wz_' ||
      |              CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |sk AS (SELECT event_type, h, v FROM (
      |         SELECT event_type, h, v, row_number() OVER (
      |           PARTITION BY event_type ORDER BY h, v) AS rk
      |         FROM ev) WHERE rk <= $WzK),
      |ranked AS (SELECT event_type, v,
      |                  row_number() OVER (PARTITION BY event_type
      |                                     ORDER BY v, h) AS rn,
      |                  count(*) OVER (PARTITION BY event_type) AS n
      |           FROM sk),
      |bounds AS (
      |  SELECT event_type,
      |         min(CASE WHEN rn = (n * 5 + 99) // 100 THEN v END) AS lo_fp,
      |         min(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS hi_fp
      |  FROM ranked GROUP BY 1)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(b.lo_fp) AS BIGINT) AS lo_fp,
      |       CAST(min(b.hi_fp) AS BIGINT) AS hi_fp,
      |       CAST(sum(CASE WHEN e.v < b.lo_fp THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_low,
      |       CAST(sum(CASE WHEN e.v > b.hi_fp THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_high,
      |       CAST(sum(greatest(b.lo_fp, least(b.hi_fp, e.v))) AS BIGINT)
      |         AS sum_wins_fp
      |FROM ev e JOIN bounds b ON e.event_type = b.event_type
      |GROUP BY 1""".stripMargin

  /** Point-in-time dimension lookup — the fact-enrichment join every
    * warehouse with SCD2 dimensions runs: each purchase event probes the
    * user-state INTERVAL dimension (the `scd2_user_state` derivation,
    * inlined) at the instant JUST BEFORE the purchase (us − 1), answering
    * "what state was the user in when they bought". Join mechanics under
    * test: equi-join on the entity key with the interval-containment
    * residual — per-user run counts are bounded, so each probe meets a
    * handful of intervals, and intervals TILE (lead-closed), so at most
    * one survives containment. LEFT join keeps first-event purchases
    * (no prior state) with a NULL. */
  private val scd2PointInTime: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val iv = Tables.events(s, dir)
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull ||
        col("prev_state") =!= col("event_type"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .select(col("user_id").as("iv_user"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"))
    val probes = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - 1).as("pt"))
    probes.join(iv,
        probes("user_id") === iv("iv_user") &&
          col("pt") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("pt") < col("valid_to_us")),
        "left")
      .select(col("event_id"), col("user_id"),
        col("state").as("prior_state"))
  }

  private val scd2PointInTimeSql =
    """WITH ordered AS (
      |  SELECT user_id, event_type, event_id,
      |         date_trunc('microseconds', ts) AS tsu,
      |         lag(event_type, 1) OVER (
      |           PARTITION BY user_id
      |           ORDER BY date_trunc('microseconds', ts), event_id)
      |           AS prev_state
      |  FROM events),
      |iv AS (
      |  SELECT user_id AS iv_user, event_type AS state,
      |         epoch_us(tsu) AS valid_from_us,
      |         lead(epoch_us(tsu), 1) OVER (
      |           PARTITION BY user_id ORDER BY tsu, event_id)
      |           AS valid_to_us
      |  FROM ordered
      |  WHERE prev_state IS NULL OR prev_state <> event_type),
      |probes AS (
      |  SELECT user_id, event_id,
      |         epoch_us(date_trunc('microseconds', ts)) - 1 AS pt
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, i.state AS prior_state
      |FROM probes p LEFT JOIN iv i
      |  ON p.user_id = i.iv_user
      | AND p.pt >= i.valid_from_us
      | AND (i.valid_to_us IS NULL OR p.pt < i.valid_to_us)""".stripMargin

  /** Exact-count stratified split — `dataset_split` assigns per-doc hash
    * buckets (proportions hold only in expectation); this produces EXACT
    * floor-count 80/10/10 per stratum: docs rank by a deterministic
    * split-hash within their source, and the boundaries are integer
    * cross-multiplications of the rank (rn·10 ≤ n·8 → train). One
    * hash-partitioned window per stratum at gate scale; at warehouse
    * scale the exact rank is replaced by sketch-derived hash thresholds
    * (the `equi_depth_histogram` machinery) — the gate pins the exact
    * semantics the sketch path approximates. */
  private val exactStratifiedSplit: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .withColumn("h", conv(substring(
        md5(concat(lit("split_"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("split",
        when(col("rn") * 10 <= col("n") * 8, "train")
          .when(col("rn") * 10 <= col("n") * 9, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private val exactStratifiedSplitSql =
    """WITH ranked AS (
      |  SELECT source,
      |         row_number() OVER (
      |           PARTITION BY source
      |           ORDER BY CAST(('0x' || substring(
      |             md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15))
      |             AS BIGINT), doc_id) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT source,
      |       CASE WHEN rn * 10 <= n * 8 THEN 'train'
      |            WHEN rn * 10 <= n * 9 THEN 'val'
      |            ELSE 'test' END AS split,
      |       CAST(count(*) AS BIGINT) AS n_docs
      |FROM ranked GROUP BY 1, 2""".stripMargin

  /** MAD outlier flags — the robust counterpart of `rolling_zscore`'s
    * mean/σ test: per type, the DISCRETE median (rank (n+1) div 2 —
    * pure integer rank arithmetic, no 0.5·n double anywhere) and the
    * median absolute deviation, then \|v − med\| > 3·MAD flags in exact
    * fixed point. Two ranked window passes over per-type partitions, the
    * 5-row med/MAD tables broadcast back — the ~50%-breakdown-point
    * outlier rule a long-tailed metric needs where one spike poisons a
    * mean-based z-score. */
  // Round-11 re-plan: the two rankPick calls were per-type TOTAL SORTS
  // (the recurring low-cardinality cliff, ~2 sorts of the whole relation
  // at 100×). DistributionRanks.valuesAtRanks picks the exact median by
  // rank from cell-sized scans (sampled bounds → one count pass → a
  // pruned target-cell mini-scan), and the 5-value results inline as
  // literal CASEs (the join-tax rule) — the median VALUE at rank
  // (n+1) div 2 is tie-order-invariant, so dropping the event_id
  // tiebreak changes nothing.
  private val madOutliers: Q = (s, dir) => {
    import graft.operators.DistributionRanks
    val ev = Tables.events(s, dir).select(col("event_type"),
      col("event_id"), round(col("value") * 100).cast("long").as("v"))
    val (med, vBounds) = DistributionRanks.valuesAtRanksBounded(ev,
      col("event_type"), col("v"), n => Seq("med" -> (n + 1) / 2))
    val medExpr = literalCaseOn(col("event_type"),
      med.toList.map { case ((g, _), v) => g -> v }.sortBy(_._1))
    val dev = ev.withColumn("d", abs(col("v") - medExpr))
    // r16 (guide §1.2, one fewer full pass): the MAD call's bucket
    // bounds are DERIVED driver-side from the median call's sampled
    // v-bounds instead of re-sampling the dev relation — d = |v − med_g|
    // folds each group's rank-uniform v-bounds around its median, so
    // |b − med_g| stays a rank-uniform cut set in d-space (≈2 v-cells
    // land per d-cell; cell BALANCE, never exactness, is all bounds
    // affect). Skips valuesAtRanks' TakeOrdered sample pass over dev —
    // the exact (group, bucket) count pass still runs, so the picked
    // MAD value is bit-identical.
    val dBounds = vBounds
      .flatMap(b => med.valuesIterator.map(m => math.abs(b - m)))
      .distinct.sorted
    val (mad, _) = DistributionRanks.valuesAtRanksBounded(dev,
      col("event_type"), col("d"), n => Seq("med" -> (n + 1) / 2),
      givenBounds = Some(dBounds))
    val madExpr = literalCaseOn(col("event_type"),
      mad.toList.map { case ((g, _), v) => g -> v }.sortBy(_._1))
    dev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(medExpr).as("med_fp"), min(madExpr).as("mad_fp"),
        count_if(col("d") > madExpr * 3).as("n_outliers"))
  }

  private val madOutliersSql =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |medr AS (
      |  SELECT event_type, v,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY v, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev),
      |med AS (SELECT event_type, v AS med_fp FROM medr
      |        WHERE rn = (n + 1) // 2),
      |dev AS (SELECT e.event_type, e.event_id,
      |               abs(e.v - m.med_fp) AS d, m.med_fp
      |        FROM ev e JOIN med m ON e.event_type = m.event_type),
      |madr AS (
      |  SELECT event_type, d,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY d, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev),
      |mad AS (SELECT event_type, d AS mad_fp FROM madr
      |        WHERE rn = (n + 1) // 2)
      |SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(dev.med_fp) AS BIGINT) AS med_fp,
      |       CAST(min(mad.mad_fp) AS BIGINT) AS mad_fp,
      |       CAST(sum(CASE WHEN dev.d > mad.mad_fp * 3 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_outliers
      |FROM dev JOIN mad ON dev.event_type = mad.event_type
      |GROUP BY 1""".stripMargin

  /** MAD outliers, sketch-rank form — `mad_outliers` without its scale
    * cliff. The exact gate's median/MAD are per-type TOTAL sorts (rank
    * (n+1) div 2 over every row); with 5 event types that is 5 partitions
    * sorting the whole relation — the one measured 100× cliff in the
    * registry (SCALING.md). Here med/MAD come from the per-type bottom-k
    * sketch (`QuantileSketch.sketchThinned`: count → hash-threshold thin
    * → k-row sort; no per-group total sort anywhere), the deviation
    * median is taken over the SAME k-row uniform sample, and only the
    * final outlier COUNT — a broadcast join + map-side-combinable
    * conditional count — touches every row. Exact when a type has ≤ k
    * events; ~1/√k rank error above. All rank arithmetic is integer on
    * fixed-point cents, so DuckDB replays the sketch, both rank-picks,
    * and the count bit-for-bit. */
  private val MadSkK = 256
  private val madOutliersSketch: Q = (s, dir) => {
    import graft.operators.QuantileSketch
    val ev = Tables.events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("v"),
      conv(substring(md5(concat(lit("mads_"), col("event_id"))), 1, 15),
        16, 10).cast("long").as("h"))
    val sk = QuantileSketch.sketchThinned(
      ev, col("event_type"), col("h"), col("v"), MadSkK).localCheckpoint()
    val med = QuantileSketch.quantiles(sk, Seq(0.5))
      .select(col("scope").as("event_type"), col("est").as("med_fp"))
    // deviation median over the same k-row sample (sketch rows only) —
    // derived through the rows/fromRows public view, not the private
    // _qk_* convention
    val devSk = QuantileSketch.fromRows(
      QuantileSketch.rows(sk)
        .join(broadcast(med), col("scope") === col("event_type"))
        .select(col("scope"), col("h"),
          abs(col("v") - col("med_fp")).as("v")))
    val mad = QuantileSketch.quantiles(devSk, Seq(0.5))
      .select(col("scope").as("event_type"), col("est").as("mad_fp"))
    // med/mad collected to the driver (5 types × 1 long each) and
    // inlined as literal CASEs — the join-tax rule; types absent from
    // the sketch would yield null and are filtered, replicating the
    // inner joins (none are: the starvation guard throws first)
    val medLocal = med.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toList
    val madLocal = mad.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toList
    val medExpr = literalCaseOn(col("event_type"), medLocal)
    val madExpr = literalCaseOn(col("event_type"), madLocal)
    ev.filter(medExpr.isNotNull && madExpr.isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(medExpr).as("med_fp"), min(madExpr).as("mad_fp"),
        count_if(abs(col("v") - medExpr) > madExpr * 3)
          .as("n_outliers"))
  }

  private val madOutliersSketchSql =
    s"""WITH ev AS (
      |  SELECT event_type,
      |         CAST(round(value * 100) AS BIGINT) AS v,
      |         CAST(('0x' || substring(md5('mads_' ||
      |              CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |sk AS (SELECT event_type, h, v FROM (
      |         SELECT event_type, h, v, row_number() OVER (
      |           PARTITION BY event_type ORDER BY h, v) AS rk
      |         FROM ev) WHERE rk <= $MadSkK),
      |medr AS (SELECT event_type, v,
      |                row_number() OVER (PARTITION BY event_type
      |                                   ORDER BY v, h) AS rn,
      |                count(*) OVER (PARTITION BY event_type) AS n
      |         FROM sk),
      |med AS (SELECT event_type, v AS med_fp FROM medr
      |        WHERE rn = (n + 1) // 2),
      |devr AS (SELECT sk.event_type, abs(sk.v - m.med_fp) AS d, sk.h,
      |                row_number() OVER (PARTITION BY sk.event_type
      |                  ORDER BY abs(sk.v - m.med_fp), sk.h) AS rn,
      |                count(*) OVER (PARTITION BY sk.event_type) AS n
      |         FROM sk JOIN med m ON sk.event_type = m.event_type),
      |mad AS (SELECT event_type, d AS mad_fp FROM devr
      |        WHERE rn = (n + 1) // 2)
      |SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(med.med_fp) AS BIGINT) AS med_fp,
      |       CAST(min(mad.mad_fp) AS BIGINT) AS mad_fp,
      |       CAST(sum(CASE WHEN abs(ev.v - med.med_fp) > mad.mad_fp * 3
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM ev
      |JOIN med ON ev.event_type = med.event_type
      |JOIN mad ON ev.event_type = mad.event_type
      |GROUP BY 1""".stripMargin

  /** Distribution buckets, sketch-rank form — `window_distribution_funcs`
    * without its scale cliff. ntile/percent_rank need each row's EXACT
    * rank, which forces a per-type total sort (5 partitions, the other
    * measured 100× cliff). The warehouse-scale counterpart assigns each
    * row a QUARTILE from sketch boundaries instead: per-type bottom-k
    * sketch (`sketchThinned` — no per-group total sort), boundaries at
    * the three dyadic quartile rank-picks, then ONE exact scan counts
    * boundaries ≤ v against the broadcast 3-element array and aggregates
    * count/min/max per (type, bucket) — per-row exact ranks are never
    * materialized. Boundary rank error is the standard ~1/√k equi-depth
    * trade; every step is integer order statistics on a portable hash,
    * replayed bit-for-bit by the oracle. */
  private val PbK = 256
  private val percentileBucket: Q = (s, dir) => {
    import graft.operators.QuantileSketch
    val ev = Tables.events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("v"),
      conv(substring(md5(concat(lit("pb_"), col("event_id"))), 1, 15),
        16, 10).cast("long").as("h"))
    val sk = QuantileSketch.sketchThinned(
      ev, col("event_type"), col("h"), col("v"), PbK)
    val qs = Seq(0.25, 0.5, 0.75) // dyadic: exact doubles
    // per-type bounds collected to the driver (5 types × 3 longs) and
    // inlined as a literal CASE on event_type — the psi_drift rule: a
    // broadcast join of a driver-scale side still prices every fact row
    // through join machinery, and the HOF pick runs interpreted lambdas
    // outside codegen. Types absent from the sketch would yield a null
    // bucket and are filtered, replicating the join's inner semantics
    // (every type present in ev has sketch rows, so none are).
    val boundsLocal = QuantileSketch.quantiles(sk, qs)
      .groupBy(col("scope")).agg(sort_array(collect_list(col("est"))).as("bs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toList
    val bucketExpr = boundsLocal.tail.foldLeft(
      when(col("event_type") === boundsLocal.head._1,
        graft.functions.SortedSearch
          .sortedCountLE(typedLit(boundsLocal.head._2), col("v")))) {
      case (acc, (t, bs)) => acc.when(col("event_type") === t,
        graft.functions.SortedSearch.sortedCountLE(typedLit(bs), col("v")))
    }
    ev
      .withColumn("bucket", (bucketExpr + 1).cast("long"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
  }

  private val percentileBucketSql =
    s"""WITH ev AS (
      |  SELECT event_type,
      |         CAST(round(value * 100) AS BIGINT) AS v,
      |         CAST(('0x' || substring(md5('pb_' ||
      |              CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |sk AS (SELECT event_type, h, v FROM (
      |         SELECT event_type, h, v, row_number() OVER (
      |           PARTITION BY event_type ORDER BY h, v) AS rk
      |         FROM ev) WHERE rk <= $PbK),
      |qs(q) AS (VALUES (0.25), (0.5), (0.75)),
      |bounds AS (
      |  SELECT t.event_type, t.v AS b FROM (
      |    SELECT event_type, v, h,
      |           row_number() OVER (PARTITION BY event_type
      |                              ORDER BY v, h) AS rk,
      |           count(*) OVER (PARTITION BY event_type) AS n
      |    FROM sk) t, qs
      |  WHERE t.rk = CAST(ceil(qs.q * t.n) AS BIGINT))
      |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(min(v) AS BIGINT) AS min_v,
      |       CAST(max(v) AS BIGINT) AS max_v
      |FROM (SELECT e.event_type, e.v,
      |             1 + (SELECT count(*) FROM bounds b
      |                  WHERE b.event_type = e.event_type AND b.b <= e.v)
      |               AS bucket
      |      FROM ev e)
      |GROUP BY 1, 2""".stripMargin

  /** Time-weighted average (TWAP) per user-day — the metrics/finance
    * aggregate where a value HOLDS until the next observation, so the
    * mean weights each value by its holding interval, not its sample
    * count (an event-mean over-weights bursts). Holding interval =
    * lead(us) − us within the user-day (the last observation holds to
    * end-of-day); numerator Σ v_fp·Δus stays integer (≤ 5e4 · 8.64e10
    * per term — BIGINT-safe summed over any day), one lead window per
    * user-day partition, and the final division is the single 6-dp
    * double with an identical operation tree in the oracle. */
  private val twapUserDay: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("day"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day"),
        round(col("value") * 100).cast("long").as("v_fp"))
      .withColumn("until_us", coalesce(lead(col("us"), 1).over(w),
        (col("day") + 86400L) * 1000000L))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("v_fp") * (col("until_us") - col("us"))).as("num_fp"),
        (max(col("until_us")) - min(col("us"))).as("span_us"))
      .withColumn("twap", round(col("num_fp") / col("span_us") / 100.0, 6))
  }

  private val twapUserDaySql =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |         epoch_us(date_trunc('microseconds', ts)) AS us,
      |         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day,
      |         CAST(round(value * 100) AS BIGINT) AS v_fp
      |  FROM events),
      |held AS (
      |  SELECT user_id, day, us, v_fp,
      |         coalesce(lead(us, 1) OVER (
      |             PARTITION BY user_id, day ORDER BY us, event_id),
      |           (day + 86400) * 1000000) AS until_us
      |  FROM ev)
      |SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_obs,
      |       CAST(sum(v_fp * (until_us - us)) AS BIGINT) AS num_fp,
      |       CAST(max(until_us) - min(us) AS BIGINT) AS span_us,
      |       round(CAST(sum(v_fp * (until_us - us)) AS BIGINT)
      |             / (max(until_us) - min(us)) / 100.0, 6) AS twap
      |FROM held GROUP BY 1, 2""".stripMargin

  /** Gap-based sessionization, the portable SQL idiom (vs the
    * Spark-native `session_window` already gated as
    * `session_window_stats`): a session break is a gap > 30 min from the
    * previous event; session index = running count of breaks per user
    * (one lag + one running-sum over the same per-user sort — Spark
    * plans ONE window exchange for both), then per-session stats. All
    * integer µs. */
  private val sessionIdsGap: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("is_break",
        (col("us") - lag(col("us"), 1).over(w) > 1800000000L).cast("long"))
      .withColumn("session_idx",
        sum(coalesce(col("is_break"), lit(0L))).over(wRun))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  private val sessionIdsGapSql =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |         epoch_us(date_trunc('microseconds', ts)) AS us
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_id, us,
      |         CASE WHEN us - lag(us, 1) OVER w > 1800000000
      |              THEN 1 ELSE 0 END AS is_break
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |         sum(is_break) OVER (
      |           PARTITION BY user_id ORDER BY us, event_id
      |           ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM marked)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(us) AS BIGINT) AS start_us,
      |       CAST(max(us) AS BIGINT) AS end_us,
      |       CAST(max(us) - min(us) AS BIGINT) AS duration_us
      |FROM sess GROUP BY 1, 2""".stripMargin

  /** Association rules (support / confidence / lift) — market-basket
    * mining over (user, hour) baskets of event types: row-local pair
    * fan-out from each basket's ≤ 5-element distinct item array (never a
    * corpus self-join), exact integer support counts, confidence and
    * lift in 1e-6 fixed point by integer floor division. The A→B and
    * B→A rules both emit (confidence is directional). */
  private val assocRules: Q = (s, dir) => {
    val baskets = Tables.events(s, dir)
      .select(col("user_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
        col("event_type"))
      .distinct()
      .groupBy(col("user_id"), col("h"))
      .agg(sort_array(collect_set(col("event_type"))).as("items"))
    val nB = baskets.select(count(lit(1)).as("n_baskets"))
    val itemCounts = baskets
      .select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairCounts = baskets
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)), y ->
          |    named_struct('a', x, 'b', y))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val directional = pairCounts.unionByName(
      pairCounts.select(col("b").as("a"), col("a").as("b"), col("n_ab")))
    directional
      .join(broadcast(itemCounts.select(col("item").as("a"),
        col("n_item").as("n_a"))), "a")
      .join(broadcast(itemCounts.select(col("item").as("b"),
        col("n_item").as("n_b"))), "b")
      .crossJoin(broadcast(nB))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_baskets"),
        expr("1000000 * n_ab div n_a").as("conf_fp"),
        expr("(1000000 * n_ab * n_baskets) div (n_a * n_b)").as("lift_fp"))
  }

  private val assocRulesSql =
    """WITH baskets AS (
      |  SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
      |         list_sort(list(DISTINCT event_type)) AS items
      |  FROM events GROUP BY 1, 2),
      |nb AS (SELECT count(*) AS n_baskets FROM baskets),
      |items AS (SELECT unnest(items) AS item, user_id, h FROM baskets),
      |ic AS (SELECT item, count(*) AS n_item FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT x.item AS a, y.item AS b, count(*) AS n_ab
      |  FROM items x JOIN items y
      |    ON x.user_id = y.user_id AND x.h = y.h AND x.item < y.item
      |  GROUP BY 1, 2),
      |dir AS (SELECT a, b, n_ab FROM pairs
      |        UNION ALL SELECT b, a, n_ab FROM pairs)
      |SELECT d.a, d.b, CAST(d.n_ab AS BIGINT) AS n_ab,
      |       CAST(ia.n_item AS BIGINT) AS n_a,
      |       CAST(ib.n_item AS BIGINT) AS n_b,
      |       CAST(nb.n_baskets AS BIGINT) AS n_baskets,
      |       CAST(1000000 * d.n_ab // ia.n_item AS BIGINT) AS conf_fp,
      |       CAST((1000000 * d.n_ab * nb.n_baskets)
      |            // (ia.n_item * ib.n_item) AS BIGINT) AS lift_fp
      |FROM dir d
      |JOIN ic ia ON d.a = ia.item
      |JOIN ic ib ON d.b = ib.item
      |CROSS JOIN nb""".stripMargin

  /** Week-over-week change — the BI period-comparison staple: weekly
    * fixed-point value totals per type (exact integer cents), previous
    * week via one lag window over the tiny (type × week) relation, the
    * integer difference, and ONE 6-dp double ratio at the end (no float
    * sum, no negative integer division — Spark `div` truncates where
    * DuckDB `//` floors, so a fixed-point ratio here would diverge on
    * negative deltas; the double ratio has an identical op tree). */
  private val wowChange: Q = (s, dir) => {
    val weekly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("week", col("ts"))).as("week"))
      .agg(sum(round(col("value") * 100).cast("long")).as("total_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev_fp", lag(col("total_fp"), 1).over(w))
      .withColumn("diff_fp", col("total_fp") - col("prev_fp"))
      .withColumn("pct_change",
        round(col("diff_fp") / col("prev_fp"), 6))
  }

  private val wowChangeSql =
    """WITH weekly AS (
      |  SELECT event_type,
      |         CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS week,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |           AS total_fp
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, week, total_fp,
      |       lag(total_fp, 1) OVER w AS prev_fp,
      |       total_fp - lag(total_fp, 1) OVER w AS diff_fp,
      |       round(CAST(total_fp - lag(total_fp, 1) OVER w AS DOUBLE)
      |             / lag(total_fp, 1) OVER w, 6) AS pct_change
      |FROM weekly
      |WINDOW w AS (PARTITION BY event_type ORDER BY week)""".stripMargin

  /** Shannon token entropy per source — the information-density quality
    * signal data curation ranks corpora by (boilerplate-heavy sources
    * score low). The cross-row sum is ORDER-DEPENDENT if floated, so
    * each term is rounded to integer 1e-6 BEFORE the multiply:
    * term_fp = n_tok · round(1e6 · ln(total/n_tok)) — integer sums are
    * order-free and engine-identical; the one double division happens
    * once per source at the end (÷ total ÷ 1e6 ÷ ln 2 → bits). */
  private val tokenEntropyBySource: Q = (s, dir) => {
    val counts = Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_distinct"))
    counts.join(broadcast(totals), "source")
      .withColumn("term_fp",
        col("n") * round(lit(1e6) * log(col("total") / col("n"))).cast("long"))
      .groupBy(col("source"))
      .agg(min(col("total")).as("total_tokens"),
        min(col("n_distinct")).as("n_distinct"),
        sum(col("term_fp")).as("sum_term_fp"))
      .withColumn("entropy_bits",
        round(col("sum_term_fp") / col("total_tokens") / 1e6 /
          log(lit(2.0)), 6))
  }

  private val tokenEntropyBySourceSql =
    """WITH toks AS (
      |  SELECT source, w
      |  FROM (SELECT source, unnest(str_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE w <> ''),
      |counts AS (SELECT source, w, count(*) AS n FROM toks GROUP BY 1, 2),
      |totals AS (SELECT source, sum(n) AS total, count(*) AS n_distinct
      |           FROM counts GROUP BY 1),
      |terms AS (
      |  SELECT c.source, t.total, t.n_distinct,
      |         c.n * CAST(round(1e6 * ln(CAST(t.total AS DOUBLE) / c.n))
      |                    AS BIGINT) AS term_fp
      |  FROM counts c JOIN totals t ON c.source = t.source)
      |SELECT source, CAST(min(total) AS BIGINT) AS total_tokens,
      |       CAST(min(n_distinct) AS BIGINT) AS n_distinct,
      |       CAST(sum(term_fp) AS BIGINT) AS sum_term_fp,
      |       round(CAST(sum(term_fp) AS BIGINT) / CAST(min(total) AS BIGINT)
      |             / 1e6 / ln(2.0), 6) AS entropy_bits
      |FROM terms GROUP BY 1""".stripMargin

  /** Population Stability Index — the ML-ops drift metric between the
    * first and second time halves of each type's value distribution.
    * Bucket boundaries come from the mergeable bottom-k sketch of the
    * FIRST half (the reference window, per PSI convention; deterministic
    * order statistics → oracle-replayable), counts per bucket per half
    * are exact with +1 Laplace smoothing (PSI is undefined on empty
    * buckets), and each PSI term (p−q)·ln(p/q) is rounded to integer
    * 1e-6 BEFORE the sum (the `token_entropy_by_source` trick — float
    * sums are order-dependent, integer sums are not). The ln argument is
    * the exact integer cross-ratio (na·tb)/(nb·ta), products < 2⁵³ so
    * both engines see identical doubles. */
  private val psiDrift: Q = (s, dir) => {
    import graft.operators.QuantileSketch
    val k = 128
    val nB = 8
    val keep = 1024L // k × margin 8 — the sketchThinned thin budget
    val ev = Tables.events(s, dir).select(col("event_type").as("g"),
      col("event_id"), unix_micros(col("ts")).as("us"),
      conv(substring(md5(concat(lit("psi_"), col("event_id"))), 1, 15),
        16, 10).cast("long").as("h"),
      round(col("value") * 100).cast("long").as("v"))
    // no checkpoint/cache of the raw relation: the projection is
    // deterministic md5 + round, so consumers re-scan parquet — caching
    // 10^8 rows starves execution memory (storageFraction floor) long
    // before the recompute would cost anything.
    //
    // THREE-and-a-half data passes total (round-11 re-plan): the global
    // midpoint and the per-type counts fold into ONE stats pass (h and
    // v pruned from its scan), a half-scan counts the reference half
    // per type (g+us columns only — exact thin thresholds need n_half,
    // which no single pass can produce because mid isn't known until
    // the stats pass finishes), the thin pass reads only the reference
    // half (the us ≤ mid filter sits below the md5 projection), and the
    // bucket-count pass is the one exact full scan.
    val stats = ev.groupBy(col("g")).agg(count(lit(1)).as("n_tot"),
      min(col("us")).as("mn"), max(col("us")).as("mx")).collect()
    val mn = stats.map(_.getAs[Long]("mn")).min
    val mx = stats.map(_.getAs[Long]("mx")).max
    val mid = mn + (mx - mn) / 2 // == min + (max − min) div 2, both ≥ 0
    // Thin thresholds from EXACT reference-half counts (round 11; the
    // previous total-count form T_g = 2^60·keep/n_tot kept every
    // first-half row only in expectation — on a corpus where
    // n_tot > keep but n_half < k each of the n_half rows had ~1/1025
    // independent drop probability and the starvation guard could
    // detonate on healthy skewed data). Rules mirror
    // QuantileSketch.sketchThinned: n_half ≤ keep ⇒ Long.MaxValue
    // (keep ALL first-half rows — the sketch is then exactly
    // min(k, n_half) deep, deterministically), else
    // T_g = 2^60·keep/n_half exact BigInt quotient, expected survivors
    // = keep = 8k, starving below k is e^−k-improbable, and the guard
    // on the final aggregation still catches it EXACTLY (n_half is
    // recovered from the smoothed totals as total_a − n_buckets).
    // Thinning never changes the result otherwise: the bottom-k under
    // h-order is invariant to dropping rows above the threshold.
    // Thresholds inline as a literal CASE on g, NOT a broadcast join:
    // even a 5-row broadcast hash join prices every fact row through
    // join machinery; a when-chain of literals stays inside the scan's
    // codegen (the bounds join below was measured at 3.4× the pass cost
    // at this decade before the same change).
    val halfCounts = ev.filter(col("us") <= mid).groupBy(col("g"))
      .agg(count(lit(1)).as("n_half")).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Long]("n_half")).toMap
    val threshOf = stats.map { r =>
      val g = r.getAs[String]("g")
      val nHalf = halfCounts.getOrElse(g, 0L)
      g -> (if (nHalf <= keep) Long.MaxValue
            else (BigInt(1152921504606846976L) * keep / nHalf).toLong)
    }.toList
    val threshExpr = literalCaseOn(col("g"), threshOf)
    val surv = ev.filter(col("us") <= mid && col("h") <= threshExpr)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"), col("v"))
    val sk = surv.withColumn("_rk", row_number().over(wB))
      .filter(col("_rk") <= k)
      .select(col("g").as("_qk_g"), col("h").as("_qk_h"),
        col("v").as("_qk_v"))
      .localCheckpoint() // ≤ 5k rows: the allowed side of the cache rule
    val skSz = sk.groupBy(col("_qk_g").as("g"))
      .agg(count(lit(1)).as("sk_sz"))
    val qs = (1 until nB).map(_.toDouble / nB) // dyadic: exact doubles
    // Bounds collected to the driver (≤ 5 types × 7 values — the same
    // driver-scale class as `stats`) and inlined as LITERAL sorted
    // arrays in a CASE on g: joining the bounds relation instead
    // carries the array through the join for every fact row — measured
    // 9.3 s vs 2.7 s for this pass at the 1000× decade. Bucket pick is
    // the codegen'd binary search; types absent from the sketch yield a
    // null bucket and are filtered, replicating the join's inner
    // semantics bit-for-bit.
    val boundsLocal = QuantileSketch.quantiles(sk, qs)
      .groupBy(col("scope")).agg(sort_array(collect_list(col("est"))).as("bs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toList
    // Empty-corpus guard: no types ⇒ null bucket everywhere ⇒ the
    // isNotNull filter below yields an empty result (the behavior the
    // old broadcast-join form had for free).
    val bucketExpr =
      if (boundsLocal.isEmpty) lit(null).cast("long")
      else boundsLocal.tail.foldLeft(
        when(col("g") === boundsLocal.head._1, graft.functions.SortedSearch
          .sortedCountLE(typedLit(boundsLocal.head._2), col("v")))) {
        case (acc, (gv, bs)) => acc.when(col("g") === gv,
          graft.functions.SortedSearch.sortedCountLE(typedLit(bs), col("v")))
      }
    val bucketed = ev
      .withColumn("bucket", bucketExpr.cast("long"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("g"), col("bucket"))
      .agg(count_if(col("us") <= mid).as("na0"),
        count_if(col("us") > mid).as("nb0"))
      // +1 Laplace smoothing per bucket (documented; empty buckets would
      // make ln(p/q) undefined)
      .select(col("g"), col("bucket"),
        (col("na0") + 1).as("na"), (col("nb0") + 1).as("nb"))
    // per-type totals as a window over the (g, bucket) relation — NOT a
    // separate aggregate joined back: `bucketed` is only nB×n_types rows,
    // but consuming it twice re-executes its whole subtree, i.e. the
    // exact bucket-count scan runs TWICE over the full fact relation.
    // The window keeps the plan to ONE exact pass; partitioned by g, so
    // no partition-less window.
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    bucketed
      .withColumn("ta", sum(col("na")).over(wG))
      .withColumn("tb", sum(col("nb")).over(wG))
      .withColumn("term_fp",
        round(lit(1e6) *
          (col("na") / col("ta") - col("nb") / col("tb")) *
          log((col("na") * col("tb")) / (col("nb") * col("ta"))))
          .cast("long"))
      .groupBy(col("g"))
      .agg(min(col("ta")).as("total_a"), min(col("tb")).as("total_b"),
        sum(col("term_fp")).as("psi_fp"),
        count(lit(1)).as("_nbk"))
      // Starvation guard, EXACT: the reference-half count is recovered
      // from the smoothed totals (total_a = n_half + observed buckets),
      // so a thinned sketch smaller than min(k, n_half) throws loudly
      // instead of shipping a subtly-biased PSI. (A type whose sketch
      // starved to EMPTY would drop out of `bounds` upstream — the same
      // pre-existing edge as an empty reference half — but requires all
      // n_half hashes above the threshold: P ≈ e^−keep/2.)
      .join(broadcast(skSz), Seq("g"))
      .withColumn("psi_fp",
        when(col("sk_sz") ===
            least(lit(k.toLong), col("total_a") - col("_nbk")),
          col("psi_fp"))
        .otherwise(assert_true(lit(false),
          lit("psi_drift: total-count thin filter starved the reference " +
            "sketch below min(k, n_half) — raise keep")).cast("long")))
      .select(col("g").as("event_type"), col("total_a"), col("total_b"),
        col("psi_fp"))
  }

  private val psiDriftSql = {
    val qsVals = (1 until 8).map(i => s"(${i.toDouble / 8})").mkString(",")
    s"""WITH ev AS (
       |  SELECT event_type AS g, event_id,
       |         epoch_us(date_trunc('microseconds', ts)) AS us,
       |         CAST(('0x' || substring(md5('psi_' ||
       |              CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
       |         CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events),
       |mid AS (SELECT min(us) + (max(us) - min(us)) // 2 AS t FROM ev),
       |sk AS (SELECT g, h, v FROM (
       |         SELECT e.g, e.h, e.v, row_number() OVER (
       |           PARTITION BY e.g ORDER BY e.h, e.v) AS rk
       |         FROM ev e CROSS JOIN mid WHERE e.us <= mid.t)
       |       WHERE rk <= 128),
       |qs(q) AS (VALUES $qsVals),
       |bounds AS (
       |  SELECT t.g, t.v AS b FROM (
       |    SELECT g, v, h, row_number() OVER (
       |        PARTITION BY g ORDER BY v, h) AS rk,
       |      count(*) OVER (PARTITION BY g) AS n
       |    FROM sk) t, qs
       |  WHERE t.rk = CAST(ceil(qs.q * t.n) AS BIGINT)),
       |assigned AS (
       |  SELECT e.g,
       |         (SELECT count(*) FROM bounds bb
       |          WHERE bb.g = e.g AND bb.b <= e.v) AS bucket,
       |         CASE WHEN e.us <= mid.t THEN 'a' ELSE 'b' END AS half
       |  FROM ev e CROSS JOIN mid),
       |counts AS (
       |  SELECT g, bucket,
       |         sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) + 1 AS na,
       |         sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) + 1 AS nb
       |  FROM assigned GROUP BY 1, 2),
       |totals AS (SELECT g, sum(na) AS ta, sum(nb) AS tb
       |           FROM counts GROUP BY 1),
       |terms AS (
       |  SELECT c.g, t.ta, t.tb,
       |         CAST(round(1e6 *
       |           (CAST(c.na AS DOUBLE) / t.ta - CAST(c.nb AS DOUBLE) / t.tb)
       |           * ln(CAST(c.na * t.tb AS DOUBLE) / (c.nb * t.ta)))
       |           AS BIGINT) AS term_fp
       |  FROM counts c JOIN totals t ON c.g = t.g)
       |SELECT g AS event_type, CAST(min(ta) AS BIGINT) AS total_a,
       |       CAST(min(tb) AS BIGINT) AS total_b,
       |       CAST(sum(term_fp) AS BIGINT) AS psi_fp
       |FROM terms GROUP BY 1""".stripMargin
  }

  /** Two-proportion A/B z-score — the experimentation-platform readout:
    * users assign to variants by a deterministic split hash (never by
    * id parity — correlated with enrollment order), conversion = heavy
    * purchaser (> 13 purchases — the fixture gives every user ~13, so
    * "any purchase" is a degenerate p̂ = 1 that zeroes the pooled
    * variance; caught live as an ANSI divide-by-zero), and the pooled z
    * statistic is one double chain over four exact integers, 6-dp
    * rounded. Single-row result. */
  private val abTestZscore: Q = (s, dir) => {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(when(count_if(col("event_type") === "purchase") > 13, 1L)
        .otherwise(0L).as("converted"))
      .withColumn("variant",
        when(pmod(conv(substring(md5(concat(lit("ab_"), col("user_id"))),
          1, 15), 16, 10).cast("long"), lit(2L)) === 0, "a").otherwise("b"))
    users.groupBy()
      .agg(
        count_if(col("variant") === "a").as("n_a"),
        sum(when(col("variant") === "a", col("converted"))
          .otherwise(0L)).as("conv_a"),
        count_if(col("variant") === "b").as("n_b"),
        sum(when(col("variant") === "b", col("converted"))
          .otherwise(0L)).as("conv_b"))
      .withColumn("z6", round(
        (col("conv_a") / col("n_a") - col("conv_b") / col("n_b")) /
          sqrt((col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b")) *
            (lit(1.0) - (col("conv_a") + col("conv_b")) /
              (col("n_a") + col("n_b"))) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
  }

  private val abTestZscoreSql =
    """WITH users AS (
      |  SELECT user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |                        THEN 1 ELSE 0 END) > 13
      |              THEN 1 ELSE 0 END AS converted,
      |         CASE WHEN CAST(('0x' || substring(md5('ab_' ||
      |                CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |              THEN 'a' ELSE 'b' END AS variant
      |  FROM events GROUP BY user_id)
      |SELECT CAST(sum(CASE WHEN variant = 'a' THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_a,
      |       CAST(sum(CASE WHEN variant = 'a' THEN converted ELSE 0 END)
      |         AS BIGINT) AS conv_a,
      |       CAST(sum(CASE WHEN variant = 'b' THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_b,
      |       CAST(sum(CASE WHEN variant = 'b' THEN converted ELSE 0 END)
      |         AS BIGINT) AS conv_b,
      |       round(
      |         (CAST(sum(CASE WHEN variant = 'a' THEN converted ELSE 0 END)
      |               AS DOUBLE)
      |            / sum(CASE WHEN variant = 'a' THEN 1 ELSE 0 END)
      |          - CAST(sum(CASE WHEN variant = 'b' THEN converted ELSE 0 END)
      |                 AS DOUBLE)
      |            / sum(CASE WHEN variant = 'b' THEN 1 ELSE 0 END)) /
      |         sqrt(CAST(sum(converted) AS DOUBLE) / count(*) *
      |              (1.0 - CAST(sum(converted) AS DOUBLE) / count(*)) *
      |              (1.0 / sum(CASE WHEN variant = 'a' THEN 1 ELSE 0 END)
      |               + 1.0 / sum(CASE WHEN variant = 'b' THEN 1 ELSE 0 END)))
      |         , 6) AS z6
      |FROM users""".stripMargin

  /** Distribution window functions — ntile / percent_rank / cume_dist,
    * the ranking family `window_rank_orders` doesn't cover: quartile
    * assignment and the two rational-rank statistics per type partition.
    * percent_rank = (rank−1)/(n−1) and cume_dist = peers/n are ratios of
    * small exact integers — identical doubles in both engines, no
    * rounding needed (pinned at 6 dp anyway for hygiene).
    *
    * Round-11 re-plan: the Window.partitionBy(event_type) form was the
    * recurring low-cardinality total-sort cliff (5 types × full sort at
    * 100×). The composite (v, event_id) order key packs into ONE long
    * (v·2⁴⁰ + event_id — order-preserving because event_id < 2⁴⁰ and
    * v ≥ 0, both GUARDED with an in-projection assert so a corpus that
    * outgrows the pack throws instead of silently mis-ranking), and
    * DistributionRanks delivers exact per-type ranks from cell-sized
    * windows; (rank = row_number: the packed key is unique since
    * event_id is). ntile/percent_rank/cume_dist re-derive from (rn, n)
    * by their definitional arithmetic — bit-identical to the window
    * functions (same longs in, same double divisions). */
  private val windowDistributionFuncs: Q = (s, dir) => {
    import graft.operators.DistributionRanks
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("v"))
      .withColumn("_ord",
        when(col("event_id") >= 0 && col("event_id") < lit(1L << 40) &&
            col("v") >= 0 && col("v") < lit(1L << 22),
          col("v") * lit(1L << 40) + col("event_id"))
        // A NULL event_id/value also lands here (the when() guard
        // evaluates to null and falls through) — the message must name
        // the null, not the pack width: the oracle RANKS null-key rows,
        // so a null-bearing corpus needs explicit null handling, not a
        // wider pack.
        .otherwise(assert_true(lit(false),
          when(col("event_id").isNull || col("v").isNull,
            lit("window_distribution_funcs: NULL event_id/value — the " +
              "oracle ranks null keys; add null handling before the " +
              "62-bit pack"))
          .otherwise(
            lit("window_distribution_funcs: (v, event_id) outgrew the " +
              "order-preserving 62-bit pack — widen the pack")))
          .cast("long")))
    val ranked = DistributionRanks.withGroupRanks(
      ev, col("event_type"), col("_ord"), "rn", "n")
    ranked.select(
      col("event_type"), col("event_id"), col("v"),
      expr("""CASE WHEN rn <= (n % 4) * (n div 4 + 1)
             |     THEN (rn - 1) div (n div 4 + 1) + 1
             |     ELSE (n % 4) + (rn - 1 - (n % 4) * (n div 4 + 1)) div (n div 4) + 1
             |END""".stripMargin).cast("long").as("quartile"),
      when(col("n") === 1, lit(0.0))
        .otherwise(round((col("rn") - 1) / (col("n") - 1), 6)).as("pct_rank"),
      round(col("rn") / col("n"), 6).as("cume"))
  }

  private val windowDistributionFuncsSql =
    """SELECT event_type, event_id,
      |       CAST(round(value * 100) AS BIGINT) AS v,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |       round(percent_rank() OVER w, 6) AS pct_rank,
      |       round(cume_dist() OVER w, 6) AS cume
      |FROM events
      |WINDOW w AS (PARTITION BY event_type
      |             ORDER BY CAST(round(value * 100) AS BIGINT), event_id)""".stripMargin

  /** Quantile normalization — map every source's length distribution
    * onto the GLOBAL distribution (the batch-effect correction
    * bioinformatics and data-mix balancing use): the target is the
    * global bottom-k sketch (k = 256 — broadcast, never a global sort);
    * each doc's within-source midrank quantile q = (2r−1)/(2n_s) picks
    * the sketch value at INTEGER-ceiling rank ((2r−1)·k + 2n_s − 1) div
    * (2n_s) — the whole mapping is integer arithmetic on exact ranks,
    * bit-replayable. Per-source windows are stratum-bounded; the global
    * sort the naive form needs never happens. */
  private val quantileNormalize: Q = (s, dir) => {
    import graft.operators.QuantileSketch
    val k = 256
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      col("n_chars"),
      conv(substring(md5(concat(lit("qn_"), col("doc_id"))), 1, 15),
        16, 10).cast("long").as("h"))
    // sort INSIDE the collected array (collect_list order is not
    // guaranteed by an upstream orderBy): value-ascending, hash tiebreak
    // — the oracle's ORDER BY v, h
    // global bottom-k straight off the scan (TakeOrderedAndProject) — a
    // constant-group sketch() would constant-fold into a partition-less
    // Window (all rows to one partition)
    val sk = QuantileSketch.sortedValues(
        QuantileSketch.sketchGlobal(docs, col("h"), col("n_chars"), "ALL", k))
      .select(col("vs").as("target"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    docs
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source")))
        .cast("long"))
      .crossJoin(broadcast(sk))
      .withColumn("t_rank",
        // clamp to the sketch's actual size: on a corpus with fewer than
        // k rows the formula's upper end would index past the array
        expr(s"least(((2 * r - 1) * $k + 2 * ns - 1) div (2 * ns)," +
          " cast(size(target) as bigint))"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("element_at(target, cast(t_rank as int))").as("norm_chars"))
  }

  private val quantileNormalizeSql = {
    val k = 256
    s"""WITH docs AS (
       |  SELECT doc_id, source, n_chars,
       |         CAST(('0x' || substring(md5('qn_' ||
       |              CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |sk AS (SELECT h, n_chars AS v FROM (
       |         SELECT h, n_chars, row_number() OVER (
       |           ORDER BY h, n_chars) AS rk
       |         FROM docs) WHERE rk <= $k),
       |target AS (SELECT v, row_number() OVER (ORDER BY v, h) AS tr
       |           FROM sk),
       |ranked AS (
       |  SELECT doc_id, source, n_chars,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY n_chars, doc_id) AS r,
       |         count(*) OVER (PARTITION BY source) AS ns
       |  FROM docs)
       |SELECT rk.doc_id, rk.source, rk.n_chars, t.v AS norm_chars
       |FROM ranked rk
       |JOIN target t
       |  ON t.tr = LEAST(
       |       ((2 * rk.r - 1) * $k + 2 * rk.ns - 1) // (2 * rk.ns),
       |       (SELECT count(*) FROM sk))""".stripMargin
  }

  /** Analytics pipeline composition — the third end-to-end gate (next to
    * `pipeline_end_to_end` and `pipeline_streaming_ingest`), chaining
    * three gated operator families as ONE query: gap sessionization
    * (`session_ids_gap`'s machinery) → ORDERED funnel within each
    * session (`funnel_conversion`'s conditional-min chain, scoped to the
    * (user, session) key) → per-cohort conversion rollup (cohort = the
    * user's first-seen epoch-week index, integer µs div — the
    * `cohort_retention` shape). Session-converted = the session contains
    * view → click → purchase IN ORDER. All stages integer; the share is
    * 1e-6 floor division. Scale shape: one per-user window, then ONE
    * groupBy reduces straight to (user, session) cardinality — the
    * ordered funnel runs as a sorted-array state-machine walk INSIDE
    * that aggregate (`SessionFunnelState.funnelWalk`, null-seeded — the
    * same walk the streaming funnels continue from their state). No
    * event-cardinality relation is checkpointed or consumed
    * twice — round 9's multi-join form re-read a cached sessionized
    * relation five times, the storageFraction-floor family at 100x;
    * this is the single-pass conditional aggregate. Per-group state is
    * one session's events (gap-bounded — the bound any sessionization
    * carries); the cohort week is then a user-partitioned window over
    * session-cardinality rows. */
  private val pipelineSessionsFunnel: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("is_break",
        (col("us") - lag(col("us"), 1).over(w) > 1800000000L).cast("long"))
      .withColumn("sidx", sum(coalesce(col("is_break"), lit(0L))).over(wRun))
    val perSession = sess.groupBy(col("user_id"), col("sidx"))
      .agg(count(lit(1)).as("n_events"), min(col("us")).as("min_us"),
        when(funnelWalk(walkEvents(col("us")))("t3").isNotNull, 1L)
          .otherwise(0L).as("conv"))
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    perSession
      .withColumn("u_min_us", min(col("min_us")).over(wU))
      .withColumn("cohort_week", expr("u_min_us div 604800000000"))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("conv")).as("n_conv"))
      .withColumn("conv_fp", expr("1000000 * n_conv div n_sessions"))
  }

  private val pipelineSessionsFunnelSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(date_trunc('microseconds', ts)) AS us
      |  FROM events),
      |marked AS (
      |  SELECT *, CASE WHEN us - lag(us, 1) OVER w > 1800000000
      |                 THEN 1 ELSE 0 END AS is_break
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, event_type, us,
      |         sum(is_break) OVER (
      |           PARTITION BY user_id ORDER BY us, event_id
      |           ROWS UNBOUNDED PRECEDING) AS sidx
      |  FROM marked),
      |t1 AS (SELECT user_id, sidx, min(us) AS t1 FROM sess
      |       WHERE event_type = 'view' GROUP BY 1, 2),
      |t2 AS (SELECT s.user_id, s.sidx, min(s.us) AS t2
      |       FROM sess s JOIN t1
      |         ON s.user_id = t1.user_id AND s.sidx = t1.sidx
      |        AND s.us > t1.t1
      |       WHERE s.event_type = 'click' GROUP BY 1, 2),
      |t3 AS (SELECT s.user_id, s.sidx, min(s.us) AS t3
      |       FROM sess s JOIN t2
      |         ON s.user_id = t2.user_id AND s.sidx = t2.sidx
      |        AND s.us > t2.t2
      |       WHERE s.event_type = 'purchase' GROUP BY 1, 2),
      |sessions AS (SELECT user_id, sidx, count(*) AS n_events
      |             FROM sess GROUP BY 1, 2),
      |cohort AS (SELECT user_id, min(us) // 604800000000 AS cohort_week
      |           FROM sess GROUP BY 1)
      |SELECT c.cohort_week, CAST(count(*) AS BIGINT) AS n_sessions,
      |       CAST(sum(CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_conv,
      |       CAST(1000000 * sum(CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END)
      |            // count(*) AS BIGINT) AS conv_fp
      |FROM sessions se
      |LEFT JOIN t3 ON se.user_id = t3.user_id AND se.sidx = t3.sidx
      |JOIN cohort c ON se.user_id = c.user_id
      |GROUP BY 1""".stripMargin

  val all: Map[String, Q] = Map(
    "pipeline_sessions_funnel" -> pipelineSessionsFunnel,
    "window_distribution_funcs" -> windowDistributionFuncs,
    "quantile_normalize"   -> quantileNormalize,
    "psi_drift"            -> psiDrift,
    "ab_test_zscore"       -> abTestZscore,
    "wow_change"           -> wowChange,
    "token_entropy_by_source" -> tokenEntropyBySource,
    "twap_user_day"        -> twapUserDay,
    "session_ids_gap"      -> sessionIdsGap,
    "assoc_rules"          -> assocRules,
    "exact_stratified_split" -> exactStratifiedSplit,
    "mad_outliers"         -> madOutliers,
    "mad_outliers_sketch"  -> madOutliersSketch,
    "percentile_bucket"    -> percentileBucket,
    "funnel_conversion"    -> funnelConversion,
    "event_transitions"    -> eventTransitions,
    "cusum_changepoint"    -> cusumChangepoint,
    "winsorize_values"     -> winsorizeValues,
    "winsorize_sketch"     -> winsorizeSketch,
    "scd2_point_in_time"   -> scd2PointInTime)

  val oracles: Map[String, String] = Map(
    "pipeline_sessions_funnel" -> pipelineSessionsFunnelSql,
    "window_distribution_funcs" -> windowDistributionFuncsSql,
    "quantile_normalize"   -> quantileNormalizeSql,
    "psi_drift"            -> psiDriftSql,
    "ab_test_zscore"       -> abTestZscoreSql,
    "wow_change"           -> wowChangeSql,
    "token_entropy_by_source" -> tokenEntropyBySourceSql,
    "twap_user_day"        -> twapUserDaySql,
    "session_ids_gap"      -> sessionIdsGapSql,
    "assoc_rules"          -> assocRulesSql,
    "exact_stratified_split" -> exactStratifiedSplitSql,
    "mad_outliers"         -> madOutliersSql,
    "mad_outliers_sketch"  -> madOutliersSketchSql,
    "percentile_bucket"    -> percentileBucketSql,
    "funnel_conversion"    -> funnelConversionSql,
    "event_transitions"    -> eventTransitionsSql,
    "cusum_changepoint"    -> cusumChangepointSql,
    "winsorize_values"     -> winsorizeValuesSql,
    "winsorize_sketch"     -> winsorizeSketchSql,
    "scd2_point_in_time"   -> scd2PointInTimeSql)
}
