package graft

/** Plan regressions fail here before they cost anything at scale: filters
  * must reach the parquet scan, projections must prune columns, small dims
  * must broadcast, distinct must partial-aggregate map-side, and nothing
  * may plan a cartesian product unintentionally.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    Queries.all(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q1_agg: filter pushed to parquet, columns pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "reads columns the query never uses")
  }

  test("filter_project: props column never read") {
    val p = plan("filter_project")
    assert(p.contains("PushedFilters") && p.contains("event_type"), p)
    assert(!p.contains("props"), "props should be pruned from the scan")
  }

  test("q3_topk_revenue: dims broadcast, top-k via TakeOrderedAndProject") {
    val p = plan("q3_topk_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "global sort would be O(n log n) at scale")
  }

  test("unique_users_per_minute: distinct partial-aggregates before the shuffle") {
    val p = plan("unique_users_per_minute")
    assert(p.contains("partial_count(distinct") || p.contains("partial_count(DISTINCT"), p)
  }

  test("minhash_signatures: numeric min buffers keep the HashAggregate path") {
    val p = plan("minhash_signatures")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"),
      "string-typed min buffers regressed the signature agg to SortAggregate")
  }

  test("knn_bruteforce: norms computed per side before the join, not per pair") {
    val p = plan("knn_bruteforce")
    // the post-join projection must divide by the precomputed norm columns;
    // a SQRT after the join means the norm moved back into the pair loop
    val postJoin = p.split("BroadcastNestedLoopJoin").head
    assert(!postJoin.contains("SQRT"),
      s"norm recomputed per candidate pair (quadratic, was linear):\n$p")
    assert(p.contains("SQRT(dot("), "per-side norm projections missing")
  }

  test("rolling_revenue_30d: single shuffle, value-based range frame") {
    val p = plan("rolling_revenue_30d")
    assert(p.contains("specifiedwindowframe(RangeFrame"), p)
    assert(p.split("Exchange").length - 1 == 1,
      "rolling window should cost exactly one hash-partition exchange")
  }

  test("pii_scrub and repetition_score: pure per-row pipelines, zero exchanges") {
    Seq("pii_scrub", "repetition_score").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name is a per-row map and must not shuffle:\n$p")
    }
  }

  test("dedup_clusters: converged labels need exactly one exchange for sizing") {
    // the iterative loop runs at call time against checkpointed relations;
    // the RESULT plan is just the cluster_size window over the final
    // labels — one hash-partition exchange on cluster_id, nothing else
    val p = plan("dedup_clusters")
    assert(p.contains("Window"), p)
    assert(p.split("Exchange").length - 1 <= 1,
      s"cluster sizing should cost at most one exchange:\n$p")
  }

  test("format_roundtrip: reads flow through the csv and json sources") {
    val p = plan("format_roundtrip")
    assert(p.toLowerCase.contains("csv") && p.toLowerCase.contains("json"), p)
    assert(!p.contains("o_orderdate"),
      "round-trip should only carry the three projected columns")
  }

  test("partitioned_roundtrip: status filter satisfied by partition pruning") {
    val p = plan("partitioned_roundtrip")
    assert(p.contains("PartitionFilters") && p.contains("o_orderstatus"),
      s"status filter must prune partitions at listing time:\n$p")
  }

  test("simhash_near_pairs_banded: candidates via equi-join, never all-pairs") {
    val p = plan("simhash_near_pairs_banded")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded SimHash must never plan the quadratic pair scan:\n$p")
    assert(p.contains("Join"), s"band-bucket equi-join missing:\n$p")
  }

  test("simhash64_near_pairs_banded: 4-band candidates via equi-join, never all-pairs") {
    val p = plan("simhash64_near_pairs_banded")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded 64-bit SimHash must never plan the quadratic pair scan:\n$p")
    assert(p.contains("Join"), s"band-bucket equi-join missing:\n$p")
  }

  test("ngram_jaccard_pairs: row-local hashing, equi-join candidates only") {
    val p = plan("ngram_jaccard_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LSH pipeline must never plan an all-pairs product:\n$p")
    assert(p.contains("char_ngram_hashes"),
      "codegen'd window-hash expression missing — per-window digest regression")
    // exactly one Generate: the 4-band explode. A second one means the
    // corpus-wide shingle explode came back.
    val generates = p.split("\n").count(_.trim.startsWith("Generate "))
    assert(generates <= 1, s"corpus shingles exploded again ($generates Generate nodes):\n$p")
  }

  test("range_join_orders: time-range-only join plans as a bucket equi-join") {
    val p = plan("range_join_orders")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must decompose to a bucket equi-join, not a product:\n$p")
    assert(p.contains("Join"), s"bucket equi-join missing:\n$p")
  }

  test("q21_suppliers_waiting: semi+anti self-joins, broadcast dim, no product") {
    val p = plan("q21_suppliers_waiting")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"exists/not-exists must plan as equi semi/anti joins, never a product:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"both self-join aliases must survive as semi + anti joins:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"nation-filtered supplier dim must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must avoid a global sort")
  }

  test("q7/q8: date and dim filters reach their scans; region membership is a semi join") {
    val p7 = plan("q7_volume_shipping")
    assert(p7.contains("GreaterThanOrEqual(l_shipdate,1995-01-01"),
      s"ship-date window must reach the fact scan:\n$p7")
    assert(p7.contains("Or(EqualTo(n_name,NATION_1),EqualTo(n_name,NATION_2))"),
      s"nation-pair filter must reach the dim scan, not sit above the join:\n$p7")
    val p8 = plan("q8_market_share")
    assert(p8.contains("EqualTo(p_type,PROMO)"),
      s"part-type filter must reach the part scan:\n$p8")
    assert(p8.contains("EqualTo(r_name,EUROPE)"), p8)
    assert(p8.contains("LeftSemi"),
      "region membership should plan as a semi join, not inner join + distinct")
  }

  test("q14_promo_revenue: ship-year filter pushed to the fact scan") {
    val p = plan("q14_promo_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"), p)
  }

  test("q6: all four predicates reach the scan, nothing else in the plan") {
    val p = plan("q6_forecast_revenue")
    // the PushedFilters list is elided in toString past ~100 chars, so the
    // pushdown evidence is its prefix + the Filter node's literal forms
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual"), p)
    assert(p.contains(">= 0.05)") && p.contains("<= 0.07)") && p.contains("< 24.0)"), p)
    assert(!p.contains("Join"), "Q6 is the zero-join query")
    assert(!p.contains("l_orderkey"), "reads columns the query never uses")
    assert(p.contains("struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      "scan must read exactly the four referenced columns")
  }

  test("q19: both pushdown hulls reach their scans, exact OR stays post-join") {
    val p = plan("q19_discounted_revenue")
    // part-only hull on the build side, fact-only hull on the probe side
    assert(p.contains("In(p_brand, [Brand#12,Brand#23,Brand#3])"),
      s"brand hull must prune the part scan before broadcast:\n$p")
    assert(p.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"quantity hull must reach the lineitem scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      s"disjunctive predicates must not defeat the equi-join:\n$p")
  }

  test("q15: scalar max broadcast as a single-row cross, no driver collect") {
    val p = plan("q15_top_supplier")
    // Catalyst rewrites crossJoin(broadcast(maxRev)) + equality filter
    // into a broadcast HASH join keyed on the (normalized) revenue value
    // — strictly better than the nested-loop cross; pin that upgrade.
    assert(p.contains("BroadcastHashJoin") && p.contains("Cross"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.split("HashAggregate").length - 1 >= 2,
      "revenue agg and max agg must both hash-aggregate")
  }

  test("q13: ON-clause filter pushed to orders scan below the LEFT join") {
    val p = plan("q13_cust_distribution")
    assert(p.contains("Not(EqualTo(o_orderpriority,5-LOW))"),
      s"ON-clause filter must reach the orders scan (join stays LEFT):\n$p")
    assert(p.contains("LeftOuter"), p)
  }

  test("q17: avg touches only the brand slice (semi-join below the agg)") {
    val p = plan("q17_small_qty_revenue")
    assert(p.contains("LeftSemi"),
      s"per-part avg must aggregate the semi-joined slice, not the whole fact:\n$p")
    assert(p.contains("EqualTo(p_brand,Brand#21)") && p.contains("LessThan(p_size,15)"),
      s"part filters must reach the part scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed_join_colocated: the whole plan is exchange-free") {
    // bucketed+sorted on the join key on both sides: the SMJ needs no
    // shuffle and no sort, and the per-customer agg reuses the join's
    // clustering — zero Exchange nodes anywhere is the point of the gate
    val p = plan("bucketed_join_colocated")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"),
      s"bucketed co-located join must not shuffle (ingest already did):\n$p")
    // per-bucket Sort nodes REMAIN: since Spark 3.0 the bucketed scan
    // reports only its partitioning, not the sortBy order (SPARK-28595,
    // legacy flag off) — the win is the absent shuffle, and the sorts
    // are in-memory per-bucket, never a global exchange
    assert(p.split("\\bSort \\[").length - 1 == 2, s"expected the two SMJ sorts only:\n$p")
  }

  test("dsir_importance: one corpus pass, ratio table broadcast") {
    val p = plan("dsir_importance")
    // target+raw counts come from ONE bucket groupBy (a per-distribution
    // pass would add a 5th scan): static plan has exactly 4 scans — id
    // spine, grams-for-scoring, and the counts subtree twice (totals +
    // ratios — one shuffle, deduped to ReusedExchange by AQE at runtime)
    assert(p.split("FileScan parquet").length - 1 <= 4,
      s"distribution-building must not add corpus scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"64-row ratio table must broadcast into the gram stream:\n$p")
  }

  test("q22: anti join on the date-pruned projection, threshold broadcast") {
    val p = plan("q22_sales_opportunity")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,2000-01-01"),
      s"recent-order cutoff must reach the orders scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "single-row avg threshold should broadcast")
  }

  test("repeated_spans: row-local fan-out, one sort feeds both merge windows") {
    val p = plan("repeated_spans")
    assert(p.split("\\+- Window").length - 1 == 2, p)
    assert(p.split("\\+- Sort ").length - 1 == 1,
      "the two interval-merge windows must share one per-doc sort")
    // shuffles: the repeated-gram distinct-count pair + the doc window;
    // the final span aggregate must REUSE the doc clustering
    assert(p.split("\\+- Exchange ").length - 1 == 3,
      s"span aggregate should not add a 4th shuffle:\n$p")
    assert(p.contains("Generate"), "gram fan-out must be a row-local explode")
  }

  test("ngram_lm_score: no global window; vocab scalar broadcasts") {
    val p = plan("ngram_lm_score")
    assert(!p.contains("Window"),
      "bigram fan-out must be row-local arrays_zip, not a lead() window")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Cross"),
      "the 1-row vocab aggregate should broadcast-cross, costing nothing")
  }

  test("q2: min-cost join-back on equality, region filter pushed, top-100 bounded") {
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must avoid a global sort")
    assert(p.contains("EqualTo(r_name,EUROPE)"),
      s"region filter must reach the region scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelated min must join back on equality, never a product:\n$p")
  }

  test("q9: one fact scan, broadcast chain, single shuffle at the final rollup") {
    val p = plan("q9_product_profit")
    assert(p.split("lineitem.parquet").length - 1 == 1,
      s"the fact table must be scanned exactly once:\n$p")
    assert(p.contains("StringContains(p_name,red)"),
      s"part-name filter must reach the part scan:\n$p")
    // every join broadcasts (the derived partsupp is 4×|part| — dim-sized),
    // so the only shuffle exchange is the final nation×year rollup
    assert(p.split("\\+- Exchange ").length - 1 == 1,
      s"q9 should shuffle once (final agg), joins all broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q11: nation reduction is a semi join; scalar threshold broadcast-crosses") {
    val p = plan("q11_important_stock")
    assert(p.contains("LeftSemi"),
      s"one-nation reduction must plan as a semi join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Cross"),
      "the 1-row threshold aggregate should broadcast-cross, costing nothing")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q16: NOT-IN plans as a broadcast anti join below the distinct count") {
    val p = plan("q16_parts_supplier")
    assert(p.contains("LeftAnti"), s"supplier exclusion must be an anti join:\n$p")
    assert(p.contains("LessThan(s_acctbal,0.0)"),
      s"excluded-supplier filter must reach the supplier scan:\n$p")
    // the part scan's PushedFilters list elides past ~100 chars, so the
    // IN-list evidence is the Filter node's literal form (the q6 trick)
    assert(p.contains("IN (1,3,9,19,23,36,45,49)"),
      s"size IN-list must survive as one IN predicate on the part leg:\n$p")
    // count(DISTINCT ps_suppkey) = two-phase: distinct-expand agg pair then
    // the counting pair — all HashAggregate, never SortAggregate
    assert(!p.contains("SortAggregate"), p)
  }

  test("q20: decorrelated EXISTS chain — two semi joins, date window pushed") {
    val p = plan("q20_part_promotion")
    assert(p.split("LeftSemi").length - 1 >= 2,
      s"red-parts reduction and supplier qualification must both be semi joins:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1996-01-01")
      && p.contains("< 1997-01-01 00:00:00)"), // upper bound elided from PushedFilters
      s"ship-year window must reach the fact scan:\n$p")
    assert(p.contains("StringStartsWith(p_name,red)"),
      s"prefix filter must reach the part scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("line gates: token split evaluated once, outside the HOF lambdas") {
    // HOF lambdas re-evaluate captured subexpressions per element; if
    // words(text) leaks into the transform lambda the document re-splits
    // once per LINE (O(tokens²)/doc — the SCALING.md pitfall). The staged
    // ws projection must survive optimization as the single split site.
    for (name <- Seq("c4_line_filter", "dup_line_fraction")) {
      val p = plan(name)
      val splits = "split\\(text".r.findAllIn(p).size
      assert(splits == 1, s"$name evaluates split(text) $splits times:\n$p")
      assert(!p.contains("Exchange"), s"$name should be shuffle-free:\n$p")
    }
  }

  test("sketch-vs-exact gates: sketch buffers never keyed by the distinct column") {
    // Mixing an exact DISTINCT aggregate with object/imperative sketch
    // aggregates makes the planner's one-distinct rewrite key the FIRST
    // aggregation by (group, distinct-col) — one multi-KB percentile/HLL
    // buffer per DISTINCT VALUE instead of per group (measured 3-5× at
    // sf0.1, worse with scale: buffers ∝ distinct values × partitions).
    // The round-10 re-plan runs the distinct agg separately and joins on
    // the group key; pin that no aggregate node carrying a sketch
    // function groups by the distinct-side column.
    for ((name, distinctCol) <- Seq(
        "approx_unique_users" -> "uid", "approx_quantiles_price" -> "o_custkey")) {
      val exec = Queries.all(name)(spark, sf001).queryExecution.executedPlan
      val offenders = exec.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.aggregateExpressions.exists { ae =>
              val f = ae.aggregateFunction.prettyName.toLowerCase
              f.contains("percentile") || f.contains("approx_count_distinct")
            } && a.groupingExpressions.exists(
              _.references.exists(_.name == distinctCol)) => a
      }
      assert(offenders.isEmpty,
        s"$name: sketch aggregate re-keyed by $distinctCol (distinct agg re-fused):\n$exec")
    }
  }

  test("cdc gates: latest-row windows pre-shrink via WindowGroupLimit") {
    // SCALING.md attributes cdc_apply/cdc_state_compaction's sub-linearity
    // partly to WindowGroupLimit: Spark's rank<=k pushdown keeps only each
    // key's top row per partition BEFORE the window's shuffle+sort, so the
    // latest-change-per-key step moves ~|keys| rows, not |changelog| rows.
    // Pin the claim in the executed plan.
    for (name <- Seq("cdc_apply", "cdc_state_compaction")) {
      val p = plan(name)
      assert(p.contains("WindowGroupLimit"),
        s"$name: latest-row window lost its WindowGroupLimit pre-shrink:\n$p")
    }
  }

  test("sketch-rank gates: no per-group total sort of raw data, no partition-less Window") {
    // The round-9 contract that retired the two r8 scale cliffs: the
    // sketch-rank forms (and the re-planned sketch consumers) must never
    // sort the raw relation per group. Their only Window runs over the
    // hash-thinned survivors (~k·margin rows/group), and nothing plans a
    // partition-less Window.
    for (name <- Seq("mad_outliers_sketch", "percentile_bucket",
        "winsorize_sketch", "equi_depth_histogram", "quantile_normalize",
        "psi_drift")) {
      val exec = Queries.all(name)(spark, sf001).queryExecution.executedPlan
      val partitionless = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(partitionless.isEmpty,
        s"$name plans a partition-less Window:\n$exec")
    }
    // quantile_normalize takes its global bottom-k via
    // TakeOrderedAndProject straight off the scan
    locally {
      val p = plan("quantile_normalize")
      assert(p.contains("TakeOrderedAndProject"),
        s"quantile_normalize lost the TakeOrderedAndProject global bottom-k:\n$p")
    }
    // equi_depth_histogram's bottom-k sketch executes DRIVER-SIDE at
    // build (sketchGlobal → TakeOrderedAndProject, pinned in
    // QuantileSketchSpec); its gate plan is the ideal residue — one
    // parquet scan, the literal-bounds codegen'd binary search, a
    // two-phase aggregate. No join, no Window, no HOF bucket pick.
    locally {
      val p = plan("equi_depth_histogram")
      assert(p.contains("sorted_count_le"),
        s"equi_depth_histogram lost the literal-bounds binary-search bucket pick:\n$p")
      assert(!p.contains("Window") && !p.contains("Join"),
        s"equi_depth_histogram's exact pass should be a bare scan+agg:\n$p")
    }
  }

  test("q21: exists/not-exists aliases stay equi-joins, top-k never a global sort") {
    // the 100× audit (SCALING round-11) saw three SortMergeJoins all
    // keyed on l_orderkey (one partitioning reused) — the static pin is
    // weaker but scale-independent: no product-shaped join may ever
    // appear, the nation-filtered supplier dim must broadcast, and the
    // top-100 must be TakeOrderedAndProject
    val p = plan("q21_suppliers_waiting")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q21's correlated-exists rewrite must never plan a product:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim broadcast missing:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrderedAndProject, not a global sort:\n$p")
  }

  test("q5 and q9: every dim joins by hash, the composite keys survive") {
    // at 100× the only SortMergeJoin in either plan is fact⋈fact and q9's
    // orders join flips to an AQE runtime broadcast (SCALING round-11);
    // statically pin the invariants that hold at EVERY scale
    Seq("q5_local_supplier_volume", "q9_product_profit").foreach { name =>
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name plans a product-shaped join:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name lost its dim broadcasts:\n$p")
    }
    // q9's two-column partsupp pair join must stay an equi-join on BOTH
    // key columns (ps_partkey AND ps_suppkey) — dropping one would make
    // the join 4× denser and silently change semantics
    val q9 = plan("q9_product_profit")
    assert(q9.contains("ps_partkey") && q9.contains("ps_suppkey"),
      s"q9's composite partsupp join keys missing from the plan:\n$q9")
  }

  test("window_analytics: cell-bucketed exact ranks, no group-sized total sort") {
    // round-11 re-plan (DistributionRanks): ntile/percent_rank/cume_dist
    // are re-derived from (rn, n) arithmetic; the only Window in the
    // result plan must be the CELL-sized (group, bucket) rank — a window
    // partitioned by the group alone is the 100× total-sort cliff coming
    // back (10.1 s at 15 M rows pre-re-plan).
    val exec = Queries.all("window_analytics")(spark, sf001)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("sorted_count_le"),
      s"literal-bounds binary-search bucket pick missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cell-offset broadcast join missing:\n$p")
    assert(!p.contains("ntile(") && !p.contains("percent_rank("),
      s"window-function form regressed (group-sized sort partitions):\n$p")
    val coarseWindows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.size < 2 => w
    }
    assert(coarseWindows.isEmpty,
      s"a Window partitioned by fewer than (group, bucket) keys is a " +
        s"group-sized total sort:\n$exec")
  }

  test("PLANS.md pins every query whose sf0.1 median exceeds 1 s") {
    // The audit-trail contract (VERDICT r6 item 4): any query expensive
    // enough to matter (>1 s median in BENCH_DETAIL.json at sf0.1) must
    // have its formatted plan pinned in PLANS.md. The name list below is
    // the measured >1 s set; when a bench refresh promotes a query past
    // 1 s, add it HERE and append its plan (`runMain graft.Inspect static`) —
    // this test then keeps the pinned set a superset forever.
    val over1s = Seq(
      "kmv_intersection", "supplier_pagerank", "supplier_pagerank_shuffle",
      "kmv_sketch", "streaming_late_data_drop", "streaming_outer_join",
      "supplier_hops", "supplier_kcore", "streaming_update_changelog",
      "streaming_near_dedup", "streaming_running_distinct",
      "streaming_unique_users_append", "streaming_sessions",
      "streaming_stream_join", "edit_distance_pairs", "streaming_upsert_sink",
      "ngram_jaccard_pairs", "streaming_dedup_within_watermark",
      "quality_lr_score", "knn_ivfpq_recall", "knn_ivfpq", "knn_ivfpq_deployed",
      "dedup_incremental", "canonical_docs", "leakage_safe_split",
      "state_store_dump", "pca_top_component", "dedup_clusters",
      "streaming_unique_users", "variant_extract", "repeated_spans",
      "semantic_dedup", "format_roundtrip", "pipeline_streaming_ingest",
      // promoted past 1 s by the r7 noop-sink forcing (real
      // materialization cost; they measured scan-only before)
      "approx_quantiles_price", "approx_unique_users", "char_fingerprint",
      "decontaminate_ngrams", "dedup_embedding_cosine",
      "rolling_hash_fingerprint", "stats_agg", "tfidf_top_terms",
      "passage_scrub",
      // r7 additions gated above 1 s from birth
      "quantile_sketch",
      // crossed 1 s in the r7 192-query refresh (all pinned already; the
      // crossings are mostly sweep-position drift around the boundary)
      "bpe_encode", "bucketed_join_colocated", "compact_small_files",
      "dsir_importance", "knn_ivf_recall", "knn_ivf_trained",
      "ngram_lm_score", "profile_columns", "supplier_triangles",
      "variant_nested_extract", "streaming_cdc_upsert", "table_checksum",
      "resample_ffill",
      // round-8 additions measuring >1 s from birth (r8 sweep + solo runs)
      "merkle_bucket_diff", "prefix_filter_jaccard", "sparse_cosine_pairs",
      "equi_depth_histogram", "streaming_funnel", "mad_outliers",
      "supplier_weighted_paths", "assoc_rules",
      // crossed 1 s in the r8 216-query sweep (boundary drift)
      "pipeline_end_to_end",
      // r8 final-sweep additions (sketch + exact passes; composition)
      "psi_drift", "pipeline_sessions_funnel",
      // round-9: the sketch-rank forms of the two r8 scale cliffs
      // (percentile_bucket measured 0.97 s — pinned pre-emptively, it
      // sits on the boundary)
      "mad_outliers_sketch", "percentile_bucket",
      // round-9: the 4th end-to-end composition (6.9 s solo at sf0.1 —
      // the LSH + components + decontam + dsir + packing chain) and the
      // sessionize→funnel streaming parity gate (5.9 s: 2-batch harness)
      "pipeline_curation", "streaming_sessions_funnel",
      // round-9 late addition: winsorize's sketch-rank form (1.03 s —
      // boundary, pinned pre-emptively like percentile_bucket)
      "winsorize_sketch",
      // round-10 final-sweep boundary crossings (1.02–1.08 s under the
      // documented ~7% box smear; bpe_merges and minhash_lsh_pairs were
      // pinned long ago, the other two pinned with this crossing)
      "avro_logical_roundtrip", "bpe_merges", "cms_topk_terms",
      "minhash_lsh_pairs",
      // round-11: the DistributionRanks re-plans pay eager bound/count
      // passes at SF scale (1.05 / 1.11 s — they buy the 100× decade:
      // 10.1 → 5.9 s and ~10 → 4.7 s, SCALING round-11), and the new
      // perceptual-hash gate (2.2 s after the \G-split fix)
      "window_analytics", "window_distribution_funcs",
      "multimodal_near_dedup")
    val plansMd = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val pinned = "=+ (\\S+) =+".r.findAllMatchIn(plansMd).map(_.group(1)).toSet
    val unpinned = over1s.filterNot(pinned)
    assert(unpinned.isEmpty,
      s"queries >1 s with no pinned plan in PLANS.md: ${unpinned.mkString(", ")}")
    // every listed name must still exist — catches renames going stale
    val gone = over1s.filterNot(Queries.all.keySet)
    assert(gone.isEmpty, s"over1s names not in the registry: ${gone.mkString(", ")}")
    // every `=== <name> ===` section sits inside a code fence: markdown
    // renders an unfenced plan as prose
    val unfenced = plansMd.split("\n", -1)
      .foldLeft((false, Vector.empty[String])) { case ((inFence, acc), l) =>
        if (l.startsWith("```")) (!inFence, acc)
        else if (!inFence && l.matches("=+ \\S+ =+")) (inFence, acc :+ l)
        else (inFence, acc)
      }._2
    assert(unfenced.isEmpty,
      s"PLANS.md plan sections outside a code fence: ${unfenced.mkString(", ")}")
  }

  test("no unintended cartesian products in the whole registry") {
    val allowed = Set("simhash_near_pairs", "scalar_subquery") // bounded by design
    Queries.all.keys.filterNot(allowed)
      .filterNot(_.startsWith("streaming_")).foreach { name =>
        val p = Queries.all(name)(spark, sf001).queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"),
          s"$name plans a cartesian product:\n$p")
      }
  }
}
