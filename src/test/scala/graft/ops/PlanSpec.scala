package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Plan-shape assertions — the "would this survive a 100× scale-up" tests.
  * These pin the physical properties the scale design depends on: pushdown
  * reaching the scan, dims broadcasting, top-k not globally sorting. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.count() // let AQE settle on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("scan: filter + projection are pushed into the parquet reader") {
    val plan = Relational.scanProjectFilter(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate predicate must reach the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_shipdate:tim"),
      s"scan must read only the 5 projected columns:\n$plan")
  }

  test("fact ⋈ dim goes broadcast-hash, never sort-merge") {
    val plan = planOf(Relational.factDimStats(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join must not shuffle the fact side:\n$plan")
  }

  test("pipeline: dim join broadcasts; only the window agg + final sort shuffle") {
    val plan = planOf(SensorPipeline.pipelineLong(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exchanges: one for the groupBy(window), one for the output sort
    val shuffles = "Exchange (hashpartitioning|rangepartitioning)".r
      .findAllIn(plan).size
    assert(shuffles <= 2, s"expected ≤2 data shuffles, got $shuffles:\n$plan")
  }

  test("top-k latest plans TakeOrderedAndProject (no global sort)") {
    val plan = planOf(Relational.topkLatest(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("salted aggregation is two-stage: exactly two data exchanges") {
    val plan = planOf(Skew.saltedEventStats(spark, dir))
    val shuffles = "Exchange (hashpartitioning|rangepartitioning)".r.findAllIn(plan).size
    // (key,salt) partial -> key final -> output sort
    assert(shuffles <= 3, s"expected ≤3 shuffles (2 agg stages + sort):\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("sessionize shares one user_id partitioning across both windows and the agg") {
    val plan = planOf(Analytics.sessionize(spark, dir))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles === 1, s"lag + running-sum + groupBy must reuse ONE user_id exchange:\n$plan")
  }

  test("100TB simulation: only fixed-cardinality frames broadcast when auto-broadcast is off") {
    // Disabling size-based broadcast simulates the 100 TB regime where
    // customer/supplier/part outgrow every threshold. The surviving
    // BroadcastExchange nodes are then exactly the FORCED hints — which
    // must only cover fixed-cardinality frames (nation: 25 rows, region:
    // 5 rows at every SF) or 1-row global aggregates. Filtered slices of
    // SF-scaled tables (part.where(...), HAVING-filtered key sets) do
    // NOT qualify: a predicate keeps a constant FRACTION, so the slice
    // grows linearly with SF. VERDICT r3/r4: a forced broadcast of any
    // such frame OOMs a real cluster (~1.5 TB build side).
    // (query, max BroadcastExchange, max BroadcastNestedLoopJoin) — the
    // BNLJ allowance is only for 1-row-aggregate cross joins, which plan
    // as BNLJ by construction and are bounded at every SF.
    val expected = Map[String, (org.apache.spark.sql.DataFrame, Int, Int)](
      "q3_shipping_priority" -> ((Relational.shippingPriority(spark, dir), 0, 0)),
      "q5_local_supplier"    -> ((Relational.localSupplierVolume(spark, dir), 2, 0)), // nation + region
      "q7_volume_shipping"   -> ((Relational.volumeShipping(spark, dir), 2, 0)),      // n1 + n2
      "q10_returned_items"   -> ((Relational.returnedItemReport(spark, dir), 1, 0)),  // nation
      "q9_product_profit"    -> ((DecisionSupport.productProfit(spark, dir), 1, 0)),  // nation only
      "q14_promo_revenue"    -> ((Olap.promoRevenue(spark, dir), 0, 0)),
      "q16_supplier_variety" -> ((DecisionSupport.supplierVariety(spark, dir), 0, 0)),
      "q18_large_orders"     -> ((Olap.largeOrders(spark, dir), 0, 0)),
      "q19_disjunctive_rev"  -> ((Olap.disjunctiveRevenue(spark, dir), 0, 0)),
      "q20_promo_suppliers"  -> ((DecisionSupport.promotionSuppliers(spark, dir), 1, 0)), // nation
      "q21_waiting_suppliers" -> ((DecisionSupport.waitingSuppliers(spark, dir), 0, 0)),
      "j1_fact_dim_stats"    -> ((Relational.factDimStats(spark, dir), 0, 0)),
      // vocabulary-sized token-DF join must NOT broadcast; the only
      // surviving broadcast is the 1-row n_docs cross join (a BNLJ)
      "x_text_tfidf"         -> ((graft.ext.TextAnalysis.tfidfTopTerm(spark, dir), 1, 1)),
      // the informative-shingle set is vocabulary-sized (Heaps'-law-linear
      // in the corpus) — no broadcast may survive anywhere in the plan
      "x_dedup_ngram_jaccard" -> ((graft.ext.Dedup.ngramJaccard(spark, dir), 0, 0)))
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try expected.foreach { case (name, (df, maxBcast, maxBnlj)) =>
      // strip AQE's "== Initial Plan ==" echo before counting nodes
      val plan = planOf(df).split("== Initial Plan ==")(0)
      val n = "BroadcastExchange".r.findAllIn(plan).size
      assert(n <= maxBcast,
        s"$name: $n BroadcastExchange nodes (allowed $maxBcast) with auto-broadcast off:\n$plan")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(bnlj <= maxBnlj && !plan.contains("CartesianProduct"),
        s"$name must stay equi-joined at scale (BNLJ $bnlj, allowed $maxBnlj):\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    spark.sharedState.cacheManager.clearCache() // tfidf/ngram persist internal frames
  }

  test("100TB simulation: the corpus-scaled dedup/curation suite broadcasts NOTHING") {
    // corpus×corpus shapes — every frame in these plans grows with the
    // corpus, so ANY surviving BroadcastExchange/BNLJ/Cartesian under
    // auto-broadcast-off planning is a scale bug by definition. This is
    // the suite-wide closure of the per-query de-forcing sweeps (tfidf
    // r5, ngram-Jaccard r6).
    val names = Seq("x_dedup_exact", "x_incr_minhash", "x_dedup_minhash_lsh", "x_dedup_simhash",
      "x_dedup_simhash_pairs", "x_dedup_embedding", "x_dedup_containment",
      "x_dedup_jaccard_exact",
      "x_source_overlap", "x_dedup_spans", "x_dedup_keep_best", "x_dedup_editdist",
      "x_minhash_est",
      "x_boilerplate_ngrams", "x_top_terms", "x_text_langid", "x_text_gopher",
      "x_bpe_merge_step",
      "x_stratified_sample", "x_split_assign", "x_pack_shards", "x_pack_bins",
      "x_len_buckets", "x_pareto_front", "x_token_budget",
      // iterative-loop composites: the label loop materializes through
      // checkpoints, so the final plan audited here is the probe/census
      // stage — the part that could regress into a corpus broadcast
      "x_incr_clusters", "x_curation_e2e",
      // round-10 additions: the novelty joins' first-occurrence/base
      // shingle sets are vocabulary-sized (corpus-scaled), the snapshot
      // diff joins corpus against corpus, the session self-join's both
      // sides scale with users, the weighted sample and bootstrap carry
      // no corpus-scaled join at all
      "x_ngram_novelty", "x_incr_novelty", "x_snapshot_diff",
      "x_interval_overlap", "x_weighted_sample", "x_bootstrap_ci",
      // transition family: the incremental merge's boundary join is
      // users × users — both sides corpus-scaled, must shuffle
      "x_event_transitions", "x_incr_transitions",
      // multitouch's range join blocks on user_id (corpus-scaled both
      // sides); lateness's block-max frame is corpus/1024 and must
      // degrade to a shuffle join; mase/anomaly are join-free
      "x_multitouch", "x_lateness_hist", "x_seasonal_mase", "x_count_anomaly")
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try names.foreach { name =>
      val plan = planOf(graft.SparkEntry.queries(name)(spark, dir))
        .split("== Initial Plan ==")(0)
      assert("BroadcastExchange".r.findAllIn(plan).isEmpty
        && !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name must shuffle, never broadcast, at 100 TB:\n$plan")
      spark.sharedState.cacheManager.clearCache() // several persist internally
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("rank-filter top-N prunes map-side via WindowGroupLimit (both levels)") {
    // rank() <= N over a window must NOT ship every group row to the
    // window's reducer: Spark's WindowGroupLimit inserts a partial
    // (pre-shuffle) and final top-N prune, so each group ships ≤ N rows
    // no matter how large the group — the difference between a bounded
    // and an unbounded shuffle at 100 TB
    val plan = planOf(Relational.rankTopN(spark, dir)).split("== Initial Plan ==")(0)
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"rank filter must prune map-side AND reduce-side:\n$plan")
  }

  test("redaction, profile, transitions, bpe-segment: map-pass / join-free posture") {
    // x_pii_redact is a pure map pass: ONE corpus scan, regex work inside
    // the scan's codegen span, no join anywhere — at 100 TB the scrub
    // costs exactly one read
    val pii = planOf(graft.ext.Redaction.piiRedact(spark, dir))
      .split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(pii).size === 1 && !pii.contains("Join"),
      s"pii scrub must be a single-scan map pass:\n$pii")
    // x_data_profile: all five columns profile through ONE scan and ONE
    // Expand (the multi-distinct plan) — N columns must not mean N passes
    val prof = planOf(QualityChecks.dataProfile(spark, dir))
      .split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(prof).size === 1
      && "Expand".r.findAllIn(prof).size === 1 && !prof.contains("Join"),
      s"profile must be one scan + one Expand:\n$prof")
    // x_event_transitions: join-free — one user_id window then a
    // |types|²-group agg; nothing here can broadcast or nest
    val tr = planOf(Analytics.eventTransitions(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(tr.contains("Window") && !tr.contains("Join"),
      s"transition matrix must be window + agg, join-free:\n$tr")
    // x_bpe_segment: learned merges fold in as LITERALS — the apply side
    // is scan → vocab agg → rewrites → agg, never a join against the
    // merge table
    val seg = planOf(graft.ext.CorpusStats.bpeSegment(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!seg.contains("Join"),
      s"bpe apply side must fold merges as literals, not join them:\n$seg")
  }

  test("100TB simulation: bounded-frame forces stay at their audited ceilings") {
    // These queries legitimately force broadcasts of frames whose size is
    // INDEPENDENT of the corpus: ANN query sets (|q| rows), k-bounded
    // centroids/codebooks/hyperplanes, per-event-type stats, the
    // benchmark-suite gram set, 1-row global aggregates (those plan as
    // BNLJ cross joins by construction). Ceilings are the audited r6
    // counts — a regression ABOVE a ceiling means someone forced a new
    // broadcast, which must instead justify itself here.
    val ceilings = Map(
      "x_semdedup"        -> ((1, 1)), // k centroids
      "x_decontaminate"   -> ((1, 0)), // benchmark grams
      "x_decontaminate_spans" -> ((1, 0)), // benchmark (width, gram) set
      "x_decontaminate_sem" -> ((1, 1)), // eval vectors (BNLJ IS the scored scan)
      "x_sim_topk_brute"  -> ((1, 1)), // query set (BNLJ IS the brute force)
      "x_rrf_hybrid"      -> ((3, 1)), // query tokens + sizes + embeddings
      "x_sim_ivf_topk"    -> ((1, 1)), // centroids + query probes
      "x_sim_lsh_topk"    -> ((1, 1)), // hyperplanes + query buckets
      "x_sim_quantized"   -> ((2, 2)), // scale consts + query set
      "x_pq_codes"        -> ((2, 2)), // 2 subspace codebooks
      "x_pq_search"       -> ((6, 4)), // codebooks × (encode + ADC tables)
      "x_kmeans_step"     -> ((1, 1)), // current centroids
      "x_outliers"        -> ((1, 0)), // per-event-type stats
      "x_outliers_mad"    -> ((3, 0)), // median, MAD, join-back
      "x_winsorize"       -> ((1, 0)), // per-type percentile cuts
      "x_domain_mix"      -> ((2, 1)), // per-source rates + 1-row total
      "x_mix_temperature" -> ((1, 1)), // 1-row (total, q_total) aggregate
      "x_mix_temp_sample" -> ((3, 2)), // quota × 2 sites, each with its 1-row stats
      "x_dsir_weights"    -> ((2, 1)), // 1024-bucket scores + 1-row totals
      "x_label_noise"     -> ((3, 2)), // hyperplanes (×2: votes+final branches) + votes
      "x_psi_drift"       -> ((4, 4)), // 1-row mid (×2: counts+totals branches) + grid axes
      "x_bm25_topk"       -> ((2, 1)), // query-token DF + 1-row stats
      "x_lm_logprob"      -> ((1, 1)), // 1-row corpus total
      "x_ppl_buckets"     -> ((1, 1)), // 1-row corpus total
      "x_embed_norm"      -> ((1, 0)), // d-row dimension stats (d fixed)
      "x_quantile_sketch" -> ((2, 0)), // per-event-type stats × 2 sites
      // bloom decon: the filter rides as a plan constant (no exchange);
      // with auto-broadcast off the survivor-stream verify join correctly
      // degrades to a shuffle join — ZERO forced broadcasts anywhere
      "x_decontaminate_bloom" -> ((0, 0)),
      "x_zorder_layout"   -> ((1, 1)), // 1-row (t0,u0,u1) stats cross join
      "x_zorder_prune"    -> ((2, 3)), // stats + 1-row report column
      "x_footer_prune"    -> ((2, 2)), // two 1-row report columns (kept agg + rows_out)
      "x_hilbert_prune"   -> ((3, 4)), // stats + per-curve 1-row candidates
      "x_zorder_incr"     -> ((2, 2)), // base/arrival bucketing stats rows
      "x_compaction_plan" -> ((1, 1)), // 1-row bucketing stats cross join
      // delta family (round 15, VERDICT r14 #1): the delta-key anti-joins
      // carry NO forced hint any more — the delta is a corpus FRACTION,
      // so under auto-off they must degrade to shuffle joins. The only
      // surviving forces are the 1-row report columns.
      "x_delta_read"      -> ((1, 1)), // 1-row rows_out report column
      "x_delta_fold"      -> ((1, 1)), // 1-row rows_out report column
      "x_lake_e2e"        -> ((3, 3)), // 3 stage rows × 1-row rows_out column
      "x_lake_evolve"     -> ((3, 3)), // 3 stage rows × 1-row answered-agg column
      "x_lake_widen"      -> ((3, 3)), // 3 stage rows × 1-row answered-agg column
      "x_lake_ingest"     -> ((0, 0)), // metrics-table read-back: literal plan
      "x_lake_ingest_stream" -> ((0, 0)), // same read-back shape as the batch loop
      "x_lake_vacuum"     -> ((0, 0)), // one-row report read-back: literal plan
      "x_lake_timetravel" -> ((0, 0)), // one fused tagged-replay hash-agg (round 18)
      "x_lake_changes"    -> ((0, 0)), // one delta⋈base-keys probe, planner's call
      "x_lake_ingest_asof" -> ((0, 0)), // one fused tagged-replay hash-agg, planner's call
      "x_lake_changes_cursor" -> ((0, 0)), // one arrivals⋈base-epoch probe, planner's call
      "x_lake_rebase" -> ((0, 0)), // one fused tagged-replay hash-agg, planner's call
      "x_lake_cdf_delete" -> ((0, 0)), // one cdelta⋈base-epoch probe, planner's call
      // merge report: the ONE fused outcome-census column is a 1-row
      // broadcast report constant; the classification probe and the
      // tagged-replay counts stay planner-chosen
      "x_lake_merge"      -> ((1, 1)),
      "x_lake_cdf_merge"  -> ((0, 0)), // one cdelta⋈base-epoch probe, planner's call
      // sync report: TWO 1-row broadcast report constants (source-side
      // and by-source-side outcome censuses)
      "x_lake_merge_sync" -> ((2, 2)),
      "x_lake_cdf_merge_sync" -> ((0, 0)),
      "x_lake_timestamp_asof" -> ((0, 0)), // one fused tagged-replay hash-agg
      "x_lake_history" -> ((0, 0)), // pure manifest metadata: a local frame, no scan
      "x_lake_cdf_restore" -> ((0, 0)), // two direction probes, planner's call
      "x_lake_cdc_apply"  -> ((0, 0)), // delta-scale fold ⋈ view, planner's call
      // 2 stage rows × 1-row rows_out column + the ONE fused 1-row
      // erasure-accounting column (round 18 — it replaced three eager
      // driver actions; the extra broadcast is a report constant, the
      // probes under it stay planner-chosen shuffles)
      "x_lake_delete"     -> ((3, 3)),
      // k-anon family: every forced frame is the 6-row width table, the
      // 1-row chosen width, or a QI-domain-bounded class census
      "x_k_anon_enforce"  -> ((3, 3)), // widths(6) + chosen(1) + classes_before(1)
      "x_k_anon_view"     -> ((2, 2)), // widths(6) + chosen(1)
      "x_k_anon_incr"     -> ((0, 0)), // report settles driver-side: literal row
      "x_compaction_exec" -> ((1, 0)), // manifest-scale (≤256-row) group assignment
      "x_align_mutual_nn" -> ((1, 1))) // 4-row hyperplane table
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try ceilings.foreach { case (name, (maxBcast, maxBnlj)) =>
      val plan = planOf(graft.SparkEntry.queries(name)(spark, dir))
        .split("== Initial Plan ==")(0)
      val b = "BroadcastExchange".r.findAllIn(plan).size
      val j = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(b <= maxBcast && j <= maxBnlj && !plan.contains("CartesianProduct"),
        s"$name: $b broadcasts / $j BNLJ exceed audited ceiling ($maxBcast, $maxBnlj):\n$plan")
      spark.sharedState.cacheManager.clearCache()
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("100TB simulation: selective dim filters inject runtime bloom pruning into the fact side") {
    // at cluster scale a dim too big to broadcast still prunes the fact
    // shuffle via Spark's runtime bloom filter (InjectRuntimeFilter): the
    // filtered dim side builds a bloom_filter_agg and the fact side scans
    // through bloom_filter_might_contain BEFORE the join shuffle. This
    // pins that the engine's join shapes stay ELIGIBLE for the rewrite —
    // plain equi-joins on scan columns, selective predicate on the
    // creation side. Size thresholds are relaxed to simulate tables past
    // the defaults (10MB creation side / large application scan).
    val conf = spark.conf
    val prevB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      import org.apache.spark.sql.functions.{col, count, lit}
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"selective dim join must stay eligible for runtime bloom pruning:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("LSH candidates: hot-bucket sizing adds no shuffle to the band self-join") {
    // the cap's window (count/min over band,bucket) must ride the SAME
    // hash partitioning the self-join already needs — if the sizing ever
    // plans its own repartition the cap costs a corpus-wide shuffle.
    // Expected exchanges: one into (band,bucket) for window+join, one
    // into (doc_a,doc_b) for the final distinct.
    val plan = planOf(graft.ext.Dedup.lshCandidates(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // raw Exchange counts are inflated by the cached signature frame's
    // repeated inner-plan dumps, so pin per partitioning key: at most one
    // (band,bucket) exchange per consumer of the sized frame (join x/y
    // sides + star path — identical canonicalized subtrees, so AQE's
    // exchange reuse collapses them to ONE physical shuffle at runtime)
    // and one (doc_a,doc_b) for the distinct. A regression to sizing on
    // its own key (a corpus-wide repartition) would show here.
    val bandEx = "Exchange hashpartitioning\\(band".r.findAllIn(plan).size
    assert(bandEx <= 3,
      s"sizing window must ride the join's (band,bucket) partitioning, found $bandEx:\n$plan")
    val pairEx = "Exchange hashpartitioning\\(doc_a".r.findAllIn(plan).size
    assert(pairEx <= 1,
      s"expected one (doc_a,doc_b) exchange for distinct, found $pairEx:\n$plan")
    spark.sharedState.cacheManager.clearCache()
  }

  test("100TB simulation: skewed shuffle joins stay eligible for AQE skew splitting") {
    // Salting (ops.Skew) handles PLANNED-FOR skew; AQE's skew-join split
    // is the backstop for skew nobody predicted. That rewrite only fires
    // on plain shuffled equi-joins — a join shape wrapped in anything
    // exotic silently loses the protection. This pins eligibility: a
    // deliberately skewed join (one key holding 3/4 of the probe side),
    // with thresholds scaled down to the test's data volume, must come
    // out of AQE with its skewed partition split (the join node reports
    // skew=true / the shuffle read shows skewed segments).
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val conf = spark.conf
    val prevB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    // a downstream agg would normally veto the split (it would add a
    // shuffle); force simulates the cluster operator's recovery switch
    conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      // the payload makes the hot partition's shuffle bytes incompressible
      // (a constant-key long column compresses below any threshold) and is
      // aggregated after the join so column pruning can't drop it
      val probe = spark.range(300000).select(
        when(col("id") % 4 =!= 0, 0L).otherwise(col("id") % 32).as("k"),
        org.apache.spark.sql.functions.expr("md5(cast(id as string))").as("payload"))
      val build = spark.range(32).select(col("id").as("k"), (col("id") * 10).as("w"))
      val q = probe.join(build, "k")
        .groupBy("k").agg(count(lit(1)).as("n"), org.apache.spark.sql.functions.max("payload").as("p"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"the skewed join partition must be split by AQE:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    }
  }

  test("simhash pairs: banded equi-join candidates, no nested-loop join") {
    // the naive formulation (probe × corpus with only `doc_a < doc_id` +
    // a Hamming filter) plans a BroadcastNestedLoopJoin — O(n²/10), the
    // one shape this suite must never ship at 100 TB. The banded rewrite
    // must keep every join an equi-join.
    val plan = planOf(graft.ext.Dedup.simhashPairs(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"banded Hamming search must not plan a nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("corr matrix: all six pairwise correlations ride ONE scan and one agg") {
    val plan = planOf(Analytics.corrMatrix(spark, dir))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"N² correlations must not mean N² passes:\n$plan")
    // one single-row exchange between partial and final moment sums
    val shuffles = "Exchange".r.findAllIn(plan).size
    assert(shuffles === 1, s"expected the one global-agg exchange:\n$plan")
  }

  test("bloom prefilter runs inside a codegen stage, upstream of the verify join") {
    val df = graft.ext.BloomPrune.decontaminateBloom(spark, dir)
    val plan = planOf(df)
    // the probe predicate survives optimization as a Filter BELOW the
    // verify join (filter text appears after the join header in the
    // top-down plan print): the join consumes an already-filtered stream
    assert(plan.contains("Filter bloom_might_contain"), plan)
    val joinAt = plan.indexOf("HashJoin")
    val bloomAt = plan.indexOf("bloom_might_contain")
    assert(joinAt >= 0 && bloomAt > joinAt,
      s"bloom filter must be on the join's input side:\n$plan")
    // codegen participation, asserted on a plain non-AQE frame (the AQE
    // plan above prints without stage markers until final): same pattern
    // as the cosine pin below
    val probe = spark.range(100).toDF("h")
      .where(graft.functions.BloomFilter.mightContain(Array(-1L, -1L), org.apache.spark.sql.functions.col("h")))
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.matches("(?s).*\\*\\(\\d+\\) Filter bloom_might_contain.*"),
      s"bloom probe must join a whole-stage-codegen span:\n$probePlan")
  }

  test("z-order layout: single scan posture, stats broadcast, no sort-merge join") {
    val plan = planOf(graft.ext.Layout.zorderLayout(spark, dir))
    assert(!plan.contains("SortMergeJoin"),
      s"the 3-value stats row must broadcast, not shuffle the events side:\n$plan")
    // one agg exchange (file_id) + the output sort — nothing corpus-shaped
    val shuffles = "Exchange (hashpartitioning|rangepartitioning)".r
      .findAllIn(plan).size
    assert(shuffles <= 2, s"expected ≤2 exchanges (file agg + sort):\n$plan")
  }

  test("alignment plane sizing reads catalog stats: query construction runs no job") {
    // round-11 defect: alignMutualNn sized its plane table with
    // e.count() — a full Spark job per INVOCATION for an index-build
    // constant. It now reads the parquet footer row counts driver-side,
    // so CONSTRUCTING the query frame must schedule zero jobs. Detection
    // uses the status tracker (fed by the FIFO listener bus): run one
    // sentinel action after construction — once its job is visible,
    // every job started before it is too.
    val sc = spark.sparkContext
    sc.setJobGroup("plan-pin-align-construct", "construction must be job-free", false)
    try SparkEntry.queries("x_align_mutual_nn")(spark, dir) // construct only
    finally sc.clearJobGroup()
    sc.setJobGroup("plan-pin-align-sentinel", "flush marker", false)
    try spark.range(1).count()
    finally sc.clearJobGroup()
    var sentinelSeen = sc.statusTracker.getJobIdsForGroup("plan-pin-align-sentinel")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sentinelSeen.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      sentinelSeen = sc.statusTracker.getJobIdsForGroup("plan-pin-align-sentinel")
    }
    assert(sentinelSeen.nonEmpty, "sentinel job must become visible")
    // spark.read.parquet legitimately runs ONE metadata job (file listing
    // / schema inference at Tables.table) — what must be gone is the
    // e.count() DATA job that sized the planes in round 11
    val constructionJobs = sc.statusTracker.getJobIdsForGroup("plan-pin-align-construct")
    assert(constructionJobs.length <= 1,
      s"constructing x_align_mutual_nn may run at most the parquet metadata job, " +
        s"saw ${constructionJobs.length} (an extra job means a count() crept back in)")
  }

  test("native cosine participates in whole-stage codegen") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as emb")
    val df = e.selectExpr("cosine_sim(emb, emb) as c").where("c > 0.5")
    // a `*(n)` stage prefix in executedPlan means the node is inside
    // whole-stage codegen; the cosine projection must carry it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[cosine_sim.*"),
      s"cosine projection must be inside a codegen stage:\n$plan")
  }
}
