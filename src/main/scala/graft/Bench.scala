package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint (driver contract): times headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE compact JSON line.
  *
  * The line is deliberately SHORT (headline subset, 3-decimal values): the
  * driver parses the JSON from a bounded tail of captured stdout, so a
  * line carrying all ~70 per-query timings gets its head truncated and
  * fails to parse (observed in round 1). `SPARK_GRAFT_BENCH_ALL=1` times
  * the full registry instead (local profiling only).
  *
  * Failures are explicit: a query that throws contributes -1 and lands in
  * an `"errors"` list — a broken query can never masquerade as a fast one.
  * A `"spread"` map reports per-pass [min,max] for any query whose passes
  * disagreed by >1.5x, so a noisy machine is distinguishable from a real
  * regression without lengthening the line for tight runs.
  */
object Bench {
  /** Representative heavy/headline queries across the engine's surfaces:
    * TPC-H shapes, window/session analytics, the reference pipeline, and
    * the LLM-data extensions (dedup/similarity/text). */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q7_volume_shipping",
    "q8_market_share", "q10_returned_items", "q17_small_qty_revenue",
    "q9_product_profit", "q21_waiting_suppliers",
    "j1_fact_dim_stats", "p2_pipeline_day",
    "a1_window_agg", "a_session_window", "x_sessionize",
    "x_dedup_minhash_lsh", "x_dedup_ngram_jaccard", "x_sim_topk_brute",
    "x_text_tfidf", "x_dup_clusters", "x_decontaminate",
    "x_boilerplate_ngrams", "x_dedup_spans", "x_sim_quantized",
    "x_quality_classifier",
    // round-13 marquee additions: the one-scan + overlapped-branch
    // curation flagship, runtime partition pruning, and the
    // stream-stream join replay (steady state = fingerprint-cached
    // read-back; the warm-up pass absorbs each one's first-invocation
    // materialization)
    "x_curation_e2e", "x_dpp_read", "x_stream_join",
    // round-14 marquee additions: the delta fold that closes the
    // layout-maintenance loop, and inference from the persisted
    // classifier artifact (model-as-data deployment)
    "x_delta_fold", "x_classifier_apply",
    // round-15 marquee additions: the composed lake-maintenance
    // lifecycle (ingest → decide → merge-on-read → fold → compact;
    // the warm-up absorbs the one-time layout writes, but steady state
    // is NOT just footer read-backs — every invocation re-pays the
    // corpus-scale fingerprint hash, base-bounds agg, delta count and
    // DECIDE cell join that guard/parameterize the marker — ADVICE r15)
    // and the shuffle-free bucketed joins (fact⋈fact attribution + the
    // co-located full-outer snapshot diff)
    "x_lake_e2e", "x_lake_ingest", "j_bucketed", "j_bucketed_diff",
    // round-16 marquee additions: schema evolution across the lake
    // lifecycle (evolved merge-on-read → evolved fold → new-column
    // pruning), the arrival loop under the REAL streaming engine
    // (readStream + foreachBatch over the same per-batch body), and the
    // reference-based retention vacuum (steady state = report
    // read-back + the fingerprint scans every marker check pays)
    "x_lake_evolve", "x_lake_ingest_stream", "x_lake_vacuum",
    // round-17 marquee additions: the generation log read AS OF every
    // retained state (steady state = per-generation footer manifests +
    // merged box counts under the fingerprint guard), widened-type
    // evolution (mixed INT32/INT64 footers pruned, promotion read,
    // uniformly-wide fold), and the change feed over the log (delta-
    // scale CDC incl. the inverse feed across a metadata-only restore),
    // plus the feed's consumer (incremental view maintenance at delta
    // scale, proven equal to the state-scale recompute) and tombstone
    // deletes (merge-on-read erasure + the physically-erased fold)
    "x_lake_timetravel", "x_lake_widen", "x_lake_changes",
    "x_lake_cdc_apply", "x_lake_delete",
    // round 18: the unified-log observables — AS-OF replay of the
    // arrival loop's boundaries, the cursor-based change feed, and the
    // conflict→rebase commit race
    "x_lake_ingest_asof", "x_lake_changes_cursor", "x_lake_rebase",
    "x_lake_cdf_delete",
    // round 19: the CDF consumed as a STREAM over the actions log —
    // one committed manifest per trigger, checkpoint registered so
    // retention is consumer-aware (steady state = feed read-back +
    // the fingerprint scan the marker check pays)
    "x_lake_cdf_stream",
    // round 20: keyed MERGE INTO — conditional clause semantics landing
    // as one committed cdelta generation (steady state = the outcome-
    // census probe + both AS-OF box answers under the fingerprint
    // guard)
    "x_lake_merge")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.exec.Session.cpus
    // Environment snapshot (round-11 protocol pin): BENCH_ALL_r10 was
    // uniformly 1.71x slower than r9 on identical code+data because the
    // machine state differed between runs and the artifact carried
    // nothing to tell a busy box from a regression. The line now records
    // the knobs that move medians: worker threads, physical cores, heap
    // ceiling, pass protocol, and the 1-minute load average SAMPLED
    // BEFORE the first warm-up — load during the run is the bench
    // itself; load before it is the contamination signal.
    def load1(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadInitial = load1()
    // Idle-gate (round-13 protocol pin): two consecutive DRIVER-run
    // headline artifacts arrived contaminated (load_before 5.15 / 6.60
    // against the protocol's ~2 ceiling) — the bench recorded the
    // contamination signal but did nothing about it. Now it DEFENDS:
    // bounded idle-wait (poll the 1-min load until it drops under the
    // gate or the wait budget runs out — load decays slowly on this box
    // after a previous JVM exits, so waiting is usually enough), and
    // when the gate still fails, escalation below widens every query to
    // maxPasses and the line carries per-query minima alongside the
    // medians (a min is robust against load spikes in a way a 3-sample
    // median is not).
    val gateLoad = 2.0
    val waitBudget = sys.env.get("SPARK_GRAFT_BENCH_IDLE_WAIT")
      .flatMap(_.toIntOption).getOrElse(180)
    val waitStart = System.nanoTime()
    var loadBefore = loadInitial
    while (loadBefore >= gateLoad &&
        (System.nanoTime() - waitStart) / 1e9 < waitBudget) {
      Thread.sleep(5000)
      loadBefore = load1()
    }
    val waitedSecs = (System.nanoTime() - waitStart) / 1e9
    val gateMet = loadBefore < gateLoad
    val spark = graft.exec.Session(cpus)
    val all = SparkEntry.queries
    val fns =
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) all.toSeq.sortBy(_._1)
      else headline.flatMap(n => all.get(n).map(n -> _))
    // Per-query protocol (round-4 fix, tightened round 5): run one untimed
    // warm-up (JVM/Janino codegen compilation), then report the MEDIAN of 3
    // timed passes — with the cache manager CLEARED before every pass, not
    // just per query. Spark's cache manager keys on canonicalized plans, so
    // a query's internal persist() from the warm-up would otherwise stay
    // hot across passes and persist-heavy queries (minhash LSH, dup
    // clusters) would report cached-read medians instead of full
    // execution (ADVICE r4). Clearing per pass also removes the "Asked to
    // cache already cached data" warning spam — each pass re-persists into
    // an empty cache. Pass count is clamped to >= 1 (median of an empty
    // seq throws and would silently mark every query -1).
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap(_.toIntOption)
      .getOrElse(3).max(1)
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Round-7 fix (VERDICT r6 task 1): the bench reported only the median, so
    // a noisy run was indistinguishable from a regression (two headline
    // queries measured 6-8x their same-night full-registry times). Now every
    // pass time is kept: the line carries a parallel "spread" map of
    // [min,max] per query so noise is self-diagnosing, and a query whose
    // min/max ratio exceeds 2x gets extra passes (up to maxPasses) so the
    // median rests on a stable core instead of a 3-sample coin flip.
    val maxPasses = sys.env.get("SPARK_GRAFT_BENCH_MAX_PASSES")
      .flatMap(_.toIntOption).getOrElse(5).max(passes)
    // Round-9 fix (VERDICT r8 task 1, third round of spread evidence): passes
    // are INTERLEAVED round-robin across queries — warm everything once, then
    // pass 1 of all queries, pass 2 of all, etc. Under the old
    // all-passes-of-one-query-consecutively protocol a transient load window
    // (driver-side compaction, page-cache churn) poisoned every pass of
    // exactly one query, so its median moved 4-7x while its neighbors held
    // still (BENCH_r06..r08: x_dedup_ngram_jaccard spreads up to [1.21,
    // 8.49] with unchanged code). Interleaving spreads any load window
    // across MANY queries' single passes: a noisy machine now shows as a
    // wide "spread" on many entries at once (self-diagnosing), while each
    // query's median rests on passes taken minutes apart. The JSON line
    // shape is unchanged. A query that throws mid-pass is dropped from
    // further rounds and lands in "errors" as before.
    // Warm-up times are kept (round 14): the fingerprint family pays its
    // one-time layout/replay materialization in whichever pass first
    // touches a cold scratch dir — the warm-up absorbs it, and a
    // "cold" map in the line (warm-up secs for queries whose warm-up ran
    // >2x their timed median) makes any cold-cache head start visible
    // instead of reading as a cross-round regression.
    val warmSecs = scala.collection.mutable.Map.empty[String, Double]
    val timed = fns.filter { case (name, fn) =>
      spark.catalog.clearCache()
      try {
        if (warmup) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          warmSecs(name) = (System.nanoTime() - t0) / 1e9
        }
        true
      }
      catch { case _: Throwable => false }
    }
    val acc = scala.collection.mutable.LinkedHashMap(
      timed.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    val failed = scala.collection.mutable.Set.empty[String]
    def onePass(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        acc(name) = acc(name) :+ (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => failed += name; acc(name) = Vector.empty }
    for (_ <- 1 to passes; (name, fn) <- timed if !failed(name)) onePass(name, fn)
    // Adaptive extra rounds (round-7 behavior, kept): queries whose passes
    // disagree by >2x get additional round-robin rounds up to maxPasses so
    // the median rests on a stable core instead of a 3-sample coin flip.
    // When the idle gate failed, EVERY query escalates (the whole run is
    // suspect, not just the entries that happened to spread >2x).
    for (_ <- passes until maxPasses) {
      val noisy = timed.filter { case (name, _) =>
        !failed(name) && acc(name).size >= 2 &&
          (!gateMet || acc(name).max / acc(name).min.max(1e-9) > 2.0)
      }
      noisy.foreach { case (name, fn) => onePass(name, fn) }
    }
    val timedNames = timed.map(_._1).toSet
    val results: Seq[(String, Seq[Double])] = fns.map { case (name, _) =>
      (name, if (timedNames(name)) acc(name) else Seq.empty[Double])
    }
    // Locale-pinned formatting: f"$v%.3f" uses the JVM default locale, and a
    // comma decimal separator would corrupt the JSON line the driver parses.
    def r3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val medians = results.map { case (k, ts) =>
      (k, if (ts.isEmpty) -1.0 else median(ts))
    }
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // Spread map stays SHORT to protect the driver's bounded-tail parse (a
    // full per-query map would double the line toward the length that
    // truncated in round 1): only queries whose passes actually disagreed
    // (max/min > 1.5) report their [min,max] — an absent entry means the
    // passes were tight and the median is trustworthy.
    val spread = results.collect {
      case (k, ts) if ts.nonEmpty && ts.max / ts.min.max(1e-9) > 1.5 =>
        s"\"" + k + "\":[" + r3(ts.min) + "," + r3(ts.max) + "]"
    }.mkString("{", ",", "}")
    val errors = medians.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // only the biggest outliers — a >1 s absolute gap filters the
    // plain first-in-JVM codegen cost every query pays a little of, and
    // the top-5 cap keeps the line short for the bounded-tail parse
    val cold = results.collect {
      case (k, ts) if ts.nonEmpty && warmSecs.contains(k) &&
          warmSecs(k) > 2.0 * median(ts) && warmSecs(k) - median(ts) > 1.0 =>
        (k, warmSecs(k), warmSecs(k) - median(ts))
    }.sortBy(-_._3).take(5)
      .map { case (k, w, _) => s"\"" + k + "\":" + r3(w) }
      .mkString("{", ",", "}")
    val total = medians.map(_._2).filter(_ >= 0).sum
    val loadAfter = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val env = String.format(java.util.Locale.ROOT,
      """{"threads":%s,"cores":%d,"heap_gb":%.1f,"passes":%d,"max_passes":%d,"warm":%b,"load_initial":%.2f,"load_before":%.2f,"load_after":%.2f,"waited_secs":%.0f,"gate_met":%b}""",
      Int.box(cpus), Int.box(Runtime.getRuntime.availableProcessors),
      Double.box(Runtime.getRuntime.maxMemory / 1073741824.0),
      Int.box(passes), Int.box(maxPasses), Boolean.box(warmup),
      Double.box(loadInitial), Double.box(loadBefore), Double.box(loadAfter),
      Double.box(waitedSecs), Boolean.box(gateMet))
    // Gate-failed runs carry per-query minima next to the medians: a
    // contaminated box inflates medians but the min of maxPasses
    // interleaved passes usually still touches a quiet window. Absent
    // on gate-met runs to keep the driver's bounded-tail parse safe.
    val qmin = if (gateMet) "" else
      ","+"\"qmin\":" + results.map { case (k, ts) =>
        s"\"" + k + "\":" + r3(if (ts.isEmpty) -1.0 else ts.min)
      }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"spread":$spread,"errors":$errors,"cold":$cold$qmin,"sf":"$sfDir","env":$env}""")
    spark.stop()
  }
}
