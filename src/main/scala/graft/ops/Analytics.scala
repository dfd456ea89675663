package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Analytics surface: the reference's summary/structure assets
  * (`dagster/assets.py:189-394`) plus stream-analytics operators a
  * training-data pipeline needs (sessionization, quantiles, histograms). */
object Analytics {

  /** A7: whole-column scalar stats (reference `dagster/assets.py:155-166`). */
  def columnStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(
      count(lit(1)).as("n"),
      StableStats.centsMean(col("value")).as("avg_value"),
      min(col("value")).as("min_value"),
      max(col("value")).as("max_value"),
      round(stddev_samp(col("value")), 4).as("std_value"))

  /** O3: export ordering — multi-key desc/asc sort over the joined long
    * frame (reference `exports/export_alvo_db.py:41-52`). */
  def exportOrder(spark: SparkSession, dir: String): DataFrame = {
    val long = SensorPipeline.toLong(SensorPipeline.wideAgg(
      SensorPipeline.dayFilter(Tables.events(spark, dir), "2024-01-07")))
    SensorPipeline.mapSignals(long, SensorPipeline.signalDim(spark))
      .orderBy(col("timestamp").desc, col("signal_id").asc)
  }

  /** J4: the reference's axis-concat — two per-variable agg frames
    * full-outer joined on the window start (`etl/etl_process.py:96`;
    * SURVEY.md notes the single-pass agg is the right plan — this operator
    * exists to prove the two formulations agree). */
  def concatAxis(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    def varAgg(t: String) =
      events.where(col("event_type") === t)
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(
          StableStats.centsMean(col("value")).as(s"${t}_mean"),
          min(col("value")).as(s"${t}_min"),
          max(col("value")).as(s"${t}_max"),
          round(stddev_samp(col("value")), 4).as(s"${t}_std"))
        .select(col("window.start").as(s"${t}_ts") +:
          Seq("mean", "min", "max", "std").map(s => col(s"${t}_$s")): _*)
    val c = varAgg("click")
    val v = varAgg("view")
    c.join(v, c(s"click_ts") === v(s"view_ts"), "full_outer")
      .select(coalesce(col("click_ts"), col("view_ts")).as("timestamp"),
        col("click_mean"), col("click_min"), col("click_max"), col("click_std"),
        col("view_mean"), col("view_min"), col("view_max"), col("view_std"))
      .orderBy("timestamp")
  }

  /** Sessionization: 30-minute-inactivity-gap sessions per user, with
    * per-session stats — lag + running-sum windows then one hash-agg.
    * Scale: both windows share ONE partitioning (user_id), so the whole
    * operator is a single shuffle + narrow window pass. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val run = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** Cross-user concurrent-session pairs — an interval-overlap self-join
    * over the [[sessionize]] session bounds, the range-join shape every
    * event pipeline eventually needs (co-presence, ad attribution
    * windows, capacity analysis).
    *
    * Scale shape: a naive interval self-join is |S|² with no equi-key.
    * Here each session explodes to the HOUR buckets it covers and the
    * join runs as an equi-join on the bucket, then filters the exact
    * strict-overlap predicate and `distinct`s away the multi-bucket
    * double-matches (lossless: two overlapping intervals share at least
    * one covered hour, so bucketing never loses a pair). Per-bucket
    * fan-out is bounded by concurrent sessions per hour — user-count
    * shaped, not corpus-shaped; widen the bucket if sessions are long,
    * salt a degenerate hour if one ever appears. Overlap micros are
    * exact int64 arithmetic end-to-end. */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val run = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourUs = 3600L * 1000000L
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(unix_micros(min(col("ts"))).as("s_us"), unix_micros(max(col("ts"))).as("e_us"))
      // both join sides read this frame; without the barrier the whole
      // sessionization window pass runs twice
      .persist()
    def side(tag: Int) = sess.select(
      expr(s"s_us div $hourUs").as("b0"), expr(s"e_us div $hourUs").as("b1"),
      col("user_id").as(s"u$tag"), col("session_id").as(s"sid$tag"),
      col("s_us").as(s"s$tag"), col("e_us").as(s"e$tag"))
      .withColumn("b", explode(expr("sequence(b0, b1)")))
      .drop("b0", "b1")
    val pairs = side(1).join(side(2), Seq("b"))
      .where(col("u1") < col("u2") && col("s1") < col("e2") && col("s2") < col("e1"))
      .select("u1", "sid1", "u2", "sid2", "s1", "e1", "s2", "e2").distinct()
      .withColumn("ov_us", least(col("e1"), col("e2")) - greatest(col("s1"), col("s2")))
    pairs.groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n_overlaps"), sum(col("ov_us")).as("total_overlap_us"))
      .orderBy(col("n_overlaps").desc, col("u1").asc, col("u2").asc)
      .limit(100)
  }

  /** Poisson-bootstrap confidence intervals for per-type mean(value) —
    * THE distributed resampling scheme (classical bootstrap draws n
    * samples with replacement, which cannot be computed row-independently;
    * Poisson(1) multiplicities approximate it with a per-row decision,
    * which is why every large-scale stats stack uses it). Each (row,
    * replicate) pair gets a deterministic md5-derived uniform mapped
    * through the Poisson(1) inverse CDF to a multiplicity 0..7; replicate
    * means use exact cents-integer sums, and the interval is the 2nd/31st
    * order statistic of the 32 replicate means (≈ 5%/95%).
    *
    * Determinism: the uniform is a 48-bit md5 prefix over a power-of-two
    * division (exact in double), CDF constants are identical literals in
    * both engines, sums are exact int64 — the entire pipeline is
    * bit-stable cross-engine. Scale shape: the explode is reps× the
    * event stream but all downstream aggs are (type × reps)-sized; the
    * rank window runs on ≤ reps rows per type. */
  def bootstrapCi(spark: SparkSession, dir: String, reps: Int = 32): DataFrame = {
    import graft.ops.StableStats.stableRound
    // Poisson(1) cumulative probabilities, k = 0..6 (k=7 tail beyond)
    val cdf = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183, 0.999916758850712)
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val rep = e
      .select(col("event_id"), col("event_type"), col("cents"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("b"))
      .withColumn("u",
        expr("cast(conv(substring(md5(concat(event_id, '_', b)), 1, 12), 16, 10) as bigint)")
          / lit(281474976710656.0))
      .withColumn("mult",
        cdf.zipWithIndex.foldRight(lit(cdf.size.toLong)) { case ((c, k), rest) =>
          when(col("u") < c, k.toLong).otherwise(rest)
        })
    val repMeans = rep.groupBy(col("event_type"), col("b"))
      .agg(sum(col("mult") * col("cents")).as("sc"), sum(col("mult")).as("nm"))
      .withColumn("m", stableRound(col("sc").cast("double") / col("nm") / lit(100.0), 4))
    val byMean = Window.partitionBy(col("event_type")).orderBy(col("m").asc, col("b").asc)
    val ci = repMeans.withColumn("rn", row_number().over(byMean))
      .groupBy(col("event_type"))
      .agg(min(when(col("rn") === 2, col("m"))).as("boot_lo"),
        min(when(col("rn") === reps - 1, col("m"))).as("boot_hi"))
    val base = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        stableRound(sum(col("cents")).cast("double") / count(lit(1)) / lit(100.0), 4)
          .as("mean_value"))
    base.join(ci, Seq("event_type"))
      .select(col("event_type"), col("n"), col("mean_value"), col("boot_lo"), col("boot_hi"))
      .orderBy("event_type")
  }

  /** Sliding (overlapping) windows — 10-minute windows every 5 minutes;
    * each event lands in exactly 2 windows. Spark assigns both window
    * memberships map-side (Expand), still one hash-agg shuffle. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), StableStats.centsMean(col("value")).as("avg_value"))
      .select(col("window.start").as("win_start"), col("n"), col("avg_value"))
      .orderBy("win_start")

  /** Native session windows: `session_window(ts, gap)` — Spark's built-in
    * merging-window operator; must agree with the manual lag+running-sum
    * sessionize above (the oracle IS the manual formulation). */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .orderBy("user_id", "session_start")

  /** Exact interpolated quantiles per group (median + p90). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Histogram-quantile sketch, AUDITED against the exact percentile
    * (house rule, same as the KMV/count-min entries: an approximate
    * operator ships WITH its error audit). A 256-bin equi-width
    * histogram over exact cents integers estimates p50/p90 by cumulative
    * count + linear interpolation inside the landing bin — the mergeable
    * one-pass shape that replaces an exact total-sort percentile at
    * 100 TB (bin counts add across shards; the exact percentile here
    * exists only to measure the estimate).
    *
    * Determinism: binning is pure integer arithmetic on cents; the
    * interpolation is a fixed IEEE op sequence from integer inputs; the
    * exact side reuses the percentile/quantile_cont equivalence the
    * a_quantiles entry already pins. */
  def quantileSketch(spark: SparkSession, dir: String, bins: Int = 256): DataFrame = {
    import graft.ops.StableStats.stableRound
    val e = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"), col("value"))
    val stats = e.groupBy(col("event_type")).agg(
      min(col("c")).as("minc"), max(col("c")).as("maxc"), count(lit(1)).as("n"),
      round(expr("percentile(value, 0.5)"), 4).as("ex50"),
      round(expr("percentile(value, 0.9)"), 4).as("ex90"))
    val binned = e.join(broadcast(stats.select("event_type", "minc", "maxc")), Seq("event_type"))
      .withColumn("bin", expr(s"((c - minc) * $bins) div (maxc - minc + 1)"))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = binned.withColumn("cum_before", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    cum.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("bin"), col("cnt"), col("cum_before"),
        col("minc"), col("maxc"), col("n"),
        explode(expr("array(named_struct('p', 0.5D, 'exact', ex50)," +
          " named_struct('p', 0.9D, 'exact', ex90))")).as("pp"))
      .withColumn("t", col("pp.p") * (col("n") - 1))
      // the continuous rank t lands in exactly one bin's [cum, cum+cnt)
      .where(col("cum_before") <= col("t") && col("t") < col("cum_before") + col("cnt"))
      .withColumn("est", stableRound(
        (col("minc") + (col("bin") + (col("t") - col("cum_before") + lit(0.5)) / col("cnt"))
          * ((col("maxc") - col("minc") + lit(1)).cast("double") / bins)) / lit(100.0), 4))
      .select(col("event_type"), col("pp.p").as("p"), col("n"), col("est"),
        col("pp.exact").as("exact"),
        stableRound(col("est") - col("pp.exact"), 4).as("err"))
      .orderBy("event_type", "p")
  }

  /** Fixed-width value histogram (bucket = floor(value / 50)). */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("bucket")

  /** Inter-event gap analytics per user: lag-based µs gaps (exact ints)
    * then exact-integer mean/max/count — engagement-cadence stats. */
  def userGaps(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, dir)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
      .where(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        StableStats.intMean(col("gap_us")).as("avg_gap_us"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy("user_id")
  }

  /** Per-user event-type transition matrix — the first-order Markov view
    * of a clickstream (what follows what), the standard input to both
    * behavioral anomaly detection (improbable transitions) and session
    * simulation. Each user's events order by (ts, event_id) — the id
    * tiebreak makes equal-timestamp streams deterministic — and each
    * adjacent (prev → curr) bigram counts once; `p` is the row-stochastic
    * transition probability (counts normalized within each `prev`).
    *
    * Scale shape: one shuffle on user_id for the lag window (user
    * streams are the natural partition unit — no user's history crosses
    * executors), then a transition-matrix-sized hash-agg (|event_types|²
    * groups — a constant, not corpus-sized) with the normalizing sum as
    * a window over that tiny frame. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type").as("curr"))
      .withColumn("prev", lag(col("curr"), 1).over(byUser))
      .where(col("prev").isNotNull)
      .groupBy(col("prev"), col("curr"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", StableStats.ratio(col("n"),
        sum(col("n")).over(Window.partitionBy(col("prev")))))
      .orderBy("prev", "curr")
  }

  /** Out-of-orderness (lateness) histogram over the ingest stream — THE
    * measurement behind choosing a streaming watermark: for each event,
    * how far behind the maximum event-time already ingested (arrival
    * order = event_id) did it arrive? The bucketed distribution tells
    * you directly what `withWatermark` bound drops what fraction of
    * late data.
    *
    * A naive running max is a single global ordered window — one reducer
    * owns the whole stream. This implements the standard two-level
    * prefix-scan decomposition instead: within-block strictly-prior max
    * (parallel per 1024-id block), block-level maxes (one tiny frame),
    * prefix max over blocks, combine. Identical semantics
    * ([[AnalyticsSpec]] pins bit-equality against the direct window),
    * but the only serial structure is the blocks frame, 1024× smaller —
    * recurse levels as the stream grows. */
  def latenessHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("blk", expr("event_id div 1024"))
    val inBlk = Window.partitionBy(col("blk")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkMax = ev.groupBy(col("blk")).agg(max(col("us")).as("bmax"))
      .withColumn("prior_max", max(col("bmax")).over(
        Window.orderBy(col("blk")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("blk"), col("prior_max"))
    // no broadcast hint: the blocks frame is corpus/1024 — small enough
    // for auto-broadcast at test scale, but at 10^12 events it is 10^9
    // rows and must be allowed to degrade to a shuffle join on blk
    ev.withColumn("in_max", max(col("us")).over(inBlk))
      .join(blkMax, Seq("blk"))
      // greatest() skips NULLs in Spark, returning NULL only when both
      // miss (the stream's very first event) — coalesce that to on-time
      .withColumn("lat",
        greatest(lit(0L),
          coalesce(greatest(col("in_max"), col("prior_max")) - col("us"), lit(0L))))
      .withColumn("bucket",
        when(col("lat") <= 0, "a_ontime")
          .when(col("lat") <= 60L * 1000000, "b_le_1min")
          .when(col("lat") <= 600L * 1000000, "c_le_10min")
          .when(col("lat") <= 3600L * 1000000, "d_le_1h")
          .otherwise("e_gt_1h"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Rolling z-score anomaly detection over the hourly event-count
    * series — the stream-health monitor: each observed hour scores
    * against the trailing 24 observed hours' mean and variance, and the
    * top anomalies (|z| ≥ 2, capped at 10) surface with their window
    * context. An hour that triples its trailing baseline is a
    * bot/outage/backfill signature long before a daily rollup sees it.
    *
    * Cross-engine discipline: the rolling moments come from integer
    * window sums (Σx, Σx², both exact) through the explicit two-pass
    * variance identity — NOT the engines' stddev builtins, whose
    * accumulation orders differ — so the z-score is one fixed IEEE
    * sequence both engines evaluate identically before the 4-dp round.
    *
    * Scale shape: one calendar-bounded hash-agg, one window over it,
    * TakeOrdered for the anomaly cap. */
  def countAnomalies(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-24, -1)
    hourly
      .withColumn("n_win", count(col("c")).over(w))
      .withColumn("s1", sum(col("c")).over(w))
      .withColumn("s2", sum(col("c") * col("c")).over(w))
      .where(col("n_win") === 24) // a full trailing day, nothing partial
      .withColumn("mean", col("s1").cast("double") / col("n_win"))
      .withColumn("variance",
        (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n_win"))
          / (col("n_win") - lit(1)))
      .where(col("variance") > 0)
      .withColumn("z",
        StableStats.stableRound(
          (col("c").cast("double") - col("mean")) / sqrt(col("variance")), 4))
      .where(abs(col("z")) >= 2.0)
      .select(col("event_type"), col("h"), col("c"),
        StableStats.stableRound(col("mean"), 4).as("win_mean"), col("z"))
      .orderBy(abs(col("z")).desc, col("event_type").asc, col("h").asc)
      .limit(k)
  }

  /** Seasonal forecastability report (MASE, Hyndman & Koehler 2006):
    * per event type, the mean absolute error of the 24-hour seasonal
    * naive forecast scaled by the one-step naive baseline over the
    * hourly count series. MASE < 1 means daily seasonality predicts the
    * stream better than persistence — the load-shape signal capacity
    * planning reads. Lags step over OBSERVED hours (an empty hour is
    * absent, not zero — the sparse-series convention; both engines
    * window identically over it).
    *
    * Every number is born integer (hourly counts, |diffs|, their sums),
    * so the means and the MASE cross-multiplication are exact-integer
    * ratios under the StableStats discipline — zero float drift.
    *
    * Scale shape: one hash-agg to the hours × types frame (bounded by
    * the calendar, not the corpus), one window over it, one tiny agg. */
  def seasonalMase(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    hourly
      .withColumn("e1", abs(col("c") - lag(col("c"), 1).over(w)))
      .withColumn("e24", abs(col("c") - lag(col("c"), 24).over(w)))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        coalesce(sum(col("e1")), lit(0L)).as("s1"),
        count(col("e1")).as("c1"),
        coalesce(sum(col("e24")), lit(0L)).as("s24"),
        count(col("e24")).as("c24"))
      .select(col("event_type"), col("n_hours"),
        StableStats.ratio(col("s1"), col("c1")).as("mae_naive"),
        StableStats.ratio(col("s24"), col("c24")).as("mae_seasonal"),
        StableStats.ratio(col("s24") * col("c1"), col("c24") * col("s1"))
          .as("mase"))
      .orderBy("event_type")
  }

  /** S9: catalog/structure introspection — schema of every test table as
    * data (reference `dagster/assets.py:250-394`). Driver-side metadata,
    * not SQL-expressible over the tables themselves → no oracle entry
    * (rows-only check). */
  def catalogStructure(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    names.flatMap { t =>
      Tables.table(spark, dir, t).schema.fields.zipWithIndex.map { case (f, i) =>
        (t, i, f.name, f.dataType.catalogString, f.nullable)
      }
    }.toDF("table_name", "ordinal", "column_name", "data_type", "nullable")
      .orderBy("table_name", "ordinal")
  }

  /** A-array: deterministic array aggregation — per event_type, the SORTED
    * set of high-value user ids (collect_set is unordered in any engine;
    * sort_array pins a comparable value). Emitted as a joined string —
    * the driver's pandas compare cannot sort raw array cells. */
  def arrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("value") > 400)
      .groupBy(col("event_type"))
      .agg(expr("array_join(transform(sort_array(collect_set(user_id)), x -> cast(x as string)), ',')")
        .as("users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** F-null: null-handling scalar battery (coalesce / nullif / nvl2-shape)
    * over the left-outer supplier join (real nulls from zero-match rows). */
  def nullScalars(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(Tables.supplier(spark, dir), col("n_nationkey") === col("s_nationkey"), "left_outer")
      .select(
        col("n_nationkey"), col("n_name"),
        coalesce(col("s_name"), lit("<none>")).as("supp_or_none"),
        nullif(col("s_nationkey"), lit(0)).as("nz_nationkey"),
        when(col("s_suppkey").isNull, "absent").otherwise("present").as("presence"),
        coalesce(col("s_acctbal"), lit(0.0)).as("bal_or_zero"))
      .orderBy(col("n_nationkey"), col("supp_or_none"))

  /** Cohort retention: users grouped by their FIRST active day, counted
    * on each later day they return — the canonical product-analytics
    * matrix. One min-window pass per user (single user_id shuffle, shared
    * with the distinct) then one hash-agg of O(cohorts × offsets). */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("cohort_day", min(col("day")).over(byUser))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Ordered funnel: view → click → purchase, each step strictly AFTER
    * the user's previous step. Three conditional min-aggregates, each
    * conditioned on the prior step's timestamp (carried by a user-keyed
    * join — every shuffle is on user_id, so at scale the three stages
    * co-partition and only the first pays a full exchange). Conversion
    * ratios are exact-integer-count divisions, stable-rounded. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = events.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
      .where(col("t_view").isNotNull)
    val s2 = events.join(s1, "user_id")
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" && col("ts") > col("t_view"), col("ts")))
        .as("t_click"))
    val s3 = events.join(s2.where(col("t_click").isNotNull), "user_id")
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") > col("t_click"), col("ts")))
        .as("t_purchase"))
    val viewers = s1.agg(count(lit(1)).as("n_view")) // 1-row funnel base
    s3.agg(
      count(lit(1)).as("n_click"),
      count(col("t_purchase")).as("n_purchase"))
      .crossJoin(broadcast(viewers))
      .select(
        col("n_view"),
        col("n_click"),
        col("n_purchase"),
        StableStats.stableRound(col("n_click").cast("double") / col("n_view"), 4)
          .as("click_rate"),
        StableStats.stableRound(col("n_purchase").cast("double") / col("n_click"), 4)
          .as("purchase_rate"))
  }

  /** Gap-fill + forward-fill: the time-series resample the reference only
    * gestures at (pandas `resample` materializes empty bins, then the ETL
    * drops them — SURVEY.md §2.5.1). Here the full 10-minute grid for one
    * day is GENERATED (`sequence` — 144 slots × |event types|, map-side),
    * observed buckets left-join onto it, and gaps forward-fill with the
    * last observed value via `last(_, ignoreNulls)` over a row frame.
    * Slots before the first observation stay NULL (nothing to carry).
    * The grid is O(slots × types) — independent of event volume, so the
    * join is broadcast-scale on the grid side at any data size. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val day = Tables.events(spark, dir)
      .where(col("ts") >= to_timestamp(lit("2024-01-03"))
        && col("ts") < to_timestamp(lit("2024-01-04")))
    val observed = day
      .groupBy(col("event_type"), window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_obs"),
        StableStats.centsMean(col("value")).as("avg_value"))
      .select(col("event_type").as("ot"), col("window.start").as("oslot"),
        col("n_obs"), col("avg_value"))
    val grid = day.select(col("event_type")).distinct()
      .crossJoin(
        spark.range(1).select(explode(expr(
          "sequence(timestamp'2024-01-03 00:00:00', timestamp'2024-01-03 23:50:00', interval 10 minutes)"))
          .as("slot")))
    val ff = Window.partitionBy(col("event_type")).orderBy(col("slot"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(observed, col("event_type") === col("ot") && col("slot") === col("oslot"),
        "left_outer")
      .select(col("event_type"), col("slot"),
        coalesce(col("n_obs"), lit(0L)).as("n"),
        col("avg_value"),
        last(col("avg_value"), ignoreNulls = true).over(ff).as("filled"))
      .orderBy("event_type", "slot")
  }

  /** Pairwise Pearson correlation matrix over the lineitem numeric
    * columns, long form (col_a, col_b, corr) — the census pass a feature
    * pipeline runs before trusting any derived signal. All C(4,2) pairs
    * compute in ONE hash-agg over one scan (at 100 TB the scan dominates;
    * N² correlations must not mean N² passes) and the agg folds to a
    * single row of partial moment sums — map-side combine does the work,
    * the exchange moves one row per partition. 4dp rounding absorbs
    * summation-order drift in the moment sums. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      StableStats.stableRound(corr(col(a), col(b)), 4).as(s"${a}__$b")
    }
    val one = Tables.lineitem(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', `${a}__$b`"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${pairs.size}, $stacked) as (col_a, col_b, corr)")
      .orderBy("col_a", "col_b")
  }

  val queries: Seq[Query] = Seq(
    Query("x_corr_matrix", corrMatrix _, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val rows = (for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield s"SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b, " +
        s"${StableStats.stableRoundSql(s"corr(${cols(i)}, ${cols(j)})", 4)} AS corr FROM lineitem")
        .mkString("\nUNION ALL\n")
      s"$rows\nORDER BY col_a, col_b"
    }),
    Query("x_gap_fill", gapFill _,
      s"""WITH day AS (
         |  SELECT * FROM events
         |  WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04'),
         |obs AS (
         |  SELECT event_type AS ot, time_bucket(INTERVAL 10 MINUTE, ts) AS oslot,
         |    count(*) AS n_obs, ${StableStats.centsMeanSql("value")} AS avg_value
         |  FROM day GROUP BY 1, 2),
         |grid AS (
         |  SELECT event_type, slot
         |  FROM (SELECT DISTINCT event_type FROM day)
         |  CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-03',
         |    TIMESTAMP '2024-01-03 23:50:00', INTERVAL 10 MINUTE)) AS slot))
         |SELECT event_type, slot, coalesce(n_obs, 0) AS n, avg_value,
         |  last_value(avg_value IGNORE NULLS) OVER (PARTITION BY event_type
         |    ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         |FROM grid LEFT JOIN obs ON event_type = ot AND slot = oslot
         |ORDER BY event_type, slot""".stripMargin),
    Query("a_funnel", funnel _, {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH s1 AS (
         |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
         |  FROM events GROUP BY user_id
         |  HAVING min(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL),
         |s2 AS (
         |  SELECT e.user_id, s1.t_view,
         |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view THEN e.ts END) AS t_click
         |  FROM events e JOIN s1 USING (user_id) GROUP BY e.user_id, s1.t_view),
         |s3 AS (
         |  SELECT e.user_id, s2.t_view, s2.t_click,
         |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click THEN e.ts END) AS t_purchase
         |  FROM events e JOIN s2 USING (user_id)
         |  WHERE s2.t_click IS NOT NULL
         |  GROUP BY e.user_id, s2.t_view, s2.t_click)
         |SELECT
         |  (SELECT count(*) FROM s1) AS n_view,
         |  count(*) AS n_click,
         |  CAST(count(t_purchase) AS BIGINT) AS n_purchase,
         |  ${stableRoundSql("CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM s1)", 4)} AS click_rate,
         |  ${stableRoundSql("CAST(count(t_purchase) AS DOUBLE) / count(*)", 4)} AS purchase_rate
         |FROM s3""".stripMargin
    }),
    Query("a_cohort_retention", cohortRetention _,
      """WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
        |  count(*) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("x_user_gaps", userGaps _,
      s"""WITH g AS (
         |  SELECT user_id,
         |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_us
         |  FROM events)
         |SELECT user_id, count(*) AS n_gaps,
         |  ${StableStats.intMeanSql("gap_us")} AS avg_gap_us,
         |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
         |FROM g WHERE gap_us IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("x_event_transitions", eventTransitions _,
      s"""WITH bi AS (
         |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         |    event_type AS curr
         |  FROM events),
         |c AS (
         |  SELECT prev, curr, CAST(count(*) AS BIGINT) AS n
         |  FROM bi WHERE prev IS NOT NULL GROUP BY prev, curr)
         |SELECT prev, curr, n,
         |  ${StableStats.ratioSql("n", "sum(n) OVER (PARTITION BY prev)")} AS p
         |FROM c ORDER BY prev, curr""".stripMargin),
    // the oracle is the DIRECT single-window formulation: the two-level
    // prefix-scan decomposition must be indistinguishable from it
    Query("x_lateness_hist", latenessHistogram _,
      """WITH o AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |r AS (SELECT us, max(us) OVER (ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM o),
        |l AS (SELECT greatest(0, coalesce(pm - us, 0)) AS lat FROM r)
        |SELECT CASE WHEN lat <= 0 THEN 'a_ontime'
        |    WHEN lat <= 60000000 THEN 'b_le_1min'
        |    WHEN lat <= 600000000 THEN 'c_le_10min'
        |    WHEN lat <= 3600000000 THEN 'd_le_1h'
        |    ELSE 'e_gt_1h' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("x_count_anomaly", (s, d) => countAnomalies(s, d),
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |win AS (
         |  SELECT event_type, h, c,
         |    count(c) OVER w AS n_win, sum(c) OVER w AS s1, sum(c * c) OVER w AS s2
         |  FROM hourly
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         |scored AS (
         |  SELECT event_type, h, c,
         |    CAST(s1 AS DOUBLE) / n_win AS mean,
         |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_win) / (n_win - 1) AS variance
         |  FROM win WHERE n_win = 24),
         |z AS (
         |  SELECT event_type, h, c, mean,
         |    ${StableStats.stableRoundSql("(c - mean) / sqrt(variance)", 4)} AS z
         |  FROM scored WHERE variance > 0)
         |SELECT event_type, h, c,
         |  ${StableStats.stableRoundSql("mean", 4)} AS win_mean, z
         |FROM z WHERE abs(z) >= 2.0
         |ORDER BY abs(z) DESC, event_type, h LIMIT 10""".stripMargin),
    Query("x_seasonal_mase", seasonalMase _,
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT event_type, c,
         |    abs(c - lag(c, 1) OVER (PARTITION BY event_type ORDER BY h)) AS e1,
         |    abs(c - lag(c, 24) OVER (PARTITION BY event_type ORDER BY h)) AS e24
         |  FROM hourly),
         |agg AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |    CAST(coalesce(sum(e1), 0) AS BIGINT) AS s1, CAST(count(e1) AS BIGINT) AS c1,
         |    CAST(coalesce(sum(e24), 0) AS BIGINT) AS s24, CAST(count(e24) AS BIGINT) AS c24
         |  FROM l GROUP BY event_type)
         |SELECT event_type, n_hours,
         |  ${StableStats.ratioSql("s1", "c1")} AS mae_naive,
         |  ${StableStats.ratioSql("s24", "c24")} AS mae_seasonal,
         |  ${StableStats.ratioSql("s24 * c1", "c24 * s1")} AS mase
         |FROM agg ORDER BY event_type""".stripMargin),
    Query("a_sliding_window", slidingWindow _,
      s"""SELECT win_start, count(*) AS n, ${StableStats.centsMeanSql("value")} AS avg_value
         |FROM (
         |  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - i * INTERVAL 5 MINUTE AS win_start,
         |         ts, value
         |  FROM events CROSS JOIN (VALUES (0), (1)) k(i))
         |WHERE ts >= win_start AND ts < win_start + INTERVAL 10 MINUTE
         |GROUP BY win_start ORDER BY win_start""".stripMargin),
    Query("a_session_window", sessionWindow _,
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin),
    Query("a_array_agg", arrayAgg _,
      """SELECT event_type,
        |  array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users, count(*) AS n
        |FROM events WHERE value > 400
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("f_null_scalars", nullScalars _,
      """SELECT n_nationkey, n_name,
        |  coalesce(s_name, '<none>') AS supp_or_none,
        |  nullif(s_nationkey, 0) AS nz_nationkey,
        |  CASE WHEN s_suppkey IS NULL THEN 'absent' ELSE 'present' END AS presence,
        |  coalesce(s_acctbal, 0e0) AS bal_or_zero
        |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
        |ORDER BY n_nationkey, supp_or_none""".stripMargin),
    Query("a7_column_stats", columnStats _,
      s"""SELECT count(*) AS n, ${StableStats.centsMeanSql("value")} AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  round(stddev(value),4) AS std_value FROM events""".stripMargin),
    Query("o3_export_order", exportOrder _, {
      val day = "(SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-07 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-08 00:00:00')"
      s"""WITH agg AS (${SensorPipeline.aggSql.format(day)}),
         |lng AS (SELECT ts10 AS timestamp, sig AS signal_name, v AS value
         |  FROM (UNPIVOT agg ON ${SensorPipeline.signalNames.mkString(", ")} INTO NAME sig VALUE v)),
         |dim(signal_id, name) AS (VALUES ${SensorPipeline.dimValues})
         |SELECT lng.timestamp, dim.signal_id, lng.value
         |FROM lng JOIN dim ON lng.signal_name = dim.name
         |ORDER BY lng.timestamp DESC, dim.signal_id ASC""".stripMargin
    }),
    Query("j4_concat_axis", concatAxis _,
      s"""WITH c AS (
         |  SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS click_ts,
         |    ${StableStats.centsMeanSql("value")} AS click_mean, min(value) AS click_min,
         |    max(value) AS click_max, round(stddev(value),4) AS click_std
         |  FROM events WHERE event_type = 'click' GROUP BY 1),
         |v AS (
         |  SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS view_ts,
         |    ${StableStats.centsMeanSql("value")} AS view_mean, min(value) AS view_min,
         |    max(value) AS view_max, round(stddev(value),4) AS view_std
         |  FROM events WHERE event_type = 'view' GROUP BY 1)
        |SELECT coalesce(click_ts, view_ts) AS timestamp,
        |  click_mean, click_min, click_max, click_std,
        |  view_mean, view_min, view_max, view_std
        |FROM c FULL OUTER JOIN v ON click_ts = view_ts
        |ORDER BY timestamp""".stripMargin),
    Query("x_quantile_sketch", (s, d) => quantileSketch(s, d), {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH e AS (SELECT event_type, CAST(round(value * 1e2) AS BIGINT) AS c, value
         |  FROM events),
         |stats AS (SELECT event_type, min(c) AS minc, max(c) AS maxc,
         |    CAST(count(*) AS BIGINT) AS n,
         |    round(quantile_cont(value, 0.5), 4) AS ex50,
         |    round(quantile_cont(value, 0.9), 4) AS ex90
         |  FROM e GROUP BY 1),
         |b AS (SELECT e.event_type, ((c - minc) * 256) // (maxc - minc + 1) AS bin,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM e JOIN stats USING (event_type) GROUP BY 1, 2),
         |cum AS (SELECT event_type, bin, cnt,
         |    CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM b),
         |px AS (SELECT cum.event_type, bin, cnt, cum_before, minc, maxc, n, ps.p,
         |    CASE WHEN ps.p = 0.5 THEN ex50 ELSE ex90 END AS exact,
         |    ps.p * (n - 1) AS t
         |  FROM cum JOIN stats USING (event_type)
         |  CROSS JOIN (SELECT 0.5 AS p UNION ALL SELECT 0.9) ps),
         |sel AS (SELECT event_type, p, n, exact,
         |    ${stableRoundSql(
             "(minc + (bin + (t - cum_before + 0.5) / cnt)" +
               " * (CAST(maxc - minc + 1 AS DOUBLE) / 256)) / 1e2", 4)} AS est
         |  FROM px WHERE cum_before <= t AND t < cum_before + cnt)
         |SELECT event_type, p, n, est, exact,
         |  ${stableRoundSql("est - exact", 4)} AS err
         |FROM sel ORDER BY event_type, p""".stripMargin
    }),
    Query("x_bootstrap_ci", (s, d) => bootstrapCi(s, d), {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH e AS (SELECT event_id, event_type,
         |    CAST(round(value * 1e2) AS BIGINT) AS cents FROM events),
         |rep AS (SELECT event_id, event_type, cents, b,
         |    ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 1, 12))::BIGINT
         |      / 281474976710656.0 AS u
         |  FROM e, unnest(generate_series(0, 31)) AS t(b)),
         |m AS (SELECT event_id, event_type, cents, b,
         |    CASE WHEN u < 0.36787944117144233 THEN 0
         |         WHEN u < 0.7357588823428847 THEN 1
         |         WHEN u < 0.9196986029286058 THEN 2
         |         WHEN u < 0.9810118431238462 THEN 3
         |         WHEN u < 0.9963401531726563 THEN 4
         |         WHEN u < 0.9994058151824183 THEN 5
         |         WHEN u < 0.999916758850712 THEN 6
         |         ELSE 7 END AS mult
         |  FROM rep),
         |rm AS (SELECT event_type, b,
         |    ${stableRoundSql("CAST(sum(mult * cents) AS DOUBLE) / CAST(sum(mult) AS BIGINT) / 1e2", 4)} AS mean_b
         |  FROM m GROUP BY 1, 2),
         |ranked AS (SELECT event_type, mean_b,
         |    row_number() OVER (PARTITION BY event_type ORDER BY mean_b ASC, b ASC) AS rn
         |  FROM rm),
         |ci AS (SELECT event_type,
         |    min(CASE WHEN rn = 2 THEN mean_b END) AS boot_lo,
         |    min(CASE WHEN rn = 31 THEN mean_b END) AS boot_hi
         |  FROM ranked GROUP BY 1),
         |base AS (SELECT event_type, count(*) AS n,
         |    ${stableRoundSql("CAST(sum(cents) AS DOUBLE) / count(*) / 1e2", 4)} AS mean_value
         |  FROM e GROUP BY 1)
         |SELECT base.event_type, n, mean_value, boot_lo, boot_hi
         |FROM base JOIN ci USING (event_type) ORDER BY event_type""".stripMargin
    }),
    Query("x_interval_overlap", intervalOverlap _,
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id,
        |    epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
        |  FROM s GROUP BY user_id, session_id),
        |p AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2,
        |    least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS ov_us
        |  FROM sess a JOIN sess b
        |    ON a.user_id < b.user_id AND a.s_us < b.e_us AND b.s_us < a.e_us)
        |SELECT u1, u2, count(*) AS n_overlaps, CAST(sum(ov_us) AS BIGINT) AS total_overlap_us
        |FROM p GROUP BY u1, u2
        |ORDER BY n_overlaps DESC, u1 ASC, u2 ASC LIMIT 100""".stripMargin),
    Query("x_sessionize", sessionize _,
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
        |  round(sum(value),2) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    Query("a_quantiles", quantiles _,
      """SELECT event_type, round(quantile_cont(value, 0.5),4) AS p50,
        |  round(quantile_cont(value, 0.9),4) AS p90, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("a_histogram", histogram _,
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n,
        |  round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // catalog introspection has no SQL twin: SketchCatalogSpec pins it
    Query("s9_catalog", catalogStructure _)
  )
}
