package graft.ops

import graft.SparkSpec

/** Incremental aggregate maintenance: merging per-day partials must be
  * bit-identical to the direct full-scan aggregate, including after a
  * single-day refresh (the nightly-run shape). */
class IncrementalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("incremental transitions == single-pass transition matrix (bit-equal)") {
    assert(rows(Incremental.incrTransitions(spark, dir))
      === rows(Analytics.eventTransitions(spark, dir)))
  }

  test("incremental transitions: the cross-shard boundary bigram is not lost") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-incrtrans").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // user 7's only two events straddle the 2024-01-16 cut: a naive
    // per-shard union sees NO bigram at all; the boundary join must
    // recover exactly (signup -> purchase)
    Seq(
      (0L, ts("2024-01-10 00:00:00"), 7L, "signup", 1.0, "{}"),
      (1L, ts("2024-01-20 00:00:00"), 7L, "purchase", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val got = Incremental.incrTransitions(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n")))
    assert(got.toSeq === Seq(("signup", "purchase", 1L)))
  }

  test("merged partials == direct aggregate (bit-equal)") {
    import org.apache.spark.sql.functions._
    val direct = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        StableStats.centsMean(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
    assert(rows(Incremental.mergedStats(spark, dir)) === rows(direct))
  }

  test("refreshing one day's partial then merging changes nothing (idempotent re-run)") {
    assert(rows(Incremental.mergeWithRefreshedDay(spark, dir, "2024-01-03"))
      === rows(Incremental.mergedStats(spark, dir)))
  }

  test("partial table is O(days x types): one row per (day, event_type)") {
    val p = Incremental.dailyPartials(spark, dir)
    assert(p.count() === p.select("day", "event_type").distinct().count())
  }

  test("refresh parity holds with a NULL-ts event (null-safe day filter keeps the NULL-day bucket)") {
    import spark.implicits._
    val d = tempDir("graft-incr-null").toString
    Seq(
      (1L, Option(java.sql.Timestamp.valueOf("2024-01-03 10:00:00")), 1L, "click", 2.0, "{}"),
      (2L, Option(java.sql.Timestamp.valueOf("2024-01-04 10:00:00")), 1L, "click", 4.0, "{}"),
      (3L, None: Option[java.sql.Timestamp], 2L, "click", 6.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$d/events.parquet")
    assert(rows(Incremental.mergeWithRefreshedDay(spark, d, "2024-01-03"))
      === rows(Incremental.mergedStats(spark, d)))
    // and the merged stats really include the null-day event: n=3 not 2
    assert(Incremental.mergedStats(spark, d).collect()(0).getAs[Long]("n") === 3L)
  }
}
