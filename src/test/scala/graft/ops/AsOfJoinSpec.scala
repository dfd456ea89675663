package graft.ops

import java.sql.Timestamp

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("multi-touch: equal split in cents, remainder to the books, window excludes stale clicks") {
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-mt").toString
    // purchase 100 (10.00 = 1000 cents) at day 3 noon: three clicks in
    // the prior 24 h → 333 each + 1 remainder; a 2-day-old click and a
    // later click must not count. purchase 101: no clicks at all.
    Seq(
      (1L, ts("2024-01-01 12:00:00"), 7L, "click", 0.0, "{}"),    // stale
      (10L, ts("2024-01-03 01:00:00"), 7L, "click", 0.0, "{}"),
      (11L, ts("2024-01-03 06:00:00"), 7L, "click", 0.0, "{}"),
      (12L, ts("2024-01-03 11:59:00"), 7L, "click", 0.0, "{}"),
      (13L, ts("2024-01-03 13:00:00"), 7L, "click", 0.0, "{}"),   // after
      (100L, ts("2024-01-03 12:00:00"), 7L, "purchase", 10.0, "{}"),
      (101L, ts("2024-01-03 12:00:00"), 9L, "purchase", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    val r = AsOfJoin.multiTouch(spark, d).collect()
      .map(x => x.getAs[Long]("purchase_id") -> x).toMap
    val p = r(100L)
    assert(p.getAs[Long]("n_touches") === 3L)
    assert(p.getAs[Long]("first_click") === 10L && p.getAs[Long]("last_click") === 12L)
    assert(p.getAs[Long]("cents_per_touch") === 333L)
    assert(p.getAs[Long]("cents_remainder") === 1L)
    assert(3 * p.getAs[Long]("cents_per_touch") + p.getAs[Long]("cents_remainder") === 1000L)
    val np = r(101L)
    assert(np.getAs[Long]("n_touches") === 0L && np.isNullAt(np.fieldIndex("first_click")))
    assert(np.getAs[Long]("cents_per_touch") === 0L)
  }

  test("as-of semantics: latest right <= left.ts per key; <= includes equal ts; no match -> null") {
    val purchases = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, 9.99),
      (1L, ts("2024-01-01 12:00:00"), 101L, 5.00),
      (1L, ts("2024-01-01 08:00:00"), 102L, 1.00),  // before any click
      (2L, ts("2024-01-01 11:00:00"), 103L, 2.50))  // user with no clicks
      .toDF("user_id", "ts", "purchase_id", "purchase_value")
    val clicks = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1L),
      (1L, ts("2024-01-01 10:00:00"), 2L),  // equal-ts click for purchase 100
      (1L, ts("2024-01-01 11:30:00"), 3L))
      .toDF("user_id", "ts", "event_id")

    val out = AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "event_id")
      .collect().map(r => r.getAs[Long]("purchase_id") ->
        Option(r.getAs[java.lang.Long]("asof_event_id")).map(_.toLong)).toMap

    assert(out(100L) === Some(2L)) // equal-ts click wins (<= convention)
    assert(out(101L) === Some(3L)) // latest prior
    assert(out(102L) === None)     // nothing before 08:00
    assert(out(103L) === None)     // user 2 has no clicks
  }

  test("right-side dedup: one match per (key, ts), greatest id wins") {
    val l = Seq((1L, ts("2024-01-01 10:00:00"), 7L, 0.0))
      .toDF("user_id", "ts", "purchase_id", "purchase_value")
    val r = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10L),
      (1L, ts("2024-01-01 09:00:00"), 11L)) // duplicate ts, keep 11
      .toDF("user_id", "ts", "event_id")
    val row = AsOfJoin.asOf(l, r, "user_id", "ts", "event_id").head()
    assert(row.getAs[Long]("asof_event_id") === 11L)
  }

  test("plan: one shuffle on the key, no join operator at all") {
    val df = AsOfJoin.attribution(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }
}
