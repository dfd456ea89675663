package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark: dup ids collapse, state evicts by watermark") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "value")
    val out = StatefulOps.dedupWithinWatermark(df, "ts", "10 minutes", Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(
        (1L, ts("2024-01-01 00:00:00"), 1.0),
        (1L, ts("2024-01-01 00:00:30"), 1.0), // duplicate id within watermark
        (2L, ts("2024-01-01 00:01:00"), 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: gap closes sessions, watermark flushes") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[StatefulOps.Evt]
    val out = StatefulOps.sessionize(stream.toDS(), watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // burst 1 (user 7): 3 events within the gap
      stream.addData(
        StatefulOps.Evt(7L, ts("2024-01-01 00:00:00"), 1.0),
        StatefulOps.Evt(7L, ts("2024-01-01 00:05:00"), 2.0),
        StatefulOps.Evt(7L, ts("2024-01-01 00:10:00"), 3.0))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() === 0) // still open

      // burst 2: > 30-min gap → closes session 1 inside the batch
      stream.addData(StatefulOps.Evt(7L, ts("2024-01-01 02:00:00"), 9.0))
      q.processAllAvailable()
      val s1 = spark.table("sessions_out")
        .as[StatefulOps.SessionOut].collect()
      assert(s1.length === 1)
      assert(s1.head.n_events === 3 && s1.head.sum_value === 6.0)
      assert(s1.head.session_start === ts("2024-01-01 00:00:00"))
      assert(s1.head.session_end === ts("2024-01-01 00:10:00"))

      // advance watermark far past burst 2 + gap → event-time timeout fires
      stream.addData(StatefulOps.Evt(99L, ts("2024-01-01 06:00:00"), 0.0))
      q.processAllAvailable()
      val s2 = spark.table("sessions_out").as[StatefulOps.SessionOut].collect()
      assert(s2.exists(s => s.user_id == 7L && s.n_events == 1 && s.sum_value == 9.0),
        s"burst-2 session should close by timeout: ${s2.mkString(", ")}")
    } finally q.stop()
  }

  test("stream-stream interval join: conversion attributes only to in-window click") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val convs  = MemoryStream[(Long, Timestamp)]
    val out = StatefulOps.clickConversionJoin(
      clicks.toDF().toDF("user_id", "click_ts"),
      convs.toDF().toDF("user_id", "conv_ts"))
    val q = out.writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        (1L, ts("2024-01-01 00:00:00")),  // in-window for user 1's conversion
        (2L, ts("2024-01-01 00:00:00")))  // user 2 converts too late
      convs.addData(
        (1L, ts("2024-01-01 00:05:00")),  // 5 min after click → attributed
        (2L, ts("2024-01-01 00:30:00")),  // 30 min after click → outside window
        (3L, ts("2024-01-01 00:05:00")))  // no click at all
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .collect().map(r => r.getLong(0)).toSeq
      assert(rows === Seq(1L), s"only user 1 attributes: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("transformWithState sessionization == flatMapGroupsWithState (same input, same sessions)") {
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val stream = MemoryStream[StatefulOps.Evt]
      val out = StatefulOps.sessionizeTws(stream.toDS(), watermark = "10 minutes")
      val q = out.writeStream.format("memory").queryName("tws_sessions")
        .outputMode(OutputMode.Append()).start()
      try {
        // identical input schedule to the flatMapGroupsWithState test above
        stream.addData(
          StatefulOps.Evt(7L, ts("2024-01-01 00:00:00"), 1.0),
          StatefulOps.Evt(7L, ts("2024-01-01 00:05:00"), 2.0),
          StatefulOps.Evt(7L, ts("2024-01-01 00:10:00"), 3.0))
        q.processAllAvailable()
        assert(spark.table("tws_sessions").count() === 0) // still open

        stream.addData(StatefulOps.Evt(7L, ts("2024-01-01 02:00:00"), 9.0))
        q.processAllAvailable()
        val s1 = spark.table("tws_sessions").as[StatefulOps.SessionOut].collect()
        assert(s1.length === 1)
        assert(s1.head.n_events === 3 && s1.head.sum_value === 6.0)
        assert(s1.head.session_start === ts("2024-01-01 00:00:00"))
        assert(s1.head.session_end === ts("2024-01-01 00:10:00"))

        // advance the watermark far past burst 2 + gap → the explicit timer fires
        stream.addData(StatefulOps.Evt(99L, ts("2024-01-01 06:00:00"), 0.0))
        q.processAllAvailable()
        val s2 = spark.table("tws_sessions").as[StatefulOps.SessionOut].collect()
        assert(s2.exists(s => s.user_id == 7L && s.n_events == 1 && s.sum_value == 9.0),
          s"burst-2 session should close by timer: ${s2.mkString(", ")}")
      } finally q.stop()
    }
  }
}
