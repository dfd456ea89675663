package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SensorPipeline

/** Structured Streaming variant of the core pipeline (SURVEY.md §2.8).
  *
  * The reference is batch-only — cron re-runs a daily partition
  * (`dagster/jobs.py:40-52`). The streaming equivalent keeps the SAME
  * tumbling-window aggregation expression as the batch path
  * (`SensorPipeline.wideAgg`'s 2 vars × 4 stats) and adds a watermark for
  * state eviction: with a 20-minute watermark, each 10-minute window's
  * state is dropped once the event-time high-water-mark passes
  * window.end + 20m — bounded state at any scale.
  *
  * Late data handling: rows later than the watermark are dropped (the
  * batch reference instead silently DUPLICATES on re-run — blind append,
  * `etl/etl_process.py:156-163`; see [[graft.sources.PartitionedSink]] for
  * the idempotent batch fix).
  */
object SensorStream {

  /** File-based streaming source over the driver's events parquet — the
    * real `readStream` path (new files in `dir` would be picked up
    * incrementally; `Trigger.AvailableNow` drains what exists). Normalizes
    * the ts column exactly like the batch reader ([[graft.Tables.events]]):
    * epoch-nanos long → integer-div to µs; TIMESTAMP_NTZ → TIMESTAMP (the
    * watermark operator rejects NTZ event time outright, and every entry
    * point pins the session to UTC so the cast is value-preserving). */
  def eventsStream(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.table(spark, dir, "events").schema
    // the table is a single parquet FILE; stream sources take a directory,
    // so stream the parent dir with a glob pinned to this table
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** events stream → windowed wide aggregate (append-mode compatible):
    * the EXACT same agg expressions as batch — `SensorPipeline.wideAgg`
    * applied to a watermarked stream. */
  def windowedWide(events: DataFrame, watermark: String = "20 minutes"): DataFrame =
    SensorPipeline.wideAgg(events.withWatermark("ts", watermark))

  /** Full streaming pipeline: windowed agg → unpivot → drop null values →
    * broadcast dim join — identical long-format output contract as the
    * batch `SensorPipeline.pipelineLong`. */
  def windowedLong(events: DataFrame, watermark: String = "20 minutes"): DataFrame = {
    val wide = windowedWide(events, watermark)
    val long = wide
      .unpivot(Array(col("timestamp")), SensorPipeline.signalNames.map(col).toArray,
        "signal_name", "value")
      .na.drop(Seq("value"))
    val dim = SensorPipeline.signalDim(events.sparkSession)
    long
      .join(broadcast(dim), long("signal_name") === dim("name"), "inner")
      .select(long("timestamp"), dim("signal_id"), long("value"))
  }
}
