package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.SensorPipeline

/** Golden pipeline test over the regenerated reference data (FIXTURES.md §A3)
  * + idempotent-write behavior. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("synth generator reproduces the reference envelope (seed 42 structure)") {
    val df = SynthGenerator.sensorData(spark, rows = 1440).cache()
    assert(df.count() === 1440)
    // bounds from the clip formulas (seed_fonte.py:22,27)
    val r = df.agg(
      min("wind_speed"), max("wind_speed"),
      min("power"), max("power"),
      min("timestamp").cast("string"), max("timestamp").cast("string")).head()
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 25.0)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) <= 2000.0)
    assert(r.getString(4) === "2025-08-10 00:00:00")
    assert(r.getString(5) === "2025-08-10 23:59:00")
    // distribution sanity: mean wind speed near 12 (N(12,5) clipped)
    val mean = df.agg(avg("wind_speed")).head().getDouble(0)
    assert(mean > 10.5 && mean < 13.5)
  }

  test("golden invariant: one day → 144 intervals × 8 signals = 1152 rows (ref //8)") {
    val day = SynthGenerator.sensorData(spark, rows = 1440)
      .select(col("timestamp").as("ts"), col("wind_speed"), col("power"))
    // reshape to the events-like (ts, event_type, value) contract
    val asEvents = day.selectExpr(
      "stack(2, 'click', wind_speed, 'view', power) as (event_type, value)", "ts")
    val long = SensorPipeline.toLong(SensorPipeline.wideAgg(asEvents))
    val n = long.count()
    assert(n === 1152, "144 ten-minute windows × 8 signals")
    assert(n % 8 === 0, "etl_process.py:195 `len(long) // 8` invariant")
  }

  test("compaction: many small files per day collapse to one, data intact") {
    val out = tempDir("graft-compact").toString + "/fact"
    // 5 separate appends → ≥5 files in the day-1 partition
    (1 to 5).foreach { i =>
      Seq((java.sql.Timestamp.valueOf(s"2024-01-01 0$i:00:00"), i, i.toDouble))
        .toDF("timestamp", "signal_id", "value")
        .withColumn("day", to_date(col("timestamp")))
        .write.mode("append").partitionBy("day").parquet(out)
    }
    def dataFiles = new java.io.File(s"$out/day=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles >= 5)
    val before = spark.read.parquet(out).orderBy("signal_id").collect().toSeq
    PartitionedSink.compactDaily(spark, out)
    assert(dataFiles === 1, "day partition must collapse to one file")
    assert(spark.read.parquet(out).orderBy("signal_id").collect().toSeq === before)
  }

  test("compaction: filesPerDay > 1 actually splits a day into multiple files") {
    val out = tempDir("graft-compact-n").toString + "/fact"
    // one day, 64 rows across 8 appends → 8+ micro-files
    (0 until 8).foreach { i =>
      (0 until 8).map(j =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 ${i * 3}%02d:0$j:00"), i * 8 + j, j.toDouble))
        .toDF("timestamp", "signal_id", "value")
        .withColumn("day", to_date(col("timestamp")))
        .write.mode("append").partitionBy("day").parquet(out)
    }
    def dataFiles = new java.io.File(s"$out/day=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles >= 8)
    val before = spark.read.parquet(out).orderBy("signal_id").collect().toSeq
    PartitionedSink.compactDaily(spark, out, filesPerDay = 4)
    // hash sub-split is deterministic; the day must actually divide
    // (repartition on day alone would always produce exactly 1)
    assert(dataFiles > 1 && dataFiles <= 4,
      s"expected 2..4 files after filesPerDay=4 compaction, got $dataFiles")
    assert(spark.read.parquet(out).orderBy("signal_id").collect().toSeq === before)
  }

  test("partitioned sink: re-running a day replaces, not duplicates (fixes §2.8)") {
    val out = tempDir("graft-sink").toString + "/fact"
    val day1 = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1, 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1, 2.0))
      .toDF("timestamp", "signal_id", "value")
    val day2 = Seq(
      (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 1, 3.0))
      .toDF("timestamp", "signal_id", "value")

    PartitionedSink.writeDaily(day1, out)
    PartitionedSink.writeDaily(day2, out)
    assert(spark.read.parquet(out).count() === 3)

    // re-run day1 (the reference's blind append would make this 5)
    PartitionedSink.writeDaily(day1, out)
    val after = spark.read.parquet(out)
    assert(after.count() === 3, "dynamic overwrite must replace day1, keep day2")
    assert(after.where(col("day") === "2024-01-02").count() === 1)
  }
}
