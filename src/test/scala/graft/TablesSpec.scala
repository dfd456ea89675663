package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types._

/** Pins [[Tables.events]]' timestamp normalization across the three shapes
  * the driver's parquet has shipped as: epoch-nanos long, TIMESTAMP_NTZ
  * (micros, isAdjustedToUTC=false), and plain TIMESTAMP. A round-9 testdata
  * regeneration switched nanos-long → NTZ and silently broke every
  * `unix_micros`/lag query over events (ADVICE r9); this spec makes any
  * future re-shape a loud test failure instead of a vanished query.
  */
class TablesSpec extends SparkSpec {

  private def writeAndRead(schema: StructType, rows: Seq[Row]): org.apache.spark.sql.DataFrame = {
    val dir = tempDir("graft-events").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
  }

  private val baseMicros = 1704067200000000L // 2024-01-01T00:00:00Z

  test("events normalizes TIMESTAMP_NTZ ts to TIMESTAMP with identical micros") {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val rows = Seq(
      Row(1L, java.time.LocalDateTime.ofEpochSecond(baseMicros / 1000000, 778549000, java.time.ZoneOffset.UTC), 7L, 1.5),
      Row(2L, java.time.LocalDateTime.ofEpochSecond(baseMicros / 1000000 + 3600, 0, java.time.ZoneOffset.UTC), 7L, 2.5))
    val df = writeAndRead(schema, rows)
    assert(df.schema("ts").dataType === TimestampType)
    // UTC session: NTZ wall-clock micros reinterpret with zero value shift
    val micros = df.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(micros === Array(baseMicros + 778549, baseMicros + 3600000000L))
  }

  test("events truncates epoch-nanos long ts to micros without float corruption") {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    // nanos magnitude (~1.7e18) exceeds a double's 53-bit mantissa: this
    // value round-trips ONLY under integer div, which is what's pinned here
    val nanos = baseMicros * 1000L + 778549123L
    val df = writeAndRead(schema, Seq(Row(1L, nanos, 7L, 1.5)))
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(unix_micros(col("ts"))).collect().head.getLong(0)
    assert(got === nanos / 1000L)
  }

  test("events passes plain TIMESTAMP ts through untouched") {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val df = writeAndRead(schema, Seq(Row(1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(baseMicros / 1000000)), 7L, 1.5)))
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select(unix_micros(col("ts"))).collect().head.getLong(0) === baseMicros)
  }

  test("a table read registers the native functions once per session") {
    // a re-registration stores a new builder and logs a replacement WARN
    // on every table read
    val dir = tempDir("graft-register").toString
    spark.range(1).write.parquet(s"$dir/t.parquet")
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_might_contain")
    Tables.table(spark, dir, "t")
    val first = registry.lookupFunctionBuilder(id)
    assert(first.isDefined)
    Tables.table(spark, dir, "t")
    assert(registry.lookupFunctionBuilder(id).get eq first.get)
  }
}
