package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** The reference's core ETL re-expressed Spark-first.
  *
  * Reference flow (`etl/etl_process.py:78-115`): 1-min sensor readings →
  * pandas `resample('10T').agg(mean/min/max/std)` per variable → rename →
  * concat → melt wide→long → dropna → map signal name → dim id → load.
  *
  * Spark-first re-expression over the driver's `events` stream table
  * (`ts`,`event_type`,`value`), with event types `click`/`view` standing in
  * for the reference's two sensor variables (`wind_speed`/`power`):
  * ONE `groupBy(window(ts, "10 minutes"))` with all 8 aggregates in a single
  * hash-agg pass (vs the reference's two-pass + axis-concat,
  * `etl/etl_process.py:90-96` — SURVEY.md §4 "single-pass multi-agg"),
  * then built-in `unpivot` (≙ melt, `etl/etl_process.py:104-110`), an
  * explicit `na.drop` on `value` (≙ `dropna`, `etl/etl_process.py:112`;
  * needed because Spark's unpivot keeps nulls), and a broadcast inner join
  * against the 8-row signal dimension (≙ the dict map-join at
  * `etl/etl_process.py:140-148`, SURVEY.md J2 — always a broadcast-hash
  * join, never a shuffle).
  *
  * Scale notes (100 TB): the only shuffle is the window groupBy, keyed on
  * (window, ) — partial aggregation is map-side, so shuffle volume is
  * O(windows), not O(rows). The dim join is broadcast. Day filters (P2) are
  * pushed to the parquet scan as min/max row-group pruning.
  */
object SensorPipeline {
  private val stats = Seq("mean", "min", "max", "std")
  private val vars  = Seq("click", "view")

  /** var-major signal order, ids 1..8 — mirrors `etl/prepare_alvo_db.py:56-66`. */
  val signalNames: Seq[String] = for { v <- vars; s <- stats } yield s"${v}_$s"

  /** 8-row signal dimension (reference `signal` table, `etl/prepare_alvo_db.py:20-28`). */
  def signalDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    signalNames.zipWithIndex.map { case (n, i) => (i + 1, n) }.toDF("signal_id", "name")
  }

  /** Half-open day slice `[day 00:00, day+1 00:00)` — fixes the reference's
    * closed upper bound (`api/app/database.py:59`, SURVEY.md §2.5.3). */
  def dayFilter(df: DataFrame, day: String): DataFrame = {
    val start = to_timestamp(lit(day))
    df.where(col("ts") >= start && col("ts") < start + expr("INTERVAL 1 DAY"))
  }

  /** A1: tumbling 10-min window, 2 vars × 4 stats in one agg pass.
    * `stddev_samp` matches pandas ddof=1 (`etl/etl_process.py:90` — SURVEY A1).
    * Means use [[StableStats.centsMean]] (exact-cents sums + arithmetic
    * rounding — rational means hit exact `.xxxx5` halves where engine
    * round() rules diverge); std is irrational (half-hits measure-zero),
    * plain round suffices; min/max are exact. */
  def wideAgg(events: DataFrame): DataFrame = {
    def v(t: String): Column = when(col("event_type") === t, col("value"))
    val aggs = for { t <- vars; s <- stats } yield s match {
      case "mean" => StableStats.centsMean(v(t)).as(s"${t}_mean")
      case "min"  => min(v(t)).as(s"${t}_min")
      case "max"  => max(v(t)).as(s"${t}_max")
      case "std"  => round(stddev_samp(v(t)), 4).as(s"${t}_std")
    }
    events
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("timestamp") +: signalNames.map(col): _*)
  }

  /** R1 + P4: unpivot wide→long then drop null values (melt + dropna,
    * `etl/etl_process.py:104-112`). Spark `unpivot` retains nulls — the
    * explicit `na.drop` reproduces pandas semantics (SURVEY.md §2.5). */
  def toLong(wide: DataFrame): DataFrame =
    wide
      .unpivot(Array(col("timestamp")), signalNames.map(col).toArray, "signal_name", "value")
      .na.drop(Seq("value"))

  /** J2 + P7: map signal names to dim ids via broadcast inner join
    * (misses dropped — net inner, `etl/etl_process.py:140-148`). */
  def mapSignals(long: DataFrame, dim: DataFrame): DataFrame =
    long
      .join(broadcast(dim), long("signal_name") === dim("name"), "inner")
      .select(long("timestamp"), dim("signal_id"), long("value"))

  /** Typed record for the long star-schema fact row (SURVEY.md §1.3 —
    * `Dataset[T]` where a fixed record helps callers; the dynamic-schema
    * stages stay untyped `DataFrame`s by design). */
  case class SignalRecord(timestamp: java.sql.Timestamp, signal_id: Int, value: Double)

  /** Typed view of the pipeline output — compile-time column safety at the
    * library boundary, zero plan change (Encoders are resolved at analysis). */
  def pipelineTyped(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[SignalRecord] = {
    import spark.implicits._
    pipelineLong(spark, dir).as[SignalRecord]
  }

  // ---- registered queries -------------------------------------------------

  /** Flagship: full pipeline over the whole events table. */
  def pipelineLong(spark: SparkSession, dir: String): DataFrame =
    mapSignals(toLong(wideAgg(Tables.events(spark, dir))), signalDim(spark))
      .orderBy("timestamp", "signal_id")

  /** P2: the same pipeline on a single daily partition (reference processes
    * exactly one `[midnight, midnight+1d)` slice per run, `etl/etl_process.py:38-48`). */
  def pipelineDay(spark: SparkSession, dir: String): DataFrame =
    mapSignals(toLong(wideAgg(dayFilter(Tables.events(spark, dir), "2024-01-05"))), signalDim(spark))
      .orderBy("timestamp", "signal_id")

  /** P6: diagnostic left-anti — signal names with no dim entry
    * (`etl/etl_process.py:145-147`). Dim restricted to the 4 `click_*`
    * signals so the anti side is non-empty. */
  def unmappedSignals(spark: SparkSession, dir: String): DataFrame = {
    val long    = toLong(wideAgg(Tables.events(spark, dir)))
    val partial = signalDim(spark).where(col("name").startsWith("click_"))
    long
      .join(broadcast(partial), long("signal_name") === partial("name"), "left_anti")
      .select("signal_name").distinct().orderBy("signal_name")
  }

  // ---- DuckDB oracles -----------------------------------------------------

  /** DuckDB twin of [[wideAgg]] (shared by the Analytics/Relational
    * oracles that re-derive the wide frame); `%s` is the source relation. */
  private[graft] def aggSql: String = {
    val cols = (for { t <- vars; s <- stats } yield {
      val v = s"CASE WHEN event_type='$t' THEN value END"
      s match {
        case "mean" => s"${StableStats.centsMeanSql(v)} AS ${t}_mean"
        case "min"  => s"min($v) AS ${t}_min"
        case "max"  => s"max($v) AS ${t}_max"
        case "std"  => s"round(stddev($v),4) AS ${t}_std"
      }
    }).mkString(", ")
    s"SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS ts10, $cols FROM %s GROUP BY 1"
  }

  private[graft] val dimValues: String =
    signalNames.zipWithIndex.map { case (n, i) => s"(${i + 1},'$n')" }.mkString(", ")

  private def pipelineSql(src: String): String =
    s"""WITH agg AS (${aggSql.format(src)}),
       |lng AS (SELECT ts10 AS timestamp, sig AS signal_name, v AS value
       |        FROM (UNPIVOT agg ON ${signalNames.mkString(", ")} INTO NAME sig VALUE v)),
       |dim(signal_id, name) AS (VALUES $dimValues)
       |SELECT lng.timestamp, dim.signal_id, lng.value
       |FROM lng JOIN dim ON lng.signal_name = dim.name
       |ORDER BY lng.timestamp, dim.signal_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("pipeline_sensor_long", pipelineLong _, pipelineSql("events")),
    Query("p2_pipeline_day", pipelineDay _, pipelineSql(
      "(SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-06 00:00:00')")),
    Query("p6_unmapped_signals", unmappedSignals _,
      s"""WITH agg AS (${aggSql.format("events")}),
         |lng AS (SELECT sig AS signal_name, v AS value
         |        FROM (UNPIVOT agg ON ${signalNames.mkString(", ")} INTO NAME sig VALUE v))
         |SELECT DISTINCT signal_name FROM lng
         |WHERE signal_name NOT IN (${signalNames.filter(_.startsWith("click_")).map("'" + _ + "'").mkString(", ")})
         |ORDER BY signal_name""".stripMargin)
  )
}
