package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Incremental aggregate maintenance — the 100 TB answer to the
  * reference's nightly rebuild-everything analytics assets
  * (`dagster/assets.py:189-222` recompute full-table stats on every run).
  *
  * Pattern: keep an O(days × groups) PARTIAL-aggregate table (exact
  * integer sums, counts, min/max) maintained per daily partition — each
  * day's run touches ONE day of the fact table; any as-of rollup is then a
  * merge over the tiny partial table, never a rescan of history. All
  * partials are algebraic (sum/count/min/max decompose; mean = merged
  * cents ÷ merged count), so merging partials is bit-identical to a full
  * recompute — [[IncrementalSpec]] and the DuckDB oracle pin exactly that.
  *
  * A re-run of one day overwrites that day's partial rows idempotently via
  * [[graft.sources.PartitionedSink.writeDaily]] (same dynamic-overwrite
  * contract as the fact lake itself).
  */
object Incremental {

  /** Per-(day, event_type) partial aggregate rows from the fact table —
    * one hash-agg pass; shuffle volume O(days × types). `cents` keeps the
    * value sum exact (StableStats discipline) so downstream means match a
    * direct computation bit-for-bit. */
  def dailyPartials(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_val"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Roll the partial table up to per-type stats — the query a dashboard
    * runs daily. Input is O(days × types) rows, so this costs nothing at
    * any scale; correctness is pinned against the direct full-scan oracle. */
  def mergedStats(spark: SparkSession, dir: String): DataFrame =
    dailyPartials(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n"),
        StableStats.stableRound(
          sum(col("cents")).cast("double") / sum(col("n_val")) / lit(100.0), 4).as("avg_value"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
      .orderBy("event_type")

  /** Incremental update parity: partials for all days EXCEPT the last,
    * plus a recomputed last-day partial (≙ the nightly run touching one
    * day), merged — must equal [[mergedStats]]. Exercised in the spec. */
  def mergeWithRefreshedDay(spark: SparkSession, dir: String, day: String): DataFrame = {
    val all = dailyPartials(spark, dir)
    // Null-safe: events with NULL ts land in a day=NULL partial row, and a
    // plain =!= would evaluate to NULL there and silently drop the bucket.
    val kept = all.where(!col("day").eqNullSafe(to_date(lit(day))))
    val refreshed = Tables.events(spark, dir)
      .where(to_date(col("ts")) === to_date(lit(day)))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_val"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    kept.unionByName(refreshed)
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n"),
        StableStats.stableRound(
          sum(col("cents")).cast("double") / sum(col("n_val")) / lit(100.0), 4).as("avg_value"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
      .orderBy("event_type")
  }

  /** SCD2 (type-2 slowly-changing dimension) build from the event log:
    * per user, consecutive runs of the same `event_type` collapse into one
    * VERSIONED interval `[valid_from, valid_to)` with NULL `valid_to` on the
    * open (current) row — the dimension-history table every warehouse ETL
    * maintains. (A 9999-12-31 open-end sentinel is deliberately NOT used:
    * it overflows pandas' datetime64[ns] range, which the driver's compare
    * goes through — observed as the r02 hash mismatch.) Island detection is
    * the standard gaps-and-islands move: a change flag against `lag`, a
    * running sum for the version number, one grouped agg per island, and
    * a `lead` for the closing bound — three window passes over the SAME
    * (user_id, time) partitioning, so Catalyst plans ONE shuffle and
    * sorts once; at 100 TB this scales as a single user-keyed exchange.
    * Null ordering is pinned NULLS FIRST on both engines (Spark's asc
    * default; DuckDB defaults NULLS LAST, so the oracle says it out loud). */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc)
    val byVer = Window.partitionBy(col("user_id")).orderBy(col("version").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("state"))
      .withColumn("chg",
        when(lag(col("state"), 1).over(byTs).isNull
          || lag(col("state"), 1).over(byTs) =!= col("state"), 1).otherwise(0))
      .withColumn("version", sum(col("chg")).over(byTs))
      .groupBy(col("user_id"), col("version"), col("state"))
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVer))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from"), col("valid_to"), col("is_current"), col("n_events"))
      .orderBy("user_id", "version")
  }

  /** Incremental transition-matrix maintenance — the mergeable twin of
    * [[Analytics.eventTransitions]]. A transition count is NOT purely
    * additive across time shards: the bigram straddling a shard boundary
    * (a user's last event before the cut → first event after it) exists
    * in neither shard's own window. The mergeable state is therefore
    * per-shard transition counts PLUS an O(users) boundary frame (each
    * user's first/last event per shard, as min/max of a (ts, event_id,
    * type) struct — an algebraic aggregate); merging = count addition +
    * one boundary join. So day N+1 ingests by scanning ONLY day N+1:
    * history contributes its saved counts and boundary rows, never a
    * rescan — while a naive per-shard union would silently drop every
    * cross-boundary transition ([[IncrementalSpec]] pins both the parity
    * and that the boundary term is non-empty).
    *
    * The oracle is the direct full-scan formulation: merging must be
    * indistinguishable from never having sharded at all. */
  def incrTransitions(spark: SparkSession, dir: String,
      splitDay: String = "2024-01-16"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    def shardCounts(df: DataFrame): DataFrame = {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      df.withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .where(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("n"))
    }
    def shardBounds(df: DataFrame): DataFrame =
      df.groupBy(col("user_id")).agg(
        min(struct(col("ts"), col("event_id"), col("event_type"))).as("first"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))
    val cut = to_timestamp(lit(splitDay))
    val (a, b) = (ev.where(col("ts") < cut), ev.where(col("ts") >= cut))
    val boundary = shardBounds(a)
      .select(col("user_id"), col("last.event_type").as("prev"))
      .join(shardBounds(b)
        .select(col("user_id"), col("first.event_type").as("curr")), "user_id")
      .groupBy(col("prev"), col("curr")).agg(count(lit(1)).as("n"))
    val merged = shardCounts(a).union(shardCounts(b)).union(boundary)
      .groupBy(col("prev"), col("curr")).agg(sum(col("n")).as("n"))
    merged
      .withColumn("p", StableStats.ratio(col("n"),
        sum(col("n")).over(Window.partitionBy(col("prev")))))
      .orderBy("prev", "curr")
  }

  val queries: Seq[Query] = Seq(
    // the oracle is the DIRECT full-scan formulation: merging partials
    // must be indistinguishable from never having partialed at all
    Query("x_incr_merged_stats", mergedStats _,
      s"""SELECT event_type, count(*) AS n,
         |  ${StableStats.centsMeanSql("value")} AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("x_incr_transitions", (s, d) => incrTransitions(s, d),
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
    Query("x_incr_scd2", scd2Intervals _,
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC)),
        |versioned AS (
        |  SELECT *, sum(chg) OVER (
        |      PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC) AS version
        |  FROM flagged),
        |islands AS (
        |  SELECT user_id, version, state, min(ts) AS valid_from, count(*) AS n_events
        |  FROM versioned GROUP BY user_id, version, state),
        |closed AS (
        |  SELECT *,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY version ASC) AS valid_to
        |  FROM islands)
        |SELECT user_id, CAST(version AS BIGINT) AS version, state, valid_from, valid_to,
        |  CAST(valid_to IS NULL AS INTEGER) AS is_current,
        |  n_events
        |FROM closed ORDER BY user_id, version""".stripMargin)
  )
}
