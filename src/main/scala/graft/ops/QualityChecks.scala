package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Data-quality checks as a first-class operator — the engine-native form
  * of the reference's operational verification practices (SURVEY.md §5:
  * post-load verification queries `etl/prepare_alvo_db.py:87-107`,
  * seed-then-verify counts `database/seed_fonte.py:82-88`, `/health`
  * count probe `api/app/main.py:46-58`).
  *
  * One DataFrame per check, unioned into a (check_name, observed, passed)
  * report — each check is itself a distributed aggregate/anti-join, so the
  * report scales with the data like any other query.
  */
object QualityChecks {

  def report(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val docs = Tables.documents(spark, dir)

    def check(name: String, observed: org.apache.spark.sql.Column, passed: org.apache.spark.sql.Column,
        src: DataFrame): DataFrame =
      // `passed` as int (not boolean): the driver's pandas compare renders
      // DuckDB HUGEINT/bool columns inconsistently with Spark's — ints are
      // the stable cross-engine representation.
      src.agg(observed.cast("long").as("observed"), passed.cast("int").as("passed"))
        .select(lit(name).as("check_name"), col("observed"), col("passed"))

    // all three per-row event checks come out of ONE scan + one agg (at
    // 100 TB the fact scan dominates — N checks must not mean N scans),
    // then stack to the one-row-per-check report shape
    // coalesce(sum, 0): sum over ZERO rows is NULL — an empty table must
    // still observe 0 (and the nonempty check fail), not emit NULL cells
    val eventChecks = events.agg(
      count(lit(1)).cast("long").as("nonempty_obs"),
      coalesce(sum(when(col("ts").isNull, 1).otherwise(0)), lit(0)).cast("long").as("null_ts_obs"),
      coalesce(sum(when(col("value") <= 0, 1).otherwise(0)), lit(0)).cast("long").as("nonpos_obs"))
      .selectExpr(
        """stack(3,
          |  'events_nonempty', nonempty_obs, cast(nonempty_obs > 0 as int),
          |  'events_ts_not_null', null_ts_obs, cast(null_ts_obs = 0 as int),
          |  'events_value_positive', nonpos_obs, cast(nonpos_obs = 0 as int)
          |) as (check_name, observed, passed)""".stripMargin)
    // referential integrity: every order's custkey must exist in customer
    val orphans = orders.join(customer, col("o_custkey") === col("c_custkey"), "left_anti")
    val refInt = check("orders_custkey_resolves", count(lit(1)), count(lit(1)) === 0, orphans)
    // pk uniqueness: (l_orderkey, l_linenumber) must be unique
    val dupPk = lineitem.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c")).where(col("c") > 1)
    val pkUnique = check("lineitem_pk_unique", count(lit(1)), count(lit(1)) === 0, dupPk)
    // doc metadata consistency: n_chars column matches actual text length
    val lenMismatch = docs.where(length(col("text")) =!= col("n_chars"))
    val docLen = check("documents_n_chars_consistent", count(lit(1)), count(lit(1)) === 0, lenMismatch)

    Seq(eventChecks, refInt, pkUnique, docLen)
      .reduce(_ unionByName _)
      .orderBy("check_name")
  }

  /** Zero-cost observed metrics: piggyback row/null/range counters onto
    * the MAIN pipeline job via `Dataset.observe` — the metrics are
    * accumulated DURING the pipeline's own scan, so monitoring a 100 TB
    * run adds no second pass (the [[report]] operator, by contrast, is
    * the standalone audit that does pay for its own scans). Returns the
    * instrumented frame + the observation handle; metrics materialize
    * when the caller runs any action on the frame. */
  def observedPipeline(spark: SparkSession, dir: String):
      (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("pipeline_quality")
    val instrumented = Tables.events(spark, dir).observe(obs,
      count(lit(1)).as("n_rows"),
      coalesce(sum(when(col("ts").isNull, 1).otherwise(0)), lit(0)).as("n_null_ts"),
      coalesce(sum(when(col("value") <= 0, 1).otherwise(0)), lit(0)).as("n_nonpos_value"),
      // formatted at observe time: the driver-side metrics map then holds
      // plain strings/longs — no JVM temporal type to un-marshal
      date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
      date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
    val out = SensorPipeline.mapSignals(
      SensorPipeline.toLong(SensorPipeline.wideAgg(instrumented)),
      SensorPipeline.signalDim(spark))
    (out, obs)
  }

  /** [[observedPipeline]]'s counters surfaced as a registry query: run
    * the instrumented pipeline to completion against the `noop` sink (full
    * execution, zero write cost) and return the observation as a one-row
    * report. The metrics accumulate ON the pipeline job itself — at
    * 100 TB this is the difference between monitoring for free and paying
    * a second full scan for the same counters. The oracle recomputes the
    * identical aggregates relationally, which is exactly the equivalence
    * `observe()` guarantees. */
  def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    val (out, obs) = observedPipeline(spark, dir)
    out.write.format("noop").mode("overwrite").save()
    // AQE's empty-relation propagation prunes the CollectMetrics node
    // when the source scan is 0 rows, so the observation comes back as an
    // EMPTY map — an empty day is routine at the lake, and the gate must
    // report it as zeros, not crash (caught by EmptyInputsSpec)
    val m = obs.get
    import spark.implicits._
    Seq((m.getOrElse("n_rows", 0L).asInstanceOf[Long],
        m.getOrElse("n_null_ts", 0L).asInstanceOf[Long],
        m.getOrElse("n_nonpos_value", 0L).asInstanceOf[Long],
        m.getOrElse("min_ts", null).asInstanceOf[String],
        m.getOrElse("max_ts", null).asInstanceOf[String]))
      .toDF("n_rows", "n_null_ts", "n_nonpos_value", "min_ts", "max_ts")
  }

  /** Benford first-digit audit over the revenue column — the classic
    * fabricated-numbers screen: organically grown magnitudes put digit d
    * first with probability log10(1+1/d); uniform or hand-entered data
    * flattens the curve. One scan + one 9-group agg; the report ships
    * observed share, expected share, and the signed deviation per digit.
    *
    * Digit extraction is INTEGER-exact: prices are cent-denominated, so
    * round(price·100) is an exact BIGINT whose decimal string leads with
    * the same significant digit (×100 shifts magnitude, never the lead
    * digit) — no floor(log10(x)) anywhere, which would ULP-flip at exact
    * powers of ten between engines. */
  def benfordPrices(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats.stableRound
    val digit = substring(round(col("l_extendedprice") * 100).cast("long").cast("string"), 1, 1)
      .cast("int")
    val counts = Tables.lineitem(spark, dir)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val benford = log(10.0, lit(1.0) + lit(1.0) / col("digit"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        stableRound(col("n") / col("total"), 4).as("obs_share"),
        stableRound(benford, 4).as("benford_p"),
        stableRound(col("n") / col("total") - benford, 4).as("dev"))
      .orderBy("digit")
  }

  /** Per-column data profile of the fact table — the census a lake
    * operator runs before trusting a new drop: row count, null count,
    * and exact distinct cardinality for every column, one row per
    * column. All columns profile in ONE scan: Spark plans the
    * multi-column count-distinct as a single Expand + two-level agg (no
    * per-column pass), and the stack() reshape is free. At 100 TB swap
    * exact distincts for approx_count_distinct per column — same plan
    * shape minus the Expand (noted, not done: the oracle pins exact). */
  def dataProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(when(col("event_id").isNull, 1L).otherwise(0L)), lit(0L)).as("nn_event_id"),
      countDistinct(col("event_id")).as("nd_event_id"),
      coalesce(sum(when(col("ts").isNull, 1L).otherwise(0L)), lit(0L)).as("nn_ts"),
      countDistinct(col("ts")).as("nd_ts"),
      coalesce(sum(when(col("user_id").isNull, 1L).otherwise(0L)), lit(0L)).as("nn_user_id"),
      countDistinct(col("user_id")).as("nd_user_id"),
      coalesce(sum(when(col("event_type").isNull, 1L).otherwise(0L)), lit(0L)).as("nn_event_type"),
      countDistinct(col("event_type")).as("nd_event_type"),
      coalesce(sum(when(col("value").isNull, 1L).otherwise(0L)), lit(0L)).as("nn_value"),
      countDistinct(col("value")).as("nd_value"))
      .selectExpr(
        """stack(5,
          |  'event_id', n_rows, nn_event_id, nd_event_id,
          |  'event_type', n_rows, nn_event_type, nd_event_type,
          |  'ts', n_rows, nn_ts, nd_ts,
          |  'user_id', n_rows, nn_user_id, nd_user_id,
          |  'value', n_rows, nn_value, nd_value
          |) as (column_name, n_rows, n_nulls, n_distinct)""".stripMargin)
      .orderBy("column_name")

  /** Cross-modality coverage audit — the integrity check of a paired
    * text+embedding corpus: which doc_ids have no embedding row (holes a
    * similarity pass silently skips), which vec_ids dangle without a
    * document (stale index entries), and the one-row coverage summary.
    * Per the multimodal contract, ids pair positionally (doc_id ↔
    * vec_id).
    *
    * Scale shape: one full outer join on the id — both sides shuffle on
    * their key once; everything else is counters off that join. */
  def modalityCoverage(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    val d = Tables.documents(spark, dir).select(col("doc_id").as("id"), lit(1).as("has_doc"))
    val e = Tables.embeddings(spark, dir).select(col("vec_id").as("id"), lit(1).as("has_vec"))
    d.join(e, Seq("id"), "full_outer")
      .agg(
        count(lit(1)).as("n_ids"),
        coalesce(sum(when(col("has_doc").isNotNull && col("has_vec").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_paired"),
        coalesce(sum(when(col("has_vec").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_docs_unembedded"),
        coalesce(sum(when(col("has_doc").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_dangling_vecs"))
      .withColumn("coverage",
        StableStats.ratio(col("n_paired"),
          col("n_paired") + col("n_docs_unembedded")))
  }

  val queries: Seq[Query] = Seq(
    Query("x_quality_checks", report _,
      """SELECT check_name, CAST(observed AS BIGINT) AS observed,
        |  CAST(passed AS INTEGER) AS passed FROM (
        |  SELECT 'events_nonempty' AS check_name, count(*) AS observed, count(*) > 0 AS passed FROM events
        |  UNION ALL
        |  SELECT 'events_ts_not_null', coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0),
        |    coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) = 0 FROM events
        |  UNION ALL
        |  SELECT 'events_value_positive', coalesce(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END), 0),
        |    coalesce(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END), 0) = 0 FROM events
        |  UNION ALL
        |  SELECT 'orders_custkey_resolves', count(*), count(*) = 0 FROM orders
        |    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'lineitem_pk_unique', count(*), count(*) = 0 FROM (
        |    SELECT l_orderkey, l_linenumber FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'documents_n_chars_consistent', count(*), count(*) = 0 FROM documents
        |    WHERE length(text) <> n_chars)
        |ORDER BY check_name""".stripMargin),
    Query("x_modality_coverage", modalityCoverage _, {
      import graft.ops.StableStats.ratioSql
      s"""WITH j AS (
         |  SELECT d.doc_id, e.vec_id
         |  FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_ids,
         |  CAST(coalesce(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_paired,
         |  CAST(coalesce(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_docs_unembedded,
         |  CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_dangling_vecs,
         |  ${ratioSql(
            "coalesce(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)",
            "coalesce(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END), 0)")} AS coverage
         |FROM j""".stripMargin
    }),
    Query("x_data_profile", dataProfile _, {
      def row(c: String) =
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM events""".stripMargin
      Seq("event_id", "event_type", "ts", "user_id", "value")
        .map(row).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }),
    Query("x_observe_metrics", observedMetrics _,
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null_ts,
        |  CAST(coalesce(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nonpos_value,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
        |FROM events""".stripMargin),
    Query("x_benford", benfordPrices _, {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM lineitem),
         |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         |t AS (SELECT sum(n) AS total FROM c)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |  ${stableRoundSql("CAST(n AS DOUBLE) / total", 4)} AS obs_share,
         |  ${stableRoundSql("log10(1.0 + 1.0 / digit)", 4)} AS benford_p,
         |  ${stableRoundSql("CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit)", 4)} AS dev
         |FROM c CROSS JOIN t ORDER BY digit""".stripMargin
    })
  )
}
