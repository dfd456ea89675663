package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Relational operator inventory (SURVEY.md §2) over the TPC-H-ish tables,
  * plus TPC-H-shaped composites that exercise the multi-join/agg path the
  * engine must sustain at 100 TB.
  *
  * Scale stance per query is noted inline; the common rules:
  * - FIXED-cardinality dims (region: 5 rows, nation: 25 rows at every SF)
  *   are force-broadcast — no shuffle on the fact side, at any scale;
  * - SF-SCALED tables (customer/supplier/part) are NEVER force-broadcast:
  *   at 100 TB lineitem, customer is ~1.5 TB and a forced broadcast OOMs
  *   the cluster. Their joins stay threshold/stats-driven — at test scale
  *   size-based planning still broadcasts them (all under the 10 MB
  *   threshold), while at 100 TB the same code plans a shuffled join.
  *   Selectively-filtered part frames (a brand, a name prefix) may keep a
  *   broadcast hint where the filter output is operationally bounded;
  * - filters/projections are plain `where`/`select` so Catalyst pushes them
  *   into the parquet scan (PushedFilters + ReadSchema pruning);
  * - every output ends in a deterministic total-order `orderBy` (driver
  *   hash-compares row order, FIXTURES.md §B).
  */
object Relational {

  /** S2+P1+P2+O1: projection + time-range scan, ordered.
    * Both the predicate and the 5-column projection reach the parquet
    * reader (reference builds this SQL by string at `api/app/database.py:41-62`). */
  def scanProjectFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity", "l_extendedprice")
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .orderBy("l_orderkey", "l_linenumber")

  /** A1 standalone: tumbling window × event_type, full stat set.
    * One hash-agg, map-side partial → shuffle is O(groups). */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        StableStats.centsMean(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        round(stddev_samp(col("value")), 4).as("std_value"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("bucket_ts"), col("event_type"),
        col("n"), col("avg_value"), col("min_value"), col("max_value"),
        col("std_value"), col("sum_value"))
      .orderBy("bucket_ts", "event_type")

  /** J1+A4: fact ⋈ dim, grouped stats (reference
    * `dagster/assets.py:201-211`). The dim here is customer — SF-scaled,
    * so the join is threshold-driven: size-based planning broadcasts it
    * at test scale (PlanSpec pins the broadcast-hash shape), and the same
    * code degrades to a shuffled join when customer outgrows the
    * threshold at 100 TB. */
  def factDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        StableStats.centsMean(col("o_totalprice")).as("avg_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("c_mktsegment")

  /** J3+A5: dim LEFT OUTER fact with stddev — keeps zero-match groups
    * (reference `dagster/assets.py:327-341`). */
  def leftOuterStats(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(Tables.supplier(spark, dir), col("n_nationkey") === col("s_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(
        count(col("s_suppkey")).as("n_suppliers"),
        StableStats.centsMean(col("s_acctbal")).as("avg_acctbal"),
        round(stddev_samp(col("s_acctbal")), 4).as("std_acctbal"))
      .orderBy("n_name")

  /** A2: global count (reference `api/app/database.py:66-69`). */
  def globalCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("n_rows"))

  /** A3: global min/max timestamp range (reference `api/app/database.py:71-74`). */
  def dateRange(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(
      min(col("o_orderdate")).as("min_date"),
      max(col("o_orderdate")).as("max_date"),
      count(lit(1)).as("n_rows"))

  /** A6+F1: group by derived day key (reference `dagster/assets.py:216-222`). */
  def dailyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("day")

  /** O4: top-k latest — Catalyst plans TakeOrderedAndProject, no full sort
    * (reference `dagster/assets.py:320-321`). */
  def topkLatest(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select("event_id", "ts", "event_type", "value")
      .orderBy(col("ts").desc, col("event_id").asc)
      .limit(10)

  /** F-json: JSON prop extraction + agg over `events.props` (FIXTURES.md). */
  def jsonExtractAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        StableStats.intMean(col("k")).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** F1–F4: temporal scalar functions (to_date, ISO format, day trunc/add). */
  def timeScalars(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_id") < 50)
      .select(
        col("event_id"),
        to_date(col("ts")).as("day"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"),
        date_trunc("day", col("ts")).as("day_start"),
        (date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY")).as("next_day"),
        hour(col("ts")).as("hr"))
      .orderBy("event_id")

  /** W: ranking window fn — top-3 orders per customer (not in the reference,
    * SURVEY.md §2.6 W1; extension breadth). */
  def rankTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .where(col("o_custkey") < 100)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** U: set ops — distinct union of customer/supplier nation keys. */
  def unionNationKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_nationkey").as("nk"))
      .union(Tables.supplier(spark, dir).select(col("s_nationkey").as("nk")))
      .distinct()
      .orderBy("nk")

  /** U: set ops — ordering customers whose account balance is negative
    * (distinct order custkeys EXCEPT non-negative-balance customers). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(col("o_custkey").as("custkey")).distinct()
      .except(Tables.customer(spark, dir)
        .where(col("c_acctbal") >= 0).select(col("c_custkey").as("custkey")))
      .orderBy("custkey")

  /** TPC-H Q1-shaped pricing summary: the canonical wide hash-agg.
    * Map-side partial agg → 6-group shuffle; sums rounded for oracle
    * float stability. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        StableStats.discountedSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        StableStats.chargedSum(col("l_extendedprice"), col("l_discount"), col("l_tax")).as("sum_charge"),
        StableStats.centsMean(col("l_quantity")).as("avg_qty"),
        StableStats.centsMean(col("l_extendedprice")).as("avg_price"),
        StableStats.centsMean(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-shaped shipping priority: join the segment-filtered customer
    * into the orders scan, then top-10 by revenue. The FACT (lineitem) is
    * the streamed/left side: with it on the right, size-based planning
    * broadcast-builds a hash relation over the whole fact (its compressed
    * footprint sits under the 10 MB threshold at test scale). The
    * orders⋈customer side carries a SHUFFLE_HASH hint, not a broadcast:
    * it is date/segment-filtered but still grows linearly with the
    * orders table, so at 100 TB a forced broadcast would OOM — the
    * shuffled hash join builds per-partition hash tables of the smaller
    * side instead, which scales. Customer is SF-scaled too (~1/5 of
    * customers per segment), so it carries no broadcast force either:
    * threshold planning broadcasts it at test scale, a shuffled join
    * takes over at 100 TB. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir).where(col("o_orderdate") < to_timestamp(lit("1999-01-01")))
    val li   = Tables.lineitem(spark, dir).where(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
    li
      .join(ord.join(cust, col("o_custkey") === col("c_custkey"), "inner")
          .hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"), "inner")
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(StableStats.discountedSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped local-supplier volume: 6-table join into the streamed
    * lineitem scan. As in [[shippingPriority]], the fact stays on the LEFT
    * and the (date-filtered) orders⋈customer side is the SHUFFLE_HASH
    * build (filtered, but linear in the orders table — broadcast would
    * not survive 100 TB). Only the FIXED-cardinality dims (nation/region)
    * are force-broadcast; customer and supplier scale with SF, so their
    * joins stay threshold-driven (broadcast at test scale, shuffled at
    * 100 TB). */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust   = Tables.customer(spark, dir)
    val supp   = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val li = Tables.lineitem(spark, dir)
    li
      .join(ord.join(cust, col("o_custkey") === col("c_custkey"), "inner")
          .hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"), "inner")
      .join(supp,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"), "inner")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"), "inner")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"), "inner")
      .groupBy(col("n_name"))
      .agg(StableStats.discountedSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** A-rollup: hierarchical subtotals (GROUP BY ROLLUP) — beyond the
    * reference (SURVEY.md §2.4 notes it absent) for engine breadth. */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** R-pivot: long→wide pivot with an explicit value list (the inverse of
    * the R1 unpivot; explicit list keeps the output schema deterministic
    * and avoids the extra values-discovery job). */
  def pivotWide(spark: SparkSession, dir: String): DataFrame = {
    val long = SensorPipeline.toLong(SensorPipeline.wideAgg(
      SensorPipeline.dayFilter(Tables.events(spark, dir), "2024-01-03")))
    long.groupBy(col("timestamp"))
      .pivot("signal_name", SensorPipeline.signalNames)
      .agg(max(col("value")))
      .orderBy("timestamp")
  }

  /** A-distinct: exact distinct counts per group (no approximation — the
    * HLL variant would not oracle-match). */
  def countDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** F-string: scalar string function battery over documents. */
  def stringScalars(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("doc_id") < 50)
      .select(
        col("doc_id"),
        expr("upper(substring(text, 1, 20))").as("up20"),
        expr("substring(replace(text, ' ', '_'), 1, 30)").as("und30"),
        expr("lpad(source, 8, '0')").as("padsrc"),
        expr("split_part(text, ' ', 2)").as("word2"),
        expr("reverse(lang)").as("rlang"),
        expr("trim(concat(' ', lang, ' '))").as("tlang"),
        length(col("text")).as("len"))
      .orderBy("doc_id")

  /** J-range: equi-key + band-predicate join (ship date within 90 days of
    * the order date). The equi key carries the shuffle/broadcast; the range
    * predicate evaluates post-match — the scalable shape for banded joins
    * when an equi key exists (pure range joins without one need bucketed
    * interval keys instead). */
  def rangeShipJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 90 DAYS"), "inner")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("o_orderpriority")

  /** J-semi: orders having at least one high-quantity line (LEFT SEMI —
    * probe side never duplicates, build side only carries the key). */
  def semiJoinOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).where(col("l_quantity") > 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderkey")

  /** TPC-H Q7-shaped volume shipping: the SAME dim (nation) joined twice
    * under different roles (supplier's vs customer's nation) — alias
    * discipline + two forced nation broadcasts (25 rows at every SF);
    * the SF-scaled supplier/customer joins are threshold-driven. Fact
    * side shuffles once for the orders⋈lineitem join, then one hash-agg
    * on (year, nation pair). */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .where(col("supp_nation") =!= col("cust_nation")
        && col("l_shipdate") >= to_timestamp(lit("1996-01-01"))
        && col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(StableStats.discountedSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q10-shaped returned-item reporting: customers ranked by revenue
    * lost to returns — join/filter/agg then TakeOrdered top-20. Customer
    * is SF-scaled: threshold-driven join (nation stays force-broadcast). */
  def returnedItemReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(StableStats.discountedSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  /** TPC-H Q2-shaped minimum-cost selection: rows matching their group's
    * minimum — the correlated-subquery pattern rewritten as a window min
    * (one partitioned pass; a correlated subquery would rescan per row). */
  def minCostParts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_type"))
    Tables.part(spark, dir)
      .withColumn("min_price", min(col("p_retailprice")).over(w))
      .where(col("p_retailprice") === col("min_price"))
      .select(col("p_type"), col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy("p_type", "p_partkey")
  }

  private val pivotCaseCols: String =
    (for { t <- Seq("click", "view"); s <- Seq("mean", "min", "max", "std") } yield
      s"max(CASE WHEN signal_name = '${t}_$s' THEN value END) AS ${t}_$s").mkString(", ")

  val queries: Seq[Query] = Seq(
    Query("q10_returned_items", returnedItemReport _,
      s"""SELECT c_custkey, c_name, n_name,
         |  ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),
    Query("q2_min_cost_parts", minCostParts _,
      """SELECT p_type, p_partkey, p_name, p_retailprice FROM (
        |  SELECT p_type, p_partkey, p_name, p_retailprice,
        |    min(p_retailprice) OVER (PARTITION BY p_type) AS min_price
        |  FROM part)
        |WHERE p_retailprice = min_price
        |ORDER BY p_type, p_partkey""".stripMargin),
    Query("q7_volume_shipping", volumeShipping _,
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Query("a_rollup", rollupSummary _,
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("r_pivot_wide", pivotWide _, {
      val names = for { t <- Seq("click", "view"); s <- Seq("mean", "min", "max", "std") } yield s"${t}_$s"
      val day = "(SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-04 00:00:00')"
      s"""WITH agg AS (${SensorPipeline.aggSql.format(day)}),
         |lng AS (SELECT ts10 AS timestamp, sig AS signal_name, v AS value
         |  FROM (UNPIVOT agg ON ${names.mkString(", ")} INTO NAME sig VALUE v))
         |SELECT timestamp, $pivotCaseCols
         |FROM lng GROUP BY timestamp ORDER BY timestamp""".stripMargin
    }),
    Query("a_count_distinct", countDistinctUsers _,
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("f_string_scalars", stringScalars _,
      """SELECT doc_id, upper(substring(text, 1, 20)) AS up20,
        |  substring(replace(text, ' ', '_'), 1, 30) AS und30,
        |  lpad(source, 8, '0') AS padsrc,
        |  split_part(text, ' ', 2) AS word2,
        |  reverse(lang) AS rlang,
        |  trim(concat(' ', lang, ' ')) AS tlang,
        |  CAST(length(text) AS INTEGER) AS len
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),
    Query("j_semi_orders", semiJoinOrders _,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin),
    Query("j_range_ship", rangeShipJoin _,
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(sum(l_extendedprice),2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate < o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("s2_scan_project_filter", scanProjectFilter _,
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("a1_window_agg", windowAgg _,
      s"""SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS bucket_ts, event_type,
        |  count(*) AS n, ${StableStats.centsMeanSql("value")} AS avg_value, min(value) AS min_value,
        |  max(value) AS max_value, round(stddev(value),4) AS std_value,
        |  round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("j1_fact_dim_stats", factDimStats _,
      s"""SELECT c_mktsegment, count(*) AS n_orders, ${StableStats.centsMeanSql("o_totalprice")} AS avg_price,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  round(sum(o_totalprice),2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("j3_left_outer_stats", leftOuterStats _,
      s"""SELECT n_name, count(s_suppkey) AS n_suppliers,
        |  ${StableStats.centsMeanSql("s_acctbal")} AS avg_acctbal, round(stddev(s_acctbal),4) AS std_acctbal
        |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("a2_global_count", globalCount _, "SELECT count(*) AS n_rows FROM lineitem"),
    Query("a3_date_range", dateRange _,
      """SELECT min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        |  count(*) AS n_rows FROM orders""".stripMargin),
    Query("a6_daily_counts", dailyCounts _,
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("o4_topk_latest", topkLatest _,
      """SELECT event_id, ts, event_type, value FROM events
        |ORDER BY ts DESC, event_id ASC LIMIT 10""".stripMargin),
    Query("f_json_extract_agg", jsonExtractAgg _,
      s"""SELECT event_type,
        |  ${StableStats.intMeanSql("CAST(json_extract_string(props, '$.k') AS INTEGER)")} AS avg_k,
        |  min(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS min_k,
        |  max(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS max_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("f_time_scalars", timeScalars _,
      """SELECT event_id, CAST(ts AS DATE) AS day,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |  date_trunc('day', ts) + INTERVAL 1 DAY AS next_day,
        |  CAST(extract(hour FROM ts) AS INTEGER) AS hr
        |FROM events WHERE event_id < 50 ORDER BY event_id""".stripMargin),
    Query("w_rank_topn", rankTopN _,
      """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey < 100)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Query("u_union_nationkeys", unionNationKeys _,
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin),
    Query("u_except_no_orders", customersWithoutOrders _,
      """SELECT DISTINCT o_custkey AS custkey FROM orders
        |EXCEPT SELECT c_custkey AS custkey FROM customer WHERE c_acctbal >= 0
        |ORDER BY custkey""".stripMargin),
    Query("q1_pricing_summary", pricingSummary _,
      s"""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base_price,
        |  ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS sum_disc_price,
        |  ${StableStats.chargedSumSql("l_extendedprice", "l_discount", "l_tax")} AS sum_charge,
        |  ${StableStats.centsMeanSql("l_quantity")} AS avg_qty,
        |  ${StableStats.centsMeanSql("l_extendedprice")} AS avg_price,
        |  ${StableStats.centsMeanSql("l_discount")} AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q3_shipping_priority", shippingPriority _,
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1999-01-01' AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Query("q5_local_supplier", localSupplierVolume _,
      s"""SELECT n_name, ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin)
  )
}
