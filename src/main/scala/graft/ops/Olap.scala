package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** OLAP surface beyond the reference's own queries: multi-dimensional
  * grouping (CUBE + GROUPING), market-share two-level aggregation (TPC-H
  * Q8 shape), range-frame running windows, INTERSECT, and the
  * higher-order array-function battery over the embeddings table.
  *
  * Scale stance mirrors `Relational`: dims broadcast, fact side shuffles
  * at most once per join key, every rational ratio goes through exact
  * integer sums (`StableStats` discipline) so the DuckDB oracle matches
  * bit-for-bit.
  */
object Olap {

  /** CUBE over (returnflag, linestatus) with GROUPING indicators — all
    * four grouping sets in ONE pass (Spark plans an Expand, still a single
    * hash-agg shuffle of O(groups × 4)). The reference has no grouping
    * sets (SURVEY.md §2.4 notes the absence); this is the engine-native
    * form of "summary at every marginal". */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** TPC-H Q8-shaped market share: per order-year, the fraction of
    * ASIA-customer revenue supplied by NATION_7. Two-level aggregation in
    * one pass — numerator as a conditional sum beside the denominator, so
    * no self-join, no second scan. Revenue units are exact integers
    * (cents × (100−disc)) end-to-end; the share divides the two integer
    * sums as a fixed IEEE op sequence (StableStats discipline). */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("asia_nk"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    // customer and suppNation are SF-scaled — no broadcast force (threshold
    // planning broadcasts at test scale, shuffles at 100 TB); asiaNations
    // is nation-derived (≤25 rows forever) and stays forced
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("1995-01-01"))
          && col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("asia_nk"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .withColumn("units",
        round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        StableStats.stableRound(
          sum(when(col("supp_nation") === "NATION_7", col("units")).otherwise(0L)).cast("double")
            / sum(col("units")).cast("double"), 6).as("mkt_share"),
        StableStats.stableRound(sum(col("units")).cast("double") / lit(1e4), 2).as("total_revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_year")
  }

  /** Range-frame running window: per order priority, each day's revenue
    * plus the trailing-7-day revenue — `rangeBetween(-6, 0)` over an
    * integer day number. Daily totals are aggregated FIRST (one hash-agg
    * shrinks the window input to O(days × priorities)), and revenue stays
    * in exact integer cents through the frame sum, so sliding-frame
    * accumulation order can't drift between engines. */
  def runningRange(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day_num"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("day_cents"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day_num"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("rev_7d_cents", sum(col("day_cents")).over(w))
      .select(col("o_orderpriority"), col("day_num"),
        (col("day_cents").cast("double") / 100.0).as("daily_rev"),
        (col("rev_7d_cents").cast("double") / 100.0).as("rev_7d"))
      .orderBy("o_orderpriority", "day_num")
  }

  /** U-intersect: nation keys present among BOTH high-balance customers
    * and high-balance suppliers — completes the set-op family (union and
    * except exist in Relational). Spark plans INTERSECT as a left-semi
    * aggregate; both inputs are pre-shrunk by their filters. */
  def intersectNations(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).where(col("c_acctbal") > 7500)
      .select(col("c_nationkey").as("nationkey"))
      .intersect(
        Tables.supplier(spark, dir).where(col("s_acctbal") > 7500)
          .select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** F-array: higher-order function battery over `embeddings.embedding`
    * (ArrayType(FloatType)) — size / filter / slice+transform+aggregate /
    * element access, the array toolkit a vector pipeline leans on. The L1
    * partial sum quantizes |x| to 1e-4 units as exact integers BEFORE
    * summing, so element-order FP drift is impossible cross-engine. */
  def arrayScalars(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") < 200)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
        expr("cast(aggregate(transform(slice(embedding, 1, 8), " +
          "x -> cast(round(abs(cast(x as double)) * 1e4) as bigint)), 0L, (a, x) -> a + x) " +
          "as double) / 1e4").as("l1_head8"),
        expr("round(cast(element_at(embedding, 3) as double), 6)").as("e3"))
      .orderBy("vec_id")

  /** TPC-H Q6-shaped forecast revenue: pure filter + global agg — every
    * predicate (date band, discount band, quantity cap) pushes into the
    * parquet scan, so the shuffle carries ONE partial row per task. The
    * price×discount product is a 4-decimal value whose sums land on exact
    * halves; units are exact integers (cents × disc_cents = 1e-4 dollars). */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01"))
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(
        StableStats.stableRound(
          sum(round(col("l_extendedprice") * 100).cast("long")
            * round(col("l_discount") * 100).cast("long")).cast("double") / lit(1e4), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q12-shaped priority counts: conditional aggregation over the
    * lineitem⋈orders join — high/low order-priority line counts per return
    * flag (the test schema has no shipmode column; the SHAPE — join then
    * CASE-split counts — is what the operator exercises). */
  def priorityLines(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy("l_returnflag")

  /** TPC-H Q14-shaped promo revenue share: percentage of one month's
    * discounted revenue from PROMO parts — threshold-driven part join,
    * numerator as a conditional sum beside the denominator (single pass),
    * exact integer units through the ratio. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-03-01"))
        && col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      // part is SF-scaled: threshold-driven join (month-filtered lineitem
      // may even be the smaller side at 100 TB — let stats decide)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .withColumn("units",
        round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
      .agg(
        StableStats.stableRound(
          lit(100.0) * sum(when(col("p_type") === "PROMO", col("units")).otherwise(0L)).cast("double")
            / sum(col("units")).cast("double"), 4).as("promo_pct"),
        StableStats.stableRound(sum(col("units")).cast("double") / lit(1e4), 2).as("total_revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q17-shaped small-quantity revenue: lines whose quantity is
    * below 20% of their part's average — the CORRELATED SUBQUERY of the
    * original, decorrelated into one per-part window average (a single
    * l_partkey shuffle; a correlated scalar subquery would rescan
    * lineitem per part, and an agg+self-join would shuffle twice). The
    * threshold is stable-rounded before the comparison so the row set is
    * cross-engine deterministic. */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(spark, dir)
      .withColumn("avg_qty",
        StableStats.stableRound(
          sum(round(col("l_quantity") * 100).cast("long")).over(byPart).cast("double")
            / count(col("l_quantity")).over(byPart) / lit(100.0), 4))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        StableStats.stableRound(
          sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / lit(7e2), 2)
          .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q18-shaped large-order customers: orders whose total quantity
    * exceeds 300, joined back to customers — aggregate-then-semi-join.
    * The HAVING filter shrinks the agg output to a small fraction of
    * order keys BEFORE any join — but a FRACTION of an SF-scaled key set
    * is still SF-linear, so `big` carries no broadcast force: AQE sees
    * the post-filter size at runtime and broadcasts it while it fits
    * (it does at test scale), shuffling at 100 TB. */
  def largeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .where(col("total_qty") > 300)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      // customer is SF-scaled: threshold-driven (the HAVING-pruned orders
      // side is small at runtime, so AQE picks the right build side at
      // any SF — no forced hint on either join)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(50)
  }

  /** TPC-H Q19-shaped disjunctive-predicate revenue: OR-of-ANDs over the
    * lineitem⋈part equi-join. The part-only conjuncts stay inside
    * the OR (they reference both sides), but Catalyst still derives and
    * pushes the COMMON bounds (quantity ≤ 30 is implied by all branches
    * → scan-level filter), and the join itself is a plain hash join
    * (threshold-broadcast at test scale) — the disjunction evaluates
    * post-join, codegen'd. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val branch1 = col("p_type") === "PROMO" && col("l_quantity").between(1, 11)
    val branch2 = col("p_type") === "STANDARD" && col("l_quantity").between(10, 20)
    val branch3 = col("p_size") <= 5 && col("l_quantity").between(20, 30)
    // part is SF-scaled: threshold-driven join
    li.join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .where(branch1 || branch2 || branch3)
      .agg(
        StableStats.discountedSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22-shaped churned high-balance customers: customers above the
    * positive-balance average with no order since 2000-01-01 — a global
    * scalar aggregate (1-row broadcast cross join, never a per-row
    * correlated rescan) plus a LEFT ANTI join against the recent-orders
    * slice (whose date filter pushes to the scan), grouped by market
    * segment. */
  def idleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg(StableStats.centsMean(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
    cust
      .crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** Analytic window battery: lag/lead offsets, ntile bucketing,
    * percent_rank/cume_dist relative ranks — the remaining OVER-clause
    * family in one partitioned pass. The ordering key (date, orderkey) is
    * unique within each partition, so offset results and the default
    * RANGE frame are cross-engine deterministic (ranks round at 6dp). */
  def windowBattery(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .where(col("o_custkey") < 50)
      .select(
        col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderpriority", "o_orderdate", "o_orderkey")
  }

  val queries: Seq[Query] = Seq(
    Query("w_window_battery", windowBattery _,
      """SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderpriority, o_orderdate, o_orderkey""".stripMargin),
    Query("q19_disjunctive_rev", disjunctiveRevenue _,
      s"""SELECT
         |  ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_type = 'PROMO' AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_type = 'STANDARD' AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_size <= 5 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    Query("q22_idle_customers", idleCustomers _,
      s"""WITH a AS (SELECT ${StableStats.centsMeanSql("c_acctbal")} AS avg_bal
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT c_mktsegment, count(*) AS n_custs,
         |  round(sum(c_acctbal), 2) AS total_bal
         |FROM customer, a
         |WHERE c_acctbal > a.avg_bal
         |  AND c_custkey NOT IN (
         |    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q17_small_qty_revenue", smallQuantityRevenue _,
      s"""WITH t AS (
         |  SELECT l_extendedprice, l_quantity,
         |    ${StableStats.stableRoundSql(
              "CAST(sum(CAST(round(l_quantity * 1e2) AS BIGINT)) OVER (PARTITION BY l_partkey) AS DOUBLE)" +
                " / count(l_quantity) OVER (PARTITION BY l_partkey) / 1e2", 4)} AS avg_qty
         |  FROM lineitem)
         |SELECT
         |  ${StableStats.stableRoundSql(
              "CAST(sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)) AS DOUBLE) / 7e2", 2)} AS avg_yearly,
         |  count(*) AS n_lines
         |FROM t WHERE l_quantity < 2e-1 * avg_qty""".stripMargin),
    Query("q18_large_orders", largeOrders _,
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 300) big
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""".stripMargin),
    Query("q6_forecast_revenue", forecastRevenue _,
      s"""SELECT
         |  ${StableStats.stableRoundSql(
              "CAST(sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)" +
                " * CAST(round(l_discount * 1e2) AS BIGINT)) AS DOUBLE) / 1e4", 2)} AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 5e-2 AND 7e-2 AND l_quantity < 24""".stripMargin),
    Query("q12_priority_lines", priorityLines _,
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q14_promo_revenue", promoRevenue _,
      s"""WITH t AS (
         |  SELECT CAST(round(l_extendedprice * 1e2) AS BIGINT)
         |      * (100 - CAST(round(l_discount * 1e2) AS BIGINT)) AS units,
         |    p_type
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')
         |SELECT
         |  ${StableStats.stableRoundSql(
              "1e2 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN units ELSE 0 END) AS DOUBLE)" +
                " / CAST(sum(units) AS DOUBLE)", 4)} AS promo_pct,
         |  ${StableStats.stableRoundSql("CAST(sum(units) AS DOUBLE) / 1e4", 2)} AS total_revenue,
         |  count(*) AS n_lines
         |FROM t""".stripMargin),
    Query("a_cube_summary", cubeSummary _,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q8_market_share", marketShare _,
      s"""WITH t AS (
         |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |    CAST(round(l_extendedprice * 1e2) AS BIGINT)
         |      * (100 - CAST(round(l_discount * 1e2) AS BIGINT)) AS units,
         |    n2.n_name AS supp_nation
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'ASIA'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01'
         |    AND o_orderdate < TIMESTAMP '1997-01-01')
         |SELECT o_year,
         |  ${StableStats.stableRoundSql(
              "CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN units ELSE 0 END) AS DOUBLE)" +
                " / CAST(sum(units) AS DOUBLE)", 6)} AS mkt_share,
         |  ${StableStats.stableRoundSql("CAST(sum(units) AS DOUBLE) / 1e4", 2)} AS total_revenue,
         |  count(*) AS n_lines
         |FROM t GROUP BY o_year ORDER BY o_year""".stripMargin),
    Query("w_running_range", runningRange _,
      """WITH daily AS (
        |  SELECT o_orderpriority,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day_num,
        |    sum(CAST(round(o_totalprice * 1e2) AS BIGINT)) AS day_cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, day_num,
        |  CAST(day_cents AS DOUBLE) / 1e2 AS daily_rev,
        |  CAST(sum(day_cents) OVER (PARTITION BY o_orderpriority ORDER BY day_num
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e2 AS rev_7d
        |FROM daily ORDER BY o_orderpriority, day_num""".stripMargin),
    Query("u_intersect_nations", intersectNations _,
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 7500
        |INTERSECT
        |SELECT s_nationkey FROM supplier WHERE s_acctbal > 7500
        |ORDER BY nationkey""".stripMargin),
    Query("f_array_scalars", arrayScalars _,
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |  CAST(list_sum(list_transform(embedding[1:8],
        |    x -> CAST(round(abs(CAST(x AS DOUBLE)) * 1e4) AS BIGINT))) AS DOUBLE) / 1e4 AS l1_head8,
        |  round(CAST(embedding[3] AS DOUBLE), 6) AS e3
        |FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""".stripMargin)
  )
}
