package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, count => fcount, lit}

import graft.{Query, Tables}

/** The `spark.sql(...)` surface: registered temp views + one dialect-shared
  * SQL text. The statement below is written in the ANSI intersection of
  * Spark SQL and DuckDB — the ORACLE IS THE SAME STRING, so this query
  * demonstrates that a reference user's SQL can run verbatim on both the
  * engine and the oracle. */
object SqlSurface {

  /** Shared-dialect pricing summary (stable-sum formulation inlined so the
    * text is engine-portable: CAST/round/floor/sum/count only). */
  val pricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  round(sum(l_quantity), 2) AS sum_qty,
       |  round(sum(l_extendedprice), 2) AS sum_base_price,
       |  ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS sum_disc_price,
       |  ${StableStats.centsMeanSql("l_quantity")} AS avg_qty,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def sqlPricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(pricingSql)
  }

  /** Shared-dialect GROUPING SETS — the explicit-sets form alongside the
    * DataFrame-API rollup/cube queries; one Expand pass, one agg shuffle,
    * and the ORACLE IS THE SAME STRING. */
  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
      |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  def sqlGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(groupingSetsSql)
  }

  /** Shared-dialect CTE + ranking window: top-5 revenue days per order
    * priority. Daily cents pre-aggregate first (the window's input is
    * O(days × priorities), not O(orders)); rank ties break on the day so
    * the row set is deterministic; AND THE ORACLE IS THE SAME STRING. */
  val cteWindowSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
      |    sum(CAST(round(o_totalprice * 1e2) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1, 2)
      |SELECT day, o_orderpriority, rev, rnk FROM (
      |  SELECT day, o_orderpriority,
      |    CAST(cents AS DOUBLE) / 1e2 AS rev,
      |    CAST(rank() OVER (PARTITION BY o_orderpriority
      |      ORDER BY cents DESC, day ASC) AS INTEGER) AS rnk
      |  FROM daily)
      |WHERE rnk <= 5
      |ORDER BY o_orderpriority, rnk, day""".stripMargin

  def sqlCteWindow(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(cteWindowSql)
  }

  /** Shared-dialect correlated EXISTS: segments of customers holding at
    * least one big order. Catalyst decorrelates the subquery into a left
    * semi join (no per-row rescan); same string runs on the oracle. */
  val existsSql: String =
    """SELECT c_mktsegment, count(*) AS n_custs
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  def sqlExists(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(existsSql)
  }

  /** Approximate-sketch toolbox: HLL++ distinct counts and quantile
    * sketches next to their exact counterparts (self-evidencing — the
    * approx value must bracket the exact one). Sketches are
    * engine-specific by nature → no DuckDB oracle (rows-only check). */
  def approxSketches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(org.apache.spark.sql.functions.col("event_type"))
      .agg(
        expr("approx_count_distinct(user_id)").as("approx_users"),
        expr("count(distinct user_id)").as("exact_users"),
        expr("round(approx_percentile(value, 0.5), 4)").as("approx_p50"),
        expr("round(percentile(value, 0.5), 4)").as("exact_p50"),
        fcount(lit(1)).as("n"))
      .orderBy("event_type")

  /** The oracles for the SQL-surface queries are the very same strings. */
  val queries: Seq[Query] = Seq(
    Query("sql_pricing_summary", sqlPricingSummary _, pricingSql),
    Query("sql_grouping_sets", sqlGroupingSets _, groupingSetsSql),
    Query("sql_cte_window", sqlCteWindow _, cteWindowSql),
    Query("sql_exists", sqlExists _, existsSql),
    // approximate sketches have no exact SQL twin: SketchCatalogSpec pins them
    Query("a_approx_sketches", approxSketches _)
  )
}
