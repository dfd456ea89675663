package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** The remaining TPC-H decision-support shapes (Q4, Q9, Q11, Q13, Q15, Q16,
  * Q20, Q21) — with `Relational` and `Olap` this completes all 22 classic
  * shapes. The test schema has no `partsupp` and no commit/receipt dates,
  * so the predicates are adapted (late = shipped >N days after the order
  * date; inventory value = shipped discounted revenue) while each query
  * keeps the SHAPE that matters at scale:
  *
  * - Q4/Q20: EXISTS chains as LEFT SEMI joins (probe never duplicates);
  * - Q21: the double EXISTS/NOT-EXISTS correlation DECORRELATED into one
  *   per-order aggregate + window — one shuffle instead of two self-joins;
  * - Q9: multi-dim star join, only the fact⋈orders edge shuffles;
  * - Q11/Q15: global scalar aggregate broadcast back (1-row cross join),
  *   never a per-row correlated rescan;
  * - Q13: outer join preserving zero-match keys, then re-aggregation;
  * - Q16: NOT IN as a LEFT ANTI join + distinct aggregate.
  *
  * Broadcast-force discipline (VERDICT r3/r4): only fixed-cardinality
  * frames (nation: 25 rows, region: 5 rows at every SF) and 1-row global
  * aggregates carry a `broadcast()` hint. Anything derived from an
  * SF-scaled table — customer, supplier, and ALL filtered part slices
  * (a predicate keeps a constant fraction, so the slice still grows
  * linearly with SF) — stays threshold/AQE-driven: broadcast at test
  * scale, shuffled at 100 TB. Pinned by `PlanSpec`'s 100 TB simulation.
  *
  * All money math uses the `StableStats` exact-integer-units discipline so
  * DuckDB hash-compares bit-for-bit (see graft-engine-gotchas).
  */
object DecisionSupport {

  /** TPC-H Q4 shape: order-priority checking. Orders in one quarter having
    * at least one "late" line (shipped >30 days after the order date).
    * EXISTS is expressed as inner-join + distinct rather than LEFT SEMI:
    * a semi join can only build its RIGHT side, which here is the whole
    * lineitem fact — with the inner form the quarter-filtered orders
    * become the build side and the fact streams; the distinct is a
    * shuffle of matched orders only. The orders side is SHUFFLE_HASH,
    * not broadcast: the quarter filter is selective (~4%) but linear in
    * the orders table, so a forced broadcast would not survive 100 TB —
    * per-partition hash build does. */
  def orderPriorityCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-07-01"))
          && col("o_orderdate") < to_timestamp(lit("1996-10-01")))
        .hint("shuffle_hash"),
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"), "inner")
      .select(col("o_orderkey"), col("o_orderpriority")).distinct()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q9 shape: product-type profit by supplier nation and year.
    * No partsupp ⇒ cost is proxied as 60% of the part's retail price per
    * unit. Profit stays an exact integer in 1e-5-dollar units:
    * units×10 − qty_cents×price_cents×6. Star join: only nation (25 rows,
    * fixed cardinality) is force-broadcast; the name-filtered part slice
    * keeps a constant FRACTION of an SF-scaled table (≈200M rows at
    * 100 TB), so it is threshold/AQE-driven like the supplier join —
    * broadcast at test scale, shuffled at 100 TB. One orderkey shuffle. */
  def productProfit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).where(col("p_name").contains("an")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .withColumn("profit_units",
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long"))) * 10L
          - round(col("l_quantity") * 100).cast("long")
            * round(col("p_retailprice") * 100).cast("long") * 6L)
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(
        StableStats.stableRound(sum(col("profit_units")).cast("double") / lit(1e5), 2)
          .as("sum_profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation").asc, col("o_year").desc)

  /** TPC-H Q11 shape: important-part inventory value. No partsupp ⇒ value
    * = discounted revenue shipped by NATION_3 suppliers per part; keep
    * parts above 2× the MEAN part value (scale-free, mirroring the
    * original's 0.0001/SF threshold — a fixed fraction empties as the
    * part count grows). The global total is a 1-row broadcast, and the
    * threshold compares exact integers (units×n_parts > 2×total) so no
    * FP fraction can flip a row. */
  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val nation3Supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).where(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // nation3Supp is supplier-derived (~1/25 of suppliers — SF-scaled):
    // threshold-driven semi join, not a forced broadcast
    val perPart = Tables.lineitem(spark, dir)
      .join(nation3Supp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .withColumn("units",
        round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
      .groupBy(col("l_partkey"))
      .agg(sum(col("units")).as("part_units"))
    val total = perPart.agg(sum(col("part_units")).as("total_units"),
      count(lit(1)).as("n_parts"))
    perPart
      .crossJoin(broadcast(total))
      .where(col("part_units") * col("n_parts") > lit(2L) * col("total_units"))
      .select(col("l_partkey"),
        StableStats.stableRound(col("part_units").cast("double") / lit(1e4), 2).as("value"))
      .orderBy(col("value").desc, col("l_partkey").asc)
  }

  /** TPC-H Q13 shape: customer order-count distribution. LEFT OUTER join
    * keeps zero-order customers (c_count = 0 bucket), with the join-side
    * filter INSIDE the join condition (a WHERE would silently turn the
    * join inner); then a second, tiny aggregation over counts. */
  def customerDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey")
          && col("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q15 shape: top supplier by one quarter's revenue. The per-
    * supplier aggregate is tiny (|suppliers| rows); the max is a 1-row
    * broadcast joined back with an exact integer equality — the original's
    * correlated `= (SELECT max(...))` without any rescan. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01"))
        && col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")
        * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_units"))
    val best = rev.agg(max(col("rev_units")).as("max_units"))
    rev
      .crossJoin(broadcast(best))
      .where(col("rev_units") === col("max_units"))
      // the max-filtered left side is ~1 row — AQE broadcasts IT, so the
      // SF-scaled supplier table needs no force at any scale
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        StableStats.stableRound(col("rev_units").cast("double") / lit(1e4), 2)
          .as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16 shape: supplier variety per (brand, type). NOT IN the
    * negative-balance supplier blacklist becomes a LEFT ANTI join (the
    * blacklist is null-free, so the NOT-IN null trap doesn't apply);
    * count(DISTINCT l_suppkey) is the one distinct-agg shape in the
    * suite — Spark plans it as a two-phase expand+agg. Both join sides
    * here are SF-scaled slices (balance-filtered supplier, brand/size-
    * filtered part keeps ~half the table), so NEITHER carries a
    * broadcast force — threshold/AQE planning broadcasts at test scale
    * and shuffles at 100 TB. */
  def supplierVariety(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir).where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_suppkey")),
        col("l_suppkey") === col("bad_suppkey"), "left_anti")
      .join(Tables.part(spark, dir)
        .where(col("p_brand") =!= "Brand#1" && col("p_size") <= 25),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc)

  /** TPC-H Q20 shape: suppliers who shipped a meaningful volume of some
    * 'blue' part in 1996 — the nested-IN chain as aggregate-then-semi:
    * per-(supplier, part) totals filtered by HAVING, distinct suppliers,
    * then a semi join into supplier⋈nation. The fact scans once. The
    * 'blue'-prefix part slice is a constant ~1/92 fraction of an
    * SF-scaled table — threshold-driven semi join, no force; only the
    * fixed-cardinality nation keeps its broadcast hint. */
  def promotionSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val shipped = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .join(Tables.part(spark, dir).where(col("p_name").startsWith("blue"))
        .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(round(sum(col("l_quantity")), 2).as("qty"))
      .where(col("qty") > 30)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      // shipped is a distinct-supplier-key frame (SF-scaled): threshold-
      // driven semi join; nation (25 rows) keeps its force
      .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21 shape: suppliers who kept orders waiting. The original's
    * EXISTS(other supplier on the order) AND NOT EXISTS(other LATE
    * supplier) double-correlation is decorrelated into one per-(order,
    * supplier) aggregate plus order-level window counts: a supplier
    * "kept the order waiting" iff they have a late line, the order has
    * >1 supplier, and exactly one supplier was late. One orderkey shuffle
    * total; the self-join formulation would shuffle lineitem twice more. */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val perOrderSupp = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).where(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1)
        .otherwise(0)).as("supp_late"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
    perOrderSupp
      .withColumn("n_supp", count(lit(1)).over(byOrder))
      .withColumn("n_late", sum(col("supp_late")).over(byOrder))
      .where(col("supp_late") === 1 && col("n_supp") > 1 && col("n_late") === 1)
      // supplier is SF-scaled: threshold-driven join
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
  }

  val queries: Seq[Query] = Seq(
    Query("q4_priority_check", orderPriorityCheck _,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q9_product_profit", productProfit _,
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  ${StableStats.stableRoundSql(
              "CAST(sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)" +
                " * (100 - CAST(round(l_discount * 1e2) AS BIGINT)) * 10" +
                " - CAST(round(l_quantity * 1e2) AS BIGINT)" +
                " * CAST(round(p_retailprice * 1e2) AS BIGINT) * 6) AS DOUBLE) / 1e5", 2)} AS sum_profit,
         |  count(*) AS n_lines
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%an%'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin),
    Query("q11_important_parts", importantParts _,
      s"""WITH per_part AS (
         |  SELECT l_partkey,
         |    sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)
         |      * (100 - CAST(round(l_discount * 1e2) AS BIGINT))) AS part_units
         |  FROM lineitem
         |  WHERE l_suppkey IN (
         |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |    WHERE n_name = 'NATION_3')
         |  GROUP BY l_partkey)
         |SELECT l_partkey,
         |  ${StableStats.stableRoundSql("CAST(part_units AS DOUBLE) / 1e4", 2)} AS value
         |FROM per_part
         |WHERE part_units * (SELECT count(*) FROM per_part)
         |    > 2 * (SELECT sum(part_units) FROM per_part)
         |ORDER BY value DESC, l_partkey ASC""".stripMargin),
    Query("q13_cust_distribution", customerDistribution _,
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q15_top_supplier", topSupplier _,
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)
         |      * (100 - CAST(round(l_discount * 1e2) AS BIGINT))) AS rev_units
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name,
         |  ${StableStats.stableRoundSql("CAST(rev_units AS DOUBLE) / 1e4", 2)} AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_units = (SELECT max(rev_units) FROM rev)
         |ORDER BY s_suppkey""".stripMargin),
    Query("q16_supplier_variety", supplierVariety _,
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC""".stripMargin),
    Query("q20_promo_suppliers", promotionSuppliers _,
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
        |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING round(sum(l_quantity), 2) > 30)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q21_waiting_suppliers", waitingSuppliers _,
      """WITH per_os AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS supp_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey, l_suppkey),
        |flagged AS (
        |  SELECT l_suppkey, supp_late,
        |    count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
        |    sum(supp_late) OVER (PARTITION BY l_orderkey) AS n_late
        |  FROM per_os)
        |SELECT s_name, count(*) AS numwait
        |FROM flagged JOIN supplier ON l_suppkey = s_suppkey
        |WHERE supp_late = 1 AND n_supp > 1 AND n_late = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name ASC""".stripMargin)
  )
}
