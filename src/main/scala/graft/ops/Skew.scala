package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.exec.Session

/** Skew mitigation: salted two-stage aggregation.
  *
  * A `groupBy(hotKey).agg(...)` sends every row of a hot key to ONE
  * reducer — at 100 TB a single skewed key stalls the stage. Salting
  * splits each key into `salt` sub-groups aggregated in parallel
  * (stage 1), then merges the partials (stage 2). Works for any
  * algebraic aggregate (sum/count/min/max decompose; avg = merged
  * sum ÷ merged count).
  *
  * The salt is `pmod(hash(whole-row columns), n)` — deterministic per
  * row content, so results are reproducible AND identical to the
  * unsalted plan (the oracle for the demo query below is the plain
  * single-stage SQL aggregate).
  */
object Skew {

  /** Two-stage salted aggregate of count/sum/min/max/mean over `valueCol`
    * grouped by `key`, semantically identical to the single-stage plan. */
  def saltedStats(df: DataFrame, key: Column, valueCol: Column, salt: Int): DataFrame = {
    val partial = df
      .withColumn("__salt", pmod(hash(valueCol), lit(salt)))
      .groupBy(key.as("k"), col("__salt"))
      .agg(
        count(lit(1)).as("pc"),
        // non-null partial count: the mean's denominator must exclude NULL
        // values (count(valueCol)) to match centsMean / count(value)
        // semantics, while `n` stays a row count (count(*)).
        count(valueCol).as("pcv"),
        sum(round(valueCol * 100).cast("long")).as("pcents"),
        min(valueCol).as("pmin"),
        max(valueCol).as("pmax"))
    partial
      .groupBy(col("k"))
      .agg(
        sum(col("pc")).as("n"),
        StableStats.stableRound(
          sum(col("pcents")).cast("double") / sum(col("pcv")) / lit(100.0), 4).as("avg_value"),
        min(col("pmin")).as("min_value"),
        max(col("pmax")).as("max_value"))
  }

  /** Demo query: per-event_type stats via the salted two-stage plan —
    * hash-identical to the plain aggregate (its oracle). */
  def saltedEventStats(spark: SparkSession, dir: String): DataFrame =
    saltedStats(Tables.events(spark, dir), col("event_type"), col("value"), 16)
      .withColumnRenamed("k", "event_type")
      .orderBy("event_type")

  /** Salted shuffle JOIN for a hot build-side key, when BOTH sides are too
    * large to broadcast (the case AQE's skew-join split also targets, but
    * salting works even when the hot key sits in one unsplittable HDFS
    * block or the planner lacks stats): the probe (big/skewed) side gets a
    * random-ish but DETERMINISTIC salt in [0, n); the build side is
    * replicated n× with every salt value; the join key becomes
    * (key, salt), so the hot key's rows fan out over n reducers instead
    * of stalling one.
    *
    * Replication multiplies the build side's shuffle volume by n — use a
    * salt just wide enough to flatten the hottest key (hot-rows / n ≈
    * median partition size), never a blanket large value.
    *
    * Semantically identical to the plain inner equi-join: every probe row
    * meets every build row of its key exactly once (at the probe row's
    * own salt). */
  def saltedJoin(probe: DataFrame, build: DataFrame, probeKey: Column,
      buildKey: Column, salt: Int): DataFrame = {
    val salted = probe.withColumn("__salt",
      pmod(hash(probe.columns.map(col).toIndexedSeq: _*), lit(salt)))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(replicated,
      probeKey === buildKey && salted("__salt") === replicated("__salt"), "inner")
      .drop("__salt")
  }

  /** Demo query: lineitem⋈orders through the salted join (salt 8), then a
    * priority rollup — hash-identical to the plain join (its oracle). The
    * aggregate keeps the verified output small; the join itself is the
    * operator under test. */
  def saltedJoinStats(spark: SparkSession, dir: String): DataFrame =
    saltedJoin(
      Tables.lineitem(spark, dir),
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
      col("l_orderkey"), col("o_orderkey"), 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        StableStats.centsMean(col("l_extendedprice")).as("avg_price"))
      .orderBy("o_orderpriority")

  /** Pre-flight join-size forecast — the check a 100 TB operator runs
    * BEFORE launching a join that might explode: |A ⋈_k B| is exactly
    * Σ_k cnt_A(k)·cnt_B(k), computable from the two per-key count
    * tables (each a vocabulary-sized hash-agg) joined on the key —
    * cost O(scan + |keys|), never the join itself. The report carries
    * the exact predicted output rows, both inputs' sizes, the expansion
    * factor vs the larger input (expansion ≫ 1 flags a fan-out join),
    * and the single hottest key's contribution share — the number that
    * decides between a plain shuffle join and [[saltedJoin]].
    *
    * Demo pairs: orders⋈lineitem on orderkey (the benign 1:N), and
    * events⋈events on user_id (the self-join that quietly goes
    * quadratic per hot user — exactly the shape sessionization bugs
    * ship). */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    def forecast(pair: String, a: DataFrame, ka: Column,
        b: DataFrame, kb: Column): DataFrame = {
      val ca = a.groupBy(ka.as("k")).agg(count(lit(1)).as("na"))
      val cb = b.groupBy(kb.as("k")).agg(count(lit(1)).as("nb"))
      ca.join(cb, "k")
        .select(col("k"), (col("na") * col("nb")).as("prod"))
        .agg(
          coalesce(sum(col("prod")), lit(0L)).as("predicted_rows"),
          coalesce(max(col("prod")), lit(0L)).as("hottest_key_rows"))
        .crossJoin(broadcast(a.agg(count(lit(1)).as("rows_a"))))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("rows_b"))))
        .select(
          lit(pair).as("pair"),
          col("rows_a"), col("rows_b"), col("predicted_rows"),
          StableStats.ratio(col("predicted_rows"),
            greatest(col("rows_a"), col("rows_b"))).as("expansion"),
          StableStats.ratio(col("hottest_key_rows"),
            greatest(col("predicted_rows"), lit(1L))).as("hottest_share"))
    }
    val events = Tables.events(spark, dir)
    forecast("orders_lineitem",
        Tables.orders(spark, dir), col("o_orderkey"),
        Tables.lineitem(spark, dir), col("l_orderkey"))
      .unionByName(forecast("events_self_user",
        events, col("user_id"), events, col("user_id")))
      .orderBy("pair")
  }

  /** The inner join/rollup the runtime-filter demo measures, exposed so
    * the spec can pin its executed plan under the same conf scope the
    * registry query runs in. Lazy — the caller decides the conf window
    * it executes under. */
  private[ops] def runtimeBloomFrame(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        StableStats.centsMean(col("l_extendedprice")).as("avg_price"))
  }

  private[ops] def withBloomJoinConf[T](spark: SparkSession)(body: => T): T = {
    val wanted = Seq(
      // force the shuffle join: at fixture scale the filtered build side
      // broadcasts, and a broadcast join needs no runtime filter — the
      // shape under test is the 100 TB big⋈big where NEITHER side fits
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // scan-size gates exist to skip the filter when the probe side is
      // small; zero them so the fixture-scale probe qualifies like a
      // lake-scale one would under the defaults
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    Session.withConf(spark, wanted)(body)
  }

  /** The CBO conf window: cost-based estimation + the join-order DP. */
  private[ops] def withCboConf[T](spark: SparkSession)(body: => T): T =
    Session.withConf(spark, Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true"))(body)

  /** Runtime Bloom-filter join (Catalyst `InjectRuntimeFilter`): when a
    * big⋈big shuffle join's build side carries a selective predicate,
    * the optimizer plants a `bloom_filter_agg` subquery over the build
    * keys and a `might_contain` probe filter on the OTHER side's scan —
    * non-joining probe rows die BEFORE the shuffle, the same
    * row-reduction a semi-join pre-pass buys without a second join. At
    * 100 TB this is the difference between shuffling the full lineitem
    * table and shuffling only the ~20% that joins an URGENT order; at
    * fixture scale the broadcast path would win instead, so the conf
    * window pins the lake-scale join shape (no-broadcast + zeroed size
    * gates) the way the salting demos pin theirs. The report executes
    * INSIDE the window (the conf is read at action time) and returns a
    * bounded O(priorities) local frame — nothing stays pinned.
    * `SkewSpec` pins the injected filter in the executed plan and
    * result-equality against the unfiltered-conf run; the DuckDB oracle
    * is the plain filtered join rollup, blind to the filter. */
  def runtimeBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val local = withBloomJoinConf(spark) {
      val frame = runtimeBloomFrame(spark, dir)
      spark.createDataFrame(
        java.util.Arrays.asList(frame.collect(): _*), frame.schema)
    }
    local.orderBy("o_orderpriority")
  }

  /** Register `table` (external parquet, no copy) under a dir-digest
    * name and ANALYZE it once per session — table row counts plus
    * column stats (NDV/min/max/null-count) for the join keys and the
    * filter column, the catalog-statistics legs the cost-based
    * optimizer's cardinality estimation plans from. At 100 TB this is
    * the standing operational habit (stats maintained at write time);
    * here it is per-session because the in-memory catalog is. */
  private def analyzedTable(spark: SparkSession, dir: String, table: String,
      statCols: Seq[String]): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val name = s"graft_cbo_${digest}_$table"
    synchronized {
      if (!spark.catalog.tableExists(name)) {
        spark.catalog.createTable(name, s"$dir/$table.parquet", "parquet")
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS" +
          (if (statCols.nonEmpty) s" FOR COLUMNS ${statCols.mkString(", ")}" else ""))
      }
    }
    name
  }

  /** The 3-way chain the reorder demo plans, WRITTEN in the worst order
    * (fact ⋈ fact first, the selective dimension last) — exposed so the
    * spec can pin the optimized join tree under both conf windows. */
  private[ops] def cboFrame(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.table(analyzedTable(spark, dir, "lineitem",
      Seq("l_orderkey")))
    val ord = spark.table(analyzedTable(spark, dir, "orders",
      Seq("o_orderkey", "o_custkey", "o_orderpriority")))
    val cust = spark.table(analyzedTable(spark, dir, "customer",
      Seq("c_custkey", "c_mktsegment")))
      .where(col("c_mktsegment") === "BUILDING")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        // exact-integer discounted sum, NOT round(sum(price*(1-disc))):
        // the products land on .xx5 halves and flip cents cross-engine
        StableStats.discountedSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
  }

  /** Cost-based join reorder end-to-end: with catalog row counts from
    * `ANALYZE TABLE` and the CBO + joinReorder rules on, Catalyst's
    * join-order DP rewrites the worst-order 3-way chain above so the
    * SELECTIVE dimension joins first (customer-filtered ⋈ orders, then
    * the lineitem fact) — at 100 TB the difference between shuffling
    * the full fact⋈fact intermediate and never materializing it. The
    * conf window scopes `spark.sql.cbo.enabled` +
    * `cbo.joinReorder.enabled` and the report executes inside it (the
    * optimizer reads the session conf at action time — the
    * [[runtimeBloomJoin]] discipline), returning a bounded
    * O(priorities) local frame. `SkewSpec` pins the reordered join tree
    * (innermost join = orders⋈customer under CBO, the literal
    * lineitem⋈orders without) and result equality between both
    * windows; the DuckDB oracle is the plain rollup, blind to the
    * order. */
  def cboReorder(spark: SparkSession, dir: String): DataFrame = {
    val local = withCboConf(spark) {
      val frame = cboFrame(spark, dir)
      spark.createDataFrame(
        java.util.Arrays.asList(frame.collect(): _*), frame.schema)
    }
    local.orderBy("o_orderpriority")
  }

  val queries: Seq[Query] = Seq(
    Query("a_salted_agg", saltedEventStats _,
      s"""SELECT event_type, count(*) AS n,
         |  ${StableStats.centsMeanSql("value")} AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("j_salted_join", saltedJoinStats _,
      s"""SELECT o_orderpriority, count(*) AS n_lines,
         |  round(sum(l_quantity), 2) AS sum_qty,
         |  ${StableStats.centsMeanSql("l_extendedprice")} AS avg_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("j_runtime_bloom", runtimeBloomJoin _,
      s"""SELECT o_orderpriority, count(*) AS n_lines,
         |  round(sum(l_quantity), 2) AS sum_qty,
         |  ${StableStats.centsMeanSql("l_extendedprice")} AS avg_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("j_cbo_reorder", cboReorder _,
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
         |  ${StableStats.discountedSumSql("l_extendedprice", "l_discount")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("x_join_cardinality", joinCardinality _, {
      def forecast(pair: String, ta: String, ka: String, tb: String, kb: String) =
        s"""SELECT '$pair' AS pair, rows_a, rows_b, predicted_rows,
           |  ${StableStats.ratioSql("predicted_rows", "greatest(rows_a, rows_b)")} AS expansion,
           |  ${StableStats.ratioSql("hottest_key_rows", "greatest(predicted_rows, 1)")} AS hottest_share
           |FROM (
           |  SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS predicted_rows,
           |    CAST(coalesce(max(na * nb), 0) AS BIGINT) AS hottest_key_rows
           |  FROM (SELECT $ka AS k, CAST(count(*) AS BIGINT) AS na FROM $ta GROUP BY 1) a
           |  JOIN (SELECT $kb AS k, CAST(count(*) AS BIGINT) AS nb FROM $tb GROUP BY 1) b
           |  USING (k)),
           |  (SELECT CAST(count(*) AS BIGINT) AS rows_a FROM $ta),
           |  (SELECT CAST(count(*) AS BIGINT) AS rows_b FROM $tb)""".stripMargin
      forecast("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey") +
        "\nUNION ALL\n" +
        forecast("events_self_user", "events", "user_id", "events", "user_id") +
        "\nORDER BY pair"
    })
  )
}
