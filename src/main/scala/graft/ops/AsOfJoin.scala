package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** As-of join — an operator Spark lacks natively (SPARK-22947 open), built
  * the scalable way: union both sides, ONE window pass per key carries the
  * latest right-side attributes forward, filter back to left rows.
  *
  * Why not a join? The naive formulation (equi-join on key + `r.ts <= l.ts`
  * + row_number to keep the latest) materializes every (left, right) pair
  * per key before ranking — O(n·m) per key, quadratic on hot keys. The
  * union+window shape shuffles each input row exactly once on the key and
  * the window pass is linear: at 100 TB it is one total-sort-free shuffle +
  * a streaming pass, with no pair blow-up.
  *
  * Tie discipline: right rows sort BEFORE left rows at equal timestamps
  * (`side` ascending), so a right row at exactly l.ts matches (the `<=`
  * convention, same as DuckDB/kdb asof). Right rows are first deduped to
  * one per (key, ts) by greatest id — keeps the operator deterministic.
  */
object AsOfJoin {

  /** Generic as-of: for each left row, the latest right row with
    * `right.ts <= left.ts` on the same key. Output = left columns +
    * `asof_<idCol>` + `asof_ts` (NULL when no prior right row). */
  def asOf(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightId: String, toleranceUs: Option[Long] = None): DataFrame = {
    val dedupW = Window.partitionBy(col(key), col(ts)).orderBy(col(rightId).desc)
    val r = right
      .withColumn("__rn", row_number().over(dedupW)).where(col("__rn") === 1).drop("__rn")
      .select(col(key), col(ts), col(rightId).as("__asof_id"), col(ts).as("__asof_ts"),
        lit(0).as("__side"))
    val l = left.withColumn("__asof_id", lit(null).cast(r.schema("__asof_id").dataType))
      .withColumn("__asof_ts", lit(null).cast("timestamp"))
      .withColumn("__side", lit(1))
    val u = l.select((r.columns.map(col) ++ left.columns.filterNot(c => c == key || c == ts).map(col)).toIndexedSeq: _*)
      .unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key)).orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u
      .withColumn(s"asof_$rightId", last(col("__asof_id"), ignoreNulls = true).over(w))
      .withColumn("asof_ts", last(col("__asof_ts"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .drop("__asof_id", "__asof_ts", "__side")
    // tolerance (lookback window): a prior right row older than the
    // tolerance does not match — NULL the pair out, same plan otherwise
    toleranceUs.fold(matched) { tol =>
      val expired = unix_micros(col(ts)) - unix_micros(col("asof_ts")) > tol
      matched
        .withColumn(s"asof_$rightId",
          when(expired, lit(null)).otherwise(col(s"asof_$rightId")))
        .withColumn("asof_ts", when(expired, lit(null)).otherwise(col("asof_ts")))
    }
  }

  /** Attribution query: for each purchase, the most recent prior click by
    * the same user, with the click→purchase lag. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"))
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    asOf(purchases, clicks, "user_id", "ts", "event_id")
      .select(
        col("user_id"), col("purchase_id"), col("ts").as("purchase_ts"),
        col("purchase_value"),
        col("asof_event_id").as("click_id"), col("asof_ts").as("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("lag_us"))
      .orderBy("purchase_id")
  }

  /** Windowed attribution: same as-of semantics but clicks only count
    * within a 30-minute lookback — purchases whose nearest prior click is
    * older attribute to nothing (NULL click, NULL lag). */
  def attributionWindowed(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"))
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    asOf(purchases, clicks, "user_id", "ts", "event_id",
      toleranceUs = Some(30L * 60 * 1000000))
      .select(
        col("user_id"), col("purchase_id"), col("ts").as("purchase_ts"),
        col("asof_event_id").as("click_id"), col("asof_ts").as("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("lag_us"))
      .orderBy("purchase_id")
  }

  /** Multi-touch LINEAR attribution — the complement of the as-of
    * (last-touch) model: every click by the same user in the 24 h before
    * a purchase shares the credit equally. Credit stays in integer cents
    * with explicit `div`/remainder (the remainder conventionally rides
    * with the first touch), so the split is exact and the books balance:
    * n_touches·cents_per_touch + cents_remainder = purchase cents,
    * always.
    *
    * Scale shape: a user-blocked range join (equi on user_id carries the
    * shuffle; the time predicate prunes within the block), two
    * deterministic first/last windows, one purchases-sized agg. */
  def multiTouch(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"),
        col("event_id").as("cid"))
    val touches = purchases.join(clicks,
      col("user_id") === col("c_user") && col("cts") <= col("ts") &&
        unix_micros(col("ts")) - unix_micros(col("cts")) < 24L * 3600 * 1000000,
      "left")
    val byPurchase = Window.partitionBy(col("purchase_id"))
    val firstW = byPurchase.orderBy(col("cts").asc_nulls_last, col("cid").asc_nulls_last)
    val lastW = byPurchase.orderBy(col("cts").desc_nulls_last, col("cid").desc_nulls_last)
    touches
      .withColumn("rn_first", row_number().over(firstW))
      .withColumn("rn_last", row_number().over(lastW))
      .groupBy(col("purchase_id"), col("user_id"), col("cents"))
      .agg(
        count(col("cid")).as("n_touches"),
        max(when(col("rn_first") === 1, col("cid"))).as("first_click"),
        max(when(col("rn_last") === 1, col("cid"))).as("last_click"))
      .select(col("purchase_id"), col("user_id"), col("cents"), col("n_touches"),
        col("first_click"), col("last_click"),
        when(col("n_touches") > 0, expr("cents div n_touches")).otherwise(lit(0L))
          .as("cents_per_touch"),
        when(col("n_touches") > 0, expr("cents % n_touches")).otherwise(lit(0L))
          .as("cents_remainder"))
      .orderBy("purchase_id")
  }

  val queries: Seq[Query] = Seq(
    Query("x_multitouch", multiTouch _,
      """WITH p AS (
        |  SELECT user_id, ts, event_id AS purchase_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, ts AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'click'),
        |t AS (
        |  SELECT p.*, c.cts, c.cid FROM p LEFT JOIN c
        |  ON p.user_id = c.c_user AND c.cts <= p.ts
        |    AND epoch_us(p.ts) - epoch_us(c.cts) < 86400000000),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY cts ASC NULLS LAST, cid ASC NULLS LAST) AS rn_first,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY cts DESC NULLS LAST, cid DESC NULLS LAST) AS rn_last
        |  FROM t)
        |SELECT purchase_id, user_id, cents,
        |  CAST(count(cid) AS BIGINT) AS n_touches,
        |  max(CASE WHEN rn_first = 1 THEN cid END) AS first_click,
        |  max(CASE WHEN rn_last = 1 THEN cid END) AS last_click,
        |  CASE WHEN count(cid) > 0 THEN cents // count(cid) ELSE 0 END AS cents_per_touch,
        |  CASE WHEN count(cid) > 0 THEN cents % count(cid) ELSE 0 END AS cents_remainder
        |FROM r GROUP BY purchase_id, user_id, cents
        |ORDER BY purchase_id""".stripMargin),
    Query("x_asof_attribution", attribution _,
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM (
        |    SELECT user_id, ts, event_id, row_number() OVER
        |      (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click')
        |  WHERE rn = 1),
        |purchases AS (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.purchase_id, p.ts AS purchase_ts, p.purchase_value,
        |  c.event_id AS click_id, c.ts AS click_ts,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM purchases p
        |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin),
    Query("x_asof_windowed", attributionWindowed _,
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM (
        |    SELECT user_id, ts, event_id, row_number() OVER
        |      (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click')
        |  WHERE rn = 1),
        |purchases AS (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT p.user_id, p.purchase_id, p.ts AS purchase_ts,
        |    c.event_id AS click_id, c.ts AS click_ts
        |  FROM purchases p
        |  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT user_id, purchase_id, purchase_ts,
        |  CASE WHEN epoch_us(purchase_ts) - epoch_us(click_ts) > 1800000000
        |    THEN NULL ELSE click_id END AS click_id,
        |  CASE WHEN epoch_us(purchase_ts) - epoch_us(click_ts) > 1800000000
        |    THEN NULL ELSE click_ts END AS click_ts,
        |  CASE WHEN epoch_us(purchase_ts) - epoch_us(click_ts) > 1800000000
        |    THEN NULL ELSE epoch_us(purchase_ts) - epoch_us(click_ts) END AS lag_us
        |FROM m ORDER BY purchase_id""".stripMargin)
  )
}
