package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** DSv2 envelope source: parses the reference's API payload shape, one
  * partition per file, with V2 column pruning. */
class EnvelopeSourceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("graft-envelope")
    // two captured daily payloads in the reference's serialization shape
    // (api/app/main.py:143-158; isoformat timestamps, count, filters)
    Files.writeString(d.resolve("day1.json"),
      """{"data": [
        |  {"timestamp": "2025-08-10T00:00:00", "wind_speed": 11.5, "power": 1058.0, "ambient_temprature": 21.3},
        |  {"timestamp": "2025-08-10T00:01:00", "wind_speed": 12.1, "power": 1171.3, "ambient_temprature": null}
        |], "count": 2,
        |"filters": {"start_date": "2025-08-10", "end_date": null, "variables": null},
        |"metadata": {"frequency": "1 minuto"}}""".stripMargin)
    Files.writeString(d.resolve("day2.json"),
      """{"data": [
        |  {"timestamp": "2025-08-11T00:00:00", "wind_speed": 2.4, "power": 0.0, "ambient_temprature": 19.9}
        |], "count": 1, "filters": {}, "metadata": {}}""".stripMargin)
    d.toString
  }

  private def read = spark.read
    .format("graft.sources.EnvelopeSource")
    .load(dir)

  test("reads all envelope files with the reference schema, nulls preserved") {
    val rows = read.orderBy("timestamp").collect()
    assert(rows.length === 3)
    assert(read.schema === EnvelopeSource.referenceSchema)
    assert(rows(0).getDouble(1) === 11.5)
    assert(rows(0).getTimestamp(0) === java.sql.Timestamp.valueOf("2025-08-10 00:00:00"))
    assert(rows(1).isNullAt(3), "JSON null must surface as SQL NULL")
    assert(rows(2).getDouble(2) === 0.0)
  }

  test("V2 column pruning reaches the scan: projected read parses only 2 fields") {
    val df = read.select("timestamp", "power")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("EnvelopeScan ReadSchema: struct<timestamp:timestamp,power:double>"),
      s"pruned schema must reach the V2 scan:\n$scan")
    assert(df.collect().map(_.getDouble(1)).sorted === Array(0.0, 1058.0, 1171.3))
  }

  test("one input partition per envelope file (parallel parse shape)") {
    assert(read.rdd.getNumPartitions === 2)
  }

  test("AVG pushes down as per-file SUM/COUNT partials (SPARK-37839 rewrite)") {
    import org.apache.spark.sql.functions._
    val q = read.agg(count(lit(1)), round(avg("wind_speed"), 2))
    // Catalyst rewrites avg(x) → sum(x)/count(x) for partial-only sources,
    // so the scan must advertise the sum/count pair
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan") && plan.contains("SUM(wind_speed)")
      && plan.contains("COUNT(wind_speed)"),
      s"avg must partial-push as sum+count:\n$plan")
    val r = q.head()
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(1) === 8.67)
  }

  private def filterNodes(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }

  test("V2 statistics: relation size == sum of file bytes, so small lakes can broadcast") {
    val expected = new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      .map(_.length).sum
    val size = read.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size === BigInt(expected),
      s"scan must report the actual byte size (got $size, files total $expected)")
    // sanity: the fixture is far under any broadcast threshold — without
    // estimateStatistics the default is spark.sql.defaultSizeInBytes (max)
    assert(size < 10L * 1024 * 1024)
  }

  test("LIMIT pushes down: per-file emission stops at n, plan advertises PushedLimit") {
    val df = read.limit(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 2"), s"limit must reach the V2 scan:\n$plan")
    assert(df.collect().length === 2)
  }

  test("LIMIT pushdown composes with pushed filters: limit counts SURVIVING rows") {
    import org.apache.spark.sql.functions._
    // wind_speed > 10 keeps 2 of 3 records; a limit applied before the
    // filter would starve the result
    val df = read.where(col("wind_speed") > 10.0).limit(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 2") && plan.contains("GreaterThan(wind_speed"), plan)
    val rows = df.collect()
    assert(rows.length === 2 && rows.forall(_.getDouble(1) > 10.0))
  }

  test("ORDER BY + LIMIT pushes down as per-file top-N; global order exact") {
    import org.apache.spark.sql.functions._
    val df = read.orderBy(col("wind_speed").desc).limit(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: [wind_speed DESC] LIMIT 2"),
      s"top-N must reach the V2 scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "Spark must retain the global top-N merge (partial pushdown)")
    assert(df.collect().map(_.getDouble(1)).toSeq === Seq(12.1, 11.5))
  }

  test("top-N on a null-bearing column honors Spark's null ordering per file") {
    import org.apache.spark.sql.functions._
    // ambient_temprature is NULL on one row; asc = nulls first (Spark
    // default) so the NULL row must win position 1
    val df = read.orderBy(col("ambient_temprature").asc).limit(1)
    assert(df.queryExecution.executedPlan.toString.contains("PushedTopN: [ambient_temprature] LIMIT 1"))
    assert(df.collect().map(r => r.isNullAt(3)).toSeq === Seq(true))
    val dfLast = read.orderBy(col("ambient_temprature").asc_nulls_last).limit(1)
    assert(dfLast.collect().map(_.getDouble(3)).toSeq === Seq(19.9))
  }

  test("ORDER BY + LIMIT over an AGGREGATED read: agg pushes, top-N does not") {
    import org.apache.spark.sql.functions._
    // The sort sits above the aggregate, not the scan, so Spark never
    // offers the top-N to the source — and the aggregation branch of
    // build() ignores limit/topN anyway. Pin both: the plan shows the
    // agg pushdown WITHOUT any PushedTopN claim, the global
    // TakeOrderedAndProject survives, and values are exact.
    val q = read.groupBy("ambient_temprature").agg(sum("power").as("p"))
      .orderBy(desc("p")).limit(2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan") && plan.contains("SUM(power)"),
      s"grouped agg must still push under an outer sort+limit:\n$plan")
    assert(!plan.contains("PushedTopN"),
      s"the scan must NOT claim a top-N it cannot honor post-aggregation:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "the global ordered limit must remain Spark's")
    val rows = q.collect().map(r => (if (r.isNullAt(0)) -1.0 else r.getDouble(0), r.getDouble(1)))
    assert(rows.toSeq === Seq((-1.0, 1171.3), (21.3, 1058.0)))
  }

  test("one directory listing serves statistics AND partition planning") {
    // Million-file-lake shape (ADVICE r6): statistics used to re-list the
    // directory and stat every file individually; now the scan memoizes
    // one listStatus whose FileStatus lengths already carry the sizes.
    val df = read.select("power")
    val before = EnvelopeScan.listings.get()
    df.queryExecution.optimizedPlan.stats.sizeInBytes // statistics pass
    assert(df.collect().length === 3)                 // execution pass
    val delta = EnvelopeScan.listings.get() - before
    assert(delta === 1L,
      s"stats + planning must share ONE listing per scan, saw $delta")
  }

  test("COUNT(*) pushes down: per-file count rows, no record materialization") {
    val df = read.selectExpr("count(*) as n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan PushedAggregates: [COUNT(*)]"),
      s"count must reach the V2 scan:\n$plan")
    assert(df.head().getLong(0) === 3L)
  }

  test("COUNT(*) pushdown composes with pushed filters") {
    import org.apache.spark.sql.functions._
    val df = read.where(col("wind_speed") > 10.0).selectExpr("count(*) as n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan PushedAggregates: [COUNT(*)]"), plan)
    assert(plan.contains("GreaterThan(wind_speed"), s"filter must also push:\n$plan")
    assert(df.head().getLong(0) === 2L)
  }

  test("COUNT/SUM with a filter matching NO rows: 0 and NULL, not NULL and NULL") {
    import org.apache.spark.sql.functions._
    // every file's rows are excluded by the pushed filter — each reader
    // must still emit one zero partial or the final SUM-of-partial-counts
    // over zero rows collapses the ungrouped COUNT to NULL
    val df = read.where(col("wind_speed") > 1e9)
      .selectExpr("count(*) as n", "count(power) as np", "sum(power) as s", "min(power) as mn")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan PushedAggregates: [COUNT(*), COUNT(power), SUM(power), MIN(power)]"), plan)
    assert(plan.contains("GreaterThan(wind_speed"), s"filter must also push:\n$plan")
    val r = df.head()
    assert(!r.isNullAt(0) && r.getLong(0) === 0L, "COUNT(*) must be 0 when all rows filter out")
    assert(!r.isNullAt(1) && r.getLong(1) === 0L, "COUNT(col) must be 0 when all rows filter out")
    assert(r.isNullAt(2) && r.isNullAt(3), "SUM/MIN over zero rows stay NULL")
    assert(read.where(col("wind_speed") > 1e9).count() === 0L)
  }

  test("grouped aggregate with a filter matching NO rows is empty (no sentinel row)") {
    import org.apache.spark.sql.functions._
    val df = readGrouped.where(col("power") > 1e9).groupBy("station").count()
    assert(df.queryExecution.executedPlan.toString.contains("EnvelopeAggScan"), "must stay pushed")
    assert(df.collect().isEmpty, "zero groups must aggregate to zero rows, not a sentinel")
  }

  test("COUNT(*) over an empty directory is 0, not NULL") {
    val empty = tempDir("graft-envelope-empty").toString
    val r = spark.read.format("graft.sources.EnvelopeSource").load(empty)
      .selectExpr("count(*) as n").head()
    assert(!r.isNullAt(0) && r.getLong(0) === 0L,
      "partial-count pushdown must emit a zero row for zero files")
  }

  test("MIN/MAX push down beside COUNT: per-file extrema, merged by Spark") {
    val df = read.selectExpr("min(timestamp) as mn", "max(wind_speed) as mx", "count(*) as n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan PushedAggregates: [MIN(timestamp), MAX(wind_speed), COUNT(*)]"),
      s"min/max must reach the V2 scan:\n$plan")
    val r = df.head()
    assert(r.getTimestamp(0) === java.sql.Timestamp.valueOf("2025-08-10 00:00:00"))
    assert(r.getDouble(1) === 12.1)
    assert(r.getLong(2) === 3L)
  }

  test("SUM pushes down beside COUNT: per-file partials, merged by Spark") {
    val df = read.selectExpr("sum(power) as s", "sum(ambient_temprature) as t", "count(*) as n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(
      "EnvelopeAggScan PushedAggregates: [SUM(power), SUM(ambient_temprature), COUNT(*)]"),
      s"sum must reach the V2 scan:\n$plan")
    val r = df.head()
    assert(math.abs(r.getDouble(0) - 2229.3) < 1e-9)
    assert(math.abs(r.getDouble(1) - 41.2) < 1e-9, "null field skipped, not zeroed")
    assert(r.getLong(2) === 3L)
  }

  test("SUM pushdown composes with a pushed filter") {
    import org.apache.spark.sql.functions._
    val df = read.where(col("wind_speed") > 10.0).selectExpr("sum(power) as s")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan PushedAggregates: [SUM(power)]"), plan)
    assert(plan.contains("GreaterThan(wind_speed"), s"filter must also push:\n$plan")
    assert(math.abs(df.head().getDouble(0) - 2229.3) < 1e-9)
  }

  test("SUM DISTINCT and SUM over a timestamp both decline the pushdown") {
    val d = read.selectExpr("sum(DISTINCT power) as s")
    assert(!d.queryExecution.executedPlan.toString.contains("EnvelopeAggScan"))
    assert(math.abs(d.head().getDouble(0) - 2229.3) < 1e-9)
  }

  test("SUM over an empty directory is NULL") {
    val empty = tempDir("graft-envelope-empty3").toString
    val r = spark.read.format("graft.sources.EnvelopeSource").load(empty)
      .selectExpr("sum(power) as s", "count(*) as n").head()
    assert(r.isNullAt(0) && r.getLong(1) === 0L)
  }

  test("MIN over an empty directory is NULL, COUNT is 0") {
    val empty = tempDir("graft-envelope-empty2").toString
    val r = spark.read.format("graft.sources.EnvelopeSource").load(empty)
      .selectExpr("min(power) as mn", "count(*) as n").head()
    assert(r.isNullAt(0) && r.getLong(1) === 0L)
  }

  test("group-by EXPRESSION (not a plain field) is declined, not broken") {
    import org.apache.spark.sql.functions._
    val grouped = read.groupBy(to_date(col("timestamp"))).count()
    assert(!grouped.queryExecution.executedPlan.toString.contains("EnvelopeAggScan"))
    assert(grouped.collect().map(_.getLong(1)).sorted === Array(1L, 2L))
  }

  /** Fixture with a categorical column repeated within and across files —
    * the shape grouped partial pushdown has to merge correctly. */
  private lazy val groupedDir: String = {
    val d = tempDir("graft-envelope-grp")
    Files.writeString(d.resolve("day1.json"),
      """{"data": [
        |  {"station": "A", "power": 10.0},
        |  {"station": "B", "power": 20.0},
        |  {"station": "A", "power": 30.0},
        |  {"station": "C", "power": null}
        |], "count": 4, "filters": {}, "metadata": {}}""".stripMargin)
    Files.writeString(d.resolve("day2.json"),
      """{"data": [
        |  {"station": "B", "power": 5.0},
        |  {"station": "A", "power": 7.0}
        |], "count": 2, "filters": {}, "metadata": {}}""".stripMargin)
    d.toString
  }

  private def readGrouped = spark.read
    .format("graft.sources.EnvelopeSource")
    .schema("station STRING, power DOUBLE")
    .load(groupedDir)

  test("grouped COUNT/SUM/MIN push down by plain field: per-(file,group) partials") {
    import org.apache.spark.sql.functions._
    val df = readGrouped.groupBy("station")
      .agg(count(lit(1)).as("n"), sum("power").as("s"), min("power").as("mn"))
      .orderBy("station")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan") && plan.contains("PushedGroupBy: [station]"),
      s"grouped aggregation must reach the V2 scan:\n$plan")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) null else r.getDouble(2), if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(rows === Array(
      ("A", 3L, 47.0, 7.0),   // merged across both files
      ("B", 2L, 25.0, 5.0),
      ("C", 1L, null, null))) // all-null group: sum/min NULL, count(*) 1
  }

  test("grouped AVG pushes down via the sum/count rewrite and merges exactly") {
    import org.apache.spark.sql.functions._
    val df = readGrouped.groupBy("station").agg(avg("power").as("a")).orderBy("station")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan") && plan.contains("SUM(power)")
      && plan.contains("COUNT(power)"), s"grouped avg must partial-push:\n$plan")
    val rows = df.collect().map(r =>
      (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1)))
    // A: (10+30+7)/3 — a per-file-average-of-averages would give 17.33, the
    // sum/count partial merge must give the true 15.67
    assert(rows(0)._1 === "A" && math.abs(rows(0)._2.asInstanceOf[Double] - 47.0 / 3) < 1e-9)
    assert(rows(1) === ("B", 12.5))
    assert(rows(2) === ("C", null), "avg of an all-null group is NULL")
  }

  test("grouped pushdown composes with a pushed filter") {
    import org.apache.spark.sql.functions._
    val df = readGrouped.where(col("power") >= 7.0)
      .groupBy("station").agg(count(lit(1)).as("n")).orderBy("station")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan") && plan.contains("GreaterThanOrEqual(power"),
      s"filter must push beneath the grouped aggregate:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))) ===
      Array(("A", 3L), ("B", 1L)))
  }

  test("TWO-key grouped pushdown: per-(file,station,day) partials merge exactly") {
    import org.apache.spark.sql.functions._
    val d = tempDir("graft-envelope-grp2")
    Files.writeString(d.resolve("day1.json"),
      """{"data": [
        |  {"station": "A", "day": "d1", "power": 10.0},
        |  {"station": "A", "day": "d2", "power": 20.0},
        |  {"station": "B", "day": "d1", "power": 30.0},
        |  {"station": "A", "day": "d1", "power": 40.0}
        |], "count": 4, "filters": {}, "metadata": {}}""".stripMargin)
    Files.writeString(d.resolve("day2.json"),
      """{"data": [
        |  {"station": "A", "day": "d1", "power": 5.0},
        |  {"station": "B", "day": "d2", "power": 7.0}
        |], "count": 2, "filters": {}, "metadata": {}}""".stripMargin)
    val df = spark.read.format("graft.sources.EnvelopeSource")
      .schema("station STRING, day STRING, power DOUBLE").load(d.toString)
      .groupBy("station", "day")
      .agg(count(lit(1)).as("n"), sum("power").as("s"))
      .orderBy("station", "day")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EnvelopeAggScan") && plan.contains("PushedGroupBy: [station, day]"),
      s"both group keys must reach the V2 scan:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))) ===
      Array(("A", "d1", 3L, 55.0),  // merged across both files
            ("A", "d2", 1L, 20.0),
            ("B", "d1", 1L, 30.0),
            ("B", "d2", 1L, 7.0)))
  }

  test("grouped aggregate over an empty directory is empty (no sentinel row)") {
    import org.apache.spark.sql.functions._
    val empty = tempDir("graft-envelope-empty-grp").toString
    val df = spark.read.format("graft.sources.EnvelopeSource")
      .schema("station STRING, power DOUBLE").load(empty)
      .groupBy("station").agg(count(lit(1)))
    assert(df.collect().isEmpty)
  }

  test("timestamp range filter pushes into the scan: no post-scan Filter node") {
    import org.apache.spark.sql.functions._
    val df = read.where(col("timestamp") >= lit("2025-08-11"))
    assert(filterNodes(df).isEmpty,
      s"range conjunct must be fully claimed by the source:\n${df.queryExecution.executedPlan}")
    assert(df.queryExecution.executedPlan.toString.contains("PushedFilters: ["),
      "scan description must advertise the pushed filters")
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows(0).getTimestamp(0) === java.sql.Timestamp.valueOf("2025-08-11 00:00:00"))
  }

  test("pushed comparison on a NULL field drops the row (three-valued logic)") {
    import org.apache.spark.sql.functions._
    // day1 row2 has ambient_temprature = null → comparison UNKNOWN → dropped
    val df = read.where(col("ambient_temprature") > 10.0)
    assert(filterNodes(df).isEmpty)
    assert(df.collect().map(_.getDouble(1)).sorted === Array(2.4, 11.5))
  }

  test("filter on a pruned-out column still applies (evaluated on raw JSON)") {
    import org.apache.spark.sql.functions._
    val df = read.where(col("wind_speed") > 10.0).select("power")
    assert(df.collect().map(_.getDouble(0)).sorted === Array(1058.0, 1171.3))
  }

  test("disjunction stays residual: Filter node remains, results exact") {
    import org.apache.spark.sql.functions._
    val df = read.where(col("power") === 0.0 || col("wind_speed") > 12.0)
    assert(filterNodes(df).nonEmpty, "Or must NOT be claimed by the source")
    assert(df.collect().map(_.getDouble(1)).sorted === Array(2.4, 12.1))
  }

  test("streaming ingest: published envelopes arrive once; late file appends") {
    import org.apache.spark.sql.functions.col
    // fresh dir (not `dir`): the seen-file log must start empty
    val d = tempDir("graft-envelope-stream")
    Files.writeString(d.resolve("day1.json"),
      Files.readString(java.nio.file.Path.of(dir, "day1.json")))
    val q = EnvelopeSource.readStream(spark, d.toString)
      .writeStream.format("memory").queryName("env_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("env_stream").collect()
      assert(first.length === 2, s"day1 rows: ${first.mkString(", ")}")
      // batch/stream parity: same values, same types as the DSv2 reader
      val batch = read.where(col("timestamp") < "2025-08-11").collect()
        .map(_.toSeq).toSet
      assert(first.map(_.toSeq).toSet === batch,
        "streamed rows must match the batch DSv2 read bit-for-bit")
      // a LATE publish is one new micro-batch: only its rows append
      Files.writeString(d.resolve("day2.json"),
        Files.readString(java.nio.file.Path.of(dir, "day2.json")))
      q.processAllAvailable()
      val all = spark.table("env_stream").collect()
      assert(all.length === 3, "day2's single row must append exactly once")
      // hidden writer temps must never enter the stream
      Files.writeString(d.resolve(".tmp-envelope-inflight.json"),
        """{"data": [{"timestamp": "2025-08-12T00:00:00", "wind_speed": 1.0, "power": 2.0, "ambient_temprature": 3.0}], "count": 1}""")
      q.processAllAvailable()
      assert(spark.table("env_stream").count() === 3,
        "dot-files (in-flight writer temps) must be invisible to the stream")
    } finally q.stop()
  }

  test("streaming parse pins UTC: non-UTC session sees the same instants as batch") {
    // regression (ADVICE r8): the stream path parsed the zoneless isoformat
    // with to_timestamp(), which follows spark.sql.session.timeZone, while
    // the batch DSv2 reader pins ZoneOffset.UTC — a non-UTC user session
    // got silently shifted instants and batch/stream watermark divergence.
    val tzConf = "spark.sql.session.timeZone"
    val orig = spark.conf.get(tzConf)
    spark.conf.set(tzConf, "America/New_York")
    try {
      val q = EnvelopeSource.readStream(spark, dir)
        .writeStream.format("memory").queryName("env_stream_tz")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("env_stream_tz").collect()
          .map(_.getTimestamp(0).toInstant).toSet
        val batch = read.collect().map(_.getTimestamp(0).toInstant).toSet
        assert(streamed === batch,
          "stream and batch must agree on instants under a non-UTC session")
        assert(streamed.contains(java.time.Instant.parse("2025-08-10T00:00:00Z")),
          "zoneless isoformat must be read as UTC wall-clock")
      } finally q.stop()
      // python isoformat() carries microseconds when nonzero — the stream
      // schema's TimestampType parse must keep them, exactly like batch
      val md = tempDir("graft-envelope-micros")
      Files.writeString(md.resolve("day.json"),
        """{"data": [{"timestamp": "2025-08-10T00:00:00.123456", "wind_speed": 1.0,
          |"power": 2.0, "ambient_temprature": 3.0}], "count": 1}""".stripMargin)
      val q2 = EnvelopeSource.readStream(spark, md.toString)
        .writeStream.format("memory").queryName("env_stream_micros")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        val got = spark.table("env_stream_micros").collect()
          .map(_.getTimestamp(0).toInstant).toSeq
        assert(got === Seq(java.time.Instant.parse("2025-08-10T00:00:00.123456Z")),
          "fractional-second isoformat must survive the UTC-pinned stream parse")
      } finally q2.stop()
    } finally spark.conf.set(tzConf, orig)
  }

  test("V2 write: envelope round-trip, one part file per partition, no temps left") {
    val out = tempDir("graft-envelope-out").toString
    val src = read
    src.repartition(2).write.format("graft.sources.EnvelopeSource")
      .mode("append").save(out)
    val files = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(files.count(_.startsWith("part-")) === 2, files.mkString(","))
    assert(!files.exists(_.startsWith(".tmp")), "commit must clean temps")
    val back = spark.read.format("graft.sources.EnvelopeSource")
      .schema(EnvelopeSource.referenceSchema).load(out)
    assert(back.count() === 3)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "write→read must round-trip exactly (timestamps, nulls included)")
  }

  test("second append into a non-empty directory publishes without colliding") {
    import org.apache.spark.sql.functions._
    val out = tempDir("graft-envelope-app2").toString
    read.coalesce(1).write.format("graft.sources.EnvelopeSource")
      .mode("append").save(out)
    read.where(col("power") === 0.0).coalesce(1)
      .write.format("graft.sources.EnvelopeSource").mode("append").save(out)
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(files.count(_.startsWith("part-")) === 2,
      s"both jobs' part files must coexist (unique per-job names): ${files.mkString(",")}")
    val back = spark.read.format("graft.sources.EnvelopeSource")
      .schema(EnvelopeSource.referenceSchema).load(out)
    assert(back.count() === 4, "3 rows from job 1 + 1 row from job 2")
  }

  test("V2 overwrite truncates previous part files in the same commit") {
    import org.apache.spark.sql.functions._
    val out = tempDir("graft-envelope-ovr").toString
    read.write.format("graft.sources.EnvelopeSource").mode("append").save(out)
    val one = read.where(col("power") === 0.0)
    one.coalesce(1).write.format("graft.sources.EnvelopeSource")
      .mode("overwrite").save(out)
    val back = spark.read.format("graft.sources.EnvelopeSource")
      .schema(EnvelopeSource.referenceSchema).load(out)
    assert(back.count() === 1, "overwrite must replace, not append")
    assert(back.head().getDouble(2) === 0.0)
  }
}
