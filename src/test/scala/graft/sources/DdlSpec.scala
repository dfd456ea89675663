package graft.sources

import graft.SparkSpec

/** S6 round-trip: explicit CREATE TABLE ... USING parquet DDL, SQL
  * insert/select over it, DESCRIBE introspection, idempotent re-create. */
class DdlSpec extends SparkSpec {

  test("CREATE TABLE USING parquet round-trips: insert, select, describe, drop") {
    val t = "graft_ddl_spec_source"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Ddl.createSourceTable(spark, t)
    try {
      // idempotent: IF NOT EXISTS must tolerate a second create
      Ddl.createSourceTable(spark, t)

      spark.sql(
        s"""INSERT INTO $t VALUES
           |(1, TIMESTAMP '2025-08-10 00:00:00', 11.5, 1058.0, 21.3),
           |(2, TIMESTAMP '2025-08-10 00:01:00', 12.1, 1171.3, NULL)""".stripMargin)
      val rows = spark.sql(s"SELECT id, wind_speed, ambient_temprature FROM $t ORDER BY id")
        .collect()
      assert(rows.length === 2)
      assert(rows(0).getDouble(1) === 11.5)
      assert(rows(1).isNullAt(2), "NULL must round-trip through parquet")

      // DESCRIBE surfaces the reference schema, misspelling and comments included
      val desc = Ddl.describeTable(spark, t).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      assert(desc("ambient_temprature")._1 === "double")
      assert(desc("timestamp")._1 === "timestamp")
      assert(desc("wind_speed")._2 === "wind speed in m/s",
        "column COMMENT must survive into the catalog")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(!spark.catalog.tableExists(t))
  }

  test("external table: data at an explicit LOCATION outlives DROP TABLE") {
    val loc = tempDir("graft-ddl-ext").toString
    val t = "graft_ddl_spec_ext"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Ddl.createSourceTable(spark, t, Some(loc))
    spark.sql(s"INSERT INTO $t VALUES (1, TIMESTAMP '2025-08-10 00:00:00', 2.4, 0.0, 19.9)")
    spark.sql(s"DROP TABLE $t")
    // parquet files remain; a re-created table over the same location sees them
    Ddl.createSourceTable(spark, t, Some(loc))
    try assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) === 1L)
    finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("daily lake: MSCK discovers sink-written partitions, SHOW PARTITIONS lists them") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val lake = tempDir("graft-ddl-lake").toString
    val t = "graft_ddl_spec_daily"
    def day(df: org.apache.spark.sql.DataFrame) = PartitionedSink.writeDaily(df, lake)
    day(Seq(
      (1L, java.sql.Timestamp.valueOf("2025-08-10 00:00:00"), 11.5, 1058.0, 21.3),
      (2L, java.sql.Timestamp.valueOf("2025-08-10 00:01:00"), 12.1, 1171.3, 20.9),
      (3L, java.sql.Timestamp.valueOf("2025-08-11 00:00:00"), 2.4, 0.0, 19.9))
      .toDF("id", "timestamp", "wind_speed", "power", "ambient_temprature"))
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Ddl.createDailyTable(spark, t, lake)
    try {
      // partition METADATA drives the scans: before discovery the catalog
      // knows no partitions, so the table is empty despite the files
      assert(spark.table(t).count() === 0L,
        "an undiscovered external partitioned table must see no partitions")
      Ddl.discoverPartitions(spark, t)
      assert(spark.table(t).count() === 3L)
      val parts = Ddl.showPartitions(spark, t).collect().map(_.getString(0)).sorted
      assert(parts === Array("day=2025-08-10", "day=2025-08-11"))
      // a LATE day written straight to the lake (catalog-less sink run)
      day(Seq((4L, java.sql.Timestamp.valueOf("2025-08-12 00:00:00"), 5.0, 100.0, 18.0))
        .toDF("id", "timestamp", "wind_speed", "power", "ambient_temprature"))
      assert(spark.table(t).count() === 3L, "the late day is invisible until re-discovery")
      Ddl.discoverPartitions(spark, t)
      assert(Ddl.showPartitions(spark, t).count() === 3L)
      // day filter prunes on partition metadata (directory level, no file IO)
      val pruned = spark.table(t).where(col("day") === "2025-08-10")
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters:") && scan.contains("day"),
        s"day predicate must reach the scan's partition filters:\n$scan")
      assert(pruned.count() === 2L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(new java.io.File(lake, "day=2025-08-10").exists,
      "external data must outlive DROP TABLE")
  }

  test("malformed identifiers are rejected before reaching the SQL text") {
    for (bad <- Seq("x; DROP TABLE y", "a-b", "", "db.", ".t", "t (id INT)", "a'b"))
      assertThrows[IllegalArgumentException](Ddl.createSourceTable(spark, bad))
    assertThrows[IllegalArgumentException](Ddl.describeTable(spark, "x; SELECT 1"))
  }

  test("a quoted LOCATION path cannot break out of its string literal") {
    val base = tempDir("graft-ddl-q")
    // a directory name containing a single quote must arrive intact
    val loc = base.resolve("odd'name").toString
    val t = "graft_ddl_spec_quote"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Ddl.createSourceTable(spark, t, Some(loc))
    try {
      spark.sql(s"INSERT INTO $t VALUES (1, TIMESTAMP '2025-08-10 00:00:00', 2.4, 0.0, 19.9)")
      assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) === 1L)
      assert(new java.io.File(loc).exists, "data must land under the quoted path")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
