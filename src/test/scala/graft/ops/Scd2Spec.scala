package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  /** user 1 walks a → a → b → a: consecutive duplicates must collapse,
    * the return to `a` must open a NEW version (not merge with v1).
    * user 3 has a NULL-ts event: NULLS-FIRST ordering (Spark's asc
    * default, pinned in the oracle too) makes it version 1. */
  private lazy val dir: String = {
    val d = tempDir("graft-scd2").toString
    Seq(
      (1L, Option(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")), 1L, "a", 1.0, "{}"),
      (2L, Option(java.sql.Timestamp.valueOf("2024-01-01 01:00:00")), 1L, "a", 1.0, "{}"),
      (3L, Option(java.sql.Timestamp.valueOf("2024-01-01 02:00:00")), 1L, "b", 1.0, "{}"),
      (4L, Option(java.sql.Timestamp.valueOf("2024-01-01 03:00:00")), 1L, "a", 1.0, "{}"),
      (5L, Option(java.sql.Timestamp.valueOf("2024-01-01 00:30:00")), 2L, "c", 1.0, "{}"),
      (6L, None: Option[java.sql.Timestamp], 3L, "d", 1.0, "{}"),
      (7L, Option(java.sql.Timestamp.valueOf("2024-01-01 05:00:00")), 3L, "e", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    d
  }

  test("SCD2 collapses runs, reopens on return, closes intervals end-to-end") {
    val rows = Incremental.scd2Intervals(spark, dir)
      .collect().map(r =>
        (r.getAs[Long]("user_id"), r.getAs[Long]("version"), r.getAs[String]("state"),
          Option(r.getAs[java.sql.Timestamp]("valid_from")).map(_.toString).orNull,
          Option(r.getAs[java.sql.Timestamp]("valid_to")).map(_.toString).orNull,
          r.getAs[Int]("is_current"), r.getAs[Long]("n_events")))
    val u1 = rows.filter(_._1 == 1L)
    assert(u1.length === 3, s"a-run, b, a-return = 3 versions: ${u1.mkString(";")}")
    assert(u1(0) === ((1L, 1L, "a", "2024-01-01 00:00:00.0", "2024-01-01 02:00:00.0", 0, 2L)))
    assert(u1(1) === ((1L, 2L, "b", "2024-01-01 02:00:00.0", "2024-01-01 03:00:00.0", 0, 1L)))
    assert(u1(2)._3 === "a" && u1(2)._6 === 1 && u1(2)._5 === null,
      s"returned state is a NEW current version with NULL open end: ${u1(2)}")
    val u2 = rows.filter(_._1 == 2L)
    assert(u2.length === 1 && u2(0)._6 === 1, "single-event user is one current version")
    // intervals tile the timeline: each valid_to == next valid_from
    assert(u1(0)._5 === u1(1)._4 && u1(1)._5 === u1(2)._4)
  }

  test("NULL-ts event sorts first (version 1), matching the oracle's NULLS FIRST") {
    val u3 = Incremental.scd2Intervals(spark, dir)
      .where($"user_id" === 3L).orderBy("version")
      .collect().map(r => (r.getAs[Long]("version"), r.getAs[String]("state"),
        Option(r.getAs[java.sql.Timestamp]("valid_from")), r.getAs[Int]("is_current")))
    assert(u3.length === 2, s"null-ts 'd' then 'e': ${u3.mkString(";")}")
    assert(u3(0) === ((1L, "d", None, 0)), "null-ts event opens version 1 with NULL valid_from")
    assert(u3(1)._2 === "e" && u3(1)._4 === 1)
  }
}
