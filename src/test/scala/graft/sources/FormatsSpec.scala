package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.Tables

class FormatsSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.001")
  private lazy val tmp = tempDir("graft-formats").toString

  private def assertSame(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.schema === b.schema)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("csv round-trip preserves schema and values (µs timestamps included)") {
    Formats.writeCsv(events, s"$tmp/csv")
    assertSame(events, Formats.readCsv(spark, s"$tmp/csv", events.schema))
  }

  test("json round-trip preserves schema and values") {
    Formats.writeJson(events, s"$tmp/json")
    assertSame(events, Formats.readJson(spark, s"$tmp/json", events.schema))
  }

  test("orc round-trip preserves schema and values") {
    Formats.writeOrc(events, s"$tmp/orc")
    assertSame(events, Formats.readOrc(spark, s"$tmp/orc"))
  }
}
