package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry [[SparkEntry]] derives from every module's queries. */
class QuerySpec extends AnyFunSuite {
  test("query names are unique across every module's queries") {
    val names = SparkEntry.registry.map(_.name)
    val duplicated = names.diff(names.distinct).distinct.sorted
    assert(duplicated.isEmpty, s"registered by more than one entry: ${duplicated.mkString(", ")}")
  }
}
