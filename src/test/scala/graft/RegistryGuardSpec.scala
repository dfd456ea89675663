package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry verification guard: every registered query MUST be verified —
  * either differentially (a DuckDB oracle in [[SparkEntry.oracleSql]],
  * which the driver hash-compares at sf0.01) or by a NAMED pinning spec
  * listed here. A query with neither fails this suite, so a future
  * operator can never land in the registry unverified: round 9 lost four
  * queries from the correctness report without a trace, and while the
  * Verify manifest (`_registry.json`) now makes a CRASHED query loud,
  * only this guard makes an UNVERIFIED one loud.
  *
  * No Spark session needed — this is pure registry introspection, so it
  * stays sub-second and always runs. */
class RegistryGuardSpec extends AnyFunSuite {

  /** Queries verified by a dedicated spec instead of a DuckDB oracle —
    * inherently oracle-less shapes (catalog introspection, sketch
    * internals whose exact bits are the contract). Adding a query here
    * requires naming the spec class that pins it; the class must exist
    * on the test classpath. */
  private val pinnedBySpec: Map[String, String] = Map(
    "a_approx_sketches" -> "graft.ops.SketchCatalogSpec",
    "s9_catalog"        -> "graft.ops.SketchCatalogSpec")

  test("every registered query has an oracle or a named pinning spec") {
    val unverified = SparkEntry.queries.keySet
      .filterNot(SparkEntry.oracleSql.contains)
      .filterNot(pinnedBySpec.contains)
    assert(unverified.isEmpty,
      s"queries with neither oracle nor pinning spec: ${unverified.toSeq.sorted.mkString(", ")} — " +
        "add an oracleSql entry (preferred) or register the spec that pins each in RegistryGuardSpec.pinnedBySpec")
  }

  test("pinning-spec entries reference live registry keys and real spec classes") {
    val stale = pinnedBySpec.keySet.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"pinnedBySpec names queries no longer registered: ${stale.mkString(", ")}")
    pinnedBySpec.values.toSet[String].foreach { cls =>
      assert(scala.util.Try(Class.forName(cls)).isSuccess,
        s"pinning spec class $cls does not exist on the test classpath")
    }
  }

  test("Layout's oracles say the cell grid and the box once, in the SQL generators") {
    // a pasted copy of the quantize block or the box predicate drifts
    // silently (a missed copy shows up only as an oracle hash mismatch):
    // the lake oracles build both from Layout's SQL fragment generators
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/ext/Layout.scala"))
    def occurrences(s: String) = java.util.regex.Pattern.quote(s).r.findAllMatchIn(text).size
    assert(occurrences("4095") <= 2, "the 12-bit quantize scale is pasted outside cellGrid")
    assert(occurrences("user_id BETWEEN 60 AND 90") <= 1,
      "the standard box predicate is pasted outside the box generator")
  }

  test("Layout's Spark reports count a pruned read once and Dedup's oracles shingle once") {
    // a pasted counting block drifts like a pasted SQL fragment: the
    // Spark-side lake reports build their rows from the one pruned-stage
    // primitive and the one per-generation report, and Dedup's oracles
    // take their trigram shingles from one fragment
    def read(f: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"src/main/scala/graft/ext/$f"))
    def occurrences(text: String, s: String) =
      java.util.regex.Pattern.quote(s).r.findAllMatchIn(text).size
    val layout = read("Layout.scala")
    val oracleStart = layout.indexOf("val queries")
    assert(oracleStart > 0, "Layout.scala no longer declares `val queries`")
    val sparkSide = layout.substring(0, oracleStart)
    assert(occurrences(sparkSide, ".as(\"files_total\")") <= 2,
      "a pruned-read report row is built outside the pruned-stage primitive")
    assert(occurrences(sparkSide, "join(counts, Seq(\"gen\")") <= 1,
      "a per-generation report is joined outside the per-generation report helper")
    assert(occurrences(read("Dedup.scala"), "generate_series(1, len(w) - 2)") <= 1,
      "the trigram-shingle CTE is pasted outside Dedup's shingle fragment")
  }

  test("every oracle key is a registered query (no orphan oracles)") {
    val orphans = SparkEntry.oracleSql.keySet.filterNot(SparkEntry.queries.contains)
    assert(orphans.isEmpty,
      s"oracleSql entries without a matching query: ${orphans.toSeq.sorted.mkString(", ")}")
  }
}
