package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The fused digest-slice expression must be BIT-identical to the
  * portable `cast(conv(substring(md5(x), p, n), 16, 10) as bigint)`
  * chain it replaces — the DuckDB oracles still run the chain, so any
  * divergence is an immediate hash mismatch. The shared spec session
  * carries [[Md5ConvRewrite]], which would fuse the chain into the very
  * expression it checks, so the equality cases run on
  * `SparkSpec.plain`, which has the function but not the rule. */
class Md5Slice64Spec extends SparkSpec {
  import spark.implicits._

  private lazy val plain = SparkSpec.plain

  private def chain(c: String, p: Int, n: Int) =
    expr(s"cast(conv(substring(md5($c), $p, $n), 16, 10) as bigint)")

  private def native(c: String, p: Int, n: Int) = expr(s"md5_slice64($c, $p, $n)")

  /** `chain(c, p, n)` over `df` stays the chain: nothing fuses the reference. */
  private def assertUnfused(df: DataFrame, c: String, p: Int, n: Int): Unit = {
    val plan = df.select(chain(c, p, n)).queryExecution.optimizedPlan.toString
    assert(!plan.contains("md5_slice64"), s"the reference chain was rewritten:\n$plan")
  }

  test("bit-equality with the SQL chain across every legal (pos, len) shape") {
    val docs = plain.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").limit(200)
    // prefixes (the rewrite shapes), interior slices (minhash h2), odd
    // lengths (60-bit shingle keys), single digits
    val shapes = Seq((1, 15), (1, 12), (1, 8), (9, 8), (17, 15), (1, 1), (32, 1), (5, 7))
    shapes.foreach { case (p, n) =>
      assertUnfused(docs, "text", p, n)
      val diff = docs
        .select(chain("text", p, n).as("c"), native("text", p, n).as("f"))
        .where($"c" =!= $"f" || $"c".isNull =!= $"f".isNull)
        .count()
      assert(diff === 0, s"slice ($p, $n) diverged from the SQL chain")
    }
  }

  test("edge inputs: empty string, unicode, null") {
    val df = plain.createDataFrame(Seq(Tuple1(Some("")), Tuple1(Some("héllo wörld ☃")),
      Tuple1(Some("a")), Tuple1(Option.empty[String]))).toDF("s")
    assertUnfused(df, "s", 1, 15)
    val rows = df.select(chain("s", 1, 15).as("c"), native("s", 1, 15).as("f")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1))
    }
  }

  test("rewrite collapses a single-slice chain and leaves double-slice md5 on CSE") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // single slice of the digest → fused
    val single = docs.select(chain("text", 1, 15).as("k"))
    assert(single.queryExecution.optimizedPlan.toString.contains("md5_slice64"),
      s"single-slice chain must fuse:\n${single.queryExecution.optimizedPlan}")
    // two slices of the SAME digest (the minhash h1/h2 shape) → untouched,
    // so subexpression elimination keeps computing the digest once
    val double = docs.select(chain("text", 1, 8).as("h1"), chain("text", 9, 8).as("h2"))
    assert(!double.queryExecution.optimizedPlan.toString.contains("md5_slice64"),
      s"double-slice md5 must stay on the shared chain:\n${double.queryExecution.optimizedPlan}")
    // values are unchanged by the rewrite: the fused result equals the
    // chain evaluated where no rule rewrites it
    val viaRule = single.collect().map(_.getLong(0)).sorted
    val plainDocs = plain.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assertUnfused(plainDocs, "text", 1, 15)
    val viaChain = plainDocs.select(chain("text", 1, 15)).collect().map(_.getLong(0)).sorted
    assert(viaRule.toSeq === viaChain.toSeq)
  }

  test("whole-stage codegen accepts the fused expression") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("md5_slice64(text, 1, 15) AS k")
    // a `*(n)` stage prefix in executedPlan means the node is inside
    // whole-stage codegen (same assertion as the cosine PlanSpec pin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[md5_slice64.*"),
      s"fused expr fell out of codegen:\n$plan")
    assert(df.where($"k" < 0).count() === 0, "60-bit slices are always non-negative")
  }
}
