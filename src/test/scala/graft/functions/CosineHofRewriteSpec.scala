package graft.functions

import org.apache.spark.sql.functions.expr

import graft.SparkSpec
import graft.ext.Similarity

/** The optimizer rule must collapse exactly the canonical HOF cosine
  * chain — and nothing else — and preserve results bit-for-bit. Runs on
  * an isolated `newSession` so the shared spec session keeps its stock
  * optimizer (SimilaritySpec's HOF-vs-native comparison stays honest). */
class CosineHofRewriteSpec extends SparkSpec {

  private lazy val s2 = {
    val s = spark.newSession()
    CosineHofRewrite.register(s)
    s
  }

  test("rule collapses the HOF cosine chain to the native expression") {
    import s2.implicits._
    // parquet-backed so ConvertToLocalRelation can't constant-fold the
    // whole projection away before the plan is observable
    val p = tempDir("graft-hofrw").toString
    Seq(
      (Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0)),
      (Seq(0.5, 0.5, 0.0), Seq(0.5, 0.5, 0.0)),
      (Seq(-1.0, 4.0, 0.25), Seq(2.0, -3.0, 8.0)))
      .toDF("a", "b").write.mode("overwrite").parquet(p)
    val df = s2.read.parquet(p)
    val q = df.select(Similarity.cosineHof("a", "b").as("c"))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("cosine_sim"), s"expected the fused native expression in: $opt")
    assert(!opt.contains("aggregate("), s"the HOF folds must be gone: $opt")

    CosineSimilarity.register(s2)
    val native = df.select(Similarity.cosine("a", "b").as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(q.collect().map(_.getDouble(0)).toSeq === native,
      "rewrite must be bit-preserving")
  }

  test("idempotent registration installs the rule once") {
    CosineHofRewrite.register(s2)
    CosineHofRewrite.register(s2)
    assert(s2.experimental.extraOptimizations.count(_ eq CosineHofRewrite) === 1)
  }

  test("non-canonical folds are left alone") {
    import s2.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(2.0, 1.0))).toDF("a", "b")
    // a bare dot product — no norm denominator, must NOT rewrite
    val dot = df.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)").as("d"))
    assert(!dot.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
    assert(dot.collect().head.getDouble(0) === 4.0)
    // mismatched norm child (norms over a, a) — must NOT rewrite
    val wrong = df.select(expr(
      """aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
        | / (sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v))
        |    * sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v)))""".stripMargin).as("c"))
    assert(!wrong.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
    // a real finish lambda transforms the fold — must NOT rewrite
    val finished = df.select(expr(
      """aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v, acc -> acc / 2)
        | / (sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v))
        |    * sqrt(aggregate(b, 0D, (acc, v) -> acc + v * v)))""".stripMargin).as("c"))
    assert(!finished.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
      "finish lambda must block the rewrite")
    assert(math.abs(finished.collect().head.getDouble(0) - 0.4) < 1e-12,
      "4/2 / (sqrt5*sqrt5) — the finish must still apply")
    // x*x over the zip is not a dot product — must NOT rewrite
    val squared = df.select(expr(
      """aggregate(zip_with(a, b, (x, y) -> x * x), 0D, (acc, v) -> acc + v)
        | / (sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v))
        |    * sqrt(aggregate(b, 0D, (acc, v) -> acc + v * v)))""".stripMargin).as("c"))
    assert(!squared.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
      "single-variable product must block the rewrite")
  }

  test("merge capturing an enclosing lambda's variable must block the rewrite") {
    import s2.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(2.0, 1.0))).toDF("a", "b")
    // inner merge is `acc + t` where t belongs to the OUTER transform —
    // two distinct lambda variables, but NOT a plain sum of this fold's
    // own (acc, v). Fold result is t + t = 2t, so per element: 2t / 5.
    val nested = df.select(expr(
      """transform(a, t ->
        |  aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + t)
        |  / (sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v))
        |     * sqrt(aggregate(b, 0D, (acc, v) -> acc + v * v))))""".stripMargin).as("c"))
    assert(!nested.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
      "captured outer lambda variable must block the rewrite")
    val got = nested.collect().head.getSeq[Double](0)
    assert(got.length === 2 && math.abs(got(0) - 0.4) < 1e-12 && math.abs(got(1) - 0.8) < 1e-12,
      s"per-element 2t/5 must survive un-rewritten: $got")
  }
}
