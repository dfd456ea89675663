package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** What [[GraftExtensions]] wires into a session, recorded without one. */
class GraftExtensionsSpec extends AnyFunSuite {
  test("GraftExtensions injects every native function and both rewrite rules") {
    val functions = mutable.Buffer.empty[String]
    val rules = mutable.Buffer.empty[Rule[LogicalPlan]]
    val recording = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = functions += f._1.funcName
      override def injectOptimizerRule(rule: RuleBuilder): Unit = rules += rule(null)
    }
    new GraftExtensions()(recording)
    assert(functions.sorted ===
      Seq("bloom_might_contain", "cosine_sim", "md5_slice64", "unicode_normalize"))
    assert(rules.toSet === Set[Rule[LogicalPlan]](CosineHofRewrite, Md5ConvRewrite))
    assert(rules.size === 2)
  }
}
