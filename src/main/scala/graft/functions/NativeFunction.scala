package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** A graft native SQL function: its name and the one [[build]] both
  * registration routes use — [[register]] on a live session (run by
  * `graft.exec.Session.install`), and [[GraftExtensions]] for every
  * session created with the extension. */
abstract class NativeFunction(val name: String, val expression: Class[_ <: Expression]) {
  /** The expression for the SQL call's `args`. */
  def build(args: Seq[Expression]): Expression

  /** Register [[name]] as a temp SQL function on `spark` unless the
    * session already has it, so query code can use it via `expr(...)`;
    * a repeat call leaves the registry untouched (a replacement would
    * log a WARN per call, and every table read installs the session). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, "built-in")
  }

  /** The function as a `SparkSessionExtensions.injectFunction` entry. */
  def description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(expression.getName, name), build)
}

object NativeFunction {
  /** Every graft native function: what `graft.exec.Session.install`
    * registers and [[GraftExtensions]] injects. */
  val all: Seq[NativeFunction] = Seq(CosineSimilarity, Md5Slice64, BloomFilter, UnicodeNormalize)
}
