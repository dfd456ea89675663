package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode canonical/compatibility
  * normalization (`unicode_normalize(str, 'NFC'|'NFD'|'NFKC'|'NFKD')`),
  * with whole-stage-codegen support.
  *
  * Why an Expression: Spark ships NO normalization builtin, and text
  * dedup/fingerprinting without it silently treats `é` (U+00E9) and
  * `e`+U+0301 as different documents — the same content hashes to two
  * corpus entries, exact dedup misses the pair, and every downstream
  * token statistic double-counts. A Scala UDF would close the gap but
  * drops the whole projection out of whole-stage codegen and pays
  * per-row encoder round-trips; this expression is a single static
  * `java.text.Normalizer` call generated inline (the JDK implements the
  * full Unicode normalization tables — hand-rolling them would be both
  * slower and wrong). Already-normalized text (the overwhelming common
  * case in practice) short-circuits through `Normalizer.isNormalized` —
  * a scan, no allocation.
  *
  * Oracle story: DuckDB ships `nfc_normalize`, so NFC results are
  * differentially checked end-to-end (`x_text_normalize`); the other
  * forms are spec-pinned against JDK reference strings.
  */
case class UnicodeNormalize(child: Expression, formName: String)
    extends UnaryExpression {

  // resolve once at construction: an invalid form fails at analysis time
  private val form: Normalizer.Form = Normalizer.Form.valueOf(formName)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize expects STRING, got ${t.catalogString}")
  }

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unicode_normalize"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      UnicodeNormalize.normalize(input.asInstanceOf[UTF8String].toString, form.name))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.functions.UnicodeNormalize.normalize($c.toString(), "${form.name}"));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize extends NativeFunction("unicode_normalize", classOf[UnicodeNormalize]) {

  /** Shared by interpreted eval and generated code (called via the
    * companion's static forwarder). isNormalized first: for the common
    * already-NFC case it is a scan with zero allocation. */
  def normalize(s: String, formName: String): String = {
    val form = Normalizer.Form.valueOf(formName)
    if (Normalizer.isNormalized(s, form)) s else Normalizer.normalize(s, form)
  }

  /** `unicode_normalize(str[, form])`; form defaults to NFC and must be
    * a foldable literal. */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 1 || args.length == 2,
      "unicode_normalize expects (str) or (str, form)")
    val form = if (args.length == 2) {
      require(args(1).foldable, "normalization form must be a literal")
      args(1).eval().toString
    } else "NFC"
    UnicodeNormalize(args.head, form)
  }
}
