package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `md5_slice64(input, pos, len)` — the md5
  * digest's hex digits [pos, pos+len) (1-based, ≤ 15 of them) as an
  * unsigned BIGINT, bit-identical to the portable SQL chain
  *
  * {{{ cast(conv(substring(md5(x), pos, len), 16, 10) as bigint) }}}
  *
  * Why an Expression: the chain materializes a 32-char hex string, slices
  * it into a second string, parses THAT back through base conversion into
  * a decimal string, and finally casts to long — four expression nodes
  * and three transient strings per evaluation, on the path every dedup
  * shingle, KMV/count-min probe, and bootstrap replicate key takes. The
  * fused form reads the nibbles straight off the 16 digest bytes.
  * ≤ 15 hex digits = ≤ 60 bits, so the value is always a non-negative
  * long — exactly what `conv(..., 16, 10)` followed by a bigint cast
  * produces for these lengths.
  *
  * The digest instance is thread-local (MessageDigest is stateful and
  * not shareable across tasks); `reset()` + `digest()` per row, no
  * per-row allocation beyond the 16-byte result MD5 itself returns.
  */
case class Md5Slice64(input: Expression, pos: Expression, len: Expression)
    extends TernaryExpression {

  override def first: Expression = input
  override def second: Expression = pos
  override def third: Expression = len

  override def checkInputDataTypes(): TypeCheckResult = {
    val inOk = input.dataType == BinaryType || input.dataType == StringType
    if (!inOk) return TypeCheckResult.TypeCheckFailure(
      s"md5_slice64 expects a string or binary input, got ${input.dataType.catalogString}")
    (pos, len) match {
      case (Literal(p: Int, IntegerType), Literal(n: Int, IntegerType))
          if p >= 1 && n >= 1 && n <= 15 && p + n - 1 <= 32 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "md5_slice64 expects literal pos >= 1, 1 <= len <= 15, pos+len-1 <= 32")
    }
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "md5_slice64"

  override protected def nullSafeEval(in: Any, p: Any, n: Any): Any = {
    val bytes = in match {
      case b: Array[Byte] => b
      case s: UTF8String  => s.getBytes
    }
    Md5Slice64.compute(bytes, p.asInstanceOf[Int], n.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (in, p, n) => {
      val bytes = if (input.dataType == StringType) s"$in.getBytes()" else in
      s"${ev.value} = graft.functions.Md5Slice64.compute($bytes, $p, $n);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Md5Slice64 =
    copy(input = newFirst, pos = newSecond, len = newThird)
}

/** `md5_slice64(x, pos, len)`. */
object Md5Slice64 extends NativeFunction("md5_slice64", classOf[Md5Slice64]) {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Hex digits [pos, pos+len) of md5(bytes), 1-based, as an unsigned
    * long. Called from both the interpreted and the generated path. */
  def compute(bytes: Array[Byte], pos: Int, len: Int): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var hexIdx = pos - 1
    val end = hexIdx + len
    while (hexIdx < end) {
      // hex digit 2i is byte i's high nibble, 2i+1 its low nibble
      val nib =
        if ((hexIdx & 1) == 0) (d(hexIdx >> 1) >> 4) & 0xf
        else d(hexIdx >> 1) & 0xf
      v = (v << 4) | nib
      hexIdx += 1
    }
    v
  }

  def build(args: Seq[Expression]): Expression = {
    require(args.length == 3, "md5_slice64 expects exactly 3 arguments")
    Md5Slice64(args.head, args(1), args(2))
  }
}
