package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Single-buffer MinHash signature aggregate — SURVEY.md §7.3's "only
  * justified custom aggregate in the project".
  *
  * Input: one Kirsch-Mitzenmacher hash pair (h1, h2) per shingle; the
  * buffer holds all k running minima of h_i = (h1 + i·h2) mod p at once,
  * so a document's whole signature is ONE aggregation buffer (vs k
  * independent `min()` aggregates, k separate buffer slots + k expression
  * evaluations per row). Merge is elementwise min — associative and
  * commutative, so map-side partial aggregation applies as usual.
  *
  * Exposed through `functions.udaf` (Spark's sanctioned Aggregator→Column
  * bridge); arithmetic is identical to the expression formulation in
  * [[graft.ext.Dedup.minhashLsh]]'s oracle, so results are bit-equal.
  */
class MinHashSignature(k: Int, p: Long)
    extends Aggregator[(Long, Long), Array[Long], Array[Long]] with Serializable {

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], in: (Long, Long)): Array[Long] = {
    var i = 0
    while (i < k) {
      val h = (in._1 + i * in._2) % p
      if (h < buf(i)) buf(i) = h
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray

  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
}

private[functions] object ExpressionEncoderHelper {
  val longArray: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
