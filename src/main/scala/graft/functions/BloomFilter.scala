package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Distributed Bloom filter over 64-bit keys: build as one hash-agg +
  * bounded driver collect, probe as a native whole-stage-codegen
  * predicate, merge across shards by bitwise OR.
  *
  * Why this exists (100 TB decontamination / semi-join pruning): an exact
  * semi-join against a benchmark set either broadcasts the whole set
  * (hundreds of MB once the set holds millions of n-grams) or shuffles the
  * corpus-side stream (corpus-sized exchange). A Bloom filter is a fixed
  * `m/8`-byte bit array — kilobytes to a few MB — that prefilters the
  * corpus stream down to true hits + an ε false-positive tail *before*
  * any join, so the exact verify join only ever sees a survivor stream
  * sized by the answer, not by the corpus. The final join keeps results
  * exact: the Bloom stage can only let extra rows *through* (no false
  * negatives), never drop a real hit, so correctness is oracle-checkable
  * by plain SQL that never mentions the filter.
  *
  * Probe positions use Kirsch–Mitzenmacher double hashing (ESA'06 — two
  * base hashes simulate k independent ones with no accuracy loss):
  * `pos_i = (h1 + i·h2) & (m-1)` with `h1 = h`, `h2 = (h >>> 32) | 1`
  * (odd, so the stride visits every slot of the power-of-two table). The
  * SAME arithmetic is expressed twice — as Spark SQL columns on the build
  * side and as scalar Java on the probe side — and pinned equal by the
  * no-false-negative property in `BloomFilterSpec`.
  *
  * Sharding: Bloom bits are a monoid under bitwise OR —
  * `bloom(A ∪ B) == bloom(A) | bloom(B)` bit-identically — so per-shard
  * filters build independently (one agg per ingest delta) and merge in
  * O(m/64), the same mergeable-summary discipline as the incremental
  * MinHash path ([[graft.ext.Dedup.mergeMinhash]]).
  *
  * Reference tie-in: the reference deduplicates per-day batches with an
  * exact `ON CONFLICT DO NOTHING` unique index (reference
  * `etl/etl_process.py:140-166`); this is the probabilistic prefilter a
  * lake-scale engine puts in front of that exact check.
  */
object BloomFilter extends NativeFunction("bloom_might_contain", classOf[BloomMightContain]) {

  /** Number of 64-bit words for an `mBits`-slot filter (`mBits` must be a
    * power of two ≥ 64 so the probe can mask instead of mod). */
  private def words(mBits: Int): Int = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64, got $mBits")
    mBits / 64
  }

  /** Build Bloom bits from a frame of 64-bit keys.
    *
    * Shape: explode each key to its k probe positions, reduce to one
    * `bit_or` mask per 64-bit word (hash-agg, map-side partials), collect
    * at most `mBits/64` (word, bits) rows to the driver. The collect is
    * bounded by the FILTER size (16 KiB of longs for the default 2^20
    * bits), never by the key count — this is the one deliberate driver
    * materialization, same discipline as the LSH band-index bucket list.
    */
  def build(keys: DataFrame, hashCol: String, mBits: Int = 1 << 20, k: Int = 5): Array[Long] = {
    val nWords = words(mBits)
    val out = new Array[Long](nWords)
    wordFrame(keys, hashCol, mBits, k)
      .collect().foreach { r => out(r.getInt(0)) = r.getLong(1) }
    out
  }

  /** The distributed stage of [[build]] as a frame of set words —
    * `(w: int, bits: long)`, one row per NONZERO 64-bit word. This is the
    * persistable shape: OR-merging two word frames (union + `bit_or` per
    * word) equals the OR-merge of the dense arrays, so a streaming
    * maintainer can fold per-batch frames into a stored table without
    * ever materializing the dense filter except to probe
    * ([[graft.streaming.BloomMaintenance]]). */
  def wordFrame(keys: DataFrame, hashCol: String, mBits: Int, k: Int): DataFrame = {
    words(mBits) // validate the power-of-two shape
    val mask = (mBits - 1).toLong
    // h2 | 1 keeps the stride odd => full-period over the power-of-two table.
    // Mask BEFORE the add/multiply: the low bits of a sum/product depend only
    // on the low bits of the operands, so ((h1&mask) + i*(h2&mask)) & mask is
    // bit-identical to the probe side's wrapping (h1 + i*h2) & mask — but it
    // can never overflow, which matters because Spark 4 runs with
    // spark.sql.ansi.enabled=true where an unguarded h1 + i*h2 near
    // Long.MaxValue throws ARITHMETIC_OVERFLOW at build time while the Java
    // probe side would have wrapped silently. (mask has bit 0 set, so
    // h2 & mask stays odd => full period is preserved.)
    keys
      .select(col(hashCol).cast(LongType).as("h"))
      .select(col("h").bitwiseAND(lit(mask)).as("h1"),
        expr(s"(shiftrightunsigned(h, 32) | 1L) & ${mask}L").as("h2"),
        expr(s"explode(sequence(0, ${k - 1}))").as("i"))
      .select(((col("h1") + col("i").cast(LongType) * col("h2")).bitwiseAND(lit(mask))).as("pos"))
      .select(expr("cast(shiftrightunsigned(pos, 6) as int)").as("w"),
        expr("shiftleft(1L, cast(pos & 63L as int))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
  }

  /** OR-merge of two same-shape filters: `bloom(A ∪ B)`. */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, s"shape mismatch: ${a.length} vs ${b.length} words")
    Array.tabulate(a.length)(i => a(i) | b(i))
  }

  /** Probe predicate as a Column over a LONG hash column.
    *
    * Routed through the session function registry (the same path as
    * `cosine_sim`): the bits ride as a foldable array<bigint> literal that
    * [[register]]'s builder unwraps into the expression's long[] at
    * analysis time. `graft.exec.Session.install` registers it — the
    * factory and every [[graft.Tables.table]] read run that. */
  def mightContain(bits: Array[Long], hash: Column, k: Int = 5): Column =
    org.apache.spark.sql.functions.call_function(
      "bloom_might_contain", hash, lit(bits), lit(k))

  /** `bloom_might_contain(hash, bits, k)`. */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 3, "bloom_might_contain expects (hash, bits, k)")
    require(args(1).foldable, "bloom bits must be a foldable literal")
    require(args(2).foldable, "k must be a foldable literal")
    val bitsArr = args(1).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val k = args(2).eval().asInstanceOf[Number].intValue()
    BloomMightContain(args.head, bitsArr, k)
  }

  /** Theoretical false-positive probability for n inserted keys. */
  def fpp(mBits: Int, k: Int, n: Long): Double =
    math.pow(1.0 - math.exp(-k.toDouble * n / mBits), k.toDouble)
}

/** `bloom_might_contain(h)` — whole-stage-codegen membership probe.
  *
  * The bit array rides along as a plan-referenced object
  * (`ctx.addReferenceObj`), not a Literal child: a 16 KiB–few-MB long[]
  * serialized once per plan, probed with two loads and an AND per
  * position, inline in the scan's generated loop — the corpus-side stream
  * is filtered at full codegen speed with zero join machinery.
  */
case class BloomMightContain(child: Expression, bits: Array[Long], k: Int)
    extends UnaryExpression {

  require(bits.nonEmpty && ((bits.length * 64) & (bits.length * 64 - 1)) == 0,
    s"bits must span a power-of-two slot count, got ${bits.length} words")

  private val mask: Long = bits.length.toLong * 64 - 1

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects BIGINT, got ${t.catalogString}")
  }

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(input: Any): Any = {
    val h1 = input.asInstanceOf[Long]
    val h2 = (h1 >>> 32) | 1L
    var i = 0
    while (i < k) {
      val pos = (h1 + i * h2) & mask
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    nullSafeCodeGen(ctx, ev, h => {
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val i = ctx.freshName("i")
      val pos = ctx.freshName("pos")
      s"""
         |long $h1 = $h;
         |long $h2 = ($h1 >>> 32) | 1L;
         |${ev.value} = true;
         |for (int $i = 0; $i < $k; $i++) {
         |  long $pos = ($h1 + $i * $h2) & ${mask}L;
         |  if (($bitsRef[(int)($pos >>> 6)] & (1L << (int)($pos & 63L))) == 0L) {
         |    ${ev.value} = false;
         |    break;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
