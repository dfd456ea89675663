package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Pins the Bloom filter's load-bearing contracts:
  *  - build-side SQL bit math ≡ probe-side Java bit math (zero false
  *    negatives, interpreted AND codegen paths);
  *  - false-positive rate within range of the analytic ε;
  *  - OR-merge ≡ whole-set build, bit-identically (the shard story).
  */
class BloomFilterSpec extends SparkSpec {
  import spark.implicits._

  private val M = 1 << 16
  private val K = 5

  // Deterministic keys spanning the full signed-long domain, negatives
  // included — the regression class the pmod/signed-% fixes guard against.
  private def keys(seed: Long, n: Int): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(rnd.nextLong())
  }

  test("no false negatives: every inserted key probes true (codegen path)") {
    val in = keys(seed = 7L, n = 10000)
    val bits = BloomFilter.build(in.toDF("h"), "h", M, K)
    val hits = in.toDF("h")
      .where(BloomFilter.mightContain(bits, col("h"), K)).count()
    assert(hits === in.size)
  }

  test("interpreted eval agrees with build for single keys") {
    val in = keys(seed = 11L, n = 64)
    val bits = BloomFilter.build(in.toDF("h"), "h", M, K)
    in.foreach { h =>
      val probe = BloomMightContain(Literal(h), bits, K)
      assert(probe.eval(null) === true, s"false negative for $h (interpreted)")
    }
  }

  test("false-positive rate tracks the analytic epsilon") {
    val in = keys(seed = 13L, n = 5000)
    val bits = BloomFilter.build(in.toDF("h"), "h", M, K)
    val inSet = in.toSet
    val probes = keys(seed = 17L, n = 20000).filterNot(inSet)
    val fp = probes.toDF("h")
      .where(BloomFilter.mightContain(bits, col("h"), K)).count()
    val eps = BloomFilter.fpp(M, K, in.size)
    val observed = fp.toDouble / probes.size
    // eps ≈ 2.2e-3 at n=5000/m=65536/k=5; allow generous sampling noise
    assert(observed <= eps * 3 + 1e-3,
      s"observed FPP $observed vs analytic $eps")
    assert(observed >= 0.0)
  }

  test("shard OR-merge is bit-identical to the whole-set build") {
    val a = keys(seed = 19L, n = 3000)
    val b = keys(seed = 23L, n = 3000)
    val whole = BloomFilter.build((a ++ b).toDF("h"), "h", M, K)
    val merged = BloomFilter.merge(
      BloomFilter.build(a.toDF("h"), "h", M, K),
      BloomFilter.build(b.toDF("h"), "h", M, K))
    assert(whole.sameElements(merged))
  }

  test("keys at the signed-long extremes build and probe (ANSI overflow guard)") {
    // h1 + i*h2 near Long.MaxValue overflows 64-bit addition; with
    // spark.sql.ansi.enabled=true (the Spark 4 default) an unmasked build
    // side throws ARITHMETIC_OVERFLOW while the Java probe side wraps.
    // wordFrame masks before adding, which is bit-identical to wrapping —
    // pin that the extremes round-trip with zero false negatives.
    val extremes = Seq(Long.MaxValue, Long.MaxValue - 1, Long.MinValue,
      Long.MinValue + 1, -1L, 0L, 1L) ++
      (0 until 64).map(b => (1L << b) - 1) ++ // all-ones prefixes incl. 2^63-1
      (0 until 64).map(b => -(1L << b))       // high-bit-heavy negatives
    val bits = BloomFilter.build(extremes.toDF("h"), "h", M, K)
    val hits = extremes.distinct.toDF("h")
      .where(BloomFilter.mightContain(bits, col("h"), K)).count()
    assert(hits === extremes.distinct.size)
    // interpreted path agrees at the extremes too
    extremes.foreach { h =>
      assert(BloomMightContain(Literal(h), bits, K).eval(null) === true,
        s"false negative for $h (interpreted)")
    }
  }

  test("build rejects non-power-of-two sizes") {
    intercept[IllegalArgumentException] {
      BloomFilter.build(Seq(1L).toDF("h"), "h", mBits = 1000, k = 3)
    }
  }
}
