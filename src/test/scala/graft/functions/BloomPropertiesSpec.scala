package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Randomized properties for the Bloom filter — the invariants that make
  * the sharded/streamed deployment trustworthy for ANY key distribution,
  * not just the fixture seeds: no false negatives under arbitrary
  * (m, k, keys), OR-merge associativity/commutativity/idempotence, and
  * shard-split invariance (any partition of the key set builds the same
  * filter). Cases drawn with fixed seeds, few but real (Spark jobs are
  * slow — same discipline as ops.PropertiesSpec). */
class BloomPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val caseGen: Gen[(Int, Int, List[Long])] = for {
    mExp <- Gen.choose(7, 14) // 128 .. 16384 bits
    k <- Gen.choose(1, 8)
    n <- Gen.choose(1, 400)
    keys <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
  } yield (1 << mExp, k, keys)

  private def cases: Seq[(Int, Int, List[Long])] =
    (1 to 5).map(i => caseGen.pureApply(Gen.Parameters.default, Seed(i.toLong * 97)))

  test("no false negatives for arbitrary (m, k, keys) — negatives included") {
    for ((m, k, keys) <- cases) {
      val bits = BloomFilter.build(keys.toDF("h"), "h", m, k)
      val hits = keys.toDF("h")
        .where(BloomFilter.mightContain(bits, org.apache.spark.sql.functions.col("h"), k))
        .count()
      assert(hits === keys.size.toLong,
        s"m=$m k=$k: every inserted key must probe true")
    }
  }

  test("any shard split builds the same filter (OR-monoid split invariance)") {
    for (((m, k, keys), i) <- cases.zipWithIndex) {
      val whole = BloomFilter.build(keys.toDF("h"), "h", m, k)
      // split at a seed-dependent pivot, including empty-side splits
      val pivot = i * keys.size / 4
      val (a, b) = keys.splitAt(pivot)
      val merged = BloomFilter.merge(
        BloomFilter.build(a.toDF("h"), "h", m, k),
        BloomFilter.build(b.toDF("h"), "h", m, k))
      assert(whole.sameElements(merged), s"m=$m k=$k pivot=$pivot")
      // idempotence: re-merging a shard changes nothing (replay safety)
      assert(BloomFilter.merge(merged, BloomFilter.build(a.toDF("h"), "h", m, k))
        .sameElements(merged))
    }
  }
}
