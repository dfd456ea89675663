package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.functions.BloomFilter

/** Bloom-pruned n-gram decontamination — the semi-join-reduction shape for
  * benchmark contamination checks at lake scale.
  *
  * [[Curation.decontaminate]] broadcasts the exact benchmark-gram set into
  * the corpus gram stream. That is right while the set fits a broadcast;
  * a real eval registry (every benchmark, every n, paraphrase expansions)
  * grows to tens of millions of grams — hundreds of MB of broadcast hash
  * map probed once per corpus gram. This variant sends a fixed-size Bloom
  * filter (2^20 bits = 128 KiB here; a few MiB at registry scale) through
  * the stream first: the filter is a whole-stage-codegen predicate
  * ([[graft.functions.BloomMightContain]]) evaluated inline in the scan
  * loop, so ~99.9% of corpus grams die before ANY join machinery, and the
  * exact verify join sees a survivor stream sized by true hits + the
  * ε·|corpus| false-positive tail (ε = (1-e^{-kn/m})^k, reported by
  * [[graft.functions.BloomFilter.fpp]]). False negatives are impossible,
  * so the final answer is EXACT and the DuckDB oracle is the plain
  * SQL semi-join that never mentions the filter.
  *
  * At 100 TB: the filter builds from the benchmark side (one hash-agg,
  * driver collect bounded by m/64 words), ships once per executor, and
  * merges across eval-registry shards by bitwise OR — a new benchmark
  * suite ORs its filter in without rebuilding (same mergeable-summary
  * discipline as the incremental MinHash signatures, `Dedup.scala`).
  *
  * Reference tie-in: the probabilistic front of the reference's exact
  * `ON CONFLICT DO NOTHING` dedup discipline (reference
  * `etl/etl_process.py:140-166`).
  */
object BloomPrune {

  /** 64-bit gram hash stream (doc_id, g) — identical hashing to
    * [[Curation.decontaminate]]: position-explode keeps md5/conv inside
    * whole-stage codegen, duplicates within a doc survive until after the
    * filter+join cut the stream to hits (countDistinct then aggregates
    * only the tiny hit set). */
  private def grams(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .where(size(col("w")) >= 4)
    .select(col("doc_id"), col("w"), explode(expr("sequence(1, size(w) - 3)")).as("i"))
    .select(col("doc_id"),
      expr("cast(conv(substring(md5(concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2])), 1, 15), 16, 10) as bigint)")
        .as("g"))

  /** Per-doc count of distinct 4-grams shared with the benchmark slice
    * (doc_id ≡ 0 mod 37), Bloom-prefiltered then exactly verified. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // pmod, not signed %: total over the id domain (house rule since the
    // incremental-LSH sharding fix, Dedup.scala)
    val benchDocs = docs.where(pmod(col("doc_id"), lit(37)) === 0)
    val corpusDocs = docs.where(pmod(col("doc_id"), lit(37)) =!= 0)
    val benchGrams = grams(benchDocs).select(col("g")).distinct().persist()
    // Build once; 2^20 bits comfortably holds the sf-scale gram count at
    // ε ≈ (kn/m)^k. The build job also warms benchGrams for the verify join.
    val bits = BloomFilter.build(benchGrams, "g", mBits = 1 << 20, k = 5)
    grams(corpusDocs)
      .where(BloomFilter.mightContain(bits, col("g"), k = 5))
      .join(benchGrams, "g") // exact verify: kills the ε false-positive tail
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy("doc_id")
  }

  val queries: Seq[Query] = Seq(
    // The oracle IS the exact semi-join — the Bloom stage must be
    // invisible to it (no false negatives, FPs killed by the verify join).
    Query("x_decontaminate_bloom", decontaminateBloom _,
      """WITH grams AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 3),
        |      i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 15))::BIGINT))) AS g
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 4)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM grams JOIN bench USING (g)
        |WHERE doc_id % 37 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
