package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Bloom stage must be invisible in the answer: prefilter + exact
  * verify ≡ plain exact semi-join, on a fixture engineered so the bench
  * slice (doc_id ≡ 0 mod 37) shares some grams and not others. */
class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-bloomprune").toString
    // doc 0 and 37 are bench; 1 copies doc 0's text (full hit), 2 shares a
    // 4-word window with doc 37 (single-gram hit), the rest are clean.
    val rows = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "bench", 36L),
      (37L, "one two three four five six seven", "en", "bench", 33L),
      (1L, "alpha beta gamma delta epsilon zeta", "en", "web", 36L),
      (2L, "zz one two three four yy xx ww", "en", "web", 30L),
      (3L, "totally unrelated text with many words here", "en", "web", 43L),
      (4L, "short", "en", "web", 5L)) ++
      (5L to 30L).map(i => (i, s"filler document number $i with unique tail $i", "en", "web", 40L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("bloom-pruned decontamination equals the exact semi-join") {
    val got = BloomPrune.decontaminateBloom(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // Exact reference computed independently (no bloom): distinct shared
    // 4-grams per corpus doc.
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 4)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 3), i -> concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2]))")).as("gram"))
      .distinct()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = grams(docs.where(pmod(col("doc_id"), lit(37)) === 0))
      .select(col("gram")).distinct()
    val expected = grams(docs.where(pmod(col("doc_id"), lit(37)) =!= 0))
      .join(bench, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(got === expected)
    // Sanity on the fixture shape itself: the full copy hits on all 3 of
    // its grams, the window-sharer on exactly 1, clean docs are absent.
    assert(got.toMap.get(1L) === Some(3L))
    assert(got.toMap.get(2L) === Some(1L))
    assert(!got.toMap.contains(3L))
  }
}
