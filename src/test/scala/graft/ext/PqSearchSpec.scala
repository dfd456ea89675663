package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class PqSearchSpec extends SparkSpec {
  import spark.implicits._

  /** Every vector is a combination of 2 lo-patterns × 2 hi-patterns, all
    * four combinations present among the 8 seeds — so each subspace
    * assignment hits an IDENTICAL sub-centroid and reconstruction is
    * exact, making PQ search provably lossless on this corpus. */
  private lazy val dir: String = {
    val d = tempDir("graft-pq").toString
    val lo = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val hi = Seq(Seq(1.0f, 1.0f), Seq(1.0f, 0.0f))
    (0 until 24).map { i =>
      (i.toLong, lo(i % 2) ++ hi((i / 2) % 2), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    d
  }

  test("exactly-representable corpus: PQ search == full-precision search") {
    val pq = Similarity.pqSearch(spark, dir).collect()
    val exact = Similarity.bruteTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) -> r.getAs[Double]("cos_sim"))
      .toMap
    assert(pq.nonEmpty)
    assert(pq.forall(_.getAs[Int]("in_exact_top5") == 1),
      "lossless reconstruction must reproduce the exact top-5")
    pq.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(exact(k) === r.getAs[Double]("pq_cos"), s"cosine must be exact at $k")
    }
  }

  test("codes index into the seed codebooks (0..7) for every vector") {
    val codes = Similarity.pqCodes(spark, dir).collect()
    assert(codes.length === 24)
    assert(codes.forall(r => r.getAs[Long]("code_lo") < 8 && r.getAs[Long]("code_hi") < 8))
  }
}
