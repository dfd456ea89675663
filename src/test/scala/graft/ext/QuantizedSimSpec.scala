package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class QuantizedSimSpec extends SparkSpec {
  import spark.implicits._

  /** 0/1-valued embeddings quantize EXACTLY (x·127 is an integer for
    * x ∈ {0, 1}), so the quantized ranking must equal the full-precision
    * ranking and every hit must carry the exact-top-5 flag. */
  private lazy val dir: String = {
    val d = tempDir("graft-quant").toString
    // 30 binary vectors in dim 8: vector i sets bits {i%8, (i+1)%8, (i/8)%8}
    (0 until 30).map { i =>
      val bits = Set(i % 8, (i + 1) % 8, (i / 8) % 8)
      (i.toLong, (0 until 8).map(b => if (bits(b)) 1.0f else 0.0f), i % 3)
    }.toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    d
  }

  test("binary vectors: quantized ranking == exact ranking, recall 100%") {
    val quant = Similarity.quantizedTopK(spark, dir).collect()
    val exact = Similarity.bruteTopK(spark, dir).collect()
    assert(quant.nonEmpty)
    assert(quant.forall(_.getAs[Int]("in_exact_top5") == 1),
      "exact quantization must reproduce the full-precision top-5")
    val qRank = quant.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn")) -> r.getAs[Long]("cand_id")).toMap
    val eRank = exact.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn")) -> r.getAs[Long]("cand_id")).toMap
    assert(qRank === eRank, "orderings must be identical rank-by-rank")
    // and the quantized cosines equal the exact ones (same integer dot/norms)
    val qCos = quant.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) -> r.getAs[Double]("q_cos")).toMap
    val eCos = exact.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) -> r.getAs[Double]("cos_sim")).toMap
    qCos.foreach { case (k, v) => assert(eCos(k) === v, s"cosine mismatch at $k") }
  }
}
