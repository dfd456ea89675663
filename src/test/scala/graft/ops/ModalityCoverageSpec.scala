package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class ModalityCoverageSpec extends SparkSpec {
  import spark.implicits._

  test("holes and dangles are counted; coverage is docs-side") {
    val d = tempDir("graft-modality").toString
    // docs 0..3; embeddings for 1, 2, and a dangling 99
    Seq((0L, "a", "en", "s", 1L), (1L, "b", "en", "s", 1L),
      (2L, "c", "en", "s", 1L), (3L, "d", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    Seq((1L, Seq(1f, 0f), 0L), (2L, Seq(0f, 1f), 0L), (99L, Seq(1f, 1f), 0L))
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    val r = QualityChecks.modalityCoverage(spark, d).head()
    assert(r.getAs[Long]("n_ids") === 5L)          // ids 0,1,2,3,99
    assert(r.getAs[Long]("n_paired") === 2L)       // 1, 2
    assert(r.getAs[Long]("n_docs_unembedded") === 2L) // 0, 3
    assert(r.getAs[Long]("n_dangling_vecs") === 1L)   // 99
    assert(r.getAs[Double]("coverage") === 0.5)    // 2 of 4 docs
  }

  test("fully paired tables report coverage 1.0 with no holes") {
    val r = QualityChecks.modalityCoverage(spark, "/root/testdata/sf0.001").head()
    assert(r.getAs[Long]("n_docs_unembedded") === 0L)
    assert(r.getAs[Long]("n_dangling_vecs") === 0L)
    assert(r.getAs[Double]("coverage") === 1.0)
  }
}
