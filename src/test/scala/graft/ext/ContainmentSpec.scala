package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 20).map(i => s"w$i").mkString(" ")

  /** doc1 = doc2 (exact copies — identical minhash signatures, so the LSH
    * pair is guaranteed); doc3 = doc1 + a short suffix (near-superset). */
  private lazy val dir: String = {
    val d = tempDir("graft-contain").toString
    Seq(
      (1L, base, "en", "s0", 0L),
      (2L, base, "en", "s0", 0L),
      (3L, s"$base y1 y2 y3 y4", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("containment: exact copies score 1.0 both ways; supersets are asymmetric") {
    val rows = Dedup.containment(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r).toMap
    val dup = rows((1L, 2L))
    assert(dup.getAs[Double]("contain_a") === 1.0 && dup.getAs[Double]("contain_b") === 1.0)
    assert(dup.getAs[Int]("near_contained") === 1)
    assert(dup.getAs[Long]("n_inter") === dup.getAs[Long]("n_a"))
    // the superset pair is a candidate only if a shared shingle wins a
    // band's minhash — when it does, the short side must be FULLY contained
    // while the long side is not (the asymmetry Jaccard can't see)
    Seq((1L, 3L), (2L, 3L)).flatMap(rows.get).foreach { r =>
      assert(r.getAs[Double]("contain_a") === 1.0, s"short side fully contained: $r")
      assert(r.getAs[Double]("contain_b") < 1.0, s"long side not contained: $r")
    }
    // structural invariants on every emitted pair
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_inter") <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
    }
  }
}
