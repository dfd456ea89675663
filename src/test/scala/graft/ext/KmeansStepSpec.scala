package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class KmeansStepSpec extends SparkSpec {
  import spark.implicits._

  /** Two orthogonal directions among the 8 seed centroids; members assign
    * by cosine (scale-invariant), diagonal ties break to the lower id. */
  private lazy val dir: String = {
    val d = tempDir("graft-kmeans").toString
    val vecs: Seq[(Long, Seq[Float])] =
      (0 to 7).map(i => i.toLong -> (if (i % 2 == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f))) ++
        Seq(8L -> Seq(4.0f, 0.0f), 9L -> Seq(0.0f, 2.0f), 10L -> Seq(3.0f, 3.0f))
    vecs.map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    d
  }

  test("one Lloyd iteration: cosine assignment + exact per-dimension means") {
    val rows = Similarity.kmeansStep(spark, dir).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Int]("pos")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("centroid")))).toMap
    // cluster 0: ids {0,2,4,6} = [1,0], 8 = [4,0], 10 = [3,3] (diagonal tie
    // → lower id); x-mean = (4·1 + 4 + 3)/6
    assert(rows((0L, 0)) === ((6L, 1.833333)))
    assert(rows((0L, 1)) === ((6L, 0.5)))
    // cluster 1: ids {1,3,5,7} = [0,1], 9 = [0,2]
    assert(rows((1L, 0)) === ((5L, 0.0)))
    assert(rows((1L, 1)) === ((5L, 1.2)))
    // only the two populated seed clusters emit rows (empty clusters vanish —
    // callers re-seed them, same as any Lloyd implementation)
    assert(rows.keySet.map(_._1) === Set(0L, 1L))
  }
}
