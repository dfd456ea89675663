package graft.ext

import graft.SparkSpec

class PagerankSpec extends SparkSpec {
  import spark.implicits._

  test("star graph: hub dominates, leaves tie, mass is conserved up to floor loss") {
    // star 1—{2,3,4}: hub degree 3, leaves degree 1, n = 4
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val rows = Curation.pagerankEdges(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("deg"), r.getAs[Long]("rank_units"))))
      .toMap
    assert(rows(1L)._1 === 3 && rows(2L)._1 === 1)
    val leaves = Seq(2L, 3L, 4L).map(rows(_)._2)
    assert(leaves.distinct.size === 1, s"symmetric leaves must tie exactly: $leaves")
    assert(rows(1L)._2 > leaves.head, "hub must out-rank leaves")
    // total mass stays within floor-division leakage of the 1e9 budget
    val total = rows.values.map(_._2).sum
    assert(total <= 1000000000L && total > 900000000L, s"mass conservation: $total")
  }

  test("disconnected pairs: each 2-clique splits its own mass evenly") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val rows = Curation.pagerankEdges(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_units")).toMap
    assert(rows.values.toSet.size === 1, s"4 symmetric nodes, 1 rank value: $rows")
  }

  test("reliable-checkpoint mode: bit-identical ranks (integer arithmetic end-to-end)") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val local = Curation.pagerankEdges(pairs).collect().map(_.toSeq)
    val ckpt = tempDir("graft-pr-ckpt")
    spark.conf.set("spark.graft.checkpointDir", ckpt.toString)
    try {
      val reliable = Curation.pagerankEdges(pairs).collect().map(_.toSeq)
      assert(reliable.toSeq === local.toSeq,
        "reliable-checkpoint mode must not change a single rank unit")
      // 3 power-iteration rounds cut 3 checkpoints; rounds 1-2 must be
      // reclaimed once the next round lands — only round 3's remains
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(ckpt).iterator().asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
      assert(rddDirs.size === 1,
        s"expected only the final round's rdd-* checkpoint, got $rddDirs")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
