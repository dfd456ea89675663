package graft.ext

/** Scale-up measurement for the alignment blocking pass (dev protocol,
  * the candidate-count companion to `graft.Run profile`'s wall-time runs):
  * for each input dir, report corpus size, adaptive plane count
  * ([[Similarity.alignPlanes]]), candidate-pair count out of
  * [[Similarity.alignCandidates]], and pairs-per-vector. The designed
  * behavior under replication (tools/replicate.py dirs): planes step
  * with log₂(n) while pairs-per-vector stays roughly constant — total
  * candidates LINEAR in n, the claim ARCHITECTURE.md's alignment
  * scale-up table records and `SimilaritySpec` bounds at 2×.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.ext.AlignScale \
  *     /root/testdata/sf0.1 /tmp/sfrep2 /tmp/sfrep4"
  */
object AlignScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.exec.Session()
    args.foreach { d =>
      val e = Similarity.emb(spark, d)
      val n = e.count()
      // Time the footer-metadata sizing read in isolation (the r12 swap
      // that replaced alignMutualNn's per-invocation count() job): it is
      // a driver-side sequential footer open per file, so its cost is a
      // CONSTANT of the file count, not the row count — this prints the
      // measured constant the ARCHITECTURE.md alignment note cites.
      val tf0 = System.nanoTime()
      val nf = graft.sources.FooterManifest
        .rowCountFromFooters(spark, s"$d/embeddings.parquet")
      val footerSecs = (System.nanoTime() - tf0) / 1e9
      val p = Similarity.alignPlanes(n)
      val t0 = System.nanoTime()
      val c = Similarity.alignCandidates(e, p, Similarity.AlignMaxBucket).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"ALIGN_SCALE dir=$d n=$n planes=$p candidates=$c " +
        f"pairs_per_vec=${c.toDouble / n}%.1f secs=$dt%.2f " +
        f"footer_rows=$nf footer_secs=$footerSecs%.3f")
    }
    spark.stop()
  }
}
