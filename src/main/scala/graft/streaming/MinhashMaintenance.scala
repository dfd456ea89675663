package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Dedup
import graft.exec.Cut

/** Streaming maintenance of the MinHash signature table — the ingest-time
  * twin of [[graft.ext.Dedup.incrementalMinhash]]: every micro-batch's
  * signatures ([[graft.ext.Dedup.minhashSignaturesOf]], one scan of the
  * NEW documents only) are folded into a stored signature table with
  * [[graft.ext.Dedup.mergeMinhashSignatures]] (slot-wise min — associative,
  * commutative, idempotent), so the table a downstream LSH banding reads
  * is always bit-identical to a full recompute over everything ever
  * ingested, with no history rescan.
  *
  * Storage shape (the 100 TB story): the table is hash-partitioned on
  * `bucket = doc_id mod buckets`. A micro-batch reads and rewrites ONLY
  * the buckets its documents hash into (parquet partition pruning on the
  * read, dynamic partition overwrite on the write), so per-batch I/O is
  * O(batch + touched buckets), never O(corpus). `buckets` trades rewrite
  * amplification against file count — at web scale pick it so one bucket
  * ≈ a few hundred MB.
  *
  * Failure semantics: `foreachBatch` may REPLAY a batch after a crash
  * (or lose the in-flight write with an executor). Either way the
  * recovery re-merge is a no-op by idempotence of the slot-wise min —
  * replays converge to the same table, which is why the merge being
  * ALGEBRAIC (not just associative) matters here.
  */
object MinhashMaintenance {

  /** Default table bucket count — sized for the local test corpus; at
    * scale pick `corpus_signature_bytes / target_file_size`. */
  val DefaultBuckets = 64

  /** Start the maintenance stream: each micro-batch of (doc_id, ts, text)
    * rows is folded into the signature table at `tableDir`. */
  def start(docs: Dataset[NearDupStream.Doc], tableDir: String,
      checkpointDir: String, buckets: Int = DefaultBuckets): StreamingQuery =
    docs.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        mergeBatch(batch.toDF(), tableDir, buckets)
      }
      .start()

  /** Fold ONE batch of (doc_id, …, text) rows into the stored table —
    * also the backfill entry point for a historical shard. */
  private[streaming] def mergeBatch(batch: DataFrame, tableDir: String,
      buckets: Int): Unit = {
    val spark = batch.sparkSession
    val fresh = Dedup.minhashSignaturesOf(batch)
      .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
      .persist()
    try {
      // bounded driver list: at most `buckets` values, independent of
      // batch or corpus size (same ceiling discipline as the broadcasts)
      val affected = fresh.select("bucket").distinct().collect().map(_.getLong(0))
      if (affected.nonEmpty) {
        val dir = new Path(tableDir)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val existing =
          if (fs.exists(dir) && fs.listStatus(dir).exists(_.getPath.getName.startsWith("bucket=")))
            Some(spark.read.parquet(tableDir)
              .where(col("bucket").isin(affected.toIndexedSeq: _*)).drop("bucket"))
          else None
        val merged = existing
          .fold(fresh.drop("bucket"))(e =>
            Dedup.mergeMinhashSignatures(e, fresh.drop("bucket")))
          .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
        // localCheckpoint cuts the lineage so the plan no longer references
        // tableDir — without it Spark (correctly) refuses to overwrite a
        // path it is reading from. An executor loss mid-write fails the
        // batch and the replay re-merges idempotently (object doc).
        Cut.shared(merged)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket")
          .parquet(tableDir)
      }
    } finally fresh.unpersist()
  }

  /** The maintained signature table: (doc_id, m0..m{K−1}) — the exact
    * input shape [[graft.ext.Dedup.mergeMinhashSignatures]] consumes and
    * LSH banding reads. */
  def signatures(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir).drop("bucket")

  /** Default partition count of the band index — same sizing rule as
    * [[DefaultBuckets]]. */
  val DefaultBandParts = 64

  /** Full ingest-time near-dup loop: maintain the signature table AND an
    * LSH band inverted index, emitting each batch's candidate pairs to
    * `pairsDir` (partitioned by batch_id; a replayed batch OVERWRITES its
    * own partition, so the pair log is exactly-once per batch id).
    *
    * Emission semantics: a pair is surfaced by the arrival that completes
    * the bucket match under the THEN-CURRENT merged signatures. Every
    * pair the batch operator would find on the final corpus is emitted by
    * the last batch that changed either member's signature; pairs formed
    * by transient signatures of partially-ingested documents may appear
    * too — candidates are a recall set, verified downstream, so extras
    * cost verification work, never correctness. */
  def startWithCandidates(docs: Dataset[NearDupStream.Doc], tableDir: String,
      bandDir: String, pairsDir: String, checkpointDir: String,
      buckets: Int = DefaultBuckets, bandParts: Int = DefaultBandParts): StreamingQuery =
    docs.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val pairs = mergeBatchWithCandidates(batch.toDF(), tableDir, bandDir,
          buckets, bandParts)
        pairs.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsDir)
      }
      .start()

  /** The emitted candidate-pair log. Schema is explicit so a read of a
    * pair log to which no batch has emitted yet (dir absent or empty)
    * returns an empty frame instead of failing schema inference. */
  def candidates(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read
      .schema("doc_a BIGINT, doc_b BIGINT, batch_id BIGINT")
      .parquet(pairsDir)

  private def bandPartCol(bandParts: Int) =
    expr(s"pmod(cast(conv(substring(bucket, 1, 8), 16, 10) as bigint), $bandParts)")

  /** [[mergeBatch]] plus band-index upkeep and candidate generation.
    *
    * The band index is (doc_id, band, bucket) partitioned on
    * `p = hash(bucket) mod bandParts`. The batch rewrites only the
    * partitions holding its docs' OLD band rows (stale after a sharded
    * doc's signature changed) or NEW band rows — per-batch I/O is
    * O(batch + touched partitions), never O(corpus). Old rows are read
    * and pinned BEFORE the signature table is overwritten.
    *
    * Crash between the two writes self-heals: the replay's merge is a
    * no-op, its "old" bands then equal the new bands, and the band
    * partitions are rewritten to the same content. */
  private[streaming] def mergeBatchWithCandidates(batch: DataFrame,
      tableDir: String, bandDir: String, buckets: Int, bandParts: Int): DataFrame = {
    val spark = batch.sparkSession
    val fresh = Dedup.minhashSignaturesOf(batch)
      .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
      .persist()
    try {
      val affected = fresh.select("bucket").distinct().collect().map(_.getLong(0))
      if (affected.isEmpty)
        return spark.range(0).selectExpr("id as doc_a", "id as doc_b")
      val freshIds = fresh.select("doc_id")
      val dir = new Path(tableDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing =
        if (fs.exists(dir) && fs.listStatus(dir).exists(_.getPath.getName.startsWith("bucket=")))
          Some(spark.read.parquet(tableDir)
            .where(col("bucket").isin(affected.toIndexedSeq: _*)).drop("bucket"))
        else None
      // pin the batch docs' PRE-merge band rows now — computed lazily they
      // would re-read the table parquet after the overwrite replaced it
      val oldBands = existing.map(e =>
        Cut.shared(Dedup.bandsOf(e.join(freshIds, Seq("doc_id"), "left_semi"))
          .withColumn("p", bandPartCol(bandParts))))
      val merged = existing
        .fold(fresh.drop("bucket"))(e =>
          Dedup.mergeMinhashSignatures(e, fresh.drop("bucket")))
        .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
      val cut = Cut.shared(merged)
      cut.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(tableDir)
      // POST-merge band rows of the batch docs (merged signatures, so a
      // sharded doc bands by its full content seen so far)
      val newBands = Cut.shared(Dedup.bandsOf(cut.drop("bucket").join(freshIds, Seq("doc_id"), "left_semi"))
        .withColumn("p", bandPartCol(bandParts)))
      val touched = oldBands.fold(newBands)(_.unionByName(newBands))
        .select("p").distinct().collect().map(_.getLong(0))
      val bdir = new Path(bandDir)
      val bfs = bdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stored =
        if (bfs.exists(bdir) && bfs.listStatus(bdir).exists(_.getPath.getName.startsWith("p=")))
          Some(spark.read.parquet(bandDir).where(col("p").isin(touched.toIndexedSeq: _*))
            .select("doc_id", "band", "bucket", "p"))
        else None
      // rewritten partition content: stored rows minus the batch docs'
      // (now stale) rows, plus the batch docs' current rows
      val rewritten = stored
        .map(_.join(freshIds, Seq("doc_id"), "left_anti").unionByName(newBands))
        .getOrElse(newBands)
      val cutBands = Cut.shared(rewritten)
      cutBands.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p")
        .parquet(bandDir)
      // candidates: the batch's band rows probe the updated partitions —
      // both orientations collapsed to (min, max), duplicates across
      // bands removed exactly like the batch self-join
      Dedup.bandProbe(newBands, cutBands).distinct()
    } finally fresh.unpersist()
  }
}
