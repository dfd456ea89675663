package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Multimodal-column plumbing (BASELINE.json extension mandate): media is
  * an opaque `binary` column + typed metadata. The container has no
  * image/audio codecs, so the DECODE step is a clearly-marked deterministic
  * stub — everything around it (schema, binary handling, partition-wise
  * batch processing, feature schema) is real Spark plumbing.
  *
  * The testdata has no binary table; [[asMedia]] manufactures the binary
  * column from `documents.text` (utf-8 bytes standing in for image bytes).
  */
object Multimodal {

  /** A media row: opaque bytes + metadata (≙ an image/audio/video cell). */
  case class MediaRecord(id: Long, media: Array[Byte], mime: String)

  /** Extracted features per media row. */
  case class MediaFeatures(
      id: Long,
      byteLen: Int,
      width: Int,
      height: Int,
      sha256: String,
      frameSample: Array[Int])

  /** STUB decoder — stands in for an image/audio codec (none shipped in
    * this container). Deterministic fake: "dimensions" derived from byte
    * length, "frames" sampled at quartile strides. The real implementation
    * would decode here and nothing outside this function would change. */
  private def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val n = bytes.length
    val width  = 1 + (n.toLong * 7919 % 640).toInt
    val height = 1 + (n.toLong * 104729 % 480).toInt
    val stride = math.max(n / 4, 1)
    val frames = Array(0, stride, 2 * stride, 3 * stride)
      .filter(_ < n).map(i => bytes(i).toInt & 0xff)
    (width, height, frames)
  }

  /** STUB resize — fit (width, height) into a target box preserving aspect
    * ratio (the arithmetic is real; only pixel resampling is stubbed out
    * with the codec). Pure function → usable inside any column expression
    * or typed map. */
  def resizeStub(width: Int, height: Int, maxW: Int, maxH: Int): (Int, Int) = {
    val scale = math.min(maxW.toDouble / width, maxH.toDouble / height) min 1.0
    (math.max(1, (width * scale).toInt), math.max(1, (height * scale).toInt))
  }

  /** documents → Dataset[MediaRecord] (text bytes as the opaque payload). */
  def asMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("media"),
        lit("application/octet-stream").as("mime"))
      .as[MediaRecord]
  }

  /** Partition-wise batch feature extraction: `mapPartitions` amortizes
    * per-batch decoder setup (the Spark-side shape a real codec needs —
    * model/codec init once per partition, then row streaming). */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init (≙ codec/model load) happens once, here
      val digest = MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        val (w, h, frames) = decodeStub(r.media)
        digest.reset()
        val sha = digest.digest(r.media).map("%02x".format(_)).mkString
        MediaFeatures(r.id, r.media.length, w, h, sha, frames)
      }
    }
  }

  /** Oracle-checkable projection of the same stub semantics, expressed in
    * pure SQL functions (no UDF) so DuckDB can replicate it exactly. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("media", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        length(col("media")).as("byte_len"),
        sha2(col("media"), 256).as("sha256"),
        (lit(1) + (col("n_chars") * 7919) % 640).as("fake_width"),
        (lit(1) + (col("n_chars") * 104729) % 480).as("fake_height"),
        // joined string, not a raw array: the driver's pandas compare
        // cannot hash/sort array cells
        expr("array_join(transform(sequence(0, 3), i -> cast(ascii(substring(text, i * cast(floor(length(text) / 4) as int) + 1, 1)) as string)), ',')")
          .as("frame_sample"))
      .orderBy("doc_id")

  /** Downstream aggregation over extracted media features: per-source
    * stats of frame samples + payload sizes — the shape of a curation
    * dashboard over a decoded-media table (explode stays map-side; one
    * hash-agg shuffle of O(sources) groups). */
  def frameAgg(spark: SparkSession, dir: String): DataFrame =
    binaryMetaUnordered(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("byte_len"), explode(col("frame_sample")).as("frame"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_frames"),
        graft.ops.StableStats.intMean(col("frame")).as("avg_frame"),
        min(col("frame")).as("min_frame"),
        max(col("frame")).as("max_frame"),
        graft.ops.StableStats.intMean(col("byte_len")).as("avg_bytes"))
      .orderBy("source")

  /** A batch-inference output row: media id + its "model" embedding. */
  case class MediaEmbedding(id: Long, embedding: Array[Float])

  /** Batched inference plumbing — the Scala shape of `mapInPandas`: each
    * partition's rows are chunked into `batchSize` groups and the (stub)
    * model is invoked ONCE PER BATCH with the whole chunk, exactly how a
    * real vision/audio model amortizes GPU dispatch. The stub embeds each
    * payload deterministically (first-8-byte projection); swapping in a
    * real model changes only `runModel`'s body. `batchCalls` (an optional
    * accumulator) lets tests prove the batch amortization actually
    * happens — rows/batchSize calls, not one per row. */
  def batchedInference(media: Dataset[MediaRecord], batchSize: Int = 32,
      batchCalls: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[MediaEmbedding] = {
    import media.sparkSession.implicits._
    def runModel(batch: Seq[MediaRecord]): Seq[MediaEmbedding] = {
      batchCalls.foreach(_.add(1)) // ≙ one model forward pass per BATCH
      batch.map { r =>
        val e = new Array[Float](8)
        var i = 0
        while (i < 8) { e(i) = (if (i < r.media.length) (r.media(i) & 0xff) else 0) / 255.0f; i += 1 }
        MediaEmbedding(r.id, e)
      }
    }
    media.mapPartitions(_.grouped(batchSize).flatMap(runModel))
  }

  /** binaryMeta without the presentation orderBy (for composition). */
  private def binaryMetaUnordered(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("media", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        length(col("media")).as("byte_len"),
        expr("transform(sequence(0, 3), i -> ascii(substring(text, i * cast(floor(length(text) / 4) as int) + 1, 1)))")
          .as("frame_sample"))

  /** Frame-fingerprint duplicate families — the video-dedup shape: two
    * media payloads whose SAMPLED FRAME signature matches are
    * re-encodes/re-uploads of each other even when their bytes differ
    * (different container, same content). Groups the corpus by the
    * 4-frame signature vector and emits families of ≥ 2 with their
    * representative (min doc_id) — the collapse ledger, exactly like
    * the LSH hot-bucket star output. Frame "decode" is the deterministic
    * stub ([[binaryMeta]]); a real codec swaps in per-frame perceptual
    * hashes with the same grouping plan.
    *
    * Scale shape: one scan, one hash-agg on the signature — signatures
    * are content-derived so families co-locate in the shuffle; no join,
    * no pairwise work. */
  def frameDupFamilies(spark: SparkSession, dir: String): DataFrame =
    binaryMetaUnordered(spark, dir)
      .select(col("doc_id"),
        expr("array_join(transform(frame_sample, x -> cast(x as string)), ',')")
          .as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
      .where(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("sig").asc)

  val queries: Seq[Query] = Seq(
    Query("x_mm_frame_dups", frameDupFamilies _,
      """WITH sigs AS (
        |  SELECT doc_id, array_to_string(list_transform(generate_series(0, 3),
        |      i -> ascii(substr(text, i * CAST(length(text) // 4 AS INTEGER) + 1, 1))), ',') AS sig
        |  FROM documents)
        |SELECT sig, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS rep_doc
        |FROM sigs GROUP BY sig HAVING count(*) >= 2
        |ORDER BY n_docs DESC, sig ASC""".stripMargin),
    Query("x_mm_frame_agg", frameAgg _,
      s"""WITH meta AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |    unnest(list_transform(generate_series(0, 3),
        |      i -> ascii(substr(text, i * CAST(length(text) // 4 AS INTEGER) + 1, 1)))) AS frame
        |  FROM documents)
        |SELECT d.source, count(*) AS n_frames,
        |  ${graft.ops.StableStats.intMeanSql("m.frame")} AS avg_frame,
        |  min(m.frame) AS min_frame, max(m.frame) AS max_frame,
        |  ${graft.ops.StableStats.intMeanSql("m.byte_len")} AS avg_bytes
        |FROM meta m JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    Query("x_mm_binary_meta", binaryMeta _,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |  sha256(text) AS sha256,
        |  1 + (n_chars * 7919) % 640 AS fake_width,
        |  1 + (n_chars * 104729) % 480 AS fake_height,
        |  array_to_string(list_transform(generate_series(0, 3),
        |    i -> ascii(substr(text, i * CAST(length(text) // 4 AS INTEGER) + 1, 1))), ',') AS frame_sample
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
