package graft.ext

import java.security.MessageDigest

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("frame-dup families: same frame signature groups; singletons dropped") {
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-framedup").toString
    // docs 0 and 2 share the exact text (same frames); 1 differs; 3 is a
    // re-encode stand-in: same sampled frames because same text length
    // pattern at sampled positions
    Seq(
      (0L, "abcdefgh", "en", "s", 8L),
      (1L, "zzzzzzzz", "en", "s", 8L),
      (2L, "abcdefgh", "en", "s", 8L),
      (3L, "abzdzfzh", "en", "s", 8L)) // positions 1,3,5,7 → a,c,e,g vs a,z,z,z
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val fams = Multimodal.frameDupFamilies(spark, d).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("rep_doc")))
    assert(fams.length === 1, s"only the 0/2 family, got ${fams.toSeq}")
    assert(fams(0)._2 === 2L && fams(0)._3 === 0L)
  }

  test("mapPartitions feature extraction: deterministic stub decode + real sha256") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "hello world".getBytes("UTF-8"), "text/plain"),
      Multimodal.MediaRecord(2L, Array[Byte](0, 1, 2, 3, 4, 5, 6, 7), "application/octet-stream"))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.id)

    val f1 = feats(0)
    assert(f1.byteLen === 11)
    val expectedSha = MessageDigest.getInstance("SHA-256")
      .digest("hello world".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(f1.sha256 === expectedSha)
    assert(f1.width === 1 + (11L * 7919 % 640).toInt)
    assert(f1.height === 1 + (11L * 104729 % 480).toInt)

    val f2 = feats(1)
    assert(f2.byteLen === 8)
    assert(f2.frameSample.toSeq === Seq(0, 2, 4, 6)) // quartile-stride sampling
  }

  test("resize stub: aspect-preserving fit, never upscales, never zero") {
    assert(Multimodal.resizeStub(1920, 1080, 640, 480) === ((640, 360)))
    assert(Multimodal.resizeStub(100, 100, 640, 480) === ((100, 100))) // no upscale
    assert(Multimodal.resizeStub(10000, 1, 64, 64) === ((64, 1)))
    assert(Multimodal.resizeStub(1, 10000, 64, 64)._2 === 64)
  }

  test("batched inference: one model call per batch, not per row; embeddings deterministic") {
    val media = Multimodal.asMedia(spark, "/root/testdata/sf0.001").repartition(2)
    val calls = spark.sparkContext.longAccumulator("batch_calls")
    val out = Multimodal.batchedInference(media, batchSize = 32, batchCalls = Some(calls))
    val n = out.count()
    assert(n === media.count())
    // ceil(rowsPerPartition/32) summed over 2 partitions: far fewer calls than rows
    assert(calls.value < n / 8,
      s"expected ~n/32 model calls, got ${calls.value} for $n rows")
    val e = out.filter(_.id == 0L).head().embedding
    assert(e.length === 8 && e.forall(v => v >= 0f && v <= 1f))
  }

  test("extraction is a narrow map — no shuffle in the plan") {
    val media = Seq(Multimodal.MediaRecord(1L, Array[Byte](1), "x")).toDS()
    val plan = Multimodal.extractFeatures(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }
}
