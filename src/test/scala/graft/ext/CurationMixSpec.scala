package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

/** Semantics of the round-2 curation additions: corpus-wide span dedup,
  * domain-mixture rebalancing, winsorized means, perplexity buckets. */
class CurationMixSpec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  private val spanA = words("a", 10)
  private val spanB = words("b", 10)
  private val spanC = words("c", 10)

  /** doc1 = A+B (first occurrences), doc2 = A+C (A is a dup), doc3 = B
    * (entirely duplicated), doc4 = A + a short 3-word tail. */
  private lazy val spanDir: String = {
    val d = tempDir("graft-span").toString
    Seq(
      (1L, s"$spanA $spanB", "en", "s0", 0L),
      (2L, s"$spanA $spanC", "en", "s0", 0L),
      (3L, spanB, "en", "s1", 0L),
      (4L, s"$spanA x1 x2 x3", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("span dedup keeps first occurrences only and rebuilds documents") {
    val rows = Curation.spanDedup(spark, spanDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_kept"), r.getAs[String]("rebuilt_md5"))))
      .toMap
    assert(rows(1L)._1 === 2 && rows(1L)._2 === 2, s"doc1 keeps both first-occurrence spans: ${rows(1L)}")
    assert(rows(2L) === ((2L, 1L, md5Hex(spanC))), s"doc2 keeps only its unique span: ${rows(2L)}")
    assert(rows(3L) === ((1L, 0L, md5Hex(""))), s"doc3 is fully deduplicated away: ${rows(3L)}")
    assert(rows(4L) === ((2L, 1L, md5Hex("x1 x2 x3"))), s"doc4 keeps its short tail span: ${rows(4L)}")
    assert(rows(1L)._3 === md5Hex(s"$spanA $spanB"), "doc1 rebuilds to its full text")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** 90 docs from src_big, 10 from src_small: fair share is 50, so the
    * small source keeps everything and the big one downsamples to ~5/9. */
  private lazy val mixDir: String = {
    val d = tempDir("graft-mix").toString
    ((1 to 90).map(i => (i.toLong, s"t$i", "en", "src_big", 0L)) ++
      (91 to 100).map(i => (i.toLong, s"t$i", "en", "src_small", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("domain mix caps the over-represented source, keeps the rare one whole") {
    val rows = Curation.domainMix(spark, mixDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"), r.getAs[Double]("rate"))))
      .toMap
    assert(rows("src_small") === ((10L, 10L, 1.0)), s"rare source keeps all: ${rows("src_small")}")
    val (n, kept, rate) = rows("src_big")
    assert(n === 90L && rate === 0.5556, s"big source rate = 100/(2*90): ${rows("src_big")}")
    assert(kept > 30 && kept < 70, s"big source downsamples to ~rate*n: $kept")
  }

  test("temperature mix flattens toward the rare source with p^0.3 weights") {
    val rows = Curation.temperatureMix(spark, mixDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("mix_p"), r.getAs[Double]("mix_q"),
          r.getAs[Double]("up_weight"), r.getAs[Long]("expected_docs"))))
      .toMap
    // reference arithmetic, same snapping discipline as the engine
    def qUnits(n: Long) = math.floor(math.pow(n.toDouble, 0.3) * 1e6 + 0.5).toLong
    val qTotal = qUnits(90) + qUnits(10)
    def q(n: Long) = qUnits(n).toDouble / qTotal
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val (nB, pB, qB, wB, eB) = rows("src_big")
    val (nS, pS, qS, wS, eS) = rows("src_small")
    assert((nB, nS) === ((90L, 10L)))
    assert(pB === 0.9 && pS === 0.1)
    assert(qB === r4(q(90)) && qS === r4(q(10)), s"q: $qB / $qS")
    assert(wS > 1.0 && wB < 1.0, "temperature up-weights rare, down-weights dominant")
    assert(wS === r4(q(10) / 0.1) && wB === r4(q(90) / 0.9))
    assert(eB === math.floor(q(90) * 100 + 0.5).toLong && eB + eS === 100L,
      s"expected docs re-normalize to the corpus: $eB + $eS")
    // flattening, not inversion: the dominant source still expects more docs
    assert(eB > eS && eB < 90, s"expected big-source share flattens below raw: $eB")
  }

  test("temperature sample: exact quotas, shortfall on up-weighted source, checksum pins the set") {
    val rows = Curation.temperatureSample(spark, mixDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("expected_docs"), r.getAs[Long]("n_sampled"),
          r.getAs[Double]("repeat_factor"), r.getAs[Long]("sample_doc_sum"))))
      .toMap
    val (nS, eS, sS, fS, sumS) = rows("src_small")
    val (nB, eB, sB, fB, sumB) = rows("src_big")
    // the flattened quota exceeds the small source: it contributes ALL its
    // docs (checksum = Σ 91..100) and the shortfall surfaces as epochs
    assert(nS === 10L && eS > 10L && sS === 10L, s"small: ${rows("src_small")}")
    assert(sumS === (91 to 100).map(_.toLong).sum)
    assert(fS > 1.0 && fS === math.floor(eS.toDouble / 10 * 1e4 + 0.5) / 1e4)
    // the dominant source fills its (reduced) quota exactly
    assert(nB === 90L && eB < 90L && sB === eB && fB < 1.0, s"big: ${rows("src_big")}")
    assert(eB + eS === 100L, "quotas re-normalize to the corpus size")
    // independent formulation of the same sample: hash-order the big
    // source directly and take its quota — the checksums must agree
    val expectSumB = graft.Tables.documents(spark, mixDir)
      .where($"source" === "src_big")
      .orderBy(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("tsamp|"), $"doc_id".cast("string"))), $"doc_id")
      .limit(eB.toInt).agg(org.apache.spark.sql.functions.sum($"doc_id")).head().getLong(0)
    assert(sumB === expectSumB, "ledger checksum pins the exact sampled set")
  }

  test("DSIR weights score content against the target distribution, not the label") {
    val d = tempDir("graft-dsir").toString
    val enVocab = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val deVocab = Seq("zett", "eta", "theta", "iota", "kappa")
    def text(v: Seq[String], seed: Int) = (0 until 8).map(i => v((seed + i) % v.size)).mkString(" ")
    val docs = (1 to 10).map(i => (i.toLong, text(enVocab, i), "en", "s0", 0L)) ++
      (11 to 20).map(i => (i.toLong, text(deVocab, i), "de", "s1", 0L)) :+
      // the ringer: labeled de, written in the target's vocabulary
      ((21L, text(enVocab, 3), "de", "s1", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val rows = Curation.dsirWeights(spark, d).collect()
    val rank = rows.map(_.getAs[Long]("doc_id")).zipWithIndex.toMap
    // every target-vocabulary doc (including the mislabeled ringer)
    // outranks every out-of-domain doc: the weight reads the text
    (1L to 10L).foreach(en => (11L to 20L).foreach { de =>
      if (rank.contains(de)) assert(rank(en) < rank(de), s"doc $en vs $de") })
    assert(rank(21L) < 11, s"ringer ranks with the target-vocab docs: ${rank.get(21L)}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") === 8L)
      // mean is the published sum scaled by length, same rounding path
      val lr = r.getAs[Double]("log_ratio")
      val mean = r.getAs[Double]("mean_log_ratio")
      assert(math.abs(mean - lr / 8) < 2e-4, s"mean/sum consistent: $r")
    }
    val means = rows.map(_.getAs[Double]("mean_log_ratio")).toSeq
    assert(means === means.sorted.reverse, "output ordered by descending weight")
  }

  test("length buckets: boundaries are monotone, batches bounded, token mass conserved") {
    val sf = "/root/testdata/sf0.001"
    val rows = Curation.lengthBuckets(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf)
      .selectExpr("cast(sum(size(split(text, ' '))) as bigint)").head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 500L, "every doc lands in a batch")
    assert(rows.forall(_.getAs[Long]("n_docs") <= 16L), "batch size respects the cap")
    assert(rows.forall(_.getAs[Long]("pad_waste") >= 0L))
    // Σ (batch_max × n − waste) = Σ tokens: the ledger accounts exactly
    assert(rows.map(r => r.getAs[Long]("max_tokens") * r.getAs[Long]("n_docs")
      - r.getAs[Long]("pad_waste")).sum === total)
    // within a shard, bucket b's longest doc never exceeds bucket b+1's
    // shortest — ntile over the length order makes buckets contiguous
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rs) =>
      val byBucket = rs.groupBy(_.getAs[Long]("bucket")).toSeq.sortBy(_._1)
        .map { case (b, bs) =>
          (b, bs.map(_.getAs[Long]("min_tokens")).min, bs.map(_.getAs[Long]("max_tokens")).max)
        }
      byBucket.sliding(2).foreach {
        case Seq((_, _, hiPrev), (_, loNext, _)) =>
          assert(hiPrev <= loNext, s"shard $shard bucket boundary: $hiPrev > $loNext")
        case _ =>
      }
      assert(byBucket.map(_._1) === (1L to byBucket.size).toSeq, s"shard $shard buckets contiguous")
    }
  }

  private lazy val winsorDir: String = {
    val d = tempDir("graft-winsor").toString
    (1 to 100).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    d
  }

  test("winsorize clamps at exact p05/p95 order statistics") {
    val r = Curation.winsorize(spark, winsorDir).collect().head
    assert(r.getAs[Long]("n") === 100)
    assert(r.getAs[Double]("lo") === 5.0 && r.getAs[Double]("hi") === 95.0)
    assert(r.getAs[Double]("mean_raw") === 50.5)
    // 1..4 clamp up to 5 (+10 net), 96..100 clamp down to 95 (−15 net): 50.45
    assert(r.getAs[Double]("mean_winsor") === 50.45)
    assert(r.getAs[Long]("n_below") === 4 && r.getAs[Long]("n_above") === 5)
  }

  /** Nine common-token docs and one all-unique-token doc: the unique one
    * has the lowest unigram logprob, so it must land in the tail bucket. */
  private lazy val pplDir: String = {
    val d = tempDir("graft-ppl").toString
    ((1 to 9).map(i => (i.toLong, "the cat sat on the mat", "en", "s0", 0L)) :+
      (10L, words("zq", 6), "xx", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("perplexity buckets send the gibberish document to the tail") {
    val rows = TextAnalysis.pplBuckets(spark, pplDir).collect()
    val byBucketLang = rows.map(r =>
      (r.getAs[String]("bucket"), r.getAs[String]("lang")) -> r.getAs[Long]("n_docs")).toMap
    assert(byBucketLang.get(("tail", "xx")) === Some(1L),
      s"unique-token doc must be in the tail: ${byBucketLang.keySet}")
    assert(!byBucketLang.contains(("head", "xx")) && !byBucketLang.contains(("middle", "xx")))
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 10L, "census covers all docs")
  }
}
