package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import NearDupStream.{Doc, NearDup}

class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Texts engineered around a 12-word base: A/B differ by one word
    * (near-dups), C shares nothing (far from both). */
  private val base = "the quick brown fox jumps over the lazy dog near the river"
  private val textA = base
  private val textB = base.replace("river", "creek")
  private val textC = "entirely different words compose this document about spark physical plans"

  test("per-row simhash32 is bit-identical to the batch signature aggregate") {
    val d = tempDir("graft-neardup").toString
    Seq((1L, textA, "en", "s0", textA.length.toLong),
        (2L, textB, "en", "s0", textB.length.toLong),
        (3L, textC, "en", "s0", textC.length.toLong),
        (4L, "", "en", "s0", 0L), // empty text: split yields one "" token
        (5L, "sole", "en", "s0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val batch = graft.ext.Dedup.simhashSignatures(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Map(1L -> textA, 2L -> textB, 3L -> textC, 4L -> "", 5L -> "sole")
      .map { case (id, t) => id -> NearDupStream.simhash32(t) }
    assert(local === batch, "streaming signature must match the batch aggregate bit-for-bit")
  }

  test("transformWithState twin emits the identical pair set batch-for-batch") {
    // both APIs over the SAME batch sequence (cross-batch pairs,
    // re-ingest no-op, intra-batch pair, far doc silent) — outputs after
    // every batch must agree exactly. The comparison core is shared, so
    // this witnesses the state/timer plumbing, not the pair logic.
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val batches = Seq(
        Seq(Doc(1L, ts("2024-01-01 00:00:00"), textA)),
        Seq(Doc(2L, ts("2024-01-01 00:01:00"), textB),
          Doc(3L, ts("2024-01-01 00:02:00"), textC)),
        Seq(Doc(1L, ts("2024-01-01 00:03:00"), textA), // re-ingest: no-op
          Doc(4L, ts("2024-01-01 00:03:30"), textB.replace("quick", "swift"))))
      def run(name: String,
          op: org.apache.spark.sql.Dataset[Doc] => org.apache.spark.sql.Dataset[NearDup])
          : Seq[Set[(Long, Long, Int)]] = {
        val stream = MemoryStream[Doc]
        val q = op(stream.toDS()).toDF().writeStream.format("memory")
          .queryName(name).outputMode(OutputMode.Append()).start()
        try batches.map { b =>
          stream.addData(b: _*)
          q.processAllAvailable()
          spark.table(name).as[NearDup].collect()
            .map(p => (p.doc_a, p.doc_b, p.hamming)).toSet
        } finally q.stop()
      }
      val fmgws = run("ndp_fmgws", NearDupStream.nearDupSimhash(_, "10 minutes"))
      val tws = run("ndp_tws", NearDupStream.nearDupSimhashTws(_, "10 minutes"))
      assert(tws === fmgws, s"APIs diverged: tws=$tws fmgws=$fmgws")
      // and the final set is the expected near-dup family (A~B, A~4, B~4)
      assert(fmgws.last.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    }
  }

  test("streaming near-dups: close pair found across batches, far doc silent") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val pairs = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Doc(1L, ts("2024-01-01 00:00:00"), textA))
      q.processAllAvailable()
      assert(spark.table("neardup_out").count() === 0)

      // B arrives a batch later: must pair with the retained A; C never pairs
      stream.addData(
        Doc(2L, ts("2024-01-01 00:01:00"), textB),
        Doc(3L, ts("2024-01-01 00:02:00"), textC))
      q.processAllAvailable()
      val got = spark.table("neardup_out").as[NearDup].collect()
      assert(got.map(p => (p.doc_a, p.doc_b)).toList === List((1L, 2L)),
        s"expected exactly one A-B near-dup row, got ${got.mkString(", ")}")
      val expectedHam = java.lang.Long.bitCount(
        NearDupStream.simhash32(textA) ^ NearDupStream.simhash32(textB))
      assert(got.head.hamming === expectedHam && expectedHam <= 8)
    } finally q.stop()
  }

  test("random corpora: emitted pairs == local brute-force Hamming model") {
    // simhash32 itself is parity-pinned against the batch aggregate above,
    // so a brute-force model over simhash32 fully specifies the expected
    // output: every unordered pair at Hamming <= 8, exactly once. This
    // exercises the banding + lowest-band-emission logic on corpora where
    // collisions, ties, and identical texts all occur.
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 40L).map { id =>
        val words = Vector.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        id -> words.mkString(" ")
      }
      val sigs = docs.map { case (id, t) => id -> NearDupStream.simhash32(t) }.toMap
      val expected = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        ham = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if ham <= 8
      } yield (a, b, ham)).toSet

      implicit val ctx = spark.sqlContext
      val stream = MemoryStream[Doc]
      val q = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
        .toDF().writeStream.format("memory").queryName(s"neardup_prop_$seed")
        .outputMode(OutputMode.Append()).start()
      try {
        stream.addData(docs.map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) })
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(s"neardup_prop_$seed").as[NearDup].collect()
        .map(p => (p.doc_a, p.doc_b, p.hamming))
      assert(got.length === got.distinct.length, s"seed $seed: duplicate emissions")
      assert(got.toSet === expected,
        s"seed $seed: extra=${(got.toSet -- expected).take(5)} missing=${(expected -- got.toSet).take(5)}")
    }
  }

  test("cohort cap bounds per-bucket state: oldest entries stop matching first") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    // cap 1: each bucket remembers only the NEWEST document
    val pairs = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes",
      maxCohort = 1)
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_cap")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Doc(1L, ts("2024-01-01 00:00:00"), textA))
      q.processAllAvailable()
      stream.addData(Doc(2L, ts("2024-01-01 00:01:00"), textC)) // far text, replaces nothing relevant
      q.processAllAvailable()
      // doc 3 = copy of A: with cap 1 the A entry survives only in buckets
      // C did not claim — A and C share no band bucket (different texts),
      // so the A-3 pair must still be found...
      stream.addData(Doc(3L, ts("2024-01-01 00:02:00"), textA))
      q.processAllAvailable()
      val got1 = spark.table("neardup_cap").as[NearDup].collect()
        .map(p => (p.doc_a, p.doc_b)).toSet
      assert(got1 === Set((1L, 3L)), s"disjoint buckets keep A alive under cap 1: $got1")
      // ...but a SECOND copy of C evicts the first C, and then a third C
      // still pairs with the second (newest survives)
      stream.addData(Doc(4L, ts("2024-01-01 00:03:00"), textC))
      q.processAllAvailable()
      stream.addData(Doc(5L, ts("2024-01-01 00:04:00"), textC))
      q.processAllAvailable()
      val got2 = spark.table("neardup_cap").as[NearDup].collect()
        .map(p => (p.doc_a, p.doc_b)).toSet
      assert(got2.contains((4L, 5L)) && got2.contains((2L, 4L)) && !got2.contains((2L, 5L)),
        s"cap 1 must keep only the newest C in the bucket: $got2")
    } finally q.stop()
  }

  test("re-ingest of an identical document is a no-op: pairs emit at most once") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val pairs = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_reingest")
      .outputMode(OutputMode.Append()).start()
    try {
      // A arrives TWICE (identical text) before B: the bucket must hold one
      // entry for doc 1, so B pairs against it once — not once per copy
      stream.addData(
        Doc(1L, ts("2024-01-01 00:00:00"), textA),
        Doc(1L, ts("2024-01-01 00:00:30"), textA))
      q.processAllAvailable()
      assert(spark.table("neardup_reingest").count() === 0,
        "a document re-ingested unchanged must not pair with itself")
      stream.addData(Doc(2L, ts("2024-01-01 00:01:00"), textB))
      q.processAllAvailable()
      val got1 = spark.table("neardup_reingest").as[NearDup].collect()
      assert(got1.map(p => (p.doc_a, p.doc_b)).toList === List((1L, 2L)),
        s"one cohort entry per doc_id => exactly one A-B pair, got ${got1.mkString(", ")}")
      // A re-arrives unchanged AFTER the pair was emitted: batch `distinct`
      // semantics — the pair is NOT re-emitted
      stream.addData(Doc(1L, ts("2024-01-01 00:02:00"), textA))
      q.processAllAvailable()
      assert(spark.table("neardup_reingest").count() === 1,
        "unchanged re-ingest must not re-emit already-reported pairs")
    } finally q.stop()
  }

  test("re-ingest with CHANGED content compares like a fresh arrival") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val pairs = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_update")
      .outputMode(OutputMode.Append()).start()
    try {
      // doc 1 starts far from doc 2...
      stream.addData(
        Doc(1L, ts("2024-01-01 00:00:00"), textA),
        Doc(2L, ts("2024-01-01 00:00:30"), textC))
      q.processAllAvailable()
      assert(spark.table("neardup_update").count() === 0)
      // ...then doc 1's content is UPDATED to match doc 2: the new version
      // is new content, so it must pair with doc 2 exactly once
      stream.addData(Doc(1L, ts("2024-01-01 00:01:00"), textC))
      q.processAllAvailable()
      val got = spark.table("neardup_update").as[NearDup].collect()
      assert(got.map(p => (p.doc_a, p.doc_b, p.hamming)).toList === List((1L, 2L, 0)),
        s"updated content must pair as fresh, got ${got.mkString(", ")}")
    } finally q.stop()
  }

  test("re-ingest refreshes the horizon: a refreshed doc outlives its first arrival") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val pairs = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_refresh")
      .outputMode(OutputMode.Append()).start()
    try {
      // A at 00:00, re-ingested (unchanged) at 01:00 — the cohort entry's
      // event time must advance to 01:00
      stream.addData(Doc(1L, ts("2024-01-01 00:00:00"), textA))
      q.processAllAvailable()
      stream.addData(Doc(1L, ts("2024-01-01 01:00:00"), textA))
      q.processAllAvailable()
      // push the watermark past 00:00 + horizon but NOT past 01:00 + horizon
      stream.addData(Doc(9L, ts("2024-01-01 01:05:00"), textC))
      q.processAllAvailable()
      // B arrives: had the re-ingest not refreshed ts, A would have been
      // evicted (00:00 is far past the ~00:55 watermark) and no pair found
      stream.addData(Doc(2L, ts("2024-01-01 01:06:00"), textB))
      q.processAllAvailable()
      val got = spark.table("neardup_refresh").as[NearDup].collect()
      assert(got.map(p => (p.doc_a, p.doc_b)).toList === List((1L, 2L)),
        s"refreshed entry must still pair within the NEW horizon, got ${got.mkString(", ")}")
    } finally q.stop()
  }

  test("state evicts by watermark: a dup past the horizon is NOT detected") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val pairs = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Doc(1L, ts("2024-01-01 00:00:00"), textA))
      q.processAllAvailable()
      // push the watermark far past doc 1 (+10 min watermark on 02:00)
      stream.addData(Doc(9L, ts("2024-01-01 02:00:00"), textC))
      q.processAllAvailable()
      // an exact copy of A arrives AFTER eviction: cohort no longer holds A
      stream.addData(Doc(2L, ts("2024-01-01 02:05:00"), textA))
      q.processAllAvailable()
      assert(spark.table("neardup_evict").count() === 0,
        "a pair across the watermark horizon must not be emitted")
    } finally q.stop()
  }

  test("intra-batch near-dups emit EXACTLY once despite 9-band collisions") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val pairs = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_batch")
      .outputMode(OutputMode.Append()).start()
    try {
      // identical texts collide in ALL 9 bands — the lowest-band emission
      // rule must still produce a single row, at Hamming 0
      stream.addData(
        Doc(10L, ts("2024-01-01 00:00:00"), textA),
        Doc(11L, ts("2024-01-01 00:00:30"), textA),
        Doc(12L, ts("2024-01-01 00:01:00"), textC))
      q.processAllAvailable()
      val got = spark.table("neardup_batch").as[NearDup].collect()
      assert(got.map(p => (p.doc_a, p.doc_b, p.hamming)).toList === List((10L, 11L, 0)),
        s"identical docs must pair exactly once at Hamming 0, got ${got.mkString(", ")}")
    } finally q.stop()
  }
}
