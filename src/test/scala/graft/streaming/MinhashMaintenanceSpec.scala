package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ext.Dedup
import NearDupStream.Doc

/** Streaming MinHash signature maintenance: the stored table must stay
  * bit-identical to a one-pass batch recompute over everything ingested —
  * the streaming extension of the `x_incr_minhash` merge≡recompute
  * oracle query. */
class MinhashMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def sigMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map(_.asInstanceOf[Long])).toMap

  private val b1 = Seq((1L, "the quick brown fox jumps over the dog"),
                       (2L, "pack my box with five dozen liquor jugs"))
  private val b2 = Seq((3L, "the quick brown fox jumps over the cat"),
                       (5L, "sphinx of black quartz judge my vow now"))
  // doc 1 re-arrives with MORE content (a sharded/append-ingested doc):
  // its signature must become the min over the UNION of both rows' shingles
  private val b3 = Seq((1L, "how vexingly quick daft zebras jump today"))

  private def runBatches(tableDir: String, batches: Seq[Seq[(Long, String)]],
      buckets: Int): Unit = {
    val ckpt = tempDir("graft-sig-ckpt").toString
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = MinhashMaintenance.start(stream.toDS(), tableDir, ckpt, buckets)
    try {
      batches.foreach { b =>
        stream.addData(b.map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) })
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  test("streamed table == one-pass batch recompute after 3 micro-batches") {
    val tableDir = tempDir("graft-sig-table").toString
    runBatches(tableDir, Seq(b1, b2, b3), buckets = 4)
    val got = sigMap(MinhashMaintenance.signatures(spark, tableDir))
    val expected = sigMap(Dedup.minhashSignaturesOf((b1 ++ b2 ++ b3).toDF("doc_id", "text")))
    assert(got === expected,
      "streamed merge must be bit-identical to the one-pass recompute " +
        "(including the doc split across batches 1 and 3)")
  }

  test("re-ingesting a whole batch is a no-op (idempotent merge)") {
    val tableDir = tempDir("graft-sig-idem").toString
    runBatches(tableDir, Seq(b1, b2, b2), buckets = 4)
    val got = sigMap(MinhashMaintenance.signatures(spark, tableDir))
    val expected = sigMap(Dedup.minhashSignaturesOf((b1 ++ b2).toDF("doc_id", "text")))
    assert(got === expected,
      "a replayed/re-delivered batch must not change a single signature slot")
  }

  test("candidate loop: every final-signature LSH pair is emitted across batches") {
    val base = tempDir("graft-cand")
    val (tableDir, bandDir, pairsDir) =
      (s"$base/sigs", s"$base/bands", s"$base/pairs")
    val ckpt = s"$base/ckpt"
    // doc 3 (batch 2) is an exact copy of doc 1 (batch 1): identical
    // signatures band together in EVERY band, so the cross-batch probe
    // against the stored index must find (1,3) deterministically. Batch 3
    // then SHARDS doc 1 with extra content — whatever pairs the merged
    // signature forms, the ground-truth subset check below covers them.
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val c1 = Seq((1L, t1), (2L, "one two three four five six seven"))
    val c2 = Seq((3L, t1),
                 (6L, "omega psi chi phi upsilon tau sigma rho"))
    val c3 = Seq((1L, "omega psi chi phi upsilon tau sigma rho"))
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = MinhashMaintenance.startWithCandidates(stream.toDS(), tableDir,
      bandDir, pairsDir, ckpt, buckets = 4, bandParts = 8)
    try {
      Seq(c1, c2, c3).foreach { b =>
        stream.addData(b.map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) })
        q.processAllAvailable()
      }
    } finally q.stop()
    val emitted = MinhashMaintenance.candidates(spark, pairsDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the batch operator's candidate set over the final corpus (sharded
    // doc 1 = both its rows): every one of its pairs must have been
    // emitted by some batch (extras from transient signatures allowed)
    val expected = Dedup.lshCandidatesOf(
      (c1 ++ c2 ++ c3).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(emitted),
      s"missing final-signature pairs: ${expected -- emitted} (emitted $emitted)")
    assert(emitted.contains((1L, 3L)),
      "the cross-batch exact copy must be found by probing the stored index")
  }

  test("real corpus: streamed candidate log == one-pass batch candidates over 4 batches") {
    // VERDICT r8 task 6: the candidate-parity property over the driver's
    // actual documents table, not a literal fixture. One row per doc in
    // this corpus means a signature is final on first ingest, so the
    // union of per-batch index probes must equal the one-pass batch
    // candidate set EXACTLY — supersets quantify to zero extras here.
    val base = tempDir("graft-cand-corpus")
    val (tableDir, bandDir, pairsDir, ckpt) =
      (s"$base/sigs", s"$base/bands", s"$base/pairs", s"$base/ckpt")
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val batches = corpus.groupBy { case (id, _) => (id % 4).toInt }
      .toSeq.sortBy(_._1).map(_._2.toSeq)
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = MinhashMaintenance.startWithCandidates(stream.toDS(), tableDir,
      bandDir, pairsDir, ckpt, buckets = 8, bandParts = 8)
    try {
      batches.foreach { b =>
        stream.addData(b.map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) })
        q.processAllAvailable()
      }
    } finally q.stop()
    val emitted = MinhashMaintenance.candidates(spark, pairsDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val onePass = Dedup.lshCandidatesOf(corpus.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(onePass.subsetOf(emitted),
      s"stream missed final-signature pairs: ${(onePass -- emitted).take(10)}")
    val extras = emitted -- onePass
    assert(extras.isEmpty,
      s"${extras.size} transient pairs emitted on a one-row-per-doc corpus: ${extras.take(10)}")
  }

  test("candidates() on an empty pair log reads cleanly (explicit schema)") {
    // regression (ADVICE r8): a schema-less parquet read of a pair log to
    // which no batch had emitted yet failed with "Unable to infer schema"
    val empty = tempDir("graft-pairs-empty").toString
    val r = MinhashMaintenance.candidates(spark, empty)
    assert(r.columns.toSeq === Seq("doc_a", "doc_b", "batch_id"))
    assert(r.count() === 0L)
  }

  test("re-running a batch rewrites its own pairs partition identically") {
    val base = tempDir("graft-cand-idem")
    val (tableDir, bandDir) = (s"$base/sigs", s"$base/bands")
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
                    (3L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    val p1 = MinhashMaintenance.mergeBatchWithCandidates(batch, tableDir, bandDir, 4, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // direct replay of the SAME batch (the foreachBatch crash-recovery
    // path): table and band index must be unchanged, pairs identical
    val sigsBefore = MinhashMaintenance.signatures(spark, tableDir).collect().toSet
    val p2 = MinhashMaintenance.mergeBatchWithCandidates(batch, tableDir, bandDir, 4, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 === p1, "replayed batch must emit the same candidate set")
    assert(MinhashMaintenance.signatures(spark, tableDir).collect().toSet === sigsBefore,
      "replayed batch must not change a signature")
  }

  test("band index: a batch rewrites ONLY the partitions its band rows hash into") {
    val base = tempDir("graft-band-stab")
    val (tableDir, bandDir) = (s"$base/sigs", s"$base/bands")
    val b1df = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
                   (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    MinhashMaintenance.mergeBatchWithCandidates(b1df, tableDir, bandDir, 4, 8)
    def filesUnder(p: Long): Set[String] = {
      val d = new java.io.File(bandDir, s"p=$p")
      if (!d.exists) Set.empty
      else d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val before = (0L to 7L).map(p => p -> filesUnder(p)).toMap
    // second batch: a brand-new doc — its touched partitions are exactly
    // the p-hashes of its own band rows (no old rows to retire)
    import org.apache.spark.sql.functions.expr
    val b2df = Seq((9L, "nine ten eleven twelve thirteen fourteen fifteen")).toDF("doc_id", "text")
    val touched = Dedup.bandsOf(Dedup.minhashSignaturesOf(b2df))
      .withColumn("p", expr("pmod(cast(conv(substring(bucket, 1, 8), 16, 10) as bigint), 8)"))
      .select("p").distinct().collect().map(_.getLong(0)).toSet
    MinhashMaintenance.mergeBatchWithCandidates(b2df, tableDir, bandDir, 4, 8)
    val after = (0L to 7L).map(p => p -> filesUnder(p)).toMap
    (0L to 7L).filterNot(touched).foreach { p =>
      assert(after(p) === before(p),
        s"partition p=$p (untouched by batch 2) must keep its exact files")
    }
    touched.foreach(p => assert(after(p).nonEmpty, s"touched partition p=$p must exist"))
  }

  test("an empty micro-batch is a no-op for table, index, and candidates") {
    val base = tempDir("graft-empty-batch")
    val (tableDir, bandDir) = (s"$base/sigs", s"$base/bands")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val pairs = MinhashMaintenance.mergeBatchWithCandidates(empty, tableDir, bandDir, 4, 8)
    assert(pairs.collect().isEmpty)
    assert(!new java.io.File(tableDir).exists && !new java.io.File(bandDir).exists,
      "an empty batch must not create store directories")
    // and a doc too short to shingle (< 3 words) contributes nothing either
    val tiny = Seq((1L, "just two")).toDF("doc_id", "text")
    MinhashMaintenance.mergeBatch(tiny, tableDir, 4)
    assert(!new java.io.File(tableDir).exists)
  }

  test("random corpora: any batch split (with overlaps) == one-pass recompute") {
    // property form of the bit-identity claim: random docs partitioned
    // into random batches, some docs deliberately repeated across batches
    // (sharded/re-ingested), folded via the direct mergeBatch entry point
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 20L).map { id =>
        (id, Vector.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // 2-4 batches; ~25% of docs get an extra copy in a random batch
      val nBatches = 2 + rnd.nextInt(3)
      val batches = Array.fill(nBatches)(Vector.newBuilder[(Long, String)])
      docs.foreach { d =>
        batches(rnd.nextInt(nBatches)) += d
        if (rnd.nextInt(4) == 0) batches(rnd.nextInt(nBatches)) += d
      }
      val tableDir = tempDir(s"graft-sig-prop$seed").toString
      batches.map(_.result()).filter(_.nonEmpty).foreach { b =>
        MinhashMaintenance.mergeBatch(b.toDF("doc_id", "text"), tableDir, buckets = 4)
      }
      val got = sigMap(MinhashMaintenance.signatures(spark, tableDir))
      val expected = sigMap(Dedup.minhashSignaturesOf(docs.toDF("doc_id", "text")))
      assert(got === expected, s"seed $seed: streamed table diverged from recompute")
    }
  }

  test("a batch rewrites ONLY the buckets it touches") {
    val tableDir = tempDir("graft-sig-bkt").toString
    // doc_ids 1,2,3,5 under 4 buckets land in buckets 1,2,3,1 — bucket 0
    // stays empty until doc 8 arrives
    runBatches(tableDir, Seq(b1, b2), buckets = 4)
    def filesUnder(b: Int): Set[String] = {
      val d = new java.io.File(tableDir, s"bucket=$b")
      if (!d.exists) Set.empty
      else d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val before = (0 to 3).map(filesUnder)
    assert(before(0).isEmpty && before.drop(1).forall(_.nonEmpty))
    runBatches(tableDir, Seq(Seq((8L, "five quacking zephyrs jolt my wax bed"))), buckets = 4)
    val after = (0 to 3).map(filesUnder)
    assert(after(0).nonEmpty, "doc 8 must create bucket 0")
    assert(after.drop(1) === before.drop(1),
      s"untouched buckets must keep their exact files: $before vs $after")
    // and the table still equals the full recompute
    val got = sigMap(MinhashMaintenance.signatures(spark, tableDir))
    val expected = sigMap(Dedup.minhashSignaturesOf(
      (b1 ++ b2 ++ Seq((8L, "five quacking zephyrs jolt my wax bed"))).toDF("doc_id", "text")))
    assert(got === expected)
  }
}
