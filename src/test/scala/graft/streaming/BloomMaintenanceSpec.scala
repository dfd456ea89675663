package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.functions.BloomFilter
import NearDupStream.Doc

/** Streaming Bloom maintenance: the stored filter must stay bit-identical
  * to a one-shot batch build over everything ingested (the OR-monoid
  * twin of the MinHash merge≡recompute pin), and the admission screen
  * must never clear a previously-ingested document. */
class BloomMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val M = 1 << 16
  private val K = 5

  private def ts(s: String) = Timestamp.valueOf(s)

  private val b1 = Seq((1L, "the quick brown fox jumps over the dog"),
                       (2L, "pack my box with five dozen liquor jugs"))
  private val b2 = Seq((3L, "sphinx of black quartz judge my vow now"),
                       (4L, "how vexingly quick daft zebras jump today"))

  private def runBatches(tableDir: String,
      batches: Seq[Seq[(Long, String)]]): Unit = {
    val ckpt = tempDir("graft-bloom-ckpt").toString
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = BloomMaintenance.start(stream.toDS(), tableDir, ckpt, M, K)
    try {
      batches.foreach { b =>
        stream.addData(b.map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) })
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  test("streamed filter == one-shot batch build after 2 micro-batches") {
    val tableDir = tempDir("graft-bloom-table").toString
    runBatches(tableDir, Seq(b1, b2))
    val got = BloomMaintenance.bits(spark, tableDir, M)
    val expected = BloomFilter.build(
      (b1 ++ b2).toDF("doc_id", "text")
        .select(BloomMaintenance.contentHash.as("h")), "h", M, K)
    assert(got.sameElements(expected),
      "streamed OR-merge must be bit-identical to the one-shot build")
  }

  test("replayed batch is a no-op (idempotent OR)") {
    val tableDir = tempDir("graft-bloom-idem").toString
    runBatches(tableDir, Seq(b1, b2, b2))
    val got = BloomMaintenance.bits(spark, tableDir, M)
    val expected = BloomFilter.build(
      (b1 ++ b2).toDF("doc_id", "text")
        .select(BloomMaintenance.contentHash.as("h")), "h", M, K)
    assert(got.sameElements(expected))
  }

  test("checkpoint restart: a NEW query resuming the same checkpoint converges") {
    // not just in-query replay: stop the stream entirely, start a fresh
    // query against the SAME checkpoint dir, deliver more data — the
    // recovered stream must fold the new batch onto the recovered state
    // and land bit-identical to the one-shot build. A FILE source is used
    // because its offsets (file names) survive restart; MemoryStream's
    // do not, so it cannot exercise real checkpoint recovery.
    val base = tempDir("graft-bloom-restart")
    val (inDir, tableDir, ckpt) = (s"$base/in", s"$base/table", s"$base/ckpt")
    new java.io.File(inDir).mkdirs()
    def deliver(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = s"$base/stage-$name"
      rows.map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) }
        .toDF().coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
    }
    def docStream = spark.readStream
      .schema(Seq.empty[Doc].toDS().schema).parquet(inDir).as[Doc]
    deliver("b1", b1)
    val q1 = BloomMaintenance.start(docStream, tableDir, ckpt, M, K)
    try q1.processAllAvailable() finally q1.stop()
    deliver("b2", b2)
    val q2 = BloomMaintenance.start(docStream, tableDir, ckpt, M, K)
    try q2.processAllAvailable() finally q2.stop()
    val got = BloomMaintenance.bits(spark, tableDir, M)
    val expected = BloomFilter.build(
      (b1 ++ b2).toDF("doc_id", "text")
        .select(BloomMaintenance.contentHash.as("h")), "h", M, K)
    assert(got.sameElements(expected),
      "state recovered across a full query restart must match the one-shot build")
  }

  test("torn snapshot (crash between write and commit) is invisible and recoverable") {
    // Simulate the mid-overwrite crash the versioned layout exists for:
    // after two good batches, fabricate a HIGHER-versioned snapshot dir
    // with plausible part files but NO _SUCCESS marker — exactly what a
    // writer killed between materializing parts and committing leaves
    // behind. Readers must keep serving the last committed version, and
    // the replayed batch must fold onto it and converge to the same bits
    // as an uninterrupted run.
    val tableDir = tempDir("graft-bloom-torn").toString
    runBatches(tableDir, Seq(b1))
    val committed = BloomMaintenance.bits(spark, tableDir, M)
    // torn write: poison content (all-ones words) so serving it would be
    // loudly detectable, no _SUCCESS
    val torn = new java.io.File(s"$tableDir/v99")
    (0 until 4).toDF("w").selectExpr("w", "cast(-1 as long) as bits")
      .coalesce(1).write.parquet(torn.toString)
    assert(new java.io.File(torn, "_SUCCESS").delete(),
      "test setup: the torn snapshot must lack its commit marker")
    // reader ignores the torn dir entirely
    assert(BloomMaintenance.bits(spark, tableDir, M).sameElements(committed),
      "a snapshot without _SUCCESS must be invisible to readers")
    // the replayed/next batch folds onto the committed version...
    BloomMaintenance.mergeBatch(b2.toDF("doc_id", "text"), tableDir, M, K)
    val expected = BloomFilter.build(
      (b1 ++ b2).toDF("doc_id", "text")
        .select(BloomMaintenance.contentHash.as("h")), "h", M, K)
    assert(BloomMaintenance.bits(spark, tableDir, M).sameElements(expected),
      "recovery after a torn write must converge to the one-shot build")
    // ...the recovery merge also reclaims the inflated torn dir — without
    // this, v99 survives as permanent garbage until the version counter
    // catches up, at which point a merge would overwrite-COMMIT a path a
    // crashed writer once poisoned (ADVICE r11)
    assert(!torn.exists(),
      "a torn snapshot above the committed head must be reclaimed by the next merge")
    // ...and the screen still honors the no-false-negative contract for
    // the docs whose batch the crash interrupted
    val screened = BloomMaintenance.screen(spark, tableDir,
      (b1 ++ b2).toDF("doc_id", "text"), M, K)
      .where(org.apache.spark.sql.functions.col("suspect_dup")).count()
    assert(screened === (b1 ++ b2).size.toLong)
  }

  test("snapshot reclamation keeps at most the latest snapshot and one predecessor") {
    val tableDir = tempDir("graft-bloom-reclaim").toString
    runBatches(tableDir, Seq(b1, b2, b1.map { case (i, t) => (i + 100, t + " x") }))
    val vs = new java.io.File(tableDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).sorted
    assert(vs.length <= 2, s"stale snapshots must be reclaimed, found ${vs.mkString(",")}")
    assert(vs.contains("v2"), "the newest snapshot must survive reclamation")
  }

  test("screened admission: non-hits bypass the exact probe, output == unscreened path") {
    val tableDir = tempDir("graft-bloom-twotier").toString
    runBatches(tableDir, Seq(b1, b2))
    // corpus index: hashes of everything ingested EXCEPT doc 4 — so doc 4
    // is a filter hit whose exact check exonerates it (the ε-tail shape:
    // suspect but not an actual dup)
    val index = (b1 ++ b2.take(1)).toDF("doc_id", "text")
      .select(BloomMaintenance.contentHash.as("h"))
    val arrivals = ((b1 ++ b2) ++ Seq(
      (20L, "completely novel arrival number twenty"),
      (21L, "another new document sails straight through")))
      .toDF("doc_id", "text")
    // counting probe: wraps the exact tier and records how many rows it
    // was actually handed — the bypass assertion
    var probedRows = -1L
    val countingProbe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      suspects => {
        val cached = suspects.cache()
        probedRows = cached.count()
        BloomMaintenance.exactHashProbe(index)(cached)
      }
    val admitted = BloomMaintenance.screenedAdmission(
      spark, tableDir, arrivals, countingProbe, M, K)
      .select("doc_id").as[Long].collect().sorted
    // only the 4 ingested docs hit the filter (ε for the 2 fresh docs is
    // ~1e-14 at this fill); the fresh majority bypassed the index
    assert(probedRows === 4L,
      s"exact probe must see only the Bloom-hit tail, saw $probedRows")
    // two-tier output == the unscreened probe-everything path
    val unscreened = BloomMaintenance.exactHashProbe(index)(arrivals)
      .select("doc_id").as[Long].collect().sorted
    assert(admitted.sameElements(unscreened),
      "screening must never change the admitted set")
    // and the exonerated suspect (doc 4, not in the index) was admitted
    assert(admitted.contains(4L))
  }

  test("streaming two-tier ingest: each content admitted once, fresh batches skip the probe") {
    val base = tempDir("graft-bloom-ingest")
    val (tableDir, indexDir, admittedDir) =
      (s"$base/filter", s"$base/index", s"$base/admitted")
    // batch 1: three docs, one intra-batch content dup (doc 3 repeats
    // doc 1's text and must lose to the earlier doc_id)
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox jumps over the dog"))
    // batch 2: two cross-batch dups + two genuinely new docs
    val batch2 = Seq(
      (4L, "the quick brown fox jumps over the dog"),
      (5L, "pack my box with five dozen liquor jugs"),
      (6L, "sphinx of black quartz judge my vow now"),
      (7L, "how vexingly quick daft zebras jump today"))
    val ckpt = s"$base/ckpt"
    val metricsDir = s"$base/metrics"
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = BloomMaintenance.startScreenedIngest(
      stream.toDS(), tableDir, indexDir, admittedDir, ckpt, M, K,
      metricsDir = Some(metricsDir))
    try {
      Seq(batch1, batch2).foreach { b =>
        stream.addData(b.map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) })
        q.processAllAvailable()
      }
    } finally q.stop()
    // exactly one admission per distinct content, first arrival wins
    val admitted = spark.read.parquet(admittedDir)
      .select("doc_id").as[Long].collect().sorted
    assert(admitted.sameElements(Array(1L, 2L, 6L, 7L)))
    // per-batch observability counters reconcile with the admitted output
    // (the zero-index-I/O claim, now in evidence instead of asserted):
    // batch 0: 3 arrivals, 1 intra-batch dup, everything screen-clean;
    // batch 1: 4 arrivals, the 2 cross-batch dups routed to the probe
    // (none exonerated), the 2 new docs bypassing it entirely
    val metrics = spark.read.parquet(metricsDir)
      .orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n_arrived"),
        r.getAs[Long]("n_unique"), r.getAs[Long]("n_bypassed"),
        r.getAs[Long]("n_probed"), r.getAs[Long]("n_probe_admitted"),
        r.getAs[Long]("n_admitted")))
    assert(metrics.toSeq === Seq(
      (0L, 3L, 2L, 2L, 0L, 0L, 2L),
      (1L, 4L, 4L, 2L, 2L, 0L, 2L)))
    metrics.foreach { case (_, _, u, byp, pr, pa, adm) =>
      assert(byp + pr === u, "screen must partition the deduped batch")
      assert(adm === byp + pa, "admissions = bypassed + exonerated suspects")
    }
    assert(metrics.map(_._7).sum === admitted.length.toLong,
      "summed per-batch admissions must equal the corpus")
    // the maintained filter now flags all four admitted contents
    val flagged = BloomMaintenance.screen(spark, tableDir,
      (batch1 ++ batch2).toDF("doc_id", "text"), M, K)
      .where(org.apache.spark.sql.functions.col("suspect_dup"))
      .select("doc_id").as[Long].collect().sorted
    assert(flagged.sameElements(Array(1L, 2L, 3L, 4L, 5L, 6L, 7L)))
    // bypass contract, driven through the same batch entry the stream
    // uses: a THIRD batch of all-new docs must reach the probe with zero
    // rows (total screen bypass), while a batch of known dups routes all
    // of them to it
    var probed = -1L
    def counting(inner: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      suspects => { val c = suspects.cache(); probed = c.count(); inner(c) }
    def mk(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => Doc(id, ts("2024-01-01 00:00:00"), t) }
      .toDF()
    BloomMaintenance.ingestBatch(
      mk(Seq((8L, "entirely fresh text with novel words"),
             (9L, "a second unprecedented document body"))),
      tableDir, indexDir, admittedDir, M, K, counting)
    assert(probed === 0L, "an all-new batch must bypass the exact probe entirely")
    BloomMaintenance.ingestBatch(
      mk(Seq((10L, "the quick brown fox jumps over the dog"))),
      tableDir, indexDir, admittedDir, M, K, counting)
    assert(probed === 1L, "a known dup must route to the exact probe")
    assert(spark.read.parquet(admittedDir).count() === 6L) // +8, +9 only

    // index compaction between batches: the per-batch appends (one file
    // each) rewrite to a single file with MEMBERSHIP unchanged — and a
    // subsequent ingest still rejects a known dup and admits a fresh doc
    // against the compacted index (the only contract the probe needs)
    def idxFiles() = new java.io.File(indexDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(indexDir).as[Long].collect().sorted
    assert(idxFiles() > 1, "per-batch appends must have left multiple files")
    BloomMaintenance.compactHashIndex(spark, indexDir)
    assert(idxFiles() === 1, "compaction must rewrite the index to one file")
    val after = spark.read.parquet(indexDir).as[Long].collect().sorted
    assert(after.sameElements(before.distinct), "compaction must preserve the hash SET")
    BloomMaintenance.ingestBatch(
      mk(Seq((12L, "pack my box with five dozen liquor jugs"),      // known dup
             (13L, "a post-compaction brand new document text"))),  // fresh
      tableDir, indexDir, admittedDir, M, K, counting)
    val admittedIds = spark.read.parquet(admittedDir)
      .select("doc_id").as[Long].collect().sorted
    assert(admittedIds.contains(13L) && !admittedIds.contains(12L),
      "post-compaction ingest must keep exact-once admission semantics")
  }

  test("ingest metrics: an empty micro-batch writes a zeros row instead of hanging") {
    val base = tempDir("graft-bloom-empty")
    val (tableDir, indexDir, admittedDir, metricsDir) =
      (s"$base/filter", s"$base/index", s"$base/admitted", s"$base/metrics")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")))
      .select("doc_id", "ts", "text")
    // empty-relation propagation prunes the CollectMetrics nodes, so a
    // blocking Observation.get here would never return — the guard must
    // settle the row from the screen frame alone; failAfter turns a
    // regression into a failure instead of a hung suite
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.{Seconds, Span}
    implicit val signaler: org.scalatest.concurrent.Signaler =
      org.scalatest.concurrent.ThreadSignaler
    failAfter(Span(120, Seconds)) {
      BloomMaintenance.ingestBatch(empty, tableDir, indexDir, admittedDir,
        M, K, metricsDir = Some(metricsDir), batchId = 7L)
    }
    val m = spark.read.parquet(metricsDir).collect()
    assert(m.length === 1)
    val r = m.head
    assert(r.getAs[Long]("batch_id") === 7L)
    Seq("n_arrived", "n_unique", "n_bypassed", "n_probed",
      "n_probe_admitted", "n_admitted").foreach { c =>
      assert(r.getAs[Long](c) === 0L, s"$c must be 0 for an empty batch")
    }
  }

  test("ingest replay registry query: counters reconcile; replay is idempotent") {
    val dir = "/root/testdata/sf0.001"
    val r1 = IngestReplay.ingestMetrics(spark, dir).collect()
    assert(r1.length === 3)
    r1.foreach { r =>
      assert(r.getAs[Int]("screen_partition_ok") === 1)
      assert(r.getAs[Int]("admission_ok") === 1)
      assert(r.getAs[Long]("n_unique") <= r.getAs[Long]("n_arrived"))
    }
    // the mod-3 slices cover every document, so total admissions across
    // the replay equal the corpus's distinct contents — exact-once
    val distinctContents = graft.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text"))).distinct().count()
    assert(r1.map(_.getAs[Long]("n_admitted")).sum === distinctContents)
    // second invocation hits the fingerprint marker: same rows, no
    // double-ingest (a replay WITHOUT the guard would re-append)
    val r2 = IngestReplay.ingestMetrics(spark, dir).collect()
    assert(r2.map(_.toSeq).toSeq === r1.map(_.toSeq).toSeq)
  }

  test("admission screen: every ingested doc flags, fresh docs pass clean") {
    val tableDir = tempDir("graft-bloom-screen").toString
    runBatches(tableDir, Seq(b1, b2))
    val candidates = ((b1 ++ b2) ++ Seq(
      (10L, "a genuinely new document never seen before"),
      (11L, "another unseen arrival with different words")))
      .toDF("doc_id", "text")
    val screened = BloomMaintenance.screen(spark, tableDir, candidates, M, K)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // no false negatives — the correctness half of the contract
    (b1 ++ b2).foreach { case (id, _) =>
      assert(screened(id), s"ingested doc $id must be flagged")
    }
    // fresh docs clear (ε at 4 keys in 2^16 bits is ~1e-14 per probe —
    // a flag here would mean the bit math broke, not bad luck)
    assert(!screened(10L) && !screened(11L))
  }
}
