package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.exec.{Cut, Session}
import graft.functions.BloomFilter

/** Streaming maintenance of a corpus Bloom filter — the ingest-time twin
  * of [[graft.functions.BloomFilter.build]], and the admission-control
  * front for exact-dup checks at ingest.
  *
  * Each micro-batch's content hashes fold into a stored word table
  * (`(w, bits)`, one row per nonzero 64-bit word) with a union +
  * `bit_or` merge. Bitwise OR is associative, commutative and IDEMPOTENT,
  * so a crash-replayed batch re-ORs the same bits and converges — the
  * same algebraic-merge discipline as [[MinhashMaintenance]]'s slot-wise
  * min. By the monoid property the stored table after any number of
  * batches is bit-identical to a one-shot [[BloomFilter.build]] over
  * everything ever ingested (spec-pinned), so the probe side needs no
  * special streaming variant.
  *
  * Durability: each merge writes a NEW versioned snapshot directory
  * (`v0`, `v1`, …) and readers resolve the highest version whose
  * `_SUCCESS` marker landed — Spark's committer materializes that marker
  * only after every part file is in place, so it IS the commit point. An
  * in-place read→union→overwrite (the previous design) had a window
  * where a crash after the old files were deleted but before the new
  * ones committed lost EVERY previously ingested bit; since earlier
  * batches' offsets were already committed, the recovered stream would
  * re-OR only the latest batch and the admission screen would then
  * return false — "provably never ingested" — for documents that WERE
  * ingested, silently breaking the no-false-negative contract. With
  * versioned snapshots a torn write leaves no `_SUCCESS`, readers keep
  * serving v(n), and the replayed batch rebuilds v(n+1) from v(n); a
  * crash between commit and checkpoint just re-ORs idempotently into
  * v(n+2). Superseded snapshots are reclaimed best-effort, keeping one
  * predecessor; torn directories at any other version — including ones
  * ABOVE the committed head, which would otherwise linger until the
  * counter caught up — are reclaimed on the next merge. Retention
  * scope: one predecessor covers any reader whose resolve-and-collect
  * spans fewer than two FULL merge cycles — a ≤ m/64-row read, orders
  * of magnitude faster than a merge; a deployment with pathologically
  * slow readers should widen retention to an age window rather than
  * a count.
  *
  * Why at 100 TB: ingest-time exact-dup admission against a corpus index
  * costs an index probe PER ARRIVING DOC. With the filter in front, the
  * definitely-new majority (no filter hit) admits with ZERO index I/O;
  * only filter hits — true dups + the ε false-positive tail — pay the
  * exact lookup ([[screenedAdmission]] composes the two tiers). The
  * stored table is ≤ m/64 rows (16 KiB of longs at the default 2^20
  * bits) regardless of corpus size: state is FILTER-shaped, not
  * corpus-shaped.
  */
object BloomMaintenance {

  val DefaultBits: Int = 1 << 20
  val DefaultK: Int = 5

  /** 64-bit content hash — same md5-prefix scheme as the dedup suite
    * (collision-safe at corpus scale for admission purposes). */
  private[streaming] def contentHash: org.apache.spark.sql.Column =
    expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)")

  /** Start the maintenance stream over (doc_id, ts, text) rows. */
  def start(docs: Dataset[NearDupStream.Doc], tableDir: String,
      checkpointDir: String, mBits: Int = DefaultBits,
      k: Int = DefaultK): StreamingQuery =
    docs.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        mergeBatch(batch.toDF(), tableDir, mBits, k)
      }
      .start()

  /** The newest COMMITTED snapshot under `tableDir`: highest `v<n>`
    * child whose `_SUCCESS` marker exists. Directories without the
    * marker are torn writes — invisible to readers by construction. */
  private def latestSnapshot(fs: FileSystem, dir: Path): Option[(Long, Path)] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case n if n.startsWith("v") => n.drop(1).toLongOption.map(_ -> st.getPath)
        case _ => None
      })
      .filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
      .sortBy(-_._1).headOption

  /** Fold ONE batch into the stored word table — also the backfill entry
    * point for a historical shard. Commit protocol in the object doc. */
  private[streaming] def mergeBatch(batch: DataFrame, tableDir: String,
      mBits: Int, k: Int): Unit = {
    val spark = batch.sparkSession
    val fresh = BloomFilter.wordFrame(
      batch.select(contentHash.as("h")), "h", mBits, k)
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = latestSnapshot(fs, dir)
    // an empty micro-batch must not churn a new (identical) snapshot
    if (batch.isEmpty && latest.isDefined) return
    val merged = latest match {
      case Some((_, p)) =>
        spark.read.parquet(p.toString).union(fresh)
          .groupBy(col("w")).agg(expr("bit_or(bits)").as("bits"))
      case None => fresh
    }
    if (!merged.isEmpty) {
      val next = latest.map(_._1 + 1).getOrElse(0L)
      // overwrite mode: a torn v(next) from a previous crash of THIS
      // batch is replaced wholesale; _SUCCESS lands last = commit
      merged.write.mode("overwrite").parquet(new Path(dir, s"v$next").toString)
      // best-effort reclamation: keep the just-written snapshot and its
      // predecessor (in-flight readers of v(next-1) finish safely on
      // object stores / local fs; a crash mid-delete is harmless — the
      // next merge retries). Torn directories (no _SUCCESS) at ANY
      // version other than the one just committed are garbage from a
      // crashed writer — including INFLATED versions above `next`, which
      // the superseded-version rule alone would never reach until the
      // counter caught up (and which a future merge would otherwise
      // overwrite-commit, silently serving poisoned content).
      try fs.listStatus(dir).toSeq.filter(_.isDirectory).foreach { st =>
        st.getPath.getName.drop(1).toLongOption.foreach { v =>
          val torn = v != next && !fs.exists(new Path(st.getPath, "_SUCCESS"))
          if (st.getPath.getName.startsWith("v") && (v + 1 < next || torn))
            fs.delete(st.getPath, true)
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The maintained filter as a dense probe array — driver materialization
    * bounded by m/64 words, never by the corpus. Reads the newest
    * committed snapshot; an empty/absent table is an all-zero filter
    * (screen admits everything — correct for "nothing ever ingested"). */
  def bits(spark: SparkSession, tableDir: String,
      mBits: Int = DefaultBits): Array[Long] = {
    val out = new Array[Long](mBits / 64)
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestSnapshot(fs, dir).foreach { case (_, p) =>
      spark.read.parquet(p.toString)
        .collect().foreach(r => out(r.getInt(0)) = r.getLong(1))
    }
    out
  }

  /** Admission screen for a frame of candidate (…, text) rows: adds
    * `suspect_dup` — false means PROVABLY never ingested (admit with no
    * further I/O); true routes to the exact corpus-index check (true dups
    * + the ε false-positive tail). The probe resolves through the
    * session's function registry, and the filter is read without
    * `Tables`, so this installs graft's session state itself. */
  def screen(spark: SparkSession, tableDir: String, candidates: DataFrame,
      mBits: Int = DefaultBits, k: Int = DefaultK): DataFrame = {
    Session.install(spark)
    val filter = bits(spark, tableDir, mBits)
    candidates.withColumn("suspect_dup",
      BloomFilter.mightContain(filter, contentHash, k))
  }

  /** The two-tier admission path end-to-end: Bloom [[screen]] splits the
    * batch, non-hits admit with ZERO index I/O, and ONLY the hit tail is
    * handed to `probe` — the exact corpus-index check (typically a
    * left-anti join against the ingested-hash index; see
    * [[exactHashProbe]]). Because the filter has no false negatives, the
    * union of {screen-clean} ∪ {probe-admitted suspects} is EXACTLY the
    * set the unscreened probe-everything path admits — the screen can
    * only divert provably-new rows around the probe, never change the
    * answer (spec-pinned, including probe-visibility: the spec's
    * counting probe observes only the hit tail). */
  def screenedAdmission(spark: SparkSession, tableDir: String,
      batch: DataFrame, probe: DataFrame => DataFrame,
      mBits: Int = DefaultBits, k: Int = DefaultK): DataFrame = {
    val s = screen(spark, tableDir, batch, mBits, k)
    val clean = s.where(!col("suspect_dup")).drop("suspect_dup")
    val suspects = s.where(col("suspect_dup")).drop("suspect_dup")
    clean.unionByName(probe(suspects))
  }

  /** The exact tier: admit candidates whose content hash is NOT in the
    * ingested-hash index — a left-anti join, i.e. the check the screen
    * exists to keep the definitely-new majority away from. `index` is a
    * one-column (`h`) frame of previously ingested hashes. */
  def exactHashProbe(index: DataFrame): DataFrame => DataFrame = suspects =>
    suspects.withColumn("__h", contentHash)
      .join(index, col("__h") === index("h"), "left_anti")
      .drop("__h")

  /** Compact the ingested-hash index: the ingest appends one small
    * parquet file per micro-batch, so a long-running stream accumulates
    * thousands of files whose per-file open cost the probe join pays on
    * every batch. The index is a SET of longs, so compaction is
    * union + distinct + rewrite into `files` outputs — membership, the
    * only question the probe ever asks, is invariant (spec-pinned,
    * including across an ingest → compact → ingest sequence).
    *
    * Durability scope: the read-then-overwrite-same-path cycle rides an
    * eager localCheckpoint, exactly the
    * [[graft.sources.PartitionedSink.compactDaily]] idiom and caveat —
    * single-node/dev lakes are safe; a multi-node cluster should swap
    * via temp dir + rename or reliable checkpointing. Run it BETWEEN
    * batches (the ingest is a single sequential writer; foreachBatch of
    * a stopped/idle stream, or an external maintenance job at off-peak
    * cadence). Losing a compaction to a crash costs nothing but the
    * file-count hygiene: the stream re-appends from its checkpoint and
    * membership re-converges because re-appends are set-idempotent. */
  def compactHashIndex(spark: SparkSession, indexDir: String, files: Int = 1): Unit = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    // materialize BEFORE overwriting the path being read (see
    // PartitionedSink.compactDaily)
    Cut.shared(spark.read.parquet(indexDir).distinct().repartition(files))
      .write.mode("overwrite").parquet(indexDir)
  }

  /** The ingested-hash index as a frame — empty (correct schema) before
    * the first batch lands. */
  private def hashIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet")))
      spark.read.parquet(indexDir)
    else spark.range(0).select(col("id").as("h"))
  }

  /** Per-batch admission counters — the evidence for the screen's
    * zero-index-I/O claim, written one row per micro-batch. `n_bypassed`
    * docs admitted with NO index probe (screen-clean), `n_probed` hit
    * the filter and paid the exact check, `n_probe_admitted` of those
    * were exonerated (ε false positives). Reconciliation invariants
    * (spec-pinned): `n_bypassed + n_probed = n_unique` and
    * `n_admitted = n_bypassed + n_probe_admitted`. */
  case class IngestMetrics(batch_id: Long, n_arrived: Long, n_unique: Long,
      n_bypassed: Long, n_probed: Long, n_probe_admitted: Long, n_admitted: Long)

  /** One micro-batch of the two-tier streaming ingest: intra-batch
    * content dedup (first arrival by (ts, doc_id) wins), Bloom screen,
    * exact-index probe for the hit tail only, then append the admitted
    * docs to the corpus, their hashes to the index, and their bits to
    * the filter. `wrapProbe` lets the spec interpose a counting probe to
    * pin the bypass contract.
    *
    * With `metricsDir` set, an [[IngestMetrics]] row lands per batch.
    * The admitted-side counters ride the corpus write itself via
    * `Dataset.observe` (the [[graft.ops.QualityChecks]] pattern — no
    * second pass over the admitted stream); the screen-side counters are
    * scans of the persisted screen frame, already cached for the two
    * admission branches, so the marginal cost is cache-local counting of
    * one micro-batch — never a recompute of the screen. */
  private[streaming] def ingestBatch(batch: DataFrame, tableDir: String,
      indexDir: String, admittedDir: String, mBits: Int, k: Int,
      wrapProbe: (DataFrame => DataFrame) => (DataFrame => DataFrame) = identity,
      metricsDir: Option[String] = None, batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    // arrival counter rides the batch scan inside the corpus-write job
    // (observe, not a count() — no extra source pass)
    val obsArrived = org.apache.spark.sql.Observation(s"graft_ingest_arrived_$batchId")
    val observedBatch = if (metricsDir.isDefined)
      batch.observe(obsArrived, count(lit(1)).as("n_arrived")) else batch
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col("ts"), col("doc_id"))
    val firsts = observedBatch.withColumn("__h", contentHash)
      .withColumn("__rn", row_number().over(wFirst))
      .where(col("__rn") === 1).drop("__h", "__rn")
    val probe = wrapProbe(exactHashProbe(hashIndex(spark, indexDir)))
    // inline screenedAdmission with a persisted screen frame: both
    // admission branches read it from cache, and the metrics path can
    // count it without re-running the screen
    val s = screen(spark, tableDir, firsts, mBits, k).persist()
    val clean = s.where(!col("suspect_dup")).drop("suspect_dup")
    val suspects = s.where(col("suspect_dup")).drop("suspect_dup")
    val probeAdmitted = probe(suspects)
    val obs = org.apache.spark.sql.Observation(s"graft_ingest_$batchId")
    val admitted = clean.withColumn("__via_probe", lit(0L))
      .unionByName(probeAdmitted.withColumn("__via_probe", lit(1L)))
      .observe(obs,
        count(lit(1)).as("n_admitted"),
        coalesce(sum(col("__via_probe")), lit(0L)).as("n_probe_admitted"))
      .drop("__via_probe")
      .persist()
    // materialize THROUGH the cache before appending to the index the
    // probe's plan reads — otherwise the lazy join could re-scan the
    // index after this batch's own hashes landed and reject everything
    admitted.write.mode("append").parquet(admittedDir)
    admitted.select(contentHash.as("h")).write.mode("append").parquet(indexDir)
    mergeBatch(admitted, tableDir, mBits, k)
    metricsDir.foreach { md =>
      // ONE fused cache-local agg for both screen-side counters (the
      // label-loop sizing-fusion discipline) — and it runs FIRST because
      // it cannot hang: when the micro-batch is empty, empty-relation
      // propagation can prune the CollectMetrics nodes entirely, in
      // which case `Observation.get` would block forever waiting for a
      // metrics row that is never delivered (the getOrElse only guards
      // a missing KEY after get() returns). nUnique = 0 ⟺ empty batch
      // (every arriving row has a first-arrival survivor), so the
      // observations are consulted only when the screen frame proves a
      // row flowed through the observed plans.
      val sr = s.agg(count(lit(1)),
        coalesce(sum(col("suspect_dup").cast("long")), lit(0L))).head()
      val (nUnique, nProbed) = (sr.getLong(0), sr.getLong(1))
      val row = if (nUnique == 0L)
        IngestMetrics(batchId, 0L, 0L, 0L, 0L, 0L, 0L)
      else {
        // observations collected on the corpus-write job above; safe to
        // block on now — the batch was provably non-empty
        val m = obs.get
        val nArrived = obsArrived.get
          .getOrElse("n_arrived", 0L).asInstanceOf[Long]
        IngestMetrics(batchId, nArrived, nUnique,
          nUnique - nProbed, nProbed,
          m.getOrElse("n_probe_admitted", 0L).asInstanceOf[Long],
          m.getOrElse("n_admitted", 0L).asInstanceOf[Long])
      }
      import spark.implicits._
      Seq(row).toDF().coalesce(1).write.mode("append").parquet(md)
    }
    s.unpersist()
    admitted.unpersist()
  }

  /** Streaming two-tier dedup ingest: every arriving document is admitted
    * exactly once per content — the Bloom filter absorbs the
    * definitely-new majority with zero index I/O, the hash index settles
    * the hit tail exactly. State grows as: filter = m/64 words (fixed),
    * index = one long per distinct ingested content (the exact tier's
    * unavoidable floor), admitted corpus = the answer. Replay of an
    * uncommitted batch re-admits its docs (at-least-once appends, the
    * standard foreachBatch contract — downstream readers key on content
    * hash, under which the re-append is a no-op).
    *
    * Operational note: the index appends one small parquet file per
    * batch, so a long-running ingest schedules periodic
    * [[compactHashIndex]] runs — safe because the index is a SET of
    * longs: compaction is union+distinct, and the probe only ever asks
    * membership. The Bloom tier keeps the probe volume tiny regardless,
    * so compaction cadence is about file-count hygiene, not read
    * latency. */
  def startScreenedIngest(docs: Dataset[NearDupStream.Doc], tableDir: String,
      indexDir: String, admittedDir: String, checkpointDir: String,
      mBits: Int = DefaultBits, k: Int = DefaultK,
      metricsDir: Option[String] = None): StreamingQuery =
    docs.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        ingestBatch(batch.toDF(), tableDir, indexDir, admittedDir, mBits, k,
          metricsDir = metricsDir, batchId = id)
      }
      .start()
}
