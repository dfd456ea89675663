package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

/** Degenerate-input robustness: every operator family must flow an EMPTY
  * table through to an empty (or neutral) result without throwing — at
  * 100 TB, empty partitions/days/shards are routine, not exceptional. */
class EmptyInputsSpec extends SparkSpec {

  /** All 10 test tables, schema-correct but 0 rows. */
  private lazy val dir: String = {
    val src = "/root/testdata/sf0.001"
    val d = tempDir("graft-empty").toString
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      graft.Tables.table(spark, src, t).limit(0)
        .write.mode(SaveMode.Overwrite).parquet(s"$d/$t.parquet")
    }
    d
  }

  test("reference pipeline, sessionize, quantiles, histogram on empty events") {
    assert(SensorPipeline.pipelineLong(spark, dir).count() === 0)
    assert(Analytics.sessionize(spark, dir).count() === 0)
    assert(Analytics.quantiles(spark, dir).count() === 0)
    assert(Analytics.histogram(spark, dir).count() === 0)
  }

  test("dedup family on empty documents: no pairs, no clusters, no exceptions") {
    assert(graft.ext.Dedup.exact(spark, dir).count() === 0)
    assert(graft.ext.Dedup.minhashLsh(spark, dir).count() === 0)
    assert(graft.ext.Dedup.ngramJaccard(spark, dir).count() === 0)
    assert(graft.ext.Curation.dupClusters(spark, dir).count() === 0)
    assert(graft.ext.Curation.decontaminate(spark, dir).count() === 0)
  }

  test("round-2 curation additions on empty inputs") {
    assert(graft.ext.Curation.spanDedup(spark, dir).count() === 0)
    assert(graft.ext.Curation.domainMix(spark, dir).count() === 0)
    assert(graft.ext.Curation.winsorize(spark, dir).count() === 0)
    assert(graft.ext.Curation.pagerankSim(spark, dir).count() === 0)
    assert(graft.ext.Dedup.containment(spark, dir).count() === 0)
    assert(graft.ext.Dedup.sourceOverlap(spark, dir).count() === 0)
    assert(graft.ext.TextAnalysis.pplBuckets(spark, dir).count() === 0)
    assert(graft.ext.Similarity.quantizedTopK(spark, dir).count() === 0)
    assert(Incremental.scd2Intervals(spark, dir).count() === 0)
    assert(graft.ext.Dedup.semDedup(spark, dir).count() === 0)
  }

  test("round-9 additions on empty documents") {
    assert(graft.ext.Dedup.editDistancePairs(spark, dir).count() === 0)
    assert(graft.ext.TextAnalysis.gopherRules(spark, dir).count() === 0)
    assert(graft.ext.TextAnalysis.bpeMergeStep(spark, dir).count() === 0)
    assert(graft.ext.Curation.clusterSplitAssign(spark, dir).count() === 0)
    assert(graft.ext.Curation.incrementalClusters(spark, dir).count() === 0)
    assert(graft.ext.Curation.curationPipeline(spark, dir).count() === 0)
    assert(graft.ext.Curation.temperatureMix(spark, dir).count() === 0)
    assert(graft.ext.Curation.lengthBuckets(spark, dir).count() === 0)
    assert(graft.ext.Similarity.rrfHybrid(spark, dir).count() === 0)
    assert(graft.ext.Curation.temperatureSample(spark, dir).count() === 0)
    assert(graft.ext.Curation.dsirWeights(spark, dir).count() === 0)
    assert(graft.ext.Dedup.minhashEstQuality(spark, dir).count() === 0)
  }

  test("census, linkage, scheduling, and audit additions on empty inputs") {
    assert(graft.ext.CorpusStats.sourceKl(spark, dir).count() === 0)
    assert(graft.ext.CorpusStats.pmiCollocations(spark, dir).count() === 0)
    assert(graft.ext.CorpusStats.kmvDistinct(spark, dir).count() === 0)
    assert(graft.ext.CorpusStats.cmsTopTerms(spark, dir).count() === 0)
    // global summary shapes stay schema-stable: one row, neutral cells
    assert(graft.ext.CorpusStats.zipfFit(spark, dir).count() === 1)
    assert(Analytics.corrMatrix(spark, dir).count() === 6)
    assert(graft.ext.Linkage.fuzzyLinkage(spark, dir).count() === 0)
    assert(graft.ext.Linkage.entityResolve(spark, dir).count() === 0)
    assert(graft.ext.Curation.curriculumOrder(spark, dir).count() === 0)
    assert(graft.ext.Curation.triangleSim(spark, dir).count() === 0)
    assert(graft.ext.Curation.paretoFront(spark, dir).count() === 0)
    assert(graft.ext.Curation.tokenBudget(spark, dir).count() === 0)
    assert(graft.ext.Dedup.jaccardPrefixJoin(spark, dir).count() === 0)
    assert(QualityChecks.benfordPrices(spark, dir).count() === 0)
    val m = QualityChecks.observedMetrics(spark, dir).head()
    assert(m.getAs[Long]("n_rows") === 0L, "observe() counters must report an empty run as 0")
  }

  test("TPC-H shapes and incremental merge on empty facts") {
    assert(Relational.pricingSummary(spark, dir).count() === 0)
    assert(Olap.marketShare(spark, dir).count() === 0)
    assert(Incremental.mergedStats(spark, dir).count() === 0)
    // global aggregates still emit their single row, with neutral values
    val q6 = Olap.forecastRevenue(spark, dir).head()
    assert(q6.getLong(1) === 0L)
  }

  test("quality-checks report on empty tables: all checks present, counts observed as 0") {
    val r = QualityChecks.report(spark, dir).collect()
    assert(r.length === 6)
    assert(r.forall(_.getLong(1) === 0L), r.mkString(", "))
  }

  test("round-10 additions on empty inputs") {
    assert(graft.ext.CorpusStats.ngramNovelty(spark, dir).count() === 0)
    assert(graft.ext.CorpusStats.incrNovelty(spark, dir).count() === 0)
    assert(graft.ext.Curation.snapshotDiff(spark, dir).count() === 0)
    assert(graft.ext.Curation.weightedSample(spark, dir).count() === 0)
    assert(graft.ext.Similarity.embedNorm(spark, dir).count() === 0)
    assert(Analytics.intervalOverlap(spark, dir).count() === 0)
    assert(Analytics.bootstrapCi(spark, dir).count() === 0)
    assert(Analytics.quantileSketch(spark, dir).count() === 0)
  }

  test("bloom and layout families on empty inputs") {
    assert(graft.ext.BloomPrune.decontaminateBloom(spark, dir).count() === 0)
    // an empty key set builds an all-zero filter that rejects everything
    import spark.implicits._
    val bits = graft.functions.BloomFilter.build(
      Seq.empty[Long].toDF("h"), "h", mBits = 1 << 10, k = 3)
    assert(bits.forall(_ === 0L))
    assert(graft.ext.Layout.zorderLayout(spark, dir).count() === 0)
    assert(graft.ext.Layout.compactionPlan(spark, dir).count() === 0)
    // one-row report shapes stay schema-stable without throwing
    assert(graft.ext.Layout.zorderPrune(spark, dir).count() === 1)
    assert(graft.ext.Layout.hilbertPrune(spark, dir).count() === 1)
    assert(graft.ext.Layout.zorderIncr(spark, dir).count() === 1)
  }

  test("redaction, transitions, bpe, and profile on empty inputs") {
    assert(graft.ext.Redaction.piiRedact(spark, dir).count() === 0)
    assert(Analytics.eventTransitions(spark, dir).count() === 0)
    assert(Incremental.incrTransitions(spark, dir).count() === 0)
    // no pairs in an empty vocab → the merge loop stops at step 0
    assert(graft.ext.CorpusStats.bpeMerges(spark, dir).count() === 0)
    assert(graft.ext.CorpusStats.bpeSegment(spark, dir).count() === 0)
    // profile keeps its 5-rows-per-column shape with zero observations
    val prof = QualityChecks.dataProfile(spark, dir).collect()
    assert(prof.length === 5)
    prof.foreach { r =>
      assert(r.getAs[Long]("n_rows") === 0L && r.getAs[Long]("n_distinct") === 0L)
    }
  }

  test("round-11 additions on empty inputs") {
    // empty corpus → no spans on either side, no pairs, no census rows,
    // and the adaptive alignment sizes its plane table from n=0 without
    // throwing (floor at 4 planes, empty bucket join)
    assert(graft.ext.Curation.spanDecontaminate(spark, dir).count() === 0)
    assert(graft.ext.Curation.splitLeakage(spark, dir).count() === 0)
    assert(graft.ext.TextAnalysis.textNormalize(spark, dir).count() === 0)
    assert(graft.ext.Similarity.alignMutualNn(spark, dir).count() === 0)
    // footer manifest: an empty-but-schema-correct parquet table yields
    // NULL ranges (row groups exist with 0 rows or stats) or empty —
    // either way filesToRead keeps no zero-row file
    val m = graft.sources.FooterManifest.build(spark, s"$dir/events.parquet",
      Seq("user_id", "value"))
    val kept = graft.sources.FooterManifest.filesToRead(m,
      Map("user_id" -> ((0.0, 1e18))))
    assert(kept.count() === 0, "zero-row files must never be selected for reading")
  }

  test("round-12 additions on empty inputs") {
    // NFC exact dedup: empty corpus → no groups
    assert(graft.ext.Dedup.exactNfc(spark, dir).count() === 0)
    // footer-prune loop: the z-celled write of an empty table produces no
    // files, the manifest is empty, nothing is read — and the one-row
    // report must still come back with all-zero counters, not throw
    val r = graft.ext.Layout.footerPrune(spark, dir).head()
    assert(r.getAs[Long]("files_total") === 0L)
    assert(r.getAs[Long]("files_read") === 0L)
    assert(r.getAs[Long]("rows_scanned") === 0L)
    assert(r.getAs[Long]("rows_out") === 0L)
    // hashed-linear classifier: empty corpus → no scored rows, and a
    // training step over nothing → no gradient rows
    assert(graft.ext.TextAnalysis.qualityClassifier(spark, dir).count() === 0)
    assert(graft.ext.TextAnalysis.classifierGradStep(spark, dir).count() === 0)
    assert(graft.ext.TextAnalysis.classifierBias(spark, dir).count() === 0)
  }

  test("round-13 additions on empty inputs") {
    // string-pruning loop: no files, all-zero one-row report
    val s = graft.ext.Layout.footerPruneStr(spark, dir).head()
    Seq("files_total", "files_read", "rows_scanned", "rows_out")
      .foreach(c => assert(s.getAs[Long](c) === 0L, s"footerPruneStr.$c"))
    // merge-on-read: empty base AND empty delta still answer the box
    val d = graft.ext.Layout.deltaRead(spark, dir).head()
    Seq("files_total", "files_read_base", "rows_scanned_base",
      "rows_delta", "rows_scanned", "rows_out")
      .foreach(c => assert(d.getAs[Long](c) === 0L, s"deltaRead.$c"))
    // iterated training over nothing: schema-stable per-step rows, all
    // counters zero (and no Observation hang on the pruned metrics node)
    val t = graft.ext.TextAnalysis.classifierTrain(spark, dir).collect()
    assert(t.length === 4)
    t.foreach { r =>
      assert(r.getAs[Long]("n_docs") === 0L)
      assert(r.getAs[Long]("sum_abs_residual") === 0L)
      assert(r.getAs[Long]("n_keep") === 0L)
    }
    // ingest replay over an empty corpus: three empty batches still
    // land three all-zero metrics rows with the invariants holding
    val im = graft.streaming.IngestReplay.ingestMetrics(spark, dir).collect()
    assert(im.length === 3)
    im.foreach { r =>
      assert(r.getAs[Long]("n_arrived") === 0L)
      assert(r.getAs[Long]("n_admitted") === 0L)
      assert(r.getAs[Int]("screen_partition_ok") === 1)
      assert(r.getAs[Int]("admission_ok") === 1)
    }
  }

  test("round-14 additions on empty inputs") {
    // stream-join replay with zero matches: the append sink leaves only
    // _spark_metadata, where schema inference throws — the explicit-
    // schema read-back must return the empty frame instead (ADVICE r13;
    // this was the one round-13 query this suite didn't cover)
    assert(graft.streaming.StreamJoin.streamJoinAttribution(spark, dir).count() === 0)
    val sj = graft.streaming.StreamJoin.streamJoinState(spark, dir).head()
    assert(sj.getAs[Long]("n_clicks") === 0L)
    assert(sj.getAs[Long]("state_rows_final") === 0L)
    assert(sj.getAs[Int]("nothing_evicted") === 1)
    // compacting an empty layout: no groups, no files, no exception
    assert(graft.ext.Layout.compactionExec(spark, dir).count() === 0)
    // folding an empty delta into an empty base: all-zero one-row report
    val f = graft.ext.Layout.deltaFold(spark, dir).head()
    Seq("files_total", "files_read", "rows_scanned", "rows_out")
      .foreach(c => assert(f.getAs[Long](c) === 0L, s"deltaFold.$c"))
    // model trained on nothing still persists (the init weights) and
    // applies to nothing without throwing
    assert(graft.ext.TextAnalysis.classifierApply(spark, dir).count() === 0)
    // continuing on an empty shard: all-zero report, no Observation hang
    val ci = graft.ext.TextAnalysis.classifierIncr(spark, dir).head()
    Seq("n_docs", "loss_before", "loss_after", "n_slots_changed")
      .foreach(c => assert(ci.getAs[Long](c) === 0L, s"classifierIncr.$c"))
    // enforcing k-anonymity over nothing: all-zero one-row report
    val ka = graft.ext.Redaction.kAnonEnforce(spark, dir).head()
    Seq("classes_before", "gen_width", "n_classes_gen", "classes_after",
      "rows_suppressed", "k_min_after")
      .foreach(c => assert(ka.getAs[Long](c) === 0L, s"kAnonEnforce.$c"))
    // sampling against an empty allocation: no languages, no rows
    assert(graft.ext.Curation.unimaxSample(spark, dir).count() === 0)
    // decomposed string+numeric pruning over nothing: all-zero report
    val fm = graft.ext.Layout.footerPruneMixed(spark, dir).head()
    Seq("files_total", "files_read_num", "files_read_str", "files_read_both",
      "rows_scanned", "rows_out")
      .foreach(c => assert(fm.getAs[Long](c) === 0L, s"footerPruneMixed.$c"))
  }

  test("round-15 additions on empty inputs") {
    // the lake lifecycle over nothing: all three stage rows present,
    // zero rows everywhere; files_total/files_read at stage 1 still
    // carry the constant +1 delta-file of the ingest-batch model
    val lk = graft.ext.Layout.lakeE2e(spark, dir).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(lk.length === 3)
    assert(lk(0).getAs[Long]("files_total") === 1L)
    assert(lk(0).getAs[Long]("files_read") === 1L)
    lk.foreach { r =>
      assert(r.getAs[Long]("rows_scanned") === 0L)
      assert(r.getAs[Long]("rows_out") === 0L)
      assert(r.getAs[Long]("amp_x1000") === 0L)
    }
    assert(lk(1).getAs[Long]("files_total") === 0L)
    assert(lk(2).getAs[Long]("files_total") === 0L)
    // anonymizing nothing yields the empty view, not a crash
    assert(graft.ext.Redaction.kAnonView(spark, dir).count() === 0)
    // bucketed tables over empty slices: the join still plans and the
    // 1-row rollup is all-zero/null
    val jb = graft.sources.BucketedTables.bucketedAttribution(spark, dir).head()
    assert(jb.getAs[Long]("n_pairs") === 0L)
    assert(jb.getAs[Long]("n_users") === 0L)
    // diffing two empty bucketed snapshots: empty census, no crash
    assert(graft.sources.BucketedTables.bucketedSnapshotDiff(spark, dir).count() === 0L)
    // maintaining the audit over an empty ingest: all-zero one-row report
    val ki = graft.ext.Redaction.kAnonIncr(spark, dir).head()
    Seq("n_delta_docs", "classes_base", "classes_merged",
      "width_before", "width_after", "k_min_merged")
      .foreach(c => assert(ki.getAs[Long](c) === 0L, s"kAnonIncr.$c"))
    // replaying empty arrival batches: three all-zero metric rows
    val li = graft.ext.Layout.lakeIngest(spark, dir).collect()
    assert(li.length === 3)
    li.foreach { r =>
      Seq("n_arrived", "n_affected_files", "n_new_files",
        "rows_rewritten", "amp_x1000", "rows_out_after")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeIngest.$c"))
    }
  }

  test("round-16 additions on empty inputs") {
    // the streaming twin of the arrival loop: three EMPTY staged files
    // must still fire three micro-batches (a file-source batch is
    // defined by new files, not by rows) and land three all-zero rows
    val ls = graft.streaming.LakeIngestStream.lakeIngestStream(spark, dir).collect()
    assert(ls.length === 3)
    ls.foreach { r =>
      Seq("n_arrived", "n_affected_files", "n_new_files",
        "rows_rewritten", "amp_x1000", "rows_out_after")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeIngestStream.$c"))
    }
    // evolving an empty lake: all three stage rows, all-zero counters;
    // stage 1 still carries the constant +1 delta file of the ingest
    // model, and the mergeSchema union over the mixed (empty) dir must
    // still infer the evolved schema from the delta's footer alone
    val le = graft.ext.Layout.lakeEvolve(spark, dir).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(le.length === 3)
    assert(le(0).getAs[Long]("files_total") === 1L)
    assert(le(0).getAs[Long]("files_read") === 1L)
    le.foreach { r =>
      Seq("rows_scanned", "rows_out", "n_scored", "score_chk")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeEvolve.$c"))
    }
    assert(le(1).getAs[Long]("files_total") === 0L)
    assert(le(2).getAs[Long]("files_total") === 0L)
    // vacuuming an empty lake: three generations still commit; the one
    // empty delta file is g0's only (dead) reference, the retained
    // rewrites reference nothing, the answers are trivially invariant —
    // and the dry-run row (round 18) mirrors the executed one exactly
    val lvRows = graft.ext.Layout.lakeVacuum(spark, dir).collect()
      .sortBy(_.getAs[String]("mode"))
    assert(lvRows.map(_.getAs[String]("mode")).toSeq === Seq("dry_run", "vacuum"))
    lvRows.foreach { lv =>
      assert(lv.getAs[Long]("n_gens") === 3L)
      assert(lv.getAs[Long]("n_retained") === 2L)
      assert(lv.getAs[Long]("files_before") === 1L)
      assert(lv.getAs[Long]("files_live") === 0L)
      assert(lv.getAs[Long]("files_deleted") === 1L)
      Seq("rows_deleted", "rows_out_before", "rows_out_prev_gen", "rows_out_after")
        .foreach(c => assert(lv.getAs[Long](c) === 0L, s"lakeVacuum.$c"))
      // the registered consumer's floor is structural (round 19): the
      // replica checkpoints at g1 whether or not any data exists
      assert(lv.getAs[Long]("cursor_floor") === 1L)
    }
  }

  test("round-17 additions on empty inputs") {
    // time travel over an empty lake: all three generations commit and
    // stay readable; g0 still references the one empty delta file, the
    // rewrites reference nothing, every answer is zero
    val tt = graft.ext.Layout.lakeTimetravel(spark, dir).collect()
      .sortBy(_.getAs[Long]("gen"))
    assert(tt.length === 3)
    assert(tt(0).getAs[Long]("files_live") === 1L)
    assert(tt(1).getAs[Long]("files_live") === 0L)
    assert(tt(2).getAs[Long]("files_live") === 0L)
    tt.foreach { r =>
      Seq("rows_referenced", "rows_out")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeTimetravel.$c"))
    }
    // widening an empty lake: all three stage rows, all-zero counters;
    // the mixed-width stages still carry the constant +1 delta file of
    // the ingest model, the (empty) fold has no files at all
    val lw = graft.ext.Layout.lakeWiden(spark, dir).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(lw.length === 3)
    Seq(0, 2).foreach { i =>
      assert(lw(i).getAs[Long]("files_total") === 1L, s"lakeWiden s${i + 1}")
      assert(lw(i).getAs[Long]("files_read") === 1L, s"lakeWiden s${i + 1}")
    }
    assert(lw(1).getAs[Long]("files_total") === 0L)
    lw.foreach { r =>
      Seq("rows_scanned", "rows_out", "uid_chk")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeWiden.$c"))
    }
    // the change feed over an empty lake: all three generations commit
    // (base-only, arrival, restore) but nothing changed, so the feed is
    // EMPTY — a grouped report over zero changes has zero rows
    assert(graft.ext.Layout.lakeChanges(spark, dir).count() === 0L)
    assert(graft.lake.Log
      .listGenerations(graft.exec.Scratch.root("lake_changes", dir))
      === Seq(0, 1, 2))
    // applying an empty feed maintains nothing: zero touched users
    assert(graft.ext.Layout.cdcApply(spark, dir).count() === 0L)
    // erasing from an empty lake: both stage rows, all-zero counters,
    // stage 1 still carries the constant +1 delta file
    val ld = graft.ext.Layout.lakeDelete(spark, dir).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(ld.length === 2)
    assert(ld(0).getAs[Long]("files_total") === 1L)
    assert(ld(0).getAs[Long]("files_read") === 1L)
    assert(ld(1).getAs[Long]("files_total") === 0L)
    ld.foreach { r =>
      Seq("rows_scanned", "rows_out", "n_tombstones", "n_erased",
        "erased_remaining")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeDelete.$c"))
    }
  }

  test("round-18 additions on empty inputs") {
    // AS-OF over the empty arrival log: the base generation plus one
    // commit per (empty) arrival batch plus the fold (round 19 — an
    // empty z-celled rewrite references zero files), every answer zero,
    // files_live counting only the empty staged delta files
    val asof = graft.ext.Layout.lakeIngestAsof(spark, dir).collect()
      .sortBy(_.getAs[Long]("gen"))
    assert(asof.length === 5)
    assert(asof.map(_.getAs[Long]("files_live")).toSeq === Seq(0L, 1L, 2L, 3L, 0L))
    asof.zipWithIndex.foreach { case (r, g) =>
      assert(r.getAs[Long]("rows_out") === 0L, s"asof g$g rows")
    }
    // the cursor feed over the empty arrival log: three transitions,
    // each carrying an (empty) arrival file — zero feed rows, no crash
    assert(graft.ext.Layout.lakeChangesCursor(spark, dir).count() === 0L)
    // the CRUD feed over an empty tombstone lineage: the cdelta arrival
    // file exists but carries nothing — zero feed rows, no crash
    assert(graft.ext.Layout.lakeCdfDelete(spark, dir).count() === 0L)
    // the restore feed over an empty lineage: the arrival and its
    // retraction both carry the one empty file — zero feed rows
    assert(graft.ext.Layout.lakeCdfRestore(spark, dir).count() === 0L)
    // the STREAMED feed over an empty log (round 19): every manifest
    // still arrives as a micro-batch (the operator's own requires),
    // the registered cursor still advances, zero feed rows drain
    assert(graft.streaming.LakeCdfStream.lakeCdfStream(spark, dir).count() === 0L)
    // history over the empty logs (both lineages, round 19): the op
    // stamps and per-kind reference accounting are structural, not
    // data-dependent — empty z-celled writes reference zero base files,
    // staged arrival files exist even with zero rows
    val hist = graft.ext.Layout.lakeHistory(spark, dir).collect()
      .sortBy(r => (r.getAs[String]("lineage"), r.getAs[Long]("gen")))
    assert(hist.map(r => (r.getAs[String]("lineage"), r.getAs[String]("op"),
      r.getAs[Long]("n_base_refs"), r.getAs[Long]("n_delta_refs"),
      r.getAs[Long]("n_cdelta_refs"))).toSeq
      === Seq(("lake_delete", "seed", 0L, 0L, 0L),
        ("lake_delete", "delete", 0L, 0L, 1L),
        ("lake_delete", "fold", 0L, 0L, 0L),
        ("lake_ingest", "seed", 0L, 0L, 0L),
        ("lake_ingest", "arrival", 0L, 1L, 0L),
        ("lake_ingest", "arrival", 0L, 2L, 0L),
        ("lake_ingest", "arrival", 0L, 3L, 0L),
        ("lake_ingest", "fold", 0L, 0L, 0L),
        // round 20: the MERGE lineage commits structurally too — an
        // empty source batch still stages one (empty) cdelta file
        ("lake_merge", "seed", 0L, 0L, 0L),
        ("lake_merge", "merge", 0L, 0L, 1L)))
    // merging nothing into nothing: both generations answer zero rows
    // and the outcome census is all-zero, no crash
    val lm = graft.ext.Layout.lakeMerge(spark, dir).collect()
      .sortBy(_.getAs[Long]("gen"))
    assert(lm.map(_.getAs[String]("state")).toSeq === Seq("pre_merge", "merged"))
    lm.foreach { r =>
      Seq("n_source", "n_inserted", "n_updated", "n_deleted",
        "n_matched_noop", "rows_out")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeMerge.$c"))
    }
    assert(graft.ext.Layout.lakeCdfMerge(spark, dir).count() === 0L)
    // the full-sync variant: empty desired state over an empty target
    val ls = graft.ext.Layout.lakeMergeSync(spark, dir).collect()
      .sortBy(_.getAs[Long]("gen"))
    assert(ls.map(_.getAs[String]("state")).toSeq === Seq("pre_sync", "synced"))
    ls.foreach { r =>
      Seq("n_source", "n_inserted", "n_updated", "n_deleted_by_source",
        "n_kept_unmatched", "rows_out")
        .foreach(c => assert(r.getAs[Long](c) === 0L, s"lakeMergeSync.$c"))
    }
    assert(graft.ext.Layout.lakeCdfMergeSync(spark, dir).count() === 0L)
    // TIMESTAMP AS OF over the empty timetravel lineage: the
    // deterministic commit grid is structural — every probe resolves
    // and answers zero
    val ts = graft.ext.Layout.lakeTimestampAsof(spark, dir).collect()
    assert(ts.length === 5)
    assert(ts.map(_.getAs[Long]("rows_out")).forall(_ === 0L))
    // the rebase race over nothing: the conflict still fires (the file
    // exists even with zero rows) and the protocol's commit/abort
    // accounting is unchanged
    val rb = graft.ext.Layout.lakeRebase(spark, dir).collect()
      .sortBy(_.getAs[Long]("gen"))
    assert(rb.map(r => (r.getAs[String]("writer"), r.getAs[Long]("conflicts"),
      r.getAs[Long]("files_live"), r.getAs[Long]("rows_out"))).toSeq
      === Seq(("seed", 0L, 0L, 0L), ("A", 0L, 1L, 0L), ("B", 1L, 2L, 0L)))
  }
}
