package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.exec.{Cut, Pool, Session}

/** Dataset-curation operators for a training-data pipeline: deterministic
  * splits, stratified sampling, and near-dup cluster resolution.
  *
  * Everything is HASH-deterministic (md5 of stable ids), never RNG: the
  * same row lands in the same split on any cluster, any partitioning, any
  * re-run — the property that makes 100 TB splits reproducible and
  * incremental (new data joins a split without reshuffling old data).
  */
object Curation {

  /** Run `body` with the session's shuffle width narrowed to fit
    * `stateRows` of iterated loop state (~4M rows ≈ 64 MB per
    * partition, floor 4, never raised above the session setting) and
    * AQE scoped off, in one [[Session.withConf]] window. Shared by the
    * [[dupClusterLabels]] and [[pagerankEdges]] loops: their per-round
    * jobs iterate a state table that is O(docs in pairs) — far smaller
    * than the corpus the session is tuned for — and profiling at
    * local[32]/sf0.1 showed the rounds driver-bound (all executed jobs
    * sum under half the wall time; the gaps are per-stage
    * planning/AQE-future latency scaling with partition count). AQE is
    * safe to drop: the loops' joins key on the UNIQUE id side of the
    * state table, so there is no skew for it to repair. The narrowing
    * is SESSION-global, and other threads DO plan during `body`:
    * [[splitLeakage]]'s doc_hash census and [[incrementalClusters]]'
    * probe cut run on the report pool ([[Pool.overlap]]) while the main
    * thread works the loop, so a plan those tasks create inside the
    * window picks up the narrowed partition count and AQE off. Results
    * are unaffected; at corpus scale such a plan is shuffled through as
    * few as 4 partitions — a known race, not a guarantee, until loop
    * tuning is isolated from concurrent planners. */
  private def withLoopTuning[T](sess: SparkSession, stateRows: Long)(body: Int => T): T = {
    val sessionParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val target = math.max(4, math.min(sessionParts, math.ceil(stateRows / 4e6).toInt))
    Session.withConf(sess, Seq("spark.sql.shuffle.partitions" -> target.toString,
      "spark.sql.adaptive.enabled" -> "false"))(body(target))
  }

  /** The split-hash policy shared by [[splitAssign]], [[clusterSplits]],
    * and [[splitLeakage]]: md5 of the anchor id → bucket 0..99. */
  private def splitBucket(anchor: Column): Column =
    conv(substring(md5(anchor.cast("string")), 1, 8), 16, 10).cast("long") % 100

  private def splitName(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** 80/10/10 train/val/test assignment by content-stable hash bucket. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", splitBucket(col("doc_id")))
      .withColumn("split", splitName(col("bucket")))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  /** Leakage-safe split assignment: a near-dup pair split across
    * train/val is silent eval contamination — the model "generalizes" to
    * a paraphrase of its own training data. [[splitAssign]]'s hash policy
    * is lifted from document to DUP-CLUSTER granularity: every doc
    * hashes the REPRESENTATIVE of its connected component (the cluster
    * min from [[dupClusters]]); docs with no near-dup hash their own id.
    * A whole near-dup family therefore lands in ONE split, and the
    * assignment stays deterministic under re-runs and re-shards. The
    * marginal cost over the cluster pass is one left join against the
    * label frame — which holds only docs that appear in some candidate
    * pair, a vanishing fraction of a mostly-unique corpus. */
  def clusterSplitAssign(spark: SparkSession, dir: String): DataFrame =
    clusterSplits(spark, dir).orderBy("doc_id")

  /** [[clusterSplitAssign]] without the presentation sort — the
    * composition form ([[curationPipeline]] joins it mid-plan). */
  def clusterSplits(spark: SparkSession, dir: String): DataFrame =
    clusterSplitsOf(spark, dir, Dedup.lshCandidates(spark, dir))

  /** [[clusterSplits]] over a caller-supplied candidate-pair frame —
    * lets a composite that already holds (and cached) the pairs feed
    * them to the label loop explicitly instead of relying on
    * canonicalized-plan cache matching ([[splitLeakage]]). */
  private[ext] def clusterSplitsOf(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val labels = dupClusterLabels(pairs).labelsUnsorted
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("anchor", coalesce(col("cluster"), col("doc_id")))
      .withColumn("bucket", splitBucket(col("anchor")))
      .withColumn("split", splitName(col("bucket")))
      .select("doc_id", "anchor", "bucket", "split")
  }

  /** Split-leakage audit: for each split policy, the census of near-dup
    * pairs by the (ordered) splits their endpoints landed in — the
    * number a training pipeline checks BEFORE trusting its eval: every
    * off-diagonal pair under a policy is a paraphrase straddling
    * train/val/test, i.e. silent eval contamination. Two policies are
    * audited side by side: `doc_hash` ([[splitAssign]]'s per-document
    * bucket — the naive baseline, which leaks in expectation 1−Σpᵢ² ≈
    * 34% of pairs) and `cluster_hash` ([[clusterSplits]] — which CANNOT
    * leak by construction, every component hashing one anchor; its
    * off-diagonal absence in this report is the checkable invariant,
    * spec-pinned). Pure composition: the LSH pair frame joins each
    * policy's assignment twice and collapses to a ≤ 2·3² census. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    // The pair cache is RELEASED before returning (round-13 discipline,
    // replacing the old session-scoped-persist contract): the census is
    // ≤ 2·3² rows, so the result materializes HERE — one collect of a
    // bounded frame — the cache serves every branch (both policy
    // censuses AND the label loop, which receives THIS frame via
    // clusterSplitsOf instead of rebuilding the pair plan), and the
    // caller gets a local relation with nothing left pinned in the
    // cache manager (CacheReleaseSpec).
    val pairs = Dedup.lshCandidates(spark, dir).persist()
    // unsorted forms: both assignments join the pair frame immediately
    val naive = Tables.documents(spark, dir)
      .select(col("doc_id"), splitName(splitBucket(col("doc_id"))).as("split"))
    def census(sp: DataFrame, policy: String): DataFrame =
      pairs
        .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("split_x"),
          greatest(col("sa"), col("sb")).as("split_y"))
        .groupBy(col("split_x"), col("split_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit(policy).as("policy"), col("split_x"), col("split_y"),
          col("n_pairs"))
    // OVERLAP (round 22, guide §2.6 / VERDICT r21 #1): the doc_hash
    // census depends only on the pair frame and a map-side doc
    // projection — NOT on the label loop — so its collect runs on the
    // report pool while the main thread works the cluster_hash policy's
    // label loop. Both sides race to first-touch the persisted pair
    // frame; the block manager's per-partition locks make the loser
    // wait, not recompute. The two collects' row sets are disjoint
    // policy slices of the same union the old single collect computed,
    // and the final orderBy restores the identical total order.
    val naiveC = census(naive, "doc_hash")
    // The cluster_hash census joins pairs against the LABEL frame
    // directly (round 22, guide §2.3): the label loop emits a row for
    // EVERY doc that appears in some pair — exactly the docs the pair
    // joins can reach — so the corpus-wide documents⋈labels assignment
    // [[clusterSplitsOf]] builds (needed by the x_cluster_split QUERY,
    // whose output covers all docs) is pure overhead on this census
    // path. split = splitName(splitBucket(cluster)) is the identical
    // policy: for paired docs clusterSplitsOf's anchor is
    // coalesce(cluster, doc_id) = cluster, never the fallback.
    val rows = try Pool.overlap(spark) { o =>
      val naiveTask = o.async(() => naiveC.collect())
      val labels = dupClusterLabels(pairs).labelsUnsorted
      val clustered = labels
        .select(col("doc_id"), splitName(splitBucket(col("cluster"))).as("split"))
      val clusteredRows = census(clustered, "cluster_hash").collect()
      naiveTask.await ++ clusteredRows
    } finally pairs.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), naiveC.schema)
      .orderBy("policy", "split_x", "split_y")
  }

  /** End-to-end curation flagship: heuristic quality gate ∧ learned
    * quality gate → canonical-copy exact dedup → leakage-safe cluster
    * split → per-(split, lang) census. This
    * is the shape a training-data pipeline actually ships (rule battery
    * AND model-based filter, the Gopher + fastText-classifier stack) —
    * the point is
    * that the suite's operators COMPOSE: everything except the label
    * loop's inherent checkpoints fuses into one declarative plan (the
    * unsorted stage forms keep wasted mid-plan sorts out), Catalyst
    * prunes every column the census doesn't need, and each stage keeps
    * the scale discipline it was built with (the quality battery AND the
    * hashed-linear classifier are map-side, so their conjunction FUSES
    * into one scan: the learned decision embeds as a scan-stage filter
    * predicate via [[graft.ext.TextAnalysis.classifierKeep]] and the rule
    * battery projects over the survivors — no second documents scan, no
    * join of two scored frames — the
    * dedup is one hash-agg, the split's loop is O(paired
    * docs), the census a tiny agg). The oracle chains the same stages as
    * SQL CTEs (there the learned tier IS a joined CTE — relational
    * equivalence of the fused plan is exactly what the differential
    * proves), so it covers the COMPOSITION, not just the
    * parts. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE corpus text scan (round 13): the rule battery, the learned
    // gate, the NFC content hash and the lang dimension all ride a
    // single projection, eagerly cut to a SLIM frame (ids + flags +
    // hash, no text — ~1% of corpus bytes at scale) that the kept /
    // canon / lang tiers below read instead of each re-scanning the
    // text. Before the fusion the pipeline paid three full-text passes
    // (classifier∧gopher, NFC hash, lang join); the text columns are
    // the corpus' mass, so this is the dominant-cost fix, the same
    // shared-subframe discipline as Cut.shared (which is exactly
    // what cuts the branch lineage here).
    //
    // Semantics unchanged: gopher signals are per-doc stateless maps,
    // so gating on (learned ∧ heuristic) AFTER one combined projection
    // ≡ the old filter-then-project chain; the canon tier still groups
    // ALL docs by the shared Dedup.nfcContentHash key.
    // The fused-scan materialization and the split tier (LSH candidates
    // + label loop) are INDEPENDENT DAG branches that only meet at the
    // final joins — so the eager cut runs on the report pool
    // while the main thread works the loop, overlapping the two instead
    // of serializing them (concurrent actions on one context are the
    // supported multi-tenant shape; the loop's narrowed-shuffle conf
    // window can't touch the cut, which plans no exchange). At 100 TB
    // the overlap hides the full corpus-scan latency behind the loop's
    // rounds.
    // The split tier joins the LABEL frame directly and applies the
    // split policy inline (round 22, guide §2.3): the corpus-wide
    // documents⋈labels assignment [[clusterSplits]] builds exists for
    // the x_cluster_split query's all-docs output — here only the KEPT
    // tier's split matters, so the left join runs against the
    // pair-scale label frame and the anchor fallback
    // (coalesce(cluster, doc_id)) computes in the same projection. One
    // corpus-scale scan+join less in the final census job; the split
    // value per doc is the identical policy expression.
    val (labels, scanned) = Pool.overlap(spark) { o =>
      val scannedTask = o.async(() =>
        Cut.shared(TextAnalysis.gopherSignalsOf(docs, Seq(
          "ckeep" -> TextAnalysis.classifierKeep(col("text")),
          "h" -> Dedup.nfcContentHash,
          "lang" -> col("lang")))))
      (dupClusterLabels(Dedup.lshCandidates(spark, dir)).labelsUnsorted, scannedTask.await)
    }
    // lang rides the kept tier directly off the fused frame — one join
    // fewer than the original docs-side lang lookup
    val kept = scanned.where(col("ckeep") && col("keep") === 1)
      .select(col("doc_id"), col("n_words"), col("lang"))
    // canonical copy per NFC content hash, the lowest doc_id surviving:
    // raw-byte md5 would pass normalization-variant duplicates (é vs
    // e+U+0301) through the exact tier — the KEY is Dedup.nfcContentHash,
    // the same single definition exactNfc groups by
    val canon = scanned.groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    kept
      .join(canon, "doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("split",
        splitName(splitBucket(coalesce(col("cluster"), col("doc_id")))))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"))
      .orderBy("split", "lang")
  }

  /** Stratified deterministic sample: 3 docs per language, chosen by hash
    * order (≙ uniform-without-replacement, but reproducible). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("h", md5(concat(lit("strat|"), col("doc_id"))))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rn")
  }

  /** Weighted sampling WITHOUT replacement, per source: the
    * Efraimidis–Spirakis A-ES scheme (Inf. Proc. Letters 97(5), 2006) —
    * each doc draws key u^(1/w) from a uniform u and weight w, and the
    * top-k keys per group ARE a weighted sample without replacement.
    * This is the distributable formulation (one key per row, one top-k —
    * no sequential draws), the same reason [[graft.ops.Analytics
    * .bootstrapCi]] uses Poisson multiplicities. Weight here is n_chars:
    * longer docs proportionally likelier, the standard size-biased
    * curation pick.
    *
    * Determinism: u is the 48-bit md5 prefix over a power-of-two
    * division (exact), and ranking compares ln(u)/w ROUNDED to 10dp with
    * doc_id tie-break — the suite's float-ranked-top-k discipline, so an
    * ulp of libm ln() divergence cannot flip the cut. Scale shape: one
    * scan, one per-group top-k window (rank over source partitions);
    * at 100 TB the window is a per-partition top-k + merge, which is
    * exactly what TakeOrdered-style ranking plans to. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import graft.ops.StableStats.stableRound
    val byKey = Window.partitionBy(col("source"))
      .orderBy(col("es_key").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("u",
        expr("cast(conv(substring(md5(concat('wsamp|', doc_id)), 1, 12), 16, 10) as bigint)")
          / lit(281474976710656.0))
      // ln(u)/w is monotone in u^(1/w) (ln(u) < 0, w > 0): same top-k,
      // no pow() — one fewer transcendental to keep cross-engine-stable
      .withColumn("es_key", stableRound(log(col("u")) / col("n_chars"), 10))
      .withColumn("rn", row_number().over(byKey))
      .where(col("rn") <= k)
      .select(col("source"), col("rn"), col("doc_id"), col("n_chars"), col("es_key"))
      .orderBy("source", "rn")
  }

  /** Near-dup cluster resolution: connected components over the MinHash-LSH
    * candidate pairs via iterative min-label propagation + POINTER JUMPING
    * to a fixpoint — each round is one tiny two-join job over O(edges);
    * the loop stops when a round changes zero labels. Output: (doc_id,
    * cluster) for every doc in some pair, cluster = smallest doc_id in its
    * component (the canonical keeper). */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    // unsorted candidate set: the pair frame feeds straight into the loop's
    // joins, so minhashLsh's presentation orderBy would be a wasted
    // range-partitioned sort (destroyed by the very next shuffle)
    dupClusterLabels(Dedup.lshCandidates(spark, dir)).labels

  /** Result of the label-propagation loop: final labels plus the round
    * counts the graph-shape specs pin (`jumpRounds` = rounds that paid
    * the extra jump join). `labelsUnsorted` is the composition form —
    * mid-plan consumers (cluster splits, star contraction, keep-best)
    * join it immediately, so the presentation sort `labels` adds would
    * be a range-partitioned exchange destroyed by the very next shuffle
    * (the same unsorted-stage-form discipline as
    * [[graft.ext.Dedup.lshCandidates]] vs `minhashLsh`). */
  private[ext] final case class ClusterRun(labelsUnsorted: DataFrame, rounds: Int, jumpRounds: Int) {
    /** Query-output form: totally ordered by doc_id. */
    def labels: DataFrame = labelsUnsorted.orderBy("doc_id")
  }

  /** Core loop over (doc_a, doc_b) pairs — exposed for direct graph-shape
    * testing of the round complexity.
    *
    * Each round HOOKS every label (label ← min(label, min over neighbors'
    * labels) — plain propagation, reach +1 hop per round) and, once
    * ADAPTIVE JUMPING engages, also JUMPS it: label ← previous round's
    * label OF that label (a label is itself a doc_id in the same
    * component, so the lookup stays within the component and correctness
    * is untouched). Jumping through the ALREADY-MATERIALIZED previous
    * labels keeps the round a single job — and composing hook reach r
    * with jump reach r gives reach(k) ≥ 2·reach(k−1), i.e. O(log
    * diameter) rounds instead of O(diameter).
    *
    * The jump join is pure overhead on the near-cliques LSH usually
    * emits (hook alone converges in 2 rounds), so it is ADAPTIVE
    * (round 7, after profiling r6's always-jump loop): rounds start
    * hook-only, and jumping engages permanently the first time a
    * round's changed-label count fails to halve — the signature of
    * chain-like propagation (paths change ~constant labels per round,
    * cliques collapse geometrically). Near-cliques therefore never pay
    * a jump join, while a chain pays at most two hook-only rounds
    * before doubling kicks in, keeping O(log diameter) overall — at
    * 100 TB chained near-dups are the difference between ~40 rounds
    * and ~7.
    *
    * LAZY checkpoint + count fuses each round into ONE job: the count
    * action computes every partition (materializing the checkpoint as a
    * side effect) AND returns the changed-label count for the convergence
    * test. count() scans all partitions, so unlike isEmpty it cannot leave
    * a partition unmaterialized for the next round. */
  private[ext] def dupClusterLabels(pairs: DataFrame): ClusterRun = {
    // cache the pair set BEFORE symmetrizing: both union branches read
    // the same subplan, and for the LSH composites that subplan is the
    // whole shingle→minhash→band-join→distinct pipeline — uncached it
    // ran twice (the single largest term in the r10 profile: ~1.3 s of
    // x_dup_clusters' 3.5 s at idle local[32]/sf0.1). Guard on the
    // caller's own storage level so an already-persisted frame is not
    // double-cached (incremental composites pass cached star∪new pairs).
    val ownsPairsCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p = if (ownsPairsCache) pairs.persist() else pairs
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // both caches release on EVERY exit — a round that throws must not
    // leave them pinned in the session cache manager
    try {
    // Cut.loop TRUNCATES the logical plan each round (see its doc for
    // the local-vs-reliable checkpoint switch; set
    // spark.graft.checkpointDir for executor-loss-safe multi-hour runs).
    // LAZY cut, on purpose: the sizing count below materializes every
    // partition of the checkpoint in one fused job — the same discipline
    // as the per-round step cuts. Both alternatives measured SLOWER: an
    // eager cut here ran a separate materialization job before the count,
    // and moving the cut inside the narrowed scope (sized by its own
    // edges.count()) paid more for the extra action than the
    // 32→4-partition width it saved in round 1.
    //
    // ROUND 1 IS FUSED into this initial checkpoint (round 12): with
    // identity initial labels, the first hook step reduces algebraically
    // to ONE hash-agg over the symmetrized edge list — per src,
    // label = least(src, min(dst)), old_label = src (every node appears
    // as a src after symmetrization, and nbrMin is never null, so the
    // left-join degenerates). This removes the node-universe distinct
    // AND the first nbrMin join round — two shuffles, two driver
    // round-trips — per invocation, which at sf0.1 was pure per-round
    // scheduling overhead (the r11 profile's residual). The label
    // TRAJECTORY is unchanged: the fused frame IS round 1's output, so
    // convergence counting and the jump heuristic resume at round 2
    // with identical state.
    var labels = Cut.loop(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__mdst"))
      .select(col("src").as("doc_id"), col("src").as("old_label"),
        least(col("src"), col("__mdst")).as("label")), eager = false)
    // the raw cut of the PREVIOUS round, dropped from the checkpoint store
    // once the next round's cut has materialized (reliable mode only)
    var prevCut = labels
    var converged = false
    var rounds = 1
    var jumpRounds = 0
    var jumping = false
    // hard cap: with pointer jumping the worst case is O(log diameter);
    // 64 covers any graph that fits in an address space and remains a
    // runaway guard, not a correctness bound — the loop exits on the
    // fixpoint.
    // ONE fused job sizes the loop AND counts round-1 changes: the agg
    // scans every partition (materializing the checkpoint, the same
    // duty the old sizing count had) and returns both numbers, where
    // separate count()s would pay two driver round-trips. changed = 0
    // only on an empty edge set (any edge makes its larger endpoint
    // adopt the smaller label).
    val r1 = labels.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("label") =!= col("old_label"), 1L).otherwise(0L)),
        lit(0L)).as("changed")).head()
    val (stateRows, round1Changed) = (r1.getLong(0), r1.getLong(1))
    withLoopTuning(pairs.sparkSession, stateRows) { targetParts =>
    var prevChanged = round1Changed
    converged = prevChanged == 0L
    labels = labels.select(col("doc_id"), col("label"))
    while (!converged && rounds < 64) {
      rounds += 1
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(edges("src").as("doc_id2")).agg(min(col("label")).as("nbr_label"))
      val hooked = labels.join(nbrMin, labels("doc_id") === nbrMin("doc_id2"), "left")
        .select(labels("doc_id"), labels("label").as("old_label"),
          least(labels("label"), coalesce(col("nbr_label"), labels("label"))).as("label"))
      val stepped =
        if (!jumping) hooked
        else {
          jumpRounds += 1
          // jump through the previous round's materialized labels: labels
          // is a checkpointed RDD scan, so this third reference costs a
          // hash join, not a recompute of the label lineage
          val jump = labels.select(col("doc_id").as("jid"), col("label").as("jlabel"))
          hooked.join(jump, hooked("label") === col("jid"), "left")
            .select(hooked("doc_id"), hooked("old_label"),
              least(hooked("label"), coalesce(col("jlabel"), hooked("label"))).as("label"))
        }
      // coalesce, not repartition: merges the round's shuffle output into
      // targetParts checkpoint partitions with no extra exchange, so the
      // NEXT round's scans of this RDD launch targetParts map tasks
      val step = Cut.loop(stepped.coalesce(targetParts), eager = false)
      val changed = step.where(col("label") =!= col("old_label")).count()
      converged = changed == 0L
      // the count materialized step's checkpoint, so the previous round's
      // files are now dead — reclaim them before the next round
      Cut.drop(prevCut)
      prevCut = step
      // halving test: cliques collapse geometrically under hook alone;
      // anything slower is chain-shaped and needs the jump's doubling
      if (!jumping && changed * 2 > prevChanged) jumping = true
      prevChanged = changed
      labels = step.select(col("doc_id"), col("label"))
    }
    }
    if (sys.env.get("GRAFT_DEBUG_ROUNDS").contains("1"))
      System.err.println(s"[dupClusters] rounds=$rounds jumpRounds=$jumpRounds")
    ClusterRun(
      labels.select(col("doc_id"), col("label").as("cluster")),
      rounds, jumpRounds)
    } finally {
      edges.unpersist()
      if (ownsPairsCache) p.unpersist()
    }
  }

  /** Semantic decontamination — the embedding-space complement of the
    * n-gram [[decontaminate]]: a paraphrased benchmark item shares no
    * 8-gram with the eval set but still sits next to the eval prompt in
    * embedding space. Eval vectors (vec_id < 20, the standing benchmark
    * stand-in) broadcast and score against the corpus; rows at cosine
    * ≥ 0.4 (the suite's near threshold, [[graft.ext.Dedup
    * .embeddingNearDup]]) are flagged with their eval witness. At 100 TB
    * the eval set stays |benchmarks|-bounded (thousands of rows), so this
    * is one broadcast scored scan — the same shape as the ANN
    * ground-truth pass; a web-scale eval suite would take the IVF bucket
    * route instead. The threshold compares the ROUNDED score so the
    * cross-engine cut is well-defined. */
  def semDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.emb(spark, dir)
    val ev = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("eval_id"), col("emb").as("eemb"))
    e.where(col("vec_id") >= 20)
      .crossJoin(broadcast(ev))
      .withColumn("cos_sim", round(Similarity.cosine("emb", "eemb"), 6))
      .where(col("cos_sim") >= 0.4)
      .select(col("vec_id"), col("eval_id"), col("cos_sim"))
      .orderBy("vec_id", "eval_id")
  }

  /** Incremental cluster maintenance: when a new shard ingests, near-dup
    * components are NOT recomputed over the whole corpus. The previous
    * labels contract to STAR edges (component representative → member —
    * contraction preserves connectivity exactly), the shard's new
    * candidate pairs come from a band-index probe touching only rows with
    * a new-shard endpoint (the batch twin of
    * [[graft.streaming.MinhashMaintenance]]'s ingest loop), and the label
    * loop reruns over star ∪ new — a graph of O(previously-paired docs +
    * new pairs), independent of how much history the corpus holds. At
    * 100 TB this is the difference between a per-ingest job sized by the
    * DELTA and one sized by the lake. Components and min-labels are
    * provably identical to the one-pass recompute (contraction lemma +
    * identical bucket connectivity), and the DuckDB oracle IS the
    * one-pass transitive closure — the gate hash-equality is the
    * incremental ≡ recompute theorem. The probe is uncapped here (like
    * [[graft.ext.Dedup.incrementalLshPairs]]); a hot NEW bucket would
    * take the same per-(band,bucket) star routing [[graft.ext.Dedup
    * .lshCandidatesOf]] applies, unchanged in semantics. */
  def incrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old   = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val newer = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    // ONE persisted signature pass over the old shard feeds BOTH the
    // stored-state pair generation and the post-merge index (the
    // lshCandidatesOfSigs contract; a second minhashSignaturesOf(old)
    // persist would only re-register the same canonicalized plan)
    val sigsOld = Dedup.minhashSignaturesOf(old).persist()
    // the shard's probe against the post-merge band index: every pair
    // with at least one new endpoint (new-new and new-old)
    val sigsAll = Dedup.mergeMinhashSignatures(
      sigsOld, Dedup.minhashSignaturesOf(newer)).persist()
    val bandsAll = Dedup.bandsOf(sigsAll)
    val newPairs = Dedup.bandProbe(
      bandsAll.join(newer.select("doc_id"), Seq("doc_id"), "left_semi"), bandsAll)
      .distinct()
    // OVERLAP (round 22, guide §2.6 / VERDICT r21 #1): the probe branch
    // (new-shard signatures → merged band index → join → distinct) and
    // the stored-state LABEL LOOP below are independent until star∪new —
    // the probe's materialization runs on the report pool while the main
    // thread works the loop, instead of serializing the two heaviest
    // pieces of this query. The cut is [[Cut.shared]] (eager local
    // checkpoint), so the second loop consumes a materialized frame.
    // Concurrent first-touch of the shared sigsOld cache is safe: the
    // block manager's per-partition locks make the second computer wait,
    // not recompute. The loop's withLoopTuning conf narrowing applies to
    // plans CREATED inside its window; the probe's plan is created when
    // its action submits — before the loop's heavy prolog (the old-shard
    // pair pipeline) finishes materializing, so the probe keeps the
    // session's scale-adaptive width in any realistic timing.
    try Pool.overlap(spark) { o =>
      val newPairsTask = o.async(() => Cut.shared(newPairs))
      // stored state as of the previous ingest: labels over the old
      // shard (unsorted — star contraction joins it straight away)
      val labels0 = dupClusterLabels(Dedup.lshCandidatesOfSigs(sigsOld)).labelsUnsorted
      val star = labels0.where(col("doc_id") =!= col("cluster"))
        .select(col("cluster").as("doc_a"), col("doc_id").as("doc_b"))
      dupClusterLabels(star.union(newPairsTask.await)).labels
    } finally {
      // both loops and the probe cut have materialized (or failed): the
      // signature caches serve no remaining consumer (the returned
      // frame is checkpoint-backed), so release them instead of leaking
      // two corpus-scale entries into the session cache manager
      sigsAll.unpersist()
      sigsOld.unpersist()
    }
  }

  /** Outlier filtering: per-event-type z-score against the group mean/std
    * (both computed ONCE per group and broadcast back); |z| ≥ 2.5 rows
    * survive. Stats are rounded before the z computation so the score is
    * cross-engine deterministic. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    val events = Tables.events(spark, dir)
    val stats = events.groupBy(col("event_type").as("et"))
      .agg(StableStats.centsMean(col("value")).as("mu"),
        round(stddev_samp(col("value")), 4).as("sigma"))
    events.join(broadcast(stats), col("event_type") === col("et"))
      .withColumn("z", StableStats.stableRound((col("value") - col("mu")) / col("sigma"), 4))
      .where(abs(col("z")) >= 2.5)
      .select(col("event_id"), col("event_type"), col("value"), col("mu"), col("sigma"), col("z"))
      .orderBy("event_id")
  }

  /** Robust outlier filtering: median absolute deviation instead of
    * mean/std — the z-score above is itself corrupted by the outliers it
    * hunts (one huge value inflates σ and hides its peers); median and
    * MAD have a 50% breakdown point. Two grouped EXACT percentiles (each
    * a per-group sort — the scale path swaps in `approx_percentile`, same
    * shape) broadcast back as tiny per-group stats; both stats are
    * rounded before the score so the flagged row set is cross-engine
    * deterministic. 1.4826·MAD ≈ σ for Gaussian data, so |score| ≥ 3
    * mirrors a 3σ cut. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    val events = Tables.events(spark, dir)
    val med = events.groupBy(col("event_type").as("et1"))
      .agg(round(expr("percentile(value, 5e-1)"), 4).as("med"))
    val withMed = events.join(broadcast(med), col("event_type") === col("et1"))
    val mad = withMed.groupBy(col("event_type").as("et2"))
      .agg(round(expr("percentile(abs(value - med), 5e-1)"), 4).as("mad"))
    withMed.join(broadcast(mad), col("event_type") === col("et2"))
      // mad = 0 (≥50% of a group equal to its median) must score NULL on
      // BOTH engines: Spark's Divide yields NULL for x/0, but DuckDB's
      // IEEE float division yields ±Infinity and would keep every
      // non-median row — the oracle carries the matching `AND mad <> 0`.
      .withColumn("score", when(col("mad") === 0, lit(null))
        .otherwise(StableStats.stableRound(
          (col("value") - col("med")) / (lit(14826e-4) * col("mad")), 4)))
      .where(abs(col("score")) >= 3)
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"), col("score"))
      .orderBy("event_id")
  }

  /** Vocabulary heavy hitters: global top-20 tokens by frequency
    * (count desc, token asc tie-break) — one hash-agg + TakeOrdered. */
  def topTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(20)

  /** Sequence packing: assign documents to fixed token-budget bins by a
    * running total over a deterministic (hash) order — the streaming-fill
    * approximation of training-batch packing. Bin id = exclusive running
    * sum ÷ budget, so a doc that crosses the boundary opens the next bin.
    *
    * Scale note: the window here is GLOBAL (one ordered pass) because the
    * oracle needs one canonical packing; at 100 TB you partition first
    * (e.g. by split-bucket) and pack per partition — same expression with
    * `Window.partitionBy(shard)`, bins then being (shard, bin). */
  def packBins(spark: SparkSession, dir: String, budget: Long = 2000): DataFrame = {
    val w = Window.orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("h", md5(concat(lit("pack|"), col("doc_id"))))
      .withColumn("pre_total", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("pre_total") / budget).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("bin"))
      .orderBy("doc_id")
  }

  /** Per-shard sequence packing — the 100 TB path [[packBins]]'s Scaladoc
    * promises: shard by content-stable hash, then pack WITHIN each shard
    * with a partitioned window. No global ordering anywhere — each shard's
    * running sum is an independent partition of one shuffle, so the
    * operator scales linearly with shard count. Bin identity is
    * (shard, bin). */
  def packShards(spark: SparkSession, dir: String, budget: Long = 2000,
      shards: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("h", md5(concat(lit("pack|"), col("doc_id"))))
      .withColumn("shard",
        expr(s"cast(conv(substring(md5(concat('shard|', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % $shards"))
      .withColumn("pre_total", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("pre_total") / budget).cast("long"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("bin"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination — the training-data hygiene op: flag every
    * corpus document sharing any word 4-gram with a held-out benchmark
    * set (docs with doc_id ≡ 0 mod 50 stand in for the benchmark). The
    * benchmark n-gram set is TINY relative to the corpus, so it
    * BROADCASTS — the 100 TB corpus side never shuffles; each executor
    * streams its documents against the in-memory benchmark hash set.
    * 4-grams are carried as 60-bit md5 integers (same trick as
    * [[Dedup.ngramJaccard]]; the oracle hashes identically). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // Position-explode rather than transform()-an-array: the HOF lambda is
    // CodegenFallback (interpreted md5 per gram) and materializes a per-doc
    // gram array — a memory hazard on book-length rows. Exploding the
    // position index keeps md5/conv inside whole-stage codegen and streams
    // one gram at a time. Duplicate grams within a doc survive until AFTER
    // the broadcast join cuts the stream down to benchmark hits, so the
    // distinct (countDistinct per doc) aggregates only the tiny hit set —
    // nothing corpus-sized ever shuffles.
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 4)
      .select(col("doc_id"), col("w"), explode(expr("sequence(1, size(w) - 3)")).as("i"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2])), 1, 15), 16, 10) as bigint)")
          .as("g"))
    val docs = Tables.documents(spark, dir)
    val benchGrams = grams(docs.where(col("doc_id") % 50 === 0))
      .select(col("g")).distinct()
    grams(docs.where(col("doc_id") % 50 =!= 0))
      .join(broadcast(benchGrams), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Span widths for [[spanDecontaminate]] — geometric so each tier
    * catches quotes the tier below under-weights (a 32-word verbatim
    * quote yields 25 hits at width 8 but is unmistakable as ONE hit at
    * width 32). Sized to this corpus's 10-99-word documents; a
    * web-corpus deployment would use the literature's 50/200/1000-token
    * tiers — the plan shape is width-count-independent. */
  private val SpanWidths = Seq(8, 16, 32)

  /** Multi-width rolling-span contamination — closes the long-verbatim
    * gap [[decontaminate]]'s fixed 4-grams leave: shared 4-grams measure
    * OVERLAP, but a long quotation is better characterized by the widest
    * window it matches verbatim, which is what the decontamination
    * literature's substring-level checks target. Every width-W window
    * (stride 1 — ROLLING, unlike [[spanDedup]]'s non-overlapping
    * chunks, so a quote is caught at every alignment) hashes with the
    * same md5-prefix discipline as [[graft.ext.BloomPrune]]'s grams;
    * corpus windows that appear anywhere in the benchmark slice count as
    * hits per (doc, width).
    *
    * Scale shape: one scan with a two-level explode (widths ×
    * positions, |widths|·n_words rows per doc, all inside whole-stage
    * codegen — no HOF fallback, nothing doc-sized materializes), then
    * the same broadcast-hits + tiny-distinct aggregation as
    * [[decontaminate]]: the benchmark gram table is |benchmarks|-sized
    * and broadcasts; nothing corpus-sized shuffles. At 100 TB the
    * Bloom-pruned variant ([[graft.ext.BloomPrune.decontaminateBloom]])
    * composes in front unchanged — the hash domain is identical. */
  def spanDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    def spans(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(lit(SpanWidths.toArray)).as("width"))
      .where(size(col("w")) >= col("width"))
      .select(col("doc_id"), col("width"), col("w"),
        explode(expr("sequence(1, size(w) - width + 1)")).as("i"))
      .select(col("doc_id"), col("width"),
        expr("cast(conv(substring(md5(concat_ws(' ', slice(w, i, width))), 1, 15), 16, 10) as bigint)")
          .as("g"))
    val docs = Tables.documents(spark, dir)
    val benchSpans = spans(docs.where(col("doc_id") % 50 === 0))
      .select(col("width"), col("g")).distinct()
    spans(docs.where(col("doc_id") % 50 =!= 0))
      .join(broadcast(benchSpans), Seq("width", "g"))
      .groupBy(col("doc_id"), col("width"))
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy("doc_id", "width")
  }

  /** End-to-end near-dup resolution: for every LSH cluster, KEEP the
    * highest-quality member (quality tie → lowest doc_id) and list the
    * dropped ones — [[dupClusters]] composed with
    * [[TextAnalysis.qualityScore]], the full curation decision a training
    * pipeline actually ships. Both inputs are per-doc frames keyed by
    * doc_id, so the compose is one broadcast-scale join + one
    * cluster-partitioned window. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    dupClusterLabels(Dedup.lshCandidates(spark, dir)).labelsUnsorted
      .join(TextAnalysis.qualityScore(spark, dir).select(col("doc_id"), col("quality_score")),
        "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("cluster"), col("doc_id"), col("quality_score"),
        (col("rn") === 1).cast("int").as("keep"))
      .orderBy("cluster", "doc_id")
  }

  /** Corpus-wide repeated-span removal (the C4-style curation pass):
    * documents chunk into NON-overlapping 10-word spans; a span that
    * appears verbatim anywhere else in the corpus survives only at its
    * first occurrence — lowest (doc_id, chunk index), encoded as one
    * orderable bigint key so "first" needs a single `min` rather than an
    * arg-min — and every document is rebuilt from its surviving spans.
    *
    * Scale shape: one explode (map-side), ONE shuffle on the span text for
    * the global first-occurrence table, one shuffle back on doc_id for the
    * rebuild — the two-exchange budget is independent of corpus size, and
    * the span frame feeds both sides so it persists (scan+explode would
    * otherwise run twice). At 100 TB the span-keyed exchange dominates;
    * spans could carry 64-bit hashes instead of text to shrink it (the
    * oracle compare keeps text here for exactness). */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, (size(w) - 1) div 10)")).as("ci"))
      .select(col("doc_id"), col("ci"),
        concat_ws(" ", expr("slice(w, ci * 10 + 1, 10)")).as("span"))
      // packed (doc_id, chunk) order key: valid while chunk index < 1e9
      // (a 10-billion-word document) and doc_id < 9.2e9 — far beyond any
      // real corpus row; collisions would silently reorder "first"
      .withColumn("k", col("doc_id") * lit(1000000000L) + col("ci"))
      .persist()
    val firstOcc = spans.groupBy(col("span")).agg(min(col("k")).as("min_k"))
    val rebuilt = spans.join(firstOcc, "span")
      .where(col("k") === col("min_k"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(ci, span))), x -> x.span), ' '))")
          .as("rebuilt_md5"))
    spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("rebuilt_md5"), md5(lit(""))).as("rebuilt_md5"))
      .orderBy("doc_id")
  }

  /** Domain-mixture rebalancing: deterministic downsampling toward a
    * UNIFORM source mixture — each source's keep-rate is
    * min(1, fair_share / its_count), the standard move for capping
    * over-represented crawl domains before training. The per-document
    * keep decision is the md5-uniform-vs-rate compare (reproducible on
    * any cluster); the rate table is sources-sized, so it broadcasts and
    * the corpus side never shuffles — the groupBy here is only the
    * per-source report. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val stats = counts.agg(sum(col("n_docs")).as("total"), count(lit(1)).as("n_sources"))
    val rates = counts.crossJoin(broadcast(stats))
      .withColumn("rate",
        expr("least(1e0, cast(total as double) / (n_sources * n_docs))"))
      .select(col("source"), col("rate"))
    Tables.documents(spark, dir)
      .withColumn("u",
        expr("cast(conv(substring(md5(concat('dmix|', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 10000 / 1e4"))
      .join(broadcast(rates), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("u") < col("rate"), 1L).otherwise(0L)).as("n_kept"),
        graft.ops.StableStats.stableRound(max(col("rate")), 4).as("rate"))
      .orderBy("source")
  }

  /** Neyman-optimal stratified sampling allocation (Neyman 1934): with a
    * fixed label/QA budget of `b` documents, sample each source in
    * proportion to N_h·S_h — its size TIMES its internal spread — rather
    * than size alone. A big homogeneous source needs few samples to
    * estimate well; a small erratic one needs many. This is the sampling
    * plan behind any budgeted audit of a 100 TB corpus (human evals,
    * expensive-model scoring), reported next to the proportional
    * allocation it beats.
    *
    * Numeric discipline: per-source variance of doc length comes from
    * exact integer Σx/Σx² through the two-pass identity; the allocation
    * weight N_h·S_h snaps to integer 10⁻⁶ units BEFORE the global sum,
    * and both allocations are exact integer `div` arithmetic — no float
    * crosses an aggregation boundary.
    *
    * Scale shape: one sources-sized hash-agg, a 1-row total broadcast,
    * per-row arithmetic. */
  def neymanAllocation(spark: SparkSession, dir: String, b: Int = 1000): DataFrame = {
    import graft.ops.StableStats.stableRound
    val stats = Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("len"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("s1"),
        sum(col("len") * col("len")).as("s2"))
      .withColumn("variance",
        (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n_docs"))
          / greatest(col("n_docs") - lit(1), lit(1)))
      .withColumn("w_units",
        floor(col("n_docs") * sqrt(col("variance")) * lit(1e6) + lit(0.5)).cast("long"))
    val totals = stats.agg(sum(col("n_docs")).as("n_total"),
      sum(col("w_units")).as("w_total"))
    stats.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        stableRound(col("s1").cast("double") / col("n_docs"), 4).as("mean_len"),
        round(sqrt(col("variance")), 4).as("sd_len"),
        expr(s"($b * w_units) div w_total").as("alloc_neyman"),
        expr(s"($b * n_docs) div n_total").as("alloc_proportional"))
      .orderBy("source")
  }

  /** Temperature-flattened sampling mix (XLM arXiv:1901.07291 §3.1; the
    * multilingual `p^α` scheme mT5/XLM-R train with): q_s ∝ p_s^α with
    * α = 0.3 up-weights small sources and down-weights dominant ones.
    * Since p_s = n_s / N, q_s = n_s^α / Σ n^α — the N^α cancels, so the
    * powers are taken on exact integer counts. Each n^α is snapped to
    * integer 10⁻⁶ units BEFORE the normalizing sum (Σ of irrational
    * doubles is addition-order-dependent — Spark's partial aggregation
    * order differs from DuckDB's sequential scan; integer sums are
    * order-free, the [[graft.ops.StableStats]] discipline).
    *
    * Scale shape: one sources-sized hash-agg, a 1-row global broadcast,
    * and per-source arithmetic — nothing touches the corpus twice. */
  def temperatureMix(spark: SparkSession, dir: String, alpha: Double = 0.3): DataFrame = {
    import graft.ops.StableStats.stableRound
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("q_units",
        floor(pow(col("n_docs").cast("double"), lit(alpha)) * lit(1e6) + lit(0.5)).cast("long"))
    val stats = counts.agg(sum(col("n_docs")).as("total"), sum(col("q_units")).as("q_total"))
    counts.crossJoin(broadcast(stats))
      .withColumn("p", col("n_docs").cast("double") / col("total"))
      .withColumn("q", col("q_units").cast("double") / col("q_total"))
      .select(col("source"), col("n_docs"),
        stableRound(col("p"), 4).as("mix_p"),
        stableRound(col("q"), 4).as("mix_q"),
        stableRound(col("q") / col("p"), 4).as("up_weight"),
        floor(col("q") * col("total") + lit(0.5)).cast("long").as("expected_docs"))
      .orderBy("source")
  }

  /** Materialize [[temperatureMix]]'s quotas as an exact per-source
    * sample: docs rank by a content-stable hash within their source and
    * the first `expected_docs` are taken — deterministic, seedless, and
    * re-runnable (the same doc set every time, the property a training
    * run needs to be reproducible). The output is the per-source sample
    * ledger: `n_sampled < expected_docs` exposes quota shortfall on
    * up-weighted small sources (p^α gives them up_weight > 1 — a sampler
    * without replacement can only repeat epochs, which `repeat_factor`
    * quantifies), and the doc-id / token checksums pin the EXACT sampled
    * set cross-engine, not just its size.
    *
    * Scale shape: quotas are a sources-sized broadcast; the rank is a
    * hash sort WITHIN each source partition (the one unavoidable cost of
    * an exact quota — an approximate quota would instead filter on
    * hash < rate with no sort, the [[domainMix]] path). */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats.stableRound
    val quota = temperatureMix(spark, dir)
      .select(col("source"), col("n_docs"), col("expected_docs"))
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("tsamp|"), col("doc_id").cast("string"))), col("doc_id"))
    val sampled = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(quota.select(col("source"), col("expected_docs"))), "source")
      .where(col("rn") <= col("expected_docs"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).as("sample_doc_sum"),
        sum(col("n_tokens")).as("sample_tokens"))
    quota.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("expected_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        stableRound(col("expected_docs").cast("double") / col("n_docs"), 4)
          .as("repeat_factor"),
        coalesce(col("sample_doc_sum"), lit(0L)).as("sample_doc_sum"),
        coalesce(col("sample_tokens"), lit(0L)).as("sample_tokens"))
      .orderBy("source")
  }

  /** DSIR-style data selection (Xie et al., arXiv:2302.03169): score
    * every document by the log-likelihood ratio of its hashed-unigram
    * features under a TARGET distribution (here: the `en` slice standing
    * in for "looks like the domain I want") vs the RAW corpus
    * distribution — the importance weight DSIR resamples by. Features
    * hash into a fixed bucket space (1024) with add-1 smoothing, so both
    * distributions are bounded frames no matter the corpus size.
    *
    * Each bucket's log-ratio is snapped to integer 10⁻⁶ units BEFORE the
    * per-document sum (Σ of transcendental doubles is addition-order-
    * dependent across engines; integer sums are order-free — the
    * [[graft.ops.StableStats]] discipline), and ranking uses the
    * per-token mean so long documents don't win by length alone.
    *
    * Scale shape: one token explode feeding two bucket-bounded (≤1024
    * group) hash-aggs, a 1-row totals broadcast, the bucket scores as a
    * broadcast map-side join back onto the token stream, one per-doc
    * agg, and a top-k (TakeOrdered — no global sort). */
  def dsirWeights(spark: SparkSession, dir: String, buckets: Int = 1024,
      targetLang: String = "en", k: Int = 20): DataFrame = {
    import graft.ops.StableStats.stableRound
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
      .withColumn("b",
        expr(s"cast(conv(substring(md5(concat('dsir|', tok)), 1, 8), 16, 10) as bigint) % $buckets"))
    // ONE corpus token pass for all bucket statistics (round 22, guide
    // §1.2): raw count, target-language count, and both corpus totals
    // previously ran as THREE separate aggregations over the exploded
    // token stream (raw, tgt, totals — each a full scan + explode + md5
    // per token). The raw and target counts fuse into one conditional
    // groupBy(b); the totals are exact-integer sums OVER the bucket
    // frame (≤`buckets` rows), so they fold from the same pass. The
    // bucket frame is cut eagerly ([[Cut.shared]]) because totals
    // and the per-bucket units both read it — uncut, the corpus pass
    // would still run twice. Values are unchanged: sum(when(lang=tgt))
    // ≡ the old left-joined filtered count with coalesce(·,0), and the
    // totals are the same integer sums the corpus-scale agg produced.
    val bstats0 = Cut.shared(toks.groupBy(col("b")).agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("c_tgt")))
    val totals = bstats0.agg(sum(col("c_raw")).as("n_raw"),
      sum(col("c_tgt")).as("n_tgt"))
    val bstats = bstats0
      .crossJoin(broadcast(totals))
      .select(col("b"), floor(
        (log((col("c_tgt") + lit(1)).cast("double")
            / (col("n_tgt") + lit(buckets)).cast("double"))
          - log((col("c_raw") + lit(1)).cast("double")
            / (col("n_raw") + lit(buckets)).cast("double")))
          * lit(1e6) + lit(0.5)).cast("long").as("units"))
    toks.join(broadcast(bstats), "b")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("units")).as("sum_units"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        stableRound(col("sum_units") / lit(1e6), 4).as("log_ratio"),
        stableRound(col("sum_units") / lit(1e6) / col("n_tokens"), 4).as("mean_log_ratio"))
      .orderBy(col("mean_log_ratio").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Length-bucketed batch assignment: the padding-waste reducer every
    * sequence-training loader ships (bucket docs by similar token count,
    * batch within the bucket, pad each batch only to ITS max). Shards by
    * content-stable hash first — each shard buckets and batches
    * independently (exactly how per-worker loaders operate), so every
    * window below is partitioned and the operator scales linearly with
    * shard count: no global sort anywhere. Output is the per-batch
    * packing ledger; `pad_waste` = Σ(batch max − doc tokens) is the
    * padding the bucketing saves versus corpus-max padding, and is pure
    * integer arithmetic — nothing to drift cross-engine. */
  def lengthBuckets(spark: SparkSession, dir: String, shards: Int = 4,
      buckets: Int = 8, batchSize: Int = 16): DataFrame = {
    val byLen = Window.partitionBy(col("shard"))
      .orderBy(col("n_tokens").asc, col("doc_id").asc)
    val inBucket = Window.partitionBy(col("shard"), col("bucket"))
      .orderBy(col("n_tokens").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("shard",
        expr(s"cast(conv(substring(md5(concat('shard|', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % $shards"))
      .withColumn("bucket", ntile(buckets).over(byLen).cast("long"))
      .withColumn("batch",
        floor((row_number().over(inBucket) - lit(1)) / lit(batchSize)).cast("long"))
      .groupBy(col("shard"), col("bucket"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        (max(col("n_tokens")) * count(lit(1)) - sum(col("n_tokens"))).as("pad_waste"))
      .orderBy("shard", "bucket", "batch")
  }

  /** Winsorized per-type means over `events.value`: the p05/p95 cutoffs
    * are EXACT ORDER STATISTICS (the element at rank ⌈p·n⌉ under a
    * total (value, event_id) order), so both engines pick the identical
    * double out of the data — no interpolation to drift. Values clamp to
    * [lo, hi] and both raw and clamped means run through the 10⁻⁴-unit
    * exact-integer discipline ([[graft.ops.StableStats]]). The rank pass
    * is one per-type window; the cut table is types-sized → broadcast
    * back over the fact scan. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val byVal = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    // NULL values are excluded up front: Spark ranks NULLS FIRST under
    // ASC while DuckDB ranks them LAST, so any NULL would shift the
    // p05/p95 rank positions differently in the two engines
    val cuts = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === expr("greatest(1, cast(ceil(5e-2 * n) as int))"), col("value"))).as("lo"),
        max(when(col("rn") === expr("cast(ceil(95e-2 * n) as int)"), col("value"))).as("hi"))
    def tenKMean(c: org.apache.spark.sql.Column) =
      graft.ops.StableStats.stableRound(
        sum(round(c * 10000).cast("long")).cast("double") / count(lit(1)) / lit(1e4), 4)
    Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .join(broadcast(cuts), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.StableStats.stableRound(max(col("lo")), 4).as("lo"),
        graft.ops.StableStats.stableRound(max(col("hi")), 4).as("hi"),
        tenKMean(col("value")).as("mean_raw"),
        tenKMean(greatest(col("lo"), least(col("hi"), col("value")))).as("mean_winsor"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_above"))
      .orderBy("event_type")
  }

  /** PageRank over the near-dup candidate graph (LSH pairs as undirected
    * edges) — the "centrality of a duplicate family" signal, and the
    * canonical iterative graph algorithm beyond [[dupClusters]]'
    * connected components. Three fixed power iterations, each ONE
    * edges⋈ranks join + one dst-keyed agg (shuffle O(edges) per round).
    *
    * All arithmetic is EXACT 64-bit integer in 10⁻⁹ rank units
    * (`floor` division for the damping split): float PageRank would sum
    * neighbor contributions in hash-agg order, which IEEE addition makes
    * engine- and partitioning-dependent — integer sums are order-free, so
    * the oracle compare is exact and any cluster reproduces the same
    * ranks bit-for-bit. */
  def pagerankSim(spark: SparkSession, dir: String): DataFrame =
    pagerankEdges(Dedup.lshCandidates(spark, dir))

  /** Power iteration over (doc_a, doc_b) undirected pairs — see
    * [[pagerankSim]]; exposed for direct graph-shape testing. */
  private[ext] def pagerankEdges(pairs: DataFrame): DataFrame = {
    // same pre-symmetrization cache point as dupClusterLabels: without it
    // the LSH pair pipeline feeding the union runs once per branch
    val ownsPairsCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p = if (ownsPairsCache) pairs.persist() else pairs
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    // ONE action sizes the loop AND fixes the node count: n rides into
    // the plan as a LITERAL (Catalyst folds the teleport term to a
    // constant), replacing the former 1-row crossJoin broadcast and the
    // separate sizing count — two fewer driver round-trips per
    // invocation (the round-12 label-loop fusion discipline)
    val n = deg.count()
    // n is floored at 1 INSIDE the literal: with zero nodes there are no
    // rows to observe it, but Catalyst constant-folds the teleport
    // division at optimization time, where a 0 literal would throw
    // DIVIDE_BY_ZERO before execution ever starts (ANSI mode)
    var ranks = deg
      .select(col("src").as("doc_id"), col("deg"), lit(math.max(n, 1L)).as("n"),
        lit(1000000000L / math.max(n, 1L)).as("r"))
    // previous round's cut, reclaimed once the next eager cut lands
    var prevCut: Option[DataFrame] = None
    // rank table is O(nodes) loop state — same scoped width + AQE-off
    // discipline as the label-propagation loop (see withLoopTuning)
    withLoopTuning(pairs.sparkSession, n) { _ =>
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(ranks.select(col("doc_id"), col("deg").as("sdeg"), col("r")),
          edges("src") === col("doc_id"))
        .select(col("dst"), expr("(85 * r) div (100 * sdeg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      // each round references the previous ranks TWICE (contrib + carry),
      // so an unmaterialized chain re-evaluates ~2^k times — the eager
      // cut keeps every round a single tiny job (measured 3.6 → 1.5 s
      // warm at sf0.1, the rest being LSH pair generation; same
      // discipline and local/reliable switch as dupClusters)
      ranks = Cut.loop(ranks.select(col("doc_id"), col("deg"), col("n"))
        .join(contrib, col("doc_id") === contrib("dst"), "left")
        .select(col("doc_id"), col("deg"), col("n"),
          (expr("15000000000 div (100 * n)") + coalesce(col("in_sum"), lit(0L))).as("r")),
        eager = true)
      // eager cut fully materialized: the previous round's checkpoint
      // files are dead — reclaim before the next round (reliable mode)
      prevCut.foreach(Cut.drop)
      prevCut = Some(ranks)
    }
    }
    // ranks is an eager checkpoint — the returned frame never re-reads
    // the edge/degree caches, so all three cache points release here
    deg.unpersist()
    edges.unpersist()
    if (ownsPairsCache) p.unpersist()
    ranks.select(col("doc_id"), col("deg"), col("r").as("rank_units"))
      .orderBy(col("rank_units").desc, col("doc_id").asc)
  }

  /** Per-document triangle participation over the near-dup similarity
    * graph — the local-clustering signal: a doc whose neighbors are also
    * neighbors of each other sits inside a duplication FAMILY (template
    * farms, mirror sets), while a doc with many triangle-free edges is a
    * hub of incidental similarity. Downstream, triangle-dense families
    * are the ones worth collapsing to a single representative.
    *
    * Scale shape: the standard degree-ordered enumeration (each triangle
    * counted exactly once at its lowest-(deg, id) vertex): edges orient
    * from the (deg, id)-smaller endpoint, wedges pair the out-neighbors
    * of each source, and a join back against the undirected edge set
    * closes them. Orienting by DEGREE bounds wedge count by Σ out-deg²
    * with out-degrees capped near √|E| (arboricity argument) — the
    * id-ordered variant looks identical on this corpus but explodes on a
    * power-law graph where one low-id hub owns half the edges. Candidate
    * edges come LSH-capped from [[Dedup.lshCandidates]], so |E| is
    * already bounded per band bucket. */
  def triangleSim(spark: SparkSession, dir: String): DataFrame =
    triangleNodes(Dedup.lshCandidates(spark, dir))

  private[ext] def triangleNodes(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
    // degree per vertex = one explode over the cached edge list (round
    // 22): the old union-of-two-projections scanned the cache twice to
    // say "each endpoint counts once" — explode(array(a, b)) emits the
    // same multiset of endpoints in a single scan
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("dv"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("dv").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dv").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // persist: the wedge self-join references the oriented edge list on
    // BOTH sides — uncached, its two-join degree-annotation subplan runs
    // twice (same discipline as the symmetrization cache in
    // dupClusterLabels/pagerankEdges)
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"))
      .persist()
    val wedges = oriented
      .join(oriented.select(col("src").as("src2"), col("dst").as("dst2")),
        col("src") === col("src2") && col("dst") < col("dst2"))
      .select(col("src"), col("dst").as("u"), col("dst2").as("v"))
    val closed = wedges.join(und,
      least(col("u"), col("v")) === col("a") &&
        greatest(col("u"), col("v")) === col("b"))
      .select(col("src"), col("u"), col("v"))
    closed.select(explode(array(col("src"), col("u"), col("v"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Pareto-front document selection (skyline): keep every document NOT
    * dominated on (length, quality) — b dominates a when b is ≥ on both
    * axes and strictly better on one. Multi-objective selection without
    * collapsing the axes into one weighted score: the front IS the set of
    * defensible trade-offs.
    *
    * Scale shape: the textbook distributed skyline. Phase 1 computes a
    * LOCAL front per hash shard (partitioned windows, fully parallel) —
    * any globally non-dominated doc is locally non-dominated, so phase 1
    * never drops a keeper; phase 2 re-runs the same filter globally over
    * the shard survivors, a frame already shrunk to ~front-sized. The
    * global window touches only that small candidate set, never the
    * corpus. Dominance per group: survive iff quality equals the max at
    * your exact length AND beats the running max over strictly greater
    * lengths (desc-ordered range frame ending at -1 excludes length
    * ties, so equal-point duplicates are kept — neither dominates). */
  def paretoFront(spark: SparkSession, dir: String, shards: Int = 32): DataFrame = {
    val q = TextAnalysis.qualityScoreOf(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("quality_score"))
    val local = frontOf(
      q.withColumn("shard", pmod(hash(col("doc_id")), lit(shards))), Seq(col("shard")))
      .drop("shard")
    frontOf(local, Nil).orderBy("doc_id")
  }

  /** One skyline filter pass, optionally partitioned (phase-1 shards). */
  private[ext] def frontOf(df: DataFrame, part: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val longer = (if (part.isEmpty) Window.orderBy(col("n_words").desc)
      else Window.partitionBy(part: _*).orderBy(col("n_words").desc))
      .rangeBetween(Window.unboundedPreceding, -1)
    val sameLen = if (part.isEmpty) Window.partitionBy(col("n_words"))
      else Window.partitionBy(part :+ col("n_words"): _*)
    df
      .withColumn("q_longer", max(col("quality_score")).over(longer))
      .withColumn("q_same", max(col("quality_score")).over(sameLen))
      .where(col("quality_score") === col("q_same") &&
        (col("q_longer").isNull || col("quality_score") > col("q_longer")))
      .drop("q_longer", "q_same")
  }

  /** Per-source token-budget selection: fill each source's token budget
    * with its best documents — rank by quality (doc_id tiebreak), keep a
    * doc iff the running token total THROUGH it stays ≤ budget. The
    * greedy prefix rule every "N tokens per domain" training recipe
    * actually means, made deterministic and engine-exact: ordering ties
    * break on doc_id, the running sum is integer, and a doc larger than
    * the whole budget is excluded even when ranked first (its own cum
    * already exceeds B) — identically in both engines.
    *
    * Scale shape: same lossless two-phase prune as [[paretoFront]]. A
    * doc's global running sum (over its whole source) is ≥ its
    * shard-local running sum — the same prefix restricted to a subset —
    * so local cum > B already proves global cum > B and phase 1 drops
    * such docs in fully parallel (source, shard) windows. Each shard
    * keeps ≤ B tokens' worth, so phase 2's per-source window sees
    * ≤ shards·B tokens per source, NOT the corpus: a hot source costs a
    * bounded second pass, never a corpus-sized single-partition sort. */
  /** Lossless distributed STRICT-PREFIX selection: keep each row whose
    * running `sizeCol` sum — under the ASCENDING `keyCols` order within
    * `partCols` — fits inside the per-row `budgetCol`, where "prefix"
    * means STOP AT THE FIRST OVERFLOW (the window-oracle semantics),
    * not skip-over-and-continue. Two passes: a shard-local prefix sum
    * prunes every row that provably cannot be in the global prefix
    * (shard-local cum ≤ true cum, so an overflowing shard cum excludes
    * the row), then the global window runs over the ≤ shards × budget
    * survivors — never the corpus. Recomputing the cum over survivors
    * ALONE would re-admit rows behind the first overflow (a row bigger
    * than the remaining budget gets pruned, deflating later rows' sums
    * — round-14 review finding), so each group also takes its earliest
    * PRUNED sort key (an O(groups) agg) and the prefix is additionally
    * cut there: rows before the first pruned key have survivor-cum ≡
    * true cum (nothing before them was dropped), and every row after
    * it is past the overflow by monotonicity. The kept set is exactly
    * the single-window prefix, shard-assignment-independent.
    * Survivors carry `__cum` (the exact global running sum).
    *
    * CONTRACT: every `keyCols` value must be NON-NULL. The first-pruned
    * cut compares key structs (`key < __first_pruned`), and a NULL key
    * field makes that comparison NULL — the row would be silently
    * dropped, and Spark's NULLS-FIRST-under-ASC window order would
    * disagree with engines that sort NULLs last (DuckDB's ASC default).
    * Callers coalesce nullable key
    * inputs (see [[tokenBudget]]'s `-coalesce(quality_score, 0)` —
    * ADVICE r14: quality_score is NULL whenever text is NULL). */
  private[ext] def strictPrefixKeep(df: DataFrame, partCols: Seq[String],
      keyCols: Seq[String], sizeCol: String, budgetCol: String,
      shards: Int): DataFrame = {
    val part = partCols.map(col)
    val keys = keyCols.map(col)
    def cumW(p: Seq[Column]) = Window.partitionBy(p: _*)
      .orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val key = struct(keys: _*)
    val marked = df
      .withColumn("__shard", pmod(hash((partCols ++ keyCols).map(col): _*), lit(shards)))
      .withColumn("__lc", sum(col(sizeCol)).over(cumW(part :+ col("__shard"))))
      .withColumn("__pruned", col("__lc") > col(budgetCol))
    val firstPruned = marked.where(col("__pruned"))
      .groupBy(part: _*).agg(min(key).as("__first_pruned"))
    // no broadcast HINT on the O(groups) side: the global window needs an
    // Exchange on partCols anyway, so a shuffle join co-partitions for
    // free, the planner auto-broadcasts under normal conf from stats —
    // and PlanSpec's 100TB no-forced-broadcast audit stays clean
    marked.where(!col("__pruned")).drop("__shard", "__lc", "__pruned")
      .join(firstPruned, partCols, "left")
      .withColumn("__cum", sum(col(sizeCol)).over(cumW(part)))
      .where(col("__cum") <= col(budgetCol) &&
        (col("__first_pruned").isNull || key < col("__first_pruned")))
      .drop("__first_pruned")
  }

  def tokenBudget(spark: SparkSession, dir: String, budget: Long = 800L,
      shards: Int = 32): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val q = TextAnalysis.qualityScoreOf(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"),
        col("n_words").cast("long").as("n_words"), col("quality_score"))
      // quality DESC expressed as an ascending key so the strict-prefix
      // helper's single key order serves both passes; coalesce satisfies
      // the helper's non-null-key contract (quality_score is NULL for
      // NULL text — such docs rank as quality 0, tie-broken by doc_id)
      .withColumn("__negq", -coalesce(col("quality_score"), lit(0.0)))
      .withColumn("__budget", lit(budget))
    strictPrefixKeep(q, Seq("source"), Seq("__negq", "doc_id"),
      "n_words", "__budget", shards)
      .withColumnRenamed("__cum", "cum_tokens")
      .drop("__negq", "__budget")
      .orderBy("doc_id")
  }

  /** Curriculum ordering: a deterministic training-order schedule that
    * interleaves quality bands round-robin, so every consecutive slice of
    * the schedule sees the full quality spectrum (anti-curriculum clumping
    * — a quality-sorted corpus front-loads easy/clean text and the tail of
    * training only ever sees dregs). Band = fixed quality-score quarter
    * (score ∈ [0,1] → band = min(3, ⌊4·score⌋) — fixed bands, not
    * quantiles, so the assignment is a stateless map: no global
    * percentile pass, bit-identical across engines), then
    * `position = (rank_within_band − 1) · 4 + band`: pure arithmetic on a
    * band-partitioned rank, NO global sort anywhere in the plan.
    *
    * Scale shape: the one wide stage is the rank window partitioned by
    * band. Four bands is too coarse a partitioning for 100 TB — there,
    * sub-shard each band by a hash of doc_id and schedule within shards
    * (the interleave property holds per shard union); the presentation
    * sort here exists only because the driver compares ordered output. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityScoreOf(Tables.documents(spark, dir))
      .select(col("doc_id"), col("quality_score"))
      .withColumn("band", least(lit(3), floor(col("quality_score") * 4)).cast("int"))
    val inBand = Window.partitionBy(col("band"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    scored
      .withColumn("r", row_number().over(inBand))
      .select(col("doc_id"), col("band"),
        ((col("r") - 1) * 4 + col("band")).cast("long").as("position"))
      .orderBy("position")
  }

  /** Snapshot reconciliation: classify every document across two corpus
    * snapshots as added / removed / changed / unchanged and report the
    * per-source census — the audit a lake operator runs after every
    * re-crawl ingest before deciding what downstream stages (dedup,
    * embedding, packing) must recompute.
    *
    * The "new" snapshot is derived deterministically from the corpus
    * (every 11th doc dropped, every 7th revised, every 13th cloned as a
    * fresh id) so the differential oracle can rebuild the identical
    * scenario; [[diffOf]] is the reusable operator over any two
    * (doc_id, text, source) frames.
    *
    * Scale shape: one full-outer equi-join on doc_id (both sides shuffle
    * once on the key — with bucketed snapshot tables it is co-located and
    * shuffle-free) comparing md5 content hashes, then a sources-sized
    * agg. Nothing quadratic, nothing driver-side. */
  /** The deterministic two-snapshot scenario [[snapshotDiff]] diffs
    * (every 11th doc dropped, every 7th revised, every 13th cloned as a
    * fresh id) — ONE definition shared with the bucketed variant
    * ([[graft.sources.BucketedTables.bucketedSnapshotDiff]]), so the
    * two reports diff the identical snapshots. */
  private[graft] def snapshotPair(old: DataFrame): (DataFrame, DataFrame) = {
    val survived = old.where(pmod(col("doc_id"), lit(11)) =!= 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val added = old.where(pmod(col("doc_id"), lit(13)) === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" new")).as("text"), col("source"))
    (old, survived.unionByName(added))
  }

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (old, newer) = snapshotPair(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source")))
    diffOf(old, newer)
  }

  /** Per-source diff census between two (doc_id, text, source) frames —
    * see [[snapshotDiff]]. */
  def diffOf(old: DataFrame, newer: DataFrame): DataFrame = {
    val o = old.select(col("doc_id"), md5(col("text")).as("o_hash"), col("source").as("o_source"))
    val n = newer.select(col("doc_id"), md5(col("text")).as("n_hash"), col("source").as("n_source"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("o_hash").isNull, "added")
          .when(col("n_hash").isNull, "removed")
          .when(col("o_hash") === col("n_hash"), "unchanged")
          .otherwise("changed"))
      .groupBy(coalesce(col("n_source"), col("o_source")).as("source"))
      .agg(
        sum((col("status") === "added").cast("long")).as("n_added"),
        sum((col("status") === "removed").cast("long")).as("n_removed"),
        sum((col("status") === "changed").cast("long")).as("n_changed"),
        sum((col("status") === "unchanged").cast("long")).as("n_unchanged"))
      .orderBy("source")
  }

  /** UniMax language-budget allocation (Chung et al. 2023,
    * arXiv:2304.09151): distribute a training-token budget over
    * languages as UNIFORMLY as possible subject to a per-language
    * epoch cap — visit languages in ascending order of available
    * tokens; each gets `min(cap·available, remaining ÷ languages
    * left)`, so a low-resource language takes its capped allotment and
    * the slack re-spreads over the rest, while high-resource languages
    * end up near-uniform. This is the budget-allocation counterpart of
    * the [[temperatureMix]] sampling family (UniMax's published claim:
    * it dominates every temperature setting on the same budget).
    *
    * The fold is SEQUENTIAL in the sorted language order (each step's
    * quota depends on all previous allocations), so it runs driver-side
    * over the collected O(languages) table — the bounded-collect
    * discipline ([[graft.ext.Similarity]]'s MMR pool): languages are a
    * domain dimension, never corpus-scaled. All integer arithmetic
    * (floor budget, floor quotas), so DuckDB replays the recurrence
    * exactly as a recursive CTE. Budget = ⌊total/2⌋ chars, cap = 2
    * epochs. */
  /** The UniMax fold itself, pure: (lang, available) → (lang, available,
    * allocated) in ascending-availability visit order. Exposed for the
    * property spec (cap binds ⇔ low-resource, budget conservation,
    * uncapped-quota monotonicity). */
  private[ext] def unimaxFold(per: Seq[(String, Long)], budget: Long,
      cap: Long): Seq[(String, Long, Long)] = {
    var remaining = budget
    var left = per.length.toLong
    per.sortBy { case (l, t) => (t, l) }.map { case (l, t) =>
      val alloc = math.min(cap * t, remaining / left)
      remaining -= alloc
      left -= 1
      (l, t, alloc)
    }
  }

  def unimaxAlloc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(sum(col("n_chars")).as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val rows = unimaxFold(per, per.map(_._2).sum / 2, cap = 2L).map {
      case (l, t, a) => (l, t, a, math.floor(a.toDouble / t * 1e4 + 0.5) / 1e4)
    }
    rows.toDF("lang", "toks", "alloc_chars", "epochs").orderBy("lang")
  }

  /** EXECUTE the UniMax allocation (round 14 — the acting half of
    * [[unimaxAlloc]], same discipline as this round's compaction-exec /
    * delta-fold: a planned budget is only useful once something selects
    * data against it): per language, fill the allocated character
    * budget with a deterministic hash-ordered greedy document prefix —
    * md5(text) order is unbiased, reproducible, and engine-portable —
    * allowing a SECOND EPOCH of the same documents, because UniMax's
    * 2-epoch cap deliberately allocates low-resource languages MORE
    * than their corpus (repetition is the mechanism, arXiv:2304.09151).
    * A copy is kept iff it fits entirely (whole-document greedy
    * prefix). One row per language: copies kept, second-epoch copies,
    * characters filled, and the fill rate against the allocation.
    *
    * Scale shape: the per-language running sum uses the
    * [[strictPrefixKeep]] lossless shard-prune (shared with
    * [[tokenBudget]]) — a shard-local prefix sum cuts every copy that
    * provably cannot be in the global prefix, so the per-language
    * window sorts ≤ shards × alloc survivors, never the corpus. The
    * allocation itself is the driver-side O(languages) fold shared with
    * [[unimaxAlloc]] (one definition; the two reports cannot drift). */
  def unimaxSample(spark: SparkSession, dir: String, shards: Int = 32): DataFrame = {
    import spark.implicits._
    import graft.ops.StableStats
    val docs = Tables.documents(spark, dir)
    val per = docs.groupBy(col("lang")).agg(sum(col("n_chars")).as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val allocDf = unimaxFold(per, per.map(_._2).sum / 2, cap = 2L)
      .map { case (l, _, a) => (l, a) }.toDF("lang", "alloc_chars")
    // NULL text coalesces to '' BEFORE hashing (the classifierGrams
    // discipline): md5(NULL) is NULL, and the two engines order NULLs
    // at OPPOSITE ends of an ASC sort — a latent prefix flip
    val copies = docs
      .select(col("lang"), col("doc_id"),
        col("n_chars").cast("long").as("nc"),
        md5(coalesce(col("text"), lit(""))).as("h"))
      .withColumn("epoch", explode(typedlit(Seq(0, 1))))
    val kept = strictPrefixKeep(copies.join(broadcast(allocDf), Seq("lang")),
      Seq("lang"), Seq("epoch", "h", "doc_id"), "nc", "alloc_chars", shards)
    val agg = kept.groupBy(col("lang")).agg(
      count(lit(1)).as("n_copies"),
      sum(when(col("epoch") === 1, 1L).otherwise(0L)).as("n_second_epoch"),
      sum(col("nc")).as("chars_kept"))
    allocDf.join(agg, Seq("lang"), "left")
      .select(col("lang"), col("alloc_chars"),
        coalesce(col("n_copies"), lit(0L)).as("n_copies"),
        coalesce(col("n_second_epoch"), lit(0L)).as("n_second_epoch"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"),
        when(col("alloc_chars") === 0, lit(0.0)).otherwise(
          StableStats.ratio(coalesce(col("chars_kept"), lit(0L)),
            col("alloc_chars"))).as("fill_rate"))
      .orderBy("lang")
  }

  /** Shared recursive-CTE prefix of the UniMax oracles (per-language
    * totals → ascending-availability visit order → the allocation
    * recurrence) — one definition, so the alloc and sample twins replay
    * the identical fold. */
  private val unimaxAllocCte: String =
    """per AS (
      |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(toks) // 2 AS BIGINT) AS budget,
      |         CAST(count(*) AS BIGINT) AS n FROM per),
      |ord AS (
      |  SELECT lang, toks,
      |         CAST(row_number() OVER (ORDER BY toks ASC, lang ASC) AS BIGINT) AS rn
      |  FROM per),
      |alloc AS (
      |  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS VARCHAR) AS lang,
      |         CAST(1 AS BIGINT) AS toks, CAST(0 AS BIGINT) AS a,
      |         budget AS remaining, n AS langs_left
      |  FROM tot
      |  UNION ALL
      |  SELECT o.rn, o.lang, o.toks,
      |         least(2 * o.toks, al.remaining // al.langs_left),
      |         al.remaining - least(2 * o.toks, al.remaining // al.langs_left),
      |         al.langs_left - 1
      |  FROM alloc al JOIN ord o ON o.rn = al.rn + 1)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("x_unimax_alloc", unimaxAlloc _,
      s"""WITH RECURSIVE $unimaxAllocCte
         |SELECT lang, toks, a AS alloc_chars,
         |  floor(CAST(a AS DOUBLE) / toks * 1e4 + 5e-1) / 1e4 AS epochs
         |FROM alloc WHERE rn > 0 ORDER BY lang""".stripMargin),
    Query("x_unimax_sample", (s: SparkSession, d: String) => unimaxSample(s, d),
      s"""WITH RECURSIVE $unimaxAllocCte,
         |a2 AS (SELECT lang, a AS alloc_chars FROM alloc WHERE rn > 0),
         |copies AS (
         |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS nc,
         |         md5(coalesce(text, '')) AS h, e.epoch
         |  FROM documents, (SELECT unnest([0, 1]) AS epoch) e),
         |run AS (
         |  SELECT c.lang, c.epoch, c.nc,  a2.alloc_chars,
         |    sum(c.nc) OVER (PARTITION BY c.lang
         |      ORDER BY c.epoch, c.h, c.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM copies c JOIN a2 USING (lang)),
         |kept AS (SELECT * FROM run WHERE cum <= alloc_chars),
         |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_copies,
         |  CAST(coalesce(sum(CASE WHEN epoch = 1 THEN 1 END), 0) AS BIGINT) AS n_second_epoch,
         |  CAST(sum(nc) AS BIGINT) AS chars_kept FROM kept GROUP BY 1)
         |SELECT a2.lang, a2.alloc_chars,
         |  CAST(coalesce(n_copies, 0) AS BIGINT) AS n_copies,
         |  CAST(coalesce(n_second_epoch, 0) AS BIGINT) AS n_second_epoch,
         |  CAST(coalesce(chars_kept, 0) AS BIGINT) AS chars_kept,
         |  CASE WHEN a2.alloc_chars = 0 THEN 0e0
         |    ELSE ${graft.ops.StableStats.ratioSql(
                  "coalesce(chars_kept, 0)", "a2.alloc_chars")} END AS fill_rate
         |FROM a2 LEFT JOIN agg USING (lang) ORDER BY lang""".stripMargin),
    Query("x_neyman_alloc", (s: SparkSession, d: String) => neymanAllocation(s, d), {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH stats AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(length(text)) AS BIGINT) AS s1,
         |    CAST(sum(length(text) * length(text)) AS BIGINT) AS s2
         |  FROM documents GROUP BY source),
         |v AS (
         |  SELECT source, n_docs, s1,
         |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_docs)
         |      / greatest(n_docs - 1, 1) AS variance
         |  FROM stats),
         |w AS (
         |  SELECT source, n_docs, s1, variance,
         |    CAST(floor(n_docs * sqrt(variance) * 1e6 + 5e-1) AS BIGINT) AS w_units
         |  FROM v),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         |    CAST(sum(w_units) AS BIGINT) AS w_total FROM w)
         |SELECT source, n_docs,
         |  ${stableRoundSql("CAST(s1 AS DOUBLE) / n_docs", 4)} AS mean_len,
         |  round(sqrt(variance), 4) AS sd_len,
         |  CAST((1000 * w_units) // w_total AS BIGINT) AS alloc_neyman,
         |  CAST((1000 * n_docs) // n_total AS BIGINT) AS alloc_proportional
         |FROM w, t ORDER BY source""".stripMargin
    }),
    Query("x_weighted_sample", (s: SparkSession, d: String) => weightedSample(s, d), {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH u AS (SELECT source, doc_id, n_chars,
         |    ('0x' || substr(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
         |      / 281474976710656.0 AS u
         |  FROM documents),
         |keyed AS (SELECT source, doc_id, n_chars,
         |    ${stableRoundSql("ln(u) / n_chars", 10)} AS es_key FROM u),
         |r AS (SELECT source, doc_id, n_chars, es_key,
         |    row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id ASC) AS rn
         |  FROM keyed)
         |SELECT source, CAST(rn AS INTEGER) AS rn, doc_id, n_chars, es_key
         |FROM r WHERE rn <= 3 ORDER BY source, rn""".stripMargin
    }),
    Query("x_snapshot_diff", snapshotDiff _,
      """WITH old AS (SELECT doc_id, text, source FROM documents),
        |survived AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text, source
        |  FROM old WHERE doc_id % 11 <> 0),
        |added AS (SELECT doc_id + 1000000 AS doc_id, text || ' new' AS text, source
        |  FROM old WHERE doc_id % 13 = 0),
        |nw AS (SELECT * FROM survived UNION ALL SELECT * FROM added),
        |j AS (SELECT coalesce(n.source, o.source) AS source,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("x_curriculum", curriculumOrder _,
      s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
         |b AS (SELECT doc_id,  quality_score,
         |  CAST(least(3, floor(quality_score * 4)) AS INTEGER) AS band FROM q),
         |r AS (SELECT doc_id, band, row_number() OVER (
         |    PARTITION BY band ORDER BY quality_score DESC, doc_id ASC) AS rn FROM b)
         |SELECT doc_id, band, CAST((rn - 1) * 4 + band AS BIGINT) AS position
         |FROM r ORDER BY position""".stripMargin),
    Query("x_token_budget", (s: SparkSession, d: String) => tokenBudget(s, d), {
      import graft.ops.StableStats.stableRoundSql
      val score = stableRoundSql(
        "least(1e0, CAST(len(w) AS DOUBLE) / 1e2)" +
          s" * (1 - CAST(len(list_filter(w, x -> x IN (${TextAnalysis.inList(TextAnalysis.stopEn)}))) AS DOUBLE) / CAST(len(w) AS DOUBLE))" +
          " * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE))", 4)
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_words,
         |  $score AS quality_score FROM t),
         |r AS (SELECT *, sum(n_words) OVER (PARTITION BY source
         |    ORDER BY coalesce(quality_score, 0) DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM q)
         |SELECT doc_id, source, n_words, quality_score, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM r WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin
    }),
    Query("x_pareto_front", (s: SparkSession, d: String) => paretoFront(s, d), {
      import graft.ops.StableStats.stableRoundSql
      val score = stableRoundSql(
        "least(1e0, CAST(len(w) AS DOUBLE) / 1e2)" +
          s" * (1 - CAST(len(list_filter(w, x -> x IN (${TextAnalysis.inList(TextAnalysis.stopEn)}))) AS DOUBLE) / CAST(len(w) AS DOUBLE))" +
          " * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE))", 4)
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, $score AS quality_score FROM t)
         |SELECT doc_id, n_words, quality_score FROM q a
         |WHERE NOT EXISTS (SELECT 1 FROM q b
         |  WHERE b.n_words >= a.n_words AND b.quality_score >= a.quality_score
         |    AND (b.n_words > a.n_words OR b.quality_score > a.quality_score))
         |ORDER BY doc_id""".stripMargin
    }),
    Query("x_triangle_sim", triangleSim _, {
      val pairsSql = Query.oracleOf(Dedup.queries, "x_dedup_minhash_lsh")
        .replaceAll("ORDER BY doc_a, doc_b$", "")
      // canonical a<b edges make (a<b<c) enumerable by one join chain;
      // per-node participation is orientation-invariant, so the engine's
      // degree-ordered enumeration and this id-ordered one must agree
      s"""WITH pairs AS ($pairsSql),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |tri AS (SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nodes AS (SELECT a AS doc_id FROM tri
         |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM nodes GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    Query("x_pagerank_sim", pagerankSim _, {
      val pairsSql = Query.oracleOf(Dedup.queries, "x_dedup_minhash_lsh")
        .replaceAll("ORDER BY doc_a, doc_b$", "")
      def round(prev: String, next: String) =
        s"""c$next AS (
           |  SELECT e.dst, sum((85 * r) // (100 * deg)) AS in_sum
           |  FROM e JOIN $prev ON e.src = $prev.doc_id GROUP BY e.dst),
           |$next AS (
           |  SELECT doc_id, deg, n, 15000000000 // (100 * n) + coalesce(in_sum, 0) AS r
           |  FROM $prev LEFT JOIN c$next ON doc_id = dst)""".stripMargin
      s"""WITH pairs AS ($pairsSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT src AS doc_id, deg, n, 1000000000 // n AS r FROM deg, nn),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")}
         |SELECT doc_id, CAST(deg AS BIGINT) AS deg, CAST(r AS BIGINT) AS rank_units
         |FROM r3 ORDER BY rank_units DESC, doc_id ASC""".stripMargin
    }),
    Query("x_dedup_spans", spanDedup _,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, ci,
        |    array_to_string(w[ci * 10 + 1 : ci * 10 + 10], ' ') AS span,
        |    doc_id * 1000000000 + ci AS k
        |  FROM (SELECT doc_id, w, unnest(generate_series(0, (len(w) - 1) // 10)) AS ci FROM t)),
        |fo AS (SELECT span, min(k) AS min_k FROM sp GROUP BY span),
        |reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(sp.span, ' ' ORDER BY ci)) AS rebuilt_md5
        |  FROM sp JOIN fo USING (span) WHERE k = min_k GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
        |SELECT doc_id, n_spans,
        |  coalesce(n_kept, 0) AS n_kept,
        |  coalesce(rebuilt_md5, md5('')) AS rebuilt_md5
        |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin),
    Query("x_domain_mix", domainMix _, {
      import graft.ops.StableStats
      s"""WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |stats AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, count(*) AS n_sources FROM counts),
         |rates AS (SELECT source, least(1e0, CAST(total AS DOUBLE) / (n_sources * n_docs)) AS rate
         |  FROM counts, stats),
         |u AS (SELECT doc_id, source,
         |    ('0x' || substr(md5('dmix|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 / 1e4 AS u
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ${StableStats.stableRoundSql("max(rate)", 4)} AS rate
         |FROM u JOIN rates USING (source)
         |GROUP BY source ORDER BY source""".stripMargin
    }),
    Query("x_mix_temperature", (s: SparkSession, d: String) => temperatureMix(s, d), {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(floor(pow(CAST(count(*) AS DOUBLE), 0.3) * 1e6 + 0.5) AS BIGINT) AS q_units
         |  FROM documents GROUP BY source),
         |stats AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
         |    CAST(sum(q_units) AS BIGINT) AS q_total FROM counts),
         |r AS (SELECT source, n_docs,
         |    CAST(n_docs AS DOUBLE) / total AS p,
         |    CAST(q_units AS DOUBLE) / q_total AS q, total
         |  FROM counts, stats)
         |SELECT source, n_docs,
         |  ${stableRoundSql("p", 4)} AS mix_p,
         |  ${stableRoundSql("q", 4)} AS mix_q,
         |  ${stableRoundSql("q / p", 4)} AS up_weight,
         |  CAST(floor(q * total + 0.5) AS BIGINT) AS expected_docs
         |FROM r ORDER BY source""".stripMargin
    }),
    Query("x_mix_temp_sample", temperatureSample _, {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(floor(pow(CAST(count(*) AS DOUBLE), 0.3) * 1e6 + 0.5) AS BIGINT) AS q_units
         |  FROM documents GROUP BY source),
         |stats AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
         |    CAST(sum(q_units) AS BIGINT) AS q_total FROM counts),
         |quota AS (SELECT source, n_docs,
         |    CAST(floor(CAST(q_units AS DOUBLE) / q_total * total + 0.5) AS BIGINT)
         |      AS expected_docs
         |  FROM counts, stats),
         |ranked AS (SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5('tsamp|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents),
         |samp AS (SELECT r.source, r.doc_id, r.n_tokens
         |  FROM ranked r JOIN quota q
         |    ON r.source = q.source AND r.rn <= q.expected_docs),
         |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
         |    CAST(sum(doc_id) AS BIGINT) AS sample_doc_sum,
         |    CAST(sum(n_tokens) AS BIGINT) AS sample_tokens
         |  FROM samp GROUP BY source)
         |SELECT q.source, q.n_docs, q.expected_docs,
         |  coalesce(a.n_sampled, 0) AS n_sampled,
         |  ${stableRoundSql("CAST(q.expected_docs AS DOUBLE) / q.n_docs", 4)}
         |    AS repeat_factor,
         |  coalesce(a.sample_doc_sum, 0) AS sample_doc_sum,
         |  coalesce(a.sample_tokens, 0) AS sample_tokens
         |FROM quota q LEFT JOIN agg a USING (source)
         |ORDER BY source""".stripMargin
    }),
    Query("x_dsir_weights", (s: SparkSession, d: String) => dsirWeights(s, d), {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH toks AS (SELECT doc_id, source, lang, tok,
         |    ('0x' || substr(md5('dsir|' || tok), 1, 8))::BIGINT % 1024 AS b
         |  FROM (SELECT doc_id, source, lang,
         |      unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE len(tok) >= 1),
         |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS c_raw FROM toks GROUP BY b),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS c_tgt FROM toks
         |  WHERE lang = 'en' GROUP BY b),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM toks),
         |bs AS (SELECT raw.b, CAST(floor(
         |    (ln(CAST(coalesce(tgt.c_tgt, 0) + 1 AS DOUBLE) / (tot.n_tgt + 1024))
         |     - ln(CAST(raw.c_raw + 1 AS DOUBLE) / (tot.n_raw + 1024)))
         |    * 1e6 + 0.5) AS BIGINT) AS units
         |  FROM raw LEFT JOIN tgt USING (b), tot),
         |d AS (SELECT t.doc_id, t.lang, t.source,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(bs.units) AS BIGINT) AS sum_units
         |  FROM toks t JOIN bs USING (b)
         |  GROUP BY t.doc_id, t.lang, t.source)
         |SELECT doc_id, lang, source, n_tokens,
         |  ${stableRoundSql("sum_units / 1e6", 4)} AS log_ratio,
         |  ${stableRoundSql("sum_units / 1e6 / n_tokens", 4)} AS mean_log_ratio
         |FROM d ORDER BY mean_log_ratio DESC, doc_id LIMIT 20""".stripMargin
    }),
    Query("x_len_buckets", (s: SparkSession, d: String) => lengthBuckets(s, d),
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard
        |  FROM documents),
        |b AS (
        |  SELECT shard, doc_id, n_tokens,
        |    CAST(ntile(8) OVER (PARTITION BY shard ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
        |  FROM t),
        |r AS (
        |  SELECT shard, bucket, n_tokens,
        |    row_number() OVER (PARTITION BY shard, bucket ORDER BY n_tokens, doc_id) AS rn
        |  FROM b)
        |SELECT shard, bucket, CAST(floor((rn - 1) / 16) AS BIGINT) AS batch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |  CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT) AS pad_waste
        |FROM r GROUP BY shard, bucket, batch
        |ORDER BY shard, bucket, batch""".stripMargin),
    Query("x_winsorize", winsorize _, {
      import graft.ops.StableStats
      def tenKMeanSql(e: String) = StableStats.stableRoundSql(
        s"CAST(sum(CAST(round(($e) * 1e4) AS BIGINT)) AS DOUBLE) / count(*) / 1e4", 4)
      s"""WITH r AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events WHERE value IS NOT NULL),
         |cuts AS (
         |  SELECT event_type,
         |    max(CASE WHEN rn = greatest(1, CAST(ceil(5e-2 * n) AS INTEGER)) THEN value END) AS lo,
         |    max(CASE WHEN rn = CAST(ceil(95e-2 * n) AS INTEGER) THEN value END) AS hi
         |  FROM r GROUP BY event_type)
         |SELECT event_type, count(*) AS n,
         |  ${StableStats.stableRoundSql("max(lo)", 4)} AS lo,
         |  ${StableStats.stableRoundSql("max(hi)", 4)} AS hi,
         |  ${tenKMeanSql("value")} AS mean_raw,
         |  ${tenKMeanSql("greatest(lo, least(hi, value))")} AS mean_winsor,
         |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above
         |FROM events JOIN cuts USING (event_type)
         |WHERE value IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    }),
    Query("x_decontaminate_sem", semDecontaminate _,
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, e AS ee FROM emb WHERE vec_id < 20)
        |SELECT emb.vec_id, ev.eval_id,
        |  round(list_cosine_similarity(emb.e, ev.ee), 6) AS cos_sim
        |FROM emb CROSS JOIN ev
        |WHERE emb.vec_id >= 20
        |  AND round(list_cosine_similarity(emb.e, ev.ee), 6) >= 4e-1
        |ORDER BY vec_id, eval_id""".stripMargin),
    Query("x_decontaminate", decontaminate _,
      """WITH grams AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 3),
        |      i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 15))::BIGINT))) AS g
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 4)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM grams JOIN bench USING (g)
        |WHERE doc_id % 50 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("x_decontaminate_spans", spanDecontaminate _,
      s"""WITH widths AS (SELECT unnest([${SpanWidths.mkString(", ")}]) AS width),
        |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, width, w,
        |    unnest(generate_series(1, len(w) - width + 1)) AS i
        |  FROM docs CROSS JOIN widths WHERE len(w) >= width),
        |spans AS (
        |  SELECT doc_id, width,
        |    ('0x' || substr(md5(array_to_string(w[i:i+width-1], ' ')), 1, 15))::BIGINT AS g
        |  FROM pos),
        |bench AS (SELECT DISTINCT width, g FROM spans WHERE doc_id % 50 = 0)
        |SELECT doc_id, width, count(DISTINCT g) AS n_hits
        |FROM spans JOIN bench USING (width, g)
        |WHERE doc_id % 50 <> 0
        |GROUP BY doc_id, width ORDER BY doc_id, width""".stripMargin),
    Query("x_pack_shards", (s: SparkSession, d: String) => packShards(s, d),
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5('pack|' || CAST(doc_id AS VARCHAR)) AS h,
        |    ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_total
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, CAST(floor(pre_total / 2000) AS BIGINT) AS bin
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("x_outliers", outliers _, {
      import graft.ops.StableStats
      s"""WITH stats AS (
         |  SELECT event_type AS et, ${StableStats.centsMeanSql("value")} AS mu,
         |    round(stddev(value), 4) AS sigma
         |  FROM events GROUP BY event_type)
         |SELECT event_id, event_type, value, mu, sigma,
         |  ${StableStats.stableRoundSql("(value - mu) / sigma", 4)} AS z
         |FROM events JOIN stats ON event_type = et
         |WHERE abs(${StableStats.stableRoundSql("(value - mu) / sigma", 4)}) >= 2.5
         |ORDER BY event_id""".stripMargin
    }),
    Query("x_outliers_mad", madOutliers _, {
      import graft.ops.StableStats
      s"""WITH med AS (
         |  SELECT event_type AS et1, round(quantile_cont(value, 5e-1), 4) AS med
         |  FROM events GROUP BY event_type),
         |mad AS (
         |  SELECT event_type AS et2, round(quantile_cont(abs(value - med), 5e-1), 4) AS mad
         |  FROM events JOIN med ON event_type = et1 GROUP BY event_type)
         |SELECT event_id, event_type, value, med, mad,
         |  ${StableStats.stableRoundSql("(value - med) / (14826e-4 * mad)", 4)} AS score
         |FROM events JOIN med ON event_type = et1 JOIN mad ON event_type = et2
         |WHERE mad <> 0
         |  AND abs(${StableStats.stableRoundSql("(value - med) / (14826e-4 * mad)", 4)}) >= 3
         |ORDER BY event_id""".stripMargin
    }),
    Query("x_top_terms", topTerms _,
      """SELECT tok, count(*) AS freq FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY freq DESC, tok ASC LIMIT 20""".stripMargin),
    Query("x_pack_bins", (s: SparkSession, d: String) => packBins(s, d),
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5('pack|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_total
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(floor(pre_total / 2000) AS BIGINT) AS bin
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("x_split_assign", splitAssign _,
      """SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("x_stratified_sample", stratifiedSample _,
      """SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin),
    Query("x_dup_clusters", dupClusters _, clustersSql),
    // the one-pass closure IS the oracle: hash-equality against the
    // star ∪ new-probe loop is the incremental ≡ recompute proof
    Query("x_incr_clusters", incrementalClusters _, clustersSql),
    Query("x_curation_e2e", curationPipeline _,
      s"""WITH g AS (${TextAnalysis.gopherSignalsSql}),
         |keep AS (SELECT doc_id, n_words FROM g WHERE keep = 1),
         |lc AS (${TextAnalysis.classifierSql}),
         |lkeep AS (SELECT doc_id FROM lc WHERE keep = 1),
         |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(nfc_normalize(text))),
         |cl AS ($clustersSql),
         |anch AS (SELECT d.doc_id,
         |    ('0x' || substr(md5(CAST(coalesce(cl.cluster, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |sp AS (SELECT doc_id,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split FROM anch)
         |SELECT sp.split, d.lang, count(*) AS n_docs,
         |  CAST(sum(keep.n_words) AS BIGINT) AS sum_words
         |FROM keep
         |JOIN lkeep USING (doc_id)
         |JOIN canon USING (doc_id)
         |JOIN sp USING (doc_id)
         |JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin),
    Query("x_cluster_split", clusterSplitAssign _,
      s"""WITH cl AS ($clustersSql),
         |a AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS anchor
         |      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |b AS (SELECT doc_id, anchor,
         |  ('0x' || substr(md5(CAST(anchor AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket FROM a)
         |SELECT doc_id, anchor, bucket,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin),
    Query("x_dedup_keep_best", keepBest _,
      s"""WITH clusters AS ($clustersSql),
         |q AS (${TextAnalysis.qualityScoreSql})
         |SELECT cluster, doc_id, quality_score,
         |  CAST(row_number() OVER (PARTITION BY cluster
         |    ORDER BY quality_score DESC, doc_id ASC) = 1 AS INTEGER) AS keep
         |FROM clusters JOIN q USING (doc_id)
         |ORDER BY cluster, doc_id""".stripMargin),
    Query("x_split_leakage", splitLeakage _, splitLeakageSql)
  )

  /** [[splitLeakage]]'s DuckDB twin — pairs and the cluster closure both
    * reuse the shared oracle blocks; appended to the map below. */
  private lazy val splitLeakageSql: String = {
    val pairsSql = Query.oracleOf(Dedup.queries, "x_dedup_minhash_lsh")
      .replaceAll("ORDER BY doc_a, doc_b$", "")
    s"""WITH cl AS ($clustersSql),
       |p AS ($pairsSql),
       |nsp AS (SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
       |    FROM documents)),
       |csp AS (SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT d.doc_id,
       |      ('0x' || substr(md5(CAST(coalesce(cl.cluster, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
       |    FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)),
       |nc AS (SELECT least(a.split, b.split) AS split_x,
       |    greatest(a.split, b.split) AS split_y, count(*) AS n_pairs
       |  FROM p JOIN nsp a ON p.doc_a = a.doc_id JOIN nsp b ON p.doc_b = b.doc_id
       |  GROUP BY 1, 2),
       |cc AS (SELECT least(a.split, b.split) AS split_x,
       |    greatest(a.split, b.split) AS split_y, count(*) AS n_pairs
       |  FROM p JOIN csp a ON p.doc_a = a.doc_id JOIN csp b ON p.doc_b = b.doc_id
       |  GROUP BY 1, 2)
       |SELECT 'doc_hash' AS policy, split_x, split_y, n_pairs FROM nc
       |UNION ALL
       |SELECT 'cluster_hash' AS policy, split_x, split_y, n_pairs FROM cc
       |ORDER BY policy, split_x, split_y""".stripMargin
  }

  /** Transitive closure over the LSH pairs, min reachable = cluster —
    * shared by the cluster and keep-best oracles. */
  private lazy val clustersSql: String = {
    val pairsSql = Query.oracleOf(Dedup.queries, "x_dedup_minhash_lsh")
      .replaceAll("ORDER BY doc_a, doc_b$", "")
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |      UNION SELECT doc_b, doc_a FROM pairs
       |      UNION SELECT DISTINCT doc_a, doc_a FROM pairs
       |      UNION SELECT DISTINCT doc_b, doc_b FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
       |SELECT src AS doc_id, min(dst) AS cluster
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
  }
}
