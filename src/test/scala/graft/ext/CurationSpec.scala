package graft.ext

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** One tight group plus a huge outlier (100) and a moderate one (35):
    * the huge value inflates σ enough to hide the moderate one from the
    * z-score; MAD's 50% breakdown point keeps both visible. */
  private lazy val dir: String = {
    val d = tempDir("graft-mad").toString
    val base = (1 to 19).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a", i.toDouble, "{}"))
    (base :+
      (22L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L, "a", 35.0, "{}") :+
      (23L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 1L, "a", 100.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/events.parquet")
    d
  }

  test("neyman allocation: spread, not size, wins the sampling budget") {
    val d = tempDir("graft-neyman").toString
    // sA: 6 identical docs (zero variance) — proportionally dominant but
    // informationally saturated; sB: 2 wildly different docs
    val docs = (0 until 6).map(i =>
      (i.toLong, "aaaaaaaaaa", "en", "sA", 10L)) ++ Seq(
      (6L, "bbbbb", "en", "sB", 5L),
      (7L, "b" * 50, "en", "sB", 50L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val r = Curation.neymanAllocation(spark, d).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("sA").getAs[Long]("alloc_proportional") === 750L, "6 of 8 docs")
    assert(r("sA").getAs[Long]("alloc_neyman") === 0L,
      "zero variance needs zero samples under Neyman")
    assert(r("sA").getAs[Double]("sd_len") === 0.0)
    assert(r("sB").getAs[Long]("alloc_neyman") === 1000L,
      "the erratic source takes the whole budget")
    assert(r("sB").getAs[Long]("alloc_proportional") === 250L)
  }

  test("MAD outliers flag what the sigma-inflated z-score misses") {
    val mad = Curation.madOutliers(spark, dir).collect()
      .map(_.getAs[Long]("event_id")).toSet
    val z = Curation.outliers(spark, dir).collect()
      .map(_.getAs[Long]("event_id")).toSet
    // med=11, mad=5: score(35)=(35-11)/(1.4826*5)=3.24, score(100)=(100-11)/7.413=12 → both flagged
    assert(mad === Set(22L, 23L), s"MAD must flag both outliers: $mad")
    // the 100 inflates sigma (~20), so z(35) < 2.5 → z-score misses it
    assert(z.contains(23L) && !z.contains(22L),
      s"z-score should be masked on the moderate outlier: $z")
  }

  test("pointer jumping: a 33-node chain resolves in O(log d) rounds, labels exact") {
    // worst case for plain min-label propagation: a path graph whose ids
    // increase along the path — the min label moves ONE hop per round, so
    // 32 edges would need 32 propagation rounds; the jump step must
    // collapse that to ~log2(32) + fixpoint-detection overhead
    val pairs = (1L to 32L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val run = Curation.dupClusterLabels(pairs)
    val rows = run.labels.collect()
    assert(rows.length === 33 && rows.forall(_.getLong(1) === 1L),
      "every chain node must resolve to cluster 1")
    assert(run.rounds <= 10,
      s"expected O(log diameter) rounds on a 32-edge chain, got ${run.rounds}")
    assert(run.jumpRounds >= 1,
      "chain-shaped propagation must engage the adaptive jump")
  }

  test("adaptive jumping: a clique converges hook-only — zero jump joins") {
    // the common LSH shape: every node adjacent to the minimum, so one
    // hook round labels everything and the second confirms the fixpoint;
    // the jump join would be pure overhead and must never be planned
    val nodes = 1L to 8L
    val pairs = (for (a <- nodes; b <- nodes if a < b) yield (a, b))
      .toDF("doc_a", "doc_b")
    val run = Curation.dupClusterLabels(pairs)
    val rows = run.labels.collect()
    assert(rows.length === 8 && rows.forall(_.getLong(1) === 1L))
    assert(run.rounds === 2, s"clique must converge in 2 rounds, got ${run.rounds}")
    assert(run.jumpRounds === 0,
      s"near-clique graphs must not pay the jump join, got ${run.jumpRounds}")
  }

  test("adaptive jumping: chain + clique mixture resolves both components exactly") {
    // a 21-node chain (forces the jump to engage) living alongside a
    // 5-clique (would converge hook-only): one loop must serve both —
    // chain labels collapse in O(log d) total rounds, clique labels exact
    val chain = (101L to 120L).map(i => (i, i + 1))
    val clique = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val run = Curation.dupClusterLabels((chain ++ clique).toDF("doc_a", "doc_b"))
    val labels = run.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((101L to 121L).forall(labels(_) === 101L), "chain must resolve to 101")
    assert((1L to 5L).forall(labels(_) === 1L), "clique must resolve to 1")
    assert(run.jumpRounds >= 1, "the chain component must trigger jumping")
    assert(run.rounds <= 10, s"mixture took ${run.rounds} rounds")
  }

  test("dupClusters in reliable-checkpoint mode: bit-identical labels, files written") {
    val sf = "/root/testdata/sf0.001"
    val local = Curation.dupClusters(spark, sf).collect()
    assert(local.nonEmpty, "fixture must produce clusters")
    val ckpt = tempDir("graft-ckpt")
    spark.conf.set("spark.graft.checkpointDir", ckpt.toString)
    try {
      val reliable = Curation.dupClusters(spark, sf).collect()
      assert(reliable === local,
        "reliable-checkpoint mode must not change a single label")
      // the switch must actually route through reliable checkpointing
      // (Spark writes rdd-* block directories under the configured dir)
      // AND earlier rounds' checkpoints must be reclaimed as the loop
      // advances — a multi-round run may leave only the FINAL round's
      // rdd-* directory behind, not O(rounds) copies of the state
      val rddDirs = Files.walk(ckpt).iterator().asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
      assert(rddDirs.size === 1,
        s"expected exactly the final round's rdd-* checkpoint under $ckpt, got $rddDirs")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("checkpoint repoint compares qualified URIs: respelled same dir is a no-op") {
    // regression (ADVICE r8): the repoint check compared only the URI path
    // component, so the same path on a DIFFERENT filesystem was treated as
    // already-pointed, and a relative spelling of the current dir re-pointed
    // (new uuid subdir) on every call. Qualified-URI comparison fixes both.
    import spark.implicits._
    val sc = spark.sparkContext
    val ckpt = tempDir("graft-ckpt-uri")
    spark.conf.set("spark.graft.checkpointDir", ckpt.toString)
    try {
      graft.exec.Cut.loop(Seq(1, 2).toDF("v"), eager = true)
      val first = sc.getCheckpointDir
      assert(first.isDefined)
      // same directory, different spelling: explicit scheme + non-normalized
      spark.conf.set("spark.graft.checkpointDir", "file:" + ckpt.toString + "/.")
      graft.exec.Cut.loop(Seq(3).toDF("v"), eager = true)
      assert(sc.getCheckpointDir === first,
        "a respelling of the same qualified dir must not re-point")
      // a genuinely different directory must re-point
      val other = tempDir("graft-ckpt-uri2")
      spark.conf.set("spark.graft.checkpointDir", other.toString)
      graft.exec.Cut.loop(Seq(4).toDF("v"), eager = true)
      assert(sc.getCheckpointDir !== first, "a new dir must re-point")
      assert(sc.getCheckpointDir.exists(_.contains(other.getFileName.toString)))
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("semantic decontamination: flags match an independent HOF-cosine rescore") {
    val corpus = "/root/testdata/sf0.001"
    val flagged = Curation.semDecontaminate(spark, corpus).collect()
      .map(x => (x.getAs[Long]("vec_id"), x.getAs[Long]("eval_id")) -> x.getAs[Double]("cos_sim"))
      .toMap
    assert(flagged.nonEmpty, "corpus must contain eval-similar vectors at the 0.4 cut")
    assert(flagged.keys.forall { case (v, e) => v >= 20 && e < 20 })
    assert(flagged.values.forall(_ >= 0.4))
    // independent rescore through the HOF cosine path
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$corpus/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as emb")
    val ev = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("eval_id"), col("emb").as("eemb"))
    val rescored = e.where(col("vec_id") >= 20).crossJoin(ev)
      .withColumn("c", round(Similarity.cosineHof("emb", "eemb"), 6))
      .where(col("c") >= 0.4)
      .select("vec_id", "eval_id", "c").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(flagged === rescored, "native and HOF scoring must flag identical pairs")
  }

  test("incremental clusters: star-contracted delta loop == full recompute, bit-identical") {
    val corpus = "/root/testdata/sf0.001"
    val full = Curation.dupClusters(spark, corpus).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("cluster")).toMap
    val incr = Curation.incrementalClusters(spark, corpus).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("cluster")).toMap
    assert(incr === full,
      "ingest-delta label loop must reproduce the one-pass components exactly")
    // fixture sanity: the split corpus must actually exercise cross-shard
    // pairs, or the star-contraction path went untested
    assert(full.exists { case (d, c) => d % 2 != c % 2 },
      "corpus must contain components spanning both ingest shards")
  }

  test("curation pipeline: census equals the composition of its stage outputs") {
    val corpus = "/root/testdata/sf0.001"
    val kept = TextAnalysis.gopherRules(spark, corpus).collect()
      .filter(_.getAs[Int]("keep") == 1)
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("n_words")).toMap
    val learned = TextAnalysis.qualityClassifier(spark, corpus).collect()
      .filter(_.getAs[Int]("keep") == 1).map(_.getAs[Long]("doc_id")).toSet
    val canon = Dedup.exact(spark, corpus).collect().map(_.getAs[Long]("keep_id")).toSet
    val split = Curation.clusterSplitAssign(spark, corpus).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("split")).toMap
    val lang = graft.Tables.documents(spark, corpus).select("doc_id", "lang").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val expect = kept.keySet.intersect(learned).intersect(canon)
      .groupBy(d => (split(d), lang(d)))
      .map { case (k, ds) => k -> ((ds.size.toLong, ds.toSeq.map(kept).sum)) }
    val got = Curation.curationPipeline(spark, corpus).collect()
      .map(x => (x.getAs[String]("split"), x.getAs[String]("lang")) ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("sum_words")))).toMap
    assert(got === expect, "pipeline census must equal the stage-by-stage recomputation")
    assert(got.keySet.map(_._1).subsetOf(Set("train", "val", "test")) && got.nonEmpty)
  }

  test("cluster split: near-dup families land whole in one split; singletons match doc split") {
    val corpus = "/root/testdata/sf0.001"
    val rows = Curation.clusterSplitAssign(spark, corpus).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("anchor"), x.getAs[Long]("bucket"), x.getAs[String]("split")))).toMap
    assert(rows.size === 500, "every doc gets exactly one assignment")
    val clusters = Curation.dupClusters(spark, corpus).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("cluster")).toMap
    // every clustered doc anchors on its component representative, so the
    // whole family shares one split — the anti-leakage property
    clusters.foreach { case (doc, cluster) =>
      assert(rows(doc)._1 === cluster, s"doc $doc must anchor on $cluster")
      assert(rows(doc)._3 === rows(cluster)._3, s"family of $cluster split apart")
    }
    assert(clusters.values.toSet.size < clusters.size,
      "fixture sanity: the corpus holds multi-doc families")
    // singletons keep the plain per-doc assignment (policy compatibility)
    val plain = Curation.splitAssign(spark, corpus).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("bucket"), x.getAs[String]("split")))).toMap
    (rows.keySet -- clusters.keySet).foreach { doc =>
      assert(rows(doc)._1 === doc)
      assert((rows(doc)._2, rows(doc)._3) === plain(doc))
    }
  }

  test("weighted sample: 3 per source, deterministic, and size-biased on the real corpus") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val a = Curation.weightedSample(spark, dir).collect()
    val b = Curation.weightedSample(spark, dir).collect()
    assert(a.toSeq === b.toSeq)
    val bySource = a.groupBy(_.getAs[String]("source"))
    val nSources = graft.Tables.documents(spark, dir).select("source").distinct().count()
    assert(bySource.size.toLong === nSources)
    bySource.values.foreach(g => assert(g.map(_.getAs[Int]("rn")).sorted.toSeq === Seq(1, 2, 3)))
    // A-ES with weight = n_chars is size-biased: the sampled docs' mean
    // length must exceed the corpus mean (deterministic corpus — pinned)
    val sampledMean = a.map(_.getAs[Long]("n_chars").toDouble).sum / a.length
    val corpusMean = graft.Tables.documents(spark, dir)
      .agg(avg(col("n_chars"))).collect().head.getDouble(0)
    assert(sampledMean > corpusMean,
      s"size bias violated: sampled $sampledMean <= corpus $corpusMean")
  }

  test("snapshot diff: fixture classifies added/removed/changed/unchanged per source") {
    val old = Seq((1L, "alpha", "s1"), (2L, "beta", "s1"), (3L, "gamma", "s2"))
      .toDF("doc_id", "text", "source")
    val newer = Seq((1L, "alpha", "s1"), (2L, "beta v2", "s1"), (4L, "delta", "s2"))
      .toDF("doc_id", "text", "source")
    val r = Curation.diffOf(old, newer).collect()
      .map(x => x.getAs[String]("source") ->
        ((x.getAs[Long]("n_added"), x.getAs[Long]("n_removed"),
          x.getAs[Long]("n_changed"), x.getAs[Long]("n_unchanged")))).toMap
    assert(r("s1") === ((0L, 0L, 1L, 1L)))
    assert(r("s2") === ((1L, 1L, 0L, 0L)))
  }

  test("snapshot diff: census totals reconstruct the deterministic mutation rates") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Curation.snapshotDiff(spark, dir).collect()
    val docs = graft.Tables.documents(spark, dir)
    def n(cond: org.apache.spark.sql.Column) = docs.where(cond).count()
    assert(out.map(_.getAs[Long]("n_removed")).sum === n(pmod(col("doc_id"), lit(11)) === 0))
    assert(out.map(_.getAs[Long]("n_changed")).sum ===
      n(pmod(col("doc_id"), lit(7)) === 0 && pmod(col("doc_id"), lit(11)) =!= 0))
    assert(out.map(_.getAs[Long]("n_added")).sum === n(pmod(col("doc_id"), lit(13)) === 0))
    val total = docs.count()
    assert(out.map(r => r.getAs[Long]("n_removed") + r.getAs[Long]("n_changed") +
      r.getAs[Long]("n_unchanged")).sum === total)
  }

  test("split leakage: cluster-hash policy is provably diagonal, censuses conserve pairs") {
    val dir = "/root/testdata/sf0.001"
    val rows = Curation.splitLeakage(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val nPairs = graft.ext.Dedup.lshCandidates(spark, dir).count()
    // each policy's census partitions the SAME pair set
    Seq("doc_hash", "cluster_hash").foreach { p =>
      assert(rows.filter(_._1 == p).map(_._4).sum === nPairs, s"$p census must conserve pairs")
    }
    // the invariant the operator exists to check: cluster-granular
    // hashing CANNOT place a near-dup pair across splits
    val offDiag = rows.filter(r => r._1 == "cluster_hash" && r._2 != r._3)
    assert(offDiag.isEmpty, s"cluster_hash leaked: ${offDiag.mkString(", ")}")
  }

  test("span decontamination: a 32-word verbatim quote hits every width tier exactly") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val d = tempDir("graft-spandecon").toString
    // benchmark doc (doc_id 0 ≡ 0 mod 50): 40 unique words w00..w39
    val benchWords = (0 until 40).map(i => f"w$i%02d")
    // contaminated doc: words 5..36 of the benchmark (a 32-word verbatim
    // quote) followed by unrelated padding — windows fully inside the
    // quote match at every alignment, boundary-straddling ones must not
    val quote = benchWords.slice(4, 36) // 32 words
    val contaminated = quote ++ Seq("pad1", "pad2", "pad3", "pad4", "pad5",
      "pad6", "pad7", "pad8")
    // clean doc: enough words for all widths, zero overlap
    val clean = (0 until 40).map(i => s"c$i")
    Seq(
      (0L, benchWords.mkString(" "), "en", "bench", 100L),
      (1L, contaminated.mkString(" "), "en", "web", 100L),
      (2L, clean.mkString(" "), "en", "web", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val got = Curation.spanDecontaminate(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // a quote of Q=32 words inside a larger doc yields Q-W+1 matching
    // windows at width W: 25 @ 8, 17 @ 16, 1 @ 32
    assert(got === Map((1L, 8) -> 25L, (1L, 16) -> 17L, (1L, 32) -> 1L),
      s"got $got")
  }

  test("unimax fold: caps bind on low-resource langs, budget conserved, quotas level") {
    val per = Seq("lo" -> 100L, "mid" -> 10000L, "hiA" -> 100000L, "hiB" -> 120000L)
    val budget = 90000L
    val out = Curation.unimaxFold(per, budget, cap = 2L)
    // visit order is ascending availability
    assert(out.map(_._1) === Seq("lo", "mid", "hiA", "hiB"))
    val alloc = out.map(t => t._1 -> t._3).toMap
    // the low-resource language takes its full 2-epoch cap (quota is ample)
    assert(alloc("lo") === 200L)
    assert(alloc("mid") === 20000L)
    // every allocation respects the cap and the total respects the budget
    out.foreach { case (_, t, a) => assert(a <= 2 * t) }
    assert(out.map(_._3).sum <= budget)
    // uncapped quotas are non-decreasing in visit order (slack re-spreads
    // forward) and near-uniform at the tail
    val uncapped = out.filter { case (_, t, a) => a < 2 * t }.map(_._3)
    assert(uncapped === uncapped.sorted)
    assert(uncapped.max - uncapped.min <= uncapped.length.toLong,
      "floor drift between uncapped quotas stays bounded by the step count")
    // degenerate: budget 0 allocates nothing; huge budget caps everyone
    assert(Curation.unimaxFold(per, 0L, 2L).forall(_._3 === 0L))
    assert(Curation.unimaxFold(per, 10000000L, 2L)
      .forall { case (_, t, a) => a === 2 * t })
  }

  test("unimax sample: second epoch fills a capped low-resource language") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // skewed synthetic corpus: 'lo' is tiny, so its cap (2 epochs) binds
    // and the sample must repeat its documents; 'hi' fills a partial
    // hash-ordered prefix
    val dir = tempDir("graft-unimax").toString
    val docs =
      (0L until 4L).map(i => (i, "lo", 50L, s"lo doc $i")) ++
      (100L until 200L).map(i => (i, "hi", 100L, s"hi doc $i body"))
    docs.toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Curation.unimaxSample(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    // fold twin: budget = (200 + 10000)/2 = 5100; lo allocates 2*200=400
    val lo = rows("lo")
    assert(lo.getAs[Long]("alloc_chars") === 400L)
    assert(lo.getAs[Long]("n_copies") === 8L, "both epochs of all 4 docs")
    assert(lo.getAs[Long]("n_second_epoch") === 4L)
    assert(lo.getAs[Long]("chars_kept") === 400L)
    assert(lo.getAs[Double]("fill_rate") === 1.0)
    // hi takes the remaining 4700 → 47 whole 100-char docs, epoch 0 only
    val hi = rows("hi")
    assert(hi.getAs[Long]("alloc_chars") === 4700L)
    assert(hi.getAs[Long]("n_copies") === 47L)
    assert(hi.getAs[Long]("n_second_epoch") === 0L)
    assert(hi.getAs[Long]("chars_kept") === 4700L)
    // determinism: a second run selects the identical sample
    val again = Curation.unimaxSample(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("chars_kept")).toMap
    assert(again("lo") === 400L && again("hi") === 4700L)
  }

  test("unimax fold properties hold on random language tables") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tableGen: Gen[(List[(String, Long)], Long, Long)] = for {
      n <- Gen.choose(1, 40)
      toks <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
      budget <- Gen.choose(0L, 3L * toks.sum)
      cap <- Gen.choose(1L, 4L)
    } yield (toks.zipWithIndex.map { case (t, i) => (f"l$i%02d", t) }, budget, cap)
    for (seed <- 1 to 40) {
      val (per, budget, cap) =
        tableGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val out = Curation.unimaxFold(per, budget, cap)
      // per-language cap and global budget always hold
      out.foreach { case (l, t, a) =>
        assert(a >= 0L && a <= cap * t, s"seed $seed lang $l")
      }
      val spent = out.map(_._3).sum
      assert(spent <= budget, s"seed $seed overspent")
      // no money left on the table: either the budget is exhausted
      // (the last visited language is uncapped and takes ALL remaining,
      // since its quota divisor is 1) or every language hit its cap
      assert(spent === budget || out.forall { case (_, t, a) => a === cap * t },
        s"seed $seed left budget unspent without exhausting caps")
      // uncapped allocations are non-decreasing in visit order (slack
      // only ever re-spreads FORWARD)
      val uncapped = out.filter { case (_, t, a) => a < cap * t }.map(_._3)
      assert(uncapped === uncapped.sorted, s"seed $seed quota regression")
    }
  }
}
