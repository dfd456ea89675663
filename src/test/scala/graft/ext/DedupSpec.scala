package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.SparkSpec

/** Dedup operators on literal documents written to a temp parquet dir so
  * the (SparkSession, dir) query contract is exercised end-to-end. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Write a literal documents/embeddings fixture as parquet, return dir. */
  private lazy val dir: String = {
    val d = tempDir("graft-dedup").toString
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "en", "src0", 46L),
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "src1", 46L), // exact dup of 0
      (2L, "alpha beta gamma delta epsilon zeta eta iota", "en", "src0", 45L),  // near dup of 0
      (3L, "one two three four five six seven eight nine", "en", "src2", 44L),
      (4L, "uno dos tres cuatro cinco seis siete ocho nueve", "es", "src0", 47L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f), 0),   // close to 0
      (3L, Array(0.0f, 1.0f, 0.0f), 0),   // orthogonal
      (4L, Array(0.0f, 0.0f, 1.0f), 1))   // other label-block
      .toDF("vec_id", "embedding", "label")
    embs.write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    d
  }

  test("exact dedup groups identical texts, keeps lowest doc_id") {
    val r = Dedup.exact(spark, dir).collect()
    assert(r.length === 4) // 5 docs, one exact-dup pair
    val dupGroup = r.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dupGroup.getAs[Long]("keep_id") === 0L)
  }

  test("NFC exact dedup collapses normalization-variant duplicates; raw md5 does not") {
    // "café" three ways: precomposed NFC, decomposed e+U+0301, and NFC
    // again — plus an unrelated doc. Raw-byte keying sees the decomposed
    // form as a DIFFERENT document; the NFC key collapses all three.
    val docs = Seq(
      (10L, "caf\u00e9 au lait"),   // NFC (precomposed é)
      (11L, "cafe\u0301 au lait"),  // NFD (e + combining acute)
      (12L, "caf\u00e9 au lait"),   // byte-identical to doc 10
      (13L, "unrelated document"))
      .toDF("doc_id", "text")
    val nfc = Dedup.exactNfcOf(docs).collect()
    assert(nfc.length === 2, "NFC keying must see exactly two distinct contents")
    val grp = nfc.find(_.getAs[Long]("n_copies") === 3L).get
    assert(grp.getAs[Long]("keep_id") === 10L, "lowest doc_id is the canonical keeper")
    // the raw-byte key double-counts: 3 groups, the NFD variant separate
    val raw = docs.groupBy(org.apache.spark.sql.functions.md5($"text"))
      .count().count()
    assert(raw === 3L, "raw md5 must split the NFD variant (the defect NFC fixes)")
  }

  test("minhash LSH finds the exact-dup pair (identical signatures)") {
    val pairs = Dedup.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))      // identical docs always collide
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) && Set(a, b).contains(4L) })
  }

  test("minhash estimation report: exact dup estimates 1.0 exactly, errors reconstruct") {
    val rows = Dedup.minhashEstQuality(spark, dir).collect()
    assert(rows.nonEmpty, "the exact-dup pair is always a candidate")
    val byPair = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r).toMap
    val dup = byPair((0L, 1L))
    // identical text → identical signature (all slots match) AND exact
    // Jaccard 1.0, so the estimator is exact and the error is zero
    assert(dup.getAs[Long]("slot_matches") === 8L)
    assert(dup.getAs[Double]("est_jaccard") === 1.0)
    assert(dup.getAs[Double]("exact_jaccard") === 1.0)
    assert(dup.getAs[Double]("est_err") === 0.0)
    rows.foreach { r =>
      val slots = r.getAs[Long]("slot_matches")
      assert(slots >= 0L && slots <= 8L)
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("exact_jaccard")
      assert(est === math.floor(slots / 8.0 * 1e4 + 0.5) / 1e4, s"estimator quantized: $r")
      assert(exact >= 0.0 && exact <= 1.0)
      // the published error is the difference of the published columns
      assert(r.getAs[Double]("est_err") === math.floor((est - exact) * 1e4 + 0.5) / 1e4, s"$r")
    }
    // the near-dup (0,2): 5 of each side's 6 shingles shared → 5/7
    byPair.get((0L, 2L)).foreach { nd =>
      assert(nd.getAs[Long]("n_inter") === 5L
        && nd.getAs[Double]("exact_jaccard") === math.floor(5.0 / 7 * 1e4 + 0.5) / 1e4)
    }
  }

  test("minhash signatures merge algebraically: batch-at-a-time == full recompute") {
    val all = graft.Tables.documents(spark, dir)
    val full = Dedup.minhashSignaturesOf(all).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // three ingest batches with OVERLAP (doc 2 re-ingested in both):
    // idempotence must make the re-ingest a no-op
    val b1 = Dedup.minhashSignaturesOf(all.where("doc_id <= 2"))
    val b2 = Dedup.minhashSignaturesOf(all.where("doc_id >= 2"))
    val merged = Dedup.mergeMinhashSignatures(b1, b2).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(merged === full, "merged batch signatures must equal the one-pass table")
  }

  test("multi-part documents fold to one signature: parts' merge == union of shingles") {
    // a document stored as two parts (rows sharing doc_id): the signature
    // table built over the parts must equal slot-wise mins over the UNION
    // of both parts' shingle sets — computed here via two single-part docs
    // merged under one id
    val partA = "alpha beta gamma delta epsilon"
    val partB = "one two three four five six"
    val parts = Seq((7L, partA), (7L, partB)).toDF("doc_id", "text")
    val together = Dedup.minhashSignaturesOf(parts).collect()
    assert(together.length === 1)
    val merged = Dedup.mergeMinhashSignatures(
      Dedup.minhashSignaturesOf(Seq((7L, partA)).toDF("doc_id", "text")),
      Dedup.minhashSignaturesOf(Seq((7L, partB)).toDF("doc_id", "text"))).collect()
    assert(merged.map(_.toSeq).toSeq === together.map(_.toSeq).toSeq,
      "per-part signatures must merge to the multi-row-document signature")
  }

  test("minhash: udaf Aggregator path is bit-equal to the codegen k-min path") {
    import org.apache.spark.sql.{functions => F}
    val K = 8
    val P = 4294967311L
    val sh = graft.Tables.documents(spark, dir)
      .select(F.col("doc_id"), F.split(F.col("text"), " ").as("w"))
      .where(F.size(F.col("w")) >= 3)
      .select(F.col("doc_id"),
        F.explode(F.expr("transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))")).as("s"))
      .withColumn("h1", F.expr("cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"))
      .withColumn("h2", F.expr("cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint)"))
    val mhSig = F.udaf(new graft.functions.MinHashSignature(K, P),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    val viaUdaf = sh.groupBy(F.col("doc_id")).agg(mhSig(F.col("h1"), F.col("h2")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val mins = (0 until K).map(i =>
      F.min(F.pmod(F.col("h1") + F.lit(i.toLong) * F.col("h2"), F.lit(P))).as(s"m$i"))
    val viaExpr = sh.groupBy(F.col("doc_id")).agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    assert(viaUdaf === viaExpr)
  }

  test("hot LSH buckets emit O(B) star edges, not |B|^2 pairs") {
    // 10k identical docs collapse every band into ONE bucket — uncapped,
    // that is ~50M candidate pairs from one degenerate bucket (boilerplate
    // is the norm in web crawls). The cap must route the bucket to star
    // edges: one (representative → member) edge per non-representative.
    val n = 10000L
    val docs = spark.range(n).selectExpr("id as doc_id",
      "'alpha beta gamma delta epsilon zeta eta theta' as text")
    val pairs = Dedup.lshCandidatesOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === (n - 1).toInt,
      "star routing must emit exactly one edge per non-representative member")
    assert(pairs.forall(_._1 === 0L),
      "every edge must anchor at the bucket-min representative")
    assert(pairs.map(_._2).toSet === (1L until n).toSet,
      "connectivity to every member must be preserved for downstream clustering")
    // below the cap the candidate set is unchanged: all pairs
    val small = Dedup.lshCandidatesOf(docs.where("doc_id < 5"))
    assert(small.count() === 10L, "5 identical docs under the cap -> all C(5,2) pairs")
    // explicit cap override: 100 docs, cap 10 -> star edges again
    val capped = Dedup.lshCandidatesOf(docs.where("doc_id < 100"), maxBucket = 10)
    assert(capped.count() === 99L)
  }

  test("incremental minhash/LSH cover negative doc ids (pmod sharding)") {
    // regression (ADVICE r8): the shards were cut with signed %, and
    // -3 % 2 is -1 in Spark — every negative ODD id landed in neither
    // shard, so the incremental paths silently dropped those documents.
    // pmod makes the parity split total over the id domain.
    val d = tempDir("graft-dedup-neg").toString
    Seq(
      (-10L, "alpha beta gamma delta epsilon zeta eta theta"), // pmod10==0: re-ingested in both shards
      (-3L,  "alpha beta gamma delta epsilon zeta eta theta"), // negative odd — the lost shard
      (-2L,  "one two three four five six seven eight nine"),
      (1L,   "one two three four five six seven eight nine"),
      (4L,   "uno dos tres cuatro cinco seis siete ocho nueve"))
      .toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val all = graft.Tables.documents(spark, d)
    val onePassSigs = Dedup.minhashSignaturesOf(all).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val incrSigs = Dedup.incrementalMinhash(spark, d).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(incrSigs.keySet === onePassSigs.keySet,
      "merged shards must cover every doc id, negatives included")
    assert(incrSigs === onePassSigs)
    val onePassPairs = Dedup.lshCandidatesOf(all).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val incrPairs = Dedup.incrementalLshPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incrPairs === onePassPairs)
    assert(incrPairs.contains((-10L, -3L)), "identical negative-id docs must pair")
    assert(incrPairs.contains((-2L, 1L)), "cross-shard negative/positive pair must survive")
    // the incremental CLUSTER loop shards the same way — negative ids must
    // produce the same components as the one-pass recompute
    val fullClusters = Curation.dupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incrClusters = Curation.incrementalClusters(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incrClusters === fullClusters,
      "incremental components must cover negative ids exactly")
    assert(fullClusters.contains(-3L), "negative odd id must appear in some component")
  }

  test("simhash: udaf Aggregator path is bit-equal to the codegen vote-sum path") {
    import org.apache.spark.sql.{functions => F}
    val vote = F.udaf(new graft.functions.SimHashVote(32),
      org.apache.spark.sql.Encoders.scalaLong)
    // the token hash's md5 chain runs as written, on the reference session
    val viaUdaf = reference(_.read.parquet(s"$dir/documents.parquet")
      .select(F.col("doc_id"), F.explode(F.array_distinct(F.split(F.col("text"), " "))).as("tok"))
      .withColumn("h", F.expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"))
      .groupBy(F.col("doc_id")).agg(vote(F.col("h")).as("simhash")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExpr = Dedup.simhashSignatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUdaf === viaExpr)
  }

  test("simhash: identical docs get identical signatures (hamming 0)") {
    val sigs = Dedup.simhashSignatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) !== sigs(3L)) // disjoint vocab → different signature
  }

  test("simhash pairs: banded candidate generation matches the naive all-pairs scan") {
    // pigeonhole correctness of the banded rewrite: 9 bands over 32 bits
    // guarantee a shared identical band for Hamming ≤ 8, so the bucketed
    // plan must return the EXACT same pairs as the quadratic reference
    // formulation it replaced
    // self-contained on the spec's temp fixture (ADVICE r4): docs 0/1 are
    // identical (Hamming 0), so doc 0 — the only %10==0 probe — always
    // yields at least the (0,1) pair, on any machine, no external data
    import org.apache.spark.sql.{functions => F}
    val sims = Dedup.simhashSignatures(spark, dir)
    val probes = sims.where(F.col("doc_id") % 10 === 0)
      .select(F.col("doc_id").as("doc_a"), F.col("simhash").as("sim_a"))
    val naive = probes.join(sims, F.col("doc_a") < F.col("doc_id"))
      .withColumn("hamming", F.expr("bit_count(sim_a ^ simhash)"))
      .where(F.col("hamming") <= 8)
      .select(F.col("doc_a"), F.col("doc_id").as("doc_b"), F.col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(naive.contains((0L, 1L, 0)), "identical docs must pair at Hamming 0")
    assert(banded === naive)
  }

  test("LSH s-curve: monotone, threshold at (1/b)^(1/r), sharpens with more rows") {
    val sStar = math.pow(1.0 / Dedup.BANDS, Dedup.BANDS.toDouble / Dedup.K)
    assert(math.abs(Dedup.sCurve(sStar) - (1 - math.pow(1 - 1.0 / Dedup.BANDS, Dedup.BANDS))) < 1e-12)
    // boundary + monotonicity over a fine grid
    assert(Dedup.sCurve(0.0) === 0.0 && Dedup.sCurve(1.0) === 1.0)
    val grid = (0 to 1000).map(_ / 1000.0)
    grid.sliding(2).foreach { case Seq(a, b) =>
      assert(Dedup.sCurve(a) <= Dedup.sCurve(b) + 1e-15, s"not monotone at $a")
    }
    // the production curve separates this corpus's populations: near-dups
    // (Jaccard ≳ 0.85) are likely candidates, unrelated docs (≲ 0.2) are not
    assert(Dedup.sCurve(0.9) > 0.75, s"near-dup recall too low: ${Dedup.sCurve(0.9)}")
    assert(Dedup.sCurve(0.2) < 0.01, s"false-candidate mass too high: ${Dedup.sCurve(0.2)}")
    // the documented 100 TB retuning rule: same threshold, larger K →
    // sharper curve (better precision below s*, no recall loss above)
    val (b2, r2) = (9, 13) // K=117, s* ≈ 0.84 — the web-scale setting
    val sStar2 = math.pow(1.0 / b2, 1.0 / r2)
    assert(math.abs(sStar2 - sStar) < 0.03, "retuned curve keeps the threshold")
    assert(Dedup.sCurve(0.5, b2, r2) < Dedup.sCurve(0.5),
      "larger K must suppress sub-threshold candidates")
    assert(Dedup.sCurve(0.95, b2, r2) > Dedup.sCurve(0.95) - 0.02,
      "larger K must not lose above-threshold recall")
  }

  test("ngram jaccard: exact dups score 1.0, disjoint docs produce no pair") {
    val r = Dedup.ngramJaccard(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r((0L, 1L)) === 1.0)
    assert(!r.keySet.exists { case (a, b) => Set(a, b) === Set(3L, 4L) })
  }

  test("semdedup: identical later vector in the same cluster is dropped, earlier kept") {
    val r = Dedup.semDedup(spark, dir).collect()
      .map(x => x.getAs[Long]("vec_id") ->
        ((x.getAs[Long]("n_earlier_dups"), x.getAs[Int]("keep")))).toMap
    assert(r.size === 5, "every vector must appear exactly once")
    assert(r(0L) === ((0L, 1)), "first of the identical pair is kept")
    assert(r(1L) === ((1L, 0)), "identical later vector is dropped with one witness")
    assert(r(3L)._2 === 1 && r(4L)._2 === 1, "isolated vectors survive")
  }

  test("embedding near-dup: identical vectors pair at cos 1.0; cross-label blocked") {
    val r = Dedup.embeddingNearDup(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getAs[Double]("cos_sim")).toMap
    assert(r((0L, 1L)) === 1.0)
    assert(r.contains((0L, 2L)))  // close pair above 0.4
    assert(!r.keySet.exists { case (a, b) => b === 4L }) // label 1 blocked from label 0
    assert(!r.contains((0L, 3L))) // orthogonal → cos 0 < 0.4
  }

  test("edit-distance verify: exact dup at distance 0 / sim 1.0; near dup scored") {
    val r = Dedup.editDistancePairs(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getAs[Long]("edit_dist"), x.getAs[Double]("edit_sim")))).toMap
    assert(r((0L, 1L)) === ((0L, 1.0)))
    // 0–2 differ only in the last word (theta → iota, lev 3); candidate
    // status depends on the banding, so assert conditionally
    r.get((0L, 2L)).foreach { case (d, s) =>
      assert(d === 3L && s > 0.9 && s < 1.0)
    }
    assert(!r.keySet.exists { case (a, b) => Set(a, b) === Set(3L, 4L) },
      "unrelated docs never reach the edit verify")
  }

  test("edit-distance verify: bounded DP == unbounded distance + relative filter") {
    import org.apache.spark.sql.functions._
    // pin the 3-arg threshold semantics the operator relies on: distance
    // above the bound returns -1, at or below returns the exact distance
    val probe = spark.sql(
      "SELECT levenshtein('kitten', 'sitting', 2) AS a, levenshtein('kitten', 'sitting', 3) AS b").head()
    assert(probe.getInt(0) === -1 && probe.getInt(1) === 3)

    val corpus = "/root/testdata/sf0.001"
    def collectPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("edit_dist"), r.getAs[Double]("edit_sim")))).toMap
    val bounded = collectPairs(Dedup.editDistancePairs(spark, corpus))
    // unbounded twin: full O(len²) DP on every candidate, same filter
    val prefix = graft.Tables.documents(spark, corpus)
      .select(col("doc_id"), substring(col("text"), 1, Dedup.EditCap).as("p"))
    val unbounded = collectPairs(Dedup.lshCandidates(spark, corpus)
      .join(prefix.select(col("doc_id").as("doc_a"), col("p").as("ta")), "doc_a")
      .join(prefix.select(col("doc_id").as("doc_b"), col("p").as("tb")), "doc_b")
      .withColumn("max_len", greatest(length(col("ta")), length(col("tb"))))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .where(col("edit_dist") <= floor(col("max_len") * Dedup.EditMaxFrac))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        graft.ops.StableStats.ratio(col("max_len") - col("edit_dist"), col("max_len"))
          .as("edit_sim")))
    assert(bounded === unbounded,
      "threshold-bounded Levenshtein must drop nothing the relative filter keeps")
    assert(bounded.nonEmpty, "corpus near-dups must survive the edit verify")
  }

  test("lsh recall audit: totals reconcile with truth and candidate sets") {
    val realDir = "/root/testdata/sf0.001"
    val out = Dedup.lshRecall(spark, realDir).collect()
    assert(out.nonEmpty)
    val nTruth = Dedup.jaccardPrefixJoin(spark, realDir).count()
    val nCands = Dedup.lshCandidates(spark, realDir).count()
    assert(out.map(_.getAs[Long]("n_true")).sum === nTruth,
      "decile rows must partition the exact truth set")
    out.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_true"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("n_cands") === nCands,
        "the audit must report the operator's actual candidate volume")
    }
    // the synthetic corpus's near-dup families sit far above the S-curve
    // threshold — banding must find every one of them
    val top = out.filter(_.getAs[Double]("band_lo") >= 0.89)
    assert(top.nonEmpty && top.forall(r => r.getAs[Double]("recall") === 1.0),
      "high-similarity truth pairs must all be recalled")
  }
}
