package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.ops.StableStats.{stableRound, stableRoundSql}

/** Corpus-census statistics for a training-data pipeline over
  * `documents`: a Zipf rank-frequency fit (is this corpus shaped like
  * natural language?), per-source unigram-distribution drift vs the
  * corpus (KL divergence — flags a source whose content distribution
  * went weird before it pollutes the mix), and PMI collocations (which
  * adjacent word pairs co-occur far above chance — boilerplate and
  * template phrases surface here first).
  *
  * Scale shape: every operator reduces the corpus to its VOCABULARY
  * before doing anything quadratic-looking — word counts are one
  * hash-agg over the token stream (map-side partial aggregation does
  * the heavy lifting), and everything after operates on vocab-sized or
  * top-V-sized frames. At 100 TB the token explode is the only wide
  * stage; the census frames it produces are MBs.
  */
object CorpusStats {

  private def words(spark: SparkSession, dir: String) =
    Tables.documents(spark, dir)
      .select(col("source"), split(col("text"), " ").as("w"))

  /** Global unigram counts: (tok, freq) — one explode + hash-agg. */
  private def unigramCounts(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir)
      .select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))

  /** Zipf rank-frequency fit: OLS of ln(freq) on ln(rank) over the
    * top-`topV` vocabulary — slope ≈ −1 is the natural-language
    * signature; a corpus of templated/duplicated text flattens it.
    * Single summary row: (n_types, n_tokens, slope, intercept, r2).
    *
    * The only global ordering is the top-V selection, which plans as
    * TakeOrderedAndProject (no full sort); the rank window then runs on
    * one partition of ≤ topV rows — bounded by construction, not by the
    * corpus. regr_* aggregates over ≤ topV points; rounding to 4dp
    * absorbs partial-agg summation-order drift. */
  def zipfFit(spark: SparkSession, dir: String, topV: Int = 100): DataFrame = {
    val counts = unigramCounts(spark, dir)
    val totals = counts.agg(
      count(lit(1)).as("n_types"), sum(col("freq")).as("n_tokens"))
    val byFreq = Window.orderBy(col("freq").desc, col("tok").asc)
    val ranked = counts
      .orderBy(col("freq").desc, col("tok").asc).limit(topV)
      .withColumn("rank", row_number().over(byFreq))
    val fit = ranked.agg(
      stableRound(regr_slope(log(col("freq")), log(col("rank"))), 4).as("slope"),
      stableRound(regr_intercept(log(col("freq")), log(col("rank"))), 4).as("intercept"),
      stableRound(regr_r2(log(col("freq")), log(col("rank"))), 4).as("r2"))
    totals.crossJoin(fit)
      .select(col("n_types"), col("n_tokens"),
        col("slope"), col("intercept"), col("r2"))
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over the unigram
    * distribution, add-one smoothed over the GLOBAL vocabulary so both
    * distributions share support. A drifting source (spam injection,
    * template rot, language flip) shows as a KL outlier long before any
    * per-document quality rule fires.
    *
    * Plan: one (source, tok) hash-agg is the wide stage; the global
    * word-count frame derived from it is vocab-sized and broadcast into
    * the source × vocab grid (sources are thousands, vocab is bounded —
    * at 100 TB cap the census to top-V words + an OOV residual bucket,
    * same algebra). The per-source KL sum is a second, sources-sized
    * agg. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    val sw = words(spark, dir)
      .select(col("source"), explode(col("w")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_sw"))
    val global = sw.groupBy(col("tok")).agg(sum(col("c_sw")).as("c_w"))
    val grand = global.agg(
      sum(col("c_w")).as("n"), count(lit(1)).as("v"))
    val perSource = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val grid = perSource
      .crossJoin(broadcast(global))
      .join(sw, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("c_sw"))
      .crossJoin(broadcast(grand))
    val p = (col("c_sw") + lit(1)).cast("double") / (col("n_s") + col("v"))
    val q = (col("c_w") + lit(1)).cast("double") / (col("n") + col("v"))
    grid
      .groupBy(col("source"))
      .agg(
        first(col("n_s")).as("n_tokens"),
        stableRound(sum(p * log(p / q)), 6).as("kl_nat"))
      .orderBy(col("source"))
  }

  /** PMI collocations: adjacent word pairs whose co-occurrence beats
    * independence — ln(p(w1,w2) / (p(w1)·p(w2))) over bigram/unigram
    * counts, min support `minCount`, top-`k` by (rounded PMI desc,
    * pair asc). Ordering compares the ROUNDED score so cross-engine ULP
    * drift in ln() can't flip near-ties at the cut (the same discipline
    * as the suite's other float-ranked top-k queries).
    *
    * Bigrams come from a narrow zip of the word array with its own
    * shift — no self-join, no positional shuffle; the pair hash-agg is
    * the one wide stage, and the unigram joins are vocab-sized equi-joins
    * (AQE broadcast-eligible here; at 100 TB they stay shuffle joins and
    * that is the right plan — vocab outgrows the broadcast ceiling). */
  def pmiCollocations(spark: SparkSession, dir: String,
      minCount: Long = 5, k: Int = 20): DataFrame = {
    val pairs = words(spark, dir)
      .where(size(col("w")) >= 2)
      .withColumn("heads", slice(col("w"), lit(1), size(col("w")) - 1))
      .withColumn("tails", slice(col("w"), lit(2), size(col("w")) - 1))
      .select(explode(arrays_zip(col("heads"), col("tails"))).as("b"))
      .select(col("b.heads").as("w1"), col("b.tails").as("w2"))
    val bc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val uc = unigramCounts(spark, dir)
    val totals = uc.agg(
      sum(col("freq")).cast("double").as("n_uni"))
    val tBig = bc.agg(sum(col("n")).cast("double").as("t_big"))
    val scored = bc.where(col("n") >= minCount)
      .join(uc.select(col("tok").as("w1"), col("freq").as("c1")), Seq("w1"))
      .join(uc.select(col("tok").as("w2"), col("freq").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(tBig))
      .withColumn("pmi", stableRound(
        log((col("n") / col("t_big")) /
          ((col("c1") / col("n_uni")) * (col("c2") / col("n_uni")))), 6))
    scored
      .select(col("w1"), col("w2"), col("n"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** KMV (k-minimum-values) distinct-count sketch per source over word
    * 3-gram shingles, AUDITED against the exact count (Bar-Yossef et al.
    * 2002; the bottom-k estimator (k−1)/u_k over hashes mapped to (0,1)).
    * Every hash is md5 and the division is by a power of two, so the
    * estimate is bit-identical cross-engine — which is what lets an
    * APPROXIMATE operator carry a hash-matching oracle: the sketch is
    * deterministic, only its error vs truth varies by data.
    *
    * Output: (source, n_exact, est, rel_err) — the audit ships WITH the
    * operator (house rule: approximation quality is part of the
    * contract, not a hope).
    *
    * Scale shape: the distinct (source, shingle) frame is
    * vocabulary-sized, so the per-source rank window runs on a bounded
    * frame (same Heaps'-law argument as the census ops above). At true
    * corpus scale the k-th order statistic keeps to one bounded k-slot
    * buffer per source via a typed Aggregator — the same single-buffer
    * pattern as [[graft.functions.MinHashSignature]]; the window form
    * here IS the oracle-matching reference implementation. */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("source"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))")).as("s"))
      .distinct()
      // vocab-sized; feeds BOTH the exact count and the kth-min branch —
      // unpersisted, each branch re-pays the corpus scan + distinct agg
      // (plan-verified: two parquet scans, no exchange reuse)
      .persist()
    // 12 hex digits = 48 bits: exact as BIGINT and as an IEEE double, and
    // /2^48 is a power-of-two division — no cross-engine rounding anywhere
    val hashed = sh.withColumn("u",
      expr("cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)") / lit(281474976710656.0))
    val byU = Window.partitionBy(col("source")).orderBy(col("u").asc, col("s").asc)
    val kth = hashed.withColumn("rn", row_number().over(byU))
      .where(col("rn") === k).select(col("source"), col("u").as("rk"))
    val exact = sh.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    val est = coalesce((lit(k) - 1) / col("rk"), col("n_exact").cast("double"))
    exact.join(kth, Seq("source"), "left")
      .select(col("source"), col("n_exact"),
        stableRound(est, 2).as("est"),
        stableRound(abs(est - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
      .orderBy("source")
  }

  /** Count-min frequency sketch over the token stream, AUDITED against
    * exact counts (Cormode & Muthukrishnan 2005): d=3 md5-salted rows of
    * w=64 cells; a token's estimate is the MIN over its d cells, which
    * can only OVER-count (one-sided error ≤ 2N/w with prob 1−(1/2)^d).
    * Like [[kmvDistinct]], the sketch is hash-deterministic, so the
    * estimates themselves oracle-match bit-for-bit and the per-token
    * overcount ships in-row — the approximation audit is the output.
    *
    * Scale shape: cell totals come from ONE hash-agg over the
    * vocabulary-sized exact-count frame (d·|vocab| rows, then d·w cells —
    * the algebra is identical to incrementing cells on the raw stream,
    * since addition commutes through the pre-aggregation). In production
    * the sketch is a bounded d×w buffer maintained by a single-buffer
    * typed Aggregator (the [[graft.functions.MinHashSignature]] pattern)
    * or mergeable per-shard partials; this relational form is the
    * oracle-matching reference implementation of the same cells. */
  def cmsTopTerms(spark: SparkSession, dir: String,
      depth: Int = 3, width: Int = 64, k: Int = 20): DataFrame = {
    val exact = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val bucketed = exact.select(col("tok"), col("freq"),
        explode(expr(s"transform(sequence(0, ${depth - 1}), j -> named_struct(" +
          s"'j', j, 'bucket', pmod(cast(conv(substring(md5(concat(j, '|', tok)), 1, 12), 16, 10) as bigint), $width)))")).as("db"))
      .select(col("tok"), col("freq"), col("db.j").as("j"), col("db.bucket").as("bucket"))
      .persist() // two consumers (cells + probe); HOF result, see CodegenFallback note
    val cells = bucketed.groupBy(col("j"), col("bucket")).agg(sum(col("freq")).as("cell"))
    bucketed.join(cells, Seq("j", "bucket"))
      .groupBy(col("tok"), col("freq")).agg(min(col("cell")).as("est"))
      .select(col("tok"), col("freq"), col("est"), (col("est") - col("freq")).as("overcount"))
      .orderBy(col("freq").desc, col("tok").asc).limit(k)
  }

  /** Corpus novelty curve: for each ingestion bucket of `bucketSize`
    * consecutive doc_ids, the fraction of its distinct word-3-gram
    * shingles seen for the FIRST time in the corpus (first occurrence =
    * the ngram's minimum doc_id). This is the redundancy-growth curve a
    * pipeline reads before deciding how hard to dedup a new crawl slice:
    * novelty collapsing toward 0 means the marginal shard is mostly
    * re-crawl and the dedup stage will carry the round.
    *
    * Plan: one explode to the distinct (doc, shingle) frame (shingles as
    * 60-bit md5 ints, [[Dedup.hashedShingleExpr]] — 8-byte join keys),
    * one vocab-sized min-agg for first occurrence, one equi-join back on
    * the shingle key, then two bounded aggs. The join's per-key fan-out
    * is the shingle's document frequency — corpus-shaped (Zipfian but
    * each row is one (doc, shingle) pair, no pair blow-up), so the shape
    * survives 100 TB: explode + two hash-aggs + one shuffle join. */
  def ngramNovelty(spark: SparkSession, dir: String, bucketSize: Int = 50): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(Dedup.hashedShingleExpr)).as("s"))
      // two consumers (first-occurrence agg + the join probe) — without
      // the barrier each re-pays the corpus scan + md5 explode
      .persist()
    val first = pairs.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = pairs.join(first, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
    perDoc
      // FLOOR division, not `div` (truncation): Spark's `div` rounds
      // toward zero, so negative doc_ids −(bucketSize−1)..−1 would share
      // bucket 0 with ids 0..bucketSize−1 — and DuckDB's `//` floors, so
      // the two engines would disagree on any negative id. Subtracting
      // pmod first makes the dividend an exact multiple: total over the
      // full id domain (the same discipline as the incremental shards'
      // pmod parity split).
      .groupBy(expr(s"(doc_id - pmod(doc_id, $bucketSize)) div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ngrams")).as("total_ngrams"),
        sum(col("n_novel")).as("novel_ngrams"),
        graft.ops.StableStats.ratio(sum(col("n_novel")), sum(col("n_ngrams"))).as("novelty"))
      .orderBy("bucket")
  }

  /** Incremental novelty: how much of an incoming DELTA shard's shingle
    * mass is new relative to the BASE corpus — the ingest-time complement
    * of [[ngramNovelty]]'s within-corpus curve, and the number that
    * decides whether a new crawl slice is worth a dedup round before
    * admission. Shards split on doc_id parity (`pmod`, total over
    * negative ids — same discipline as [[Dedup.incrementalMinhash]]).
    *
    * Plan: base collapses to its distinct shingle set (vocab-sized);
    * delta's (doc, shingle) pairs anti-join it on the 60-bit key — the
    * anti-join only ever carries vocab-sized state per key, never pair
    * blow-up. At 100 TB the base set is the persisted shingle index the
    * incremental-LSH path already maintains — this query IS one probe of
    * it. */
  def incrNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats.ratio
    def sh(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(Dedup.hashedShingleExpr)).as("s"))
    val docs = Tables.documents(spark, dir)
    val base = sh(docs.where(pmod(col("doc_id"), lit(2)) === 0)).select(col("s")).distinct()
    val delta = sh(docs.where(pmod(col("doc_id"), lit(2)) === 1))
      // two consumers (census + anti-join probe) share one explode pass
      .persist()
    val perSource = delta.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("delta_ngrams"))
    val novel = delta.join(base, Seq("s"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("novel_ngrams"))
    perSource.join(novel, Seq("source"), "left")
      .na.fill(0L, Seq("novel_ngrams"))
      .select(col("source"), col("n_docs"), col("delta_ngrams"), col("novel_ngrams"),
        ratio(col("novel_ngrams"), col("delta_ngrams")).as("novelty"))
      .orderBy("source")
  }

  /** Per-source quality drift: an OLS trend of the per-document quality
    * score over ingestion order (doc_id), grouped by source — the
    * monitoring query that catches a source ROTTING (templating creep,
    * spam injection, encoding damage) while its aggregate quality still
    * looks fine. Slope per 1000 docs keeps the number legible.
    *
    * Plan: the quality signals are a stateless projection
    * ([[TextAnalysis.qualityScoreOf]]); the regression is one
    * sources-sized hash-agg over Spark's built-in `regr_*` aggregates
    * (numerically the same textbook moments DuckDB computes; 4dp
    * rounding absorbs partial-agg summation order, the [[zipfFit]]
    * precedent). One scan, one shuffle. */
  def qualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityScoreOf(Tables.documents(spark, dir))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
    q.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        // exact-integer mean: the scores are 4dp-quantized, so their sum
        // as 1e-4 units is an exact long — no summation-order drift and
        // no avg()-halfway hazard (the StableStats discipline)
        stableRound(sum(round(col("quality_score") * 1e4).cast("long")).cast("double")
          / count(lit(1)) / 1e4, 4).as("mean_quality"),
        stableRound(regr_slope(col("quality_score"), col("doc_id")) * 1000, 4)
          .as("slope_per_1k"),
        stableRound(regr_r2(col("quality_score"), col("doc_id")), 4).as("r2"))
      .orderBy("source")
  }

  /** Distributed BPE merge learning — the first `steps` merge decisions
    * of a byte-pair-encoding tokenizer (Sennrich et al., arXiv:1508.07909
    * §3.2), the vocabulary-induction step every subword tokenizer
    * (BPE/WordPiece-family) trains before a model ever sees the corpus.
    * Output is the merge ledger itself: (step, winning symbol pair,
    * weighted frequency) — the artifact a tokenizer ships.
    *
    * The algorithm is inherently iterative (each merge changes the next
    * round's pair counts), so this is a driver loop of `steps` tiny jobs
    * — but over the WORD VOCABULARY, not the corpus: the corpus is
    * scanned once into (word, count), Heaps'-law sublinear in corpus
    * size, and every subsequent pair count and merge rewrite runs on
    * that vocab frame weighted by word counts. Per step the driver
    * collects exactly one row (the argmax pair — `orderBy.limit(1)`
    * plans as TakeOrderedAndProject, no global sort).
    *
    * The merge rewrite is the doubled-space trick so plain LTR substring
    * replace (codegen'd, no regex) implements BPE's standard greedy
    * left-to-right non-overlapping merge: with separators doubled, a
    * match consumes one space from each side and leaves the neighbor's
    * boundary intact ('a a a' merging "a a" yields "aa a", not "a aa"),
    * then the leftover double spaces collapse back. Both engines'
    * `replace` are LTR non-overlapping, so the oracle reproduces the
    * rewrite bit-identically. Ties in pair frequency break by pair
    * string order — a total order both engines share. */
  def bpeMerges(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("c"))
      .persist()
    var syms = vocab
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (step <- 1 to steps) {
      val top = syms
        .select(col("c"), split(col("s"), " ").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("c"), explode(expr(
          "transform(slice(a, 1, size(a) - 1), (x, i) -> concat(x, ' ', a[i + 1]))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      if (top.nonEmpty) { // a fully-merged (or empty) vocab just stops early
        val pair = top(0).getString(0)
        learned += ((step, pair, top(0).getLong(1)))
        syms = syms.select(
          trim(replace(replace(
            concat(lit(" "), replace(col("s"), lit(" "), lit("  ")), lit(" ")),
            lit(" " + pair.replace(" ", "  ") + " "),
            lit(" " + pair.replace(" ", "") + " ")),
            lit("  "), lit(" "))).as("s"),
          col("c"))
      }
    }
    vocab.unpersist()
    learned.toSeq.toDF("step", "pair", "n").orderBy("step")
  }

  /** Apply side of [[bpeMerges]] — tokenize the corpus with the learned
    * merges and report the per-source segmentation ledger: word count,
    * resulting subword-token count, character count, and the
    * chars-per-token compression ratio (the number a tokenizer's
    * vocabulary is judged by; context budgeting at training time divides
    * by exactly this). Merges are learned GLOBALLY (one vocabulary, as a
    * real tokenizer ships) and applied to each source's weighted word
    * vocab — so a source whose spelling diverges from the global
    * distribution shows a worse ratio, the drift signal.
    *
    * Scale shape: the learn loop is [[bpeMerges]] (vocab-sized); the
    * apply side is `steps` static codegen'd rewrites folded over the
    * per-(source, word) vocab — still Heaps'-sublinear — then one
    * sources-sized agg. The corpus itself is scanned twice (learn +
    * apply vocab), never per-step. */
  def bpeSegment(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    import graft.ops.StableStats
    val merges = bpeMerges(spark, dir, steps).collect()
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .select(col("source"), col("c"),
        trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"))
    val segmented = merges.foldLeft(perSource) { (df, row) =>
      val pair = row.getString(1)
      df.withColumn("s", trim(replace(replace(
        concat(lit(" "), replace(col("s"), lit(" "), lit("  ")), lit(" ")),
        lit(" " + pair.replace(" ", "  ") + " "),
        lit(" " + pair.replace(" ", "") + " ")),
        lit("  "), lit(" "))))
    }
    segmented.groupBy(col("source"))
      .agg(sum(col("c")).as("n_words"),
        sum(size(split(col("s"), " ")).cast("long") * col("c")).as("n_subwords"),
        sum(length(replace(col("s"), lit(" "), lit(""))).cast("long") * col("c"))
          .as("n_chars"))
      .withColumn("chars_per_token",
        StableStats.ratio(col("n_chars"), col("n_subwords")))
      .orderBy("source")
  }

  /** DuckDB twin of [[bpeMerges]]: the iteration unrolls into one CTE
    * chain per step (count pairs → top-1 → rewrite), same doubled-space
    * replace and same (n DESC, pair ASC) tie order. */
  private def bpeLearnCtes(steps: Int): String = {
    val sb = new StringBuilder(
      """WITH vocab AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |s0 AS (SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS s, c FROM vocab)""".stripMargin)
    for (k <- 1 to steps) {
      val prev = s"s${k - 1}"
      sb.append(s""",
        |e$k AS (SELECT a, c, unnest(generate_series(1, len(a) - 1)) AS i
        |  FROM (SELECT string_split(s, ' ') AS a, c FROM $prev) WHERE len(a) >= 2),
        |p$k AS (SELECT a[i] || ' ' || a[i + 1] AS pair, CAST(sum(c) AS BIGINT) AS n
        |  FROM e$k GROUP BY 1),
        |t$k AS (SELECT pair, n FROM p$k ORDER BY n DESC, pair LIMIT 1),
        |s$k AS (SELECT trim(replace(replace(
        |    ' ' || replace($prev.s, ' ', '  ') || ' ',
        |    ' ' || replace(t$k.pair, ' ', '  ') || ' ',
        |    ' ' || replace(t$k.pair, ' ', '') || ' '), '  ', ' ')) AS s, c
        |  FROM $prev, t$k)""".stripMargin)
    }
    sb.toString
  }

  private def bpeOracle(steps: Int): String =
    bpeLearnCtes(steps) +
      (1 to steps).map(k => s"\nSELECT $k AS step, pair, n FROM t$k")
        .mkString(" UNION ALL") +
      "\nORDER BY step"

  /** DuckDB twin of [[bpeSegment]]: learn chain as [[bpeOracle]], then
    * the merges fold over the per-source vocab. A LEFT JOIN ON TRUE +
    * chr(1) sentinel makes an early-stopped (empty) merge step a no-op
    * rewrite, matching the Scala fold over a short ledger. */
  private def bpeSegmentOracle(steps: Int): String = {
    val sb = new StringBuilder(bpeLearnCtes(steps))
    sb.append(
      """,
        |psrc AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY source, w),
        |a0 AS (SELECT source, c, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS s FROM psrc)""".stripMargin)
    for (k <- 1 to steps) {
      val prev = s"a${k - 1}"
      val sentinel = s"coalesce(t$k.pair, chr(1) || ' ' || chr(1))"
      sb.append(s""",
        |a$k AS (SELECT source, c, trim(replace(replace(
        |    ' ' || replace($prev.s, ' ', '  ') || ' ',
        |    ' ' || replace($sentinel, ' ', '  ') || ' ',
        |    ' ' || replace($sentinel, ' ', '') || ' '), '  ', ' ')) AS s
        |  FROM $prev LEFT JOIN t$k ON TRUE)""".stripMargin)
    }
    sb.append(s"""
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_words,
      |  CAST(sum(len(string_split(s, ' ')) * c) AS BIGINT) AS n_subwords,
      |  CAST(sum(length(replace(s, ' ', '')) * c) AS BIGINT) AS n_chars,
      |  ${graft.ops.StableStats.ratioSql(
           "sum(length(replace(s, ' ', '')) * c)",
           "sum(len(string_split(s, ' ')) * c)")} AS chars_per_token
      |FROM a$steps GROUP BY source ORDER BY source""".stripMargin)
    sb.toString
  }

  /** Population stability index (PSI) of the doc-length distribution,
    * first half vs second half of ingestion (doc_id order, as
    * [[qualityDrift]]) — THE production drift metric: PSI < 0.1 is
    * stable, 0.1–0.25 drifting, > 0.25 a different population. Lengths
    * bin into FIXED 64-char buckets (data-independent edges — the
    * monitoring discipline; quantile edges would move with the drift
    * they measure) with Laplace smoothing so an empty bucket never
    * produces ln(0).
    *
    * Each bucket's (p2−p1)·ln(p2/p1) term snaps to integer 10⁻⁹ units
    * before the per-source sum (the [[Curation.dsirWeights]] log
    * discipline — integer sums are order-free). Scale shape: one scan to
    * a (source × half × bucket) hash-agg, a bounded grid join, a
    * sources-sized agg. */
  def psiDrift(spark: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    import graft.ops.StableStats.stableRound
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        least(lit(buckets - 1), expr("length(text) div 64")).as("bucket"))
    val mid = docs.agg(expr("max(doc_id) div 2").as("mid"))
    val halved = docs.crossJoin(broadcast(mid))
      .withColumn("half", when(col("doc_id") <= col("mid"), "a").otherwise("b"))
    val counts = halved.groupBy(col("source"), col("half"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val totals = halved.groupBy(col("source"), col("half"))
      .agg(count(lit(1)).as("nh"))
    // bucket/half axes are constants and the source list is a catalog —
    // all three grid factors are fixed-cardinality broadcasts at any SF
    val grid = docs.select(col("source")).distinct()
      .crossJoin(broadcast(spark.range(buckets).select(col("id").as("bucket"))))
      .crossJoin(broadcast(Seq("a", "b").toDF("half")))
    val filled = grid
      .join(counts, Seq("source", "half", "bucket"), "left")
      .join(totals, Seq("source", "half"), "left")
      .select(col("source"), col("half"), col("bucket"),
        ((coalesce(col("n"), lit(0L)) + lit(1)).cast("double")
          / (coalesce(col("nh"), lit(0L)) + lit(buckets))).as("p"))
    filled.groupBy(col("source"), col("bucket"))
      .agg(max(when(col("half") === "a", col("p"))).as("p1"),
        max(when(col("half") === "b", col("p"))).as("p2"))
      .withColumn("units",
        floor((col("p2") - col("p1")) * log(col("p2") / col("p1")) * lit(1e9)
          + lit(0.5)).cast("long"))
      .groupBy(col("source"))
      .agg(stableRound(sum(col("units")).cast("double") / lit(1e9), 6).as("psi"))
      .orderBy("source")
  }

  /** Per-source corpus datasheet — the one-row-per-source summary a
    * dataset card ships ("Datasheets for Datasets", arXiv:1803.09010):
    * volume (docs/tokens/chars), exact-duplicate rate (distinct md5 over
    * docs), token density, and language concentration (modal lang + its
    * share, ties broken lexicographically). The numbers a consumer
    * checks before mixing a source into a training run, assembled in
    * one query.
    *
    * Scale shape: one corpus scan feeding a sources-sized hash-agg
    * (count-distinct of the md5 plans as a two-level agg on the hash,
    * not a row shuffle) plus a (source × lang)-sized mode window; the
    * final join is catalog-sized on both sides. */
  def datasheet(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats.ratio
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("text"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val base = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("toks")).as("n_tokens"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      countDistinct(md5(col("text"))).as("n_unique"))
    val langMode = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("nl").desc, col("lang").asc)))
      .where(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("nl"))
    base.join(langMode, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        ratio(col("n_unique"), col("n_docs")).as("uniq_rate"),
        ratio(col("n_tokens"), col("n_docs")).as("mean_tokens"),
        col("top_lang"),
        ratio(col("nl"), col("n_docs")).as("top_lang_share"))
      .orderBy("source")
  }

  /** Vocabulary coverage / OOV-rate report — the sizing analysis behind
    * "how big must the vocab be": with the global top-`k` tokens as the
    * in-vocabulary set (ties broken lexicographically), each source
    * reports its token volume, the share of occurrences falling OUTSIDE
    * the vocab (OOV rate — what a fixed-vocab tokenizer would shatter
    * into subwords), and its distinct-type counts. A source with an
    * outlier OOV rate speaks a different register than the corpus the
    * vocab was fit on.
    *
    * Scale shape: one explode feeding a vocab-sized global count, the
    * top-k via TakeOrdered (no global sort), broadcast of the k-row
    * vocab back over the per-source token stream, one sources-sized
    * agg. Exact integer counts end-to-end. */
  def vocabCoverage(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import graft.ops.StableStats.ratio
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(k)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        coalesce(sum(when(col("in_vocab").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_oov"),
        countDistinct(col("tok")).as("n_types"),
        countDistinct(when(col("in_vocab").isNull, col("tok"))).as("n_oov_types"))
      .withColumn("oov_rate", ratio(col("n_oov"), col("n_occurrences")))
      .orderBy("source")
  }

  val queries: Seq[Query] = Seq(
    Query("x_psi_drift", (s, d) => psiDrift(s, d), {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH docs AS (
         |  SELECT source, doc_id, least(9, length(text) // 64) AS bucket FROM documents),
         |mid AS (SELECT max(doc_id) // 2 AS mid FROM docs),
         |halved AS (SELECT source, bucket,
         |    CASE WHEN doc_id <= mid THEN 'a' ELSE 'b' END AS half FROM docs, mid),
         |counts AS (SELECT source, half, bucket, CAST(count(*) AS BIGINT) AS n
         |  FROM halved GROUP BY 1, 2, 3),
         |totals AS (SELECT source, half, CAST(count(*) AS BIGINT) AS nh
         |  FROM halved GROUP BY 1, 2),
         |grid AS (
         |  SELECT DISTINCT d.source, b.bucket, h.half
         |  FROM docs d,
         |    (SELECT unnest(generate_series(0, 9)) AS bucket) b,
         |    (SELECT unnest(['a', 'b']) AS half) h),
         |filled AS (
         |  SELECT g.source, g.half, g.bucket,
         |    (coalesce(n, 0) + 1)::DOUBLE / (coalesce(nh, 0) + 10) AS p
         |  FROM grid g
         |  LEFT JOIN counts USING (source, half, bucket)
         |  LEFT JOIN totals USING (source, half)),
         |piv AS (
         |  SELECT source, bucket,
         |    max(CASE WHEN half = 'a' THEN p END) AS p1,
         |    max(CASE WHEN half = 'b' THEN p END) AS p2
         |  FROM filled GROUP BY 1, 2),
         |u AS (SELECT source,
         |    CAST(floor((p2 - p1) * ln(p2 / p1) * 1e9 + 5e-1) AS BIGINT) AS units
         |  FROM piv)
         |SELECT source, ${stableRoundSql("CAST(sum(units) AS DOUBLE) / 1e9", 6)} AS psi
         |FROM u GROUP BY source ORDER BY source""".stripMargin
    }),
    Query("x_vocab_coverage", (s, d) => vocabCoverage(s, d), {
      import graft.ops.StableStats.ratioSql
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         |t AS (SELECT source, tok FROM toks WHERE length(tok) > 0),
         |vocab AS (
         |  SELECT tok, 1 AS in_vocab FROM (
         |    SELECT tok, count(*) AS freq FROM t GROUP BY tok
         |    ORDER BY freq DESC, tok ASC LIMIT 20)),
         |j AS (SELECT t.source, t.tok, vocab.in_vocab
         |  FROM t LEFT JOIN vocab USING (tok))
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(coalesce(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_oov,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
         |  CAST(count(DISTINCT CASE WHEN in_vocab IS NULL THEN tok END) AS BIGINT) AS n_oov_types,
         |  ${ratioSql("coalesce(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END), 0)",
                       "count(*)")} AS oov_rate
         |FROM j GROUP BY source ORDER BY source""".stripMargin
    }),
    Query("x_corpus_datasheet", datasheet _, {
      import graft.ops.StableStats.ratioSql
      s"""WITH d AS (
         |  SELECT source, lang, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents),
         |base AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(toks) AS BIGINT) AS n_tokens,
         |    CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
         |  FROM d GROUP BY source),
         |l AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS nl
         |  FROM d GROUP BY source, lang),
         |top AS (SELECT source, lang AS top_lang, nl FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY source ORDER BY nl DESC, lang) AS rn FROM l)
         |  WHERE rn = 1)
         |SELECT source, n_docs, n_tokens, n_chars,
         |  ${ratioSql("n_unique", "n_docs")} AS uniq_rate,
         |  ${ratioSql("n_tokens", "n_docs")} AS mean_tokens,
         |  top_lang,
         |  ${ratioSql("nl", "n_docs")} AS top_lang_share
         |FROM base JOIN top USING (source) ORDER BY source""".stripMargin
    }),
    Query("x_bpe_merges", (s, d) => bpeMerges(s, d), bpeOracle(3)),
    Query("x_bpe_segment", (s, d) => bpeSegment(s, d), bpeSegmentOracle(3)),
    Query("x_quality_drift", qualityDrift _,
      s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
         |j AS (SELECT q.doc_id, q.quality_score, d.source
         |  FROM q JOIN documents d ON d.doc_id = q.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  ${stableRoundSql(
             "CAST(sum(CAST(round(quality_score * 1e4) AS BIGINT)) AS DOUBLE) / count(*) / 1e4", 4)} AS mean_quality,
         |  ${stableRoundSql("regr_slope(quality_score, doc_id) * 1000", 4)} AS slope_per_1k,
         |  ${stableRoundSql("regr_r2(quality_score, doc_id)", 4)} AS r2
         |FROM j GROUP BY source ORDER BY source""".stripMargin),
    Query("x_incr_novelty", incrNovelty _,
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT DISTINCT doc_id, source, unnest(list_transform(
         |    generate_series(1, len(w) - 2),
         |    i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT)) AS s
         |  FROM w),
         |base AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0),
         |delta AS (SELECT doc_id, source, s FROM sh WHERE doc_id % 2 = 1),
         |per AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS delta_ngrams FROM delta GROUP BY 1),
         |nov AS (SELECT source, CAST(count(*) AS BIGINT) AS novel_ngrams
         |  FROM delta WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.s = delta.s)
         |  GROUP BY 1)
         |SELECT per.source, n_docs, delta_ngrams,
         |  CAST(coalesce(novel_ngrams, 0) AS BIGINT) AS novel_ngrams,
         |  ${stableRoundSql("CAST(coalesce(novel_ngrams, 0) AS DOUBLE) / delta_ngrams", 4)} AS novelty
         |FROM per LEFT JOIN nov ON per.source = nov.source
         |ORDER BY per.source""".stripMargin),
    Query("x_ngram_novelty", (s, d) => ngramNovelty(s, d),
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
         |    generate_series(1, len(w) - 2),
         |    i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT)) AS s
         |  FROM w),
         |f AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1),
         |pd AS (SELECT doc_id, count(*) AS n_ngrams,
         |    sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel
         |  FROM sh JOIN f USING (s) GROUP BY 1)
         |SELECT CAST(doc_id // 50 AS BIGINT) AS bucket, count(*) AS n_docs,
         |  CAST(sum(n_ngrams) AS BIGINT) AS total_ngrams,
         |  CAST(sum(n_novel) AS BIGINT) AS novel_ngrams,
         |  ${stableRoundSql("CAST(sum(n_novel) AS DOUBLE) / CAST(sum(n_ngrams) AS BIGINT)", 4)} AS novelty
         |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("x_cms_topk", (s, d) => cmsTopTerms(s, d),
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |exact AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
        |b AS (SELECT tok, freq, j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || tok), 1, 12))::BIGINT % 64 AS bucket
        |  FROM exact, unnest([0, 1, 2]) AS t(j)),
        |cells AS (SELECT j, bucket, sum(freq) AS cell FROM b GROUP BY 1, 2),
        |est AS (SELECT tok, freq, min(cell) AS est
        |  FROM b JOIN cells USING (j, bucket) GROUP BY 1, 2)
        |SELECT tok, CAST(freq AS BIGINT) AS freq, CAST(est AS BIGINT) AS est,
        |  CAST(est - freq AS BIGINT) AS overcount
        |FROM est ORDER BY freq DESC, tok ASC LIMIT 20""".stripMargin),
    Query("x_kmv_distinct", (s, d) => kmvDistinct(s, d),
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT DISTINCT source, unnest(list_transform(
         |    generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         |  FROM w),
         |h AS (SELECT source, s,
         |  ('0x' || substr(md5(s), 1, 12))::BIGINT / 281474976710656.0 AS u FROM sh),
         |r AS (SELECT source, u, row_number() OVER (
         |    PARTITION BY source ORDER BY u ASC, s ASC) AS rn FROM h),
         |kth AS (SELECT source, u AS rk FROM r WHERE rn = 64),
         |ex AS (SELECT source, count(*) AS n_exact FROM sh GROUP BY 1)
         |SELECT ex.source, CAST(n_exact AS BIGINT) AS n_exact,
         |  ${stableRoundSql("coalesce(63.0 / rk, CAST(n_exact AS DOUBLE))", 2)} AS est,
         |  ${stableRoundSql(
             "abs(coalesce(63.0 / rk, CAST(n_exact AS DOUBLE)) - n_exact) / n_exact", 4)} AS rel_err
         |FROM ex LEFT JOIN kth ON ex.source = kth.source
         |ORDER BY ex.source""".stripMargin),
    Query("x_corpus_zipf", (s, d) => zipfFit(s, d),
      s"""WITH c AS (SELECT tok, count(*) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(freq) AS BIGINT) AS n_tokens FROM c),
         |top AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
         |  FROM c ORDER BY freq DESC, tok ASC LIMIT 100),
         |fit AS (SELECT
         |  ${stableRoundSql("regr_slope(ln(freq), ln(rank))", 4)} AS slope,
         |  ${stableRoundSql("regr_intercept(ln(freq), ln(rank))", 4)} AS intercept,
         |  ${stableRoundSql("regr_r2(ln(freq), ln(rank))", 4)} AS r2 FROM top)
         |SELECT n_types, n_tokens, slope, intercept, r2 FROM t CROSS JOIN fit""".stripMargin),
    Query("x_source_kl", sourceKl _,
      s"""WITH sw AS (SELECT source, tok, count(*) AS c_sw FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |g AS (SELECT tok, sum(c_sw) AS c_w FROM sw GROUP BY 1),
         |grand AS (SELECT sum(c_w) AS n, count(*) AS v FROM g),
         |per_src AS (SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY 1),
         |grid AS (SELECT ps.source, ps.n_s, g.tok, g.c_w,
         |    coalesce(sw.c_sw, 0) AS c_sw, grand.n, grand.v
         |  FROM per_src ps CROSS JOIN g
         |  LEFT JOIN sw ON sw.source = ps.source AND sw.tok = g.tok
         |  CROSS JOIN grand)
         |SELECT source, CAST(min(n_s) AS BIGINT) AS n_tokens,
         |  ${stableRoundSql(
             "sum((CAST(c_sw + 1 AS DOUBLE) / (n_s + v)) * " +
               "ln((CAST(c_sw + 1 AS DOUBLE) / (n_s + v)) / " +
               "(CAST(c_w + 1 AS DOUBLE) / (n + v))))", 6)} AS kl_nat
         |FROM grid GROUP BY source ORDER BY source""".stripMargin),
    Query("x_word_pmi", (s, d) => pmiCollocations(s, d),
      s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> [w[i], w[i + 1]])) AS pair FROM d),
         |bc AS (SELECT pair[1] AS w1, pair[2] AS w2, count(*) AS n FROM bg GROUP BY 1, 2),
         |uc AS (SELECT tok, count(*) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(freq) AS DOUBLE) FROM uc) AS n_uni,
         |  (SELECT CAST(sum(n) AS DOUBLE) FROM bc) AS t_big),
         |scored AS (SELECT bc.w1, bc.w2, bc.n,
         |  ${stableRoundSql(
             "ln((bc.n / tot.t_big) / ((u1.freq / tot.n_uni) * (u2.freq / tot.n_uni)))", 6)} AS pmi
         |  FROM bc JOIN uc u1 ON u1.tok = bc.w1 JOIN uc u2 ON u2.tok = bc.w2
         |  CROSS JOIN tot WHERE bc.n >= 5)
         |SELECT w1, w2, CAST(n AS BIGINT) AS n, pmi FROM scored
         |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin)
  )
}
