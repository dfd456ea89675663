package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.exec.{Cut, Pool}

/** Deduplication operators over `documents` / `embeddings`
  * (BASELINE.json extension mandate): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the 100 TB story):
  * - exact dedup = one hash-agg on md5(text); shuffle volume is O(distinct
  *   texts), with map-side partial aggregation;
  * - MinHash = ONE hash-agg computing all k signature minima per doc in a
  *   single pass (no k-way explode), then an LSH band self-join — candidate
  *   generation never goes O(n²);
  * - SimHash = one hash-agg with 32 conditional bit-sums per doc;
  * - n-gram Jaccard joins only on "informative" shingles (document
  *   frequency in [2, 100]) — the stop-shingle cap bounds join skew, the
  *   df≥2 floor drops shingles that cannot produce a pair;
  * - embedding near-dup blocks on `label` (≙ a coarse cluster id) so the
  *   pairwise cosine join is per-block, not global.
  *
  * Hash portability: every hash is md5 (identical bytes→hex in Spark and
  * DuckDB); "permutations" are md5 over a salt prefix; fixed-width hex
  * strings compare lexicographically = numerically, so `min(md5(...))` is a
  * valid minhash in both engines.
  */
object Dedup {

  /** MinHash/LSH parameters, with the (threshold, bands, rows) rationale.
    *
    * With `b` bands of `r` rows (K = b·r minima), a pair at Jaccard
    * similarity s becomes a candidate with probability
    * P(s) = 1 − (1 − s^r)^b — the standard LSH s-curve (Leskovec/Rajaraman
    * /Ullman, "Mining of Massive Datasets" §3.4). Its inflection sits at
    * s* ≈ (1/b)^(1/r); here b=2, r=4 → s* = 2^(-1/4) ≈ 0.84, matched to
    * this corpus's near-dup population (mutated copies at Jaccard ≳ 0.85,
    * see FIXTURES.md) while keeping unrelated docs (s ≲ 0.2,
    * P ≈ 2·0.2⁴ ≈ 0.3%) out of the candidate set.
    *
    * 100 TB retuning rule: keep s* = (1/b)^(1/r) pinned to the target
    * threshold and grow K = b·r to SHARPEN the curve — the false-positive
    * mass scales with corpus pair count, so at web scale use e.g.
    * b=16, r=8 (K=128, s* ≈ 0.71) or b=9, r=13 (K=117, s* ≈ 0.84):
    * signature cost grows linearly in K (still one hash-agg pass via
    * Kirsch-Mitzenmacher) while candidate precision improves
    * exponentially in r. `DedupSpec` property-tests the s-curve shape. */
  private[graft] val K = 8      // minhash signature length (= BANDS · ROWS)
  private[graft] val BANDS = 2  // LSH bands (rows per band = K / BANDS = 4)

  /** Candidate probability for a pair at Jaccard similarity `s` under the
    * (bands, rows) banding scheme — the s-curve documented on [[K]]. */
  private[graft] def sCurve(s: Double, bands: Int = BANDS, rows: Int = K / BANDS): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Word 3-gram shingles per document — NOT deduplicated here: both
    * consumers are set-semantics aggregates (`min`, `collect_set`) for
    * which duplicates are free, so the extra distinct-shuffle would be
    * pure cost. */
  private[ext] def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir))

  /** [[shingles]] over an arbitrary (doc_id, text, ...) frame.
    *
    * POSITION-EXPLODE, not a transform() HOF (round 22, guide §1.2
    * per-task work): higher-order functions are CodegenFallback, so the
    * old `explode(transform(sequence(...), i -> concat_ws(...)))` built
    * a per-doc shingle-string ARRAY through an interpreted lambda on
    * every signature pass — the hot path of every MinHash consumer
    * (candidates, clusters, pagerank, triangles, incremental probes).
    * Exploding the position index and projecting `concat_ws` per row
    * keeps the whole chain (split → explode → concat → md5 → partial
    * min-agg) inside whole-stage codegen and never materializes a
    * doc-sized array — the same move [[graft.ext.Curation.decontaminate]]
    * and charBigrams made. Output rows are the identical multiset (same
    * positions, same strings), so every downstream min/collect_set is
    * bit-identical. */
  private[ext] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(1, size(w) - 2)")).as("i"))
      // w[i] is 0-based; per-element access beats slice() (no per-shingle
      // array allocation)
      .select(col("doc_id"),
        expr("concat_ws(' ', w[i-1], w[i], w[i+1])").as("s"))

  /** Distinct word-3-gram shingles as 60-bit md5-derived integers over a
    * pre-split `w` column — shared by [[ngramJaccard]] and [[containment]]
    * (8-byte join keys instead of ~25-byte strings; the oracles hash
    * identically so collisions cancel in the differential check). */
  private[ext] val hashedShingleExpr: String =
    "array_distinct(transform(sequence(1, size(w) - 2), " +
      "i -> cast(conv(substring(md5(concat_ws(' ', w[i-1], w[i], w[i+1])), 1, 15), 16, 10) as bigint)))"

  /** DuckDB twin of the word-3-gram shingling: `words` splits each
    * document on spaces, and `sh` holds the DISTINCT (doc_id, s)
    * shingles of documents with at least three words, each shingle text
    * mapped through `shingle` — raw, or [[md5Shingle]]. */
  private def shingleCtes(words: String, sh: String,
      shingle: String => String = identity): String =
    s"""$words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |$sh AS (SELECT DISTINCT doc_id, s FROM (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
       |    i -> ${shingle("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")})) AS s
       |  FROM $words WHERE len(w) >= 3))""".stripMargin

  /** A shingle as its 60-bit md5-derived integer — [[hashedShingleExpr]]'s
    * twin. */
  private def md5Shingle(text: String): String =
    s"('0x' || substr(md5($text), 1, 15))::BIGINT"

  private val shinglesSql: String = shingleCtes("words", "sh")

  /** Exact dedup: group by content hash, keep lowest doc_id per group. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** [[exact]] on the NFC-CANONICAL content key — the fix the
    * `x_text_normalize` census diagnoses: raw-byte md5 treats `é` and
    * `e`+U+0301 (combining acute) as different documents, so a corpus
    * mixing normalization forms (different scrapers, OCR, editors emit
    * different forms of the SAME text) double-counts content and leaks
    * byte-variant duplicates past the exact tier. Keying on
    * `md5(unicode_normalize(text, 'NFC'))` collapses every canonical-
    * equivalent byte sequence to one group; the normalization is the
    * codegen [[graft.functions.UnicodeNormalize]] expression (with its
    * `isNormalized` fast path — already-NFC text, the overwhelming
    * majority, pays one scan and no rewrite), so the query stays one
    * map-side hash-agg like [[exact]]. DuckDB's `nfc_normalize` is the
    * differential twin. */
  def exactNfc(spark: SparkSession, dir: String): DataFrame =
    exactNfcOf(Tables.documents(spark, dir))

  /** THE NFC-canonical content key — the single definition shared by
    * [[exactNfc]] and [[graft.ext.Curation.curationPipeline]]'s canon
    * step, so the exact-dedup tier cannot silently fork into two
    * different canonical forms. `unicode_normalize` resolves through the
    * session's function registry, which `graft.exec.Session.install`
    * fills. */
  private[ext] def nfcContentHash: org.apache.spark.sql.Column =
    md5(expr("unicode_normalize(text, 'NFC')"))

  /** [[exactNfc]] over an arbitrary (doc_id, text, …) frame (the
    * mixed-normalization fixture spec drives it directly; callers must
    * have [[graft.functions.UnicodeNormalize]] registered). */
  private[ext] def exactNfcOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(nfcContentHash.as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Large prime > 2^32 for Kirsch-Mitzenmacher double hashing. */
  private val P = 4294967311L

  /** MinHash signatures → LSH band buckets (2 bands × 4 rows) → candidate
    * pairs via band self-join.
    *
    * The k "permutations" use Kirsch-Mitzenmacher double hashing:
    * h_i(s) = (h1(s) + i·h2(s)) mod P with h1/h2 = two 32-bit halves of
    * ONE md5 — one digest per shingle instead of k, same collision
    * behavior (Kirsch & Mitzenmacher, ESA'06). All k minima come out of a
    * single hash-agg pass.
    *
    * The signature is k `min()` expression aggregates (primitive long
    * buffer slots) rather than the single-array [[graft.functions
    * .MinHashSignature]] Aggregator: the expression form stays inside
    * whole-stage codegen and a spillable HashAggregate (an array-buffer
    * udaf forces ObjectHashAggregate holding JVM objects — the wrong
    * memory shape at 100 TB), and measured 14% faster at sf0.1
    * (0.52 vs 0.60 s steady-state). The Aggregator is kept as the typed
    * alternative; `DedupSpec` pins bit-equality of the two paths. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    lshCandidates(spark, dir).orderBy("doc_a", "doc_b")

  /** MinHash signature table (doc_id, m0..m{K−1}) for arbitrary
    * (doc_id, text, …) rows. A document split across SEVERAL rows
    * (shards, pages, appended parts) folds naturally: each slot is a min
    * over the union of all its rows' shingle hashes. */
  def minhashSignaturesOf(docs: DataFrame): DataFrame = {
    val sh = shinglesOf(docs)
      .withColumn("h1", expr("cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"))
      .withColumn("h2", expr("cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint)"))
    val mins = (0 until K).map(i =>
      min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(P))).as(s"m$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Incremental-ingest parity AS A QUERY: signatures computed per shard
    * (doc_id parity split, with every %10==0 doc deliberately re-ingested
    * in BOTH shards) and merged — the DuckDB oracle recomputes the table
    * in ONE pass over the full corpus, so the oracle-hash equality IS the
    * merge≡recompute theorem, idempotence included, verified at every SF
    * the driver runs. */
  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // pmod, not signed %: -3 % 2 is -1 in Spark, so a signed parity test
    // drops every negative odd id from BOTH shards and the merge no longer
    // covers the corpus. pmod is total over the id domain.
    val even = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val odd  = docs.where(pmod(col("doc_id"), lit(2)) === 1 || pmod(col("doc_id"), lit(10)) === 0)
    mergeMinhashSignatures(minhashSignaturesOf(even), minhashSignaturesOf(odd))
      .orderBy("doc_id")
  }

  /** Merge MinHash signature tables from separate ingest batches:
    * slot-wise min per doc_id. Every slot is a min over shingle hashes
    * and min is associative, commutative, and idempotent, so signatures
    * are ALGEBRAIC partials in the [[graft.ops.Incremental]] sense —
    * batch-at-a-time maintenance is bit-identical to a full recompute.
    * The 100 TB ingest story: a new shard's signatures are computed from
    * that shard alone (one scan of the NEW data only) and merged into the
    * stored O(docs) signature table; LSH banding then reads the merged
    * table — no history rescan, ever. Re-ingesting a shard is a no-op by
    * idempotence. `DedupSpec` pins the merge≡recompute bit-equality. */
  def mergeMinhashSignatures(a: DataFrame, b: DataFrame): DataFrame = {
    val mins = (0 until K).map(i => min(col(s"m$i")).as(s"m$i"))
    a.unionByName(b).groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** The LSH band probe: `x`'s band rows join `index`'s on (band,
    * bucket) between distinct docs, both orientations collapsed to
    * (doc_a = min, doc_b = max). Duplicates across bands remain; callers
    * dedupe. Shared by [[incrementalLshPairs]],
    * [[graft.ext.Curation.incrementalClusters]] and the streaming band
    * index ([[graft.streaming.MinhashMaintenance]]). */
  private[graft] def bandProbe(x: DataFrame, index: DataFrame): DataFrame =
    x.as("x").join(index.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))

  /** Incremental candidate generation AS A QUERY — the batch twin of the
    * streaming band-index probe ([[graft.streaming.MinhashMaintenance]]):
    * the corpus ingests as two shards (doc_id parity, every %10==0 doc
    * re-ingested in both), each shard's band rows probe the band index
    * AS OF that shard, and the union of the probes must equal the
    * one-pass LSH candidate set — which is exactly what the DuckDB
    * oracle computes, so the hash-equality IS the incremental≡one-pass
    * theorem. No transient-signature slack exists here: documents is one
    * row per doc, so a signature is final on first ingest and the
    * re-ingested docs merge idempotently. */
  def incrementalLshPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // pmod for the same negative-id totality reason as incrementalMinhash
    val even = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val odd  = docs.where(pmod(col("doc_id"), lit(2)) === 1 || pmod(col("doc_id"), lit(10)) === 0)
    // persist: each signature frame feeds BANDS band projections and both
    // probe sides — the same cache point lshCandidatesOf needs
    val sigs1   = minhashSignaturesOf(even).persist()
    val sigsAll = mergeMinhashSignatures(sigs1, minhashSignaturesOf(odd)).persist()
    val bands1 = bandsOf(sigs1)
    val bandsAll = bandsOf(sigsAll)
    bandProbe(bands1, bands1) // shard-1 rows probe the shard-1 index
      .union(bandProbe( // shard-2 rows (post-merge signatures) probe the updated index
        bandsAll.join(odd.select("doc_id"), Seq("doc_id"), "left_semi"), bandsAll))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** [[minhashLsh]] without the final presentation sort: the distinct
    * (doc_a < doc_b) candidate set with no ordering guarantee. Internal
    * consumers (dup clusters, pagerank, containment, source overlap) feed
    * these pairs into further joins/aggregates where a global sort is
    * wasted work — at 100 TB the range-partitioned sort of the pair set
    * is a whole extra shuffle that the downstream shuffle immediately
    * destroys. */
  def lshCandidates(spark: SparkSession, dir: String): DataFrame =
    lshCandidatesOf(Tables.documents(spark, dir))

  /** Hot-bucket cap for LSH candidate generation: a (band, bucket) cohort
    * larger than this emits STAR edges (bucket-min representative → each
    * member) instead of all pairs. An uncapped band self-join is the last
    * quadratic in the dedup suite — one degenerate bucket (boilerplate or
    * identical docs, the NORM in web crawls) yields |B|² candidate pairs,
    * a scale-killer no matter how good the banding is. A star keeps the
    * output O(|B|) while preserving exactly what downstream consumers
    * need: connectivity (dup clusters / PageRank see the same connected
    * components — every member still reaches the representative) and
    * verification reachability (containment verifies rep↔member; a bucket
    * this hot is one near-identical family by construction, so
    * member↔member pairs are transitively implied). Mirrors the streaming
    * path's `maxCohort` discipline ([[graft.streaming.NearDupStream]]). */
  private[graft] val MaxBucket = 1024

  /** [[lshCandidates]] over an arbitrary (doc_id, text, …) frame. */
  private[graft] def lshCandidatesOf(docs: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame =
    // EAGER LINEAGE CUT, not persist (round-13 release discipline): the
    // signature frame (one row per doc) feeds both band projections AND
    // both sides of the bucket self-join — uncut, the full shingle+hash
    // subplan runs four times. A persist() here leaked a plan-keyed
    // cache entry out of EVERY consumer query (no caller could release
    // what it never saw, short of clearCache()); checkpoint blocks live
    // outside the cache manager and the context cleaner reclaims them
    // once the pair frame is dropped.
    // Re-A/B'd round 22: DROPPING the cut in favor of runtime exchange
    // reuse regressed every composite consumer (containment 1.0→1.6 s,
    // triangle 1.3→1.6 s, lshRecall 1.8→2.1 s at sf0.1) — the broadcast
    // build side of the bucket self-join is a different distribution
    // than the shuffle side, so reuse cannot collapse it and the
    // signature chain re-ran per branch. The cut stays.
    lshCandidatesOfSigs(Cut.shared(minhashSignaturesOf(docs)), maxBucket)

  /** [[lshCandidatesOf]] when the caller already holds (and has cached)
    * the signature frame — lets composites that need BOTH the candidates
    * and the signatures (estimation-quality reports, incremental probes)
    * pay for one signature pass instead of two. */
  private[graft] def lshCandidatesOfSigs(mh: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    val bands = bandsOf(mh)
    // bucket size + representative via one window over the same
    // (band, bucket) hash partitioning the self-join needs — the join
    // reads the window's exchange, so the sizing adds a sort, not a
    // shuffle
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val sized = bands
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rep", min("doc_id").over(w))
    val cold = sized.where(col("n") <= maxBucket)
    val pairs = cold.as("x")
      .join(cold.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val star = sized
      .where(col("n") > maxBucket && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    pairs.union(star).distinct()
  }

  /** LSH band rows (doc_id, band, bucket) of a signature frame — the
    * banding shared by the batch self-join above and the streaming
    * band-index maintenance ([[graft.streaming.MinhashMaintenance]]):
    * one row per (doc, band), bucket = md5 over that band's K/BANDS
    * signature slots. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame = {
    // ONE scan with a BANDS-wide explode, not a union of per-band
    // selects: the union form scanned the (cached) signature frame once
    // per band on EVERY consumer — the band self-join has two sides, so
    // 2·BANDS scans per candidate pass; per-row work is identical either
    // way (BANDS bucket hashes per doc), and the explode keeps it to one
    // stage per side
    val buckets = (0 until BANDS).map { b =>
      val rows = (b * K / BANDS until (b + 1) * K / BANDS).map(i => col(s"m$i"))
      struct(lit(b).as("band"), md5(concat_ws(",", rows: _*)).as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(buckets: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** SimHash: 32-bit signature from md5-derived token hashes — 32 ±1 vote
    * sums folded to the signature (bit j set iff the vote sum is strictly
    * positive). Expressed as 32 `sum()` expression aggregates (primitive
    * buffer slots, whole-stage codegen, spillable HashAggregate) rather
    * than the array-buffer [[graft.functions.SimHashVote]] udaf
    * (ObjectHashAggregate) — measured 13% faster at sf0.1 and the right
    * memory shape at scale; the Aggregator stays as the typed path with a
    * bit-equality spec. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"))
    val votes = (0 until 32).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L) * 2 - 1).as(s"v$j"))
    val sig = (0 until 32).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
      .orderBy("doc_id")
  }

  /** Number of signature bands for the banded Hamming search in
    * [[simhashPairs]]. Pigeonhole: a pair within Hamming distance d shares
    * at least one IDENTICAL band whenever bands > d — with 9 bands over 32
    * bits, any pair at distance ≤ 8 collides in some band, so the banded
    * candidate generation is EXACT (no recall loss) for the d=8 cutoff. */
  private[graft] val HAMMING_BANDS = 9

  /** SimHash near-dup pairs: sampled probe set (doc_id % 10 = 0) × all docs,
    * Hamming distance ≤ 8 of 32 bits.
    *
    * Candidate generation is BANDED, not all-pairs: each 32-bit signature
    * splits into [[HAMMING_BANDS]] bit-chunks; candidates come from an
    * equi-join on (band, chunk) — the same bucketed shape as
    * [[minhashLsh]] — and only candidates pay the `bit_count` verify. The
    * naive formulation (`probes JOIN sims ON doc_a < doc_id` + Hamming
    * filter) is a pure non-equi predicate and plans as a
    * BroadcastNestedLoopJoin, O(probes × corpus) — the one quadratic this
    * suite must never ship at 100 TB. Pigeonhole makes the banded rewrite
    * lossless (see [[HAMMING_BANDS]]), so the output is bit-identical.
    * `PlanSpec` pins the physical plan free of nested-loop joins. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // persist: probes and the full side both branch off the signature agg
    val sims = simhashSignatures(spark, dir).persist()
    // band b covers bits [32b/B, 32(b+1)/B) — 3- and 4-bit chunks for B=9
    val bandCols = (0 until HAMMING_BANDS).map { b =>
      val lo = 32 * b / HAMMING_BANDS
      val hi = 32 * (b + 1) / HAMMING_BANDS
      struct(lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND((1L << (hi - lo)) - 1).as("chunk"))
    }
    val banded = sims.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bc"))
      .select(col("doc_id"), col("simhash"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    val probes = banded.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
        col("band"), col("chunk"))
    probes.join(banded, Seq("band", "chunk"))
      .where(col("doc_a") < col("doc_id"))
      // verify FIRST (codegen bit_count on the streamed join output), so
      // the distinct — a close pair collides in several bands — only
      // shuffles surviving pairs, not the full candidate set
      .withColumn("hamming", expr("bit_count(sim_a ^ simhash)"))
      .where(col("hamming") <= 8)
      .select(col("doc_a"), col("doc_id").as("doc_b"), col("hamming"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard near-dup pairs.
    *
    * True Jaccard over each document's distinct shingle SET; candidate
    * pairs come only from "informative" shingle buckets (document
    * frequency in [2, 100] — the cap bounds bucket skew at scale, the
    * floor drops pair-less shingles; a shared shingle above the cap is
    * not counted toward the intersection, the standard candidate-pruning
    * tradeoff).
    *
    * Plan shape: per-doc shingle sets + sizes are computed MAP-SIDE
    * (array_distinct over the in-row shingle array) and exploded to
    * (doc_id, n_sh, shingle); candidates come from a sort-merge SELF-JOIN
    * on the shingle (one Exchange, reused for both sides), carrying both
    * set sizes so no size-lookup join is needed; then one groupBy(pair)
    * counts shared shingles → Jaccard. The tempting "zero-join"
    * alternative — groupBy(shingle).collect_list then map-side pair
    * explosion — measured 1.8× SLOWER at sf0.1 (2.12 vs 1.18 s): the
    * nested pair-building HOF is interpreted and the bucket arrays
    * re-shuffle everything the merge join streams. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // The persist() is a deliberate materialization barrier: `ss` is
    // referenced twice below (size + explode), the query tree branches
    // three ways (df-filter + both self-join sides), and higher-order
    // functions are CodegenFallback — without the cache point Catalyst's
    // projection collapse inlines the shingle computation into every
    // consumer of every branch (measured ~5 interpreted evaluations per
    // row × 4 scans). The cache is tiny (one array row per doc) and the
    // cache manager keys it by canonicalized plan, so repeated calls
    // share one entry.
    // shingles are carried as 60-bit md5-derived integers, not strings:
    // the candidate join/shuffle moves 8-byte keys instead of ~25-byte
    // strings and sorts with long compares — measured 21% faster at sf0.1
    // (1.04 vs 1.31 s). The oracle applies the IDENTICAL hash, so any
    // 60-bit collision (≈n²/2⁶¹) affects both engines identically and the
    // differential check stays exact.
    val docSh = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"),
        expr(hashedShingleExpr)
          .as("ss"))
      .persist()
      .select(col("doc_id"), size(col("ss")).as("n_sh"), explode(col("ss")).as("s"))
    // df cap: the informative-shingle set is NOT tiny — distinct shingles
    // with df>=2 grow near-linearly with the corpus (Heaps' law), so at the
    // 100 TB design point it is billions of 8-byte keys, far past any
    // broadcast budget. No forced broadcast: both sides already hash on `s`,
    // so a threshold/AQE-planned shuffled join on the 60-bit keys is cheap
    // and the Exchange on docSh is shared with the self-join below. (The
    // df >= 2 floor is implied by the self-join itself; the cap at 100
    // drops stop-word-like shingles that would make candidates quadratic.)
    // persist: the self-join references shr — and through it this frame —
    // twice, and exchange reuse does not collapse the duplicated df-agg
    // subplans; one cached copy halves the explode+shuffle+agg work. At
    // scale the set is tens of GB (8 bytes × vocabulary) — MEMORY_AND_DISK
    // absorbs that where a broadcast could not.
    val informative = docSh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df").between(2, 100)).select("s").persist()
    // MERGE hint is load-bearing: a broadcast self-join would duplicate the
    // expensive shingle subplan on both sides (plus once per broadcast
    // build), while a sort-merge self-join shuffles two IDENTICAL subplans
    // on s — Catalyst plans one Exchange and reuses it, so the text scan +
    // shingle HOF run once, not four times
    val shr = docSh.join(informative, "s").hint("merge")
    shr.as("x")
      .join(shr.as("y"), col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .where(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT Jaccard ≥ 3/5 threshold, as a ratio: numerator/denominator. */
  private[ext] val TauNum = 3L
  private[ext] val TauDen = 5L

  /** EXACT Jaccard similarity self-join via prefix filtering (the
    * AllPairs / PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): every pair of documents whose distinct-shingle-set Jaccard
    * is ≥ τ = [[TauNum]]/[[TauDen]], with NO candidate loss — the exact
    * complement to the probabilistic [[minhashLsh]] path (which trades
    * recall for speed via the S-curve) and to [[ngramJaccard]] (which
    * drops stop-shingles above the df cap from the intersection).
    *
    * Prefix-filter principle: order all shingles globally by rarity
    * (document frequency asc, shingle asc — deterministic, engine-
    * independent). A doc with n distinct shingles exposes only its
    * p = n − ⌈τ·n⌉ + 1 RAREST shingles as join keys: two sets with
    * |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉ ≥ ⌈τ·|x|⌉ must collide on at least one
    * exposed key (if all shared shingles sat past position p, the
    * remaining suffix of length ⌈τ·n⌉ − 1 could not hold them), so the
    * prefix join is lossless and the DuckDB differential — a brute-force
    * all-shared-shingle-pairs oracle with no prefix anywhere — proves it
    * on every run, not just on the fixture.
    *
    * Scale shape: df is a vocabulary-sized hash-agg; per-doc rarity ranks
    * come from a doc_id-partitioned window (~shingles-per-doc rows each,
    * fully parallel); the candidate join is keyed on the RAREST ⌈2n/5⌉
    * shingles of each doc — rare keys by construction, so bucket sizes
    * are inherently df-bounded where [[ngramJaccard]] needs an explicit
    * cap — with the τ length filter (min·den ≥ max·num, exact integer
    * arithmetic) pruning before the shuffle-heavy distinct. Verification
    * re-joins the bounded candidate set to the per-doc shingle arrays and
    * intersects map-side. All thresholds are integer ratios end-to-end:
    * no float boundary can disagree across engines. The next refinement
    * at this shape is PPJoin's positional filter (prune by remaining-
    * suffix upper bound before the distinct); at the current corpus the
    * candidate:result ratio (~9:1 at sf0.01) does not yet pay for it. */
  def jaccardPrefixJoin(spark: SparkSession, dir: String): DataFrame =
    jaccardPrefixJoinOf(Tables.documents(spark, dir))

  /** [[jaccardPrefixJoin]] over an arbitrary (doc_id, text, ...) frame. */
  private[ext] def jaccardPrefixJoinOf(docs: DataFrame): DataFrame = {
    // persist, DELIBERATELY not [[Cut.shared]] (A/B'd round 22): the
    // shingle-set frame feeds df, ranks, AND verification, and the
    // downstream joins rely on the InMemoryRelation's REAL size stats to
    // plan as broadcast joins — a localCheckpoint cut presents a
    // LogicalRDD with default (huge) stats, every auto-broadcast
    // degraded to a shuffle join, and the query measured 2.4x SLOWER
    // (1.3 → 3.2 s at sf0.1; lshRecall's truth side 1.75 → 5.2 s).
    // One array row per doc (same barrier rationale as ngramJaccard).
    val docSh = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), expr(hashedShingleExpr).as("ss"))
      .persist()
    val ex = docSh.select(col("doc_id"), size(col("ss")).cast("long").as("n"),
      explode(col("ss")).as("s"))
    val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // persist: the prefix frame feeds BOTH sides of the candidate
    // self-join — uncached, its df-join + ranking window ran twice
    val prefixes = ex.join(df, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      // p = n − ⌈τn⌉ + 1, with ⌈num·n/den⌉ = (num·n + den − 1) div den
      .where(col("rk") <=
        col("n") - expr(s"(n * $TauNum + ${TauDen - 1}) div $TauDen") + 1)
      .select(col("doc_id"), col("n"), col("s"))
      .persist()
    val cands = prefixes.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("s"))
      .join(prefixes.select(col("doc_id").as("doc_b"), col("n").as("n_b"), col("s")), Seq("s"))
      .where(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")) * TauDen >= greatest(col("n_a"), col("n_b")) * TauNum)
      .select("doc_a", "doc_b").distinct()
    val sets = docSh.select(col("doc_id"), col("ss"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
      .withColumn("n_shared", size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
      .withColumn("n_union", size(col("ss_a")).cast("long") + size(col("ss_b")) - col("n_shared"))
      .where(col("n_shared") * TauDen >= col("n_union") * TauNum)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        graft.ops.StableStats.ratio(col("n_shared"), col("n_union")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup: label-blocked pairwise cosine ≥ 0.4.
    * Cosine via SQL higher-order functions over array<double> — sequential
    * index-order summation, reproducible across engines. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val a = emb.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"), col("label"))
    val b = emb.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"), col("label").as("label_b"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(Similarity.cosine("emb_a", "emb_b"), 4))
      .where(col("cos_sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("label"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then prune near-duplicates WITHIN each
    * cluster only — the clustering bounds the quadratic pairwise pass to
    * cluster-local work, which is the whole trick that makes semantic
    * dedup feasible at corpus scale. A vector is dropped when some
    * same-cluster member with a SMALLER vec_id lies within cosine ≥ 0.35
    * (one-pass "earlier-wins" rule: deterministic and SQL-expressible,
    * vs. the paper's iterate-to-fixpoint greedy — the two differ only
    * when a dropped vector was another's sole witness).
    *
    * Scale shape: seed assignment is a broadcast cross join (no corpus
    * shuffle); the pairwise pass is ONE cluster-keyed self-join, so each
    * cluster's quadratic runs data-local after a single exchange. At
    * 100 TB, k grows with corpus size to hold cluster cardinality
    * roughly constant, keeping per-cluster work bounded; the assignment
    * frame persists because it feeds both join sides and the final
    * projection. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val clustered = Similarity.assignToSeeds(Similarity.emb(spark, dir)).persist()
    val earlier = clustered.select(col("cluster"), col("vec_id").as("vec_b"),
      col("emb").as("emb_b"))
    val dups = clustered.join(earlier, "cluster")
      .where(col("vec_b") < col("vec_id"))
      .withColumn("cs", round(Similarity.cosine("emb", "emb_b"), 6))
      .where(col("cs") >= 0.35)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_earlier_dups"), max(col("cs")).as("max_sim"))
    clustered.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"),
        col("max_sim"),
        col("max_sim").isNull.cast("int").as("keep"))
      .orderBy("vec_id")
  }

  /** Containment verification over the LSH candidate pairs: the
    * ASYMMETRIC overlap |A∩B|/|A| (and /|B|) on distinct 60-bit shingle
    * hashes — the signal symmetric Jaccard misses when a short document
    * is wholly embedded in a long one (snippet farms, quote mirrors):
    * Jaccard divides by the union and stays small, containment of the
    * short side hits 1. Candidates come from [[minhashLsh]], so the
    * expensive verify touches only O(candidate pairs × shingles), never
    * all pairs; shingles carry 60-bit md5 integers (narrow exchange, same
    * trick as [[ngramJaccard]]). */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    // EAGER LINEAGE CUTS, not persists (round-13 release discipline): the
    // pair frame anchors BOTH the intersection count and the final
    // report join, and the shingle frame both the sizes and the
    // intersection — uncached, the whole LSH band-join pipeline ran once
    // per reference (the round-11 symmetrization-cache discipline). The
    // result here is O(candidate pairs) — corpus-scaled, so the
    // splitLeakage collect-a-bounded-census move does not apply; instead
    // both shared frames materialize through [[Cut.shared]] (eager local
    // checkpoint), whose blocks live OUTSIDE the cache manager: the returned lazy
    // frame keeps reading them, clearCache() is never required of the
    // caller, and the context cleaner reclaims the blocks when the frame
    // is dropped.
    // OVERLAP (round 22, guide §2.6): the hashed-shingle explode is
    // independent of the LSH candidate pipeline until the intersection
    // join — its cut runs on the report pool while the main thread
    // materializes the pair cut, instead of paying the two corpus
    // passes back to back.
    val (pairs, sh) = Pool.overlap(spark) { o =>
      val shTask = o.async(() => Cut.shared(Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .where(size(col("w")) >= 3)
        .select(col("doc_id"),
          explode(expr(hashedShingleExpr))
            .as("s"))))
      (Cut.shared(lshCandidates(spark, dir)), shTask.await)
    }
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("da"), col("s").as("sa")), col("doc_a") === col("da"))
      .join(sh.select(col("doc_id").as("db"), col("s").as("sb")),
        col("doc_b") === col("db") && col("sa") === col("sb"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("contain_a", StableStats.ratio(col("n_inter"), col("n_a")))
      .withColumn("contain_b", StableStats.ratio(col("n_inter"), col("n_b")))
      .withColumn("near_contained",
        (col("contain_a") >= 0.9 || col("contain_b") >= 0.9).cast("int"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        col("contain_a"), col("contain_b"), col("near_contained"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash estimation-quality report: for every LSH candidate pair,
    * the signature-estimated Jaccard (matching-slot fraction — the
    * unbiased MinHash estimator, MMDS §3.3) next to the EXACT distinct-
    * shingle Jaccard, with the signed error. The measurement a dedup
    * operator runs before trusting signature-space thresholds at scale:
    * with K=8 slots the estimator is quantized to eighths, and this
    * report shows exactly how that granularity spreads around truth on
    * the real corpus (the [[Similarity.ivfRecall]] pattern, applied to
    * the dedup index).
    *
    * Cost shape: one signature pass shared between banding and the
    * estimator (via [[lshCandidatesOfSigs]]), and the exact-Jaccard
    * verify touches only O(candidate × shingles) — the same bounded
    * verify join as [[containment]], never corpus × corpus. */
  def minhashEstQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    val docs = Tables.documents(spark, dir)
    // eager lineage cuts, not persists — shared subframes referenced by
    // the returned lazy frame, same release discipline (and rationale)
    // as [[containment]]. The hashed-shingle cut is independent of the
    // signature/candidate chain until the verify join, so it overlaps
    // on the report pool (round 22, guide §2.6 — same move as
    // [[containment]]).
    val (sigs, pairs, sh) = Pool.overlap(spark) { o =>
      val shTask = o.async(() => Cut.shared(docs
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .where(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(hashedShingleExpr)).as("s"))))
      val sigs = Cut.shared(minhashSignaturesOf(docs))
      (sigs, Cut.shared(lshCandidatesOfSigs(sigs)), shTask.await)
    }
    val a = sigs.select(col("doc_id").as("doc_a") +:
      (0 until K).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sigs.select(col("doc_id").as("doc_b") +:
      (0 until K).map(i => col(s"m$i").as(s"b$i")): _*)
    val slotMatches = (0 until K)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("da"), col("s").as("sa")), col("doc_a") === col("da"))
      .join(sh.select(col("doc_id").as("db"), col("s").as("sb")),
        col("doc_b") === col("db") && col("sa") === col("sb"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(a, "doc_a").join(b, "doc_b")
      .withColumn("slot_matches", slotMatches)
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("est_jaccard", StableStats.ratio(col("slot_matches"), lit(K)))
      .withColumn("exact_jaccard",
        StableStats.ratio(col("n_inter"), col("n_a") + col("n_b") - col("n_inter")))
      .withColumn("est_err",
        StableStats.stableRound(col("est_jaccard") - col("exact_jaccard"), 4))
      .select(col("doc_a"), col("doc_b"), col("slot_matches"), col("n_inter"),
        col("est_jaccard"), col("exact_jaccard"), col("est_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-source duplication matrix: near-dup candidate pairs rolled up
    * by (source, source) — the "which crawls copy from which" diagnostic
    * that decides source-level dedup priorities. Pure composition: the
    * LSH pair frame (already bounded) joins the doc→source map twice and
    * collapses to a ≤|sources|² census, so the marginal cost over
    * [[minhashLsh]] is two map-side joins and a tiny agg. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    lshCandidates(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .groupBy(col("source_x"), col("source_y")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  /** Prefix clamp for [[editDistancePairs]]: candidates are compared on
    * their first EditCap chars. Levenshtein is O(len²) per pair — the
    * clamp makes the verify cost a CONSTANT per candidate instead of
    * quadratic in document length (a single 1 MB boilerplate pair would
    * otherwise cost ~10¹² DP cells). */
  private[graft] val EditCap = 256

  /** Relative edit-distance cutoff: keep a pair when the distance is at
    * most this fraction of the longer prefix. */
  private[graft] val EditMaxFrac = 0.3

  /** Edit-distance verification of LSH candidate pairs — the fuzzy-dedup
    * verify stage (title/URL/short-doc dedup where token-set Jaccard is
    * too coarse and character-level similarity is the signal).
    *
    * Scale shape: Levenshtein NEVER runs corpus×corpus — only over the
    * [[lshCandidates]] pair set (O(corpus) pairs under the hot-bucket
    * cap), on [[EditCap]]-clamped prefixes, and through Spark's
    * THRESHOLD-BOUNDED DP (`levenshtein(l, r, t)` returns −1 past t
    * without filling the full matrix — O(t·len) per pair, not O(len²)).
    * The fixed DP bound ⌊EditCap·EditMaxFrac⌋ dominates every per-pair
    * relative cutoff ⌊max_len·EditMaxFrac⌋, so bounding the DP never
    * drops a pair the relative filter would keep; the oracle runs the
    * unbounded distance with the same relative filter. */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    val prefix = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, EditCap).as("p"))
    val dpBound = math.floor(EditCap * EditMaxFrac).toInt
    lshCandidates(spark, dir)
      .join(prefix.select(col("doc_id").as("doc_a"), col("p").as("ta")), "doc_a")
      .join(prefix.select(col("doc_id").as("doc_b"), col("p").as("tb")), "doc_b")
      .withColumn("max_len", greatest(length(col("ta")), length(col("tb"))))
      .withColumn("edit_dist", expr(s"levenshtein(ta, tb, $dpBound)").cast("long"))
      .where(col("edit_dist") >= 0 &&
        col("edit_dist") <= floor(col("max_len") * EditMaxFrac))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        StableStats.ratio(col("max_len") - col("edit_dist"), col("max_len")).as("edit_sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** LSH recall audit: the probabilistic candidate generator measured
    * against EXACT truth, per similarity band — the empirical S-curve.
    * Truth is [[jaccardPrefixJoin]]'s lossless Jaccard ≥ 3/5 pair set;
    * candidates are [[lshCandidates]]' capped band-join output (the
    * audit scores what the operator actually EMITS, star routing
    * included). Each truth decile reports its hit rate; the constant
    * `n_cands` column carries the cost side (candidate volume) so one
    * result row-set holds both halves of the recall/efficiency
    * trade-off — the measurement that justifies banding parameters
    * before a 100 TB run, exactly like [[graft.ext.Similarity
    * .ivfRecall]] justifies the IVF probe count.
    *
    * Band edges use IEEE floor(jaccard·10) on the 4dp-rounded ratio —
    * both engines compute the identical double, so a ratio landing on a
    * representation boundary (0.7·10 = 6.999…) bins identically
    * cross-engine. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats.ratio
    // the truth side (exact prefix-join Jaccard) and the candidate side
    // (minhash/LSH pipeline) are INDEPENDENT pipelines that meet only
    // at the final join — overlap their materializations on a second
    // driver thread (guide §2.6; was: the cands cut ran, THEN the final
    // job paid the whole truth pipeline serially). Both sides land as
    // lineage cuts, so the final job is a join of two materialized
    // frames.
    val (cands, truth) = Pool.overlap(spark) { o =>
      val truthTask = o.async(() =>
        Cut.shared(jaccardPrefixJoinOf(Tables.documents(spark, dir))
          .select(col("doc_a"), col("doc_b"), col("jaccard"))))
      // eager lineage cut, not persist: the candidate set feeds the
      // cost-side count AND the truth join — uncut, the LSH pipeline
      // would run twice (release discipline, see [[containment]])
      (Cut.shared(lshCandidates(spark, dir).withColumn("hit", lit(1L))), truthTask.await)
    }
    val nCands = cands.agg(count(lit(1)).as("n_cands"))
    truth.join(cands, Seq("doc_a", "doc_b"), "left")
      .withColumn("decile", least(floor(col("jaccard") * 10), lit(9)).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", ratio(col("n_hit"), col("n_true")))
      .crossJoin(broadcast(nCands))
      .select((col("decile").cast("double") / 10).as("band_lo"),
        col("n_true"), col("n_hit"), col("recall"), col("n_cands"))
      .orderBy("band_lo")
  }

  val queries: Seq[Query] = {
    val minCols = (0 until K).map(i => s"min((h1 + $i * h2) % $P) AS h$i").mkString(", ")
    val bandSelects = (0 until BANDS).map { b =>
      val rows = (b * K / BANDS until (b + 1) * K / BANDS).map(i => s"h$i").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($rows) AS bucket FROM mh"
    }.mkString(" UNION ALL ")
    val bitSums = (0 until 32).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val simhashExpr = (0 until 32).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    // Capped candidate set — the SQL twin of lshCandidatesOf's hot-bucket
    // star routing: buckets at or under MaxBucket emit all pairs, larger
    // ones only (bucket-min → member) edges. n is constant within a
    // bucket, so testing one side suffices.
    val pairsSubquery =
      s"""WITH $shinglesSql,
         |hashed AS (SELECT doc_id,
         |  ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
         |  ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2 FROM sh),
         |mh AS (SELECT doc_id, $minCols FROM hashed GROUP BY doc_id),
         |bands AS ($bandSelects),
         |sized AS (SELECT doc_id, band, bucket,
         |  count(*) OVER (PARTITION BY band, bucket) AS n,
         |  min(doc_id) OVER (PARTITION BY band, bucket) AS rep FROM bands)
         |SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM sized x JOIN sized y
         |    ON x.band = y.band AND x.bucket = y.bucket
         |    AND x.doc_id < y.doc_id AND x.n <= $MaxBucket
         |  UNION ALL
         |  SELECT rep AS doc_a, doc_id AS doc_b FROM sized
         |  WHERE n > $MaxBucket AND doc_id <> rep)""".stripMargin
    // UNCAPPED one-pass candidate set: the incremental probes
    // (incrementalLshPairs) carry no hot-bucket routing, so their
    // incremental≡one-pass proof compares against the raw self-join.
    val uncappedPairsSubquery =
      s"""WITH $shinglesSql,
         |hashed AS (SELECT doc_id,
         |  ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
         |  ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2 FROM sh),
         |mh AS (SELECT doc_id, $minCols FROM hashed GROUP BY doc_id),
         |bands AS ($bandSelects)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id""".stripMargin
    Seq(
      Query("x_dedup_lsh_recall", lshRecall _, {
        import graft.ops.StableStats
        s"""WITH pairs AS ($pairsSubquery),
           |${shingleCtes("words2", "shx", md5Shingle)},
           |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
           |  FROM shx x JOIN shx y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2),
           |truth AS (SELECT doc_a, doc_b,
           |    ${StableStats.ratioSql("n_shared", "sa.n + sb.n - n_shared")} AS jaccard
           |  FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE n_shared * $TauDen >= (sa.n + sb.n - n_shared) * $TauNum),
           |marked AS (SELECT t.jaccard,
           |    CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
           |  FROM truth t LEFT JOIN pairs p
           |    ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
           |g AS (SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS decile,
           |    CAST(count(*) AS BIGINT) AS n_true, CAST(sum(hit) AS BIGINT) AS n_hit
           |  FROM marked GROUP BY 1),
           |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cands FROM pairs)
           |SELECT CAST(decile AS DOUBLE) / 10 AS band_lo, n_true, n_hit,
           |  ${StableStats.ratioSql("n_hit", "n_true")} AS recall, n_cands
           |FROM g CROSS JOIN nc ORDER BY band_lo""".stripMargin
      }),
      Query("x_dedup_editdist", editDistancePairs _, {
        import graft.ops.StableStats
        s"""WITH pairs AS ($pairsSubquery),
           |pfx AS (SELECT doc_id, substr(text, 1, $EditCap) AS p FROM documents),
           |cand AS (
           |  SELECT doc_a, doc_b, a.p AS ta, b.p AS tb,
           |    greatest(len(a.p), len(b.p)) AS max_len
           |  FROM pairs
           |  JOIN pfx a ON a.doc_id = doc_a
           |  JOIN pfx b ON b.doc_id = doc_b)
           |SELECT doc_a, doc_b,
           |  CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist,
           |  ${StableStats.ratioSql("max_len - levenshtein(ta, tb)", "max_len")} AS edit_sim
           |FROM cand
           |WHERE levenshtein(ta, tb) <= floor(max_len * 3e-1)
           |ORDER BY doc_a, doc_b""".stripMargin
      }),
      Query("x_source_overlap", sourceOverlap _,
        s"""WITH pairs AS ($pairsSubquery)
           |SELECT least(da.source, db.source) AS source_x,
           |  greatest(da.source, db.source) AS source_y,
           |  count(*) AS n_pairs
           |FROM pairs
           |JOIN documents da ON da.doc_id = doc_a
           |JOIN documents db ON db.doc_id = doc_b
           |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin),
      Query("x_minhash_est", minhashEstQuality _, {
        import graft.ops.StableStats
        val est = (0 until K).map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH pairs AS ($pairsSubquery),
           |${shingleCtes("words", "sh2")},
           |hashed2 AS (SELECT doc_id,
           |  ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
           |  ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2 FROM sh2),
           |mh2 AS (SELECT doc_id, $minCols FROM hashed2 GROUP BY doc_id),
           |hsh AS (SELECT DISTINCT doc_id,
           |    ${md5Shingle("s")} AS hs FROM sh2),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM hsh GROUP BY doc_id),
           |inter AS (SELECT doc_a, doc_b, count(*) AS n_inter
           |  FROM pairs
           |  JOIN hsh a ON a.doc_id = doc_a
           |  JOIN hsh b ON b.doc_id = doc_b AND b.hs = a.hs
           |  GROUP BY doc_a, doc_b),
           |slots AS (SELECT pairs.doc_a, pairs.doc_b,
           |    CAST($est AS BIGINT) AS slot_matches
           |  FROM pairs
           |  JOIN mh2 a ON a.doc_id = pairs.doc_a
           |  JOIN mh2 b ON b.doc_id = pairs.doc_b)
           |SELECT s.doc_a, s.doc_b, s.slot_matches,
           |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
           |  ${StableStats.ratioSql("s.slot_matches", s"$K")} AS est_jaccard,
           |  ${StableStats.ratioSql("coalesce(n_inter, 0)",
                "sa.n_sh + sb.n_sh - coalesce(n_inter, 0)")} AS exact_jaccard,
           |  ${StableStats.stableRoundSql(
                s"${StableStats.ratioSql("s.slot_matches", s"$K")}" +
                s" - ${StableStats.ratioSql("coalesce(n_inter, 0)",
                  "sa.n_sh + sb.n_sh - coalesce(n_inter, 0)")}", 4)} AS est_err
           |FROM slots s
           |LEFT JOIN inter ON inter.doc_a = s.doc_a AND inter.doc_b = s.doc_b
           |JOIN sizes sa ON sa.doc_id = s.doc_a
           |JOIN sizes sb ON sb.doc_id = s.doc_b
           |ORDER BY s.doc_a, s.doc_b""".stripMargin
      }),
      Query("x_dedup_containment", containment _, {
        import graft.ops.StableStats
        s"""WITH pairs AS ($pairsSubquery),
           |${shingleCtes("words", "hsh", md5Shingle)},
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM hsh GROUP BY doc_id),
           |inter AS (
           |  SELECT doc_a, doc_b, count(*) AS n_inter
           |  FROM pairs
           |  JOIN hsh a ON a.doc_id = doc_a
           |  JOIN hsh b ON b.doc_id = doc_b AND b.s = a.s
           |  GROUP BY doc_a, doc_b)
           |SELECT pairs.doc_a, pairs.doc_b,
           |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
           |  CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
           |  ${StableStats.ratioSql("coalesce(n_inter, 0)", "sa.n_sh")} AS contain_a,
           |  ${StableStats.ratioSql("coalesce(n_inter, 0)", "sb.n_sh")} AS contain_b,
           |  CAST(${StableStats.ratioSql("coalesce(n_inter, 0)", "sa.n_sh")} >= 9e-1
           |    OR ${StableStats.ratioSql("coalesce(n_inter, 0)", "sb.n_sh")} >= 9e-1 AS INTEGER)
           |    AS near_contained
           |FROM pairs
           |LEFT JOIN inter ON inter.doc_a = pairs.doc_a AND inter.doc_b = pairs.doc_b
           |JOIN sizes sa ON sa.doc_id = pairs.doc_a
           |JOIN sizes sb ON sb.doc_id = pairs.doc_b
           |ORDER BY pairs.doc_a, pairs.doc_b""".stripMargin
      }),
      Query("x_dedup_exact", exact _,
        """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),
      Query("x_dedup_exact_nfc", exactNfc _,
        """SELECT md5(nfc_normalize(text)) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),
      Query("x_dedup_minhash_lsh", minhashLsh _,
        s"""$pairsSubquery
           |ORDER BY doc_a, doc_b""".stripMargin),
      // ONE-pass candidate set: hash-equality against the Spark side's
      // per-shard probes is the incremental≡one-pass proof
      Query("x_incr_lsh_pairs", incrementalLshPairs _,
        s"""$uncappedPairsSubquery
           |ORDER BY doc_a, doc_b""".stripMargin),
      // ONE-pass signature recompute: hash-equality against the Spark
      // side's per-shard merge is the merge≡recompute proof
      Query("x_incr_minhash", incrementalMinhash _,
        s"""WITH $shinglesSql,
           |hashed AS (SELECT doc_id,
           |  ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
           |  ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2 FROM sh),
           |mh AS (SELECT doc_id,
           |  ${(0 until K).map(i => s"min((h1 + $i * h2) % $P) AS m$i").mkString(", ")}
           |  FROM hashed GROUP BY doc_id)
           |SELECT doc_id, ${(0 until K).map(i => s"m$i").mkString(", ")}
           |FROM mh ORDER BY doc_id""".stripMargin),
      Query("x_dedup_simhash", simhashSignatures _,
        s"""WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
           |hashed AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
           |bits AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id)
           |SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash
           |FROM bits ORDER BY doc_id""".stripMargin),
      Query("x_dedup_simhash_pairs", simhashPairs _,
        s"""WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
           |hashed AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
           |bits AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id),
           |sims AS (SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash FROM bits)
           |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
           |FROM sims x JOIN sims y ON x.doc_id % 10 = 0 AND x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
           |ORDER BY doc_a, doc_b""".stripMargin),
      Query("x_dedup_ngram_jaccard", ngramJaccard _,
        s"""WITH ${shingleCtes("words", "sh", md5Shingle)},
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |informative AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2 AND count(*) <= 100),
           |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN informative USING (s)),
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
           |  FROM shr x JOIN shr y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b,
           |  round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = doc_a
           |JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin),
      // deliberately brute-force (every shared-shingle pair, no prefix
      // anywhere): the differential proves the prefix filter lossless
      Query("x_dedup_jaccard_exact", jaccardPrefixJoin _, {
        import graft.ops.StableStats
        s"""WITH ${shingleCtes("words", "sh", md5Shingle)},
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
           |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
           |  ${StableStats.ratioSql("n_shared", "sa.n + sb.n - n_shared")} AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = doc_a
           |JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE n_shared * $TauDen >= (sa.n + sb.n - n_shared) * $TauNum
           |ORDER BY doc_a, doc_b""".stripMargin
      }),
      Query("x_dedup_embedding", embeddingNearDup _,
        """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings)
          |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
          |  round(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
          |FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.4
          |ORDER BY vec_a, vec_b""".stripMargin),
      Query("x_semdedup", semDedup _,
        """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          |cent AS (SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id < 8),
          |assigned AS (SELECT vec_id, c_id AS cluster FROM (
          |    SELECT emb.vec_id, cent.c_id, row_number() OVER (PARTITION BY emb.vec_id
          |      ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC, cent.c_id ASC) AS r
          |    FROM emb CROSS JOIN cent) WHERE r = 1),
          |ce AS (SELECT a.vec_id, a.cluster, emb.e FROM assigned a JOIN emb USING (vec_id)),
          |pairs AS (SELECT x.vec_id, round(list_cosine_similarity(x.e, y.e), 6) AS cs
          |  FROM ce x JOIN ce y ON x.cluster = y.cluster AND y.vec_id < x.vec_id),
          |dups AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_earlier_dups, max(cs) AS max_sim
          |  FROM pairs WHERE cs >= 35e-2 GROUP BY vec_id)
          |SELECT a.vec_id, a.cluster,
          |  CAST(coalesce(d.n_earlier_dups, 0) AS BIGINT) AS n_earlier_dups, d.max_sim,
          |  CAST(CASE WHEN d.max_sim IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
          |FROM assigned a LEFT JOIN dups d USING (vec_id)
          |ORDER BY a.vec_id""".stripMargin)
    )
  }
}
