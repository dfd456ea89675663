package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (BASELINE.json extension mandate).
  *
  * Two paths:
  * - [[bruteTopK]]: exact cosine top-k — the correctness baseline. The
  *   small query set broadcasts, so the scan side never shuffles for the
  *   join; per-query top-k via ranking window.
  * - [[ivfTopK]]: IVF-style scale path — vectors are assigned to their
  *   nearest "centroid" (a deterministic seed subset standing in for a
  *   trained codebook), and each query probes ONLY its own cluster:
  *   candidate count drops from n to n/k per query. At 100 TB the cluster
  *   assignment is a one-off index build (broadcast centroids, narrow map)
  *   and search is a co-partitioned join on cluster id.
  */
object Similarity {

  /** Cosine similarity over array<double> via the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression (single fused pass;
    * bit-identical to the HOF formulation it replaced), resolved through
    * the session's function registry, which `graft.exec.Session.install`
    * fills (the factory and every [[Tables.table]] read run it). */
  def cosine(a: String, b: String): Column = expr(s"cosine_sim($a, $b)")

  /** The interpreted SQL-HOF formulation — kept as the portable reference
    * implementation the native expression is tested against. */
  def cosineHof(a: String, b: String): Column = expr(
    s"""aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
       | / (sqrt(aggregate($a, 0D, (acc, v) -> acc + v * v))
       |    * sqrt(aggregate($b, 0D, (acc, v) -> acc + v * v)))""".stripMargin)

  private[ext] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))

  /** Brute-force cosine top-5 for query vectors vec_id < 20. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine("qemb", "emb"), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("query_id"), col("rn"), col("vec_id").as("cand_id"), col("cos_sim"))
      .orderBy("query_id", "rn")
  }

  /** Nearest-seed assignment (argmax cosine, id tie-break; seeds =
    * vec_id < 8 standing in for a trained codebook) — shared by the
    * inline IVF search, the materialized index build, and the Lloyd
    * step, so the assignment semantics can never drift between them. */
  private[ext] def assignToSeeds(e: DataFrame): DataFrame = {
    val cent = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id").asc)
    e.crossJoin(broadcast(cent))
      .withColumn("c_cos", round(cosine("emb", "c_emb"), 6))
      .withColumn("r", row_number().over(wAssign))
      .where(col("r") === 1)
      .select(col("vec_id"), col("c_id").as("cluster"), col("emb"))
  }

  /** IVF top-3 with deterministic centroids (vec_id < 8), 1-probe search
    * within the query's own cluster, queries vec_id in [100, 110). */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // persist: the assignment pass (n×k cosine crossJoin + ranking
    // window) feeds both the query projection and the search side —
    // without the barrier it runs twice
    val clustered = assignToSeeds(e).persist()
    val q = clustered.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("cluster").as("q_cluster"), col("emb").as("qemb"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    clustered
      .join(broadcast(q), col("cluster") === col("q_cluster") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine("qemb", "emb"), 6))
      .withColumn("rn", row_number().over(wTop))
      .where(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("vec_id").as("cand_id"),
        col("cos_sim"), col("q_cluster").as("cluster"))
      .orderBy("query_id", "rn")
  }

  /** ANN index-quality report: recall@3 of the 1-probe IVF search against
    * the exact brute-force top-3 over the same query set — the
    * measurement an index operator runs before trusting an approximate
    * path at scale (recall is the contract; latency means nothing without
    * it). The ground-truth pass scores only the broadcast query set
    * against the corpus (|q|·n, one scan), so the report costs one scored
    * scan, not an index rebuild; at 100 TB you run it on a sampled query
    * set exactly like this one. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    val e = emb(spark, dir)
    val q = e.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val truth = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine("qemb", "emb"), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("query_id"), col("vec_id").as("cand_id"))
    val hits = truth
      .join(ivfTopK(spark, dir).select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    q.select("query_id").join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("query_id"), col("n_hits"),
        StableStats.ratio(col("n_hits"), lit(3)).as("recall_at_3"))
      .orderBy("query_id")
  }

  private val PLANES = 8
  private val DIMS = 64

  /** Sign-LSH top-3: 8 deterministic pseudo-random hyperplanes (components
    * derived from md5 so the oracle can regenerate them bit-for-bit),
    * vectors bucketed by their 8-bit sign signature, search only within
    * the query's bucket. The bucketing pass is a broadcast cross join with
    * the tiny plane table + one hash-agg — at scale, candidate count per
    * query drops from n to n/2^bits with NO training step (vs IVF). */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // hyperplane components in [-1, 1], md5-derived → engine-portable
    val planes = spark.range(PLANES).select(col("id").cast("int").as("p"),
      expr(s"transform(sequence(0, ${DIMS - 1}), d -> " +
        "(cast(conv(substring(md5(concat(id, '_', d)), 1, 8), 16, 10) as bigint) % 2001) / 1000.0D - 1.0D)")
        .as("arr"))
    val bits = e.crossJoin(broadcast(planes))
      .withColumn("bit", when(cosine("emb", "arr") >= 0, "1").otherwise("0"))
    val sigAggs = (0 until PLANES).map(i => max(when(col("p") === i, col("bit"))).as(s"b$i"))
    val sig = bits.groupBy(col("vec_id")).agg(sigAggs.head, sigAggs.tail: _*)
      .select(col("vec_id"), concat((0 until PLANES).map(i => col(s"b$i")): _*).as("bucket"))
    val sigEmb = sig.join(e, "vec_id").persist()
    val q = sigEmb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("bucket").as("q_bucket"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    sigEmb
      .join(broadcast(q), col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine("qemb", "emb"), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("vec_id").as("cand_id"),
        col("cos_sim"), col("q_bucket").as("bucket"))
      .orderBy("query_id", "rn")
  }

  /** Label-noise detection by LSH-bucket neighbor voting (the kNN
    * label-cleaning shape behind Confident Learning-style curation): a
    * vector whose bucket-mates overwhelmingly carry a DIFFERENT label is
    * a mislabel suspect. Votes are the bucket's per-label counts with
    * the vector's own vote removed; a suspect needs the adjusted
    * majority to (a) disagree with its label and (b) have ≥ 2 agreeing
    * neighbors — and ties go to the vector's own label, so a 1-vs-1
    * bucket never accuses anyone.
    *
    * Scale shape: signatures via the broadcast hyperplane pass (as
    * [[lshTopK]]), then ONE hash-agg to the (bucket × label) vote frame
    * — bounded by 2^PLANES · |labels|, not the corpus — broadcast back
    * over the labeled signatures. No pairwise neighbor join at all. */
  def labelNoise(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val e = emb(spark, dir)
    val planes = spark.range(PLANES).select(col("id").cast("int").as("p"),
      expr(s"transform(sequence(0, ${DIMS - 1}), d -> " +
        "(cast(conv(substring(md5(concat(id, '_', d)), 1, 8), 16, 10) as bigint) % 2001) / 1000.0D - 1.0D)")
        .as("arr"))
    val bits = e.crossJoin(broadcast(planes))
      .withColumn("bit", when(cosine("emb", "arr") >= 0, "1").otherwise("0"))
    val sigAggs = (0 until PLANES).map(i => max(when(col("p") === i, col("bit"))).as(s"b$i"))
    val labeled = bits.groupBy(col("vec_id")).agg(sigAggs.head, sigAggs.tail: _*)
      .select(col("vec_id"), concat((0 until PLANES).map(i => col(s"b$i")): _*).as("bucket"))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
    val votes = labeled.groupBy(col("bucket"), col("label").as("blabel"))
      .agg(count(lit(1)).as("n"))
    val ownFirst = when(col("blabel") === col("label"), 0).otherwise(1)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("adj").desc, ownFirst.asc, col("blabel").asc)
    labeled
      .join(broadcast(votes), "bucket")
      .withColumn("adj",
        col("n") - when(col("blabel") === col("label"), 1L).otherwise(0L))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("blabel") =!= col("label") && col("adj") >= 2)
      .select(col("vec_id"), col("label"), col("bucket"),
        col("blabel").as("suggested"), col("adj").as("n_agree"))
      .orderBy(col("n_agree").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Materialized IVF index build — the deployment shape at 100 TB: the
    * expensive assignment pass (broadcast centroids, argmax cosine per
    * vector) runs ONCE and lands as a cluster-partitioned parquet lake;
    * every later search reads only its probed clusters' directories
    * (partition pruning on `cluster`). */
  def buildIvfIndex(spark: SparkSession, dir: String, indexPath: String): Unit =
    assignToSeeds(emb(spark, dir))
      .write.mode("overwrite").partitionBy("cluster").parquet(indexPath)

  /** Search a materialized IVF index: queries probe their own cluster
    * only; the `cluster = q_cluster` equi-join prunes index partitions
    * at the directory level. Must return exactly [[ivfTopK]]'s results
    * (spec-pinned). The index is read without `Tables`, so this installs
    * graft's session state (for [[cosine]]) itself. */
  def searchIvfIndex(spark: SparkSession, indexPath: String): DataFrame = {
    graft.exec.Session.install(spark)
    val clustered = spark.read.parquet(indexPath)
    val q = clustered.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("cluster").as("q_cluster"), col("emb").as("qemb"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    clustered
      .join(broadcast(q), col("cluster") === col("q_cluster") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine("qemb", "emb"), 6))
      .withColumn("rn", row_number().over(wTop))
      .where(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("vec_id").as("cand_id"),
        col("cos_sim"), col("q_cluster").as("cluster"))
      .orderBy("query_id", "rn")
  }

  /** Int8 scalar-quantized search (the memory-compression scale path:
    * 4 bytes/dim → 1): each vector quantizes to round(x/maxabs·127) —
    * integer-valued, so dot products and norms over the quantized
    * vectors are EXACT in both engines (no float summation drift below
    * 2⁵³) and the oracle compare is airtight. Candidates rank by
    * quantized cosine; each hit carries an `in_exact_top5` flag from a
    * join against the full-precision top-5, so the query output IS the
    * recall measurement. At 100 TB the quantized vectors are the resident
    * index (4× smaller scan) and full-precision re-ranking reads only the
    * survivors. */
  def quantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    // persist: the interpreted HOF quantization feeds both the broadcast
    // query build and the probe side — without the barrier projection
    // collapse re-evaluates it per consumer (same trap as ivfTopK)
    val e = emb(spark, dir)
      .withColumn("scale", expr("array_max(transform(emb, x -> abs(x)))"))
      .withColumn("q", expr("transform(emb, x -> cast(round(x / scale * 127) as double))"))
      .persist()
    val qs = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("q_cos").desc, col("vec_id").asc)
    val quantTop = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .withColumn("q_cos", round(cosine("qq", "q"), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
    val exact5 = bruteTopK(spark, dir)
      .select(col("query_id"), col("cand_id")).withColumn("hit", lit(1))
    quantTop
      .select(col("query_id"), col("rn"), col("vec_id").as("cand_id"), col("q_cos"))
      .join(exact5, Seq("query_id", "cand_id"), "left")
      .select(col("query_id"), col("rn"), col("cand_id"), col("q_cos"),
        coalesce(col("hit"), lit(0)).as("in_exact_top5"))
      .orderBy("query_id", "rn")
  }

  /** One Lloyd (k-means) iteration — the codebook-training step behind a
    * real IVF/PQ index: assign every vector to its nearest seed centroid
    * (argmax cosine, id tie-break), then recompute centroids as per-
    * (cluster, dimension) means. The assignment is the usual broadcast
    * cross join; the recompute is ONE posexplode + hash-agg whose group
    * count is k×dims (tiny at any corpus size — the classic map-side-
    * combine shape). Element sums run in 10⁻⁶ integer units so the
    * centroid means are immune to float summation order — at 1000
    * executors the partial-agg merge order is nondeterministic, and this
    * keeps re-runs AND the oracle bit-identical. */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats
    assignToSeeds(emb(spark, dir))
      .select(col("cluster"), posexplode(col("emb")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(count(lit(1)).as("n"),
        StableStats.stableRound(
          sum(round(col("x") * 1000000).cast("long")).cast("double")
            / count(lit(1)) / lit(1e6), 6).as("centroid"))
      .orderBy("cluster", "pos")
  }

  /** Product-quantization codes: the embedding splits into two
    * half-dimension subspaces, each assigned independently to its own
    * seed codebook ([[assignToSeeds]] on the sub-vectors) — a vector
    * compresses to a (code_lo, code_hi) byte pair whose cross product
    * spans k² cells from two k-entry codebooks. This is the memory
    * layout real billion-vector ANN serves from; both assignment passes
    * are broadcast cross joins (no shuffle on the corpus side), and the
    * final code join is vec_id-keyed. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val lo = e.select(col("vec_id"),
      expr("slice(emb, 1, size(emb) div 2)").as("emb"))
    val hi = e.select(col("vec_id"),
      expr("slice(emb, size(emb) div 2 + 1, size(emb) - size(emb) div 2)").as("emb"))
    def codesOf(sub: DataFrame, name: String) =
      assignToSeeds(sub).select(col("vec_id"), col("cluster").as(name))
    codesOf(lo, "code_lo")
      .join(codesOf(hi, "code_hi"), "vec_id")
      .orderBy("vec_id")
  }

  /** PQ asymmetric search (ADC): queries stay full-precision while every
    * candidate is RECONSTRUCTED from its two codebook entries
    * (concat of the coded sub-centroids) — the serving-time shape where
    * only codes and the k-entry codebooks are resident and the corpus
    * vectors are never touched. Ranking runs on cosine(query, x̂);
    * `in_exact_top5` reports recall against the full-precision top-5,
    * so the quality loss of the compression is measured by the query
    * output itself. */
  def pqSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val codes = pqCodes(spark, dir)
    val loSeed = e.where(col("vec_id") < 8).select(col("vec_id").as("code_lo"),
      expr("slice(emb, 1, size(emb) div 2)").as("s_lo"))
    val hiSeed = e.where(col("vec_id") < 8).select(col("vec_id").as("code_hi"),
      expr("slice(emb, size(emb) div 2 + 1, size(emb) - size(emb) div 2)").as("s_hi"))
    val recon = codes
      .join(broadcast(loSeed), "code_lo")
      .join(broadcast(hiSeed), "code_hi")
      .select(col("vec_id"), concat(col("s_lo"), col("s_hi")).as("recon"))
    val qs = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_cos").desc, col("vec_id").asc)
    val top = recon.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .withColumn("pq_cos", round(cosine("qemb", "recon"), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
    val exact5 = bruteTopK(spark, dir)
      .select(col("query_id"), col("cand_id")).withColumn("hit", lit(1))
    top
      .select(col("query_id"), col("rn"), col("vec_id").as("cand_id"), col("pq_cos"))
      .join(exact5, Seq("query_id", "cand_id"), "left")
      .select(col("query_id"), col("rn"), col("cand_id"), col("pq_cos"),
        coalesce(col("hit"), lit(0)).as("in_exact_top5"))
      .orderBy("query_id", "rn")
  }

  /** Hybrid retrieval via reciprocal rank fusion (Cormack et al.,
    * SIGIR'09: score = Σ_lists 1/(k + rank), k = 60): the standard
    * combiner behind every lexical+vector hybrid search stack. Queries
    * are documents 0..4; the LEXICAL list ranks candidates by
    * distinct-token Jaccard against the query doc, the SEMANTIC list by
    * embedding cosine (the `documents`/`embeddings` tables share the
    * id space). Each list keeps top-20; fusion takes top-10.
    *
    * Scale shape: the query side of both lists is a 5-row broadcast —
    * lexical candidates come from a token-equality join against the
    * broadcast query-token set (only docs sharing ≥1 token are scored,
    * an inverted-index probe, never corpus×corpus), semantic scoring is
    * one scan with the broadcast query embeddings. The RRF sum is two
    * IEEE terms in a fixed order (`1/(60+lex) + 1/(60+sem)`), so both
    * engines compute it bit-identically; absent-from-list ranks encode
    * as 0 contribution, matching the RRF convention. */
  def rrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    val nQ = 5
    val listK = 20
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .where(length(col("tok")) >= 1)
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val qtoks = toks.where(col("doc_id") < nQ)
      .select(col("doc_id").as("query_id"), col("tok"))
    val qsizes = sizes.where(col("doc_id") < nQ)
      .select(col("doc_id").as("query_id"), col("n_tok").as("q_tok"))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("jac").desc, col("doc_id").asc)
    val lex = toks.join(broadcast(qtoks), "tok")
      .where(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("inter"))
      .join(sizes, "doc_id")
      .join(broadcast(qsizes), "query_id")
      // one IEEE division on integers: bit-identical cross-engine, so the
      // rank order (jac desc, doc asc) can never disagree with the oracle
      .withColumn("jac",
        col("inter").cast("double") / (col("q_tok") + col("n_tok") - col("inter")))
      .withColumn("lex_rn", row_number().over(wLex))
      .where(col("lex_rn") <= listK)
      .select(col("query_id"), col("doc_id").as("cand_id"), col("lex_rn"))
    val e = emb(spark, dir)
    val q = e.where(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val wSem = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val sem = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine("qemb", "emb"), 6))
      .withColumn("sem_rn", row_number().over(wSem))
      .where(col("sem_rn") <= listK)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("sem_rn"))
    val wFuse = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("cand_id").asc)
    lex.join(sem, Seq("query_id", "cand_id"), "full_outer")
      // RRF is RATIONAL (sum of two unit fractions) — plain round()'s
      // halfway handling can diverge cross-engine, so it goes through the
      // StableStats arithmetic-only rounding like every rational stat
      .withColumn("rrf", graft.ops.StableStats.stableRound(
        when(col("lex_rn").isNotNull, lit(1.0) / (lit(60) + col("lex_rn"))).otherwise(lit(0.0))
          + when(col("sem_rn").isNotNull, lit(1.0) / (lit(60) + col("sem_rn"))).otherwise(lit(0.0)),
        6))
      .withColumn("rn", row_number().over(wFuse))
      .where(col("rn") <= 10)
      .select(col("query_id"), col("rn"), col("cand_id"), col("rrf"),
        coalesce(col("lex_rn"), lit(0)).cast("int").as("lex_rn"),
        coalesce(col("sem_rn"), lit(0)).cast("int").as("sem_rn"))
      .orderBy("query_id", "rn")
  }

  /** Per-dimension standardization (z-score normalization) of the
    * embedding corpus, with per-vector standardized norms — the feature
    * scaling a pipeline fits before clustering/IVF training (k-means on
    * unstandardized dims lets one high-variance dimension own the
    * distance metric).
    *
    * Determinism contract: embedding floats are quantized to 1e4-scaled
    * integers (`floor(v·10⁴ + 0.5)` — the StableStats arithmetic round),
    * so the per-dimension moment sums are EXACT 64-bit integers with no
    * summation-order drift; mean/variance then derive from those exact
    * sums via a fixed IEEE double sequence both engines evaluate
    * bit-identically, and each z-score is re-quantized the same way so
    * the per-vector aggregates are again exact-integer. Overflow
    * headroom: Σq² per dimension stays under 2⁶³ up to ~9·10¹⁰ vectors;
    * past that, shard the moment agg and merge partials.
    *
    * Plan: posexplode (n·d rows, the one wide stage) → d-row moment agg
    * → broadcast the d-row stats frame back onto the exploded stream →
    * per-vector agg. Two hash-aggs and a broadcast join — no shuffle of
    * the vector data beyond the explode. */
  def embedNorm(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats.stableRound
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        floor(col("v") * lit(1e4) + lit(0.5)).cast("long").as("q"))
    val dims = q.groupBy(col("pos")).agg(
        count(lit(1)).as("n"), sum(col("q")).as("s"), sum(col("q") * col("q")).as("ss"))
      .select(col("pos"),
        (col("s").cast("double") / col("n")).as("mean_q"),
        // sample variance from exact integer sums: (SS − S²/n)/(n−1),
        // evaluated left-to-right in double — S² would overflow int64 at
        // corpus scale, S·(S/n) in double does not
        ((col("ss").cast("double") - col("s").cast("double") * col("s") / col("n"))
          / (col("n") - 1)).as("var_q"))
    val z = q.join(broadcast(dims), Seq("pos"))
      .withColumn("zq", when(col("var_q") > 0,
        floor((col("q") - col("mean_q")) / sqrt(col("var_q")) * lit(1e4) + lit(0.5)).cast("long"))
        .otherwise(lit(0L)))
    z.groupBy(col("vec_id"))
      .agg(
        stableRound(sqrt(sum(col("zq") * col("zq")).cast("double")) / lit(1e4), 4).as("z_norm"),
        stableRound(sum(col("zq")).cast("double") / lit(1e4), 4).as("z_sum"),
        stableRound(max(abs(col("zq"))).cast("double") / lit(1e4), 4).as("z_max"))
      .orderBy("vec_id")
  }

  /** Embedding-space class-separation audit (silhouette-style, on
    * centroids): per label, the mean cosine of its members to their own
    * centroid vs to the BEST other-label centroid, and the margin
    * between the two. Margin ≈ 0 means two labels share a region — the
    * signal that a classifier trained on these embeddings will confuse
    * them, or that the labels themselves are noisy; the audit a
    * training-data pipeline runs before trusting `label` as a
    * stratification key.
    *
    * Numeric discipline (the [[kmeansStep]] pattern): centroid
    * components snap member floats to integer 10⁻⁶ units BEFORE the sum
    * (order-free), and the per-vector cosines — already 6-dp-rounded —
    * re-snap to integer units so the per-label means are exact-integer
    * ratios. Zero cross-engine drift by construction.
    *
    * Scale shape: one posexplode hash-agg to the (labels × dims)
    * centroid frame (bounded), centroids broadcast back over one corpus
    * pass, then a labels-sized agg. */
  def embedSilhouette(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StableStats.stableRound
    val e = emb(spark, dir)
    val cent = e
      .select(col("label"), posexplode(col("emb")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(stableRound(
        sum(round(col("x") * 1e6).cast("long")).cast("double")
          / count(lit(1)) / lit(1e6), 6).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cemb"))
    val scored = e
      .crossJoin(broadcast(cent.select(col("label").as("clabel"), col("cemb"))))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(cosine("emb", "cemb"), 6).as("cos"))
    scored
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sum(when(col("label") === col("clabel"),
          round(col("cos") * 1e6).cast("long"))).as("own_u"),
        max(when(col("label") =!= col("clabel"),
          round(col("cos") * 1e6).cast("long"))).as("other_u"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        stableRound(sum(col("own_u")).cast("double") / count(lit(1)) / lit(1e6), 6)
          .as("mean_own"),
        stableRound(sum(col("other_u")).cast("double") / count(lit(1)) / lit(1e6), 6)
          .as("mean_other"),
        stableRound((sum(col("own_u")) - sum(col("other_u"))).cast("double")
          / count(lit(1)) / lit(1e6), 6).as("mean_margin"))
      .orderBy("label")
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein SIGIR'98)
    * diverse top-k — the selection rule that trades relevance against
    * redundancy: each step takes argmax of `0.7·rel − 0.3·max_sim`,
    * where max_sim is the candidate's highest similarity to anything
    * already selected. The training-data use: picking exemplars that
    * COVER a topic rather than k near-copies of its centroid (the same
    * failure SemDeDup prunes after the fact, prevented at selection
    * time).
    *
    * Two-phase shape, the production rerank discipline: the corpus-sized
    * work — scoring every vector against the query (TakeOrdered top-m
    * pool, no global sort) and the pool's m² pairwise similarities — runs
    * distributed through the codegen `cosine_sim` expression; the greedy
    * loop itself is inherently sequential, so it runs on the collected
    * O(m) pool (m = 12 here), never on the corpus. All comparisons use
    * the 6-dp-rounded similarities both engines agree on, and the MMR
    * arithmetic is the fixed-literal `0.7·rel − 0.3·max_sim` IEEE
    * sequence with floor-rounding, so the oracle's unrolled-CTE greedy
    * reproduces every selection bit-for-bit. */
  def mmrSelect(spark: SparkSession, dir: String, m: Int = 12,
      k: Int = 4): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = emb.where(col("vec_id") === 0).select(col("emb").as("qemb"))
    val pool = emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine("emb", "qemb"), 6).as("rel"),
        col("emb"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(m)
      .persist()
    val sims = pool.select(col("vec_id").as("va"), col("emb").as("ea"))
      .crossJoin(pool.select(col("vec_id").as("vb"), col("emb").as("eb")))
      .where(col("va") < col("vb"))
      .select(col("va"), col("vb"), round(cosine("ea", "eb"), 6).as("sim"))
      .collect()
      .flatMap { r =>
        val (a, b, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b) -> s, (b, a) -> s)
      }.toMap
    val cands = pool.select(col("vec_id"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    pool.unpersist()
    var selected = Vector.empty[Long]
    val out = Seq.newBuilder[(Int, Long, Double, Double, Double)]
    for (step <- 1 to math.min(k, cands.length)) {
      val scored = cands.filterNot(c => selected.contains(c._1)).map {
        case (id, rel) =>
          val maxSim =
            if (selected.isEmpty) 0.0 else selected.map(s => sims((id, s))).max
          // fixed literals 0.7/0.3 (not 1 - lam): both engines must parse
          // the SAME doubles for the IEEE sequence to match bit-for-bit
          val mmr = math.floor((0.7 * rel - 0.3 * maxSim) * 1e6 + 0.5) / 1e6
          (id, rel, maxSim, mmr)
      }
      val best = scored.minBy { case (id, _, _, mmr) => (-mmr, id) }
      out += ((step, best._1, best._2, best._3, best._4))
      selected :+= best._1
    }
    out.result().toDF("step", "vec_id", "rel", "max_sim", "mmr")
      .orderBy("step")
  }

  /** DuckDB twin of [[mmrSelect]]: the greedy loop unrolls into one CTE
    * per step (remaining candidates × selected-so-far → max_sim → argmax
    * by (mmr DESC, vec_id)), same rounded sims, same floor-rounded MMR
    * formula. */
  private def mmrOracle(m: Int, k: Int): String = {
    import graft.ops.StableStats.stableRoundSql
    val mmrExpr = stableRoundSql("0.7 * rel - 0.3 * max_sim", 6)
    val sb = new StringBuilder(
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS (SELECT e AS qe FROM emb WHERE vec_id = 0),
         |pool AS (
         |  SELECT emb.vec_id, round(list_cosine_similarity(emb.e, q.qe), 6) AS rel, emb.e
         |  FROM emb, q WHERE emb.vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT $m),
         |ps AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |    round(list_cosine_similarity(a.e, b.e), 6) AS sim
         |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         |c1 AS (SELECT vec_id, rel, 0.0 AS max_sim FROM pool),
         |s1 AS (SELECT 1 AS step, vec_id, rel, max_sim, $mmrExpr AS mmr
         |  FROM c1 ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin)
    for (i <- 2 to k) {
      val sel = (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
      sb.append(s""",
        |c$i AS (SELECT p.vec_id, p.rel, max(ps.sim) AS max_sim
        |  FROM pool p JOIN ps ON ps.va = p.vec_id AND ps.vb IN ($sel)
        |  WHERE p.vec_id NOT IN ($sel)
        |  GROUP BY p.vec_id, p.rel),
        |s$i AS (SELECT $i AS step, vec_id, rel, max_sim, $mmrExpr AS mmr
        |  FROM c$i ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin)
    }
    sb.append((1 to k)
      .map(i => s"\nSELECT step, vec_id, rel, max_sim, mmr FROM s$i")
      .mkString(" UNION ALL"))
    sb.append("\nORDER BY step")
    sb.toString
  }

  /** Plane count for the alignment blocking pass, derived from corpus
    * size: the smallest p (floored at 4 so small fixtures keep enough
    * bucket-mates for mutual-NN) with `2^p ≥ n/64`, i.e. expected bucket
    * occupancy ≈ 64 rows per side. A FIXED plane count is a
    * constant-factor reduction of the cross join — |A|·|B|/2^p pairs is
    * still quadratic in corpus size; growing p with log₂(n) pins the
    * expected per-bucket population (and therefore total candidate pairs
    * ≈ n·64, LINEAR in n) at any scale. Pure integer arithmetic — no
    * floating log₂ whose ulp could flip the count at a power-of-two
    * boundary; the DuckDB twin's `ceil(log2(...))` only ever evaluates
    * log₂ at arguments far from representation boundaries or exactly on
    * powers of two, where IEEE log2 is exact. */
  private[graft] def alignPlanes(n: Long): Int = {
    val m = (n + 63) / 64 // ceil(n / 64) target bucket count
    math.max(4, if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1))
  }

  /** Hot-bucket cap for the alignment equi-join: each (bucket, side)
    * cohort keeps at most this many members, chosen by a deterministic
    * md5 order both engines reproduce. Sign-LSH hubs (near-zero vectors,
    * boilerplate embeddings) otherwise produce one degenerate bucket
    * whose a⋈b blow-up is |B|² no matter how many planes are used —
    * the same failure mode [[Dedup.MaxBucket]] star-routing guards in the
    * MinHash path. Capping (rather than star-routing) is the right
    * discipline HERE because mutual-NN needs actual pair scores, not mere
    * connectivity: a capped bucket degrades to a bounded uniform sample
    * of an (by construction) near-duplicate family, the standard ANN
    * search-budget truncation. */
  private[graft] val AlignMaxBucket = 1024

  /** Margin-based mutual-nearest-neighbor alignment between two corpus
    * slices (label 0 = "source", label 1 = "target") — the bitext-mining
    * shape of CCMatrix / the Artetxe-Schwenk margin criterion
    * (arXiv:1811.01136): a candidate pair survives only if each side is
    * the other's rank-1 neighbor, and its score is the cosine MARGINED
    * against both sides' local neighborhood density
    * (`2·cos − avg(top-4 NN of a) − avg(top-4 NN of b)`), which kills
    * hub vectors that are everyone's nearest neighbor.
    *
    * Scale shape: candidates come from a sign-LSH bucket equi-join
    * ([[lshTopK]]'s md5-portable hyperplanes) with [[alignPlanes]]
    * growing the bucket count with log₂(n) and [[AlignMaxBucket]]
    * bounding any single cohort, so the bipartite stage emits O(n·64)
    * candidate pairs — never |A|×|B|. Ranks and neighborhood averages
    * are windows partitioned by vector id over the candidate set. All
    * rounding goes through [[graft.ops.StableStats]] (floor-based
    * half-up + exact integer micro-unit sums for the neighborhood
    * averages) so ties and 6th-digit boundaries cut identically in both
    * engines. The corpus count that sizes the plane table comes from
    * CATALOG STATISTICS — parquet footer row counts read driver-side
    * ([[graft.sources.FooterManifest.rowCountFromFooters]]), zero Spark
    * jobs — an index-build-time decision, same as IVF's codebook sizing
    * (round 11 ran an `e.count()` job per invocation here; PlanSpec now
    * pins that constructing this query schedules no job). The oracle's
    * `count(*) FROM embeddings` sees the same n: `emb` is the bare
    * table, and footer counts are exact. */
  def alignMutualNn(spark: SparkSession, dir: String): DataFrame = {
    val n = graft.sources.FooterManifest
      .rowCountFromFooters(spark, s"$dir/embeddings.parquet")
    alignMutualNnOf(emb(spark, dir), alignPlanes(n), AlignMaxBucket)
  }

  /** The alignment candidate stage alone: sign-LSH bucketing over
    * `nPlanes` hyperplanes, per-(bucket, side) md5-order cap at
    * `maxBucket`, then the bipartite bucket equi-join. Exposed so the
    * degenerate-bucket spec can pin the cardinality contract — one
    * all-identical bucket emits at most `maxBucket²` pairs no matter how
    * many members it has. */
  private[graft] def alignCandidates(e: DataFrame, nPlanes: Int, maxBucket: Int): DataFrame = {
    val spark = e.sparkSession
    val planes = spark.range(nPlanes).select(col("id").cast("int").as("p"),
      expr(s"transform(sequence(0, ${DIMS - 1}), d -> " +
        "(cast(conv(substring(md5(concat(id, '_', d)), 1, 8), 16, 10) as bigint) % 2001) / 1000.0D - 1.0D)")
        .as("arr"))
    // bucket id = Σ_p sign-bit(p)·2^p — an integer signature that works
    // for ANY plane count (the old fixed-width bit-string concat could
    // not grow with n)
    val bits = e.crossJoin(broadcast(planes))
      .withColumn("b",
        when(cosine("emb", "arr") >= 0, expr("shiftleft(1L, p)")).otherwise(lit(0L)))
    val sig = bits.groupBy(col("vec_id")).agg(sum(col("b")).as("bucket"))
      .join(e, "vec_id")
    // deterministic engine-portable cap order: md5 of the decimal id
    // (binary string compare in both engines), id tie-break
    val wcap = Window.partitionBy(col("bucket"), col("label"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val capped = sig.withColumn("rcap", row_number().over(wcap))
      .where(col("rcap") <= maxBucket)
    val a = capped.where(col("label") === 0)
      .select(col("vec_id").as("a_id"), col("bucket"), col("emb").as("aemb"))
    val b = capped.where(col("label") === 1)
      .select(col("vec_id").as("b_id"), col("bucket"), col("emb").as("bemb"))
    a.join(b, "bucket")
  }

  /** [[alignMutualNn]] with explicit plane count and bucket cap — the
    * testable core (degenerate-bucket and plane-scaling specs drive it
    * directly). */
  private[graft] def alignMutualNnOf(e: DataFrame, nPlanes: Int, maxBucket: Int): DataFrame = {
    import graft.ops.StableStats.stableRound
    val wa = Window.partitionBy(col("a_id")).orderBy(col("cos_sim").desc, col("b_id").asc)
    val wb = Window.partitionBy(col("b_id")).orderBy(col("cos_sim").desc, col("a_id").asc)
    val scored = alignCandidates(e, nPlanes, maxBucket)
      .withColumn("cos_sim", stableRound(cosine("aemb", "bemb"), 6))
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .persist()
    // neighborhood averages in exact 10⁻⁶ integer units: summing ≤4
    // rounded doubles directly would expose cross-engine addition-order
    // drift; integer sums are order-free and the final ÷ is one IEEE op
    def nnAvg = stableRound(
      sum(round(col("cos_sim") * 1e6).cast("long")).cast("double")
        / count(lit(1)) / 1e6, 6)
    val aTop = scored.where(col("ra") <= 4).groupBy(col("a_id")).agg(nnAvg.as("a_nn_avg"))
    val bTop = scored.where(col("rb") <= 4).groupBy(col("b_id")).agg(nnAvg.as("b_nn_avg"))
    scored.where(col("ra") === 1 && col("rb") === 1)
      .join(aTop, "a_id").join(bTop, "b_id")
      .withColumn("margin",
        stableRound(lit(2.0) * col("cos_sim") - col("a_nn_avg") - col("b_nn_avg"), 4))
      .select(col("a_id"), col("b_id"), col("cos_sim"), col("margin"))
      .orderBy("a_id")
  }

  val queries: Seq[Query] = Seq(
    Query("x_align_mutual_nn", alignMutualNn _, {
      import graft.ops.StableStats.stableRoundSql
      // same adaptive plane count as alignPlanes (ceil-log2 over ceil(n/64),
      // floored at 4), same integer bucket id, same md5 cap order, same
      // stable floor-based rounding with integer micro-unit nn averages
      val nnAvgSql = stableRoundSql(
        "CAST(sum(CAST(round(cos_sim * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6", 6)
      s"""WITH np AS (SELECT GREATEST(4,
         |    CAST(ceil(log2(CAST((count(*) + 63) // 64 AS DOUBLE))) AS INT)) AS np
         |  FROM embeddings),
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
         |planes AS (SELECT unnest(generate_series(0, np - 1)) AS p FROM np),
         |parr AS (SELECT p, list_transform(generate_series(0, ${DIMS - 1}),
         |    d -> (('0x' || substr(md5(p || '_' || d), 1, 8))::BIGINT % 2001) / 1e3 - 1e0) AS arr
         |  FROM planes),
         |sig AS (SELECT emb.vec_id,
         |    sum(CASE WHEN list_cosine_similarity(emb.e, parr.arr) >= 0
         |      THEN (1::BIGINT << p) ELSE 0 END) AS bucket
         |  FROM emb CROSS JOIN parr GROUP BY emb.vec_id),
         |se AS (SELECT sig.vec_id, sig.bucket, emb.e, emb.label FROM sig JOIN emb USING (vec_id)),
         |capped AS (SELECT vec_id, bucket, e, label FROM (
         |    SELECT se.*, row_number() OVER (PARTITION BY bucket, label
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rcap FROM se)
         |  WHERE rcap <= ${AlignMaxBucket}),
         |a AS (SELECT vec_id AS a_id, bucket, e AS ae FROM capped WHERE label = 0),
         |b AS (SELECT vec_id AS b_id, bucket, e AS be FROM capped WHERE label = 1),
         |scored AS (SELECT a_id, b_id,
         |    ${stableRoundSql("list_cosine_similarity(ae, be)", 6)} AS cos_sim
         |  FROM a JOIN b USING (bucket)),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id) AS ra,
         |    row_number() OVER (PARTITION BY b_id ORDER BY cos_sim DESC, a_id) AS rb
         |  FROM scored),
         |atop AS (SELECT a_id, $nnAvgSql AS a_nn_avg FROM r WHERE ra <= 4 GROUP BY 1),
         |btop AS (SELECT b_id, $nnAvgSql AS b_nn_avg FROM r WHERE rb <= 4 GROUP BY 1)
         |SELECT r.a_id, r.b_id, r.cos_sim,
         |  ${stableRoundSql("2 * r.cos_sim - a_nn_avg - b_nn_avg", 4)} AS margin
         |FROM r JOIN atop USING (a_id) JOIN btop USING (b_id)
         |WHERE ra = 1 AND rb = 1 ORDER BY a_id""".stripMargin
    }),
    Query("x_sim_mmr", (s, d) => mmrSelect(s, d), mmrOracle(12, 4)),
    Query("x_embed_silhouette", embedSilhouette _, {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |px AS (SELECT label, unnest(emb) AS x,
         |    unnest(generate_series(1, len(emb))) AS pos FROM e),
         |c1 AS (SELECT label, pos,
         |    ${stableRoundSql(
              "CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6", 6)} AS c
         |  FROM px GROUP BY label, pos),
         |cent AS (SELECT label AS clabel, list(c ORDER BY pos) AS cemb
         |  FROM c1 GROUP BY label),
         |scored AS (SELECT e.vec_id, e.label, cent.clabel,
         |    round(list_cosine_similarity(e.emb, cent.cemb), 6) AS cos
         |  FROM e CROSS JOIN cent),
         |per AS (SELECT vec_id, label,
         |    CAST(sum(CASE WHEN label = clabel
         |      THEN CAST(round(cos * 1e6) AS BIGINT) END) AS BIGINT) AS own_u,
         |    CAST(max(CASE WHEN label <> clabel
         |      THEN CAST(round(cos * 1e6) AS BIGINT) END) AS BIGINT) AS other_u
         |  FROM scored GROUP BY vec_id, label)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  ${stableRoundSql("CAST(sum(own_u) AS DOUBLE) / count(*) / 1e6", 6)} AS mean_own,
         |  ${stableRoundSql("CAST(sum(other_u) AS DOUBLE) / count(*) / 1e6", 6)} AS mean_other,
         |  ${stableRoundSql(
              "CAST(sum(own_u) - sum(other_u) AS DOUBLE) / count(*) / 1e6", 6)} AS mean_margin
         |FROM per GROUP BY label ORDER BY label""".stripMargin
    }),
    Query("x_embed_norm", embedNorm _, {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH e AS (SELECT vec_id, unnest(embedding) AS v,
         |    unnest(generate_series(1, len(embedding))) AS pos FROM embeddings),
         |q AS (SELECT vec_id, pos,
         |    CAST(floor(CAST(v AS DOUBLE) * 1e4 + 5e-1) AS BIGINT) AS q FROM e),
         |d AS (SELECT pos, count(*) AS n, sum(q) AS s, sum(q * q) AS ss
         |  FROM q GROUP BY 1),
         |st AS (SELECT pos, CAST(s AS DOUBLE) / n AS mean_q,
         |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS var_q FROM d),
         |z AS (SELECT vec_id, CASE WHEN var_q > 0
         |    THEN CAST(floor((q - mean_q) / sqrt(var_q) * 1e4 + 5e-1) AS BIGINT)
         |    ELSE 0 END AS zq
         |  FROM q JOIN st USING (pos))
         |SELECT vec_id,
         |  ${stableRoundSql("sqrt(CAST(sum(zq * zq) AS DOUBLE)) / 1e4", 4)} AS z_norm,
         |  ${stableRoundSql("CAST(sum(zq) AS DOUBLE) / 1e4", 4)} AS z_sum,
         |  ${stableRoundSql("CAST(max(abs(zq)) AS DOUBLE) / 1e4", 4)} AS z_max
         |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }),
    Query("x_rrf_hybrid", rrfHybrid _, {
      import graft.ops.StableStats.stableRoundSql
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |    FROM documents) WHERE len(tok) >= 1),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM toks GROUP BY doc_id),
         |qt AS (SELECT doc_id AS query_id, tok FROM toks WHERE doc_id < 5),
         |qs AS (SELECT doc_id AS query_id, n_tok AS q_tok FROM sizes WHERE doc_id < 5),
         |inter AS (SELECT qt.query_id, toks.doc_id, count(*) AS inter
         |  FROM toks JOIN qt USING (tok) WHERE toks.doc_id <> qt.query_id
         |  GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id AS cand_id, lex_rn FROM (
         |    SELECT i.query_id, i.doc_id, row_number() OVER (PARTITION BY i.query_id
         |        ORDER BY CAST(i.inter AS DOUBLE) / (qs.q_tok + s.n_tok - i.inter) DESC,
         |                 i.doc_id) AS lex_rn
         |    FROM inter i JOIN sizes s ON s.doc_id = i.doc_id
         |    JOIN qs ON qs.query_id = i.query_id)
         |  WHERE lex_rn <= 20),
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 5),
         |sem AS (SELECT query_id, cand_id, sem_rn FROM (
         |    SELECT q.query_id, emb.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_cosine_similarity(q.qe, emb.e), 6) DESC,
         |                 emb.vec_id) AS sem_rn
         |    FROM emb CROSS JOIN q WHERE emb.vec_id <> q.query_id)
         |  WHERE sem_rn <= 20),
         |fused AS (SELECT
         |    coalesce(lex.query_id, sem.query_id) AS query_id,
         |    coalesce(lex.cand_id, sem.cand_id) AS cand_id,
         |    ${stableRoundSql(
                 "coalesce(1e0/(60 + lex.lex_rn), 0) + coalesce(1e0/(60 + sem.sem_rn), 0)", 6)} AS rrf,
         |    coalesce(lex.lex_rn, 0) AS lex_rn, coalesce(sem.sem_rn, 0) AS sem_rn
         |  FROM lex FULL OUTER JOIN sem
         |    ON lex.query_id = sem.query_id AND lex.cand_id = sem.cand_id)
         |SELECT query_id, CAST(rn AS INTEGER) AS rn, cand_id, rrf,
         |  CAST(lex_rn AS INTEGER) AS lex_rn, CAST(sem_rn AS INTEGER) AS sem_rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, cand_id) AS rn FROM fused)
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin
    }),
    Query("x_pq_search", pqSearch _, {
      def assign(sub: String, out: String) =
        s"""$out AS (SELECT vec_id, c_id FROM (
           |  SELECT t.vec_id, c.vec_id AS c_id,
           |    row_number() OVER (PARTITION BY t.vec_id
           |      ORDER BY round(list_cosine_similarity(t.s, c.s), 6) DESC, c.vec_id ASC) AS r
           |  FROM $sub t CROSS JOIN (SELECT vec_id, s FROM $sub WHERE vec_id < 8) c)
           |  WHERE r = 1)""".stripMargin
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |lo AS (SELECT vec_id, e[1 : len(e) // 2] AS s FROM emb),
         |hi AS (SELECT vec_id, e[len(e) // 2 + 1 : len(e)] AS s FROM emb),
         |${assign("lo", "clo")},
         |${assign("hi", "chi")},
         |recon AS (
         |  SELECT clo.vec_id, list_concat(sl.s, sh.s) AS recon
         |  FROM clo JOIN chi USING (vec_id)
         |  JOIN lo sl ON sl.vec_id = clo.c_id
         |  JOIN hi sh ON sh.vec_id = chi.c_id),
         |qs AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 20),
         |scored AS (SELECT qs.query_id, recon.vec_id AS cand_id,
         |    round(list_cosine_similarity(qs.qe, recon.recon), 6) AS pq_cos
         |  FROM recon CROSS JOIN qs WHERE recon.vec_id <> qs.query_id),
         |pr AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY pq_cos DESC, cand_id) AS rn FROM scored),
         |exact AS (SELECT qs.query_id, emb.vec_id AS cand_id,
         |    round(list_cosine_similarity(qs.qe, emb.e), 6) AS cos_sim
         |  FROM emb CROSS JOIN qs WHERE emb.vec_id <> qs.query_id),
         |e5 AS (SELECT query_id, cand_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS ern FROM exact)
         |  WHERE ern <= 5)
         |SELECT pr.query_id, CAST(pr.rn AS INTEGER) AS rn, pr.cand_id, pr.pq_cos,
         |  CAST(CASE WHEN e5.cand_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS in_exact_top5
         |FROM pr LEFT JOIN e5 ON pr.query_id = e5.query_id AND pr.cand_id = e5.cand_id
         |WHERE pr.rn <= 5 ORDER BY pr.query_id, pr.rn""".stripMargin
    }),
    Query("x_pq_codes", pqCodes _, {
      def assign(sub: String, out: String) =
        s"""$out AS (SELECT vec_id, c_id FROM (
           |  SELECT t.vec_id, c.vec_id AS c_id,
           |    row_number() OVER (PARTITION BY t.vec_id
           |      ORDER BY round(list_cosine_similarity(t.s, c.s), 6) DESC, c.vec_id ASC) AS r
           |  FROM $sub t CROSS JOIN (SELECT vec_id, s FROM $sub WHERE vec_id < 8) c)
           |  WHERE r = 1)""".stripMargin
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |lo AS (SELECT vec_id, e[1 : len(e) // 2] AS s FROM emb),
         |hi AS (SELECT vec_id, e[len(e) // 2 + 1 : len(e)] AS s FROM emb),
         |${assign("lo", "clo")},
         |${assign("hi", "chi")}
         |SELECT vec_id, clo.c_id AS code_lo, chi.c_id AS code_hi
         |FROM clo JOIN chi USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    }),
    Query("x_kmeans_step", kmeansStep _, {
      import graft.ops.StableStats
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id < 8),
         |scored AS (SELECT emb.vec_id, cent.c_id,
         |    round(list_cosine_similarity(emb.e, cent.ce), 6) AS c_cos
         |  FROM emb CROSS JOIN cent),
         |assigned AS (SELECT vec_id, c_id AS cluster FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY c_cos DESC, c_id ASC) AS r FROM scored)
         |  WHERE r = 1),
         |px AS (SELECT cluster, CAST(i AS INTEGER) - 1 AS pos, e[CAST(i AS INTEGER)] AS x
         |  FROM (SELECT cluster, e, unnest(generate_series(1, len(e))) AS i
         |        FROM assigned JOIN emb USING (vec_id)))
         |SELECT cluster, pos, count(*) AS n,
         |  ${StableStats.stableRoundSql(
              "CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6", 6)} AS centroid
         |FROM px GROUP BY cluster, pos
         |ORDER BY cluster, pos""".stripMargin
    }),
    Query("x_sim_quantized", quantizedTopK _,
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |qn AS (SELECT vec_id, e, list_transform(e, x -> round(x / s * 127)) AS q
        |  FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS s FROM emb)),
        |qs AS (SELECT vec_id AS query_id, q AS qq, e AS qe FROM qn WHERE vec_id < 20),
        |scored AS (SELECT qs.query_id, qn.vec_id AS cand_id,
        |    round(list_cosine_similarity(qs.qq, qn.q), 6) AS q_cos
        |  FROM qn CROSS JOIN qs WHERE qn.vec_id <> qs.query_id),
        |qr AS (SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY q_cos DESC, cand_id) AS rn FROM scored),
        |exact AS (SELECT qs.query_id, qn.vec_id AS cand_id,
        |    round(list_cosine_similarity(qs.qe, qn.e), 6) AS cos_sim
        |  FROM qn CROSS JOIN qs WHERE qn.vec_id <> qs.query_id),
        |e5 AS (SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS ern FROM exact)
        |  WHERE ern <= 5)
        |SELECT qr.query_id, CAST(qr.rn AS INTEGER) AS rn, qr.cand_id, qr.q_cos,
        |  CAST(CASE WHEN e5.cand_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS in_exact_top5
        |FROM qr LEFT JOIN e5 ON qr.query_id = e5.query_id AND qr.cand_id = e5.cand_id
        |WHERE qr.rn <= 5 ORDER BY qr.query_id, qr.rn""".stripMargin),
    Query("x_label_noise", (s, d) => labelNoise(s, d), {
      val bucketConcat = (0 until PLANES)
        .map(i => s"max(CASE WHEN p = $i THEN bit END)").mkString(" || ")
      s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         |planes AS (SELECT p, list_transform(generate_series(0, ${DIMS - 1}),
         |    d -> (('0x' || substr(md5(p || '_' || d), 1, 8))::BIGINT % 2001) / 1e3 - 1e0) AS arr
         |  FROM generate_series(0, ${PLANES - 1}) t(p)),
         |bits AS (SELECT emb.vec_id, planes.p,
         |    CASE WHEN list_cosine_similarity(emb.e, planes.arr) >= 0 THEN '1' ELSE '0' END AS bit
         |  FROM emb CROSS JOIN planes),
         |sig AS (SELECT vec_id, $bucketConcat AS bucket FROM bits GROUP BY vec_id),
         |labeled AS (SELECT sig.vec_id, sig.bucket, emb.label
         |  FROM sig JOIN emb USING (vec_id)),
         |votes AS (SELECT bucket, label AS blabel, CAST(count(*) AS BIGINT) AS n
         |  FROM labeled GROUP BY bucket, label),
         |adj AS (SELECT l.vec_id, l.label, l.bucket, v.blabel,
         |    v.n - CASE WHEN v.blabel = l.label THEN 1 ELSE 0 END AS adj
         |  FROM labeled l JOIN votes v USING (bucket)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY adj DESC, CASE WHEN blabel = label THEN 0 ELSE 1 END, blabel) AS rn
         |  FROM adj)
         |SELECT vec_id, label, bucket, blabel AS suggested, CAST(adj AS BIGINT) AS n_agree
         |FROM r WHERE rn = 1 AND blabel <> label AND adj >= 2
         |ORDER BY n_agree DESC, vec_id LIMIT 20""".stripMargin
    }),
    Query("x_sim_lsh_topk", lshTopK _, {
      val bucketConcat = (0 until PLANES)
        .map(i => s"max(CASE WHEN p = $i THEN bit END)").mkString(" || ")
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |planes AS (SELECT p, list_transform(generate_series(0, ${DIMS - 1}),
         |    d -> (('0x' || substr(md5(p || '_' || d), 1, 8))::BIGINT % 2001) / 1e3 - 1e0) AS arr
         |  FROM generate_series(0, ${PLANES - 1}) t(p)),
         |bits AS (SELECT emb.vec_id, planes.p,
         |    CASE WHEN list_cosine_similarity(emb.e, planes.arr) >= 0 THEN '1' ELSE '0' END AS bit
         |  FROM emb CROSS JOIN planes),
         |sig AS (SELECT vec_id, $bucketConcat AS bucket FROM bits GROUP BY vec_id),
         |se AS (SELECT sig.vec_id, sig.bucket, emb.e FROM sig JOIN emb USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, bucket AS q_bucket, e AS qe FROM se WHERE vec_id < 20),
         |scored AS (SELECT q.query_id, se.vec_id AS cand_id,
         |    round(list_cosine_similarity(q.qe, se.e), 6) AS cos_sim, q.q_bucket
         |  FROM se JOIN q ON se.bucket = q.q_bucket AND se.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn FROM scored)
         |SELECT query_id, CAST(rn AS INTEGER) AS rn, cand_id, cos_sim,
         |  q_bucket AS bucket
         |FROM r WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin
    }),
    Query("x_sim_topk_brute", bruteTopK _,
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 20),
        |scored AS (SELECT q.query_id, emb.vec_id AS cand_id,
        |    round(list_cosine_similarity(q.qe, emb.e), 6) AS cos_sim
        |  FROM emb CROSS JOIN q WHERE emb.vec_id <> q.query_id),
        |ranked AS (SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM scored)
        |SELECT query_id, CAST(rn AS INTEGER) AS rn, cand_id, cos_sim
        |FROM ranked WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    Query("x_sim_ivf_recall", ivfRecall _, {
      import graft.ops.StableStats
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id < 8),
         |assigned AS (SELECT emb.vec_id, cent.c_id,
         |    round(list_cosine_similarity(emb.e, cent.ce), 6) AS c_cos
         |  FROM emb CROSS JOIN cent),
         |clustered AS (SELECT vec_id, c_id AS cluster FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS r FROM assigned)
         |  WHERE r = 1),
         |ce AS (SELECT c.vec_id, c.cluster, emb.e FROM clustered c JOIN emb USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, cluster AS q_cluster, e AS qe
         |  FROM ce WHERE vec_id >= 100 AND vec_id < 110),
         |ivf AS (SELECT query_id, cand_id FROM (
         |    SELECT q.query_id, ce.vec_id AS cand_id, row_number() OVER
         |      (PARTITION BY q.query_id
         |       ORDER BY round(list_cosine_similarity(q.qe, ce.e), 6) DESC, ce.vec_id) AS rn
         |    FROM ce JOIN q ON ce.cluster = q.q_cluster AND ce.vec_id <> q.query_id)
         |  WHERE rn <= 3),
         |truth AS (SELECT query_id, cand_id FROM (
         |    SELECT q.query_id, emb.vec_id AS cand_id, row_number() OVER
         |      (PARTITION BY q.query_id
         |       ORDER BY round(list_cosine_similarity(q.qe, emb.e), 6) DESC, emb.vec_id) AS rn
         |    FROM emb CROSS JOIN q WHERE emb.vec_id <> q.query_id)
         |  WHERE rn <= 3),
         |hits AS (SELECT t.query_id, count(*) AS n_hits
         |  FROM truth t JOIN ivf USING (query_id, cand_id) GROUP BY 1)
         |SELECT q.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  ${StableStats.ratioSql("coalesce(n_hits, 0)", "3")} AS recall_at_3
         |FROM q LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin
    }),
    Query("x_sim_ivf_topk", ivfTopK _,
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cent AS (SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id < 8),
        |assigned AS (SELECT emb.vec_id, cent.c_id,
        |    round(list_cosine_similarity(emb.e, cent.ce), 6) AS c_cos
        |  FROM emb CROSS JOIN cent),
        |clustered AS (SELECT vec_id, c_id AS cluster FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS r FROM assigned)
        |  WHERE r = 1),
        |ce AS (SELECT c.vec_id, c.cluster, emb.e FROM clustered c JOIN emb USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, cluster AS q_cluster, e AS qe
        |  FROM ce WHERE vec_id >= 100 AND vec_id < 110),
        |scored AS (SELECT q.query_id, ce.vec_id AS cand_id,
        |    round(list_cosine_similarity(q.qe, ce.e), 6) AS cos_sim, q.q_cluster
        |  FROM ce JOIN q ON ce.cluster = q.q_cluster AND ce.vec_id <> q.query_id),
        |ranked AS (SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM scored)
        |SELECT query_id, CAST(rn AS INTEGER) AS rn, cand_id, cos_sim,
        |  q_cluster AS cluster
        |FROM ranked WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin)
  )
}
