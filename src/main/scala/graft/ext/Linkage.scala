package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Fuzzy record linkage with multi-pass blocking — the entity-resolution
  * shape (Fellegi-Sunter via blocking; see also MMDS §3.9 on the
  * candidate-pair discipline): canonicalize records to a name table,
  * generate candidate pairs ONLY within blocks, verify candidates with an
  * edit-distance predicate. A single blocking key loses recall — two
  * names can differ in exactly the token you blocked on — so linkage
  * runs one pass per token position and unions the candidate sets, the
  * standard multi-pass fix.
  *
  * Scale shape: the corpus first collapses to the DISTINCT name table
  * with support counts (one hash-agg — names are a vocabulary, Heaps'-law
  * sublinear in row count), so the self-joins run on vocab-sized frames.
  * Candidate volume is Σ|block|², bounded by [[maxBlock]] exactly like
  * the LSH hot-bucket cap in [[Dedup]]: a degenerate block (every record
  * sharing one token) is dropped from THAT pass — the other pass still
  * contributes its candidates, which is the point of multi-pass blocking.
  * The levenshtein verify runs only on candidates, never on the cross
  * product.
  */
object Linkage {

  /** Blocks above this size are dropped from their blocking pass. */
  val MaxBlock = 10000

  /** Canonical name table: (name, n) with first/second token block keys. */
  private def names(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tok1", split(col("name"), " ").getItem(0))
      .withColumn("tok2", split(col("name"), " ").getItem(1))

  /** One blocking pass: candidate pairs within blocks of `key`, ordered
    * (name_a < name_b), hot blocks dropped. */
  private def blockPass(nm: DataFrame, key: String, maxBlock: Int): DataFrame = {
    val sized = nm.join(
      nm.groupBy(col(key)).agg(count(lit(1)).as("block_n")), Seq(key))
      .where(col("block_n") <= maxBlock)
    val a = sized.select(col(key).as("k"), col("name").as("name_a"), col("n").as("n_a"))
    val b = sized.select(col(key).as("k"), col("name").as("name_b"), col("n").as("n_b"))
    a.join(b, Seq("k")).where(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"))
  }

  /** Linked name pairs: candidates from both blocking passes, verified at
    * `maxDist` edit distance. Output carries each side's support count —
    * the merge decision downstream keeps the higher-support spelling as
    * canonical. */
  def fuzzyLinkage(spark: SparkSession, dir: String,
      maxDist: Int = 3, maxBlock: Int = MaxBlock): DataFrame =
    linkPairs(names(spark, dir).persist(), maxDist, maxBlock)
      .orderBy(col("dist"), col("name_a"), col("name_b"))

  /** [[fuzzyLinkage]] without the presentation sort — the composition
    * form [[entityResolve]] feeds into the label loop.
    *
    * VERIFY BEFORE THE DISTINCT EXCHANGE (round 22, guide §2.3): the
    * edit-distance check runs map-side on the raw candidate stream and
    * only SURVIVORS reach the dedup shuffle — the old shape shuffled
    * every blocked candidate to dedup them first, then filtered. The
    * check uses the THRESHOLD-BOUNDED DP (`levenshtein(a, b, t)` stops
    * at t and returns −1 past it — O(t·len) per pair, the same trick as
    * [[graft.ext.Dedup.editDistancePairs]]), which returns the exact
    * distance for every kept pair, so output values are unchanged; a
    * candidate surviving both blocking passes pays the bounded DP
    * twice, a map-side constant that buys an orders-of-magnitude
    * smaller exchange on a web-scale name table. `dist` is functionally
    * dependent on the pair, so distinct-after-verify keeps the
    * identical pair set. */
  private def linkPairs(nm: DataFrame, maxDist: Int, maxBlock: Int): DataFrame =
    blockPass(nm, "tok2", maxBlock)
      .unionByName(blockPass(nm, "tok1", maxBlock))
      .withColumn("dist", expr(s"levenshtein(name_a, name_b, $maxDist)"))
      .where(col("dist") >= 0)
      .distinct()
      .select(col("name_a"), col("name_b"), col("dist"), col("n_a"), col("n_b"))

  /** End-to-end entity resolution: linked pairs → connected components
    * (transitive closure of "these spellings are the same entity") →
    * canonicalization, keeping each family's highest-support spelling.
    * Every distinct name maps to exactly one canonical form; unlinked
    * names are their own entity. This is the composition the linkage
    * pairs exist FOR — downstream joins normalize through it.
    *
    * Scale shape: reuses [[Curation.dupClusterLabels]] (min-label hook +
    * adaptive pointer jumping, O(log diameter) rounds) — the label loop
    * is key-type-agnostic, so name strings propagate exactly like doc
    * ids. The canonical pick is one rank window over the vocab-sized
    * labeled frame. */
  def entityResolve(spark: SparkSession, dir: String,
      maxDist: Int = 3, maxBlock: Int = MaxBlock): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nm = names(spark, dir).persist()
    val links = linkPairs(nm, maxDist, maxBlock)
    val cc = Curation.dupClusterLabels(
      links.select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))).labelsUnsorted
    val labeled = nm.join(cc, nm("name") === cc("doc_id"), "left")
      .select(col("name"), col("n"), coalesce(col("cluster"), col("name")).as("cluster"))
    val byCluster = Window.partitionBy(col("cluster"))
      .orderBy(col("n").desc, col("name").asc)
    val canon = labeled.withColumn("rn", row_number().over(byCluster))
      .where(col("rn") === 1).select(col("cluster"), col("name").as("canonical"))
    labeled.join(canon, Seq("cluster"))
      .select(col("name"), col("canonical"), col("n").as("n_records"))
      .orderBy("name")
  }

  /** Linked-pairs SQL (DuckDB), no ordering — shared by the linkage
    * oracle and the entity-resolution oracle's closure. */
  private val linkPairsSql: String =
    """WITH nm AS (SELECT p_name AS name, count(*) AS n,
      |    string_split(p_name, ' ')[1] AS tok1, string_split(p_name, ' ')[2] AS tok2
      |  FROM part GROUP BY 1),
      |cand AS (
      |  SELECT a.name AS name_a, b.name AS name_b, a.n AS n_a, b.n AS n_b
      |  FROM nm a JOIN nm b ON a.tok2 = b.tok2 AND a.name < b.name
      |  UNION
      |  SELECT a.name, b.name, a.n, b.n
      |  FROM nm a JOIN nm b ON a.tok1 = b.tok1 AND a.name < b.name)
      |SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist,
      |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
      |FROM cand WHERE levenshtein(name_a, name_b) <= 3""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("x_fuzzy_linkage", (s, d) => fuzzyLinkage(s, d),
      s"""$linkPairsSql
         |ORDER BY dist, name_a, name_b""".stripMargin),
    Query("x_entity_resolve", (s, d) => entityResolve(s, d),
      s"""WITH RECURSIVE links AS ($linkPairsSql),
         |names AS (SELECT p_name AS name, count(*) AS n FROM part GROUP BY 1),
         |e AS (SELECT name_a AS src, name_b AS dst FROM links
         |  UNION SELECT name_b, name_a FROM links
         |  UNION SELECT DISTINCT name_a, name_a FROM links
         |  UNION SELECT DISTINCT name_b, name_b FROM links),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         |cc AS (SELECT src AS name, min(dst) AS cluster FROM reach GROUP BY src),
         |lab AS (SELECT names.name, names.n, coalesce(cc.cluster, names.name) AS cluster
         |  FROM names LEFT JOIN cc USING (name)),
         |canon AS (SELECT cluster, name AS canonical FROM (
         |    SELECT cluster, name,
         |      row_number() OVER (PARTITION BY cluster ORDER BY n DESC, name ASC) AS rn
         |    FROM lab) WHERE rn = 1)
         |SELECT lab.name, canon.canonical, CAST(lab.n AS BIGINT) AS n_records
         |FROM lab JOIN canon USING (cluster) ORDER BY lab.name""".stripMargin)
  )
}
