package graft.ext

import graft.SparkSpec

/** Corpus census: the KMV sketch must be an audited, deterministic
  * estimator — not a hope. */
class CorpusStatsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bpe merges: the textbook low/lower fixture learns (l o), (lo w), (e r)") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-bpe").toString
    // vocab: low×2, lower×1, plus a single-char word that must contribute
    // no pairs. Hand-traced: pairs {l o:3, o w:3, w e:1, e r:1} — tie at 3
    // breaks to 'l o'; then 'lo w':3 wins; then tie at 1 breaks to 'e r'.
    Seq((0L, "low low a", "en", "s0", 9L), (1L, "lower a", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val got = CorpusStats.bpeMerges(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, "l o", 3L), (2, "lo w", 3L), (3, "e r", 1L)))
  }

  test("bpe merges: greedy LTR on overlapping runs — 'a a a' merges left first") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-bpe2").toString
    Seq((0L, "aaa aaa", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val got = CorpusStats.bpeMerges(spark, d, steps = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // word 'aaa' (count 2) holds TWO 'a a' adjacencies → n = 2·2 = 4;
    // step 1 merges the LEFT 'a a' (greedy LTR) leaving 'aa a', so step 2
    // sees pair 'aa a' (not 'a aa') at the word count 2
    assert(got.toSeq === Seq((1, "a a", 4L), (2, "aa a", 2L)))
  }

  test("bpe segment: low/lower after 3 merges tokenizes to low / low+er / a") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-bpeseg").toString
    Seq((0L, "low low a", "en", "s0", 9L), (1L, "lower a", "en", "s1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val got = CorpusStats.bpeSegment(spark, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_subwords"), r.getAs[Long]("n_chars"))).toMap
    // merges (global): (l o), (lo w), (e r).
    // s0 = {low×2 → [low], a×1 → [a]}: 3 words, 2·1+1 = 3 subwords, 7 chars
    // s1 = {lower×1 → [low, er], a×1 → [a]}: 2 words, 3 subwords, 6 chars
    assert(got === Map("s0" -> (3L, 3L, 7L), "s1" -> (2L, 3L, 6L)))
  }

  test("psi drift: identical halves score ~0, a length shift scores high") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-psi").toString
    // the half split is at the GLOBAL mid id (99 div 2 = 49), so each
    // source needs ids on both sides. sStable keeps the same length mix
    // in both halves; sShift moves every doc from 50 to 500 chars.
    val rows = (0 until 10).map(i => (i.toLong, "x" * (50 + (i % 2) * 100), "en", "sStable", 0L)) ++
      (90 until 100).map(i => (i.toLong, "x" * (50 + (i % 2) * 100), "en", "sStable", 0L)) ++
      (10 until 20).map(i => (i.toLong, "x" * 50, "en", "sShift", 0L)) ++
      (80 until 90).map(i => (i.toLong, "x" * 500, "en", "sShift", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val r = CorpusStats.psiDrift(spark, d).collect()
      .map(x => x.getString(0) -> x.getAs[Double]("psi")).toMap
    assert(r("sStable") < 0.01, s"stable source drifted: ${r("sStable")}")
    assert(r("sShift") > 1.0, s"shifted source must alarm: ${r("sShift")}")
  }

  test("vocab coverage: occurrences outside the top-k vocab count as OOV") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-vocab").toString
    // top-2 vocab is {aa, bb} (freq 3, 2); cc/dd are OOV
    Seq(
      (0L, "aa aa bb cc", "en", "sA", 11L),
      (1L, "aa bb dd", "en", "sB", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val r = CorpusStats.vocabCoverage(spark, d, k = 2).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("sA").getAs[Long]("n_occurrences") === 4L)
    assert(r("sA").getAs[Long]("n_oov") === 1L)      // cc
    assert(r("sA").getAs[Long]("n_oov_types") === 1L)
    assert(r("sA").getAs[Double]("oov_rate") === 0.25)
    assert(r("sB").getAs[Long]("n_oov") === 1L)      // dd
    assert(r("sB").getAs[Long]("n_types") === 3L)
  }

  test("datasheet: duplicate docs and lang mode are counted per source") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-ds").toString
    Seq(
      (0L, "alpha beta", "en", "sA", 10L),
      (1L, "alpha beta", "en", "sA", 10L), // exact dup of doc 0
      (2L, "gamma", "de", "sA", 5L),
      (3L, "delta", "de", "sB", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val r = CorpusStats.datasheet(spark, d).collect()
      .map(x => x.getString(0) -> x).toMap
    val a = r("sA")
    assert(a.getAs[Long]("n_docs") === 3L && a.getAs[Long]("n_tokens") === 5L)
    assert(a.getAs[Double]("uniq_rate") === 0.6667, "2 unique texts / 3 docs")
    assert(a.getAs[String]("top_lang") === "en", "en=2 beats de=1")
    assert(a.getAs[Double]("top_lang_share") === 0.6667)
    val b = r("sB")
    assert(b.getAs[Long]("n_docs") === 1L
      && b.getAs[String]("top_lang") === "de"
      && b.getAs[Double]("uniq_rate") === 1.0)
  }

  test("bpe merges: a fully-merged vocab stops early instead of looping") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val d = tempDir("graft-bpe3").toString
    Seq((0L, "ab ab", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val got = CorpusStats.bpeMerges(spark, d, steps = 5).collect()
    assert(got.length === 1, "only one pair exists; steps 2-5 must emit nothing")
  }

  test("kmv estimate lands within the theoretical error envelope at k=64") {
    // bottom-k relative error concentrates around 1/√(k−2) ≈ 12.7%;
    // 4 standard deviations is a generous, non-flaky bound
    val out = CorpusStats.kmvDistinct(spark, dir).collect()
    assert(out.length === 20)
    out.foreach { r =>
      assert(r.getAs[Long]("n_exact") > 64L, "premise: every source exceeds k")
      assert(r.getAs[Double]("rel_err") < 4.0 / math.sqrt(62.0),
        s"source ${r.getAs[String]("source")}: rel_err ${r.getAs[Double]("rel_err")}")
    }
  }

  test("kmv falls back to the exact count when a source has fewer than k values") {
    val out = CorpusStats.kmvDistinct(spark, dir, k = 1000000).collect()
    out.foreach { r =>
      assert(r.getAs[Double]("est") === r.getAs[Long]("n_exact").toDouble)
      assert(r.getAs[Double]("rel_err") === 0.0)
    }
  }

  test("the sketch is deterministic: two runs agree bit-for-bit") {
    val a = CorpusStats.kmvDistinct(spark, dir).collect().toSeq
    val b = CorpusStats.kmvDistinct(spark, dir).collect().toSeq
    assert(a === b)
  }

  test("count-min error is one-sided: every estimate bounds its true count from above") {
    // k wide enough to cover the whole vocabulary — the property must
    // hold for EVERY token, not just the reported top slice
    val out = CorpusStats.cmsTopTerms(spark, dir, k = 1000000).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("freq"),
        s"token ${r.getAs[String]("tok")}: CMS must never undercount")
      assert(r.getAs[Long]("overcount") === r.getAs[Long]("est") - r.getAs[Long]("freq"))
    }
  }

  test("count-min cells conserve mass: every row's cells sum to the corpus token count") {
    import org.apache.spark.sql.functions._
    val toks = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val total = toks.count()
    // rebuild the cells exactly as the operator does and check each of
    // the d rows partitions the full stream (the increment-on-stream ≡
    // pre-aggregated-sum algebra the Scaladoc claims); the bucket's md5
    // chain runs as written, on the reference session
    val cells = reference(_.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), explode(expr("transform(sequence(0, 2), j -> named_struct(" +
        "'j', j, 'bucket', pmod(cast(conv(substring(md5(concat(j, '|', tok)), 1, 12), 16, 10) as bigint), 64)))")).as("db"))
      .groupBy(col("db.j").as("j")).agg(sum(col("freq")).as("row_total")))
    assert(cells.length === 3)
    cells.foreach(r => assert(r.getAs[Long]("row_total") === total))
  }

  test("ngram novelty buckets use floor division: total over negative doc_ids") {
    import org.apache.spark.sql.{SaveMode}
    import spark.implicits._
    val d = tempDir("graft-novneg").toString
    // ids straddling zero: floor puts -60 in bucket -2, -1 in -1, 0..49
    // in 0, 50 in 1 — truncation would wrongly merge -49..49 into one
    Seq(-60L, -1L, 0L, 49L, 50L)
      .map(id => (id, s"alpha beta gamma delta id$id", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val buckets = CorpusStats.ngramNovelty(spark, d).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n_docs")).toMap
    assert(buckets === Map(-2L -> 1L, -1L -> 1L, 0L -> 2L, 1L -> 1L))
  }

  test("quality drift: slope matches a hand-computed OLS on one source") {
    import org.apache.spark.sql.functions._
    val out = CorpusStats.qualityDrift(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") > 0)
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
    // hand-verify one source against the closed-form OLS slope
    val src = out.head.getAs[String]("source")
    val pts = TextAnalysis.qualityScoreOf(graft.Tables.documents(spark, dir))
      .join(graft.Tables.documents(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .where(col("source") === src)
      .select(col("doc_id").cast("double"), col("quality_score"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000
    assert(math.abs(out.head.getAs[Double]("slope_per_1k") - slope) < 1e-3,
      s"$src: engine slope ${out.head.getAs[Double]("slope_per_1k")} vs manual $slope")
  }

  test("incremental novelty: census reconstructs the delta shard exactly") {
    import org.apache.spark.sql.functions._
    val out = CorpusStats.incrNovelty(spark, dir).collect()
    assert(out.nonEmpty)
    // per-source doc counts must cover every odd-id doc with >= 3 words
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
    val deltaDocs = docs.where(pmod(col("doc_id"), lit(2)) === 1).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum === deltaDocs)
    out.foreach { r =>
      assert(r.getAs[Long]("novel_ngrams") <= r.getAs[Long]("delta_ngrams"))
      val nov = r.getAs[Double]("novelty")
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // delta pair mass = sum of per-doc distinct shingle counts (odd ids)
    val deltaPairs = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select(explode(expr(Dedup.hashedShingleExpr)).as("s")).count()
    assert(out.map(_.getAs[Long]("delta_ngrams")).sum === deltaPairs)
  }

  test("ngram novelty: novel counts partition the corpus-wide distinct shingle set") {
    import org.apache.spark.sql.functions._
    val out = CorpusStats.ngramNovelty(spark, dir).collect()
    assert(out.nonEmpty)
    // every distinct shingle is novel in exactly ONE doc (its min-doc_id
    // owner), so bucket novel counts must sum to the corpus vocabulary
    val vocab = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(explode(expr(Dedup.hashedShingleExpr)).as("s"))
      .distinct().count()
    assert(out.map(_.getAs[Long]("novel_ngrams")).sum === vocab)
    out.foreach { r =>
      assert(r.getAs[Long]("novel_ngrams") <= r.getAs[Long]("total_ngrams"))
      val nov = r.getAs[Double]("novelty")
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // the first bucket contains doc 0, whose shingles can only be owned
    // inside the bucket — its novelty is the curve's maximum by design
    val first = out.find(_.getAs[Long]("bucket") === 0L).get
    assert(first.getAs[Double]("novelty") >= out.map(_.getAs[Double]("novelty")).min)
  }
}
