package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-text").toString
    Seq(
      (0L, "the cat and the hat", "en", "s0", 19L),
      (1L, "der hund und die katze ist da", "de", "s0", 29L),
      (2L, "zebra zebra zebra unique", "en", "s1", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("token counts: whitespace vs regex vs BPE-ish chunking") {
    val r = TextAnalysis.tokenCounts(spark, dir).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4))).toMap
    assert(r(0L) === ((19, 5, 5, 5)))  // five ≤4-char words → 5 chunks in every scheme
  }

  test("language id: stopword scoring separates en from de") {
    val r = TextAnalysis.languageId(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("predicted")).toMap
    assert(r(0L) === "en")
    assert(r(1L) === "de")
  }

  test("quality: repetitive doc scores below diverse doc") {
    val r = TextAnalysis.qualityScore(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("distinct_ratio"), x.getAs[Double]("stopword_ratio"))).toMap
    assert(r(2L)._1 < r(0L)._1, "repetition lowers lexical diversity")
    assert(r(0L)._2 === 0.6)   // the, and, the of 5 words
    assert(r(2L)._2 === 0.0)
  }

  test("tfidf: the distinctive term wins for each doc") {
    val r = TextAnalysis.tfidfTopTerm(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("tok")).toMap
    assert(r(2L) === "zebra") // tf 3/4, df 1 → dominant
  }

  private lazy val boilerDir: String = {
    val d = tempDir("graft-boiler").toString
    Seq(
      (0L, "click here now for cats", "en", "s0", 23L),
      (1L, "click here now for dogs", "en", "s0", 23L),
      (2L, "please click here now thanks", "en", "s1", 28L),
      (3L, "entirely original prose about zebras", "en", "s1", 36L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("boilerplate ngrams: only the 3-doc shared shingle counts as boilerplate") {
    val r = TextAnalysis.boilerplateNgrams(spark, boilerDir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_shingles"), x.getAs[Long]("n_boiler"))).toMap
    // "click here now" appears in docs 0,1,2 (df=3 → boilerplate);
    // "here now for" only in 0,1 (df=2 → not boilerplate)
    assert(r(0L) === ((3L, 1L)))
    assert(r(1L) === ((3L, 1L)))
    assert(r(2L) === ((3L, 1L)))
    assert(r(3L) === ((3L, 0L)))
  }

  test("bm25: only matching docs score; term coverage counted per doc") {
    val d = tempDir("graft-bm25").toString
    Seq(
      (0L, "spark table scan fast", "en", "s0", 21L),
      (1L, "spark spark spark spark spark table", "en", "s0", 35L),
      (2L, "nothing relevant here", "en", "s1", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val r = TextAnalysis.bm25TopK(spark, d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("bm25"), x.getAs[Long]("n_terms"))).toMap
    assert(r.keySet === Set(0L, 1L), "non-matching doc must not be scored")
    assert(r(0L)._2 === 3L) // spark, table, scan all present
    assert(r(1L)._2 === 2L) // spark, table
    assert(r(0L)._1 > 0.0 && r(1L)._1 > 0.0)
    // tf saturation: doc 1's five 'spark's cannot make up for missing 'scan'
    assert(r(0L)._1 > r(1L)._1)
  }

  test("char entropy: hand-computed bits for degenerate and uniform alphabets") {
    val d = tempDir("graft-entropy").toString
    Seq(
      (0L, "aaaa", "en", "s0", 4L),  // one symbol → 0 bits
      (1L, "abab", "en", "s0", 4L),  // two equiprobable → 1 bit
      (2L, "abcd", "en", "s0", 4L))  // four equiprobable → 2 bits
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val r = TextAnalysis.charEntropy(spark, d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("entropy"), x.getAs[Long]("n_distinct"))).toMap
    assert(r(0L) === ((0.0, 1L)))
    assert(r(1L) === ((1.0, 2L)))
    assert(r(2L) === ((2.0, 4L)))
  }

  test("lm logprob: matches the hand-computed unigram mean") {
    val d = tempDir("graft-lm").toString
    Seq(
      (0L, "a a b", "en", "s0", 5L),
      (1L, "a b c", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    // counts: a=3 b=2 c=1, total=6
    val r = TextAnalysis.lmLogprob(spark, d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("avg_logp")).toMap
    assert(r(0L) === -0.3597) // (2·log10(3/6) + log10(2/6)) / 3
    assert(r(1L) === -0.5188) // (log10(3/6) + log10(2/6) + log10(1/6)) / 3
    // rarer tokens ⇒ lower mean log-prob
    assert(r(1L) < r(0L))
  }

  test("gopher rules: hand-computed signals on the tiny fixture") {
    val r = TextAnalysis.gopherRules(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    val d0 = r(0L) // "the cat and the hat": 5 words × 3 chars, stops {the, and}
    assert(d0.getAs[Long]("n_words") === 5L)
    assert(d0.getAs[Double]("mean_word_len") === 3.0)
    assert(d0.getAs[Double]("symbol_ratio") === 0.0)
    assert(d0.getAs[Double]("alpha_ratio") === 1.0)
    assert(d0.getAs[Long]("stop_hits") === 2L)
    assert(d0.getAs[Int]("keep") === 0, "5 words fails the ≥50-word rule")
    val d2 = r(2L) // "zebra zebra zebra unique": no required words
    assert(d2.getAs[Long]("stop_hits") === 0L)
    assert(d2.getAs[Int]("keep") === 0)
  }

  test("gopher rules: keep flag is the conjunction of its own reported signals") {
    val rows = TextAnalysis.gopherRules(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 500)
    rows.foreach { x =>
      val expect = x.getAs[Long]("n_words") >= 50 && x.getAs[Long]("n_words") <= 100000 &&
        x.getAs[Double]("mean_word_len") >= 3.0 && x.getAs[Double]("mean_word_len") <= 10.0 &&
        x.getAs[Double]("symbol_ratio") <= 0.1 && x.getAs[Double]("alpha_ratio") >= 0.8 &&
        x.getAs[Long]("stop_hits") >= 2
      assert(x.getAs[Int]("keep") === (if (expect) 1 else 0), s"doc ${x.getAs[Long]("doc_id")}")
    }
    // the battery must split the corpus, not rubber-stamp it
    val kept = rows.count(_.getAs[Int]("keep") == 1)
    assert(kept > 0 && kept < rows.length, s"kept $kept of ${rows.length}")
  }

  test("bpe merge step: hand-computed top pairs with deterministic tie-break") {
    val r = TextAnalysis.bpeMergeStep(spark, dir).collect()
      .map(x => x.getAs[String]("pair") -> x.getAs[Long]("n"))
    // zebra×3 + katze give 'ze' 4; the six pairs at 3 tie-break by string
    assert(r.head === (("ze", 4L)))
    assert(r.slice(1, 7).toSeq ===
      Seq("at" -> 3L, "br" -> 3L, "eb" -> 3L, "nd" -> 3L, "ra" -> 3L, "un" -> 3L))
    // the×2 contributes both of its pairs at weight 2
    assert(r.toMap.get("th") === Some(2L) && r.toMap.get("he") === Some(2L))
  }

  test("quality classifier: matches a driver-side reference model exactly") {
    // independent reference implementation of the hashed-linear inference
    // (direct digest arithmetic — no Spark expressions, no SQL chain)
    import ClassifierReference.{gramsOf, milliOf}
    def reference(text: String): (Long, Long) = {
      val grams = gramsOf(text)
      (grams.size.toLong, grams.map(milliOf).sum)
    }
    val fixture = Map(
      0L -> "the cat and the hat",
      1L -> "der hund und die katze ist da",
      2L -> "zebra zebra zebra unique")
    val r = TextAnalysis.qualityClassifier(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.keySet === fixture.keySet)
    fixture.foreach { case (id, text) =>
      val (nFeats, milliSum) = reference(text)
      assert(r(id).getAs[Long]("n_feats") === nFeats, s"doc $id n_feats")
      assert(r(id).getAs[Long]("milli_sum") === milliSum, s"doc $id milli_sum")
      // the decision is a pure function of the ROUNDED margin
      val score = r(id).getAs[Double]("score_logit")
      assert(score === ClassifierReference.score(milliSum, nFeats))
      assert((r(id).getAs[Int]("keep") == 1) === (score >= TextAnalysis.ClassifierThreshold))
    }
  }

  test("classifier: NULL text scores as empty text, never a NULL/dropped row") {
    // NULL text must neither drop the doc (the DuckDB-twin failure mode:
    // unnest(NULL) yields 0 rows, so the doc_id never reaches the agg)
    // nor emit NULL metrics (Spark split(NULL)) — both sides coalesce to
    // '' and score its single empty-string unigram
    val d = tempDir("graft-text-null").toString
    Seq((0L, Option("the cat and the hat"), "en", "s0", 19L),
        (1L, None: Option[String], "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val r = TextAnalysis.qualityClassifier(spark, d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.keySet === Set(0L, 1L), "NULL-text doc must keep its row")
    val nullRow = r(1L)
    assert(nullRow.getAs[Long]("n_feats") === 1L)
    assert(nullRow.getAs[Long]("milli_sum") === ClassifierReference.milliOf(""))
    assert(!nullRow.isNullAt(nullRow.fieldIndex("keep")))
    // the scan-filter form agrees with the reported column on NULL too
    val viaFilter = graft.Tables.documents(spark, d)
      .where(TextAnalysis.classifierKeep(org.apache.spark.sql.functions.col("text")))
      .select("doc_id").as[Long].collect().toSet
    val viaColumn = TextAnalysis.qualityClassifier(spark, d)
      .where(org.apache.spark.sql.functions.col("keep") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(viaFilter === viaColumn)
    // and the bias audit counts the doc in its source census
    val bias = TextAnalysis.classifierBias(spark, d).collect()
    assert(bias.map(_.getAs[Long]("n_docs")).sum === 2L)
  }

  test("classifier bias audit: per-source keep rates vs the corpus rate") {
    def keepOf(t: String): Long = if (ClassifierReference.keep(t)) 1L else 0L
    val bySource = Map(
      "s0" -> Seq("the cat and the hat", "der hund und die katze ist da"),
      "s1" -> Seq("zebra zebra zebra unique"))
    val keeps = bySource.map { case (s, ts) => s -> ((ts.size.toLong, ts.map(keepOf).sum)) }
    val tDocs = keeps.values.map(_._1).sum
    val tKeep = keeps.values.map(_._2).sum
    val r = TextAnalysis.classifierBias(spark, dir).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r.keySet === keeps.keySet)
    keeps.foreach { case (s, (n, k)) =>
      assert(r(s).getAs[Long]("n_docs") === n, s"source $s n_docs")
      assert(r(s).getAs[Long]("n_keep") === k, s"source $s n_keep")
      val delta = math.floor((k.toDouble / n - tKeep.toDouble / tDocs) * 1e4 + 0.5) / 1e4
      assert(r(s).getAs[Double]("rate_delta") === delta, s"source $s rate_delta")
      assert((r(s).getAs[Int]("skewed") == 1) === (math.abs(delta) > 0.1), s"source $s skewed")
    }
  }

  test("classifier gradient step: matches a sequential reference on the fixture") {
    import ClassifierReference.{gramsOf, milliOf, slotOf}
    // labels: y = (lang == en) → docs 0 and 2 positive, doc 1 negative
    val fixture = Seq(
      ("the cat and the hat", 1L),
      ("der hund und die katze ist da", 0L),
      ("zebra zebra zebra unique", 1L))
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    fixture.foreach { case (t, y) =>
      val grams = gramsOf(t)
      val residual = grams.map(milliOf).sum - y * 1000 * grams.size
      grams.foreach { g =>
        val s = slotOf(g); val (n, sum) = acc(s); acc(s) = (n + 1, sum + residual)
      }
    }
    val expect = acc.toSeq
      .map { case (s, (n, grad)) => (s, n, grad, -java.lang.Long.signum(grad)) }
      .sortBy { case (s, _, grad, _) => (-math.abs(grad), s) }.take(20)
    val got = TextAnalysis.classifierGradStep(spark, dir).collect()
      .map(x => (x.getAs[Long]("slot"), x.getAs[Long]("n_grams"),
        x.getAs[Long]("grad"), x.getAs[Int]("dir"))).toSeq
    assert(got === expect, "distributed gradient must equal the straight-line accumulation")
  }

  test("classifier training: matches a sequential reference; loss falls, gate moves") {
    import ClassifierReference.{gramsOf, milliOf, slotOf, score}
    // sequential replay of the whole recurrence on the 3-doc fixture:
    // driver-side weight array, ±1 targets, sign steps of 100
    val fixture = Seq(
      (0L, "the cat and the hat", "en"),
      (1L, "der hund und die katze ist da", "de"),
      (2L, "zebra zebra zebra unique", "en"))
    val B = TextAnalysis.ClassifierBuckets
    val w = Array.tabulate(B) { b =>
      graft.functions.Md5Slice64.compute(s"w#$b".getBytes("UTF-8"), 1, 8) % 2001 - 1000
    }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    for (t <- 0 to 3) {
      var sAbs = 0L; var nKeep = 0L
      val grad = scala.collection.mutable.Map.empty[Long, Long]
      fixture.foreach { case (_, text, lang) =>
        val gs = gramsOf(text)
        val ms = gs.map(g => w(slotOf(g).toInt)).sum
        val nf = gs.size.toLong
        val res = ms - (if (lang == "en") 1L else -1L) * 1000L * nf
        sAbs += math.abs(res)
        if (score(ms, nf) >= TextAnalysis.ClassifierThreshold) nKeep += 1
        if (t < 3) gs.foreach { g =>
          val s = slotOf(g); grad(s) = grad.getOrElse(s, 0L) + res
        }
      }
      expected += ((t, fixture.size.toLong, sAbs, nKeep))
      grad.foreach { case (s, g) => w(s.toInt) -= 100L * java.lang.Long.signum(g) }
    }
    val got = TextAnalysis.classifierTrain(spark, dir).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("sum_abs_residual"), r.getAs[Long]("n_keep")))
    assert(got.toSeq === expected.toSeq)
    // on the real sf0.001 corpus: loss strictly decreases every
    // materialized step, and the TRAINED gate's keep set differs from
    // the synthetic (step-0) gate's — the point of training at all
    val real = TextAnalysis.classifierTrain(spark, "/root/testdata/sf0.001")
      .orderBy("step").collect()
      .map(r => (r.getAs[Long]("sum_abs_residual"), r.getAs[Long]("n_keep")))
    real.sliding(2).foreach {
      case Array((l1, _), (l2, _)) =>
        assert(l2 < l1, s"training loss must decrease: $l1 -> $l2")
      case _ =>
    }
    assert(real.head._2 !== real.last._2,
      "trained gate must admit a different keep set than the synthetic gate")
  }

  test("classifier filter form: scan-stage keep decision ≡ the reported keep column") {
    import org.apache.spark.sql.functions.col
    val corpus = "/root/testdata/sf0.001"
    val reported = TextAnalysis.qualityClassifier(spark, corpus).collect()
      .filter(_.getAs[Int]("keep") == 1).map(_.getAs[Long]("doc_id")).toSet
    val filtered = graft.Tables.documents(spark, corpus)
      .where(TextAnalysis.classifierKeep(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(filtered === reported, "the two forms must keep identical documents")
    // fixture sanity: the threshold actually splits the corpus
    assert(reported.nonEmpty && filtered.size < 500)
  }

  test("quality classifier: inference is one scan — no data shuffle in the plan") {
    val plan = TextAnalysis.qualityClassifier(spark, dir)
      .queryExecution.executedPlan.toString
    // zero hash exchanges: grams, hashing, and the weight lookup all live
    // in one projection; only the presentation sort may range-partition
    assert(!plan.contains("Exchange hashpartitioning"),
      s"classifier must not shuffle data:\n$plan")
    assert(!plan.contains("ShuffleExchange hashpartitioning"))
  }

  test("classifier gradient step: one slot-keyed shuffle, top-k as TakeOrdered") {
    val plan = TextAnalysis.classifierGradStep(spark, dir)
      .queryExecution.executedPlan.toString
    // margins are map-side in the exploding projection, so the ONLY data
    // shuffle is the ≤4096-key slot agg (map-side partial combine ahead
    // of it), and the top-20 must not plan a global sort
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles === 1, s"expected exactly the slot-agg shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must plan as TakeOrderedAndProject, not a global sort:\n$plan")
  }
}
