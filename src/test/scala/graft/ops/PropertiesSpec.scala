package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests (SURVEY.md §5.3): partition-invariance and reshape
  * round-trips that must hold for ANY input — the invariants that make
  * the distributed plans trustworthy at scale. Cases are drawn from
  * ScalaCheck generators with fixed seeds (5 per property — Spark jobs
  * are slow; few but real randomized cases). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val eventGen: Gen[(Long, String, Double)] = for {
    offsetSec <- Gen.choose(0L, 3 * 3600L)
    tpe <- Gen.oneOf("click", "view")
    value <- Gen.choose(-100.0, 100.0)
  } yield (offsetSec, tpe, value)

  private val eventsGen: Gen[List[(Long, String, Double)]] =
    Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, eventGen))

  private def cases: Seq[List[(Long, String, Double)]] =
    (1 to 5).map(i => eventsGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def toDf(rows: List[(Long, String, Double)]) =
    rows.map { case (off, t, v) =>
      (new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + off * 1000), t, v)
    }.toDF("ts", "event_type", "value")

  test("window agg is partition-invariant: day total == fold over 10-min bins") {
    for (rows <- cases) {
      val df = toDf(rows)
      val binned = df.groupBy(window($"ts", "10 minutes"))
        .agg(count(lit(1)).as("n"), sum($"value").as("s"),
          min($"value").as("mn"), max($"value").as("mx"))
        .agg(sum($"n"), sum($"s"), min($"mn"), max($"mx")).head()
      val whole = df.agg(count(lit(1)), sum($"value"), min($"value"), max($"value")).head()
      assert(binned.getLong(0) === whole.getLong(0))
      assert(math.abs(binned.getDouble(1) - whole.getDouble(1)) < 1e-9)
      assert(binned.getDouble(2) === whole.getDouble(2))
      assert(binned.getDouble(3) === whole.getDouble(3))
    }
  }

  test("unpivot conserves rows: wide bins × 8 == long rows + null-dropped rows") {
    for (rows <- cases) {
      val wide = SensorPipeline.wideAgg(toDf(rows))
      val bins = wide.count()
      val raw = wide.unpivot(Array(col("timestamp")),
        SensorPipeline.signalNames.map(col).toArray, "signal_name", "value")
      val long = SensorPipeline.toLong(wide)
      val nulls = raw.where(col("value").isNull).count()
      assert(raw.count() === bins * 8)
      assert(long.count() === bins * 8 - nulls)
    }
  }

  test("pivot(unpivot(wide)) round-trips to the original wide frame") {
    for (rows <- cases) {
      val wide = SensorPipeline.wideAgg(toDf(rows))
      val roundTrip = SensorPipeline.toLong(wide)
        .groupBy(col("timestamp"))
        .pivot("signal_name", SensorPipeline.signalNames)
        .agg(max(col("value")))
      // na-dropped long rows come back as nulls — compare on the non-null cells
      val cols = "timestamp" +: SensorPipeline.signalNames
      val a = wide.select(cols.map(col): _*).orderBy("timestamp").collect().map(_.toSeq)
      val b = roundTrip.select(cols.map(col): _*).orderBy("timestamp").collect().map(_.toSeq)
      assert(a.length === b.length)
      a.zip(b).foreach { case (ra, rb) => assert(ra === rb) }
    }
  }

  test("salted agg == plain agg for any data and any salt width") {
    for ((rows, salt) <- cases.zip(Seq(1, 2, 7, 16, 64))) {
      val df = toDf(rows)
      val salted = Skew.saltedStats(df, col("event_type"), col("value"), salt)
        .orderBy("k").collect().map(_.toSeq)
      val plain = df.groupBy(col("event_type").as("k"))
        .agg(count(lit(1)).as("n"),
          StableStats.stableRound(
            sum(round(col("value") * 100).cast("long")).cast("double")
              / count(col("value")) / lit(100.0), 4).as("avg_value"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy("k").collect().map(_.toSeq)
      assert(salted === plain, s"salt=$salt diverged")
    }
  }

  test("salted join == plain join for any data and any salt width") {
    for ((rows, salt) <- cases.zip(Seq(1, 2, 7, 16))) {
      val probe = toDf(rows)
      val build = probe.select(col("event_type")).distinct()
        .withColumn("label", concat(lit("dim_"), col("event_type")))
        .withColumnRenamed("event_type", "bk")
      val viaSalt = Skew.saltedJoin(probe, build, col("event_type"), col("bk"), salt)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect().map(_.toSeq)
      val plain = probe.join(build, col("event_type") === col("bk"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect().map(_.toSeq)
      assert(viaSalt === plain, s"salt=$salt diverged")
    }
  }

  test("salted join with broadcast disabled fans the hot key over salt reducers") {
    // no broadcast ⇒ the join really shuffles; the salted plan must still
    // be exact and its join key must include the salt column
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    saved.foreach { case (k, _) => conf.set(k, "-1") }
    try {
      val probe = toDf(cases.head)
      val build = probe.select(col("event_type")).distinct()
        .withColumnRenamed("event_type", "bk")
      val df = Skew.saltedJoin(probe, build, col("event_type"), col("bk"), 4)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("__salt"), s"join key must carry the salt:\n$plan")
      assert(df.count() === probe.count())
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("incremental partial merge is split-invariant: any day partitioning merges to the same stats") {
    import java.nio.file.Files
    for (rows <- cases) {
      val d = tempDir("graft-incr").toString
      // events parquet written with ts as TIMESTAMP (Tables.events handles both)
      toDf(rows).write.mode("overwrite").parquet(s"$d/events.parquet")
      val merged = Incremental.mergedStats(spark, d).collect().map(_.toSeq)
      val direct = graft.Tables.events(spark, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          StableStats.centsMean(col("value")).as("avg_value"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy("event_type").collect().map(_.toSeq)
      assert(merged === direct)
    }
  }

  test("join-drop conservation: long rows == mapped + unmapped (P5/P6 ledger)") {
    for (rows <- cases) {
      val long = SensorPipeline.toLong(SensorPipeline.wideAgg(toDf(rows))).cache()
      val partial = SensorPipeline.signalDim(spark).where(col("name").startsWith("click_"))
      val mapped = SensorPipeline.mapSignals(long, partial).count()
      val unmapped = long.join(broadcast(partial),
        long("signal_name") === partial("name"), "left_anti").count()
      assert(long.count() === mapped + unmapped)
      long.unpersist()
    }
  }

  test("bpe merge step: pair counts conserve corpus mass vs a local reference") {
    // the distributed trick (collapse to word-freq, explode THAT weighted
    // by freq) must be indistinguishable from naive per-occurrence pair
    // counting. A 3-letter alphabet keeps distinct pairs ≤ 9 < the top-20
    // cut, so the engine returns the COMPLETE table and we can compare
    // whole maps, plus total mass = Σ_occurrences (len-1).
    val wordGen = for {
      n <- Gen.choose(1, 6) // length-1 words exercise the ≥2 filter
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val docGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, docGen))
    for (i <- 1 to 5) {
      val docs = corpusGen.pureApply(Gen.Parameters.default, Seed(200 + i.toLong))
      val d = tempDir("graft-bpe-prop").toString
      docs.zipWithIndex.map { case (t, id) => (id.toLong, t, "en", "s0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$d/documents.parquet")
      val words = docs.flatMap(_.split(" ")).filter(_.length >= 2)
      val expect = words.flatMap(w => w.sliding(2))
        .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
      val got = graft.ext.TextAnalysis.bpeMergeStep(spark, d).collect()
        .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n"))
      assert(got.toMap === expect, s"corpus $i: $docs")
      assert(got.map(_._2).sum === words.map(_.length - 1L).sum, s"corpus $i mass")
      // the committed ordering contract: count desc, then pair asc
      assert(got.toSeq === got.toSeq.sortBy { case (p, n) => (-n, p) }, s"corpus $i order")
    }
  }

  test("transitions: any split day merges to the single-pass matrix; mass conserved") {
    val evGen = for {
      uid <- Gen.choose(1L, 6L)
      off <- Gen.choose(0L, 20L * 24 * 3600)
      tpe <- Gen.oneOf("click", "view", "buy")
    } yield (uid, off, tpe)
    val caseGen = Gen.choose(5, 80).flatMap(n => Gen.listOfN(n, evGen))
    for (i <- 1 to 5) {
      val rows = caseGen.pureApply(Gen.Parameters.default, Seed(200 + i.toLong))
      val d = tempDir(s"graft-ptrans$i").toString
      rows.zipWithIndex.map { case ((uid, off, tpe), id) =>
        (id.toLong,
          new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + off * 1000),
          uid, tpe, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$d/events.parquet")
      val direct = Analytics.eventTransitions(spark, d).collect().map(_.toSeq).toSeq
      // any cut day must merge back to the same matrix — including cuts
      // where one shard is empty
      for (day <- Seq("2024-01-01", "2024-01-08", "2024-02-15")) {
        val inc = Incremental.incrTransitions(spark, d, day).collect().map(_.toSeq).toSeq
        assert(inc === direct, s"case $i split $day")
      }
      // conservation: every user with k ≥ 1 events contributes k−1 bigrams
      val total = direct.map(_(2).asInstanceOf[Long]).sum
      val perUser = rows.groupBy(_._1).values.map(g => (g.size - 1).toLong.max(0L)).sum
      assert(total === perUser, s"case $i mass")
    }
  }

  test("pii scrub: zero residual and idempotence for any token soup") {
    import graft.ext.Redaction
    val segGen: Gen[String] = Gen.oneOf(
      Gen.listOfN(5, Gen.alphaNumChar).map(_.mkString),
      Gen.choose(0, 999).map(n => s"user$n@host$n.org"),
      Gen.choose(0, 9999).map(n => f"555-$n%04d"),
      Gen.choose(0, 255).map(n => s"10.0.$n.$n"),
      Gen.const("v1.2.3"), Gen.const("2024-01-07"))
    val textGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, segGen)).map(_.mkString(" "))
    val texts = (1 to 40).map(i =>
      textGen.pureApply(Gen.Parameters.default, Seed(300 + i.toLong)))
    val checked = texts.toDF("raw")
      .select(Redaction.scrub(col("raw")).as("s1"))
      .select(col("s1"), Redaction.scrub(col("s1")).as("s2"),
        Redaction.residual(col("s1")).as("res"))
      .collect()
    checked.foreach { r =>
      assert(r.getInt(2) === 0, s"residual in '${r.getString(0)}'")
      assert(r.getString(0) === r.getString(1), "scrub must be idempotent")
    }
  }

  test("bpe segmentation conserves character mass for any corpus") {
    import graft.ext.CorpusStats
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val docGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    for (i <- 1 to 3) {
      val docs = (0 until 6).map(j =>
        (j.toLong, docGen.pureApply(Gen.Parameters.default, Seed(400 + i * 10 + j.toLong)),
          "en", s"s${j % 2}", 0L))
      val d = tempDir(s"graft-pbpe$i").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$d/documents.parquet")
      val seg = CorpusStats.bpeSegment(spark, d).collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("n_chars"), r.getAs[Long]("n_subwords"),
          r.getAs[Long]("n_words"))).toMap
      val raw = docs.flatMap { case (_, text, _, src, _) =>
        text.split(" ").filter(_.nonEmpty).map(w => (src, w))
      }.groupBy(_._1).map { case (src, ws) =>
        src -> (ws.map(_._2.length).map(_.toLong).sum, ws.size.toLong)
      }
      raw.foreach { case (src, (chars, words)) =>
        val (gotChars, gotSub, gotWords) = seg(src)
        assert(gotChars === chars, s"case $i $src: merges must not eat characters")
        assert(gotWords === words, s"case $i $src")
        assert(gotSub >= gotWords && gotSub <= chars,
          s"case $i $src: tokens bounded by words below and chars above")
      }
    }
  }

  test("levenshtein: engine matches an independent DP; threshold form is exact-or-(-1)") {
    // the edit-distance dedup verify (ext.Dedup.editDistancePairs) leans on
    // both forms of the builtin — pin them against a from-scratch DP
    def dp(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val strGen = for {
      n <- Gen.choose(0, 12)
      s <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield s.mkString
    val pairGen = for { a <- strGen; b <- strGen } yield (a, b)
    val pairs = (1 to 40).map(i =>
      pairGen.pureApply(Gen.Parameters.default, Seed(100 + i.toLong)))
    pairs.toDF("a", "b")
      .selectExpr("a", "b", "levenshtein(a, b) AS d", "levenshtein(a, b, 4) AS d4")
      .collect().foreach { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        val expect = dp(a, b)
        assert(r.getInt(2) === expect, s"'$a' vs '$b'")
        assert(r.getInt(3) === (if (expect <= 4) expect else -1),
          s"threshold form '$a' vs '$b'")
      }
  }
}
