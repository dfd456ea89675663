package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Distributed footer manifest: the stats must be the REAL persisted
  * footer stats (cross-checked against a driver-side read of the same
  * footers), pruning must be conservative on missing stats, and the
  * z-clustered write path must compose with it end-to-end. */
class FooterManifestSpec extends SparkSpec {

  private lazy val tmp = tempDir("graft-footman").toString

  test("manifest rows reproduce the data's per-file extrema and row counts") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val dir = s"$tmp/z"
    PartitionedSink.writeZOrdered(events, dir, Seq("user_id", "value"), files = 6)
    val m = FooterManifest.build(spark, dir, Seq("user_id", "value")).cache()
    val files = m.select("file").distinct().count()
    assert(files === 6)
    // row counts: each file's n_rows equals the data's count; total = table
    val perFile = m.where(col("column") === "user_id")
      .select("file", "n_rows").collect()
    assert(perFile.map(_.getLong(1)).sum === events.count())
    perFile.foreach { r =>
      assert(spark.read.parquet(r.getString(0)).count() === r.getLong(1))
    }
    // extrema: manifest [min,max] == the data's actual extrema per file
    // (parquet stats for INT64/DOUBLE are exact, untruncated)
    m.collect().foreach { r =>
      val d = spark.read.parquet(r.getString(0))
        .agg(min(col(r.getString(2)).cast("double")),
          max(col(r.getString(2)).cast("double"))).head()
      assert(r.getDouble(3) === d.getDouble(0) && r.getDouble(4) === d.getDouble(1),
        s"manifest range mismatch for ${r.getString(2)} in ${r.getString(0)}")
    }
  }

  test("filesToRead prunes exactly the footer-disjoint files; none lost") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val dir = s"$tmp/zprune"
    PartitionedSink.writeZOrdered(events, dir, Seq("user_id", "value"), files = 8)
    val b = events.agg(min("user_id"), max("user_id"), min("value"), max("value")).head()
    val uBox = (b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 0.45,
      b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 0.55)
    val vBox = (b.getDouble(2) + (b.getDouble(3) - b.getDouble(2)) * 0.45,
      b.getDouble(2) + (b.getDouble(3) - b.getDouble(2)) * 0.55)
    val m = FooterManifest.build(spark, dir, Seq("user_id", "value"))
    val toRead = FooterManifest.filesToRead(m,
      Map("user_id" -> uBox, "value" -> vBox))
      .select("file").collect().map(_.getString(0)).toSet
    // completeness: every row matching the box lives in a kept file
    val matching = spark.read.parquet(dir)
      .where(col("user_id").between(uBox._1, uBox._2) &&
        col("value").between(vBox._1, vBox._2))
    val matchCount = matching.count()
    val keptCount = toRead.toSeq match {
      case Nil => 0L
      case fs => spark.read.parquet(fs: _*)
        .where(col("user_id").between(uBox._1, uBox._2) &&
          col("value").between(vBox._1, vBox._2)).count()
    }
    assert(keptCount === matchCount, "pruning must never drop a matching row")
    // effectiveness: on a z-clustered layout the mid-range box skips files
    val total = m.select("file").distinct().count()
    assert(toRead.size < total,
      s"z-clustered layout must allow some skipping (${toRead.size}/$total)")
  }

  test("missing stats are conservative: requested-but-absent column never prunes") {
    import spark.implicits._
    val dir = s"$tmp/nostats"
    // range partition so BOTH files are non-empty (round-robin can land
    // two rows in one partition, and an empty file is prunable by
    // n_rows=0 rather than kept — tested below via the real column)
    Seq((1L, "a"), (100L, "b")).toDF("k", "s")
      .repartitionByRange(2, col("k")).write.mode("overwrite").parquet(dir)
    val m = FooterManifest.build(spark, dir, Seq("k", "missing_col"))
    // absent column → NULL range rows
    assert(m.where(col("column") === "missing_col" && col("min_v").isNull).count() === 2)
    // a box on the absent column keeps every file
    val kept = FooterManifest.filesToRead(m, Map("missing_col" -> ((5.0, 6.0))))
    assert(kept.count() === 2)
    // ...while a disjoint box on the real column prunes by its stats
    val kept2 = FooterManifest.filesToRead(m, Map("k" -> ((1000.0, 2000.0))))
    assert(kept2.count() === 0)
  }

  test("filesToReadLocal ≡ filesToRead on randomized manifests (the round-21 driver-local path)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("file", StringType), StructField("n_rows", LongType, nullable = false),
      StructField("column", StringType),
      StructField("min_v", DoubleType), StructField("max_v", DoubleType),
      StructField("min_s", StringType), StructField("max_s", StringType)))
    val rnd = new scala.util.Random(42)
    val strPool = Seq("alpha", "beta", "src12", "src17", "Ωmega", "日本語", "zulu")
    (1 to 20).foreach { trial =>
      // random manifest: files × (numeric k, string s) with occasional
      // NULL stats (the conservative path) and zero-row files
      val rows: Seq[Row] = (0 until (1 + rnd.nextInt(12))).flatMap { i =>
        val f = s"f$i"
        val n = if (rnd.nextInt(8) == 0) 0L else 1L + rnd.nextInt(100)
        val (lo, hi) = { val a = rnd.nextInt(50) - 25; val b = a + rnd.nextInt(30); (a.toDouble, b.toDouble) }
        val numRow = if (rnd.nextInt(6) == 0) Row(f, n, "k", null, null, null, null)
          else Row(f, n, "k", lo, hi, null, null)
        val ss = Seq.fill(2)(strPool(rnd.nextInt(strPool.length))).sorted
        val strRow = if (rnd.nextInt(6) == 0) Row(f, n, "s", null, null, null, null)
          else Row(f, n, "s", null, null, ss.head, ss.last)
        Seq(numRow, strRow)
      }
      val box = if (rnd.nextBoolean()) Map("k" -> ((-10.0, 10.0))) else Map.empty[String, (Double, Double)]
      val sbox = if (rnd.nextBoolean()) Map("s" -> (("b", "src16"))) else Map.empty[String, (String, String)]
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      val viaSpark = FooterManifest.filesToRead(df, box, sbox).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val viaLocal = FooterManifest.filesToReadLocal(rows, box, sbox).toSet
      assert(viaLocal === viaSpark, s"trial $trial: local pruning diverged (box=$box, sbox=$sbox)")
    }
  }

  test("empty directory yields an empty manifest with the right schema") {
    val m = FooterManifest.build(spark, s"$tmp/absent", Seq("x"))
    assert(m.columns.toSeq ===
      Seq("file", "n_rows", "column", "min_v", "max_v", "min_s", "max_s"))
    assert(m.isEmpty)
  }

  test("string columns carry UTF8 footer ranges; numeric columns leave them NULL") {
    import spark.implicits._
    val dir = s"$tmp/strstats"
    Seq((1L, "alpha"), (2L, "Ωmega"), (50L, "zulu"), (51L, "日本語"))
      .toDF("k", "s")
      .repartitionByRange(2, col("k")).write.mode("overwrite").parquet(dir)
    val m = FooterManifest.build(spark, dir, Seq("k", "s")).cache()
    // string rows: real per-file extrema under byte order, numeric NULL
    m.where(col("column") === "s").collect().foreach { r =>
      val d = spark.read.parquet(r.getString(0)).agg(min("s"), max("s")).head()
      assert(r.getString(5) === d.getString(0) && r.getString(6) === d.getString(1),
        s"string range mismatch in ${r.getString(0)}")
      assert(r.isNullAt(3) && r.isNullAt(4), "string column must not fake a numeric range")
    }
    // numeric rows: the mirror image
    m.where(col("column") === "k").collect().foreach { r =>
      assert(!r.isNullAt(3) && !r.isNullAt(4))
      assert(r.isNullAt(5) && r.isNullAt(6), "numeric column must not fake a string range")
    }
    m.unpersist()
  }

  test("the collected memo returns a fresh build's rows and starts no job on a hit") {
    import spark.implicits._
    val dir = s"$tmp/memo"
    Seq((1L, "a"), (2L, "b"), (50L, "y"), (51L, "z")).toDF("k", "s")
      .repartitionByRange(2, col("k")).write.mode("overwrite").parquet(dir)
    val cols = Seq("k", "s")
    val first = FooterManifest.collected(spark, dir, cols)
    assert(first.toSet === FooterManifest.build(spark, dir, cols).collect().toSet)
    assert(graft.Run.jobsStarted(spark, "graft-spec-footer-memo-hit") {
      assert(FooterManifest.collected(spark, dir, cols) === first)
    } === 0)
    // another column list is its own entry
    assert(FooterManifest.collected(spark, dir, Seq("k")).map(_.getString(2)).toSet === Set("k"))
  }

  test("a rewritten file misses the memo") {
    import spark.implicits._
    val dir = s"$tmp/memo-rewrite"
    def write(hi: Long): Unit = Seq((1L, "a"), (hi, "z")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    write(10L)
    val before = FooterManifest.collected(spark, dir, Seq("k"))
    assert(before.map(_.getDouble(4)) === Seq(10.0))
    write(20L)
    val after = FooterManifest.collected(spark, dir, Seq("k"))
    assert(after.map(_.getDouble(4)) === Seq(20.0), "a changed file set must read its footers")
    assert(after.toSet === FooterManifest.build(spark, dir, Seq("k")).collect().toSet)
    // same name and length, a new mtime: still a miss
    val part = Files.list(java.nio.file.Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(part).toMillis + 10000))
    assert(graft.Run.jobsStarted(spark, "graft-spec-footer-memo-touch") {
      FooterManifest.collected(spark, dir, Seq("k"))
    } > 0)
  }
}
