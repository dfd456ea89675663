package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Z-order layout: the skipping benefit must be measurable from per-file
  * min/max stats (what parquet row-group pruning actually uses), not
  * asserted by construction. */
class ZOrderSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.001")
  private lazy val tmp = tempDir("graft-zorder").toString

  /** Files whose [min,max] box intersects the query box — the files a
    * stats-pruning reader must open. */
  private def filesNeeded(path: String, u: (Long, Long), v: (Double, Double)): (Int, Int) = {
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSeq
    val needed = files.count { f =>
      val r = spark.read.parquet(f)
        .agg(min("user_id"), max("user_id"), min("value"), max("value")).head()
      r.getLong(0) <= u._2 && r.getLong(1) >= u._1 &&
        r.getDouble(2) <= v._2 && r.getDouble(3) >= v._1
    }
    (needed, files.size)
  }

  test("z-ordered layout prunes a 2-D box query that natural order cannot") {
    val nat = s"$tmp/natural"
    val zor = s"$tmp/zordered"
    events.repartition(8).write.mode("overwrite").parquet(nat)
    PartitionedSink.writeZOrdered(events, zor, Seq("user_id", "value"), files = 8)

    // rows survive the rewrite exactly
    val back = spark.read.parquet(zor)
    assert(back.count() === events.count())
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)

    // ~10%-per-dimension box in the middle of both ranges
    val b = events.agg(min("user_id"), max("user_id"), min("value"), max("value")).head()
    val (uLo, uHi) = (b.getLong(0), b.getLong(1))
    val (vLo, vHi) = (b.getDouble(2), b.getDouble(3))
    val uBox = (uLo + (uHi - uLo) * 45 / 100, uLo + (uHi - uLo) * 55 / 100)
    val vBox = (vLo + (vHi - vLo) * 0.45, vLo + (vHi - vLo) * 0.55)

    val (natNeed, natTotal) = filesNeeded(nat, uBox, vBox)
    val (zNeed, zTotal) = filesNeeded(zor, uBox, vBox)
    assert(natTotal >= 8 && zTotal >= 2)
    assert(natNeed === natTotal,
      s"round-robin files all span the full range ($natNeed/$natTotal)")
    assert(zNeed < natNeed,
      s"z-order must prune the box query: z $zNeed/$zTotal vs natural $natNeed/$natTotal")
    info(s"box query reads $zNeed/$zTotal z-ordered files vs $natNeed/$natTotal natural")
  }

  /** Files a stats-pruning reader must open, decided from the REAL
    * parquet footers (row-group column min/max) — the exact metadata
    * Spark's parquet filter pushdown and any lakehouse file-pruning
    * layer consult, with zero data pages read. A file is needed iff ANY
    * of its row groups' [min,max] boxes intersects the query box;
    * missing/empty stats count as needed (the conservative reader
    * behavior). */
  private def filesNeededByFooter(path: String,
      u: (Long, Long), v: (Double, Double)): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    def parquetFiles(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(_.isDirectory).flatMap(parquetFiles) ++
        kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val files = parquetFiles(new java.io.File(path))
    val needed = files.count { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.exists { block =>
        def colStats(name: String) = block.getColumns.asScala
          .find(_.getPath.toDotString == name).map(_.getStatistics)
        (colStats("user_id"), colStats("value")) match {
          case (Some(su), Some(sv))
              if !su.isEmpty && !sv.isEmpty && su.hasNonNullValue && sv.hasNonNullValue =>
            val (uMin, uMax) = (su.genericGetMin.asInstanceOf[java.lang.Long].longValue,
              su.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            val (vMin, vMax) = (sv.genericGetMin.asInstanceOf[java.lang.Double].doubleValue,
              sv.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
            uMin <= u._2 && uMax >= u._1 && vMin <= v._2 && vMax >= v._1
          case _ => true // no usable stats: a pruning reader must open it
        }
      } finally reader.close()
    }
    (needed, files.size)
  }

  test("sf0.1 footer-stats skipping: z-clustered reads ≤ half the files of day-partitioned") {
    // The write↔plan closed loop, measured on what readers actually use:
    // the lake's default DAY layout co-locates by time, so a 2-D
    // (user_id, value) box — the x_zorder_prune standard predicate shape
    // — intersects every day file's stats box and prunes NOTHING; the
    // z-clustered rewrite of the SAME rows at the SAME file count keeps
    // the box local to a few morton ranges. Decided purely from row-group
    // min/max in the real footers.
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
      .withColumn("day", to_date(col("ts")))
    val dayDir = s"$tmp/bydays"
    val zorDir = s"$tmp/zboth"
    ev.write.mode("overwrite").partitionBy("day").parquet(dayDir)
    val nDayFiles = {
      def cnt(d: java.io.File): Int = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        .map(f => if (f.isDirectory) cnt(f) else if (f.getName.endsWith(".parquet")) 1 else 0).sum
      cnt(new java.io.File(dayDir))
    }
    PartitionedSink.writeZOrdered(ev.drop("day"), zorDir,
      Seq("user_id", "value"), files = nDayFiles)

    val b = ev.agg(min("user_id"), max("user_id"), min("value"), max("value")).head()
    val (uLo, uHi) = (b.getLong(0), b.getLong(1))
    val (vLo, vHi) = (b.getDouble(2), b.getDouble(3))
    val uBox = (uLo + (uHi - uLo) * 45 / 100, uLo + (uHi - uLo) * 55 / 100)
    val vBox = (vLo + (vHi - vLo) * 0.45, vLo + (vHi - vLo) * 0.55)

    val (dayNeed, dayTotal) = filesNeededByFooter(dayDir, uBox, vBox)
    val (zNeed, zTotal) = filesNeededByFooter(zorDir, uBox, vBox)
    assert(zTotal === dayTotal, "equal-file-count comparison")
    assert(dayNeed === dayTotal,
      s"day files all span the full (user, value) range ($dayNeed/$dayTotal)")
    assert(zNeed * 2 <= dayNeed,
      s"z-clustered must read at most half the files: z $zNeed/$zTotal vs day $dayNeed/$dayTotal")
    info(s"2-D box reads $zNeed/$zTotal z-clustered files vs $dayNeed/$dayTotal day-partitioned")
  }

  test("null z-column rows survive (quantized to bucket 0)") {
    import spark.implicits._
    val d = s"$tmp/nulls"
    val df = Seq[(java.lang.Long, java.lang.Double)]((1L, 2.0), (null, 3.0), (5L, null))
      .toDF("user_id", "value")
    PartitionedSink.writeZOrdered(df, d, Seq("user_id", "value"), files = 2)
    assert(spark.read.parquet(d).count() === 3)
  }

  test("prune-loop materialization is idempotent: unchanged data skips the rewrite") {
    // the OPTIMIZE contract behind zorderPrune/footerPrune: a layout
    // whose content fingerprint matches the marker is NOT rewritten
    // (steady state pays only the footer read-back), while a stale or
    // missing marker forces the write. Sentinel-file detection: an
    // overwrite deletes everything in the target dir, a skip preserves
    // the planted file.
    val dir = "/root/testdata/sf0.001"
    val out = new java.io.File(graft.exec.Scratch.root("zorder_prune", dir))
    val r1 = graft.ext.Layout.zorderPrune(spark, dir).collect().map(_.toSeq)
    val marker = new java.io.File(out, "_graft_layout_fingerprint")
    assert(marker.isFile, "first run must leave the fingerprint marker")
    val fp = new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
    val sentinel = new java.io.File(out, "_test_sentinel")
    java.nio.file.Files.write(sentinel.toPath, "x".getBytes("UTF-8"))
    val r2 = graft.ext.Layout.zorderPrune(spark, dir).collect().map(_.toSeq)
    assert(r2 === r1, "skip path must answer identically")
    assert(sentinel.isFile, "matching fingerprint must skip the rewrite")
    // stale marker (e.g. code/data changed) forces the write back
    java.nio.file.Files.write(marker.toPath, "stale".getBytes("UTF-8"))
    val r3 = graft.ext.Layout.zorderPrune(spark, dir).collect().map(_.toSeq)
    assert(r3 === r1)
    assert(!sentinel.isFile, "stale fingerprint must force a rewrite")
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") === fp,
      "rewrite must refresh the marker to the content fingerprint")
  }

  test("writeZCelled: one file per non-empty cell, bit-deterministic across writes") {
    // the property x_footer_prune's oracle rests on: the celled layout is
    // a PURE FUNCTION of the data — two independent writes produce the
    // same cells with the same membership (unlike writeZOrdered, whose
    // range boundaries come from a sample)
    val d1 = s"$tmp/celled1"
    val d2 = s"$tmp/celled2"
    PartitionedSink.writeZCelled(events, d1, Seq("user_id", "value"))
    PartitionedSink.writeZCelled(events, d2, Seq("user_id", "value"))
    def cellStats(d: String) = spark.read.parquet(d)
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n"), min("user_id"), max("user_id"),
        min("value"), max("value"))
      .orderBy("zcell").collect().toSeq
    assert(cellStats(d1) === cellStats(d2), "celled layout must be deterministic")
    // rows survive exactly
    val back = spark.read.parquet(d1).drop("zcell")
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
    // exactly one part file per zcell directory (the manifest's file unit)
    val dirs = new java.io.File(d1).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("zcell="))
    assert(dirs.nonEmpty)
    dirs.foreach { cd =>
      val parts = cd.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts === 1, s"${cd.getName} must hold exactly one part file, got $parts")
    }
    // and the footer-manifest pruning loop over the celled layout loses
    // no matching row (the filesToRead completeness contract, on THIS
    // writer's output)
    val m = FooterManifest.build(spark, d1, Seq("user_id", "value"))
    val kept = FooterManifest.filesToRead(m,
      Map("user_id" -> ((60.0, 90.0)), "value" -> ((100.0, 200.0))))
      .select("file").collect().map(_.getString(0)).toSeq
    val expect = events.where(col("user_id").between(60, 90) &&
      col("value").between(100.0, 200.0)).count()
    val got =
      if (kept.isEmpty) 0L
      else spark.read.parquet(kept: _*)
        .where(col("user_id").between(60, 90) && col("value").between(100.0, 200.0))
        .count()
    assert(got === expect, "celled pruning must never drop a matching row")
  }
}
