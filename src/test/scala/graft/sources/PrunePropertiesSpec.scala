package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Randomized properties for the footer-pruning loop — the guarantees
  * `x_footer_prune` rides on, checked over generated frames and boxes
  * rather than one fixture:
  *
  *  - COMPLETENESS: for ANY data and ANY query box, reading only the
  *    files [[FooterManifest.filesToRead]] keeps loses no matching row
  *    (prune-then-filter ≡ filter) — the property that makes footer
  *    pruning a pure optimization.
  *  - SOUNDNESS of the pruning rule: every pruned file provably
  *    contains no matching row (its actual data is disjoint from the
  *    box on at least one queried column).
  *
  * Inputs deliberately include the nasty cases: duplicate values,
  * negative values, NULLs in either column (quantized to cell 0 by the
  * writer; NULL never matches a box), single-row frames, and boxes that
  * are empty, total, or knife-edge on exact data values. */
class PrunePropertiesSpec extends SparkSpec {
  import spark.implicits._

  // tuples, not an inner case class: Spark cannot build an encoder for
  // a class nested in the suite (no outer-scope access on executors)
  private type Row3 = (Long, java.lang.Long, java.lang.Double)

  private def frameGen: Gen[List[Row3]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      u <- Gen.frequency(
        9 -> Gen.choose(-50L, 150L).map(java.lang.Long.valueOf),
        1 -> Gen.const(null.asInstanceOf[java.lang.Long]))
      v <- Gen.frequency(
        9 -> Gen.choose(-100, 400).map(x => java.lang.Double.valueOf(x / 2.0)),
        1 -> Gen.const(null.asInstanceOf[java.lang.Double]))
    } yield (u, v))
  } yield rows.zipWithIndex.map { case ((u, v), i) => (i.toLong, u, v) }

  private def boxGen(rows: List[Row3]): Gen[((Double, Double), (Double, Double))] = {
    // anchor boxes on actual data values half the time: knife-edge
    // bounds are where an off-by-one in the interval logic would hide
    val us = rows.flatMap(r => Option(r._2).map(_.doubleValue)) :+ 0.0
    val vs = rows.flatMap(r => Option(r._3).map(_.doubleValue)) :+ 0.0
    for {
      ul <- Gen.oneOf(Gen.choose(-60.0, 160.0), Gen.oneOf(us))
      uw <- Gen.choose(-10.0, 120.0) // negative width => empty box
      vl <- Gen.oneOf(Gen.choose(-60.0, 210.0), Gen.oneOf(vs))
      vw <- Gen.choose(-10.0, 150.0)
    } yield ((ul, ul + uw), (vl, vl + vw))
  }

  test("footer pruning is complete and sound on any frame and any box") {
    for (seed <- 1 to 5) {
      val rows = frameGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val d = tempDir(s"graft-pruneprop$seed").toString
      val df = rows.toDF("id", "u", "v")
      PartitionedSink.writeZCelled(df, d, Seq("u", "v"), bits = 12, cellBits = 3)
      val m = FooterManifest.build(spark, d, Seq("u", "v")).cache()
      val allFiles = m.select("file").distinct().as[String].collect().toSet
      val boxes = (1 to 6).map(i =>
        boxGen(rows).pureApply(Gen.Parameters.default, Seed(seed * 100L + i)))
      for (((ulo, uhi), (vlo, vhi)) <- boxes) {
        val kept = FooterManifest.filesToRead(m,
          Map("u" -> ((ulo, uhi)), "v" -> ((vlo, vhi))))
          .select("file").as[String].collect().toSet
        def matches(r: Row3): Boolean =
          r._2 != null && r._3 != null &&
            r._2.doubleValue >= ulo && r._2.doubleValue <= uhi &&
            r._3.doubleValue >= vlo && r._3.doubleValue <= vhi
        val expect = rows.count(matches).toLong
        // completeness: prune-then-filter answers exactly
        val got =
          if (kept.isEmpty) 0L
          else spark.read.parquet(kept.toSeq: _*)
            .where(col("u").between(ulo, uhi) && col("v").between(vlo, vhi))
            .count()
        assert(got === expect,
          s"seed=$seed box=([$ulo,$uhi]x[$vlo,$vhi]): pruning dropped matching rows")
        // soundness: every pruned file really has no matching row
        val pruned = allFiles -- kept
        if (pruned.nonEmpty) {
          val leaked = spark.read.parquet(pruned.toSeq: _*)
            .where(col("u").between(ulo, uhi) && col("v").between(vlo, vhi))
            .count()
          assert(leaked === 0L,
            s"seed=$seed box=([$ulo,$uhi]x[$vlo,$vhi]): pruned a file with matches")
        }
      }
      m.unpersist()
    }
  }

  /** Unsigned UTF-8 byte comparison — the collation parquet UTF8 stats,
    * Spark's UTF8String and DuckDB VARCHAR all order by. The reference
    * for the string-box properties below must use it too: Java
    * String.compareTo is UTF-16-code-unit order, which DISAGREES for
    * astral-plane code points (the 𝒜 entries exist to catch a reference
    * or manifest fold that slips back to String ordering). */
  private def u8cmp(a: String, b: String): Int = {
    val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val d = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    ab.length - bb.length
  }

  test("string-column pruning is complete and sound, multi-byte strings included") {
    // pool spans 1-byte ASCII, 2-byte (é, Ω), 3-byte CJK, and 4-byte
    // astral-plane UTF-8 — plus values straddling their sort boundaries
    val pool = Vector("abc", "azz", "eclair", "éclair", "Ωmega", "zzz",
      "日本語", "中文", "𝒜𝓁𝓅𝒽𝒶", "𝔅old", "mix日ed", "MIXED")
    val sGen = Gen.frequency(
      9 -> Gen.oneOf(pool),
      1 -> Gen.const(null.asInstanceOf[String]))
    for (seed <- 1 to 5) {
      val rows = Gen.listOfN(40, Gen.zip(sGen, Gen.choose(-100, 400).map(_ / 2.0)))
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .zipWithIndex.map { case ((s, v), i) => (i.toLong, s, v) }
      val d = tempDir(s"graft-prunestr$seed").toString
      rows.toDF("id", "s", "v")
        .repartition(4, col("s"))
        .write.mode(SaveMode.Overwrite).parquet(d)
      val m = FooterManifest.build(spark, d, Seq("s", "v")).cache()
      val allFiles = m.select("file").distinct().as[String].collect().toSet
      val sorted = pool.sortWith(u8cmp(_, _) < 0)
      val boxes = for (i <- 0 until pool.size; j <- i until pool.size by 3)
        yield (sorted(i), sorted(j))
      for ((lo, hi) <- boxes) {
        val kept = FooterManifest.filesToRead(m, Map.empty,
          Map("s" -> ((lo, hi)))).select("file").as[String].collect().toSet
        def matches(r: (Long, String, Double)): Boolean =
          r._2 != null && u8cmp(r._2, lo) >= 0 && u8cmp(r._2, hi) <= 0
        val expect = rows.count(matches).toLong
        val got =
          if (kept.isEmpty) 0L
          else spark.read.parquet(kept.toSeq: _*)
            .where(col("s").between(lo, hi)).count()
        assert(got === expect,
          s"seed=$seed box=[$lo,$hi]: string pruning dropped matching rows")
        val pruned = allFiles -- kept
        if (pruned.nonEmpty) {
          val leaked = spark.read.parquet(pruned.toSeq: _*)
            .where(col("s").between(lo, hi)).count()
          assert(leaked === 0L,
            s"seed=$seed box=[$lo,$hi]: pruned a file with matching strings")
        }
      }
      m.unpersist()
    }
  }
}
