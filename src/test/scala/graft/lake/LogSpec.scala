package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The generation log's on-disk format, pinned byte for byte, its file
  * mode, its corrupt-cursor error, and the source guard that keeps every
  * spelling of the format inside [[Log]]. */
class LogSpec extends SparkSpec {

  private val base = Seq("b0", "b1", "b2").map(n => "base" -> s"file:/fake/base/$n.parquet")
  private def delta(n: String) = "delta" -> s"file:/fake/delta/$n.parquet"
  private val fold = "base" -> "file:/fake/fold/f1.parquet"
  private val schema = "schema" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"

  /** Every file a fixed lineage leaves under `gens/` and `cursors/`:
    * g0 snapshot-form, g1/g2 actions, g3 a reordering that forces the
    * snapshot fallback, g4 a fold (actions plus the `c=4` checkpoint),
    * g5 an arrival over it, and one registered cursor. */
  private val golden = Map(
    "cursors/feed" -> "3",
    "gens/c=4" -> ("base\tfile:/fake/base/b2.parquet\nbase\tfile:/fake/base/b0.parquet\n" +
      "base\tfile:/fake/base/b1.parquet\nbase\tfile:/fake/fold/f1.parquet\nop\tfold\n" +
      "schema\tevent_id BIGINT, user_id BIGINT, value DOUBLE"),
    "gens/g=0" -> ("base\tfile:/fake/base/b0.parquet\nbase\tfile:/fake/base/b1.parquet\n" +
      "base\tfile:/fake/base/b2.parquet\nop\tseed"),
    "gens/g=1" -> "@delta\n-\top\tseed\n+\tdelta\tfile:/fake/delta/d1.parquet\n+\top\tarrival",
    "gens/g=2" -> "@delta\n-\top\tarrival\n+\tdelta\tfile:/fake/delta/d2.parquet\n+\top\tarrival",
    "gens/g=3" -> ("base\tfile:/fake/base/b2.parquet\nbase\tfile:/fake/base/b0.parquet\n" +
      "base\tfile:/fake/base/b1.parquet\ndelta\tfile:/fake/delta/d1.parquet\n" +
      "delta\tfile:/fake/delta/d2.parquet\nop\treorder"),
    "gens/g=4" -> ("@delta\n-\tdelta\tfile:/fake/delta/d1.parquet\n" +
      "-\tdelta\tfile:/fake/delta/d2.parquet\n-\top\treorder\n" +
      "+\tbase\tfile:/fake/fold/f1.parquet\n+\top\tfold\n" +
      "+\tschema\tevent_id BIGINT, user_id BIGINT, value DOUBLE"),
    "gens/g=5" -> ("@delta\n-\top\tfold\n-\tschema\tevent_id BIGINT, user_id BIGINT, value DOUBLE\n" +
      "+\tdelta\tfile:/fake/delta/d3.parquet\n+\top\tarrival"))

  test("a fixed lineage writes the recorded log files byte for byte") {
    val root = tempDir("graft-golden").toString
    val reordered = Seq(base(2), base(0), base(1))
    Log.commitGeneration(root, 0, base :+ ("op" -> "seed"))
    Log.commitGeneration(root, 1, base ++ Seq(delta("d1"), "op" -> "arrival"))
    Log.commitGeneration(root, 2, base ++ Seq(delta("d1"), delta("d2"), "op" -> "arrival"))
    Log.commitGeneration(root, 3, reordered ++ Seq(delta("d1"), delta("d2"), "op" -> "reorder"))
    Log.commitGeneration(root, 4, reordered ++ Seq(fold, "op" -> "fold", schema))
    Log.commitGeneration(root, 5, reordered ++ Seq(fold, delta("d3"), "op" -> "arrival"))
    Log.registerCursor(root, "feed", 3)
    val written = Seq("gens", "cursors").flatMap { sub =>
      val ls = Files.list(Paths.get(root, sub))
      try ls.iterator.asScala.toSeq.map { p =>
        s"$sub/${p.getFileName}" -> new String(Files.readAllBytes(p), "UTF-8")
      } finally ls.close()
    }.toMap
    assert(written.keySet === golden.keySet)
    golden.foreach { case (f, body) => assert(written(f) === body, s"bytes of $f") }
  }

  test("log files get the mode Files.createFile gives a file beside them") {
    val root = tempDir("graft-logmode")
    Log.commitGeneration(root.toString, 0, base :+ ("op" -> "seed"))
    val gens = root.resolve("gens")
    val plain = Files.createFile(gens.resolve("plain"))
    assert(Files.getPosixFilePermissions(gens.resolve("g=0")) ===
      Files.getPosixFilePermissions(plain))
  }

  test("a corrupt cursor sidecar fails naming the file") {
    val root = tempDir("graft-badcursor").toString
    Log.registerCursor(root, "live", 2)
    Files.write(Paths.get(root, "cursors", "broken"), "xyz".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](Log.readCursors(root))
    assert(e.getMessage.contains("cursors/broken"), e.getMessage)
    assert(e.getMessage.contains("'xyz'"), e.getMessage)
  }

  test("under src/main only graft/lake/Log.scala spells the log's on-disk format") {
    val log = Paths.get("src/main/scala/graft/lake/Log.scala")
    // comments may describe the format; only code is checked
    def code(f: java.nio.file.Path) = Files.readString(f)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)(^|\\s)//.*$", "$1")
    val owned = Seq("createTempFile", "Options\\.Rename", "/gens", "/cursors", "[\"/.]g=")
    def hits(text: String, p: String) = p.r.findAllMatchIn(text).size
    val own = code(log)
    owned.foreach(p => assert(hits(own, p) > 0, s"Log.scala no longer holds $p"))
    assert(hits(own, "createTempFile") === 1, "one atomic write, one temp file")
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala")).toSeq
    val offenders = for {
      f <- sources if f != log
      text = code(f)
      p <- owned if hits(text, p) > 0
    } yield s"$f: $p"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
