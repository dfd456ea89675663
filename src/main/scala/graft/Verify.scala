package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: dump only these queries (dev iteration; the
    // driver always passes exactly two args and gets the full dump).
    val only = args.drop(2).toSet
    val spark = graft.exec.Session()
    new java.io.File(outDir).mkdirs()
    // Failed queries must leave a loud artifact, not just a stderr line:
    // in round 9 four queries crashed and simply VANISHED from the
    // driver's correctness report (no parquet → no row → invisible
    // regression, ADVICE r9). Collect every failure and dump a manifest
    // the driver (and any human) can diff against the registry.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // Release every frame the query persist()ed: 120+ queries in one
        // session would otherwise accumulate caches until heap eviction
        // (and re-persisting an identical canonicalized plan warns "Asked
        // to cache already cached data" on repeat invocations).
        spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Registry manifest (ADVICE r9): the driver's correctness report only
    // has rows for queries whose parquet landed, so a query that crashed
    // AND whose error line got lost would vanish without trace. This file
    // lists every registered query with its disposition — diffing it
    // against the correctness artifact makes any absence loud.
    val registry = SparkEntry.queries.keys.toSeq.sorted.map { k =>
      val disposition =
        if (failures.contains(k)) "error"
        else if (only.nonEmpty && !only(k)) "skipped"
        else if (SparkEntry.oracleSql.contains(k)) "dumped"
        else "dumped_no_oracle"
      s"${q(k)}: ${q(disposition)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_registry.json"), registry)
    // Always written (empty object when clean) so its ABSENCE is itself a
    // signal that the dump crashed before finishing.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
