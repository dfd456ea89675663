package graft

import org.apache.spark.sql.SparkSession

/** User-facing runner — the "switch to this library" entry point:
  *
  *   runMain graft.Run list
  *   runMain graft.Run <queryName> [sfDir] [limit]
  *
  * Runs a registered query against a data directory and prints the result
  * (truncated to `limit`, default 20 rows) plus the formatted plan when
  * GRAFT_EXPLAIN=1.
  */
object Run {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val limit = args.lift(2).flatMap(_.toIntOption).getOrElse(20)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — run `graft.Run list`; " +
        s"did you mean ${SparkEntry.queries.keys.minBy(levenshtein(_, name))}?"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // see Bench: the 100-entry default codegen cache thrashes on the
      // iterative queries, recompiling every operator each round
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .appName(s"graft:$name")
      // explicit-file-list reads: driver-side listing up to 1024 paths
      // (see Bench.scala for the full rationale; parameterised via env)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_PAR_THRESHOLD", "1024"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = fn(spark, dir)
    if (sys.env.get("GRAFT_EXPLAIN").contains("1")) df.explain("formatted")
    df.show(limit, truncate = false)
    println(s"[run] $name over $dir: ${df.count()} rows")
    spark.stop()
  }

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
