package graft.exec

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every graft main (and the spec session)
  * builds through, so the conf set cannot drift between entry points:
  *
  *  - `local[cpus]` with `shuffle.partitions = cpus`, UTC, no UI;
  *  - `spark.sql.codegen.cache.maxEntries=2000`: the 100-entry default
  *    thrashes under a multi-query run (a single iterative query
  *    compiles ~155 classes), so every pass would recompile every
  *    operator — pure driver-side overhead in every measurement (static
  *    conf, must be set at session build);
  *  - `spark.sql.sources.parallelPartitionDiscovery.threshold=1024`:
  *    log-resolved reads pass EXPLICIT file lists, and past the default
  *    32 paths Spark launches a distributed LISTING job per DataFrame
  *    construction (0.2-0.4 s of pure scheduling at any SF — the default
  *    is tuned for high-latency object-store listings). The lake's read
  *    sets are cell-bounded (≤ 2^cellBits per lineage), so driver-side
  *    listing is right up to this bound; a 10⁵-file table reads through
  *    its manifest, never a 10⁵-path raw read;
  *  - log level WARN.
  *
  * `cpus` is `SPARK_GRAFT_CPUS`, default 4 (the driver contract's
  * local[4]). Any Spark conf this factory does not pin can still be set
  * per run as a `-Dspark.…` system property (e.g.
  * `JAVA_TOOL_OPTIONS=-Dspark.sql.adaptive.enabled=false`): `SparkConf`
  * loads those before the builder's settings apply. */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def apply(threads: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
