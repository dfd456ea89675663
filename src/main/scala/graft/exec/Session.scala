package graft.exec

import org.apache.spark.sql.SparkSession

import graft.functions.{Md5ConvRewrite, NativeFunction}
import graft.sources.LocalFs

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
  *  - log level WARN;
  *  - graft's session state, attached by [[install]].
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
    install(spark)
    spark
  }

  /** Attach graft's session state to `spark`; every step is idempotent
    * and O(1), so [[graft.Tables.table]] runs it on every read for
    * sessions this factory did not build:
    *
    *  - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.ts` ships
    *    as parquet TIMESTAMP(NANOS), which Spark rejects outright; read
    *    as raw nanos, [[graft.Tables.events]] truncates it to micros —
    *    the truncation DuckDB applies to TIMESTAMP_NS. It is the only
    *    conf this sets, so a caller's own session keeps its settings;
    *  - every [[NativeFunction.all]] function, registered only where the
    *    session lacks it (a replacement logs a WARN);
    *  - the [[Md5ConvRewrite]] optimizer rule. `CosineHofRewrite` stays
    *    out: no query emits the HOF cosine chain, and the specs keep it
    *    as the reference the native expression is checked against;
    *  - the fork-free `file:` filesystem ([[LocalFs]]) on the context's
    *    Hadoop configuration. */
  def install(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    NativeFunction.all.foreach(_.register(spark))
    Md5ConvRewrite.register(spark)
    LocalFs.install(spark.sparkContext.hadoopConfiguration)
  }

  /** Run `body` with `confs` set on `spark`, then restore each key to its
    * prior value, or unset it if it had none, on every path out. The
    * optimizer reads the SESSION's conf at action time, so the body must
    * EXECUTE (not merely construct) everything it wants planned under the
    * window, including `optimizedPlan` accesses, which latch on first
    * touch. SparkSession conf is session-global ACROSS THREADS: an action
    * planned concurrently on another thread of the same session silently
    * inherits these overrides, so a window must never overlap concurrent
    * actions. A caller that needs thread isolation should plan inside
    * `spark.newSession()` (cloned session state, shared SparkContext),
    * with [[install]] run on it. */
  def withConf[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
