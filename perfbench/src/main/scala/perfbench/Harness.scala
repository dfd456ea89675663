package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

import graft.SparkEntry

/** Closed-loop client for one benchmark run: one thread calls
  * registered `SparkEntry.queries` in the order the schedule file gives,
  * timing every call through three public boundaries (build, plan, exec).
  * The warm-up pass writes each query's output to parquet for the oracle
  * compare; timed passes materialize through the noop sink.
  *
  * Arguments are `key=value` pairs:
  *   data      input table directory
  *   schedule  file with one pass per line (query names, space-separated):
  *             the first line is the warm-up pass, the rest timed passes
  *   seconds   the timed phase runs whole passes until this much wall time
  *   trace     1: after one untraced settling pass, each query's calls run
  *             traced, untraced, untraced, traced, in whole rounds of four
  *             passes; traced calls attach the listeners and collect
  *             counters and spans, so one run yields the tracing overhead
  *   wipe      1: wipe the lake scratch before every call
  *   lake      lake scratch root (`java.io.tmpdir` once the session is up)
  *   out       directory for results.json, spans.jsonl and oracle outputs
  *   mode      `run` (default) or `gap` (count() vs full materialization,
  *             results in gap.json)
  */
object Harness {
  val GroupPrefix = "perfbench-call-"

  /** `slot` is the call's whole turn in the loop: the wall plus the wipe,
    * cache clearing and, when traced, the listener drain around it. */
  final case class Call(id: Int, pass: Int, query: String, traced: Boolean, build: Double,
      plan: Double, exec: Double, wall: Double, slot: Double, ok: Boolean, error: String,
      extra: Map[String, Double])

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds of a `System.nanoTime` reading. */
  def epochMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  private var sessionMs = 0.0

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = args("data")
    val out = new File(args("out"))
    val lake = new File(args("lake"))
    val cores = Runtime.getRuntime.availableProcessors
    out.mkdirs(); lake.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.local.dir", args("local"))
      .config("spark.sql.warehouse.dir", args("warehouse"))
      .getOrCreate()
    sessionMs = System.currentTimeMillis().toDouble
    spark.sparkContext.setLogLevel("ERROR")
    // Layout.scratchDir reads java.io.tmpdir on every call; pointing it at
    // the lake root only now keeps Spark's block-manager dirs outside it.
    System.setProperty("java.io.tmpdir", lake.getPath)
    wipeLake(lake)
    try args.getOrElse("mode", "run") match {
      case "run" => run(spark, args, data, out, lake, cores)
      case "gap" => gap(spark, args, data, out)
    } finally {
      wipeLake(lake)
      spark.stop()
    }
  }

  /** Removes the engine's `graft_*` scratch entries under the lake root. */
  def wipeLake(root: File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).foreach(deleteTree)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum
    else f.length

  private def lakeBytes(root: File): Long =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).map(treeBytes).sum

  private def readSchedule(path: String): Seq[Seq[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq)

  /** Expressions that run interpreted inside generated code: CodegenFallback
    * nodes and higher-order-function lambdas. */
  private def interpNodes(df: DataFrame): Int =
    Tracer.nodes(df.queryExecution.executedPlan).map { n =>
      n.expressions.map(_.collect {
        case e: CodegenFallback => e
        case e: HigherOrderFunction => e
      }.size).sum
    }.sum

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private def run(spark: SparkSession, args: Map[String, String], data: String,
      out: File, lake: File, cores: Int): Unit = {
    val sc = spark.sparkContext
    val schedule = readSchedule(args("schedule"))
    val wipe = args.get("wipe").contains("1")
    val traced = args.get("trace").contains("1")
    val seconds = args("seconds").toDouble
    val registry = SparkEntry.queries
    val inputBytes = treeBytes(new File(data)).toDouble
    val tracer = new Tracer
    val oracleDir = new File(out, "oracle")
    var nextId = 0

    /** One call: build, plan and exec timed from outside the engine. The
      * warm-up pass (0) writes the output to parquet for the oracle compare. */
    def call(pass: Int, name: String, trace: Boolean): Call = {
      val id = nextId
      nextId += 1
      val entered = System.nanoTime()
      if (wipe) wipeLake(lake)
      spark.catalog.clearCache()
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      // the listeners are attached only while a traced call runs
      if (trace) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        tracer.callId = id
      }
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val gc0 = gcMs()
      // build ends at b, plan at p; exec runs from x to e
      val start = System.nanoTime()
      var (b, p, x, e) = (0L, 0L, 0L, 0L)
      var interp = 0
      val error = try {
        val df = registry(name)(spark, data)
        b = System.nanoTime()
        val plan = df.queryExecution.executedPlan
        p = System.nanoTime()
        // the noop sink writes every column the plan outputs
        val cols = plan.output.map(_.name)
        if (cols != df.columns.toSeq)
          throw new IllegalStateException(s"timed plan outputs $cols, query has ${df.columns.toSeq}")
        if (trace) interp = interpNodes(df)
        x = System.nanoTime()
        if (pass == 0)
          df.coalesce(1).write.mode("overwrite").parquet(new File(oracleDir, name).getPath)
        else df.write.format("noop").mode("overwrite").save()
        e = System.nanoTime()
        ""
      } catch { case NonFatal(t) =>
        e = System.nanoTime()
        if (b == 0L) b = e
        if (p == 0L) p = e
        if (x == 0L) x = e
        s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(300)}"
      } finally sc.clearJobGroup()
      var extra = Map.empty[String, Double]
      if (trace) {
        spark.catalog.clearCache()
        Bus.drain(sc)
        tracer.callId = -1
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        val c = tracer.counters.getOrElse(id, new Counters)
        val cid = s"call$id"
        tracer.synchronized {
          tracer.spans += Span(cid, "", "call", name, id, epochMs(start), epochMs(e))
          tracer.spans += Span(s"$cid.build", cid, "build", name, id, epochMs(start), epochMs(b))
          tracer.spans += Span(s"$cid.plan", cid, "plan", name, id, epochMs(b), epochMs(p))
          tracer.spans += Span(s"$cid.exec", cid, "exec", name, id, epochMs(x), epochMs(e))
        }
        extra = Map[String, Double](
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_duration_s" -> c.taskDurationMs / 1e3, "task_run_s" -> c.taskRunMs / 1e3,
          "task_cpu_s" -> c.taskCpuNs / 1e9,
          "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
          "spill_bytes" -> c.spill, "cache_read_bytes" -> c.inputBytes,
          "write_bytes" -> c.outputBytes, "write_files" -> c.writeFiles,
          "scan_files" -> c.scanFiles, "scan_bytes" -> c.scanBytes,
          "interp_nodes" -> interp,
          "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
          "gc_s" -> (gcMs() - gc0) / 1e3,
          "persisted_rdds_after" -> sc.getPersistentRDDs.size,
          "active_jobs_after" -> sc.statusTracker.getActiveJobIds().length,
          "scratch_bytes_per_input_byte" -> lakeBytes(lake) / inputBytes)
      }
      println(f"[call] pass=$pass%d $name%s ${(e - start) / 1e9}%.3f s ${if (error.isEmpty) "ok" else error}%s")
      Call(id, pass, name, trace, (b - start) / 1e9, (p - b) / 1e9, (e - x) / 1e9,
        (e - start) / 1e9, (System.nanoTime() - entered) / 1e9, error.isEmpty, error, extra)
    }

    val warm = schedule.head.map(call(0, _, trace = false))
    val timedStart = System.nanoTime()
    val cpu0 = cpuNs()
    val timed = mutable.ArrayBuffer.empty[Call]
    val passWall = mutable.ArrayBuffer.empty[(Int, Double)]
    val queryIndex = schedule.head.distinct.sorted.zipWithIndex.toMap
    var pass = 1
    // Whole passes until `seconds` have elapsed. The JIT keeps settling
    // over the first timed pass, so a traced run leaves that pass untraced
    // and out of the overhead. After it, each query's calls run traced,
    // untraced, untraced, traced in whole rounds of four passes, offset by
    // the query's index so that traced and untraced calls interleave: a
    // drift across the run weighs on both sides alike.
    def unfinished = if (traced) pass < 6 || (pass - 2) % 4 != 0 else pass == 1
    while (((System.nanoTime() - timedStart) / 1e9 < seconds || unfinished) &&
        pass < schedule.size) {
      val p0 = System.nanoTime()
      timed ++= schedule(pass).map { name =>
        call(pass, name, traced && pass > 1 && Set(0, 3)((pass - 2 + queryIndex(name)) % 4))
      }
      passWall += ((pass, (System.nanoTime() - p0) / 1e9))
      pass += 1
    }
    val timedEnd = System.nanoTime()
    val cpu1 = cpuNs()
    // Spark's context cleaner releases blocks of collected RDDs and
    // broadcasts only after a collection, so collect until the heap in use
    // stops shrinking.
    def collected(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var heapLive = collected()
    var rounds = 1
    var next = collected()
    while (next < heapLive * 0.99 && rounds < 8) {
      heapLive = next
      next = collected()
      rounds += 1
    }
    heapLive = heapLive.min(next)

    val names = schedule.head.distinct.sorted
    Files.writeString(new File(oracleDir, "oracle_sql.json").toPath, Json.obj(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))))

    if (traced) {
      val w = Files.newBufferedWriter(new File(out, "spans.jsonl").toPath)
      try tracer.spans.foreach { s =>
        w.write(Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
          "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
          "call" -> s.call.toString, "start_ms" -> Json.num(s.start),
          "end_ms" -> Json.num(s.end))))
        w.newLine()
      } finally w.close()
    }

    def callJson(c: Call) = Json.obj(Seq(
      "id" -> c.id.toString, "pass" -> c.pass.toString, "query" -> Json.str(c.query),
      "traced" -> c.traced.toString, "build_s" -> Json.num(c.build),
      "plan_s" -> Json.num(c.plan), "exec_s" -> Json.num(c.exec), "wall_s" -> Json.num(c.wall),
      "slot_s" -> Json.num(c.slot),
      "ok" -> c.ok.toString, "error" -> Json.str(c.error)) ++
      c.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val rt = ManagementFactory.getRuntimeMXBean
    Files.writeString(new File(out, "results.json").toPath, Json.obj(Seq(
      "session_ms" -> Json.num(sessionMs),
      "first_call_ms" -> Json.num(epochMs(timedStart)),
      "timed_s" -> Json.num((timedEnd - timedStart) / 1e9),
      "cpu_s" -> Json.num((cpu1 - cpu0) / 1e9),
      "heap_live_bytes" -> heapLive.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "cores" -> cores.toString,
      "jvm" -> Json.str(s"${rt.getVmName} ${rt.getVmVersion}"),
      "spark" -> Json.str(spark.version),
      "passes" -> passWall.map { case (i, s) =>
        Json.obj(Seq("pass" -> i.toString, "wall_s" -> Json.num(s)))
      }.mkString("[", ",", "]"),
      "warmup" -> warm.map(callJson).mkString("[", ",", "]"),
      "calls" -> timed.map(callJson).mkString("[", ",", "]"))))
  }

  /** Times each query under `count()` and under the noop-sink write, three
    * alternating rounds after one warm-up, for the benchmark doc. */
  private def gap(spark: SparkSession, args: Map[String, String], data: String,
      out: File): Unit = {
    val reps = 3
    val names = readSchedule(args("schedule")).head
    val wipe = args.get("wipe").contains("1")
    val lake = new File(args("lake"))
    val registry = SparkEntry.queries
    def time(f: => Unit): Double = {
      if (wipe) wipeLake(lake)
      spark.catalog.clearCache()
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val rows = names.map { name =>
      val q = registry(name)
      time(q(spark, data).write.format("noop").mode("overwrite").save())
      val runs = (1 to reps).map { _ =>
        (time(q(spark, data).count()),
          time(q(spark, data).write.format("noop").mode("overwrite").save()))
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      Json.obj(Seq("query" -> Json.str(name), "count_s" -> Json.num(med(runs.map(_._1))),
        "noop_s" -> Json.num(med(runs.map(_._2)))))
    }
    Files.writeString(new File(out, "gap.json").toPath, rows.mkString("[", ",\n", "]"))
  }
}

/** Minimal JSON writer for the harness's output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
