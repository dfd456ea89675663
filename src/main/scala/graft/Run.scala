package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** User-facing runner — the "switch to this library" entry point, and the
  * one dev main:
  *
  *   runMain graft.Run list
  *   runMain graft.Run <queryName> [sfDir] [limit]
  *   runMain graft.Run profile <sfDir> [runs] [query ...]
  *   runMain graft.Run plans <sfDir> <outDir> [query ...]
  *
  *  - `<queryName>` runs a registered query against a data directory and
  *    prints the result (truncated to `limit`, default 20 rows) plus the
  *    formatted plan when GRAFT_EXPLAIN=1.
  *  - `profile` runs the named queries (default: all) `runs` times
  *    (default 2) and prints each run's wall time and the number of
  *    Spark jobs it started, plus the post-AQE executed plan when
  *    queries are named.
  *  - `plans` writes `.explain("formatted")` for the named queries
  *    (default: [[Bench.headline]]) to `<outDir>/<name>.txt` — the
  *    plan-shape evidence the optimization rounds commit under `plans/`.
  *
  * Every mode runs on [[graft.exec.Session]]; pass any conf it does not
  * pin as a `-Dspark.…` system property (`run` forks, so
  * `JAVA_TOOL_OPTIONS` reaches the session).
  */
object Run {
  def main(args: Array[String]): Unit = args.toList match {
    case Nil | "list" :: _ =>
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    case "profile" :: dir :: rest =>
      profile(dir, rest.headOption.flatMap(_.toIntOption).getOrElse(2), rest.drop(1).toSet)
    case "plans" :: dir :: outDir :: names =>
      plans(dir, outDir, if (names.isEmpty) Bench.headline else names)
    case (mode @ ("profile" | "plans")) :: _ =>
      sys.error(s"usage: graft.Run $mode <sfDir> ${if (mode == "plans") "<outDir>" else "[runs]"} [query ...]")
    case _ => query(args)
  }

  private def query(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val limit = args.lift(2).flatMap(_.toIntOption).getOrElse(20)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — run `graft.Run list`; " +
        s"did you mean ${SparkEntry.queries.keys.minBy(levenshtein(_, name))}?"))
    withSession { spark =>
      val df = fn(spark, dir)
      if (sys.env.get("GRAFT_EXPLAIN").contains("1")) df.explain("formatted")
      df.show(limit, truncate = false)
      println(s"[run] $name over $dir: ${df.count()} rows")
    }
  }

  private def profile(dir: String, runs: Int, names: Set[String]): Unit = withSession { spark =>
    val selected = SparkEntry.queries.filter { case (n, _) => names.isEmpty || names(n) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val timed = (1 to runs).map { i =>
        // clear per RUN, not just per query: internal persist()s stay hot
        // across runs otherwise (cache manager keys on canonicalized
        // plans) and later runs measure cached reads, not execution
        spark.catalog.clearCache()
        var secs = 0.0
        val jobs = jobsStarted(spark, s"graft-profile-$name-$i") {
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          secs = (System.nanoTime() - t0) / 1e9
        }
        f"$secs%7.2f s $jobs%3d jobs"
      }
      println(f"[profile] $name%-28s ${timed.mkString("  ")}")
      if (names.nonEmpty) {
        val df = fn(spark, dir)
        df.count() // materialize so AQE settles on the final plan
        println(df.queryExecution.executedPlan.toString)
      }
    }
  }

  /** Runs `body` under job group `group` and returns the number of Spark
    * jobs it started (report-pool tasks inherit the group). A listener
    * counts them; it is read once a one-task sentinel job run after
    * `body` has reached it, since the listener bus delivers in order. */
  private[graft] def jobsStarted(spark: SparkSession, group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val sentinel = s"$group-drained"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `sentinel` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(run: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try run finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(sentinel)(sc.parallelize(Seq(0), 1).count())
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"the listener bus did not deliver the job starts of $group within 60 s")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def plans(dir: String, outDir: String, names: Seq[String]): Unit = withSession { spark =>
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try {
          spark.catalog.clearCache()
          val plan = fn(spark, dir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.write(Paths.get(s"$outDir/$name.txt"), plan.getBytes("UTF-8"))
          println(s"[plans] wrote $name")
        } catch { case e: Throwable =>
          println(s"[plans] $name FAILED: ${e.getMessage}")
        }
      }
    }
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = graft.exec.Session()
    try body(spark) finally spark.stop()
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
