package graft.ext

import java.nio.file.{Files, Paths}

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.exec.Pool

/** The report pool (`Pool.async`, `Pool.overlap`) and its failure paths:
  * pool threads start with NO inherited Spark local properties (only the
  * four job properties are handed over, per task), and a query whose
  * main-thread work or earlier await fails cancels and joins its
  * outstanding report tasks and releases its cached frames before
  * rethrowing. */
class ReportPoolSpec extends SparkSpec {

  private val staleKey = "graft.spec.stale"

  test("pool threads never see a local property the submitter held at thread creation") {
    val sc = spark.sparkContext
    sc.setLocalProperty(staleKey, "submitter")
    sc.setJobGroup("graft-spec-group", "report pool spec")
    try {
      // a thread built by the pool's factory under the property starts clean
      @volatile var seen = "unset"
      val t = Pool.reportThreads.newThread(() => seen = sc.getLocalProperty(staleKey))
      t.start()
      t.join()
      assert(seen === null)
      // fill every pool thread at once while the property is held: any
      // thread the pool creates now is created under it
      val gate = new java.util.concurrent.CountDownLatch(1)
      val held = (1 to 3).map(_ => Pool.async(spark)(() => {
        gate.await()
        (sc.getLocalProperty(staleKey), sc.getLocalProperty("spark.jobGroup.id"))
      }))
      gate.countDown()
      // the job group IS handed over; the extra property is not
      assert(held.map(_.await) === Seq.fill(3)((null, "graft-spec-group")))
    } finally {
      sc.setLocalProperty(staleKey, null)
      sc.clearJobGroup()
    }
    // a later task on the same threads sees neither
    val later = (1 to 3).map(_ => Pool.async(spark)(() =>
      (sc.getLocalProperty(staleKey), sc.getLocalProperty("spark.jobGroup.id"))))
    assert(later.map(_.await) === Seq.fill(3)((null, null)))
  }

  /** A copy of sf0.001 whose documents parquet has its data truncated
    * after the first column chunk (`doc_id`): every later byte up to the
    * footer is zeroed, the length and footer kept. The schema still
    * resolves and the row group still lands in the read split (a
    * shorter file would drop it from the split and read as empty), so
    * the query gets as far as caching its frames and starting its
    * report task, and every job that reads `text` then fails. */
  private lazy val truncatedDir: String = {
    val src = Paths.get("/root/testdata/sf0.001")
    val d = tempDir("graft-truncated-sf")
    Files.list(src).forEach(p => Files.copy(p, d.resolve(p.getFileName)))
    val docs = d.resolve("documents.parquet")
    val bytes = Files.readAllBytes(docs)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(docs.toString), new org.apache.hadoop.conf.Configuration()))
    val textStart = try reader.getFooter.getBlocks.get(0).getColumns.toArray
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
        .find(_.getPath.toDotString == "text").get.getStartingPos.toInt
      finally reader.close()
    // trailer = <footer><4-byte little-endian footer length>PAR1
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, textStart, bytes.length - footerLen - 8, 0.toByte)
    Files.write(docs, bytes)
    d.toString
  }

  test("splitLeakage and incrementalClusters leave no cache entry or job behind when they fail") {
    val queries = Seq(
      "splitLeakage" -> (() => Curation.splitLeakage(spark, truncatedDir).collect()),
      "incrementalClusters" ->
        (() => Curation.incrementalClusters(spark, truncatedDir).collect()))
    for ((name, run) <- queries) {
      spark.catalog.clearCache()
      intercept[Exception](run())
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cached frame")
      // job ends reach the status store through the listener bus
      eventually(timeout(Span(10, Seconds))) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
          s"$name left a job running")
      }
    }
  }

  /** Runs `body` with a listener recording the job group of every job
    * started meanwhile, and returns those groups once every recorded job
    * has ended. */
  private def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      body
      eventually(timeout(Span(10, Seconds))) {
        assert(!started.isEmpty && ended.containsAll(started.keySet))
      }
    } finally sc.removeSparkListener(listener)
    started.values.toArray(Array.empty[String]).toSeq
  }

  test("a task submitted with no default session runs in the submitter's group and cancels") {
    val sc = spark.sparkContext
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    sc.setJobGroup("graft-spec-nodefault", "report pool spec", interruptOnCancel = true)
    try {
      val groups = jobGroupsOf {
        assert(Pool.async(spark)(() => spark.range(0, 100, 1, 2).count()).await === 100L)
      }
      assert(groups.nonEmpty && groups.forall(_ == "graft-spec-nodefault"), groups)
      // a running task: its one job's tasks sleep until interrupted
      val task = Pool.async(spark)(() =>
        sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(60000)))
      eventually(timeout(Span(30, Seconds))) {
        assert(sc.statusTracker.getActiveJobIds.nonEmpty)
      }
      val t0 = System.nanoTime()
      task.cancel()
      assert((System.nanoTime() - t0) / 1e9 < 20, "cancel did not stop the running task")
      intercept[Exception](task.await)
      eventually(timeout(Span(10, Seconds))) {
        assert(sc.statusTracker.getActiveJobIds.isEmpty)
      }
    } finally {
      sc.clearJobGroup()
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  test("overlap cancels a still-running task when an earlier task's await throws") {
    val sc = spark.sparkContext
    sc.setJobGroup("graft-spec-overlap", "report pool spec", interruptOnCancel = true)
    try {
      val release = new java.util.concurrent.CountDownLatch(1)
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Pool.overlap(spark) { o =>
          val failing = o.async(() => { release.await(); throw new IllegalStateException("boom") })
          // a running task: its one job's tasks sleep until interrupted
          val running = o.async(() => sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(60000)))
          eventually(timeout(Span(30, Seconds))) {
            assert(sc.statusTracker.getActiveJobIds.nonEmpty)
          }
          release.countDown()
          Seq(failing, running).map(_.await)
        }
      }
      assert(e.getMessage === "boom")
      assert((System.nanoTime() - t0) / 1e9 < 40, "the running task was not cancelled")
      eventually(timeout(Span(10, Seconds))) {
        assert(sc.statusTracker.getActiveJobIds.isEmpty, "overlap left a job running")
      }
    } finally sc.clearJobGroup()
  }

  test("x_curation_e2e runs every job in the caller's group and leaves nothing behind, also when it fails") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup("graft-spec-curation", "curation pipeline")
    try {
      val groups = jobGroupsOf {
        Curation.curationPipeline(spark, "/root/testdata/sf0.001").collect()
      }
      assert(groups.forall(_ == "graft-spec-curation"), groups.distinct)
      // failure path: the label loop throws while the scan task may still run
      intercept[Exception](Curation.curationPipeline(spark, truncatedDir).collect())
    } finally sc.clearJobGroup()
    assert(spark.sharedState.cacheManager.isEmpty, "x_curation_e2e left a cached frame")
    eventually(timeout(Span(10, Seconds))) {
      assert(sc.statusTracker.getActiveJobIds.isEmpty, "x_curation_e2e left a job running")
    }
  }
}
