package graft.ext

import java.nio.file.{Files, Paths}

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

/** The report pool (`Layout.async`) and its failure paths: pool threads
  * start with NO inherited Spark local properties (only the four job
  * properties are handed over, per task), and a query whose main-thread
  * work fails cancels and joins its outstanding report task and releases
  * its cached frames before rethrowing. */
class ReportPoolSpec extends SparkSpec {

  private val staleKey = "graft.spec.stale"

  test("pool threads never see a local property the submitter held at thread creation") {
    val sc = spark.sparkContext
    sc.setLocalProperty(staleKey, "submitter")
    sc.setJobGroup("graft-spec-group", "report pool spec")
    try {
      // a thread built by the pool's factory under the property starts clean
      @volatile var seen = "unset"
      val t = Layout.reportThreads.newThread(() => seen = sc.getLocalProperty(staleKey))
      t.start()
      t.join()
      assert(seen === null)
      // fill every pool thread at once while the property is held: any
      // thread the pool creates now is created under it
      val gate = new java.util.concurrent.CountDownLatch(1)
      val held = (1 to 3).map(_ => Layout.async(() => {
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
    val later = (1 to 3).map(_ => Layout.async(() =>
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
    val d = Files.createTempDirectory("graft-truncated-sf")
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
}
