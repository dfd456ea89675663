package graft.streaming

import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.ops.SensorPipeline
import graft.Tables

/** The batch/stream unification proof: the SAME windowed aggregation
  * expressions, fed once from a batch read and once through a file-based
  * `readStream`, must produce identical results on the driver's real
  * events table. */
class StreamBatchParitySpec extends SparkSpec {

  test("file-source stream through windowedWide == batch wideAgg (closed windows)") {
    val dir = "/root/testdata/sf0.001"
    val stream = SensorStream.eventsStream(spark, dir)
    val q = SensorStream.windowedWide(stream, watermark = "0 seconds")
      .writeStream.format("memory").queryName("parity_out")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("parity_out")

    val batch = SensorPipeline.wideAgg(Tables.events(spark, dir))
    // append mode emits only windows the final watermark passed — every
    // window strictly before max(ts): compare on the common prefix
    val cutoff = streamed.agg(org.apache.spark.sql.functions.max("timestamp")).head().getTimestamp(0)
    val batchClosed = batch.where(org.apache.spark.sql.functions.col("timestamp") <= cutoff)
    assert(streamed.count() > 0)
    assert(streamed.count() === batchClosed.count())
    assert(streamed.exceptAll(batchClosed).isEmpty && batchClosed.exceptAll(streamed).isEmpty)
  }

  test("streaming transitions over 3 ordered batches == batch transition matrix") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    implicit val ctx = spark.sqlContext
    // replay the real events table in event-time order, split into 3
    // batches — the ingest shape the operator contracts on; the bigrams
    // straddling the two batch cuts must come from kept state
    val evs = Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
      .sortBy(e => (e._3.getTime, e._2))
      .map(e => StatefulOps.TypedEvt(e._1, e._2, e._3, e._4))
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StatefulOps.TypedEvt]
    val q = StatefulOps.transitions(stream.toDS())
      .toDF().writeStream.format("memory").queryName("trans_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped((evs.length + 2) / 3).foreach { batch =>
        stream.addData(batch.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("trans_parity")
      .groupBy("prev", "curr").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val batch = graft.ops.Analytics.eventTransitions(spark, dir)
      .select("prev", "curr", "n").as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(batch.nonEmpty && streamed === batch,
      s"stream/batch transition divergence: " +
        s"extra=${(streamed.toSet -- batch.toSet).take(3)} missing=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("transformWithState transitions == flatMapGroupsWithState twin (3 batches)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    implicit val ctx = spark.sqlContext
    val evs = Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
      .sortBy(e => (e._3.getTime, e._2))
      .map(e => StatefulOps.TypedEvt(e._1, e._2, e._3, e._4))
    withRocksDbState {
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StatefulOps.TypedEvt]
      val q = StatefulOps.transitionsTws(stream.toDS())
        .toDF().writeStream.format("memory").queryName("trans_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        evs.grouped((evs.length + 2) / 3).foreach { batch =>
          stream.addData(batch.toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    val tws = spark.table("trans_tws")
      .groupBy("prev", "curr").count()
      .as[(String, String, Long)].collect().toSet
    val batchMatrix = graft.ops.Analytics.eventTransitions(spark, dir)
      .select("prev", "curr", "n").as[(String, String, Long)].collect().toSet
    assert(tws === batchMatrix)
  }

  test("streaming near-dup pairs == batch simhashPairs on the real documents table") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    implicit val ctx = spark.sqlContext
    // feed every fixture document through the stream in one batch, all at
    // one event time (no eviction in play — pure detection parity)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[NearDupStream.Doc]
    val q = NearDupStream.nearDupSimhash(stream.toDS(), watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("neardup_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(docs.map { case (id, t) =>
        NearDupStream.Doc(id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), t)
      }.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("neardup_parity")
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    // batch samples probes (doc_id % 10 == 0, probe = smaller id); the
    // streaming operator detects ALL pairs — restrict to the batch slice
    val batch = graft.ext.Dedup.simhashPairs(spark, dir)
      .as[(Long, Long, Int)].collect().toSet
    val streamedSlice = streamed.filter { case (a, _, _) => a % 10 == 0 }
    assert(batch.nonEmpty, "fixture must contain near-dup pairs")
    assert(streamedSlice === batch,
      s"stream/batch divergence: extra=${(streamedSlice -- batch).take(5)} " +
        s"missing=${(batch -- streamedSlice).take(5)}")
    // exactly-once: no pair may appear twice even across 9 band collisions
    val keys = spark.table("neardup_parity").select("doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(keys.length === keys.distinct.length, "duplicate pair emissions")
  }

  test("streaming gopher quality gate == batch battery on the real documents table") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // stateless map-side battery: append mode, no watermark, no state
    val q = graft.ext.TextAnalysis.gopherSignalsOf(stream.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // several micro-batches: per-row signals must not depend on batching
      docs.grouped(200).foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("gopher_stream")
    val batch = graft.ext.TextAnalysis.gopherSignals(spark, dir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "ingest-time gate must score exactly like the batch battery")
  }

  test("streaming fused quality gate (classifier ∧ gopher) == batch conjunction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // the curation pipeline's whole front tier — learned filter embedded
    // in the scan predicate, rule battery over survivors — is stateless,
    // so it applies unchanged as an ingest-time gate
    val q = graft.ext.TextAnalysis.gopherSignalsOf(
        stream.toDS().toDF("doc_id", "text")
          .where(graft.ext.TextAnalysis.classifierKeep(col("text"))))
      .where(col("keep") === 1).select("doc_id")
      .writeStream.format("memory").queryName("fused_gate_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      docs.grouped(200).foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("fused_gate_stream").as[Long].collect().toSet
    val batch = graft.ext.TextAnalysis.gopherSignalsOf(
        Tables.documents(spark, dir)
          .where(graft.ext.TextAnalysis.classifierKeep(col("text"))))
      .where(col("keep") === 1).select("doc_id").as[Long].collect().toSet
    assert(batch.nonEmpty, "fixture sanity: some docs must pass both gates")
    assert(streamed === batch,
      "ingest-time fused gate must admit exactly the batch conjunction's survivors")
  }

  test("lake ingest through the real streaming engine == the batch replay, metrics row-for-row") {
    // VERDICT r15 task 2: the arrival loop's foreachBatch body is ONE
    // definition (Layout.lakeIngestStep) — this proves the two engines
    // also EXECUTE to identical per-batch decisions and box counts on
    // the driver's real events table, including the incremental
    // rows_out_after threading through streaming micro-batch boundaries
    val dir = "/root/testdata/sf0.001"
    val batch = graft.ext.Layout.lakeIngest(spark, dir)
      .collect().map(_.toSeq).toSeq
    val stream = LakeIngestStream.lakeIngestStream(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(batch.length === 3)
    assert(stream === batch,
      s"stream/batch ingest divergence:\n stream=$stream\n batch=$batch")
    // the streaming lineage is physically real: one staged arrival file
    // and one appended delta file per micro-batch
    val root = graft.exec.Scratch.root("lake_ingest_stream", dir)
    (0 until 3).foreach { i =>
      assert(new java.io.File(s"$root/stage/b$i.parquet").isFile,
        s"staged arrival file b$i must exist")
      val n = new java.io.File(s"$root/delta/b=$i")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"micro-batch $i must land exactly one delta file")
    }
    // the two engines write generation-for-generation IDENTICAL logs
    // (round 19 — one committed-fold definition shared by both): same
    // generations, same op stamps, same per-kind reference counts
    val broot = graft.exec.Scratch.root("lake_ingest", dir)
    assert(graft.lake.Log.listGenerations(root) ===
      graft.lake.Log.listGenerations(broot))
    graft.lake.Log.listGenerations(root).foreach { g =>
      def shape(r: String) = graft.lake.Log.readGeneration(r, g)
        .groupBy(_._1).map { case (k, es) =>
          k -> (if (k == "op") es.map(_._2).toSet.toSeq else Seq(es.size.toString))
        }
      assert(shape(root) === shape(broot), s"generation $g log-shape parity")
    }
  }

  test("STORED classifier gate applies unchanged on a readStream (batch parity)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // the trained artifact's keep decision is a stateless map-side
    // Column, so the deployment story is literally the same expression
    // on both engines' inputs — batch scan and file-source stream
    val gate = graft.ext.TextAnalysis.classifierKeepStored(spark, dir) _
    val batchKeep = Tables.documents(spark, dir)
      .where(gate(col("text"))).select("doc_id").as[Long].collect().toSet
    val schema = Tables.documents(spark, dir).schema
    // the table is a single parquet FILE; stream sources take a
    // directory, so stream the parent dir with a glob (eventsStream's
    // idiom)
    val q = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .where(gate(col("text"))).select("doc_id")
      .writeStream.format("memory").queryName("stored_gate_stream")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("stored_gate_stream").as[Long].collect().toSet
    assert(batchKeep.nonEmpty && batchKeep.size < 600,
      "fixture sanity: the trained gate must split the corpus")
    assert(streamed === batchKeep,
      "the stored gate must admit the identical keep set at ingest")
  }
}
