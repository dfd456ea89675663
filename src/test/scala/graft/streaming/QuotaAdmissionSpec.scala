package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class QuotaAdmissionSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, quotas: Map[String, Long],
      batches: Seq[Seq[QuotaAdmission.Doc]]): Array[QuotaAdmission.Admitted] = {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[QuotaAdmission.Doc]
    val q = QuotaAdmission.admit(stream.toDS(), quotas)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      spark.table(name).as[QuotaAdmission.Admitted].collect()
    } finally q.stop()
  }

  test("quotas fill in arrival order and stop exactly at the budget") {
    val batches = Seq(
      (1 to 4).map(i => QuotaAdmission.Doc(i.toLong, "a")) ++
        Seq(QuotaAdmission.Doc(100L, "b")),
      (5 to 8).map(i => QuotaAdmission.Doc(i.toLong, "a")) ++
        Seq(QuotaAdmission.Doc(101L, "b"), QuotaAdmission.Doc(200L, "c")))
    val out = run("quota_out", Map("a" -> 6L, "b" -> 10L), batches)
    val bySrc = out.groupBy(_.source)
    // source a: 8 arrivals, budget 6 → first 6 by arrival order admit
    assert(bySrc("a").map(_.doc_id).sorted.toSeq === (1L to 6L))
    assert(bySrc("a").sortBy(_.doc_id).map(_.n_admitted).toSeq === (1L to 6L),
      "n_admitted is the dense per-source admission sequence")
    // source b: under budget → everything admits
    assert(bySrc("b").map(_.doc_id).sorted.toSeq === Seq(100L, 101L))
    // source c has NO quota entry → fail-closed, nothing admits
    assert(!bySrc.contains("c"))
  }

  test("replaying the same batches admits the identical document set") {
    val batches = Seq(
      Seq(QuotaAdmission.Doc(3L, "s"), QuotaAdmission.Doc(1L, "s"), QuotaAdmission.Doc(2L, "s")),
      Seq(QuotaAdmission.Doc(6L, "s"), QuotaAdmission.Doc(4L, "s")))
    val a = run("quota_replay_1", Map("s" -> 4L), batches)
    val b = run("quota_replay_2", Map("s" -> 4L), batches)
    assert(a.sortBy(_.doc_id).toSeq === b.sortBy(_.doc_id).toSeq)
    // within a batch, ascending doc_id admits first: batch 1 fills 3 of 4
    // slots with {1,2,3}, batch 2's last slot goes to doc 4, never doc 6
    assert(a.map(_.doc_id).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("transformWithState path admits the identical set, batch for batch") {
    val quotas = Map("a" -> 6L, "b" -> 10L)
    val batches = Seq(
      (1 to 4).map(i => QuotaAdmission.Doc(i.toLong, "a")) ++
        Seq(QuotaAdmission.Doc(100L, "b")),
      (5 to 8).map(i => QuotaAdmission.Doc(i.toLong, "a")) ++
        Seq(QuotaAdmission.Doc(101L, "b"), QuotaAdmission.Doc(200L, "c")))
    val viaFmgws = run("quota_fmgws", quotas, batches)
    withRocksDbState {
      implicit val ctx = spark.sqlContext
      val stream = MemoryStream[QuotaAdmission.Doc]
      val q = QuotaAdmission.admitTws(stream.toDS(), quotas)
        .writeStream.format("memory").queryName("quota_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        val viaTws = spark.table("quota_tws").as[QuotaAdmission.Admitted].collect()
        assert(viaTws.sortBy(_.doc_id).toSeq === viaFmgws.sortBy(_.doc_id).toSeq,
          "the two stateful APIs must admit the identical document set")
      } finally q.stop()
    }
  }

  test("stream admission fills exactly the batch temperature quotas on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val quotas = graft.ext.Curation.temperatureMix(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("expected_docs")).toMap
    val counts = graft.Tables.documents(spark, dir)
      .groupBy($"source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select($"doc_id", $"source").as[QuotaAdmission.Doc].collect().sortBy(_.doc_id)
    // ingest in 3 arrival chunks
    val batches = docs.grouped(math.max(1, docs.length / 3 + 1)).map(_.toSeq).toSeq
    val out = run("quota_corpus", quotas, batches)
    val admitted = out.groupBy(_.source).map { case (s, rs) => s -> rs.length.toLong }
    quotas.foreach { case (s, quota) =>
      assert(admitted.getOrElse(s, 0L) === math.min(quota, counts(s)),
        s"source $s admits min(quota=$quota, arrivals=${counts(s)})")
    }
  }
}
