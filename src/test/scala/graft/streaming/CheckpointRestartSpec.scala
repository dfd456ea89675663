package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** A stream-stream join restarted from its checkpoint, on graft's `file:`
  * filesystem with Spark's checkpoint checksums at their default. */
class CheckpointRestartSpec extends SparkSpec {
  import spark.implicits._

  private val ChecksumConf = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  test("restart re-reads offsets, commits and join state under checkpoint checksums") {
    assert(spark.conf.get(ChecksumConf) === "true", "checkpoint checksums must stay at their default")
    val base = tempDir("graft-ckpt-restart").toString
    // install graft's filesystem the way every query does
    spark.range(1).write.parquet(s"$base/t.parquet")
    graft.Tables.table(spark, base, "t")
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    def stage(side: String, i: Int, rows: Seq[(Long, Long, Timestamp)]): Unit =
      rows.toDF("id", "user_id", "ts").coalesce(1)
        .write.parquet(s"$base/in_$side/f$i")

    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      def side(name: String, ts: String) = spark.readStream
        .schema("id BIGINT, user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
        .parquet(s"$base/in_$name")
        .select(col("id").as(s"${name}_id"), col("user_id"), col("ts").as(ts))
      val q = StatefulOps.clickConversionJoin(side("click", "click_ts"),
          side("purchase", "conv_ts"), watermark = "40 days", window = "60 minutes")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      q
    }

    // first run: user 1 clicks and nothing matches yet; user 2 converts
    stage("click", 0, Seq((10L, 1L, at(0)), (20L, 2L, at(0))))
    stage("purchase", 0, Seq((200L, 2L, at(5))))
    val first = run()
    val lastBatch = first.lastProgress.batchId
    // second run: user 1's purchase can only match the click held in the
    // join state the first run checkpointed
    stage("click", 1, Seq((30L, 3L, at(30))))
    stage("purchase", 1, Seq((100L, 1L, at(20))))
    val second = run()
    assert(second.recentProgress.head.batchId === lastBatch + 1,
      "the restart resumes from the committed offsets")
    val got = spark.read.parquet(s"$base/out").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 10L, 100L), (2L, 20L, 200L)))

    // every state-store delta carries Spark's checkpoint checksum file and
    // Hadoop's .crc sidecar
    val deltas = Files.walk(Paths.get(s"$base/ckpt/state")).iterator.asScala
      .filter(_.getFileName.toString.matches("\\d+\\.delta")).toSeq
    assert(deltas.nonEmpty)
    deltas.foreach { d =>
      val name = d.getFileName.toString
      assert(Files.exists(d.resolveSibling(s"$name.crc")), s"Spark checksum of $d")
      assert(Files.exists(d.resolveSibling(s".$name.crc")), s"Hadoop sidecar of $d")
    }
  }

  test("no graft source switches checkpoint checksums off or swaps the checkpoint file manager") {
    val keys = Seq("checkpoint.fileChecksum", "checkpointFileManagerClass")
    val offenders = Seq("src/main", "perfbench/src").map(Paths.get(_)).filter(Files.isDirectory(_))
      .flatMap(Files.walk(_).iterator.asScala.filter(Files.isRegularFile(_)))
      .filter { f => val text = Files.readString(f); keys.exists(text.contains) }
    assert(offenders.isEmpty, s"sources touching checkpoint verification: ${offenders.mkString(", ")}")
  }
}
