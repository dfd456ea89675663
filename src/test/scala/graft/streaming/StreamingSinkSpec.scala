package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class StreamingSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("foreachBatch -> dynamic partition overwrite: replayed day rewrites, never duplicates") {
    implicit val ctx = spark.sqlContext
    val base = tempDir("graft-ssink").toString
    val out = s"$base/lake"

    val stream = MemoryStream[(Timestamp, Int, Double)]
    val df = stream.toDF().toDF("timestamp", "signal_id", "value")

    def drain(): Unit = {
      val q = StreamingSink.startDaily(df, out, s"$base/ckpt")
      q.awaitTermination() // AvailableNow terminates when caught up
    }

    stream.addData(
      (ts("2024-01-01 00:00:00"), 1, 1.0),
      (ts("2024-01-01 00:10:00"), 1, 2.0),
      (ts("2024-01-02 00:00:00"), 1, 3.0))
    drain()
    assert(spark.read.parquet(out).count() === 3)

    // second batch touches ONLY day 2 → day 1 stays, day 2 replaced
    stream.addData((ts("2024-01-02 05:00:00"), 2, 9.0))
    drain()
    val rows = spark.read.parquet(out)
    assert(rows.where($"day" === "2024-01-01").count() === 2)
    assert(rows.where($"day" === "2024-01-02").count() === 1, "day-2 rewritten, not appended")
    assert(rows.where($"signal_id" === 2).count() === 1)
  }
}
