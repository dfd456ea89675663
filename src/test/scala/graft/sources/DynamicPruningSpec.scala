package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dynamic partition pruning over the daily lake: a fact⋈dim join whose
  * dim-side filter is NOT a literal on the partition column must still
  * prune fact directories at runtime (the 100 TB mechanism that turns a
  * full-lake join into a two-directory read). The dim is parquet-backed
  * on purpose — a literal local relation would constant-fold its filter
  * away and the pruning rule would see no selective predicate. */
class DynamicPruningSpec extends SparkSpec {
  import spark.implicits._

  private val nDays = 10

  private lazy val (lake, dimPath): (String, String) = {
    val d = tempDir("graft-dpp").toString
    val rows = for {
      day <- 1 to nDays
      i <- 1 to 20
    } yield (java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:$i%02d:00"), i.toDouble)
    PartitionedSink.writeDaily(rows.toDF("timestamp", "value"), s"$d/fact")
    (1 to nDays).map(day => (java.sql.Date.valueOf(f"2024-01-$day%02d"), day))
      .toDF("day", "temp")
      .write.mode("overwrite").parquet(s"$d/dim")
    (s"$d/fact", s"$d/dim")
  }

  /** Flatten an adaptive plan including the subtrees inside query stages. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case qs: QueryStageExec       => qs +: allNodes(qs.plan)
      case n                        => Seq(n)
    }

  test("dim-side filter prunes fact partitions at runtime (DPP)") {
    val fact = spark.read.parquet(lake)
    val dim = spark.read.parquet(dimPath)
    // comparison predicate: DPP's isLikelySelective heuristic ignores
    // bare boolean attributes, so the hot-day flag is a ranged column
    val q = fact.join(dim.where(col("temp") <= 2), "day")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    val row = q.collect().head
    assert(row.getAs[Long]("n") === 40, "2 hot days × 20 rows")

    val factScans = allNodes(q.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if s.metadata.get("Location").exists(_.contains("fact")) => s
    }
    assert(factScans.nonEmpty, s"no fact scan found in:\n${q.queryExecution.executedPlan}")
    val scan = factScans.head
    assert(scan.partitionFilters.mkString.contains("dynamicpruning"),
      s"expected a runtime pruning predicate, got: ${scan.partitionFilters}")
    // the metric proves pruning actually happened: 2 of 10 day-directories read
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead > 0 && filesRead <= 2 * 4,
      s"scan must touch only the 2 hot days' files, read $filesRead")
  }
}
