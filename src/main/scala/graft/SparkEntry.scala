package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each registered query is a pure function of (session, data dir); the
  * matching entry in [[oracleSql]] is equivalent ANSI SQL the driver runs in
  * DuckDB over the same parquet tables (hash-compared: column names, row
  * order, values — FIXTURES.md §B).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.SensorPipeline.pipelineLong(spark, "/root/testdata/sf0.001")

  /** Every registered query, each module listed once: one entry per
    * implemented operator from SURVEY.md §2. */
  lazy val registry: Seq[Query] = Seq(
    ops.SensorPipeline.queries, ops.Relational.queries, ops.Olap.queries, ops.DecisionSupport.queries,
    ops.Incremental.queries, ops.Analytics.queries, ops.AsOfJoin.queries, ops.Skew.queries,
    ops.QualityChecks.queries, ops.SqlSurface.queries, ext.TextAnalysis.queries, ext.Curation.queries,
    ext.Dedup.queries, ext.Similarity.queries, ext.Multimodal.queries, ext.CorpusStats.queries,
    ext.Linkage.queries, ext.Redaction.queries, ext.BloomPrune.queries, ext.Layout.queries,
    sources.BucketedTables.queries, streaming.IngestReplay.queries, streaming.StreamJoin.queries,
    streaming.LakeIngestStream.queries, streaming.LakeCdfStream.queries).flatten

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
