package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Cut

/** Idempotent partitioned writes — the fix for the reference's
  * duplicate-on-rerun flaw.
  *
  * The reference blindly appends each daily run into the target fact table
  * (`etl/etl_process.py:156-163`); re-materializing a partition duplicates
  * every row (SURVEY.md §2.8). The Spark-native answer is date-partitioned
  * layout + DYNAMIC partition overwrite: a re-run replaces exactly the
  * partitions present in the incoming frame and leaves all others intact.
  *
  * The `day` partition column also buys partition pruning for the daily
  * read path (SURVEY.md §4): `WHERE day = X` prunes at the directory
  * level before any file IO.
  */
object PartitionedSink {

  /** Write `df` (must carry a `timestamp` column) partitioned by day,
    * overwriting only the days present in `df`. Safe to re-run. Dynamic
    * overwrite is a per-write option (which Spark reads ahead of the
    * session conf), so no other thread's write sees it. */
  def writeDaily(df: DataFrame, path: String): Unit =
    df.withColumn("day", to_date(col("timestamp")))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(path)

  /** Z-order (Morton-curve) layout writer: interleave the bits of the
    * quantized sort columns so rows close in EVERY dimension land in the
    * same files — then a conjunctive range query prunes on per-file
    * min/max stats in ALL dimensions at once. A lexicographic sort only
    * localizes the leading column (trailing columns span their full range
    * inside each leading stripe); at 100 TB that's the difference between
    * reading a few files and scanning the table for box queries.
    *
    * Mechanics: per-column global min/max (one 1-row broadcast), quantize
    * each column to `bits` buckets, interleave bucket bits into a Morton
    * key (pure shift/and/or Column expressions — codegen'd, no UDF),
    * range-repartition + sort on the key, write without it. Numeric
    * columns only (the quantization is an affine map).
    *
    * Skipping is measurable, not aspirational: the spec computes per-file
    * min/max and asserts a box query touches fewer z-ordered files than
    * naturally-ordered ones. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      files: Int, bits: Int = 12): Unit = {
    require(zCols.nonEmpty && files > 0)
    withZKey(df, zCols, bits)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: zCols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** `df` + a `__z` Morton-key column over affine-quantized `zCols`
    * (plus the `__min_/__max_` bound columns the caller drops) — the
    * shared front half of [[writeZOrdered]] and [[writeZCelled]]. */
  /** Affine quantization of `c` onto [0, 2^bits−1] under (lo, hi) — THE
    * quantize formula of the curve family, one definition shared by the
    * writer ([[withZKey]]) and the maintenance decisions
    * ([[graft.ext.Layout]].cellsUnderBounds). `clamp` cuts the norm
    * into [0,1] BEFORE rounding — for rows quantized under FOREIGN
    * bounds (arrivals against a base grid), where it both lands
    * out-of-bounds rows on border cells and keeps the round input
    * non-negative (the engine-portable half); on in-bounds rows it is
    * the identity. NULL bounds (an empty bounds frame — min/max over
    * zero rows) short-circuit to bucket 0 explicitly: without the
    * guard the clamp path would send them to cell-MAX instead, because
    * greatest/least SKIP null arguments, so greatest(0, least(1,
    * NULL)) = 1.0 → 2^bits−1 — diverging from the unclamped path and
    * the documented cut-into-[0,1] intent (ADVICE r15; latent for
    * foreign-bounds callers quantizing arrivals against an empty
    * base). */
  private[graft] def quantize(c: Column, lo: Column, hi: Column, bits: Int,
      clamp: Boolean = false): Column = {
    val range = hi - lo
    val norm0 = when(c.isNull || lo.isNull || hi.isNull || range === 0.0, lit(0.0))
      .otherwise((c.cast("double") - lo) / range)
    val norm = if (clamp) greatest(lit(0.0), least(lit(1.0), norm0)) else norm0
    round(norm * ((1L << bits) - 1)).cast("long")
  }

  /** n-column bit interleave: bit b of `quantized(i)` lands at b·n+i —
    * THE curve bit placement, one definition (round-15 review: a third
    * hand-rolled copy in the decision path was held in sync only by a
    * tripwire test). */
  private[graft] def mortonInterleave(quantized: Seq[Column], bits: Int): Column = {
    val n = quantized.size
    (for { b <- 0 until bits; i <- 0 until n } yield
      shiftleft(shiftright(quantized(i), b).bitwiseAND(lit(1L)), b * n + i))
      .reduce(_.bitwiseOR(_))
  }

  private def withZKey(df: DataFrame, zCols: Seq[String], bits: Int): DataFrame = {
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"__min_$c"),
        max(col(c).cast("double")).as(s"__max_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val quantized = zCols.map(c =>
      quantize(col(c), col(s"__min_$c"), col(s"__max_$c"), bits))
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", mortonInterleave(quantized, bits))
  }

  /** Deterministic z-CELLED layout writer: same quantize + Morton key as
    * [[writeZOrdered]], but each output file is a fixed CURVE CELL — the
    * top `cellBits` bits of the key, written as a `zcell=<id>` partition
    * directory — instead of a sampled key range.
    *
    * Why both exist: `repartitionByRange` picks file boundaries from a
    * reservoir SAMPLE, so the resulting layout (and therefore any
    * files-read count) is not reproducible bit-for-bit across engines or
    * runs — fine for throughput-oriented clustering, wrong for a
    * differentially-checked pruning report. Cell-split trades balanced
    * file sizes for a layout that is a PURE FUNCTION of the data (the
    * same fixed-cell grouping OPTIMIZE-style clustering jobs use for
    * incremental maintenance, because a cell's file set is stable under
    * appends): an oracle can recompute every file's membership, bounding
    * box, and row count from the table alone. Non-empty cells only;
    * skew follows the data (a hot cell makes a big file — at lake scale
    * pick `cellBits` so cells ≈ target file size, and let row groups
    * subdivide within the file). */
  def writeZCelled(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int = 12, cellBits: Int = 4): Unit = {
    require(zCols.nonEmpty && cellBits > 0 && cellBits <= bits * zCols.size)
    writeCells(withZCell(df, zCols, bits, cellBits), path, zCols)
  }

  /** The write half of [[writeZCelled]] over a frame [[withZCell]]
    * already celled (a caller that observes the celled rows on their
    * way to the files). */
  private[graft] def writeCells(celled: DataFrame, path: String, zCols: Seq[String]): Unit =
    celled
      // hash-repartition on the cell key: each cell lands wholly in one
      // task, so each zcell=<id> directory holds exactly ONE part file
      .repartition(col("zcell"))
      .sortWithinPartitions("__z")
      .drop("__z" +: zCols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
      .write.mode("overwrite").partitionBy("zcell").parquet(path)

  /** `df` + the `zcell` id [[writeZCelled]] would assign each row (and
    * the internal `__z`/bound columns) — exposed so consumers can
    * fingerprint the PLANNED layout: any change to the quantization or
    * curve formulas changes these values, which is what makes a
    * content-fingerprint idempotence guard formula-staleness-proof. */
  private[graft] def withZCell(df: DataFrame, zCols: Seq[String],
      bits: Int, cellBits: Int): DataFrame =
    withZKey(df, zCols, bits)
      .withColumn("zcell", shiftright(col("__z"), bits * zCols.size - cellBits))

  /** Small-file compaction for a day-partitioned lake: rewrite each
    * partition's many micro-batch files into at most `filesPerDay` files.
    * Each day's rows are spread over `filesPerDay` sub-splits by a
    * deterministic row hash, so repartitioning on (day, split) actually
    * divides a day across tasks — repartitioning on `day` alone would put
    * each whole day in one task and always emit one file per day.
    * (The streaming sink produces one file per micro-batch; readers pay
    * per-file open cost, so periodic compaction is part of the lake
    * contract at scale.)
    *
    * Durability scope: the read-then-overwrite-same-path cycle is held
    * together by an EAGER localCheckpoint, whose blocks live in executor
    * storage — fine for a single-node/dev lake (this container). On a
    * multi-node cluster an executor loss mid-write is unrecoverable from
    * the checkpoint; use write-to-temp-then-swap or reliable (HDFS/object
    * store) checkpointing for the compaction path there. */
  def compactDaily(spark: org.apache.spark.sql.SparkSession, path: String,
      filesPerDay: Int = 1): Unit = {
    val raw = spark.read.parquet(path)
    val days = raw.select("day").distinct().count().toInt max 1
    val dataCols = raw.columns.filter(_ != "day").map(col).toSeq
    // explicit partition count: a column-only repartition is subject to
    // AQE partition coalescing, which folds small days back into one
    // task (= one file) regardless of the requested split
    val df = raw
      .withColumn("__split", pmod(hash(dataCols: _*), lit(filesPerDay)))
      .repartition(days * filesPerDay, col("day"), col("__split"))
      .drop("__split")
    // must materialize BEFORE overwriting the same path: localCheckpoint
    // breaks the read-your-own-overwrite cycle
    Cut.shared(df)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)
  }
}
