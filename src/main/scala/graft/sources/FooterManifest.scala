package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed parquet-footer manifest: one row per (file, column) with
  * row count and min/max range, read from the REAL file footers — the
  * metadata every lakehouse pruning layer (and Spark's own row-group
  * filter pushdown) consults.
  *
  * Why this exists: [[graft.ext.Layout]] PLANS z-ordered layouts;
  * `writeZOrdered`/`writeZCelled` write them. This is the production
  * read-back piece — the stats come from what parquet actually
  * persisted, so a reader can prune files before touching data; the
  * registry's `x_zorder_prune` and `x_footer_prune` run the full
  * plan → write → read-back-prune loop through it under the oracle
  * gate. At 100 TB a table is 10⁵–10⁶ files: the footer
  * reads are distributed (`mapPartitions` over the file list — each
  * task opens only footers, ~KB per file, zero data pages), while the
  * driver holds only the file-name list, the same metadata the
  * FileIndex already materializes for any scan. The manifest itself is
  * files×columns rows — a frame, joinable/aggregable like any other, so
  * pruning is an ordinary range predicate on it, not a planner hack.
  *
  * Column coverage: numeric and date physical types (INT32/INT64/FLOAT/
  * DOUBLE) surface as doubles in `min_v`/`max_v` — the classic
  * range-pruning case; UTF8-annotated BINARY columns surface as strings
  * in `min_s`/`max_s` (since round 13 — source/lang ARE the columns an
  * LLM-corpus query filters on, and leaving them unprunable forfeited
  * file skipping exactly where a 100 TB reader needs it). String-stat
  * honesty: parquet-mr either stores the exact chunk min/max or — when
  * a value exceeds the writer's stats size/truncation limit — OMITS the
  * chunk statistics entirely; it never narrows a stored bound. So a
  * present string range is a true bound, and an oversized one already
  * takes the conservative NULL path below. Comparisons against these
  * bounds happen in Spark expressions, whose UTF8String ordering is
  * unsigned-byte-wise — the SAME order parquet's UTF8 stats are
  * computed under (and DuckDB's VARCHAR memcmp order), so pruning
  * decisions agree across engines byte-for-byte, multi-byte code
  * points included.
  * A row group with missing or empty stats yields a NULL range row, so
  * a pruning consumer can (and must) treat that file as always-needed —
  * the conservative reader contract, spec-pinned.
  */
object FooterManifest {

  /** One (file, column) manifest row; `min_v`/`max_v` (numeric) and
    * `min_s`/`max_s` (UTF8 string) are None when any row group lacks
    * usable stats of that kind for the column. */
  case class FooterStat(file: String, n_rows: Long, column: String,
      min_v: Option[Double], max_v: Option[Double],
      min_s: Option[String], max_s: Option[String])

  /** a < b under unsigned UTF-8 byte order — the collation parquet UTF8
    * stats, Spark's UTF8String and DuckDB's VARCHAR all compare by. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val x = ab(i) & 0xff; val y = bb(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    ab.length < bb.length
  }

  /** Recursive parquet part-file listing (driver-side, file metadata
    * only): every `.parquet` file under `dir`, or `dir` itself when it is
    * one. */
  private[graft] def listParquet(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Nil
    }
    if (fs.exists(root)) walk(root) else Nil
  }

  /** Build the manifest for `columns` of every parquet file under `dir`.
    * Footer reads run on executors, one task per ~`filesPerTask` files.
    *
    * `filesPerTask` sizing (round 21): footer reads are IO-LATENCY
    * bound (~5-15 ms per open+footer-parse), not bandwidth bound, so a
    * task holding 64 footers serialized ~0.5 s of latency while the
    * rest of the cluster idled. 4 files/task saturates available
    * parallelism on small (cell-bounded) manifests; at 10⁵-10⁶-file
    * scale the task count is capped by `defaultParallelism` either
    * way (`parts` below), so the knob only spreads SMALL builds. */
  def build(spark: SparkSession, dir: String, columns: Seq[String],
      filesPerTask: Int = 4): DataFrame =
    buildFromFiles(spark, listParquet(spark, dir).map(_.getPath.toString), columns, filesPerTask)

  /** Collected [[build]] manifests, one per (dir, columns), each with the
    * [[graft.exec.Scratch.fileSignature]] of the files it was read from;
    * an entry is replaced when its directory's signature changes. A few
    * hundred rows per layout read by the lake reports. */
  private val collectedMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), (String, Seq[Row])]()

  /** `build(spark, dir, columns).collect()`, read once per file set: the
    * listing decides (the same `(path, length, mtime)` the scratch guard
    * keys on), so a warm read of an unchanged layout opens no footer and
    * starts no job. The footer job runs outside any lock; two callers
    * that miss together both read, and the later entry stays. */
  def collected(spark: SparkSession, dir: String, columns: Seq[String]): Seq[Row] = {
    val files = listParquet(spark, dir)
    val signature = graft.exec.Scratch.fileSignature(files)
    Option(collectedMemo.get((dir, columns))).collect { case (`signature`, rows) => rows }
      .getOrElse {
        val rows = buildFromFiles(spark, files.map(_.getPath.toString), columns)
          .collect().toSeq
        collectedMemo.put((dir, columns), (signature, rows))
        rows
      }
  }

  /** [[build]] over an EXPLICIT file list — for consumers whose file set
    * is not "everything under one dir": a generation manifest's
    * references, a vacuum's dead set. Same distributed footer IO; the
    * driver only ever holds the names. */
  def buildFromFiles(spark: SparkSession, files: Seq[String],
      columns: Seq[String], filesPerTask: Int = 4): DataFrame = {
    import spark.implicits._
    if (files.isEmpty)
      return spark.emptyDataset[FooterStat].toDF()
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, files.size / filesPerTask + 1))
    val colList = columns // stable serializable copy for the closure
    // sc.parallelize splits the driver-held file list directly into
    // `parts` tasks — the previous createDataset(...).repartition(parts)
    // paid a round-robin Exchange (an extra stage + shuffle round trip)
    // per manifest build just to distribute a list the driver already
    // holds (optimization guide §2.4: remove shuffles outright). Every
    // lake report builds 1-4 manifests per invocation, so the saved
    // stage is per-query hot-path time; at 10⁵-file scale the shuffle
    // moved only file NAMES, so dropping it changes no memory story.
    val rdd = spark.sparkContext.parallelize(files, parts)
      .mapPartitions { it =>
        // executor-local Configuration: footers resolve the filesystem
        // from the path URI; default conf suffices for hdfs:///file:/ —
        // object-store credentials ride the cluster-wide core-site
        val conf = new org.apache.hadoop.conf.Configuration()
        it.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(f), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            val blocks = reader.getFooter.getBlocks.asScala.toSeq
            val nRows = blocks.map(_.getRowCount).sum
            colList.map { c =>
              // fold row-group ranges; any group without usable stats
              // poisons the column to NULL (conservative). Left = numeric
              // range, Right = UTF8-string range (see object doc).
              val ranges: Seq[Option[Either[(Double, Double), (String, String)]]] =
                blocks.map { b =>
                  b.getColumns.asScala.find(_.getPath.toDotString == c)
                    .map(_.getStatistics)
                    .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
                    .flatMap { s =>
                      val isUtf8 = s.`type`().getLogicalTypeAnnotation ==
                        org.apache.parquet.schema.LogicalTypeAnnotation.stringType()
                      (s.genericGetMin, s.genericGetMax) match {
                        case (mn: Number, mx: Number) =>
                          Some(Left((mn.doubleValue, mx.doubleValue)))
                        case (mn: org.apache.parquet.io.api.Binary,
                              mx: org.apache.parquet.io.api.Binary) if isUtf8 =>
                          Some(Right((mn.toStringUsingUTF8, mx.toStringUsingUTF8)))
                        case _ => None // non-UTF8 binary: not range-pruned
                      }
                    }
                }
              val flat = ranges.flatten
              val num =
                if (blocks.isEmpty || ranges.exists(_.isEmpty) || !flat.forall(_.isLeft)) None
                else {
                  val ns = flat.collect { case Left(r) => r }
                  Some((ns.map(_._1).min, ns.map(_._2).max))
                }
              val str =
                if (blocks.isEmpty || ranges.exists(_.isEmpty) || !flat.forall(_.isRight)) None
                else {
                  // fold under UNSIGNED-BYTE order (what parquet computed
                  // the per-group bounds under, and what Spark/DuckDB
                  // compare strings by) — Scala's String min/max is
                  // UTF-16-code-unit order, which flips for astral-plane
                  // code points
                  val ss = flat.collect { case Right(r) => r }
                  Some((ss.map(_._1).reduce((a, b) => if (utf8Lt(a, b)) a else b),
                    ss.map(_._2).reduce((a, b) => if (utf8Lt(a, b)) b else a)))
                }
              FooterStat(f, nRows, c, num.map(_._1), num.map(_._2),
                str.map(_._1), str.map(_._2))
            }
          } finally reader.close()
        }
      }
    spark.createDataFrame(rdd)
  }

  /** Total row count of the parquet file(s) under `path`, from footer
    * metadata alone — the catalog-statistics answer to "how big is this
    * table", with NO Spark job (a `df.count()`, even metadata-optimized,
    * schedules a job per invocation). Driver-side sequential footer
    * reads: right for the sizing decisions this serves (e.g.
    * [[graft.ext.Similarity]]'s LSH plane count — an index-build-time
    * constant), where the input is one table's worth of footers; a
    * 10⁵-file lake table should go through the distributed [[build]]
    * and aggregate `n_rows` instead. */
  def rowCountFromFooters(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    listParquet(spark, path).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(f.getPath, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally reader.close()
    }.sum
  }

  /** Files a range query must read, decided from a [[build]] manifest:
    * a file is pruned iff ANY queried column's manifest range provably
    * misses the query box; it survives otherwise — and a NULL range
    * keeps the file (the conservative contract). `box` maps a numeric
    * column → [lo, hi] inclusive; `strBox` maps a string column →
    * [lo, hi] inclusive under unsigned-byte (UTF-8) order — the order
    * the stats were folded under, so the same Column comparison decides
    * both kinds. */
  /** Driver-local twin of [[filesToRead]] over COLLECTED manifest rows
    * (schema: file, n_rows, column, min_v, max_v, min_s, max_s) —
    * identical pruning rule, evaluated in plain Scala. Every lake
    * report already holds the manifest on the driver (file-count
    * scale, bounded by cells × columns); round-tripping those ~100
    * rows through createDataFrame + a groupBy job cost one full Spark
    * job per pruning decision, pure scheduling overhead (optimization
    * guide §5: the driver should do no DATA work — this is metadata).
    * Returns (file, n_rows) of the kept files in first-seen manifest
    * order. `FooterManifestSpec` pins set-equality with the DataFrame
    * path on randomized manifests, so the two rules cannot drift. */
  def filesToReadLocal(rows: Seq[org.apache.spark.sql.Row],
      box: Map[String, (Double, Double)],
      strBox: Map[String, (String, String)] = Map.empty): Seq[(String, Long)] = {
    // (first-seen n_rows, pruned-by-any-column) per file — the exact
    // max(prunable)/first(n_rows) fold of the DataFrame form
    val byFile = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Boolean)]
    rows.foreach { r =>
      val f = r.getString(0)
      val n = r.getLong(1)
      val c = r.getString(2)
      val prunedHere =
        (box.get(c) match {
          case Some((lo, hi)) if !r.isNullAt(3) =>
            r.getDouble(4) < lo || r.getDouble(3) > hi
          case _ => false
        }) ||
        (strBox.get(c) match {
          case Some((lo, hi)) if !r.isNullAt(5) =>
            utf8Lt(r.getString(6), lo) || utf8Lt(hi, r.getString(5))
          case _ => false
        })
      byFile.get(f) match {
        case Some((n0, p0)) => byFile(f) = (n0, p0 || prunedHere)
        case None => byFile(f) = (n, prunedHere)
      }
    }
    byFile.iterator.collect {
      case (f, (n, pruned)) if !pruned && n > 0 => (f, n)
    }.toSeq
  }

  def filesToRead(manifest: DataFrame, box: Map[String, (Double, Double)],
      strBox: Map[String, (String, String)] = Map.empty): DataFrame = {
    // per (file, column): does this column rule the file OUT?
    val prunableNum = box.foldLeft(lit(false)) { case (acc, (c, (lo, hi))) =>
      acc || (col("column") === c && col("min_v").isNotNull &&
        (col("max_v") < lo || col("min_v") > hi))
    }
    val prunable = strBox.foldLeft(prunableNum) { case (acc, (c, (lo, hi))) =>
      acc || (col("column") === c && col("min_s").isNotNull &&
        (col("max_s") < lo || col("min_s") > hi))
    }
    manifest
      .groupBy(col("file"))
      .agg(max(prunable.cast("int")).as("pruned"), first(col("n_rows")).as("n_rows"))
      // zero-row files prune unconditionally: they have no stats (no row
      // groups) but also provably no matching rows
      .where(col("pruned") === 0 && col("n_rows") > 0)
      .select(col("file"), col("n_rows"))
  }
}
