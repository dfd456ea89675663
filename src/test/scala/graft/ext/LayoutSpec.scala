package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.exec.Scratch
import graft.lake.Log

/** Pins the Morton interleave bit math, the skipping-effectiveness
  * invariants on the real corpus, and the clustered-write idiom
  * (range partitioning => disjoint per-file key ranges). */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Reference interleave in plain Scala: bit i of a → 2i, of b → 2i+1. */
  private def mortonRef(a: Long, b: Long): Long =
    (0 until 5).foldLeft(0L) { (z, i) =>
      z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("morton5 matches the reference interleave on all 5-bit pairs") {
    val pairs = for (a <- 0L to 31L; b <- 0L to 31L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.morton5(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) === mortonRef(a, b), s"interleave($a,$b)")
    }
  }

  test("z-curve locality: each 4-cell file spans a 2x2 coordinate box") {
    // zv >> 2 constant => the 4 cells differ only in (db bit0, ub bit0),
    // so every planned file's bounding box is at most 2 wide per dim.
    val files = Layout.zorderLayout(spark, sf).collect()
    assert(files.nonEmpty)
    files.foreach { r =>
      assert(r.getAs[Long]("max_db") - r.getAs[Long]("min_db") <= 1L)
      assert(r.getAs[Long]("max_ub") - r.getAs[Long]("min_ub") <= 1L)
    }
  }

  test("2-D predicate: z-clustered read amplification beats time-only layout") {
    val r = Layout.zorderPrune(spark, sf).collect().head
    val total = r.getAs[Long]("total_rows")
    val naive = r.getAs[Long]("naive_candidate_rows")
    val zRows = r.getAs[Long]("z_candidate_rows")
    val exact = r.getAs[Long]("exact_rows")
    assert(exact <= zRows, "candidate files must cover every matching row")
    assert(exact <= naive)
    assert(zRows <= naive, "z layout must not read more than whole matching days")
    assert(naive <= total)
    // The point of the exercise: two-dimensional skipping is a real cut,
    // not a rounding error (32 user buckets, query touches 4).
    assert(zRows < naive / 2,
      s"z-cluster read $zRows rows vs time-only $naive — expected >2x cut")
  }

  /** Reference xy2d (order-5): canonical mask/reflect/swap bit descent. */
  private def hilbertRef(x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 16L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = 31 - x; y = 31 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("hilbert5 matches the reference xy2d on all 5-bit pairs, bijectively") {
    val pairs = for (a <- 0L to 31L; b <- 0L to 31L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.hilbert5(col("a"), col("b")).as("d"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) === hilbertRef(a, b), s"hilbert($a,$b)")
    }
    assert(got.values.toSet === (0L until 1024L).toSet, "must be a bijection")
  }

  test("hilbert adjacency: consecutive curve positions are grid neighbors") {
    // THE locality property Morton lacks: every +1 step of d moves exactly
    // one grid step, so contiguous key ranges are contiguous regions
    val byD = (for (a <- 0L to 31L; b <- 0L to 31L) yield (hilbertRef(a, b), (a, b)))
      .toMap
    (0L until 1023L).foreach { d =>
      val (x1, y1) = byD(d)
      val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"d=$d: ($x1,$y1) -> ($x2,$y2) is not one grid step")
    }
  }

  test("hilbert vs morton prune report is internally consistent") {
    val r = Layout.hilbertPrune(spark, sf).collect().head
    val total = r.getAs[Long]("total_rows")
    val exact = r.getAs[Long]("exact_rows")
    val morton = r.getAs[Long]("morton_candidate_rows")
    val hilbert = r.getAs[Long]("hilbert_candidate_rows")
    assert(exact <= morton && morton <= total)
    assert(exact <= hilbert && hilbert <= total)
  }

  test("incremental maintenance report partitions arrival cells exactly") {
    val r = Layout.zorderIncr(spark, sf).collect().head
    val arrivalFiles = r.getAs[Long]("n_arrival_files")
    val affected = r.getAs[Long]("n_affected_files")
    val fresh = r.getAs[Long]("n_new_files")
    assert(affected + fresh === arrivalFiles,
      "every arrival file id is either an existing file or a new one")
    assert(r.getAs[Long]("n_arrivals") > 0L)
    assert(r.getAs[Long]("rows_rewritten") >= affected,
      "each affected file holds at least one base row")
  }

  test("compaction plan: curve-adjacent groups, disjoint ordered file ranges") {
    val groups = Layout.compactionPlan(spark, sf).collect()
    assert(groups.nonEmpty)
    val manifest = Layout.zorderLayout(spark, sf).collect()
    assert(groups.map(_.getAs[Long]("n_files")).sum === manifest.length.toLong,
      "every manifest file lands in exactly one group")
    assert(groups.map(_.getAs[Long]("n_rows")).sum ===
      manifest.map(_.getAs[Long]("n_rows")).sum)
    val ranges = groups.map(g =>
      (g.getAs[Long]("first_file"), g.getAs[Long]("last_file"))).sortBy(_._1)
    ranges.foreach { case (lo, hi) => assert(lo <= hi) }
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, "groups must not interleave on the curve")
      case _ =>
    }
  }

  test("compaction exec: one file per group, content identical, boxes exactly as planned") {
    val exec = Layout.compactionExec(spark, sf).collect()
    assert(exec.nonEmpty)
    // the writer's physical invariant: each planned group became ONE file
    assert(exec.forall(_.getAs[Long]("n_files_out") === 1L))
    // box tightness: the compacted files' REAL footer boxes equal the
    // PLANNED group boxes — zero widening from the rewrite
    val plan = Layout.compactionPlan(spark, sf).collect()
      .map(g => g.getAs[Long]("group_id") ->
        (g.getAs[Long]("n_files"), g.getAs[Long]("n_rows"),
          g.getAs[Long]("min_db"), g.getAs[Long]("max_db"),
          g.getAs[Long]("min_ub"), g.getAs[Long]("max_ub"))).toMap
    assert(exec.length === plan.size)
    exec.foreach { g =>
      val gid = g.getAs[Long]("group_id")
      assert(plan(gid) === (g.getAs[Long]("n_files_in"), g.getAs[Long]("n_rows"),
        g.getAs[Long]("min_db"), g.getAs[Long]("max_db"),
        g.getAs[Long]("min_ub"), g.getAs[Long]("max_ub")),
        s"group $gid: footer-read facts diverge from the plan")
    }
    // content identity: the compacted table is the same (db, ub) multiset
    // as the planned layout — nothing lost, duplicated, or reassigned
    val compacted = spark.read
      .parquet(Scratch.root("compaction_exec", sf))
      .groupBy("db", "ub").count()
    val source = graft.Tables.events(spark, sf)
    assert(compacted.agg(sum("count")).head().getLong(0) === source.count())
    val diff = compacted.join(
      spark.read.parquet(Scratch.root("zorder_prune", sf))
        .groupBy("db", "ub").count().withColumnRenamed("count", "base_count"),
      Seq("db", "ub"), "full_outer")
      .where(col("count").isNull || col("base_count").isNull ||
        col("count") =!= col("base_count"))
    assert(diff.count() === 0, "compacted multiset must equal the base multiset")
  }

  test("clusterByZ range-partitions: per-partition z ranges are disjoint") {
    val df = (0 until 1024).map(i => (i.toLong * 2654435761L % 1024, i.toLong))
      .toDF("z", "payload")
    val clustered = Layout.clusterByZ(df, col("z"), numFiles = 8)
    assert(clustered.queryExecution.executedPlan.toString
      .toLowerCase.contains("rangepartitioning"))
    val ranges = clustered
      .select(spark_partition_id().as("pid"), col("z"))
      .groupBy("pid").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, "overlapping file ranges")
      case _ =>
    }
  }

  test("merge-on-read: base-prune ∪ delta ≡ full-scan merge, newest wins") {
    import graft.sources.FooterManifest
    val box = col("user_id").between(60, 90) && col("value").between(100.0, 200.0)
    // run the report once — materializes both layout dirs idempotently
    val r = Layout.deltaRead(spark, sf).head()
    val baseAll = spark.read.parquet(Scratch.root("delta_base", sf))
      .select("event_id", "user_id", "value")
    val delta = spark.read.parquet(Scratch.root("delta_arrivals", sf))
    // the un-pruned reference: full base scan, newest-wins merge
    val mergedFull = baseAll
      .join(delta.select(col("event_id")), Seq("event_id"), "left_anti")
      .unionByName(delta)
    val fullIds = mergedFull.where(box)
      .select("event_id").as[Long].collect().sorted
    assert(r.getAs[Long]("rows_out") === fullIds.length.toLong,
      "pruned merge-on-read must answer exactly the full-scan merge")
    // replicate the pruned read path and compare the ID SET, not counts
    val m = FooterManifest.build(spark, Scratch.root("delta_base", sf),
      Seq("user_id", "value"))
    val keptFiles = FooterManifest.filesToRead(m,
      Map("user_id" -> ((60.0, 90.0)), "value" -> ((100.0, 200.0))))
      .select("file").as[String].collect().toSeq
    val prunedIds = (if (keptFiles.isEmpty) delta
      else spark.read.parquet(keptFiles: _*)
        .join(delta.select(col("event_id")), Seq("event_id"), "left_anti")
        .unionByName(delta))
      .where(box).select("event_id").as[Long].collect().sorted
    assert(prunedIds.sameElements(fullIds),
      "base-prune ∪ delta must yield the identical row set")
    // newest-wins semantics: every updated key answers with the delta
    // version (value + 150), exactly once
    val dupKeys = mergedFull.groupBy("event_id").count()
      .where(col("count") > 1).count()
    assert(dupKeys === 0L, "merge must resolve each key to one version")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("value").as("orig"))
    val upd = mergedFull.where(pmod(col("event_id"), lit(100)) === 1)
      .join(ev, "event_id")
    assert(upd.count() > 0L)
    assert(upd.where(col("value") =!= col("orig") + lit(150.0)).count() === 0L,
      "updated keys must serve the newer delta value")
    // report self-consistency + the point of the exercise: pruning reads
    // strictly fewer base files than the layout holds
    assert(r.getAs[Long]("rows_scanned") ===
      r.getAs[Long]("rows_scanned_base") + r.getAs[Long]("rows_delta"))
    assert(r.getAs[Long]("files_read_base") < r.getAs[Long]("files_total"))
  }

  test("delta fold: folded layout answers the merge exactly and reads strictly less") {
    val box = col("user_id").between(60, 90) && col("value").between(100.0, 200.0)
    // materialize both states: the split (base + delta) and the fold
    val read = Layout.deltaRead(spark, sf).head()
    val fold = Layout.deltaFold(spark, sf).head()
    // fold(base, delta) ≡ deltaRead's merged answer
    assert(fold.getAs[Long]("rows_out") === read.getAs[Long]("rows_out"),
      "the folded layout must answer exactly what merge-on-read answered")
    // ...as an ID SET, not just a count: folded table vs in-test merge
    val folded = spark.read.parquet(Scratch.root("delta_fold", sf))
    val baseAll = spark.read.parquet(Scratch.root("delta_base", sf))
      .select("event_id", "user_id", "value")
    val delta = spark.read.parquet(Scratch.root("delta_arrivals", sf))
    val mergedFull = baseAll
      .join(delta.select(col("event_id")), Seq("event_id"), "left_anti")
      .unionByName(delta)
    assert(folded.count() === mergedFull.count())
    val diff = folded.select("event_id", "user_id", "value")
      .exceptAll(mergedFull.select("event_id", "user_id", "value"))
    assert(diff.count() === 0L, "folded rows must equal the newest-wins merge")
    assert(folded.where(box).count() === fold.getAs[Long]("rows_out"))
    // the point of folding: the post-fold pruned read scans strictly
    // fewer rows than merge-on-read's pruned-base + full-delta scan
    assert(fold.getAs[Long]("rows_scanned") < read.getAs[Long]("rows_scanned"),
      s"fold=${fold.getAs[Long]("rows_scanned")} read=${read.getAs[Long]("rows_scanned")}")
    assert(fold.getAs[Long]("files_read") < fold.getAs[Long]("files_total"))
  }

  test("lake e2e: rows_out invariant across states, fold improves scanning, compaction shrinks files") {
    val rows = Layout.lakeE2e(spark, sf).collect().sortBy(_.getAs[Long]("stage"))
    assert(rows.length === 3)
    assert(rows.map(_.getAs[String]("state")).toSeq ===
      Seq("merge_on_read", "folded", "compacted"))
    // the invariant the whole lifecycle must preserve: every state
    // answers the box with EXACTLY the same rows
    assert(rows.map(_.getAs[Long]("rows_out")).distinct.length === 1,
      "rows_out must be identical across lifecycle states")
    val Array(s1, s2, s3) = rows
    // the fold's payoff: strictly fewer rows scanned than merge-on-read
    // (which always pays the full delta on top of the pruned base)
    assert(s2.getAs[Long]("rows_scanned") < s1.getAs[Long]("rows_scanned"),
      s"fold=${s2.getAs[Long]("rows_scanned")} mor=${s1.getAs[Long]("rows_scanned")}")
    // the compaction's payoff: fewer physical files
    assert(s3.getAs[Long]("files_total") < s2.getAs[Long]("files_total"),
      s"compact=${s3.getAs[Long]("files_total")} fold=${s2.getAs[Long]("files_total")}")
    // decision number rides every row, and a nonempty delta makes it > 0
    assert(rows.map(_.getAs[Long]("amp_x1000")).distinct.length === 1)
    assert(s1.getAs[Long]("amp_x1000") > 0L)
    // content identity: the compacted table is row-for-row the folded
    // table (the rewrite moved bytes, never rows)
    val fold = spark.read.parquet(s"${Scratch.root("lake_e2e", sf)}/fold")
      .select("event_id", "user_id", "value")
    val compact = spark.read.parquet(s"${Scratch.root("lake_e2e", sf)}/compact")
      .select("event_id", "user_id", "value")
    assert(fold.count() === compact.count())
    assert(compact.exceptAll(fold).count() === 0L,
      "compacted rows must be the folded multiset exactly")
  }

  test("decision grid == writer grid: clamped-quant cells match writeZCelled on in-bounds rows") {
    // formula-drift tripwire: the maintenance decisions (lakeE2e amp,
    // lakeIngest per-batch cells) join cells computed by
    // cellsUnderBounds against cells the WRITER assigned
    // (PartitionedSink.withZCell). On in-bounds rows the clamp is the
    // identity, so the two formulas must agree cell-for-cell — a drift
    // in either quantization or bit placement silently misattributes
    // rewrite mass long before an oracle notices shape-level effects.
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val bounds = graft.ext.Layout.baseBoundsOf(ev)
    val writerCells = graft.sources.PartitionedSink
      .withZCell(ev, Seq("user_id", "value"), 12, 6)
      .select(col("zcell")).distinct()
      .collect().map(_.getLong(0)).toSet
    val decisionCells = graft.ext.Layout.cellsUnderBounds(ev, bounds)
      .collect().map(_.getLong(0)).toSet
    assert(decisionCells === writerCells,
      "cellsUnderBounds must reproduce the writer's cell assignment on its own bounds")
  }

  test("lake e2e ordering claims hold at sf0.01 too (the fold-inversion regression class)") {
    // round-15 lesson: the fold's rows_scanned win INVERTED at sf0.01
    // under the 16-cell grid while holding at sf0.001 — SF-dependent
    // claim inversions are a real regression class, so the ordering
    // claims (not the values — the oracle owns those) are pinned at the
    // driver's gate scale as well
    val rows = Layout.lakeE2e(spark, "/root/testdata/sf0.01").collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(rows.map(_.getAs[Long]("rows_out")).distinct.length === 1)
    assert(rows(1).getAs[Long]("rows_scanned") < rows(0).getAs[Long]("rows_scanned"),
      s"fold=${rows(1).getAs[Long]("rows_scanned")} mor=${rows(0).getAs[Long]("rows_scanned")}")
    assert(rows(2).getAs[Long]("files_total") < rows(1).getAs[Long]("files_total"))
  }

  test("lake ingest: per-batch decisions partition the delta and end where the lifecycle begins") {
    val rows = Layout.lakeIngest(spark, sf).collect().sortBy(_.getAs[Long]("batch_id"))
    assert(rows.length === 3)
    // the arrival batches PARTITION the full delta (inserts + updates)
    val e2e = Layout.lakeE2e(spark, sf).collect().sortBy(_.getAs[Long]("stage"))
    val ev = graft.Tables.events(spark, sf)
    val nInserts = ev.where(col("event_id") % 10 === 0).count()
    val nUpdates = ev.where(col("event_id") % 100 === 1).count()
    assert(rows.map(_.getAs[Long]("n_arrived")).sum === nInserts + nUpdates)
    // after the last batch the ingest loop has produced EXACTLY the
    // state the lifecycle report answers from: same box, same rows
    assert(rows.last.getAs[Long]("rows_out_after") === e2e.head.getAs[Long]("rows_out"),
      "the ingest trajectory must end where the lifecycle's invariant answer begins")
    // each batch's decision is internally consistent: affected + new =
    // its distinct cells, and rewrite mass only comes from affected files
    rows.foreach { r =>
      assert(r.getAs[Long]("n_affected_files") >= 0L)
      assert(r.getAs[Long]("rows_rewritten") === 0L ||
        r.getAs[Long]("n_affected_files") > 0L)
      assert(r.getAs[Long]("n_arrived") > 0L)
    }
    // the physical lineage exists: one delta file per batch
    val root = Scratch.root("lake_ingest", sf)
    (0 until 3).foreach { i =>
      val n = new java.io.File(s"$root/delta/b=$i")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"batch $i must land exactly one delta file")
    }
  }

  test("lake evolve: added column survives merge-on-read and fold, and its footers prune") {
    val rows = Layout.lakeEvolve(spark, sf).collect().sortBy(_.getAs[Long]("stage"))
    assert(rows.length === 3)
    assert(rows.map(_.getAs[String]("state")).toSeq ===
      Seq("merge_on_read", "folded", "score_pruned"))
    val Array(s1, s2, s3) = rows
    // stages 1-2 answer the SAME value box: rows, evolved-column
    // coverage, and the carried score values must all be invariant
    Seq("rows_out", "n_scored", "score_chk").foreach { c =>
      assert(s1.getAs[Long](c) === s2.getAs[Long](c), s"stage1/2 $c must be invariant")
    }
    // the fold win is unchanged by the evolution
    assert(s2.getAs[Long]("rows_scanned") < s1.getAs[Long]("rows_scanned"),
      s"fold=${s2.getAs[Long]("rows_scanned")} mor=${s1.getAs[Long]("rows_scanned")}")
    // the NEW column's footers genuinely prune, and every answered row
    // of the score box carries a real (non-NULL) evolved value
    assert(s3.getAs[Long]("files_read") < s3.getAs[Long]("files_total"),
      s"score stats must prune: ${s3.getAs[Long]("files_read")}/${s3.getAs[Long]("files_total")}")
    assert(s3.getAs[Long]("rows_out") > 0L)
    assert(s3.getAs[Long]("rows_out") === s3.getAs[Long]("n_scored"))
    // mergeSchema inferred the evolved union schema over the mixed dir
    val tbl = spark.read.option("mergeSchema", "true")
      .parquet(s"${Scratch.root("lake_evolve", sf)}/tbl")
    assert(tbl.schema.fieldNames.contains("score"),
      "the union schema must carry the added column")
    // folded content ≡ the evolved newest-wins merge, INCLUDING the
    // added column's values (NULL for pre-evolution rows)
    val folded = spark.read
      .parquet(s"${Scratch.root("lake_evolve", sf)}/fold")
      .select("event_id", "user_id", "value", "score")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val delta = ev.where(pmod(col("event_id"), lit(10)) === 0)
      .unionByName(ev.where(pmod(col("event_id"), lit(100)) === 1)
        .withColumn("value", col("value") + lit(150.0)))
      .withColumn("score", (floor(col("value")) + lit(1000L)).cast("double"))
    val mergedFull = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
      .join(delta.select(col("event_id")), Seq("event_id"), "left_anti")
      .unionByName(delta, allowMissingColumns = true)
      .select("event_id", "user_id", "value", "score")
    assert(folded.count() === mergedFull.count())
    assert(folded.exceptAll(mergedFull).count() === 0L,
      "folded rows (score included) must equal the evolved newest-wins merge")
    // conservative contract: the fold manifest carries real score stats
    // for delta-bearing cells AND NULL-stat rows for all-NULL cells —
    // both kinds must exist for the stage-3 numbers to mean anything
    val mf = graft.sources.FooterManifest.build(spark,
      s"${Scratch.root("lake_evolve", sf)}/fold", Seq("score")).collect()
    assert(mf.exists(r => !r.isNullAt(r.fieldIndex("min_v"))),
      "at least one folded file must persist usable score stats")
  }

  test("schema evolution: WIDENED type reads through the evolved schema (int32 files as long)") {
    // the other half of the evolution story next to lakeEvolve's added
    // column: a type widened by a later writer (int → long). The
    // catalog records the WIDER type and old files read through it —
    // Spark 4's parquet readers support widening promotions, so the
    // mixed table answers exactly, no rewrite of old files needed.
    val dir = tempDir("graft-widen").toString
    spark.range(5).select(col("id").cast("int").as("v"))
      .write.mode("overwrite").parquet(s"$dir/w")
    spark.range(5, 10).select(col("id").as("v"))
      .write.mode("append").parquet(s"$dir/w")
    val evolved = spark.read.schema("v LONG").parquet(s"$dir/w")
    assert(evolved.schema.head.dataType ===
      org.apache.spark.sql.types.LongType)
    assert(evolved.agg(sum(col("v"))).head().getLong(0) === 45L)
    assert(evolved.where(col("v") < 5).count() === 5L,
      "rows from the narrow-typed files must read back through the wide schema")
  }

  test("schema evolution composed: one arrival both WIDENS a column and ADDS one") {
    // the two registry-gated halves (x_lake_widen, x_lake_evolve)
    // compose: the narrow era persists (k INT, v DOUBLE); the evolved
    // era ships k as LONG plus a new score column. The catalog records
    // the union-and-widened schema and BOTH eras read through it.
    val dir = tempDir("graft-evwide").toString
    spark.range(10)
      .select(col("id").cast("int").as("k"), (col("id") * 2.0).as("v"))
      .write.mode("overwrite").parquet(s"$dir/t")
    spark.range(10, 15)
      .select(col("id").as("k"), (col("id") * 2.0).as("v"),
        (col("id") + 100L).as("score"))
      .write.mode("append").parquet(s"$dir/t")
    val evolved = spark.read.schema("k LONG, v DOUBLE, score BIGINT")
      .parquet(s"$dir/t")
    assert(evolved.count() === 15L)
    assert(evolved.agg(sum(col("k"))).head().getLong(0) ===
      (0 until 15).map(_.toLong).sum,
      "narrow-era values must read exactly through the widened type")
    // old rows NULL-fill the added column; new rows carry it intact
    assert(evolved.where(col("score").isNull).count() === 10L)
    assert(evolved.where(col("score").isNotNull)
      .agg(sum(col("score"))).head().getLong(0) ===
      (10 until 15).map(i => (i + 100).toLong).sum)
    // folding through the evolved schema lands uniformly evolved files
    evolved.write.mode("overwrite").parquet(s"$dir/fold")
    val back = spark.read.parquet(s"$dir/fold")
    assert(back.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(back.schema("score").dataType === org.apache.spark.sql.types.LongType)
    assert(back.count() === 15L)
  }

  /** Physical parquet type name of column `c` in file `f` — read straight
    * from the footer, so the width claims below are about what is ON DISK,
    * not about what a reader promoted. */
  private def physTypeOf(f: String, c: String): String = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema
      .getColumnDescription(Array(c)).getPrimitiveType.getPrimitiveTypeName.name
    finally r.close()
  }

  test("lake widen: narrow era on disk is INT32, the fold lands uniformly INT64, values survive") {
    val rows = Layout.lakeWiden(spark, sf).collect().sortBy(_.getAs[Long]("stage"))
    assert(rows.length === 3)
    val root = Scratch.root("lake_widen", sf)
    // the width claims, from the footers themselves: every base file is
    // the narrow era (INT32), the delta and every folded file are wide
    val (deltaFiles, baseFiles) = Layout.listParquetFiles(spark, s"$root/tbl")
      .partition(_.contains("zcell=-1"))
    assert(baseFiles.nonEmpty && deltaFiles.nonEmpty)
    baseFiles.foreach(f => assert(physTypeOf(f, "user_id") === "INT32",
      s"narrow-era base file must persist INT32 user_id: $f"))
    deltaFiles.foreach(f => assert(physTypeOf(f, "user_id") === "INT64"))
    val foldFiles = Layout.listParquetFiles(spark, s"$root/fold")
    assert(foldFiles.nonEmpty)
    foldFiles.foreach(f => assert(physTypeOf(f, "user_id") === "INT64",
      s"folded file must carry the widened type: $f"))
    // fold content ≡ the newest-wins merge computed from the table —
    // the promotion read changed no value on the way through
    val folded = spark.read
      .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
      .parquet(s"$root/fold")
      .select("event_id", "user_id", "value")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val delta = ev.where(pmod(col("event_id"), lit(10)) === 0)
      .unionByName(ev.where(pmod(col("event_id"), lit(100)) === 1)
        .withColumn("value", col("value") + lit(150.0)))
    val mergedFull = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
      .join(delta.select(col("event_id")), Seq("event_id"), "left_anti")
      .unionByName(delta)
    assert(folded.count() === mergedFull.count())
    assert(folded.exceptAll(mergedFull).count() === 0L,
      "folded rows must equal the newest-wins merge through the wide schema")
    // stage invariants: the fold changes no answer, and the widened
    // column's mixed-width footers genuinely prune at stage 3
    assert(rows(0).getAs[Long]("rows_out") === rows(1).getAs[Long]("rows_out"))
    assert(rows(0).getAs[Long]("uid_chk") === rows(1).getAs[Long]("uid_chk"))
    assert(rows(2).getAs[Long]("files_read") < rows(2).getAs[Long]("files_total"),
      "uid-only pruning over INT32 footer stats must skip files")
    assert(rows(2).getAs[Long]("rows_out") > 0L)
  }

  test("lake changes: restore is metadata-only, the delta-scale feed equals the generic state diff") {
    val feed = Layout.lakeChanges(spark, sf).collect()
    val root = Scratch.root("lake_changes", sf)
    // RESTORE wrote no data: g2's manifest re-references g0's FILE
    // entries verbatim (its op stamp is its own — a restore is a new
    // commit), and the data dir holds exactly the g0 ∪ g1 file set
    def fileRefs(g: Int) =
      Log.readGeneration(root, g).filter(e => Log.LogFileKinds(e._1))
    assert(fileRefs(2) === fileRefs(0))
    assert(Log.readGeneration(root, 2)
      .collectFirst { case ("op", o) => o } === Some("restore"))
    val referenced = (fileRefs(0) ++ fileRefs(1)).map(_._2).toSet
    assert(Layout.listParquetFiles(spark, s"$root/data").toSet === referenced,
      "the restore commit must add zero data files")
    // reading AS OF the restored generation IS reading g0
    val g0 = Layout.readLakeAsOf(spark, root, 0)
    val g2 = Layout.readLakeAsOf(spark, root, 2)
    assert(g0.count() === g2.count())
    assert(g0.exceptAll(g2).count() === 0L && g2.exceptAll(g0).count() === 0L)
    // the delta-scale feed must equal the GENERIC backfill — a full
    // state diff of the two generations read from the log
    val g1 = Layout.readLakeAsOf(spark, root, 1)
    val o = g0.select(col("event_id"), col("value").as("v0"))
    val n = g1.select(col("event_id"), col("value").as("v1"))
    val diff = o.join(n, Seq("event_id"), "full_outer")
    val insKeys = diff.where(col("v0").isNull).agg(
      count(lit(1)), coalesce(sum(col("event_id")), lit(0L))).head()
    val updKeys = diff.where(col("v0").isNotNull && col("v1").isNotNull &&
      col("v0") =!= col("v1")).agg(
      count(lit(1)), coalesce(sum(col("event_id")), lit(0L))).head()
    assert(diff.where(col("v1").isNull).count() === 0L,
      "the arrival removes nothing — deletes only appear across the restore")
    def row(ct: String) = feed.find(_.getAs[String]("change_type") == ct).get
    assert(row("insert").getAs[Long]("n_rows") === insKeys.getLong(0))
    assert(row("insert").getAs[Long]("key_chk") === insKeys.getLong(1))
    assert(row("update_postimage").getAs[Long]("n_rows") === updKeys.getLong(0))
    assert(row("update_postimage").getAs[Long]("key_chk") === updKeys.getLong(1))
    // the inverse feed mirrors the forward one key-for-key, and the
    // pre/post images differ by exactly the correction the fixture
    // applied (value + 150 ⇒ ⌊value⌋ + 150 per row)
    assert(row("delete").getAs[Long]("key_chk") === row("insert").getAs[Long]("key_chk"))
    assert(row("update_preimage").getAs[Long]("key_chk") ===
      row("update_postimage").getAs[Long]("key_chk"))
    assert(row("update_postimage").getAs[Long]("val_chk") ===
      row("update_preimage").getAs[Long]("val_chk") +
        150L * row("update_preimage").getAs[Long]("n_rows"))
  }

  test("cdc apply: feed-maintained view equals the full g1 recompute, untouched users bit-identical") {
    val out = Layout.cdcApply(spark, sf).persist()
    val root = Scratch.root("lake_changes", sf)
    val flv = floor(col("value")).cast("long")
    def census(gen: Int) = Layout.readLakeAsOf(spark, root, gen)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(flv).as("v"))
    val v1 = census(1).persist()
    // SOUNDNESS: every touched user's after-values land exactly on the
    // state-scale recompute the incremental path exists to avoid
    val mismatched = out.join(v1, Seq("user_id"), "left_outer")
      .where(col("n").isNull || col("n") =!= col("n_after") ||
        col("v") =!= col("val_after"))
    assert(mismatched.count() === 0L,
      "incremental apply must equal the full g1 recompute for every touched user")
    assert(out.count() > 0L)
    // ISOLATION: users the feed never touched carry identical census
    // rows in g0 and g1 — the maintenance provably had nothing to do
    val touched = out.select(col("user_id"))
    val v0unt = census(0).join(touched, Seq("user_id"), "left_anti")
    val v1unt = v1.join(touched, Seq("user_id"), "left_anti")
    assert(v0unt.count() === v1unt.count())
    assert(v0unt.exceptAll(v1unt).count() === 0L,
      "untouched users' view rows must be bit-identical across the transition")
    out.unpersist()
    v1.unpersist()
  }

  test("lake delete: tombstones erase at read time and physically at the fold") {
    val rows = Layout.lakeDelete(spark, sf).collect().sortBy(_.getAs[Long]("stage"))
    assert(rows.length === 2)
    assert(rows.map(_.getAs[String]("state")).toSeq ===
      Seq("merge_on_read", "folded_erased"))
    // the box answer is already erasure-complete at merge-on-read time
    assert(rows(0).getAs[Long]("rows_out") === rows(1).getAs[Long]("rows_out"))
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val tomb = ev.where(pmod(col("event_id"), lit(100)) === 3)
      .select(col("event_id"))
    val nTomb = tomb.count()
    assert(nTomb > 0L, "the fixture must actually request erasures")
    assert(rows(0).getAs[Long]("n_tombstones") === nTomb)
    // every mod-100≡3 key is a base key, so each tombstone erases one
    assert(rows(0).getAs[Long]("n_erased") === nTomb)
    assert(rows(0).getAs[Long]("erased_remaining") === 0L)
    // physical erasure, re-proven from the folded FILES: no tombstoned
    // key survives in any folded file, and the fold is exactly the
    // newest-wins-with-deletes merge
    val root = Scratch.root("lake_delete", sf)
    val fold = spark.read
      .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
      .parquet(s"$root/fold").select("event_id", "user_id", "value")
    assert(fold.join(tomb, Seq("event_id"), "left_semi").count() === 0L,
      "a tombstoned key must not survive in any folded file")
    val ups = ev.where(pmod(col("event_id"), lit(10)) === 0)
      .unionByName(ev.where(pmod(col("event_id"), lit(100)) === 1)
        .withColumn("value", col("value") + lit(150.0)))
    val dkeys = ups.select(col("event_id")).unionByName(tomb)
    val expected = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
      .join(dkeys, Seq("event_id"), "left_anti")
      .unionByName(ups)
    assert(fold.count() === expected.count())
    assert(fold.exceptAll(expected).count() === 0L,
      "fold ≡ base minus all delta keys plus the upserts")
  }

  test("generation log: two concurrent optimistic committers claim distinct generations") {
    val root = tempDir("graft-genrace").toString
    val gate = new java.util.concurrent.CountDownLatch(2)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (1 to 2).map(i => new Thread(() => {
      gate.countDown(); gate.await()
      try got.add(Log.commitNextGeneration(root,
        Seq("base" -> s"file:/fake/writer$i.parquet")))
      catch { case t: Throwable => errs.add(t) }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join(30000))
    assert(errs.isEmpty, s"optimistic committers must not throw: ${errs.toArray.toSeq}")
    // both commits land, on DISTINCT slots — the loser retried past the
    // winner instead of overwriting it
    val gens = got.toArray(Array.empty[Integer]).map(_.intValue).sorted.toSeq
    assert(gens === Seq(0, 1))
    assert(Log.listGenerations(root) === Seq(0, 1))
    // each manifest holds exactly its writer's entry — no torn/mixed log
    val bodies = Seq(0, 1).map(g => Log.readGeneration(root, g))
    bodies.foreach(b => assert(b.length === 1 && b.head._1 === "base"))
    assert(bodies.map(_.head._2).toSet.size === 2,
      "the two committed manifests must carry the two distinct payloads")
    // a direct re-claim of a committed slot must fail loudly
    intercept[java.nio.file.FileAlreadyExistsException] {
      Log.commitGeneration(root, 1, Seq("base" -> "file:/fake/late.parquet"))
    }
    // ... and leaves no temp file behind: neither the racing loser's
    // promotion nor the failed re-claim strands a `.tmp` in the log
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(root, "gens"))
    try assert(left.filter(_.getFileName.toString.endsWith(".tmp")).count() === 0L,
      "a lost slot race left a temp file")
    finally left.close()
  }

  test("lake vacuum: retention window keeps g-1 readable, expires g0, answers survive") {
    val rows = Layout.lakeVacuum(spark, sf).collect().sortBy(_.getAs[String]("mode"))
    assert(rows.map(_.getAs[String]("mode")).toSeq === Seq("dry_run", "vacuum"))
    val Array(dry, r) = rows
    // the dry run's plan must agree with the execution column-for-column
    // — the report an operator signs off on IS what then runs
    dry.schema.fieldNames.filterNot(_ == "mode").foreach { c =>
      assert(dry.getAs[Long](c) === r.getAs[Long](c),
        s"dry-run column $c must equal the executed vacuum's")
    }
    // the two survival proofs: the current state's answer outlives the
    // vacuum, and the retained previous generation answers identically
    assert(r.getAs[Long]("rows_out_before") === r.getAs[Long]("rows_out_after"))
    assert(r.getAs[Long]("rows_out_prev_gen") === r.getAs[Long]("rows_out_after"))
    assert(r.getAs[Long]("n_gens") === 3L)
    assert(r.getAs[Long]("n_retained") === 2L)
    // accounting closes: live + deleted = before, and the deleted mass
    // is exactly the expired pre-fold state (base + the one delta file)
    assert(r.getAs[Long]("files_live") + r.getAs[Long]("files_deleted") ===
      r.getAs[Long]("files_before"))
    val ev = graft.Tables.events(spark, sf)
    val nBase = ev.where(pmod(col("event_id"), lit(10)) =!= 0).count()
    val nDelta = ev.where(pmod(col("event_id"), lit(10)) === 0).count() +
      ev.where(pmod(col("event_id"), lit(100)) === 1).count()
    assert(r.getAs[Long]("rows_deleted") === nBase + nDelta)
    // physically: g0 is PAST the window — its exclusive files are gone
    // AND (round 20) its manifest is expired by the log cleanup, so the
    // log lists exactly the retained window and a read below the floor
    // throws; every file a retained generation references exists, at
    // exactly files_live, and NOTHING else is left under the data root
    val root = Scratch.root("lake_vacuum", sf)
    def onDisk(f: String): Boolean =
      new java.io.File(f.replaceFirst("^file:", "")).exists()
    val live = (Log.readGeneration(root, 1) ++ Log.readGeneration(root, 2))
      .collect { case (k, f) if Log.LogFileKinds(k) => f }.toSet
    assert(Log.listGenerations(root) === Seq(1, 2),
      "log cleanup must expire the manifests below the retained floor")
    intercept[java.io.FileNotFoundException] { Log.readGeneration(root, 0) }
    assert(r.getAs[Long]("log_floor") === 1L)
    assert(r.getAs[Long]("log_tip") === 2L)
    assert(r.getAs[Long]("n_log_expired") === 1L)
    assert(live.size.toLong === r.getAs[Long]("files_live"))
    live.foreach(f => assert(onDisk(f), s"retained file must survive: $f"))
    assert(Layout.listParquetFiles(spark, s"$root/data").toSet === live,
      "after the vacuum the data root holds exactly the retained references")
    // g1 is INSIDE the window: after the vacuum it still answers the
    // full table, row-for-row equal to the current generation
    val g1 = Layout.readLakeAsOf(spark, root, 1)
    val g2 = Layout.readLakeAsOf(spark, root, 2)
    assert(g1.count() === g2.count())
    assert(g1.exceptAll(g2).count() === 0L && g2.exceptAll(g1).count() === 0L,
      "the retained previous generation must answer exactly the current state")
    // and that answer is the full merged table (all inserts + all base keys)
    val mergedCount = ev.where(pmod(col("event_id"), lit(10)) =!= 0).count() +
      ev.where(pmod(col("event_id"), lit(10)) === 0).count()
    assert(g1.count() === mergedCount,
      "fold = base-minus-updated + delta = all inserts + all base keys")
  }

  test("lake time travel: g0 stays readable after later generations commit, answers pinned across the log") {
    val rows = Layout.lakeTimetravel(spark, sf).collect().sortBy(_.getAs[Long]("gen"))
    assert(rows.map(_.getAs[String]("state")).toSeq ===
      Seq("pre_fold", "folded", "compacted"))
    // the fold/compaction invariant, ACROSS generations (the box itself
    // is empty at this SF — the content equalities below do the work)
    assert(rows.map(_.getAs[Long]("rows_out")).distinct.length === 1)
    // TIME TRAVEL: read AS OF g0 through the log AFTER g1/g2 committed,
    // and demand the full pre-fold CONTENT — not just the box count
    val root = Scratch.root("lake_timetravel", sf)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
    val delta = ev.where(pmod(col("event_id"), lit(10)) === 0)
      .unionByName(ev.where(pmod(col("event_id"), lit(100)) === 1)
        .withColumn("value", col("value") + lit(150.0)))
    val expected = base
      .join(delta.select(col("event_id")), Seq("event_id"), "left_anti")
      .unionByName(delta)
    val g0 = Layout.readLakeAsOf(spark, root, 0)
    assert(g0.count() === expected.count())
    assert(g0.exceptAll(expected).count() === 0L,
      "g0 read through the log must equal the pre-fold newest-wins merge")
    // g0 and g1 answer identically row-for-row, not only inside the box
    val g1 = Layout.readLakeAsOf(spark, root, 1)
    assert(g1.exceptAll(g0).count() === 0L && g0.exceptAll(g1).count() === 0L,
      "the folded generation must answer exactly what the pre-fold one does")
    // the log itself: three numbered generations; g0 carries both file
    // kinds (merge-on-read state), the rewrites are pure base
    // generations, and every commit names its operation (round 19)
    assert(Log.listGenerations(root) === Seq(0, 1, 2))
    def kinds(g: Int) = Log.readGeneration(root, g)
      .collect { case (k, _) if Log.LogFileKinds(k) => k }.toSet
    assert(kinds(0) === Set("base", "delta"))
    assert(kinds(1) === Set("base"))
    assert(kinds(2) === Set("base"))
    def op(g: Int) = Log.readGeneration(root, g)
      .collectFirst { case ("op", o) => o }
    assert(Seq(op(0), op(1), op(2)) ===
      Seq(Some("seed"), Some("fold"), Some("compact")))
  }

  test("lake ingest: incremental rows_out_after ≡ full newest-wins recompute per batch") {
    // the ops.Incremental differential contract applied to the box
    // observable (round 16, VERDICT r15 #1): the loop maintains
    // rows_out_after from the previous value + a batch-sized correction;
    // this recomputes every batch's answer the EXPENSIVE way — full
    // newest-wins merge over base ∪ delta-so-far — and demands equality
    val rows = Layout.lakeIngest(spark, sf).collect().sortBy(_.getAs[Long]("batch_id"))
    val box = col("user_id").between(60, 90) && col("value").between(100.0, 200.0)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
    val inserts = ev.where(pmod(col("event_id"), lit(10)) === 0)
    val updates = ev.where(pmod(col("event_id"), lit(100)) === 1)
      .withColumn("value", col("value") + lit(150.0))
    val bs = Seq(
      inserts.where(pmod(expr("event_id div 10"), lit(3)) === 0),
      inserts.where(pmod(expr("event_id div 10"), lit(3)) === 1)
        .unionByName(updates),
      inserts.where(pmod(expr("event_id div 10"), lit(3)) === 2))
    (0 until 3).foreach { i =>
      val deltaSoFar = bs.take(i + 1).reduce(_ unionByName _)
      val full = base
        .join(deltaSoFar.select(col("event_id")), Seq("event_id"), "left_anti")
        .unionByName(deltaSoFar)
        .where(box).count()
      assert(rows(i).getAs[Long]("rows_out_after") === full,
        s"batch $i: incremental box count diverged from the full recompute")
    }
  }

  test("dppRead: runtime partition pruning fires and reads only the dim's partitions") {
    val df = Layout.dppRead(spark, sf)
    val rows = df.collect()
    // relational twin computed with no partitioned layout at all
    val docs = graft.Tables.documents(spark, sf)
    val sel = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .where((col("n_en").cast("double") / col("n_total")) < 0.35)
      .select("source").as[String].collect().toSet
    assert(sel.nonEmpty && sel.size < 20, s"fixture must make the cut selective, got $sel")
    assert(rows.length === sel.size)
    val twin = docs.where(col("source").isin(sel.toSeq: _*))
      .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .collect().map(r0 => (r0.getString(0), r0.getLong(1), r0.getLong(2))).toSet
    assert(rows.map(r0 => (r0.getString(0), r0.getLong(1), r0.getLong(2))).toSet === twin)
    // the planner injected a runtime pruning subquery on the partition
    // column — the feature this query exists to exercise (adaptive
    // wrappers unwrapped the same way as DynamicPruningSpec)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
        case qs: QueryStageExec       => qs +: allNodes(qs.plan)
        case n                        => Seq(n)
      }
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains("dpp_read")) => s
    }
    assert(scans.nonEmpty, "expected a partitioned file scan over the dpp layout")
    val scan = scans.head
    assert(scan.partitionFilters.mkString.contains("dynamicpruning"),
      s"expected a runtime pruning predicate, got: ${scan.partitionFilters}")
    // one file per source partition (repartition by src_part), so the
    // metric proves only the selected sources' dirs were actually read
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead === sel.size.toLong,
      s"DPP should prune to the ${sel.size} selected source partitions, read $filesRead")
  }

  /** (query, scratch kind of the layout it reads back with the schema of
    * the frame that wrote it) */
  private val schemaReads = Seq(
    "x_footer_prune_str" -> "footer_prune_str",
    "x_footer_prune_mixed" -> "footer_prune_str",
    "x_dpp_read" -> "dpp_read")

  test("each layout read's schema is the one parquet infers for the same paths") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    schemaReads.foreach { case (name, kind) =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val rels = df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }.collect {
        case r: HadoopFsRelation if r.location.rootPaths.exists(_.toString.contains(s"graft_$kind")) => r
      }
      assert(rels.nonEmpty, s"$name reads no file under its $kind layout")
      rels.foreach { r =>
        val inferred = spark.read.parquet(r.location.rootPaths.map(_.toString): _*).schema
        assert(r.schema === inferred, s"$name: the read's schema differs from the inferred one")
      }
    }
  }

  /** Jobs a warm call of `name` starts on this fixture (the first call
    * builds the layout if this run has not yet). */
  private def warmJobs(name: String): Int = {
    def jobs(): Int = graft.Run.jobsStarted(spark, s"graft-spec-warm-$name") {
      graft.SparkEntry.queries(name)(spark, sf).collect()
    }
    jobs()
    jobs()
  }

  test("a warm call of each schema-given layout read starts no schema-inference job") {
    // with parquet inferring each read's schema, warm calls on this
    // fixture started 7 (both footer prunes) and 9 (DPP) jobs; with a
    // fingerprint job per guard and a footer job per manifest, 6, 6, 8
    val ceilings = Map("x_footer_prune_str" -> 4, "x_footer_prune_mixed" -> 4, "x_dpp_read" -> 6)
    schemaReads.foreach { case (name, _) =>
      val n = warmJobs(name)
      assert(n <= ceilings(name), s"a warm $name call started $n jobs")
    }
  }

  test("a warm call of a guarded layout read starts no guard or footer job") {
    // with a fingerprint job per guard and a footer job per manifest,
    // warm calls at sf0.01 (`graft.Run profile`) started 9, 12 and 10 jobs
    val ceilings = Map("x_footer_prune" -> 4, "x_delta_read" -> 5, "x_zorder_prune" -> 6)
    ceilings.foreach { case (name, ceiling) =>
      val n = warmJobs(name)
      assert(n <= ceiling, s"a warm $name call started $n jobs")
    }
  }

  test("commit conflict: a data-bearing winner aborts the loser; a metadata-only winner permits retry") {
    // writer A and writer B both fold parent g0; A lands g1 with its own
    // fold output — B's snapshot, computed against g0, would silently
    // drop that output, so B must ABORT, never land
    val root = tempDir("graft-conflict").toString
    Log.commitGeneration(root, 0,
      Seq("base" -> "file:/t/a.parquet", "base" -> "file:/t/b.parquet"))
    val read0 = Log.readGeneration(root, 0).map(_._2).toSet
    assert(Log.commitNextGeneration(root,
      Seq("base" -> "file:/t/foldA.parquet"), Some((0, read0))) === 1)
    intercept[Log.CommitConflictException] {
      Log.commitNextGeneration(root,
        Seq("base" -> "file:/t/foldB.parquet"), Some((0, read0)))
    }
    // no lost-update manifest landed: the log holds exactly A's commit
    assert(Log.listGenerations(root) === Seq(0, 1))
    assert(Log.readGeneration(root, 1) === Seq("base" -> "file:/t/foldA.parquet"))
    // a METADATA-ONLY winner (a RESTORE re-referencing files the loser
    // already read) introduces no datum the loser's snapshot misses —
    // the loser's retry proceeds
    val root2 = tempDir("graft-conflict2").toString
    Log.commitGeneration(root2, 0,
      Seq("base" -> "file:/t/a.parquet", "base" -> "file:/t/b.parquet"))
    val read02 = Log.readGeneration(root2, 0).map(_._2).toSet
    assert(Log.commitNextGeneration(root2,
      Seq("base" -> "file:/t/a.parquet"), Some((0, read02))) === 1)
    assert(Log.commitNextGeneration(root2,
      Seq("base" -> "file:/t/foldB.parquet"), Some((0, read02))) === 2)
  }

  test("commit conflict race: two committers folding one parent — exactly one lands, one aborts") {
    val root = tempDir("graft-conflictrace").toString
    Log.commitGeneration(root, 0, Seq("base" -> "file:/t/parent.parquet"))
    val readState = Some((0, Log.readGeneration(root, 0).map(_._2).toSet))
    val gate = new java.util.concurrent.CountDownLatch(2)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val conflicts = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (1 to 2).map(i => new Thread(() => {
      gate.countDown(); gate.await()
      try landed.add(Log.commitNextGeneration(root,
        Seq("base" -> s"file:/t/fold$i.parquet"), readState))
      catch {
        case c: Log.CommitConflictException => conflicts.add(c)
        case t: Throwable => errs.add(t)
      }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join(30000))
    assert(errs.isEmpty, s"unexpected errors: ${errs.toArray.toSeq}")
    assert(landed.size === 1, "exactly one fold must land")
    assert(conflicts.size === 1, "exactly one fold must abort with a conflict")
    // the log holds g0 + the single winner — never both folds
    assert(Log.listGenerations(root) === Seq(0, 1))
    assert(Log.readGeneration(root, 1).map(_._2).toSet.size === 1)
  }

  test("actions log: an 8-commit lineage reconstructs every state from checkpoint + action replay") {
    val root = tempDir("graft-actlog").toString
    def f(i: Int) = s"file:/t/d$i.parquet"
    // the expected snapshots, built exactly as the lineages build theirs:
    // seed, five arrivals (append a delta, restamp op), a fold (replace
    // everything), a restore (re-reference g3's files)
    var snaps = Vector[Seq[(String, String)]](
      Seq("base" -> "file:/t/base.parquet", "op" -> "seed"))
    (1 to 5).foreach { i =>
      snaps :+= (snaps.last.filterNot(_._1 == "op") ++
        Seq("delta" -> f(i), "op" -> "arrival"))
    }
    snaps :+= Seq("base" -> "file:/t/fold.parquet", "op" -> "fold")
    snaps :+= (snaps(3).filterNot(_._1 == "op") :+ ("op" -> "restore"))
    snaps.zipWithIndex.foreach { case (e, i) =>
      assert(Log.commitNextGeneration(root, e) === i)
    }
    // COLD read: drop the JVM snapshot cache, so every state below must
    // reconstruct from nothing but the on-disk log — what a fresh JVM
    // (a different reader of the same table) would do
    Log.clearLogSnapshotCache()
    snaps.zipWithIndex.foreach { case (e, i) =>
      assert(Log.readGeneration(root, i) === e,
        s"generation $i must reconstruct to the exact committed snapshot")
    }
    // the representation really is an actions log: every non-g0 commit
    // is @delta-form and O(changes) — an arrival manifest carries its
    // op restamp + one delta add, never the whole file list
    def raw(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/gens/$name")), "UTF-8")
    (1 to 7).foreach { i =>
      assert(raw(s"g=$i").split("\n").head === "@delta", s"g$i must be actions-form")
    }
    (1 to 5).foreach { i =>
      assert(raw(s"g=$i").split("\n").length <= 4,
        s"an arrival manifest must be O(changes), not O(files): g$i")
    }
    assert(!raw("g=0").startsWith("@delta"), "g0 (no parent) is snapshot-form")
    // the checkpoint sidecar at the interval carries g4's full snapshot
    val c = s"c=${Log.LogCheckpointInterval}"
    val ckpt = raw(c).split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
    }
    assert(ckpt === snaps(Log.LogCheckpointInterval),
      s"$c must hold the full snapshot of its generation")
    // adds read off a manifest at O(changes): arrival 3 added its delta
    // file and its op stamp, nothing else
    assert(Log.readGenerationActions(root, 3)._1 ===
      Seq("delta" -> f(3), "op" -> "arrival"))
    assert(Log.readGenerationActions(root, 6)._2.map(_._2).toSet
      .contains(f(5)), "the fold's manifest records the removed arrivals")
  }

  test("actions log property: random lineages reconstruct exactly through both manifest forms") {
    // randomized commit sequences — drops, re-adds (restores), retained-
    // entry REORDERS (the case the commit-time exactness check must
    // route to the snapshot fallback), metadata churn, duplicate
    // entries — must all read back exactly, cold, at every generation;
    // and each commit's recorded actions must compose over its parent.
    val seen = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def canonical(e: Seq[(String, String)]) = {
      val (f, m) = e.partition(x => Log.LogFileKinds(x._1)); f ++ m
    }
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val root = tempDir(s"graft-logprop$seed").toString
      val pool = (0 until 10).map(i => s"file:/t/f$i.parquet")
      val kindsOf = Map(0 -> "base", 1 -> "delta", 2 -> "cdelta")
      var files = Vector.empty[(String, String)]
      var snaps = Vector.empty[Seq[(String, String)]]
      val n = 8 + rnd.nextInt(5)
      (0 until n).foreach { g =>
        files = files.filter(_ => rnd.nextDouble() > 0.3)
        files = files ++ (0 until 1 + rnd.nextInt(3)).map(_ =>
          (kindsOf(rnd.nextInt(3)), pool(rnd.nextInt(pool.size))))
        if (rnd.nextDouble() < 0.3) files = rnd.shuffle(files)
        val metas = (if (rnd.nextBoolean())
          Seq("schema" -> s"s${rnd.nextInt(3)}") else Nil) ++
          Seq("op" -> s"op${rnd.nextInt(4)}")
        // metadata interleaved anywhere — the log canonicalizes
        val entries = rnd.shuffle(files ++ metas)
        snaps :+= entries
        assert(Log.commitNextGeneration(root, entries) === g)
      }
      Log.clearLogSnapshotCache()
      (0 until n).foreach { g =>
        assert(Log.readGeneration(root, g) === canonical(snaps(g)),
          s"seed=$seed g=$g cold reconstruction")
      }
      (1 until n).foreach { g =>
        val (adds, removes) = Log.readGenerationActions(root, g)
        val parent = Log.readGeneration(root, g - 1)
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Int]
        removes.foreach(e => counts.update(e, counts.getOrElse(e, 0) + 1))
        val applied = parent.filter { e =>
          counts.get(e) match {
            case Some(k) if k > 0 => counts.update(e, k - 1); false
            case _ => true
          }
        } ++ adds
        assert(applied.sorted === Log.readGeneration(root, g).sorted,
          s"seed=$seed g=$g: actions must compose over the parent")
        assert(counts.values.forall(_ == 0),
          s"seed=$seed g=$g: every recorded remove must hit a parent entry")
        seen += new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$root/gens/g=$g")), "UTF-8")
          .startsWith("@delta")
      }
    }
    // the randomness really exercised BOTH representations
    assert(seen.contains(true) && seen.contains(false),
      "the generated lineages must produce actions-form AND fallback-snapshot manifests")
  }

  test("log expiry: manifests below the retained window die, the floor re-anchors on its checkpoint") {
    val root = tempDir("graft-logexpire").toString
    // a 10-commit arrival-shaped lineage: the expected snapshots, then
    // committed through the public API (delta-form manifests g1..g9)
    var snaps = Vector[Seq[(String, String)]](
      Seq("base" -> "file:/t/base.parquet", "op" -> "seed"))
    (1 to 9).foreach { i =>
      snaps :+= (snaps.last.filterNot(_._1 == "op") ++
        Seq("delta" -> s"file:/t/d$i.parquet", "op" -> "arrival"))
    }
    snaps.zipWithIndex.foreach { case (e, i) =>
      assert(Log.commitNextGeneration(root, e) === i)
    }
    Log.expireLogEntries(root, 6)
    assert(Log.listGenerations(root) === Seq(6, 7, 8, 9),
      "history answers the retained window after cleanup")
    // cold reconstruction: the window's floor anchors on its own
    // checkpoint — the deleted ancestor chain is never needed
    Log.clearLogSnapshotCache()
    (6 to 9).foreach { g =>
      assert(Log.readGeneration(root, g) === snaps(g), s"generation $g")
    }
    // an expired generation is not a readable state
    intercept[java.io.IOException] { Log.readGeneration(root, 3) }
    // idempotent: a crash-retry (or a second cleanup) is a no-op
    Log.expireLogEntries(root, 6)
    assert(Log.listGenerations(root) === Seq(6, 7, 8, 9))
    assert(Log.readGeneration(root, 9) === snaps(9))
  }

  test("commit validation: metadata-only intervening commits never conflict; data adds still do") {
    val root = tempDir("graft-metaconflict").toString
    val baseRefs = Seq("base" -> "file:/t/b0.parquet")
    Log.commitGeneration(root, 0, baseRefs :+ ("schema" -> "event_id BIGINT"))
    // the committer's read set holds FILES only — no schema text, no op
    // stamps (ADVICE r18 #1: callers used to hand-stuff schema strings
    // into read sets to survive exactly this scenario)
    val readState = Some((0, baseRefs.map(_._2).toSet))
    // an intervening commit that changes ONLY metadata (evolves the
    // schema, stamps an op) adds no data file the committer missed —
    // the committer's retry must proceed
    Log.commitNextGeneration(root,
      baseRefs ++ Seq("schema" -> "event_id BIGINT, score DOUBLE", "op" -> "evolve"))
    assert(Log.commitNextGeneration(root,
      baseRefs :+ ("delta" -> "file:/t/d0.parquet"), readState) === 2)
    // but an intervening DATA add still conflicts — and the error names
    // the missed file, never a metadata string
    val read2 = Some((2, Log.readGeneration(root, 2)
      .collect { case (k, p) if Log.LogFileKinds(k) => p }.toSet))
    Log.commitNextGeneration(root,
      Log.readGeneration(root, 2) :+ ("delta" -> "file:/t/d1.parquet"))
    val e = intercept[Log.CommitConflictException] {
      Log.commitNextGeneration(root,
        baseRefs :+ ("delta" -> "file:/t/d2.parquet"), read2)
    }
    assert(e.getMessage.contains("d1.parquet"))
  }

  test("ingest step: a batch violating the lineage contract never becomes a committed generation") {
    // ADVICE r18 #2: the invariant checks must run BEFORE the commit —
    // a duplicate-key batch used to land as a readable generation first
    // and only then fail, leaving AS-OF/CDF readers a state referencing
    // an arrival that violated the contract
    val root = tempDir("graft-badbatch").toString
    val ctx = Layout.prepareLakeIngest(spark, sf, root)
    try {
      assert(Log.listGenerations(root) === Seq(0))
      val dup = Seq((1000001L, 7L, 50.0), (1000001L, 7L, 60.0))
        .toDF("event_id", "user_id", "value")
      intercept[IllegalArgumentException] {
        Layout.lakeIngestStep(dup, 0L, root, ctx, ctx.boxInit)
      }
      assert(Log.listGenerations(root) === Seq(0),
        "the rejected batch must not have committed a generation")
      // the lineage is not poisoned: a valid batch still commits as g1
      val ok = Seq((1000001L, 7L, 50.0), (1000002L, 8L, 60.0))
        .toDF("event_id", "user_id", "value")
      Layout.lakeIngestStep(ok, 0L, root, ctx, ctx.boxInit)
      assert(Log.listGenerations(root) === Seq(0, 1))
    } finally ctx.baseBoxKeys.unpersist()
  }

  test("actions log: a wiped and re-committed root reads its new states, never stale cached ones") {
    val root = tempDir("graft-logwipe").toString
    Log.commitGeneration(root, 0, Seq("base" -> "file:/t/old.parquet"))
    Log.commitGeneration(root, 1,
      Seq("base" -> "file:/t/old.parquet", "delta" -> "file:/t/old_d.parquet"))
    assert(Log.readGeneration(root, 1).map(_._2)
      .contains("file:/t/old_d.parquet"))
    // wipe + re-materialize — what every lineage's fingerprint miss does
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Log.commitGeneration(root, 0, Seq("base" -> "file:/t/rewritten.parquet"))
    Log.commitGeneration(root, 1,
      Seq("base" -> "file:/t/rewritten.parquet", "delta" -> "file:/t/rewritten_d.parquet"))
    // the stat-validated cache must miss on the rewritten manifests
    assert(Log.readGeneration(root, 1) ===
      Seq("base" -> "file:/t/rewritten.parquet", "delta" -> "file:/t/rewritten_d.parquet"))
    assert(Log.readGeneration(root, 0) ===
      Seq("base" -> "file:/t/rewritten.parquet"))
  }

  test("unified log: the arrival loop commits per batch and every boundary replays AS OF its generation") {
    val metrics = Layout.lakeIngest(spark, sf).collect().sortBy(_.getAs[Long]("batch_id"))
    val root = Scratch.root("lake_ingest", sf)
    // g0 = the seeded base, g1..g3 = one commit per arrival batch,
    // g4 = the fold committed on the same log (round 19)
    assert(Log.listGenerations(root) === Seq(0, 1, 2, 3, 4))
    val box = col("user_id").between(60, 90) && col("value").between(100.0, 200.0)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val baseBox = ev.where(pmod(col("event_id"), lit(10)) =!= 0).where(box).count()
    assert(Layout.readLakeAsOf(spark, root, 0).where(box).count() === baseBox,
      "g0 must answer the clustered base alone")
    // each batch boundary, re-answered from NOTHING but its manifest,
    // retraces the loop's incremental rows_out_after trajectory
    metrics.foreach { m =>
      val g = m.getAs[Long]("batch_id").toInt + 1
      assert(Layout.readLakeAsOf(spark, root, g).where(box).count() ===
        m.getAs[Long]("rows_out_after"),
        s"generation $g must replay batch ${g - 1}'s running answer")
    }
    // the fold is a DATA-MOVEMENT commit on the same log (round 19):
    // the answer is preserved across it, the state is pure base files,
    // and the cursor feed reads the transition as logically EMPTY —
    // while a consumer checkpointed before it still drains the arrivals
    val g4 = Layout.readLakeAsOf(spark, root, 4)
    val g3 = Layout.readLakeAsOf(spark, root, 3)
    assert(g4.where(box).count() === metrics.last.getAs[Long]("rows_out_after"))
    assert(g4.exceptAll(g3).count() === 0L && g3.exceptAll(g4).count() === 0L,
      "the fold must answer exactly what the last arrival state does")
    assert(Log.readGeneration(root, 4)
      .collect { case (k, _) if Log.LogFileKinds(k) => k }.toSet === Set("base"))
    assert(Log.readGeneration(root, 4)
      .collectFirst { case ("op", o) => o } === Some("fold"))
    assert(Layout.lakeChangesSince(spark, root, cursor = 3).count() === 0L,
      "a data-movement commit feeds nothing")
    val fromStart = Layout.lakeChangesSince(spark, root, cursor = 0)
    assert(fromStart.agg(sum(col("n_rows"))).head().getLong(0) > 0L,
      "a consumer checkpointed before the fold still drains every arrival")
    // the lifecycle lineage commits its three states too
    Layout.lakeE2e(spark, sf).collect()
    assert(Log.listGenerations(Scratch.root("lake_e2e", sf)) === Seq(0, 1, 2))
  }

  test("lake delete via the log: AS-OF g1 is already erasure-complete, g2 physically erased") {
    Layout.lakeDelete(spark, sf).collect()
    val root = Scratch.root("lake_delete", sf)
    assert(Log.listGenerations(root) === Seq(0, 1, 2))
    assert(Log.readGeneration(root, 1)
      .collect { case (k, _) if Log.LogFileKinds(k) => k }.toSet ===
      Set("base", "cdelta"))
    // the merge-on-read generation and the folded one answer the same
    // table: tombstones apply at READ time from the manifest alone
    val g1 = Layout.readLakeAsOf(spark, root, 1)
    val g2 = Layout.readLakeAsOf(spark, root, 2)
    assert(g1.count() === g2.count())
    assert(g1.exceptAll(g2).count() === 0L && g2.exceptAll(g1).count() === 0L,
      "AS-OF g1 (tombstoned merge-on-read) must equal the folded state")
    // no tombstoned key answers from either generation
    val tomb = graft.Tables.events(spark, sf)
      .where(pmod(col("event_id"), lit(100)) === 3).select(col("event_id"))
    assert(g1.join(tomb, Seq("event_id"), "left_semi").count() === 0L)
    assert(g2.join(tomb, Seq("event_id"), "left_semi").count() === 0L)
  }

  test("cursor CDF: checkpointed consumption composes, and data-movement commits feed nothing") {
    Layout.lakeIngest(spark, sf).collect()
    val root = Scratch.root("lake_ingest", sf)
    val full = Layout.lakeChangesSince(spark, root, 0)
    // the feed covers all three arrival transitions with real rows
    assert(full.select(col("from_gen"), col("to_gen")).distinct().count() === 3L)
    assert(full.agg(sum(col("n_rows"))).head().getLong(0) > 0L)
    // composition: a consumer checkpointing at g2 reads, in total,
    // exactly what a from-scratch consumer reads
    val part1 = Layout.lakeChangesSince(spark, root, 0, until = Some(2))
    val part2 = Layout.lakeChangesSince(spark, root, 2)
    val glued = part1.unionByName(part2)
    assert(full.count() === glued.count())
    assert(full.exceptAll(glued).count() === 0L &&
      glued.exceptAll(full).count() === 0L,
      "feed(0,until=2) ++ feed(2) must equal feed(0)")
    // fold/compaction transitions add no delta file — logically empty
    // feed entries (the published CDF semantics for data movement)
    Layout.lakeE2e(spark, sf).collect()
    assert(Layout.lakeChangesSince(spark,
      Scratch.root("lake_e2e", sf), 0).count() === 0L)
  }

  test("cursor CDF consumed LIVE: a checkpointing consumer drains each commit as the loop lands it") {
    // the consumer half of the cursor feed under the arrival loop's own
    // cadence: after every lakeIngestStep commit, read feed(checkpoint),
    // advance the checkpoint to the tip — the union of the drained
    // increments must equal the from-scratch feed, which is what makes
    // "resume from my last checkpoint" a safe production loop
    val root = tempDir("graft-cdflive").toString
    val ctx = Layout.prepareLakeIngest(spark, sf, root)
    try {
      var running = ctx.boxInit
      var checkpoint = 0
      val drained = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      Layout.lakeArrivalBatches(spark, sf).zipWithIndex.foreach { case (b, i) =>
        running = Layout.lakeIngestStep(b, i.toLong, root, ctx, running)._7
        val tip = Log.listGenerations(root).last
        drained ++= Layout.lakeChangesSince(spark, root, checkpoint, Some(tip)).collect()
        checkpoint = tip
      }
      assert(checkpoint === 3)
      val full = Layout.lakeChangesSince(spark, root, 0).collect()
      assert(drained.sortBy(_.toString).toSeq === full.sortBy(_.toString).toSeq,
        "incrementally drained feed must equal the from-scratch feed")
      assert(full.nonEmpty)
    } finally ctx.baseBoxKeys.unpersist()
  }

  test("lake rebase: g2 carries BOTH writers' arrivals, g1 only A's, B aborted exactly once") {
    val rows = Layout.lakeRebase(spark, sf).collect().sortBy(_.getAs[Long]("gen"))
    assert(rows.map(r => (r.getAs[String]("writer"), r.getAs[Long]("conflicts"))).toSeq
      === Seq(("seed", 0L), ("A", 0L), ("B", 1L)))
    val root = Scratch.root("lake_rebase", sf)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
    val ins = ev.where(pmod(col("event_id"), lit(10)) === 0)
    val sliceA = ins.where(pmod(expr("event_id div 10"), lit(3)) === 0)
    val sliceB = ins.where(pmod(expr("event_id div 10"), lit(3)) =!= 0)
      .unionByName(ev.where(pmod(col("event_id"), lit(100)) === 1)
        .withColumn("value", col("value") + lit(150.0)))
    // the landed state is the newest-wins merge of BOTH arrivals —
    // content-level, not just the box count
    val both = sliceA.unionByName(sliceB)
    val expected = base
      .join(both.select(col("event_id")), Seq("event_id"), "left_anti")
      .unionByName(both)
    val g2 = Layout.readLakeAsOf(spark, root, 2)
    assert(g2.count() === expected.count())
    assert(g2.exceptAll(expected).count() === 0L,
      "the rebased commit must carry both writers' arrivals")
    // AS OF g1, writer B's pure-insert keys do not exist yet
    val g1 = Layout.readLakeAsOf(spark, root, 1)
    val bInserts = ins.where(pmod(expr("event_id div 10"), lit(3)) =!= 0)
    assert(g1.join(bInserts.select(col("event_id")), Seq("event_id"), "left_semi")
      .count() === 0L, "g1 must predate writer B's arrival")
  }

  test("cursor CDF as a STREAM over the log: manifests replay one per micro-batch, increments compose") {
    // the main-side operator (round 19 — the logic moved from this spec
    // into streaming/LakeCdfStream): readStream over the gens/ dir, one
    // committed manifest per trigger, feed(cursor → arrived gen) drained
    // and the checkpoint REGISTERED per advance. The operator's own
    // requires pin delivery (every manifest a micro-batch, checkpoint
    // ends at the tip); this spec pins the composition law against the
    // from-scratch batch feed, and that the registered cursor now
    // floors retention over the streamed lineage.
    val streamed = graft.streaming.LakeCdfStream.lakeCdfStream(spark, sf).collect()
    val root = Scratch.root("lake_cdf_stream", sf)
    val full = Layout.lakeChangesSince(spark, root, 0).collect()
    assert(streamed.sortBy(_.toString).toSeq === full.sortBy(_.toString).toSeq,
      "per-trigger increments must compose to the from-scratch feed")
    // the lineage ends in the committed fold (generation 4), whose
    // checkpoint sidecar sits NEXT TO the manifests — so the stream's
    // g=* glob was exercised against a real non-manifest neighbor, and
    // the fold itself arrived as a micro-batch that fed NOTHING
    assert(Log.listGenerations(root) === Seq(0, 1, 2, 3, 4))
    assert(new java.io.File(s"$root/gens/c=${Log.LogCheckpointInterval}").isFile,
      "the fold commit must have dropped its checkpoint sidecar in gens/")
    assert(!streamed.exists(_.getAs[Long]("to_gen") == 4L),
      "the data-movement fold must stream as an empty increment")
    // the stream registered its checkpoint at the tip, and retention
    // respects it: keep-last-1 by count cannot expire the tip's parent
    // chain past the registered cursor
    val tip = Log.listGenerations(root).last
    assert(Log.readCursors(root) === Map("cdf_stream" -> tip))
    assert(Layout.retainedGenerations(root, 1, 0L,
      java.lang.System.currentTimeMillis()) === Seq(tip))
  }

  test("CRUD cursor feed: delete rows equal the generic state diff's vanished keys; the fold feeds nothing") {
    val feed = Layout.lakeCdfDelete(spark, sf).collect()
    assert(feed.forall(r => r.getAs[Long]("from_gen") == 0L
      && r.getAs[Long]("to_gen") == 1L))
    assert(feed.map(_.getAs[String]("change_type")).sorted ===
      Array("delete", "insert", "update_postimage", "update_preimage"))
    // the delete rows must equal what a generic (state-scale) diff of
    // the two log states finds vanished — identity AND values
    val root = Scratch.root("lake_delete", sf)
    val g0 = Layout.readLakeAsOf(spark, root, 0)
    val g1 = Layout.readLakeAsOf(spark, root, 1)
    val vanished = g0.join(g1.select(col("event_id")), Seq("event_id"), "left_anti")
      .agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L)),
        coalesce(sum(col("user_id")), lit(0L)),
        coalesce(sum(floor(col("value")).cast("long")), lit(0L))).head()
    val del = feed.find(_.getAs[String]("change_type") == "delete").get
    assert(del.getAs[Long]("n_rows") > 0L)
    assert(del.getAs[Long]("n_rows") === vanished.getLong(0))
    assert(del.getAs[Long]("key_chk") === vanished.getLong(1))
    assert(del.getAs[Long]("uid_chk") === vanished.getLong(2))
    assert(del.getAs[Long]("val_chk") === vanished.getLong(3))
    // the fold (g1→g2) is a data-movement commit: logically empty feed
    assert(Layout.lakeChangesSince(spark, root, 1).count() === 0L)
  }

  test("schema time travel: AS OF a pre-evolution generation the added column does not exist and the narrow era keeps its width") {
    // the `schema` manifest entry is the metadata-action analogue —
    // reading an old generation reproduces the CATALOG of its era, not
    // just its rows
    Layout.lakeEvolve(spark, sf).collect()
    val er = Scratch.root("lake_evolve", sf)
    assert(Layout.readLakeSchemaAsOf(er, 0).exists(!_.contains("score")))
    assert(Layout.readLakeSchemaAsOf(er, 1).exists(_.contains("score DOUBLE")))
    val e0 = Layout.readLakeAsOf(spark, er, 0)
    val e1 = Layout.readLakeAsOf(spark, er, 1)
    assert(!e0.columns.contains("score"), "AS OF g0 the evolution has not happened")
    assert(e1.columns.contains("score"))
    // the evolved read carries real values for arrivals and NULLs for
    // surviving base rows — the same coverage the lifecycle reports
    val ev = graft.Tables.events(spark, sf)
    val nDelta = ev.where(pmod(col("event_id"), lit(10)) === 0).count() +
      ev.where(pmod(col("event_id"), lit(100)) === 1).count()
    assert(e1.where(col("score").isNotNull).count() === nDelta)
    Layout.lakeWiden(spark, sf).collect()
    val wr = Scratch.root("lake_widen", sf)
    def uidType(gen: Int) = Layout.readLakeAsOf(spark, wr, gen)
      .schema("user_id").dataType
    assert(uidType(0) === org.apache.spark.sql.types.IntegerType,
      "AS OF the narrow era the catalog type IS the narrow type")
    assert(uidType(2) === org.apache.spark.sql.types.LongType)
    // same values either side of the widening
    val u0 = Layout.readLakeAsOf(spark, wr, 0)
      .agg(coalesce(sum(col("user_id").cast("long")), lit(0L))).head().getLong(0)
    val ev0 = graft.Tables.events(spark, sf)
      .where(pmod(col("event_id"), lit(10)) =!= 0)
      .agg(coalesce(sum(col("user_id")), lit(0L))).head().getLong(0)
    assert(u0 === ev0, "the narrow read must carry the same ids bit-for-bit")
  }

  test("restore cursor feed: the inverse transition equals the generic g1→g2 state diff") {
    val feed = Layout.lakeCdfRestore(spark, sf).collect()
    val root = Scratch.root("lake_changes", sf)
    val g1 = Layout.readLakeAsOf(spark, root, 1)
    val g2 = Layout.readLakeAsOf(spark, root, 2)
    // delete rows ≡ keys vanishing across the restore, at their g1 values
    val vanished = g1.join(g2.select(col("event_id")), Seq("event_id"), "left_anti")
      .agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L)),
        coalesce(sum(floor(col("value")).cast("long")), lit(0L))).head()
    val del = feed.find(r => r.getAs[Long]("from_gen") == 1L
      && r.getAs[String]("change_type") == "delete").get
    assert(del.getAs[Long]("n_rows") > 0L)
    assert(del.getAs[Long]("n_rows") === vanished.getLong(0))
    assert(del.getAs[Long]("key_chk") === vanished.getLong(1))
    assert(del.getAs[Long]("val_chk") === vanished.getLong(2))
    // the reverted updates: preimage carries the g1 (+150) values,
    // postimage the restored g2 values — pinned against the states
    val changed = g1.join(g2.withColumnRenamed("value", "__v2"), Seq("event_id"))
      .where(col("value") =!= col("__v2"))
      .agg(count(lit(1)),
        coalesce(sum(floor(col("value")).cast("long")), lit(0L)),
        coalesce(sum(floor(col("__v2")).cast("long")), lit(0L))).head()
    def row(ct: String) = feed.find(r => r.getAs[Long]("from_gen") == 1L
      && r.getAs[String]("change_type") == ct).get
    assert(row("update_preimage").getAs[Long]("n_rows") === changed.getLong(0))
    assert(row("update_preimage").getAs[Long]("val_chk") === changed.getLong(1))
    assert(row("update_postimage").getAs[Long]("val_chk") === changed.getLong(2))
    // and the restore's inverse feed APPLIED to g1's census lands on g2
    // — covered for the forward direction by cdcApply; here the counts
    // close the loop: inserts(0→1) == deletes(1→2)
    def n(fg: Long, ct: String) = feed.find(r => r.getAs[Long]("from_gen") == fg
      && r.getAs[String]("change_type") == ct).get.getAs[Long]("n_rows")
    assert(n(0L, "insert") === n(1L, "delete"))
  }

  test("retention policy: the age floor retains generations keep-last would expire") {
    val root = tempDir("graft-retain").toString
    (0 to 3).foreach(g =>
      Log.commitGeneration(root, g, Seq("base" -> s"file:/t/$g.parquet")))
    val now = java.lang.System.currentTimeMillis()
    // zero age floor degenerates to pure keep-last-N
    assert(Layout.retainedGenerations(root, 2, 0L, now) === Seq(2, 3))
    // an unbounded age floor retains the whole log
    assert(Layout.retainedGenerations(root, 2, Long.MaxValue, now) === Seq(0, 1, 2, 3))
    // age the two oldest manifests out of a 5s window; g2 stays fresh,
    // so keep-last-1 + the window retains {2, 3}
    (0 to 1).foreach { g =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$root/gens/g=$g"),
        java.nio.file.attribute.FileTime.fromMillis(now - 10000L))
    }
    assert(Layout.retainedGenerations(root, 1, 5000L, now) === Seq(2, 3))
  }

  test("consumer-aware retention: a lagging REGISTERED checkpoint floors expiry; an unregistered one does not") {
    val root = tempDir("graft-cursorfloor").toString
    (0 to 3).foreach(g =>
      Log.commitGeneration(root, g, Seq("base" -> s"file:/t/$g.parquet")))
    val now = java.lang.System.currentTimeMillis()
    // no registration: keep-last-1 expires everything but the tip —
    // a consumer that never registered gets no protection
    assert(Layout.retainedGenerations(root, 1, 0L, now) === Seq(3))
    // a lagging registered consumer (checkpoint at g1) blocks expiry of
    // its generation and everything after: its next feed(1) needs g1 as
    // the probe epoch and g2..g3 as the transitions to read
    Log.registerCursor(root, "replica", 1)
    assert(Layout.retainedGenerations(root, 1, 0L, now) === Seq(1, 2, 3))
    // the floor is the OLDEST registered checkpoint across consumers
    Log.registerCursor(root, "audit", 0)
    assert(Layout.retainedGenerations(root, 1, 0L, now) === Seq(0, 1, 2, 3))
    // advancing a checkpoint releases its generations
    Log.registerCursor(root, "audit", 3)
    assert(Layout.retainedGenerations(root, 1, 0L, now) === Seq(1, 2, 3))
    assert(Log.readCursors(root) === Map("replica" -> 1, "audit" -> 3))
  }

  test("consumer-aware retention: feed(registered cursor) answers over the vacuumed lineage by construction") {
    // the vacuum replay registers `replica` at g1 and retains only
    // {tip} by count — g1 survives via the floor, so the consumer's
    // next incremental read (the g1→g2 transition: a fold, logically
    // EMPTY) works over the post-vacuum log instead of throwing on
    // deleted files
    val rows = Layout.lakeVacuum(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("cursor_floor") === 1L))
    val root = Scratch.root("lake_vacuum", sf)
    // round 20: the lineage also registers a DEAD consumer at g0 —
    // overridden by the staleness bound (reported, not honored), so
    // the effective floor stays the fresh replica's g1
    assert(Log.readCursors(root) ===
      Map("replica" -> 1, "stale_replica" -> 0))
    assert(rows.forall(_.getAs[Long]("n_stale_cursors") === 1L))
    val feed = Layout.lakeChangesSince(spark, root, cursor = 1)
    assert(feed.count() === 0L,
      "the fold transition after the checkpoint is a data-movement commit: empty feed")
    // and the probe epoch the checkpoint pinned still answers in full
    assert(Layout.readLakeAsOf(spark, root, 1).count() > 0L)
  }

  test("MERGE INTO: committed state is the recomputed clause semantics; per-column UPDATE keeps the target's untouched columns") {
    val rows = Layout.lakeMerge(spark, sf).collect().sortBy(_.getAs[Long]("gen"))
    assert(rows.map(_.getAs[String]("state")).toSeq === Seq("pre_merge", "merged"))
    val root = Scratch.root("lake_merge", sf)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
    // the recomputed merged state: conditional updates take the SOURCE
    // value but keep the TARGET user_id (= the original events row —
    // the +10⁶ decoy must never land), conditional deletes vanish,
    // matched-no-clause rows survive untouched, unmatched rows insert
    val upd = ev.where(pmod(col("event_id"), lit(100)) === 7)
      .withColumn("value", col("value") + 150.0)
    val ins = ev.where(pmod(col("event_id"), lit(10)) === 0)
    assert(ins.count() > 0L)
    val touched = upd.select(col("event_id"))
      .unionByName(ev.where(pmod(col("event_id"), lit(100)) === 13)
        .select(col("event_id")))
      .unionByName(ins.select(col("event_id")))
    val expected = upd.unionByName(ins)
      .unionByName(base.join(touched, Seq("event_id"), "left_anti"))
    val got = Layout.readLakeAsOf(spark, root, 1)
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).count() === 0L
      && expected.exceptAll(got).count() === 0L,
      "the merged generation must equal the clause-semantics recompute")
    // per-column pin, directly: the decoy user_id is nowhere
    assert(got.where(col("user_id") >= 1000000L).count() === 0L)
    // matched-no-clause target rows survive bit-identically
    val noop = base.where(pmod(col("event_id"), lit(100)) === 21)
    assert(noop.exceptAll(got).count() === 0L)
    // conditional deletes: the keys are gone from the merged state
    assert(got.join(ev.where(pmod(col("event_id"), lit(100)) === 13)
      .select(col("event_id")), Seq("event_id"), "left_semi").count() === 0L)
    // AS OF the parent still answers the PRE-merge state (time travel
    // across the merge commit)
    val g0 = Layout.readLakeAsOf(spark, root, 0)
    assert(g0.count() === base.count())
    assert(g0.exceptAll(base).count() === 0L)
    // DESCRIBE HISTORY names the operation
    val hist = Layout.lakeHistory(spark, sf)
      .where(col("lineage") === "lake_merge").collect()
      .sortBy(_.getAs[Long]("gen"))
    assert(hist.map(_.getAs[String]("op")).toSeq === Seq("seed", "merge"))
  }

  test("MERGE INTO: clauses evaluate in declaration order — the first matching clause wins") {
    def seeded(tag: String): String = {
      val root = tempDir(s"graft-$tag").toString
      Seq((1L, 10L, 1.0), (2L, 20L, 5.0)).toDF("event_id", "user_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/base")
      val refs = Layout.listParquetFiles(spark, s"$root/base").map("base" -> _)
      assert(Log.commitNextGeneration(root, refs :+ ("op" -> "seed"),
        Some((-1, Set.empty[String]))) === 0)
      root
    }
    // the source row matches the target AND satisfies BOTH matched
    // clauses' conditions — only declaration order can decide it
    val src = Seq((1L, 99L, 2.0)).toDF("event_id", "user_id", "value")
    val update = Layout.WhenMatchedUpdate(col("value") > 0.0,
      Map("value" -> col("value")))
    val delete = Layout.WhenMatchedDelete(col("value") > 0.0)
    val insert = Layout.WhenNotMatchedInsert(lit(true))
    // update declared first: the row updates (target user_id kept)
    val r1 = seeded("mergeord1")
    Layout.lakeMergeInto(spark, r1, src, "event_id",
      Seq(update, delete, insert), s"$r1/stage")
    val s1 = Layout.readLakeAsOf(spark, r1, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(s1 === Array((1L, 10L, 2.0), (2L, 20L, 5.0)),
      "first-declared UPDATE must win over the also-matching DELETE")
    // delete declared first: the same row is deleted instead
    val r2 = seeded("mergeord2")
    Layout.lakeMergeInto(spark, r2, src, "event_id",
      Seq(delete, update, insert), s"$r2/stage")
    val s2 = Layout.readLakeAsOf(spark, r2, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(s2 === Array((2L, 20L, 5.0)),
      "first-declared DELETE must win over the also-matching UPDATE")
  }

  test("MERGE INTO full sync: WHEN NOT MATCHED BY SOURCE converges the table to desired ∪ retained-stale") {
    val rows = Layout.lakeMergeSync(spark, sf).collect().sortBy(_.getAs[Long]("gen"))
    assert(rows.map(_.getAs[String]("state")).toSeq === Seq("pre_sync", "synced"))
    val root = Scratch.root("lake_merge_sync", sf)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
    val desired = ev.where(pmod(col("event_id"), lit(3)) === 0)
      .withColumn("value", col("value") + 150.0)
    val stale = base.where(pmod(col("event_id"), lit(3)) =!= 0)
    val expected = desired.unionByName(stale.where(col("value") >= 50.0))
    val got = Layout.readLakeAsOf(spark, root, 1)
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).count() === 0L
      && expected.exceptAll(got).count() === 0L,
      "the synced generation must equal desired ∪ retained-stale")
    // the BY-SOURCE condition is real: stale rows ≥ 50 survive, < 50
    // are gone (when the fixture has either kind)
    val staleKept = stale.where(col("value") >= 50.0)
    assert(staleKept.exceptAll(got).count() === 0L)
    assert(got.join(stale.where(col("value") < 50.0).select(col("event_id")),
      Seq("event_id"), "left_semi").count() === 0L)
  }

  test("MERGE INTO by-source clause group: declaration order within the group, update variant keeps unset columns") {
    def seeded(tag: String): String = {
      val root = tempDir(s"graft-$tag").toString
      // targets: key 1 matched by source; keys 2,3 NOT matched
      Seq((1L, 10L, 1.0), (2L, 20L, 5.0), (3L, 30L, 9.0))
        .toDF("event_id", "user_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/base")
      assert(Log.commitNextGeneration(root,
        Layout.listParquetFiles(spark, s"$root/base").map("base" -> _)
          :+ ("op" -> "seed"),
        Some((-1, Set.empty[String]))) === 0)
      root
    }
    val src = Seq((1L, 99L, 2.0)).toDF("event_id", "user_id", "value")
    // key 2 (value 5.0) satisfies BOTH by-source clauses; key 3
    // (value 9.0) satisfies only the update — order decides key 2
    val bsUpdate = Layout.WhenNotMatchedBySourceUpdate(
      Layout.mergeTarget("value") > 0.0,
      Map("value" -> (Layout.mergeTarget("value") + 100.0)))
    val bsDelete = Layout.WhenNotMatchedBySourceDelete(
      Layout.mergeTarget("value") < 8.0)
    val upd = Layout.WhenMatchedUpdate(lit(true), Map("value" -> col("value")))
    // update declared first: key 2 updates (user_id KEPT — the
    // by-source SET touches only value), key 3 updates too
    val r1 = seeded("bsord1")
    Layout.lakeMergeInto(spark, r1, src, "event_id",
      Seq(upd, bsUpdate, bsDelete), s"$r1/stage")
    val s1 = Layout.readLakeAsOf(spark, r1, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(s1 === Array((1L, 10L, 2.0), (2L, 20L, 105.0), (3L, 30L, 109.0)),
      "first-declared BY-SOURCE UPDATE must win and keep unset columns")
    // delete declared first: key 2 (value < 8) deletes, key 3 updates
    val r2 = seeded("bsord2")
    Layout.lakeMergeInto(spark, r2, src, "event_id",
      Seq(upd, bsDelete, bsUpdate), s"$r2/stage")
    val s2 = Layout.readLakeAsOf(spark, r2, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(s2 === Array((1L, 10L, 2.0), (3L, 30L, 109.0)),
      "first-declared BY-SOURCE DELETE must win on the doubly-matching row")
  }

  test("MERGE INTO under optimistic concurrency: a stale merge aborts, the re-merge supersedes the winner's arrival") {
    val root = tempDir("graft-mergerace").toString
    Seq((1L, 10L, 1.0), (2L, 20L, 5.0)).toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/base")
    val g0Refs = Layout.listParquetFiles(spark, s"$root/base").map("base" -> _)
    assert(Log.commitNextGeneration(root, g0Refs :+ ("op" -> "seed"),
      Some((-1, Set.empty[String]))) === 0)
    // an interleaving writer lands an arrival the merge never read
    Seq((5L, 50L, 7.0)).toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/arr")
    assert(Log.commitNextGeneration(root,
      g0Refs ++ Layout.listParquetFiles(spark, s"$root/arr").map("delta" -> _)
        :+ ("op" -> "arrival"),
      Some((0, g0Refs.map(_._2).toSet))) === 1)
    val src = Seq((1L, 99L, 2.0), (5L, 99L, 9.0))
      .toDF("event_id", "user_id", "value")
    val clauses = Seq(
      Layout.WhenMatchedUpdate(col("value") > Layout.mergeTarget("value"),
        Map("value" -> col("value"))),
      Layout.WhenNotMatchedInsert(lit(true)))
    // the merge built against the SUPERSEDED g0 must abort — landing
    // its snapshot would silently drop the winner's arrival file
    intercept[Log.CommitConflictException] {
      Layout.lakeMergeInto(spark, root, src, "event_id", clauses,
        s"$root/stage", asOf = Some(0))
    }
    assert(Log.listGenerations(root) === Seq(0, 1),
      "an aborted merge must leave the log untouched")
    // the re-merge classifies against the live tip and lands: key 1
    // updates off the base, key 5 updates off the WINNER'S arrival —
    // the committed cdelta supersedes the delta ref it rode in on
    // (precedence base < delta < cdelta), so the row lands exactly once
    assert(Layout.lakeMergeInto(spark, root, src, "event_id", clauses,
      s"$root/stage") === 2)
    val got = Layout.readLakeAsOf(spark, root, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got === Array((1L, 10L, 2.0), (2L, 20L, 5.0), (5L, 50L, 9.0)),
      "re-merged state must carry the winner's key once, at the merged value")
  }

  test("MERGE INTO stacking: key-disjoint merges stack freely; a same-key re-merge over an unfolded cdelta fails loudly") {
    val root = tempDir("graft-mergestack").toString
    Seq((1L, 10L, 1.0), (2L, 20L, 5.0), (3L, 30L, 9.0))
      .toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/base")
    assert(Log.commitNextGeneration(root,
      Layout.listParquetFiles(spark, s"$root/base").map("base" -> _)
        :+ ("op" -> "seed"),
      Some((-1, Set.empty[String]))) === 0)
    val clauses = Seq(
      Layout.WhenMatchedUpdate(col("value") > Layout.mergeTarget("value"),
        Map("value" -> col("value"))),
      Layout.WhenNotMatchedInsert(lit(true)))
    // merge 1 updates key 1, inserts key 7
    assert(Layout.lakeMergeInto(spark, root,
      Seq((1L, 99L, 2.0), (7L, 70L, 4.0)).toDF("event_id", "user_id", "value"),
      "event_id", clauses, s"$root/s1") === 1)
    // merge 2 touches DISJOINT keys (update key 2, insert key 8): stacks
    assert(Layout.lakeMergeInto(spark, root,
      Seq((2L, 99L, 6.0), (8L, 80L, 3.0)).toDF("event_id", "user_id", "value"),
      "event_id", clauses, s"$root/s2") === 2)
    val got = Layout.readLakeAsOf(spark, root, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got === Array((1L, 10L, 2.0), (2L, 20L, 6.0), (3L, 30L, 9.0),
      (7L, 70L, 4.0), (8L, 80L, 3.0)),
      "two key-disjoint stacked merges must both answer, each exactly once")
    // merge 3 re-touches key 1 — carried by merge 1's UNFOLDED cdelta:
    // must abort loudly instead of double-entering the key at read time
    val ex = intercept[IllegalArgumentException] {
      Layout.lakeMergeInto(spark, root,
        Seq((1L, 99L, 8.0)).toDF("event_id", "user_id", "value"),
        "event_id", clauses, s"$root/s3")
    }
    assert(ex.getMessage.contains("fold the lake, then merge"))
    assert(Log.listGenerations(root) === Seq(0, 1, 2),
      "the refused merge must leave the log untouched")
  }

  test("MERGE probe key-range pruning: a narrow-key merge reads strictly fewer base files and commits the identical state") {
    val root = tempDir("graft-mergeprune").toString
    // base laid out in key ranges — four files with disjoint event_id
    // bands, the layout a key-clustered table holds at scale
    val tgtRows = (1L to 40L).map(k => (k, k * 10L, k.toDouble))
    tgtRows.toDF("event_id", "user_id", "value")
      .repartitionByRange(4, col("event_id"))
      .write.mode("overwrite").parquet(s"$root/base")
    val baseFiles = Layout.listParquetFiles(spark, s"$root/base")
    assert(baseFiles.size === 4)
    assert(Log.commitNextGeneration(root,
      baseFiles.map("base" -> _) :+ ("op" -> "seed"),
      Some((-1, Set.empty[String]))) === 0)
    // the pruning decision itself: a narrow key range keeps only the
    // files whose footer range intersects it — strictly fewer than the
    // table holds (VERDICT r20 missing #2's done-bar)
    val keptNarrow = Layout.pruneFilesForKeyRange(spark, baseFiles,
      "event_id", 12.0, 13.0)
    assert(keptNarrow.size < baseFiles.size && keptNarrow.nonEmpty,
      s"narrow-key range must skip files (${keptNarrow.size}/${baseFiles.size})")
    // conservative contract: a column with no stats keeps every file
    assert(Layout.pruneFilesForKeyRange(spark, baseFiles,
      "no_such_column", 12.0, 13.0).size === baseFiles.size)
    // the pruned merge commits the IDENTICAL state the published
    // semantics demand: update key 12, insert key 99 — every other
    // target row (including those in pruned files) survives untouched
    val clauses = Seq(
      Layout.WhenMatchedUpdate(col("value") > Layout.mergeTarget("value"),
        Map("value" -> col("value"))),
      Layout.WhenNotMatchedInsert(lit(true)))
    assert(Layout.lakeMergeInto(spark, root,
      Seq((12L, 999L, 100.0), (99L, 990L, 9.0))
        .toDF("event_id", "user_id", "value"),
      "event_id", clauses, s"$root/s1") === 1)
    val got = Layout.readLakeAsOf(spark, root, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val expected = (tgtRows.map {
      case (12L, u, _) => (12L, u, 100.0) // per-column SET keeps target uid
      case r => r
    } :+ ((99L, 990L, 9.0))).sorted
    assert(got === expected.toArray,
      "pruned-probe merge must commit exactly the published merged state")
  }

  test("MERGE INTO rejects duplicate source keys with the published multiple-source-rows-matched error") {
    val root = tempDir("graft-mergedup").toString
    Seq((1L, 10L, 1.0), (2L, 20L, 5.0)).toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/base")
    assert(Log.commitNextGeneration(root,
      Layout.listParquetFiles(spark, s"$root/base").map("base" -> _)
        :+ ("op" -> "seed"),
      Some((-1, Set.empty[String]))) === 0)
    // two source rows hit key 1 and BOTH stage an outcome (an update
    // and a delete) — the ambiguity published MERGE semantics reject
    val ex = intercept[IllegalArgumentException] {
      Layout.lakeMergeInto(spark, root,
        Seq((1L, 99L, 2.0), (1L, 98L, -200.0))
          .toDF("event_id", "user_id", "value"),
        "event_id", Seq(
          Layout.WhenMatchedUpdate(col("value") > Layout.mergeTarget("value"),
            Map("value" -> col("value"))),
          Layout.WhenMatchedDelete(
            col("value") < Layout.mergeTarget("value") - 100.0)),
        s"$root/s1")
    }
    assert(ex.getMessage.contains("multiple source rows matched"))
    assert(Log.listGenerations(root) === Seq(0),
      "the refused merge must leave the log untouched")
  }

  test("MERGE INTO randomized property: arbitrary clause lists against a plain-Scala reference merge") {
    // the fixture lineage pins ONE clause set; this property pins the
    // OPERATOR: random targets, random (key-distinct) sources, and
    // random clause lists drawn from a condition/action pool, each
    // case's committed state compared row-for-row against a driver-
    // side reference evaluation of the published semantics (first
    // matching clause in declaration order wins; matched-no-clause
    // rows untouched; unmatched-no-insert rows dropped; per-column SET
    // keeps unset target columns)
    val condPool: Seq[(String, org.apache.spark.sql.Column,
        (Double, Option[Double]) => Boolean)] = Seq(
      ("sv_gt_tv", col("value") > Layout.mergeTarget("value"),
        (s, t) => t.exists(s > _)),
      ("sv_lt_tv", col("value") < Layout.mergeTarget("value"),
        (s, t) => t.exists(s < _)),
      ("sv_gt_5", col("value") > 5.0, (s, _) => s > 5.0),
      ("always", lit(true), (_, _) => true))
    // action pool: (spark clause builder, reference outcome)
    // reference outcome: given (srcU, srcV, tgt(u,v)) → Some(new row)
    // to keep/replace, None to delete
    sealed trait RefAct
    case object UpdSrcV extends RefAct      // SET value = s.value
    case object UpdTvPlus extends RefAct    // SET value = t.value + 100
    case object Del extends RefAct
    // by-source pool: conditions see only the target value
    val bsCondPool: Seq[(org.apache.spark.sql.Column, Double => Boolean)] = Seq(
      (Layout.mergeTarget("value") > 5.0, _ > 5.0),
      (Layout.mergeTarget("value") < 3.0, _ < 3.0),
      (lit(true), _ => true))
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      val tgtRows = (1 to (8 + rnd.nextInt(8))).map(_ =>
        (rnd.nextInt(20).toLong + 1L, rnd.nextInt(100).toLong,
          rnd.nextInt(10).toDouble)).distinctBy(_._1)
      val srcRows = (1 to (8 + rnd.nextInt(8))).map(_ =>
        (rnd.nextInt(25).toLong + 1L, rnd.nextInt(100).toLong + 500L,
          rnd.nextInt(10).toDouble)).distinctBy(_._1)
      // 1-3 matched clauses with random conditions/actions, then with
      // probability 2/3 an insert clause, in random positions
      val nMatched = 1 + rnd.nextInt(3)
      val matchedClauses: Seq[(Layout.MergeClause,
          (Double, Option[Double]) => Boolean, Option[RefAct])] =
        (1 to nMatched).map { _ =>
          val (_, sqlCond, refCond) = condPool(rnd.nextInt(condPool.size))
          rnd.nextInt(3) match {
            case 0 => (Layout.WhenMatchedUpdate(sqlCond,
              Map("value" -> col("value"))), refCond, Some(UpdSrcV): Option[RefAct])
            case 1 => (Layout.WhenMatchedUpdate(sqlCond,
              Map("value" -> (Layout.mergeTarget("value") + 100.0))),
              refCond, Some(UpdTvPlus): Option[RefAct])
            case _ => (Layout.WhenMatchedDelete(sqlCond), refCond,
              Some(Del): Option[RefAct])
          }
        }
      val withInsert = rnd.nextInt(3) != 0
      val insertPos = rnd.nextInt(matchedClauses.size + 1)
      val all: Seq[(Layout.MergeClause,
          (Double, Option[Double]) => Boolean, Option[RefAct])] =
        if (!withInsert) matchedClauses
        else matchedClauses.take(insertPos) ++
          Seq((Layout.WhenNotMatchedInsert(lit(true)),
            (_: Double, _: Option[Double]) => true, None)) ++
          matchedClauses.drop(insertPos)
      // with probability 1/2 a BY-SOURCE group too: 1-2 clauses over
      // the unmatched-target population (its own declaration order)
      val bySource: Seq[(Layout.MergeClause, Double => Boolean,
          Option[RefAct])] =
        if (rnd.nextInt(2) == 0) Seq.empty
        else (1 to (1 + rnd.nextInt(2))).map { _ =>
          val (sqlCond, refCond) = bsCondPool(rnd.nextInt(bsCondPool.size))
          if (rnd.nextInt(2) == 0)
            (Layout.WhenNotMatchedBySourceUpdate(sqlCond,
              Map("value" -> (Layout.mergeTarget("value") + 100.0))),
              refCond, Some(UpdTvPlus): Option[RefAct])
          else
            (Layout.WhenNotMatchedBySourceDelete(sqlCond), refCond,
              Some(Del): Option[RefAct])
        }
      // commit the target, run the merge
      val root = tempDir(s"graft-mergeprop$seed").toString
      tgtRows.toDF("event_id", "user_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/base")
      assert(Log.commitNextGeneration(root,
        Layout.listParquetFiles(spark, s"$root/base").map("base" -> _)
          :+ ("op" -> "seed"),
        Some((-1, Set.empty[String]))) === 0)
      Layout.lakeMergeInto(spark, root,
        srcRows.toDF("event_id", "user_id", "value"), "event_id",
        all.map(_._1) ++ bySource.map(_._1), s"$root/stage")
      // reference evaluation
      val tgtMap = tgtRows.map(r => r._1 -> r).toMap
      val srcKeys = srcRows.map(_._1).toSet
      val outOfSource = tgtRows.filterNot(r => srcKeys.contains(r._1))
      val merged = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double)]
      // by-source side: unmatched target rows through their own group
      outOfSource.foreach { case row @ (_, u, v) =>
        bySource.find { case (_, refCond, _) => refCond(v) } match {
          case Some((_, _, Some(UpdTvPlus))) => merged += ((row._1, u, v + 100.0))
          case Some((_, _, Some(Del))) => () // erased
          case _ => merged += row // no clause fired (or no group)
        }
      }
      srcRows.foreach { case (k, su, sv) =>
        val tgt = tgtMap.get(k)
        val fired = all.find { case (cl, refCond, _) =>
          cl match {
            case _: Layout.WhenNotMatchedInsert => tgt.isEmpty
            case _ => tgt.isDefined && refCond(sv, tgt.map(_._3))
          }
        }
        fired match {
          case Some((_: Layout.WhenNotMatchedInsert, _, _)) =>
            merged += ((k, su, sv))
          case Some((_, _, Some(UpdSrcV))) =>
            merged += ((k, tgt.get._2, sv))
          case Some((_, _, Some(UpdTvPlus))) =>
            merged += ((k, tgt.get._2, tgt.get._3 + 100.0))
          case Some((_, _, Some(Del))) => () // erased
          case _ =>
            // matched, no clause fired: the target row survives
            tgt.foreach(merged += _)
          }
      }
      val got = Layout.readLakeAsOf(spark, root, 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(got.toSeq === merged.toSeq.sorted,
        s"seed $seed: merged state diverged from the reference " +
          s"(clauses: ${all.map(_._1.getClass.getSimpleName)})")
      // and the commit is a first-class log citizen: op-stamped, one
      // staged cdelta arrival
      val g1 = Log.readGeneration(root, 1)
      assert(g1.collectFirst { case ("op", o) => o }.contains("merge"))
      assert(g1.count(_._1 == "cdelta") === 1)
    }
  }

  test("TIMESTAMP AS OF: boundary resolution over controlled commit instants") {
    val root = tempDir("graft-tsasof").toString
    (0 to 2).foreach(g =>
      Log.commitGeneration(root, g, Seq("base" -> s"file:/t/$g.parquet")))
    val t0 = 1000000L
    (0 to 2).foreach { g =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$root/gens/g=$g"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + g * 1000L))
    }
    // exactly at a commit instant resolves to THAT generation
    assert(Layout.resolveTimestampAsOf(root, t0) === 0)
    assert(Layout.resolveTimestampAsOf(root, t0 + 1000L) === 1)
    assert(Layout.resolveTimestampAsOf(root, t0 + 2000L) === 2)
    // between two commits resolves to the EARLIER one
    assert(Layout.resolveTimestampAsOf(root, t0 + 500L) === 0)
    assert(Layout.resolveTimestampAsOf(root, t0 + 1999L) === 1)
    // past the tip resolves to the tip
    assert(Layout.resolveTimestampAsOf(root, t0 + 999999L) === 2)
    // before the first commit there is no state to answer from
    intercept[IllegalArgumentException] {
      Layout.resolveTimestampAsOf(root, t0 - 1L)
    }
  }

  test("TIMESTAMP AS OF composed with log expiry: expired history is not timestamp-addressable") {
    val root = tempDir("graft-tsexpire").toString
    (0 to 3).foreach(g =>
      Log.commitGeneration(root, g, Seq("base" -> s"file:/t/$g.parquet")))
    val t0 = 2000000L
    (0 to 3).foreach { g =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$root/gens/g=$g"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + g * 1000L))
    }
    assert(Layout.resolveTimestampAsOf(root, t0 + 500L) === 0)
    // expire below g2: the log window is now [2, 3] — an instant that
    // used to resolve to g0/g1 has NO live state and must throw, the
    // same contract as generation-addressed reads below the floor
    Log.expireLogEntries(root, 2)
    // (expiry wrote the c=2 anchor; normalize its listing away — only
    // g= manifests carry commit instants)
    assert(Log.listGenerations(root) === Seq(2, 3))
    intercept[IllegalArgumentException] {
      Layout.resolveTimestampAsOf(root, t0 + 1500L) // was g1's window
    }
    // instants at-or-after the retained floor still resolve
    assert(Layout.resolveTimestampAsOf(root, t0 + 2000L) === 2)
    assert(Layout.resolveTimestampAsOf(root, t0 + 999999L) === 3)
  }

  test("consumer staleness bound: a dead checkpoint is overridden and reported, a fresh one floors, unregister releases") {
    val root = tempDir("graft-stale").toString
    (0 to 3).foreach(g =>
      Log.commitGeneration(root, g, Seq("base" -> s"file:/t/$g.parquet")))
    val now = java.lang.System.currentTimeMillis()
    Log.registerCursor(root, "fresh", 2)
    Log.registerCursor(root, "dead", 0)
    // unbounded floor (the pre-round-20 behavior): the dead consumer
    // pins the whole log
    assert(Layout.retainedGenerations(root, 1, 0L, now) === Seq(0, 1, 2, 3))
    // staleness bound 2 against tip 3: dead (lag 3) is overridden,
    // fresh (lag 1) floors at its checkpoint
    assert(Layout.retainedGenerations(root, 1, 0L, now, Some(2)) === Seq(2, 3))
    // explicit unregistration releases the floor entirely
    Log.unregisterCursor(root, "fresh")
    Log.unregisterCursor(root, "dead")
    assert(Layout.retainedGenerations(root, 1, 0L, now, Some(2)) === Seq(3))
    assert(Log.readCursors(root) === Map.empty[String, Int])
    // unregistering an unknown consumer is an idempotent no-op
    Log.unregisterCursor(root, "fresh")
  }
}
