package graft.ext

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.exec.Scratch
import graft.lake.Log

/** The lake-lineage builder (`Layout.lakeLineage`): idempotent builds,
  * op-stamped generations in step order, and a failure path that leaves
  * nothing behind — no marker, no cached frame, no running job — so the
  * next call rebuilds the lineage from g0. Runs on a private copy of
  * sf0.001, so its scratch roots are its own (the root is keyed on the
  * data dir). */
class LakeLineageSpec extends SparkSpec {

  private lazy val dir: String = {
    val src = Paths.get("/root/testdata/sf0.001")
    val d = tempDir("graft-lineage-sf")
    Files.list(src).forEach(p => Files.copy(p, d.resolve(p.getFileName)))
    d.toString
  }

  private var builds = 0

  /** A three-generation lineage — seed, one arrival, one fold — whose
    * `midStep` runs between the arrival and the fold commits. */
  private def lineage(kind: String, tag: String)(midStep: => Unit): String = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
    val delta = ev.where(pmod(col("event_id"), lit(10)) === 0)
    Layout.lakeLineage(spark, dir, kind, tag, base, Seq(delta)) { l =>
      builds += 1
      l.arrive("arrival", "delta", "delta", delta)
      midStep
      l.rewrite("fold", "fold")(graft.sources.PartitionedSink.writeZCelled(
        base.join(delta.select(col("event_id")), Seq("event_id"), "left_anti")
          .unionByName(delta), _, Seq("user_id", "value"), 12, 6))
    }
  }

  private def ops(root: String): Seq[String] = Log.listGenerations(root)
    .map(g => Log.readGeneration(root, g).collectFirst { case ("op", o) => o }
      .getOrElse("<none>"))

  private def fileRefs(root: String, g: Int): Seq[(String, String)] =
    Log.readGeneration(root, g).filter(e => Log.LogFileKinds(e._1))

  test("a lineage built twice writes once, its generations op-stamped in step order") {
    builds = 0
    val root = lineage("lineage_spec_idem", "t1")(())
    val fold = fileRefs(root, 2)
    assert(lineage("lineage_spec_idem", "t1")(()) === root)
    assert(builds === 1, "a marker hit must not rebuild the lineage")
    assert(ops(root) === Seq("seed", "arrival", "fold"))
    assert(fileRefs(root, 2) === fold, "the second call must not rewrite the fold")
    // the arrival step keeps the tip's files and adds only its own
    val g0 = fileRefs(root, 0)
    val g1 = fileRefs(root, 1)
    assert(g0.nonEmpty && g0.forall(_._1 == "base"))
    assert(g1.take(g0.size) === g0)
    assert(g1.drop(g0.size).nonEmpty && g1.drop(g0.size).forall(_._1 == "delta"))
    assert(fold.forall(_._1 == "base") && fold.toSet.intersect(g1.toSet).isEmpty)
    // a registry lineage goes through the same builder
    Layout.lakeChanges(spark, dir).collect()
    assert(ops(Scratch.root("lake_changes", dir)) === Seq("seed", "arrival", "restore"))
  }

  test("a step that throws leaves no marker, cache entry or job; the next call rebuilds from g0") {
    spark.catalog.clearCache()
    val kind = "lineage_spec_fail"
    val root = Scratch.root(kind, dir)
    val err = intercept[IllegalStateException](
      lineage(kind, "t1")(throw new IllegalStateException("step failed")))
    assert(err.getMessage === "step failed")
    assert(!new java.io.File(root, "_graft_layout_fingerprint").exists(),
      "a failed build must not leave the commit marker")
    assert(spark.sharedState.cacheManager.isEmpty, "the builder must release its frames")
    // job ends reach the status store through the listener bus
    eventually(timeout(Span(10, Seconds))) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }
    assert(ops(root) === Seq("seed", "arrival"), "the steps before the throw committed")
    builds = 0
    lineage(kind, "t1")(())
    assert(builds === 1, "no marker: the next call must rebuild")
    assert(ops(root) === Seq("seed", "arrival", "fold"),
      "the rebuild wipes the partial log and commits from g0")
    assert(new java.io.File(root, "_graft_layout_fingerprint").exists())
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a warm lineage over unchanged files starts no job; changed bytes, formula or tag rebuild") {
    val d = tempDir("graft-lineage-key").toString
    val src = s"$d/events"
    def writeSource(shift: Double): Unit = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), (col("value") + shift).as("value"))
      .coalesce(2).write.mode("overwrite").parquet(src)
    var built = 0
    def build(tag: String, updateOffset: Double = 150.0): String = {
      val ev = spark.read.schema("event_id BIGINT, user_id BIGINT, value DOUBLE").parquet(src)
      val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(10)) === 0)
        .withColumn("value", col("value") + lit(updateOffset))
      Layout.lakeLineage(spark, d, "lineage_spec_key", tag, base, Seq(delta)) { l =>
        built += 1
        l.arrive("arrival", "delta", "delta", delta)
      }
    }
    writeSource(0.0)
    val root = build("t1")
    val marker = Paths.get(root, Scratch.Marker)
    val stamp = Files.getLastModifiedTime(marker)
    assert(graft.Run.jobsStarted(spark, "graft-spec-lineage-key-hit")(build("t1")) === 0,
      "an unchanged input is a key hit")
    assert(built === 1)
    // same bytes, new mtimes: the fingerprint runs, matches, and only
    // the key file is rewritten
    Files.list(Paths.get(src)).forEach(f => Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 10000)))
    build("t1")
    assert(built === 1, "touched but unchanged files must not rebuild")
    assert(Files.getLastModifiedTime(marker) === stamp)
    writeSource(0.5)
    build("t1")
    assert(built === 2, "changed input bytes")
    build("t1", updateOffset = 151.0)
    assert(built === 3, "a changed planned formula")
    build("t2", updateOffset = 151.0)
    assert(built === 4, "a changed tag")
    build("t2", updateOffset = 151.0)
    assert(built === 4)
    assert(ops(root) === Seq("seed", "arrival"))
  }
}
