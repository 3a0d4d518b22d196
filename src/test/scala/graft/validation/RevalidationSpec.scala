package graft.validation

import graft.{SnapshotQueries, SparkTestBase}
import graft.images.ImageGen
import org.apache.spark.sql.functions._

/** End-to-end fingerprint-driven revalidation — the full loop the
  * reconciliation layer exists for: validate a table, rewrite ONE
  * partition's captions out-of-band, detect the staleness from partition
  * fingerprints alone (no row diff), invalidate exactly that partition in
  * the checkpoint, and prove the re-run re-validates ONLY it — and
  * actually CATCHES the rewrite (caption-consistency violations appear
  * for the rewritten partition under the new run id).
  */
class RevalidationSpec extends SparkTestBase {

  private val canon = concat_ws("|",
    col("image_id"),
    coalesce(col("w").cast("string"), lit("~")),
    coalesce(col("h").cast("string"), lit("~")),
    coalesce(col("caption"), lit("~")))

  private def light(df: org.apache.spark.sql.DataFrame) =
    df.select("image_id", "part", "w", "h", "caption")

  test("caption rewrite of one partition revalidates only that partition and is caught") {
    val dataDir = ImageGen.ensure(spark, 2000)
    val out = tempDir("reval")

    // run 1: validate everything; checkpoint says all parts done
    ImageSuite.runAndCheckpoint(spark, dataDir, out, "run1")
    val doneAfter1 = ImageSuite.readDoneParts(spark, s"$out/state")
    assert(doneAfter1.size >= 8)

    // baseline fingerprints of the light projection (what a production
    // deployment persists next to the checkpoint)
    val fpBase = SnapshotQueries.fingerprintsOf(
      light(ImageGen.images(spark, dataDir)), canon)

    // out-of-band rewrite: a second data dir, identical except part p3's
    // captions get a suffix (captions table untouched → a consistency
    // violation the re-run must catch)
    val dataDir2 = tempDir("reval_data")
    ImageGen.images(spark, dataDir)
      .withColumn("caption",
        when(col("part") === "p3", concat(col("caption"), lit(" [edited]")))
          .otherwise(col("caption")))
      .write.parquet(s"$dataDir2/images")
    ImageGen.captions(spark, dataDir).write.parquet(s"$dataDir2/captions")

    // staleness detection from fingerprints alone — no row diff, no rescan
    // of clean partitions' content beyond the one stats pass
    val verdicts = SnapshotQueries.dirtyPartitions(
      fpBase,
      SnapshotQueries.fingerprintsOf(light(ImageGen.images(spark, dataDir2)), canon))
    import spark.implicits._
    val plan = SnapshotQueries.revalidationPlan(
        verdicts, doneAfter1.toSeq.toDF("part"))
      .collect().map(r => r.getAs[String]("part") -> r.getAs[String]("action")).toMap
    assert(plan("p3") == "revalidate")
    assert(plan.filter(_._1 != "p3").values.toSet == Set("skip"), s"plan: $plan")

    // execute the plan: invalidate exactly the revalidate set, re-run
    val toRevalidate = plan.filter(_._2 == "revalidate").keySet
    ImageSuite.invalidateParts(spark, out, toRevalidate)
    assert(ImageSuite.readDoneParts(spark, s"$out/state") ==
      doneAfter1 -- toRevalidate)
    ImageSuite.runAndCheckpoint(spark, dataDir2, out, "run2")

    // run2 touched ONLY p3: its state row carries run2, everything else
    // still carries run1
    val state = spark.read.parquet(s"$out/state")
      .filter(col("status") === "done")
      .select("part", "run_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state("p3") == "run2")
    assert(state.filter(_._1 != "p3").values.toSet == Set("run1"))

    // and run2 CAUGHT the rewrite: caption-consistency violations for p3
    val v2 = spark.read.parquet(s"$out/violations")
      .filter(col("run_id") === "run2")
    val caught = v2.filter(col("check") === "caption_consistent" &&
      col("part") === "p3").count()
    assert(caught > 0, "rewritten captions must violate caption consistency")
    // no other partition got re-validated ROW/KEY rows under run2 — the
    // drift family is global by design (recomputed each run from stored
    // partials + the pending increment, attributing to the drifted parts)
    assert(v2.filter(col("part") =!= "p3" &&
      !col("check").startsWith("drift_")).count() == 0)
  }
}
