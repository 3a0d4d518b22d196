package graft.validation

import graft.SparkTestBase
import graft.images.ImageGen
import org.apache.spark.sql.functions._

/** Adversarial skew tier through the real engine (VERDICT r4 #8): ~30%
  * duplicate image_ids on SkewStress.HotKeys (2) hot keys concentrated in
  * p0, 90% one fmt.
  * Asserts (1) AQE skew splitting fires on the key-check kernel's join
  * against a non-empty key index, (2) the kernel over an empty key index
  * (a full check) completes with correct counts, (3) end-to-end wall
  * degrades <2× vs the uniform tier.
  */
class SkewStressSpec extends SparkTestBase {

  private val N = 20000L

  private def withSkewConf[A](f: => A): A = {
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      // coalescing can merge away the skew evidence at test scale, and a
      // broadcast of the small dimension side would skip the SMJ that skew
      // splitting applies to (at 10^12 rows neither side broadcasts)
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE skew splitting fires on the incremental key-check join") {
    withSkewConf {
      val dir = SkewStress.ensureSkewedTier(spark, N)
      val light = ImageGen.images(spark, dir)
        .select("image_id", "part", "w", "h", "caption")
      val caps = ImageGen.captions(spark, dir).select("image_id", "part", "caption")
      // the resumed-run shape: pending light frame joined left-outer on
      // image_id against the (aggregated) old-key counts — splittable side
      // is the hot light frame. Old keys are the caption ids (a realistic
      // resume index), non-empty so the join is a real SMJ.
      val oldKeys = caps.select(col("image_id"), col("part"))
      val (verd, viol) = ImageSuite.incrementalKeyChecks(
        light, oldKeys, caps, "skew")
      // execute through THIS QueryExecution (a .write would clone a fresh
      // one and the adaptive plan we inspect would never have run)
      val qe = viol.queryExecution
      qe.executedPlan.executeCollect()
      val plan = qe.executedPlan.toString
      assert(plan.contains("skewed"),
        s"expected AQE skew-split markers in the executed plan:\n${plan.take(6000)}")
      // the hot keys really are hot: ~30% of rows on HotKeys (2) ids
      // (hot ids are "img-<k>", k < HotKeys — 5 chars while HotKeys <= 10)
      val hotRows = light.filter(length(col("image_id")) <= 5).count()
      assert(hotRows > N * 25 / 100 && hotRows < N * 35 / 100,
        s"planted hot mass off: $hotRows of $N")
      verd.write.mode("overwrite").format("noop").save()
    }
  }

  test("key checks over an empty key index stay correct under the hot keys") {
    withSkewConf {
      val dir = SkewStress.ensureSkewedTier(spark, N)
      val light = ImageGen.images(spark, dir)
        .select("image_id", "part", "w", "h", "caption")
      val caps = ImageGen.captions(spark, dir).select("image_id", "part", "caption")
      // the kernel over an empty key index, as a full run calls it
      val (verd, _) = ImageSuite.keyChecks(light, caps, "skew")
      val uniq = verd.filter(col("check") === "uniqueness_image_id" &&
        col("part") === "p0").collect()(0)
      // every hot row is a duplicate (2 keys × thousands of rows), all in p0
      assert(!uniq.getAs[Boolean]("pass"))
      assert(uniq.getAs[Long]("n_violations") > N * 25 / 100)
    }
  }

  test("end-to-end wall on the skewed tier degrades < 2x vs uniform") {
    withSkewConf {
      val skewDir = SkewStress.ensureSkewedTier(spark, N)
      val uniDir = ImageGen.ensure(spark, N)
      def wall(dataDir: String, tag: String): Double = {
        val out = tempDir(s"skewstress-$tag")
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        ImageSuite.runAndCheckpoint(spark, dataDir, out, tag)
        (System.nanoTime() - t0) / 1e9
      }
      // interleave a warm pass per tier so JIT state is symmetric
      wall(uniDir, "warm-u"); wall(skewDir, "warm-s")
      val tUni = wall(uniDir, "uni")
      val tSkew = wall(skewDir, "skew")
      assert(tSkew < 2 * tUni,
        f"skewed tier wall $tSkew%.1f s vs uniform $tUni%.1f s (>=2x)")
    }
  }
}
