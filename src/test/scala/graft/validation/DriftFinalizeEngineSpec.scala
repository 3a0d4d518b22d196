package graft.validation

import graft.SparkTestBase
import graft.images.ImageGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's checkpointed calls down the distributed drift finalize.
  * Above `Drift.DriverFinalizeMaxPartials` partials the drift verdicts stay
  * a cached distributed frame: the verdicts write unions it, and the state
  * rows take the pending partitions' drift counts from one filtered
  * collect, before the drift-partials overwrite replaces the store those
  * cached frames scan. Lowering the bound to 0 sends the 2000-row tier
  * down that branch; every stored row must equal the driver path's, except
  * the KS metric, which agrees to `DriftDistributedSpec`'s sketch
  * tolerance (the two finalizes merge the derived baseline's t-digests in
  * different orders).
  */
class DriftFinalizeEngineSpec extends SparkTestBase {

  lazy val dir: String = ImageGen.ensure(spark, 2000L, "target/test-images")

  private def state(out: String): Set[(String, String, Long, Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$out/state").as[StateRow].collect()
      .map(s => (s.part, s.status, s.n_rows, s.n_violations, s.run_id)).toSet
  }

  /** (run_id, part, check) → the verdict row's fields, KS metric and score
    * apart.
    */
  private def verdicts(out: String): Map[(String, String, String), (Seq[Any], Double)] =
    spark.read.parquet(s"$out/verdicts").collect().map { r =>
      val check = r.getAs[String]("check")
      val key = (r.getAs[String]("run_id"), r.getAs[String]("part"), check)
      val metric = r.getAs[Double]("metric")
      val fields = Seq(r.getAs[Boolean]("pass"), r.getAs[Double]("threshold"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations")) ++
        (if (check.startsWith("drift_ks")) Nil else Seq(metric, r.getAs[Double]("score")))
      key -> (fields, metric)
    }.toMap

  private def violations(out: String): Set[Seq[String]] =
    spark.read.parquet(s"$out/violations").collect().map { r =>
      val check = r.getAs[String]("check")
      // a drift violation's `observed` prints its metric
      Seq("run_id", "part", "image_id", "check", "expected").map(r.getAs[String]) ++
        (if (check.startsWith("drift_ks")) Nil else Seq(r.getAs[String]("observed")))
    }.toSet

  private def assertSameStores(driver: String, distributed: String): Unit = {
    assert(state(distributed) == state(driver))
    val (a, b) = (verdicts(driver), verdicts(distributed))
    assert(a.nonEmpty && a.keySet == b.keySet)
    for ((k, (fields, metric)) <- a) {
      val (fields2, metric2) = b(k)
      assert(fields2 == fields, s"$k: distributed $fields2, driver $fields")
      assert(math.abs(metric2 - metric) < 0.02, s"$k: KS $metric2 vs $metric")
    }
    assert(violations(distributed) == violations(driver))
  }

  test("a cold call and a resume down the distributed finalize write the driver path's rows") {
    def calls(out: String, driverFinalizeMax: Int): Unit = {
      ImageSuite.runAndCheckpoint(spark, dir, out, "cold", driverFinalizeMax)
      ImageSuite.invalidateParts(spark, out, Set("p1", "p3"))
      ImageSuite.runAndCheckpoint(spark, dir, out, "resumed", driverFinalizeMax)
    }
    val (driver, distributed) = (tempDir("drift-engine-driver"), tempDir("drift-engine-dist"))
    calls(driver, Drift.DriverFinalizeMaxPartials)
    calls(distributed, 0)
    assert(state(driver).count(_._5 == "resumed") == 2)
    assertSameStores(driver, distributed)
  }

  test("streaming increments down the distributed finalize write the driver path's rows") {
    val light = ImageGen.images(spark, dir).select("image_id", "part", "w", "h", "caption")
    val captions = ImageGen.captions(spark, dir)
    def batches(out: String, driverFinalizeMax: Int): Unit =
      Seq(Seq("p0", "p1", "p2", "p3"), Seq("p4", "p5", "p6", "p7")).zipWithIndex.foreach {
        case (parts, i) =>
          val batch: DataFrame = light.filter(col("part").isin(parts: _*))
          ImageSuite.lightIncrement(spark, batch, captions, out, s"b$i", driverFinalizeMax)
      }
    val (driver, distributed) = (tempDir("drift-light-driver"), tempDir("drift-light-dist"))
    batches(driver, Drift.DriverFinalizeMaxPartials)
    batches(distributed, 0)
    assert(state(driver).size == 8)
    assertSameStores(driver, distributed)
  }
}
