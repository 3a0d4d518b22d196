package graft.validation

import graft.SparkTestBase
import graft.images.ImageGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two degenerate partitions in a tiny hand-written tier: `pa`, where every
  * row has bytes that do not decode, and `pb`, where every caption is null.
  * Through [[ImageSuite.run]], [[ImageSuite.runAndCheckpoint]] and the
  * public family functions: every (part, check) verdict is emitted, the
  * quality checks of `pa` carry the reference's 0.5 "unavailable" metric,
  * `pa`'s `psnr_mean` metric row is null (not NaN, not dropped), and the
  * committed verdict and metric rows are the public functions' rows.
  */
class DegeneratePartsSpec extends SparkTestBase {
  import spark.implicits._

  val PerPart = 12

  /** Clean ordinals: their rows carry no planted defect. */
  lazy val clean: Seq[Long] = Iterator.from(0).map(_.toLong)
    .filter(ImageGen.defectOf(_) == "clean").take(2 * PerPart).toSeq

  lazy val dataDir: String = {
    val dir = tempDir("degenerate-parts")
    val (a, b) = clean.splitAt(PerPart)
    val undecodable = a.map { i =>
      ImageGen.genRow(i, 8).copy(bytes = Array[Byte](0x00, 0x11, 1, 2, 3, 4, 5, 6, 7, 8),
        part = "pa")
    }
    val nullCaption = b.map(i => ImageGen.genRow(i, 8).copy(caption = null, part = "pb"))
    val rows = undecodable ++ nullCaption
    rows.toDF().write.partitionBy("part").parquet(s"$dir/images")
    rows.map(r => ImageGen.CapRow(r.image_id, ImageGen.caption(ImageSuite.idOrdinal(r.image_id)),
      r.part)).toDF().write.partitionBy("part").parquet(s"$dir/captions")
    dir
  }

  val RowChecks = Seq("bytes_present", "decodable", "dims_positive", "dims_match_decoded",
    "sentinel_row", "psnr_allclose", "phash_consistent", "fmt_matches_magic", "caption_equality")
  val Others = Seq("null_rate_caption", "null_rate_bytes", "psnr_quality", "phash_quality",
    "uniqueness_image_id", "referential_caption_exists", "referential_image_exists",
    "caption_consistent")

  type V = (String, String, Boolean, Double, Double, Long, Long)
  def verdictRows(df: DataFrame): Set[V] =
    df.select("part", "check", "pass", "metric", "threshold", "n_rows", "n_violations")
      .as[V].collect().toSet
  def metricRows(df: DataFrame): Set[(String, String, Option[Double])] =
    df.filter(col("part") =!= "_global").select("part", "metric", "value").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet

  /** The verdicts and metric rows of the public family functions. */
  lazy val (publicVerdicts: Set[V], publicMetrics: Set[(String, String, Option[Double])]) = {
    val facts = ImageSuite.decodeFactsExpr(ImageGen.images(spark, dataDir))
    val light = ImageGen.images(spark, dataDir).select("image_id", "part", "w", "h", "caption")
    val verdicts = ImageSuite.rowVerdicts(facts, ImageSuite.rowViolations(facts), "pub")
      .unionByName(ImageSuite.coverageVerdicts(facts, "pub"))
      .unionByName(Scoring.qualityVerdicts(facts, "pub"))
      .unionByName(ImageSuite.keyChecks(light, ImageGen.captions(spark, dataDir), "pub")._1)
      .unionByName(Drift.check(light, "pub")._1)
    (verdictRows(verdicts), metricRows(ImageSuite.metricsOf(facts, "pub")))
  }

  lazy val (runVerdicts: Set[V], runMetrics: Set[(String, String, Option[Double])]) = {
    val (v, _, m) = ImageSuite.run(spark, dataDir, "run")
    (verdictRows(v), metricRows(m))
  }

  lazy val checkpoint: String = {
    val out = tempDir("degenerate-parts-ck")
    ImageSuite.runAndCheckpoint(spark, dataDir, out, "ck")
    out
  }

  test("every (part, check) verdict is present for both degenerate partitions") {
    for (vs <- Seq(publicVerdicts, runVerdicts)) {
      val byPart = vs.groupBy(_._1).map { case (p, xs) => p -> xs.toSeq.map(_._2) }
      assert(byPart.keySet == Set("pa", "pb"))
      val checks = byPart("pa").toSet
      assert((RowChecks ++ Others).toSet.subsetOf(checks))
      assert(checks.exists(_.startsWith("drift_")))
      byPart.values.foreach(cs => assert(cs.sorted == checks.toSeq.sorted))
    }
  }

  test("the degenerate partitions fail exactly their degenerate checks") {
    def v(p: String, c: String) = runVerdicts.find(x => x._1 == p && x._2 == c).get
    assert(!v("pa", "decodable")._3 && v("pa", "decodable")._7 == PerPart)
    assert(v("pa", "caption_equality")._3)
    assert(!v("pb", "null_rate_caption")._3 && v("pb", "null_rate_caption")._4 == 1.0)
    assert(v("pb", "decodable")._3 && v("pb", "null_rate_bytes")._3)
    // pa has no decodable row: both quality checks are "unavailable"
    for (c <- Seq("psnr_quality", "phash_quality")) {
      assert(v("pa", c)._4 == 0.5 && !v("pa", c)._3 && v("pa", c)._7 == 0L)
      assert(v("pb", c)._3, "pb decodes, so its quality is graded")
    }
  }

  test("pa's psnr_mean metric row is null, not NaN and not dropped") {
    val stored = metricRows(spark.read.parquet(s"$checkpoint/metrics"))
    for (ms <- Seq(publicMetrics, runMetrics, stored)) {
      assert(ms.contains(("pa", "psnr_mean", None)), ms)
      assert(ms.contains(("pa", "n_rows", Some(PerPart.toDouble))))
      assert(ms.exists { case (p, m, v) => p == "pb" && m == "psnr_mean" && v.exists(!_.isNaN) })
    }
  }

  test("committed verdict and metric rows equal the public functions' rows") {
    val stored = spark.read.parquet(s"$checkpoint/verdicts")
    assert(stored.filter(col("run_id") =!= "ck").isEmpty)
    assert(verdictRows(stored) == publicVerdicts)
    assert(runVerdicts == publicVerdicts)
    assert(metricRows(spark.read.parquet(s"$checkpoint/metrics")) == publicMetrics)
    assert(runMetrics == publicMetrics)
    assert(spark.read.parquet(s"$checkpoint/metrics")
      .filter(col("part") === "_global").select("metric").as[String].collect().toSeq ==
      Seq("ndv_image_id_hll"))
  }
}
