package graft.validation

import graft.SparkTestBase
import graft.images.{ImageCodec, ImageGen, Phash}
import org.apache.spark.sql.functions._

/** End-to-end correctness of the constraint suite at t1 scale (n=2000):
  * the Spark pipeline's violations must equal an independent plain-Scala
  * recomputation over the same deterministic rows (FIXTURES.md §3
  * discipline), and resume must skip completed partitions (ST2).
  */
class ImageSuiteSpec extends SparkTestBase {

  val N = 2000L
  lazy val dataDir: String = ImageGen.ensure(spark, N, "target/test-images")

  // ---- plain-Scala oracle over the same deterministic rows ----
  lazy val np: Int = ImageGen.nParts(N)
  lazy val rows: Seq[ImageGen.GenRow] = (0L until N).map(ImageGen.genRow(_, np))
  lazy val caps: Seq[ImageGen.CapRow] =
    (0L until N).flatMap(ImageGen.genCaption(_, np)) ++ ImageGen.genOrphans(N, np)

  case class V(part: String, check: String, pass: Boolean, metric: Double,
               nRows: Long, nViolations: Long)

  // one suite run, collected once
  lazy val (gotViolations: Set[(String, String)], gotVerdicts: Seq[V]) = {
    val (verdicts, violations, _) = ImageSuite.run(spark, dataDir, "t1")
    val v = violations.select("check", "image_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val verd = verdicts.collect().map(r => V(
      r.getAs[String]("part"), r.getAs[String]("check"),
      r.getAs[Boolean]("pass"), r.getAs[Double]("metric"),
      r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"))).toSeq
    (v, verd)
  }

  def expectedRowViolations: Map[String, Set[String]] = {
    val m = scala.collection.mutable.Map[String, Set[String]]().withDefaultValue(Set.empty)
    def addV(check: String, id: String): Unit = m(check) = m(check) + id
    rows.foreach { r =>
      val hasBytes = r.bytes != null && r.bytes.nonEmpty
      val dec = if (hasBytes) ImageCodec.decode(r.bytes) else None
      val sniffed = ImageCodec.sniffFormat(r.bytes).getOrElse("none")
      val ord = r.image_id.stripPrefix("img-").toLong
      if (!hasBytes) addV("bytes_present", r.image_id)
      if (hasBytes && dec.isEmpty) addV("decodable", r.image_id)
      if (r.w <= 0 || r.h <= 0) addV("dims_positive", r.image_id)
      if (r.w == 0 && r.h == 0 && !hasBytes) addV("sentinel_row", r.image_id)
      if (sniffed != "none" && r.fmt != sniffed) addV("fmt_matches_magic", r.image_id)
      dec.foreach { case (px, dw, dh) =>
        if (r.w != dw || r.h != dh) addV("dims_match_decoded", r.image_id)
        val truth = ImageGen.truthPixels(ord, dw, dh)
        val p = ImageCodec.psnr(px, truth).get
        if (!p.isNaN && p < ImageSuite.PsnrThresholdDb) addV("psnr_allclose", r.image_id)
        if (Phash.hamming(Phash.phash64(px, dw, dh), r.phash) > ImageSuite.PhashHammingMax)
          addV("phash_consistent", r.image_id)
      }
      if (r.caption != null && r.caption != ImageGen.caption(ord))
        addV("caption_equality", r.image_id)
    }
    m.toMap
  }

  test("row-invariant violations equal the plain-Scala oracle exactly") {
    val exp = expectedRowViolations
    for (check <- Seq("bytes_present", "decodable", "dims_positive",
        "dims_match_decoded", "sentinel_row", "psnr_allclose",
        "phash_consistent", "fmt_matches_magic", "caption_equality")) {
      val g = gotViolations.filter(_._1 == check).map(_._2)
      val e = exp.getOrElse(check, Set.empty)
      assert(g == e, s"$check: got ${g.size}, expected ${e.size}; " +
        s"diff=${(g diff e) ++ (e diff g)}")
    }
  }

  test("each planted defect class is represented at n=2000") {
    val classes = (0L until N).map(ImageGen.defectOf).toSet
    assert(Seq("dup_id", "corrupt", "low_psnr", "bad_fmt", "null_caption",
      "sentinel", "bad_dims", "bad_phash", "caption_mismatch")
      .forall(classes.contains), s"present: $classes")
  }

  test("uniqueness: salted two-stage flags exactly the duplicated ids") {
    val dupIds = rows.groupBy(_.image_id).filter(_._2.size > 1).keySet
    assert(dupIds.nonEmpty)
    assert(gotViolations.filter(_._1 == "uniqueness_image_id").map(_._2) == dupIds)
  }

  test("referential: missing captions and orphan captions match oracle") {
    val capIds = caps.map(_.image_id).toSet
    val imgIds = rows.map(_.image_id).toSet
    val expMissing = rows.filterNot(r => capIds.contains(r.image_id)).map(_.image_id).toSet
    val expOrphan = caps.filterNot(c => imgIds.contains(c.image_id)).map(_.image_id).toSet
    assert(expMissing.nonEmpty && expOrphan.nonEmpty)
    assert(gotViolations.filter(_._1 == "referential_caption_exists").map(_._2) == expMissing)
    assert(gotViolations.filter(_._1 == "referential_image_exists").map(_._2) == expOrphan)
  }

  test("caption consistency across tables matches oracle (planted mismatches)") {
    val capMap = caps.map(c => c.image_id -> c.caption).toMap
    val exp = rows.filter(r => r.caption != null &&
        capMap.get(r.image_id).exists(c => c != null && c != r.caption))
      .map(_.image_id).toSet
    assert(exp.nonEmpty)
    assert(gotViolations.filter(_._1 == "caption_consistent").map(_._2) == exp)
  }

  test("no false positives: violations only arise from planted defect rows") {
    // map image_id → defect classes of the ordinals that produced rows
    // with that id (duplicate ids can merge two ordinals)
    val classesById = (0L until N).groupBy(i => ImageGen.genRow(i, np).image_id)
      .map { case (id, is) => id -> is.map(ImageGen.defectOf).toSet }
    def onlyFrom(check: String, allowed: Set[String]): Unit = {
      val bad = gotViolations.filter(_._1 == check).map(_._2).filterNot(id =>
        classesById.getOrElse(id, Set("orphan")).exists(allowed.contains))
      assert(bad.isEmpty, s"$check flagged non-defect rows: $bad")
    }
    // dup rows carry another ordinal's id, so their content legitimately
    // fails the id-derived ground-truth comparisons
    onlyFrom("psnr_allclose", Set("low_psnr", "dup_id"))
    // heavy-noise rows legitimately move the perceptual hash too
    onlyFrom("phash_consistent", Set("bad_phash", "dup_id", "low_psnr"))
    onlyFrom("fmt_matches_magic", Set("bad_fmt"))
    onlyFrom("decodable", Set("corrupt"))
    onlyFrom("bytes_present", Set("null_bytes", "sentinel"))
    onlyFrom("dims_positive", Set("bad_dims", "sentinel"))
    onlyFrom("caption_consistent", Set("caption_mismatch", "dup_id"))
    onlyFrom("uniqueness_image_id", Set("dup_id"))
  }

  test("a verdict exists for every (part, check) and pass ⟺ within threshold") {
    val parts = rows.map(_.part).toSet
    for (p <- parts; c <- Seq("decodable", "psnr_allclose", "uniqueness_image_id",
        "null_rate_caption", "referential_caption_exists", "drift_ks_w"))
      assert(gotVerdicts.exists(v => v.part == p && v.check == c), s"missing $p|$c")
    gotVerdicts.filter(_.check == "decodable").foreach { v =>
      assert(v.pass == (v.nViolations == 0))
    }
    gotVerdicts.filter(_.check == "null_rate_caption").foreach { v =>
      assert(v.pass == (v.metric <= ImageSuite.NullRateMax))
    }
  }

  test("drift: the designated drifted partitions are flagged, others mostly not") {
    val drifted = ImageGen.DriftedParts.map("p" + _).toSet
    for (p <- drifted) {
      val failing = gotVerdicts.count(v =>
        v.part == p && v.check.startsWith("drift") && !v.pass)
      assert(failing >= 1, s"drifted $p not flagged")
    }
    val cleanFailing = gotVerdicts.filter(v =>
      !drifted.contains(v.part) && v.check.startsWith("drift") && !v.pass)
    assert(cleanFailing.size <= 2, s"too many clean parts flagged: $cleanFailing")
  }

  test("metricsOf rows equal a plain-Scala recomputation") {
    val facts = ImageSuite.decodeFactsExpr(ImageGen.images(spark, dataDir))
    val got = ImageSuite.metricsOf(facts, "t1").collect()
      .map(r => (r.getAs[String]("part"), r.getAs[String]("metric")) -> r.getAs[Double]("value"))
      .toMap
    // psnr_mean averages the decodable rows' PSNR vs the id-derived truth
    def psnrOf(r: ImageGen.GenRow): Option[Double] =
      if (r.bytes == null || r.bytes.isEmpty) None
      else ImageCodec.decode(r.bytes).map { case (px, dw, dh) =>
        val truth = ImageGen.truthPixels(ImageSuite.idOrdinal(r.image_id), dw, dh)
        ImageCodec.psnr(px, truth).getOrElse(Double.NaN)
      }
    val parts = rows.groupBy(_.part)
    assert(got.keySet == parts.keySet.flatMap(p =>
      Seq("n_rows", "bytes_total", "psnr_mean").map(p -> _)))
    parts.foreach { case (p, rs) =>
      assert(got(p -> "n_rows") == rs.size.toDouble, s"$p n_rows")
      assert(got(p -> "bytes_total") ==
        rs.map(r => if (r.bytes == null) 0L else r.bytes.length.toLong).sum.toDouble,
        s"$p bytes_total")
      val psnrs = rs.flatMap(psnrOf)
      val exp = psnrs.sum / psnrs.size
      val g = got(p -> "psnr_mean")
      assert((g.isNaN && exp.isNaN) || g == exp || math.abs(g - exp) <= 1e-9,
        s"$p psnr_mean: got $g, expected $exp")
    }
  }

  test("rowVerdicts counts exactly the rowViolations rows per (part, check)") {
    val facts = ImageSuite.decodeFactsExpr(ImageGen.images(spark, dataDir))
    val fanned = ImageSuite.rowViolations(facts).groupBy("part", "check").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val verdicts = ImageSuite.rowVerdicts(facts, ImageSuite.rowViolations(facts), "t1")
      .select("part", "check", "n_violations", "pass").collect()
    assert(verdicts.length == rows.map(_.part).toSet.size * 9)
    assert(fanned.values.sum > 0)
    verdicts.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == fanned.getOrElse(key, 0L), s"$key")
      assert(r.getBoolean(3) == (r.getLong(2) == 0L), s"$key pass")
    }
    assert(fanned.keySet.subsetOf(verdicts.map(r => (r.getString(0), r.getString(1))).toSet))
  }

  test("resume skips completed partitions (no duplicate row-family verdicts)") {
    val out = "target/test-images/ckpt-run"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    ImageSuite.runAndCheckpoint(spark, dataDir, out, "run1")
    val afterFirst = spark.read.parquet(s"$out/verdicts")
      .filter(col("check") === "decodable").count()
    assert(afterFirst > 0)
    ImageSuite.runAndCheckpoint(spark, dataDir, out, "run2")
    val afterSecond = spark.read.parquet(s"$out/verdicts")
      .filter(col("check") === "decodable").count()
    assert(afterFirst == afterSecond, "resume revalidated completed partitions")
    val state = spark.read.parquet(s"$out/state")
    assert(state.filter(col("status") === "done").select("part").distinct().count() ==
      rows.map(_.part).toSet.size.toLong)
  }
}
