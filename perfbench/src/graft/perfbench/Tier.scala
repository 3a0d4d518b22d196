package graft.perfbench

import graft.images.{ImageCodec, ImageGen, Phash}
import graft.validation.{ImageSuite, Scoring}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input: an image+caption tier in the `ImageGen` layout
  * (`images/` and `captions/`, partitioned by `part`), built from the
  * ordinal window `[base, base + Rows)` that the workload seed picks. Rows
  * come from the public `ImageGen.genRow` / `genCaption`, so every planted
  * defect class appears at its `FIXTURES.md` rate in every window.
  */
object Tier {
  val Rows = 2000L
  val Parts: Int = ImageGen.nParts(Rows)

  /** First ordinal of the seed's window; windows of different seeds never overlap. */
  def base(seed: Long): Long = 1000000L + Math.floorMod(seed, 100000L) * Rows

  def partNames: Seq[String] = (0 until Parts).map(p => s"p$p")

  /** Order in which the seed's partitions arrive in `incr_arrivals`. */
  def arrivalOrder(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(partNames)

  /** Orphan captions (no image row) sit just past the window, as in `ImageGen.genOrphans`. */
  private def orphans(base: Long): Seq[ImageGen.CapRow] =
    (base + Rows until base + Rows + math.max(1L, Rows / 200)).map(i =>
      ImageGen.CapRow(ImageGen.idStr(i), ImageGen.caption(i), s"p${ImageGen.partOf(i, Parts)}"))

  /** Write the tier under `dir` with the layout `ImageGen.write` uses:
    * one file per partition directory, 1 MB row groups. */
  def write(spark: SparkSession, base: Long, dir: String): Unit = {
    import spark.implicits._
    val slices = spark.sparkContext.defaultParallelism
    spark.range(base, base + Rows, 1, slices)
      .mapPartitions(_.map(i => ImageGen.genRow(i, Parts))).toDF()
      .repartition(Parts, col("part"))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (1 << 20).toString)
      .partitionBy("part").parquet(s"$dir/images")
    spark.range(base, base + Rows, 1, slices)
      .mapPartitions(_.flatMap(i => ImageGen.genCaption(i, Parts).iterator))
      .union(spark.createDataset(orphans(base))).toDF()
      .repartition(Parts, col("part"))
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(s"$dir/captions")
  }

  /** One verdict as the engine writes it: the fingerprint the output check compares. */
  case class Verdict(n_rows: Long, n_violations: Long, pass: Boolean)
  type Fingerprint = Map[(String, String), Verdict]

  val RowChecks: Seq[String] = Seq("bytes_present", "decodable", "dims_positive",
    "dims_match_decoded", "sentinel_row", "psnr_allclose", "phash_consistent",
    "fmt_matches_magic", "caption_equality")
  /** Checks computed from one partition's decoded rows alone: their verdicts
    * do not depend on which other partitions were validated before. */
  val DecodeFamily: Set[String] = RowChecks.toSet ++
    Set("null_rate_caption", "null_rate_bytes", "psnr_quality", "phash_quality")
  val KeyChecks: Seq[String] = Seq("uniqueness_image_id", "referential_caption_exists",
    "referential_image_exists", "caption_consistent")
  val DriftChecks: Seq[String] =
    for (s <- Seq("chi2", "ks"); c <- Seq("w", "h")) yield s"drift_${s}_$c"

  /** Per-row facts of the plain-Scala oracle (the recomputation
    * `ImageSuiteSpec` checks the engine against). */
  private case class RowFacts(part: String, violated: Seq[String], decodeOk: Boolean,
                              psnr: Double, hamming: Int, captionNull: Boolean,
                              hasBytes: Boolean)

  private def rowFacts(i: Long): RowFacts = {
    val r = ImageGen.genRow(i, Parts)
    val hasBytes = r.bytes != null && r.bytes.nonEmpty
    val dec = if (hasBytes) ImageCodec.decode(r.bytes) else None
    val sniffed = ImageCodec.sniffFormat(r.bytes).getOrElse("none")
    val ord = ImageSuite.idOrdinal(r.image_id)
    val v = Seq.newBuilder[String]
    if (!hasBytes) v += "bytes_present"
    if (hasBytes && dec.isEmpty) v += "decodable"
    if (r.w <= 0 || r.h <= 0) v += "dims_positive"
    if (r.w == 0 && r.h == 0 && !hasBytes) v += "sentinel_row"
    if (sniffed != "none" && r.fmt != sniffed) v += "fmt_matches_magic"
    var psnr = Double.NaN
    var ham = -1
    dec.foreach { case (px, dw, dh) =>
      if (r.w != dw || r.h != dh) v += "dims_match_decoded"
      psnr = ImageCodec.psnr(px, ImageGen.truthPixels(ord, dw, dh)).getOrElse(Double.NaN)
      if (!psnr.isNaN && psnr < ImageSuite.PsnrThresholdDb) v += "psnr_allclose"
      ham = Phash.hamming(Phash.phash64(px, dw, dh), r.phash)
      if (ham > ImageSuite.PhashHammingMax) v += "phash_consistent"
    }
    if (r.caption != null && r.caption != ImageGen.caption(ord)) v += "caption_equality"
    RowFacts(r.part, v.result(), dec.isDefined, psnr, ham, r.caption == null, hasBytes)
  }

  /** Expected verdicts of the decode family, per partition, from a plain-Scala
    * recomputation over the generated rows (spread over the session's cores). */
  def expectedDecodeFamily(spark: SparkSession, base: Long): Fingerprint = {
    val facts = spark.sparkContext
      .parallelize(base until base + Rows, spark.sparkContext.defaultParallelism)
      .map(rowFacts).collect()
    facts.groupBy(_.part).toSeq.flatMap { case (part, rows) =>
      val n = rows.length.toLong
      def cnt(p: RowFacts => Boolean) = rows.count(p).toLong
      val rowVerdicts = RowChecks.map { c =>
        val k = cnt(_.violated.contains(c))
        (part, c) -> Verdict(n, k, k == 0)
      }
      def rate(check: String, k: Long) =
        (part, check) -> Verdict(n, k, k.toDouble / n.toDouble <= ImageSuite.NullRateMax)
      // Spark orders NaN above every double, so a NaN PSNR lands in the top rung
      val psnrOf = (r: RowFacts) => if (r.psnr.isNaN) Double.PositiveInfinity else r.psnr
      val ok = rows.filter(_.decodeOk)
      def ladder(nq: Long, c1: Long, c08: Long, c06: Long): Double =
        if (nq > 0) (c1 * 10 + c08 * 8 + c06 * 6 + (nq - c1 - c08 - c06) * 2).toDouble / (nq * 10).toDouble
        else 0.5
      def quality(check: String, nq: Long, c1: Long, c08: Long, c06: Long) =
        (part, check) -> Verdict(n, nq - c1 - c08 - c06,
          ladder(nq, c1, c08, c06) >= Scoring.QualityPassMin)
      val thr = ImageSuite.PsnrThresholdDb
      val hamOk = ok.filter(_.hamming >= 0)
      rowVerdicts ++ Seq(
        rate("null_rate_caption", cnt(_.captionNull)),
        rate("null_rate_bytes", cnt(!_.hasBytes)),
        quality("psnr_quality", ok.length.toLong,
          ok.count(psnrOf(_) >= 45.0).toLong,
          ok.count(r => psnrOf(r) >= thr && psnrOf(r) < 45.0).toLong,
          ok.count(r => psnrOf(r) >= 30.0 && psnrOf(r) < thr).toLong),
        quality("phash_quality", hamOk.length.toLong,
          hamOk.count(_.hamming == 0).toLong,
          hamOk.count(r => r.hamming >= 1 && r.hamming <= 4).toLong,
          hamOk.count(r => r.hamming >= 5 && r.hamming <= ImageSuite.PhashHammingMax).toLong))
    }.toMap
  }

  /** Expected key-check verdicts of one validation of the whole tier, from the
    * planted defects alone: a `dup_id` row carries its predecessor's id, a
    * `null_caption` row has no caption, `missing_caption` and
    * `caption_mismatch` are planted on the caption side. */
  def expectedKeyChecks(base: Long): Fingerprint = {
    val imgs = (base until base + Rows).map { i =>
      val d = ImageGen.defectOf(i)
      val id = if (d == "dup_id") ImageGen.idStr(if (i == 0) 1L else i - 1) else ImageGen.idStr(i)
      (id, s"p${ImageGen.partOf(i, Parts)}", if (d == "null_caption") null else ImageGen.caption(i))
    }
    val caps = (base until base + Rows).flatMap(i => ImageGen.genCaption(i, Parts)) ++ orphans(base)
    val idCount = imgs.groupBy(_._1).map { case (id, rs) => id -> rs.size }
    val capsById = caps.groupBy(_.image_id)
    val imgIds = idCount.keySet
    def perPart(xs: Seq[String]): Map[String, Long] =
      xs.groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
    val viol: Map[String, Map[String, Long]] = Map(
      "uniqueness_image_id" -> perPart(imgs.filter(r => idCount(r._1) > 1).map(_._2)),
      "referential_caption_exists" -> perPart(imgs.filterNot(r => capsById.contains(r._1)).map(_._2)),
      "referential_image_exists" -> perPart(caps.filterNot(c => imgIds.contains(c.image_id)).map(_.part)),
      "caption_consistent" -> perPart(imgs.filter(_._3 != null).flatMap { case (id, part, cap) =>
        capsById.getOrElse(id, Nil).filter(c => c.caption != null && c.caption != cap).map(_ => part)
      }))
    val rowsPerPart = perPart(imgs.map(_._2))
    (for ((part, n) <- rowsPerPart.toSeq; check <- KeyChecks) yield {
      val k = viol(check).getOrElse(part, 0L)
      (part, check) -> Verdict(n, k, k == 0)
    }).toMap
  }

  /** Whether the drift verdicts of one validation of the whole tier are
    * right. The planted `ImageGen.DriftedParts` shift w and h up by 16
    * pixels. Against the all-partition baseline, the chi-square over exact
    * bucket counts flags that shift on both columns, and every undrifted
    * partition passes all four checks. A drifted partition's KS statistic
    * sits near its 0.35 threshold (about 0.375 in expectation, read from
    * t-digests of ~250 rows), so that verdict is not asserted. */
  def driftMatches(got: Fingerprint, rowsPerPart: Map[String, Long]): Boolean = {
    val drifted = ImageGen.DriftedParts.map(p => s"p$p").toSet
    got.keySet == (for (part <- rowsPerPart.keySet; c <- DriftChecks) yield (part, c)) &&
      got.forall { case ((part, check), v) =>
        v.n_rows == rowsPerPart(part) && v.n_violations == (if (v.pass) 0L else 1L) &&
          (if (drifted(part)) !check.startsWith("drift_chi2") || !v.pass else v.pass)
      }
  }
}
