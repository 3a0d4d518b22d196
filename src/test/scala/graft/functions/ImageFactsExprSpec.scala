package graft.functions

import graft.SparkTestBase
import graft.images.{ImageCodec, ImageGen, Phash}
import graft.validation.ImageSuite
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Per-row derived facts of the plain-Scala reference decode. */
case class DecodedFacts(
  image_id: String, part: String, fmt: String, caption: String,
  w: Int, h: Int, phash: Long,
  has_bytes: Boolean, n_bytes: Long,
  decode_ok: Boolean, dec_w: Int, dec_h: Int,
  psnr_db: Double,       // vs id-derived ground truth; NaN when undecodable
  phash_rec: Long,       // recomputed pHash; 0 when undecodable
  phash_hamming: Int,    // vs asserted phash; -1 when undecodable
  fmt_sniffed: String,   // magic bytes; "none" when unknown
  caption_expected: String) // id-derived; for bit-for-bit caption equality

class ImageFactsExprSpec extends SparkTestBase {

  /** Reference decode stage: one Product-encoder pass over rows through
    * the plain-Scala codec, pHash and ground-truth synthesis — the
    * semantics `ImageSuite.decodeFactsExpr` must reproduce.
    */
  def decodeFacts(spark: SparkSession, images: DataFrame): Dataset[DecodedFacts] = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "part")
      .as[(String, Array[Byte], Int, Int, String, String, Long, String)]
      .mapPartitions { it =>
        it.map { case (id, bytes, w, h, fmt, caption, phash, part) =>
          val hasBytes = bytes != null && bytes.nonEmpty
          val nBytes = if (bytes == null) 0L else bytes.length.toLong
          val dec = if (hasBytes) ImageCodec.decode(bytes) else None
          val sniffed = ImageCodec.sniffFormat(bytes).getOrElse("none")
          // ground truth is id-derived (asserted-vs-inferred): the ordinal
          // seeds the synthesis, so reference pixels are recomputable.
          val ord = ImageSuite.idOrdinal(id)
          dec match {
            case Some((px, dw, dh)) =>
              val truth = ImageGen.truthPixels(ord, dw, dh)
              val p = ImageCodec.psnr(px, truth).getOrElse(Double.NaN)
              val ph = Phash.phash64(px, dw, dh)
              DecodedFacts(id, part, fmt, caption, w, h, phash,
                hasBytes, nBytes, decode_ok = true, dw, dh,
                psnr_db = p, phash_rec = ph,
                phash_hamming = Phash.hamming(ph, phash),
                fmt_sniffed = sniffed,
                caption_expected = ImageGen.caption(ord))
            case None =>
              DecodedFacts(id, part, fmt, caption, w, h, phash,
                hasBytes, nBytes, decode_ok = false, 0, 0,
                psnr_db = Double.NaN, phash_rec = 0L, phash_hamming = -1,
                fmt_sniffed = sniffed,
                caption_expected = ImageGen.caption(ord))
          }
        }
      }
  }

  test("native image_facts expression ≡ mapPartitions decode stage") {
    val dir = ImageGen.ensure(spark, 2000L, "target/test-images")
    val images = ImageGen.images(spark, dir)
    val cols = Seq("image_id", "part", "fmt", "caption", "w", "h", "phash",
      "has_bytes", "n_bytes", "decode_ok", "dec_w", "dec_h",
      "phash_rec", "phash_hamming", "fmt_sniffed", "caption_expected")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr(cols :+ "round(psnr_db, 6) as psnr_r": _*)
        .orderBy("image_id", "part").collect().map(_.toString).toSeq
    val a = canon(decodeFacts(spark, images).toDF())
    val b = canon(ImageSuite.decodeFactsExpr(images))
    assert(a.size == b.size && a.size == 2000)
    assert(a == b)
  }

  test("decodeFactsExpr's quality, tile, dihedral and container facts ≡ plain-Scala kernels") {
    // The expression's InternalRow is positional: a field-order slip
    // against ImageFactsExpr.schema would land a fact under another name.
    val dir = ImageGen.ensure(spark, 2000L, "target/test-images")
    val images = ImageGen.images(spark, dir)
    def line(id: String, part: String, nBytes: Long, tiles: Seq[Long], d4: Seq[Long],
             q: (Double, Double, Double, Double, Double), kind: String, ok: Boolean) =
      s"$id|$part|$nBytes|${tiles.mkString(",")}|${d4.mkString(",")}|$q|$kind|$ok"
    val expected = images.select("image_id", "part", "bytes").collect().map { r =>
      val bytes = r.getAs[Array[Byte]]("bytes")
      val (kind, ok) = ImageCodec.containerFacts(bytes)
      val nBytes = if (bytes == null) 0L else bytes.length.toLong
      val (tiles, d4, q) = ImageCodec.decode(bytes) match {
        case Some((px, w, h)) => (Phash.tilePhashes(px, w, h).toSeq,
          Phash.dihedralPhashes(px, w, h).toSeq, ImageCodec.lumaQuality(px, w, h))
        case None => (Seq.fill(4)(0L), Seq.fill(8)(0L), (0.0, 0.0, 0.0, 0.0, 0.0))
      }
      line(r.getString(0), r.getString(1), nBytes, tiles, d4, q, kind, ok)
    }.sorted.toSeq
    val actual = ImageSuite.decodeFactsExpr(images)
      .select("image_id", "part", "n_bytes", "phash_tiles", "phash_d4", "sharpness",
        "brightness", "contrast", "clip_lo", "clip_hi", "container_kind", "container_ok")
      .collect().map { r =>
        line(r.getString(0), r.getString(1), r.getLong(2), r.getSeq[Long](3), r.getSeq[Long](4),
          (r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getDouble(9)),
          r.getString(10), r.getBoolean(11))
      }.sorted.toSeq
    assert(expected.size == 2000)
    assert(actual == expected)
  }

  test("expression is total on nulls and garbage") {
    import spark.implicits._
    val df = Seq(
      (null.asInstanceOf[Array[Byte]], "img-000000000001"),
      (Array[Byte](1, 2, 3), "not-an-id"),
      (Array.emptyByteArray, "img-000000000002"))
      .toDF("bytes", "image_id")
    val out = df.select(ImageFactsExpr.imageFacts($"bytes", $"image_id").as("f"))
      .select("f.decode_ok", "f.has_bytes", "f.fmt_sniffed").collect()
    assert(out.forall(!_.getBoolean(0)))
    assert(out.map(_.getBoolean(1)).toSeq == Seq(false, true, false))
  }
}
