package graft.functions

import graft.images.{ImageCodec, ImageGen, Phash}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing every byte-derived fact in one
  * evaluation: decode, dims, PSNR vs the id-derived ground truth, pHash
  * recompute, magic-byte sniff, expected caption.
  *
  * Why an Expression rather than a typed `mapPartitions` (SURVEY.md §7.3
  * upgrade path): the projection stays in the DataFrame domain — no
  * Product-encoder round-trip per row, column pruning and filter pushdown
  * operate around it, and it is SQL-registrable. Decode itself cannot be
  * code-generated, so this is a CodegenFallback leaf isolated in the scan
  * stage; all downstream check predicates remain codegen'd column ops.
  *
  * Total like the reference's robust sections
  * (/root/reference/src/crawl_first/biosample.py:288-404): undecodable
  * bytes yield ok=false facts, never an exception.
  */
case class ImageFactsExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "image_facts"

  override def dataType: DataType = ImageFactsExpr.schema

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val bytesRaw = left.eval(input)
    val idRaw = right.eval(input)
    val bytes = if (bytesRaw == null) null else bytesRaw.asInstanceOf[Array[Byte]]
    val hasBytes = bytes != null && bytes.nonEmpty
    val nBytes = if (bytes == null) 0L else bytes.length.toLong
    val sniffed = ImageCodec.sniffFormat(bytes).getOrElse("none")
    val (containerKind, containerOk) = ImageCodec.containerFacts(bytes)
    val ord = ImageGen.ordinalOf(if (idRaw == null) null else idRaw.toString)
    val capExp = ImageGen.caption(ord)
    ImageCodec.decode(bytes) match {
      case Some((px, dw, dh)) =>
        val truth = ImageGen.truthPixels(ord, dw, dh)
        val psnr = ImageCodec.psnr(px, truth).getOrElse(Double.NaN)
        val ph = Phash.phash64(px, dw, dh)
        val (sharp, bright, contr, clipLo, clipHi) =
          ImageCodec.lumaQuality(px, dw, dh)
        InternalRow(hasBytes, nBytes, true, dw, dh, psnr, ph,
          UTF8String.fromString(sniffed), UTF8String.fromString(capExp),
          sharp, bright, contr, clipLo, clipHi,
          new GenericArrayData(Phash.tilePhashes(px, dw, dh)),
          UTF8String.fromString(containerKind), containerOk,
          new GenericArrayData(Phash.dihedralPhashes(px, dw, dh)))
      case None =>
        InternalRow(hasBytes, nBytes, false, 0, 0, Double.NaN, 0L,
          UTF8String.fromString(sniffed), UTF8String.fromString(capExp),
          0.0, 0.0, 0.0, 0.0, 0.0,
          new GenericArrayData(Array.fill(4)(0L)),
          UTF8String.fromString(containerKind), containerOk,
          new GenericArrayData(Array.fill(8)(0L)))
    }
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ImageFactsExpr {
  val schema: StructType = StructType(Seq(
    StructField("has_bytes", BooleanType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("dec_w", IntegerType, nullable = false),
    StructField("dec_h", IntegerType, nullable = false),
    StructField("psnr_db", DoubleType, nullable = false),
    StructField("phash_rec", LongType, nullable = false),
    StructField("fmt_sniffed", StringType, nullable = false),
    StructField("caption_expected", StringType, nullable = false),
    // perceptual-quality facts (ImageCodec.lumaQuality): blur and
    // exposure gates; zeroed (like dims) when decode fails
    StructField("sharpness", DoubleType, nullable = false),
    StructField("brightness", DoubleType, nullable = false),
    StructField("contrast", DoubleType, nullable = false),
    StructField("clip_lo", DoubleType, nullable = false),
    StructField("clip_hi", DoubleType, nullable = false),
    // per-quadrant pHashes (TL, TR, BL, BR) — partial-crop dup signal;
    // zeros when decode fails (like dims)
    StructField("phash_tiles",
      ArrayType(LongType, containsNull = false), nullable = false),
    // structural container walk (ImageCodec.containerFacts): the
    // decode-free pre-gate; kind from magic, ok = frame sequence intact
    StructField("container_kind", StringType, nullable = false),
    StructField("container_ok", BooleanType, nullable = false),
    // all 8 dihedral-group (D4) pHashes from one DCT (identity first,
    // Phash.dihedralPhashes) — the mirror/rotation near-dup probe set;
    // banded variant-vs-plain (never reduced to a fragile canonical min,
    // see the Phash note); zeros when decode fails (like phash_rec)
    StructField("phash_d4",
      ArrayType(LongType, containsNull = false), nullable = false)))

  /** Column API: `image_facts(bytes, image_id)` → struct of facts.
    * (Spark 4 classic bridge: Column ↔ catalyst Expression via
    * ExpressionUtils — Column no longer wraps Expression directly.)
    */
  def imageFacts(bytes: Column, imageId: Column): Column =
    GraftColumnBridge.column(ImageFactsExpr(
      GraftColumnBridge.expression(bytes), GraftColumnBridge.expression(imageId)))
}
