package graft.dev

import graft.functions.ImageFactsExpr
import graft.images.{ImageCodec, ImageGen, Phash}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.lang.management.ManagementFactory

/** Per-kernel CPU of the decode layer (`ImageFactsExpr`), single thread.
  *
  *   Test/runMain graft.dev.DecodeProfile [tierRows=2000] [start=0] [rows=2000]
  *
  * The rows are ordinals [start, start + rows) of a `tierRows`-row tier,
  * made by `ImageGen.genRow` — the rows `ImageGen.write` stores, no Spark
  * session needed. It runs every kernel over a 250-row warm-up, then
  * times 3 rounds. Each round prints, per kernel, the calling thread's CPU
  * milliseconds scaled to 2000 rows: the ImageIO decode, `truthPixels`,
  * `psnr`, `phash64`, `tilePhashes`, `dihedralPhashes`, `lumaQuality` and
  * `containerFacts` (each over the decodable rows' pixels, decoded once
  * beforehand), and the whole `ImageFactsExpr.eval` over every row.
  */
object DecodeProfile {
  def main(args: Array[String]): Unit = {
    val tierRows = if (args.length > 0) args(0).toLong else 2000L
    val start = if (args.length > 1) args(1).toLong else 0L
    val n = if (args.length > 2) args(2).toInt else 2000
    val np = ImageGen.nParts(tierRows)
    val rows = (start until start + n).map(ImageGen.genRow(_, np)).toArray
    val inputs = rows.map(r => InternalRow(r.bytes, UTF8String.fromString(r.image_id)))
    val decoded = rows.flatMap { r =>
      ImageCodec.decode(r.bytes).map { case (px, w, h) => (ImageGen.ordinalOf(r.image_id), px, w, h) }
    }
    val expr = ImageFactsExpr(BoundReference(0, BinaryType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val truth = decoded.map { case (ord, _, w, h) => ImageGen.truthPixels(ord, w, h) }
    var sink = 0L
    val kernels: Seq[(String, Int => Unit)] = Seq(
      "decode" -> (i => sink += ImageCodec.decode(rows(i).bytes).size),
      "truthPixels" -> (i => if (i < decoded.length) {
        val (ord, _, w, h) = decoded(i); sink += ImageGen.truthPixels(ord, w, h).length }),
      "psnr" -> (i => if (i < decoded.length)
        sink += ImageCodec.psnr(decoded(i)._2, truth(i)).size),
      "phash64" -> (i => if (i < decoded.length) {
        val (_, px, w, h) = decoded(i); sink += Phash.phash64(px, w, h) }),
      "tilePhashes" -> (i => if (i < decoded.length) {
        val (_, px, w, h) = decoded(i); sink += Phash.tilePhashes(px, w, h)(0) }),
      "dihedralPhashes" -> (i => if (i < decoded.length) {
        val (_, px, w, h) = decoded(i); sink += Phash.dihedralPhashes(px, w, h)(0) }),
      "lumaQuality" -> (i => if (i < decoded.length) {
        val (_, px, w, h) = decoded(i); sink += ImageCodec.lumaQuality(px, w, h)._2.toLong }),
      "containerFacts" -> (i => sink += ImageCodec.containerFacts(rows(i).bytes)._1.length),
      "ImageFactsExpr.eval" -> (i => sink += expr.eval(inputs(i)).hashCode))
    val mx = ManagementFactory.getThreadMXBean
    def cpuMs(count: Int)(f: Int => Unit): Double = {
      val t0 = mx.getCurrentThreadCpuTime
      var i = 0
      while (i < count) { f(i); i += 1 }
      (mx.getCurrentThreadCpuTime - t0) / 1e6
    }
    println(s"rows $start..${start + n} of a $tierRows-row tier: ${decoded.length} decodable")
    for ((_, f) <- kernels) cpuMs(math.min(250, n))(f)
    for (round <- 1 to 3) {
      println(s"round $round (thread CPU ms per 2000 rows)")
      for ((name, f) <- kernels)
        println(f"  $name%-20s ${cpuMs(n)(f) * 2000 / n}%9.1f")
    }
    println(s"(checksum $sink)")
  }
}
