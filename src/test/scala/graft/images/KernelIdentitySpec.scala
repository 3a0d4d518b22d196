package graft.images

import org.scalatest.funsuite.AnyFunSuite

/** Pins the decode kernels bit-equal to their full-work forms in
  * [[KernelReference]]: `Phash` computes only the 9×9 DCT corner its bits
  * read and takes its median from a primitive sort, and `synthPixels`
  * computes its one-axis waves once per row and column. Any difference in
  * a hash bit or a pixel fails here.
  */
class KernelIdentitySpec extends AnyFunSuite {

  /** The hash kernels that differ from the reference on one image. */
  private def mismatches(label: String, px: Array[Int], w: Int, h: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (Phash.phash64(px, w, h) != KernelReference.phash64(px, w, h))
      out += s"$label phash64"
    if (!Phash.tilePhashes(px, w, h).sameElements(KernelReference.tilePhashes(px, w, h)))
      out += s"$label tilePhashes"
    if (!Phash.dihedralPhashes(px, w, h).sameElements(KernelReference.dihedralPhashes(px, w, h)))
      out += s"$label dihedralPhashes"
    out.result()
  }

  /** The pixel kernels that differ from the reference at one ordinal. */
  private def pixelMismatches(label: String, ord: Long, w: Int, h: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (!ImageCodec.synthPixels(ord, w, h).sameElements(KernelReference.synthPixels(ord, w, h)))
      out += s"$label synthPixels($ord)"
    if (!ImageGen.truthPixels(ord, w, h).sameElements(KernelReference.truthPixels(ord, w, h)))
      out += s"$label truthPixels($ord)"
    out.result()
  }

  test("every coefficient the hashes read lies inside the computed 9×9 corner") {
    val corner = (for (v <- 0 to 8; u <- 0 to 8) yield v * Phash.K + u).toSet
    assert(Phash.K == 9 && corner.size == 81)
    for (k <- 0 until 8; i <- 0 until 64)
      assert(corner.contains(Phash.dihedralIdx(k)(i)), s"variant $k bit $i")
    // phash64 reads the identity variant; its bit i is (u, v) = hashPos(i)
    val identity = KernelReference.hashPos.map { case (u, v) => v * Phash.K + u }
    assert(Phash.dihedralIdx(0).toSeq == identity)
  }

  test("dims sweep w 1..96 × 11 heights: hashes and pixels bit-equal to the full-work kernels") {
    // one ordinal of each truthPixels shape: plain, tile composite, and
    // the four mirror kinds
    val ords = Seq(Iterator.from(0).map(_.toLong).find(i =>
        !ImageGen.isTileDup(i) && !ImageGen.isMirrorDup(i)).get,
      Iterator.from(0).map(_.toLong).find(ImageGen.isTileDup).get) ++
      (0 until 4).map(kind => Iterator.from(0).map(_.toLong).find(i =>
        ImageGen.isMirrorDup(i) && ImageGen.mirrorKind(i) == kind).get)
    val heights = Seq(1, 2, 3, 7, 16, 24, 31, 32, 33, 55, 96)
    val bad = for {
      w <- 1 to 96; h <- heights; ord <- ords
      label = s"${w}x$h"
      m <- pixelMismatches(label, ord, w, h) ++
        mismatches(label, ImageGen.truthPixels(ord, w, h), w, h)
    } yield m
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.take(5)}")
  }

  test("every decodable row of a 2000-row tier window: hashes and pixels bit-equal") {
    val np = ImageGen.nParts(2000L)
    var decoded = 0
    val bad = (0L until 2000L).flatMap { i =>
      val row = ImageGen.genRow(i, np)
      ImageCodec.decode(row.bytes) match {
        case Some((px, w, h)) =>
          decoded += 1
          val ord = ImageGen.ordinalOf(row.image_id)
          mismatches(row.image_id, px, w, h) ++ pixelMismatches(row.image_id, ord, w, h)
        case None => Nil
      }
    }
    assert(decoded > 1900, s"only $decoded decodable rows")
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.take(5)}")
  }
}
