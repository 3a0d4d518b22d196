package graft.images

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import scala.util.control.NonFatal

/** Pure-JVM image encode/decode + the per-row pixel invariants
  * (decoded-pixel allclose via PSNR, per BASELINE.json input_hint).
  *
  * Reference analogue: PDF magic-byte sniffing
  * (/root/reference/src/crawl_first/direct_retrieval.py:563-567) and the
  * deterministic pure-function kernels (geospatial.py:51-58) — decode and
  * PSNR are deterministic pure functions of `bytes`, recomputed under
  * Catalyst instead of cached (SURVEY.md §4 memoization row).
  *
  * All functions are total on bad bytes: failures return Option/None,
  * never throw — bad rows become violation rows, tasks never fail
  * (reference "robust sections" biosample.py:288-404). Fatal JVM errors
  * (out of memory, an interrupt) are not bad bytes: they propagate and
  * fail the task instead of becoming an "undecodable" verdict.
  */
object ImageCodec {

  // ImageIO defaults to a file-backed stream cache: every decode/encode
  // touches a temp file under a global lock — a serial bottleneck at 32
  // executor threads. In-memory cache keeps the codec embarrassingly
  // parallel.
  ImageIO.setUseCache(false)

  /** Ground-truth pixels for an image id: a smooth, id-seeded pattern
    * (low-frequency gradients so JPEG at q=0.9 stays above 40 dB PSNR).
    * Returns row-major packed RGB ints.
    */
  def synthPixels(id: Long, w: Int, h: Int): Array[Int] = {
    val px = new Array[Int](w * h)
    // id-derived pattern parameters (deterministic, spread by a 64-bit mix)
    val m = mix64(id)
    val a = ((m & 0xff) / 255.0) * 2 * math.Pi
    val b = (((m >>> 8) & 0xff) / 255.0) * 2 * math.Pi
    val baseR = ((m >>> 16) & 0x7f) + 64
    val baseG = ((m >>> 24) & 0x7f) + 64
    val baseB = ((m >>> 32) & 0x7f) + 64
    // Broadband diagonal plane waves with 1/f amplitudes: every
    // low-frequency DCT bin gets real energy, so the 64 pHash sign bits
    // are stable under JPEG re-encode (natural-image-like spectrum).
    // Texture is identical across channels (pure luminance) so JPEG
    // chroma subsampling doesn't eat it and q=0.95 stays above 40 dB.
    // Wave k (k = 0..5) has amplitude 26/(k+1), an id-derived phase and
    // (x, y) frequencies (1,2) (2,1) (3,5) (4,3) (5,6) (6,4); the six
    // terms are written out and summed in k order (a loop over k through
    // amplitude and frequency arrays cost ~2.8× as much per pixel in
    // graft.dev.DecodeProfile, even with the one-axis waves hoisted, on a
    // 4-core x86-64 host under JDK 17). The two one-axis waves depend on
    // x alone or on y alone, so they are computed once per column and
    // once per row. Every term is the same expression on the same inputs
    // as a per-pixel loop over k evaluates, summed in the same order, so
    // every pixel is bit-equal to that form (KernelIdentitySpec).
    val phase = Array.tabulate(6)(k => (((m >>> (16 + 6 * k)) & 0x3f) / 63.0) * 2 * math.Pi)
    val p0 = phase(0); val p1 = phase(1); val p2 = phase(2)
    val p3 = phase(3); val p4 = phase(4); val p5 = phase(5)
    val fxs = Array.tabulate(w)(x => x.toDouble / w)
    val waveX = Array.tabulate(w)(x => 40 * math.sin(2 * math.Pi * fxs(x) + a))
    var y = 0
    while (y < h) {
      val fy = y.toDouble / h
      val waveY = 40 * math.cos(2 * math.Pi * fy + b)
      var x = 0
      while (x < w) {
        val fx = fxs(x)
        val s = waveX(x) + waveY
        val t = 0.0 +
          (26.0 / 1) * math.sin(2 * math.Pi * (1 * fx + 2 * fy) + p0) +
          (26.0 / 2) * math.sin(2 * math.Pi * (2 * fx + 1 * fy) + p1) +
          (26.0 / 3) * math.sin(2 * math.Pi * (3 * fx + 5 * fy) + p2) +
          (26.0 / 4) * math.sin(2 * math.Pi * (4 * fx + 3 * fy) + p3) +
          (26.0 / 5) * math.sin(2 * math.Pi * (5 * fx + 6 * fy) + p4) +
          (26.0 / 6) * math.sin(2 * math.Pi * (6 * fx + 4 * fy) + p5)
        val r = clamp(baseR + s + t + 30 * fx)
        val g = clamp(baseG + s + t + 30 * fy)
        val bl = clamp(baseB + 0.5 * s + t + 15 * (fx + fy))
        px(y * w + x) = (r << 16) | (g << 8) | bl
        x += 1
      }
      y += 1
    }
    px
  }

  private def clamp(v: Double): Int = math.max(0, math.min(255, v.toInt))

  /** splitmix64 finalizer — deterministic 64-bit mix. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def toImage(px: Array[Int], w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  def fromImage(img: BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < px.length) { px(i) = px(i) & 0xffffff; i += 1 }
    px
  }

  def encode(px: Array[Int], w: Int, h: Int, fmt: String, jpegQuality: Float = 0.97f): Array[Byte] = {
    val img = toImage(px, w, h)
    val bos = new ByteArrayOutputStream()
    fmt match {
      case "jpeg" =>
        val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(jpegQuality)
        val ios = ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(null, new IIOImage(img, null, null), p)
        ios.close(); writer.dispose()
      case f =>
        ImageIO.write(img, f, bos)
    }
    bos.toByteArray
  }

  // Per-thread cached readers per format: ImageIO.read does a synchronized
  // registry scan and allocates a fresh reader on every call — at 32
  // executor threads that lock dominates decode. One reader per
  // (thread, format) removes the contention entirely.
  private val readerCache = new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
    override def initialValue() = new java.util.HashMap[String, javax.imageio.ImageReader]()
  }

  private def readerFor(fmt: String): javax.imageio.ImageReader = {
    val cache = readerCache.get()
    var r = cache.get(fmt)
    if (r == null) {
      r = ImageIO.getImageReadersByFormatName(fmt).next()
      cache.put(fmt, r)
    }
    r
  }

  /** Decode to (pixels, width, height); None on undecodable bytes. */
  def decode(bytes: Array[Byte]): Option[(Array[Int], Int, Int)] =
    if (bytes == null || bytes.length == 0) None
    else try {
      val img = sniffFormat(bytes) match {
        case Some(fmt) =>
          val reader = readerFor(fmt)
          val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis, true, true)
            reader.read(0)
          } finally {
            reader.setInput(null)
            iis.close()
          }
        case None => ImageIO.read(new ByteArrayInputStream(bytes))
      }
      if (img == null) None
      else Some((fromImage(img), img.getWidth, img.getHeight))
    } catch { case NonFatal(_) => None }

  /** Sniff format from magic bytes — the fmt↔content consistency input. */
  def sniffFormat(bytes: Array[Byte]): Option[String] = {
    if (bytes == null || bytes.length < 4) return None
    val b = bytes
    if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') Some("png")
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) Some("jpeg")
    else if (b(0) == 'B' && b(1) == 'M') Some("bmp")
    else None
  }

  /** Structural container walk WITHOUT decoding — the cheap pre-gate a
    * 100 TB validation scan runs before spending a full decode on bytes
    * that are obviously truncated or scrambled: JPEG marker-segment walk
    * to EOI (ITU-T T.81 §B: SOI, FF-marker segments with big-endian
    * lengths, standalone RSTn/TEM, entropy-coded scan after SOS), PNG
    * signature + chunk walk to IEND (RFC 2083 §3: length/type/data/CRC
    * frames), BMP 'BM' magic + declared file size ≤ actual. Returns
    * (kind, structurally-ok). Purely positional — never reads pixel
    * data, so cost is O(#segments), not O(#pixels); CRCs are NOT
    * verified (that is the decoder's job; this gate only proves the
    * frame sequence is intact end-to-end).
    */
  def containerFacts(bytes: Array[Byte]): (String, Boolean) = {
    if (bytes == null || bytes.length < 4) return ("none", false)
    val b = bytes
    val n = b.length
    def u8(i: Int): Int = b(i) & 0xff
    if (u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk marker segments from after SOI to EOI
      var i = 2
      var sawEoi = false
      var bad = false
      while (!sawEoi && !bad) {
        if (i + 1 >= n) { bad = true }
        else if (u8(i) != 0xff) { bad = true }
        else {
          // skip fill bytes
          var j = i
          while (j + 1 < n && u8(j + 1) == 0xff) j += 1
          if (j + 1 >= n) { bad = true }
          else {
            val marker = u8(j + 1)
            if (marker == 0xd9) sawEoi = true
            else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 2
            else if (marker == 0xda) {
              // entropy-coded scan: skip to the next non-RST marker
              var k = j + 2
              if (k + 1 < n) { // skip the SOS header itself
                val len = (u8(k) << 8) | u8(k + 1)
                k += len
              } else bad = true
              var found = false
              while (!found && !bad) {
                if (k + 1 >= n) bad = true
                else if (u8(k) == 0xff && u8(k + 1) != 0x00 &&
                  !(u8(k + 1) >= 0xd0 && u8(k + 1) <= 0xd7)) found = true
                else k += 1
              }
              i = k
            } else {
              if (j + 3 >= n) bad = true
              else {
                val len = (u8(j + 2) << 8) | u8(j + 3)
                if (len < 2 || j + 2 + len > n) bad = true
                else i = j + 2 + len
              }
            }
          }
        }
      }
      ("jpeg", sawEoi)
    } else if (u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') {
      if (n < 8) return ("png", false)
      var i = 8
      var sawEnd = false
      var bad = false
      while (!sawEnd && !bad) {
        if (i + 8 > n) bad = true
        else {
          val len = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
          val tpe = new String(b, i + 4, 4, "US-ASCII")
          if (len < 0 || i + 12 + len > n) bad = true
          else {
            if (tpe == "IEND") sawEnd = true
            i += 12 + len
          }
        }
      }
      ("png", sawEnd)
    } else if (b(0) == 'B' && b(1) == 'M') {
      if (n < 14) return ("bmp", false)
      val declared = (u8(2)) | (u8(3) << 8) | (u8(4) << 16) | (u8(5) << 24)
      ("bmp", declared > 14 && declared <= n)
    } else ("unknown", false)
  }

  /** Perceptual-quality facts from decoded pixels — the gates a
    * production image-curation pipeline runs beside integrity checks
    * (blur and exposure filtering; e.g. the LAION pipeline's aesthetic
    * pre-gates):
    *
    *   - sharpness: variance of the 4-neighbor Laplacian over interior
    *     luma (Pech-Pacheco et al., "Diatom autofocusing in brightfield
    *     microscopy", ICPR 2000 — the standard blur metric: a defocused
    *     image has near-zero second derivative everywhere);
    *   - brightness: mean luma (0-255);
    *   - contrast: luma standard deviation;
    *   - clip_lo/clip_hi: fraction of pixels at the black/white rails
    *     (luma ≤ 2 / ≥ 253) — under/over-exposure.
    *
    * All sums are exact Long integer arithmetic over integer luma
    * (BT.601 fixed-point: (299r + 587g + 114b) / 1000), divided once at
    * the end — bit-deterministic regardless of traversal or thread.
    * Returns (sharpness, brightness, contrast, clip_lo, clip_hi). */
  // thread-local luma scratch (same rationale as Phash's buffers: the
  // decode stage's per-image allocation rate was sagging multi-core
  // throughput); every cell < n is overwritten before any read
  private val lumaBuf = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](0)
  }

  def lumaQuality(px: Array[Int], w: Int, h: Int)
      : (Double, Double, Double, Double, Double) = {
    val n = w * h
    if (n == 0 || px.length != n) return (0.0, 0.0, 0.0, 0.0, 0.0)
    var luma = lumaBuf.get()
    if (luma.length < n) { luma = new Array[Int](n); lumaBuf.set(luma) }
    var i = 0
    var sy = 0L; var sy2 = 0L; var nLo = 0L; var nHi = 0L
    while (i < n) {
      val p = px(i)
      val y = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
        114 * (p & 0xff)) / 1000
      luma(i) = y
      sy += y; sy2 += y.toLong * y
      if (y <= 2) nLo += 1
      if (y >= 253) nHi += 1
      i += 1
    }
    var sl = 0L; var sl2 = 0L; var m = 0L
    var r = 1
    while (r < h - 1) {
      var c = 1
      while (c < w - 1) {
        val k = r * w + c
        val lap = 4 * luma(k) - luma(k - 1) - luma(k + 1) -
          luma(k - w) - luma(k + w)
        sl += lap; sl2 += lap.toLong * lap; m += 1
        c += 1
      }
      r += 1
    }
    val sharp =
      if (m == 0) 0.0
      else (m.toDouble * sl2 - sl.toDouble * sl) / (m.toDouble * m)
    val bright = sy.toDouble / n
    val contr = math.sqrt((n.toDouble * sy2 - sy.toDouble * sy) /
      (n.toDouble * n))
    (sharp, bright, contr, nLo.toDouble / n, nHi.toDouble / n)
  }

  /** PSNR in dB between two same-size packed-RGB images; +Inf if identical.
    * None if sizes differ or the images are empty.
    */
  def psnr(a: Array[Int], b: Array[Int]): Option[Double] = {
    if (a.length != b.length || a.length == 0) return None
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val pa = a(i); val pb = b(i)
      val dr = ((pa >> 16) & 0xff) - ((pb >> 16) & 0xff)
      val dg = ((pa >> 8) & 0xff) - ((pb >> 8) & 0xff)
      val db = (pa & 0xff) - (pb & 0xff)
      se += dr * dr + dg * dg + db * db
      i += 1
    }
    val mse = se / (3.0 * a.length)
    if (mse == 0.0) Some(Double.PositiveInfinity)
    else Some(10.0 * math.log10(255.0 * 255.0 / mse))
  }
}
