package graft.images

/** The decode kernels in their full-work form, kept as the reference the
  * production kernels are pinned bit-equal to ([[KernelIdentitySpec]]):
  *
  *   - the pHash family over the full 32×32 DCT-II (every one of the 1,024
  *     coefficients computed, each hash reading 64 of them);
  *   - the median from the generic `Array[Double].sorted`;
  *   - `synthPixels` evaluating all eight waves per pixel, and
  *     `truthPixels` built on it.
  *
  * The resamples (`toGray32`, `toGraySym`) and the cosine table are the
  * production ones: they are not part of what the reference pins.
  */
object KernelReference {
  import Phash.{N, cosTable}

  def dct2dFull(g: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](N * N)
    var y = 0
    while (y < N) {
      var u = 0
      while (u < N) {
        var s = 0.0; var x = 0
        while (x < N) { s += g(y * N + x) * cosTable(u * N + x); x += 1 }
        tmp(y * N + u) = s
        u += 1
      }
      y += 1
    }
    val out = new Array[Double](N * N)
    var u = 0
    while (u < N) {
      var v = 0
      while (v < N) {
        var s = 0.0; var y2 = 0
        while (y2 < N) { s += tmp(y2 * N + u) * cosTable(v * N + y2); y2 += 1 }
        out(v * N + u) = s
        v += 1
      }
      u += 1
    }
    out
  }

  private def bits(vals: Array[Double]): Long = {
    val sorted = vals.sorted
    val median = (sorted(31) + sorted(32)) / 2.0
    var b = 0L
    var i = 0
    while (i < 64) { if (vals(i) > median) b |= (1L << i); i += 1 }
    b
  }

  /** (u, v) of hash bit i: the 8×8 block skipping DC, then (0, 8). */
  val hashPos: IndexedSeq[(Int, Int)] =
    (for (v <- 0 until 8; u <- 0 until 8 if !(u == 0 && v == 0)) yield (u, v)) :+ ((0, 8))

  def phash64(px: Array[Int], w: Int, h: Int): Long = {
    val coef = dct2dFull(Phash.toGray32(px, w, h))
    val vals = new Array[Double](64)
    var i = 0
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        if (!(u == 0 && v == 0)) { vals(i) = coef(v * N + u); i += 1 }
        u += 1
      }
      v += 1
    }
    vals(63) = coef(8 * N)
    bits(vals)
  }

  def dihedralPhashes(px: Array[Int], w: Int, h: Int): Array[Long] = {
    val coef = dct2dFull(Phash.toGraySym(px, w, h))
    Array.tabulate(8) { k =>
      val tr = (k >> 2) == 1
      val su = k & 1; val sv = (k >> 1) & 1
      bits(hashPos.map { case (u, v) =>
        val c = if (tr) coef(u * N + v) else coef(v * N + u)
        if (((su * u + sv * v) & 1) == 1) -c else c
      }.toArray)
    }
  }

  def tilePhashes(px: Array[Int], w: Int, h: Int): Array[Long] = {
    val out = new Array[Long](4)
    if (w < 2 || h < 2 || px.length != w * h) return out
    val wl = (w + 1) / 2; val hl = (h + 1) / 2
    val qs = Array((0, 0, wl, hl), (wl, 0, w - wl, hl),
      (0, hl, wl, h - hl), (wl, hl, w - wl, h - hl))
    for (q <- 0 until 4) {
      val (x0, y0, qw, qh) = qs(q)
      if (qw >= 1 && qh >= 1) {
        val sub = Array.tabulate(qw * qh)(k => px((y0 + k / qw) * w + x0 + k % qw))
        out(q) = phash64(sub, qw, qh)
      }
    }
    out
  }

  def synthPixels(id: Long, w: Int, h: Int): Array[Int] = {
    val px = new Array[Int](w * h)
    val m = ImageCodec.mix64(id)
    val a = ((m & 0xff) / 255.0) * 2 * math.Pi
    val b = (((m >>> 8) & 0xff) / 255.0) * 2 * math.Pi
    val baseR = ((m >>> 16) & 0x7f) + 64
    val baseG = ((m >>> 24) & 0x7f) + 64
    val baseB = ((m >>> 32) & 0x7f) + 64
    val nWaves = 6
    val freqX = Array(1, 2, 3, 4, 5, 6)
    val freqY = Array(2, 1, 5, 3, 6, 4)
    val amp = Array.tabulate(nWaves)(k => 26.0 / (k + 1))
    val phase = Array.tabulate(nWaves)(k => (((m >>> (16 + 6 * k)) & 0x3f) / 63.0) * 2 * math.Pi)
    def clamp(v: Double): Int = math.max(0, math.min(255, v.toInt))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val fx = x.toDouble / w
        val fy = y.toDouble / h
        val s = 40 * math.sin(2 * math.Pi * fx + a) + 40 * math.cos(2 * math.Pi * fy + b)
        var t = 0.0
        var k = 0
        while (k < nWaves) {
          t += amp(k) * math.sin(2 * math.Pi * (freqX(k) * fx + freqY(k) * fy) + phase(k))
          k += 1
        }
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

  /** `ImageGen.truthPixels` over the reference synthesis. */
  def truthPixels(i: Long, w: Int, h: Int): Array[Int] = {
    import ImageGen._
    if (isMirrorDup(i)) {
      val a = mirrorAnchor(i)
      mirrorKind(i) match {
        case 0 =>
          val d = synthPixels(a, w, h)
          Array.tabulate(w * h)(k => d((k / w) * w + (w - 1 - k % w)))
        case 1 =>
          val d = synthPixels(a, w, h)
          Array.tabulate(w * h)(k => d((h - 1 - k / w) * w + k % w))
        case 2 =>
          val d = synthPixels(a, w, h)
          Array.tabulate(w * h)(k => d(w * h - 1 - k))
        case _ =>
          val d = synthPixels(a, h, w)
          Array.tabulate(w * h)(k => d((k % w) * h + k / w))
      }
    } else {
      val base = synthPixels(i, w, h)
      if (!isTileDup(i)) base
      else {
        val d = synthPixels(tileAnchor(i), w, h)
        val wl = (w + 1) / 2; val hl = (h + 1) / 2
        Array.tabulate(w * h)(k => if (k / w < hl && k % w < wl) d(k) else base(k))
      }
    }
  }
}
