package graft.images

/** 64-bit DCT perceptual hash (classic pHash construction): grayscale →
  * resample to 32×32 → 2-D DCT-II → top-left 8×8 low-frequency block
  * (skipping DC) + one extra coefficient → sign-vs-median bits.
  *
  * Every hash here reads coefficients with u, v ≤ 8 only, so [[dct2d]]
  * computes just that 9×9 corner of the 32×32 transform (81 of 1,024
  * coefficients): 32×9 row sums, then 9×9 column sums. Each computed
  * coefficient is the same sum over the same products in the same order
  * as in the full transform, so every hash is bit-equal to the one the
  * full DCT gives.
  *
  * The stored `phash` column is validated by recomputing this from decoded
  * bytes and bucketing the hamming distance — the graft twin of the
  * reference's elevation-difference buckets
  * (/root/reference/src/crawl_first/validation_agent.py:730-750).
  * Deterministic pure Scala; no native deps.
  */
object Phash {
  private[images] val N = 32
  /** Coefficients per axis the hashes read: u, v ∈ [0, K). */
  private[images] val K = 9

  // Thread-local scratch for the grayscale plane, the two DCT planes
  // (N×K row sums, K×K corner) and the tile sub-image: the hash kernels
  // run once per image (5× with quadrant tiles) on executor task threads,
  // and per-call allocation of these arrays dominated the decode stage's
  // allocation rate (GC pressure that measurably sagged per-core
  // throughput at local[4] in the spark-submit scaling twin). Every cell
  // of every plane is overwritten before it is read, so reuse cannot leak
  // state between calls; values are bit-identical to the allocating
  // version.
  private val bufGray = ThreadLocal.withInitial[Array[Double]](() => new Array[Double](N * N))
  private val bufTmp = ThreadLocal.withInitial[Array[Double]](() => new Array[Double](N * K))
  private val bufOut = ThreadLocal.withInitial[Array[Double]](() => new Array[Double](K * K))
  private val bufSub = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](0)
  }
  private def subBuf(n: Int): Array[Int] = {
    var b = bufSub.get()
    if (b.length < n) { b = new Array[Int](n); bufSub.set(b) }
    b
  }

  /** Mean-pool (area-average) resample of packed-RGB to N×N grayscale. */
  private[images] def toGray32(px: Array[Int], w: Int, h: Int): Array[Double] = {
    val g = bufGray.get()
    var gy = 0
    while (gy < N) {
      val y0 = gy * h / N; val y1 = math.max(y0 + 1, (gy + 1) * h / N)
      var gx = 0
      while (gx < N) {
        val x0 = gx * w / N; val x1 = math.max(x0 + 1, (gx + 1) * w / N)
        var sum = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = px(y * w + x)
            sum += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        g(gy * N + gx) = sum / n
        gx += 1
      }
      gy += 1
    }
    g
  }

  private[images] lazy val cosTable: Array[Double] = {
    val t = new Array[Double](N * N)
    var u = 0
    while (u < N) {
      var x = 0
      while (x < N) {
        t(u * N + x) = math.cos((2 * x + 1) * u * math.Pi / (2.0 * N))
        x += 1
      }
      u += 1
    }
    t
  }

  /** The K×K low-frequency corner of the 2-D DCT-II of an N×N block,
    * row-major by v (`out(v * K + u)`), by row-column decomposition: a
    * row pass of N rows × K values of u, then a column pass of K × K,
    * O(N²K + NK²) instead of the full transform's O(N³). Each coefficient
    * sums the same products in the same order (x, then y ascending) as
    * the full N×N transform, so it is bit-equal to that transform's
    * coefficient. */
  private def dct2d(g: Array[Double]): Array[Double] = {
    val tmp = bufTmp.get()
    var y = 0
    while (y < N) { // DCT along rows
      var u = 0
      while (u < K) {
        var s = 0.0; var x = 0
        while (x < N) { s += g(y * N + x) * cosTable(u * N + x); x += 1 }
        tmp(y * K + u) = s
        u += 1
      }
      y += 1
    }
    val out = bufOut.get()
    var u = 0
    while (u < K) { // DCT along columns
      var v = 0
      while (v < K) {
        var s = 0.0; var y2 = 0
        while (y2 < N) { s += tmp(y2 * K + u) * cosTable(v * N + y2); y2 += 1 }
        out(v * K + u) = s
        v += 1
      }
      u += 1
    }
    out
  }

  /** 64-bit pHash of packed-RGB pixels: the 8×8 low-frequency block
    * skipping (0,0) DC, plus coefficient (u=0, v=8) to keep 64 bits —
    * the identity reading of [[dihedralIdx]]. */
  def phash64(px: Array[Int], w: Int, h: Int): Long = {
    val coef = dct2d(toGray32(px, w, h))
    val idx = dihedralIdx(0)
    val vals = new Array[Double](64)
    var i = 0
    while (i < 64) { vals(i) = coef(idx(i)); i += 1 }
    hashFromVals(vals)
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** The 64 coefficient positions the hash reads: the 8×8 low-frequency
    * block skipping DC, plus (u=0, v=8) to round out 64 bits. Shared by
    * [[phash64]]'s layout and the dihedral variants so bit i always means
    * the same (u, v) pair. */
  private val hashPos: Array[(Int, Int)] = {
    val b = Array.newBuilder[(Int, Int)]
    var v = 0
    while (v < 8) { var u = 0; while (u < 8) { if (!(u == 0 && v == 0)) b += ((u, v)); u += 1 }; v += 1 }
    b += ((0, 8))
    b.result()
  }

  /** Per-variant coefficient index and negation flag, hoisted out of the
    * per-image orbit loop: variant k's bit i reads coef(dihedralIdx(k)(i))
    * negated iff dihedralNeg(k)(i). The previous shape destructured a
    * boxed (Int, Int) tuple and re-derived transpose/sign arithmetic
    * 8 × 64 times per decoded image — measurable pointer-chase in the
    * kernel this file otherwise keeps allocation-free. */
  private[images] val dihedralIdx: Array[Array[Int]] = Array.tabulate(8) { k =>
    val tr = (k >> 2) == 1
    Array.tabulate(64) { i =>
      val (u, v) = hashPos(i)
      if (tr) u * K + v else v * K + u
    }
  }
  private val dihedralNeg: Array[Array[Boolean]] = Array.tabulate(8) { k =>
    val su = k & 1; val sv = (k >> 1) & 1
    Array.tabulate(64) { i =>
      val (u, v) = hashPos(i)
      ((su * u + sv * v) & 1) == 1
    }
  }

  /** Sign-vs-median bits of 64 coefficients. The median sorts a primitive
    * copy with `java.util.Arrays.sort`, whose order is `Double.compare`'s
    * total order — the order `Array[Double].sorted` uses, without boxing. */
  private def hashFromVals(vals: Array[Double]): Long = {
    val sorted = vals.clone()
    java.util.Arrays.sort(sorted)
    val median = (sorted(31) + sorted(32)) / 2.0
    var bits = 0L
    var i = 0
    while (i < 64) { if (vals(i) > median) bits |= (1L << i); i += 1 }
    bits
  }

  /** Fractional-weight (true box-filter) N×N grayscale resample for the
    * dihedral hash family: each output cell integrates the real box
    * [gx·w/N, (gx+1)·w/N) × [gy·h/N, (gy+1)·h/N) with fractional edge
    * weights. Unlike [[toGray32]]'s floor-boundary boxes, this partition
    * is EXACTLY flip/transpose-symmetric for ANY dims — every boundary
    * is the dyadic rational g·w/32 (exact in binary fp), and a flip maps
    * cell gx's box onto cell N−1−gx's box as the same real interval. So
    * a mirrored image's resample IS the mirrored resample (up to fp
    * summation order, ≤1 ulp), and the coefficient-space D4 transforms
    * below hold to hash exactness instead of drowning in box-edge noise
    * (floor boxes measured 8–14 flipped bits at 24–55 px dims, where
    * boxes are 1–2 px wide and a 1-px misalignment replaces a cell's
    * whole content).
    */
  private[images] def toGraySym(px: Array[Int], w: Int, h: Int): Array[Double] = {
    val g = bufGray.get()
    val sx = w / 32.0; val sy = h / 32.0 // exact: small int / power of 2
    var gy = 0
    while (gy < N) {
      val y0 = gy * sy; val y1 = y0 + sy
      val iy0 = y0.toInt; val iy1 = math.min(h - 1, math.ceil(y1).toInt - 1)
      var gx = 0
      while (gx < N) {
        val x0 = gx * sx; val x1 = x0 + sx
        val ix0 = x0.toInt; val ix1 = math.min(w - 1, math.ceil(x1).toInt - 1)
        var sum = 0.0
        var y = iy0
        while (y <= iy1) {
          val wy = math.min(y + 1.0, y1) - math.max(y.toDouble, y0)
          var x = ix0
          while (x <= ix1) {
            val wx = math.min(x + 1.0, x1) - math.max(x.toDouble, x0)
            val p = px(y * w + x)
            sum += wy * wx * (0.299 * ((p >> 16) & 0xff) +
              0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff))
            x += 1
          }
          y += 1
        }
        g(gy * N + gx) = sum / (sx * sy)
        gx += 1
      }
      gy += 1
    }
    g
  }

  /** All eight dihedral-group (D4) pHashes from ONE resample + ONE DCT.
    *
    * DCT-II symmetry does the transforms in coefficient space: flipping
    * the image along x negates every odd-u coefficient
    * (cos((2(N-1-x)+1)uπ/2N) = (−1)^u cos((2x+1)uπ/2N)), flipping along y
    * negates odd-v, and transposing swaps (u, v). The eight group elements
    * are exactly {transpose? × sign(−1)^(su·u+sv·v)}, so each variant hash
    * is a sign/permutation re-read of the same DCT corner — no second
    * pixel pass, no second transform. Index k = tr·4 + sv·2 + su:
    * k=0 identity, k=1 flip-x, k=2 flip-y, k=3 rot180, k=4 transpose,
    * k=5 rot90(T∘flip-x side), k=6 rot270, k=7 anti-transpose.
    *
    * Built on [[toGraySym]] (NOT [[toGray32]]): the symmetric resample
    * makes variant k of an image match variant k∘m of its m-transform to
    * fp noise for ANY dims, so hash(k, I) ≈ hash(identity, mirror(I))
    * within ~1 bit — the multi-probe banding's whole budget then goes to
    * genuine cross-resolution differences. Consequence: variant 0 is the
    * symmetric-resample sibling of [[phash64]], near it but NOT bit-equal;
    * the mirror rung compares within this family only.
    */
  def dihedralPhashes(px: Array[Int], w: Int, h: Int): Array[Long] = {
    val coef = dct2d(toGraySym(px, w, h))
    val out = new Array[Long](8)
    val vals = new Array[Double](64)
    var k = 0
    while (k < 8) {
      val idx = dihedralIdx(k); val neg = dihedralNeg(k)
      var i = 0
      while (i < 64) {
        val c = coef(idx(i))
        vals(i) = if (neg(i)) -c else c
        i += 1
      }
      out(k) = hashFromVals(vals)
      k += 1
    }
    out
  }

  // NOTE deliberately NO "canonical = min of the 8" reduction: the orbit
  // hashes are 8 widely-separated 64-bit values, so min-selection is
  // noise-FRAGILE — one resample-rounding bit flipped high in the current
  // minimum swaps WHICH variant wins and two mirrors land on different
  // orbit elements (measured: 57% of planted cross-resolution mirror
  // pairs beyond hamming 24). Mirror detection instead multi-probes: band
  // every variant hash against every plain hash (DedupQueries
  // .bandedDihedralPairs), which only ever compares corresponding orbit
  // elements and degrades by rounding noise alone.

  /** Per-quadrant 64-bit pHashes (TL, TR, BL, BR) — the tile signatures
    * behind partial-crop/region duplicate detection: a composite image
    * that lifted one region from another image shares that quadrant's
    * hash while the full-image hash diverges. Each quadrant is resampled
    * to the same 32×32 grid, so tiles of images at different resolutions
    * remain comparable (the pattern, not the pixel count, is hashed).
    * Quadrant split is ceil-floor: left/top halves get the extra pixel
    * on odd dims; any quadrant degenerating below 1×1 yields 0L.
    */
  def tilePhashes(px: Array[Int], w: Int, h: Int): Array[Long] = {
    val out = new Array[Long](4)
    if (w < 2 || h < 2 || px.length != w * h) return out
    val wl = (w + 1) / 2; val hl = (h + 1) / 2
    val qs = Array((0, 0, wl, hl), (wl, 0, w - wl, hl),
      (0, hl, wl, h - hl), (wl, hl, w - wl, h - hl))
    var q = 0
    while (q < 4) {
      val (x0, y0, qw, qh) = qs(q)
      if (qw >= 1 && qh >= 1) {
        val sub = subBuf(qw * qh)
        var y = 0
        while (y < qh) {
          System.arraycopy(px, (y0 + y) * w + x0, sub, y * qw, qw)
          y += 1
        }
        out(q) = phash64(sub, qw, qh)
      }
      q += 1
    }
    out
  }
}
