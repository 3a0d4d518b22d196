package graft.images

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthesis of the north-rule input: the image+caption table
  * `(image_id, bytes, w, h, fmt, caption, phash, part)` with planted
  * defects at FIXTURES.md §2 rates. Seeded purely by row id (seed=42 mixed
  * in), so the dataset is identical at any parallelism / partition count —
  * the Spark twin of the reference's deterministic cache-keyed reruns
  * (/root/reference/src/crawl_first/cache.py:27-29).
  *
  * Generation is distributed (`spark.range(n)` → mapPartitions encode);
  * at 10^12-scale this is exactly how the table would be scanned, so the
  * generator doubles as the scale-model of the production source.
  */
object ImageGen {
  val Seed = 42L

  // defect rate boundaries on a uniform [0,1) draw (cumulative)
  private val DupId = 0.005
  private val MissingCaptionRow = DupId + 0.005 // image with no caption row
  private val NullCaption = MissingCaptionRow + 0.010
  private val NullBytes = NullCaption + 0.010
  private val BadDims = NullBytes + 0.005 // w/h <= 0 or mismatch decoded
  private val Sentinel = BadDims + 0.002 // w=h=0, empty bytes
  private val Corrupt = Sentinel + 0.003 // undecodable bytes
  private val BadPhash = Corrupt + 0.005 // stored phash flipped
  private val LowPsnr = BadPhash + 0.003 // noisy re-encode < 40 dB
  private val BadFmt = LowPsnr + 0.003 // fmt tag ≠ magic bytes
  private val CaptionMismatch = BadFmt + 0.003 // images.caption ≠ captions.caption

  val DriftedParts: Seq[Int] = Seq(1, 5)

  /** Tile-composite planting (partial-crop duplicates): ~2% of CLEAN-band
    * rows lift their top-left quadrant from an anchor ordinal's pattern.
    * Carved from the clean band by an INDEPENDENT draw, so every defect
    * rate above is untouched; the composite is the row's ground TRUTH
    * (both the generator and the facts expression use [[truthPixels]]),
    * so PSNR/caption/dims semantics are unchanged too. What changes is
    * geometry: composites share quadrant-0 content with their anchor
    * (and with sibling composites of the same anchor) while the full
    * image stays distinct — the signal q_dedup_phash_tiles detects.
    */
  val TileDupRate = 0.02

  def tileAnchor(i: Long): Long = (i / 101) * 101

  def isTileDup(i: Long): Boolean =
    u01(i ^ Seed) >= CaptionMismatch && tileAnchor(i) != i &&
      u01(i ^ 0x711eL) < TileDupRate

  /** D4-transform duplicate planting: ~1.5% of CLEAN-band rows (disjoint
    * from tile composites by construction) carry a FLIPPED/ROTATED copy
    * of an anchor ordinal's continuous pattern, sampled at the row's OWN
    * dims — transform drawn per ordinal from {flip-x, flip-y, rot180,
    * transpose} ([[mirrorKind]]) so every dihedral orbit branch is
    * exercised end-to-end, not just horizontal mirrors. Plain-pHash
    * banding is structurally blind to all four (each negates/permutes
    * ~half the DCT sign bits), while a dihedral variant probe
    * ([[Phash.dihedralPhashes]]) matches the anchor's plain hash — the
    * signal q_dedup_phash_mirror detects by multi-probe banding. Stored
    * lossless like tile composites (a real repost-dedup pipeline stores
    * masters lossless; keeps PSNR vs [[truthPixels]] exactly +Inf).
    */
  val MirrorDupRate = 0.015

  def mirrorAnchor(i: Long): Long = (i / 89) * 89

  def isMirrorDup(i: Long): Boolean =
    u01(i ^ Seed) >= CaptionMismatch && mirrorAnchor(i) != i &&
      !isTileDup(i) && u01(i ^ 0x312fL) < MirrorDupRate

  /** Which D4 transform a planted dup carries: 0 flip-x, 1 flip-y,
    * 2 rot180, 3 transpose. */
  def mirrorKind(i: Long): Int = (ImageCodec.mix64(i ^ 0x0d1eL) & 3).toInt

  /** Ground-truth pixels for ordinal `i` at dims (w, h): the id's synth
    * pattern, with the top-left quadrant replaced by the anchor's pattern
    * for planted tile composites. Resolution-free: both patterns are
    * sampled at (x/w, y/h), so the shared region is the same continuous
    * image content at any dims — which is why the anchor's and the
    * composite's quadrant-0 pHashes agree even when their dims differ.
    */
  def truthPixels(i: Long, w: Int, h: Int): Array[Int] = {
    if (isMirrorDup(i)) {
      // the anchor's continuous pattern under this ordinal's D4 transform,
      // sampled at the row's own dims: the same image content reflected/
      // rotated, so a dihedral probe matches the anchor at any resolution
      val a = mirrorAnchor(i)
      val out = new Array[Int](w * h)
      mirrorKind(i) match {
        case 0 => // flip-x
          val donor = ImageCodec.synthPixels(a, w, h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(y * w + x) = donor(y * w + (w - 1 - x)); x += 1 }
            y += 1
          }
        case 1 => // flip-y
          val donor = ImageCodec.synthPixels(a, w, h)
          var y = 0
          while (y < h) {
            System.arraycopy(donor, (h - 1 - y) * w, out, y * w, w)
            y += 1
          }
        case 2 => // rot180
          val donor = ImageCodec.synthPixels(a, w, h)
          var k = 0
          while (k < out.length) { out(k) = donor(out.length - 1 - k); k += 1 }
        case _ => // transpose: donor sampled at swapped dims (h × w grid)
          val donor = ImageCodec.synthPixels(a, h, w)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(y * w + x) = donor(x * h + y); x += 1 }
            y += 1
          }
      }
      return out
    }
    val base = ImageCodec.synthPixels(i, w, h)
    if (!isTileDup(i)) return base
    val donor = ImageCodec.synthPixels(tileAnchor(i), w, h)
    val wl = (w + 1) / 2
    val hl = (h + 1) / 2
    var y = 0
    while (y < hl) {
      System.arraycopy(donor, y * w, base, y * w, wl)
      y += 1
    }
    base
  }

  /** Defect class of ordinal `i` (documentation + test-oracle use). */
  def defectOf(i: Long): String = {
    val u = u01(i ^ Seed)
    if (u < DupId) "dup_id"
    else if (u < MissingCaptionRow) "missing_caption"
    else if (u < NullCaption) "null_caption"
    else if (u < NullBytes) "null_bytes"
    else if (u < BadDims) "bad_dims"
    else if (u < Sentinel) "sentinel"
    else if (u < Corrupt) "corrupt"
    else if (u < BadPhash) "bad_phash"
    else if (u < LowPsnr) "low_psnr"
    else if (u < BadFmt) "bad_fmt"
    else if (u < CaptionMismatch) "caption_mismatch"
    else "clean"
  }

  private val vocab = Array("ochre", "gradient", "skyline", "harbor", "meadow",
    "lattice", "drift", "ember", "cobalt", "prism", "thicket", "dune",
    "glacier", "mosaic", "harvest", "signal")

  def u01(x: Long): Double = ((ImageCodec.mix64(x) >>> 11) * (1.0 / (1L << 53)))

  def idStr(i: Long): String = f"img-$i%012d"

  def caption(i: Long): String = {
    val m = ImageCodec.mix64(i ^ (Seed * 0x9e37L))
    val n = 4 + (m & 3).toInt
    (0 until n).map(k => vocab(((m >>> (8 + 4 * k)) & 15).toInt)).mkString(" ")
  }

  def nParts(n: Long): Int = math.max(8, math.min(64, (n / 4096).toInt)) // ≥8 buckets

  /** Partition bucket: hash(image_id-ordinal) mod nParts — the `bucket(n,
    * image_id)` discipline from SURVEY.md §4; drifted partitions get their
    * stats shifted below.
    */
  def partOf(i: Long, np: Int): Int = (((ImageCodec.mix64(i ^ 0xabcdL) >>> 33) % np)).toInt

  case class GenRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                    fmt: String, caption: String, phash: Long, part: String)
  case class CapRow(image_id: String, caption: String, part: String)

  /** Build one deterministic image row for ordinal `i`. */
  def genRow(i: Long, np: Int): GenRow = {
    val u = u01(i ^ Seed)
    val part = partOf(i, np)
    val drifted = DriftedParts.contains(part)
    val m = ImageCodec.mix64(i * 31 + 7)
    // dims: 24..55; drifted parts shifted up by 16 (the W/H drift signal)
    val baseW = 24 + ((m >>> 3) & 31).toInt + (if (drifted) 16 else 0)
    val baseH = 24 + ((m >>> 9) & 31).toInt + (if (drifted) 16 else 0)
    // fmt skew: 90% jpeg / 7% png / 3% bmp (hot-key salting exercise).
    // Tile composites are forced lossless: the quadrant seam is a step
    // discontinuity that rings under JPEG quantization and would push
    // CLEAN rows below the 40 dB PSNR gate (measured 34.6–39.7 dB at
    // q=0.97) — and a real crop-composite pipeline stores masters
    // losslessly anyway. PNG keeps decode == truth, PSNR = +Inf.
    val uf = u01(i ^ 0x5eedL)
    val fmt =
      if (isTileDup(i) || isMirrorDup(i)) "png"
      else if (uf < 0.90) "jpeg" else if (uf < 0.97) "png" else "bmp"
    val px = truthPixels(i, baseW, baseH)
    val truePhash = Phash.phash64(px, baseW, baseH)
    val cap = caption(i)

    def enc(q: Float = 0.97f) = ImageCodec.encode(px, baseW, baseH, fmt, q)

    if (u < DupId) {
      // duplicate key: reuse a nearby row's id (content of our own)
      val other = if (i == 0) 1L else i - 1
      GenRow(idStr(other), enc(), baseW, baseH, fmt, cap, truePhash, s"p$part")
    } else if (u < MissingCaptionRow) {
      GenRow(idStr(i), enc(), baseW, baseH, fmt, cap, truePhash, s"p$part")
    } else if (u < NullCaption) {
      GenRow(idStr(i), enc(), baseW, baseH, fmt, null, truePhash, s"p$part")
    } else if (u < NullBytes) {
      GenRow(idStr(i), null, baseW, baseH, fmt, cap, truePhash, s"p$part")
    } else if (u < BadDims) {
      // asserted dims disagree with decoded (or non-positive)
      val badW = if ((m & 1) == 0) -baseW else baseW + 7
      GenRow(idStr(i), enc(), badW, baseH, fmt, cap, truePhash, s"p$part")
    } else if (u < Sentinel) {
      GenRow(idStr(i), Array.emptyByteArray, 0, 0, fmt, cap, truePhash, s"p$part")
    } else if (u < Corrupt) {
      val b = enc()
      // truncate + scramble header → undecodable
      val junk = b.take(math.max(8, b.length / 3))
      junk(0) = 0x00; junk(1) = 0x11
      GenRow(idStr(i), junk, baseW, baseH, fmt, cap, truePhash, s"p$part")
    } else if (u < BadPhash) {
      GenRow(idStr(i), enc(), baseW, baseH, fmt, cap, truePhash ^ 0xffff00ffL, s"p$part")
    } else if (u < LowPsnr) {
      // heavy noise then lowest-quality jpeg → PSNR < 40
      val noisy = px.clone()
      var k = 0
      while (k < noisy.length) {
        if ((ImageCodec.mix64(i * 1000003 + k) & 3) == 0) noisy(k) = noisy(k) ^ 0x7f7f7f
        k += 1
      }
      val b =
        if (fmt == "jpeg") ImageCodec.encode(noisy, baseW, baseH, "jpeg", 0.05f)
        else ImageCodec.encode(noisy, baseW, baseH, fmt)
      GenRow(idStr(i), b, baseW, baseH, fmt, cap, truePhash, s"p$part")
    } else if (u < BadFmt) {
      val wrongFmt = if (fmt == "jpeg") "png" else "jpeg"
      GenRow(idStr(i), ImageCodec.encode(px, baseW, baseH, wrongFmt), baseW, baseH,
        fmt, cap, truePhash, s"p$part")
    } else {
      // clean row (CaptionMismatch planted on the captions side)
      GenRow(idStr(i), enc(), baseW, baseH, fmt, cap, truePhash, s"p$part")
    }
  }

  /** The drift signal on phash for drifted partitions is carried by dims
    * (w/h+16 changes the pixel stats); detectable by the W/H KS check.
    */
  def genCaption(i: Long, np: Int): Option[CapRow] = {
    val u = u01(i ^ Seed)
    val part = partOf(i, np)
    if (u >= DupId && u < MissingCaptionRow) None // image has no caption row
    else if (u >= BadFmt && u < CaptionMismatch)
      Some(CapRow(idStr(i), caption(i) + " [edited]", s"p$part"))
    else Some(CapRow(idStr(i), caption(i), s"p$part"))
  }

  /** Orphan captions: ids beyond n (no image row), 0.5% of n. */
  def genOrphans(n: Long, np: Int): Seq[CapRow] = {
    val k = math.max(1L, n / 200)
    (n until n + k).map(i => CapRow(idStr(i), caption(i), s"p${partOf(i, np)}")).toSeq
  }

  /** Generate and write both tables under `outDir` (partitioned by `part`
    * for partition-pruned resume). Idempotent overwrite.
    */
  def write(spark: SparkSession, n: Long, outDir: String): Unit = {
    import spark.implicits._
    val np = nParts(n)
    // Repartition on `part` before the partitioned write: one compacted
    // file per partition directory instead of (#tasks × #parts) shards —
    // without it, every later scan pays per-file open/footer costs that
    // dwarf the work (the small-files problem; at petabyte scale the same
    // discipline is Iceberg compaction targeting ~512 MB files).
    // 1 MB row groups: a split boundary every ~700 rows, so the decode
    // stage can fan out to any core count even with one file per partition
    // (mirrors production files, where 128 MB row groups inside ~512 MB
    // files give the same splittability).
    val imgs: DataFrame = spark.range(0, n, 1,
        math.max(spark.sparkContext.defaultParallelism, np))
      .mapPartitions(_.map(i => genRow(i, np))).toDF()
    imgs.repartition(np, col("part"))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (1 << 20).toString)
      .partitionBy("part").parquet(s"$outDir/images")
    val caps = spark.range(0, n, 1, math.max(spark.sparkContext.defaultParallelism, np))
      .mapPartitions(_.flatMap(i => genCaption(i, np).iterator))
      .union(spark.createDataset(genOrphans(n, np)))
      .toDF()
    caps.repartition(np, col("part"))
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(s"$outDir/captions")
  }

  /** Bump when generation logic changes — invalidates cached datasets. */
  val GenVersion = 10 // r5: D4 dup planting over all four transform kinds

  /** Deterministic dataset dir for a row count (also used to EMBED paths in
    * oracle SQL without forcing generation first). */
  def dirFor(n: Long, baseDir: String = s"${graft.Tables.DataRoot}/images"): String =
    s"$baseDir/v$GenVersion-n$n"

  /** Generate-if-absent, keyed by row count; returns the dataset dir. */
  def ensure(spark: SparkSession, n: Long,
             baseDir: String = s"${graft.Tables.DataRoot}/images"): String = {
    val dir = dirFor(n, baseDir)
    val marker = new java.io.File(s"$dir/_DONE")
    if (!marker.exists()) {
      write(spark, n, dir)
      marker.getParentFile.mkdirs()
      java.nio.file.Files.writeString(marker.toPath, s"n=$n")
    }
    dir
  }

  /** The image table under `dir`, read with the [[GenRow]] schema every
    * writer of the table uses — no footer-inference job per read. */
  def images(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Encoders.product[GenRow].schema).parquet(s"$dir/images")

  /** The caption table under `dir`, read with the [[CapRow]] schema. */
  def captions(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Encoders.product[CapRow].schema).parquet(s"$dir/captions")
}
