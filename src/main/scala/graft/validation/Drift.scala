package graft.validation

import graft.sketch.TDigest
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Distribution-drift checks (V10): per-partition w/h distributions vs a
  * baseline snapshot — chi-square over bucketed counts (exchange-friendly:
  * one groupBy) and KS over mergeable t-digest quantile sketches (driver
  * computes the statistic from two small digests, SURVEY.md §2.10).
  *
  * Reference analogue: records validated against study peers + hardcoded
  * priors (/root/reference/src/crawl_first/validation_agent.py:85-109,
  * 258-305); here the "peers" are the other partitions (global baseline)
  * or a persisted snapshot table.
  */
object Drift {

  val BucketWidth = 8.0

  /** Mergeable t-digest aggregator over a double column. */
  class TDigestAgg(compression: Double = 100.0)
      extends Aggregator[Double, TDigest, Array[Byte]] {
    def zero: TDigest = new TDigest(compression)
    def reduce(b: TDigest, a: Double): TDigest = { b.add(a); b }
    def merge(a: TDigest, b: TDigest): TDigest = a.merge(b)
    def finish(r: TDigest): Array[Byte] = r.toBytes
    def bufferEncoder = Encoders.kryo[TDigest]
    def outputEncoder = Encoders.BINARY
  }

  /** Long-form (part, colname, value) for the drift columns w, h. */
  private def melted(images: DataFrame): DataFrame =
    images.select(col("part"),
        explode(array(
          struct(lit("w").as("colname"), col("w").cast("double").as("value")),
          struct(lit("h").as("colname"), col("h").cast("double").as("value")))).as("e"))
      .select(col("part"), col("e.colname").as("colname"), col("e.value").as("value"))

  /** Bucketed histogram per (part, colname, bucket). */
  def histogram(images: DataFrame): DataFrame =
    melted(images)
      .groupBy(col("part"), col("colname"),
        floor(col("value") / BucketWidth).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Segmented drift: for EVERY segment, chi-square of the segment's
    * bucketed value distribution against the corpus distribution —
    * "which partition drifted", not just "did anything drift". Expected
    * counts are the corpus bucket shares scaled to the segment total
    * (the standard goodness-of-fit framing); buckets the corpus holds
    * but the segment lacks contribute their full expected mass, so a
    * COLLAPSED segment (all mass in few buckets) flags as hard as an
    * inflated one. `drifted` thresholds chi²/n_buckets so the verdict is
    * count-scale-stable across segments of different sizes.
    *
    * Scale: ONE scan → one groupBy on (segment, bucket); the corpus
    * histogram re-aggregates the segment histogram (zone-count-sized, no
    * second scan) and broadcasts back. Works unchanged as the per-`part`
    * drift attribution of a 10^12-row validation run.
    */
  def segmentedChiSq(d: DataFrame, segCol: String, valueCol: String,
                     bucketWidth: Double, threshold: Double): DataFrame = {
    val seg = d.filter(col(valueCol).isNotNull)
      .groupBy(col(segCol).as("segment"),
        floor(col(valueCol) / bucketWidth).as("bucket"))
      .agg(count(lit(1)).as("obs"))
    val corpus = seg.groupBy("bucket").agg(sum("obs").as("corpus_cnt"))
    val corpusTot = corpus.agg(sum("corpus_cnt").as("corpus_tot"))
    val segTot = seg.groupBy("segment").agg(sum("obs").as("seg_tot"))
    // full outer on the bucket grid per segment: corpus buckets the
    // segment lacks still contribute (0 − e)²/e
    val grid = segTot.crossJoin(broadcast(corpus))
      .join(seg, Seq("segment", "bucket"), "left")
      .na.fill(0L, Seq("obs"))
    grid.crossJoin(broadcast(corpusTot))
      .withColumn("e", col("seg_tot").cast("double") *
        col("corpus_cnt").cast("double") / col("corpus_tot").cast("double"))
      .withColumn("term",
        (col("obs").cast("double") - col("e")) *
          (col("obs").cast("double") - col("e")) / col("e"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_buckets"),
        round(sum(col("term")), 6).as("chi2"))
      .withColumn("drifted", col("chi2") / col("n_buckets") > threshold)
      .orderBy("segment")
  }

  /** PSI threshold (industry-standard banded drift score: <0.1 stable,
    * 0.1–0.2 moderate, >0.2 significant shift). */
  val DriftPsiMax = 0.2

  /** The union bucket grid of each (part, colname) against a persisted
    * baseline histogram: every baseline bucket instantiated per partition,
    * full-outer'd with the observed buckets so novel support survives.
    * Columns part, colname, bucket, obs and g_cnt (0 where absent), and
    * the totals p_tot and g_tot. Shared by the baseline drift statistics.
    */
  private def unionGrid(images: DataFrame, baselineHist: DataFrame): DataFrame = {
    val ph = histogram(images).withColumnRenamed("cnt", "obs")
    val ptot = ph.groupBy("part", "colname").agg(sum("obs").as("p_tot"))
    val g = baselineHist.select(col("colname"), col("bucket"), col("cnt").as("g_cnt"))
    val gtot = g.groupBy("colname").agg(sum("g_cnt").as("g_tot"))
    val bgrid = ptot.select("part", "colname").join(broadcast(g), Seq("colname"))
    bgrid.join(ph, Seq("part", "colname", "bucket"), "full_outer")
      .na.fill(0L, Seq("obs", "g_cnt"))
      .join(ptot, Seq("part", "colname"))
      .join(broadcast(gtot), Seq("colname"))
  }

  /** Half-count smoothed bucket shares over a [[unionGrid]]: pp for the
    * partition, pg for the baseline, each (cnt + 0.5) / (tot + 0.5·nb)
    * with nb the grid's bucket count.
    */
  private def smoothedShares(grid: DataFrame): DataFrame =
    grid
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("part", "colname")))
      .withColumn("pp", (col("obs").cast("double") + lit(0.5)) /
        (col("p_tot").cast("double") + lit(0.5) * col("nb").cast("double")))
      .withColumn("pg", (col("g_cnt").cast("double") + lit(0.5)) /
        (col("g_tot").cast("double") + lit(0.5) * col("nb").cast("double")))

  /** Oracle-able relational twin of the chi² leg of [[finalizeOne]] against
    * a persisted baseline histogram: per (part, colname), the normalized
    * smoothed chi² over the UNION of baseline and partition buckets —
    * buckets the baseline holds but the partition lacks contribute their
    * full expected mass, buckets observed outside the baseline's support
    * get the half-count smoothed expectation. Bit-for-bit the same
    * statistic the sketch path computes (integer histograms, no sketch
    * approximation in the chi² leg — DriftBaselineSpec pins equality);
    * being pure relational math it is DuckDB-replayable, which the
    * t-digest KS leg is not. Scale: one (part, colname, bucket) groupBy
    * over the scan + broadcast of the zone-count-sized baseline.
    */
  def baselineChiSq(images: DataFrame, baselineHist: DataFrame): DataFrame =
    unionGrid(images, baselineHist)
      .withColumn("e", when(col("g_cnt") > 0,
          col("p_tot").cast("double") * col("g_cnt").cast("double") /
            col("g_tot").cast("double"))
        .otherwise(col("p_tot").cast("double") * 0.5 / col("g_tot").cast("double")))
      .withColumn("term",
        (col("obs").cast("double") - col("e")) *
          (col("obs").cast("double") - col("e")) / col("e"))
      .groupBy("part", "colname")
      .agg(count(lit(1)).as("n_buckets"),
        round(sum(col("term")) /
          greatest(max("p_tot"), lit(1L)).cast("double"), 6).as("chi2"))
      .withColumn("drifted", col("chi2") > ImageSuite.DriftChi2Max)

  /** PSI (population stability index) per (part, colname) against a
    * persisted baseline histogram: Σ (p_i − q_i)·ln(p_i/q_i) over the
    * UNION bucket grid with half-count smoothing — p_i = (obs_i + 0.5) /
    * (p_tot + 0.5·nb) and likewise for the baseline, so every term is
    * finite AND mass that moved into buckets the other side lacks still
    * carries signal. (An earlier inner-join-and-renormalize variant was
    * mathematically blind to pure support SHIFTS: the generator's planted
    * drift moves w/h by two whole bucket widths, the shared support
    * renormalized to ≈(0.5, 0.5) on both sides, and PSI read ≈0 on the
    * very partitions planted as drifted — DriftBaselineSpec now pins the
    * detection.) Every input is an exact integer, so both engines land
    * the identical doubles; ln rides the round-6 discipline. Complements
    * chi² (count-scale sensitive) and KS (max-deviation) on the
    * north-star image table's w/h.
    */
  def baselinePsi(images: DataFrame, baselineHist: DataFrame): DataFrame =
    smoothedShares(unionGrid(images, baselineHist))
      .withColumn("term", (col("pp") - col("pg")) * log(col("pp") / col("pg")))
      .groupBy("part", "colname")
      .agg(count(lit(1)).as("n_buckets"), round(sum(col("term")), 6).as("psi"))
      .withColumn("drifted", col("psi") > DriftPsiMax)

  /** EMD flag threshold in bucket-width units: the generator's planted
    * drift shifts dims by exactly two bucket widths (EMD ≈ 2.0); clean
    * partitions sit at sampling noise ≪ 0.1, so half a bucket separates
    * the classes with wide margin on both sides.
    */
  val DriftEmdMax = 0.5

  /** Earth mover's distance (Wasserstein-1) per (part, colname) against a
    * persisted baseline histogram, in bucket-width units: Σ_i |CDF_p(i) −
    * CDF_g(i)|·span_i over the union bucket grid, where span_i covers the
    * gap to the next occupied bucket (the CDF difference is constant over
    * unoccupied positions, so sparse grids stay exact). Completes the
    * drift family along a third axis: chi² is count-scale sensitive, KS
    * is max-deviation, PSI is mass-reallocation — EMD is the only one
    * that scales with HOW FAR mass moved, so a two-bucket shift reads
    * exactly 2.0 while chi²/PSI read the same as a one-bucket shift.
    *
    * Cross-engine determinism: the cumulative difference is kept as the
    * exact BIGINT cross-product obs·g_tot − g_cnt·p_tot (order-free
    * integer sums; |cum| ≤ p_tot·g_tot ≈ 5·10⁹ at sf0.1, and the
    * span-weighted sum stays ≪ 2⁵³, so the single terminal division
    * lands the identical double on both engines). Scale: one groupBy on
    * (part, colname, bucket) + a window over bucket-count-sized frames.
    */
  def baselineEmd(images: DataFrame, baselineHist: DataFrame): DataFrame = {
    val w = Window.partitionBy("part", "colname").orderBy("bucket")
    unionGrid(images, baselineHist)
      .withColumn("diff", col("obs") * col("g_tot") - col("g_cnt") * col("p_tot"))
      .withColumn("cum", sum("diff").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("span",
        coalesce(lead("bucket", 1).over(w) - col("bucket"), lit(0L)))
      .groupBy("part", "colname")
      .agg(count(lit(1)).as("n_buckets"),
        round(sum(abs(col("cum")) * col("span")).cast("double") /
          (max("p_tot") * max("g_tot")).cast("double"), 6).as("emd"))
      .withColumn("drifted", col("emd") > DriftEmdMax)
  }

  /** JSD flag threshold in nats. JSD is bounded by ln 2 ≈ 0.693; the
    * generator's planted two-bucket dim shift moves essentially all mass
    * off the shared support (JSD → ln 2), while clean partitions sit at
    * smoothing/sampling noise ≪ 0.05 — an order of magnitude of margin
    * on both sides of 0.1. */
  val DriftJsdMax = 0.1

  /** Jensen–Shannon divergence per (part, colname) against a persisted
    * baseline histogram, in nats: JSD(p‖q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m)
    * with m = (p+q)/2, over the same union bucket grid and half-count
    * smoothing as [[baselinePsi]] (Lin, "Divergence measures based on the
    * Shannon entropy", IEEE Trans. IT 1991). Completes the drift family
    * with a SYMMETRIC, BOUNDED score: PSI is unbounded and explodes on
    * support loss, chi² scales with count, KS sees only the worst bucket —
    * JSD ∈ [0, ln 2] is comparable across columns and run sizes, which is
    * what a fleet-wide drift dashboard thresholds on. Same exact-integer
    * inputs → identical doubles on both engines; one groupBy over the
    * scan + broadcast of the bucket-count-sized baseline.
    */
  def baselineJsd(images: DataFrame, baselineHist: DataFrame): DataFrame =
    smoothedShares(unionGrid(images, baselineHist))
      .withColumn("m", (col("pp") + col("pg")) / lit(2.0))
      .withColumn("term", (col("pp") * log(col("pp") / col("m")) +
        col("pg") * log(col("pg") / col("m"))) / lit(2.0))
      .groupBy("part", "colname")
      .agg(count(lit(1)).as("n_buckets"), round(sum(col("term")), 6).as("jsd"))
      .withColumn("drifted", col("jsd") > DriftJsdMax)

  /** Baseline snapshot: global histogram + per-column global t-digest. */
  def snapshot(spark: SparkSession, images: DataFrame, dir: String): Unit = {
    histogram(images).groupBy("colname", "bucket").agg(sum("cnt").as("cnt"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/histogram")
    digests(images, byPart = false)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/digests")
  }

  def readBaseline(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/histogram")

  /** Per-(part?, colname) t-digest sketches. */
  def digests(images: DataFrame, byPart: Boolean): DataFrame = {
    val td = udaf(new TDigestAgg())
    val m = melted(images)
    if (byPart) m.groupBy("part", "colname").agg(td(col("value")).as("sketch"))
    else m.groupBy("colname").agg(td(col("value")).as("sketch"))
  }

  /** Per-input-split partial state: one t-digest + one bucket histogram
    * per (part, colname) — built in plain Scala (no per-row aggregator
    * buffer serialization), merged associatively.
    */
  case class DriftPartial(part: String, colname: String,
                          sketch: Array[Byte], buckets: Map[Long, Long]) {
    def merge(o: DriftPartial): DriftPartial = {
      val td = TDigest.fromBytes(sketch).merge(TDigest.fromBytes(o.sketch))
      val b = (buckets.keySet ++ o.buckets.keySet).map(k =>
        k -> (buckets.getOrElse(k, 0L) + o.buckets.getOrElse(k, 0L))).toMap
      DriftPartial(part, colname, td.toBytes, b)
    }
  }

  /** One narrow pass over `images` building mergeable per-(part, colname)
    * partials (t-digest + bucket histogram), reduced per key — a KB-scale
    * shuffle. Stays DISTRIBUTED (a Dataset): only callers that persist the
    * partials or finalize driver-side ever collect it.
    */
  def partials(images: DataFrame): Dataset[DriftPartial] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("part"), col("w").cast("double"), col("h").cast("double"))
      .as[(String, Double, Double)]
      .mapPartitions { it =>
        val tds = scala.collection.mutable.Map[(String, String), TDigest]()
        val hists = scala.collection.mutable.Map[(String, String), scala.collection.mutable.Map[Long, Long]]()
        def add(p: String, c: String, v: Double): Unit = {
          tds.getOrElseUpdate((p, c), new TDigest(100)).add(v)
          val h = hists.getOrElseUpdate((p, c), scala.collection.mutable.Map[Long, Long]())
          val b = math.floor(v / BucketWidth).toLong
          h(b) = h.getOrElse(b, 0L) + 1L
        }
        it.foreach { case (p, w, h) => add(p, "w", w); add(p, "h", h) }
        tds.iterator.map { case ((p, c), td) =>
          DriftPartial(p, c, td.toBytes, hists((p, c)).toMap)
        }
      }
      .groupByKey(x => (x.part, x.colname))
      .reduceGroups((a, b) => a.merge(b))
      .map(_._2)
  }

  /** Persisted partials as a DATASET — the resume path unions these with
    * fresh partials and finalizes via [[verdictsAuto]], so a 10^6-partition
    * table's stored sketches never funnel through the driver either.
    */
  def readPartialsDS(spark: SparkSession, dir: String): Dataset[DriftPartial] = {
    import spark.implicits._
    // missing dir = first run; a genuine read error must propagate, not
    // silently drop the baseline contribution of done partitions
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.emptyDataset[DriftPartial]
    else
      // declared schema: no footer-inference job per read. Canonical
      // column order: the partitioned layout lists `part` last, and
      // Dataset.union is positional
      spark.read.schema(Encoders.product[DriftPartial].schema).parquet(dir)
        .select("part", "colname", "sketch", "buckets").as[DriftPartial]
  }

  /** Persist partials (ST2 resume: done partitions are never re-scanned
    * for drift — their sketches merge from [[readPartialsDS]] instead).
    * Dynamic partition overwrite keyed by `part` so a crash-retry replaces
    * the crashed run's partials instead of duplicating them (a duplicate
    * partial would double that partition's histogram on merge).
    */
  def writePartialsDS(partials: Dataset[DriftPartial], dir: String): Unit =
    PartitionedStore.write(partials.toDF(), dir)

  /** Above this many (part, colname) partials the final chi²/KS math moves
    * into executors (broadcast baseline, distributed finalize): one ~KB
    * partial per key is harmless to collect up to ~10^5 keys, but a
    * 10^6-partition table must not funnel through the driver.
    */
  val DriverFinalizeMaxPartials = 100000

  /** Drift verdicts per partition: chi-square (bucketed counts vs baseline
    * proportions) + KS (t-digest CDFs) — both statistics from ONE narrow
    * pass that builds mergeable partials per input split, reduced per
    * (part, colname) (a KB-scale shuffle), final math on the driver. At
    * 10^12 rows the identical partials flow through the same
    * groupByKey/reduceGroups; only the final few-hundred-row collect ever
    * reaches the driver. With `baselineDir`, the reference histogram and
    * digests come from the persisted snapshot; otherwise the merged global
    * is the baseline. Returns (verdicts, violations).
    */
  def check(images: DataFrame, runId: String,
            baselineDir: Option[String] = None,
            driverFinalizeMax: Int = DriverFinalizeMaxPartials): (DataFrame, DataFrame) =
    verdictsAuto(images.sparkSession, partials(images), runId, baselineDir,
      driverFinalizeMax)

  /** Route a partial set through the driver-side or distributed finalize
    * depending on its size (shared by [[check]] and the resume path).
    */
  def verdictsAuto(spark: SparkSession, pds: Dataset[DriftPartial], runId: String,
                   baselineDir: Option[String] = None,
                   driverFinalizeMax: Int = DriverFinalizeMaxPartials)
      : (DataFrame, DataFrame) = {
    val cached = pds.persist()
    if (cached.count() <= driverFinalizeMax) {
      val r = verdictsFrom(spark, cached.collect(), runId, baselineDir)
      cached.unpersist()
      r
    } else {
      // Persist the RESULT frames (one row per part×check — far smaller
      // than the partials), materialize them, then release the partials:
      // leaving the partial set cached for the caller to maybe-release
      // leaked executor storage across repeated large checks in one
      // session. The verdict frames stay valid after the source unpersist
      // because every partition is already computed and cached. CALLERS
      // unpersist the returned frames once written (ImageSuite's
      // increment paths do; unpersist is a no-op for the driver-side
      // branch's unpersisted frames, so callers need not branch).
      val (verd, viol) = verdictsDistributed(spark, cached, runId, baselineDir)
      val vp = verd.persist(); val wp = viol.persist()
      vp.count(); wp.count()
      cached.unpersist()
      (vp, wp)
    }
  }

  /** The per-partial finalize math — shared verbatim by the driver-side and
    * distributed paths: with a persisted baseline both produce bit-identical
    * verdicts; with a DERIVED global baseline the t-digest reduce order
    * differs between paths, so KS agrees to sketch tolerance while chi²
    * (integer histograms) stays exact (DriftDistributedSpec asserts both).
    *
    * Normalized chi-square: raw statistic over the FULL union of baseline
    * and partition buckets, divided by the partition row count — a
    * scale-invariant effect size (see ImageSuite.DriftChi2Max). Buckets
    * observed outside the baseline's support get a half-count smoothed
    * expected value, so mass that drifted into novel buckets contributes
    * to the statistic instead of being silently dropped. `pTot.toDouble`
    * BEFORE the multiply: two large Longs would overflow at design scale.
    */
  private[validation] def finalizeOne(p: DriftPartial,
      globalHist: Map[String, Map[Long, Long]],
      globalDig: Map[String, Array[Byte]], runId: String): Seq[Verdict] = {
    val g = globalHist(p.colname)
    val gTot = g.values.sum.toDouble
    val pTot = p.buckets.values.sum
    val chi2 = (g.keySet ++ p.buckets.keySet).toSeq.map { b =>
      val gCnt = g.getOrElse(b, 0L)
      val o = p.buckets.getOrElse(b, 0L).toDouble
      val e = if (gCnt > 0) pTot.toDouble * gCnt / gTot
              else pTot.toDouble * 0.5 / gTot // smoothed: novel support
      if (e > 0) (o - e) * (o - e) / e else 0.0
    }.sum / math.max(1L, pTot)
    val ks = TDigest.ks(TDigest.fromBytes(p.sketch), TDigest.fromBytes(globalDig(p.colname)))
    Seq(
      Verdict(p.part, s"drift_chi2_${p.colname}", chi2 <= ImageSuite.DriftChi2Max,
        chi2, ImageSuite.DriftChi2Max, pTot,
        if (chi2 <= ImageSuite.DriftChi2Max) 0L else 1L, runId),
      Verdict(p.part, s"drift_ks_${p.colname}", ks <= ImageSuite.DriftKsMax,
        ks, ImageSuite.DriftKsMax, pTot,
        if (ks <= ImageSuite.DriftKsMax) 0L else 1L, runId))
  }

  /** Baseline maps from a persisted snapshot dir. */
  private def readBaselineMaps(spark: SparkSession, d: String)
      : (Map[String, Map[Long, Long]], Map[String, Array[Byte]]) = {
    import spark.implicits._
    val h = spark.read.parquet(s"$d/histogram")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(x => x._2 -> x._3).toMap }
    val g = spark.read.parquet(s"$d/digests").as[(String, Array[Byte])].collect().toMap
    (h, g)
  }

  /** Global (per-colname) baseline from the partials themselves: a 2-row
    * reduce — the only data the distributed path ever collects.
    */
  private def globalFromPartials(merged: Seq[DriftPartial])
      : (Map[String, Map[Long, Long]], Map[String, Array[Byte]]) = {
    val byCol = merged.groupBy(_.colname)
      .map { case (c, xs) => xs.reduce(_ merge _) }
    (byCol.map(g => g.colname -> g.buckets).toMap,
      byCol.map(g => g.colname -> g.sketch).toMap)
  }

  private def violationsOf(verdicts: DataFrame): DataFrame =
    verdicts.filter(!col("pass"))
      .select(col("part"), lit("-").as("image_id"), col("check"),
        concat(lit("stat="), round(col("metric"), 4)).as("observed"),
        concat(lit("<= "), col("threshold")).as("expected"))

  /** Drift verdicts from already-merged driver-side partials (fresh,
    * persisted, or a mix): chi-square vs baseline histogram + KS vs
    * baseline digest.
    */
  def verdictsFrom(spark: SparkSession, merged: Array[DriftPartial], runId: String,
                   baselineDir: Option[String] = None): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (globalHist, globalDig) = baselineDir.map(readBaselineMaps(spark, _))
      .getOrElse(globalFromPartials(merged.toSeq))
    val verdicts = spark.createDataset(
      merged.toSeq.flatMap(finalizeOne(_, globalHist, globalDig, runId))).toDF()
    (verdicts, violationsOf(verdicts))
  }

  /** Distributed finalize: the baseline (a few KB per colname) is broadcast
    * and each partial's chi²/KS math runs in executors — verdicts never
    * materialize on the driver. Math is [[finalizeOne]], identical to the
    * driver path.
    */
  def verdictsDistributed(spark: SparkSession, pds: Dataset[DriftPartial],
                          runId: String, baselineDir: Option[String] = None)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val (gHist, gDig) = baselineDir.map(readBaselineMaps(spark, _))
      .getOrElse {
        // per-colname global reduce: collects exactly one row per column
        val globals = pds.groupByKey(_.colname).reduceGroups((a, b) => a.merge(b))
          .map(_._2).collect()
        (globals.map(g => g.colname -> g.buckets).toMap,
          globals.map(g => g.colname -> g.sketch).toMap)
      }
    val bcH = spark.sparkContext.broadcast(gHist)
    val bcD = spark.sparkContext.broadcast(gDig)
    val verdicts = pds.flatMap(p => finalizeOne(p, bcH.value, bcD.value, runId)).toDF()
    (verdicts, violationsOf(verdicts))
  }
}
