package graft.validation

import graft.SnapshotQueries
import graft.images.ImageGen
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-rule engine surfaced through the driver contract: each query runs
  * (or reuses) the full constraint suite over the synthesized image+caption
  * table scaled to the requested sf tier. No oracleSql — correctness is
  * ScalaTest-verified against plain-Scala recomputation (ImageSuiteSpec);
  * the driver records rows-only checks here.
  */
object ImageSuiteQueries {

  /** sf tier → row count (sf0.001→5k, sf0.01→50k, sf0.1→500k). */
  def rowsFor(sfDir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.001)
    math.max(2000L, math.min(500000L, (sf * 5000000).toLong))
  }

  // One suite execution per (session, dataset dir): cached DataFrames are
  // bound to the session that built them, so a stop/recreate-session
  // pattern (the Bench flow) must not resurrect frames from a dead session.
  private val cache = scala.collection.mutable.Map[(SparkSession, String), (DataFrame, DataFrame, DataFrame)]()

  def suite(s: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame) =
    cache.synchronized {
      cache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      cache.getOrElseUpdate((s, sfDir), {
        val dir = ImageGen.ensure(s, rowsFor(sfDir))
        val (v, viol, m) = ImageSuite.run(s, dir, "verify")
        (v.cache(), viol.cache(), m.cache())
      })
    }

  /** Root of the persisted decoded-facts tables: decode cannot run in
    * DuckDB, but its OUTPUT can — persisting `decodeFactsExpr` (already
    * bytes-free) lets the entire downstream verdict / score / overall
    * aggregation be oracle-checked from the same parquet both engines read
    * (reference verdict assembly validation_agent.py:600-650). Each tier
    * lives in its own content-keyed subdirectory (`tier=<md5(sfDir)>`, the
    * reference's content-addressed cache-key pattern cache.py:27-29), so
    * two JVMs on DIFFERENT tiers touch disjoint paths, and publication is
    * write-once-atomic ([[publishOnce]]) so two JVMs on the SAME tier
    * cannot serve each other partial files either. The root lives under
    * [[graft.Tables.DataRoot]].
    */
  val FactsRoot: String = s"${graft.Tables.DataRoot}/image_facts"

  /** Bump when decodeFactsExpr's OUTPUT (columns or semantics) changes —
    * versioning the tier key the way ImageGen.GenVersion versions the
    * generated datasets. Without it a code change would silently serve
    * stale published facts to BOTH engines (the oracle reads the same
    * parquet, so Verify could not catch the staleness). */
  val FactsVersion = 6 // r5: + phash_d4 (all 8 dihedral hashes, mirror probes)

  /** Perceptual-gate thresholds (q_i_quality_gates): Laplacian-variance
    * blur floor, luma exposure envelope, contrast floor, rail-clip cap,
    * and the per-part blur-rate verdict bar (the planted degraded parts
    * run ~85% blurred vs ~11% baseline — the gate separates them). */
  val QgSharpMin = 50.0
  val QgDarkMax = 40.0
  val QgBrightMin = 215.0
  val QgContrastMin = 20.0
  val QgClipMax = 0.02
  val QgBlurRateMax = 0.5

  /** Mergeable gate state: one row per image part (`img_part`) of the
    * decoded facts — gate counters, an exact DECIMAL sharpness sum and a
    * running min. Merges by sum/sum/min, so [[gates]] over the partials
    * of any batches of facts lands the rows it lands over their union. */
  def gatePartials(facts: DataFrame): DataFrame =
    facts.filter(col("decode_ok"))
      .groupBy(col("part").as("img_part"))
      .agg(
        count(lit(1L)).as("n"),
        sum(when(col("sharpness") < QgSharpMin, 1L).otherwise(0L)).as("n_blur"),
        sum(when(col("brightness") < QgDarkMax, 1L).otherwise(0L)).as("n_dark"),
        sum(when(col("brightness") > QgBrightMin, 1L).otherwise(0L)).as("n_bright"),
        sum(when(col("contrast") < QgContrastMin, 1L).otherwise(0L)).as("n_flat"),
        sum(when(col("clip_lo") > QgClipMax || col("clip_hi") > QgClipMax,
          1L).otherwise(0L)).as("n_clipped"),
        sum(col("sharpness").cast("decimal(38,10)")).as("sharp_sum"),
        min(col("sharpness")).as("sharp_min"))

  /** Per-part gate verdicts from [[gatePartials]] rows. Every verdict is
    * computed once, from the merged totals; the mean divides the exact
    * decimal sum, so both engines agree bit-for-bit. */
  def gates(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("img_part").as("part"))
      .agg(sum("n").as("n"), sum("n_blur").as("n_blur"),
        sum("n_dark").as("n_dark"), sum("n_bright").as("n_bright"),
        sum("n_flat").as("n_flat"), sum("n_clipped").as("n_clipped"),
        sum("sharp_sum").as("sharp_sum"), min("sharp_min").as("sharp_min"))
      .select(col("part"), col("n"), col("n_blur"), col("n_dark"),
        col("n_bright"), col("n_flat"), col("n_clipped"),
        round(col("sharp_sum").cast("double") / col("n").cast("double"), 6)
          .as("sharpness_mean"),
        round(col("sharp_min"), 6).as("sharpness_min"))
      .withColumn("blur_rate",
        round(col("n_blur").cast("double") / col("n").cast("double"), 6))
      .withColumn("pass", col("blur_rate") <= QgBlurRateMax &&
        col("n_dark") === 0L && col("n_bright") === 0L &&
        col("n_flat") === 0L)
      .orderBy("part")

  private def tierKey(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"g${ImageGen.GenVersion}f$FactsVersion:$sfDir".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  def factsPath(sfDir: String): String = s"$FactsRoot/tier=${tierKey(sfDir)}"

  // The tier whose paths `oracleSql` resolves: Verify runs every query
  // (setting this) BEFORE dumping oracle_sql.json, so the embedded SQL
  // text always points at the tier the Spark results were computed from.
  // The default only matters for dev runs that dump SQL without touching
  // any q_i_* query — it names the driver's correctness tier.
  @volatile private var lastTier: String = "/root/testdata/sf0.01"

  /** Tier-resolved facts path for oracle SQL generation. */
  def FactsPath: String = factsPath(lastTier)

  /** Write-once atomic publication: if `dst/_SUCCESS` exists the content
    * (a pure function of the tier — deterministic generator) is already
    * published and the write is skipped; otherwise write to a unique
    * sibling temp dir and atomically rename into place. A concurrent JVM
    * that loses the rename race deletes its temp and reads the winner's
    * bit-identical output — no reader can ever observe `_temporary` or a
    * half-written table.
    */
  def publishOnce(dst: String)(write: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dstP = Paths.get(dst)
    if (Files.exists(dstP.resolve("_SUCCESS"))) return
    Files.createDirectories(dstP.getParent)
    val tmp = dstP.resolveSibling(
      dstP.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    write(tmp.toString)
    try Files.move(tmp, dstP, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileSystemException =>
        // another JVM published the same (bit-identical) content first
        import scala.jdk.CollectionConverters._
        Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  /** Persist decoded facts for the tier (write-once per tier directory);
    * both the Spark q_i_* queries and their DuckDB oracles read this table
    * back, so the compared aggregations run over bit-identical input.
    */
  def ensureFacts(s: SparkSession, sfDir: String): DataFrame = {
    val path = factsPath(sfDir)
    synchronized {
      lastTier = sfDir
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
        val dir = ImageGen.ensure(s, rowsFor(sfDir))
        publishOnce(path) { tmp =>
          ImageSuite.decodeFactsExpr(ImageGen.images(s, dir))
            .coalesce(4).write.mode("overwrite").parquet(tmp)
        }
        s.catalog.refreshByPath(path)
      }
    }
    s.read.parquet(path)
  }

  /** Root for the persisted key-check inputs (same bridge pattern as
    * [[FactsPath]]): the LIGHT image projection (id/part/w/h/caption — no
    * bytes) and the captions table, written once per tier so the
    * uniqueness / referential / caption-consistency verdict math can be
    * recomputed by DuckDB from bit-identical input. Closes the VERDICT r3
    * gap: these four checks were the last verdict family verified only by
    * spec (reference resume/orphan semantics validation_agent.py:787-812).
    */
  val KeysRoot: String = s"${graft.Tables.DataRoot}/image_keycheck"

  def keysPath(sfDir: String): String = s"$KeysRoot/tier=${tierKey(sfDir)}"

  /** Tier-resolved key-tables path for oracle SQL generation. */
  def KeysPath: String = keysPath(lastTier)

  /** Persist (write-once per tier directory) and read back (light, captions). */
  def ensureKeyTables(s: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val path = keysPath(sfDir)
    synchronized {
      lastTier = sfDir
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "light", "_SUCCESS")) ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get(path, "captions", "_SUCCESS"))) {
        val dir = ImageGen.ensure(s, rowsFor(sfDir))
        publishOnce(s"$path/light") { tmp =>
          ImageGen.images(s, dir).select("image_id", "part", "w", "h", "caption")
            .coalesce(4).write.mode("overwrite").parquet(tmp)
        }
        publishOnce(s"$path/captions") { tmp =>
          ImageGen.captions(s, dir).select("image_id", "part", "caption")
            .coalesce(4).write.mode("overwrite").parquet(tmp)
        }
        s.catalog.refreshByPath(s"$path/light")
        s.catalog.refreshByPath(s"$path/captions")
      }
    }
    (s.read.parquet(s"$path/light"), s.read.parquet(s"$path/captions"))
  }

  /** Static column/kind list for the facts-table profile: the hash-
    * magnitude longs (phash, phash_rec) are projected out per the
    * [[Profiler.profile]] caller note, image_id adds nothing over part,
    * and booleans are not profileable on either engine. psnr_db is the
    * point of this query: it carries thousands of ±Inf (perfect
    * reconstruction) and NaN (failed decode) values, so it proves the
    * finite-only stats + n_nonfinite contract against DuckDB.
    */
  val FactsProfileCols: Seq[(String, Profiler.Kind)] = Seq(
    "caption" -> Profiler.Str, "dec_h" -> Profiler.Integral,
    "dec_w" -> Profiler.Integral, "fmt" -> Profiler.Str,
    "fmt_sniffed" -> Profiler.Str, "h" -> Profiler.Integral,
    "n_bytes" -> Profiler.Integral, "part" -> Profiler.Str,
    "phash_hamming" -> Profiler.Integral, "psnr_db" -> Profiler.Fractional,
    "w" -> Profiler.Integral)

  /** Row-expressible triage suite over the persisted facts bridge — the
    * image-table instance of the [[CheckSuite]] triage surfaces
    * (`exampleViolations` / `estimate`). Each member genuinely fails on a
    * planted defect class: null captions, empty/zero-dim rows,
    * undecodable bytes, fmt-tag↔magic mismatches, declared-vs-decoded
    * dimension lies (reference per-record issue listings,
    * validation_agent.py:355-364). */
  val factsTriageSuite: CheckSuite = CheckSuite(Seq(
    Complete("caption", 1.0),
    Satisfies("dims_positive", "w > 0 AND h > 0", 1.0),
    Satisfies("decodable", "decode_ok", 1.0),
    Satisfies("fmt_consistent", "fmt = fmt_sniffed", 1.0),
    Satisfies("dims_match", "dec_w = w AND dec_h = h", 1.0)))

  /** Canonical content string of the image light columns — every nullable
    * field coalesced to a sentinel so concat_ws keeps positions stable
    * (concat_ws SKIPS nulls, which would let different rows collide). */
  private val imageCanon: Column = concat_ws("|",
    col("image_id"),
    coalesce(col("fmt"), lit("~")),
    coalesce(col("caption"), lit("~")),
    coalesce(col("w").cast("string"), lit("~")),
    coalesce(col("h").cast("string"), lit("~")),
    coalesce(col("phash").cast("string"), lit("~")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Single-pass column profile of the decoded-facts table — the
    // discovery face of the suite run over REAL suite output, with
    // nonfinite psnr_db values excluded from numeric stats and counted.
    "q_i_profile" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      Profiler.profile(f.select(FactsProfileCols.map(p => col(p._1)): _*))
    }),
    // …and the suggestion ladder over the same profile: the discovered
    // constraints for a table the suite actually produced (in_set fires
    // on the low-NDV format columns, in_range on the finite numeric
    // stats, str_len on captions) — same generated DuckDB twin.
    "q_i_suggest" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      Profiler.suggest(f.select(FactsProfileCols.map(p => col(p._1)): _*))
    }),

    // Key-check verdict family (uniqueness, referential both ways,
    // caption consistency) over the persisted light+captions bridge —
    // the production key-check kernel over an empty key index
    // (ImageSuite.keyChecks), DuckDB recomputing the same four verdicts
    // from the same parquet.
    "q_i_keychecks" -> ((s, dir) => {
      val (light, caps) = ensureKeyTables(s, dir)
      ImageSuite.keyChecks(light, caps, "verify")._1.orderBy("part", "check")
    }),


    // Snapshot reconciliation instantiated on the NORTH-STAR table shape
    // (image_id/fmt/caption/w/h/phash): baseline = the persisted facts
    // light columns; "current" = the same rows with a deterministic
    // caption rewrite confined to partition p3 (md5(image_id) byte < 64).
    // The fingerprint triple (count / xor / sum of the canonicalized row
    // md5 — SnapshotQueries.fingerprintsOf) must flag EXACTLY p3 dirty;
    // DuckDB replays synthesis + fingerprints from the same parquet.
    // This is the decision input for ImageSuite's revalidation: a caption
    // backfill re-validates one partition, not 10^12 rows.
    "q_i_snap_dirty" -> ((s, dir) => {
      val base = ensureFacts(s, dir)
        .select("image_id", "part", "fmt", "caption", "w", "h", "phash")
      val cur = base.withColumn("caption",
        when(col("part") === "p3" &&
          expr("cast(conv(substring(md5(image_id), 1, 2), 16, 10) as int)") < 64,
          concat(col("caption"), lit("!"))).otherwise(col("caption")))
      SnapshotQueries.dirtyPartitions(
          SnapshotQueries.fingerprintsOf(base, imageCanon),
          SnapshotQueries.fingerprintsOf(cur, imageCanon))
        .orderBy("part")
    }),

    // Oracle-backed verdict math (the q_i_* family): every aggregation the
    // suite derives from decoded facts, recomputed by DuckDB from the same
    // persisted facts parquet. Violation rates are exact integer ratios and
    // ladder means use the integer-count form (Scoring.qualityVerdicts), so
    // values hash-match bit-for-bit.
    "q_i_row_verdicts" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      ImageSuite.rowVerdicts(f, ImageSuite.rowViolations(f), "verify")
        .orderBy("part", "check")
    }),
    "q_i_coverage" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      ImageSuite.coverageVerdicts(f, "verify").orderBy("part", "check")
    }),
    // Perceptual-quality gates over the decode-derived facts (blur via
    // Laplacian variance, exposure envelope, rail clipping): the image-
    // curation pre-gates a 100 TB pipeline runs beside integrity checks.
    // The blur gate detects the planted low-quality parts for real
    // (~85% flagged on the degraded parts vs ~11% baseline at sf0.001).
    "q_i_quality_gates" -> ((s, dir) => gates(gatePartials(ensureFacts(s, dir)))),
    // Structural pre-gate audit: per part, how many bytes the container
    // walk (no decode) proves broken, vs the decoder's verdict. The
    // production value is n_pregate_saved (full decodes skipped at 100 TB
    // scan cost); the correctness bar is n_false_reject = 0 — the gate
    // must NEVER reject bytes the decoder accepts (it may pass bytes the
    // decoder then rejects; it is a necessary, not sufficient, check).
    "q_i_container" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val f = ensureFacts(s, dir)
      f.groupBy("part").agg(
        count(lit(1L)).as("n"),
        sum(when(col("container_ok"), 1L).otherwise(0L)).as("n_container_ok"),
        sum(when(col("decode_ok"), 1L).otherwise(0L)).as("n_decode_ok"),
        sum(when(!col("container_ok") && !col("decode_ok"), 1L).otherwise(0L))
          .as("n_pregate_saved"),
        sum(when(!col("container_ok") && col("decode_ok"), 1L).otherwise(0L))
          .as("n_false_reject"),
        sum(when(col("container_kind") =!= col("fmt_sniffed") &&
          col("fmt_sniffed") =!= "none", 1L).otherwise(0L)).as("n_kind_mismatch"))
        .withColumn("pass", col("n_false_reject") === 0L)
        .orderBy("part")
    }),
    "q_i_quality_scores" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      Scoring.qualityVerdicts(f, "verify").orderBy("part", "check")
    }),
    // Conditional-FD tableau fmt → container_kind over the decoded facts:
    // the plain FD fails globally (null/corrupt/bad-fmt rows break every
    // tag), but each fmt value holds at a confidence pinned by the
    // generator's defect rates — the mined tableau is what a validation
    // engine would promote into per-pattern constraints.
    "q_i_cfd" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      FunctionalDeps.cfd(f, "fmt", "container_kind",
        minSupport = 50L, minConf = 0.95)
    }),
    // Segmented chi² drift on the DERIVED sharpness fact (per part vs the
    // corpus): the planted big-dim partitions have systematically lower
    // Laplacian variance, so the drift machinery flags them from a
    // quality fact no stored column carries — closing the loop between
    // the decode stage and the drift family.
    "q_i_drift_sharpness" -> ((s, dir) => {
      // clamp the long checkerboard-like tail: past the gate region the
      // exact variance is irrelevant, and unclamped 1-count tail buckets
      // make the per-segment chi² all noise (expected counts ≪ 1)
      // threshold 10, not the 0.5 of the CLEAN-corpus segmented check:
      // here the pooled corpus CONTAINS the drifted segments (worst case
      // 2 of 8 parts), so clean parts read a contamination floor of
      // chi²/n ≈ 3.3–3.9 while truly shifted parts read 23–26 — 10 is
      // the geometric midpoint with >2.5× margin on each side, and the
      // margin only widens as the part count grows at scale.
      val f = ensureFacts(s, dir).filter(col("decode_ok"))
        .withColumn("sharpness_c", least(col("sharpness"), lit(500.0)))
      Drift.segmentedChiSq(f, "part", "sharpness_c",
        bucketWidth = 25.0, threshold = 10.0)
    }),
    // V8 composition over the oracle-able families (row + coverage +
    // quality): mean/min/failing-count of graded scores per partition.
    // Drift and key checks keep their sketch/index paths (not DuckDB-
    // expressible); the full-suite composition stays visible per-check in
    // qi_verdicts (score column).
    "q_i_overall" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      val verdicts = ImageSuite.rowVerdicts(f, ImageSuite.rowViolations(f), "verify")
        .unionByName(ImageSuite.coverageVerdicts(f, "verify"))
        .unionByName(Scoring.qualityVerdicts(f, "verify"))
        .withColumn("score",
          Scoring.verdictScore(col("check"), col("metric"), col("threshold")))
      Scoring.overallScores(verdicts)
        // the mean over ~13 scores is the one FP-order-sensitive value —
        // round to 6 (error is ~1e-15, half-ulp at 1e-6)
        .select(col("part"), round(col("overall_score"), 6).as("overall_score"),
          col("n_checks"), col("n_failing"), col("min_score"))
        .orderBy("part")
    }),

    // Typed violation ROWS (issues[] twin, validation_agent.py:600-650)
    // from the oracle-able families: every row-invariant violation over the
    // persisted facts bridge plus every key-check violation (uniqueness,
    // referential both ways, caption consistency — the production
    // key-check kernel) over the light+captions bridge, with DuckDB
    // recomputing the same rows INCLUDING the observed/expected strings.
    // Converts the r4 rows-only qi_violations: only drift violations
    // (sketch-derived) stay outside — their verdicts are covered by
    // qi_verdicts and the q_i_drift_* legs below.
    "q_i_violations" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      val (light, caps) = ensureKeyTables(s, dir)
      ImageSuite.rowViolations(f)
        .unionByName(ImageSuite.keyChecks(light, caps, "verify")._2)
        .orderBy("part", "image_id", "check", "observed")
    }),
    // Per-partition metric rows (PerformanceTimer twin) recounted by DuckDB
    // from the facts bridge — n_rows / bytes_total exact, psnr_mean rounded
    // to 6 (the one FP-order-sensitive mean; ±Inf parts are deterministic
    // on both engines). Converts the r4 rows-only qi_metrics.
    "q_i_metrics" -> ((s, dir) => {
      val f = ensureFacts(s, dir)
      ImageSuite.metricsOf(f, "verify")
        .withColumn("value", round(col("value"), 6))
        .orderBy("part", "metric")
    }),
    // Bounded violation EXAMPLES on the image table: first 5 failing
    // image_ids per triage check via the distributed two-stage top-k —
    // the triage attachment a red verdict ships at 10^12 rows (never the
    // full failing set, never one reducer per check).
    "q_i_examples" -> ((s, dir) =>
      factsTriageSuite.exampleViolations(ensureFacts(s, dir),
        Seq("image_id"), k = 5)),
    // Sample-based validation estimate on the image table: the triage
    // checks over a 2/16 deterministic md5(image_id) sample with Wilson
    // 95% bounds on the full-table violation rate — the pre-scan that
    // marks checks known-red/known-green before the exact 10^12-row pass.
    "q_i_estimate" -> ((s, dir) =>
      factsTriageSuite.estimate(ensureFacts(s, dir), "image_id",
        Seq("0", "1"), maxViolRate = 0.01)),
    // Estimate-then-exact triage on the image table at budget 0.01:
    // dims_positive is known-green and decodable / dims_match /
    // fmt_consistent known-red from the sample alone; complete_caption
    // straddles and pays the exact pass over just its predicate.
    "q_i_triage" -> ((s, dir) =>
      factsTriageSuite.triage(ensureFacts(s, dir), "image_id",
        Seq("0", "1"), maxViolRate = 0.01)),
    // Full verdict table: one row per (partition, check), always emitted.
    "qi_verdicts" -> ((s, dir) => {
      val (v, _, _) = suite(s, dir)
      v.orderBy("part", "check")
    }),
    // Column-stats family incl. the sketch aggregates that have no DuckDB
    // twin (approx_count_distinct HLL++, percentile_approx GK).
    "qi_colstats_sketch" -> ((s, dir) => {
      val d = ImageGen.ensure(s, rowsFor(dir))
      ImageGen.images(s, d).groupBy("part").agg(
        count(lit(1)).as("n_rows"),
        approx_count_distinct(col("image_id")).as("ndv_approx"),
        percentile_approx(col("w"), lit(0.5), lit(1000)).as("median_w"),
        min("w").as("min_w"), max("w").as("max_w"),
        avg(when(col("caption").isNull, 1.0).otherwise(0.0)).as("caption_null_rate"))
        .orderBy("part")
    }),
    // Multimodal binary pipeline surfaced to the driver: batched feature
    // extraction over the synthetic media table (image decode, WAV audio
    // decode, MP4 container-metadata parse, and MJPEG frame decode are
    // all REAL; only H.264/AV1 frame decode stays metadata-only — the
    // JDK ships no such codec) — per-kind feature roll-up.
    "qi_media_features" -> ((s, dir) => {
      val media = graft.multimodal.BinaryPipeline.synthMedia(s, 3000)
      val feats = graft.multimodal.BinaryPipeline.extractFeatures(media)
      feats.toDF().groupBy("kind", "sniffed").agg(
        count(lit(1)).as("n"),
        sum("n_bytes").as("bytes_total"),
        sum("n_frames").as("frames_total"),
        countDistinct("phash").as("ndv_phash"))
        .orderBy("kind", "sniffed")
    }),
    // The r4 rows-only qi_drift_vs_baseline, SPLIT (VERDICT r4 #4): the
    // chi² and PSI legs against the persisted clean-baseline histogram are
    // exact relational math (oracle-backed below); only the t-digest KS
    // leg keeps a rows-only check — the sketch is genuinely un-replayable
    // in SQL.
    "q_i_drift_chisq_baseline" -> ((s, dir) => {
      val d = ImageGen.ensure(s, rowsFor(dir))
      val base = ensureBaseline(s, dir)
      Drift.baselineChiSq(ImageGen.images(s, d).select("part", "w", "h"),
          Drift.readBaseline(s, base))
        .orderBy("part", "colname")
    }),
    "q_i_drift_psi_baseline" -> ((s, dir) => {
      val d = ImageGen.ensure(s, rowsFor(dir))
      val base = ensureBaseline(s, dir)
      Drift.baselinePsi(ImageGen.images(s, d).select("part", "w", "h"),
          Drift.readBaseline(s, base))
        .orderBy("part", "colname")
    }),
    "q_i_drift_jsd_baseline" -> ((s, dir) => {
      val d = ImageGen.ensure(s, rowsFor(dir))
      val base = ensureBaseline(s, dir)
      Drift.baselineJsd(ImageGen.images(s, d).select("part", "w", "h"),
          Drift.readBaseline(s, base))
        .orderBy("part", "colname")
    }),
    "q_i_drift_emd_baseline" -> ((s, dir) => {
      val d = ImageGen.ensure(s, rowsFor(dir))
      val base = ensureBaseline(s, dir)
      Drift.baselineEmd(ImageGen.images(s, d).select("part", "w", "h"),
          Drift.readBaseline(s, base))
        .orderBy("part", "colname")
    }),
    "qi_drift_ks_baseline" -> ((s, dir) => {
      val d = ImageGen.ensure(s, rowsFor(dir))
      val base = ensureBaseline(s, dir)
      val images = ImageGen.images(s, d).select("image_id", "part", "w", "h", "caption")
      val (verd, _) = Drift.check(images, "baseline", Some(base))
      verd.filter(col("check").startsWith("drift_ks_")).orderBy("part", "check")
    })
  )

  /** Clean-partition baseline snapshot (histogram + digests) for the
    * tier's image table, write-once atomic under the generated-dataset
    * dir — the persisted reference the q_i_drift_* legs and the rows-only
    * KS leg all check against.
    */
  def ensureBaseline(s: SparkSession, sfDir: String): String = {
    val d = ImageGen.ensure(s, rowsFor(sfDir))
    lastTier = sfDir // keep single-query oracle globs on this tier
    val base = baselinePath(sfDir)
    publishOnce(base) { tmp =>
      val images = ImageGen.images(s, d).select("image_id", "part", "w", "h", "caption")
      val clean = images.filter(!col("part").isin(ImageGen.DriftedParts.map("p" + _): _*))
      Drift.snapshot(s, clean, tmp)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
    }
    base
  }

  /** Deterministic baseline dir (embedded in oracle SQL). Versioned path:
    * the r4 layout at `$d/baseline` has no top-level `_SUCCESS`, so
    * publishOnce against it would rebuild the snapshot and discard the
    * rename on EVERY call (the legacy dir is non-empty) — a fresh
    * versioned directory makes write-once actually converge. */
  def baselinePath(sfDir: String): String =
    s"${ImageGen.dirFor(rowsFor(sfDir))}/baseline_v5"

  /** Facts CTE shared by every q_i_* oracle (a def — the embedded path is
    * tier-resolved at dump time, after the queries have run). */
  private def factsCte =
    s"WITH f AS (SELECT * FROM read_parquet('$FactsPath/*.parquet'))"

  /** DuckDB twin of [[imageCanon]] over relation alias-free columns. */
  private val imageCanonSql =
    """concat_ws('|', image_id, COALESCE(fmt, '~'), COALESCE(caption, '~'),
       COALESCE(CAST(w AS VARCHAR), '~'), COALESCE(CAST(h AS VARCHAR), '~'),
       COALESCE(CAST(phash AS VARCHAR), '~'))"""

  /** Hive-partitioned image-table glob + persisted baseline histogram for
    * the drift oracles (tier-resolved at dump time, like [[factsCte]]). */
  private def imagesGlob =
    s"${ImageGen.dirFor(rowsFor(lastTier))}/images/*/*.parquet"
  private def baselineHistGlob = s"${baselinePath(lastTier)}/histogram/*.parquet"

  /** Shared CTE: melt the image table's w/h into long form and bucket —
    * the DuckDB twin of Drift.histogram. */
  private def imageHistCte =
    s"""img AS (SELECT part, w, h
          FROM read_parquet('$imagesGlob', hive_partitioning=1)),
        m AS (SELECT part, 'w' AS colname, CAST(w AS DOUBLE) AS value FROM img
              UNION ALL
              SELECT part, 'h', CAST(h AS DOUBLE) FROM img),
        ph AS (SELECT part, colname, CAST(floor(value / 8.0) AS BIGINT) AS bucket,
                 count(*) AS obs
               FROM m GROUP BY 1, 2, 3),
        g AS (SELECT colname, bucket, cnt AS g_cnt
              FROM read_parquet('$baselineHistGlob'))"""

  def oracleSql: Map[String, String] = Map(
    "q_i_violations" ->
      s"""$factsCte,
         rv AS (
           SELECT part, image_id, 'bytes_present' AS check,
             'empty' AS observed, 'non-empty bytes' AS expected
           FROM f WHERE NOT has_bytes
           UNION ALL
           SELECT part, image_id, 'decodable',
             'undecodable n_bytes=' || n_bytes, 'decodable image'
           FROM f WHERE has_bytes AND NOT decode_ok
           UNION ALL
           SELECT part, image_id, 'dims_positive',
             'w=' || w || ' h=' || h, 'w>0 and h>0'
           FROM f WHERE w <= 0 OR h <= 0
           UNION ALL
           SELECT part, image_id, 'dims_match_decoded',
             'asserted=' || w || 'x' || h || ' decoded=' || dec_w || 'x' || dec_h,
             'asserted dims equal decoded dims'
           FROM f WHERE decode_ok AND (w <> dec_w OR h <> dec_h)
           UNION ALL
           SELECT part, image_id, 'sentinel_row',
             'w=h=0, empty bytes', 'no sentinel rows'
           FROM f WHERE w = 0 AND h = 0 AND NOT has_bytes
           UNION ALL
           SELECT part, image_id, 'psnr_allclose',
             CAST(round(psnr_db, 2) AS VARCHAR), 'PSNR >= 40.0 dB vs ground truth'
           FROM f WHERE decode_ok AND NOT isnan(psnr_db) AND psnr_db < 40.0
           UNION ALL
           SELECT part, image_id, 'phash_consistent',
             CAST(phash_hamming AS VARCHAR), 'hamming(phash, recomputed) <= 10'
           FROM f WHERE decode_ok AND phash_hamming > 10
           UNION ALL
           SELECT part, image_id, 'fmt_matches_magic',
             'fmt=' || fmt || ' magic=' || fmt_sniffed, 'fmt tag equals magic bytes'
           FROM f WHERE fmt_sniffed <> 'none' AND fmt <> fmt_sniffed
           UNION ALL
           SELECT part, image_id, 'caption_equality',
             caption, 'caption bit-for-bit equal to source'
           FROM f WHERE caption IS NOT NULL AND caption <> caption_expected),
         l AS (SELECT * FROM read_parquet('$KeysPath/light/*.parquet')),
         c AS (SELECT image_id AS cap_id, part AS cap_part, caption AS cap_caption
               FROM read_parquet('$KeysPath/captions/*.parquet')),
         idc AS (SELECT image_id, count(*) AS n_img FROM l GROUP BY 1),
         kv AS (
           SELECT l.part, l.image_id, 'uniqueness_image_id' AS check,
             'key seen ' || idc.n_img || ' times' AS observed,
             'unique image_id' AS expected
           FROM l JOIN idc USING (image_id) WHERE idc.n_img > 1
           UNION ALL
           SELECT part, image_id, 'referential_caption_exists',
             'no caption row', 'caption row exists'
           FROM l WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.cap_id = l.image_id)
           UNION ALL
           SELECT cap_part, cap_id, 'referential_image_exists',
             'caption without image', 'image row exists'
           FROM c WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.image_id = c.cap_id)
           UNION ALL
           SELECT l.part, l.image_id, 'caption_consistent',
             c.cap_caption, l.caption
           FROM l JOIN c ON c.cap_id = l.image_id
           WHERE l.caption IS NOT NULL AND c.cap_caption IS NOT NULL
             AND l.caption <> c.cap_caption)
         SELECT part, image_id, "check", observed, expected FROM rv
         UNION ALL
         SELECT part, image_id, "check", observed, expected FROM kv""",
    "q_i_metrics" ->
      s"""$factsCte,
         a AS (SELECT part, count(*) AS nr,
                 CAST(sum(n_bytes) AS DOUBLE) AS bt,
                 avg(CASE WHEN decode_ok THEN psnr_db END) AS pm
               FROM f GROUP BY 1)
         SELECT part, metric, round(value, 6) AS value, 'verify' AS run_id
         FROM (
           SELECT part, 'n_rows' AS metric, CAST(nr AS DOUBLE) AS value FROM a
           UNION ALL SELECT part, 'bytes_total', bt FROM a
           UNION ALL SELECT part, 'psnr_mean', pm FROM a)""",
    "q_i_drift_chisq_baseline" ->
      s"""WITH $imageHistCte,
         ptot AS (SELECT part, colname, sum(obs) AS p_tot FROM ph GROUP BY 1, 2),
         gtot AS (SELECT colname, sum(g_cnt) AS g_tot FROM g GROUP BY 1),
         bgrid AS (SELECT p.part, p.colname, g.bucket, g.g_cnt
                   FROM (SELECT DISTINCT part, colname FROM ptot) p
                   JOIN g ON g.colname = p.colname),
         u AS (SELECT COALESCE(b.part, ph.part) AS part,
                 COALESCE(b.colname, ph.colname) AS colname,
                 COALESCE(b.g_cnt, 0) AS g_cnt, COALESCE(ph.obs, 0) AS obs
               FROM bgrid b FULL OUTER JOIN ph
                 ON ph.part = b.part AND ph.colname = b.colname
                AND ph.bucket = b.bucket),
         t AS (SELECT u.part, u.colname, CAST(obs AS DOUBLE) AS o, p_tot,
                 CASE WHEN g_cnt > 0
                   THEN CAST(p_tot AS DOUBLE) * CAST(g_cnt AS DOUBLE)
                        / CAST(g_tot AS DOUBLE)
                   ELSE CAST(p_tot AS DOUBLE) * 0.5 / CAST(g_tot AS DOUBLE)
                 END AS e
               FROM u JOIN ptot USING (part, colname) JOIN gtot USING (colname))
         SELECT part, colname, count(*) AS n_buckets,
           round(sum((o - e) * (o - e) / e)
             / CAST(greatest(max(p_tot), 1) AS DOUBLE), 6) AS chi2,
           round(sum((o - e) * (o - e) / e)
             / CAST(greatest(max(p_tot), 1) AS DOUBLE), 6) > 0.5 AS drifted
         FROM t GROUP BY 1, 2""",
    "q_i_drift_psi_baseline" ->
      s"""WITH $imageHistCte,
         ptot AS (SELECT part, colname, sum(obs) AS p_tot FROM ph GROUP BY 1, 2),
         gtot AS (SELECT colname, sum(g_cnt) AS g_tot FROM g GROUP BY 1),
         bgrid AS (SELECT p.part, p.colname, g.bucket, g.g_cnt
                   FROM (SELECT DISTINCT part, colname FROM ptot) p
                   JOIN g ON g.colname = p.colname),
         u AS (SELECT COALESCE(b.part, ph.part) AS part,
                 COALESCE(b.colname, ph.colname) AS colname,
                 COALESCE(b.g_cnt, 0) AS g_cnt, COALESCE(ph.obs, 0) AS obs
               FROM bgrid b FULL OUTER JOIN ph
                 ON ph.part = b.part AND ph.colname = b.colname
                AND ph.bucket = b.bucket),
         nbt AS (SELECT part, colname, count(*) AS nb FROM u GROUP BY 1, 2),
         t AS (SELECT u.part, u.colname,
                 (CAST(obs AS DOUBLE) + 0.5)
                   / (CAST(p_tot AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS pp,
                 (CAST(g_cnt AS DOUBLE) + 0.5)
                   / (CAST(g_tot AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS pg
               FROM u JOIN ptot USING (part, colname)
                 JOIN gtot USING (colname) JOIN nbt USING (part, colname))
         SELECT part, colname, count(*) AS n_buckets,
           round(sum((pp - pg) * ln(pp / pg)), 6) AS psi,
           round(sum((pp - pg) * ln(pp / pg)), 6) > 0.2 AS drifted
         FROM t GROUP BY 1, 2""",
    "q_i_drift_jsd_baseline" ->
      s"""WITH $imageHistCte,
         ptot AS (SELECT part, colname, sum(obs) AS p_tot FROM ph GROUP BY 1, 2),
         gtot AS (SELECT colname, sum(g_cnt) AS g_tot FROM g GROUP BY 1),
         bgrid AS (SELECT p.part, p.colname, g.bucket, g.g_cnt
                   FROM (SELECT DISTINCT part, colname FROM ptot) p
                   JOIN g ON g.colname = p.colname),
         u AS (SELECT COALESCE(b.part, ph.part) AS part,
                 COALESCE(b.colname, ph.colname) AS colname,
                 COALESCE(b.g_cnt, 0) AS g_cnt, COALESCE(ph.obs, 0) AS obs
               FROM bgrid b FULL OUTER JOIN ph
                 ON ph.part = b.part AND ph.colname = b.colname
                AND ph.bucket = b.bucket),
         nbt AS (SELECT part, colname, count(*) AS nb FROM u GROUP BY 1, 2),
         t AS (SELECT u.part, u.colname,
                 (CAST(obs AS DOUBLE) + 0.5)
                   / (CAST(p_tot AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS pp,
                 (CAST(g_cnt AS DOUBLE) + 0.5)
                   / (CAST(g_tot AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS pg
               FROM u JOIN ptot USING (part, colname)
                 JOIN gtot USING (colname) JOIN nbt USING (part, colname))
         SELECT part, colname, count(*) AS n_buckets,
           round(sum((pp * ln(pp / ((pp + pg) / 2.0))
                    + pg * ln(pg / ((pp + pg) / 2.0))) / 2.0), 6) AS jsd,
           round(sum((pp * ln(pp / ((pp + pg) / 2.0))
                    + pg * ln(pg / ((pp + pg) / 2.0))) / 2.0), 6) > 0.1 AS drifted
         FROM t GROUP BY 1, 2""",
    "q_i_drift_emd_baseline" ->
      s"""WITH $imageHistCte,
         ptot AS (SELECT part, colname, sum(obs) AS p_tot FROM ph GROUP BY 1, 2),
         gtot AS (SELECT colname, sum(g_cnt) AS g_tot FROM g GROUP BY 1),
         bgrid AS (SELECT p.part, p.colname, g.bucket, g.g_cnt
                   FROM (SELECT DISTINCT part, colname FROM ptot) p
                   JOIN g ON g.colname = p.colname),
         u AS (SELECT COALESCE(b.part, ph.part) AS part,
                 COALESCE(b.colname, ph.colname) AS colname,
                 COALESCE(b.bucket, ph.bucket) AS bucket,
                 COALESCE(b.g_cnt, 0) AS g_cnt, COALESCE(ph.obs, 0) AS obs
               FROM bgrid b FULL OUTER JOIN ph
                 ON ph.part = b.part AND ph.colname = b.colname
                AND ph.bucket = b.bucket),
         c AS (SELECT u.part, u.colname,
                 sum(obs * g_tot - g_cnt * p_tot) OVER
                   (PARTITION BY u.part, u.colname ORDER BY u.bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 COALESCE(lead(u.bucket) OVER
                   (PARTITION BY u.part, u.colname ORDER BY u.bucket)
                   - u.bucket, 0) AS span,
                 p_tot, g_tot
               FROM u JOIN ptot USING (part, colname)
                 JOIN gtot USING (colname))
         SELECT part, colname, count(*) AS n_buckets,
           round(CAST(sum(abs(cum) * span) AS DOUBLE)
             / (CAST(max(p_tot) AS DOUBLE) * CAST(max(g_tot) AS DOUBLE)), 6) AS emd,
           round(CAST(sum(abs(cum) * span) AS DOUBLE)
             / (CAST(max(p_tot) AS DOUBLE) * CAST(max(g_tot) AS DOUBLE)), 6)
             > 0.5 AS drifted
         FROM c GROUP BY 1, 2""",
    "q_i_snap_dirty" ->
      s"""$factsCte,
          b AS (SELECT image_id, part, fmt, caption, w, h, phash FROM f),
          c AS (SELECT image_id, part, fmt,
                  CASE WHEN part = 'p3'
                        AND CAST(('0x' || substr(md5(image_id), 1, 2)) AS INT) < 64
                       THEN caption || '!' ELSE caption END AS caption,
                  w, h, phash FROM b),
          bh AS (SELECT part, md5($imageCanonSql) AS hx FROM b),
          ch AS (SELECT part, md5($imageCanonSql) AS hx FROM c),
          bf AS (SELECT part, count(*) AS base_rows,
                   bit_xor(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT)) AS bx,
                   CAST(sum(CAST(('0x' || substr(hx, 13, 8)) AS BIGINT)) AS BIGINT) AS bs
                 FROM bh GROUP BY 1),
          cf AS (SELECT part, count(*) AS cur_rows,
                   bit_xor(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT)) AS cx,
                   CAST(sum(CAST(('0x' || substr(hx, 13, 8)) AS BIGINT)) AS BIGINT) AS cs
                 FROM ch GROUP BY 1)
          SELECT COALESCE(bf.part, cf.part) AS part,
            CASE WHEN cf.part IS NULL THEN 'part_removed'
                 WHEN bf.part IS NULL THEN 'part_added'
                 WHEN base_rows = cur_rows AND bx = cx AND bs = cs THEN 'clean'
                 ELSE 'dirty' END AS status,
            COALESCE(base_rows, 0) AS base_rows,
            COALESCE(cur_rows, 0) AS cur_rows
          FROM bf FULL OUTER JOIN cf ON bf.part = cf.part
          ORDER BY 1""",
    "q_i_profile" -> Profiler.duckProfileSql(
      s"read_parquet('$FactsPath/*.parquet')", FactsProfileCols),
    "q_i_suggest" -> Profiler.duckSuggestSql(
      s"read_parquet('$FactsPath/*.parquet')", FactsProfileCols),
    "q_i_examples" -> factsTriageSuite.duckExamplesSql(
      s"read_parquet('$FactsPath/*.parquet')", Seq("image_id"), k = 5),
    "q_i_estimate" -> factsTriageSuite.duckEstimateSql(
      s"read_parquet('$FactsPath/*.parquet')", "image_id",
      Seq("0", "1"), maxViolRate = 0.01),
    "q_i_triage" -> factsTriageSuite.duckTriageSql(
      s"read_parquet('$FactsPath/*.parquet')", "image_id",
      Seq("0", "1"), maxViolRate = 0.01),
    "q_i_keychecks" ->
      s"""WITH l AS (SELECT * FROM read_parquet('$KeysPath/light/*.parquet')),
         c AS (SELECT image_id AS cap_id, part AS cap_part, caption AS cap_caption
               FROM read_parquet('$KeysPath/captions/*.parquet')),
         n AS (SELECT part, count(*) AS n_rows FROM l GROUP BY 1),
         idc AS (SELECT image_id, count(*) AS n_img FROM l GROUP BY 1),
         uniq AS (
           SELECT l.part, CAST(count(*) AS BIGINT) AS v
           FROM l JOIN idc USING (image_id) WHERE idc.n_img > 1 GROUP BY 1),
         misscap AS (
           SELECT part, CAST(count(*) AS BIGINT) AS v FROM l
           WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.cap_id = l.image_id)
           GROUP BY 1),
         orphan AS (
           SELECT cap_part AS part, CAST(count(*) AS BIGINT) AS v FROM c
           WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.image_id = c.cap_id)
           GROUP BY 1),
         mismatch AS (
           SELECT l.part, CAST(count(*) AS BIGINT) AS v
           FROM l JOIN c ON c.cap_id = l.image_id
           WHERE l.caption IS NOT NULL AND c.cap_caption IS NOT NULL
             AND l.caption <> c.cap_caption
           GROUP BY 1),
         u AS (
           SELECT n.part, 'uniqueness_image_id' AS check, n.n_rows,
             coalesce(uniq.v, 0) AS n_violations
           FROM n LEFT JOIN uniq ON uniq.part = n.part
           UNION ALL
           SELECT n.part, 'referential_caption_exists', n.n_rows, coalesce(m.v, 0)
           FROM n LEFT JOIN misscap m ON m.part = n.part
           UNION ALL
           SELECT n.part, 'referential_image_exists', n.n_rows, coalesce(o.v, 0)
           FROM n LEFT JOIN orphan o ON o.part = n.part
           UNION ALL
           SELECT n.part, 'caption_consistent', n.n_rows, coalesce(mm.v, 0)
           FROM n LEFT JOIN mismatch mm ON mm.part = n.part)
         SELECT part, "check", n_violations = 0 AS pass,
           CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) AS metric,
           CAST(0.0 AS DOUBLE) AS threshold, n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           'verify' AS run_id
         FROM u""",
    "q_i_row_verdicts" ->
      s"""$factsCte,
         p AS (
           SELECT part, count(*) AS n_rows,
             CAST(sum(CASE WHEN NOT has_bytes THEN 1 ELSE 0 END) AS BIGINT) AS v_bytes_present,
             CAST(sum(CASE WHEN has_bytes AND NOT decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS v_decodable,
             CAST(sum(CASE WHEN w <= 0 OR h <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_dims_positive,
             CAST(sum(CASE WHEN decode_ok AND (w <> dec_w OR h <> dec_h) THEN 1 ELSE 0 END) AS BIGINT) AS v_dims_match_decoded,
             CAST(sum(CASE WHEN w = 0 AND h = 0 AND NOT has_bytes THEN 1 ELSE 0 END) AS BIGINT) AS v_sentinel_row,
             CAST(sum(CASE WHEN decode_ok AND NOT isnan(psnr_db) AND psnr_db < 40.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_psnr_allclose,
             CAST(sum(CASE WHEN decode_ok AND phash_hamming > 10 THEN 1 ELSE 0 END) AS BIGINT) AS v_phash_consistent,
             CAST(sum(CASE WHEN fmt_sniffed <> 'none' AND fmt <> fmt_sniffed THEN 1 ELSE 0 END) AS BIGINT) AS v_fmt_matches_magic,
             CAST(sum(CASE WHEN caption IS NOT NULL AND caption <> caption_expected THEN 1 ELSE 0 END) AS BIGINT) AS v_caption_equality
           FROM f GROUP BY 1),
         u AS (
           SELECT part, 'bytes_present' AS check, n_rows, v_bytes_present AS n_violations FROM p
           UNION ALL SELECT part, 'decodable', n_rows, v_decodable FROM p
           UNION ALL SELECT part, 'dims_positive', n_rows, v_dims_positive FROM p
           UNION ALL SELECT part, 'dims_match_decoded', n_rows, v_dims_match_decoded FROM p
           UNION ALL SELECT part, 'sentinel_row', n_rows, v_sentinel_row FROM p
           UNION ALL SELECT part, 'psnr_allclose', n_rows, v_psnr_allclose FROM p
           UNION ALL SELECT part, 'phash_consistent', n_rows, v_phash_consistent FROM p
           UNION ALL SELECT part, 'fmt_matches_magic', n_rows, v_fmt_matches_magic FROM p
           UNION ALL SELECT part, 'caption_equality', n_rows, v_caption_equality FROM p)
         SELECT part, "check", n_violations = 0 AS pass,
           CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) AS metric,
           CAST(0.0 AS DOUBLE) AS threshold, n_rows, n_violations,
           'verify' AS run_id
         FROM u""",
    "q_i_coverage" ->
      s"""$factsCte,
         p AS (
           SELECT part, count(*) AS n_rows,
             CAST(sum(CASE WHEN caption IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_caption,
             CAST(sum(CASE WHEN NOT has_bytes THEN 1 ELSE 0 END) AS BIGINT) AS null_bytes
           FROM f GROUP BY 1),
         u AS (
           SELECT part, 'null_rate_caption' AS check, n_rows, null_caption AS n_violations FROM p
           UNION ALL SELECT part, 'null_rate_bytes', n_rows, null_bytes FROM p)
         SELECT part, "check",
           CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) <= 0.02 AS pass,
           CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) AS metric,
           CAST(0.02 AS DOUBLE) AS threshold, n_rows, n_violations,
           'verify' AS run_id
         FROM u""",
    "q_i_quality_gates" ->
      s"""$factsCte,
         g AS (
           SELECT part, count(*) AS n,
             CAST(sum(CASE WHEN sharpness < $QgSharpMin THEN 1 ELSE 0 END) AS BIGINT) AS n_blur,
             CAST(sum(CASE WHEN brightness < $QgDarkMax THEN 1 ELSE 0 END) AS BIGINT) AS n_dark,
             CAST(sum(CASE WHEN brightness > $QgBrightMin THEN 1 ELSE 0 END) AS BIGINT) AS n_bright,
             CAST(sum(CASE WHEN contrast < $QgContrastMin THEN 1 ELSE 0 END) AS BIGINT) AS n_flat,
             CAST(sum(CASE WHEN clip_lo > $QgClipMax OR clip_hi > $QgClipMax
               THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
             round(CAST(sum(CAST(sharpness AS DECIMAL(38,10))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS sharpness_mean,
             round(min(sharpness), 6) AS sharpness_min
           FROM f WHERE decode_ok GROUP BY part)
         SELECT *,
           round(CAST(n_blur AS DOUBLE) / CAST(n AS DOUBLE), 6) AS blur_rate,
           (round(CAST(n_blur AS DOUBLE) / CAST(n AS DOUBLE), 6) <= $QgBlurRateMax
             AND n_dark = 0 AND n_bright = 0 AND n_flat = 0) AS pass
         FROM g ORDER BY part""",
    "q_i_container" ->
      s"""$factsCte
         SELECT part, count(*) AS n,
           CAST(sum(CASE WHEN container_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_container_ok,
           CAST(sum(CASE WHEN decode_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_decode_ok,
           CAST(sum(CASE WHEN NOT container_ok AND NOT decode_ok
             THEN 1 ELSE 0 END) AS BIGINT) AS n_pregate_saved,
           CAST(sum(CASE WHEN NOT container_ok AND decode_ok
             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_reject,
           CAST(sum(CASE WHEN container_kind <> fmt_sniffed
             AND fmt_sniffed <> 'none' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kind_mismatch,
           (sum(CASE WHEN NOT container_ok AND decode_ok
             THEN 1 ELSE 0 END) = 0) AS pass
         FROM f GROUP BY part ORDER BY part""",
    "q_i_quality_scores" -> qualityScoresSql,
    "q_i_cfd" -> (factsCte + FunctionalDeps.duckCfdSql("f",
      "fmt", "container_kind", minSupport = 50L, minConf = 0.95)
      .replaceFirst("WITH ", ", ")),
    "q_i_drift_sharpness" ->
      s"""$factsCte,
          seg AS (
            SELECT part AS segment,
              floor(least(sharpness, 500.0) / 25.0) AS bucket,
              count(*) AS obs
            FROM f WHERE decode_ok GROUP BY 1, 2),
          corpus AS (
            SELECT bucket, CAST(sum(obs) AS BIGINT) AS corpus_cnt
            FROM seg GROUP BY 1),
          corpus_tot AS (
            SELECT CAST(sum(corpus_cnt) AS BIGINT) AS corpus_tot FROM corpus),
          seg_tot AS (
            SELECT segment, CAST(sum(obs) AS BIGINT) AS seg_tot
            FROM seg GROUP BY 1),
          grid AS (
            SELECT st.segment, c.bucket, st.seg_tot, c.corpus_cnt,
              coalesce(s.obs, 0) AS obs
            FROM seg_tot st CROSS JOIN corpus c
            LEFT JOIN seg s ON s.segment = st.segment AND s.bucket = c.bucket),
          terms AS (
            SELECT segment,
              (CAST(obs AS DOUBLE)
                 - CAST(seg_tot AS DOUBLE) * CAST(corpus_cnt AS DOUBLE) / CAST(corpus_tot AS DOUBLE))
              * (CAST(obs AS DOUBLE)
                 - CAST(seg_tot AS DOUBLE) * CAST(corpus_cnt AS DOUBLE) / CAST(corpus_tot AS DOUBLE))
              / (CAST(seg_tot AS DOUBLE) * CAST(corpus_cnt AS DOUBLE) / CAST(corpus_tot AS DOUBLE))
                AS term
            FROM grid CROSS JOIN corpus_tot)
          SELECT segment, count(*) AS n_buckets,
            round(sum(term), 6) AS chi2,
            round(sum(term), 6) / count(*) > 10.0 AS drifted
          FROM terms GROUP BY segment ORDER BY segment""",
    "q_i_overall" ->
      s"""$factsCte,
         $verdictUnionSql
         SELECT part, round(avg(score), 6) AS overall_score,
           count(*) AS n_checks,
           CAST(sum(CASE WHEN NOT pass THEN 1 ELSE 0 END) AS BIGINT) AS n_failing,
           min(score) AS min_score
         FROM scored GROUP BY part"""
  )

  /** Quality ladder means from integer bucket counts — the exact form
    * Scoring.qualityVerdicts computes (single division of exact integers).
    */
  private def qualityScoresSql: String =
    s"""$factsCte,
       $qualityAggSql
       SELECT part, "check", metric >= 0.6 AS pass, metric,
         CAST(0.6 AS DOUBLE) AS threshold, n_rows, n_violations,
         'verify' AS run_id
       FROM q"""

  /** Shared CTE body: per-part ladder counts → long-form quality verdicts. */
  private val qualityAggSql =
    """a AS (
         SELECT part, count(*) AS n_rows,
           CAST(sum(CASE WHEN decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           CAST(sum(CASE WHEN decode_ok AND psnr_db >= 45.0 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
           CAST(sum(CASE WHEN decode_ok AND psnr_db >= 40.0 AND psnr_db < 45.0 THEN 1 ELSE 0 END) AS BIGINT) AS p08,
           CAST(sum(CASE WHEN decode_ok AND psnr_db >= 30.0 AND psnr_db < 40.0 THEN 1 ELSE 0 END) AS BIGINT) AS p06,
           CAST(sum(CASE WHEN decode_ok AND phash_hamming >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nh,
           CAST(sum(CASE WHEN decode_ok AND phash_hamming = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
           CAST(sum(CASE WHEN decode_ok AND phash_hamming BETWEEN 1 AND 4 THEN 1 ELSE 0 END) AS BIGINT) AS h08,
           CAST(sum(CASE WHEN decode_ok AND phash_hamming BETWEEN 5 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS h06
         FROM f GROUP BY 1),
       q AS (
         SELECT part, 'psnr_quality' AS check, n_rows,
           CASE WHEN nd > 0
             THEN CAST(p1*10 + p08*8 + p06*6 + (nd-p1-p08-p06)*2 AS DOUBLE) / CAST(nd*10 AS DOUBLE)
             ELSE CAST(0.5 AS DOUBLE) END AS metric,
           nd - p1 - p08 - p06 AS n_violations
         FROM a
         UNION ALL
         SELECT part, 'phash_quality', n_rows,
           CASE WHEN nh > 0
             THEN CAST(h1*10 + h08*8 + h06*6 + (nh-h1-h08-h06)*2 AS DOUBLE) / CAST(nh*10 AS DOUBLE)
             ELSE CAST(0.5 AS DOUBLE) END,
           nh - h1 - h08 - h06
         FROM a)"""

  /** Row + coverage + quality verdicts with graded scores, as one CTE chain
    * (the q_i_overall input — mirrors Scoring.verdictScore).
    */
  private val verdictUnionSql =
    s"""p AS (
         SELECT part, count(*) AS n_rows,
           CAST(sum(CASE WHEN NOT has_bytes THEN 1 ELSE 0 END) AS BIGINT) AS v1,
           CAST(sum(CASE WHEN has_bytes AND NOT decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS v2,
           CAST(sum(CASE WHEN w <= 0 OR h <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
           CAST(sum(CASE WHEN decode_ok AND (w <> dec_w OR h <> dec_h) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
           CAST(sum(CASE WHEN w = 0 AND h = 0 AND NOT has_bytes THEN 1 ELSE 0 END) AS BIGINT) AS v5,
           CAST(sum(CASE WHEN decode_ok AND NOT isnan(psnr_db) AND psnr_db < 40.0 THEN 1 ELSE 0 END) AS BIGINT) AS v6,
           CAST(sum(CASE WHEN decode_ok AND phash_hamming > 10 THEN 1 ELSE 0 END) AS BIGINT) AS v7,
           CAST(sum(CASE WHEN fmt_sniffed <> 'none' AND fmt <> fmt_sniffed THEN 1 ELSE 0 END) AS BIGINT) AS v8,
           CAST(sum(CASE WHEN caption IS NOT NULL AND caption <> caption_expected THEN 1 ELSE 0 END) AS BIGINT) AS v9,
           CAST(sum(CASE WHEN caption IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(sum(CASE WHEN NOT has_bytes THEN 1 ELSE 0 END) AS BIGINT) AS c2
         FROM f GROUP BY 1),
       $qualityAggSql,
       rates AS (
         SELECT part, v, 'row' AS kind FROM (
           SELECT part, unnest([v1, v2, v3, v4, v5, v6, v7, v8, v9]) AS v FROM p)
         UNION ALL SELECT part, c1, 'cov' FROM p
         UNION ALL SELECT part, c2, 'cov' FROM p),
       rateScored AS (
         SELECT part,
           CASE WHEN rate = 0 THEN CAST(1.0 AS DOUBLE)
                WHEN rate <= 0.01 THEN CAST(0.8 AS DOUBLE)
                WHEN rate <= 0.05 THEN CAST(0.6 AS DOUBLE)
                ELSE CAST(0.2 AS DOUBLE) END AS score,
           pass
         FROM (SELECT r.part, CAST(v AS DOUBLE)/CAST(p.n_rows AS DOUBLE) AS rate,
                 CASE WHEN kind = 'row' THEN v = 0
                      ELSE CAST(v AS DOUBLE)/CAST(p.n_rows AS DOUBLE) <= 0.02 END AS pass
               FROM rates r JOIN p ON p.part = r.part)),
       qualScored AS (
         SELECT part, metric AS score, metric >= 0.6 AS pass FROM q),
       scored AS (
         SELECT part, score, pass FROM rateScored
         UNION ALL SELECT part, score, pass FROM qualScored)"""
}
