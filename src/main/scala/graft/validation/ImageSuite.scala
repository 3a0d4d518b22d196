package graft.validation

import graft.images.ImageGen
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The north-rule constraint-validation engine over the image+caption table.
  *
  * Pipeline shape (designed for 10^12 rows / 1000 executors), one pass per
  * layer:
  *
  *   scan(images, pruned to pending partitions)           ── no shuffle
  *     → decode stage (image_facts expression)            ── narrow
  *     → per-partition summary: every row-check count,    ── 1 shuffle (part)
  *       null and ladder counts, metrics, HLL sketch
  *     → violation rows: one explode of the decoded facts ── narrow
  *   key checks: pending keys vs the stored key index     ── hash joins on
  *     (window count + left-outer count join, one left-     image_id,
  *     outer caption join, orphan anti joins), built once   persisted once
  *     as flagged candidate rows
  *   drift: per-part sketch partials + stored partials    ── 1 shuffle
  *
  * All byte-derived columns are computed in the scan stage; only small
  * derived facts cross shuffles. Resume prunes completed `part=` directories
  * before the scan (partition pruning, anti-join on the state table —
  * reference resume semantics validation_agent.py:787-812).
  *
  * One grading path: the summary's counts (every column but the sketch)
  * and the candidates' `(part, check)` counts make one counts row per
  * partition ([[Counts]]), and one set of plain-Scala grading functions
  * turns it into every row, coverage, quality and key verdict and every
  * metric row, as [[Drift.finalizeOne]] grades drift. The engine grades
  * its pending partitions' rows into verdicts and state rows on the driver
  * ([[Small]]); each public family function collects its own counts once
  * and returns its verdicts as a local relation. The driver holds
  * O(partitions × checks) rows; the HLL sketches, the violation rows and a
  * distributed drift finalize stay in the executors.
  *
  * One engine path: [[runAndCheckpoint]] reads the checkpoint's prior
  * state, computes and commits; [[run]] computes the same increment over
  * an empty prior state and returns the frames.
  *
  * Concurrent legs: at the sizes one call sees, most of its wall is per-
  * action fixed cost, so the Spark actions that do not depend on each
  * other run side by side ([[concurrently]]: one new thread per leg, each
  * inheriting the caller's job group, description and pool; every leg is
  * joined, then the first failure rethrown). A call runs three barriers:
  *   1. the summary counts collect ‖ the prior-state read (orphan pin; a
  *      violations store that still needs its `run_id` migration is read
  *      after the counts, so an all-done rerun writes nothing);
  *   2. the key-check candidates (materialized and counted in one action)
  *      ‖ the drift finalize ‖ the NDV estimate over the summary's and the
  *      stored HLL sketches, then the metrics append ‖ the HLL overwrite;
  *      then the verdicts and state rows are built on the driver;
  *   3. the verdicts append ‖ the violations append + its `_runid_uniform`
  *      marker;
  * then the keys overwrite ‖ the drift-partials overwrite and, last, the
  * state append. The ordering rules the barriers keep are
  * [[commitIncrement]]'s. [[lightIncrement]] (one streaming micro-batch)
  * collects its batch's `(part, n_rows)` as its emptiness check and runs
  * barriers 2 and 3 without the side legs.
  */
object ImageSuite {

  val PsnrThresholdDb = 40.0
  val PhashHammingMax = 10
  val NullRateMax = 0.02
  val DriftKsMax = 0.35
  // normalized chi-square (chi²/n, an effect size à la Cramér): invariant
  // to partition row count, unlike raw chi² which grows linearly with n
  // and would flag every partition at 10^12 scale.
  val DriftChi2Max = 0.5

  def idOrdinal(id: String): Long = ImageGen.ordinalOf(id)

  /** Decode stage as a DataFrame projection over the native `image_facts`
    * Catalyst expression: no Product-encoder round-trip per row,
    * prune/pushdown compose around it, and downstream predicates stay
    * codegen'd (ImageFactsExprSpec pins it to a plain-Scala decode).
    */
  def decodeFactsExpr(images: DataFrame): DataFrame = {
    val f = graft.functions.ImageFactsExpr.imageFacts(col("bytes"), col("image_id"))
    images
      .select(col("image_id"), col("part"), col("fmt"), col("caption"),
        col("w"), col("h"), col("phash"), f.as("f"))
      .select(col("image_id"), col("part"), col("fmt"), col("caption"),
        col("w"), col("h"), col("phash"),
        col("f.has_bytes").as("has_bytes"), col("f.n_bytes").as("n_bytes"),
        col("f.decode_ok").as("decode_ok"),
        col("f.dec_w").as("dec_w"), col("f.dec_h").as("dec_h"),
        col("f.psnr_db").as("psnr_db"), col("f.phash_rec").as("phash_rec"),
        when(col("f.decode_ok"),
          bit_count(col("f.phash_rec").bitwiseXOR(col("phash"))))
          .otherwise(lit(-1)).as("phash_hamming"),
        col("f.fmt_sniffed").as("fmt_sniffed"),
        col("f.caption_expected").as("caption_expected"),
        col("f.sharpness").as("sharpness"),
        col("f.brightness").as("brightness"),
        col("f.contrast").as("contrast"),
        col("f.clip_lo").as("clip_lo"),
        col("f.clip_hi").as("clip_hi"),
        col("f.phash_tiles").as("phash_tiles"),
        col("f.container_kind").as("container_kind"),
        col("f.container_ok").as("container_ok"),
        col("f.phash_d4").as("phash_d4"))
  }

  /** One row-invariant check over decoded facts: a row violates it where
    * `cond` holds, and its violation row carries `observed`/`expected`.
    */
  private case class RowCheck(check: String, cond: Column, observed: Column,
                              expected: String)

  /** The nine row checks, defined once: [[rowViolations]] fans them out
    * per row, [[partSummary]] counts them per partition.
    */
  private val RowChecks: Seq[RowCheck] = Seq(
    RowCheck("bytes_present", !col("has_bytes"), lit("empty"), "non-empty bytes"),
    RowCheck("decodable", col("has_bytes") && !col("decode_ok"),
      concat(lit("undecodable n_bytes="), col("n_bytes")), "decodable image"),
    RowCheck("dims_positive", col("w") <= 0 || col("h") <= 0,
      concat(lit("w="), col("w"), lit(" h="), col("h")), "w>0 and h>0"),
    RowCheck("dims_match_decoded",
      col("decode_ok") && (col("w") =!= col("dec_w") || col("h") =!= col("dec_h")),
      concat(lit("asserted="), col("w"), lit("x"), col("h"),
        lit(" decoded="), col("dec_w"), lit("x"), col("dec_h")),
      "asserted dims equal decoded dims"),
    RowCheck("sentinel_row", col("w") === 0 && col("h") === 0 && !col("has_bytes"),
      lit("w=h=0, empty bytes"), "no sentinel rows"),
    RowCheck("psnr_allclose",
      col("decode_ok") && !isnan(col("psnr_db")) && col("psnr_db") < PsnrThresholdDb,
      round(col("psnr_db"), 2), s"PSNR >= $PsnrThresholdDb dB vs ground truth"),
    RowCheck("phash_consistent", col("decode_ok") && col("phash_hamming") > PhashHammingMax,
      col("phash_hamming"), s"hamming(phash, recomputed) <= $PhashHammingMax"),
    RowCheck("fmt_matches_magic",
      col("fmt_sniffed") =!= lit("none") && col("fmt") =!= col("fmt_sniffed"),
      concat(lit("fmt="), col("fmt"), lit(" magic="), col("fmt_sniffed")),
      "fmt tag equals magic bytes"),
    RowCheck("caption_equality",
      col("caption").isNotNull && col("caption") =!= col("caption_expected"),
      col("caption"), "caption bit-for-bit equal to source"))

  /** Row-invariant violation fan-out: one array<struct> per row, exploded —
    * Catalyst-native generator, no UDTF (SURVEY.md §2.10).
    */
  def rowViolations(facts: DataFrame): DataFrame = {
    val entries = array(RowChecks.map(c => when(c.cond, struct(lit(c.check).as("check"),
      c.observed.cast("string").as("observed"), lit(c.expected).as("expected")))): _*)
    facts
      .withColumn("v", explode(filter(entries, e => e.isNotNull)))
      .select(col("part"), col("image_id"), col("v.check").as("check"),
        col("v.observed").as("observed"), col("v.expected").as("expected"))
  }

  private def nViolationsOf(check: String): String = s"nv_$check"

  /** The one per-partition summary of decoded facts: a single `groupBy
    * part` computing the row count, one violation count per row check, the
    * two coverage null counts, the quality-ladder counts
    * ([[Scoring.LadderCounts]]), the lineage metrics and an HLL sketch of
    * image_id. Every row-family verdict, metric row and sketch-store row is
    * a projection of it.
    */
  private[validation] def partSummary(facts: DataFrame): DataFrame =
    facts.groupBy("part").agg(count(lit(1)).as("n_rows"),
      RowChecks.map(c => count_if(c.cond).as(nViolationsOf(c.check))) ++ Seq(
        count_if(col("caption").isNull).as("null_caption"),
        count_if(!col("has_bytes")).as("null_bytes")) ++
      Scoring.LadderCounts ++ Seq(
        sum("n_bytes").cast("double").as("bytes_total"),
        avg(when(col("decode_ok"), col("psnr_db"))).as("psnr_mean"),
        hll_sketch_agg(col("image_id")).as("sketch")): _*)

  /** One partition's counts row, the only thing its verdicts and metric rows
    * are graded from: a [[partSummary]] row without its sketch (`part` and
    * `n_rows` alone for a light frame) and the key-check candidate counts
    * per `(part, check)`. Grading is plain Scala on the driver, as
    * [[Drift.finalizeOne]] grades drift.
    */
  private[validation] final case class Counts(row: Row,
                                              keyCounts: Map[(String, String), Long] = Map.empty) {
    val part: String = row.getAs[String]("part")
    val nRows: Long = row.getAs[Long]("n_rows")
    def apply(name: String): Long = row.getAs[Long](name)
    def key(check: String): Long = keyCounts.getOrElse((part, check), 0L)
  }

  /** How one family grades a counts row into its verdicts. */
  private[validation] type Grade = (Counts, String) => Seq[Verdict]

  private def rate(nv: Long, c: Counts): Double = nv.toDouble / c.nRows.toDouble

  /** Zero tolerance: fail on any violation; the metric is the violation rate. */
  private def zeroTolerance(c: Counts, check: String, nv: Long, runId: String): Verdict =
    Verdict(c.part, check, nv == 0, rate(nv, c), 0.0, c.nRows, nv, runId)

  private val rowGrades: Grade = (c, runId) =>
    RowChecks.map(k => zeroTolerance(c, k.check, c(nViolationsOf(k.check)), runId))

  /** Null-rate verdicts: pass while the null rate stays within [[NullRateMax]]. */
  private val coverageGrades: Grade = (c, runId) =>
    Seq("null_caption" -> "null_rate_caption", "null_bytes" -> "null_rate_bytes").map {
      case (nulls, check) =>
        val r = rate(c(nulls), c)
        Verdict(c.part, check, r <= NullRateMax, r, NullRateMax, c.nRows, c(nulls), runId)
    }

  private val keyGrades: Grade = (c, runId) =>
    KeyChecks.map(k => zeroTolerance(c, k, c.key(k), runId))

  /** The grading of the families a [[partSummary]] counts: row, coverage
    * and quality. */
  private val decodeGrades: Grade = (c, runId) =>
    rowGrades(c, runId) ++ coverageGrades(c, runId) ++ Scoring.qualityGrades(c, runId)

  /** The full engine's grading: the decode families and the key family. */
  private val allGrades: Grade = (c, runId) => decodeGrades(c, runId) ++ keyGrades(c, runId)

  /** The counts rows of `facts`' partitions: one collect of [[partSummary]]. */
  private[validation] def summaryCounts(facts: DataFrame): Seq[Counts] =
    partSummary(facts).drop("sketch").collect().toSeq.map(Counts(_))

  /** The verdicts `grade` gives `counts`, as a local relation. */
  private[validation] def gradedFrame(spark: SparkSession, counts: Seq[Counts], runId: String)
                                     (grade: Grade): DataFrame = {
    import spark.implicits._
    counts.flatMap(grade(_, runId)).toDF()
  }

  /** Per-(part, check) verdicts for the row-invariant family, graded from
    * [[partSummary]]'s counts, which this call collects (one Spark job).
    * `violations` is NOT read: the counts come from the same check table
    * [[rowViolations]] fans out. The parameter is kept only because the
    * benchmark under `perfbench/` compiles against this signature.
    */
  def rowVerdicts(facts: DataFrame, violations: DataFrame, runId: String): DataFrame =
    gradedFrame(facts.sparkSession, summaryCounts(facts), runId)(rowGrades)

  /** Null-rate / coverage verdicts per partition (A10 — the core stat),
    * graded from [[partSummary]]'s counts, which this call collects.
    */
  def coverageVerdicts(facts: DataFrame, runId: String): DataFrame =
    gradedFrame(facts.sparkSession, summaryCounts(facts), runId)(coverageGrades)

  /** [[rowVerdicts]], [[coverageVerdicts]] and [[Scoring.qualityVerdicts]]
    * together, from one collect of their counts.
    */
  private[validation] def decodeVerdicts(facts: DataFrame, runId: String): DataFrame =
    gradedFrame(facts.sparkSession, summaryCounts(facts), runId)(decodeGrades)

  /** Id-keyed checks over a whole table: [[incrementalKeyChecks]] against
    * an empty key index — the full check is the incremental one started
    * from nothing, so every key-check violation row is built in one place.
    * Like it, this call counts the candidates (Spark jobs run here).
    */
  def keyChecks(light: DataFrame, captions: DataFrame, runId: String): (DataFrame, DataFrame) =
    incrementalKeyChecks(light, emptyStore(light.sparkSession, KeysSchema), captions, runId)

  /** The violations of [[keyChecks]] alone: a lazy plan over the joins, no
    * verdict graded and no Spark job run.
    */
  private[validation] def keyViolations(light: DataFrame, captions: DataFrame): DataFrame = {
    val spark = light.sparkSession
    newKeyViolations(keyCandidates(light, emptyStore(spark, KeysSchema), captions,
      emptyStore(spark, "part STRING"), None))
  }

  /** Full suite over the whole table; returns (verdicts, violations,
    * metrics). The same computation as [[runAndCheckpoint]], started from
    * an empty prior state and returning the frames instead of committing
    * them: the verdicts and metrics are local relations built on the
    * driver, the violations a frame over the cached facts and candidates.
    */
  def run(spark: SparkSession, dataDir: String, runId: String): (DataFrame, DataFrame, DataFrame) = {
    val facts = decodeFactsExpr(ImageGen.images(spark, dataDir)).cache()
    val summary = summaryCounts(facts)
    // key and drift checks read the light columns of the cached facts
    val kd = keyDrift(facts.select(LightCols.map(col): _*), ImageGen.captions(spark, dataDir),
      emptyPrior(spark), runId, Drift.DriverFinalizeMaxPartials)()
    // the drift verdicts are final (collected or cached) once built
    kd.freshPds.unpersist()
    val small = new Small(spark, summary.map(_.copy(keyCounts = kd.keyCounts)), allGrades,
      kd.drift, pendingDrift = false, runId)
    (small.verdicts, rowViolations(facts).unionByName(kd.kViol).unionByName(kd.drift.violations),
      metricsFrame(spark, summary.flatMap(metricRows(_, runId))))
  }

  /** Per-partition lineage metrics (PerformanceTimer twin), from
    * [[partSummary]]'s counts, which this call collects.
    */
  def metricsOf(facts: DataFrame, runId: String): DataFrame =
    metricsFrame(facts.sparkSession, summaryCounts(facts).flatMap(metricRows(_, runId)))

  /** The metric rows of a counts row: row count, bytes and mean PSNR, as
    * rows of [[MetricSchema]], where a null sum or mean stays a null value.
    */
  private def metricRows(c: Counts, runId: String): Seq[Row] =
    Seq("n_rows" -> c.nRows.toDouble, "bytes_total" -> c.row.getAs[Any]("bytes_total"),
      "psnr_mean" -> c.row.getAs[Any]("psnr_mean")).map { case (m, v) => Row(c.part, m, v, runId) }

  private val MetricSchema = StructType.fromDDL("part STRING, metric STRING, value DOUBLE, run_id STRING")

  /** Metric rows as a local relation. */
  private def metricsFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), MetricSchema)

  /** The key-check kernel: uniqueness, referential (both directions) and
    * caption consistency for the PENDING partitions only, against a
    * persisted key index `(image_id, part)` of everything validated so far
    * — done partitions are never re-scanned; a full check is this kernel
    * over an empty index ([[keyChecks]]).
    * Cross-partition duplicates against old runs surface as violations on
    * the NEW partition (the old partition's verdict is already checkpointed
    * — the reference's resume semantics, validation_agent.py:787-812).
    * At 10^12 scale the key index is the standard dedup-index pattern:
    * O(keys) storage, hash-equi joins only (bucket it by hash(image_id) in
    * the Iceberg layout so the join is storage-partitioned). Its left-outer
    * and anti joins are ones AQE can split on skewed keys (SkewStressSpec).
    * The verdicts are graded when this is called: it collects the light
    * frame's `(part, n_rows)` and counts the candidates (two Spark jobs).
    */
  def incrementalKeyChecks(lightNew: DataFrame, oldKeys: DataFrame,
                           captions: DataFrame, runId: String,
                           doneParts: DataFrame = null,
                           priorOrphans: DataFrame = null): (DataFrame, DataFrame) = {
    val spark = lightNew.sparkSession
    // not persisted: the violations stay a lazy plan over the joins
    val candidates = keyCandidates(lightNew, oldKeys, captions,
      Option(doneParts).getOrElse(emptyStore(spark, "part STRING")), Option(priorOrphans))
    val keyCounts = countByPartCheck(candidates)
    (gradedFrame(spark, lightCounts(lightNew).map(Counts(_, keyCounts)), runId)(keyGrades),
      newKeyViolations(candidates))
  }

  /** The key checks, each failing a partition any candidate of that
    * `(part, check)` carries.
    */
  private val KeyChecks = Seq("uniqueness_image_id", "referential_caption_exists",
    "referential_image_exists", "caption_consistent")

  /** `(part, n_rows)` of a light frame, collected. */
  private def lightCounts(lightNew: DataFrame): Seq[Row] =
    lightNew.groupBy("part").agg(count(lit(1)).as("n_rows")).collect().toSeq

  /** Every key-check violation candidate of an increment, built once: the
    * violation columns plus `is_new`, false only for orphan captions
    * `priorOrphans` already holds. The verdicts count all candidates, the
    * violations keep the new ones ([[newKeyViolations]]).
    */
  private def keyCandidates(lightNew: DataFrame, oldKeys: DataFrame, captions: DataFrame,
                            doneParts: DataFrame,
                            priorOrphans: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val caps = captions.select(col("image_id").as("cap_id"),
      col("part").as("cap_part"), col("caption").as("cap_caption"))
    val w = Window.partitionBy("image_id")
    val withN = lightNew.withColumn("n_new", count(lit(1)).over(w))
    val oldCount = oldKeys.groupBy("image_id").agg(count(lit(1)).as("n_old"))
    val dupViol = withN.join(oldCount, Seq("image_id"), "left")
      .na.fill(0L, Seq("n_old"))
      .filter(col("n_new") + col("n_old") > 1)
      .select(col("part"), col("image_id"), lit("uniqueness_image_id").as("check"),
        concat(lit("key seen "), col("n_new") + col("n_old"), lit(" times")).as("observed"),
        lit("unique image_id").as("expected"))
    // one left-outer caption join yields both the missing-caption rows (no
    // caption matched) and the mismatch rows (a caption matched and differs)
    val missing = col("cap_id").isNull
    val capViol = lightNew.join(caps, lightNew("image_id") === caps("cap_id"), "left")
      .filter(missing || (col("caption").isNotNull && col("cap_caption").isNotNull &&
        col("caption") =!= col("cap_caption")))
      .select(col("part"), col("image_id"),
        when(missing, lit("referential_caption_exists"))
          .otherwise(lit("caption_consistent")).as("check"),
        when(missing, lit("no caption row")).otherwise(col("cap_caption")).as("observed"),
        when(missing, lit("caption row exists")).otherwise(col("caption")).as("expected"))
    // Orphan captions: no image row anywhere in the table validated so
    // far. SEMANTICS (deliberate, spec-pinned): every run assesses every
    // caption in a NOT-DONE partition against the full current key index
    // (old ∪ new) — exactly what a full `keyChecks` reports over the data
    // present at that moment. The violations table is append-only,
    // run_id-stamped provenance, so an image id that ARRIVES in a later
    // run does not retract an earlier run's recorded orphan (the record
    // was true of the table its run saw); conversely a caption partition
    // whose images never arrive — one that would otherwise never be
    // validated — is still checked (these partitions never produce a
    // state row, so they stay not-done and are re-assessed each run).
    // Candidates `priorOrphans` already holds are flagged not new, which
    // keeps that re-assessment from appending one duplicate copy per run;
    // the VERDICT counts use every candidate, so a partition's verdict row
    // reflects all of its orphans as of its validation run, not just the
    // newly discovered ones. Done partitions are never re-checked (their
    // captions were assessed when they were validated).
    val allIds = oldKeys.select("image_id")
      .unionByName(lightNew.select("image_id"))
    // a caption without a part belongs to no partition a run validates
    val orphanAll = caps.filter(col("cap_part").isNotNull)
      .join(broadcast(doneParts.withColumnRenamed("part", "cap_part")),
        Seq("cap_part"), "left_anti")
      .join(allIds, caps("cap_id") === allIds("image_id"), "left_anti")
    def asOrphanRows(df: DataFrame, isNew: Boolean): DataFrame = df
      .select(col("cap_part").as("part"), col("cap_id").as("image_id"),
        lit("referential_image_exists").as("check"),
        lit("caption without image").as("observed"), lit("image row exists").as("expected"),
        lit(isNew).as("is_new"))
    // semi + anti rather than a flagging left join: a duplicated prior
    // orphan must not duplicate the candidate the verdicts count
    val orphans = priorOrphans.map { po =>
      val seen = orphanAll("cap_part") === po("part") && orphanAll("cap_id") === po("image_id")
      asOrphanRows(orphanAll.join(po, seen, "left_anti"), isNew = true)
        .unionByName(asOrphanRows(orphanAll.join(po, seen, "left_semi"), isNew = false))
    }.getOrElse(asOrphanRows(orphanAll, isNew = true))
    dupViol.unionByName(capViol).withColumn("is_new", lit(true)).unionByName(orphans)
  }

  /** The violation rows of the candidates not already stored. */
  private def newKeyViolations(candidates: DataFrame): DataFrame =
    candidates.filter(col("is_new")).drop("is_new")

  /** True when `dir` exists on the session's filesystem. A genuine read
    * error must PROPAGATE — swallowing it would silently disable
    * cross-run duplicate detection and falsely pass uniqueness.
    */
  private[validation] def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Marker file recording that a violations store has uniform per-file
    * schema (every file carries `run_id`). Underscore prefix: parquet
    * readers ignore it as a non-data file.
    */
  private val RunIdMarker = "_runid_uniform"

  /** One-time, crash-safe migration of a violations store with files
    * written before the `run_id` column existed: such a dir is (or will
    * become, on the next append) MIXED-schema, and plain reads sample one
    * file's footer — they nondeterministically drop `run_id` or null it
    * for every row. The rewrite reads with mergeSchema (real `run_id`
    * values in newer files are preserved, legacy rows get null) and lands
    * a uniform-schema copy via [[PartitionedStore.rewriteAside]] (original
    * deleted only after the rewrite completes). Gated on a marker file
    * rather than a sampled-footer column check: the sampled check cannot
    * see a mixed dir reliably. The marker is (re)created after every
    * successful append, so the rewrite runs at most once per pre-marker
    * store.
    */
  private[validation] def ensureViolationsRunId(spark: SparkSession, dir: String): Unit = {
    PartitionedStore.rewriteAside(spark, dir)(!runIdMarked(spark, dir)) { legacyPath =>
      val merged = spark.read.option("mergeSchema", "true").parquet(legacyPath)
      val uniform =
        if (merged.columns.contains("run_id")) merged
        else merged.withColumn("run_id", lit(null).cast("string"))
      uniform.write.mode(SaveMode.Overwrite).parquet(dir)
    }
    markRunIdUniform(spark, dir)
  }

  private def runIdMarked(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, RunIdMarker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True when [[ensureViolationsRunId]] on `dir` would rewrite it. */
  private def violationsNeedRewrite(spark: SparkSession, dir: String): Boolean =
    PartitionedStore.rewritePending(spark, dir)(!runIdMarked(spark, dir))

  /** Create the uniform-schema marker (idempotent). Called after the
    * migration above and after every successful append — every file the
    * engine writes carries `run_id`, so a marked store stays uniform.
    */
  private def markRunIdUniform(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, RunIdMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p.getParent) && !fs.exists(p)) fs.create(p, true).close()
  }

  /** Columns of the bytes-free projection the key and drift checks read. */
  private val LightCols = Seq("image_id", "part", "w", "h", "caption")
  private val KeysSchema = "image_id STRING, part STRING"
  private val OrphansSchema = "part STRING, image_id STRING"
  private val HllSchema = "sketch BINARY, part STRING"

  /** An empty frame with a store's schema (DDL) — what a side store reads
    * as before its first write, and the parts of an empty prior state.
    */
  private def emptyStore(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(ddl))

  /** Read one of the engine's own stores with its declared schema — no
    * footer-inference job per read — or its empty frame before the first
    * write.
    */
  private def readStore(spark: SparkSession, dir: String, ddl: String): DataFrame =
    if (pathExists(spark, dir)) spark.read.schema(ddl).parquet(dir)
    else emptyStore(spark, ddl)

  /** What a checkpoint already holds, as an increment reads it: the done
    * partitions, the key index and drift partials restricted to them, and
    * the orphan captions already stored.
    */
  private case class Prior(doneDf: DataFrame, keys: DataFrame, orphans: DataFrame,
                           partials: Dataset[Drift.DriftPartial])

  /** The prior state of a checkpoint that holds nothing — [[run]]'s. */
  private def emptyPrior(spark: SparkSession): Prior = {
    import spark.implicits._
    Prior(emptyStore(spark, "part STRING"), emptyStore(spark, KeysSchema),
      emptyStore(spark, OrphansSchema), spark.emptyDataset[Drift.DriftPartial])
  }

  /** Read the prior state of the checkpoint under `outDir`, given its done
    * partitions `doneDf`. Side-store content beyond the done set is
    * ignored: state is the commit point.
    */
  private def readPrior(spark: SparkSession, outDir: String, doneDf: DataFrame): Prior = {
    import spark.implicits._
    // Restrict the key index to DONE partitions (exactly like the drift
    // partials below): a crash between the keys append and the state
    // append would otherwise leave keys for partitions that are pending
    // again, and the retry would flag every one of their rows as a
    // cross-run duplicate. Broadcast semi-join rather than an isin literal
    // list: at 10^5+ partitions the literal would bloat the plan (the scan
    // filter keeps isin because partition pruning needs compile-time
    // literals).
    val keys = readStore(spark, s"$outDir/keys", KeysSchema)
      .join(broadcast(doneDf), Seq("part"), "left_semi")
    // Migrate the violations store to a uniform schema BEFORE any frame
    // reads it (the prior-orphan dedup below scans it; its file listing is
    // snapshotted at construction, so the later same-run append is not
    // seen mid-scan).
    ensureViolationsRunId(spark, s"$outDir/violations")
    // (part, image_id) pairs already reported as orphan captions: caption-
    // only partitions never turn done, so they are re-checked every run —
    // this anti-join set keeps the append-only store duplicate-free (and
    // also absorbs a crashed attempt's at-least-once re-append).
    // localCheckpoint PINS the snapshot eagerly: the same run APPENDS to
    // the violations dir this frame reads, and relying on the eager
    // file-listing of spark.read would leave the dedup input lineage-
    // dependent — a stage retry re-executing this anti-join input after
    // the append (or a future lazily-listed source) could change the set
    // mid-run. Checkpointing truncates the lineage to the materialized
    // blocks, so the read happens exactly once, now. Executor-local
    // storage (not the driver): the orphan set is O(orphan captions),
    // which at 10^12 rows is too large to collect.
    val orphans =
      if (pathExists(spark, s"$outDir/violations"))
        spark.read.schema(Encoders.product[Violation].schema).parquet(s"$outDir/violations")
          .filter(col("check") === "referential_image_exists")
          .select("part", "image_id").distinct()
          .localCheckpoint()
      else emptyStore(spark, OrphansSchema)
    // the same broadcast semi-join as the keys: stored sketches of parts
    // outside the done set are never decoded
    val partials = Drift.readPartialsDS(spark, s"$outDir/drift_partials")
      .join(broadcast(doneDf), Seq("part"), "left_semi").as[Drift.DriftPartial]
    Prior(doneDf, keys, orphans, partials)
  }

  /** Key-check and drift output of one increment. `candidates` are the
    * persisted key-check candidates the violations read, and `keyCounts`
    * their number per `(part, check)`, counted by the action that
    * materialized them. `freshPds` are the pending partitions' drift
    * partials, persisted: the commit stores them. `drift` may hold frames
    * cached by the distributed finalize; [[release]] frees them, the
    * partials and the candidates once written, or once a leg failed.
    */
  private case class KeyDrift(candidates: DataFrame, keyCounts: Map[(String, String), Long],
                              drift: Drift.Finalized, freshPds: Dataset[Drift.DriftPartial]) {
    def kViol: DataFrame = newKeyViolations(candidates)
    def release(): Unit = {
      candidates.unpersist(); freshPds.unpersist()
      drift.verdicts.unpersist(); drift.violations.unpersist()
    }
  }

  /** Key checks and drift of a pending light frame against a prior state —
    * the one engine path of [[run]], [[runAndCheckpoint]] and
    * [[lightIncrement]]. The candidates are materialized and counted, and
    * the drift finalized, as two concurrent legs beside `sideLegs`; both
    * read prior snapshots the commit later replaces. `driverFinalizeMax`
    * is [[Drift.verdictsAuto]]'s bound.
    */
  private def keyDrift(lightNew: DataFrame, captions: DataFrame, prior: Prior, runId: String,
                       driverFinalizeMax: Int)(sideLegs: (() => Unit)*): KeyDrift = {
    var candidates: DataFrame = null
    var keyCounts: Map[(String, String), Long] = null
    var freshPds: Dataset[Drift.DriftPartial] = null
    var drift: Drift.Finalized = null
    try concurrently(Seq(
      () => {
        // persisted: the violations write reads the candidates, and without
        // it would re-run every key-check join
        candidates = keyCandidates(lightNew, prior.keys, captions, prior.doneDf,
          Some(prior.orphans)).persist()
        keyCounts = countByPartCheck(candidates)
      },
      () => {
        // Drift partials stay DISTRIBUTED end-to-end: fresh partials from
        // the pending scan union the persisted partials of done partitions
        // (parts are disjoint, both sides pre-reduced per key), and
        // finalizeAuto finalizes driver-side below its bound, in executors
        // beyond — nothing funnels through the driver at 10^6-partition
        // scale.
        freshPds = Drift.partials(lightNew).persist()
        drift = Drift.finalizeAuto(lightNew.sparkSession, prior.partials.union(freshPds), runId,
          None, driverFinalizeMax)
      }) ++ sideLegs: _*)
    catch { case e: Throwable =>
      Option(candidates).foreach(_.unpersist()); Option(freshPds).foreach(_.unpersist())
      Option(drift).foreach { d => d.verdicts.unpersist(); d.violations.unpersist() }
      throw e
    }
    KeyDrift(candidates, keyCounts, drift, freshPds)
  }

  /** The candidates per `(part, check)`, counted in the one action that
    * materializes the persisted candidates: each task counts its rows into
    * an accumulator, the driver adds the per-task counts — no shuffle.
    */
  private def countByPartCheck(candidates: DataFrame): Map[(String, String), Long] = {
    val counts = candidates.sparkSession.sparkContext
      .collectionAccumulator[((String, String), Long)]("key-check candidate counts")
    candidates.select("part", "check").foreachPartition { (rows: Iterator[Row]) =>
      val n = scala.collection.mutable.HashMap[(String, String), Long]()
      rows.foreach { r =>
        val k = (r.getString(0), r.getString(1))
        n(k) = n.getOrElse(k, 0L) + 1L
      }
      n.foreach(counts.add)
    }
    import scala.jdk.CollectionConverters._
    counts.value.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Run `legs` side by side, one new thread per leg, and return when every
    * leg has ended. A new thread inherits the caller's Spark local
    * properties (job group, job description, scheduler pool) — the threads
    * of a shared pool would not — so a leg's jobs are charged and scheduled
    * like the caller's. Every leg is joined even when one fails; then the
    * first failure is rethrown, the others attached as suppressed.
    */
  private def concurrently(legs: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = legs.map { leg =>
      val t = new Thread(() => try leg() catch { case e: Throwable => failures.add(e) },
        "graft-leg")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failures.poll()).foreach { first =>
      failures.forEach(e => first.addSuppressed(e))
      throw first
    }
  }

  /** The small families of one increment, built on the driver from its
    * pending partitions' counts rows, which `grade` grades. The projection
    * of [[Scoring.verdictScore]] over the local relation folds in the
    * optimizer, so no Spark job runs here — except, when the executors
    * finalized the drift check, one filtered collect of the pending
    * partitions' failing drift verdicts for the state rows. `pendingDrift`
    * keeps the drift verdicts of the pending partitions only.
    */
  private final class Small(spark: SparkSession, counts: Seq[Counts], grade: Grade,
                            drift: Drift.Finalized, pendingDrift: Boolean, runId: String) {
    import spark.implicits._

    private val graded: Seq[Verdict] = counts.flatMap(grade(_, runId))

    private val parts = counts.map(_.part).toSet

    /** The rows of `df` of the pending partitions. */
    def pendingOnly(df: DataFrame): DataFrame =
      df.join(parts.toSeq.toDF("part"), Seq("part"), "left_semi")

    /** The drift verdict rows, when the driver finalized them. */
    private val driftRows: Option[Seq[Verdict]] =
      drift.local.map(_.filter(v => !pendingDrift || parts(v.part)))

    /** Every verdict, scored (V1; [[Scoring.overallScores]] composes them). */
    def verdicts: DataFrame = {
      val local = spark.createDataset(graded ++ driftRows.getOrElse(Nil)).toDF()
      scored(if (driftRows.isDefined) local
        else local.unionByName(if (pendingDrift) pendingOnly(drift.verdicts) else drift.verdicts))
    }

    /** One state row per pending partition: the sum of its verdicts'
      * `n_violations` and their largest `n_rows`; `finished_at` is stamped
      * at commit.
      */
    def stateRows: Seq[StateRow] = {
      val drifted = driftRows.getOrElse(pendingOnly(drift.verdicts)
        .filter(col("n_violations") =!= 0).as[Verdict].collect().toSeq)
      (graded ++ drifted).filter(v => parts(v.part)).groupBy(_.part).toSeq.map { case (p, vs) =>
        StateRow(p, "done", vs.map(_.n_rows).max, vs.map(_.n_violations).sum, runId, 0L)
      }
    }
  }

  private def scored(verdicts: DataFrame): DataFrame =
    verdicts.withColumn("score",
      Scoring.verdictScore(col("check"), col("metric"), col("threshold")))

  /** Shared commit-protocol tail of [[runAndCheckpoint]] and
    * [[lightIncrement]] — the crash-ordering invariant lives HERE only. It
    * runs after [[keyDrift]] has read the prior key index and drift
    * partials (and, beside it, the full engine has appended its metrics and
    * overwritten its HLL sketches), with the verdicts and the state rows
    * already built on the driver ([[Small]]), in this order:
    *   - the verdicts append ‖ the violations append and its
    *     `_runid_uniform` marker: output tables append (at-least-once on
    *     crash-retry);
    *   - the keys overwrite ‖ the drift-partials overwrite, only now: side
    *     stores extend via dynamic partition overwrite (idempotent per
    *     partition), each re-caches every plan over its store
    *     (`refreshByPath`), and the persisted frames the violations and
    *     verdicts read scan them (the candidates the key index, the
    *     distributed drift finalize's frames the stored partials);
    *   - the state append of `state` — the commit point — LAST, and only
    *     when every leg before it succeeded (a failed leg is rethrown once
    *     its barrier has joined all legs). `finished_at` is stamped here.
    */
  private def commitIncrement(spark: SparkSession, outDir: String, runId: String,
      verdicts: DataFrame, violations: DataFrame, state: Seq[StateRow], lightNew: DataFrame,
      freshPds: Dataset[Drift.DriftPartial]): Unit = {
    import spark.implicits._
    concurrently(
      () => verdicts.write.mode(SaveMode.Append).parquet(s"$outDir/verdicts"),
      () => {
        violations.withColumn("run_id", lit(runId))
          .write.mode(SaveMode.Append).parquet(s"$outDir/violations")
        markRunIdUniform(spark, s"$outDir/violations")
      })
    concurrently(
      () => PartitionedStore.write(lightNew.select("image_id", "part"), s"$outDir/keys"),
      () => Drift.writePartialsDS(freshPds, s"$outDir/drift_partials"))
    val finishedAt = System.currentTimeMillis()
    spark.createDataset(state.map(_.copy(finished_at = finishedAt))).toDF()
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$outDir/state")
  }

  /** Light-projection increment — the full resumable key-check + drift
    * cycle (verdict/violation/state writes included) for one pending
    * light frame, WITHOUT the decode families: this is the unit of work a
    * streaming micro-batch performs, committed through the same
    * [[commitIncrement]] protocol as the full engine — so foreachBatch's
    * at-least-once redelivery re-runs a crashed batch without duplicating
    * store rows. Drift verdicts/violations are FILTERED to this batch's
    * partitions: the global check internally re-evaluates done partitions
    * against the updated baseline, but re-APPENDING their rows every
    * micro-batch would grow the output tables O(batches × partitions)
    * (the batch engine reports them per resumed RUN, which is rare; a
    * micro-batch is not).
    */
  def lightIncrement(spark: SparkSession, lightNew0: DataFrame,
                     captions: DataFrame, outDir: String, runId: String): Unit =
    lightIncrement(spark, lightNew0, captions, outDir, runId, Drift.DriverFinalizeMaxPartials)

  /** [[lightIncrement]] with the drift finalize's driver bound lowered —
    * how a spec sends a checkpointed call down the distributed finalize.
    */
  private[validation] def lightIncrement(spark: SparkSession, lightNew0: DataFrame,
      captions: DataFrame, outDir: String, runId: String, driverFinalizeMax: Int): Unit = {
    import spark.implicits._
    val done: Set[String] = readDoneParts(spark, s"$outDir/state")
    val doneDf = done.toSeq.toDF("part")
    // broadcast anti-join, not an isin literal: this frame is a micro-
    // batch (no partition discovery to feed compile-time literals — the
    // only reason the batch scan keeps isin), and a 10^5-element INSET
    // per batch would bloat every micro-batch plan
    val lightNew = (if (done.isEmpty) lightNew0
      else lightNew0.join(broadcast(doneDf), Seq("part"), "left_anti")).cache()
    var kd: KeyDrift = null
    try {
      // the emptiness check: the batch's (part, n_rows), before any read
      // of the prior state
      val partRows = lightCounts(lightNew)
      if (partRows.isEmpty) return
      kd = keyDrift(lightNew, captions, readPrior(spark, outDir, doneDf), runId,
        driverFinalizeMax)()
      val small = new Small(spark, partRows.map(Counts(_, kd.keyCounts)), keyGrades,
        kd.drift, pendingDrift = true, runId)
      commitIncrement(spark, outDir, runId, small.verdicts,
        kd.kViol.unionByName(small.pendingOnly(kd.drift.violations)), small.stateRows, lightNew,
        kd.freshPds)
    } finally { Option(kd).foreach(_.release()); lightNew.unpersist() }
  }

  /** Persist verdict/violation/metric/state tables; appends state rows so a
    * rerun skips completed partitions (exactly-once over partitions).
    *
    * FULLY resumable (ST2): on resume, done partitions are not re-read by
    * ANY check family —
    *   - row families prune to pending `part=` directories (partition
    *     pruning on the scan);
    *   - uniqueness/referential/consistency run incrementally against the
    *     persisted key index (`outDir/keys`);
    *   - drift merges persisted per-partition sketch partials
    *     (`outDir/drift_partials`) with fresh partials from pending
    *     partitions only.
    */
  def runAndCheckpoint(spark: SparkSession, dataDir: String, outDir: String,
                       runId: String): Unit =
    runAndCheckpoint(spark, dataDir, outDir, runId, Drift.DriverFinalizeMaxPartials)

  /** [[runAndCheckpoint]] with the drift finalize's driver bound lowered —
    * how a spec sends a checkpointed call down the distributed finalize.
    */
  private[validation] def runAndCheckpoint(spark: SparkSession, dataDir: String, outDir: String,
                                           runId: String, driverFinalizeMax: Int): Unit = {
    import spark.implicits._
    val images = ImageGen.images(spark, dataDir)
    val captions = ImageGen.captions(spark, dataDir)
    val done: Set[String] = readDoneParts(spark, s"$outDir/state")
    val doneDf = done.toSeq.toDF("part")
    // Partition-pruned scan via a NOT-isin literal over the done set.
    // Scale notes (measured): >10 elements converts to a hashed INSET,
    // evaluated ONCE driver-side during partition discovery (never shipped
    // per task); a 10^5-element set costs ~4 s of one-time planning —
    // acceptable per resumed run. A broadcast semi-join on a pending-parts
    // frame does NOT work here: dynamic partition pruning declines a
    // local-relation dim, so the scan would re-read every done partition.
    // Beyond ~10^6 partitions the production answer is a metadata-
    // filtering table format (the north-star's Iceberg layout), where the
    // done-set filter prunes in the catalog, not the plan.
    val pending = if (done.isEmpty) images
      else images.filter(!col("part").isin(done.toSeq: _*))

    // cached (in barrier 1's first leg): the summary and the row-violation
    // fan-out both read the decoded facts, and the key and drift checks
    // read their light columns
    val facts = decodeFactsExpr(pending)
    // persisted likewise: one row per pending partition, whose counts the
    // driver collects and whose sketches the HLL store and estimate read
    val summary = partSummary(facts)
    var counts: Seq[Counts] = null
    val countsLeg: () => Unit = () => {
      facts.cache(); summary.persist()
      counts = summary.drop("sketch").collect().toSeq.map(Counts(_))
    }
    var prior: Prior = null
    val priorLeg: () => Unit = () => prior = readPrior(spark, outDir, doneDf)
    var kd: KeyDrift = null
    try {
      // Barrier 1: the counts collect ‖ the prior-state read — unless that
      // read would first migrate the violations store: the migration is a
      // write, so it waits for the counts to show pending work, and an
      // all-done rerun writes nothing.
      if (violationsNeedRewrite(spark, s"$outDir/violations")) countsLeg()
      else concurrently(countsLeg, priorLeg)
      // idempotent no-op rerun: everything is done — appending the drift
      // verdicts recomputed from stored partials again would grow the
      // output tables on every invocation without new information
      if (counts.isEmpty) return
      if (prior == null) priorLeg()

      // Cross-run NDV(image_id) from mergeable HLL sketches (DataSketches
      // HLL via the builtin hll_* functions): the summary's sketch per
      // pending partition is merged with the persisted sketches of DONE
      // partitions — resumed runs get the sketch-accuracy estimate without
      // re-reading a single done partition (the same resume pattern as the
      // drift t-digest partials). The sketches never reach the driver. The
      // estimate reads the store before its overwrite, and the metrics
      // append — which carries the estimate — fails the call before any
      // verdict or violation is appended.
      val storedHll = readStore(spark, s"$outDir/hll", HllSchema)
        .join(broadcast(doneDf), Seq("part"), "left_semi")
      val sideLeg: () => Unit = () => {
        val ndv = ndvOf(summary.select("part", "sketch").unionByName(storedHll))
        val metrics = metricsFrame(spark, counts.flatMap(metricRows(_, runId)) :+
          Row("_global", "ndv_image_id_hll", ndv.toDouble, runId))
        concurrently(
          () => metrics.write.mode(SaveMode.Append).parquet(s"$outDir/metrics"),
          () => PartitionedStore.write(summary.select("part", "sketch"), s"$outDir/hll"))
      }
      // Barrier 2: the key-check candidates ‖ the drift finalize ‖ the NDV
      // estimate, then the metrics append ‖ the HLL overwrite
      val lightNew = facts.select(LightCols.map(col): _*)
      kd = keyDrift(lightNew, captions, prior, runId, driverFinalizeMax)(sideLeg)
      val small = new Small(spark, counts.map(_.copy(keyCounts = kd.keyCounts)), allGrades,
        kd.drift, pendingDrift = false, runId)

      // Commit through the shared protocol (see commitIncrement). Key-index
      // + sketch stores extend via DYNAMIC PARTITION OVERWRITE, not append:
      // a crash-retry re-processes the same partitions, and appending would
      // leave duplicate key rows (inflating n_old for ever after) and
      // duplicate drift partials (doubling that partition's histogram on
      // merge) — the output tables stay append-only (at-least-once on
      // crash, exactly-once per successful run; the state table is the
      // commit point).
      commitIncrement(spark, outDir, runId, small.verdicts,
        rowViolations(facts).unionByName(kd.kViol).unionByName(kd.drift.violations),
        small.stateRows, lightNew, kd.freshPds)
    } finally {
      Option(kd).foreach(_.release())
      facts.unpersist(); summary.unpersist()
    }
  }

  /** NDV(image_id) of per-partition HLL sketches `(part, sketch)`. The
    * union's estimate depends on the order it merges sketches in, so the
    * sketches are merged in `part` order by one fold in one task, and the
    * same sketches give the same estimate whatever order they arrive in.
    * That task holds one sketch per partition, as the drift probe's single
    * task holds one partial per partition and column.
    */
  private[validation] def ndvOf(sketches: DataFrame): Long =
    sketches.repartition(1).sortWithinPartitions("part", "sketch")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))).head().getLong(0)

  def readDoneParts(spark: SparkSession, stateDir: String): Set[String] =
    if (!pathExists(spark, stateDir)) Set.empty
    else {
      import spark.implicits._
      spark.read.schema(Encoders.product[StateRow].schema).parquet(stateDir)
        .filter(col("status") === "done")
        .select("part").as[String].collect().toSet
    }

  /** Invalidate partitions whose CONTENT changed under a done checkpoint —
    * the execution of the revalidation planner's `revalidate` action
    * (SnapshotQueries.revalidationPlan): crash-safely rewrite the state
    * table without those parts' rows, so the next [[runAndCheckpoint]]
    * re-validates exactly them. ONLY state moves: the keys / drift-partial
    * / HLL side stores self-heal, because every read of them filters by
    * the (now smaller) done set and the re-run replaces their `part=`
    * directories via dynamic partition overwrite; verdict/violation tables
    * are append-only history — the stale run's rows stay, distinguished by
    * run_id (the reference keeps superseded assessments the same way,
    * validation_agent.py:787-812). `parts` is dirty-partition-sized (the
    * fingerprint join's output), so the isin literal stays small by
    * construction. */
  def invalidateParts(spark: SparkSession, outDir: String,
                      parts: Set[String]): Unit = {
    if (parts.isEmpty) return
    val stateDir = s"$outDir/state"
    if (!pathExists(spark, stateDir)) return
    PartitionedStore.rewriteAside(spark, stateDir)(true) { legacy =>
      spark.read.parquet(legacy)
        .filter(!col("part").isin(parts.toSeq: _*))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(stateDir)
    }
  }
}
