package graft.validation

import graft.images.ImageGen
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The north-rule constraint-validation engine over the image+caption table.
  *
  * Pipeline shape (designed for 10^12 rows / 1000 executors), one pass per
  * layer:
  *
  *   scan(images, pruned to pending partitions)           ── no shuffle
  *     → decode stage (image_facts expression)            ── narrow
  *     → per-partition summary: every row-check count,    ── 1 shuffle (part)
  *       null and ladder counts, metrics, HLL sketch
  *     → row/coverage/quality verdicts: one explode of    ── narrow
  *       the summary; violation rows: one explode of the
  *       decoded facts
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
  * One engine path: [[runAndCheckpoint]] reads the checkpoint's prior
  * state, computes and commits; [[run]] computes the same increment over
  * an empty prior state and returns the frames.
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

  def idOrdinal(id: String): Long =
    try id.stripPrefix("img-").toLong catch { case _: Throwable => -1L }

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

  /** One verdict entry of a summary row, as [[summaryVerdicts]] explodes it. */
  private[validation] def verdictEntry(check: String, pass: Column, metric: Column,
                                       threshold: Double, nViolations: Column): Column =
    struct(lit(check).as("check"), pass.as("pass"), metric.cast("double").as("metric"),
      lit(threshold).as("threshold"), nViolations.cast("long").as("n_violations"))

  /** Verdict rows of a [[partSummary]]: one narrow explode of `entries`. */
  private[validation] def summaryVerdicts(summary: DataFrame, entries: Seq[Column],
                                          runId: String): DataFrame =
    summary.select(col("part"), col("n_rows"), explode(array(entries: _*)).as("v"))
      .select(col("part"), col("v.check").as("check"), col("v.pass").as("pass"),
        col("v.metric").as("metric"), col("v.threshold").as("threshold"),
        col("n_rows"), col("v.n_violations").as("n_violations"), lit(runId).as("run_id"))

  private def rate(n: Column): Column = n.cast("double") / col("n_rows").cast("double")

  /** Zero-tolerance verdicts of the row checks: fail on any violation; the
    * metric is the violation rate.
    */
  private val RowEntries: Seq[Column] = RowChecks.map { c =>
    val nv = col(nViolationsOf(c.check))
    verdictEntry(c.check, nv === 0, rate(nv), 0.0, nv)
  }

  /** Null-rate verdicts: pass while the null rate stays within [[NullRateMax]]. */
  private val CoverageEntries: Seq[Column] =
    Seq("null_caption" -> "null_rate_caption", "null_bytes" -> "null_rate_bytes").map {
      case (nulls, check) =>
        verdictEntry(check, rate(col(nulls)) <= NullRateMax, rate(col(nulls)),
          NullRateMax, col(nulls))
    }

  /** Per-(part, check) verdicts for the row-invariant family — a projection
    * of [[partSummary]]. `violations` is NOT read: the counts come from the
    * same check table [[rowViolations]] fans out. The parameter is kept
    * only because the benchmark under `perfbench/` compiles against this
    * signature.
    */
  def rowVerdicts(facts: DataFrame, violations: DataFrame, runId: String): DataFrame =
    summaryVerdicts(partSummary(facts), RowEntries, runId)

  /** Null-rate / coverage verdicts per partition (A10 — the core stat). */
  def coverageVerdicts(facts: DataFrame, runId: String): DataFrame =
    summaryVerdicts(partSummary(facts), CoverageEntries, runId)

  /** Id-keyed checks over a whole table: [[incrementalKeyChecks]] against
    * an empty key index — the full check is the incremental one started
    * from nothing, so every key-check violation row is built in one place.
    */
  def keyChecks(light: DataFrame, captions: DataFrame, runId: String): (DataFrame, DataFrame) =
    incrementalKeyChecks(light, emptyStore(light.sparkSession, KeysSchema), captions, runId)

  /** Full suite over the whole table; returns (verdicts, violations,
    * metrics). The same computation as [[runAndCheckpoint]], started from
    * an empty prior state and returning the frames instead of committing
    * them.
    */
  def run(spark: SparkSession, dataDir: String, runId: String): (DataFrame, DataFrame, DataFrame) = {
    val facts = decodeFactsExpr(ImageGen.images(spark, dataDir)).cache()
    val summary = partSummary(facts)
    // key and drift checks read the light columns of the cached facts
    val kd = keyDrift(facts.select(LightCols.map(col): _*), summary.select("part", "n_rows"),
      ImageGen.captions(spark, dataDir), emptyPrior(spark), runId)
    // the drift verdicts are final (collected or cached) once built
    kd.freshPds.unpersist()
    val (verdicts, violations) = allFamilies(summary, facts, kd, runId)
    (verdicts, violations, metricRows(summary, runId))
  }

  /** Per-partition lineage metrics (PerformanceTimer twin). */
  def metricsOf(facts: DataFrame, runId: String): DataFrame =
    metricRows(partSummary(facts), runId)

  /** The metric rows of a [[partSummary]]: row count, bytes and mean PSNR. */
  private def metricRows(summary: DataFrame, runId: String): DataFrame =
    summary.select(col("part"), explode(array(
        struct(lit("n_rows").as("metric"), col("n_rows").cast("double").as("value")),
        struct(lit("bytes_total").as("metric"), col("bytes_total").as("value")),
        struct(lit("psnr_mean").as("metric"), col("psnr_mean").as("value")))).as("m"))
      .select(col("part"), col("m.metric").as("metric"), col("m.value").as("value"),
        lit(runId).as("run_id"))

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
    */
  def incrementalKeyChecks(lightNew: DataFrame, oldKeys: DataFrame,
                           captions: DataFrame, runId: String,
                           doneParts: DataFrame = null,
                           priorOrphans: DataFrame = null): (DataFrame, DataFrame) = {
    val candidates = keyCandidates(lightNew, oldKeys, captions,
      Option(doneParts).getOrElse(emptyStore(lightNew.sparkSession, "part STRING")),
      Option(priorOrphans))
    (keyVerdicts(lightNew.groupBy("part").agg(count(lit(1)).as("n_rows")), candidates, runId),
      newKeyViolations(candidates))
  }

  private val KeyChecks = Seq("uniqueness_image_id", "referential_caption_exists",
    "referential_image_exists", "caption_consistent")

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

  /** Zero-tolerance key-check verdicts: one row per (part of `parts`,
    * check), failing when any candidate carries that (part, check); the
    * metric is the violation rate. `parts` holds `(part, n_rows)`.
    */
  private def keyVerdicts(parts: DataFrame, candidates: DataFrame, runId: String): DataFrame = {
    val checksDf = parts.sparkSession.createDataFrame(KeyChecks.map(Tuple1(_))).toDF("check")
    val vcounts = candidates.groupBy("part", "check").agg(count(lit(1)).as("n_violations"))
    parts.crossJoin(broadcast(checksDf))
      .join(vcounts, Seq("part", "check"), "left")
      .na.fill(0L, Seq("n_violations"))
      .select(col("part"), col("check"),
        (col("n_violations") === 0).as("pass"),
        (col("n_violations").cast("double") / col("n_rows").cast("double")).as("metric"),
        lit(0.0).as("threshold"),
        col("n_rows"), col("n_violations"), lit(runId).as("run_id"))
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
    PartitionedStore.rewriteAside(spark, dir)({
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      !fs.exists(new org.apache.hadoop.fs.Path(p, RunIdMarker))
    }) { legacyPath =>
      val merged = spark.read.option("mergeSchema", "true").parquet(legacyPath)
      val uniform =
        if (merged.columns.contains("run_id")) merged
        else merged.withColumn("run_id", lit(null).cast("string"))
      uniform.write.mode(SaveMode.Overwrite).parquet(dir)
    }
    markRunIdUniform(spark, dir)
  }

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
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

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
    * persisted key-check candidates both `kVerd` and `kViol` read;
    * `freshPds` are the pending partitions' drift partials, persisted: the
    * commit stores them, then releases them. `dVerd`/`dViol` may be cached
    * by the distributed finalize; [[release]] frees them and the candidates
    * once written.
    */
  private case class KeyDrift(kVerd: DataFrame, kViol: DataFrame,
                              dVerd: DataFrame, dViol: DataFrame,
                              freshPds: Dataset[Drift.DriftPartial],
                              candidates: DataFrame) {
    def release(): Unit = { candidates.unpersist(); dVerd.unpersist(); dViol.unpersist() }
  }

  /** Key checks and drift of a pending light frame against a prior state —
    * the one engine path of [[run]], [[runAndCheckpoint]] and
    * [[lightIncrement]]. `parts` holds the pending `(part, n_rows)`.
    */
  private def keyDrift(lightNew: DataFrame, parts: DataFrame, captions: DataFrame,
                       prior: Prior, runId: String): KeyDrift = {
    // persisted: the verdicts and the violations both read the candidates,
    // and without it the violations write re-runs every key-check join
    val candidates = keyCandidates(lightNew, prior.keys, captions, prior.doneDf,
      Some(prior.orphans)).persist()
    // Drift partials stay DISTRIBUTED end-to-end: fresh partials from the
    // pending scan union the persisted partials of done partitions (parts
    // are disjoint, both sides pre-reduced per key), and verdictsAuto
    // finalizes driver-side below 10^5 partials, in executors beyond —
    // nothing funnels through the driver at 10^6-partition scale.
    val freshPds = Drift.partials(lightNew).persist()
    val (dVerd, dViol) =
      Drift.verdictsAuto(lightNew.sparkSession, prior.partials.union(freshPds), runId)
    KeyDrift(keyVerdicts(parts, candidates, runId), newKeyViolations(candidates),
      dVerd, dViol, freshPds, candidates)
  }

  private def scored(verdicts: DataFrame): DataFrame =
    verdicts.withColumn("score",
      Scoring.verdictScore(col("check"), col("metric"), col("threshold")))

  /** Every check family over one increment: the row, coverage and quality
    * verdicts as one explode of the pending partitions' [[partSummary]],
    * the row violations from the decoded facts, plus the key and drift
    * output. Returns (scored verdicts, violations); every verdict carries a
    * graded score (V1), and Scoring.overallScores composes them (V8).
    */
  private def allFamilies(summary: DataFrame, facts: DataFrame, kd: KeyDrift, runId: String)
      : (DataFrame, DataFrame) = {
    val verdicts = summaryVerdicts(summary,
        RowEntries ++ CoverageEntries ++ Scoring.QualityEntries, runId)
      .unionByName(kd.kVerd).unionByName(kd.dVerd)
    (scored(verdicts), rowViolations(facts).unionByName(kd.kViol).unionByName(kd.dViol))
  }

  /** Shared commit-protocol tail of [[runAndCheckpoint]] and
    * [[lightIncrement]] — the crash-ordering invariant lives HERE only:
    * output tables append first (at-least-once on crash-retry), state
    * rows are materialized to the driver BEFORE the keys overwrite
    * replaces the files their lineage scans, side stores extend via
    * dynamic partition overwrite (idempotent per partition), and the
    * state write — the commit point — runs LAST. The state rows aggregate
    * the (persisted) verdicts of `parts`, the increment's pending
    * partitions: drift verdicts also cover done partitions.
    * `afterViolations` / `beforeState` are the slots where the full engine
    * inserts its metrics and HLL-store legs at the protocol positions they
    * require (metrics before the state-row collect; the HLL overwrite
    * before the commit, after the partials it mirrors).
    */
  private def commitIncrement(spark: SparkSession, outDir: String, runId: String,
      verdicts: DataFrame, violations: DataFrame, lightNew: DataFrame, parts: DataFrame,
      freshPds: Dataset[Drift.DriftPartial])(
      afterViolations: => Unit, beforeState: => Unit): Unit = {
    import spark.implicits._
    verdicts.write.mode(SaveMode.Append).parquet(s"$outDir/verdicts")
    violations.withColumn("run_id", lit(runId))
      .write.mode(SaveMode.Append).parquet(s"$outDir/violations")
    markRunIdUniform(spark, s"$outDir/violations")
    afterViolations
    val stateRows: Seq[StateRow] = verdicts
      .join(parts, Seq("part"), "left_semi")
      .groupBy("part").agg(
        sum(col("n_violations")).as("nv"), max(col("n_rows")).as("nr"))
      .select(col("part"), lit("done").as("status"), col("nr").as("n_rows"),
        col("nv").as("n_violations"), lit(runId).as("run_id"),
        lit(System.currentTimeMillis()).as("finished_at"))
      .as[StateRow].collect().toSeq
    PartitionedStore.write(lightNew.select("image_id", "part"), s"$outDir/keys")
    Drift.writePartialsDS(freshPds, s"$outDir/drift_partials")
    freshPds.unpersist()
    beforeState
    spark.createDataset(stateRows).toDF()
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
                     captions: DataFrame, outDir: String, runId: String): Unit = {
    import spark.implicits._
    val done: Set[String] = readDoneParts(spark, s"$outDir/state")
    val doneDf = done.toSeq.toDF("part")
    // broadcast anti-join, not an isin literal: this frame is a micro-
    // batch (no partition discovery to feed compile-time literals — the
    // only reason the batch scan keeps isin), and a 10^5-element INSET
    // per batch would bloat every micro-batch plan
    val lightNew = (if (done.isEmpty) lightNew0
      else lightNew0.join(broadcast(doneDf), Seq("part"), "left_anti")).cache()
    if (lightNew.isEmpty) { lightNew.unpersist(); return }
    val parts = lightNew.groupBy("part").agg(count(lit(1)).as("n_rows"))
    val kd = keyDrift(lightNew, parts, captions, readPrior(spark, outDir, doneDf), runId)
    val batchParts = parts.select("part")
    val verdicts = scored(kd.kVerd
      .unionByName(kd.dVerd.join(batchParts, Seq("part"), "left_semi")))
      .persist()
    val violations = kd.kViol
      .unionByName(kd.dViol.join(batchParts, Seq("part"), "left_semi"))
    commitIncrement(spark, outDir, runId, verdicts, violations, lightNew, batchParts,
      kd.freshPds)((), ())
    kd.release()
    lightNew.unpersist(); verdicts.unpersist()
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
                       runId: String): Unit = {
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

    // cached: the summary and the row-violation fan-out both read the
    // decoded facts, and the key and drift checks read their light columns
    val facts = decodeFactsExpr(pending).cache()
    // persisted: one row per pending partition, read by the verdicts, the
    // metrics, the HLL store and the state rows
    val summary = partSummary(facts).persist()

    // Cross-run NDV(image_id) from mergeable HLL sketches (DataSketches HLL
    // via the builtin hll_* functions): the summary's sketch per pending
    // partition is merged with the persisted sketches of DONE partitions —
    // resumed runs get the sketch-accuracy estimate without re-reading a
    // single done partition (the same resume pattern as the drift t-digest
    // partials). Estimated EAGERLY (collect) before the store below is
    // overwritten; the same collect counts the pending partitions.
    val storedHll = readStore(spark, s"$outDir/hll", HllSchema)
      .join(broadcast(doneDf), Seq("part"), "left_semi")
    val hllRow = summary.select(col("sketch"), lit(true).as("fresh"))
      .unionByName(storedHll.select(col("sketch"), lit(false).as("fresh")))
      .agg(count_if(col("fresh")),
        hll_sketch_estimate(hll_union_agg(col("sketch"))))
      .head()
    if (hllRow.getLong(0) == 0L) {
      // idempotent no-op rerun: everything is done — appending the drift
      // verdicts recomputed from stored partials again would grow the
      // output tables on every invocation without new information
      facts.unpersist(); summary.unpersist()
      return
    }
    val ndvImageId = hllRow.getLong(1)

    val lightNew = facts.select(LightCols.map(col): _*)
    val kd = keyDrift(lightNew, summary.select("part", "n_rows"), captions,
      readPrior(spark, outDir, doneDf), runId)
    val (allVerdicts, violations) = allFamilies(summary, facts, kd, runId)
    // persisted: the frame is tiny (one row per partition × check) but its
    // lineage is the whole engine — the verdicts write AND the state-row
    // aggregation below both consume it, and without the persist the
    // second action re-executes every check family (measured: ~10% of the
    // run wall at 4 cores)
    val verdicts = allVerdicts.persist()

    // Commit through the shared protocol (see commitIncrement): metrics
    // ride the afterViolations slot, the HLL store overwrite the
    // beforeState slot. Key-index + sketch stores extend via DYNAMIC
    // PARTITION OVERWRITE, not append: a crash-retry re-processes the
    // same partitions, and appending would leave duplicate key rows
    // (inflating n_old for ever after) and duplicate drift partials
    // (doubling that partition's histogram on merge) — the output tables
    // stay append-only (at-least-once on crash, exactly-once per
    // successful run; the state table is the commit point).
    commitIncrement(spark, outDir, runId, verdicts, violations, lightNew,
      summary.select("part"), kd.freshPds)(
      afterViolations =
        metricRows(summary, runId)
          .unionByName(spark.createDataset(Seq(
            MetricRow("_global", "ndv_image_id_hll", ndvImageId.toDouble, runId))).toDF())
          .write.mode(SaveMode.Append).parquet(s"$outDir/metrics"),
      beforeState = PartitionedStore.write(summary.select("part", "sketch"), s"$outDir/hll"))
    kd.release()
    facts.unpersist(); summary.unpersist(); verdicts.unpersist()
  }

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
