package graft.validation

import graft.images.ImageGen
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The north-rule constraint-validation engine over the image+caption table.
  *
  * Pipeline shape (designed for 10^12 rows / 1000 executors):
  *
  *   scan(images, pruned to pending partitions)           ── no shuffle
  *     → decode stage (image_facts expression)            ── narrow
  *     → per-row violation array + explode                ── narrow
  *     → per-partition verdict aggregation                ── 1 shuffle (part)
  *   key checks: pending keys vs the stored key index     ── hash joins on
  *     (left-outer count join, anti joins both ways)         image_id
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

  /** Row-invariant violation fan-out: one array<struct> per row, exploded —
    * Catalyst-native generator, no UDTF (SURVEY.md §2.10).
    */
  def rowViolations(facts: DataFrame): DataFrame = {
    def viol(cond: Column, check: String, observed: Column, expected: String): Column =
      when(cond, struct(lit(check).as("check"),
        observed.cast("string").as("observed"), lit(expected).as("expected")))

    val entries = array(
      viol(!col("has_bytes"), "bytes_present", lit("empty"), "non-empty bytes"),
      viol(col("has_bytes") && !col("decode_ok"), "decodable",
        concat(lit("undecodable n_bytes="), col("n_bytes")), "decodable image"),
      viol(col("w") <= 0 || col("h") <= 0, "dims_positive",
        concat(lit("w="), col("w"), lit(" h="), col("h")), "w>0 and h>0"),
      viol(col("decode_ok") && (col("w") =!= col("dec_w") || col("h") =!= col("dec_h")),
        "dims_match_decoded",
        concat(lit("asserted="), col("w"), lit("x"), col("h"),
          lit(" decoded="), col("dec_w"), lit("x"), col("dec_h")),
        "asserted dims equal decoded dims"),
      viol(col("w") === 0 && col("h") === 0 && !col("has_bytes"), "sentinel_row",
        lit("w=h=0, empty bytes"), "no sentinel rows"),
      viol(col("decode_ok") && !isnan(col("psnr_db")) && col("psnr_db") < PsnrThresholdDb,
        "psnr_allclose", round(col("psnr_db"), 2),
        s"PSNR >= $PsnrThresholdDb dB vs ground truth"),
      viol(col("decode_ok") && col("phash_hamming") > PhashHammingMax,
        "phash_consistent", col("phash_hamming"),
        s"hamming(phash, recomputed) <= $PhashHammingMax"),
      viol(col("fmt_sniffed") =!= lit("none") && col("fmt") =!= col("fmt_sniffed"),
        "fmt_matches_magic",
        concat(lit("fmt="), col("fmt"), lit(" magic="), col("fmt_sniffed")),
        "fmt tag equals magic bytes"),
      viol(col("caption").isNotNull && col("caption") =!= col("caption_expected"),
        "caption_equality", col("caption"), "caption bit-for-bit equal to source"))

    facts
      .withColumn("v", explode(filter(entries, e => e.isNotNull)))
      .select(col("part"), col("image_id"), col("v.check").as("check"),
        col("v.observed").as("observed"), col("v.expected").as("expected"))
  }

  /** Per-(part, check) verdicts for the row-invariant family. */
  def rowVerdicts(facts: DataFrame, violations: DataFrame, runId: String): DataFrame = {
    val rowChecks = Seq("bytes_present", "decodable", "dims_positive",
      "dims_match_decoded", "sentinel_row", "psnr_allclose", "phash_consistent",
      "fmt_matches_magic", "caption_equality")
    rateVerdicts(facts, violations.filter(col("check").isin(rowChecks: _*)),
      rowChecks, runId)
  }

  /** Zero-tolerance verdicts: one row per (part of `rows`, check), failing
    * when any `violations` row carries that (part, check); the metric is
    * the violation rate.
    */
  private def rateVerdicts(rows: DataFrame, violations: DataFrame,
                           checks: Seq[String], runId: String): DataFrame = {
    val parts = rows.groupBy("part").agg(count(lit(1)).as("n_rows"))
    val checksDf = rows.sparkSession.createDataFrame(checks.map(Tuple1(_))).toDF("check")
    val vcounts = violations.groupBy("part", "check").agg(count(lit(1)).as("n_violations"))
    parts.crossJoin(broadcast(checksDf))
      .join(vcounts, Seq("part", "check"), "left")
      .na.fill(0L, Seq("n_violations"))
      .select(col("part"), col("check"),
        (col("n_violations") === 0).as("pass"),
        (col("n_violations").cast("double") / col("n_rows").cast("double")).as("metric"),
        lit(0.0).as("threshold"),
        col("n_rows"), col("n_violations"), lit(runId).as("run_id"))
  }

  /** Null-rate / coverage verdicts per partition (A10 — the core stat). */
  def coverageVerdicts(facts: DataFrame, runId: String): DataFrame = {
    val agg = facts.groupBy("part").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("caption").isNull, 1L).otherwise(0L)).as("null_caption"),
      sum(when(!col("has_bytes"), 1L).otherwise(0L)).as("null_bytes"))
    def verdict(nullCol: String, check: String) =
      agg.select(col("part"), lit(check).as("check"),
        (col(nullCol).cast("double") / col("n_rows").cast("double") <= NullRateMax).as("pass"),
        (col(nullCol).cast("double") / col("n_rows").cast("double")).as("metric"),
        lit(NullRateMax).as("threshold"),
        col("n_rows"), col(nullCol).as("n_violations"), lit(runId).as("run_id"))
    verdict("null_caption", "null_rate_caption")
      .unionByName(verdict("null_bytes", "null_rate_bytes"))
  }

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
    val images = ImageGen.images(spark, dataDir)
    val facts = decodeFactsExpr(images).cache()
    // Key and drift checks never touch `bytes`: a light projection keeps
    // their pass down to pruned parquet columns, cached once and shared.
    val light = images.select(LightCols.map(col): _*).cache()
    val kd = keyDrift(light, ImageGen.captions(spark, dataDir), emptyPrior(spark), runId)
    // the drift verdicts are final (collected or cached) once built
    kd.freshPds.unpersist()
    val (verdicts, violations) = allFamilies(facts, kd, runId)
    (verdicts, violations, metricsOf(facts, runId))
  }

  /** Per-partition lineage metrics (PerformanceTimer twin). */
  def metricsOf(facts: DataFrame, runId: String): DataFrame = {
    val spark = facts.sparkSession
    import spark.implicits._
    facts.groupBy("part").agg(
        count(lit(1)).as("nr"),
        sum("n_bytes").cast("double").as("bytes_total"),
        avg(when(col("decode_ok"), col("psnr_db"))).as("psnr_mean"))
      .select(col("part"), col("nr"), col("bytes_total"), col("psnr_mean"))
      .as[(String, Long, Double, Double)]
      .flatMap { case (p, nr, bt, pm) => Seq(
        MetricRow(p, "n_rows", nr.toDouble, runId),
        MetricRow(p, "bytes_total", bt, runId),
        MetricRow(p, "psnr_mean", pm, runId))
      }.toDF()
  }

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
    import org.apache.spark.sql.expressions.Window
    val caps = captions.select(col("image_id").as("cap_id"),
      col("part").as("cap_part"), col("caption").as("cap_caption"))
    val w = Window.partitionBy("image_id")
    val withN = lightNew.withColumn("n_new", count(lit(1)).over(w))
    val oldCount = oldKeys.groupBy("image_id").agg(count(lit(1)).as("n_old"))
    val j = withN.join(oldCount, Seq("image_id"), "left")
      .na.fill(0L, Seq("n_old"))
    val dupViol = j.filter(col("n_new") + col("n_old") > 1)
      .select(col("part"), col("image_id"), lit("uniqueness_image_id").as("check"),
        concat(lit("key seen "), col("n_new") + col("n_old"), lit(" times")).as("observed"),
        lit("unique image_id").as("expected"))
    val missingCap = lightNew.join(caps,
        lightNew("image_id") === caps("cap_id"), "left_anti")
      .select(col("part"), col("image_id"), lit("referential_caption_exists").as("check"),
        lit("no caption row").as("observed"), lit("caption row exists").as("expected"))
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
    // state row, so they stay not-done and are re-assessed each run). The
    // `priorOrphans` anti-join keeps that re-assessment from appending one
    // duplicate copy per run; the VERDICT counts below use the PRE-dedup
    // candidates, so a partition's verdict row reflects all of its orphans
    // as of its validation run, not just the newly discovered ones. Done
    // partitions are never re-checked (their captions were assessed when
    // they were validated).
    val donePartsDf = Option(doneParts).getOrElse(
      emptyStore(lightNew.sparkSession, "part STRING"))
    val notDoneCapParts = caps.select("cap_part").distinct()
      .join(broadcast(donePartsDf.withColumnRenamed("part", "cap_part")),
        Seq("cap_part"), "left_anti")
    val allIds = oldKeys.select("image_id")
      .unionByName(lightNew.select("image_id"))
    def asOrphanRows(df: DataFrame): DataFrame = df
      .select(col("cap_part").as("part"), col("cap_id").as("image_id"),
        lit("referential_image_exists").as("check"),
        lit("caption without image").as("observed"), lit("image row exists").as("expected"))
    val orphanAll = caps
      .join(broadcast(notDoneCapParts), Seq("cap_part"), "left_semi")
      .join(allIds, caps("cap_id") === allIds("image_id"), "left_anti")
    val orphanNew = Option(priorOrphans).map(po =>
      orphanAll.join(po,
        orphanAll("cap_part") === po("part") &&
          orphanAll("cap_id") === po("image_id"), "left_anti")
    ).getOrElse(orphanAll)
    val mismatch = lightNew.join(caps, lightNew("image_id") === caps("cap_id"))
      .filter(col("caption").isNotNull && col("cap_caption").isNotNull &&
        col("caption") =!= col("cap_caption"))
      .select(col("part"), col("image_id"), lit("caption_consistent").as("check"),
        col("cap_caption").as("observed"), col("caption").as("expected"))
    def violationsWith(orphans: DataFrame): DataFrame = dupViol
      .unionByName(missingCap).unionByName(asOrphanRows(orphans)).unionByName(mismatch)
    val checks = Seq("uniqueness_image_id", "referential_caption_exists",
      "referential_image_exists", "caption_consistent")
    // verdict counts come from the PRE-dedup orphan candidates (see the
    // orphan comment above): a partition validated this run must count
    // orphans an earlier run already stored, or its verdict would read
    // cleaner than an uninterrupted run's
    (rateVerdicts(lightNew, violationsWith(orphanAll), checks, runId),
      violationsWith(orphanNew))
  }

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

  /** An empty frame with a store's schema (DDL) — what a side store reads
    * as before its first write, and the parts of an empty prior state.
    */
  private def emptyStore(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Read the per-partition HLL-sketch store (mergeable image_id NDV). */
  private def readHll(spark: SparkSession, dir: String): DataFrame =
    if (pathExists(spark, dir)) spark.read.parquet(dir).select("sketch", "part")
    else emptyStore(spark, "sketch BINARY, part STRING")

  private def readKeys(spark: SparkSession, dir: String): DataFrame =
    if (pathExists(spark, dir)) spark.read.parquet(dir).select("image_id", "part")
    else emptyStore(spark, KeysSchema)

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
    * partitions. Side-store content beyond the done set is ignored: state
    * is the commit point.
    */
  private def readPrior(spark: SparkSession, outDir: String, done: Set[String]): Prior = {
    import spark.implicits._
    // Restrict the key index to DONE partitions (exactly like the drift
    // partials below): a crash between the keys append and the state
    // append would otherwise leave keys for partitions that are pending
    // again, and the retry would flag every one of their rows as a
    // cross-run duplicate. Broadcast semi-join rather than an isin literal
    // list: at 10^5+ partitions the literal would bloat the plan (the scan
    // filter keeps isin because partition pruning needs compile-time
    // literals).
    val doneDf = done.toSeq.toDF("part")
    val keys = readKeys(spark, s"$outDir/keys")
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
        spark.read.parquet(s"$outDir/violations")
          .filter(col("check") === "referential_image_exists")
          .select("part", "image_id").distinct()
          .localCheckpoint()
      else emptyStore(spark, OrphansSchema)
    // The `done` membership filter is a closure over the done-set (fine to
    // ~10^5 parts; beyond that, broadcast-semi-join like the keys above).
    val partials = Drift.readPartialsDS(spark, s"$outDir/drift_partials")
      .filter(p => done.contains(p.part))
    Prior(doneDf, keys, orphans, partials)
  }

  /** Key-check and drift output of one increment. `freshPds` are the
    * pending partitions' drift partials, persisted: the commit stores them,
    * then releases them. `dVerd`/`dViol` may be cached by the distributed
    * finalize; [[release]] frees them once written.
    */
  private case class KeyDrift(kVerd: DataFrame, kViol: DataFrame,
                              dVerd: DataFrame, dViol: DataFrame,
                              freshPds: Dataset[Drift.DriftPartial]) {
    def release(): Unit = { dVerd.unpersist(); dViol.unpersist() }
  }

  /** Key checks and drift of a pending light frame against a prior state —
    * the one engine path of [[run]], [[runAndCheckpoint]] and
    * [[lightIncrement]].
    */
  private def keyDrift(lightNew: DataFrame, captions: DataFrame, prior: Prior,
                       runId: String): KeyDrift = {
    val (kVerd, kViol) = incrementalKeyChecks(lightNew, prior.keys, captions, runId,
      prior.doneDf, prior.orphans)
    // Drift partials stay DISTRIBUTED end-to-end: fresh partials from the
    // pending scan union the persisted partials of done partitions (parts
    // are disjoint, both sides pre-reduced per key), and verdictsAuto
    // finalizes driver-side below 10^5 partials, in executors beyond —
    // nothing funnels through the driver at 10^6-partition scale.
    val freshPds = Drift.partials(lightNew).persist()
    val (dVerd, dViol) =
      Drift.verdictsAuto(lightNew.sparkSession, prior.partials.union(freshPds), runId)
    KeyDrift(kVerd, kViol, dVerd, dViol, freshPds)
  }

  private def scored(verdicts: DataFrame): DataFrame =
    verdicts.withColumn("score",
      Scoring.verdictScore(col("check"), col("metric"), col("threshold")))

  /** Every check family over one increment: the row, coverage and quality
    * families from the decoded pending facts, plus its key and drift
    * output. Returns (scored verdicts, violations); every verdict carries a
    * graded score (V1), and Scoring.overallScores composes them (V8).
    */
  private def allFamilies(facts: DataFrame, kd: KeyDrift, runId: String)
      : (DataFrame, DataFrame) = {
    val rv = rowViolations(facts)
    val verdicts = rowVerdicts(facts, rv, runId)
      .unionByName(coverageVerdicts(facts, runId))
      .unionByName(Scoring.qualityVerdicts(facts, runId))
      .unionByName(kd.kVerd).unionByName(kd.dVerd)
    (scored(verdicts), rv.unionByName(kd.kViol).unionByName(kd.dViol))
  }

  /** Shared commit-protocol tail of [[runAndCheckpoint]] and
    * [[lightIncrement]] — the crash-ordering invariant lives HERE only:
    * output tables append first (at-least-once on crash-retry), state
    * rows are materialized to the driver BEFORE the keys overwrite
    * replaces the files their lineage scans, side stores extend via
    * dynamic partition overwrite (idempotent per partition), and the
    * state write — the commit point — runs LAST. `afterViolations` /
    * `beforeState` are the slots where the full engine inserts its
    * metrics and HLL-store legs at the protocol positions they require
    * (metrics before the state-row collect; the HLL overwrite before the
    * commit, after the partials it mirrors).
    */
  private def commitIncrement(spark: SparkSession, outDir: String, runId: String,
      verdicts: DataFrame, violations: DataFrame, lightNew: DataFrame,
      freshPds: Dataset[Drift.DriftPartial])(
      afterViolations: => Unit, beforeState: => Unit): Unit = {
    import spark.implicits._
    verdicts.write.mode(SaveMode.Append).parquet(s"$outDir/verdicts")
    violations.withColumn("run_id", lit(runId))
      .write.mode(SaveMode.Append).parquet(s"$outDir/violations")
    markRunIdUniform(spark, s"$outDir/violations")
    afterViolations
    val stateRows: Seq[StateRow] = verdicts
      .join(lightNew.select("part").distinct(), Seq("part"), "left_semi")
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
    // broadcast anti-join, not an isin literal: this frame is a micro-
    // batch (no partition discovery to feed compile-time literals — the
    // only reason the batch scan keeps isin), and a 10^5-element INSET
    // per batch would bloat every micro-batch plan
    val lightNew = (if (done.isEmpty) lightNew0
      else lightNew0.join(broadcast(done.toSeq.toDF("part")), Seq("part"), "left_anti")).cache()
    if (lightNew.isEmpty) { lightNew.unpersist(); return }
    val kd = keyDrift(lightNew, captions, readPrior(spark, outDir, done), runId)
    val batchParts = lightNew.select("part").distinct()
    val verdicts = scored(kd.kVerd
      .unionByName(kd.dVerd.join(batchParts, Seq("part"), "left_semi")))
      .persist()
    val violations = kd.kViol
      .unionByName(kd.dViol.join(batchParts, Seq("part"), "left_semi"))
    commitIncrement(spark, outDir, runId, verdicts, violations, lightNew, kd.freshPds)((), ())
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

    val facts = decodeFactsExpr(pending).cache()
    val lightNew = pending.select(LightCols.map(col): _*).cache()
    if (lightNew.isEmpty) {
      // idempotent no-op rerun: everything is done — appending the drift
      // verdicts recomputed from stored partials again would grow the
      // output tables on every invocation without new information
      facts.unpersist(); lightNew.unpersist()
      return
    }

    val prior = readPrior(spark, outDir, done)
    val kd = keyDrift(lightNew, captions, prior, runId)
    val (allVerdicts, violations) = allFamilies(facts, kd, runId)
    // persisted: the frame is tiny (one row per partition × check) but its
    // lineage is the whole engine — the verdicts write AND the state-row
    // aggregation below both consume it, and without the persist the
    // second action re-executes every check family (measured: ~10% of the
    // run wall at 4 cores)
    val verdicts = allVerdicts.persist()

    // Cross-run NDV(image_id) from mergeable HLL sketches (DataSketches HLL
    // via the builtin hll_* functions): one sketch per pending partition is
    // merged with the persisted sketches of DONE partitions — resumed runs
    // get the sketch-accuracy estimate without re-reading a single done
    // partition (the same resume pattern as the drift t-digest partials).
    // Estimated EAGERLY (collect) before the store below is overwritten.
    // Persisted: the estimate here and the sketch-store write below would
    // otherwise each run the full groupBy+sketch pass over the pending
    // rows (and persist also makes the stored bytes the estimated bytes).
    val freshHll = lightNew.groupBy("part")
      .agg(hll_sketch_agg(col("image_id")).as("sketch")).persist()
    val storedHll = readHll(spark, s"$outDir/hll")
      .join(broadcast(prior.doneDf), Seq("part"), "left_semi")
    val ndvImageId: Long = freshHll.select("sketch", "part").unionByName(storedHll)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("ndv"))
      .collect()(0).getLong(0)

    // Commit through the shared protocol (see commitIncrement): metrics
    // ride the afterViolations slot, the HLL store overwrite the
    // beforeState slot. Key-index + sketch stores extend via DYNAMIC
    // PARTITION OVERWRITE, not append: a crash-retry re-processes the
    // same partitions, and appending would leave duplicate key rows
    // (inflating n_old for ever after) and duplicate drift partials
    // (doubling that partition's histogram on merge) — the output tables
    // stay append-only (at-least-once on crash, exactly-once per
    // successful run; the state table is the commit point).
    commitIncrement(spark, outDir, runId, verdicts, violations, lightNew, kd.freshPds)(
      afterViolations =
        metricsOf(facts, runId)
          .unionByName(spark.createDataset(Seq(
            MetricRow("_global", "ndv_image_id_hll", ndvImageId.toDouble, runId))).toDF())
          .write.mode(SaveMode.Append).parquet(s"$outDir/metrics"),
      beforeState = {
        PartitionedStore.write(freshHll, s"$outDir/hll")
        freshHll.unpersist()
      })
    kd.release()
    facts.unpersist(); lightNew.unpersist(); verdicts.unpersist()
  }

  def readDoneParts(spark: SparkSession, stateDir: String): Set[String] =
    if (!pathExists(spark, stateDir)) Set.empty
    else {
      import spark.implicits._
      spark.read.parquet(stateDir).filter(col("status") === "done")
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
