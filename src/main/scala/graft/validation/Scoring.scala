package graft.validation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graded scoring ladders + overall-score composition (V1/V8).
  *
  * The reference's `ValidationResult` carries sub-scores in [0,1] on the
  * 1.0/0.8/0.6/0.2 ladder (elevation buckets,
  * /root/reference/src/crawl_first/validation_agent.py:742-750), a coverage
  * fraction (`calculate_data_coverage_score`, validation_agent.py:753-763),
  * and an `overall_score` = mean of the available sub-scores with a 0.5
  * fallback when none are available (validation_agent.py:422-424, 639).
  * Here the same ladders grade each constraint verdict and per-row image
  * quality; everything is plain column math (codegen'd, no UDF).
  */
object Scoring {

  /** Ladder over a violation rate: clean → 1.0, trace → 0.8, … */
  def rateScore(rate: Column): Column =
    when(rate === 0.0, 1.0)
      .when(rate <= 0.01, 0.8)
      .when(rate <= 0.05, 0.6)
      .otherwise(0.2)

  /** Ladder for drift statistics relative to their pass threshold. */
  def driftScore(metric: Column, thr: Column): Column =
    when(metric <= thr * 0.5, 1.0)
      .when(metric <= thr, 0.8)
      .when(metric <= thr * 2.0, 0.6)
      .otherwise(0.2)

  /** The minimum graded score counted as acceptable quality. */
  val QualityPassMin = 0.6

  private val PsnrThr = ImageSuite.PsnrThresholdDb

  /** Score column for a unified verdict frame: quality checks carry their
    * mean graded score as the metric; drift checks grade vs threshold; all
    * rate-style checks grade the violation rate.
    */
  def verdictScore(check: Column, metric: Column, threshold: Column): Column =
    when(check.isin("psnr_quality", "phash_quality"), metric)
      .when(check.startsWith("drift_"), driftScore(metric, threshold))
      .otherwise(rateScore(metric))

  /** Per-partition graded-quality verdicts from decoded facts: metric is the
    * MEAN per-row ladder score (reference scores each record then averages);
    * rows scoring below [[QualityPassMin]] count as violations. Partitions
    * with zero decodable rows get the reference's 0.5 "unavailable" score.
    */
  def qualityVerdicts(facts: DataFrame, runId: String): DataFrame = {
    val decodable = col("decode_ok")
    // The mean ladder score is computed from INTEGER bucket counts — mean =
    // (10·n₁.₀ + 8·n₀.₈ + 6·n₀.₆ + 2·n₀.₂) / (10·n) — algebraically equal to
    // avg(per-row score) but with a single exact division: the result is
    // bit-identical at any partition count / merge order (a float `avg`
    // re-associates across partitions), which makes the verdict both
    // rerun-deterministic at cluster scale and DuckDB-oracle-reproducible.
    def cnt(cond: Column) = sum(when(cond, 1L).otherwise(0L))
    def ladderMean(n: Column, c1: Column, c08: Column, c06: Column) =
      when(n > 0,
        (c1 * 10 + c08 * 8 + c06 * 6 + (n - c1 - c08 - c06) * 2).cast("double") /
          (n * 10).cast("double"))
        .otherwise(lit(0.5)) // reference's "unavailable" score
    val psnr = col("psnr_db"); val ham = col("phash_hamming")
    val agg = facts.groupBy("part").agg(
      count(lit(1)).as("n_rows"),
      cnt(decodable).as("nd"),
      cnt(decodable && psnr >= 45.0).as("p1"),
      cnt(decodable && psnr >= PsnrThr && psnr < 45.0).as("p08"),
      cnt(decodable && psnr >= 30.0 && psnr < PsnrThr).as("p06"),
      cnt(decodable && ham >= 0).as("nh"),
      cnt(decodable && ham === 0).as("h1"),
      cnt(decodable && ham >= 1 && ham <= 4).as("h08"),
      cnt(decodable && ham >= 5 && ham <= ImageSuite.PhashHammingMax).as("h06"))
      .select(col("part"), col("n_rows"),
        ladderMean(col("nd"), col("p1"), col("p08"), col("p06")).as("psnr_q"),
        (col("nd") - col("p1") - col("p08") - col("p06")).as("psnr_bad"),
        ladderMean(col("nh"), col("h1"), col("h08"), col("h06")).as("phash_q"),
        (col("nh") - col("h1") - col("h08") - col("h06")).as("phash_bad"))
    def verdict(q: String, bad: String, check: String) =
      agg.select(col("part"), lit(check).as("check"),
        (col(q) >= QualityPassMin).as("pass"),
        col(q).as("metric"), lit(QualityPassMin).as("threshold"),
        col("n_rows"), col(bad).as("n_violations"))
    verdict("psnr_q", "psnr_bad", "psnr_quality")
      .unionByName(verdict("phash_q", "phash_bad", "phash_quality"))
      .withColumn("run_id", lit(runId))
  }

  /** V8: per-partition overall score = mean of that partition's sub-scores
    * (all checks emit a score here, so "available" = all; the 0.5 fallback
    * guards the degenerate no-verdict case).
    */
  def overallScores(scoredVerdicts: DataFrame): DataFrame =
    scoredVerdicts.groupBy("part").agg(
      coalesce(avg(col("score")), lit(0.5)).as("overall_score"),
      count(lit(1)).as("n_checks"),
      sum(when(!col("pass"), 1L).otherwise(0L)).as("n_failing"),
      min(col("score")).as("min_score"))
}
