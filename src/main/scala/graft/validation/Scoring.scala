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

  /** The per-partition ladder counts over decoded facts, as aggregate
    * columns of ImageSuite's per-partition summary.
    */
  private[validation] val LadderCounts: Seq[Column] = {
    val decodable = col("decode_ok")
    val psnr = col("psnr_db"); val ham = col("phash_hamming")
    Seq(
      count_if(decodable).as("nd"),
      count_if(decodable && psnr >= 45.0).as("p1"),
      count_if(decodable && psnr >= PsnrThr && psnr < 45.0).as("p08"),
      count_if(decodable && psnr >= 30.0 && psnr < PsnrThr).as("p06"),
      count_if(decodable && ham >= 0).as("nh"),
      count_if(decodable && ham === 0).as("h1"),
      count_if(decodable && ham >= 1 && ham <= 4).as("h08"),
      count_if(decodable && ham >= 5 && ham <= ImageSuite.PhashHammingMax).as("h06"))
  }

  /** The two quality verdicts of a counts row ([[LadderCounts]]): the
    * metric is the MEAN per-row ladder score (reference scores each record
    * then averages); rows scoring below [[QualityPassMin]] count as
    * violations. Partitions with zero scorable rows get the reference's
    * 0.5 "unavailable" score.
    *
    * The mean is computed from INTEGER bucket counts — mean =
    * (10·n₁.₀ + 8·n₀.₈ + 6·n₀.₆ + 2·n₀.₂) / (10·n) — algebraically equal to
    * avg(per-row score) but with a single exact division: the result is
    * bit-identical at any partition count / merge order (a float `avg`
    * re-associates across partitions), which makes the verdict both
    * rerun-deterministic at cluster scale and DuckDB-oracle-reproducible.
    */
  private[validation] val qualityGrades: ImageSuite.Grade = (c, runId) => {
    def grade(check: String, n: Long, c1: Long, c08: Long, c06: Long): Verdict = {
      val bad = n - c1 - c08 - c06
      val mean =
        if (n > 0) (c1 * 10 + c08 * 8 + c06 * 6 + bad * 2).toDouble / (n * 10).toDouble
        else 0.5 // reference's "unavailable" score
      Verdict(c.part, check, mean >= QualityPassMin, mean, QualityPassMin, c.nRows, bad, runId)
    }
    Seq(grade("psnr_quality", c("nd"), c("p1"), c("p08"), c("p06")),
      grade("phash_quality", c("nh"), c("h1"), c("h08"), c("h06")))
  }

  /** Per-partition graded-quality verdicts from decoded facts, graded from
    * ImageSuite's per-partition summary counts ([[qualityGrades]]), which
    * this call collects.
    */
  def qualityVerdicts(facts: DataFrame, runId: String): DataFrame =
    ImageSuite.gradedFrame(facts.sparkSession, ImageSuite.summaryCounts(facts), runId)(qualityGrades)

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
