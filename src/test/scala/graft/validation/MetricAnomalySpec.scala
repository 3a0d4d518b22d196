package graft.validation

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Metric anomaly detection + the persisted metrics repository: planted
  * movements flag (and planted stability doesn't), the additive term
  * absorbs near-zero noise, and re-recording a run replaces its
  * partition instead of duplicating history. */
class MetricAnomalySpec extends SparkTestBase {

  private val suite = CheckSuite(Seq(
    Complete("v", 1.0), InRange("v", 0.0, 100.0, 1.0), SizeBetween(1L, 100L)))

  private def frame(vals: Seq[Option[Double]]) = {
    import spark.implicits._
    vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
  }

  test("moved metrics flag, stable metrics don't, near-zero noise is absorbed") {
    val base = frame(Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0)))
    // completeness drops 1.0 -> 0.5 (anomalous); range ALSO drops — nulls
    // count in InRange's denominator but not its numerator; size 4 -> 4
    // is the stable witness
    val cur = frame(Seq(Some(1.0), None, Some(3.0), None))
    val got = MetricAnomaly.vs(suite.run(cur), suite.run(base),
        maxAbsDelta = 0.001, maxRelDelta = 0.05)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got("complete_v") == ((-0.5, true)))
    assert(got("range_v") == ((-0.5, true)))
    assert(got("size") == ((0.0, false)))
    // absolute term: a 0.0005 move on a zero-ish baseline is NOT anomalous
    val tiny = MetricAnomaly.vs(
      spark.sql("SELECT 'x' AS check, 0.0005 AS metric, true AS pass"),
      spark.sql("SELECT 'x' AS check, 0.0 AS metric, true AS pass"),
      maxAbsDelta = 0.001, maxRelDelta = 0.05).collect()(0)
    assert(!tiny.getBoolean(4))
  }

  test("repository: record/history/anomalies round-trip; re-record replaces the run") {
    val tmp = tempDir("metrics_repo")
    val r1 = frame(Seq(Some(1.0), Some(2.0)))
    val r2 = frame(Seq(Some(1.0), None))
    MetricsRepository.record(suite.run(r1), "run1", tmp)
    MetricsRepository.record(suite.run(r2), "run2", tmp)
    // re-record run2 (a retry) — history must not duplicate
    MetricsRepository.record(suite.run(r2), "run2", tmp)
    val h = MetricsRepository.history(spark, tmp)
    assert(h.count() == 2 * suite.checks.size)
    assert(h.select("run_id").distinct().count() == 2)
    val an = MetricsRepository.anomalies(spark, tmp, "run2", "run1", 0.001, 0.05)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(an("complete_v"), "completeness regression must flag")
    assert(!an("size"), "stable size must not flag")
  }
}
