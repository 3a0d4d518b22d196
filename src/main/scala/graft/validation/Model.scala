package graft.validation

/** Typed outputs of the constraint suite — the twins of the reference's
  * `ValidationResult` (scores/issues, validation_agent.py:22-69) and
  * `analysis_errors` (biosample.py:624):
  *
  *   - one [[Verdict]] per (partition, check) — always emitted, even for
  *     all-corrupt partitions (V9 "never fail the job on bad data");
  *   - zero-or-more [[Violation]] rows per failing record;
  *   - [[StateRow]]s checkpoint per-partition completion for resume (ST2);
  *   - [[MetricRow]]s are the PerformanceTimer twin (logging_utils.py:259-319).
  */
case class Verdict(part: String, check: String, pass: Boolean,
                   metric: Double, threshold: Double,
                   n_rows: Long, n_violations: Long, run_id: String)

case class Violation(part: String, image_id: String, check: String,
                     observed: String, expected: String)

case class StateRow(part: String, status: String, n_rows: Long,
                    n_violations: Long, run_id: String, finished_at: Long)

case class MetricRow(part: String, metric: String, value: Double, run_id: String)
