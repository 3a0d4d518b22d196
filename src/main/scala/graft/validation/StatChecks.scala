package graft.validation

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-conformance checks against CLOSED-FORM expectations —
  * the zero-baseline complement of [[Drift]] (which compares against a
  * persisted snapshot): Benford first-digit conformance (Newcomb 1881;
  * Benford 1938 — the classic fabricated-data screen on financial
  * columns) and the chi-square test of independence between two
  * categorical columns (Pearson 1900) — the "are these fields secretly
  * coupled?" audit a validation engine runs before trusting a
  * stratification key. Reference analogue: the per-field distribution
  * scrutiny of `validation_agent.py:258-305`, pointed at analytic
  * expectations instead of priors.
  *
  * Scale shape (100 TB): Benford is one conditional-count aggregation
  * (9 counters of state); independence is one shuffle on (x, y) whose
  * result is CATEGORY-COUNT-sized — every window downstream runs over
  * |X|·|Y| cells, never rows. Both finalize in doubles from integer
  * counts, so round-6 exports are bit-stable cross-engine.
  */
object StatChecks {

  /** Benford first-significant-digit conformance of `colSql` (shared
    * Spark/DuckDB expression syntax). Rows with null / non-finite /
    * |x| < 1 values are excluded (the first-digit extraction is the
    * cross-engine-stable integer-string route, exact only for |x| ≥ 1;
    * the scan-side filter makes that a contract, not a bug).
    * `critical` is the chi² cutoff at the caller's alpha — dof is
    * always 8, so 15.507 at 0.95.
    *
    * Output: 9 rows (digit 1..9, n_obs, p_obs, p_exp, chi2_contrib,
    * chi2_stat, pass) — zero-observation digits included (they still
    * contribute n·p to the statistic). */
  def benford(df: DataFrame, colSql: String,
              critical: Double = 15.507): DataFrame = {
    val x0 = abs(expr(colSql).cast("double"))
    val ok = !isnan(x0) && x0 =!= lit(Double.PositiveInfinity) && x0 >= lit(1.0)
    val digit = when(ok,
      substring(floor(x0).cast("long").cast("string"), 1, 1).cast("int"))
    val obs = df.select(digit.as("digit")).filter(col("digit").isNotNull)
      .groupBy("digit").agg(count(lit(1L)).as("n_obs"))
    val digits = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val all = digits.join(obs, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
    val wAll = Window.partitionBy(lit(1))
    val n = sum(col("n_obs")).over(wAll).cast("double")
    val pExp = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    val contrib = pow(col("n_obs").cast("double") - n * pExp, 2.0) / (n * pExp)
    val withStat = all
      .withColumn("p_obs", round(col("n_obs").cast("double") / n, 6))
      .withColumn("p_exp", round(pExp, 6))
      .withColumn("_c", contrib)
      .withColumn("chi2_contrib", round(col("_c"), 6))
      .withColumn("chi2_stat", round(sum(col("_c")).over(wAll), 6))
    withStat
      .withColumn("pass", col("chi2_stat") <= lit(critical))
      .select("digit", "n_obs", "p_obs", "p_exp", "chi2_contrib",
        "chi2_stat", "pass")
      .orderBy("digit")
  }

  /** DuckDB twin of [[benford]] — same digit extraction, same log10
    * expectation, same statistic. */
  def duckBenfordSql(table: String, colSql: String,
                     critical: Double = 15.507): String = {
    s"""WITH v AS (
         SELECT CAST(substr(CAST(CAST(floor(abs(CAST(($colSql) AS DOUBLE))) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         FROM $table
         WHERE ($colSql) IS NOT NULL
           AND isfinite(CAST(($colSql) AS DOUBLE))
           AND abs(CAST(($colSql) AS DOUBLE)) >= 1.0),
       o AS (SELECT digit, count(*) AS n_obs FROM v GROUP BY 1),
       d AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10)),
       a AS (SELECT d.digit, coalesce(o.n_obs, 0) AS n_obs
             FROM d LEFT JOIN o ON d.digit = o.digit),
       w AS (SELECT digit, n_obs,
               CAST(sum(n_obs) OVER () AS DOUBLE) AS n,
               log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS p_exp_raw
             FROM a),
       c AS (SELECT digit, n_obs, n, p_exp_raw,
               pow(CAST(n_obs AS DOUBLE) - n * p_exp_raw, 2.0) / (n * p_exp_raw) AS contrib
             FROM w)
       SELECT digit, n_obs,
         round(CAST(n_obs AS DOUBLE) / n, 6) AS p_obs,
         round(p_exp_raw, 6) AS p_exp,
         round(contrib, 6) AS chi2_contrib,
         round(sum(contrib) OVER (), 6) AS chi2_stat,
         round(sum(contrib) OVER (), 6) <= $critical AS pass
       FROM c
       ORDER BY digit"""
  }

  /** Full |X|·|Y| contingency grid with dims: (x, y, n_obs, nx, ny) —
    * unobserved combinations present with n_obs = 0. One shuffle on
    * (x, y); everything downstream is category-count-sized. */
  private def contingencyGrid(df: DataFrame, xCol: String,
                              yCol: String): DataFrame = {
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("string").as("x"), col(yCol).cast("string").as("y"))
    val cells = base.groupBy("x", "y").agg(count(lit(1L)).as("n_obs"))
    val xs = cells.select("x").distinct()
    val ys = cells.select("y").distinct()
    val dims = xs.agg(count(lit(1L)).as("nx"))
      .crossJoin(ys.agg(count(lit(1L)).as("ny")))
    xs.crossJoin(ys)
      .join(cells, Seq("x", "y"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(dims))
  }

  /** Chi-square test of independence between two categorical columns
    * over the FULL grid, so UNOBSERVED combinations still contribute
    * their expected count to the statistic — dropping them understates
    * dependence exactly where it is strongest. `critical` is the
    * caller's chi² cutoff at dof = (|X|−1)(|Y|−1) (emitted, so the
    * caller can audit the pairing).
    *
    * Output: one row per grid cell (x, y, n_obs, n_exp, chi2_contrib)
    * plus the shared (chi2_stat, dof, pass), ordered by (x, y). */
  def independence(df: DataFrame, xCol: String, yCol: String,
                   critical: Double): DataFrame = {
    val grid = contingencyGrid(df, xCol, yCol)
    val wAll = Window.partitionBy(lit(1))
    val n = sum(col("n_obs")).over(wAll).cast("double")
    val rowT = sum(col("n_obs")).over(Window.partitionBy("x")).cast("double")
    val colT = sum(col("n_obs")).over(Window.partitionBy("y")).cast("double")
    val nExp = rowT * colT / n
    val contrib = pow(col("n_obs").cast("double") - nExp, 2.0) / nExp
    grid
      .withColumn("n_exp", round(nExp, 6))
      .withColumn("_c", contrib)
      .withColumn("chi2_contrib", round(col("_c"), 6))
      .withColumn("chi2_stat", round(sum(col("_c")).over(wAll), 6))
      .withColumn("dof", ((col("nx") - 1) * (col("ny") - 1)).cast("long"))
      .withColumn("pass", col("chi2_stat") <= lit(critical))
      .select("x", "y", "n_obs", "n_exp", "chi2_contrib", "chi2_stat",
        "dof", "pass")
      .orderBy("x", "y")
  }

  /** DuckDB twin of [[independence]] — same full-grid construction,
    * same margins, same statistic. */
  def duckIndependenceSql(table: String, xCol: String, yCol: String,
                          critical: Double): String = {
    s"""WITH base AS (
         SELECT CAST($xCol AS VARCHAR) AS x, CAST($yCol AS VARCHAR) AS y
         FROM $table
         WHERE $xCol IS NOT NULL AND $yCol IS NOT NULL),
       cells AS (SELECT x, y, count(*) AS n_obs FROM base GROUP BY 1, 2),
       xs AS (SELECT DISTINCT x FROM cells),
       ys AS (SELECT DISTINCT y FROM cells),
       dims AS (SELECT (SELECT count(*) FROM xs) AS nx,
                       (SELECT count(*) FROM ys) AS ny),
       grid AS (SELECT xs.x, ys.y, coalesce(cells.n_obs, 0) AS n_obs
                FROM xs CROSS JOIN ys
                LEFT JOIN cells ON xs.x = cells.x AND ys.y = cells.y),
       m AS (SELECT x, y, n_obs,
               CAST(sum(n_obs) OVER () AS DOUBLE) AS n,
               CAST(sum(n_obs) OVER (PARTITION BY x) AS DOUBLE) AS row_t,
               CAST(sum(n_obs) OVER (PARTITION BY y) AS DOUBLE) AS col_t
             FROM grid),
       c AS (SELECT x, y, n_obs,
               row_t * col_t / n AS n_exp_raw,
               pow(CAST(n_obs AS DOUBLE) - row_t * col_t / n, 2.0)
                 / (row_t * col_t / n) AS contrib
             FROM m)
       SELECT x, y, n_obs,
         round(n_exp_raw, 6) AS n_exp,
         round(contrib, 6) AS chi2_contrib,
         round(sum(contrib) OVER (), 6) AS chi2_stat,
         CAST((nx - 1) * (ny - 1) AS BIGINT) AS dof,
         round(sum(contrib) OVER (), 6) <= $critical AS pass
       FROM c, dims
       ORDER BY x, y"""
  }

  /** Association STRENGTH between two categoricals, where
    * [[independence]] answers only existence: mutual information
    * I(X;Y) = Σ (o/n)·ln(o·n/(rowT·colT)) over observed cells (nats)
    * and Cramér's V = sqrt(χ²/(n·min(|X|−1, |Y|−1))) ∈ [0,1] — the
    * effect size a 10^12-row test needs because at that n, chi²
    * REJECTS for correlations of 10^-5 (everything is "significant";
    * only strength is informative). Same contingency grid, same scale
    * shape: one (x,y) shuffle, category-count-sized finalize.
    *
    * Output: one row (n, nx, ny, dof, chi2_stat, cramers_v, mi_nats). */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val grid = contingencyGrid(df, xCol, yCol)
    val wAll = Window.partitionBy(lit(1))
    val n = sum(col("n_obs")).over(wAll).cast("double")
    val rowT = sum(col("n_obs")).over(Window.partitionBy("x")).cast("double")
    val colT = sum(col("n_obs")).over(Window.partitionBy("y")).cast("double")
    val o = col("n_obs").cast("double")
    val nExp = rowT * colT / n
    val chi = pow(o - nExp, 2.0) / nExp
    val mi = when(col("n_obs") > 0, (o / n) * log(o * n / (rowT * colT)))
      .otherwise(lit(0.0))
    grid
      .withColumn("_n", n).withColumn("_chi", chi).withColumn("_mi", mi)
      .agg(
        max(col("_n")).cast("long").as("n"),
        max(col("nx")).as("nx"), max(col("ny")).as("ny"),
        ((max(col("nx")) - 1) * (max(col("ny")) - 1)).cast("long").as("dof"),
        round(sum(col("_chi")), 6).as("chi2_stat"),
        round(sqrt(sum(col("_chi")) /
          (max(col("_n")) * least(max(col("nx")) - 1, max(col("ny")) - 1)
            .cast("double"))), 6).as("cramers_v"),
        round(sum(col("_mi")), 6).as("mi_nats"))
  }

  /** DuckDB twin of [[mutualInfo]]. */
  def duckMutualInfoSql(table: String, xCol: String, yCol: String): String = {
    s"""WITH base AS (
         SELECT CAST($xCol AS VARCHAR) AS x, CAST($yCol AS VARCHAR) AS y
         FROM $table
         WHERE $xCol IS NOT NULL AND $yCol IS NOT NULL),
       cells AS (SELECT x, y, count(*) AS n_obs FROM base GROUP BY 1, 2),
       xs AS (SELECT DISTINCT x FROM cells),
       ys AS (SELECT DISTINCT y FROM cells),
       dims AS (SELECT (SELECT count(*) FROM xs) AS nx,
                       (SELECT count(*) FROM ys) AS ny),
       grid AS (SELECT xs.x, ys.y, coalesce(cells.n_obs, 0) AS n_obs
                FROM xs CROSS JOIN ys
                LEFT JOIN cells ON xs.x = cells.x AND ys.y = cells.y),
       m AS (SELECT x, y, n_obs,
               CAST(sum(n_obs) OVER () AS DOUBLE) AS n,
               CAST(sum(n_obs) OVER (PARTITION BY x) AS DOUBLE) AS row_t,
               CAST(sum(n_obs) OVER (PARTITION BY y) AS DOUBLE) AS col_t
             FROM grid),
       c AS (SELECT n_obs, n,
               pow(CAST(n_obs AS DOUBLE) - row_t * col_t / n, 2.0)
                 / (row_t * col_t / n) AS chi,
               CASE WHEN n_obs > 0
                 THEN (CAST(n_obs AS DOUBLE) / n)
                   * ln(CAST(n_obs AS DOUBLE) * n / (row_t * col_t))
                 ELSE 0.0 END AS mi
             FROM m)
       SELECT CAST(max(n) AS BIGINT) AS n, max(nx) AS nx, max(ny) AS ny,
         CAST((max(nx) - 1) * (max(ny) - 1) AS BIGINT) AS dof,
         round(sum(chi), 6) AS chi2_stat,
         round(sqrt(sum(chi) / (max(n) * CAST(least(max(nx) - 1, max(ny) - 1) AS DOUBLE))), 6) AS cramers_v,
         round(sum(mi), 6) AS mi_nats
       FROM c, dims"""
  }

  /** EXACT two-sample Kolmogorov–Smirnov test: D = sup |F_A − F_B| over
    * the pooled empirical CDFs, segments defined by `groupSql`
    * (true → A, false → B). This is the ORACLE RUNG for [[Drift]]'s
    * production KS path ([[graft.sketch.TDigest.ks]] on a 200-point
    * grid): exact here, sketch there — StatChecksSpec pins the sketch
    * within tolerance of this value on planted shifted data.
    *
    * Scale shape: grouping by value first makes the sorted frame
    * NDV-sized and tie-proof (the ECDF step at a tied value lands after
    * ALL its ties), but the cumulative window is still a single-reducer
    * global sort — NDV-sized, fine for bounded-cardinality metrics; for
    * 10^12 distinct values the production path IS the t-digest sketch.
    * Reject at D > coeff·sqrt((n_A+n_B)/(n_A·n_B)); coeff 1.358 = α 0.05.
    *
    * Output: one row (n_a, n_b, ks_stat, ks_at, critical, reject);
    * ks_at = smallest value attaining the sup (deterministic argmax). */
  def ksTwoSample(df: DataFrame, valueSql: String, groupSql: String,
                  coeff: Double = 1.358): DataFrame = {
    val v0 = expr(valueSql).cast("double")
    val ok = !isnan(v0) && abs(v0) =!= lit(Double.PositiveInfinity)
    val base = df
      .select(when(ok, v0).as("value"), expr(groupSql).cast("boolean").as("g"))
      .filter(col("value").isNotNull && col("g").isNotNull)
    val grouped = base.groupBy("value").agg(
      sum(when(col("g"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("g"), 1L).otherwise(0L)).as("cb"))
    val run = Window.orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    val na = sum(col("ca")).over(wAll).cast("double")
    val nb = sum(col("cb")).over(wAll).cast("double")
    val d = abs(sum(col("ca")).over(run).cast("double") / na -
      sum(col("cb")).over(run).cast("double") / nb)
    val crit = lit(coeff) * sqrt((na + nb) / (na * nb))
    grouped
      .withColumn("_d", d).withColumn("_na", na).withColumn("_nb", nb)
      .withColumn("_crit", crit)
      // smallest value attaining the sup — exact double equality is safe
      // because both d and its max derive from identical integer counts
      .withColumn("_dmax", max(col("_d")).over(wAll))
      .agg(
        max(col("_na")).cast("long").as("n_a"),
        max(col("_nb")).cast("long").as("n_b"),
        round(max(col("_d")), 6).as("ks_stat"),
        round(min(when(col("_d") === col("_dmax"), col("value"))), 6)
          .as("ks_at"),
        round(max(col("_crit")), 6).as("critical"),
        (round(max(col("_d")), 6) > round(max(col("_crit")), 6)).as("reject"))
  }

  /** DuckDB twin of [[ksTwoSample]] — same grouped ECDF construction,
    * same critical-value formula, same deterministic argmax. */
  def duckKsTwoSampleSql(table: String, valueSql: String, groupSql: String,
                         coeff: Double = 1.358): String = {
    s"""WITH base AS (
         SELECT CAST(($valueSql) AS DOUBLE) AS value,
                CAST(($groupSql) AS BOOLEAN) AS g
         FROM $table
         WHERE ($valueSql) IS NOT NULL
           AND isfinite(CAST(($valueSql) AS DOUBLE))
           AND ($groupSql) IS NOT NULL),
       grouped AS (SELECT value,
               sum(CASE WHEN g THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS cb
             FROM base GROUP BY 1),
       c AS (SELECT value,
               CAST(sum(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_a,
               CAST(sum(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_b,
               CAST(sum(ca) OVER () AS DOUBLE) AS na,
               CAST(sum(cb) OVER () AS DOUBLE) AS nb
             FROM grouped),
       d AS (SELECT value, na, nb,
               abs(cum_a / na - cum_b / nb) AS d,
               $coeff * sqrt((na + nb) / (na * nb)) AS crit
             FROM c),
       dm AS (SELECT *, max(d) OVER () AS dmax FROM d)
       SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
         round(max(d), 6) AS ks_stat,
         round(min(CASE WHEN d = dmax THEN value END), 6) AS ks_at,
         round(max(crit), 6) AS critical,
         round(max(d), 6) > round(max(crit), 6) AS reject
       FROM dm"""
  }

  /** Two-sample drift via the empirical characteristic function at a
    * FIXED frequency grid (Epps & Singleton, "An omnibus test for the
    * two-sample problem using the empirical characteristic function",
    * J. Statist. Comput. Simul. 1986 — here the unweighted ECF distance
    * rather than the covariance-weighted form, so the statistic needs
    * no matrix inversion and stays a pure streaming aggregate). The ECF
    * φ(t) = E[e^{itX}] determines the distribution, so Σ_j |φ_A(t_j) −
    * φ_B(t_j)|² over a fixed grid catches location/scale/shape drift
    * that histogram chi² (bucket-blind inside a bucket) and KS (sup of
    * ONE vertical gap) can each miss. This completes the drift family:
    * chi² (buckets), KS (sup-CDF), PSI (mass ratio), EMD (transport),
    * ECF (frequency domain).
    *
    * `scale` standardizes x (fixed constant, never data-derived — the
    * statistic must replay bit-identically); `freqs` is the fixed grid.
    * Under H₀, E[|φ̂_A(t) − φ̂_B(t)|²] ≤ (1/n_A + 1/n_B) (cos² + sin²
    * variances sum to ≤ 1), so `critical = 4·J·(1/n_A + 1/n_B)` is a
    * conservative deterministic 4σ-flavored bound — emitted with the
    * statistic so callers can substitute a permutation threshold.
    *
    * Scale shape: one aggregation of 4·J counters (J = |freqs|) via a
    * broadcast cross join with the J-row grid — state is grid-sized, a
    * 10^12-row scan is paid once, partials merge algebraically.
    *
    * Output: one row per frequency (freq, re_a, im_a, re_b, im_b,
    * delta2) + shared (n_a, n_b, ecf_stat, critical, reject), ordered
    * by freq. */
  def ecfTwoSample(df: DataFrame, valueSql: String, groupSql: String,
                   scale: Double, freqs: Seq[Double]): DataFrame = {
    val v0 = expr(valueSql).cast("double")
    val ok = !isnan(v0) && abs(v0) =!= lit(Double.PositiveInfinity)
    val base = df
      .select((when(ok, v0) / lit(scale)).as("x"),
        expr(groupSql).cast("boolean").as("g"))
      .filter(col("x").isNotNull && col("g").isNotNull)
    val grid = df.sparkSession.createDataFrame(
      freqs.map(Tuple1(_))).toDF("freq")
    val byFreq = base.crossJoin(broadcast(grid))
      .groupBy("freq").agg(
        avg(when(col("g"), cos(col("freq") * col("x")))).as("re_a"),
        avg(when(col("g"), sin(col("freq") * col("x")))).as("im_a"),
        avg(when(!col("g"), cos(col("freq") * col("x")))).as("re_b"),
        avg(when(!col("g"), sin(col("freq") * col("x")))).as("im_b"),
        sum(when(col("g"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("g"), 1L).otherwise(0L)).as("n_b"))
    val wAll = Window.partitionBy(lit(1))
    val d2 = pow(col("re_a") - col("re_b"), 2.0) +
      pow(col("im_a") - col("im_b"), 2.0)
    val crit = lit(4.0 * freqs.size) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double"))
    byFreq
      .withColumn("_d2", d2)
      .withColumn("_stat", sum(col("_d2")).over(wAll))
      .withColumn("_crit", crit)
      .select(col("freq"),
        round(col("re_a"), 6).as("re_a"), round(col("im_a"), 6).as("im_a"),
        round(col("re_b"), 6).as("re_b"), round(col("im_b"), 6).as("im_b"),
        round(col("_d2"), 6).as("delta2"),
        col("n_a"), col("n_b"),
        round(col("_stat"), 6).as("ecf_stat"),
        round(col("_crit"), 6).as("critical"),
        (round(col("_stat"), 6) > round(col("_crit"), 6)).as("reject"))
      .orderBy("freq")
  }

  /** DuckDB twin of [[ecfTwoSample]] — same grid, same moments, same
    * bound, identical literals. */
  def duckEcfTwoSampleSql(table: String, valueSql: String, groupSql: String,
                          scale: Double, freqs: Seq[Double]): String = {
    val grid = freqs.mkString("[", ", ", "]")
    s"""WITH base AS (
         SELECT CAST(($valueSql) AS DOUBLE) / $scale AS x,
                CAST(($groupSql) AS BOOLEAN) AS g
         FROM $table
         WHERE ($valueSql) IS NOT NULL
           AND isfinite(CAST(($valueSql) AS DOUBLE))
           AND ($groupSql) IS NOT NULL),
       grid AS (SELECT CAST(unnest($grid) AS DOUBLE) AS freq),
       m AS (SELECT freq,
               avg(CASE WHEN g THEN cos(freq * x) END) AS re_a,
               avg(CASE WHEN g THEN sin(freq * x) END) AS im_a,
               avg(CASE WHEN NOT g THEN cos(freq * x) END) AS re_b,
               avg(CASE WHEN NOT g THEN sin(freq * x) END) AS im_b,
               sum(CASE WHEN g THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS n_b
             FROM base CROSS JOIN grid GROUP BY 1),
       d AS (SELECT *,
               pow(re_a - re_b, 2.0) + pow(im_a - im_b, 2.0) AS d2,
               ${4.0 * freqs.size} * (1.0 / CAST(n_a AS DOUBLE)
                 + 1.0 / CAST(n_b AS DOUBLE)) AS crit
             FROM m)
       SELECT freq,
         round(re_a, 6) AS re_a, round(im_a, 6) AS im_a,
         round(re_b, 6) AS re_b, round(im_b, 6) AS im_b,
         round(d2, 6) AS delta2,
         CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         round(sum(d2) OVER (), 6) AS ecf_stat,
         round(crit, 6) AS critical,
         round(sum(d2) OVER (), 6) > round(crit, 6) AS reject
       FROM d
       ORDER BY freq"""
  }

  /** Robust outlier accounting via median/MAD (Hampel's rule, the
    * standard k = 3.5): |x − median| / MAD > k. Mean/stddev bounds (the
    * [[graft.validation.MeanBetween]] family) are MASKED by the very
    * outliers they hunt — one 10^9 sentinel drags the mean past any
    * gate; the 50% breakdown point of median/MAD is what makes this
    * the outlier CHECK rather than an outlier casualty.
    *
    * Three passes by construction (median → MAD → flags), each a full
    * scan with single-row state. At 10^12 rows the production swap is
    * `percentile_approx`/t-digest for the two quantiles (one pass,
    * mergeable) — this is the exact rung, priced accordingly.
    *
    * Output: one row (n, median, mad, n_outliers, max_score);
    * mad = 0 (≥50% identical values) flags nothing — degenerate by
    * definition, not divide-by-zero. */
  def robustOutliers(df: DataFrame, valueSql: String,
                     k: Double = 3.5): DataFrame = {
    val v0 = expr(valueSql).cast("double")
    val ok = !isnan(v0) && abs(v0) =!= lit(Double.PositiveInfinity)
    val base = df.select(when(ok, v0).as("value"))
      .filter(col("value").isNotNull)
    val med = base.agg(expr("percentile(value, 0.5)").as("med"))
    val withMed = base.crossJoin(broadcast(med))
    val mad = withMed
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
        max(col("med")).as("med"))
    val scored = withMed.drop("med").crossJoin(broadcast(mad))
      .withColumn("_score",
        when(col("mad") > 0.0, abs(col("value") - col("med")) / col("mad")))
    scored.agg(
      count(lit(1L)).as("n"),
      round(max(col("med")), 6).as("median"),
      round(max(col("mad")), 6).as("mad"),
      sum(when(round(col("_score"), 6) > lit(k), 1L).otherwise(0L))
        .as("n_outliers"),
      round(max(col("_score")), 6).as("max_score"))
  }

  /** DuckDB twin of [[robustOutliers]] — quantile_cont is the same
    * linearly-interpolated exact quantile as Spark's `percentile`. */
  def duckRobustOutliersSql(table: String, valueSql: String,
                            k: Double = 3.5): String = {
    s"""WITH base AS (
         SELECT CAST(($valueSql) AS DOUBLE) AS value
         FROM $table
         WHERE ($valueSql) IS NOT NULL
           AND isfinite(CAST(($valueSql) AS DOUBLE))),
       m AS (SELECT quantile_cont(value, 0.5) AS med FROM base),
       md AS (SELECT quantile_cont(abs(value - med), 0.5) AS mad,
                     max(med) AS med
              FROM base, m),
       s AS (SELECT value, med, mad,
               CASE WHEN mad > 0.0 THEN abs(value - med) / mad END AS score
             FROM base, md)
       SELECT count(*) AS n,
         round(max(med), 6) AS median,
         round(max(mad), 6) AS mad,
         CAST(sum(CASE WHEN round(score, 6) > $k THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         round(max(score), 6) AS max_score
       FROM s"""
  }

  /** χ²(2 df) critical value at p = 0.001 — the conventional Mahalanobis
    * outlier gate for a 2-column check (squared Mahalanobis distance of a
    * bivariate normal is χ²₂-distributed). */
  val MahalanobisChi2Df2P999 = 13.8155

  /** Bivariate Mahalanobis outlier rows over (xCol, yCol): d²(x, y) =
    * (dx²·σyy − 2·dx·dy·σxy + dy²·σxx) / det(Σ) against the column pair's
    * own mean/covariance — the MULTIVARIATE outlier screen univariate
    * z/MAD gates miss: a row can be unremarkable in every single column
    * yet far off the joint correlation structure (e.g. a huge price on a
    * tiny quantity). Mahalanobis, Proc. Nat. Inst. Sci. India 1936.
    *
    * Shape: one exact-decimal moment pass (order-free sums → identical
    * doubles both engines), broadcast of the 6-scalar stats row, one
    * codegen'd per-row distance projection — no second shuffle; the
    * violation emission is top-`limit` by (d², keys), deterministic under
    * round-6 + total key tiebreak. Degenerate det ≤ 0 (collinear columns)
    * yields zero rows by contract — the gate needs 2 real dimensions.
    */
  def mahalanobisOutliers(df: DataFrame, xCol: String, yCol: String,
                          keyCols: Seq[String],
                          threshold: Double = MahalanobisChi2Df2P999,
                          limit: Int = 100): DataFrame = {
    val a = df.agg(
      count(lit(1L)).as("n"),
      sum(col(xCol).cast("decimal(28,6)")).as("s_x"),
      sum(col(yCol).cast("decimal(28,6)")).as("s_y"),
      sum((col(xCol) * col(xCol)).cast("decimal(38,10)")).as("s_xx"),
      sum((col(yCol) * col(yCol)).cast("decimal(38,10)")).as("s_yy"),
      sum((col(xCol) * col(yCol)).cast("decimal(38,10)")).as("s_xy"))
    def d(c: String) = col(c).cast("double")
    val n = d("n")
    val scored = df.crossJoin(broadcast(a))
      .withColumn("_mx", d("s_x") / n)
      .withColumn("_my", d("s_y") / n)
      .withColumn("_sxx", (n * d("s_xx") - d("s_x") * d("s_x")) / (n * n))
      .withColumn("_syy", (n * d("s_yy") - d("s_y") * d("s_y")) / (n * n))
      .withColumn("_sxy", (n * d("s_xy") - d("s_x") * d("s_y")) / (n * n))
      .withColumn("_det", col("_sxx") * col("_syy") - col("_sxy") * col("_sxy"))
      .withColumn("_dx", col(xCol).cast("double") - col("_mx"))
      .withColumn("_dy", col(yCol).cast("double") - col("_my"))
      .withColumn("d2", round(
        (col("_dx") * col("_dx") * col("_syy") -
          lit(2.0) * col("_dx") * col("_dy") * col("_sxy") +
          col("_dy") * col("_dy") * col("_sxx")) / col("_det"), 6))
    scored.filter(col("_det") > 0.0 && col("d2") > threshold)
      .select(keyCols.map(col) :+ col(xCol) :+ col(yCol) :+ col("d2"): _*)
      .orderBy(col("d2").desc +: keyCols.map(col): _*)
      .limit(limit)
  }

  /** DuckDB twin of [[mahalanobisOutliers]] — same moments, same scalar
    * distance expression, same round-6 + tiebreak + limit. */
  def duckMahalanobisSql(table: String, xCol: String, yCol: String,
                         keyCols: Seq[String],
                         threshold: Double = MahalanobisChi2Df2P999,
                         limit: Int = 100): String = {
    val keys = keyCols.mkString(", ")
    s"""WITH a AS (
         SELECT count(*) AS n,
           sum(CAST($xCol AS DECIMAL(28,6))) AS s_x,
           sum(CAST($yCol AS DECIMAL(28,6))) AS s_y,
           sum(CAST($xCol * $xCol AS DECIMAL(38,10))) AS s_xx,
           sum(CAST($yCol * $yCol AS DECIMAL(38,10))) AS s_yy,
           sum(CAST($xCol * $yCol AS DECIMAL(38,10))) AS s_xy
         FROM $table),
       s AS (
         SELECT $keys, $xCol, $yCol,
           (CAST(n AS DOUBLE) * CAST(s_xx AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS sxx,
           (CAST(n AS DOUBLE) * CAST(s_yy AS DOUBLE) - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS syy,
           (CAST(n AS DOUBLE) * CAST(s_xy AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS sxy,
           CAST($xCol AS DOUBLE) - CAST(s_x AS DOUBLE) / CAST(n AS DOUBLE) AS dx,
           CAST($yCol AS DOUBLE) - CAST(s_y AS DOUBLE) / CAST(n AS DOUBLE) AS dy
         FROM $table, a),
       t AS (
         SELECT $keys, $xCol, $yCol,
           sxx * syy - sxy * sxy AS det,
           round((dx * dx * syy - 2.0 * dx * dy * sxy + dy * dy * sxx)
             / (sxx * syy - sxy * sxy), 6) AS d2
         FROM s)
       SELECT $keys, $xCol, $yCol, d2 FROM t
       WHERE det > 0.0 AND d2 > $threshold
       ORDER BY d2 DESC, $keys LIMIT $limit"""
  }

  /** ECOD outlier scoring (Li, Zhao, Botta, Ionescu & Hu, "ECOD:
    * Unsupervised Outlier Detection Using Empirical Cumulative
    * Distribution Functions", IEEE TKDE 2022): per dimension j, the tail
    * probability of the value under the column's own ECDF; per row, the
    * aggregated negative log tail mass
    * O(x) = Σ_j max(−ln F̂_j(x_j), −ln F̄̂_j(x_j)) — here the
    * deterministic side-agnostic variant (the paper's O_auto picks a
    * side by sample skewness; taking the max of both sides needs no
    * data-derived branch, so the score replays bit-identically). The
    * ECDF completes the outlier family: [[robustOutliers]] assumes a
    * unimodal center (median/MAD), [[mahalanobisOutliers]] an elliptical
    * joint (moments) — ECOD is shape-free per margin, parameter-free,
    * and needs no matrix inversion; a value is anomalous exactly in
    * proportion to how little probability mass lies beyond it.
    *
    * Scale shape: unpivot to (key, dim, value) long form (one narrow
    * explode, |cols|× rows), ONE shuffle on dim, then the per-dim tail
    * masses read directly off two RANGE-frame windows over the long
    * frame — count(*) over (partition dim order value RANGE unbounded
    * preceding..current) is exactly #rows ≤ v ties included, its
    * descending twin #rows ≥ v — so the previous groupBy(dim,value)
    * count frame AND the (dim,value) equi-join back are gone (two
    * Exchanges and a join deleted; the addends per key are the same
    * doubles: integer row counts cast and divided identically). Still
    * the declared fenced global-sort rung, same shape as
    * [[ksTwoSample]]; the production swap at 10^12 distinct values is
    * the t-digest CDF. Distributed TakeOrdered top-K. Rows with any
    * null/non-finite dimension are excluded — the completeness checks
    * own those. The per-key score adds the per-dimension scores in
    * declared column order before `round(…, 6)`, so it does not depend on
    * the shuffle layout.
    *
    * Output: top-`topK` rows (keyCols..., ecod_score) by score
    * descending, key-ascending tiebreak, round-6 discipline. */
  def ecodOutliers(df: DataFrame, cols: Seq[String], keyCols: Seq[String],
                   topK: Int = 100): DataFrame = {
    require(cols.nonEmpty, "ecodOutliers needs at least one column")
    require(topK >= 1, s"topK >= 1, got $topK")
    val finite = cols.map { c =>
      val v = col(c).cast("double")
      v.isNotNull && !isnan(v) && abs(v) =!= lit(Double.PositiveInfinity)
    }.reduce(_ && _)
    val dims = array(cols.map(c =>
      struct(lit(c).as("dim"), col(c).cast("double").as("value"))): _*)
    // widen: the explode + window sorts inherit the single-row-group
    // scan's one-task parallelism otherwise (guide §2.5)
    val long = graft.Par.widen(df.filter(finite))
      .select(keyCols.map(col) :+ explode(dims).as("dv"): _*)
      .select(keyCols.map(col) :+ col("dv.dim").as("dim") :+
        col("dv.value").as("value"): _*)
    // RANGE frames bound by the CURRENT ROW's value include its ties on
    // both sides: cumLe = #rows ≤ v (≡ the old Σ cnt over values ≤ v),
    // cntGe = #rows ≥ v (≡ the old n − cumLe + cnt) — same integer
    // counts, cast and divided identically, so every per-row dim_score
    // is the bit-same double as the grouped-counts + join-back shape.
    val asc = Window.partitionBy("dim").orderBy(col("value"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val desc = Window.partitionBy("dim").orderBy(col("value").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val n = count(lit(1L)).over(Window.partitionBy("dim")).cast("double")
    val fLe = count(lit(1L)).over(asc).cast("double") / n
    val fGe = count(lit(1L)).over(desc).cast("double") / n
    // one column per dimension, then the score as a row expression summed
    // in declared column order (as in ecodOutliersGrid), whatever the
    // shuffle layout. A per-dimension sum has one addend per row of the
    // key, so it is exact for unique keys.
    val perDim = cols.indices.map(i =>
      sum(when(col("dim") === cols(i), col("dim_score"))).as(s"_s$i"))
    long
      .withColumn("dim_score", -log(least(fLe, fGe)))
      .groupBy(keyCols.map(col): _*)
      .agg(perDim.head, perDim.tail: _*)
      .select(keyCols.map(col) :+
        round(cols.indices.map(i => col(s"_s$i")).reduce(_ + _), 6).as("ecod_score"): _*)
      .orderBy(col("ecod_score").desc +: keyCols.map(col): _*)
      .limit(topK)
  }

  /** PRODUCTION rung of [[ecodOutliers]]: grid-ECDF scoring. The exact
    * rung's per-dim cumulative window sorts NDV-sized frames — fine for
    * bounded-cardinality margins, a global sort per dim at 10^12
    * distinct values. This variant replaces the ECDF with a fixed
    * `gridN`-point quantile grid per dimension: ONE aggregation pass
    * computes all grids (percentile-array, single row out), the
    * round-6'd grid broadcasts to a second scan where each row's tail
    * mass is a codegen'd HOF count over the 255-element literal array —
    * no join, no window, no UDF; two scans total, state = gridN doubles
    * per dim. At 10^12 rows the percentile pass swaps to the mergeable
    * t-digest quantiles ([[graft.sketch.TDigest.quantile]]) — same grid
    * shape, one streaming pass — which is exactly the swap the exact
    * rung's Scaladoc promises; this operator is that promise, kept (and
    * still oracle-able, because the grid is exact percentiles here).
    *
    * F̂_le(x) ≈ max(#{q_i ≤ x}, 1)/(gridN+1) (floor avoids ln 0; the
    * resolution limit of a grid ECDF is 1/(gridN+1) by construction),
    * F̂_ge symmetric; grid values round-6 so both engines compare
    * against bit-identical breakpoints.
    *
    * Output: top-`topK` (keyCols..., ecod_score) as [[ecodOutliers]]. */
  def ecodOutliersGrid(df: DataFrame, cols: Seq[String],
                       keyCols: Seq[String], gridN: Int = 255,
                       topK: Int = 100): DataFrame = {
    require(cols.nonEmpty, "ecodOutliersGrid needs at least one column")
    require(gridN >= 3, s"gridN >= 3, got $gridN")
    val finite = cols.map { c =>
      val v = col(c).cast("double")
      v.isNotNull && !isnan(v) && abs(v) =!= lit(Double.PositiveInfinity)
    }.reduce(_ && _)
    val base = df.filter(finite)
    // exact percentile levels via the native one-sort-per-column grid
    // aggregate: value-identical to percentile(c, array(levels)) but the
    // builtin's finalize re-walks its (value,count) list per level —
    // O(L·NDV), 12 s on the near-unique price column alone at sf0.1 —
    // where PercentileGridAgg sorts once and indexes each level O(1)
    val levels = (1 to gridN).map(i => i.toDouble / (gridN + 1))
    def grid(c: String) = transform(
      graft.functions.PercentileGridAgg.percentileGrid(
        col(c).cast("double"), levels),
      e => round(e, 6)).as(s"_b_$c")
    val grids = base.agg(grid(cols.head), cols.tail.map(grid): _*)
    val g1 = lit((gridN + 1).toDouble)
    // tail lookup = two binary searches over the sorted grid per native
    // expression eval (graft.functions.SortedTailCounts) — the builtin
    // formulations (filter/aggregate HOFs) run an interpreted lambda per
    // grid element per row and priced this scan at 57–66 s at sf0.1;
    // the O(log gridN) leaf drops it to ~2 s with identical counts
    val score = cols.map { c =>
      val tc = graft.functions.SortedTailCounts.sortedTailCounts(
        col(s"_b_$c"), col(c).cast("double"))
      val le = tc.getField("le").cast("double")
      val ge = tc.getField("ge").cast("double")
      -log(least(greatest(le, lit(1.0)) / g1, greatest(ge, lit(1.0)) / g1))
    }.reduce(_ + _)
    base.crossJoin(broadcast(grids))
      .select(keyCols.map(col) :+ round(score, 6).as("ecod_score"): _*)
      .orderBy(col("ecod_score").desc +: keyCols.map(col): _*)
      .limit(topK)
  }

  /** DuckDB twin of [[ecodOutliersGrid]] — same exact-percentile grid
    * (quantile_cont array form), same round-6 breakpoints, same floored
    * tail estimate, same tiebreak + limit. */
  def duckEcodGridSql(table: String, cols: Seq[String], keyCols: Seq[String],
                      gridN: Int = 255, topK: Int = 100): String = {
    val keys = keyCols.mkString(", ")
    val finite = cols.map(c =>
      s"$c IS NOT NULL AND isfinite(CAST($c AS DOUBLE))").mkString(" AND ")
    val levels = (1 to gridN).map(i => (i.toDouble / (gridN + 1)).toString)
      .mkString("[", ", ", "]")
    val gridCols = cols.map(c =>
      s"list_transform(quantile_cont(CAST($c AS DOUBLE), $levels), e -> round(e, 6)) AS b_$c")
      .mkString(",\n               ")
    val g1 = s"${(gridN + 1).toDouble}"
    val score = cols.map { c =>
      val le = s"greatest(CAST(len(list_filter(b_$c, e -> e <= $c)) AS DOUBLE), 1.0) / $g1"
      val ge = s"greatest(CAST(len(list_filter(b_$c, e -> e >= $c)) AS DOUBLE), 1.0) / $g1"
      s"-ln(least($le, $ge))"
    }.mkString("(", "\n           + ", ")")
    s"""WITH keyed AS (SELECT * FROM $table WHERE $finite),
       bp AS (SELECT $gridCols
              FROM keyed)
       SELECT $keys, round($score, 6) AS ecod_score
       FROM keyed CROSS JOIN bp
       ORDER BY ecod_score DESC, $keys
       LIMIT $topK"""
  }

  /** DuckDB twin of [[ecodOutliers]] — same unpivot (UNION ALL arms),
    * same grouped-ECDF tails, same side-agnostic max, same declared-order
    * sum of the per-dimension scores, same round-6 + tiebreak + limit. */
  def duckEcodSql(table: String, cols: Seq[String], keyCols: Seq[String],
                  topK: Int = 100): String = {
    val keys = keyCols.mkString(", ")
    val finite = cols.map(c =>
      s"$c IS NOT NULL AND isfinite(CAST($c AS DOUBLE))").mkString(" AND ")
    val arms = cols.map(c =>
      s"""SELECT $keys, '$c' AS dim, CAST($c AS DOUBLE) AS value
          FROM keyed""").mkString("\n  UNION ALL\n  ")
    // per-dimension sums added in declared column order, as the Spark side
    val score = cols.map(c => s"sum(dim_score) FILTER (WHERE dim = '$c')")
      .mkString("(", " + ", ")")
    s"""WITH keyed AS (SELECT * FROM $table WHERE $finite),
       long AS (
         $arms),
       counts AS (SELECT dim, value, count(*) AS cnt FROM long GROUP BY 1, 2),
       t AS (SELECT dim, value,
               CAST(sum(cnt) OVER (PARTITION BY dim ORDER BY value
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_le,
               CAST(cnt AS DOUBLE) AS cntd,
               CAST(sum(cnt) OVER (PARTITION BY dim) AS DOUBLE) AS n
             FROM counts),
       s AS (SELECT dim, value,
               -ln(least(cum_le / n, (n - cum_le + cntd) / n)) AS dim_score
             FROM t)
       SELECT $keys, round($score, 6) AS ecod_score
       FROM long JOIN s USING (dim, value)
       GROUP BY $keys
       ORDER BY ecod_score DESC, $keys
       LIMIT $topK"""
  }
}

/** Timeliness — the sixth classic data-quality dimension (completeness,
  * uniqueness, validity, consistency, accuracy are covered by the
  * CheckSuite/key-check/score families): is each segment of the feed
  * STILL ARRIVING, and did it ever silently stop mid-stream? Reference
  * analogue: crawl-first's staleness-aware cache revalidation
  * (`cache.py` date-keyed entries).
  *
  * `nowTs` is a caller-passed literal, never wall-clock — verdicts must
  * replay bit-identically (same contract as the engine's run_id
  * discipline).
  *
  * Scale shape: one (segment, ts) sort-window for intra-segment gaps +
  * one groupBy to per-segment partials, then a window + groupBy over
  * those partials — all shuffles on segment only; state per segment is
  * a handful of scalars, so the same partials stream through
  * [[graft.streaming.PartialFold]] one micro-batch at a time. */
object Timeliness {

  /** Per-segment freshness verdict: staleness vs `nowTs` and the
    * largest intra-segment arrival gap.
    * Output: (segment, n_events, first_ts, last_ts, staleness_hours,
    * max_gap_hours, fresh, no_gaps, pass); single-event segments have
    * max_gap 0 by definition. The verdicts of `df` as ONE batch:
    * [[verdicts]] over its [[partials]]. */
  def freshness(df: DataFrame, tsCol: String, segCol: String, nowTs: String,
                maxLagHours: Double, maxGapHours: Double): DataFrame =
    verdicts(partials(df, tsCol, segCol), nowTs, maxLagHours, maxGapHours)

  /** The mergeable state: one row per segment of `df` —
    * (segment, n_events, min_us, max_us, max_gap_us). */
  def partials(df: DataFrame, tsCol: String, segCol: String): DataFrame = {
    val ts = col(tsCol).cast("timestamp")
    val base = df.filter(ts.isNotNull)
      .select(col(segCol).cast("string").as("segment"),
        unix_micros(ts).as("us"))
    val w = Window.partitionBy("segment").orderBy("us")
    base.withColumn("_gap", col("us") - lag(col("us"), 1).over(w))
      .groupBy("segment").agg(
        count(lit(1L)).as("n_events"),
        min(col("us")).as("min_us"),
        max(col("us")).as("max_us"),
        coalesce(max(col("_gap")), lit(0L)).as("max_gap_us"))
  }

  /** [[freshness]] rows from [[partials]] of any number of batches:
    * counts and extremes merge per segment, and the silence between one
    * batch's last event and the next batch's first is a gap too, so a
    * hole spanning a batch border is still seen.
    *
    * Contract: exact when a segment's batch time ranges do not overlap
    * (in-order append ingestion — the watermark case). Overlapping ranges
    * would need a re-sort of raw timestamps; run [[freshness]] there. */
  def verdicts(partials: DataFrame, nowTs: String, maxLagHours: Double,
               maxGapHours: Double): DataFrame = {
    val w = Window.partitionBy("segment").orderBy("min_us")
    val boundary = col("min_us") - lag(col("max_us"), 1).over(w)
    val usPerHour = lit(3600000000.0)
    val nowUs = unix_micros(lit(nowTs).cast("timestamp"))
    partials.withColumn("_bgap", coalesce(boundary, lit(0L)))
      .groupBy("segment").agg(
        sum(col("n_events")).as("n_events"),
        date_format(timestamp_micros(min(col("min_us"))), "yyyy-MM-dd HH:mm:ss")
          .as("first_ts"),
        date_format(timestamp_micros(max(col("max_us"))), "yyyy-MM-dd HH:mm:ss")
          .as("last_ts"),
        round((nowUs - max(col("max_us"))).cast("double") / usPerHour, 6)
          .as("staleness_hours"),
        round(greatest(max(col("max_gap_us")), max(col("_bgap")))
          .cast("double") / usPerHour, 6).as("max_gap_hours"))
      .withColumn("fresh", col("staleness_hours") <= lit(maxLagHours))
      .withColumn("no_gaps", col("max_gap_hours") <= lit(maxGapHours))
      .withColumn("pass", col("fresh") && col("no_gaps"))
      .orderBy("segment")
  }

  /** DuckDB twin of [[freshness]] — same epoch-microsecond arithmetic,
    * same literals. */
  def duckFreshnessSql(table: String, tsCol: String, segCol: String,
                       nowTs: String, maxLagHours: Double,
                       maxGapHours: Double): String = {
    s"""WITH base AS (
         SELECT CAST($segCol AS VARCHAR) AS segment, $tsCol AS ts
         FROM $table WHERE $tsCol IS NOT NULL),
       g AS (SELECT segment, ts,
               epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY segment ORDER BY ts)) AS gap_us
             FROM base),
       a AS (SELECT segment, count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
               round(CAST(epoch_us(TIMESTAMP '$nowTs') - epoch_us(max(ts)) AS DOUBLE) / 3600000000.0, 6) AS staleness_hours,
               round(CAST(coalesce(max(gap_us), 0) AS DOUBLE) / 3600000000.0, 6) AS max_gap_hours
             FROM g GROUP BY 1)
       SELECT segment, n_events, first_ts, last_ts, staleness_hours,
         max_gap_hours,
         staleness_hours <= $maxLagHours AS fresh,
         max_gap_hours <= $maxGapHours AS no_gaps,
         (staleness_hours <= $maxLagHours AND max_gap_hours <= $maxGapHours) AS pass
       FROM a
       ORDER BY segment"""
  }
}

/** Validity-interval consistency — the temporal-referential check a
  * validation engine runs on any table carrying (key, valid_from,
  * valid_to) semantics (SCD type-2 dimensions, session timelines,
  * entitlement windows; Snodgrass, "Developing time-oriented database
  * applications in SQL", 1999): per key, do intervals OVERLAP (two
  * versions simultaneously current — corrupt history) and does the
  * timeline have silent HOLES (no current version — lost history)?
  * Reference analogue: the per-record temporal sanity ladder of
  * crawl-first's date normalization (`analysis.py:61-104`), lifted from
  * single records to per-key timelines.
  *
  * Overlap detection uses the running max of `valid_to` over PRECEDING
  * intervals (sweep line), not lag(valid_to): a long interval can
  * overlap a successor two positions later even when the immediate
  * predecessor does not — lag-only checks miss nested intervals.
  *
  * Scale shape: one shuffle on key, one sort window within key, then a
  * per-key aggregation to a partial row, finished by a window + groupBy
  * over #batches rows per key — the 10^12-row shape is one exchange +
  * per-partition sorts, no joins at all. The same partials stream
  * through [[graft.streaming.PartialFold]] one micro-batch at a time. */
object Intervals {

  /** Per-key interval-consistency verdicts. All bound columns are
    * BIGINT epoch-microseconds (cross-engine-exact arithmetic; never
    * interval types). `gapTolUs` (≥ 0) — a hole longer than this is a
    * gap violation; back-to-back intervals (gap 0) are healthy.
    *
    * Output: (key, n_intervals, n_invalid, n_overlaps, max_overlap_us,
    * n_gaps, max_gap_us, span_from_us, span_to_us, pass), ordered by
    * key. `n_invalid` counts to < from rows (they still participate in
    * the sweep — corrupt rows must not hide other violations). The
    * verdicts of `df` as ONE batch: [[verdicts]] over its [[partials]]. */
  def validity(df: DataFrame, keySql: String, fromSql: String,
               toSql: String, idSql: String, gapTolUs: Long): DataFrame =
    verdicts(partials(df, keySql, fromSql, toSql, idSql, gapTolUs)
      .withColumn("batch_id", lit(0L)), gapTolUs)

  /** The mergeable state: one row per key of `df` — the sweep's verdict
    * counters plus the [min_from, max_to] envelope needed to merge
    * across batch borders. */
  def partials(df: DataFrame, keySql: String, fromSql: String,
               toSql: String, idSql: String, gapTolUs: Long): DataFrame = {
    require(gapTolUs >= 0, s"gapTolUs >= 0, got $gapTolUs")
    val base = df.select(
      expr(keySql).cast("string").as("k"),
      expr(fromSql).cast("long").as("from_us"),
      expr(toSql).cast("long").as("to_us"),
      expr(idSql).as("id"))
      .filter(col("k").isNotNull && col("from_us").isNotNull &&
        col("to_us").isNotNull)
    val w = Window.partitionBy("k").orderBy("from_us", "to_us", "id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("_prev_to", max(col("to_us")).over(w))
      .withColumn("_overlap_us",
        greatest(lit(0L), col("_prev_to") - col("from_us")))
      .withColumn("_gap_us",
        greatest(lit(0L), col("from_us") - col("_prev_to")))
      .groupBy("k").agg(
        count(lit(1L)).as("n_intervals"),
        sum(when(col("to_us") < col("from_us"), 1L).otherwise(0L))
          .as("n_invalid"),
        sum(when(col("_overlap_us") > 0L, 1L).otherwise(0L))
          .as("n_overlaps"),
        coalesce(max(col("_overlap_us")), lit(0L)).as("max_overlap_us"),
        sum(when(col("_gap_us") > gapTolUs, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(col("_gap_us")), lit(0L)).as("max_gap_us"),
        min(col("from_us")).as("min_from_us"),
        max(col("to_us")).as("max_to_us"))
  }

  /** Per-partial boundary frame: carry = running max end of the key's
    * preceding batches, ordered by (min_from_us, batch_id). */
  private def withCarry(partials: DataFrame): DataFrame = {
    val w = Window.partitionBy("k").orderBy("min_from_us", "batch_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    partials.withColumn("_carry", max(col("max_to_us")).over(w))
  }

  /** [[validity]] rows from [[partials]] of any number of batches (each
    * row tagged with its `batch_id`, as [[graft.streaming.PartialFold
    * .stored]] returns them): counters merge per key, and a hole between
    * a batch's first start and the carry of its predecessors is a gap,
    * so a hole spanning a batch border is still seen.
    *
    * Contract: exact when, per key, each batch's envelope starts at or
    * after the carry (in-order append ingestion) and rows are valid
    * (to ≥ from). A batch reaching back over the carry would need its raw
    * rows to count the overlaps; [[contractViolations]] detects it from
    * the same partials. */
  def verdicts(partials: DataFrame, gapTolUs: Long): DataFrame = {
    require(gapTolUs >= 0, s"gapTolUs >= 0, got $gapTolUs")
    val bGap = greatest(lit(0L), col("min_from_us") - col("_carry"))
    withCarry(partials)
      .withColumn("_bgap", coalesce(bGap, lit(0L)))
      .groupBy("k").agg(
        sum(col("n_intervals")).as("n_intervals"),
        sum(col("n_invalid")).as("n_invalid"),
        sum(col("n_overlaps")).as("n_overlaps"),
        max(col("max_overlap_us")).as("max_overlap_us"),
        (sum(col("n_gaps")) +
          sum(when(col("_bgap") > gapTolUs, 1L).otherwise(0L))).as("n_gaps"),
        greatest(max(col("max_gap_us")), max(col("_bgap"))).as("max_gap_us"),
        min(col("min_from_us")).as("span_from_us"),
        max(col("max_to_us")).as("span_to_us"))
      .withColumn("pass",
        col("n_invalid") === 0L && col("n_overlaps") === 0L &&
          col("n_gaps") === 0L)
      .withColumnRenamed("k", "key")
      .orderBy("key")
  }

  /** (key, batch_id, reachback_us) of every batch whose envelope reached
    * back over its carry — out of the [[verdicts]] contract, so those
    * keys' merged overlap counts are lower bounds: re-run [[validity]]
    * on them. */
  def contractViolations(partials: DataFrame): DataFrame =
    withCarry(partials)
      .filter(col("_carry").isNotNull && col("_carry") > col("min_from_us"))
      .select(col("k").as("key"), col("batch_id"),
        (col("_carry") - col("min_from_us")).as("reachback_us"))
      .orderBy("key", "batch_id")

  /** DuckDB twin of [[validity]] — same sweep-line window, same
    * epoch-microsecond arithmetic, same tie order. */
  def duckValiditySql(table: String, keySql: String, fromSql: String,
                      toSql: String, idSql: String, gapTolUs: Long): String =
    s"""WITH base AS (
         SELECT CAST(($keySql) AS VARCHAR) AS k,
                CAST(($fromSql) AS BIGINT) AS from_us,
                CAST(($toSql) AS BIGINT) AS to_us,
                ($idSql) AS id
         FROM $table
         WHERE ($keySql) IS NOT NULL AND ($fromSql) IS NOT NULL
           AND ($toSql) IS NOT NULL),
       w AS (SELECT *,
               max(to_us) OVER (PARTITION BY k ORDER BY from_us, to_us, id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_to
             FROM base),
       v AS (SELECT k, from_us, to_us,
               greatest(0, prev_to - from_us) AS overlap_us,
               greatest(0, from_us - prev_to) AS gap_us
             FROM w)
       SELECT k AS key, count(*) AS n_intervals,
         CAST(sum(CASE WHEN to_us < from_us THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
         CAST(sum(CASE WHEN overlap_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
         coalesce(max(overlap_us), 0) AS max_overlap_us,
         CAST(sum(CASE WHEN gap_us > $gapTolUs THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
         coalesce(max(gap_us), 0) AS max_gap_us,
         min(from_us) AS span_from_us,
         max(to_us) AS span_to_us,
         (sum(CASE WHEN to_us < from_us THEN 1 ELSE 0 END) = 0
          AND sum(CASE WHEN overlap_us > 0 THEN 1 ELSE 0 END) = 0
          AND sum(CASE WHEN gap_us > $gapTolUs THEN 1 ELSE 0 END) = 0) AS pass
       FROM v GROUP BY k
       ORDER BY key"""
}
