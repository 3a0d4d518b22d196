package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi & Sunter, "A theory for record
  * linkage", JASA 1969) — the ENTITY-RESOLUTION layer above the dedup
  * family: where dedup asks "are these the same bytes/tokens?", linkage
  * asks "are these the same real-world entity?" across two sources with
  * field-level noise. Per candidate pair, each field comparison
  * contributes log-likelihood weight ln(m/u) on agreement and
  * ln((1−m)/(1−u)) on disagreement (m = P(agree | match), u =
  * P(agree | non-match)); the summed score lands in the classic
  * three-zone decision (match / possible / non-match). Reference
  * analogue: crawl-first's cross-source identity stitching — study
  * lookups joining registry records to publications by noisy keys
  * (`/root/reference/src/crawl_first/analysis.py:1207-1210`).
  *
  * m/u are DECLARED constants here (the auditable configuration of a
  * production linker; EM-fitting them is a separate estimation job), so
  * every weight is a literal and the whole scorer is pure column math —
  * DuckDB-oracle-able bit-for-bit.
  *
  * Scale shape (10^12 records): candidates come from MULTI-PASS
  * BLOCKING — a union of equi-joins on cheap block keys (true pairs
  * missed by one pass are caught by another; the standard
  * recall/candidate-count dial) — never a cross join. Scoring is a
  * codegen'd projection over candidates. The blocking keys here
  * (nation, name-suffix) span the cardinality range deliberately;
  * production keys are typically phonetic codes or sorted-neighborhood
  * windows with the SAME plan shape.
  */
object RecordLinkage {

  /** Shared Spark/DuckDB field perturbations for the b-side records:
    * deterministic noise keyed off c_custkey, so both engines build the
    * identical linkage corpus (truncated name, shifted nation, bumped
    * balance, lost segment). */
  val BName = "CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, 9) ELSE c_name END"
  val BNation = "CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END"
  val BBal = "CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END"
  val BSeg = "CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END"

  /** Declared (m, u) per field: m = P(field agrees | same entity),
    * u = P(field agrees | different entities). Name is near-unique
    * (tiny u → heavy agreement weight); segment is 1-of-5 (u = 0.2 →
    * weak evidence either way). */
  val FieldMU: Seq[(String, Double, Double)] = Seq(
    ("name", 0.95, 0.0001),
    ("nation", 0.90, 0.04),
    ("bal", 0.85, 0.0005),
    ("seg", 0.90, 0.20))

  /** Three-zone thresholds on the summed log-weight. */
  val MatchThreshold = 6.0
  val PossibleThreshold = 0.0

  private def agreeW(m: Double, u: Double): Double = math.log(m / u)
  private def disagreeW(m: Double, u: Double): Double =
    math.log((1.0 - m) / (1.0 - u))

  /** Shared score expression over boolean columns name_eq/nation_eq/
    * bal_eq/seg_eq — every weight a pre-computed double literal, so both
    * engines sum the same constants. */
  private def scoreSql: String = FieldMU.map { case (f, m, u) =>
    // every literal cast: Spark parses bare decimal literals in SQL text
    // as DECIMAL, DuckDB as DOUBLE — the cast pins both to double
    s"(CASE WHEN ${f}_eq THEN CAST(${agreeW(m, u)} AS DOUBLE) " +
      s"ELSE CAST(${disagreeW(m, u)} AS DOUBLE) END)"
  }.mkString(" + ")

  /** a-side records: the customer table as-is. */
  def sideA(customer: DataFrame): DataFrame =
    customer.selectExpr("c_custkey AS rec_id", "c_name AS name",
      "c_nationkey AS nation", "c_acctbal AS bal", "c_mktsegment AS seg")

  /** b-side records: every even customer re-observed with field noise;
    * ids offset by 10^6 so ground truth is recoverable (b − 10^6 = a). */
  def sideB(customer: DataFrame): DataFrame =
    customer.filter(expr("c_custkey % 2 = 0"))
      .selectExpr("c_custkey + 1000000 AS rec_id", s"$BName AS name",
        s"$BNation AS nation", s"$BBal AS bal", s"$BSeg AS seg")

  /** Multi-pass blocked candidates: union of nation-block and
    * name-suffix-block equi-joins (chars 11-18 — the DISCRIMINATIVE part
    * of the name; a shared-prefix key like substr(name,1,10) would be
    * constant across this corpus and degenerate into a cross join — the
    * classic blocking-key cardinality audit), distinct pairs. A true
    * pair whose nation was perturbed still blocks on the name suffix
    * and vice versa — only pairs noisy in BOTH keys are lost (the
    * documented blocking recall bound). Truncated b-names yield an
    * empty suffix, which never equals a real a-suffix, so corruption
    * degrades recall (caught by pass 1), never explodes candidates. */
  def candidates(a: DataFrame, b: DataFrame): DataFrame = {
    // widen the probe side: with the dedup Exchange gone (below), pair
    // generation runs inside the broadcast-join map stage, whose
    // parallelism is the single-row-group customer scan's — one task
    // for the whole pair stream without this (guide §2.5 input skew)
    val aa = graft.Par.widen(
      a.select(col("rec_id").as("a_id"), col("name").as("a_name"),
        col("nation").as("a_nation")))
    val bb = b.select(col("rec_id").as("b_id"), col("name").as("b_name"),
      col("nation").as("b_nation"))
    // Each pass is an equi-join on ONE key pair, so a given (a_id, b_id)
    // appears at most once per pass; restricting pass 2 to nation-UNEQUAL
    // pairs makes the two arms disjoint. The union of the arms is then
    // already the distinct candidate set — identical rows to the previous
    // `unionAll(...).distinct()` shape without shuffling the full pair
    // stream through a dedup Exchange (guide §2.4: a `distinct` on data
    // that is already unique is an accidental shuffle).
    val block1 = aa.join(bb, aa("a_nation") === bb("b_nation"))
      .select("a_id", "b_id")
    val block2 = aa.join(bb,
        substring(aa("a_name"), 11, 8) === substring(bb("b_name"), 11, 8))
      .filter(aa("a_nation") =!= bb("b_nation"))
      .select("a_id", "b_id")
    block1.unionAll(block2)
  }

  /** Candidate pairs WITH both sides' full field vectors, carried through
    * the blocking joins directly (same disjoint-arm algebra as
    * [[candidates]]) — the previous shape generated bare id pairs and
    * joined them back to both sides, paying two more hash probes per
    * candidate for columns the blocking joins already held. */
  private def joinedCandidates(customer: DataFrame): DataFrame = {
    val a = sideA(customer)
    val b = sideB(customer)
    // widen the probe side: the md5/score projections above run INSIDE
    // this map stage now that no dedup Exchange re-spreads the stream —
    // without the widen the whole candidate scoring serializes on the
    // single-row-group scan's one task (measured 28 s on the JW rung)
    val aa = graft.Par.widen(
      a.select(col("rec_id").as("a_id"), col("name").as("a_name"),
        col("nation").as("a_nation"), col("bal").as("a_bal"),
        col("seg").as("a_seg")))
    val bb = b.select(col("rec_id").as("b_id"), col("name").as("b_name"),
      col("nation").as("b_nation"), col("bal").as("b_bal"),
      col("seg").as("b_seg"))
    val block1 = aa.join(bb, aa("a_nation") === bb("b_nation"))
    val block2 = aa.join(bb,
        substring(aa("a_name"), 11, 8) === substring(bb("b_name"), 11, 8))
      .filter(aa("a_nation") =!= bb("b_nation"))
    block1.unionByName(block2)
  }

  /** Score every candidate pair: field agreements, FS log-weight sum,
    * three-zone decision. Output (a_id, b_id, name_eq, nation_eq,
    * bal_eq, seg_eq, score, decision), ordered. */
  def scorePairs(customer: DataFrame): DataFrame = {
    joinedCandidates(customer)
      .withColumn("name_eq", col("a_name") === col("b_name"))
      .withColumn("nation_eq", col("a_nation") === col("b_nation"))
      .withColumn("bal_eq", abs(col("a_bal") - col("b_bal")) < 0.005)
      .withColumn("seg_eq", col("a_seg") === col("b_seg"))
      .withColumn("_score", expr(scoreSql))
      .select(col("a_id"), col("b_id"), col("name_eq"), col("nation_eq"),
        col("bal_eq"), col("seg_eq"),
        round(col("_score"), 6).as("score"),
        when(col("_score") >= MatchThreshold, "match")
          .when(col("_score") >= PossibleThreshold, "possible")
          .otherwise("nonmatch").as("decision"))
      .orderBy("a_id", "b_id")
  }

  /** JW agreement threshold for the entity-name field. The TPC-H
    * c_name is structurally degenerate for approximate comparison
    * (every name shares the 10-char prefix `Customer#0`, so ALL pairs
    * score ≥ 0.88 under the prefix boost — measured, not assumed); the
    * JW rung therefore compares a synthetic high-entropy entity name,
    * md5-derived per entity, with a planted adjacent TRANSPOSITION on
    * every 3rd b-record — the typo class Winkler's comparator was
    * built for. Typo'd true pair: JW = 0.9833 (11/12 in-order matches
    * + full prefix boost); unrelated pair: two independent 12-char hex
    * strings, JW ≈ 0.6. 0.9 separates cleanly. */
  val JwNameThreshold = 0.9

  /** Shared-syntax entity-name derivations (pure functions of the
    * entity key, so both engines build identical corpora; `idSql` is
    * the UNDERLYING custkey — the b side derives from b_id − 10^6 the
    * same way its other field noise does). */
  def enameSql(idSql: String): String =
    // STRING parses in Spark AND aliases VARCHAR in DuckDB
    s"substr(md5(CAST(($idSql) AS STRING)), 1, 12)"
  def enameTypoSql(idSql: String): String = {
    val e = enameSql(idSql)
    s"""CASE WHEN ($idSql) % 3 = 0 THEN
          concat(substr($e, 1, 4), substr($e, 6, 1),
                 substr($e, 5, 1), substr($e, 7, 6))
        ELSE $e END"""
  }

  /** Winkler-comparator upgrade of [[scorePairs]]: the name-field
    * agreement is `jaro_winkler(a_ename, b_ename) >= 0.9` via the
    * NATIVE codegen'd [[graft.functions.JaroWinklerExpr]] instead of
    * exact equality — a transposition typo (planted on every 3rd
    * b-record) keeps its agreement evidence, so typo-only pairs move
    * from under-decided back to 'match'. Output adds the raw jw and
    * both decisions; `recovered` marks pairs the exact-equality scorer
    * under-decided. */
  def jwScorePairs(customer: DataFrame): DataFrame = {
    val jw = graft.functions.JaroWinklerExpr.jaroWinkler(
      col("a_ename"), col("b_ename"))
    joinedCandidates(customer)
      .withColumn("a_ename", expr(enameSql("a_id")))
      .withColumn("b_ename", expr(enameTypoSql("b_id - 1000000")))
      .withColumn("jw_name", jw)
      .withColumn("name_eq", col("jw_name") >= JwNameThreshold)
      .withColumn("name_eq_exact", col("a_ename") === col("b_ename"))
      .withColumn("nation_eq", col("a_nation") === col("b_nation"))
      .withColumn("bal_eq", abs(col("a_bal") - col("b_bal")) < 0.005)
      .withColumn("seg_eq", col("a_seg") === col("b_seg"))
      .withColumn("_jw_score", expr(scoreSql))
      .withColumn("_ex_score", expr(scoreSql
        .replace("name_eq", "name_eq_exact")))
      .select(col("a_id"), col("b_id"),
        round(col("jw_name"), 6).as("jw_name"),
        col("name_eq"), col("nation_eq"), col("bal_eq"), col("seg_eq"),
        round(col("_jw_score"), 6).as("score"),
        when(col("_jw_score") >= MatchThreshold, "match")
          .when(col("_jw_score") >= PossibleThreshold, "possible")
          .otherwise("nonmatch").as("decision"),
        when(col("_ex_score") >= MatchThreshold, "match")
          .when(col("_ex_score") >= PossibleThreshold, "possible")
          .otherwise("nonmatch").as("decision_exact"))
      .withColumn("recovered",
        col("decision") === "match" && col("decision_exact") =!= "match")
      .orderBy("a_id", "b_id")
  }

  /** Blocking-quality audit — the two numbers every blocking scheme is
    * judged by (Christen, "Data Matching", 2012): REDUCTION RATIO
    * (candidates avoided vs all-pairs) and PAIRS COMPLETENESS (planted
    * true pairs that survive blocking), per pass and combined. This is
    * the audit that would have caught a degenerate block key (a
    * constant prefix turns a pass into a cross join) before it shipped.
    */
  def blockingAudit(customer: DataFrame): DataFrame = {
    val a = sideA(customer)
    val b = sideB(customer)
    val aa = a.select(col("rec_id").as("a_id"), col("name").as("a_name"),
      col("nation").as("a_nation"))
    val bb = b.select(col("rec_id").as("b_id"), col("name").as("b_name"),
      col("nation").as("b_nation"))
    // Single-key equi-joins emit each pair at most once, so the per-pass
    // `.distinct()` of the previous shape was a full-pair-stream dedup
    // Exchange deduplicating nothing; and since the combined pass is
    // pass1 ⊎ (pass2 where nations differ) — disjoint by construction —
    // its counts are SUMS of per-pass aggregates. The whole audit is now
    // one scan of each blocking join (map-side partial aggregation, one
    // scalar row out each) instead of three join replays + three dedups.
    val isTrue = col("b_id") - 1000000L === col("a_id")
    val diff = col("a_nation") =!= col("b_nation")
    val aw = graft.Par.widen(aa) // spread the pair-stream map stage
    val b1agg = aw.join(bb, aw("a_nation") === bb("b_nation"))
      .agg(count(lit(1L)).as("n1"),
        sum(when(isTrue, 1L).otherwise(0L)).as("t1"))
    val b2agg = aw.join(bb,
        substring(aw("a_name"), 11, 8) === substring(bb("b_name"), 11, 8))
      .agg(count(lit(1L)).as("n2"),
        sum(when(isTrue, 1L).otherwise(0L)).as("t2"),
        sum(when(diff, 1L).otherwise(0L)).as("n2f"),
        sum(when(isTrue && diff, 1L).otherwise(0L)).as("t2f"))
    val tot = a.agg(count(lit(1L)).as("n_a"))
      .crossJoin(b.agg(count(lit(1L)).as("n_b")))
    b1agg.crossJoin(broadcast(b2agg)).crossJoin(broadcast(tot))
      .select(explode(array(
        struct(lit("combined").as("pass"),
          (col("n1") + col("n2f")).as("n_candidates"),
          (col("t1") + col("t2f")).as("n_true_caught")),
        struct(lit("name_suffix").as("pass"), col("n2").as("n_candidates"),
          col("t2").as("n_true_caught")),
        struct(lit("nation").as("pass"), col("n1").as("n_candidates"),
          col("t1").as("n_true_caught")))).as("r"),
        col("n_a"), col("n_b"))
      .select(col("r.pass").as("pass"), col("r.n_candidates").as("n_candidates"),
        col("r.n_true_caught").as("n_true_caught"),
        col("n_b").as("n_true_total"),
        round(col("r.n_true_caught").cast("double") / col("n_b"), 6)
          .as("pairs_completeness"),
        round(lit(1.0) - col("r.n_candidates").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6)
          .as("reduction_ratio"))
      .orderBy("pass")
  }

  /** Linkage quality against the PLANTED ground truth (b − 10^6 = a):
    * per (decision, is_true) pair counts — the confusion matrix the
    * threshold calibration reads. */
  def evaluate(customer: DataFrame): DataFrame =
    scorePairs(customer)
      .withColumn("is_true", col("b_id") - 1000000L === col("a_id"))
      .groupBy("decision", "is_true")
      .agg(count(lit(1L)).as("n"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
      .orderBy("decision", "is_true")

  // ---------------------------------------------------------------------
  // Sorted-neighborhood blocking — Hernández & Stolfo, "The merge/purge
  // problem for large databases", SIGMOD 1995: the third canonical
  // candidate-generation method beside standard blocking (the
  // nation/suffix passes above) and LSH (the dedup family). Sort the
  // MERGED file on a discriminative key; candidates are pairs within a
  // sliding window of w positions.
  // ---------------------------------------------------------------------

  /** SNM window size (positions, not keys). */
  val SnmWindow = 8

  /** Sliding-window candidates over the merged a∪b file sorted by the
    * entity name. The window is [[DedupQueries.sortedNeighbours]]' w LEAD
    * columns exploded into pairs — pure window functions, NO self-join
    * (the rn-banding self-join SNM is usually built from costs a second
    * shuffle).
    *
    * Scale shape: the sort is PARTITIONED by a 1-hex sort-key prefix
    * (16-way here; 3-4 hex chars at 10^12 rows), so the window never
    * degenerates into Spark's single-partition global window; pairs
    * whose members straddle a prefix boundary are lost — the standard
    * SNM boundary caveat, restored by the OTHER passes of the
    * multi-pass union (a typo in char 1 of the sort key defeats any
    * single sort order anyway; Hernández-Stolfo's own fix is multiple
    * passes on different keys, which is exactly [[candidates]]).
    *
    * Output: cross-side pairs only, oriented a→b (same-side neighbors
    * are dedup's job, not linkage's). */
  def snmCandidates(customer: DataFrame, w: Int = SnmWindow): DataFrame = {
    val a = sideA(customer).select(col("rec_id"),
      expr(enameSql("rec_id")).as("ename"), lit("a").as("side"))
    val b = sideB(customer).select(col("rec_id"),
      expr(enameTypoSql("rec_id - 1000000")).as("ename"),
      lit("b").as("side"))
    val merged = a.unionAll(b)
      .withColumn("pfx", substring(col("ename"), 1, 1))
    DedupQueries.sortedNeighbours(merged, Seq("pfx"), Seq("ename", "rec_id"),
        Seq("rec_id", "side"), w)
      .filter(col("y.side") =!= col("side"))
      .select(
        when(col("side") === "a", col("rec_id"))
          .otherwise(col("y.rec_id")).as("a_id"),
        when(col("side") === "a", col("y.rec_id"))
          .otherwise(col("rec_id")).as("b_id"))
  }

  /** SNM blocking audit — same verdict columns as [[blockingAudit]],
    * plus the TYPO'd-true-pair recall (the pairs the equality-keyed
    * passes can lose and SNM's near-sortedness is supposed to keep).
    * Output: one row (w, n_candidates, n_true_caught, n_true_total,
    * pairs_completeness, n_typo_true_caught, n_typo_true_total). */
  def snmAudit(customer: DataFrame, w: Int = SnmWindow): DataFrame = {
    val cand = snmCandidates(customer, w)
    val tot = sideB(customer).agg(
      count(lit(1L)).as("n_true_total"),
      sum(when(expr("(rec_id - 1000000) % 3 = 0"), 1L).otherwise(0L))
        .as("n_typo_true_total"))
    cand.agg(
      count(lit(1L)).as("n_candidates"),
      sum(when(col("b_id") - 1000000L === col("a_id"), 1L).otherwise(0L))
        .as("n_true_caught"),
      sum(when(col("b_id") - 1000000L === col("a_id") &&
        col("a_id") % 3 === 0, 1L).otherwise(0L))
        .as("n_typo_true_caught"))
      .crossJoin(broadcast(tot))
      .select(lit(w).as("w"), col("n_candidates"), col("n_true_caught"),
        col("n_true_total"),
        round(col("n_true_caught").cast("double") / col("n_true_total"), 6)
          .as("pairs_completeness"),
        col("n_typo_true_caught"), col("n_typo_true_total"))
  }

  // ---------------------------------------------------------------------
  // EM estimation of (m, u, p) — Winkler, "Using the EM algorithm for
  // weight computation in the Fellegi-Sunter model of record linkage",
  // ASA Survey Research Methods 1988. The DECLARED FieldMU above is the
  // auditable config; this is the estimation job that produces such a
  // config from unlabeled candidates.
  // ---------------------------------------------------------------------

  /** Fixed EM iteration count and deterministic init (never data-derived
    * — replay must be bit-identical). */
  val EmIters = 6
  val EmInitP = 0.1
  val EmInitM: Seq[Double] = Seq(0.9, 0.9, 0.9, 0.9)
  val EmInitU: Seq[Double] = Seq(0.1, 0.1, 0.1, 0.1)

  private val fields = FieldMU.map(_._1)

  /** EM over the 2^4 AGREEMENT-PATTERN table (conditional independence,
    * the classic FS assumption): one big-data pass reduces candidates to
    * 16 integer-exact pattern counts; all EM arithmetic then runs on the
    * 16-row frame — at 10^12 candidates the training loop costs one
    * groupBy, like the 3-step IVF trainer.
    *
    * Determinism contract (the same discipline as the correlation
    * matrix): per-pattern responsibilities are pure row-local double
    * math from identical literals (bit-identical across engines);
    * CROSS-PATTERN sums are order-free because every addend is cast to
    * DECIMAL(38,10) first (exact decimal addition); new parameters are
    * IEEE doubles from two decimal-exact operands. No intermediate
    * rounding — only the emitted columns round to 6.
    *
    * Output: (iter, field, m, u, p) for iter 1..EmIters, ordered —
    * the fitted-parameter trajectory a calibration review reads.
    */
  def emFit(customer: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    // ONE big-data pass: pattern counts, collected (bounded by
    // construction: 2^4 rows). Iterating EM as Spark jobs over the
    // 16-row frame would replay the candidate join per iteration —
    // measured 20.7 s vs ~4 s for the single-pass collect.
    val pat: Array[(Seq[Boolean], Long)] = scorePairs(customer)
      .groupBy(fields.map(f => col(s"${f}_eq")): _*)
      .agg(count(lit(1L)).as("n"))
      .collect()
      .map(r => (fields.indices.map(r.getBoolean), r.getLong(fields.size)))

    // driver EM with the SAME arithmetic contract the DuckDB twin
    // replays: per-pattern responsibilities in IEEE doubles; every
    // cross-pattern addend rounded to DECIMAL(38,10) (BigDecimal
    // HALF_UP — Spark's and DuckDB's double→decimal cast) and summed
    // exactly; new params as double quotients of decimal-exact sums.
    def dsum(xs: Iterable[Double]): Double =
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    var p = EmInitP
    var ms = EmInitM
    var us = EmInitU
    val trail = (1 to EmIters).map { it =>
      val rows = pat.map { case (eqs, n) =>
        val pm = eqs.zip(ms).map { case (e, m) => if (e) m else 1.0 - m }
          .product
        val pu = eqs.zip(us).map { case (e, u) => if (e) u else 1.0 - u }
          .product
        (eqs, p * pm / (p * pm + (1.0 - p) * pu), n)
      }
      val rn = dsum(rows.map { case (_, r, n) => r * n })
      val qn = dsum(rows.map { case (_, r, n) => (1.0 - r) * n })
      val tot = pat.map(_._2).sum.toDouble
      ms = fields.indices.map(i =>
        dsum(rows.map { case (e, r, n) => if (e(i)) r * n else 0.0 }) / rn)
      us = fields.indices.map(i =>
        dsum(rows.map { case (e, r, n) => if (e(i)) (1.0 - r) * n else 0.0 }) / qn)
      p = rn / tot
      (it, p, ms, us)
    }
    import spark.implicits._
    trail.flatMap { case (it, pi, msi, usi) =>
      fields.zipWithIndex.map { case (f, i) => (it, f, msi(i), usi(i), pi) }
    }.toDF("iter", "field", "m_raw", "u_raw", "p_raw")
      .select(col("iter"), col("field"),
        round(col("m_raw"), 6).as("m"), round(col("u_raw"), 6).as("u"),
        round(col("p_raw"), 6).as("p"))
      .orderBy("iter", "field")
  }

  /** DuckDB twin of [[emFit]]: the EM recursion unrolled as one CTE
    * chain — same pattern counts, same decimal-sum discipline, same
    * double division, same literals. */
  def duckEmFitSql: String = {
    val dec = "DECIMAL(38,10)"
    def prod(sel: String => String): String = fields.map { f =>
      s"(CASE WHEN ${f}_eq THEN ${sel(f)} ELSE 1.0 - ${sel(f)} END)"
    }.mkString(" * ")
    val it0 =
      s"""p0 AS (SELECT CAST($EmInitP AS DOUBLE) AS p,
         ${fields.zipWithIndex.map { case (f, i) =>
        s"CAST(${EmInitM(i)} AS DOUBLE) AS m_$f, CAST(${EmInitU(i)} AS DOUBLE) AS u_$f"
      }.mkString(", ")})"""
    val iters = (1 to EmIters).map { k =>
      val pm = prod(f => s"m_$f")
      val pu = prod(f => s"u_$f")
      s"""r$k AS (SELECT pat.*,
           (p * $pm) / (p * $pm + (1.0 - p) * $pu) AS r
         FROM pat CROSS JOIN p${k - 1}),
       p$k AS (SELECT
           CAST(sum(CAST(r * n AS $dec)) AS DOUBLE) /
             CAST(sum(n) AS DOUBLE) AS p,
           ${fields.map { f =>
        s"""CAST(sum(CAST(CASE WHEN ${f}_eq THEN r * n ELSE 0.0 END AS $dec)) AS DOUBLE) /
             CAST(sum(CAST(r * n AS $dec)) AS DOUBLE) AS m_$f,
           CAST(sum(CAST(CASE WHEN ${f}_eq THEN (1.0 - r) * n ELSE 0.0 END AS $dec)) AS DOUBLE) /
             CAST(sum(CAST((1.0 - r) * n AS $dec)) AS DOUBLE) AS u_$f"""
      }.mkString(", ")}
         FROM r$k)"""
    }.mkString(",\n       ")
    val emit = (1 to EmIters).flatMap { k =>
      fields.map { f =>
        s"""SELECT $k AS iter, '$f' AS field, round(m_$f, 6) AS m,
           round(u_$f, 6) AS u, round(p, 6) AS p FROM p$k"""
      }
    }.mkString("\n         UNION ALL ")
    s"""WITH $duckBaseCte,
       pat AS (SELECT name_eq, nation_eq, bal_eq, seg_eq,
           count(*) AS n FROM scored
         GROUP BY 1, 2, 3, 4),
       $it0,
       $iters
       SELECT * FROM (
         $emit
       ) ORDER BY iter, field"""
  }

  /** DuckDB twin of the SNM pipeline: same merged file, same 1-hex
    * prefix partitions, same (ename, rec_id) order, the w leads spelled
    * out and unioned. */
  private def duckSnmCte(w: Int): String = {
    val over = "OVER (PARTITION BY pfx ORDER BY ename, rec_id)"
    val leads = (1 to w).map(k =>
      s"lead(rec_id, $k) $over AS nid_$k, lead(side, $k) $over AS nside_$k")
      .mkString(",\n             ")
    val pairSelects = (1 to w).map(k =>
      s"""SELECT CASE WHEN side = 'a' THEN rec_id ELSE nid_$k END AS a_id,
                CASE WHEN side = 'a' THEN nid_$k ELSE rec_id END AS b_id
         FROM nbrs WHERE nid_$k IS NOT NULL AND nside_$k <> side""")
      .mkString("\n         UNION ALL ")
    s"""sa AS (SELECT c_custkey AS rec_id,
           ${enameSql("c_custkey")} AS ename, 'a' AS side FROM customer),
       sb AS (SELECT c_custkey + 1000000 AS rec_id,
           ${enameTypoSql("c_custkey")} AS ename, 'b' AS side
         FROM customer WHERE c_custkey % 2 = 0),
       merged AS (SELECT *, substr(ename, 1, 1) AS pfx
         FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb)),
       nbrs AS (SELECT rec_id, ename, side, pfx,
             $leads
           FROM merged),
       snm_pairs AS (
         $pairSelects)"""
  }

  /** DuckDB CTE producing the same sides and candidates. */
  private def duckBaseCte: String =
    s"""a AS (SELECT c_custkey AS rec_id, c_name AS name,
           c_nationkey AS nation, c_acctbal AS bal, c_mktsegment AS seg
         FROM customer),
       b AS (SELECT c_custkey + 1000000 AS rec_id, $BName AS name,
           $BNation AS nation, $BBal AS bal, $BSeg AS seg
         FROM customer WHERE c_custkey % 2 = 0),
       cand AS (
         SELECT DISTINCT a.rec_id AS a_id, b.rec_id AS b_id
         FROM a JOIN b ON a.nation = b.nation
         UNION
         SELECT DISTINCT a.rec_id AS a_id, b.rec_id AS b_id
         FROM a JOIN b ON substr(a.name, 11, 8) = substr(b.name, 11, 8)),
       scored AS (
         SELECT cand.a_id, cand.b_id,
           (a.name = b.name) AS name_eq,
           (a.nation = b.nation) AS nation_eq,
           (abs(a.bal - b.bal) < 0.005) AS bal_eq,
           (a.seg = b.seg) AS seg_eq
         FROM cand
         JOIN a ON a.rec_id = cand.a_id
         JOIN b ON b.rec_id = cand.b_id),
       weighted AS (
         SELECT *, $scoreSql AS score_raw FROM scored)"""

  def oracleSql: Map[String, String] = Map(
    "q_link_fs_pairs" ->
      s"""WITH $duckBaseCte
         SELECT a_id, b_id, name_eq, nation_eq, bal_eq, seg_eq,
           round(score_raw, 6) AS score,
           CASE WHEN score_raw >= $MatchThreshold THEN 'match'
                WHEN score_raw >= $PossibleThreshold THEN 'possible'
                ELSE 'nonmatch' END AS decision
         FROM weighted
         ORDER BY a_id, b_id""",
    "q_link_blocking_audit" ->
      s"""WITH a AS (SELECT c_custkey AS rec_id, c_name AS name,
             c_nationkey AS nation FROM customer),
         b AS (SELECT c_custkey + 1000000 AS rec_id, $BName AS name,
             $BNation AS nation FROM customer WHERE c_custkey % 2 = 0),
         b1 AS (SELECT DISTINCT a.rec_id AS a_id, b.rec_id AS b_id
                FROM a JOIN b ON a.nation = b.nation),
         b2 AS (SELECT DISTINCT a.rec_id AS a_id, b.rec_id AS b_id
                FROM a JOIN b ON substr(a.name, 11, 8) = substr(b.name, 11, 8)),
         comb AS (SELECT * FROM b1 UNION SELECT * FROM b2),
         tot AS (SELECT (SELECT count(*) FROM a) AS n_a,
                        (SELECT count(*) FROM b) AS n_b),
         audit AS (
           SELECT 'combined' AS pass, count(*) AS n_candidates,
             CAST(sum(CASE WHEN b_id - 1000000 = a_id THEN 1 ELSE 0 END) AS BIGINT) AS n_true_caught
           FROM comb
           UNION ALL
           SELECT 'name_suffix', count(*),
             CAST(sum(CASE WHEN b_id - 1000000 = a_id THEN 1 ELSE 0 END) AS BIGINT)
           FROM b2
           UNION ALL
           SELECT 'nation', count(*),
             CAST(sum(CASE WHEN b_id - 1000000 = a_id THEN 1 ELSE 0 END) AS BIGINT)
           FROM b1)
         SELECT pass, n_candidates, n_true_caught,
           n_b AS n_true_total,
           round(CAST(n_true_caught AS DOUBLE) / n_b, 6) AS pairs_completeness,
           round(1.0 - CAST(n_candidates AS DOUBLE) / (n_a * n_b), 6) AS reduction_ratio
         FROM audit, tot
         ORDER BY pass""",
    "q_link_fs_eval" ->
      s"""WITH $duckBaseCte
         SELECT
           CASE WHEN score_raw >= $MatchThreshold THEN 'match'
                WHEN score_raw >= $PossibleThreshold THEN 'possible'
                ELSE 'nonmatch' END AS decision,
           (b_id - 1000000 = a_id) AS is_true,
           count(*) AS n,
           round(min(score_raw), 6) AS min_score,
           round(max(score_raw), 6) AS max_score
         FROM weighted
         GROUP BY 1, 2
         ORDER BY decision, is_true""",
    "q_link_em_fit" -> duckEmFitSql,
    "q_link_jw_pairs" ->
      s"""WITH $duckBaseCte,
         j AS (SELECT cand.a_id, cand.b_id,
             ${enameSql("cand.a_id")} AS a_ename,
             ${enameTypoSql("cand.b_id - 1000000")} AS b_ename,
             a.nation AS a_nation, b.nation AS b_nation,
             a.bal AS a_bal, b.bal AS b_bal,
             a.seg AS a_seg, b.seg AS b_seg
           FROM cand JOIN a ON a.rec_id = cand.a_id
                     JOIN b ON b.rec_id = cand.b_id),
         s AS (SELECT *,
             jaro_winkler_similarity(a_ename, b_ename) AS jw_name,
             (jaro_winkler_similarity(a_ename, b_ename) >= $JwNameThreshold)
               AS name_eq,
             (a_ename = b_ename) AS name_eq_exact,
             (a_nation = b_nation) AS nation_eq,
             (abs(a_bal - b_bal) < 0.005) AS bal_eq,
             (a_seg = b_seg) AS seg_eq
           FROM j),
         w AS (SELECT *, $scoreSql AS jw_score,
             ${scoreSql.replace("name_eq", "name_eq_exact")} AS ex_score
           FROM s),
         d AS (SELECT a_id, b_id, round(jw_name, 6) AS jw_name,
             name_eq, nation_eq, bal_eq, seg_eq,
             round(jw_score, 6) AS score,
             CASE WHEN jw_score >= $MatchThreshold THEN 'match'
                  WHEN jw_score >= $PossibleThreshold THEN 'possible'
                  ELSE 'nonmatch' END AS decision,
             CASE WHEN ex_score >= $MatchThreshold THEN 'match'
                  WHEN ex_score >= $PossibleThreshold THEN 'possible'
                  ELSE 'nonmatch' END AS decision_exact
           FROM w)
         SELECT *, (decision = 'match' AND decision_exact <> 'match')
           AS recovered
         FROM d ORDER BY a_id, b_id""",
    "q_link_snm_pairs" ->
      s"""WITH ${duckSnmCte(SnmWindow)}
         SELECT a_id, b_id FROM snm_pairs ORDER BY a_id, b_id""",
    "q_link_snm_audit" ->
      s"""WITH ${duckSnmCte(SnmWindow)},
         tot AS (SELECT count(*) AS n_true_total,
             CAST(sum(CASE WHEN (rec_id - 1000000) % 3 = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_typo_true_total
           FROM sb)
         SELECT $SnmWindow AS w, count(*) AS n_candidates,
           CAST(sum(CASE WHEN b_id - 1000000 = a_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_true_caught,
           n_true_total,
           round(CAST(sum(CASE WHEN b_id - 1000000 = a_id THEN 1 ELSE 0 END)
             AS DOUBLE) / n_true_total, 6) AS pairs_completeness,
           CAST(sum(CASE WHEN b_id - 1000000 = a_id AND a_id % 3 = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_typo_true_caught,
           n_typo_true_total
         FROM snm_pairs, tot
         GROUP BY n_true_total, n_typo_true_total""")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FS-scored candidate pairs over multi-pass blocking — the
    // entity-resolution sibling of the dedup family; every weight a
    // declared literal, pure column math on equi-join candidates.
    "q_link_fs_pairs" -> ((s, dir) =>
      scorePairs(Tables(s, dir, "customer"))),
    // Confusion matrix vs the planted ground truth — what threshold
    // calibration reads (planted noise makes precision/recall exact).
    "q_link_fs_eval" -> ((s, dir) =>
      evaluate(Tables(s, dir, "customer"))),
    // Reduction ratio + pairs completeness per blocking pass — the
    // audit that catches degenerate block keys before they cross-join.
    "q_link_blocking_audit" -> ((s, dir) =>
      blockingAudit(Tables(s, dir, "customer"))),
    // Winkler EM fit of (m, u, p) from unlabeled candidates: one
    // big-data pass to 16 integer-exact pattern counts, then 6 unrolled
    // EM iterations on the pattern frame — decimal-sum order-free, the
    // whole trajectory DuckDB-replayed.
    "q_link_em_fit" -> ((s, dir) =>
      emFit(Tables(s, dir, "customer"))),
    // Winkler-comparator rung: name agreement via the native codegen'd
    // jaro_winkler expression (hash-verified against DuckDB's builtin),
    // recovering truncation-only pairs exact equality under-decides.
    "q_link_jw_pairs" -> ((s, dir) =>
      jwScorePairs(Tables(s, dir, "customer"))),
    // Sorted-neighborhood blocking: merged-file sort on the entity
    // name, w-position sliding window as lead() columns (no self-join),
    // prefix-partitioned so the window never goes single-partition.
    "q_link_snm_pairs" -> ((s, dir) =>
      snmCandidates(Tables(s, dir, "customer")).orderBy("a_id", "b_id")),
    // SNM audit row: completeness overall and on the typo'd subset.
    "q_link_snm_audit" -> ((s, dir) =>
      snmAudit(Tables(s, dir, "customer"))))
}
