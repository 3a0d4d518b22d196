package graft.validation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Syntactic structure discovery over a string column via character-class
  * MASKS (Potter's Wheel, Raman & Hellerstein, VLDB 2001 §3 — inferring
  * the dominant structures of a field from its value patterns): every
  * uppercase char maps to 'A', lowercase to 'a', digit to '9', all other
  * characters kept verbatim; the COMPRESSED mask additionally collapses
  * runs of the same class ("AA-99" → "A-9"). The compressed-mask
  * histogram is the profile a validation engine reads before trusting a
  * field: a structurally uniform column shows a handful of masks covering
  * ~100% (so a regex constraint is safe to suggest), and the rare variant
  * masks at the tail ARE the malformed rows, already grouped by HOW they
  * are malformed. Reference analogue: the multi-format normalization
  * ladder of `analysis.py:61-104`, lifted from dates to arbitrary
  * strings and inverted — discover the formats instead of enumerating
  * them.
  *
  * Scale shape (10^12 rows): one narrow codegen'd projection (three
  * regexp passes, no UDF) + one shuffle on the full mask; everything
  * downstream — the compressed-mask rollup, both windows, the top-K cut —
  * runs on MASK-CARDINALITY-sized frames, never rows. `n_variants`
  * (distinct full masks under each compressed mask — the dispersion of
  * run lengths within a structure) is exact and rides the same rollup.
  */
object MaskProfile {

  /** Full mask: per-character class substitution, order-safe because
    * each replacement char ('A','a','9') is only produced by its own
    * earlier-or-same pass. */
  private def fullMask(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      c.cast("string"), "[A-Z]", "A"), "[a-z]", "a"), "[0-9]", "9")

  /** Compressed mask from a full mask: collapse class runs. */
  private def compress(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      c, "A+", "A"), "a+", "a"), "9+", "9")

  /** ALGEBRAIC partial: per-full-mask counts — the mergeable state of
    * the profile (sum-merge on full_mask), shared by the batch path and
    * its streamed form ([[graft.streaming.PartialFold]]). */
  def fullMaskCounts(df: DataFrame, colSql: String): DataFrame =
    df.select(fullMask(expr(colSql)).as("full_mask"))
      .filter(col("full_mask").isNotNull)
      .groupBy("full_mask").agg(count(lit(1L)).as("n"))

  /** Merge partials from several runs/micro-batches back to canonical
    * per-full-mask counts. */
  def mergeFullMaskCounts(partials: DataFrame): DataFrame =
    partials.groupBy("full_mask").agg(sum(col("n")).as("n"))

  /** Finalize a (full_mask, n) frame into the ranked profile. */
  def fromFullMaskCounts(byFull: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, s"topK >= 1, got $topK")
    val byMask = byFull
      .withColumn("mask", compress(col("full_mask")))
      .groupBy("mask").agg(
        sum(col("n")).as("n_rows"),
        count(lit(1L)).as("n_variants"))
    val ord = Window.orderBy(col("n_rows").desc, col("mask"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = sum(col("n_rows")).over(Window.partitionBy(lit(1))).cast("double")
    byMask
      .withColumn("rank", row_number().over(ord))
      .withColumn("pct", round(col("n_rows").cast("double") / total, 6))
      .withColumn("cum_pct",
        round(sum(col("n_rows")).over(run).cast("double") / total, 6))
      .filter(col("rank") <= topK)
      .select("rank", "mask", "n_rows", "n_variants", "pct", "cum_pct")
      .orderBy("rank")
  }

  /** Top-`topK` compressed masks of `colSql` with coverage accounting.
    * Output: (rank, mask, n_rows, n_variants, pct, cum_pct) ordered by
    * rank; rank breaks count ties on the mask string so the cut is
    * deterministic in both engines. Nulls are excluded (their share is
    * the completeness check's job, not the structure profile's). */
  def masks(df: DataFrame, colSql: String, topK: Int = 20): DataFrame =
    fromFullMaskCounts(fullMaskCounts(df, colSql), topK)

  /** DuckDB twin of [[masks]] — same three-pass substitution (DuckDB
    * needs the explicit 'g' flag for global replacement), same rollup,
    * same tie order, same round-6 exports. */
  def duckMasksSql(table: String, colSql: String, topK: Int = 20): String =
    s"""WITH base AS (
         SELECT regexp_replace(regexp_replace(regexp_replace(
           CAST(($colSql) AS VARCHAR),
           '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g') AS full_mask
         FROM $table
         WHERE ($colSql) IS NOT NULL),
       f AS (SELECT full_mask, count(*) AS n FROM base GROUP BY 1),
       m AS (SELECT regexp_replace(regexp_replace(regexp_replace(
               full_mask, 'A+', 'A', 'g'), 'a+', 'a', 'g'), '9+', '9', 'g') AS mask,
               n
             FROM f),
       g AS (SELECT mask, CAST(sum(n) AS BIGINT) AS n_rows,
               count(*) AS n_variants
             FROM m GROUP BY 1),
       r AS (SELECT mask, n_rows, n_variants,
               CAST(row_number() OVER (ORDER BY n_rows DESC, mask) AS INT) AS rank,
               CAST(sum(n_rows) OVER () AS DOUBLE) AS total,
               CAST(sum(n_rows) OVER (ORDER BY n_rows DESC, mask
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
             FROM g)
       SELECT rank, mask, n_rows, n_variants,
         round(CAST(n_rows AS DOUBLE) / total, 6) AS pct,
         round(cum / total, 6) AS cum_pct
       FROM r
       WHERE rank <= $topK
       ORDER BY rank"""
}
