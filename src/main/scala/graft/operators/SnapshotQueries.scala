package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot reconciliation — "what changed between baseline snapshot B and
  * current snapshot C, and where" — the missing half of drift validation:
  * drift says the DISTRIBUTION moved, reconciliation says WHICH rows moved.
  * Reference analogue: the reference re-assesses an entity only when its
  * content key changes (content-keyed cache check,
  * `/root/reference/src/crawl_first/cache.py:27-29`) and reports per-record
  * changed/unchanged status in its assessment outputs
  * (`validation_agent.py:787-812`); here the same idea runs table-scale
  * against an Iceberg-style baseline snapshot (the north star's "drift
  * checks … against a baseline snapshot").
  *
  * Two-level Merkle-style plan — the part that matters at 10^12 rows:
  *
  *  1. '''Partition fingerprints''' (one narrow groupBy per snapshot):
  *     per partition emit (row count, bit_xor of a 48-bit row-content
  *     hash, sum of a 32-bit row-content hash). All three are commutative
  *     and map-side-combinable, output is partition-count-sized, and the
  *     triple (count, xor, sum) catches what any single one misses (xor
  *     cancels duplicated pairs, sum alone collides on swaps, count alone
  *     misses edits). sum of 32-bit values stays exact in an int64 up to
  *     2^31 rows per partition — far above any sane file/partition size.
  *  2. '''Dirty-partition join''': full outer join of the two fingerprint
  *     frames on the partition key — a partition-count-sized (i.e. tiny)
  *     join; a partition is clean iff all three components match.
  *  3. '''Pruned row diff''': the expensive key-level full outer join runs
  *     ONLY over rows whose partition is dirty (broadcast semi-join of the
  *     dirty set against both scans — partition-key filters that Iceberg
  *     metadata would satisfy without reading clean files at all). With a
  *     localized rewrite (the common case: a backfill touches a date
  *     range), the reconciliation reads a sliver of the table instead of
  *     2×100 TB.
  *
  * The synthetic pair is derived deterministically from `orders` so both
  * engines replay it bit-for-bit: the "current" snapshot rewrites the 1995
  * slice only — removes ~15% of 1995 rows (md5 byte < 40), reclassifies
  * ~31% (byte in [40,120): totalprice +10.00, priority '9-RECLASS'), and
  * backfills ~15% new rows (byte >= 216, key shifted by +900,000,000,
  * status 'N'). Everything outside 1995 is byte-identical, so every
  * non-1995 month partition must fingerprint clean — which is exactly what
  * `q_snap_dirty_parts` asserts and `q_snap_diff_pruned` exploits.
  *
  * Row-content hash: md5 over a '|'-joined canonical string of the
  * compared columns, with the double price canonicalized to integer cents
  * (`round(p*100) as bigint`) and the timestamp to 'yyyy-MM-dd' — both
  * engines produce the identical string, so the identical hash.
  */
object SnapshotQueries {

  /** Rewrite window: the 1995 backfill. */
  private val WinLo = "1995-01-01"
  private val WinHi = "1996-01-01"

  private def orders(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")

  /** md5 byte in [0,255] of the order key — the deterministic mutation
    * selector, same idiom as [[graft.operators.Sampling.stratified]]. */
  private val hb: Column =
    expr("cast(conv(substring(md5(cast(o_orderkey as string)), 1, 2), 16, 10) as int)")

  private val inWin: Column =
    col("o_orderdate") >= to_timestamp(lit(WinLo)) &&
      col("o_orderdate") < to_timestamp(lit(WinHi))

  /** Baseline snapshot: orders as-is, plus the derived partition key. */
  def baseSnapshot(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).withColumn("part", date_format(col("o_orderdate"), "yyyy-MM"))

  /** Current snapshot: the 1995 slice rewritten as documented above. */
  def curSnapshot(s: SparkSession, dir: String): DataFrame = {
    val b = baseSnapshot(s, dir)
    val kept = b.filter(!(inWin && hb < 40))
    val edited = kept
      .withColumn("o_totalprice",
        when(inWin && hb >= 40 && hb < 120, round(col("o_totalprice") + lit(10.0), 2))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(inWin && hb >= 40 && hb < 120, lit("9-RECLASS"))
          .otherwise(col("o_orderpriority")))
    val added = b.filter(inWin && hb >= 216)
      .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
      .withColumn("o_orderstatus", lit("N"))
    edited.unionByName(added)
  }

  /** Canonical content string of the compared columns — engine-agnostic. */
  private val canon: Column = concat_ws("|",
    col("o_orderkey").cast("string"),
    col("o_custkey").cast("string"),
    col("o_orderstatus"),
    expr("cast(round(o_totalprice * 100, 0) as bigint)").cast("string"),
    date_format(col("o_orderdate"), "yyyy-MM-dd"),
    col("o_orderpriority"))

  /** 48-bit and 32-bit integer views of a row-content md5 — generic over
    * the canonical content column, so any table (orders here, the image
    * facts table in ImageSuiteQueries) fingerprints the same way. */
  def withHashesOf(d: DataFrame, canonCol: Column): DataFrame =
    d.withColumn("_hx", md5(canonCol))
      .withColumn("h48", expr("cast(conv(substring(_hx, 1, 12), 16, 10) as bigint)"))
      .withColumn("h32", expr("cast(conv(substring(_hx, 13, 8), 16, 10) as bigint)"))
      .drop("_hx")

  private def withHashes(d: DataFrame): DataFrame = withHashesOf(d, canon)

  /** Generic per-partition fingerprint of any table carrying a `part`
    * column: the reusable core behind [[partitionFingerprints]]. */
  def fingerprintsOf(df: DataFrame, canonCol: Column): DataFrame =
    withHashesOf(df, canonCol).groupBy(col("part"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h48)").as("fp_xor"),
        sum(col("h32")).as("fp_sum"))

  /** Level 1: per-partition (count, xor, sum) fingerprint. One narrow
    * groupBy — partial-aggregates map-side, output is partition-count-
    * sized. This is the frame you'd persist as the snapshot's "manifest
    * digest" next to Iceberg's own stats. */
  def partitionFingerprints(snap: DataFrame): DataFrame =
    fingerprintsOf(snap, canon)

  /** Merge fingerprint PARTIALS (e.g. one per streamed micro-batch or per
    * appended file) into the same rows [[partitionFingerprints]] computes
    * directly: all three components are associative and commutative
    * (sum-of-counts, xor-of-xors, sum-of-sums), so the baseline
    * fingerprint table can be maintained incrementally on append — no
    * rescan — exactly like an Iceberg manifest. Spec-proven equal to the
    * direct computation over partials streamed through
    * [[graft.streaming.PartialFold]] (StreamingSnapshotSpec). */
  def mergeFingerprints(partials: DataFrame): DataFrame =
    partials.groupBy(col("part"))
      .agg(sum(col("n_rows")).as("n_rows"),
        expr("bit_xor(fp_xor)").as("fp_xor"),
        sum(col("fp_sum")).as("fp_sum"))

  /** Level 2: fingerprint join → per-partition status. Runs on two
    * partition-count-sized frames; cost is nil at any table size. */
  def dirtyPartitions(baseFp: DataFrame, curFp: DataFrame): DataFrame = {
    val b = baseFp.select(col("part"), col("n_rows").as("base_rows"),
      col("fp_xor").as("bx"), col("fp_sum").as("bs"))
    val c = curFp.select(col("part"), col("n_rows").as("cur_rows"),
      col("fp_xor").as("cx"), col("fp_sum").as("cs"))
    b.join(c, Seq("part"), "full_outer")
      .withColumn("status",
        when(col("cur_rows").isNull, lit("part_removed"))
          .when(col("base_rows").isNull, lit("part_added"))
          .when(col("base_rows") === col("cur_rows") &&
            col("bx") === col("cx") && col("bs") === col("cs"), lit("clean"))
          .otherwise(lit("dirty")))
      .select(col("part"), col("status"),
        coalesce(col("base_rows"), lit(0L)).as("base_rows"),
        coalesce(col("cur_rows"), lit(0L)).as("cur_rows"))
  }

  /** Level 3: row-level diff via full outer join on the record key.
    * `added` = key only in current; `removed` = only in baseline;
    * `changed` = both sides, content hash differs. The join shuffles on
    * the key — at 10^12 rows you run it ONLY behind the dirty-partition
    * prune ([[prunedDiffCounts]]); the unpruned version exists as the
    * correctness anchor. */
  def rowDiff(base: DataFrame, cur: DataFrame): DataFrame = {
    val b = withHashes(base).select(col("o_orderkey").as("k"),
      col("h48").as("bh"), col("part").as("b_part"))
    val c = withHashes(cur).select(col("o_orderkey").as("k"),
      col("h48").as("ch"), col("part").as("c_part"))
    b.join(c, Seq("k"), "full_outer")
      .withColumn("status",
        when(col("ch").isNull, lit("removed"))
          .when(col("bh").isNull, lit("added"))
          .when(col("bh") =!= col("ch"), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  /** q_snap_dirty_parts: every partition's fingerprint verdict. The spec
    * and the oracle both pin that ONLY 1995 months are dirty. */
  def dirtyPartsQuery(s: SparkSession, dir: String): DataFrame =
    dirtyPartitions(
      partitionFingerprints(baseSnapshot(s, dir)),
      partitionFingerprints(curSnapshot(s, dir)))
      .orderBy("part")

  /** q_snap_diff: row-diff class counts over the FULL key join. */
  def diffCountsQuery(s: SparkSession, dir: String): DataFrame =
    rowDiff(baseSnapshot(s, dir), curSnapshot(s, dir))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")

  /** q_snap_diff_pruned: the production plan — row-diff restricted to
    * partitions the fingerprints flagged dirty. The dirty set is
    * partition-count-sized, so it BROADCASTS and both scans prune before
    * the key shuffle (on Iceberg the same predicate prunes at the
    * manifest, reading no clean file). Emits added/removed/changed only
    * (clean partitions contribute nothing to those classes — the Merkle
    * guarantee — which the spec re-proves against [[diffCountsQuery]]).
    */
  def prunedDiffCounts(s: SparkSession, dir: String): DataFrame = {
    val base = baseSnapshot(s, dir)
    val cur = curSnapshot(s, dir)
    val dirty = dirtyPartitions(
      partitionFingerprints(base), partitionFingerprints(cur))
      .filter(col("status") =!= "clean").select("part")
      // The dirty set feeds BOTH semi-joins below; without pinning, each
      // consumer re-runs the fingerprint subtree = two extra full scans of
      // each snapshot. It is partition-count-sized, so materialize once.
      .localCheckpoint()
    val pb = base.join(broadcast(dirty), Seq("part"), "left_semi")
    val pc = cur.join(broadcast(dirty), Seq("part"), "left_semi")
    rowDiff(pb, pc)
      .filter(col("status") =!= "unchanged")
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  /** q_snap_changed_cols: among changed rows, which columns changed —
    * the attribution a backfill audit actually reads. Null-safe per-column
    * compare on the joined pair; conditional sums, one row out. */
  def changedColsQuery(s: SparkSession, dir: String): DataFrame = {
    val bCols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    val b = baseSnapshot(s, dir)
      .select(col("o_orderkey").as("k") +: bCols.map(n => col(n).as(s"b_$n")): _*)
    val c = curSnapshot(s, dir)
      .select(col("o_orderkey").as("k") +: bCols.map(n => col(n).as(s"c_$n")): _*)
    val j = b.join(c, Seq("k"), "inner")
    val sums = bCols.map { n =>
      sum(when(not(col(s"b_$n") <=> col(s"c_$n")), 1L).otherwise(0L)).as(s"n_$n")
    }
    j.agg(sums.head, sums.tail: _*)
  }

  /** Revalidation planner — the glue between reconciliation and the
    * validation engine's resume path: given the checkpoint's DONE
    * partitions (ImageSuite's key-index semantics) and the fingerprint
    * verdicts vs the new snapshot, decide per partition what the next
    * validation run does:
    *
    *   - `skip`        clean AND already validated (the resume fast path)
    *   - `validate`    never validated (clean-but-new-to-the-checkpoint,
    *                   or a brand-new partition)
    *   - `revalidate`  content changed under a validated partition — the
    *                   case plain resume GETS WRONG (it would skip stale
    *                   verdicts); the fingerprints are what make staleness
    *                   detectable without a rescan
    *   - `retire`      partition disappeared; its verdicts/violations
    *                   should be tombstoned
    *
    * Runs entirely on partition-count-sized frames (fingerprint verdicts
    * × done set) — the plan costs nothing at any table size, exactly like
    * the decision it feeds. */
  def revalidationPlan(verdicts: DataFrame, doneParts: DataFrame): DataFrame = {
    val done = doneParts.select(col("part")).distinct()
      .withColumn("is_done", lit(true))
    verdicts.join(done, Seq("part"), "left_outer")
      .withColumn("action",
        when(col("status") === "part_removed", lit("retire"))
          .when(col("status") === "dirty", lit("revalidate"))
          .when(col("status") === "part_added", lit("validate"))
          .when(col("is_done").isNotNull, lit("skip"))
          .otherwise(lit("validate")))
      .select(col("part"), col("status"), col("action"))
  }

  /** q_snap_reval_plan: the planner over a deterministic done set (months
    * before 1996-07 — a checkpoint that stopped mid-1996, covering the
    * whole rewritten 1995 range plus six clean months, so the plan
    * exercises all four actions against the 1995 rewrite). */
  def revalPlanQuery(s: SparkSession, dir: String): DataFrame = {
    val verdicts = dirtyPartitions(
      partitionFingerprints(baseSnapshot(s, dir)),
      partitionFingerprints(curSnapshot(s, dir)))
    val done = verdicts.filter(col("part") < "1996-07").select("part")
    revalidationPlan(verdicts, done).orderBy("part")
  }

  /** Schema diff — metadata only, no scan: added / removed / type-changed
    * columns between two snapshot schemas. The "schema" half of the north
    * rule's "schema + constraint validation", applied across snapshots
    * (Iceberg schema evolution audit). Spec-only: there is nothing for
    * DuckDB to recompute — the input IS the two schemas. */
  def schemaDiff(s: SparkSession, base: org.apache.spark.sql.types.StructType,
                 cur: org.apache.spark.sql.types.StructType): DataFrame = {
    import s.implicits._
    val bm = base.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val cm = cur.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val rows = (bm.keySet ++ cm.keySet).toSeq.sorted.flatMap { n =>
      (bm.get(n), cm.get(n)) match {
        case (Some(t), None)              => Some((n, "removed", t, null: String))
        case (None, Some(t))              => Some((n, "added", null: String, t))
        case (Some(a), Some(b)) if a != b => Some((n, "type_changed", a, b))
        case _                            => None
      }
    }
    rows.toDF("column", "status", "base_type", "cur_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_snap_dirty_parts" -> ((s, dir) => dirtyPartsQuery(s, dir)),
    "q_snap_diff" -> ((s, dir) => diffCountsQuery(s, dir)),
    "q_snap_diff_pruned" -> ((s, dir) => prunedDiffCounts(s, dir)),
    "q_snap_changed_cols" -> ((s, dir) => changedColsQuery(s, dir)),
    "q_snap_reval_plan" -> ((s, dir) => revalPlanQuery(s, dir))
  )

  /** DuckDB replay of the snapshot synthesis + both fingerprint levels. */
  private val SnapCte: String =
    s"""base AS (
         SELECT o.*, strftime(o_orderdate, '%Y-%m') AS part,
                CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)) AS INT) AS hb,
                (o_orderdate >= TIMESTAMP '$WinLo' AND o_orderdate < TIMESTAMP '$WinHi') AS inwin
         FROM orders o),
       cur AS (
         SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN inwin AND hb >= 40 AND hb < 120
                     THEN round(o_totalprice + 10.0, 2) ELSE o_totalprice END AS o_totalprice,
                o_orderdate,
                CASE WHEN inwin AND hb >= 40 AND hb < 120
                     THEN '9-RECLASS' ELSE o_orderpriority END AS o_orderpriority,
                part
         FROM base WHERE NOT (inwin AND hb < 40)
         UNION ALL
         SELECT o_orderkey + 900000000, o_custkey, 'N', o_totalprice,
                o_orderdate, o_orderpriority, part
         FROM base WHERE inwin AND hb >= 216),
       bh AS (
         SELECT part, o_orderkey AS k,
                md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                    o_orderstatus, CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR),
                    strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)) AS hx
         FROM base),
       ch AS (
         SELECT part, o_orderkey AS k,
                md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                    o_orderstatus, CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR),
                    strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)) AS hx
         FROM cur),
       bhh AS (SELECT part, k,
                 CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) AS h48,
                 CAST(('0x' || substr(hx, 13, 8)) AS BIGINT) AS h32 FROM bh),
       chh AS (SELECT part, k,
                 CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) AS h48,
                 CAST(('0x' || substr(hx, 13, 8)) AS BIGINT) AS h32 FROM ch),
       bfp AS (SELECT part, count(*) AS base_rows, bit_xor(h48) AS bx,
                 CAST(sum(h32) AS BIGINT) AS bs FROM bhh GROUP BY 1),
       cfp AS (SELECT part, count(*) AS cur_rows, bit_xor(h48) AS cx,
                 CAST(sum(h32) AS BIGINT) AS cs FROM chh GROUP BY 1)"""

  def oracleSql: Map[String, String] = Map(
    "q_snap_dirty_parts" ->
      s"""WITH $SnapCte
          SELECT COALESCE(b.part, c.part) AS part,
            CASE WHEN c.part IS NULL THEN 'part_removed'
                 WHEN b.part IS NULL THEN 'part_added'
                 WHEN b.base_rows = c.cur_rows AND b.bx = c.cx AND b.bs = c.cs
                   THEN 'clean' ELSE 'dirty' END AS status,
            COALESCE(b.base_rows, 0) AS base_rows,
            COALESCE(c.cur_rows, 0) AS cur_rows
          FROM bfp b FULL OUTER JOIN cfp c ON b.part = c.part
          ORDER BY 1""",
    "q_snap_diff" ->
      s"""WITH $SnapCte
          SELECT CASE WHEN c.k IS NULL THEN 'removed'
                      WHEN b.k IS NULL THEN 'added'
                      WHEN b.h48 <> c.h48 THEN 'changed'
                      ELSE 'unchanged' END AS status,
                 count(*) AS n
          FROM bhh b FULL OUTER JOIN chh c ON b.k = c.k
          GROUP BY 1 ORDER BY 1""",
    "q_snap_diff_pruned" ->
      s"""WITH $SnapCte,
            dirty AS (
              SELECT COALESCE(b.part, c.part) AS part
              FROM bfp b FULL OUTER JOIN cfp c ON b.part = c.part
              WHERE b.part IS NULL OR c.part IS NULL
                 OR NOT (b.base_rows = c.cur_rows AND b.bx = c.cx AND b.bs = c.cs)),
            pb AS (SELECT * FROM bhh WHERE part IN (SELECT part FROM dirty)),
            pc AS (SELECT * FROM chh WHERE part IN (SELECT part FROM dirty))
          SELECT CASE WHEN c.k IS NULL THEN 'removed'
                      WHEN b.k IS NULL THEN 'added'
                      ELSE 'changed' END AS status,
                 count(*) AS n
          FROM pb b FULL OUTER JOIN pc c ON b.k = c.k
          WHERE b.k IS NULL OR c.k IS NULL OR b.h48 <> c.h48
          GROUP BY 1 ORDER BY 1""",
    "q_snap_reval_plan" ->
      s"""WITH $SnapCte,
            verdicts AS (
              SELECT COALESCE(b.part, c.part) AS part,
                CASE WHEN c.part IS NULL THEN 'part_removed'
                     WHEN b.part IS NULL THEN 'part_added'
                     WHEN b.base_rows = c.cur_rows AND b.bx = c.cx AND b.bs = c.cs
                       THEN 'clean' ELSE 'dirty' END AS status
              FROM bfp b FULL OUTER JOIN cfp c ON b.part = c.part)
          SELECT part, status,
            CASE WHEN status = 'part_removed' THEN 'retire'
                 WHEN status = 'dirty' THEN 'revalidate'
                 WHEN status = 'part_added' THEN 'validate'
                 WHEN part < '1996-07' THEN 'skip'
                 ELSE 'validate' END AS action
          FROM verdicts ORDER BY part""",
    "q_snap_changed_cols" ->
      s"""WITH $SnapCte
          SELECT
            CAST(sum(CASE WHEN b.o_custkey IS DISTINCT FROM c.o_custkey THEN 1 ELSE 0 END) AS BIGINT) AS n_o_custkey,
            CAST(sum(CASE WHEN b.o_orderstatus IS DISTINCT FROM c.o_orderstatus THEN 1 ELSE 0 END) AS BIGINT) AS n_o_orderstatus,
            CAST(sum(CASE WHEN b.o_totalprice IS DISTINCT FROM c.o_totalprice THEN 1 ELSE 0 END) AS BIGINT) AS n_o_totalprice,
            CAST(sum(CASE WHEN b.o_orderpriority IS DISTINCT FROM c.o_orderpriority THEN 1 ELSE 0 END) AS BIGINT) AS n_o_orderpriority
          FROM base b JOIN cur c ON b.o_orderkey = c.o_orderkey"""
  )
}
