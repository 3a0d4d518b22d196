package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank (Brin & Page, "The anatomy of a large-scale
  * hypertextual Web search engine", WWW 1998) — LINK ANALYSIS beside the
  * connected-components family: CC answers "which records form one
  * entity", PageRank answers "which entities matter", the score a
  * curation pipeline uses to weight sources by citation authority.
  * Reference analogue: crawl-first's study↔publication cross-reference
  * graph (`/root/reference/src/crawl_first/analysis.py:1207-1210`) —
  * ranking studies by incoming reference mass.
  *
  * The graph derives deterministically from orders: each order is a
  * "citation" from its customer to an md5-derived target customer —
  * every edge a pure function of the row, so both engines build the
  * identical multigraph (the same discipline as the linkage corpus).
  *
  * Power iteration, K = 5 fixed rounds, d = 0.85, dangling mass
  * redistributed uniformly:
  *
  *   r_{k+1}(v) = (1-d)/N + d·( Σ_{u→v} r_k(u)·w(u,v) + D_k/N )
  *
  * with w(u,v) = multiplicity/out-degree and D_k = Σ over dangling
  * nodes of r_k.
  *
  * Determinism contract (the EM/correlation discipline): per-edge
  * contributions are pure row-local double math; the per-node and
  * dangling SUMS cast every addend to DECIMAL(38,10) first (exact,
  * order-free); scalars divide as IEEE doubles. The DuckDB twin unrolls
  * the K rounds as CTEs over the same literals.
  *
  * Scale shape (10^12 edges): each round is ONE equi-join of edges with
  * the rank frame (shuffle on src), ONE groupBy dst, and a broadcast of
  * two scalars — the canonical distributed-PageRank plan; lineage is
  * truncated per round with `localCheckpoint` exactly like the CC
  * fixpoint. Edge weights are pre-aggregated once (multiplicity /
  * out-degree), so the per-round join carries one row per distinct
  * edge, not per citation.
  */
object GraphRank {

  val Damping = 0.85
  val Rounds = 5

  /** Derived edge: order o cites customer md5(o_orderkey) % (maxKey+1).
    * Spark spells the hex parse `conv(...)`, DuckDB `'0x' || ...` — the
    * same 24-bit integer (the Sampling/Curation split). */
  def dstSql(maxKeyPlus1: Long): String =
    s"CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 6), 16, 10) AS BIGINT) % $maxKeyPlus1"
  def duckDstSql: String =
    s"CAST(('0x' || substr(md5(CAST(o_orderkey AS STRING)), 1, 6)) AS BIGINT)"

  /** Per-round rank table as (id, rank). Output after K rounds, rounded
    * 6, ordered by id. Also emits in/out degree for audit. */
  def pagerank(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val dec = "decimal(38,10)"
    // node universe: all customers — ONE action for both scalars instead
    // of a max() job and a count() job
    val head = customer
      .agg(max(col("c_custkey")).as("mk"), count(lit(1L)).as("n")).head()
    val maxKeyPlus1 = head.getLong(0) + 1L
    val n = head.getLong(1)
    val nodes = customer.select(col("c_custkey").as("id"))

    val edgesRaw = orders.select(col("o_custkey").as("src"),
      expr(dstSql(maxKeyPlus1)).as("dst"))
    // one-time weight pre-aggregation: multiplicity / out-degree
    val outDeg = edgesRaw.groupBy("src")
      .agg(count(lit(1L)).as("deg"))
    val edges = edgesRaw.groupBy("src", "dst")
      .agg(count(lit(1L)).as("mult"))
      .join(outDeg, "src")
      .withColumn("w", col("mult").cast("double") / col("deg").cast("double"))
      .select("src", "dst", "w")
      .localCheckpoint() // fixed for all rounds; truncate the derivation

    val base = (1.0 - Damping) / n.toDouble
    // dangling membership is FIXED (nodes with no out-edges): resolve it
    // ONCE into a boolean on the rank frame, so each round reads the
    // per-round mass with a filter+sum scan of the checkpointed ranks
    // instead of replaying a ranks⋈outDeg anti-join
    var ranks = nodes
      .join(outDeg.select(col("src").as("id"), lit(true).as("_has_out")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("_has_out"), lit(false)).as("has_out"),
        lit(1.0 / n.toDouble).as("rank"))
      .localCheckpoint()
    for (_ <- 1 to Rounds) {
      // dangling mass: nodes with no out-edges (decimal-exact sum —
      // same addend set as the previous anti-join shape, order-free).
      // Attached as a broadcast 1-row frame instead of a per-round
      // `.head()`: the round then costs ONE driver action (the
      // checkpoint) instead of a blocking collect + a checkpoint —
      // decimal→double cast and the /n division are the same IEEE ops
      // the driver performed.
      val dangling = ranks.filter(!col("has_out"))
        .agg(coalesce(sum(expr(s"CAST(rank AS $dec)")),
          expr(s"CAST(0.0 AS $dec)")).as("dm"))
      // the rank and contrib frames grow with the node count: no
      // broadcast hint, the planner and AQE pick the join from their
      // measured size
      val contrib = edges
        .join(ranks.select(col("id"), col("rank")), edges("src") === col("id"))
        .select(col("dst"), (col("rank") * col("w")).as("c"))
        .groupBy("dst")
        .agg(sum(expr(s"CAST(c AS $dec)")).as("in_mass"))
      ranks = ranks.select(col("id"), col("has_out"))
        .join(contrib, col("id") === contrib("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"), col("has_out"),
          (lit(base) + lit(Damping) *
            (coalesce(col("in_mass").cast("double"), lit(0.0)) +
              col("dm").cast("double") / lit(n.toDouble))).as("rank"))
        .localCheckpoint()
    }
    val inDeg = edgesRaw.groupBy(col("dst").as("id"))
      .agg(count(lit(1L)).as("in_deg"))
    ranks
      .join(outDeg.select(col("src").as("id"), col("deg").as("out_deg")),
        Seq("id"), "left")
      .join(inDeg, Seq("id"), "left")
      .select(col("id"), round(col("rank"), 6).as("rank"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy("id")
  }

  /** DuckDB twin: the K rounds unrolled as CTEs — same edges, same
    * decimal-sum discipline, same scalar doubles. */
  def duckPagerankSql: String = {
    val dec = "DECIMAL(38,10)"
    val d = Damping
    val rounds = (1 to Rounds).map { k =>
      val prev = s"r${k - 1}"
      s"""dang$k AS (SELECT coalesce(CAST(sum(CAST(rank AS $dec)) AS DOUBLE), 0.0) AS dm
           FROM $prev WHERE id NOT IN (SELECT src FROM outdeg)),
       m$k AS (SELECT e.dst,
             CAST(sum(CAST(p.rank * e.w AS $dec)) AS DOUBLE) AS in_mass
           FROM edges e JOIN $prev p ON p.id = e.src
           GROUP BY e.dst),
       r$k AS (SELECT n.id,
             (SELECT base FROM consts) + CAST($d AS DOUBLE) *
               (coalesce(m$k.in_mass, CAST(0.0 AS DOUBLE)) +
                (SELECT dm FROM dang$k) / (SELECT n FROM consts)) AS rank
           FROM nodes n LEFT JOIN m$k ON m$k.dst = n.id)"""
    }.mkString(",\n       ")
    s"""WITH nodes AS (SELECT c_custkey AS id FROM customer),
       consts AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           -- every operand pinned to DOUBLE: DuckDB's decimal literals
           -- would otherwise compute (1.0 - 0.85) exactly where IEEE
           -- gives 0.15000000000000002, and the whole trajectory forks
           (CAST(1.0 AS DOUBLE) - CAST($d AS DOUBLE))
             / CAST(count(*) AS DOUBLE) AS base,
           max(c_custkey) + 1 AS mk FROM customer),
       eraw AS (SELECT o_custkey AS src,
           $duckDstSql % (SELECT mk FROM consts) AS dst
         FROM orders),
       outdeg AS (SELECT src, count(*) AS deg FROM eraw GROUP BY src),
       edges AS (SELECT e.src, e.dst,
           CAST(count(*) AS DOUBLE) / CAST(any_value(o.deg) AS DOUBLE) AS w
         FROM eraw e JOIN outdeg o ON o.src = e.src
         GROUP BY e.src, e.dst),
       indeg AS (SELECT dst AS id, count(*) AS in_deg FROM eraw GROUP BY dst),
       r0 AS (SELECT id,
           CAST(1.0 AS DOUBLE) / (SELECT n FROM consts) AS rank
         FROM nodes),
       $rounds
       SELECT r.id, round(r.rank, 6) AS rank,
         coalesce(o.deg, 0) AS out_deg,
         coalesce(i.in_deg, 0) AS in_deg
       FROM r$Rounds r
       LEFT JOIN outdeg o ON o.src = r.id
       LEFT JOIN indeg i ON i.id = r.id
       ORDER BY r.id"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_graph_pagerank" -> duckPagerankSql)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Fixed-iteration PageRank over the derived citation multigraph:
    // one edges⋈ranks equi-join + one groupBy per round, decimal-exact
    // contribution sums, localCheckpoint lineage truncation (CC shape).
    "q_graph_pagerank" -> ((s, dir) =>
      pagerank(Tables(s, dir, "orders"), Tables(s, dir, "customer"))))
}
