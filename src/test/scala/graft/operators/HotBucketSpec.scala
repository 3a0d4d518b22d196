package graft.operators

import graft.{DedupQueries, SparkTestBase}
import org.apache.spark.sql.functions._

/** Manku level-2 within-bucket pairing under a pathologically hot bucket
  * (the scale-killer shape VERDICT r3 flagged): a corpus where a large
  * fraction of docs share one band key must produce O(bucket · runWidth)
  * candidates, not O(bucket²) — while keeping identical-signature clusters
  * connected (so keep-one-per-component dedup still recovers them) and
  * degrading to EXACTLY level-1 semantics wherever a bucket has at most
  * runWidth + 1 rows (each row pairs with its next runWidth neighbours,
  * so such a bucket pairs fully).
  */
class HotBucketSpec extends SparkTestBase {

  private val HotN = 200 // docs sharing ONE signature → one bucket per band
  private val ColdN = 400
  private val RunWidth = 8

  // deterministic synthetic signatures: docs 0..HotN-1 all-zero (every
  // band key collides); docs HotN..HotN+ColdN-1 pseudo-random distinct
  private lazy val corpus = {
    import spark.implicits._
    val hot = (0L until HotN).map(i => (i, 0L, 0L))
    val cold = (HotN.toLong until (HotN + ColdN)).map { i =>
      val lo = (i * 2654435761L) & 0xFFFFFFFFL
      val hi = ((i * 0x9E3779B97F4A7C15L) >>> 17) & 0xFFFFFFFFL
      (i, lo, hi)
    }
    (hot ++ cold).toDF("doc_id", "simhash_lo", "simhash_hi")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val l1: Set[(Long, Long)] =
    pairSet(DedupQueries.bandedSimhashPairs(corpus, blocks = 4, maxHamming = 64))
  lazy val l2: Set[(Long, Long)] =
    pairSet(DedupQueries.bandedSimhashPairsL2(corpus, blocks = 4, maxHamming = 64,
      runWidth = RunWidth))

  test("hot bucket candidates are O(bucket * runWidth), not O(bucket^2)") {
    // level-1 pays the quadratic hot cluster: C(HotN, 2) pairs
    assert(l1.size >= HotN * (HotN - 1) / 2,
      s"level-1 should contain the quadratic hot cluster, got ${l1.size}")
    // level-2 is linear in the bucket: each member pairs with at most
    // runWidth successors per band (bands of an identical-signature
    // cluster emit the SAME canonical pairs, so no ×blocks blowup either)
    val bound = (HotN + ColdN).toLong * RunWidth * 4
    assert(l2.size <= bound, s"level-2 emitted ${l2.size} > bound $bound")
    assert(l2.size.toLong * 5 < l1.size,
      s"level-2 (${l2.size}) should prune the quadratic set (${l1.size})")
  }

  test("identical-signature cluster stays connected through the sorted run") {
    import spark.implicits._
    val hotPairs = l2.filter { case (a, b) => a < HotN && b < HotN }
    val comps = DedupQueries.connectedComponents(
      hotPairs.toSeq.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.keySet == (0L until HotN).toSet,
      "every hot doc must appear in the pair graph")
    assert(comps.values.toSet == Set(0L),
      s"hot cluster must be ONE component rooted at 0, got roots ${comps.values.toSet}")
  }

  test("level-2 equals level-1 wherever buckets are small") {
    // cold docs: pseudo-random signatures → every bucket far below
    // RunWidth + 1 rows, so the hot-run restriction must never fire there
    val l1Cold = l1.filter { case (a, b) => a >= HotN && b >= HotN }
    val l2Cold = l2.filter { case (a, b) => a >= HotN && b >= HotN }
    assert(l1Cold == l2Cold, "cold-corpus pairs must be identical across levels")
    // and on a real corpus with a run as wide as the hottest bucket,
    // every bucket pairs fully: the two functions are outright equal
    // (same pairs AND hammings)
    val sh = DedupQueries.queries("q_dedup_simhash64_expr")(spark, "/root/testdata/sf0.001")
    val hottest = DedupQueries.bands(sh.select("doc_id", "simhash_lo", "simhash_hi"),
        shiftleft(col("simhash_hi"), 32).bitwiseOR(col("simhash_lo")), 4)
      .groupBy("band", "key").count().agg(max("count")).head().getLong(0)
    def full(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Int]("hamming"))).toSet
    val a = full(DedupQueries.bandedSimhashPairs(sh, 4, 16))
    val b = full(DedupQueries.bandedSimhashPairsL2(sh, 4, 16,
      runWidth = math.max(1, hottest.toInt - 1)))
    assert(a == b, "L2 with a run spanning every bucket must equal level-1")
  }

  test("level-2 output is a subset of level-1 with true hamming distances") {
    assert((l2 -- l1).isEmpty, "level-2 must never fabricate pairs")
  }
}
