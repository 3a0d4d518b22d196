package graft.streaming

import graft.{DedupQueries, SparkTestBase, Tables}
import graft.streaming.StreamingNearDup.DupPair
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, shiftleft}
import org.apache.spark.sql.streaming.OutputMode

/** The streaming near-dup operator must reproduce the batch banded-
  * SimHash pairing exactly — across micro-batch boundaries, with no
  * cross-band duplicate emissions — and keep per-bucket state bounded.
  */
class StreamingNearDupSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def batchPairs: Set[(Long, Long, Int)] =
    DedupQueries.bandedSimhashPairs(
        DedupQueries.simhash64Signatures(spark, dir), blocks = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("streamed pairs across two micro-batches equal the batch operator, exactly once") {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val (b1, b2) = docs.partition(_._1 % 2 == 0) // near-dup pairs straddle batches
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup.nearDupStream(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val rows = spark.table("neardup_sink")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val want = batchPairs
      assert(want.nonEmpty, "fixture corpus must contain near-dup pairs")
      assert(rows.length == rows.toSet.size,
        "a pair was emitted more than once (min-band rule violated)")
      assert(rows.toSet == want)
    } finally q.stop()
  }

  test("band keys are bit-compatible with the batch explode") {
    import spark.implicits._
    val sigs = DedupQueries.simhash64Signatures(spark, dir)
      .limit(50).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // batch-side: the keys the batch rungs' own band explode emits
    val batchKeys = DedupQueries.bands(sigs.toSeq.toDF("doc_id", "simhash_lo", "simhash_hi"),
        shiftleft(col("simhash_hi"), 32).bitwiseOR(col("simhash_lo")), 4)
      .collect().groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.sortBy(_.getAs[Int]("band")).map(_.getAs[Long]("key")).toSeq }
    sigs.foreach { case (id, lo, hi) =>
      val scalaKeys = (0 until 4).map(j => StreamingNearDup.bandKey(lo, hi, j, 4))
      assert(scalaKeys == batchKeys(id), s"doc $id")
    }
  }

  test("per-bucket state is capped: a hot bucket stops growing and keeps first arrivals") {
    import spark.implicits._
    // 10 identical docs -> all 4 bands share one bucket; cap 3 means doc
    // pairs only form against the first 3 arrivals per bucket.
    val docs = (1L to 10L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup.nearDupStream(
        input.toDF().toDF("doc_id", "text"), maxBucket = 3)
      .writeStream.format("memory").queryName("neardup_cap_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs: _*); q.processAllAvailable()
      val pairs = spark.table("neardup_cap_sink")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // held docs are {1,2,3}: pairs (1,2),(1,3),(2,3) and (h, later) for
      // h in held, later in 4..10 — 3 + 3*7 = 24, and nothing pairs two
      // beyond-cap docs.
      assert(pairs.size == 24)
      assert(pairs.forall { case (a, _) => a <= 3 })
    } finally q.stop()
  }
}
