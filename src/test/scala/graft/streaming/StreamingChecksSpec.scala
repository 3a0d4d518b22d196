package graft.streaming

import graft.{SparkTestBase, Tables}
import graft.validation.{CheckSuite, Complete, InRange, MeanBetween, MetricAnomaly, Satisfies, SizeBetween}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Constraint-suite counters streamed through [[PartialFold]] must
  * finalize to EXACTLY the batch verdicts over the union of the
  * micro-batches, and the counter store must be overwrite-idempotent
  * under foreachBatch redelivery. */
class StreamingChecksSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private val suite = CheckSuite(Seq(
    Complete("l_shipdate", 1.0),
    InRange("l_quantity", 1.0, 45.0, 1.0),
    MeanBetween("l_extendedprice", 0.0, 100000.0),
    SizeBetween(1L, 10000000L),
    Satisfies("low_discount", "l_discount <= 0.08", 0.9)))

  test("streamed verdicts across three micro-batches equal the batch run") {
    import spark.implicits._
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
    val rows = li.as[(Long, Double, Double, Double, java.sql.Timestamp)].collect()
    val batches = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val tmp = tempDir("stream_checks")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, Double, Double, java.sql.Timestamp)]
    val q = PartialFold.stream(
      input.toDF().toDF("l_orderkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate"),
      s"$tmp/partials", s"$tmp/ckpt")(suite.partials)
    try {
      batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
      val got = suite.finalizeFrom(PartialFold.stored(spark, s"$tmp/partials"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
      val want = suite.run(li).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
      assert(got.toSeq == want.toSeq)
      assert(spark.read.parquet(s"$tmp/partials").count() == batches.size,
        "one counter row per micro-batch")
      // mid-stream anomaly detection: verdicts-to-date vs a degraded
      // baseline (quantity ceiling 50 → metric differs) must equal the
      // batch MetricAnomaly output on the same two frames
      val base = CheckSuite(Seq(Complete("l_shipdate", 1.0),
        InRange("l_quantity", 1.0, 50.0, 1.0),
        MeanBetween("l_extendedprice", 0.0, 100000.0),
        SizeBetween(1L, 10000000L),
        Satisfies("low_discount", "l_discount <= 0.08", 0.9))).run(li)
      val streamed = MetricAnomaly.vs(
        suite.finalizeFrom(PartialFold.stored(spark, s"$tmp/partials")),
        base, maxAbsDelta = 0.001, maxRelDelta = 0.0).collect()
      val batchTwin = MetricAnomaly.vs(suite.run(li), base,
        maxAbsDelta = 0.001, maxRelDelta = 0.0).collect()
      assert(streamed.toSeq == batchTwin.toSeq)
      assert(streamed.exists(r => r.getString(0) == "range_l_quantity" &&
        r.getBoolean(4)), "the widened-ceiling metric move must flag")
    } finally q.stop()
  }

  test("redelivered batch overwrites its own partition — counters never double") {
    import spark.implicits._
    val tmp = tempDir("stream_checks_redo")
    val s2 = CheckSuite(Seq(InRange("v", 0.0, 10.0, 1.0), SizeBetween(1L, 100L)))
    val batch = Seq(1.0, 2.0, 20.0).toDF("v")
    def writeOnce(): Unit = PartialFold.write(s2.partials(batch), s"$tmp/partials", 0L)
    writeOnce(); writeOnce() // simulated at-least-once redelivery
    val got = s2.finalizeFrom(PartialFold.stored(spark, s"$tmp/partials"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got("size") == 3.0, s"redelivery doubled the counters: $got")
    assert(got("range_v") == BigDecimal(2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
