package graft.streaming

import graft.SparkTestBase
import graft.validation.Intervals
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Interval partials streamed through [[PartialFold]] must finish to
  * EXACTLY the batch verdicts over the union of the micro-batches — including a timeline
  * hole that SPANS a micro-batch boundary — stay overwrite-idempotent
  * under redelivery, and DETECT (not silently absorb) a batch that
  * reaches back over the carry. */
class StreamingIntervalsSpec extends SparkTestBase {

  private val tol = 100L

  test("streamed verdicts across three micro-batches equal the batch run") {
    import spark.implicits._
    // key "hole": batch 1 ends at 1000, batch 2 starts at 5000 — the
    // 4000 gap exists only ACROSS the border. key "ov" has a within-
    // batch overlap. key "ok" is back-to-back across the border (gap 0).
    val b1 = Seq(("hole", 0L, 500L, 1L), ("hole", 500L, 1000L, 2L),
      ("ov", 0L, 300L, 1L), ("ov", 200L, 400L, 2L),
      ("ok", 0L, 700L, 1L))
    val b2 = Seq(("hole", 5000L, 5100L, 3L),
      ("ov", 500L, 600L, 3L),
      ("ok", 700L, 900L, 2L))
    val b3 = Seq(("hole", 5100L, 5200L, 4L), ("solo", 0L, 10L, 1L))
    val all = b1 ++ b2 ++ b3

    val tmp = tempDir("stream_iv")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Long)]
    val q = PartialFold.stream(input.toDF().toDF("k", "f", "t", "id"),
      s"$tmp/partials", s"$tmp/ckpt")(Intervals.partials(_, "k", "f", "t", "id", tol))
    try {
      Seq(b1, b2, b3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val got = Intervals.verdicts(PartialFold.stored(spark, s"$tmp/partials"), tol)
        .collect()
      val want = Intervals.validity(all.toDF("k", "f", "t", "id"),
        "k", "f", "t", "id", tol).collect()
      assert(got.toSeq == want.toSeq,
        s"stream/batch divergence:\n${got.toSeq}\n${want.toSeq}")
      val hole = got.find(_.getString(0) == "hole").get
      assert(hole.getAs[Long]("n_gaps") === 1L)
      assert(hole.getAs[Long]("max_gap_us") === 4000L)
      assert(!hole.getAs[Boolean]("pass"))
      // in-contract data: no violations detected
      assert(Intervals.contractViolations(PartialFold.stored(spark, s"$tmp/partials"))
        .count() === 0L)
      // state is partial-sized
      assert(spark.read.parquet(s"$tmp/partials").count() <= 3L * 4L)
    } finally q.stop()
  }

  test("redelivered batch overwrites its own partition — counts never double") {
    import spark.implicits._
    val tmp = tempDir("stream_iv_redo")
    val batch = Seq(("a", 0L, 300L, 1L), ("a", 200L, 400L, 2L))
      .toDF("k", "f", "t", "id")
    def writeOnce(): Unit = PartialFold.write(
      Intervals.partials(batch, "k", "f", "t", "id", tol), s"$tmp/partials", 0L)
    writeOnce(); writeOnce()
    val got = Intervals.verdicts(PartialFold.stored(spark, s"$tmp/partials"), tol)
      .collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("n_intervals") === 2L)
    assert(got.head.getAs[Long]("n_overlaps") === 1L)
  }

  test("a batch reaching back over the carry is DETECTED, not absorbed") {
    import spark.implicits._
    val tmp = tempDir("stream_iv_ooo")
    val b0 = Seq(("k", 0L, 1000L, 1L)).toDF("k", "f", "t", "id")
    val b1 = Seq(("k", 500L, 600L, 2L)).toDF("k", "f", "t", "id") // reaches back
    PartialFold.write(
      Intervals.partials(b0, "k", "f", "t", "id", tol), s"$tmp/partials", 0L)
    PartialFold.write(
      Intervals.partials(b1, "k", "f", "t", "id", tol), s"$tmp/partials", 1L)
    val v = Intervals.contractViolations(PartialFold.stored(spark, s"$tmp/partials"))
      .collect()
    assert(v.length === 1)
    assert(v.head.getAs[String]("key") === "k")
    assert(v.head.getAs[Long]("reachback_us") === 500L)
  }

  test("the carry orders micro-batches by number: batch 10 follows batch 2") {
    import spark.implicits._
    val tmp = tempDir("stream_iv_order")
    // in contract: batch 10 starts where batch 2 ends. Ordered by the
    // string key, b10 would sort first and hand b2 a carry of 200 > 100.
    val b2 = Seq(("k", 100L, 100L, 1L)).toDF("k", "f", "t", "id")
    val b10 = Seq(("k", 100L, 200L, 2L)).toDF("k", "f", "t", "id")
    PartialFold.write(
      Intervals.partials(b2, "k", "f", "t", "id", tol), s"$tmp/partials", 2L)
    PartialFold.write(
      Intervals.partials(b10, "k", "f", "t", "id", tol), s"$tmp/partials", 10L)
    val v = Intervals.contractViolations(PartialFold.stored(spark, s"$tmp/partials"))
      .collect()
    assert(v.isEmpty, s"in-contract batches flagged: ${v.mkString}")
  }
}
