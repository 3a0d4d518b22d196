package graft.streaming

import graft.SparkTestBase
import graft.validation.Timeliness
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Freshness partials streamed through [[PartialFold]] must finish to
  * EXACTLY the batch verdicts over the union of the micro-batches — including a silence gap that
  * SPANS a micro-batch boundary (the case per-batch state alone cannot
  * see), and stay overwrite-idempotent under redelivery. */
class StreamingTimelinessSpec extends SparkTestBase {

  private def ts(day: Int, hour: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-03-$day%02d $hour%02d:00:00")

  private val now = "2024-03-11 00:00:00"

  test("streamed verdicts across three micro-batches equal the batch run") {
    import spark.implicits._
    // gappy's 6-day hole lies BETWEEN batch 1 (days 1-2) and batch 2
    // (days 8-9): only the boundary-gap merge can see it.
    val b1 = Seq(("healthy", ts(1, 12)), ("healthy", ts(2, 12)),
      ("gappy", ts(1, 0)), ("gappy", ts(2, 0)), ("stale", ts(1, 0)))
    val b2 = Seq(("healthy", ts(3, 12)), ("healthy", ts(4, 12)),
      ("gappy", ts(8, 0)), ("gappy", ts(9, 0)), ("stale", ts(2, 0)))
    val b3 = (5 to 10).map(d => ("healthy", ts(d, 12))) :+ ("single", ts(9, 0))
    val all = b1 ++ b2 ++ b3

    val tmp = tempDir("stream_fresh")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val q = PartialFold.stream(input.toDF().toDF("seg", "ts"),
      s"$tmp/partials", s"$tmp/ckpt")(Timeliness.partials(_, "ts", "seg"))
    try {
      Seq(b1, b2, b3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val got = Timeliness.verdicts(PartialFold.stored(spark, s"$tmp/partials"),
        now, maxLagHours = 48.0, maxGapHours = 30.0).collect()
      val want = Timeliness.freshness(all.toDF("seg", "ts"), "ts", "seg",
        now, maxLagHours = 48.0, maxGapHours = 30.0).collect()
      assert(got.toSeq == want.toSeq,
        s"stream/batch divergence:\n${got.toSeq}\n${want.toSeq}")
      // the boundary-spanning hole was actually seen
      val gappy = got.find(_.getString(0) == "gappy").get
      assert(gappy.getDouble(5) == 144.0 && !gappy.getBoolean(7))
      // state is partial-sized: ≤ one row per (batch, segment)
      assert(spark.read.parquet(s"$tmp/partials").count() <= 3L * 4L)
    } finally q.stop()
  }

  test("redelivered batch overwrites its own partition — gaps and counts never double") {
    import spark.implicits._
    val tmp = tempDir("stream_fresh_redo")
    val batch = Seq(("a", ts(1, 0)), ("a", ts(2, 0))).toDF("seg", "ts")
    def writeOnce(): Unit = PartialFold.write(
      Timeliness.partials(batch, "ts", "seg"), s"$tmp/partials", 0L)
    writeOnce(); writeOnce()
    val got = Timeliness.verdicts(PartialFold.stored(spark, s"$tmp/partials"),
      now, 48.0, 30.0).collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == 2L, "redelivery doubled the event count")
    assert(got.head.getDouble(5) == 24.0)
  }
}
