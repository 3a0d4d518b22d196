package graft.streaming

import graft.SparkTestBase
import graft.validation.MaskProfile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Mask partials streamed through [[PartialFold]] must finalize to
  * EXACTLY the ranked mask profile a batch pass over the union corpus
  * would, surface a new mask that first appears mid-stream, and stay
  * idempotent under foreachBatch redelivery. */
class StreamingMasksSpec extends SparkTestBase {

  private def masksToDate(dir: String) =
    MaskProfile.fromFullMaskCounts(
      MaskProfile.mergeFullMaskCounts(PartialFold.stored(spark, dir)), topK = 20)

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq

  test("streamed masks across three micro-batches equal the batch profile; new mid-stream mask surfaces") {
    import spark.implicits._
    val b1 = (1 to 40).map(i => f"+1-555-$i%04d")
    val b2 = (1 to 25).map(i => f"AB-$i%03d")
    val b3 = Seq("??!", "hello", "hello") // malformed variant arrives LAST
    val tmp = tempDir("stream_masks")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = PartialFold.stream(input.toDF().toDF("s"),
      s"$tmp/masks", s"$tmp/ckpt")(MaskProfile.fullMaskCounts(_, "s"))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val before = canon(masksToDate(s"$tmp/masks"))
      assert(!before.exists(_._2 == "??!"))
      input.addData(b3: _*); q.processAllAvailable()
      val got = canon(masksToDate(s"$tmp/masks"))
      val want = canon(MaskProfile.masks(
        (b1 ++ b2 ++ b3).toDF("s"), "s", topK = 20))
      assert(got == want)
      assert(got.exists(_._2 == "??!")) // the mid-stream format change IS visible
      assert(spark.read.parquet(s"$tmp/masks")
        .select("part").distinct().count() == 3)
    } finally q.stop()
  }

  test("redelivered batch overwrites its own partial — never double-counts") {
    import spark.implicits._
    val tmp = tempDir("stream_masks_redo")
    val batch = Seq("ab12", "cd34").toDF("s")
    def writeOnce(): Unit = PartialFold.write(
      MaskProfile.fullMaskCounts(batch, "s"), s"$tmp/masks", 0L)
    writeOnce(); writeOnce() // simulated at-least-once redelivery
    val got = canon(masksToDate(s"$tmp/masks"))
    assert(got == Seq((1, "a9", 2L, 1L, 1.0, 1.0)))
  }
}
