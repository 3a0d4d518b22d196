package graft.streaming

import graft.SparkTestBase
import graft.validation.ImageSuiteQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Gate partials streamed through [[PartialFold]] must land
  * bit-identical rows to q_i_quality_gates over the union of the
  * micro-batches (decimal sums merge exactly), and redelivery must not
  * double the counters. */
class StreamingGatesSpec extends SparkTestBase {

  private val tier = "/x/sf0.0005"

  test("streamed gates across three micro-batches equal the batch query") {
    import spark.implicits._
    val f = ImageSuiteQueries.ensureFacts(spark, tier)
      .select("part", "decode_ok", "sharpness", "brightness", "contrast",
        "clip_lo", "clip_hi")
    val rows = f.as[(String, Boolean, Double, Double, Double, Double, Double)]
      .collect()
    val batches = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val tmp = tempDir("stream_gates")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Boolean, Double, Double, Double, Double, Double)]
    val q = PartialFold.stream(
      input.toDF().toDF("part", "decode_ok", "sharpness", "brightness",
        "contrast", "clip_lo", "clip_hi"),
      s"$tmp/partials", s"$tmp/ckpt")(ImageSuiteQueries.gatePartials)
    try {
      batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
      val got = ImageSuiteQueries.gates(PartialFold.stored(spark, s"$tmp/partials"))
        .collect().map(_.toString).toSeq
      val want = ImageSuiteQueries.queries("q_i_quality_gates")(spark, tier)
        .collect().map(_.toString).toSeq
      assert(got == want, s"streamed gates diverge:\n got=$got\nwant=$want")
    } finally q.stop()
  }

  test("redelivered batch overwrites its own partition — gates never double") {
    import spark.implicits._
    val tmp = tempDir("stream_gates_redo")
    val batch = Seq(
      ("p0", true, 10.0, 120.0, 30.0, 0.0, 0.0),
      ("p0", true, 200.0, 130.0, 40.0, 0.0, 0.0))
      .toDF("part", "decode_ok", "sharpness", "brightness", "contrast",
        "clip_lo", "clip_hi")
    def writeOnce(): Unit = PartialFold.write(
      ImageSuiteQueries.gatePartials(batch), s"$tmp/partials", 0L)
    writeOnce(); writeOnce()
    val got = ImageSuiteQueries.gates(PartialFold.stored(spark, s"$tmp/partials"))
      .collect()
    assert(got.length == 1 && got(0).getAs[Long]("n") == 2L,
      s"redelivery doubled the counters: ${got.mkString}")
    assert(got(0).getAs[Long]("n_blur") == 1L)
    assert(got(0).getAs[Double]("sharpness_mean") == 105.0)
  }
}
