package graft.streaming

import graft.{LayoutQueries, SparkTestBase, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Zone-stats partials streamed through [[PartialFold]] must merge to
  * EXACTLY the stats a full rescan would, and the side store must be
  * overwrite-idempotent under foreachBatch redelivery. */
class StreamingLayoutSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("streamed zone stats across three micro-batches equal a full rescan") {
    import spark.implicits._
    val li = Tables(spark, dir, "lineitem")
      .select("l_shipdate", "l_partkey")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
    val rows = li.as[(java.sql.Timestamp, Long)].collect()
    val batches = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val tmp = tempDir("stream_layout")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val q = PartialFold.stream(
      input.toDF().toDF("l_shipdate", "l_partkey"),
      s"$tmp/stats", s"$tmp/ckpt")(LayoutQueries.zonePartials)
    try {
      batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("z_min", col("z_min").cast("string"))
        .withColumn("z_max", col("z_max").cast("string"))
        .collect()
        .map(r => (r.getAs[String]("zone"), r.getAs[String]("z_min"),
          r.getAs[String]("z_max"), r.getAs[Long]("z_rows"),
          r.getAs[Long]("z_sum_pk")))
        .sortBy(_._1)
      val got = canon(LayoutQueries.mergeZonePartials(
        PartialFold.stored(spark, s"$tmp/stats")))
      val want = canon(LayoutQueries.zonePartials(li))
      assert(got.toSeq == want.toSeq)
      // per-batch manifest rows: ≤ #zones touched by each batch
      assert(spark.read.parquet(s"$tmp/stats")
        .select("part").distinct().count() == batches.size)
    } finally q.stop()
  }

  test("redelivered batch overwrites its own stats partition — never double-counts") {
    import spark.implicits._
    val tmp = tempDir("stream_layout_redo")
    val batch = Seq(
      (java.sql.Timestamp.valueOf("1997-03-01 00:00:00"), 10L),
      (java.sql.Timestamp.valueOf("1997-03-09 00:00:00"), 30L))
      .toDF("l_shipdate", "l_partkey")
    def writeOnce(): Unit = PartialFold.write(
      LayoutQueries.zonePartials(batch), s"$tmp/stats", 0L)
    writeOnce(); writeOnce() // simulated at-least-once redelivery
    val got = LayoutQueries.mergeZonePartials(
      PartialFold.stored(spark, s"$tmp/stats")).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("z_rows") == 2L,
      s"redelivery doubled the stats: ${got.mkString}")
    assert(got.head.getAs[Long]("z_sum_pk") == 40L)
  }
}
