package graft.streaming

import graft.{SnapshotQueries, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Baseline fingerprints streamed through [[PartialFold]] must equal a
  * direct recompute over
  * the union of all micro-batches (merge ≡ rescan for count/xor/sum), and
  * a reconciliation against the streamed baseline must reach the same
  * dirty-partition verdicts as the all-batch query. */
class StreamingSnapshotSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private type Tup = (Long, Long, String, Double, java.sql.Timestamp, String)

  // the store owns `part`, so the fingerprint partition rides as `snap_part`
  private def fpPartial(batch: DataFrame) =
    SnapshotQueries.partitionFingerprints(batch).withColumnRenamed("part", "snap_part")

  private def fingerprintsToDate(dir: String) =
    SnapshotQueries.mergeFingerprints(
      PartialFold.stored(spark, dir).withColumnRenamed("snap_part", "part"))

  private def canon(df: DataFrame) = df
    .collect()
    .map(r => (r.getAs[String]("part"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("fp_xor"), r.getAs[Long]("fp_sum")))
    .sortBy(_._1).toSeq

  test("streamed fingerprints across three micro-batches equal a direct recompute") {
    import spark.implicits._
    val base = SnapshotQueries.baseSnapshot(spark, dir)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    val rows = base
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .as[Tup].collect()
    val batches = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val tmp = tempDir("stream_snap")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tup]
    val q = PartialFold.stream(
      input.toDF().toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        .withColumn("part", date_format(col("o_orderdate"), "yyyy-MM")),
      s"$tmp/fp", s"$tmp/ckpt")(fpPartial)
    try {
      batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
      val got = canon(fingerprintsToDate(s"$tmp/fp"))
      val want = canon(SnapshotQueries.partitionFingerprints(base))
      assert(got == want)
      assert(got.nonEmpty)

      // reconciliation against the STREAMED baseline reaches the same
      // verdicts as against a fresh batch fingerprint pass
      val cur = SnapshotQueries.curSnapshot(spark, dir)
      val fromStream = SnapshotQueries.dirtyPartitions(
          fingerprintsToDate(s"$tmp/fp"),
          SnapshotQueries.partitionFingerprints(cur))
        .collect().map(r => r.getAs[String]("part") -> r.getAs[String]("status"))
        .sortBy(_._1).toSeq
      val fromBatch = SnapshotQueries.dirtyPartsQuery(spark, dir)
        .collect().map(r => r.getAs[String]("part") -> r.getAs[String]("status"))
        .sortBy(_._1).toSeq
      assert(fromStream == fromBatch)
    } finally q.stop()
  }

  test("redelivered batch overwrites itself (exactly-once fingerprints)") {
    import spark.implicits._
    val base = SnapshotQueries.baseSnapshot(spark, dir)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .limit(50)
    val tmp = tempDir("stream_snap2")
    // simulate foreachBatch redelivery: write batch 0 TWICE via the same
    // store discipline, then finalize — counts must not double
    val p = fpPartial(base)
    PartialFold.write(p, s"$tmp/fp", 0L)
    PartialFold.write(p, s"$tmp/fp", 0L)
    val got = canon(fingerprintsToDate(s"$tmp/fp"))
    val want = canon(SnapshotQueries.partitionFingerprints(base))
    assert(got == want)
  }

  test("a partial that keeps its own part column is rejected, not overwritten") {
    val base = SnapshotQueries.baseSnapshot(spark, dir)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .limit(5)
    val tmp = tempDir("stream_snap3")
    val e = intercept[IllegalArgumentException](
      PartialFold.write(SnapshotQueries.partitionFingerprints(base), s"$tmp/fp", 0L))
    assert(e.getMessage.contains("part"))
    assert(!new java.io.File(s"$tmp/fp").exists(), "nothing may be written")
  }
}
