package graft.streaming

import graft.validation.PartitionedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The micro-batch partial store every mergeable family streams through.
  * A family supplies `partial` (a small algebraic summary of a frame) and
  * `finish` (verdicts from any number of merged partials); its batch
  * operator is `finish(partial(df))`, and its stream is [[stream]] with
  * the same `partial`, finished over [[stored]] at any time (Gan et al.,
  * VLDB 2018: one mergeable summary per group).
  *
  * Each micro-batch's partial lands under `part=b<batchId>` through
  * [[graft.validation.PartitionedStore.write]]: a dynamic partition
  * overwrite plus a listing refresh, so foreachBatch's at-least-once
  * redelivery REPLACES the batch's own rows and the counters stay
  * exactly-once. Nothing ever re-reads raw rows of a done batch.
  *
  * Scale: the store holds #batches × (rows per partial) rows — counters,
  * envelopes or sketch blobs — never data.
  */
object PartialFold {

  /** Columns the store owns: the partition key and [[stored]]'s batch id. */
  private val Reserved = Seq("part", "batch_id")

  /** Store `partial` as micro-batch `batchId`'s rows under `dir`,
    * replacing whatever that batch stored before. */
  def write(partial: DataFrame, dir: String, batchId: Long): Unit = {
    val clash = partial.columns.filter(c => Reserved.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"partial columns ${clash.mkString(", ")} are reserved by the partial store")
    PartitionedStore.write(partial.withColumn("part", lit(s"b$batchId")), dir)
  }

  /** Fold `source` micro-batch by micro-batch: each batch's `partial`
    * goes through [[write]] under its batch id; offsets checkpoint to
    * `ckptDir`. */
  def stream(source: DataFrame, dir: String, ckptDir: String)(
      partial: DataFrame => DataFrame): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        write(partial(batch), dir, batchId)
      }
      .option("checkpointLocation", ckptDir)
      .start()

  /** Every stored partial row, with its micro-batch id as a `batch_id`
    * BIGINT column (numeric order: batch 10 after batch 2). */
  def stored(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .withColumn("batch_id", expr("CAST(substr(part, 2) AS BIGINT)"))
      .drop("part")
}
