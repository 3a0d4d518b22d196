package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming re-expression of the incremental semantics the
  * reference implements by hand (SURVEY.md §2.9): per-record immediate
  * emission (cli.py:136-150), resume-from-checkpoint
  * (validation_agent.py:787-812), and per-key incremental state
  * (cache metrics logging_utils.py:252-256).
  *
  *   - [[windowedCounts]]: watermarked tumbling-window aggregation — the
  *     managed twin of incremental per-batch emission (ST1/ST6);
  *   - [[runningValidation]]: `mapGroupsWithState` per-partition running
  *     violation counters — custom state the engine checkpoints (ST2/ST3).
  *
  * All transforms are source-agnostic: tests drive them from
  * MemoryStream; production would use a file/Kafka source with the same
  * plans (Catalyst handles both identically).
  */
object StreamingValidation {

  /** Watermarked tumbling-window event counts per type — late rows beyond
    * the watermark are dropped, the streaming analogue of idempotent
    * re-emission (ST4).
    */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "10 minutes",
                     watermark: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Per-partition running validation state: (rows seen, violations seen,
    * current pass). State lives in the streaming state store, checkpointed
    * by the engine — the reference's resume/cache state (ST2) made managed.
    */
  case class PartProgress(part: String, n_rows: Long, n_violations: Long, pass: Boolean)

  def runningValidation(facts: Dataset[(String, Boolean)]): Dataset[PartProgress] = {
    import facts.sparkSession.implicits._
    facts.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (part: String, rows: Iterator[(String, Boolean)], st: GroupState[PartProgress]) =>
          val prev = st.getOption.getOrElse(PartProgress(part, 0L, 0L, pass = true))
          var n = prev.n_rows; var v = prev.n_violations
          rows.foreach { case (_, isViolation) =>
            n += 1; if (isViolation) v += 1
          }
          val cur = PartProgress(part, n, v, v == 0)
          st.update(cur)
          cur
      }
  }

  /** Streaming exact dedup — the streaming twin of `q_dedup_exact`:
    * state-store-backed `dropDuplicatesWithinWatermark` on the content
    * digest. A duplicate arriving within the watermark horizon is dropped
    * exactly once; digest state older than the watermark is evicted, so
    * state stays bounded at 10^12-row scale (unbounded-key dedup would
    * otherwise accumulate one state row per distinct document forever).
    */
  def dedupStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      // match the batch twin's `text IS NOT NULL` gate: md5(null) = null
      // and null digests would compare equal, silently dropping every
      // null-text document after the first
      .filter(col("text").isNotNull)
      .withColumn("digest", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming twin of the batch resume engine's key-check + drift
    * families (the VERDICT-r3 ST1 extension): each micro-batch of light
    * image rows runs one full [[graft.validation.ImageSuite.lightIncrement]]
    * cycle via `foreachBatch` — uniqueness / referential / caption
    * consistency against the persisted key index, drift against the
    * merged partial store, verdict/state appended under `outDir`. The
    * side stores already being idempotent per partition is exactly what
    * foreachBatch's at-least-once contract needs: a redelivered batch
    * overwrites its own partitions and re-commits the same state rows,
    * so streamed verdicts ≡ the batch resume twin run batch-by-batch
    * (StreamingValidationSpec proves the equivalence on a two-batch
    * split). At 10^12 scale this is continuous validation: new table
    * partitions arrive as micro-batches and are checked against
    * everything validated so far without re-reading done partitions.
    */
  def keyCheckDriftStream(lightStream: DataFrame, captions: DataFrame,
                          outDir: String, ckptDir: String,
                          runId: String): org.apache.spark.sql.streaming.StreamingQuery =
    lightStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.validation.ImageSuite.lightIncrement(
          batch.sparkSession, batch, captions, outDir, s"$runId-b$batchId")
      }
      .option("checkpointLocation", ckptDir)
      .start()

  /** Run [[windowedCounts]] from a parquet-backed file stream to an
    * in-memory sink once (availableNow), returning the sink table —
    * incremental emission end-to-end with checkpointing to `ckptDir`.
    */
  def runFileStreamOnce(spark: SparkSession, eventsDir: String,
                        ckptDir: String, queryName: String): DataFrame = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = windowedCounts(stream)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
