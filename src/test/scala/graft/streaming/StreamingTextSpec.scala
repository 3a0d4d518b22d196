package graft.streaming

import graft.{SparkTestBase, Tables, TextQueries}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Misra–Gries sketch partials streamed through [[PartialFold]] ≡ the
  * batch heavy-hitter pass on the union corpus, including under
  * foreachBatch redelivery. */
class StreamingTextSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("streamed sketch store reproduces the batch heavy hitters exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rows = Tables(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val (b1, b2) = rows.partition(_._1 % 2 == 0)

    val tmp = tempDir("stream_hh")
    val store = s"$tmp/store"
    val ckpt = s"$tmp/ckpt"
    val input = MemoryStream[(Long, String)]
    val q = PartialFold.stream(input.toDS().toDF("doc_id", "text"), store, ckpt)(
      batch => TextQueries.sketchPartial(TextQueries.wordsOf(batch)))
    input.addData(b1.toSeq)
    q.processAllAvailable()
    input.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()

    val corpus = spark.createDataset(rows.toSeq).toDF("doc_id", "text")
    val words = TextQueries.wordsOf(corpus)

    // the streamed store must see the whole stream: merged n = token count
    val merged = TextQueries.mergeSketches(PartialFold.stored(spark, store))
    assert(merged.n == words.count(), "merged sketch lost stream weight")

    // no false negatives across the merge: candidates ⊇ true heavy hitters
    val batchHh = TextQueries.confirmHeavyHitters(words, TextQueries.sketchOf(words))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batchHh.nonEmpty, "fixture must contain heavy hitters")
    val cand = merged.candidates(TextQueries.HeavyHitterPhi).toSet
    assert(batchHh.keySet.subsetOf(cand),
      s"merged candidates miss true heavy hitters: ${batchHh.keySet -- cand}")

    // streamed-sketch confirm ≡ batch confirm (both exact by pass 2)
    val streamedHh = TextQueries.confirmHeavyHitters(words, merged)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamedHh == batchHh)

    // at-least-once redelivery: re-summarizing batch 0 and overwriting
    // its own partial (what a redelivered foreachBatch invocation does)
    // must not change the confirmed result
    PartialFold.write(TextQueries.sketchPartial(TextQueries.wordsOf(
      spark.createDataset(b1.toSeq).toDF("doc_id", "text"))), store, 0L)
    val afterRedo = TextQueries.confirmHeavyHitters(words,
      TextQueries.mergeSketches(PartialFold.stored(spark, store)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterRedo == batchHh, "redelivered batch changed the result")
  }
}
