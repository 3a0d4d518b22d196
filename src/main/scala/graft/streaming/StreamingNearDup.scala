package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the banded-SimHash near-dup pairing
  * (`DedupQueries.bandedSimhashPairs`): continuous near-duplicate
  * detection over an unbounded document stream with BOUNDED state — the
  * missing streaming rung of the dedup ladder (SURVEY §2.9 ST1-ST4 ×
  * the near-dup family). Reference analogue: the incremental
  * per-record processing + cache-keyed resume loop
  * (`/root/reference/src/crawl_first/cli.py:136-150`,
  * `cache.py:27-29`), upgraded from exact-key to near-dup matching.
  *
  * Shape: signatures come from the same native [[graft.functions.SimHash64Expr]]
  * projection as the batch rungs; each signature explodes into
  * `blocks` (band, 64/blocks-bit key) rows through the batch rungs' own
  * `DedupQueries.bands`; `flatMapGroupsWithState`
  * keyed by (band, key) holds the signatures previously seen in that
  * bucket and pairs each arriving signature against them. The state
  * function is genuine per-group imperative logic — the one place
  * SURVEY's architecture permits dropping out of declarative plans.
  *
  * Exactly-once pair emission WITHOUT a global dedup shuffle: a pair at
  * hamming ≤ blocks−1 matches in ≥1 band (pigeonhole, as in the batch
  * operator) and possibly several; both signatures are in hand when a
  * match is found, so every matching band can compute the full matching-
  * band set — and only the MINIMUM matching band emits. Deterministic,
  * and no cross-band duplicate ever reaches the sink (the batch twin
  * needs a `distinct()` shuffle for the same guarantee).
  *
  * Bounded state (the 10^12-row requirement): each bucket keeps at most
  * `maxBucket` signatures, keeping the FIRST arrivals (a hot bucket of
  * near-identical boilerplate saturates once and stops growing — the
  * streaming analogue of the batch level-2 hot-bucket cap, trading
  * recall ONLY against documents beyond the cap in a single bucket).
  * Worst-case state = buckets × maxBucket × 24 bytes, independent of
  * stream length.
  */
object StreamingNearDup {

  /** One exploded (band, key) row of a document signature. */
  case class BandRow(band: Int, key: Long, doc_id: Long, lo: Long, hi: Long)

  /** Signatures previously seen in one (band, key) bucket. */
  case class BucketState(docs: Seq[(Long, Long, Long)])

  case class DupPair(a_id: Long, b_id: Long, hamming: Int)

  /** Plain-Scala twin of the batch operator's band-key extraction —
    * band j of width w = 64/blocks reads bits [j·w, (j+1)·w) with bits
    * 0..31 in `lo` and 32..63 in `hi` (the layout every signature rung
    * emits). Kept bit-compatible so stream and batch bucket identically. */
  def bandKey(lo: Long, hi: Long, j: Int, blocks: Int): Long = {
    val w = 64 / blocks
    val mask = (1L << w) - 1
    val src = if (j * w < 32) lo else hi
    (src >> ((j * w) % 32)) & mask
  }

  private def hamming(aLo: Long, aHi: Long, bLo: Long, bHi: Long): Int =
    java.lang.Long.bitCount(aLo ^ bLo) + java.lang.Long.bitCount(aHi ^ bHi)

  private def minMatchingBand(aLo: Long, aHi: Long, bLo: Long, bHi: Long,
                              blocks: Int): Int =
    (0 until blocks).find(j =>
      bandKey(aLo, aHi, j, blocks) == bandKey(bLo, bHi, j, blocks)).getOrElse(-1)

  /** Near-dup pairs over a streaming (doc_id, text) frame. Append-mode
    * output; state checkpointed by the engine, so a restart resumes with
    * every previously seen signature still in its buckets. */
  def nearDupStream(docs: DataFrame, blocks: Int = 4, maxHamming: Int = 3,
                    maxBucket: Int = 4096): Dataset[DupPair] = {
    val s = docs.sparkSession
    import s.implicits._
    val sigs = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimHash64Expr.simhash64(col("text")).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), col("sh.simhash_lo").as("lo"), col("sh.simhash_hi").as("hi"))
    val bands = graft.DedupQueries.bands(sigs,
        shiftleft(col("hi"), 32).bitwiseOR(col("lo")), blocks)
      .select("band", "key", "doc_id", "lo", "hi")
      .as[BandRow]
    require(maxHamming <= blocks - 1,
      s"maxHamming=$maxHamming loses the pigeonhole guarantee at blocks=$blocks")
    bands.groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bk: (Int, Long), rows: Iterator[BandRow], st: GroupState[BucketState]) =>
          val held = st.getOption.map(_.docs).getOrElse(Seq.empty)
          // batch rows sorted by doc_id: within-batch pair order (and
          // which doc is "held" vs "arriving") is then independent of
          // task/partition arrival order — deterministic output.
          val arriving = rows.toSeq.sortBy(_.doc_id)
          val out = Seq.newBuilder[DupPair]
          var seen = held
          arriving.foreach { r =>
            seen.foreach { case (id, lo, hi) =>
              if (id != r.doc_id) {
                val d = hamming(lo, hi, r.lo, r.hi)
                if (d <= maxHamming &&
                    minMatchingBand(lo, hi, r.lo, r.hi, blocks) == bk._1) {
                  val (a, b) = if (id < r.doc_id) (id, r.doc_id) else (r.doc_id, id)
                  out += DupPair(a, b, d)
                }
              }
            }
            if (seen.size < maxBucket) seen = seen :+ ((r.doc_id, r.lo, r.hi))
          }
          st.update(BucketState(seen))
          out.result().iterator
      }
  }
}
