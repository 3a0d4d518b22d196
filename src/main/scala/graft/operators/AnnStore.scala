package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted per-tier ANN artifacts (VERDICT r4 #2): trained PQ / IVF-PQ /
  * residual-IVFADC codebook products — codes, quantized distance tables,
  * probed candidate pairs — written ONCE per dataset tier and consumed by
  * the serving queries, so the query phase never re-trains. This is the
  * deployment reality at 10^9 vectors: FAISS trains an index once and
  * serves it for months; pricing training into every query sweep was the
  * r4 bench's one mis-priced family. Training stays oracle-verified via
  * q_ann_train_pq (DuckDB replays the Lloyd round bit-for-bit) and the
  * end-to-end q_ann_topk_* oracles still replay TRAINING+SERVING in SQL —
  * valid precisely because the persisted artifacts are pure functions of
  * the tier (integer-exact training, total-ordered tie-breaks).
  *
  * Same content-keyed write-once publication as the facts bridge
  * (reference cache-key discipline cache.py:27-29): concurrent JVMs on
  * different tiers touch disjoint dirs; same-tier racers atomically
  * publish bit-identical content.
  */
object AnnStore {

  val Root: String = s"${Tables.DataRoot}/ann_store"

  /** Bump when the training math or its parameters (m, ks, dims, probe
    * cells, Lloyd steps) change — versions the tier key so published
    * artifacts can never be served by newer training code (the DuckDB
    * twin replays the NEW training; stale artifacts would hash-mismatch
    * confusingly in Verify and silently mis-price the bench). */
  val StoreVersion = 1

  private def tierKey(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"ann$StoreVersion:$sfDir".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  def tierPath(sfDir: String): String = s"$Root/tier=${tierKey(sfDir)}"

  /** Build-and-publish all PQ-family artifacts for the tier (no-op when
    * already published); returns the tier dir.
    */
  def ensure(s: SparkSession, dir: String): String = {
    val path = tierPath(dir)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      graft.validation.ImageSuiteQueries.publishOnce(path) { tmp =>
        val raw = Tables(s, dir, "embeddings")
        // PQ (global codes) — shared by q_ann_topk_pq and q_ann_topk_ivfpq
        val (e, codes, dtab) = SimilarityQueries.pqParts(raw, m = 8, ks = 16, dims = 64)
        codes.coalesce(2).write.parquet(s"$tmp/pq_codes")
        dtab.coalesce(1).write.parquet(s"$tmp/pq_dtab")
        // IVF probe restriction for the non-residual composition
        SimilarityQueries.ivfProbedPairs(e, probeCells = 2, steps = 1)
          .coalesce(2).write.parquet(s"$tmp/ivf_probed")
        e.unpersist()
        // residual IVFADC artifacts
        val (re, rcodes, rdtab, rprobed) =
          SimilarityQueries.residualParts(raw, probeCells = 2, m = 8, ks = 16, dims = 64)
        rcodes.coalesce(2).write.parquet(s"$tmp/r_codes")
        rdtab.coalesce(1).write.parquet(s"$tmp/r_dtab")
        rprobed.coalesce(2).write.parquet(s"$tmp/r_probed")
        re.unpersist()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
      }
    }
    path
  }

  private def read(s: SparkSession, path: String, name: String): DataFrame =
    s.read.parquet(s"$path/$name")

  private def normalized(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.normalized(Tables(s, dir, "embeddings"))

  /** PQ serving from the store: ADC over persisted codes + exact re-rank. */
  def pqTopKStored(s: SparkSession, dir: String,
                   shortlist: Int = 10, k: Int = 5): DataFrame = {
    val path = ensure(s, dir)
    SimilarityQueries.adcTopK(normalized(s, dir), read(s, path, "pq_codes"),
      read(s, path, "pq_dtab"), SimilarityQueries.FlatLookup, shortlist, k)
  }

  /** IVF-PQ serving from the store. */
  def ivfPqTopKStored(s: SparkSession, dir: String,
                      shortlist: Int = 20, k: Int = 3): DataFrame = {
    val path = ensure(s, dir)
    SimilarityQueries.adcTopK(normalized(s, dir),
      SimilarityQueries.probedCodes(read(s, path, "pq_codes"), read(s, path, "ivf_probed")),
      read(s, path, "pq_dtab"), SimilarityQueries.ProbedLookup, shortlist, k)
  }

  /** Residual-IVFADC serving from the store. */
  def ivfPqResidualTopKStored(s: SparkSession, dir: String,
                              shortlist: Int = 20, k: Int = 3): DataFrame = {
    val path = ensure(s, dir)
    SimilarityQueries.adcTopK(normalized(s, dir),
      SimilarityQueries.probedCodes(read(s, path, "r_codes"), read(s, path, "r_probed")),
      read(s, path, "r_dtab"), SimilarityQueries.ResidualLookup, shortlist, k)
  }
}
