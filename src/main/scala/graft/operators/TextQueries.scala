package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the training-data-pipeline
  * layer: token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. Reference analogues: text-length gates
  * (`/root/reference/src/crawl_first/analysis.py:488-489`), header
  * heuristics (`analysis.py:517-530`), whitespace normalization
  * (`direct_retrieval.py:539-543`), MD5 content keys (`cache.py:27-29`).
  *
  * All per-doc metrics are integer-derived (counts, ratios of counts) so
  * the DuckDB oracle matches exactly; everything stays in whole-stage
  * codegen (builtin string/regex/array functions, no UDF).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** BPE-ish token pattern: letter runs, digit runs, single non-space. */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting: whitespace tokens + BPE-ish regex tokens per doc.
    "q_text_tokens" -> ((s, dir) => {
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit(TokenPattern), lit(0))).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_actual"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length / punctuation ratio / stopword ratio /
    // mean token length — the reference's text-quality gates generalized.
    "q_text_quality" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val nStop = size(filter(toks, t => t.isin(Stopwords.map(lit(_)): _*)))
      val nPunct = length(col("text")) -
        length(regexp_replace(col("text"), "[.,!?;:]", ""))
      docs(s, dir).filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          nTok.as("n_tokens"),
          round(nStop.cast("double") / nTok.cast("double"), 6).as("stopword_ratio"),
          round(nPunct.cast("double") / length(col("text")).cast("double"), 6).as("punct_ratio"),
          round((length(col("text")) - (nTok - 1)).cast("double") / nTok.cast("double"), 6)
            .as("mean_token_len"))
        .orderBy("doc_id")
    }),

    // Language-ID heuristic: marker-word votes per language, argmax with
    // deterministic tie-break (score desc, lang asc) — a word-level stand-in
    // for n-gram profiles; emits the predicted×labeled confusion counts.
    "q_text_langid" -> ((s, dir) => {
      import s.implicits._
      val markers = broadcast(Seq(
        ("en", "the"), ("en", "data"), ("en", "fast"),
        ("es", "table"), ("es", "row"), ("es", "value"),
        ("de", "join"), ("de", "merge"), ("de", "sort"),
        ("fr", "query"), ("fr", "filter"), ("fr", "scan"),
        ("zh", "spark"), ("zh", "stream"), ("zh", "batch"))
        .toDF("m_lang", "m_word"))
      val toks = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      toks.join(markers, col("word") === col("m_word"))
        .groupBy("doc_id", "lang", "m_lang").agg(count(lit(1)).as("score"))
        .groupBy("doc_id", "lang")
        // min_by on (−score, lang) via string composite is fragile; use a
        // numeric composite: score*100 − langRank, maximized.
        .agg(max_by(col("m_lang"),
          col("score") * 1000 - ascii(col("m_lang")) * 2 - ascii(substring(col("m_lang"), 2, 1)))
          .as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    }),

    // Document fingerprinting: normalized-content digest + position-weighted
    // token hash (order-sensitive rolling-style fingerprint, exact BIGINT).
    // Single narrow projection: the positional hash folds over the token
    // array with HOFs — no explode, no shuffle at all (scan → project).
    "q_text_fingerprint" -> ((s, dir) => {
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), norm.as("norm"))
        .select(col("doc_id"),
          md5(col("norm")).as("content_md5"),
          aggregate(
            zip_with(split(col("norm"), " "),
              sequence(lit(1L), size(split(col("norm"), " ")).cast("long")),
              (t, i) => conv(md5(t).substr(lit(1), lit(8)), 16, 10).cast("long") * i),
            lit(0L), (acc, x) => acc + x).as("positional_hash"))
        .orderBy("doc_id")
    }),

    // Heavy hitters (words with frequency > phi of the corpus) by the
    // sketch-then-confirm pattern: pass 1 folds a mergeable Misra–Gries
    // summary (bounded state per partition, executor-merged; the driver
    // receives ONE k-entry sketch, never a word list) whose candidate set
    // provably contains every true phi-heavy item (k ≥ 1/phi); pass 2
    // exact-counts ONLY the ≤k candidates (broadcast isin) and applies
    // the true threshold. Output is exact counts — deterministic at any
    // parallelism even though sketch internals are merge-order dependent
    // — so it hash-matches a plain GROUP BY/HAVING oracle, while at
    // 10^12 tokens the exact pass touches k words instead of the full
    // distinct vocabulary. A9's sketch-grade twin.
    "q_text_heavy_hitters" -> ((s, dir) => {
      val words = wordsOf(docs(s, dir))
      confirmHeavyHitters(words, sketchOf(words))
    })
  )

  /** Heavy-hitter sketch capacity; must be ≥ 1/phi for the no-false-
    * negative candidate guarantee. */
  val HeavyHitterK = 1024
  val HeavyHitterPhi = 0.002

  /** The corpus token stream the heavy-hitter passes run over. */
  def wordsOf(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)

  /** Pass 1: fold ONE mergeable Misra–Gries summary over `words`
    * (bounded state per partition, executor-merged; the driver receives
    * one k-entry blob, never a word list). */
  def sketchOf(words: DataFrame, k: Int = HeavyHitterK): graft.sketch.MisraGries =
    mergeSketches(sketchPartial(words, k), k)

  /** Pass 1 as a mergeable partial: a one-row frame holding the
    * serialized Misra–Gries summary of `words` in column `sketch`. */
  def sketchPartial(words: DataFrame, k: Int = HeavyHitterK): DataFrame =
    words.select(udaf(new MisraGriesAgg(k)).apply(col("word")).as("sketch"))

  /** Fold any number of [[sketchPartial]] rows with the Agarwal et al.
    * mergeable combine: error bounds add to ≤ n/(k+1) of the COMBINED
    * input, so the no-false-negative candidate guarantee holds over all
    * of them. The collect is bounded by the partial count, not data. */
  def mergeSketches(partials: DataFrame, k: Int = HeavyHitterK): graft.sketch.MisraGries =
    partials.select("sketch").collect()
      .map(r => graft.sketch.MisraGries.fromBytes(r.getAs[Array[Byte]](0)))
      .foldLeft(new graft.sketch.MisraGries(k))(_.merge(_))

  /** Pass 2: exact-count ONLY the sketch's nominated candidates
    * (broadcast isin over ≤k literals) and apply the true threshold —
    * exact output regardless of the sketch's merge-order-dependent
    * internals. Shared by the batch query and the streamed partials. */
  def confirmHeavyHitters(words: DataFrame, mg: graft.sketch.MisraGries,
                          phi: Double = HeavyHitterPhi): DataFrame = {
    val cand = mg.candidates(phi)
    words.filter(col("word").isin(cand: _*))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(phi) * lit(mg.n))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** Mergeable Misra–Gries word-frequency summary as a typed Aggregator
    * (same integration shape as Drift.TDigestAgg). */
  class MisraGriesAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, graft.sketch.MisraGries, Array[Byte]] {
    def zero: graft.sketch.MisraGries = new graft.sketch.MisraGries(k)
    def reduce(b: graft.sketch.MisraGries, a: String): graft.sketch.MisraGries = {
      b.add(a); b
    }
    def merge(a: graft.sketch.MisraGries, b: graft.sketch.MisraGries): graft.sketch.MisraGries =
      a.merge(b)
    def finish(r: graft.sketch.MisraGries): Array[Byte] = r.toBytes
    def bufferEncoder = org.apache.spark.sql.Encoders.kryo[graft.sketch.MisraGries]
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  def oracleSql: Map[String, String] = Map(
    "q_text_tokens" ->
      s"""SELECT doc_id,
          len(string_split_regex(text, '\\s+')) AS n_ws_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
          length(text) AS n_chars_actual
          FROM documents WHERE text IS NOT NULL""",
    "q_text_quality" ->
      """WITH base AS (
           SELECT doc_id, text, string_split(text, ' ') AS toks
           FROM documents WHERE text IS NOT NULL AND length(text) > 0)
         SELECT doc_id,
           len(toks) AS n_tokens,
           round(CAST(len(list_filter(toks,
             t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
           round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
           round(CAST(length(text) - (len(toks) - 1) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len
         FROM base""",
    "q_text_langid" ->
      """WITH markers(m_lang, m_word) AS (VALUES
           ('en','the'),('en','data'),('en','fast'),
           ('es','table'),('es','row'),('es','value'),
           ('de','join'),('de','merge'),('de','sort'),
           ('fr','query'),('fr','filter'),('fr','scan'),
           ('zh','spark'),('zh','stream'),('zh','batch')),
         toks AS (
           SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL),
         scores AS (
           SELECT doc_id, lang, m_lang, count(*) AS score
           FROM toks JOIN markers ON word = m_word
           GROUP BY 1, 2, 3),
         pred AS (
           SELECT doc_id, lang,
             max_by(m_lang, score*1000 - ascii(m_lang)*2 - ascii(substr(m_lang, 2, 1))) AS pred_lang
           FROM scores GROUP BY 1, 2)
         SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2""",
    "q_text_heavy_hitters" ->
      """WITH words AS (
           SELECT unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL),
         w AS (SELECT word FROM words WHERE length(word) > 0),
         tot AS (SELECT count(*) AS n FROM w)
         SELECT word, count(*) AS cnt
         FROM w, tot GROUP BY word, n
         HAVING count(*) > CAST(0.002 AS DOUBLE) * n""",
    "q_text_fingerprint" ->
      """WITH base AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
           FROM documents WHERE text IS NOT NULL),
         toks AS (
           SELECT doc_id, norm, string_split(norm, ' ') AS ts FROM base)
         SELECT doc_id,
           md5(norm) AS content_md5,
           -- CAST is mandatory, not cosmetic: the HUGEINT sum can exceed
           -- 2^53, so a float64-coerced compare would be lossy.
           (SELECT CAST(sum(CAST(('0x' || substr(md5(ts[i]), 1, 8)) AS BIGINT) * i) AS BIGINT)
            FROM UNNEST(range(1, len(ts)+1)) AS u(i)) AS positional_hash
         FROM toks"""
  )
}
