package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators over the `documents` table — the
  * training-data-pipeline analogue of the reference's dedup-by-membership
  * (`/root/reference/src/crawl_first/osm.py:639-655`) and content-addressed
  * cache keys (`cache.py:27-29`).
  *
  * Scale notes (100 TB):
  *   - exact dedup is a hash groupBy — one shuffle on the digest, map-side
  *     partial aggregation, no skew beyond genuinely duplicated content;
  *   - MinHash+LSH is the scale path for near-dup: cost is O(docs × bands)
  *     rows through one shuffle on (band, bucket), never all-pairs;
  *   - exact n-gram Jaccard is intentionally restricted to a bounded id
  *     range — it is the small-scale oracle for the LSH path, not the
  *     production path.
  *
  * All hashes are md5-based so the DuckDB oracle can reproduce them exactly.
  *
  * Algorithms re-implemented from the public literature: MinHash
  * (Broder, "On the resemblance and containment of documents", 1997),
  * LSH banding (Gionis/Indyk/Motwani, "Similarity search in high
  * dimensions via hashing", VLDB 1999), SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002).
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Word tokens of `text`. */
  private def tokens(c: Column): Column = split(c, " ")

  /** Distinct 3-token shingles per doc (doc_id, shingle). Dedup happens
    * INSIDE the per-doc array (`array_distinct`) rather than as a global
    * `.distinct()` after the explode: distinctness is per (doc, shingle)
    * anyway, so deduping doc-locally is set-identical and turns the
    * whole operator into one map stage — the previous shape shuffled
    * every exploded shingle string just to drop within-doc repeats. */
  def shingles(d: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    d.filter(col("text").isNotNull && size(ts) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), size(ts) - 2),
          i => concat_ws(" ",
            element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2)))))
          .as("shingle"))
  }

  /** The one band explode of every banded rung: `df` plus `band` and
    * `key`, one row per band. Band j of width w = 64/blocks is bits
    * [j·w, (j+1)·w) of the 64-bit `hash`, shifted down and masked to w
    * bits, so no sign bit leaks into a key; `blocks` ∈ {2, 4, 8, 16, 32}. The
    * simhash rungs pass (hi << 32) | lo, so every band lies inside one
    * 32-bit half ([[graft.streaming.StreamingNearDup.bandKey]] is the
    * plain-Scala twin).
    */
  private[graft] def bands(df: DataFrame, hash: Column, blocks: Int): DataFrame = {
    require(Set(2, 4, 8, 16, 32).contains(blocks), s"blocks=$blocks not in {2,4,8,16,32}")
    val w = 64 / blocks
    val mask = lit((1L << w) - 1) // w ≤ 32, no overflow
    df.withColumn("_bk", explode(array((0 until blocks).map { j =>
        struct(lit(j).as("band"), shiftrightunsigned(hash, j * w).bitwiseAND(mask).as("key"))
      }: _*)))
      .select(col("*"), col("_bk.band").as("band"), col("_bk.key").as("key"))
      .drop("_bk")
  }

  /** The one lead-window pairing of every sorted-neighbourhood rung
    * (Hernández & Stolfo, "The merge/purge problem for large databases",
    * SIGMOD 1995; Manku et al.'s bounded run within a band bucket): each
    * row of `df` once per neighbour, with `y` holding the `carry` columns
    * of each of the next `width` rows of its `partition` window sorted by
    * `order`. Leads never cross the window partition and the null leads
    * past its end are dropped (`carry.head` must be a non-null id), so no
    * cross-partition pair is ever emitted, and a partition of at most
    * width + 1 rows pairs fully. Candidates O(rows · width), zero joins:
    * a pair self-join enumerates every bucket's full cross product before
    * filtering (Σ bucket² — 23 G probes, 80 s, on the dihedral rung's
    * 16 M hot-keyed band rows at sf0.1, against 17 s lead-form).
    * `partition` must be non-empty: an unpartitioned window moves all
    * rows to one task.
    */
  private[graft] def sortedNeighbours(df: DataFrame, partition: Seq[String],
                                      order: Seq[String], carry: Seq[String],
                                      width: Int): DataFrame = {
    require(partition.nonEmpty, "sortedNeighbours needs a partition key")
    require(width >= 1, s"width=$width < 1")
    val run = Window.partitionBy(partition.map(col): _*).orderBy(order.map(col): _*)
    // window expressions must be top-level projections: materialize the
    // width lead structs first, then explode the plain columns
    val leads = (1 to width).map(d =>
      struct(carry.map(c => lead(col(c), d).over(run).as(c)): _*).as(s"_y$d"))
    df.select(col("*") +: leads: _*)
      .select(df.columns.toSeq.map(col) :+
        explode(array((1 to width).map(d => col(s"_y$d")): _*)).as("y"): _*)
      .filter(col(s"y.${carry.head}").isNotNull)
  }

  /** Simhash signatures (doc_id, simhash_lo, simhash_hi) banded by
    * [[bands]]: bits 0..31 in the low half of `simhash_lo`, bits 32..63
    * in `simhash_hi` (the layout all three signature rungs emit). */
  private def simhashBands(sh: DataFrame, blocks: Int): DataFrame =
    bands(sh.select("doc_id", "simhash_lo", "simhash_hi"),
      shiftleft(col("simhash_hi"), 32).bitwiseOR(col("simhash_lo")), blocks)

  /** Bit-block banded SimHash near-dup pairing, generalized (Manku/Jain/
    * Das Sarma, "Detecting near-duplicates for web crawling", WWW 2007):
    * split the 64-bit signature into `blocks` equal exact-match bands,
    * bucket equi-join per band, hamming re-rank on the candidates.
    * Pigeonhole guarantee: a pair at hamming ≤ blocks − 1 differs in at
    * most blocks − 1 bands, so at least one band matches exactly — recall
    * 1.0 up to that radius (probabilistic above it; pick `blocks` from the
    * target radius). Never all-pairs: the only join is an equi-join on
    * (band, key), shuffled on that key. Wider blocks (fewer bands) mean
    * longer keys → smaller buckets → fewer candidates but a smaller
    * guaranteed radius; `blocks = 4` (16-bit keys, radius 3) is the
    * q_dedup_simhash64_banded production setting. At 10^12 rows the same
    * paper's second level applies within buckets
    * ([[bandedSimhashPairsL2]]) — the first-level plan shape here is
    * what carries.
    *
    * `sh` must have (doc_id, simhash_lo, simhash_hi) in the
    * [[simhashBands]] layout; `blocks` ∈ {2, 4, 8, 16, 32}.
    */
  def bandedSimhashPairs(sh: DataFrame, blocks: Int, maxHamming: Int): DataFrame = {
    val b = simhashBands(sh, blocks)
    // signatures ride the band rows through the join (functionally
    // dependent on doc_id), so the re-rank needs no second join
    b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("x.simhash_lo").as("a_lo"),
        col("x.simhash_hi").as("a_hi"), col("y.doc_id").as("b_id"),
        col("y.simhash_lo").as("b_lo"), col("y.simhash_hi").as("b_hi"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("a_lo").bitwiseXOR(col("b_lo"))) +
        bit_count(col("a_hi").bitwiseXOR(col("b_hi"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Level-2 within-bucket pairing (Manku/Jain/Das Sarma §3's second
    * level) — the hot-bucket answer [[bandedSimhashPairs]]'s scale note
    * promises: a corpus with many near-identical documents piles
    * signatures onto one (band, key) bucket, and level-1 pairs everything
    * in it — candidate count QUADRATIC in the hottest bucket, the one
    * remaining scale-killer shape at 10^12 rows (AQE can spread the join
    * work across tasks but cannot shrink the candidate count). Here each
    * bucket is SORTED by the remaining signature bits (the band bits are
    * equal within the bucket, so ordering by (hi, lo) orders by exactly
    * the non-band bits in fixed MSB-first position), and each row pairs
    * with its next `runWidth` rows ([[sortedNeighbours]]):
    *
    *   - buckets of at most runWidth + 1 rows pair fully — identical to
    *     level-1 (the common case: with 2^w keys almost every bucket is
    *     tiny);
    *   - hot buckets pair only within a bounded run: (x, y) with
    *     0 < rank(y) − rank(x) ≤ `runWidth` — candidate count
    *     O(bucket · runWidth), linear in the bucket.
    *
    * What survives in hot buckets: near-identical signatures sort
    * adjacently, so every doc is paired with its `runWidth` nearest
    * signature neighbors, and an identical-signature cluster of ANY size
    * stays CONNECTED through its consecutive-pair chain — downstream
    * keep-one-per-component dedup ([[connectedComponents]]) recovers the
    * full cluster without ever materializing its quadratic pair set.
    * What's given up: the blocks−1 pigeonhole radius is guaranteed only
    * through small buckets; in a hot bucket a pair whose remaining bits
    * diverge early in the sort order can exceed the run. That is Manku's
    * own trade (WWW 2007 §3: "probe a small number of adjacent
    * fingerprints"), and HotBucketSpec pins both halves of it.
    *
    * One shuffle on (band, key), total.
    */
  def bandedSimhashPairsL2(sh: DataFrame, blocks: Int, maxHamming: Int,
                           runWidth: Int): DataFrame =
    // total order (doc_id is unique) → deterministic runs in any engine
    sortedNeighbours(simhashBands(sh, blocks), Seq("band", "key"),
        Seq("simhash_hi", "simhash_lo", "doc_id"),
        Seq("doc_id", "simhash_lo", "simhash_hi"), runWidth)
      .select(least(col("doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("doc_id"), col("y.doc_id")).as("b_id"),
        (bit_count(col("simhash_lo").bitwiseXOR(col("y.simhash_lo"))) +
         bit_count(col("simhash_hi").bitwiseXOR(col("y.simhash_hi")))).as("hamming"))
      .distinct().filter(col("hamming") <= maxHamming)

  /** Partial-crop (region) duplicate pairs from per-quadrant pHash tiles:
    * two images that share ONE quadrant's content (tile hamming ≤
    * `maxTileHamming`) while the full images diverge (full-hash hamming ≥
    * `minFullHamming`) — the composite/crop-reuse signal whole-image
    * near-dup banding is structurally blind to, since a shared quadrant
    * perturbs at most a fraction of the full 64 DCT sign bits. Same
    * banding + hot-bucket run discipline as [[bandedSimhashPairsL2]], with
    * the quadrant index salted into the bucket key so tiles only ever
    * pair within their own quadrant position. `sig` must have (doc_id,
    * phash, q, tile) — one row per (image, quadrant), zero tiles already
    * filtered. One shuffle on (q, band, key); candidates O(bucket · run).
    */
  def bandedTilePairs(sig: DataFrame, maxTileHamming: Int,
                      minFullHamming: Int, runWidth: Int): DataFrame =
    sortedNeighbours(bands(sig.select("doc_id", "phash", "q", "tile"), col("tile"), 4),
        Seq("q", "band", "key"), Seq("tile", "doc_id"), Seq("doc_id", "phash", "tile"),
        runWidth)
      .select(least(col("doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("doc_id"), col("y.doc_id")).as("b_id"),
        col("q"),
        bit_count(col("tile").bitwiseXOR(col("y.tile"))).as("tile_hamming"),
        bit_count(col("phash").bitwiseXOR(col("y.phash"))).as("full_hamming"))
      .distinct()
      .filter(col("tile_hamming") <= maxTileHamming &&
        col("full_hamming") >= minFullHamming)

  /** Mirror/rotation duplicate pairs by dihedral MULTI-PROBE banding: a
    * pair is reported when some D4-variant hash of one image is near the
    * PLAIN pHash of the other (`dih_hamming` ≤ `maxDihHamming`) while the
    * two plain pHashes diverge (`full_hamming` ≥ `minFullHamming`) — the
    * flipped/rotated-repost signal plain-hash banding is structurally
    * blind to (a horizontal flip negates every odd-u DCT coefficient,
    * flipping ~half the sign bits). Probing variant-vs-plain only ever
    * compares corresponding orbit elements, so it degrades by resample
    * rounding alone — unlike a canonical-min reduction, where noise can
    * swap WHICH orbit element wins and mirrors land 24+ bits apart (the
    * fragility note in [[graft.images.Phash]]).
    *
    * `sig` must have (doc_id, phash, kind, hash) — kind 0 = the dihedral
    * identity hash (symmetric-resample family, deliberately NOT bit-equal
    * to the floor-box plain `phash` column; the mirror rung compares
    * within the dihedral family only), kind 1..7 = the variant probes,
    * zero hashes already filtered (8 rows per image); only mixed
    * identity↔variant candidates
    * survive (plain↔plain IS the plain rung; variant↔variant is its
    * redundant double-transformed echo). Min over a pair's matched
    * probes makes the output orientation-free.
    *
    * Candidates are the [[sortedNeighbours]] runs of each (band, key)
    * bucket, sorted by (hash, doc_id, kind) — a total order within a
    * bucket — the [[q_link_snm_pairs]] sorted-neighborhood shape. One
    * shuffle on (band, key), total.
    */
  def bandedDihedralPairs(sig: DataFrame, maxDihHamming: Int,
                          minFullHamming: Int, runWidth: Int): DataFrame =
    sortedNeighbours(bands(sig.select("doc_id", "phash", "kind", "hash"), col("hash"), 4),
        Seq("band", "key"), Seq("hash", "doc_id", "kind"),
        Seq("doc_id", "phash", "kind", "hash"), runWidth)
      .filter(col("doc_id") =!= col("y.doc_id") &&
        ((col("kind") === 0) =!= (col("y.kind") === 0)))
      .select(least(col("doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("doc_id"), col("y.doc_id")).as("b_id"),
        bit_count(col("hash").bitwiseXOR(col("y.hash"))).as("dih_hamming"),
        bit_count(col("phash").bitwiseXOR(col("y.phash"))).as("full_hamming"))
      .groupBy("a_id", "b_id", "full_hamming")
      .agg(min("dih_hamming").as("dih_hamming"))
      .select("a_id", "b_id", "dih_hamming", "full_hamming")
      .filter(col("dih_hamming") <= maxDihHamming &&
        col("full_hamming") >= minFullHamming)

  /** Connected components of an undirected near-dup pair graph by min-id
    * label propagation to a fixpoint: every node's label converges to the
    * smallest doc_id reachable from it. Deterministic (pure min over the
    * component — no iteration-order sensitivity once converged), which is
    * what makes keep-one-per-component dedup oracle-able. Each iteration
    * is one equi-join + one aggregation (shuffles on id); localCheckpoint
    * truncates the otherwise exponentially growing plan lineage. Plain
    * flooding needs O(graph diameter) rounds — near-dup cluster diameters
    * are small by construction (members are mutually similar); a
    * 10^12-row deployment with pathological chains would swap this loop
    * body for the large-star/small-star rule (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014 — O(log n) rounds,
    * same per-round join shape).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
                          strict: Boolean = true): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint() // read the (possibly expensive) pair plan once
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("comp").as("nbr_comp"))
      // `moved` rides the same join that computes the update (a label only
      // ever decreases, so moved ⇔ a neighbor offered a strictly smaller
      // comp) — convergence detection costs a filter-count over the
      // checkpointed blocks instead of the old extra join + shuffle per
      // round against the previous labels.
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          (coalesce(col("nbr_comp"), col("comp")) < col("comp")).as("moved"))
        .localCheckpoint()
      changed = next.filter(col("moved")).count()
      labels = next.select("id", "comp")
      iter += 1
    }
    // Non-convergence means some chain's diameter exceeded maxIters (e.g.
    // 50+ incrementally-edited boilerplate pages, each similar only to
    // its neighbors). strict=true (the oracle contract) refuses — the
    // exact component labels were promised. strict=false (the curation
    // contract, Pipeline.nearDupDrops) DEGRADES SAFELY instead of
    // crashing a run that already paid the full corpus scan: unconverged
    // labels split a true component into sub-components, so
    // keep-one-per-label keeps at most a few extra docs per pathological
    // chain and never over-deletes.
    if (strict)
      require(changed == 0, s"connectedComponents did not converge in $maxIters iterations")
    else if (changed > 0)
      Console.err.println(
        s"WARN connectedComponents: $changed labels still moving after $maxIters " +
          "iterations — treating current labels as (split) components")
    labels.select(col("id").as("doc_id"), col("comp").as("comp_id"))
  }

  /** Connected components by the alternating large-star/small-star rule
    * (Kiveris/Lattanzi/Mirrokni/Rastogi/Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the production
    * rung for pathological chain-shaped components where min-id flooding
    * ([[connectedComponents]]) needs O(diameter) rounds: star contraction
    * converges in O(log n) rounds on ANY graph, with the same per-round
    * plan shape (one groupBy-min + one equi-join, shuffled on node id).
    *
    * Per round over the symmetric neighbor list:
    *   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    *     — afterwards every edge points strictly downward (first > second);
    *   small-star(u) over the downward edges: m = min(Γ⁻(u)); emit (v, m)
    *     for v ∈ Γ⁻(u) \ {m} and (u, m).
    * Both preserve connectivity and only ever lower a node's smallest
    * neighbor; the fixpoint is a set of stars whose centers are the
    * component minima. Convergence is detected by the paper's monotone
    * witness — Σ over nodes of their current smallest neighbor only
    * decreases, so an unchanged (count, sum) pair is a fixpoint (no
    * edge-set `except` join needed).
    *
    * Output contract is identical to [[connectedComponents]]:
    * (doc_id, comp_id) for every node incident to a pair, comp_id = min
    * doc_id of the component — so the two rungs share the recursive-CTE
    * oracle and are interchangeable in [[graft.Pipeline]].
    */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 40,
                              strict: Boolean = true): DataFrame = {
    var edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint() // pair plan may be a full banding pipeline; pay it once
    var prev = (-1L, -1L)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // symmetric neighbor list for the large-star grouping
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // every large-star edge has u > v ⇒ small-star's m is plain min(Γ⁻)
      val minsS = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(minsS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint() // truncate lineage; blocks feed the witness agg too
      // type-agnostic witness: bit_xor of xxhash64 is order-free over any
      // id type (string image_ids as well as numeric doc_ids) and cannot
      // overflow under ANSI the way sum(u + v) could
      val w = small.agg(count(lit(1L)),
        expr("bit_xor(xxhash64(u, v))")).collect()(0)
      val cur = (w.getLong(0), if (w.isNullAt(1)) 0L else w.getLong(1))
      // witness collision is theoretically possible (same count and sum,
      // different edges), so an unchanged witness is CONFIRMED by one
      // set-equality except — paid once, on the final round only
      converged = cur == prev && small.except(edges).count() == 0
      prev = cur
      edges = small
      iter += 1
    }
    if (strict)
      require(converged, s"connectedComponentsStar did not converge in $maxIters iterations")
    else if (!converged)
      Console.err.println(
        s"WARN connectedComponentsStar: not converged after $maxIters iterations " +
          "— labeling by current smallest neighbor (components may split)")
    // fixpoint is a star forest: u → center, centers absent as u
    val centers = edges.select(col("v").as("id")).distinct()
      .join(edges.select(col("u").as("id")).distinct(), Seq("id"), "left_anti")
    edges.select(col("u").as("doc_id"), col("v").as("comp_id"))
      .union(centers.select(col("id").as("doc_id"), col("id").as("comp_id")))
  }

  /** Largest prime below 2^32 — the MinHash modulus. */
  val MinhashP = 4294967291L

  /** Affine MinHash coefficients, md5-derived so the DuckDB oracle can
    * recompute them in SQL: first 8 md5 hex chars of "tag:i" as an int,
    * bounded under 2^30 (so a*h < 2^62 never overflows a signed 64-bit
    * int in EITHER engine — DuckDB errors on overflow, Spark ANSI too).
    */
  def mhCoeff(tag: String, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$tag:$i".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % 1073741789L + (if (tag == "a") 1L else 0L)
  }

  /** MinHash signatures: ONE md5 per shingle → 32-bit integer h, then k
    * affine hashes (a_i·h + b_i) mod P minimized per doc. Returns
    * (doc_id, sigs: array<bigint> ordered by seed).
    *
    * Shape notes for 10^12 docs:
    *   - one aggregation pass: the k mins are k `min()` aggregates over
    *     the same shingle rows (map-side partials), not a k× row
    *     explosion — shuffle width stays equal to the shingle count;
    *   - constant factor: k affine integer ops per shingle instead of k
    *     md5 calls (the round-1 plan spent 90% of its time in md5).
    */
  def minhashSignatures(d: DataFrame, k: Int): DataFrame = {
    val sh = shingles(d)
      .withColumn("h", expr("cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)"))
    val minCols = (0 until k).map { i =>
      val a = mhCoeff("a", i); val b = mhCoeff("b", i)
      min((col("h") * a + b) % MinhashP).as(s"mh$i")
    }
    sh.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"mh$i")): _*).as("sigs"))
  }

  /** Expression-rung twin of [[minhashSignatures]] (k = 16, the
    * production setting): the whole signature from ONE narrow projection
    * via [[graft.functions.MinHash16Expr]] — zero shuffle (the column
    * rung shuffles every (doc, shingle) row through a distinct + 16-way
    * min aggregation). Identical output (MinHashEquivalenceSpec), same
    * oracle.
    */
  def minhashSignaturesExpr(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.MinHash16Expr.minhash16(col("text")).as("sigs"))
      .filter(col("sigs").isNotNull)

  /** Un-ordered expression-rung 64-bit SimHash signatures — the pairing /
    * component query input (the presentation orderBy the standalone
    * signature query carries would cost a pointless range exchange under
    * every downstream join).
    */
  def simhash64Signatures(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimHash64Expr.simhash64(col("text")).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"),
        col("sh.simhash_lo").as("simhash_lo"),
        col("sh.simhash_hi").as("simhash_hi"))

  /** MinHash+LSH near-dup candidate pairs with estimated Jaccard over ANY
    * (doc_id, text, …) frame — `q_dedup_minhash_lsh` runs it over the raw
    * documents table; `Pipeline.curate` over the gated+exact-deduped frame
    * (so a surviving doc is never dropped for near-duplicating a doc that
    * an earlier stage already removed). 16 hashes, 4 bands of 4 rows.
    * Signatures come from the expression rung (zero-shuffle); the column
    * rung [[minhashSignatures]] stays as the builtins-only fallback.
    */
  def minhashLshPairs(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    val k = 16; val bands = 4; val rowsPerBand = 4
    // The signature subtree is referenced FOUR times below (both sides of
    // the bucket self-join + the two est-jaccard joins). The zero-shuffle
    // expression rung has no Exchange for the planner to deduplicate, so
    // without a barrier every reference would recompute the per-doc md5
    // pass (measured: the 13× signature win shrank to 3.4× end-to-end —
    // almost exactly 13/4). One explicit repartition of the NARROW
    // signature frame (doc_id + 16 longs) restores exchange/stage reuse:
    // one signature computation + one small shuffle, which the banding
    // join needs anyway.
    val sigs = minhashSignaturesExpr(d).repartition(col("doc_id"))
    val bandIdx = s.range(bands).select(col("id").cast("int").as("band"))
    val buckets = sigs.join(broadcast(bandIdx))
      .select(col("doc_id"), col("band"),
        md5(concat_ws("|", transform(
          slice(col("sigs"), col("band") * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string")))).as("bucket"))
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    cand.join(sigs.select(col("doc_id").as("a_id"), col("sigs").as("a_sigs")), Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sigs").as("b_sigs")), Seq("b_id"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("a_sigs"), col("b_sigs"), (x, y) => x === y), b => b))
          .cast("double") / k.toDouble)
      .select("a_id", "b_id", "est_jaccard")
  }

  /** The first decode-ok row per `image_id` by (phash_rec, n_bytes):
    * one deterministic signature row per image for the tile and mirror
    * rungs (duplicate-id rows carry two contents). */
  private def firstDecoded(facts: DataFrame): DataFrame =
    facts.filter(col("decode_ok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("image_id").orderBy("phash_rec", "n_bytes")))
      .filter(col("rn") === 1)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: content digest groupBy — `cache.py:27-29` MD5 keying.
    // Emits one row per duplicated digest with the kept (min) id and the
    // number of rows that would be dropped. One shuffle, combiner-friendly.
    "q_dedup_exact" -> ((s, dir) => {
      docs(s, dir)
        .filter(col("text").isNotNull)
        .groupBy(md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
        .filter(col("n") > 1)
        .orderBy("digest")
    }),

    // Incremental "new vs seen" dedup through the Bloom-split EXACT
    // anti-join (BloomAntiJoin): the seen-store here is a deterministic
    // md5-prefix eighth of the corpus (the q_s2 sampling discipline), so
    // ~87% of probe rows are definite-absent and SKIP the join shuffle —
    // the resume shape where the split pays at 10^12 rows. Result is
    // exactly the plain NOT IN (oracle-verified).
    "q_dedup_incr_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val seen = d.filter(
        substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"))
        .select(col("doc_id").as("seen_id"))
      BloomAntiJoin.antiJoin(d.select("doc_id", "source"), seen,
          "doc_id", "seen_id", expectedItems = 1000000L, fpp = 0.01)
        .orderBy("doc_id")
    }),

    // Exact 3-gram Jaccard near-dup on a bounded id range (oracle for LSH):
    // explode distinct shingles, self-equi-join on shingle, |A∩B| via
    // group-count, |A∪B| = |A|+|B|-|A∩B|. Integer ratios → exact doubles.
    "q_dedup_jaccard" -> ((s, dir) => {
      val sh = shingles(docs(s, dir).filter(col("doc_id") < 300))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = sh.select(col("doc_id").as("a_id"), col("shingle"))
      val b = sh.select(col("doc_id").as("b_id"), col("shingle"))
      val common = a.join(b, Seq("shingle")).filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
      common
        .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"), Seq("a_id"))
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_sz"), Seq("b_id"))
        .withColumn("jaccard", col("common").cast("double") /
          (col("a_sz") + col("b_sz") - col("common")).cast("double"))
        .filter(col("jaccard") >= 0.4)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // MinHash + LSH banding — the 100 TB near-dup path. 16 hashes, 4 bands
    // of 4 rows: candidate pairs share ≥1 band bucket; estimated Jaccard =
    // matching-signature fraction (exact multiples of 1/16).
    "q_dedup_minhash_lsh" -> ((s, dir) => minhashLshPairs(docs(s, dir))
      .orderBy("a_id", "b_id")),

    // SimHash (32-bit, md5-derived bit weights, term-frequency weighted):
    // fingerprint per doc; near-dup = small hamming distance. Signature
    // computation is a single agg over exploded tokens — linear, shuffle
    // on (doc_id, bit) then doc_id.
    "q_dedup_simhash" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val toks = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .withColumn("hx", md5(col("tok")))
      val bits = s.range(32).select(col("id").cast("int").as("bit"))
      toks.join(broadcast(bits))
        .withColumn("nib",
          expr("cast(conv(substring(hx, cast(bit/4 as int) + 1, 1), 16, 10) as int)"))
        .withColumn("bitval", expr("shiftright(nib, bit % 4) & 1"))
        .groupBy("doc_id", "bit")
        .agg(sum(col("bitval") * 2 - 1).as("w"))
        .withColumn("sbit", when(col("w") > 0, 1L).otherwise(0L))
        .groupBy("doc_id")
        .agg(sum(expr("sbit * shiftleft(cast(1 as bigint), bit)")).as("simhash"))
        .orderBy("doc_id")
    }),

    // 64-bit SimHash, oracle-shaped (bits join): emitted as two 32-bit
    // halves (lo = bits 0..31, hi = bits 32..63) because DuckDB BIGINT
    // shifts can't build a full unsigned 64-bit value. Same construction
    // as q_dedup_simhash widened to 64 bits.
    "q_dedup_simhash64" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val toks = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .withColumn("hx", md5(col("tok")))
      val bits = s.range(64).select(col("id").cast("int").as("bit"))
      toks.join(broadcast(bits))
        .withColumn("nib",
          expr("cast(conv(substring(hx, cast(bit/4 as int) + 1, 1), 16, 10) as int)"))
        .withColumn("bitval", expr("shiftright(nib, bit % 4) & 1"))
        .groupBy("doc_id", "bit")
        .agg(sum(col("bitval") * 2 - 1).as("w"))
        .withColumn("sbit", when(col("w") > 0, 1L).otherwise(0L))
        .groupBy("doc_id")
        .agg(
          sum(expr("if(bit < 32, sbit * shiftleft(cast(1 as bigint), bit), cast(0 as bigint))")).as("simhash_lo"),
          sum(expr("if(bit >= 32, sbit * shiftleft(cast(1 as bigint), bit - 32), cast(0 as bigint))")).as("simhash_hi"))
        .orderBy("doc_id")
    }),

    // 64-bit SimHash, PRODUCTION shape: the whole signature from ONE narrow
    // projection — per-doc HOF fold over the token array builds all 64 bit
    // weights (no 64× row explosion, no shuffle at all: scan → project).
    // Output ≡ q_dedup_simhash64, so it shares that query's oracle SQL.
    // NOTE: production should PREFER the native-expression rung
    // (q_dedup_simhash64_expr / SimHash64Expr.simhash64 — same signature,
    // ~13× faster: the HOF fold allocates a 64-element array per token);
    // this rung is the builtins-only fallback. Both are linear in tokens
    // and embarrassingly parallel.
    "q_dedup_simhash64_prod" -> ((s, dir) => {
      // Per token: ONE md5 + two hex→int convs, then the 64 bit values are
      // pure integer shifts of the two 32-bit halves (bit b lives in hex
      // nibble b/4 at in-nibble position b%4 → shift 4·(7−b/4)+b%4 within
      // its half) — no per-bit string ops in the fold. The fold uses
      // transform's (element, index) lambda so the inner step allocates
      // ONE result array per token instead of the previous
      // zip_with(acc, sequence(0,63), …) shape, which also materialized a
      // fresh 64-element index array per token; widen() spreads the
      // single-row-group scan so the interpreted fold runs on all cores.
      graft.Par.widen(docs(s, dir).filter(col("text").isNotNull))
        .withColumn("toks", expr("filter(split(text, ' '), t -> length(t) > 0)"))
        .filter(size(col("toks")) > 0) // bits-join twin drops token-less docs
        .withColumn("hs", expr(
          """transform(transform(toks, t -> md5(t)), hx -> named_struct(
               'h1', cast(conv(substring(hx, 1, 8), 16, 10) as bigint),
               'h2', cast(conv(substring(hx, 9, 8), 16, 10) as bigint)))"""))
        .withColumn("ws", expr(
          """aggregate(hs, array_repeat(cast(0 as bigint), 64),
               (acc, h) -> transform(acc, (a, bit) ->
                 a + ((CASE WHEN bit < 32
                       THEN shiftright(h.h1, cast(28 - 4*cast(bit/4 as int) + bit % 4 as int))
                       ELSE shiftright(h.h2, cast(60 - 4*cast(bit/4 as int) + bit % 4 as int)) END & 1) * 2 - 1)))"""))
        .select(col("doc_id"),
          expr("""aggregate(transform(slice(ws, 1, 32),
                    (w, i) -> if(w > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
                  cast(0 as bigint), (a, x) -> a + x)""").as("simhash_lo"),
          expr("""aggregate(transform(slice(ws, 33, 32),
                    (w, i) -> if(w > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
                  cast(0 as bigint), (a, x) -> a + x)""").as("simhash_hi"))
        .orderBy("doc_id")
    }),

    // 64-bit SimHash via the NATIVE expression (tier (b) of the ladder):
    // one tight primitive loop per row — same signature, same oracle as
    // the bits-join and HOF variants.
    "q_dedup_simhash64_expr" -> ((s, dir) => {
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.SimHash64Expr.simhash64(col("text")).as("sh"))
        .filter(col("sh").isNotNull)
        .select(col("doc_id"),
          col("sh.simhash_lo").as("simhash_lo"),
          col("sh.simhash_hi").as("simhash_hi"))
        .orderBy("doc_id")
    }),

    // 64-bit SimHash near-dup pairing, PRODUCTION shape (the 100 TB path
    // the fenced all-pairs queries below are oracles for): the
    // parameterized bit-block banding above at its production setting —
    // 4 exact-match 16-bit blocks → pigeonhole recall 1.0 at hamming ≤ 3
    // (probabilistic above; spec-asserted superset; see
    // `bandedSimhashPairs` for the full scale story). Signatures come from
    // the native-expression rung (identical output to the HOF/bits-join
    // rungs — all three share one oracle).
    "q_dedup_simhash64_banded" -> ((s, dir) =>
      bandedSimhashPairs(simhash64Signatures(s, dir),
          blocks = 4, maxHamming = 16)
        .orderBy("a_id", "b_id")),

    // Level-2 (hot-bucket-safe) banded pairing at the production setting:
    // same banding as q_dedup_simhash64_banded, but each doc pairs only
    // with the next runWidth neighbors of its sorted bucket — candidate
    // count O(bucket·run), never O(bucket²). runWidth is deliberately LOW
    // (4) so the sf0.01 corpus genuinely exercises the hot path in both
    // engines; buckets of at most runWidth + 1 docs still pair fully.
    "q_dedup_simhash64_banded_l2" -> ((s, dir) =>
      bandedSimhashPairsL2(simhash64Signatures(s, dir),
          blocks = 4, maxHamming = 16, runWidth = 4)
        .orderBy("a_id", "b_id")),

    // Connected components over the banded near-dup graph (bounded id
    // range so the DuckDB oracle's transitive closure stays tractable):
    // every doc labeled with the min doc_id reachable through near-dup
    // pairs — the keep-one-per-component survivor rule Pipeline.curate
    // applies (Lee et al., "Deduplicating Training Data Makes Language
    // Models Better", ACL 2022 use exactly this cluster-then-keep-one).
    "q_dedup_cc" -> ((s, dir) => {
      val sh = simhash64Signatures(s, dir).filter(col("doc_id") < 150)
      connectedComponents(bandedSimhashPairs(sh, blocks = 4, maxHamming = 16))
        .orderBy("doc_id")
    }),

    // Same components via alternating large-star/small-star contraction —
    // the O(log n)-round production rung; identical output contract, so it
    // shares the flooding query's recursive-CTE oracle verbatim.
    "q_dedup_cc_star" -> ((s, dir) => {
      val sh = simhash64Signatures(s, dir).filter(col("doc_id") < 150)
      connectedComponentsStar(bandedSimhashPairs(sh, blocks = 4, maxHamming = 16))
        .orderBy("doc_id")
    }),

    // Banded near-dup pairing on the IMAGE table's perceptual hashes: the
    // same generalized bit-block banding applied to (image_id, phash
    // lo/hi) over the persisted decoded-facts parquet (which both engines
    // read — the FactsPath bridge). One signature per image_id (min phash
    // — duplicate-id rows carry distinct content) keeps ranks total-
    // ordered. Level-2 pairing: DCT-sign bits are correlated across
    // natural images, so phash band keys skew hot and the bounded run is
    // what makes the image near-dup path survive 10^12 rows.
    "q_dedup_phash_banded" -> ((s, dir) => {
      val f = graft.validation.ImageSuiteQueries.ensureFacts(s, dir)
      val sh = f.groupBy(col("image_id").as("doc_id"))
        .agg(min("phash").as("phash"))
        .select(col("doc_id"),
          col("phash").bitwiseAND(lit(4294967295L)).as("simhash_lo"),
          shiftright(col("phash"), 32).bitwiseAND(lit(4294967295L)).as("simhash_hi"))
      bandedSimhashPairsL2(sh, blocks = 4, maxHamming = 4, runWidth = 4)
        .orderBy("a_id", "b_id")
    }),

    // Partial-crop duplicate pairs: quadrant tile hashes band-joined
    // within their quadrant position; a pair is reported when one
    // quadrant's content matches (tile hamming ≤ 6) but the full images
    // diverge (full hamming ≥ 8). Exercised for real: the generator
    // plants ~2% clean-band composites whose top-left quadrant is lifted
    // from an anchor ordinal's pattern (ImageGen.truthPixels), so
    // composites pair with their anchor and with sibling composites —
    // whole-image banding misses them by construction. One signature row
    // per image_id (min-(phash, n_bytes) content wins — dup-id rows carry
    // two contents) keeps both engines on the same deterministic input.
    "q_dedup_phash_tiles" -> ((s, dir) => {
      val first = firstDecoded(graft.validation.ImageSuiteQueries.ensureFacts(s, dir))
      val sig = first.select(col("image_id").as("doc_id"),
          col("phash_rec").as("phash"),
          posexplode(col("phash_tiles")).as(Seq("q", "tile")))
        .filter(col("tile") =!= 0L)
      bandedTilePairs(sig, maxTileHamming = 6, minFullHamming = 8, runWidth = 4)
        .orderBy("a_id", "b_id", "q")
    }),

    // Crop-duplicate CLUSTERS: star-contraction connected components over
    // the tile pair graph — groups every image that shares ANY quadrant's
    // content transitively (an anchor and all its composites land in one
    // component labeled by the min image_id). Node set bounded to the
    // first 1000 ordinals so the DuckDB recursive closure stays
    // tractable; the production rung is unbounded — same O(log n)
    // contraction as the text/phash cluster rungs.
    "q_dedup_phash_tiles_cc" -> ((s, dir) => {
      val first = firstDecoded(graft.validation.ImageSuiteQueries.ensureFacts(s, dir)
        .filter(col("image_id") < "img-000000001000"))
      val sig = first.select(col("image_id").as("doc_id"),
          col("phash_rec").as("phash"),
          posexplode(col("phash_tiles")).as(Seq("q", "tile")))
        .filter(col("tile") =!= 0L)
      val pairs = bandedTilePairs(sig, maxTileHamming = 6, minFullHamming = 8,
        runWidth = 4)
      connectedComponentsStar(pairs).orderBy("doc_id")
    }),

    // Orientation-FREE duplicate clusters: star-contraction connected
    // components over the UNION of the plain banded pair graph and the
    // dihedral mirror pair graph — an image, its re-encodes, and its
    // flipped/rotated reposts all land in ONE component (the
    // keep-one-per-component survivor rule a real image-dedup pipeline
    // applies; plain components would keep a mirror AND its anchor).
    // Both edge families read the SAME deterministic first-decode-ok
    // signature per image. Node set bounded to the first 2000 ordinals
    // so the DuckDB recursive closure stays tractable; the production
    // rung is unbounded — same O(log n) contraction, and the edge
    // union is just one more distinct over two banded outputs.
    "q_dedup_phash_mirror_cc" -> ((s, dir) => {
      val first = firstDecoded(graft.validation.ImageSuiteQueries.ensureFacts(s, dir)
        .filter(col("image_id") < "img-000000002000"))
      val plainSig = first.select(col("image_id").as("doc_id"),
        col("phash_rec").bitwiseAND(lit(4294967295L)).as("simhash_lo"),
        shiftright(col("phash_rec"), 32).bitwiseAND(lit(4294967295L)).as("simhash_hi"))
      val plainPairs = bandedSimhashPairsL2(plainSig, blocks = 4,
          maxHamming = 4, runWidth = 4)
        .select("a_id", "b_id")
      val dihSig = first.select(col("image_id").as("doc_id"),
          col("phash_rec").as("phash"),
          posexplode(col("phash_d4")).as(Seq("kind", "hash")))
        .filter(col("hash") =!= 0L)
      val mirrorPairs = bandedDihedralPairs(dihSig, maxDihHamming = 6,
          minFullHamming = 12, runWidth = 4)
        .select("a_id", "b_id")
      connectedComponentsStar(plainPairs.union(mirrorPairs).distinct())
        .orderBy("doc_id")
    }),

    // Image near-dup CLUSTERS end-to-end: star-contraction connected
    // components over the banded phash pair graph — the image twin of
    // q_dedup_cc's text clustering, labeling every image with the min
    // image_id reachable through near-dup pairs (the keep-one-per-
    // component survivor rule). Node set bounded by a deterministic
    // md5-prefix sample (1/16 of image_ids) so the DuckDB transitive
    // closure stays tractable; the production rung is unbounded — the
    // same O(log n)-round contraction that labels 10^12-node graphs.
    "q_dedup_phash_cc" -> ((s, dir) => {
      val f = graft.validation.ImageSuiteQueries.ensureFacts(s, dir)
      val sh = f.groupBy(col("image_id").as("doc_id"))
        .agg(min("phash").as("phash"))
        .filter(substring(md5(col("doc_id")), 1, 1) === "0")
        .select(col("doc_id"),
          col("phash").bitwiseAND(lit(4294967295L)).as("simhash_lo"),
          shiftright(col("phash"), 32).bitwiseAND(lit(4294967295L)).as("simhash_hi"))
      connectedComponentsStar(bandedSimhashPairsL2(sh, blocks = 4,
          maxHamming = 4, runWidth = 4))
        .orderBy("doc_id")
    }),

    // Mirror-duplicate pairs: multi-probe banding of the 8 dihedral
    // (D4) pHash variants against plain pHashes finds the flipped/
    // rotated-repost duplicates the plain-phash rungs are structurally
    // blind to. Exercised for real: the generator plants ~1.5%
    // clean-band mirror composites (ImageGen.isMirrorDup) carrying one
    // of the four planted D4 transform kinds (flip-x, flip-y, rot180,
    // transpose) of an anchor ordinal's pattern at the row's own
    // dims, so mirrors pair with their anchor cross-resolution while
    // their plain-phash hamming stays far (~half the sign bits flip).
    // Deterministic signature row per image_id (same first-decode-ok
    // discipline as the tiles rung).
    "q_dedup_phash_mirror" -> ((s, dir) => {
      val first = firstDecoded(graft.validation.ImageSuiteQueries.ensureFacts(s, dir))
      val sig = first.select(col("image_id").as("doc_id"),
          col("phash_rec").as("phash"),
          posexplode(col("phash_d4")).as(Seq("kind", "hash")))
        .filter(col("hash") =!= 0L)
      bandedDihedralPairs(sig, maxDihHamming = 6, minFullHamming = 12, runWidth = 4)
        .orderBy("a_id", "b_id")
    }),

    // 64-bit SimHash near-dup pairs: hamming over both halves.
    // Bounded all-pairs BY DESIGN — this is the small-range recall oracle
    // for q_dedup_simhash64_banded, not a production path.
    "q_dedup_simhash64_pairs" -> ((s, dir) => {
      val sh = queries("q_dedup_simhash64_prod")(s, dir).filter(col("doc_id") < 150)
      val a = sh.select(col("doc_id").as("a_id"),
        col("simhash_lo").as("a_lo"), col("simhash_hi").as("a_hi"))
      val b = sh.select(col("doc_id").as("b_id"),
        col("simhash_lo").as("b_lo"), col("simhash_hi").as("b_hi"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("hamming",
          bit_count(col("a_lo").bitwiseXOR(col("b_lo"))) +
          bit_count(col("a_hi").bitwiseXOR(col("b_hi"))))
        .filter(col("hamming") <= 16)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id", "b_id")
    }),

    // SimHash near-dup pairs on a bounded range: hamming via bit_count(xor).
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      val sh = queries("q_dedup_simhash")(s, dir).filter(col("doc_id") < 150)
      val a = sh.select(col("doc_id").as("a_id"), col("simhash").as("a_sh"))
      val b = sh.select(col("doc_id").as("b_id"), col("simhash").as("b_sh"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
        .filter(col("hamming") <= 8)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id", "b_id")
    })
  )

  /** Shared DuckDB CTE chain computing the 64-bit SimHash halves
    * (toks → hashed → bits → bw → sh with columns doc_id/lo/hi);
    * `docFilter` narrows the doc range (e.g. " AND doc_id < 150").
    * Every 64-bit oracle builds on this ONE text, so the signature math
    * cannot silently diverge between oracles.
    */
  private def simhash64Cte(docFilter: String = ""): String =
    s"""toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
         WHERE text IS NOT NULL$docFilter),
       hashed AS (
         SELECT doc_id, md5(tok) AS hx FROM toks WHERE length(tok) > 0),
       bits AS (SELECT CAST(unnest(range(0, 64)) AS INTEGER) AS bit),
       bw AS (
         SELECT doc_id, bit,
           sum(((strpos('0123456789abcdef', substr(hx, bit//4 + 1, 1)) - 1)
                >> (bit % 4)) & 1) * 2 - sum(1) AS w
         FROM hashed, bits GROUP BY 1, 2),
       sh AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN w > 0 AND bit < 32 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS lo,
           CAST(sum(CASE WHEN w > 0 AND bit >= 32 THEN CAST(1 AS BIGINT) << (bit - 32) ELSE 0 END) AS BIGINT) AS hi
         FROM bw GROUP BY 1)"""

  /** DuckDB CTE chain computing MinHash-LSH candidate pairs with
    * estimated Jaccard over a (doc_id, text) source CTE `src` — shared by
    * the standalone oracle (src = the raw documents) and the pipeline
    * oracle (src = the gated + exact-deduped survivor set, mirroring
    * Pipeline.curate's survivor-safety rule). Emits CTE `lshpairs`
    * (a_id, b_id, est_jaccard); mirrors [[minhashLshPairs]] exactly.
    */
  def minhashLshCte(src: String): String =
    s"""mtoks AS (
         SELECT doc_id, string_split(text, ' ') AS ts FROM $src
         WHERE text IS NOT NULL),
       msh AS (
         SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         FROM mtoks, UNNEST(range(1, len(ts)-1)) AS u(i)
         WHERE len(ts) >= 3),
       mhs AS (
         SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
         FROM msh),
       mseeds AS (
         SELECT seed,
           CAST(('0x' || substr(md5('a:' || CAST(seed AS VARCHAR)), 1, 8)) AS BIGINT) % 1073741789 + 1 AS a,
           CAST(('0x' || substr(md5('b:' || CAST(seed AS VARCHAR)), 1, 8)) AS BIGINT) % 1073741789 AS b
         FROM (SELECT unnest(range(0, 16)) AS seed)),
       mmh AS (
         SELECT doc_id, seed, min((a * h + b) % 4294967291) AS mh
         FROM mhs, mseeds GROUP BY 1, 2),
       msig AS (
         SELECT doc_id, list(mh ORDER BY seed) AS sigs FROM mmh GROUP BY 1),
       mbands AS (
         SELECT doc_id, b,
           md5(CAST(sigs[b*4+1] AS VARCHAR) || '|' || CAST(sigs[b*4+2] AS VARCHAR)
               || '|' || CAST(sigs[b*4+3] AS VARCHAR) || '|' || CAST(sigs[b*4+4] AS VARCHAR)) AS bucket
         FROM msig, (SELECT unnest(range(0, 4)) AS b)),
       mcand AS (
         SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM mbands x JOIN mbands y
           ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       lshpairs AS (
         SELECT a_id, b_id,
           CAST((SELECT count(*) FROM mmh ma JOIN mmh mb
                 ON ma.seed = mb.seed AND ma.doc_id = c.a_id AND mb.doc_id = c.b_id
                    AND ma.mh = mb.mh) AS DOUBLE) / 16.0 AS est_jaccard
         FROM mcand c)"""

  /** Shared 4-block banding CTE over `sh` (16-bit keys, bands 0..3). */
  private val bands4Cte: String =
    """bands AS (
         SELECT doc_id, lo, hi, b,
           CASE b WHEN 0 THEN lo & 65535
                  WHEN 1 THEN (lo >> 16) & 65535
                  WHEN 2 THEN hi & 65535
                  ELSE (hi >> 16) & 65535 END AS key
         FROM sh, (SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS b))"""

  /** Shared oracle for all three 64-bit SimHash signature rungs. */
  private val simhash64OracleSql: String =
    s"""WITH ${simhash64Cte()}
       SELECT doc_id, lo AS simhash_lo, hi AS simhash_hi FROM sh"""

  /** Transitive-closure components oracle, shared by the flooding and
    * star-contraction rungs (their output contract is identical). */
  private def ccOracleSql: String =
    s"""WITH RECURSIVE ${simhash64Cte(" AND doc_id < 150")},
       $bands4Cte,
       pairs AS (
         SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 16),
       edges AS (
         SELECT a_id AS src, b_id AS dst FROM pairs
         UNION SELECT b_id, a_id FROM pairs),
       reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
       SELECT src AS doc_id, least(src, min(dst)) AS comp_id
       FROM reach GROUP BY src"""

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS digest, count(*) AS n, min(doc_id) AS keep_id
         FROM documents WHERE text IS NOT NULL
         GROUP BY 1 HAVING count(*) > 1""",
    "q_dedup_incr_bloom" ->
      """SELECT doc_id, source FROM documents
         WHERE doc_id NOT IN (
           SELECT doc_id FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1'))""",
    "q_dedup_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS ts FROM documents
           WHERE text IS NOT NULL AND doc_id < 300),
         sh AS (
           SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
           FROM toks, UNNEST(range(1, len(ts)-1)) AS u(i)
           WHERE len(ts) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id,
           round(CAST(common AS DOUBLE)/CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
         FROM common
         JOIN sizes sa ON sa.doc_id = a_id
         JOIN sizes sb ON sb.doc_id = b_id
         WHERE CAST(common AS DOUBLE)/CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.4""",
    "q_dedup_minhash_lsh" ->
      s"""WITH docsrc AS (
           SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         ${minhashLshCte("docsrc")}
         SELECT a_id, b_id, est_jaccard FROM lshpairs""",
    "q_dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           WHERE text IS NOT NULL),
         hashed AS (
           SELECT doc_id, md5(tok) AS hx FROM toks WHERE length(tok) > 0),
         bits AS (SELECT CAST(unnest(range(0, 32)) AS INTEGER) AS bit),
         bw AS (
           SELECT doc_id, bit,
             sum(((strpos('0123456789abcdef', substr(hx, bit//4 + 1, 1)) - 1)
                  >> (bit % 4)) & 1) * 2 - sum(1) AS w
           FROM hashed, bits GROUP BY 1, 2)
         SELECT doc_id,
           CAST(sum(CASE WHEN w > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
         FROM bw GROUP BY 1""",
    "q_dedup_simhash64" -> simhash64OracleSql,
    "q_dedup_simhash64_banded" ->
      s"""WITH ${simhash64Cte()},
         $bands4Cte,
         cand AS (
           SELECT DISTINCT x.doc_id AS a_id, x.lo AS a_lo, x.hi AS a_hi,
                           y.doc_id AS b_id, y.lo AS b_lo, y.hi AS b_hi
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
         SELECT a_id, b_id,
           bit_count(xor(a_lo, b_lo)) + bit_count(xor(a_hi, b_hi)) AS hamming
         FROM cand
         WHERE bit_count(xor(a_lo, b_lo)) + bit_count(xor(a_hi, b_hi)) <= 16""",
    "q_dedup_simhash64_banded_l2" ->
      s"""WITH ${simhash64Cte()},
         $bands4Cte,
         ranked AS (
           SELECT doc_id, lo, hi, b, key,
             count(*) OVER (PARTITION BY b, key) AS bn,
             row_number() OVER (PARTITION BY b, key ORDER BY hi, lo, doc_id) AS rn
           FROM bands),
         cand AS (
           SELECT DISTINCT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id,
             bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS hamming
           FROM ranked x JOIN ranked y
             ON x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4))
         SELECT a_id, b_id, hamming FROM cand WHERE hamming <= 16""",
    "q_dedup_cc" -> ccOracleSql,
    // star contraction promises the identical labeling — same oracle
    "q_dedup_cc_star" -> ccOracleSql,
    "q_dedup_phash_banded" ->
      s"""WITH f AS (
           SELECT image_id AS doc_id, min(phash) AS phash
           FROM read_parquet('${graft.validation.ImageSuiteQueries.FactsPath}/*.parquet')
           GROUP BY 1),
         sh AS (
           SELECT doc_id, phash & 4294967295 AS lo,
             (phash >> 32) & 4294967295 AS hi
           FROM f),
         $bands4Cte,
         ranked AS (
           SELECT doc_id, lo, hi, b, key,
             count(*) OVER (PARTITION BY b, key) AS bn,
             row_number() OVER (PARTITION BY b, key ORDER BY hi, lo, doc_id) AS rn
           FROM bands),
         cand AS (
           SELECT DISTINCT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id,
             bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS hamming
           FROM ranked x JOIN ranked y
             ON x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4))
         SELECT a_id, b_id, hamming FROM cand WHERE hamming <= 4""",
    "q_dedup_phash_tiles" ->
      s"""WITH f AS (
           SELECT image_id, phash_rec, n_bytes, phash_tiles
           FROM read_parquet('${graft.validation.ImageSuiteQueries.FactsPath}/*.parquet')
           WHERE decode_ok),
         first AS (
           SELECT image_id AS doc_id, phash_rec AS phash, phash_tiles
           FROM (SELECT *, row_number() OVER (PARTITION BY image_id
                   ORDER BY phash_rec, n_bytes) AS rn FROM f)
           WHERE rn = 1),
         sig AS (
           SELECT doc_id, phash,
             generate_subscripts(phash_tiles, 1) - 1 AS q,
             unnest(phash_tiles) AS tile
           FROM first),
         sig2 AS (SELECT * FROM sig WHERE tile <> 0),
         bands AS (
           SELECT doc_id, phash, q, tile, b.b AS b,
             (tile >> (b.b * 16)) & 65535 AS key
           FROM sig2 CROSS JOIN (VALUES (0), (1), (2), (3)) b(b)),
         ranked AS (
           SELECT doc_id, phash, q, tile, b, key,
             count(*) OVER (PARTITION BY q, b, key) AS bn,
             row_number() OVER (PARTITION BY q, b, key
               ORDER BY tile, doc_id) AS rn
           FROM bands),
         cand AS (
           SELECT DISTINCT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id, x.q AS q,
             bit_count(xor(x.tile, y.tile)) AS tile_hamming,
             bit_count(xor(x.phash, y.phash)) AS full_hamming
           FROM ranked x JOIN ranked y
             ON x.q = y.q AND x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4))
         SELECT a_id, b_id, q, tile_hamming, full_hamming FROM cand
         WHERE tile_hamming <= 6 AND full_hamming >= 8""",
    "q_dedup_phash_tiles_cc" ->
      s"""WITH RECURSIVE f AS (
           SELECT image_id, phash_rec, n_bytes, phash_tiles
           FROM read_parquet('${graft.validation.ImageSuiteQueries.FactsPath}/*.parquet')
           WHERE decode_ok AND image_id < 'img-000000001000'),
         first AS (
           SELECT image_id AS doc_id, phash_rec AS phash, phash_tiles
           FROM (SELECT *, row_number() OVER (PARTITION BY image_id
                   ORDER BY phash_rec, n_bytes) AS rn FROM f)
           WHERE rn = 1),
         sig AS (
           SELECT doc_id, phash,
             generate_subscripts(phash_tiles, 1) - 1 AS q,
             unnest(phash_tiles) AS tile
           FROM first),
         sig2 AS (SELECT * FROM sig WHERE tile <> 0),
         bands AS (
           SELECT doc_id, phash, q, tile, b.b AS b,
             (tile >> (b.b * 16)) & 65535 AS key
           FROM sig2 CROSS JOIN (VALUES (0), (1), (2), (3)) b(b)),
         ranked AS (
           SELECT doc_id, phash, q, tile, b, key,
             count(*) OVER (PARTITION BY q, b, key) AS bn,
             row_number() OVER (PARTITION BY q, b, key
               ORDER BY tile, doc_id) AS rn
           FROM bands),
         pairs AS (
           SELECT DISTINCT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id
           FROM ranked x JOIN ranked y
             ON x.q = y.q AND x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4)
           WHERE bit_count(xor(x.tile, y.tile)) <= 6
             AND bit_count(xor(x.phash, y.phash)) >= 8),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
         SELECT src AS doc_id, least(src, min(dst)) AS comp_id
         FROM reach GROUP BY src""",
    "q_dedup_phash_cc" ->
      s"""WITH RECURSIVE f AS (
           SELECT image_id AS doc_id, min(phash) AS phash
           FROM read_parquet('${graft.validation.ImageSuiteQueries.FactsPath}/*.parquet')
           WHERE substr(md5(image_id), 1, 1) = '0'
           GROUP BY 1),
         sh AS (
           SELECT doc_id, phash & 4294967295 AS lo,
             (phash >> 32) & 4294967295 AS hi
           FROM f),
         $bands4Cte,
         ranked AS (
           SELECT doc_id, lo, hi, b, key,
             count(*) OVER (PARTITION BY b, key) AS bn,
             row_number() OVER (PARTITION BY b, key ORDER BY hi, lo, doc_id) AS rn
           FROM bands),
         pairs AS (
           SELECT DISTINCT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id
           FROM ranked x JOIN ranked y
             ON x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4)
           WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 4),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
         SELECT src AS doc_id, least(src, min(dst)) AS comp_id
         FROM reach GROUP BY src""",
    "q_dedup_phash_mirror" ->
      s"""WITH f AS (
           SELECT image_id, phash_rec, phash_d4, n_bytes
           FROM read_parquet('${graft.validation.ImageSuiteQueries.FactsPath}/*.parquet')
           WHERE decode_ok),
         first AS (
           SELECT image_id AS doc_id, phash_rec AS phash, phash_d4
           FROM (SELECT *, row_number() OVER (PARTITION BY image_id
                   ORDER BY phash_rec, n_bytes) AS rn FROM f)
           WHERE rn = 1),
         sig AS (
           SELECT doc_id, phash,
             generate_subscripts(phash_d4, 1) - 1 AS kind,
             unnest(phash_d4) AS hash
           FROM first),
         sig2 AS (SELECT * FROM sig WHERE hash <> 0),
         bands AS (
           SELECT doc_id, phash, kind, hash, b.b AS b,
             (hash >> (b.b * 16)) & 65535 AS key
           FROM sig2 CROSS JOIN (VALUES (0), (1), (2), (3)) b(b)),
         ranked AS (
           SELECT doc_id, phash, kind, hash, b, key,
             count(*) OVER (PARTITION BY b, key) AS bn,
             row_number() OVER (PARTITION BY b, key
               ORDER BY hash, doc_id, kind) AS rn
           FROM bands),
         cand AS (
           SELECT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id,
             bit_count(xor(x.hash, y.hash)) AS dh,
             bit_count(xor(x.phash, y.phash)) AS full_hamming
           FROM ranked x JOIN ranked y
             ON x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4)
           WHERE x.doc_id <> y.doc_id
             AND ((x.kind = 0) <> (y.kind = 0)))
         SELECT a_id, b_id, min(dh) AS dih_hamming, full_hamming
         FROM cand GROUP BY a_id, b_id, full_hamming
         HAVING min(dh) <= 6 AND full_hamming >= 12""",
    "q_dedup_phash_mirror_cc" ->
      s"""WITH RECURSIVE f AS (
           SELECT image_id, phash_rec, phash_d4, n_bytes
           FROM read_parquet('${graft.validation.ImageSuiteQueries.FactsPath}/*.parquet')
           WHERE decode_ok AND image_id < 'img-000000002000'),
         first AS (
           SELECT image_id AS doc_id, phash_rec AS phash, phash_d4
           FROM (SELECT *, row_number() OVER (PARTITION BY image_id
                   ORDER BY phash_rec, n_bytes) AS rn FROM f)
           WHERE rn = 1),
         sh AS (
           SELECT doc_id, phash & 4294967295 AS lo,
             (phash >> 32) & 4294967295 AS hi
           FROM first),
         $bands4Cte,
         ranked AS (
           SELECT doc_id, lo, hi, b, key,
             count(*) OVER (PARTITION BY b, key) AS bn,
             row_number() OVER (PARTITION BY b, key ORDER BY hi, lo, doc_id) AS rn
           FROM bands),
         plain_pairs AS (
           SELECT DISTINCT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id
           FROM ranked x JOIN ranked y
             ON x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4)
           WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 4),
         dsig AS (
           SELECT doc_id, phash,
             generate_subscripts(phash_d4, 1) - 1 AS kind,
             unnest(phash_d4) AS hash
           FROM first),
         dsig2 AS (SELECT * FROM dsig WHERE hash <> 0),
         dbands AS (
           SELECT doc_id, phash, kind, hash, b.b AS b,
             (hash >> (b.b * 16)) & 65535 AS key
           FROM dsig2 CROSS JOIN (VALUES (0), (1), (2), (3)) b(b)),
         dranked AS (
           SELECT doc_id, phash, kind, hash, b, key,
             count(*) OVER (PARTITION BY b, key) AS bn,
             row_number() OVER (PARTITION BY b, key
               ORDER BY hash, doc_id, kind) AS rn
           FROM dbands),
         dcand AS (
           SELECT least(x.doc_id, y.doc_id) AS a_id,
             greatest(x.doc_id, y.doc_id) AS b_id,
             bit_count(xor(x.hash, y.hash)) AS dh,
             bit_count(xor(x.phash, y.phash)) AS full_hamming
           FROM dranked x JOIN dranked y
             ON x.b = y.b AND x.key = y.key AND x.rn < y.rn
            AND (x.bn <= 4 OR y.rn - x.rn <= 4)
           WHERE x.doc_id <> y.doc_id
             AND ((x.kind = 0) <> (y.kind = 0))),
         mirror_pairs AS (
           SELECT a_id, b_id
           FROM dcand GROUP BY a_id, b_id, full_hamming
           HAVING min(dh) <= 6 AND full_hamming >= 12),
         pairs AS (
           SELECT a_id, b_id FROM plain_pairs
           UNION SELECT a_id, b_id FROM mirror_pairs),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
         SELECT src AS doc_id, least(src, min(dst)) AS comp_id
         FROM reach GROUP BY src""",
    // the production (HOF single-pass) and native-expression variants
    // compute the IDENTICAL signature, so both are held to the same oracle
    "q_dedup_simhash64_prod" -> simhash64OracleSql,
    "q_dedup_simhash64_expr" -> simhash64OracleSql,
    "q_dedup_simhash64_pairs" ->
      s"""WITH ${simhash64Cte(" AND doc_id < 150")}
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 16""",
    "q_dedup_simhash_pairs" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           WHERE text IS NOT NULL AND doc_id < 150),
         hashed AS (
           SELECT doc_id, md5(tok) AS hx FROM toks WHERE length(tok) > 0),
         bits AS (SELECT CAST(unnest(range(0, 32)) AS INTEGER) AS bit),
         bw AS (
           SELECT doc_id, bit,
             sum(((strpos('0123456789abcdef', substr(hx, bit//4 + 1, 1)) - 1)
                  >> (bit % 4)) & 1) * 2 - sum(1) AS w
           FROM hashed, bits GROUP BY 1, 2),
         sh AS (
           SELECT doc_id,
             sum(CASE WHEN w > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS simhash
           FROM bw GROUP BY 1)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 8"""
  )
}
