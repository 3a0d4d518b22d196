package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression tests: the properties the engine's scale story
  * depends on (filter pushdown to the parquet scan, column pruning,
  * broadcast for small dims, no accidental cartesian joins) asserted on
  * the real query plans, so a refactor that silently loses them fails CI
  * rather than a 100 TB run.
  */
class PlanHygieneSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("threshold filter is pushed down to the parquet scan") {
    val p = planOf(SparkEntry.queries("q_p6_threshold")(spark, dir))
    assert(p.contains("PushedFilters"), p)
    assert(p.matches("(?s).*PushedFilters:.*n_chars.*"),
      s"n_chars threshold not pushed:\n$p")
  }

  test("projected fetch prunes the read schema to the used columns") {
    val p = planOf(Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
      .filter(org.apache.spark.sql.functions.col("l_quantity") > 10))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"scan reads unused columns: $readSchema")
  }

  test("small-dimension joins broadcast (q_j1, q_j9)") {
    for (q <- Seq("q_j1_join_agg", "q_j9_region_rollup")) {
      val p = planOf(SparkEntry.queries(q)(spark, dir))
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
    }
  }

  test("LSH ANN retrieval plans equi-joins, never a cartesian product") {
    val p = planOf(SparkEntry.queries("q_ann_topk_lsh")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
  }

  test("MinHash banding joins on (band, bucket), never all-pairs") {
    val p = planOf(SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in MinHash plan:\n$p")
  }

  test("SimHash banded pairing joins on (band, key), never all-pairs") {
    val p = planOf(SparkEntry.queries("q_dedup_simhash64_banded")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in banded SimHash plan:\n$p")
  }

  test("level-2 banded pairing is window-lead generation: ZERO pair joins") {
    // production regime (maxBucket ≤ runWidth): candidates come from
    // lead() columns riding the one (band, key) run sort — a self-join
    // would pay the per-bucket cross-product enumeration (Σ bucket²)
    val df = SparkEntry.queries("q_dedup_simhash64_banded_l2")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in L2 banded plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"L2 banding regressed to a pair self-join:\n$p")
    assert(p.contains("Window"), s"lead-pairing window missing:\n$p")
  }

  test("tile pairing is window-lead generation within (q, band, key): ZERO pair joins") {
    val df = SparkEntry.queries("q_dedup_phash_tiles")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in tile plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"tile pairing regressed to a pair self-join:\n$p")
    assert(p.contains("Window"), s"lead-pairing window missing:\n$p")
  }

  test("mirror multi-probe pairing is window-lead generation: ZERO pair joins") {
    // candidates come from lead() columns riding the one (band, key) rank
    // sort — a self-join here would re-introduce the Σ bucket² inner
    // enumeration (23 G bucket-pair probes at sf0.1, measured 80 s → 17 s)
    val df = SparkEntry.queries("q_dedup_phash_mirror")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in mirror plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"mirror pairing regressed to a pair self-join:\n$p")
    assert(p.contains("Window"), s"lead-pairing window missing:\n$p")
  }

  test("SNM linkage pairing is window-lead generation within its prefix: ZERO pair joins") {
    val df = SparkEntry.queries("q_link_snm_pairs")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in SNM plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"SNM pairing regressed to a pair self-join:\n$p")
    assert(p.contains("Window"), s"lead-pairing window missing:\n$p")
  }

  test("Mahalanobis scoring broadcasts the one-row stats, never a shuffle join") {
    val p = planOf(SparkEntry.queries("q_v_outliers_mahalanobis")(spark, dir))
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"non-broadcast cartesian in mahalanobis plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats row not broadcast:\n$p")
  }

  test("trained IVF retrieval plans equi-joins on the cell id, never a cartesian") {
    for (q <- Seq("q_ann_topk_ivf", "q_ann_topk_ivf_trained", "q_dedup_semantic")) {
      val p = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"cartesian in $q plan:\n$p")
    }
  }

  test("PQ and IVF-PQ retrieval plan equi-joins with a broadcast distance table") {
    for (q <- Seq("q_ann_topk_pq", "q_ann_topk_ivfpq", "q_ann_topk_ivfpq_residual")) {
      val p = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"cartesian in $q plan:\n$p")
      // the ADC distance table must ride a broadcast — per-candidate work
      // is m hash-lookups, never a shuffle of the code scan
      assert(p.contains("BroadcastHashJoin"), s"$q lost the dtab broadcast:\n$p")
    }
  }

  test("signature expression rungs plan ZERO shuffles (scan -> project)") {
    // the whole point of the native-expression rungs: the signature never
    // costs an Exchange. A refactor that reintroduces a shuffle (e.g. a
    // distinct or an aggregation) must fail here, not at 100 TB.
    val d = Tables(spark, dir, "documents")
    for ((name, df) <- Seq(
        "minhash16" -> DedupQueries.minhashSignaturesExpr(d),
        "simhash64" -> d.filter(org.apache.spark.sql.functions.col("text").isNotNull)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            graft.functions.SimHash64Expr.simhash64(
              org.apache.spark.sql.functions.col("text")).as("sh")))) {
      val p = planOf(df)
      assert(!p.contains("Exchange"), s"$name signature plan shuffles:\n$p")
    }
  }

  test("suite light projection never reads bytes") {
    val d = graft.images.ImageGen.ensure(spark, 2000L, "target/test-images")
    val images = graft.images.ImageGen.images(spark, d)
    val p = planOf(images.select("image_id", "part", "w", "h", "caption"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("bytes"), s"light scan reads bytes: $readSchema")
  }

  test("resume partition filter compiles to PartitionFilters") {
    val d = graft.images.ImageGen.ensure(spark, 2000L, "target/test-images")
    val images = graft.images.ImageGen.images(spark, d)
    val p = planOf(images.filter(
      !org.apache.spark.sql.functions.col("part").isin("p1", "p5")))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("part"), s"no partition pruning: $pf")
  }

  test("stratified sampling plans ZERO data shuffles (predicate + broadcast only)") {
    // the sampling contract: a pure per-row md5 predicate against a
    // broadcast rates row — the kept set must be cluster-size invariant
    // AND shuffle-free. A refactor that turns it into a shuffle join or
    // an aggregation fails here, not at 100 TB.
    val d = Tables(spark, dir, "documents")
    val p = planOf(CurationQueries.stratifiedSample(spark, d))
    // formatted mode puts exchange args on their own line — match the
    // partitioning spec itself, not the "Exchange hashpartitioning" glue
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"stratified sample shuffles data:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rates row lost its broadcast:\n$p")
  }

  test("source cap shuffles ONCE on source, never a global sort") {
    val d = Tables(spark, dir, "documents")
    val p = planOf(CurationQueries.sourceCap(d))
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly one hash exchange (on source), got $hashEx:\n$p")
    assert(p.contains("hashpartitioning(source"), s"window not partitioned by source:\n$p")
    assert(!p.contains("rangepartitioning"), s"source cap plans a global sort:\n$p")
  }

  test("bloom anti-join probes with the codegen'd might_contain, no cartesian") {
    val p = planOf(SparkEntry.queries("q_dedup_incr_bloom")(spark, dir))
    assert(p.contains("might_contain"), s"bloom probe expression missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bloom anti-join plan:\n$p")
  }

  test("layout stats queries prune scans to the stats columns, no cartesian") {
    // zone-map stats must never read payload-sized columns — at 10^12
    // rows this is the difference between a metadata pass and a table scan
    val p = planOf(SparkEntry.queries("q_layout_zonemap")(spark, dir))
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("l_extendedprice") && !reads.contains("l_returnflag"),
      s"zone-map stats scan reads unused columns:\n$reads")
    assert(!p.contains("CartesianProduct"), s"cartesian in zone-map plan:\n$p")

    val pb = planOf(SparkEntry.queries("q_layout_bloom")(spark, dir))
    assert(!pb.contains("CartesianProduct"),
      s"bloom index probe must broadcast, not cartesian:\n$pb")

    val pj = planOf(SparkEntry.queries("q_layout_joincard")(spark, dir))
    assert(pj.contains("BroadcastHashJoin"),
      s"joincard sketch merge lost its broadcast:\n$pj")
  }

  test("clustering advisor reads the table ONCE past the bounds collect") {
    // plan-audit regression: crossJoined bounds made Catalyst rescan the
    // table 5x; driver-collected literal bounds keep it to one stats pass
    val p = planOf(SparkEntry.queries("q_layout_advisor")(spark, dir))
    // formatted explain prints each node in the tree AND as a numbered
    // detail header — count only the "(N) Scan parquet" detail headers
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*.*"""))
    assert(scans == 1, s"advisor stats pass must scan once, saw $scans:\n$p")
  }

  test("session assignment windows share ONE user shuffle") {
    val p = planOf(SparkEntry.queries("q_sess_assign")(spark, dir))
    // lag + running-sum windows must collapse onto the same exchange; the
    // only other exchange allowed is the deterministic output orderBy
    val exchanges = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("Exchange") && !l.contains("Broadcast"))
    assert(exchanges <= 2, s"session windows re-shuffled:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("partition fingerprints partial-aggregate map-side (combiner before the shuffle)") {
    val p = planOf(SnapshotQueries.queries("q_snap_dirty_parts")(spark, dir))
    // both fingerprint groupBys must plan partial_count/xor/sum below the
    // exchange — the property that keeps the stats pass one narrow scan
    assert(p.contains("partial_count") || p.contains("Functions [partial"),
      s"fingerprint aggregation lost its map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("pruned snapshot diff semi-joins the broadcast dirty set before the key shuffle") {
    val df = SnapshotQueries.queries("q_snap_diff_pruned")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"dirty-set prune is not a broadcast semi-join:\n$p")
    assert(p.contains("FullOuter"), "key diff must remain a full outer join")
    assert(!p.contains("CartesianProduct"))
  }
}
