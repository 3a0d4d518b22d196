package graft

import org.apache.spark.sql.functions._

/** End-to-end curation pipeline: stage counts are monotone, stages do what
  * they claim, and the run is deterministic.
  */
class PipelineSpec extends SparkTestBase {

  val sfDir = "/root/testdata/sf0.001"
  lazy val (curated, stages) = Pipeline.curate(spark, sfDir)
  lazy val counts: Map[String, Long] = stages.map(s => s.stage -> s.n_rows).toMap

  test("stage counts are monotone non-increasing after enrichment") {
    assert(stages.map(_.stage) == Seq("ingest", "enrich", "quality_gate",
      "classifier_gate", "repetition_gate", "dedup_exact", "dedup_near"))
    assert(counts("ingest") == counts("enrich"), "enrichment must not drop rows")
    assert(counts("enrich") >= counts("quality_gate"))
    assert(counts("quality_gate") >= counts("classifier_gate"))
    assert(counts("classifier_gate") >= counts("repetition_gate"))
    assert(counts("repetition_gate") >= counts("dedup_exact"))
    assert(counts("dedup_exact") >= counts("dedup_near"))
    assert(counts("dedup_near") > 0)
  }

  test("classifier gate enforces the integer-exact keep rule") {
    assert(curated.filter(!QualityClassifier.keep(col("text"))).count() == 0)
  }

  test("curated output carries no duplicate content digests") {
    val dups = curated.groupBy("content_md5").count().filter(col("count") > 1).count()
    assert(dups == 0)
  }

  test("quality gate enforces its thresholds") {
    assert(curated.filter(col("n_tokens") < 5 || col("punct_ratio") > 0.2 ||
      col("stopword_ratio") > 0.8).count() == 0)
  }

  test("repetition gate: no curated doc is Gopher-repetitive, and the gate fired") {
    val reps = RepetitionQueries.repetitionMetrics(spark, curated)
      .filter(col("repetitive")).count()
    assert(reps == 0, s"$reps repetitive docs survived the gate")
    assert(counts("quality_gate") > counts("repetition_gate"),
      "fixture corpus must contain repetitive docs that pass the quality gate")
  }

  test("lineage rides the gate's single scan: exactly 4 count actions per curate") {
    // ingest/enrich counts come from observe() metrics fired by the gate's
    // cache-building count — the only count actions are quality_gate,
    // repetition_gate, dedup_exact, dedup_near (the pre-fix code paid two
    // EXTRA full re-scans of the corpus). Counted via
    // QueryExecutionListener, scoped to plans carrying this pipeline's
    // CollectMetrics("ingest") node.
    // Listener events arrive asynchronously, in posting order, on one bus
    // queue. A marker query run before and after the curate fences the
    // count window: counts still queued from earlier tests (on `curated`,
    // which carries the same node) land before the first fence, and every
    // count of this curate lands before the second.
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fencesSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val fenceCol = "pipeline_spec_count_fence"
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
        if (qe.analyzed.output.exists(_.name == fenceCol)) fencesSeen.incrementAndGet()
        else {
          val isOurs = qe.analyzed.collect {
            case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
              if c.name == "ingest" => c
          }.nonEmpty
          if (armed.get() && funcName == "count" && isOurs) counter.incrementAndGet()
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def fence(n: Int): Unit = {
      spark.range(1).select(lit(1).as(fenceCol)).collect()
      val deadline = System.currentTimeMillis() + 120000
      while (fencesSeen.get() < n && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(fencesSeen.get() >= n, s"listener fence $n was not delivered within 120 s")
    }
    spark.listenerManager.register(l)
    try {
      fence(1)
      armed.set(true)
      Pipeline.curate(spark, sfDir)
      fence(2)
      assert(counter.get() == 4,
        s"expected 4 count actions (gate, repetition_gate, dedup_exact, dedup_near), got ${counter.get()}")
    } finally spark.listenerManager.unregister(l)
  }

  test("near-dup contract: planted A~B~C chain keeps exactly the component min") {
    // A~B and B~C but A!~C: one component {A,B,C} — keep-one-per-component
    // drops B AND C (C goes even though its only near-dup B is itself
    // gone; a component is one content cluster — the documented contract,
    // Pipeline.nearDupDrops). Second component {7,9} checks independence.
    import spark.implicits._
    val pairs = Seq((10L, 20L, 0.9), (20L, 30L, 0.8), (7L, 9L, 0.7))
      .toDF("a_id", "b_id", "est_jaccard")
    val drops = Pipeline.nearDupDrops(pairs).as[Long].collect().toSet
    assert(drops == Set(20L, 30L, 9L),
      s"expected chain to keep {10} and pair to keep {7}, drops were $drops")
  }

  test("near-dup drops follow component structure, not pair-side accidents") {
    // pairs (1,3) and (2,3): component {1,2,3} → keep only 1. The round-3
    // greedy rule (drop every b_id) would have kept {1,2} — doc 2 survived
    // only because it never appeared on a pair's right side.
    import spark.implicits._
    val pairs = Seq((1L, 3L, 0.9), (2L, 3L, 0.9)).toDF("a_id", "b_id", "est_jaccard")
    val drops = Pipeline.nearDupDrops(pairs).as[Long].collect().toSet
    assert(drops == Set(2L, 3L))
  }

  test("pipeline is deterministic across runs") {
    val (c2, s2) = Pipeline.curate(spark, sfDir)
    assert(s2.map(s => s.stage -> s.n_rows).toMap == counts)
    assert(c2.select("doc_id").orderBy("doc_id").collect().toSeq ==
      curated.select("doc_id").orderBy("doc_id").collect().toSeq)
  }
}
