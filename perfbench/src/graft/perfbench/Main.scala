package graft.perfbench

import graft.images.ImageGen
import graft.validation.{Drift, ImageSuite, PartitionedStore, Scoring}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, PerfbenchHooks, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark driver: one closed-loop client (each engine call starts after
  * the previous one returns) timing `ImageSuite.runAndCheckpoint` on
  * `local[cores]`. Prints one `PERFBENCH_RESULT {json}` line; `run.py`
  * builds and launches it.
  *
  * Usage: graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <workDir> <cores> <launchEpochMs>
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: <workload> <seed> <seconds> <trace> <workDir> <cores> <launchMs>")
    val bench = new Bench(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5).toInt, args(6).toLong)
    val out = try bench.run() finally bench.spark.stop()
    println("PERFBENCH_RESULT " + Json(out))
  }
}

/** Heap in use right after each GC, summed over the heap pools; the peak is
  * kept while `armed`. */
object HeapAfterGc {
  @volatile var armed = false
  @volatile var peakBytes = 0L

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[NotificationEmitter].addNotificationListener((n: Notification, _: AnyRef) =>
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
          if (used > peakBytes) peakBytes = used
        }, null, null)
    }
  }
}

final class Bench(workload: String, seed: Long, seconds: Double, traced: Boolean,
                  work: String, cores: Int, launchMs: Long) {
  require(Set("full_cold", "incr_arrivals").contains(workload), s"unknown workload $workload")

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    // the session graft.Bench runs the engine with
    .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // every file the run touches stays under its work dir
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  import spark.implicits._

  private val base = Tier.base(seed)
  private val tierDir = s"$work/tier"

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[A](f: => A): (A, Double) = { val t0 = now; val r = f; (r, secs(t0)) }

  private def exists(dir: String): Boolean = new File(dir).exists()
  private def files(dir: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists()) Nil else FileUtils.listFiles(d, null, true).asScala.toSeq
  }
  private def delete(dir: String): Unit = FileUtils.deleteDirectory(new File(dir))

  /** One engine call's inputs: the table `dataDir` validated into the checkpoint `ck`. */
  final case class Pending(dataDir: String, ck: String, runId: String, parts: Seq[String], rows: Long)
  final case class Done(wall: Double, ok: Boolean, storeBytesPerImage: Double, rows: Long)

  private var expectedDecode: Tier.Fingerprint = Map.empty
  private var expectedFull: Tier.Fingerprint = Map.empty
  private var rowsPerPart: Map[String, Long] = Map.empty
  private def rowsOf(part: String): Long = rowsPerPart(part)

  // ---------------------------------------------------------------- inputs
  private val order = Tier.arrivalOrder(seed)
  private var cursor = 0
  private var sequence = 0
  private var arrivedRows = 0L
  private def stageDir = s"$work/stage-$sequence"
  private def arrivalCk = s"$work/ck-arrivals-$sequence"

  /** Copy one partition of the tier, images and captions together, into `stage`. */
  private def stagePart(stage: String, part: String): Unit =
    for (t <- Seq("images", "captions")) {
      val src = new File(s"$tierDir/$t/part=$part")
      if (src.exists()) FileUtils.copyDirectory(src, new File(s"$stage/$t/part=$part"))
    }

  private var calls = 0
  private def nextRunId(): String = { calls += 1; s"r$calls" }

  /** Stage the next call's inputs (untimed). */
  private def prepare(): Pending = workload match {
    case "full_cold" =>
      Pending(tierDir, s"$work/ck-${calls + 1}", nextRunId(), Tier.partNames, Tier.Rows)
    case "incr_arrivals" =>
      if (cursor == order.size) { // every partition arrived: start a new sequence
        delete(stageDir); delete(arrivalCk)
        sequence += 1; cursor = 0; arrivedRows = 0
      }
      val part = order(cursor)
      cursor += 1
      stagePart(stageDir, part)
      arrivedRows += rowsOf(part)
      Pending(stageDir, arrivalCk, nextRunId(), Seq(part), rowsOf(part))
  }

  /** One timed engine call. Each starts from a collected heap, so garbage
    * left by the untimed work before it is not charged to it. */
  private def engineCall(p: Pending): Double = {
    System.gc()
    timed(ImageSuite.runAndCheckpoint(spark, p.dataDir, p.ck, p.runId))._2
  }

  /** Compare the call's verdicts with the oracle, measure its store, clean up (untimed). */
  private def finish(p: Pending, wall: Double): Done = {
    val got: Tier.Fingerprint = spark.read.parquet(s"${p.ck}/verdicts")
      .filter(col("run_id") === p.runId)
      .select("part", "check", "n_rows", "n_violations", "pass").as[(String, String, Long, Long, Boolean)]
      .collect().map { case (part, c, n, k, ok) => (part, c) -> Tier.Verdict(n, k, ok) }.toMap
    def matches(compared: Tier.Fingerprint, expected: Tier.Fingerprint): Boolean = {
      val ok = compared == expected
      if (!ok) {
        val diff = (compared.toSet diff expected.toSet) ++ (expected.toSet diff compared.toSet)
        System.err.println(s"OUTPUT CHECK FAILED ${p.runId}: ${diff.toSeq.sortBy(_._1).take(20)}")
      }
      ok
    }
    val ok = workload match {
      case "full_cold" =>
        val (drift, rest) = got.partition { case ((_, c), _) => Tier.DriftChecks.contains(c) }
        val driftOk = Tier.driftMatches(drift, rowsPerPart)
        if (!driftOk) System.err.println(s"OUTPUT CHECK FAILED ${p.runId}: drift ${drift.toSeq.sortBy(_._1)}")
        matches(rest, expectedFull) && driftOk
      case _ =>
        matches(got.filter { case ((_, c), _) => Tier.DecodeFamily.contains(c) },
          expectedDecode.filter { case ((part, _), _) => p.parts.contains(part) })
    }
    val bytes = files(p.ck).map(_.length()).sum.toDouble
    val perImage = workload match {
      case "full_cold" => bytes / Tier.Rows
      case _ => bytes / arrivedRows
    }
    if (workload == "full_cold") delete(p.ck)
    spark.catalog.clearCache()
    Done(wall, ok, perImage, p.rows)
  }

  // ------------------------------------------------------------ traced run
  private def emptyFrame(cols: String*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cols.map(StructField(_, StringType))))

  /** Call each layer's public functions on `p`'s inputs, one layer at a time,
    * each under its own job group, materializing (and caching) its output
    * so the next layer starts from computed inputs. Mirrors the data flow of
    * `runAndCheckpoint`; the commit layer writes the same stores into a
    * scratch dir. Returns each layer's wall seconds and the staged verdicts'
    * agreement with the oracle. */
  private def stagedLayers(p: Pending): (Map[String, Double], Map[String, Double], Boolean) = {
    val sc = spark.sparkContext
    val walls = mutable.LinkedHashMap[String, Double]()
    def layer[A](name: String)(f: => A): A = {
      sc.setJobGroup(name, name)
      try { val (r, w) = timed(f); walls(name) = w; r } finally sc.clearJobGroup()
    }
    val runId = "staged"
    val images = ImageGen.images(spark, p.dataDir)
    val captions = ImageGen.captions(spark, p.dataDir)
    val done = ImageSuite.readDoneParts(spark, s"${p.ck}/state")
    val doneDf = done.toSeq.toDF("part")
    val pending = if (done.isEmpty) images else images.filter(!col("part").isin(done.toSeq: _*))

    val facts = layer("decode") {
      val f = ImageSuite.decodeFactsExpr(pending).cache(); f.count(); f
    }
    val (rv, rowVerdicts) = layer("row_checks") {
      val rv = ImageSuite.rowViolations(facts).cache(); rv.count()
      val v = ImageSuite.rowVerdicts(facts, rv, runId)
        .unionByName(ImageSuite.coverageVerdicts(facts, runId))
        .unionByName(Scoring.qualityVerdicts(facts, runId)).cache()
      v.count()
      (rv, v)
    }
    val (light, kVerd, kViol) = layer("key_checks") {
      val light = pending.select("image_id", "part", "w", "h", "caption").cache(); light.count()
      val oldKeys =
        if (exists(s"${p.ck}/keys")) spark.read.parquet(s"${p.ck}/keys").select("image_id", "part")
          .join(broadcast(doneDf), Seq("part"), "left_semi")
        else emptyFrame("image_id", "part")
      val priorOrphans =
        if (exists(s"${p.ck}/violations")) spark.read.parquet(s"${p.ck}/violations")
          .filter(col("check") === "referential_image_exists").select("part", "image_id").distinct()
        else emptyFrame("part", "image_id")
      val (v, x) = ImageSuite.incrementalKeyChecks(light, oldKeys, captions, runId, doneDf, priorOrphans)
      val (vc, xc) = (v.cache(), x.cache())
      vc.count(); xc.count()
      (light, vc, xc)
    }
    val storedPartials = Drift.readPartialsDS(spark, s"${p.ck}/drift_partials")
      .filter(d => done.contains(d.part))
    val (fresh, dVerd, dViol) = layer("drift") {
      val fresh = Drift.partials(light).persist()
      val (v, x) = Drift.verdictsAuto(spark, storedPartials.union(fresh), runId)
      val (vc, xc) = (v.cache(), x.cache())
      vc.count(); xc.count()
      (fresh, vc, xc)
    }
    val scratch = s"$work/staged-ck"
    layer("commit") {
      val verdicts = rowVerdicts.unionByName(kVerd).unionByName(dVerd)
        .withColumn("score", Scoring.verdictScore(col("check"), col("metric"), col("threshold")))
      verdicts.write.mode(SaveMode.Append).parquet(s"$scratch/verdicts")
      rv.unionByName(kViol).unionByName(dViol).withColumn("run_id", lit(runId))
        .write.mode(SaveMode.Append).parquet(s"$scratch/violations")
      ImageSuite.metricsOf(facts, runId).write.mode(SaveMode.Append).parquet(s"$scratch/metrics")
      PartitionedStore.write(light.select("image_id", "part"), s"$scratch/keys")
      Drift.writePartialsDS(fresh, s"$scratch/drift_partials")
      PartitionedStore.write(light.groupBy("part")
        .agg(hll_sketch_agg(col("image_id")).as("sketch")), s"$scratch/hll")
      verdicts.groupBy("part").agg(sum("n_violations").as("n_violations"), max("n_rows").as("n_rows"))
        .select(col("part"), lit("done").as("status"), col("n_rows"), col("n_violations"),
          lit(runId).as("run_id"), lit(System.currentTimeMillis()).as("finished_at"))
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$scratch/state")
    }

    // counts for the layer metrics, outside every job group
    val nFacts = facts.count().toDouble
    val counts = Map(
      "decode.rows" -> nFacts,
      "decode.ok_frac" -> facts.filter(col("decode_ok")).count() /
        math.max(1L, facts.filter(col("has_bytes")).count()).toDouble,
      "row_checks.violations" -> rv.count().toDouble,
      "key_checks.violations" -> kViol.count().toDouble,
      "drift.partials" -> (storedPartials.count() + fresh.count()).toDouble)
    val staged: Tier.Fingerprint = rowVerdicts
      .select("part", "check", "n_rows", "n_violations", "pass").as[(String, String, Long, Long, Boolean)]
      .collect().map { case (part, c, n, k, ok) => (part, c) -> Tier.Verdict(n, k, ok) }.toMap
    val ok = staged == expectedDecode.filter { case ((part, _), _) => p.parts.contains(part) }
    if (!ok) System.err.println("OUTPUT CHECK FAILED: staged decode-family verdicts differ from the oracle")

    Seq(facts, rv, rowVerdicts, light, kVerd, kViol, dVerd, dViol).foreach(_.unpersist())
    fresh.unpersist()
    spark.catalog.clearCache()
    delete(scratch)
    (walls.toMap, counts, ok)
  }

  /** Per-layer metrics. The staged layer calls run first, on the inputs of
    * untraced engine call A; then comes engine call B with the trace
    * attached, then untraced call C. With the staged calls first, A, B and
    * C sit at a similar point of the JIT's warm-up, so B − (A + C) / 2
    * measures what the trace itself costs. Returns the metrics, whether the
    * staged verdicts matched the oracle, and A, B and C. */
  private def traceMetrics(): (mutable.LinkedHashMap[String, Double], Boolean, Seq[Done]) = {
    val trace = new Trace
    val sc = spark.sparkContext
    val pA = prepare()
    sc.addSparkListener(trace)
    val (walls, counts, stagedOk) = stagedLayers(pA)
    PerfbenchHooks.drain(sc)
    val layers = Seq("decode", "row_checks", "key_checks", "drift", "commit")
      .map(l => l -> trace.group(l)).toMap
    trace.reset()
    sc.removeSparkListener(trace)
    val a = finish(pA, engineCall(pA))

    val p = prepare()
    sc.addSparkListener(trace)
    val callStartMs = System.currentTimeMillis()
    sc.setJobGroup("engine", "engine")
    HeapAfterGc.install()
    HeapAfterGc.armed = true
    val wall = try engineCall(p) finally { sc.clearJobGroup(); HeapAfterGc.armed = false }
    PerfbenchHooks.drain(sc)
    sc.removeSparkListener(trace)
    val engine = trace.group("engine")
    val stores = trace.storeWrites(p.ck)
    // files the call created or replaced (Spark's checksum side files excluded)
    val written = files(p.ck).filter(f => !f.getName.startsWith(".") && f.lastModified() >= callStartMs - 1000)
    val writtenBytes = written.map(_.length()).sum.toDouble
    val done = finish(p, wall)
    val pC = prepare()
    val c = finish(pC, engineCall(pC))

    val m = mutable.LinkedHashMap[String, Double]()
    val d = layers("decode")
    m ++= Seq("decode.wall_s" -> walls("decode"), "decode.cpu_s" -> d.cpuS,
      "decode.rows_per_cpu_s" -> counts("decode.rows") / math.max(d.cpuS, 1e-9),
      "decode.tasks" -> d.tasks, "decode.task_skew" -> d.taskSkew,
      "decode.ok_frac" -> counts("decode.ok_frac"))
    val r = layers("row_checks")
    m ++= Seq("row_checks.wall_s" -> walls("row_checks"), "row_checks.cpu_s" -> r.cpuS,
      "row_checks.violations" -> counts("row_checks.violations"))
    val k = layers("key_checks")
    m ++= Seq("key_checks.wall_s" -> walls("key_checks"), "key_checks.cpu_s" -> k.cpuS,
      "key_checks.shuffle_bytes" -> k.shuffleBytes.toDouble,
      "key_checks.spill_bytes" -> k.spillBytes.toDouble,
      "key_checks.task_skew" -> k.taskSkew,
      "key_checks.violations" -> counts("key_checks.violations"))
    val dr = layers("drift")
    m ++= Seq("drift.wall_s" -> walls("drift"), "drift.cpu_s" -> dr.cpuS,
      "drift.shuffle_bytes" -> dr.shuffleBytes.toDouble, "drift.partials" -> counts("drift.partials"))
    m ++= Seq("commit.wall_s" -> walls("commit"),
      "commit.jobs" -> stores.values.map(_._1).sum.toDouble,
      "commit.files_written" -> written.size.toDouble,
      "commit.bytes_written" -> writtenBytes)
    for (s <- Seq("verdicts", "violations", "metrics", "state", "keys", "drift_partials", "hll"))
      m(s"commit.$s.wall_s") = stores.get(s).map(_._2).getOrElse(0.0)
    m ++= Seq("engine.wall_s" -> wall, "engine.jobs" -> engine.jobs.toDouble,
      "engine.tasks" -> engine.tasks.toDouble, "engine.cpu_s" -> engine.cpuS,
      "engine.gc_s" -> engine.gcS, "engine.core_util" -> engine.cpuS / (wall * cores),
      "engine.heap_live_peak_mb" -> HeapAfterGc.peakBytes / (1024.0 * 1024.0),
      "engine.store_bytes_per_image" -> done.storeBytesPerImage)
    m("trace.unattributed_s") = wall - walls.values.sum
    m("trace.overhead_s") = wall - (a.wall + c.wall) / 2
    (m, stagedOk, Seq(a, done, c))
  }

  // ------------------------------------------------------------------- run
  def run(): Map[String, Any] = {
    val (_, genS) = timed(Tier.write(spark, base, tierDir))
    val (_, oracleS) = timed {
      expectedDecode = Tier.expectedDecodeFamily(spark, base)
      rowsPerPart = expectedDecode.collect { case ((part, "bytes_present"), v) => part -> v.n_rows }
      expectedFull = expectedDecode ++ Tier.expectedKeyChecks(base)
    }
    spark.catalog.clearCache()

    // set-up ends with one untimed warm call that validates one partition:
    // it compiles the plans and warms the JIT. On incr_arrivals it is the
    // first arrival; on full_cold it goes to a throwaway checkpoint.
    var attempted = 0
    var failed = 0
    def account(d: Done): Done = { attempted += 1; if (!d.ok) failed += 1; d }
    def call(): Done = { val p = prepare(); account(finish(p, engineCall(p))) }
    workload match {
      case "full_cold" =>
        val warm = s"$work/warm"
        stagePart(warm, order.head)
        ImageSuite.runAndCheckpoint(spark, warm, s"$warm-ck", "warm")
        delete(warm); delete(s"$warm-ck")
        spark.catalog.clearCache()
      case _ => call()
    }
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3 - genS - oracleS
    def result(metrics: collection.Map[String, Double], walls: Seq[Double]): Map[String, Any] =
      Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.toMap, "info" -> info(genS, oracleS, setupS, walls))

    if (traced) {
      val (m, stagedOk, calls) = traceMetrics()
      calls.foreach(account)
      attempted += 1; if (!stagedOk) failed += 1
      return result(m, calls.map(_.wall))
    }

    // closed loop: the next call starts only while it is expected to end
    // within the run's measuring time, and at least one call runs
    val results = mutable.ArrayBuffer[Done]()
    val t0 = now
    while (results.isEmpty || secs(t0) + median(results.map(_.wall).toSeq) <= seconds)
      results += call()
    val walls = results.map(_.wall).toSeq
    result(Map(
      "images_per_s" -> results.map(_.rows).sum / walls.sum,
      "increment_p50_s" -> median(walls),
      "setup_s" -> setupS), walls)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def info(genS: Double, oracleS: Double, setupS: Double,
                   callWalls: Seq[Double]): Map[String, Any] = Map(
    "call_walls_s" -> callWalls,
    "rows" -> Tier.Rows, "parts" -> Tier.Parts, "base_ordinal" -> base,
    "arrival_order" -> order.mkString(","), "cores" -> cores,
    "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "gen_s" -> genS, "oracle_s" -> oracleS, "setup_s" -> setupS)
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => require(!d.isNaN && !d.isInfinite, s"non-finite metric $d"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(other.toString)
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
