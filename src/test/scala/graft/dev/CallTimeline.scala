package graft.dev

import graft.validation.ImageSuite
import org.apache.commons.io.FileUtils
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{ListenerBusDrain, SparkContext, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.io.File
import scala.collection.mutable

/** Timeline of `ImageSuite.runAndCheckpoint` calls: where a call's wall goes
  * between Spark jobs.
  *
  *   Test/runMain graft.dev.CallTimeline <tierDir> <full_cold|incr_arrivals> <calls>
  *
  * `tierDir` is an image tier (`images/part=…`, `captions/part=…`, as
  * `ImageGen.ensure` writes it). `full_cold` validates the whole tier into a
  * fresh checkpoint per call; `incr_arrivals` stages one more partition per
  * call into one growing checkpoint (partitions in name order; a new
  * sequence starts once all arrived). One untimed call validating one
  * partition warms the JVM first, and each call starts from a collected
  * heap. The session is the benchmark's: `local[nproc]`, AQE on.
  *
  * Per call it prints the wall, the jobs started, the union of the jobs'
  * running time ("job-busy") and the rest ("no-job"), the codegen
  * compilations and the milliseconds spent compiling, and every SQL
  * execution's start and end (seconds from the call's start) with its call
  * site and the compilations it triggered. Executions whose spans overlap
  * ran concurrently. Compilations are read from `CodeGenerator`'s "Code
  * generated in … ms" log line, charged to the SQL execution id of the
  * thread that compiled (a driver thread's local property, or a task's);
  * those outside the call's SQL executions are summed on one line.
  *
  * Spark's generated-class cache (default 100 entries) is keyed by the
  * context class loader and the code. In local mode a whole-stage class
  * compiles once on the driver, where the plan is prepared, and once more
  * in a task thread, whose class loader differs — so a call holds about
  * 1.5 cache keys per distinct class body (e.g. ~133 keys for ~90 bodies),
  * and a call whose keys exceed the cache recompiles classes on every
  * call.
  */
object CallTimeline {

  /** Every "Code generated in … ms" line of `CodeGenerator`, as (SQL
    * execution id of the compiling thread, milliseconds). */
  private final class Compiles(sc: SparkContext) extends AbstractAppender(
      "graft-call-timeline-compiles", null, null, true, Property.EMPTY_ARRAY) {
    private val Generated = "Code generated in ([0-9.]+) ms".r.unanchored
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], Double)]()

    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Generated(ms) =>
        val id = Option(TaskContext.get()).map(_.getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
          .orElse(Option(sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)))
        seen.add((id.map(_.toLong), ms.toDouble))
      case _ =>
    }

    /** Route `CodeGenerator`'s INFO lines here only, not to the console. */
    def attach(): Unit = {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
      val logger = new LoggerConfig(name, Level.INFO, false)
      start()
      logger.addAppender(this, Level.INFO, null)
      ctx.getConfiguration.addLogger(name, logger)
      ctx.updateLoggers()
    }
  }

  private final class Recorder extends SparkListener {
    val jobs = mutable.Map[Int, (Long, Long)]()
    val execs = mutable.Map[Long, (Long, Long, String)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = (e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (t0, _) => jobs(e.jobId) = (t0, e.time) }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = (s.time, Long.MaxValue, s.description)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach { case (t0, _, d) => execs(s.executionId) = (t0, s.time, d) }
        case _ =>
      }
    }
    def reset(): Unit = synchronized { jobs.clear(); execs.clear() }
  }

  /** Total length of the union of `spans`, each clipped to [lo, hi]. */
  private def unionLength(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case _ => cur.foreach { case (ca, cb) => total += cb - ca }; cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: CallTimeline <tierDir> <full_cold|incr_arrivals> <calls>")
    val Array(tierDir, workload, callsArg) = args
    require(Set("full_cold", "incr_arrivals").contains(workload), s"unknown workload $workload")
    val calls = callsArg.toInt
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File("target/call-timeline").getAbsolutePath
    FileUtils.deleteQuietly(new File(work))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-call-timeline")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val parts = new File(s"$tierDir/images").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part=")).map(_.getName.stripPrefix("part="))
      .sorted.toSeq
    require(parts.nonEmpty, s"no images/part=… directories under $tierDir")
    def stage(dir: String, part: String): Unit =
      for (t <- Seq("images", "captions")) {
        val src = new File(s"$tierDir/$t/part=$part")
        if (src.exists()) FileUtils.copyDirectory(src, new File(s"$dir/$t/part=$part"))
      }

    // one (dataDir, checkpoint, label) per call; the first one is the warm-up
    var arrived = 0
    def next(i: Int): (String, String, String) = workload match {
      case "full_cold" if i == 0 =>
        stage(s"$work/warm", parts.head)
        (s"$work/warm", s"$work/warm-ck", s"warm-up, part ${parts.head}")
      case "full_cold" => (tierDir, s"$work/ck-$i", s"${parts.size} parts")
      case _ =>
        val seq = arrived / parts.size
        val part = parts(arrived % parts.size)
        arrived += 1
        stage(s"$work/stage-$seq", part)
        (s"$work/stage-$seq", s"$work/ck-$seq", s"arrival of part $part")
    }

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val compiles = new Compiles(spark.sparkContext)
    compiles.attach()
    val walls = mutable.ArrayBuffer[Double]()
    val idle = mutable.ArrayBuffer[Double]()
    try for (i <- 0 to calls) {
      val (dataDir, ck, label) = next(i)
      System.gc()
      ListenerBusDrain(spark.sparkContext)
      rec.reset()
      compiles.seen.clear()
      val t0 = System.currentTimeMillis()
      ImageSuite.runAndCheckpoint(spark, dataDir, ck, s"r$i")
      val t1 = System.currentTimeMillis()
      ListenerBusDrain(spark.sparkContext)
      val compiled = compiles.seen.toArray(Array.empty[(Option[Long], Double)]).toSeq
      val compileMs = compiled.map(_._2).sum
      if (i == 0) {
        if (workload == "full_cold") spark.catalog.clearCache()
        println(f"warm-up ($label): ${(t1 - t0) / 1e3}%.3f s, ${compiled.size} codegen compiles, " +
          f"$compileMs%.0f ms compiling")
      } else rec.synchronized {
        val wall = (t1 - t0) / 1e3
        val busy = unionLength(rec.jobs.values.toSeq, t0, t1) / 1e3
        walls += wall; idle += wall - busy
        println(f"call $i ($workload, $label): wall $wall%.3f s, ${rec.jobs.size} jobs, " +
          f"job-busy $busy%.3f s, no-job ${wall - busy}%.3f s, " +
          f"${rec.execs.size} SQL executions, ${compiled.size} codegen compiles, " +
          f"$compileMs%.0f ms compiling")
        val byExec = compiled.groupBy(_._1)
        rec.execs.toSeq.sortBy { case (id, (s, _, _)) => (s, id) }.foreach { case (id, (s, e, d)) =>
          val end = if (e == Long.MaxValue) "   open" else f"${(e - t0) / 1e3}%7.3f"
          val c = byExec.getOrElse(Some(id), Nil)
          println(f"  ${(s - t0) / 1e3}%7.3f $end  exec $id%-4d ${c.size}%3d compiles " +
            f"${c.map(_._2).sum}%6.0f ms  $d")
        }
        val outside = compiled.filterNot(_._1.exists(rec.execs.contains))
        if (outside.nonEmpty)
          println(f"  outside the listed SQL executions: ${outside.size} compiles, " +
            f"${outside.map(_._2).sum}%.0f ms")
      }
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      compiles.stop()
      spark.stop()
      FileUtils.deleteQuietly(new File(work))
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    if (walls.nonEmpty)
      println(f"median over ${walls.size} calls: wall ${median(walls.toSeq)}%.3f s, " +
        f"no-job ${median(idle.toSeq)}%.3f s")
  }
}
