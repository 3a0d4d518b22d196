package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchHooks
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Attribution from outside the program: Spark jobs are charged to the job
  * group the benchmark set around a layer call, and the write executions of
  * an engine call to the store their output path names (read from the
  * query each ended SQL execution ran). Registered only in the traced run
  * (`--trace 1`).
  */
final class Trace extends SparkListener {
  final case class TaskRec(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleWrite: Long, spill: Long)

  private val jobGroup = mutable.Map[Int, String]()
  private val jobExec = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val execSpan = mutable.Map[Long, (Long, Long)]()
  private val execOutput = mutable.Map[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(jobGroup(e.jobId) = _)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach(x => jobExec(e.jobId) = x.toLong)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execSpan(s.executionId) = (s.time, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execSpan.get(s.executionId).foreach { case (t0, _) => execSpan(s.executionId) = (t0, s.time) }
        PerfbenchHooks.queryExecution(s).flatMap(_.logical.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }).foreach(execOutput(s.executionId) = _)
      case _ =>
    }
  }

  def reset(): Unit = synchronized {
    jobGroup.clear(); jobExec.clear(); stageJob.clear(); tasks.clear()
    execSpan.clear(); execOutput.clear()
  }

  /** Cost of a set of jobs, from their tasks. */
  final case class Cost(jobs: Int, tasks: Int, cpuS: Double, gcS: Double,
                        shuffleBytes: Long, spillBytes: Long, taskSkew: Double)

  private def costOf(jobs: Set[Int]): Cost = {
    val ts = tasks.filter(t => stageJob.get(t.stage).exists(jobs.contains)).toSeq
    // skew of the stage that carries the most task time: its slowest task
    // over its median one
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2)
      .maxByOption(_.map(_.durMs).sum).map { st =>
        val d = st.map(_.durMs).sorted
        d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble
      }.getOrElse(1.0)
    Cost(jobs.size, ts.size, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum, skew)
  }

  def group(name: String): Cost = synchronized {
    costOf(jobGroup.collect { case (j, g) if g == name => j }.toSet)
  }

  /** Per store under `outDir`: (jobs, wall seconds) of the write executions
    * whose output path is that store. */
  def storeWrites(outDir: String): Map[String, (Int, Double)] = synchronized {
    val prefix = new org.apache.hadoop.fs.Path(outDir).toUri.getPath.stripSuffix("/") + "/"
    execOutput.toSeq.flatMap { case (exec, path) =>
      val p = new org.apache.hadoop.fs.Path(path).toUri.getPath
      if (!p.startsWith(prefix)) None
      else {
        val store = p.stripPrefix(prefix).takeWhile(_ != '/')
        val (t0, t1) = execSpan.getOrElse(exec, (0L, 0L))
        Some(store -> (jobExec.count(_._2 == exec), (t1 - t0) / 1e3))
      }
    }.groupBy(_._1).map { case (s, xs) => s -> (xs.map(_._2._1).sum, xs.map(_._2._2).sum) }
  }
}
