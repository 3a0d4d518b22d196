package graft.validation

import graft.SparkTestBase
import graft.images.ImageGen
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The number of Spark jobs one `runAndCheckpoint` call runs over the
  * n=2000 tier: a cold call into an empty checkpoint, and a resumed call
  * that re-validates one invalidated partition. At this size a call's time
  * goes to per-job overhead, not to rows, so each layer is one pass; a
  * change that brings back a per-check aggregate, a repeated join or a
  * schema-inference read raises the count past its ceiling. The ceilings
  * are the highest counts measured on the one-pass engine: on the same
  * input the cold call ran 30 jobs in some runs and 31 in others, as one
  * leaf job of the verdicts write is submitted or not depending on timing.
  */
class EngineJobCountSpec extends SparkTestBase {

  val ColdJobsMax = 31
  val ResumedJobsMax = 40

  /** Jobs `f` starts, counted by a job group set around it, so jobs other
    * work in the session starts meanwhile are not counted. Listener events
    * arrive in posting order on one bus queue, so once a marker job run
    * after `f` reaches the listener, every job of `f` has been counted.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"engine-job-count-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => drained.countDown()
          case _ =>
        }
    }
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(l)
    try {
      inGroup(group)(f)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(120, TimeUnit.SECONDS), "the marker job was not delivered within 120 s")
      jobs.get()
    } finally sc.removeSparkListener(l)
  }

  test("a cold and a resumed runAndCheckpoint stay within their job counts") {
    val out = "target/test-images/ckpt-jobcount"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    spark.catalog.clearCache()
    // generated, if absent, outside the counted calls
    val dir = ImageGen.ensure(spark, 2000L, "target/test-images")
    val cold = jobsOf(ImageSuite.runAndCheckpoint(spark, dir, out, "cold"))
    ImageSuite.invalidateParts(spark, out, Set("p3"))
    val resumed = jobsOf(ImageSuite.runAndCheckpoint(spark, dir, out, "resumed"))
    info(s"jobs: cold $cold, resumed $resumed")
    assert(ImageSuite.readDoneParts(spark, s"$out/state").contains("p3"))
    assert(cold <= ColdJobsMax, s"cold call ran $cold jobs, ceiling $ColdJobsMax")
    assert(resumed <= ResumedJobsMax, s"resumed call ran $resumed jobs, ceiling $ResumedJobsMax")
  }
}
