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
  * are the highest counts measured once the verdicts, metric rows and state
  * rows are built on the driver: on the same input the cold call ran 22
  * jobs in some runs and 23 in others, as one leaf job is submitted or not
  * depending on timing; the resumed call ran 32 in every run.
  */
class EngineJobCountSpec extends SparkTestBase {

  val ColdJobsMax = 23
  val ResumedJobsMax = 32

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

  /** (jobs started between two fence jobs, those of them in `group`) while
    * `f` runs in `group`. The fences run in their own groups before and
    * after `f`; listener events arrive in posting order, so the jobs seen
    * between the fences' starts are exactly the jobs started meanwhile.
    */
  private def jobsBetweenFences(group: String)(f: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val (open, close) = (s"$group-open", s"$group-close")
    val all = new AtomicInteger(0)
    val inGroup = new AtomicInteger(0)
    val closed = new CountDownLatch(1)
    @volatile var fenced = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `open` => fenced = true
          case `close` => fenced = false; closed.countDown()
          case g if fenced =>
            all.incrementAndGet()
            if (g == group) inGroup.incrementAndGet()
          case _ =>
        }
    }
    def run(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(l)
    try {
      run(open)(sc.parallelize(Seq(1), 1).count())
      run(group)(f)
      run(close)(sc.parallelize(Seq(1), 1).count())
      assert(closed.await(120, TimeUnit.SECONDS), "the closing fence was not delivered within 120 s")
      (all.get(), inGroup.get())
    } finally sc.removeSparkListener(l)
  }

  test("every job a cold and a resumed call start carries the caller's job group") {
    val out = "target/test-images/ckpt-jobgroup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    spark.catalog.clearCache()
    val dir = ImageGen.ensure(spark, 2000L, "target/test-images")
    val (coldAll, coldGroup) =
      jobsBetweenFences("engine-cold")(ImageSuite.runAndCheckpoint(spark, dir, out, "cold"))
    ImageSuite.invalidateParts(spark, out, Set("p3"))
    val (resumedAll, resumedGroup) =
      jobsBetweenFences("engine-resumed")(ImageSuite.runAndCheckpoint(spark, dir, out, "resumed"))
    info(s"jobs in the caller's group / all: cold $coldGroup/$coldAll, resumed $resumedGroup/$resumedAll")
    assert(coldAll > 0 && coldGroup == coldAll, s"cold: $coldGroup of $coldAll jobs in the group")
    assert(resumedAll > 0 && resumedGroup == resumedAll,
      s"resumed: $resumedGroup of $resumedAll jobs in the group")
  }

  test("a cold, a resumed and a failing call leave nothing in the session's cache") {
    val out = "target/test-images/ckpt-cache"
    val failing = "target/test-images/ckpt-cache-failing"
    Seq(out, failing).foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    val dir = ImageGen.ensure(spark, 2000L, "target/test-images")
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    ImageSuite.runAndCheckpoint(spark, dir, out, "cold")
    assert(cache.isEmpty, "the cold call left cached frames")
    ImageSuite.invalidateParts(spark, out, Set("p3"))
    ImageSuite.runAndCheckpoint(spark, dir, out, "resumed")
    assert(ImageSuite.readDoneParts(spark, s"$out/state").contains("p3"))
    assert(cache.isEmpty, "the resumed call left cached frames")
    // the metrics append fails: its store path is a regular file
    val blocker = new java.io.File(s"$failing/metrics")
    blocker.getParentFile.mkdirs()
    org.apache.commons.io.FileUtils.writeStringToFile(blocker, "not a store", "UTF-8")
    intercept[Exception](ImageSuite.runAndCheckpoint(spark, dir, failing, "failed"))
    assert(ImageSuite.readDoneParts(spark, s"$failing/state").isEmpty)
    assert(cache.isEmpty, "the failing call left cached frames")
  }
}
