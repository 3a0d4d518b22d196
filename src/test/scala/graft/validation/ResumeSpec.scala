package graft.validation

import graft.SparkTestBase
import graft.images.ImageGen
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import java.io.File

/** ST2 at full depth: EVERY check family resumes without re-reading done
  * partitions. The proof is destructive — after run 1 completes half the
  * partitions, their image data is DELETED before run 2; run 2 must still
  * produce the same global results as one uninterrupted run (cross-partition
  * duplicates included), which is only possible if uniqueness/referential
  * come from the persisted key index and drift from persisted sketch
  * partials.
  */
class ResumeSpec extends SparkTestBase {

  val N = 2000L
  lazy val srcDir: String = ImageGen.ensure(spark, N, "target/test-images")
  val workDir = "target/resume-test"
  val dataDir = s"$workDir/data"
  val outDir = s"$workDir/out"
  val np: Int = ImageGen.nParts(N) // 8 → parts p0..p7
  val firstHalf: Seq[String] = (0 until np / 2).map(i => s"p$i")
  val secondHalf: Seq[String] = (np / 2 until np).map(i => s"p$i")

  def violSet(df: org.apache.spark.sql.DataFrame, check: String): Set[String] =
    df.filter(col("check") === check).select("image_id")
      .collect().map(_.getString(0)).toSet

  // Uninterrupted-run reference for the key checks, recomputed in plain
  // Scala from the generator rows — independent of the engine's kernel.
  lazy val genRows: Seq[ImageGen.GenRow] = (0L until N).map(ImageGen.genRow(_, np))
  lazy val genCaps: Seq[ImageGen.CapRow] =
    (0L until N).flatMap(ImageGen.genCaption(_, np)) ++ ImageGen.genOrphans(N, np)
  lazy val orphanCaps: Seq[ImageGen.CapRow] = {
    val imgIds = genRows.map(_.image_id).toSet
    genCaps.filterNot(c => imgIds.contains(c.image_id))
  }
  /** check → ids an uninterrupted run over the intact source flags. */
  lazy val fullKeyViol: Map[String, Set[String]] = {
    val capsById = genCaps.groupBy(_.image_id)
    Map(
      "uniqueness_image_id" ->
        genRows.groupBy(_.image_id).filter(_._2.size > 1).keySet,
      "referential_caption_exists" ->
        genRows.map(_.image_id).filterNot(capsById.contains).toSet,
      "caption_consistent" -> genRows.filter(r => r.caption != null &&
          capsById.getOrElse(r.image_id, Nil)
            .exists(c => c.caption != null && c.caption != r.caption))
        .map(_.image_id).toSet)
  }

  // full-run drift reference over the intact source data
  lazy val fullDriftVerd = {
    val light = ImageGen.images(spark, srcDir).select("part", "w", "h")
    val (dv, _) = Drift.check(light, "ref")
    dv.collect().map(r => (r.getAs[String]("part"),
      r.getAs[String]("check"), r.getAs[Double]("metric"), r.getAs[Boolean]("pass")))
  }

  lazy val ranBothPhases: Unit = {
    FileUtils.deleteQuietly(new File(workDir))
    FileUtils.copyDirectory(new File(srcDir), new File(dataDir))
    // phase 1: only the first half of the partitions exists
    val stash = new File(s"$workDir/stash"); stash.mkdirs()
    secondHalf.foreach { p =>
      FileUtils.moveDirectory(new File(s"$dataDir/images/part=$p"),
        new File(s"$workDir/stash/part=$p"))
    }
    ImageSuite.runAndCheckpoint(spark, dataDir, outDir, "run1")
    // phase 2: restore the second half, DESTROY the already-done first half
    secondHalf.foreach { p =>
      FileUtils.moveDirectory(new File(s"$workDir/stash/part=$p"),
        new File(s"$dataDir/images/part=$p"))
    }
    firstHalf.foreach { p =>
      FileUtils.deleteQuietly(new File(s"$dataDir/images/part=$p"))
    }
    ImageSuite.runAndCheckpoint(spark, dataDir, outDir, "run2")
  }

  def runViol(runId: String): org.apache.spark.sql.DataFrame = {
    ranBothPhases
    // violations carry no run_id; split via the verdict runs' parts — easier:
    // read all and split by which run could have produced them is ambiguous,
    // so the assertions below use the union and the final-run snapshot
    spark.read.parquet(s"$outDir/violations")
  }

  test("resume completes although done partitions' data was deleted") {
    ranBothPhases
    val state = spark.read.parquet(s"$outDir/state")
    assert(state.filter(col("status") === "done")
      .select("part").distinct().count() == np.toLong)
    // row-family verdicts exist for every partition exactly once
    val decodable = spark.read.parquet(s"$outDir/verdicts")
      .filter(col("check") === "decodable")
    assert(decodable.count() == np.toLong)
    assert(decodable.select("part").distinct().count() == np.toLong)
  }

  test("cross-partition duplicates are caught from the key index, not a rescan") {
    val all = runViol("x")
    val expected = fullKeyViol("uniqueness_image_id")
    val got = violSet(all, "uniqueness_image_id")
    assert(expected.nonEmpty)
    assert(got == expected,
      s"missing=${expected diff got} extra=${got diff expected}")
  }

  test("referential + consistency checks match the uninterrupted run") {
    val all = runViol("x")
    for (check <- Seq("referential_caption_exists", "caption_consistent")) {
      val expected = fullKeyViol(check)
      assert(expected.nonEmpty && violSet(all, check) == expected, check)
    }
  }

  test("orphan captions: store is twin-consistent per run, duplicate-free") {
    val all = runViol("x")
    // Each run reports what a full `keyChecks` over the data PRESENT AT
    // THAT MOMENT would report for not-yet-done
    // partitions, and never re-appends a (part, image_id) pair a prior run
    // stored. Run 1's table has first-half images but ALL captions, so
    // every caption whose id is not a first-half image id is an orphan as
    // of run 1 (run_id provenance makes that honest); run 2's fresh check
    // of the second half against the full index finds nothing new.
    val firstIds = genRows.filter(r => firstHalf.contains(r.part)).map(_.image_id).toSet
    val expected = genCaps.filterNot(c => firstIds.contains(c.image_id))
      .map(_.image_id).toSet
    val got = violSet(all, "referential_image_exists")
    assert(expected.nonEmpty && got == expected,
      s"missing=${expected diff got} extra=${got diff expected}")
    // never duplicated across resumed runs (the append-only store used
    // to accumulate one copy per run for long-done partitions)
    val dupRows = all.filter(col("check") === "referential_image_exists")
      .groupBy("image_id").count().filter(col("count") > 1).count()
    assert(dupRows == 0, s"$dupRows orphan captions reported more than once")
    // VERDICT rows count PRE-dedup candidates: a second-half partition's
    // run-2 verdict must match an uninterrupted run's orphan count for
    // that partition, even though those orphans were stored by run 1 (one
    // violation per orphan caption ROW)
    val run2Verd = spark.read.parquet(s"$outDir/verdicts")
      .filter(col("run_id") === "run2" && col("check") === "referential_image_exists")
      .collect().map(r => r.getAs[String]("part") -> r.getAs[Long]("n_violations")).toMap
    val fullCounts = orphanCaps.groupBy(_.part).map { case (p, cs) => p -> cs.size.toLong }
    for (p <- secondHalf)
      assert(run2Verd.getOrElse(p, 0L) == fullCounts.getOrElse(p, 0L),
        s"$p: run2 verdict=${run2Verd.get(p)} full run=${fullCounts.get(p)}")
  }

  test("caption-only partitions (no image rows ever) are checked, exactly once") {
    val w4 = "target/resume-cap-only-test"
    val data4 = s"$w4/data"; val out4 = s"$w4/out"
    FileUtils.deleteQuietly(new File(w4))
    FileUtils.copyDirectory(new File(srcDir), new File(data4))
    val stash = new File(s"$w4/stash"); stash.mkdirs()
    secondHalf.foreach { p =>
      FileUtils.moveDirectory(new File(s"$data4/images/part=$p"),
        new File(s"$w4/stash/part=$p"))
    }
    // a partition that exists ONLY on the captions side: one caption
    // referencing a nonexistent image (true orphan — the incremental path
    // used to skip it forever because no image rows ever make the part
    // pending), one referencing a first-half image id (never an orphan)
    import spark.implicits._
    val firstId = ImageGen.genRow(
      (0L until N).find(i => firstHalf.contains(ImageGen.genRow(i, np).part)).get, np).image_id
    Seq(("ghost-cap-1", "refers to nothing"), (firstId, "refers to a real image"))
      .toDF("image_id", "caption")
      .coalesce(1).write.parquet(s"$data4/captions/part=pz")
    ImageSuite.runAndCheckpoint(spark, data4, out4, "run1")
    secondHalf.foreach { p =>
      FileUtils.moveDirectory(new File(s"$w4/stash/part=$p"),
        new File(s"$data4/images/part=$p"))
    }
    ImageSuite.runAndCheckpoint(spark, data4, out4, "run2")
    val orphans = spark.read.parquet(s"$out4/violations")
      .filter(col("check") === "referential_image_exists" && col("part") === "pz")
      .collect()
    assert(orphans.length == 1, s"expected exactly one pz orphan row, got ${orphans.length}")
    assert(orphans.head.getAs[String]("image_id") == "ghost-cap-1")
    assert(orphans.head.getAs[String]("run_id") == "run1",
      "caption-only partition was not checked on the first run")
  }

  test("cross-run NDV from persisted HLL sketches matches the uninterrupted run") {
    ranBothPhases
    // uninterrupted reference over the intact source (separate outDir)
    val refOut = "target/resume-hll-ref"
    FileUtils.deleteQuietly(new File(refOut))
    ImageSuite.runAndCheckpoint(spark, srcDir, refOut, "ref")
    def ndv(out: String, run: String): Double =
      spark.read.parquet(s"$out/metrics")
        .filter(col("metric") === "ndv_image_id_hll" && col("run_id") === run)
        .select("value").collect()(0).getDouble(0)
    // run2 merged run1's PERSISTED per-partition sketches (that data was
    // deleted before run2) with fresh second-half sketches — agreement with
    // the uninterrupted run is only possible via the sketch store. HLL
    // sketch bytes depend on the partial-merge task layout, so agreement is
    // to sketch tolerance, not bit-exact; both must also sit within 1% of
    // the TRUE distinct count (computed from the generator model).
    val trueNdv = (0L until N).map(i => ImageGen.genRow(i, np).image_id).distinct.size
    val resumed = ndv(outDir, "run2"); val ref = ndv(refOut, "ref")
    assert(math.abs(resumed - ref) / ref < 0.01, s"resumed=$resumed ref=$ref")
    assert(math.abs(ref - trueNdv) / trueNdv < 0.01, s"ref=$ref true=$trueNdv")
    assert(math.abs(resumed - trueNdv) / trueNdv < 0.01, s"resumed=$resumed true=$trueNdv")
  }

  test("drift on resume merges stored partials: chi2 exactly matches full run") {
    ranBothPhases
    // run2's drift verdicts (latest run) vs the uninterrupted reference
    val run2 = spark.read.parquet(s"$outDir/verdicts")
      .filter(col("run_id") === "run2" && col("check").startsWith("drift_chi2"))
      .collect().map(r => (r.getAs[String]("part"), r.getAs[String]("check")) ->
        r.getAs[Double]("metric")).toMap
    val ref = fullDriftVerd.filter(_._2.startsWith("drift_chi2"))
      .map(v => (v._1, v._2) -> v._3).toMap
    assert(run2.keySet == ref.keySet)
    for ((k, m) <- ref)
      assert(math.abs(run2(k) - m) < 1e-12, s"$k: run2=${run2(k)} ref=$m")
  }

  test("keys appended by a crashed run (no state row) do not poison the retry") {
    val w2 = "target/resume-crash-test"
    val data2 = s"$w2/data"; val out2 = s"$w2/out"
    FileUtils.deleteQuietly(new File(w2))
    FileUtils.copyDirectory(new File(srcDir), new File(data2))
    val stash = new File(s"$w2/stash"); stash.mkdirs()
    secondHalf.foreach { p =>
      FileUtils.moveDirectory(new File(s"$data2/images/part=$p"),
        new File(s"$w2/stash/part=$p"))
    }
    ImageSuite.runAndCheckpoint(spark, data2, out2, "run1")
    secondHalf.foreach { p =>
      FileUtils.moveDirectory(new File(s"$w2/stash/part=$p"),
        new File(s"$data2/images/part=$p"))
    }
    // simulate a run over the second half that wrote its keys (same
    // partitioned writer the engine uses) and then DIED before writing
    // its state rows
    ImageGen.images(spark, data2)
      .filter(col("part").isin(secondHalf: _*))
      .select("image_id", "part")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("part").parquet(s"$out2/keys")
    ImageSuite.runAndCheckpoint(spark, data2, out2, "run2")
    // without the done-partition filter on the key index, every second-half
    // row would now be a false cross-run duplicate
    val got = violSet(spark.read.parquet(s"$out2/violations"), "uniqueness_image_id")
    assert(got == fullKeyViol("uniqueness_image_id"),
      s"false duplicates after crash-retry: extra=${got diff fullKeyViol("uniqueness_image_id")}")
    // and the retry's dynamic overwrite must not leave duplicate key rows
    // (appending would double n_old for these images forever after)
    assert(spark.read.parquet(s"$out2/keys").count() == N,
      "stale crash keys were not overwritten")
  }

  test("legacy flat-append side stores are migrated to the partitioned layout") {
    import org.apache.spark.sql.Encoders
    val w3 = "target/resume-legacy-test"
    val data3 = s"$w3/data"; val out3 = s"$w3/out"
    FileUtils.deleteQuietly(new File(w3))
    FileUtils.copyDirectory(new File(srcDir), new File(data3))
    // fabricate a run-1 checkpoint in the OLD flat-append layout: first
    // half done, keys and drift partials as root-level files with `part`
    // as a data column
    val firstImgs = ImageGen.images(spark, data3)
      .filter(col("part").isin(firstHalf: _*))
    firstImgs.select("image_id", "part").write.parquet(s"$out3/keys")
    val partials = Drift.partials(
      firstImgs.select("image_id", "part", "w", "h", "caption")).collect()
    spark.createDataset(partials.toSeq)(Encoders.product[Drift.DriftPartial])
      .write.parquet(s"$out3/drift_partials")
    spark.createDataset(firstHalf.map(p => StateRow(p, "done", 0L, 0L, "legacy", 0L)))(
        Encoders.product[StateRow]).toDF()
      .write.parquet(s"$out3/state")

    ImageSuite.runAndCheckpoint(spark, data3, out3, "run2")

    // stores migrated: part= dirs, no root-level parquet files left
    for (store <- Seq("keys", "drift_partials")) {
      val p = new org.apache.hadoop.fs.Path(s"$out3/$store")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = fs.listStatus(p)
      assert(!entries.exists(e => e.isFile && e.getPath.getName.endsWith(".parquet")),
        s"$store still has legacy root files")
      assert(entries.exists(e => e.isDirectory && e.getPath.getName.startsWith("part=")),
        s"$store not partitioned after migration")
    }
    assert(spark.read.parquet(s"$out3/keys").count() == N)
    // cross-run duplicates spanning the legacy keys are still detected
    val rows = (0L until N).map(ImageGen.genRow(_, np))
    val expected = rows.groupBy(_.image_id).filter(_._2.size > 1)
      .filter(_._2.exists(r => secondHalf.contains(r.part))).keySet
    val got = violSet(spark.read.parquet(s"$out3/violations")
      .filter(col("run_id") === "run2"), "uniqueness_image_id")
    assert(expected.nonEmpty && got == expected,
      s"missing=${expected diff got} extra=${got diff expected}")
  }

  test("drift KS from merged stored digests stays within sketch tolerance") {
    ranBothPhases
    val run2 = spark.read.parquet(s"$outDir/verdicts")
      .filter(col("run_id") === "run2" && col("check").startsWith("drift_ks"))
      .collect().map(r => (r.getAs[String]("part"), r.getAs[String]("check")) ->
        r.getAs[Double]("metric")).toMap
    val ref = fullDriftVerd.filter(_._2.startsWith("drift_ks"))
      .map(v => (v._1, v._2) -> v._3).toMap
    assert(run2.keySet == ref.keySet)
    for ((k, m) <- ref)
      assert(math.abs(run2(k) - m) < 0.05, s"$k: run2=${run2(k)} ref=$m")
  }

  test("a failing commit leg: every leg is joined, no state row, the retry matches") {
    val w5 = "target/resume-failing-leg-test"
    val out5 = s"$w5/out"; val ref5 = s"$w5/ref"
    FileUtils.deleteQuietly(new File(w5))
    // the metrics append fails: its store path is a regular file
    val blocker = new File(s"$out5/metrics")
    blocker.getParentFile.mkdirs()
    FileUtils.writeStringToFile(blocker, "not a store", "UTF-8")
    // job start and end times, to see whether any job of the call outlives it
    val jobEvents = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobEvents.add(e.time)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobEvents.add(e.time)
    }
    spark.sparkContext.addSparkListener(l)
    val thrownAt = try {
      intercept[Exception](ImageSuite.runAndCheckpoint(spark, srcDir, out5, "failed"))
      val t = System.currentTimeMillis()
      // a leg left running would start or end a job meanwhile
      Thread.sleep(2000)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      t
    } finally spark.sparkContext.removeSparkListener(l)
    // no job of the call still runs, and none started or ended after it
    // threw: the legs beside the failing one were joined before it rethrew
    val active = spark.sparkContext.statusTracker.getActiveJobIds
    assert(active.isEmpty, s"jobs still running after the call threw: ${active.mkString(",")}")
    val late = jobEvents.toArray.count(_.asInstanceOf[java.lang.Long] > thrownAt)
    assert(late == 0, s"$late job starts or ends after the call threw")
    assert(ImageSuite.readDoneParts(spark, s"$out5/state").isEmpty,
      "a state row was written although a leg failed")

    assert(blocker.delete())
    ImageSuite.runAndCheckpoint(spark, srcDir, out5, "retry")
    ImageSuite.runAndCheckpoint(spark, srcDir, ref5, "ref")
    def verdicts(out: String, run: String): Map[(String, String), Verdict] = {
      import spark.implicits._
      spark.read.parquet(s"$out/verdicts").filter(col("run_id") === run)
        .drop("score").withColumn("run_id", lit("-")).as[Verdict].collect()
        .map(v => (v.part, v.check) -> v).toMap
    }
    val retried = verdicts(out5, "retry"); val ref = verdicts(ref5, "ref")
    assert(retried.keySet == ref.keySet && ref.nonEmpty)
    for ((k, v) <- ref) {
      val r = retried(k)
      // KS reads t-digests whose merge order follows shuffle fetch order:
      // equal to sketch tolerance; every other verdict is exact
      if (k._2.startsWith("drift_ks"))
        assert(r.copy(metric = 0.0, pass = true) == v.copy(metric = 0.0, pass = true) &&
          math.abs(r.metric - v.metric) < 0.05, s"$k: retry=$r ref=$v")
      else assert(r == v, s"$k: retry=$r ref=$v")
    }
    val keyChecks = Seq("uniqueness_image_id", "referential_caption_exists",
      "referential_image_exists", "caption_consistent")
    def keyViolations(out: String, run: String): Set[Seq[String]] =
      spark.read.parquet(s"$out/violations")
        .filter(col("run_id") === run && col("check").isin(keyChecks: _*))
        .select("part", "image_id", "check", "observed", "expected").collect()
        .map(r => (0 until 5).map(r.getString)).toSet
    val retriedViol = keyViolations(out5, "retry"); val refViol = keyViolations(ref5, "ref")
    assert(refViol.nonEmpty && retriedViol == refViol,
      s"missing=${refViol diff retriedViol} extra=${retriedViol diff refViol}")
  }
}
