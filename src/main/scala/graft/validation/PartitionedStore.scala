package graft.validation

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Idempotent per-partition side-store writer shared by the resume key
  * index and the drift-partial store: dynamic partition overwrite keyed by
  * `part` (a crash-retry REPLACES the crashed run's rows instead of
  * duplicating them) plus a listing-cache refresh (the overwrite deletes
  * files the session's FileStatusCache may still serve).
  *
  * Also migrates, once, a store written by the legacy flat-append layout
  * (root-level parquet files with `part` as a data column): without the
  * migration, a partitioned write into such a directory would leave a
  * mixed layout that fails partition discovery on every later read.
  */
object PartitionedStore {

  def write(df: DataFrame, dir: String): Unit = {
    migrateLegacy(df.sparkSession, dir)
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part").parquet(dir)
    df.sparkSession.catalog.refreshByPath(dir)
  }

  /** Crash-safe in-place rewrite skeleton, shared by the layout migration
    * below and the violations-store schema migration (`ImageSuite`): the
    * live dir is first RENAMED aside (atomic) to `dir + ".legacy"`,
    * `rewrite(legacyPath)` writes the new form to `dir` reading from that
    * copy, and the legacy copy is deleted LAST (the commit point). A crash
    * anywhere in between leaves the authoritative `.legacy` copy on disk;
    * the recovery branch below (runs on every call) discards the possibly-
    * partial `dir` and replays the rewrite — the store is never lost. The
    * previous scheme (delete live dir, then rename a temp in) had a window
    * where a crash dropped the store permanently and the next run silently
    * started from empty keys/partials. `needsRewrite` is consulted only on
    * the non-recovery path, with `dir` known to exist.
    */
  private[validation] def rewriteAside(spark: SparkSession, dir: String)(
      needsRewrite: => Boolean)(rewrite: String => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = new org.apache.hadoop.fs.Path(dir + ".legacy")
    // temp dir of the pre-fix migration scheme: never authoritative
    fs.delete(new org.apache.hadoop.fs.Path(dir + ".migrating"), true)
    if (fs.exists(legacy)) {
      // a previous rewrite crashed after the rename: the legacy copy is
      // authoritative (it is only deleted after a complete rewrite), so
      // whatever is at `dir` is partial — discard and replay
      fs.delete(p, true)
    } else {
      if (!fs.exists(p) || !needsRewrite) return
      require(fs.rename(p, legacy), s"rename $p aside for migration failed")
    }
    rewrite(legacy.toString)
    fs.delete(legacy, true) // commit point: rewrite is complete
    spark.catalog.refreshByPath(dir)
  }

  /** True when [[rewriteAside]] on `dir` with the same `needsRewrite`
    * would write: a crashed rewrite to replay, or a store that needs one.
    */
  private[validation] def rewritePending(spark: SparkSession, dir: String)(
      needsRewrite: => Boolean): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(dir + ".legacy")) ||
      fs.exists(new org.apache.hadoop.fs.Path(dir + ".migrating")) ||
      (fs.exists(p) && needsRewrite)
  }

  /** Rewrite a legacy flat store into the partitioned layout. */
  private def migrateLegacy(spark: SparkSession, dir: String): Unit =
    rewriteAside(spark, dir)({
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // root-level parquet files = flat-append layout (partitioned stores
      // keep data under part= subdirectories only)
      fs.listStatus(p).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }) { legacyPath =>
      spark.read.parquet(legacyPath)
        .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    }
}
