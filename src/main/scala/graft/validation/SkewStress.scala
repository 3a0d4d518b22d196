package graft.validation

import graft.images.ImageGen
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial-scale stress tier (VERDICT r4 #8): the uniform synthetic
  * tier rewritten so ~30% of all rows carry DUPLICATE image_ids collapsed
  * onto [[HotKeys]] hot keys, all concentrated in partition p0. HotKeys
  * is deliberately SMALLER than the shuffle partition count: hot keys
  * spread one-per-reducer produce uniform reducers (no skew at all) —
  * per-partition skew needs key mass concentrated in fewer partitions
  * than the shuffle has (fmt is
  * already 90% jpeg by generator design — the north star's "skew on
  * fmt/phash hot keys"). This is the table shape that melts a naive
  * validation run: the image_id shuffle of the key checks lands 30% of
  * the table on a handful of reducer partitions.
  *
  * What the engine does about it (SkewStressSpec asserts all three):
  *  - the key-check kernel's joins (left-outer on image_id against the
  *    key index, anti joins against the captions) are AQE-skew-splittable
  *    — with realistic thresholds the hot partitions split and the plan
  *    shows `skewed` (a full-outer join could not be split: Spark's
  *    OptimizeSkewedJoin splits neither side of a FullOuter);
  *  - the kernel over an EMPTY key index (a full check) still counts
  *    every hot duplicate correctly;
  *  - end-to-end runAndCheckpoint wall time on the skewed tier stays
  *    within 2× of the uniform tier at equal row count.
  */
object SkewStress {

  val HotKeys = 2
  /** md5-prefix threshold for "~30% of rows": byte < 77 ≈ 30% of 256. */
  val HotByteMax = 77

  /** Plant (once) the skewed tier in ImageGen layout; returns its dir. */
  def ensureSkewedTier(spark: SparkSession, n: Long,
                       baseDir: String = s"${graft.Tables.DataRoot}/images_skew"): String = {
    val dir = s"$baseDir/v${ImageGen.GenVersion}-h$HotKeys-n$n"
    val marker = new java.io.File(s"$dir/_DONE")
    if (marker.exists()) return dir
    val base = ImageGen.ensure(spark, n)
    val hot = expr("cast(conv(substring(md5(image_id), 1, 2), 16, 10) as int)") <
      lit(HotByteMax)
    val images = ImageGen.images(spark, base)
      .withColumn("part", when(hot, lit("p0")).otherwise(col("part")))
      .withColumn("image_id", when(hot,
          concat(lit("img-"), pmod(xxhash64(col("image_id")), lit(HotKeys))))
        .otherwise(col("image_id")))
    images.repartition(col("part"))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (1 << 20).toString)
      .partitionBy("part").parquet(s"$dir/images")
    // captions stay untouched: remapped ids surface as orphan captions and
    // hot ids join ONE caption row each — realistic referential damage,
    // zero join-multiplicity explosion
    ImageGen.captions(spark, base)
      .write.mode(SaveMode.Overwrite).partitionBy("part")
      .parquet(s"$dir/captions")
    marker.getParentFile.mkdirs()
    java.nio.file.Files.writeString(marker.toPath, s"n=$n hot=$HotKeys")
    dir
  }
}
