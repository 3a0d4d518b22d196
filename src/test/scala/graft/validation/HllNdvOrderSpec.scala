package graft.validation

import graft.SparkTestBase
import graft.images.ImageGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The cross-run NDV that `runAndCheckpoint` records (`ndv_image_id_hll`)
  * merges one stored HLL sketch per partition. A sketch union's estimate
  * depends on the order it merges in, so the engine folds the sketches in
  * `part` order ([[ImageSuite.ndvOf]]): the same sketches must give the
  * same estimate in every order they arrive in.
  */
class HllNdvOrderSpec extends SparkTestBase {

  test("the NDV of per-partition sketches is the same in every arrival order") {
    val dir = ImageGen.ensure(spark, 2000L, "target/test-images")
    val parts = Seq("p0", "p1", "p2", "p3")
    val images = ImageGen.images(spark, dir).filter(col("part").isin(parts: _*))
    val sketches = images.groupBy("part")
      .agg(hll_sketch_agg(col("image_id")).as("sketch")).collect().toSeq
    assert(sketches.map(_.getString(0)).sorted == parts)
    val schema = StructType.fromDDL("part STRING, sketch BINARY")
    // every order of the four rows, spread over four input splits
    val estimates = sketches.permutations.map { order =>
      ImageSuite.ndvOf(spark.createDataFrame(java.util.Arrays.asList(order: _*), schema)
        .repartition(4))
    }.toSeq
    assert(estimates.size == 24)
    assert(estimates.distinct.size == 1, s"estimates by order: ${estimates.mkString(", ")}")
    val trueNdv = images.select("image_id").distinct().count()
    assert(math.abs(estimates.head - trueNdv).toDouble / trueNdv < 0.01,
      s"estimate ${estimates.head}, true $trueNdv")
  }
}
