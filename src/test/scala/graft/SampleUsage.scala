package graft

/** Package-boundary sample: what an external user of the library would
  * write. Run: sbt "Test/runMain graft.SampleUsage"
  */
object SampleUsage {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 1. streaming: file-stream windowed counts (public API)
    val dir = java.nio.file.Files.createTempDirectory("sample-events").toString
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val wc = graft.streaming.StreamingValidation.runFileStreamOnce(
      spark, dir, s"$dir/ckpt", "sample_wc")
    println(s"STREAM windowed rows=${wc.count()}")
    wc.show(3, truncate = false)

    // 2. multimodal: batched feature extraction over mixed media
    val media = graft.multimodal.BinaryPipeline.synthMedia(spark, 90)
    val feats = graft.multimodal.BinaryPipeline.extractFeatures(media)
    println("MEDIA features by kind:")
    feats.groupBy("kind").count().show()

    // 3. native expression through the Column API
    val imgDir = graft.images.ImageGen.ensure(spark, 2000L, "target/test-images")
    val facts = graft.images.ImageGen.images(spark, imgDir)
      .select($"image_id",
        graft.functions.ImageFactsExpr.imageFacts($"bytes", $"image_id").as("f"))
    println("EXPR decode_ok counts:")
    facts.groupBy($"f.decode_ok").count().show()
    spark.stop()
    SparkTestBase.deleteTree(java.nio.file.Paths.get(dir))
  }
}
