package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, local[4]). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  private val tempDirs = scala.collection.mutable.ArrayBuffer[Path]()

  /** A fresh system temp directory (its path), deleted with everything in
    * it when the suite ends. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(SparkTestBase.deleteTree))
    finally super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Delete `root` and everything under it; a missing path is a no-op. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
