package graft.validation

import graft.SparkTestBase
import java.nio.file.{Files, Paths}

/** The persisted decoded-facts bridge is content-keyed per tier
  * (`$FactsRoot/tier=<md5(sfDir)>`) with write-once atomic publication:
  * different tiers touch disjoint directories (two concurrent JVMs on
  * different tiers cannot corrupt each other), same-tier publication is
  * an atomic rename (a reader can never observe `_temporary` or a
  * half-written table), and the loser of a same-tier race discards its
  * temp and reads the winner's bit-identical output.
  */
class FactsTierSpec extends SparkTestBase {

  test("tiers live in disjoint content-keyed directories that coexist") {
    val pa = ImageSuiteQueries.factsPath("/x/sf0.0001")
    val pb = ImageSuiteQueries.factsPath("/x/sf0.0005")
    assert(pa != pb, "per-tier paths must differ")
    // rowsFor: sf0.0001 → 2000 (floor), sf0.0005 → 2500
    val a = ImageSuiteQueries.ensureFacts(spark, "/x/sf0.0001").count()
    val b = ImageSuiteQueries.ensureFacts(spark, "/x/sf0.0005").count()
    val a2 = ImageSuiteQueries.ensureFacts(spark, "/x/sf0.0001").count()
    assert(a == 2000L && b == 2500L)
    assert(a2 == a, s"stale facts after tier switch: got $a2 rows, expected $a")
    // BOTH tier directories exist fully published — no overwrite happened
    assert(Files.exists(Paths.get(pa, "_SUCCESS")))
    assert(Files.exists(Paths.get(pb, "_SUCCESS")))
  }

  test("revisiting a published tier is a pure read (no rewrite)") {
    ImageSuiteQueries.ensureFacts(spark, "/x/sf0.0001").count()
    val p = Paths.get(ImageSuiteQueries.factsPath("/x/sf0.0001"))
    val before = Files.list(p).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (before.hasNext) names += before.next().getFileName.toString
    val mtime = Files.getLastModifiedTime(p.resolve("_SUCCESS"))
    ImageSuiteQueries.ensureFacts(spark, "/x/sf0.0001").count()
    assert(Files.getLastModifiedTime(p.resolve("_SUCCESS")) == mtime,
      "revisit rewrote a published tier")
    assert(names.nonEmpty)
  }

  test("publishOnce: race loser discards its temp, winner's output intact") {
    val root = tempDir("pubonce")
    val dst = s"$root/out"
    // writer A publishes normally
    ImageSuiteQueries.publishOnce(dst) { tmp =>
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "data.txt"), "winner")
      Files.writeString(Paths.get(tmp, "_SUCCESS"), "")
    }
    assert(Files.readString(Paths.get(dst, "data.txt")) == "winner")
    // writer B loses the race: its write fn runs (dst already published is
    // detected BEFORE writing, so simulate a true race by removing the
    // marker check path: call publishOnce against a dst whose _SUCCESS
    // appears between the check and the rename)
    var wrote = false
    ImageSuiteQueries.publishOnce(dst) { _ => wrote = true }
    assert(!wrote, "publishOnce must skip when _SUCCESS already exists")
    // simulate the rename-collision branch directly: dst exists but has no
    // _SUCCESS marker (half-published by an older layout) → B writes a tmp,
    // rename fails, tmp is cleaned up, dst untouched
    val dst2 = s"$root/out2"
    Files.createDirectories(Paths.get(dst2))
    Files.writeString(Paths.get(dst2, "data.txt"), "existing")
    ImageSuiteQueries.publishOnce(dst2) { tmp =>
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "data.txt"), "loser")
      Files.writeString(Paths.get(tmp, "_SUCCESS"), "")
    }
    assert(Files.readString(Paths.get(dst2, "data.txt")) == "existing")
    val leftovers = Files.list(Paths.get(root)).iterator()
    var n = 0
    while (leftovers.hasNext) { leftovers.next(); n += 1 }
    assert(n == 2, s"temp dirs must be cleaned up, found $n entries")
  }

  test("image-table snapshot fingerprints flag exactly the rewritten partition") {
    val rows = ImageSuiteQueries.queries("q_i_snap_dirty")(spark, "/x/sf0.0005")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (part, status) = (r.getAs[String]("part"), r.getAs[String]("status"))
      val expect = if (part == "p3") "dirty" else "clean"
      assert(status == expect, s"$part: $status != $expect")
      // caption rewrite changes content, never cardinality
      assert(r.getAs[Long]("base_rows") == r.getAs[Long]("cur_rows"))
    }
  }
}
