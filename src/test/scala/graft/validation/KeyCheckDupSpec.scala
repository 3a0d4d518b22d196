package graft.validation

import graft.SparkTestBase

/** Violation-row multiplicity of the key-check kernel on planted
  * caption-multiplicity inputs, which the generated corpus never plants.
  * Uniqueness counts IMAGE rows, never joined rows: an image_id with one
  * image row but several caption rows is unique, and a genuinely
  * duplicated image row yields exactly one violation row per offending
  * image row. Orphan and mismatch rows are one per CAPTION row. These are
  * the multiplicities the q_i_keychecks / q_i_violations DuckDB oracles
  * recompute.
  */
class KeyCheckDupSpec extends SparkTestBase {

  test("duplicate caption ids do not inflate uniqueness; rows per check") {
    import spark.implicits._
    val light = Seq(
      ("i1", "p0", 8, 8, "cap one"),
      ("i2", "p0", 8, 8, "cap two"),
      ("i3", "p1", 8, 8, "cap three"),
      ("i3", "p1", 8, 8, "cap three"), // genuine duplicate image id
      ("i5", "p1", 8, 8, "cap five")   // no caption row
    ).toDF("image_id", "part", "w", "h", "caption")
    val caps = Seq(
      ("i1", "p0", "cap one"),
      ("i1", "p0", "cap one"), // duplicated caption row for a unique image
      ("i1", "p0", "cap uno"), // mismatched caption on the duplicated id
      ("i2", "p0", "cap two"),
      ("i3", "p1", "cap three"),
      ("i9", "p1", "orphan")   // caption without an image row
    ).toDF("image_id", "part", "caption")

    val (verd, viol) = ImageSuite.keyChecks(light, caps, "t")
    val rows = viol.select("check", "part", "image_id", "observed", "expected")
      .as[(String, String, String, String, String)].collect().toSeq
    assert(rows.groupBy(_._1).map { case (c, rs) => c -> rs.size } == Map(
      "uniqueness_image_id" -> 2,
      "referential_caption_exists" -> 1,
      "referential_image_exists" -> 1,
      "caption_consistent" -> 1), s"violation rows: $rows")
    assert(rows.filter(_._1 == "uniqueness_image_id").toSet ==
      Set(("uniqueness_image_id", "p1", "i3", "key seen 2 times", "unique image_id")))
    assert(rows.filter(_._1 != "uniqueness_image_id").toSet == Set(
      ("referential_caption_exists", "p1", "i5", "no caption row", "caption row exists"),
      ("referential_image_exists", "p1", "i9", "caption without image", "image row exists"),
      ("caption_consistent", "p0", "i1", "cap uno", "cap one")))

    val counts = verd.select("part", "check", "n_rows", "n_violations")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(counts == Map(
      ("p0", "uniqueness_image_id") -> (2L, 0L),
      ("p0", "referential_caption_exists") -> (2L, 0L),
      ("p0", "referential_image_exists") -> (2L, 0L),
      ("p0", "caption_consistent") -> (2L, 1L),
      ("p1", "uniqueness_image_id") -> (3L, 2L),
      ("p1", "referential_caption_exists") -> (3L, 1L),
      ("p1", "referential_image_exists") -> (3L, 1L),
      ("p1", "caption_consistent") -> (3L, 0L)), s"verdict counts: $counts")
  }
}
