package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Mirrors the reference's scan surface (SURVEY.md §2.1): the reference
  * reads one-ID-per-line files (`cli.py:21-31`) and fetches keyed entities;
  * here every source is a parquet scan so Catalyst gets pushdown + pruning
  * for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Root of every generated dataset and persisted cache (`images`,
    * `images_skew`, `image_facts`, `image_keycheck`, `ann_store`,
    * `bpe_store`): `-Dgraft.data.dir` / `$GRAFT_DATA_DIR`, else `data`
    * under the working directory. Resolved once to an absolute path,
    * because the DuckDB oracle SQL embeds the facts, keys and baseline
    * paths. */
  val DataRoot: String = new java.io.File(sys.props.get("graft.data.dir")
    .orElse(sys.env.get("GRAFT_DATA_DIR")).getOrElse("data")).getAbsolutePath

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
