package graft

import org.apache.spark.sql.functions._

/** Deletion-vector lifecycle: the delete must write positions instead of
  * rewriting data files, the masked read must drop exactly the predicate
  * rows, time travel to v0 must still see them, and the v2 compaction
  * must serve the identical live set with the sidecar gone.
  */
class DeleteVectorSpec extends SparkSpec {

  private lazy val path = queries.Physical.dvSinkStaged(spark, sf)

  private def manifest(v: Int): Seq[String] =
    queries.Physical.readManifestLines(spark, path, f"v$v%05d.manifest")

  test("the DV delete carries every v0 data file by reference and adds " +
    "only a sidecar — merge-on-read wrote no data") {
    val v0 = manifest(0).filterNot(_.startsWith("#"))
    val v1 = manifest(1).filterNot(_.startsWith("#"))
    assert(v0 === v1, "a DV delete must not rewrite or drop data files")
    assert(manifest(1).exists(_.startsWith("# dv=")),
      "v1 must reference its deletion vector")
    assert(!manifest(2).exists(_.startsWith("# dv=")),
      "compaction must drop the sidecar")
  }

  test("masked read drops exactly the predicate rows; v0 time travel " +
    "still sees them") {
    val v0 = queries.Physical.manifestRead(spark, path, Some(0))
    val v1 = queries.Physical.manifestRead(spark, path, Some(1))
    assert(v1.filter(col("o_orderkey") % 7 === 3).count() === 0,
      "deleted rows must be invisible through the DV")
    val nDeleted = v0.filter(col("o_orderkey") % 7 === 3).count()
    assert(nDeleted > 0, "fixture must actually delete something")
    assert(v0.count() === v1.count() + nDeleted,
      "the mask must drop nothing beyond the predicate rows")
    // the sidecar is positions-only and exactly one row per deleted row
    val dvPath = manifest(1).find(_.startsWith("# dv="))
      .get.stripPrefix("# dv=")
    val dv = spark.read.parquet(dvPath)
    assert(dv.columns.sorted === Array("file_path", "row_index"))
    assert(dv.count() === nDeleted)
  }

  test("v2 compaction serves the identical live set row for row") {
    val v1 = queries.Physical.manifestRead(spark, path, Some(1))
      .orderBy("o_orderkey").collect()
    val v2 = queries.Physical.manifestRead(spark, path, Some(2))
      .orderBy("o_orderkey").collect()
    assert(v1 === v2)
  }
}
