package graft.operators

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

/** The stale-cache hazard the round-7 environment exposed: testdata was
  * regenerated IN PLACE, and any layout keyed on path+params alone
  * would have silently served indexes built from the dead corpus. The
  * `ensure*` cache paths embed a content fingerprint (file sizes +
  * mtimes), so an in-place rewrite must land on a NEW path and rebuild.
  */
class IvfRebuildSpec extends SparkSpec with TempDirSpec {

  test("in-place corpus regeneration rebuilds the IVF index, not serves the stale one") {
    val tmp = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "ivf_rebuild"))
    val dst = tmp.resolve("embeddings.parquet")

    // v1 corpus: 64 sf0.001 vectors
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 64).coalesce(1)
      .write.mode("overwrite").parquet(dst.toString)
    def ensure() = {
      val e = Similarity.vecs(spark, tmp.toString)
      IvfIndex.ensure(spark, tmp.toString, "first", nlist = 4, iters = 0,
        train = () => Similarity.firstVectorCentroids(e, 4), corpus = e)
    }
    val idx1 = ensure()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx1.path, "assign", "_SUCCESS")))
    assert(IvfIndex.open(spark, idx1).count() == 64)

    // regenerate IN PLACE: fewer rows, same file name/location
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 32).coalesce(1)
      .write.mode("overwrite").parquet(dst.toString)

    val idx2 = ensure()
    assert(idx2.path != idx1.path,
      "regenerated corpus must key a NEW index path, not reuse the stale one")
    assert(IvfIndex.open(spark, idx2).count() == 32,
      "rebuilt index must hold exactly the regenerated corpus's vectors")
  }
}
