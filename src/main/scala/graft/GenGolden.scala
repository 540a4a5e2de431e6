package graft

/** Golden-artifact generator: writes `SparkEntry.queries(name)` output
  * at sf0.01 to `SparkEntry.GoldenDir/<name>` as one parquet file, which
  * the entry's oracle SQL then reads back via DuckDB `read_parquet`.
  *
  * This is the oracle mechanism for queries whose values hinge on
  * xxhash64 / byte-level parsing / trained index state that DuckDB
  * cannot recompute (SURVEY §6): the committed artifact pins output
  * stability across runs, partitionings, and refactors, while semantic
  * correctness is carried by each operator's ScalaTest specs (recall
  * bounds vs same-measure ground truth, subset-of-exhaustive with
  * exact cosines, native==HOF bit-equality, plan assertions).
  *
  * Every goldenized pipeline is deterministic end-to-end: fixed
  * hyperplanes and permutations derived from xxhash64, deterministic
  * k-means init with disk-cached centroids ([[graft.operators.IvfIndex]]),
  * corpus-sized LSH plans that depend only on (threshold, row count),
  * and total-order rank tiebreaks. Regenerate (run this main) ONLY on
  * an intentional kernel-contract change, then re-run the suite —
  * a stale golden fails Verify rather than silently passing.
  *
  * Arguments name the entries to write; with none, every entry tagged
  * [[SparkEntry.Tag.Golden]] is written.
  */
object GenGolden {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    val targets =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.entries.filter(_.tags(SparkEntry.Tag.Golden)).map(_.name)
    targets.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${SparkEntry.GoldenDir}/$name")
      println(s"golden: $name written")
    }
    spark.stop()
  }
}
