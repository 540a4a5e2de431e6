package graft.streaming

import graft.{SparkSpec, TempDirSpec, TimedSpec}
import graft.tsdb.{AggBuilder, AggKind, Db, Duration, Ingest}

class StreamingRollupSpec extends SparkSpec with TempDirSpec with TimedSpec {

  test("streaming-maintained rollup answers identically to the raw batch aggregation") {
    val base = s"$tempDir/stream_rollup"
    // the file source watches a DIRECTORY (landing zone); the sf table
    // is a single parquet file — link it into one
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/landing"))
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$base/landing/events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet").toAbsolutePath.normalize())
    StreamingRollup.rollupAvailable(
      spark, s"$base/landing", s"$base/dest", s"$base/ckpt",
      Duration.hours(1))
    val rollup = Ingest.openRollup(spark, s"$base/dest", Duration.hours(1))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = AggBuilder(Db.fromEvents(spark, sfDir), AggKind.Avg,
      "purchase", "user").granularity(Duration.days(1)).build()
    val expected = key(direct)
    assert(key(rollup.avg("purchase", "user", Duration.days(1))) == expected)

    def totals() = key(Ingest.openRollup(spark, s"$base/dest", Duration.hours(1))
      .avg("purchase", "user", Duration.days(1)))
    // exactly-once: a crash between the parquet job and the checkpoint
    // commit makes foreachBatch re-execute the batch — simulate the
    // replay by re-landing batch 0 (same id, same data) and assert no
    // aggregate moved (the overwrite replaced, not duplicated)
    Ingest.appendRollupBatch(Db.fromEvents(spark, sfDir), s"$base/dest",
      Duration.hours(1), batchId = 0L)
    assert(totals() == expected, "replayed batch must not double-count")
    // and a batch whose write never completed (no _SUCCESS) is pruned
    // at open instead of being served half-written
    val crashed = new java.io.File(s"$base/dest/batch_id=99")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$base/dest/batch_id=0"), crashed)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(crashed, "_SUCCESS"))
    assert(totals() == expected, "incomplete batch must be pruned at open")
  }

  test("ensureStreamed builds once, caches, and answers like the batch aggregation") {
    val p1 = StreamingRollup.ensureStreamed(spark, sfDir, Duration.hours(1))
    // the layout is marked complete: a build at its path does not run
    graft.io.Artifact.once(spark, p1)(fail("streamed rollup not marked complete"))
    // second call serves the cached layout (same path, no rebuild)
    val (p2, jobs) = jobsDuring(StreamingRollup.ensureStreamed(spark, sfDir, Duration.hours(1)))
    assert(p2 == p1 && jobs == 0, s"second ensure launched $jobs job(s)")
    val direct = AggBuilder(Db.fromEvents(spark, sfDir), AggKind.Avg,
      "purchase", "user").granularity(Duration.days(1)).build()
      .collect().map(_.toString).sorted
    val streamed = Ingest.openRollup(spark, p1, Duration.hours(1))
      .avg("purchase", "user", Duration.days(1))
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(direct))
  }
}
