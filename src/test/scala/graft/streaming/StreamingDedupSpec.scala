package graft.streaming

import graft.{SparkSpec, TempDirSpec, TimedSpec}
import org.apache.spark.sql.functions._

class StreamingDedupSpec extends SparkSpec with TempDirSpec with TimedSpec {

  test("streaming dedup emits one row per fingerprint, parity with batch exact dedup") {
    import spark.implicits._
    val dir = s"$tempDir/stream_dedup"
    // corpus with planted duplicates (same text, different doc ids)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val seed = docs.orderBy("doc_id").limit(3).collect()
    val clones = seed.zipWithIndex.map { case (r, i) =>
      (5000000L + i, r.getString(1)) }.toSeq.toDF("doc_id", "text")
    docs.union(clones)
      .withColumn("event_ts", timestamp_micros(lit(1700000000000000L) + col("doc_id")))
      .write.parquet(dir)

    val q = StreamingDedup.dedupStream(spark, dir)
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_dedup")

    // one surviving row per distinct fingerprint, same fingerprint SET
    // as the batch operator over the same frame
    val batch = spark.read.parquet(dir)
      .groupBy(graft.functions.TextFunctions.md5Fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() == batch.count())
    assert(got.select("fp").distinct().count() == got.count())
    val g = got.select("fp").collect().map(_.getString(0)).toSet
    val b = batch.select("fp").collect().map(_.getString(0)).toSet
    assert(g == b)
  }

  test("ensureStreamed landing survives planted re-arrivals with exactly one copy per fingerprint") {
    val out = StreamingDedup.streamedFingerprints(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val distinctFp = docs
      .select(graft.functions.TextFunctions.md5Fingerprint(col("text")).as("fp"))
      .distinct().count()
    assert(out.count() == distinctFp)
    assert(out.where(col("n_kept") =!= 1L).count() == 0)
    // idempotent reopen: the _DONE-guarded layout answers without
    // restarting the stream
    assert(StreamingDedup.streamedFingerprints(spark, sfDir).count() == distinctFp)
  }
}
