package graft.streaming

import graft.{SparkSpec, TempDirSpec, TimedSpec}
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingVocabSpec extends SparkSpec with TempDirSpec with TimedSpec {

  test("streamed running vocab equals the batch word count; top-k matches vocabTopK") {
    val base = s"$tempDir/stream_vocab"
    val landing = s"$base/landing"

    // land the corpus as several files → several micro-batches, so the
    // running counts genuinely accumulate across state-store updates
    spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(4).write.parquet(landing)

    val q = StreamingVocab.tokenCounts(StreamingVocab.docsStream(spark, landing))
      .writeStream.format("memory").queryName("stream_vocab")
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()

    val changelog = spark.table("stream_vocab")
    // counts are monotone: latest per token == max per token
    val finalCounts = changelog.groupBy("token").agg(max("cnt").as("cnt"))
    val gotMap = finalCounts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotMap == batch)

    // multiple micro-batches actually ran: some token must have been
    // emitted with more than one running total
    val emissions = changelog.groupBy("token").agg(countDistinct("cnt").as("d"))
      .agg(max("d")).collect()(0).getLong(0)
    assert(emissions > 1, "expected multi-batch accumulation, got a single batch")

    // derived top-k (cnt desc, token) equals the batch operator
    val gotTop = finalCounts.orderBy(col("cnt").desc, col("token")).limit(100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batchTop = TextAnalysis.vocabTopK(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotTop == batchTop)
  }

  test("streamedDeltaSpans == the batch incremental == the full run on delta docs") {
    // the 22nd streamed entry's witness: gram counts folded across
    // micro-batches, compacted (max per gram), dup set joined to delta
    // instances — row-identical to the persisted-index batch plan AND
    // to the full-corpus spans restricted to delta docs
    val streamed = StreamingVocab.streamedDeltaSpans(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val inc = TextAnalysis.dedupSpansIncremental(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val full = TextAnalysis.dedupSpans(spark, sfDir)
      .where(col("doc_id") % 10 === 0)
      .collect().map(_.toSeq).toSet
    assert(streamed == inc)
    assert(streamed == full)
    assert(streamed.nonEmpty, "expected delta spans on this corpus")
    // _DONE-guarded: a reopen answers without restarting the stream
    assert(StreamingVocab.streamedDeltaSpans(spark, sfDir)
      .collect().map(_.toSeq).toSet == streamed)
  }

  test("gram/vocab maintenance streams run on RocksDB state with sidecar telemetry") {
    // the unbounded-key streams must carry their state on the RocksDB
    // provider (vocabulary-sized state never fits the default
    // in-heap provider at corpus scale) and must leave the telemetry
    // sidecar the bench's streamed_state section reads
    val layouts = Seq(StreamingVocab.ensureStreamed(spark, sfDir),
      StreamingVocab.ensureGramStreamed(spark, sfDir))
    for (p <- layouts) {
      val f = java.nio.file.Paths.get(p, "_STATE.json")
      assert(java.nio.file.Files.exists(f), s"missing state sidecar under $p")
      val s = java.nio.file.Files.readString(f)
      assert(s.contains("\"provider\":\"rocksdb\""), s)
      // state genuinely accumulated across micro-batches
      assert("\"batches\":(\\d+)".r.findFirstMatchIn(s)
        .exists(_.group(1).toInt > 1), s)
      assert("\"state_rows\":(\\d+)".r.findFirstMatchIn(s)
        .exists(_.group(1).toLong > 0L), s)
    }
    // and the provider switch must not leak into the session conf the
    // bounded series-keyed streams run under
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").forall(
      !_.contains("RocksDB")))
  }

  test("ensureStreamed changelog compaction answers the batch top-k; reopen is idempotent") {
    val got = StreamingVocab.streamedVocabTopK(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batchTop = TextAnalysis.vocabTopK(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == batchTop)
    // _DONE-guarded: a second open answers without restarting the stream
    assert(StreamingVocab.streamedVocabTopK(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == batchTop)
  }
}
