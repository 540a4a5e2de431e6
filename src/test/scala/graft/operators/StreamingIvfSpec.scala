package graft.operators

import graft.{SparkSpec, TempDirSpec, TimedSpec}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming maintenance of the materialized IVF index: new embedding
  * files land in a directory, each micro-batch is assigned against the
  * STORED centroids and appended to its inverted-list partitions
  * ([[IvfIndex.append]]) — the streaming half of "the coarse quantizer
  * is fixed; new vectors land in its cells". The end state must be
  * indistinguishable from having built the index over the full corpus.
  */
class StreamingIvfSpec extends SparkSpec with TempDirSpec with TimedSpec {

  test("foreachBatch-appended IVF index equals the full batch build") {
    val base = s"$tempDir/stream_ivf"

    val e = Similarity.vecs(spark, sfDir)
    val maxId = e.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2
    val train = () => Similarity.firstVectorCentroids(e, 16)
    // base index over the first half; the rest arrives as a stream
    val idx = IvfIndex.ensure(spark, sfDir, "spec_stream", 16, 0, train,
      e.where(col("vec_id") <= cut))

    val landing = s"$base/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    e.where(col("vec_id") > cut).select("vec_id", "label", "v", "nrm")
      .write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val seenBatches = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(schema).parquet(landing)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        seenBatches.synchronized { seenBatches += batchId }
        IvfIndex.appendBatch(idx, batch, batchId)
        // foreachBatch re-executes a batch after a crash: the batch-keyed
        // overwrite must make the replay a no-op, not a double-append
        IvfIndex.appendBatch(idx, batch, batchId)
        batch.unpersist()
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seenBatches.nonEmpty)

    val streamedRows = IvfIndex.open(spark, idx)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once despite every batch running twice: no duplicate ids
    assert(streamedRows.length == streamedRows.map(_._1).distinct.length,
      "replayed batches must not duplicate vectors")
    val streamed = streamedRows.toSet
    val full = IvfIndex.open(spark,
        IvfIndex.ensure(spark, sfDir, "spec_stream_full", 16, 0, train, e))
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty && streamed == full)
    assert(streamed.exists(_._1 > cut), "streamed half must be searchable")
  }

  test("ivfStreamedTopK: the fully-streamed index ranks identically to the batch index") {
    val streamed = Similarity.ivfStreamedTopK(spark, sfDir)
      .collect().map(_.toString).sorted
    val batch = Similarity.ivfTopK(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("foreachBatch-appended IVF-PQ index equals the full build, replay-idempotent") {
    val base = s"$tempDir/stream_ivfpq"

    val e = Similarity.vecs(spark, sfDir)
    val maxId = e.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2
    val train = () => Similarity.firstVectorCentroids(e, 16)
    // books trained on the BASE half in both builds — identical
    // quantizers, only the append path differs
    val books = () => Similarity.pqBooksFromCorpus(e.where(col("vec_id") <= cut), 8, 4096)
    val idx = IvfIndex.ensurePq(spark, sfDir, "pqstream_spec_inc", 16, 0, train,
      books, e.where(col("vec_id") <= cut))

    val landing = s"$base/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    e.where(col("vec_id") > cut).select("vec_id", "label", "v", "nrm")
      .write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val q = spark.readStream.schema(schema).parquet(landing)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        IvfIndex.appendPqBatch(idx, batch, batchId)
        // a crash-replay re-executes the batch: must not double-code
        IvfIndex.appendPqBatch(idx, batch, batchId)
        batch.unpersist()
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def rows(ix: IvfIndex.PqIndex) = IvfIndex.openPqCodes(spark, ix)
      .select("vec_id", "list_id", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val streamed = rows(idx)
    assert(streamed.length == streamed.map(_._1).distinct.length,
      "replayed batches must not duplicate coded vectors")
    val full = rows(IvfIndex.ensurePq(spark, sfDir, "pqstream_spec_full", 16, 0,
      train, books, e))
    assert(streamed.toSet == full.toSet && streamed.exists(_._1 > cut))
  }
}
