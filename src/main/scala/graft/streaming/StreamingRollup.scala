package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.io.Source
import graft.tsdb.{Db, Ingest}

/** Streaming maintenance of a [[graft.tsdb.Rollup]] layout: each
  * micro-batch is aggregated into partials and APPENDED
  * ([[Ingest.appendRollup]]) — per-batch cost proportional to the
  * batch, never to the rollup, and the query-time merge handles
  * partials of the same (series, bucket) arriving across batches.
  *
  * Delivery contract: EXACTLY-ONCE. `foreachBatch` re-executes a batch
  * after a failure, so each batch's partials land in their own
  * `batch_id=<id>` partition directory with overwrite semantics
  * ([[Ingest.appendRollupBatch]]) — a replayed batch rewrites its
  * directory instead of appending a second copy, and a batch whose
  * write crashed before its `_SUCCESS` marker is pruned at open
  * ([[Ingest.openRollup]]) until the replay lands it. Spec-asserted:
  * replaying a batch leaves every aggregate unchanged.
  */
object StreamingRollup {

  /** Drain every event file under `eventsDir` into the rollup layout at
    * `dest`, micro-batched with a checkpoint, blocking until done.
    * Same canonicalization as [[graft.tsdb.Db.fromEvents]].
    */
  def rollupAvailable(spark: SparkSession, eventsDir: String, dest: String,
                      checkpoint: String, widthNs: Long,
                      propsTags: Seq[String] = Seq("k")): Unit = {
    val schema = Source.read(spark, eventsDir).schema
    val canonical = Db.canonicalEvents(
      spark.readStream.schema(schema).parquet(eventsDir), propsTags)
    val q = canonical.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Ingest.appendRollupBatch(new Db(batch), dest, widthNs, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamAwait.drain(q)
  }

  /** Write-once cached STREAMED rollup for a source events dir — the
    * driver-checkable entry point: the layout is built by draining the
    * events table through the streaming path above (micro-batched,
    * checkpointed, batch-id-staged exactly-once landing), then served
    * like any rollup. A query answered from it matching the raw-points
    * oracle proves the whole streaming landing — canonicalization,
    * per-batch partials, crash-safe staging, query-time merge — exact,
    * not just spec-replayed. Content-fingerprinted like
    * [[graft.tsdb.Ingest.ensureRollup]]; a crash between the stream
    * and the `_DONE` marker replays idempotently off the checkpoint.
    * The streaming file source watches a DIRECTORY; a single-file
    * events table gets a symlinked landing dir.
    */
  def ensureStreamed(spark: SparkSession, sfDir: String,
                     widthNs: Long): String = {
    val base = graft.Conf.resolveWorkDir(spark, "")
    val fp = Ingest.contentFingerprint(s"$sfDir/events.parquet")
    val path = s"$base/graft_rollup_streamed_w${widthNs}_" +
      s"${Integer.toHexString(sfDir.hashCode)}_$fp"
    val done = java.nio.file.Paths.get(path, "_DONE")
    if (!java.nio.file.Files.exists(done)) {
      val evPath = java.nio.file.Paths.get(s"$sfDir/events.parquet")
        .toAbsolutePath.normalize()
      val eventsDir =
        if (java.nio.file.Files.isDirectory(evPath)) evPath.toString
        else {
          val landing = java.nio.file.Paths.get(s"$path.landing")
          java.nio.file.Files.createDirectories(landing)
          val link = landing.resolve("events.parquet")
          if (!java.nio.file.Files.exists(link))
            java.nio.file.Files.createSymbolicLink(link, evPath)
          landing.toString
        }
      rollupAvailable(spark, eventsDir, path, s"$path.ckpt", widthNs)
      java.nio.file.Files.createFile(done)
    }
    path
  }
}
