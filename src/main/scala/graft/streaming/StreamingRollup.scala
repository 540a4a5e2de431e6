package graft.streaming

import org.apache.spark.sql.SparkSession
import graft.io.{Artifact, Source}
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
                      propsTags: Seq[String] = Seq("k")): Unit =
    Artifact.drainTo(Db.canonicalEvents(Source.stream(spark, eventsDir), propsTags),
        checkpoint, "append") { (batch, batchId) =>
      Ingest.appendRollupBatch(new Db(batch), dest, widthNs, batchId)
    }

  /** Write-once cached STREAMED rollup for a source events dir — the
    * driver-checkable entry point: the layout is built by draining the
    * events table through the streaming path above (micro-batched,
    * checkpointed, batch-id-staged exactly-once landing), then served
    * like any rollup. A query answered from it matching the raw-points
    * oracle proves the whole streaming landing — canonicalization,
    * per-batch partials, crash-safe staging, query-time merge — exact,
    * not just spec-replayed. An [[graft.io.Artifact]] keyed by the
    * width; the streaming file source watches a DIRECTORY, so a
    * single-file events table gets a symlinked landing dir.
    */
  def ensureStreamed(spark: SparkSession, sfDir: String,
                     widthNs: Long): String = {
    val events = s"$sfDir/events.parquet"
    Artifact.ensure(spark, "rollup-streamed", events, widthNs) { path =>
      rollupAvailable(spark, Artifact.linked(spark, path, events), path, s"$path.ckpt", widthNs)
    }
  }
}
