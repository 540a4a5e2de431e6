package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.io.{Artifact, Source}
import graft.tsdb.Db

/** Structured-Streaming ingestion into the graft on-disk layout: the
  * streaming re-expression of the reference's point-write path (talna
  * `src/db.rs:319` `Database::write`) — micro-batched file-source
  * ingestion instead of per-point LSM inserts.
  *
  * The canonicalization is the same as [[graft.tsdb.Db.fromEvents]]
  * (metric/ts/value/tag columns, µs-truncated ns timestamps, NULL for
  * absent props keys); the sink appends metric-partitioned parquet that
  * [[graft.tsdb.Ingest.open]] reads back, so a streaming-fed layout and
  * a batch-written one are interchangeable. `Trigger.AvailableNow`
  * drains everything currently available then stops — the idiomatic
  * batch-backfill-through-the-streaming-path mode; a resident deployment
  * drops the trigger and lets micro-batches run continuously with
  * exactly-once file-sink semantics from the checkpoint.
  */
object StreamingIngest {

  /** Ingest every event parquet file under the directory `eventsDir`
    * into the layout at `dest`, blocking until the available data is
    * drained. The source is a directory (the streaming file source
    * watches it for arriving files — exactly how a 100 TB deployment's
    * landing zone works).
    */
  def ingestAvailable(spark: SparkSession, eventsDir: String, dest: String,
                      checkpoint: String,
                      propsTags: Seq[String] = Seq("k")): Unit = {
    val canonical = Db
      .canonicalEvents(Source.stream(spark, eventsDir), propsTags)
      // same write-boundary guard as the batch path (Ingest.write):
      // reference MetricName::try_from rejects invalid names at ingest,
      // and graft's own query APIs refuse to read them back
      .withColumn("metric", graft.tsdb.Ingest.validatedMetric)
    val q = canonical.writeStream
      .format("parquet")
      .option("path", dest)
      .option("checkpointLocation", checkpoint)
      .partitionBy("metric")
      .trigger(Trigger.AvailableNow())
      .start()
    StreamAwait.drain(q)
  }

  /** Ingest the events table through the streaming path once into a
    * graft layout, an [[graft.io.Artifact]] (symlinked landing,
    * exactly-once file sink off the checkpoint). The returned path
    * opens with [[graft.tsdb.Ingest.open]] like any batch-written
    * layout — which is the interchangeability claim the driver entry
    * proves against the raw-events oracle.
    */
  def ensureStreamedLayout(spark: SparkSession, sfDir: String): String = {
    val events = s"$sfDir/events.parquet"
    Artifact.ensure(spark, "ingest-streamed", events) { root =>
      ingestAvailable(spark, Artifact.linked(spark, root, events), s"$root/layout", s"$root.ckpt")
    } + "/layout"
  }
}
