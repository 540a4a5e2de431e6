package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the streaming counterpart of
  * [[graft.operators.Dedup.exact]] for a documents landing zone: as
  * document files arrive, emit only the first occurrence of each
  * normalized-content fingerprint.
  *
  * Spark-first shape: `dropDuplicatesWithinWatermark` on the md5
  * fingerprint keyed state. The watermark bounds the dedup state — a
  * duplicate arriving within the watermark horizon of its original is
  * dropped; state for older fingerprints is reclaimed, so the state
  * store stays proportional to the horizon's ingest volume instead of
  * the all-time corpus (the unbounded-state trap of a plain
  * `dropDuplicates` on an infinite stream). For all-time exact dedup at
  * rest, run the batch [[graft.operators.Dedup.exact]] over the landed
  * corpus — the two compose: streaming keeps the landing zone clean at
  * ingest latency, batch certifies the corpus.
  */
object StreamingDedup {

  /** Deduplicated stream of (doc_id, fp, event_ts) from a documents
    * directory. `tsCol` must be an event-time column the watermark can
    * bound state with.
    */
  def dedupStream(spark: SparkSession, docsDir: String,
                  watermark: String = "1 hour",
                  tsCol: String = "event_ts"): DataFrame = {
    Source.stream(spark, docsDir)
      .withColumn("fp", graft.functions.TextFunctions.md5Fingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select(col("doc_id"), col("fp"), col(tsCol))
  }

  /** 2024-01-01T00:00:00Z in microseconds — the deterministic arrival
    * epoch for the planted landing zone.
    */
  private val Epoch = 1704067200000000L

  /** Build a documents landing zone with PLANTED duplicate arrivals
    * (every `dupMod`-th document re-arrives one second after its
    * original, under a fresh doc_id) and run [[dedupStream]] over it
    * once to completion, staging each micro-batch exactly-once — an
    * [[graft.io.Artifact]], so a regenerated corpus re-keys and
    * rebuilds instead of serving stale state. The planting is what
    * makes the entry prove something: the shipped corpus has no
    * duplicate texts, so without it the keyed dedup state would never
    * fire.
    */
  def ensureStreamed(spark: SparkSession, sfDir: String,
                     dupMod: Int = 7): String =
    Artifact.ensure(spark, "dedup-streamed", s"$sfDir/documents.parquet", dupMod) { path =>
      val landing = Artifact.landing(spark, path) {
        val docs = Source.table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        val arrival = timestamp_micros(
          lit(Epoch) + col("doc_id") * lit(1000000L))
        val orig = docs.select(col("doc_id"), col("text"),
          arrival.as("event_ts"))
        val clones = docs.where(col("doc_id") % dupMod === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"),
            (timestamp_micros(lit(Epoch) + col("doc_id") * lit(1000000L)
              + lit(1000000L))).as("event_ts"))
        orig.unionByName(clones).coalesce(4)
      }
      Artifact.drain(dedupStream(spark, landing), path, "append")
    }

  /** The streamed landing reduced to its dedup contract: one row per
    * content fingerprint with how many copies SURVIVED the stream —
    * exactly 1 everywhere iff the keyed state dropped every planted
    * re-arrival and lost no original, which is what the DuckDB oracle
    * (`DISTINCT md5(text), 1`) pins. Arrival order inside a micro-batch
    * is not deterministic, so the kept doc_id is deliberately NOT part
    * of the contract — the fingerprint set and the kept-count are.
    */
  def streamedFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureStreamed(spark, sfDir)
    Artifact.openStaged(spark, path)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_kept"))
  }
}
