package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental corpus vocabulary: running token counts maintained as
  * per-token state while documents stream in — the streaming face of
  * [[graft.operators.TextAnalysis.vocabTopK]] (vocabulary/tokenizer
  * statistics that stay current as a crawl lands, instead of a
  * batch recount per snapshot).
  *
  * Each micro-batch is pre-aggregated per token BEFORE touching state
  * (`groupByKey` over exploded tokens hands ALL of a token's batch
  * occurrences to one state call), so state-store traffic per batch is
  * one read-modify-write per DISTINCT token in the batch — the same
  * map-side-combine argument as the batch word count, applied to the
  * state store. State is one long per distinct corpus token, sharded
  * across executors; emission is Update-mode (a token's row appears in
  * a batch's output only when its count changed), so the downstream
  * sink sees a changelog whose latest row per token IS the current
  * vocabulary — counts are monotone, so "latest" = max (spec-asserted
  * equal to the batch count after replaying the corpus).
  *
  * Top-k over the changelog's compacted state is a batch query over
  * (distinct tokens) rows — vocabulary-sized, not corpus-sized.
  */
object StreamingVocab {

  /** RocksDB state store scope for the UNBOUNDED-key stateful streams
    * (r11 verdict item 2): token/gram vocabularies grow with the
    * corpus — billions of keys at 100 TB — and the default HDFS-backed
    * provider keeps EVERY key in executor heap, which is a scale-
    * killer for exactly these two streams. RocksDB keeps state on
    * local disk behind a bounded block cache, the posture that
    * survives vocabulary-sized state. The conf is captured per-query
    * at stream start, so the scope is surgical: series-keyed state
    * (StreamingSeriesState / Alerts / Cusum / Sessionize — key space =
    * series/user cardinality, bounded by construction) stays on the
    * default provider, whose per-key overhead is lower.
    */
  private def withRocksDbState[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Persist a `_STATE.json` telemetry sidecar of the drained query `q`
    * under the layout: provider, micro-batch count, final state rows and
    * state memory of the stateful operator — the streamed bench legs'
    * in-artifact evidence that the state store carries vocabulary-sized
    * state (and WHICH provider carried it).
    */
  private def stateSidecar(q: org.apache.spark.sql.streaming.StreamingQuery,
                           path: String, t0: Long): Unit = {
    val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
    val (rows, mem) = progs.lastOption
      .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
      .getOrElse((-1L, -1L))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_STATE.json"),
      s"""{"provider":"rocksdb","batches":${progs.length},""" +
        s""""state_rows":$rows,"state_mem_bytes":$mem,""" +
        f""""drain_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
  }

  case class Tok(token: String)
  case class TokCount(token: String, cnt: Long)

  /** Running per-token counts over a streaming `(…, text)` frame.
    * Update-mode changelog: one row per (batch × distinct token in the
    * batch) carrying the NEW running total.
    */
  def tokenCounts(docs: DataFrame): Dataset[TokCount] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .as[Tok]
      .groupByKey(_.token)
      .flatMapGroupsWithState[Long, TokCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (token: String, it: Iterator[Tok], state: GroupState[Long]) =>
          var add = 0L
          while (it.hasNext) { it.next(); add += 1 }
          if (add == 0) Iterator.empty
          else {
            val total = (if (state.exists) state.get else 0L) + add
            state.update(total)
            Iterator(TokCount(token, total))
          }
      }
  }

  /** File-landing stream over a directory of document parquet files,
    * one file per micro-batch — the ingest posture of a crawler
    * dropping shards into object storage.
    */
  def docsStream(spark: SparkSession, landingDir: String): DataFrame =
    Source.stream(spark, landingDir, 1)

  /** Drain the corpus through the stateful vocabulary stream once —
    * four landing files, one micro-batch each, so the per-token state
    * genuinely accumulates ACROSS batches — staging each batch's
    * Update-mode changelog exactly-once, an [[graft.io.Artifact]].
    */
  def ensureStreamed(spark: SparkSession, sfDir: String): String =
    Artifact.ensure(spark, "vocab-streamed", s"$sfDir/documents.parquet") { path =>
      val landing = docsLanding(spark, sfDir, path)
      val t0 = System.nanoTime()
      withRocksDbState(spark) {
        stateSidecar(Artifact.drain(tokenCounts(docsStream(spark, landing)), path, "update"),
          path, t0)
      }
    }

  /** The corpus's (doc_id, text) copied once into four landing files
    * beside the artifact at `path`.
    */
  private def docsLanding(spark: SparkSession, sfDir: String, path: String): String =
    Artifact.landing(spark, path)(Source.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).repartition(4))

  case class Gram(gram: String)
  case class GramCount(gram: String, cnt: Long)

  /** Running per-GRAM counts over a streaming `(doc_id, text)` frame —
    * [[tokenCounts]]'s recipe at the word-3-gram grain: the streaming
    * maintenance loop of the gram-vocabulary index
    * [[graft.operators.TextAnalysis.dedupSpansIncremental]] probes.
    * Same state discipline: batch pre-aggregation per gram, one
    * read-modify-write per distinct gram per batch, Update-mode
    * changelog whose latest (= max, counts monotone) row per gram is
    * the current index.
    */
  def gramCounts(docs: DataFrame): Dataset[GramCount] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.TextAnalysis.gramInstances(docs)
      .select(col("gram"))
      .as[Gram]
      .groupByKey(_.gram)
      .flatMapGroupsWithState[Long, GramCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (gram: String, it: Iterator[Gram], state: GroupState[Long]) =>
          var add = 0L
          while (it.hasNext) { it.next(); add += 1 }
          if (add == 0) Iterator.empty
          else {
            val total = (if (state.exists) state.get else 0L) + add
            state.update(total)
            Iterator(GramCount(gram, total))
          }
      }
  }

  /** Drain the corpus through the stateful GRAM stream once — the
    * [[ensureStreamed]] contract at the gram grain (4 landing files,
    * exactly-once staged changelog, an [[graft.io.Artifact]]).
    */
  def ensureGramStreamed(spark: SparkSession, sfDir: String): String =
    Artifact.ensure(spark, "gram-streamed", s"$sfDir/documents.parquet") { path =>
      val landing = docsLanding(spark, sfDir, path)
      val t0 = System.nanoTime()
      withRocksDbState(spark) {
        stateSidecar(Artifact.drain(gramCounts(docsStream(spark, landing)), path, "update"),
          path, t0)
      }
    }

  /** [[graft.operators.TextAnalysis.dedupSpansIncremental]] answered
    * from the STREAM-maintained gram state: the corpus drains once
    * through [[gramCounts]] (base and delta docs alike — the compacted
    * `max(cnt)` per gram IS the corpus gram census), then the delta's
    * spans are the incremental plan with the persisted batch index
    * REPLACED by the streamed state's duplicated-gram set. Output is
    * row-identical to the batch incremental (and to the full run
    * restricted to delta docs), and the shared oracle hash proves the
    * cross-batch state fold counted every gram exactly once — the
    * whole daily substring-dedup maintenance loop, streaming-native.
    */
  def streamedDeltaSpans(spark: SparkSession, sfDir: String,
                         deltaMod: Int = 10): DataFrame = {
    val path = ensureGramStreamed(spark, sfDir)
    val dupGrams = Artifact.openStaged(spark, path)
      .groupBy(col("gram"))
      .agg(max(col("cnt")).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("gram"))
    graft.operators.TextAnalysis.deltaSpansAgainst(spark, sfDir,
      dupGrams, deltaMod)
  }

  /** [[graft.operators.TextAnalysis.vocabTopK]] answered from the
    * STREAMED state's changelog: counts are monotone, so the latest
    * running total per token is `max(cnt)` — an order-insensitive
    * compaction over vocabulary-sized (not corpus-sized) rows — and
    * the top-k cut uses the batch entry's (cnt desc, token) total
    * order. Hash-matching text_vocab_topk's independent SQL oracle
    * proves the cross-batch state fold lost and double-counted
    * nothing.
    */
  def streamedVocabTopK(spark: SparkSession, sfDir: String,
                        k: Int = 100): DataFrame = {
    val path = ensureStreamed(spark, sfDir)
    Artifact.openStaged(spark, path)
      .groupBy(col("token"))
      .agg(max(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
  }
}
