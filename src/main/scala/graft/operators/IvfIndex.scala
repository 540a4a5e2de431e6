package graft.operators

import graft.io.{Artifact, Source}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized IVF index: a written inverted-list layout, built once
  * per (corpus content, centroid variant, nlist, iters) and reused by
  * every query — index building is an *offline* step; probing is the
  * only per-query work.
  *
  * Layout on disk:
  * {{{
  *   <path>/centroids/   parquet (cent_id long, cv array<double>)
  *   <path>/assign/      parquet (vec_id, v, nrm) PARTITIONED BY list_id
  * }}}
  *
  * Partitioning the assignment by `list_id` makes each inverted list a
  * parquet partition directory — the Spark-native analog of an IVF
  * posting list. A probe join on `list_id` partition-prunes the scan to
  * `nprobe/nlist` of the corpus (dynamic partition pruning from the
  * broadcast probe side), and nothing per-query ever shuffles or
  * re-assigns the corpus.
  *
  * The index is an [[graft.io.Artifact]] of the source table, so a
  * regenerated corpus is never served from a stale index. The stored
  * centroids — not a retrain — are the source of truth on reuse:
  * k-means means depend on aggregation order, so reusing the persisted
  * quantizer is what keeps assignment and probing consistent (exactly
  * how a served IVF index behaves).
  */
object IvfIndex {

  final case class Index(path: String, centroids: Similarity.Centroids)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Index]()

  /** Build-once memoization that NEVER runs `build` inside a
    * `ConcurrentHashMap.computeIfAbsent` mapping function. The streamed
    * build runs a Structured Streaming query whose micro-batch thread
    * calls [[invalidate]] → `cache.remove(path)` on the same key; under
    * `computeIfAbsent` that remove blocks on the bin lock held by the
    * in-flight mapping function, which is itself blocked in
    * `awaitTermination()` — a deadlock (round-7 `ann_ivf_streamed`
    * hang). A plain monitor around the build keeps concurrent ensures
    * single-flight while leaving the map free for same-key removes.
    */
  private def cached[I](c: java.util.concurrent.ConcurrentHashMap[String, I],
                        path: String)(build: => I): I = {
    val hit = c.get(path)
    if (hit != null) hit
    else buildLock.synchronized {
      val again = c.get(path)
      if (again != null) again
      else { val v = build; c.put(path, v); v }
    }
  }

  private object buildLock

  /** Build-or-open the index for `dir`'s embeddings, an
    * [[graft.io.Artifact]] keyed by (variant, nlist, iters). `train` runs
    * only on a build; `corpus` must carry (vec_id, v, nrm).
    */
  def ensure(spark: SparkSession, dir: String, variant: String,
             nlist: Int, iters: Int,
             train: () => Similarity.Centroids, corpus: => DataFrame): Index = {
    val path = Artifact.path(spark, "ivf", s"$dir/embeddings.parquet", variant, nlist, iters)
    cached(cache, path) {
      Artifact.once(spark, path) {
        // batch appends were layered on the superseded copy — drop them
        dropBatches(spark, path)
        val data = train()
        writeCentroids(spark, path, data)
        // build-time shuffle on list_id bounds file counts (one writer
        // per list) — offline cost, paid once per corpus version
        Similarity.assignFrame(corpus, data)
          .repartition(col("list_id"))
          .write.partitionBy("list_id").mode("overwrite").parquet(s"$path/assign")
      }
      Index(path, centroids(spark, path))
    }
  }

  private def writeCentroids(spark: SparkSession, path: String,
                             cents: Similarity.Centroids): Unit = {
    import spark.implicits._
    cents.map { case (id, cv) => (id, cv.toSeq) }.toDF("cent_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  private def centroids(spark: SparkSession, path: String): Similarity.Centroids =
    Source.read(spark, s"$path/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq.sortBy(_._1)

  /** Incremental index maintenance: assign a batch of new vectors
    * (vec_id, v, nrm) against the STORED centroids and append them to
    * their inverted-list partitions. Cost is one kernel-assignment
    * projection plus a list_id-keyed write over the batch — never a
    * rebuild, never a touch of existing lists — and appended vectors
    * are immediately searchable (probes re-read the layout). This is
    * exactly how a served IVF index ingests: the coarse quantizer is
    * fixed, new vectors land in its cells; retraining centroids is a
    * separate offline event that builds a NEW index version (here: a
    * new fingerprint path via [[ensure]]).
    *
    * An appended layout is no longer the pristine build its
    * fingerprint-keyed cache path promises, so append first drops the
    * artifact's completion marker ([[graft.io.Artifact.invalidate]]) and
    * evicts the in-memory handle: the next [[ensure]] REBUILDS the path
    * instead of silently serving the mutated index as if it matched its
    * key, and a crash mid-append leaves an unmarked layout (a harmless
    * rebuild), never a mutated one served as pristine. Keep using the
    * returned handle / [[open]] to serve the appended generation.
    */
  def append(index: Index, batch: DataFrame): Unit = {
    invalidate(batch.sparkSession, index.path, cache)
    Similarity.assignFrame(batch, index.centroids)
      .repartition(col("list_id"))
      .write.partitionBy("list_id").mode("append").parquet(s"${index.path}/assign")
  }

  /** Replay-idempotent variant of [[append]] for replayable writers
    * (Structured Streaming `foreachBatch`, which re-executes a batch
    * after a crash): the batch's vectors land under a batch-keyed
    * subdirectory with OVERWRITE semantics — a replay rewrites the same
    * directory instead of double-appending, mirroring
    * [[graft.tsdb.Ingest.appendRollupBatch]]. A crash mid-write leaves
    * the directory without `_SUCCESS`; [[open]] prunes such incomplete
    * batches until the replay completes them — together that is the
    * exactly-once contract for streaming IVF maintenance.
    */
  def appendBatch(index: Index, batch: DataFrame, batchId: Long): Unit = {
    invalidate(batch.sparkSession, index.path, cache)
    Similarity.assignFrame(batch, index.centroids)
      .repartition(col("list_id"))
      .write.partitionBy("list_id").mode("overwrite")
      .parquet(s"${index.path}/assign_batches/batch_id=$batchId")
  }

  /** An index whose inverted lists were populated ENTIRELY by the
    * streaming maintenance path: centroids stored offline, an EMPTY
    * base layout, then the corpus drained as a file-source stream
    * whose every micro-batch lands through [[appendBatch]] (batch-id-
    * keyed overwrite dirs, `_SUCCESS`-pruned at open — the
    * exactly-once contract). Because the coarse quantizer is fixed,
    * the end state is indistinguishable from a full batch build —
    * which is what lets a DRIVER query through this index hash-match
    * the same oracle as the batch index, turning the streaming-IVF
    * replay spec into an end-to-end exactness proof. An
    * [[graft.io.Artifact]] keyed by nlist; a build starts from no
    * batches and no checkpoint, so a rebuild after an append or a crash
    * yields the pristine index again.
    */
  def ensureStreamedIndex(spark: SparkSession, dir: String, nlist: Int,
                          train: () => Similarity.Centroids,
                          corpus: => DataFrame): Index = {
    val path = Artifact.path(spark, "ivf-streamed", s"$dir/embeddings.parquet", nlist)
    cached(cache, path) {
      Artifact.once(spark, path) {
        dropBatches(spark, path)
        val ckpt = new Path(s"$path.ckpt")
        Artifact.fileSystem(spark, ckpt).delete(ckpt, true)
        val cents = train()
        writeCentroids(spark, path, cents)
        // empty base: every vector must arrive through the stream
        Similarity.assignFrame(corpus.limit(0), cents)
          .write.partitionBy("list_id").mode("overwrite").parquet(s"$path/assign")
        val idx = Index(path, cents)
        // several part files → several micro-batches: the multi-batch
        // append path is what this layout exists to exercise
        val landing = Artifact.landing(spark, path)(corpus.coalesce(4))
        Artifact.drainTo(Source.stream(spark, landing, 1), s"$path.ckpt", "append") {
          (batch, batchId) => appendBatch(idx, batch, batchId)
        }
      }
      Index(path, centroids(spark, path))
    }
  }

  /** Mark the layout incomplete and evict its in-memory handle — BEFORE
    * any data lands, so every partially-appended state is unmarked.
    */
  private def invalidate(spark: SparkSession, path: String,
                         c: java.util.concurrent.ConcurrentHashMap[String, _]): Unit = {
    Artifact.invalidate(spark, path)
    c.remove(path)
  }

  private def dropBatches(spark: SparkSession, path: String): Unit = {
    val batches = new Path(s"$path/assign_batches")
    Artifact.fileSystem(spark, batches).delete(batches, true)
  }

  /** The base layout unioned with every COMPLETE batch append. A
    * streamed-built index has an EMPTY base (`corpus.limit(0)` +
    * `partitionBy` writes `_SUCCESS` and zero part files — no footer,
    * no inferrable schema), so a part-less base is skipped and the
    * layout is the batch union alone.
    */
  private def withBatches(spark: SparkSession, path: String,
                          base: => DataFrame): DataFrame = {
    val assign = new Path(s"$path/assign")
    val hasBase = Artifact.fileSystem(spark, assign).listStatus(assign)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("list_id="))
    val frames = (if (hasBase) Seq(base) else Seq.empty) ++
      Artifact.committedBatches(spark, s"$path/assign_batches")
    require(frames.nonEmpty, s"IVF layout at $path has no data")
    frames.reduce(_.unionByName(_))
  }

  /** The assignment layout as (vec_id, v, nrm, list_id). The partition
    * column is directory-inferred (int) — cast back to the centroid id
    * type.
    */
  def open(spark: SparkSession, index: Index): DataFrame =
    withBatches(spark, index.path, Source.read(spark, s"${index.path}/assign"))
      .withColumn("list_id", col("list_id").cast("long"))

  // ---------------------------------------------------------------- IVF-PQ
  /** IVF layout whose inverted lists ALSO carry the product-quantized
    * code of every vector (one packed long — [[Similarity.pqTopK]]'s
    * coding) next to `v`: the probe-phase ADC scan projects only
    * (vec_id, nrm, code, list_id), so parquet column pruning keeps the
    * 256-byte vectors on disk until the exact re-rank touches the
    * shortlist. Codebooks live beside the centroids — both are part of
    * the index version, and reuse (not retrain) is what keeps stored
    * codes and query LUTs consistent.
    */
  final case class PqIndex(path: String, centroids: Similarity.Centroids,
                           books: scala.collection.immutable.ArraySeq[Double],
                           m: Int, subDim: Int)

  def ensurePq(spark: SparkSession, dir: String, variant: String,
               nlist: Int, iters: Int,
               train: () => Similarity.Centroids,
               trainBooks: () => (Array[Double], Int, Int),
               corpus: => DataFrame,
               m: Int = 8, trainSample: Int = 4096): PqIndex = {
    // every knob that shapes the stored layout — coarse (nlist, iters)
    // AND fine (m, trainSample) — is in the key, so requesting a
    // different PQ geometry never silently reuses the old codes
    val path = Artifact.path(spark, "ivfpq", s"$dir/embeddings.parquet",
      variant, nlist, iters, m, trainSample)
    cached(pqCache, path) {
      import spark.implicits._
      Artifact.once(spark, path) {
        dropBatches(spark, path)
        val cents = train()
        val (books, m, subDim) = trainBooks()
        writeCentroids(spark, path, cents)
        Seq((m, subDim, books.toSeq)).toDF("m", "subdim", "books")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/pqbooks")
        Similarity.assignFrame(corpus, cents)
          .withColumn("code", call_function("graft_pq_encode", col("v"),
            typedLit(books.toSeq), lit(m), lit(subDim)))
          .repartition(col("list_id"))
          .write.partitionBy("list_id").mode("overwrite").parquet(s"$path/assign")
      }
      val b = Source.read(spark, s"$path/pqbooks").collect()(0)
      PqIndex(path, centroids(spark, path),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          b.getSeq[Double](2).toArray), b.getInt(0), b.getInt(1))
    }
  }

  /** Online IVF-PQ maintenance: assign a batch of new (vec_id, v, nrm)
    * vectors against the STORED centroids, encode them against the
    * STORED codebooks, and append to the inverted-list partitions —
    * the same fixed-quantizer contract as [[append]], extended to the
    * fine quantizer. Drops the completion marker the same way (BEFORE
    * the data, same crash posture) so a later [[ensurePq]] of the
    * fingerprint key rebuilds instead of serving the mutated layout.
    */
  def appendPq(index: PqIndex, batch: DataFrame): Unit = {
    invalidate(batch.sparkSession, index.path, pqCache)
    pqEncoded(index, batch)
      .write.partitionBy("list_id").mode("append").parquet(s"${index.path}/assign")
  }

  /** Replay-idempotent PQ append — [[appendBatch]]'s contract for the
    * IVF-PQ layout.
    */
  def appendPqBatch(index: PqIndex, batch: DataFrame, batchId: Long): Unit = {
    invalidate(batch.sparkSession, index.path, pqCache)
    pqEncoded(index, batch)
      .write.partitionBy("list_id").mode("overwrite")
      .parquet(s"${index.path}/assign_batches/batch_id=$batchId")
  }

  private def pqEncoded(index: PqIndex, batch: DataFrame): DataFrame =
    Similarity.assignFrame(batch, index.centroids)
      .withColumn("code", call_function("graft_pq_encode", col("v"),
        typedLit(index.books.toSeq), lit(index.m), lit(index.subDim)))
      .repartition(col("list_id"))

  /** The ADC projection of a PQ layout: (vec_id, nrm, code, list_id) —
    * `v` deliberately unselected so the scan never reads it (the
    * projection pushes through the batch-append union).
    */
  def openPqCodes(spark: SparkSession, index: PqIndex): DataFrame =
    withBatches(spark, index.path, Source.read(spark, s"${index.path}/assign"))
      .select(col("vec_id"), col("nrm"), col("code"),
        col("list_id").cast("long").as("list_id"))

  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqIndex]()
}
