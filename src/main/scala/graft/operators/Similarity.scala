package graft.operators

import graft.io.Source
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * - [[bruteForceTopK]] is the exact baseline: broadcast the (small)
  *   query set against the big corpus — a broadcast-nested-loop over
  *   one scan, never big×big.
  * - [[lshTopK]] is the scale path: random-hyperplane signature buckets
  *   both sides, so the join is an equi-join on the bucket key (one
  *   shuffle) and cosine is only computed within buckets.
  * - [[ivfTopK]] prunes by coarse quantization over a *materialized*
  *   inverted-list layout ([[IvfIndex]]): per-query work is
  *   `nprobe/nlist` of the corpus, read via partition pruning.
  *
  * Dot products are the native `graft_dot` expression reading
  * `array<float>` directly — double accumulation in left-fold order, so
  * results are reproducible by an external oracle running
  * cast-to-double arithmetic. Final ranking is two-phase top-k: a
  * per-partition partial top-k keeps all cores busy, then a global rank
  * over ≤ k×partitions survivors — parallelism never collapses to the
  * number of queries.
  */
object Similarity {

  private[operators] def vecs(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val raw = Source.table(spark, dir, "embeddings")
    val p = spark.sparkContext.defaultParallelism
    // file listing, not RDD materialization: spread a single small file
    // before kernel-heavy projections; no-op when files ≥ cores
    val spread = if (raw.inputFiles.length < p) raw.repartition(p) else raw
    spread
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
  }

  private val cosAB = round(
    call_function("graft_dot", col("q.qv"), col("e.v")) / (col("q.qnrm") * col("e.nrm")), 6)

  /** Two-phase top-k per query: partial row_number within each
    * (query, input partition), then the global rank over the survivors.
    * The final rank orders by (cos desc, vec_id) — a total order, so
    * rank == row_number and the per-partition pruning is lossless.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val byQP = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("pid", spark_partition_id())
      .withColumn("prnk", row_number().over(byQP))
      .where(col("prnk") <= k)
      .drop("pid", "prnk")
      .withColumn("rnk", rank().over(byQ).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Exact cosine top-k: each of the `numQueries` lowest vec_ids against
    * the whole corpus. Query side is broadcast; ranking is per-query with
    * a deterministic (cos desc, vec_id) tiebreak.
    */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     numQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.as("e")
      .join(broadcast(q.as("q")), col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
    topKPerQuery(scored, k)
  }

  /** Filtered ANN: top-k among corpus vectors satisfying a metadata
    * predicate — PRE-filter semantics (the predicate applies before
    * ranking, so results are the true top-k of the matching subset;
    * post-filtering a plain top-k can come up short). Dedicated vector
    * stores bolt this on as a special "filtered search" mode; in a
    * relational engine it is literally a WHERE clause Catalyst pushes
    * into the scan, composable with every ANN variant here. This entry
    * ranks the filtered subset exhaustively; at scale the same
    * predicate composes with the IVF probe ([[ivfTopK]]) and prunes
    * the materialized lists' parquet row groups.
    */
  def filteredTopK(spark: SparkSession, dir: String,
                   numQueries: Int = 5, k: Int = 10,
                   labelMod: Int = 4, labelRes: Int = 1): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val corpus = e.where(pmod(col("label"), lit(labelMod)) === labelRes)
    val scored = corpus.as("e")
      .join(broadcast(q.as("q")), col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"), col("e.label").as("label"), cosAB.as("cos"))
    topKPerQuery(scored, k)
  }

  /** Radius (range) search: EVERY corpus vector within cosine ≥
    * `threshold` of each query — not a top-k. The seeded-retrieval
    * primitive of a training-data pipeline: "find all documents similar
    * to these N contaminated/benchmark seeds" wants the complete set
    * above a similarity bar, where a top-k silently truncates. One
    * broadcast-join scan, no window, no shuffle — output rows are the
    * only thing that grows with matches, so the plan is identical at
    * any corpus size (and the same WHERE composes with the IVF probe
    * when the corpus is materialized, like [[filteredTopK]]).
    */
  def rangeSearch(spark: SparkSession, dir: String,
                  numQueries: Int = 5, threshold: Double = 0.2): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    e.as("e")
      .join(broadcast(q.as("q")), col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact k-NN JOIN: every vector of a query SET (here: `label ==
    * qLabel`) annotated with its k nearest corpus neighbors — the
    * set-to-corpus shape (cluster labeling, retrieval-augmented
    * curation, embedding-propagated quality scores), as opposed to the
    * handful-of-probes shape of [[bruteForceTopK]].
    *
    * Executed as `blocks` broadcast passes over the corpus: each query
    * block is broadcast, scored with the codegen'd dot kernel, reduced
    * to per-block/per-partition heads, and the union ranks once at
    * (queries × k) cardinality. With blocks = ⌈|Q| / what fits in a
    * broadcast⌉ this is the standard blocked nested-loop kNN-join: the
    * corpus streams from parquet exactly `blocks` times, nothing
    * shuffles at corpus cardinality, and driver memory holds one query
    * block at a time. Results are block-count-invariant (spec-asserted:
    * blocks=3 ≡ blocks=1) because the per-query top-k is a total order.
    * For sub-linear scans compose the same query frame with the IVF
    * probe ([[ivfTopK]]) instead — this entry is the exact baseline.
    */
  def knnJoin(spark: SparkSession, dir: String, qLabel: Int = 0,
              k: Int = 5, blocks: Int = 1): DataFrame = {
    require(blocks >= 1, "blocks must be >= 1")
    val e = vecs(spark, dir)
    val q = e.where(col("label") === qLabel)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val perBlock = (0 until blocks).map { b =>
      val qb = q.where(pmod(col("q_id"), lit(blocks)) === b)
      val scored = e.as("e")
        .join(broadcast(qb.as("q")), col("e.vec_id") =!= col("q.q_id"))
        .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
      // per-partition head pruning inside the block keeps the union at
      // blocks × partitions × k rows before the single global rank
      val byQP = Window.partitionBy(col("q_id"), col("pid"))
        .orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("pid", spark_partition_id())
        .withColumn("prnk", row_number().over(byQP))
        .where(col("prnk") <= k)
        .drop("pid", "prnk")
    }
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    perBlock.reduce(_ unionAll _)
      .withColumn("rnk", rank().over(byQ).cast("long"))
      .where(col("rnk") <= k)
  }

  /** k-NN majority-vote label classification: predict each query
    * vector's label from its k nearest neighbors' labels (self
    * excluded) — the embedding-space quality/topic classifier a
    * training pipeline runs when labeled seeds exist but no trained
    * model does. Every sampled query (vec_id ≡ 0 mod `queryMod`, the
    * held-out eval frame) gets `(true_label, pred_label, n_votes,
    * correct)`.
    *
    * Same scale shape as [[bruteForceTopK]]: broadcast query side,
    * two-phase top-k (parallelism = partitions, not queries), then two
    * k-bounded aggregates (votes, argmax) over queries × k rows —
    * never corpus-sized. The vote argmax orders by (count desc, label)
    * — a total order, so the prediction is engine-deterministic even
    * on vote ties. At 100 TB the exact scan swaps for the IVF probe
    * ([[ivfTopK]]) with the vote stage unchanged.
    */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 5,
                  queryMod: Int = 20): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("true_label"))
    val scored = e.as("e")
      .join(broadcast(q.as("q")), col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("true_label"),
        col("e.vec_id").as("vec_id"), col("e.label").as("n_label"),
        cosAB.as("cos"))
    val votes = topKPerQuery(scored, k)
      .groupBy(col("q_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
    val byVote = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("n_label"))
    votes.withColumn("vr", row_number().over(byVote))
      .where(col("vr") === 1)
      .select(col("q_id"), col("true_label"),
        col("n_label").as("pred_label"), col("n_votes"),
        (col("n_label") === col("true_label")).as("correct"))
  }

  // ------------------------------------------------------------------- IVF
  /** Driver-resident coarse centroids: (cent_id, components-as-double),
    * ascending cent_id. Coarse quantizers are tiny by construction
    * (nlist × dim doubles) — holding them on the driver is what every
    * production IVF trainer does.
    */
  private[operators] type Centroids = Seq[(Long, Array[Double])]

  /** Pack centroids for [[graft.expressions.NativeKernels.centCosines]]:
    * ids ascending, each block = (norm, components…). Norms use the same
    * left-fold sum of squares as `sqrt(graft_dot(cv, cv))`.
    */
  private[operators] def packCentroids(data: Centroids): (Array[Long], Array[Double], Int) = {
    require(data.nonEmpty, "no centroids")
    val sorted = data.sortBy(_._1)
    val dim = sorted.head._2.length
    val ids = sorted.map(_._1).toArray
    val flat = new Array[Double]((dim + 1) * sorted.length)
    var c = 0
    while (c < sorted.length) {
      val cv = sorted(c)._2
      var s = 0.0
      var d = 0
      while (d < dim) { s += cv(d) * cv(d); d += 1 }
      flat(c * (dim + 1)) = math.sqrt(s)
      System.arraycopy(cv, 0, flat, c * (dim + 1) + 1, dim)
      c += 1
    }
    (ids, flat, dim)
  }

  /** All-centroid cosine scores of `v` as one `array<double>` column —
    * a per-row reduction over a plan-constant centroid matrix: no join,
    * no shuffle, stays inside WholeStageCodegen.
    */
  private def centScores(data: Centroids, rounded: Boolean): Column = {
    val (_, flat, dim) = packCentroids(data)
    call_function("graft_cent_cos", col("v"), typedLit(flat), lit(dim), lit(rounded))
  }

  /** Nearest-centroid id: argmax over the score array with the same
    * tiebreak as a (score desc, cent_id asc) rank — `array_position`
    * returns the FIRST maximal slot and slots are in ascending-id order.
    */
  private def nearestCentroid(data: Centroids, cc: Column): Column = {
    val ids = packCentroids(data)._1
    element_at(typedLit(ids), array_position(cc, array_max(cc)).cast("int"))
  }

  /** Corpus → inverted-list assignment as a pure projection (score
    * array + argmax): the shape that scales — one scan, no shuffle.
    */
  /** The inverted-list row layout. `label` travels INTO the layout
    * when the input carries it (round 10): filtered ANN needs its
    * predicate columns stored NEXT TO the lists — a post-probe join
    * back to the corpus for metadata would re-shuffle at corpus
    * cardinality, while a stored column is pruned with the same
    * parquet machinery as everything else.
    */
  private[operators] def assignFrame(e: DataFrame, data: Centroids): DataFrame = {
    val meta = if (e.columns.contains("label")) Seq(col("label")) else Nil
    e.withColumn("cc", centScores(data, rounded = true))
      .select(Seq(col("vec_id")) ++ meta ++ Seq(col("v"), col("nrm"),
        nearestCentroid(data, col("cc")).as("list_id")): _*)
  }

  /** IVF search over a materialized [[IvfIndex]]: per-query work is
    * probe selection (a per-row kernel over the tiny query set + a rank
    * over numQueries×nlist rows) and an equi-join against only the
    * probed inverted lists. The corpus side arrives pre-assigned from
    * the index layout — `list_id` is its *partition directory*, so the
    * broadcast hash join's dynamic partition pruning reads just
    * `nprobe/nlist` of the data. Nothing per-query ever shuffles the
    * corpus.
    */
  private[operators] def ivfSearch(index: IvfIndex.Index, queries: DataFrame,
                                   numQueries: Int, k: Int, nprobe: Int,
                                   corpusFilter: Option[Column] = None,
                                   exclude: Option[(DataFrame, Long)] = None): DataFrame = {
    val spark = queries.sparkSession
    val filtered = corpusFilter
      .foldLeft(IvfIndex.open(spark, index))((d, p) => d.where(p))
    // tombstone anti-join: build side gated on the actual tombstone
    // count (the pipelineFrame recipe) — a delete set is data, not a
    // pushable predicate, and an unconditional broadcast of billions
    // of tombstones is the oversized-broadcast failure mode
    val assigned = exclude.fold(filtered) { case (ids, cnt) =>
      val side = if (cnt <= TombstoneBroadcastMaxIds) broadcast(ids) else ids
      filtered.join(side.select(col("vec_id")), Seq("vec_id"), "left_anti")
    }
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cent_id"))
    val ids = packCentroids(index.centroids)._1
    val probes = queries
      .withColumn("cc", centScores(index.centroids, rounded = true))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        posexplode(col("cc")).as(Seq("pos", "ccos")))
      .withColumn("cent_id", element_at(typedLit(ids), (col("pos") + 1).cast("int")))
      .withColumn("crnk", rank().over(wProbe))
      .where(col("crnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("qnrm"), col("cent_id").as("list_id"))
    val scored = assigned.as("e")
      .join(broadcast(probes.as("q")),
        col("e.list_id") === col("q.list_id") && col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
    topKPerQuery(scored, k)
  }

  /** IVF ANN with first-`nlist`-vectors centroids — deterministic and
    * SQL-expressible, the oracle-checked baseline for the IVF pipeline
    * (assignment, probing, pruning). Recall quality at scale comes from
    * [[ivfKmeansTopK]].
    */
  def ivfTopK(spark: SparkSession, dir: String,
              numQueries: Int = 5, k: Int = 5,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = vecs(spark, dir)
    val index = IvfIndex.ensure(spark, dir, "first", nlist, iters = 0,
      train = () => firstVectorCentroids(e, nlist), corpus = e)
    ivfSearch(index, e.where(col("vec_id") < numQueries), numQueries, k, nprobe)
  }

  /** Above this many tombstoned ids the delete-set anti-join shuffles
    * instead of broadcasting — the [[graft.operators.Dedup]]
    * BroadcastVerifyMaxRows posture applied to index maintenance.
    */
  private[operators] val TombstoneBroadcastMaxIds = 4000000L

  /** IVF ANN with TOMBSTONED deletes — the other half of index
    * maintenance next to the streamed append ([[IvfIndex.appendBatch]]):
    * deleted vectors are excluded from the probed lists by an
    * anti-join against the tombstone ID FRAME, so deletes are
    * immediate and cheap (write one id) while the expensive list
    * compaction can happen lazily offline — the posture every
    * LSM-ish vector store (and the reference's fjall storage) takes.
    * A delete set is DATA, not a pushable predicate: the anti-join's
    * build side is gated on the actual tombstone count (broadcast
    * below [[TombstoneBroadcastMaxIds]], doc-key shuffle beyond).
    * Deleted vectors may still QUERY (a query needn't be in the
    * index); they just can't be returned. The demo delete set is
    * `vec_id % 17 == 0` — deterministic, so the oracle re-derives the
    * identical exclusion.
    */
  def ivfDeletedTopK(spark: SparkSession, dir: String,
                     numQueries: Int = 5, k: Int = 5,
                     nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = vecs(spark, dir)
    val index = IvfIndex.ensure(spark, dir, "first", nlist, iters = 0,
      train = () => firstVectorCentroids(e, nlist), corpus = e)
    val tombstones = e.select(col("vec_id")).where(col("vec_id") % 17 === 0)
    ivfSearch(index, e.where(col("vec_id") < numQueries), numQueries, k, nprobe,
      exclude = Some((tombstones, tombstones.count())))
  }

  /** FILTERED IVF ANN (round 10): [[filteredTopK]]'s pre-filter
    * semantics composed with the IVF probe — top-k among the probed
    * lists' vectors that satisfy the metadata predicate, the shape the
    * ann_filtered docstring promises at scale ("the same predicate
    * composes with the IVF probe"). The predicate runs against the
    * `label` column STORED IN THE LIST LAYOUT ([[assignFrame]] carries
    * it), so it prunes with the scan — never a post-probe join back to
    * the corpus for metadata, which would shuffle at corpus
    * cardinality. Per-query cost stays `nprobe/nlist` of the corpus ×
    * the predicate's selectivity; results are the true top-k of the
    * (probed ∩ matching) set with exact re-scored cosines.
    */
  def ivfFilteredTopK(spark: SparkSession, dir: String,
                      numQueries: Int = 5, k: Int = 5,
                      nlist: Int = 16, nprobe: Int = 4,
                      labelMod: Int = 4, labelRes: Int = 1): DataFrame = {
    val e = vecs(spark, dir)
    val index = IvfIndex.ensure(spark, dir, "first", nlist, iters = 0,
      train = () => firstVectorCentroids(e, nlist), corpus = e)
    ivfSearch(index, e.where(col("vec_id") < numQueries), numQueries, k,
      nprobe, corpusFilter = Some(pmod(col("label"), lit(labelMod)) === labelRes))
  }

  /** The sub-linear variant of [[knnJoin]]: the whole label-set query
    * frame probes the MATERIALIZED inverted lists (nprobe/nlist of the
    * corpus read per query batch, partition-pruned) instead of
    * scanning the corpus once per broadcast block. Same probe/rank
    * machinery as [[ivfTopK]] — a k-NN join here is nothing but the
    * IVF search with a set-valued query frame, which is exactly the
    * compositionality argument for doing ANN relationally. Returned
    * cosines are exact ([[ivfSearch]] re-scores survivors with the
    * full-precision kernel); recall vs the exact [[knnJoin]] is
    * spec-floored.
    */
  /** [[ivfTopK]] against an index populated ENTIRELY by the streaming
    * maintenance path ([[IvfIndex.ensureStreamedIndex]]: empty base
    * layout + the corpus drained as micro-batched exactly-once
    * appends against the stored centroids). Same centroids, same
    * assignment kernel, same probe — so the ranking is identical to
    * the batch index's by construction, and the driver checks it
    * against the SAME independent SQL oracle as `ann_ivf`: the hash
    * match proves the streaming append path (batch staging, replay
    * overwrite, `_SUCCESS` pruning, open-time union) end-to-end.
    */
  def ivfStreamedTopK(spark: SparkSession, dir: String,
                      numQueries: Int = 5, k: Int = 5,
                      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = vecs(spark, dir)
    val index = IvfIndex.ensureStreamedIndex(spark, dir, nlist,
      train = () => firstVectorCentroids(e, nlist), corpus = e)
    ivfSearch(index, e.where(col("vec_id") < numQueries), numQueries, k, nprobe)
  }

  def knnJoinIvf(spark: SparkSession, dir: String, qLabel: Int = 0,
                 k: Int = 5, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = vecs(spark, dir)
    val index = IvfIndex.ensure(spark, dir, "first", nlist, iters = 0,
      train = () => firstVectorCentroids(e, nlist), corpus = e)
    ivfSearch(index, e.where(col("label") === qLabel), 0, k, nprobe)
  }

  /** Index-quality monitoring AS A QUERY: per-query recall@k of the
    * IVF probe against the exact ranking — the health metric a
    * production ANN deployment tracks continuously (recall decay is
    * how you notice the coarse quantizer no longer fits the data
    * distribution after drift/appends). Pure composition: both sides
    * are DataFrames, the join is at (queries × k) cardinality, and the
    * whole evaluation is SQL-expressible — so the driver gate checks
    * it end-to-end, unlike eval harnesses bolted outside the engine.
    */
  /** The recall/cost CURVE an IVF deployment reads before picking its
    * nprobe: [[recallEval]] swept across probe counts in one frame —
    * per (nprobe, query), hits@k against the exact top-k. Each probe
    * count re-ranks only nprobe/nlist of the corpus, so the curve IS
    * the quality-vs-bytes trade made measurable (recall monitoring as
    * a query, not a notebook); the oracle re-derives every sweep point
    * relationally. Bounded output: |nprobes| × numQueries rows.
    *
    * SHARED-BASELINE formulation (round 10 — the documented ~4× → ~1×
    * rewrite, adopted when the curve joined the scale legs): the exact
    * baseline and the candidate scoring run ONCE at max(nprobes) with
    * the probe rank carried per candidate; each candidate then
    * replicates to exactly the sweep points whose probe budget
    * includes its list (`crnk ≤ np`), and one (q_id, nprobe) window
    * ranks every sweep point's top-k in a single pass. A candidate's
    * list rank is fixed per query, so the per-point selection is
    * IDENTICAL to running [[recallEval]] at that nprobe (same
    * (cos desc, vec_id) total order) — the spec pins the equality —
    * while the corpus join and the brute-force baseline are paid once
    * instead of |nprobes| times.
    */
  def recallCurve(spark: SparkSession, dir: String,
                  numQueries: Int = 5, k: Int = 5, nlist: Int = 16,
                  nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(nprobes.nonEmpty, "nprobes must be non-empty")
    require(nprobes.forall(_ >= 1), "every nprobe must be >= 1")
    val maxNp = nprobes.max
    val e = vecs(spark, dir)
    val index = IvfIndex.ensure(spark, dir, "first", nlist, iters = 0,
      train = () => firstVectorCentroids(e, nlist), corpus = e)
    val assigned = IvfIndex.open(spark, index)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val ids = packCentroids(index.centroids)._1
    val probes = e.where(col("vec_id") < numQueries)
      .withColumn("cc", centScores(index.centroids, rounded = true))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), posexplode(col("cc")).as(Seq("pos", "ccos")))
      .withColumn("cent_id", element_at(typedLit(ids), (col("pos") + 1).cast("int")))
      .withColumn("crnk", rank().over(wProbe))
      .where(col("crnk") <= maxNp)
      .select(col("q_id"), col("qv"), col("qnrm"),
        col("cent_id").as("list_id"), col("crnk"))
    val scored = assigned.as("e")
      .join(broadcast(probes.as("q")),
        col("e.list_id") === col("q.list_id") && col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"), col("crnk"))
    val npArr = typedLit(nprobes.sorted)
    val byQN = Window.partitionBy(col("q_id"), col("nprobe"))
      .orderBy(col("cos").desc, col("vec_id"))
    val approx = scored
      .select(col("q_id"), col("vec_id"), col("cos"),
        explode(functions.filter(npArr, np => np >= col("crnk"))).as("nprobe"))
      .withColumn("rnk", row_number().over(byQN))
      .where(col("rnk") <= k)
      .select(col("q_id").as("a_qid"), col("nprobe").as("a_np"),
        col("vec_id").as("a_vid"))
    bruteForceTopK(spark, dir, numQueries, k)
      .select(col("q_id"), col("vec_id"), explode(npArr).as("nprobe"))
      .join(approx, col("q_id") === col("a_qid") &&
        col("nprobe") === col("a_np") && col("vec_id") === col("a_vid"), "left")
      .groupBy(col("nprobe"), col("q_id"))
      .agg(sum(when(col("a_vid").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("nprobe"), col("q_id"), col("hits"),
        (col("hits").cast("double") / lit(k)).as("recall"))
  }

  def recallEval(spark: SparkSession, dir: String,
                 numQueries: Int = 5, k: Int = 5,
                 nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val exact = bruteForceTopK(spark, dir, numQueries, k)
      .select(col("q_id"), col("vec_id"))
    val approx = ivfTopK(spark, dir, numQueries, k, nlist, nprobe)
      .select(col("q_id").as("a_qid"), col("vec_id").as("a_vid"))
    exact
      .join(approx, col("q_id") === col("a_qid") && col("vec_id") === col("a_vid"),
        "left")
      .groupBy(col("q_id"))
      .agg(sum(when(col("a_vid").isNotNull, 1L).otherwise(0L)).as("hits"))
      // k is a plan constant and hits is exact, so the ratio is the
      // same IEEE division on both engines
      .select(col("q_id"), col("hits"),
        (col("hits").cast("double") / lit(k)).as("recall"))
  }

  /** IVF ANN over trained k-means centroids — the recall-bearing variant
    * (rows-only: the centroid training is not practically
    * SQL-expressible; verified by a recall@k spec vs [[bruteForceTopK]]).
    */
  def ivfKmeansTopK(spark: SparkSession, dir: String,
                    numQueries: Int = 5, k: Int = 5,
                    nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val e = vecs(spark, dir)
    val index = IvfIndex.ensure(spark, dir, "kmeans", nlist, iters,
      train = () => trainCentroidData(e, nlist, iters), corpus = e)
    ivfSearch(index, e.where(col("vec_id") < numQueries), numQueries, k, nprobe)
  }

  /** Bounded driver read: the first `nlist` corpus vectors as coarse
    * centroids (nlist × dim floats — tiny by construction).
    */
  private[operators] def firstVectorCentroids(e: DataFrame, nlist: Int): Centroids =
    e.where(col("vec_id") < nlist).select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq.sortBy(_._1)

  /** Spherical k-means coarse centroids: deterministic init (first
    * `nlist` vectors), `iters` Lloyd rounds — assign by cosine (the
    * shuffle-free kernel argmax, unrounded scores), recompute as the
    * per-list mean. Each round is one scan + one hash aggregate;
    * centroids (nlist × dim doubles) round-trip through the driver,
    * which is exactly what a production trainer does with coarse
    * quantizers.
    */
  /** Typed centroid access for sibling operators ([[Dedup.semantic]]):
    * same deterministic first-vectors init + fixed-iteration Lloyd as
    * the IVF trainer, so a dedup clustering and an IVF index built with
    * identical params agree exactly.
    */
  private[operators] def trainedCentroids(e: DataFrame, nlist: Int,
                                          iters: Int): Centroids =
    trainCentroidData(e, nlist, iters)

  /** Cluster-quality diagnostics over the deterministic k-means cells —
    * what an operator reads BEFORE trusting IVF probe costs or SemDeDup
    * pruning at scale: per cell, its population and the
    * cosine-to-centroid spread (mean/min/max of each member's cosine to
    * its assigned centroid). A skewed `n` distribution predicts probe
    * stragglers; a low mean predicts poor intra-cell dedup recall. One
    * scan + one bounded aggregate (output = nlist rows); the mean rides
    * an exact DECIMAL sum of the already-rounded per-row cosines, so
    * the whole frame is engine-stable and golden-pinnable.
    */
  def clusterStats(spark: SparkSession, dir: String,
                   nlist: Int = 16, iters: Int = 3): DataFrame = {
    val e = vecs(spark, dir)
    // same trainer, same (variant, nlist, iters) key as ivfKmeansTopK:
    // the stats describe THE index's cells (not a parallel clustering),
    // and the training cost is paid once per corpus version
    val data = IvfIndex.ensure(spark, dir, "kmeans", nlist, iters,
      train = () => trainCentroidData(e, nlist, iters), corpus = e).centroids
    e.withColumn("cc", centScores(data, rounded = true))
      .select(nearestCentroid(data, col("cc")).as("list_id"),
        array_max(col("cc")).as("cos"))
      .groupBy(col("list_id"))
      .agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        round(org.apache.spark.sql.functions.sum(col("cos").cast("decimal(18,6)"))
          .cast("double") / org.apache.spark.sql.functions.count(lit(1)), 6)
          .as("mean_cos"),
        org.apache.spark.sql.functions.min(col("cos")).as("min_cos"),
        org.apache.spark.sql.functions.max(col("cos")).as("max_cos"))
  }

  def kmeansCentroids(e: DataFrame, nlist: Int = 16, iters: Int = 3): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    trainCentroidData(e, nlist, iters)
      .map { case (id, cv) => (id.toInt, cv) }.toDF("cent_id", "cv")
  }

  private def trainCentroidData(e: DataFrame, nlist: Int, iters: Int): Centroids = {
    var data = firstVectorCentroids(e, nlist)
    val dim = data.head._2.length
    val avgCols = (0 until dim).map(i => avg(col("v")(i)).as(s"c$i"))
    var it = 0
    while (it < iters) {
      val means = e
        .withColumn("cc", centScores(data, rounded = false))
        .withColumn("cent_id", nearestCentroid(data, col("cc")))
        .groupBy(col("cent_id")).agg(avgCols.head, avgCols.tail: _*)
      // rows collected: nlist × dim doubles — tiny by construction
      data = means.collect().map { r =>
        (r.getLong(0), (0 until dim).map(i => r.getDouble(i + 1)).toArray)
      }.toSeq.sortBy(_._1)
      it += 1
    }
    data
  }

  // -------------------------------------------------------------------- PQ
  /** Product-quantization ANN — the beyond-memory scale path: each
    * 64-dim float vector (256 B) is coded as ONE long (m=8 subspaces ×
    * 16 codewords = 4-bit codes) plus its stored norm, a 16× cut in
    * the bytes the ranking scan touches. Query time is asymmetric
    * distance computation: a per-query m×16 LUT of partial dots
    * (driver-built — it is `m·16·subDim` multiplies) rides the
    * broadcast query row, and the corpus side sums m table lookups per
    * code (`graft_pq_adc`, codegen'd) — no original vector is read
    * until the exact re-rank of the `shortlist` survivors, which uses
    * the same `graft_dot` arithmetic as [[bruteForceTopK]], so every
    * returned cosine is EXACT and a subset of the exhaustive ranking
    * (spec-asserted, like the LSH family).
    *
    * Codebooks are trained driver-side on a bounded, deterministic
    * sample (first `trainSample` vec_ids, per-subspace Lloyd with
    * first-distinct init, strict-< ties) — PQ codebooks are tiny
    * (m·16·subDim doubles) and production trainers sample exactly
    * like coarse quantizers. Encoding is one corpus scan; a
    * deployment materializes the (vec_id, nrm, code) frame like
    * [[IvfIndex]] persists its lists and pays it once per corpus
    * version.
    */
  def pqTopK(spark: SparkSession, dir: String,
             numQueries: Int = 5, k: Int = 10,
             m: Int = 8, shortlist: Int = 100,
             trainSample: Int = 4096): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    val (books, _, subDim) = pqBooksFromCorpus(e, m, trainSample)
    val coded = e.select(col("vec_id"), col("nrm"),
      call_function("graft_pq_encode", col("v"),
        typedLit(books.toSeq), lit(m), lit(subDim)).as("code"))
    val q = pqQueryLuts(e, numQueries, books, m, subDim)
      .toDF("q_id", "qnrm", "lut")
    val short = coded.as("e")
      .join(broadcast(q.as("q")), col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"),
        (call_function("graft_pq_adc", col("code"), col("lut"))
          / (col("qnrm") * col("nrm"))).as("cos"))
    val cand = topKPerQuery(short, shortlist).select(col("q_id"), col("vec_id"))
    // exact re-rank: only the shortlist touches original vectors
    val qv = e.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = cand
      .join(e.as("e"), "vec_id")
      .join(broadcast(qv.as("q")), "q_id")
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
    topKPerQuery(scored, k)
  }

  /** IVF-PQ: the composed beyond-memory stack over a MATERIALIZED
    * layout ([[IvfIndex.ensurePq]]) whose inverted lists carry each
    * vector's packed PQ code next to it. Per query: coarse-probe
    * `nprobe` lists exactly like [[ivfTopK]], ADC-rank the probed
    * lists reading ONLY (vec_id, nrm, code, list_id) — parquet column
    * pruning keeps the fat vector column on disk — then exact-re-rank
    * the `shortlist` survivors with `graft_dot`. Per-query bytes
    * touched ≈ `nprobe/nlist × corpus × 24 B/row` plus `shortlist`
    * full vectors; returned cosines are exact and a subset of the
    * exhaustive ranking (spec-asserted, with a plan assertion that
    * the ADC scan's ReadSchema excludes `v`).
    */
  def ivfPqTopK(spark: SparkSession, dir: String,
                numQueries: Int = 5, k: Int = 10,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, shortlist: Int = 100,
                trainSample: Int = 4096): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    val idx = IvfIndex.ensurePq(spark, dir, "first", nlist, iters = 0,
      train = () => firstVectorCentroids(e, nlist),
      trainBooks = () => {
        val (b, mm, sd) = pqBooksFromCorpus(e, m, trainSample); (b, mm, sd)
      },
      corpus = e, m = m, trainSample = trainSample)
    val queries = e.where(col("vec_id") < numQueries)
    // coarse probes: nprobe nearest centroids per query (same ranking
    // as ivfTopK), joined with the driver-built per-query LUT
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cent_id"))
    val ids = packCentroids(idx.centroids)._1
    val probes = queries
      .withColumn("cc", centScores(idx.centroids, rounded = true))
      .select(col("vec_id").as("q_id"),
        posexplode(col("cc")).as(Seq("pos", "ccos")))
      .withColumn("cent_id", element_at(typedLit(ids), (col("pos") + 1).cast("int")))
      .withColumn("crnk", rank().over(wProbe))
      .where(col("crnk") <= nprobe)
      .select(col("q_id"), col("cent_id").as("list_id"))
    val luts = pqQueryLuts(e, numQueries, idx.books.toArray, idx.m, idx.subDim)
      .toDF("q_id", "qnrm", "lut")
    val probeLut = probes.join(luts, "q_id")
    val short = IvfIndex.openPqCodes(spark, idx).as("e")
      .join(broadcast(probeLut.as("q")),
        col("e.list_id") === col("q.list_id") && col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"),
        (call_function("graft_pq_adc", col("code"), col("lut"))
          / (col("qnrm") * col("nrm"))).as("cos"))
    val cand = topKPerQuery(short, shortlist).select(col("q_id"), col("vec_id"))
    val qv = queries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = cand
      .join(e.as("e"), "vec_id")
      .join(broadcast(qv.as("q")), "q_id")
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
    topKPerQuery(scored, k)
  }

  /** Deterministic PQ codebooks from the corpus: trained on the first
    * `trainSample` vec_ids (bounded by construction). Returns
    * (books, m, subDim).
    */
  private[operators] def pqBooksFromCorpus(e: DataFrame, m: Int,
                                           trainSample: Int): (Array[Double], Int, Int) = {
    val sample = e.orderBy(col("vec_id")).limit(trainSample)
      .select(col("v")).collect().map(rowVec(_, 0))
    val dim = sample.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    (trainPqBooks(sample, m, subDim), m, subDim)
  }

  /** Driver-built per-query ADC lookup tables:
    * (q_id, qnrm, lut[m*16]) — `lut(s*16+c) = dot(q_s, codeword_sc)`.
    */
  private def pqQueryLuts(e: DataFrame, numQueries: Int, books: Array[Double],
                          m: Int, subDim: Int): Seq[(Long, Double, Seq[Double])] =
    e.where(col("vec_id") < numQueries)
      .select(col("vec_id"), col("v"), col("nrm")).collect().map { r =>
        val qv = rowVec(r, 1)
        val lut = new Array[Double](m * 16)
        var s = 0
        while (s < m) {
          var c = 0
          while (c < 16) {
            var acc = 0.0
            var d = 0
            while (d < subDim) {
              acc += qv(s * subDim + d) * books(((s * 16) + c) * subDim + d)
              d += 1
            }
            lut(s * 16 + c) = acc
            c += 1
          }
          s += 1
        }
        (r.getLong(0), r.getDouble(2), lut.toSeq)
      }.toSeq

  private def rowVec(r: org.apache.spark.sql.Row, i: Int): Array[Double] =
    r.getAs[scala.collection.Seq[Float]](i).iterator.map(_.toDouble).toArray

  /** Per-subspace Lloyd on the driver sample: 16 codewords per
    * subspace, first-distinct-subvector init, strict-< assignment
    * ties, empty clusters keep their previous codeword — fully
    * deterministic. Layout: subspace-major then codeword then
    * component (what [[graft.expressions.NativeKernels.pqEncode]]
    * reads).
    */
  private[operators] def trainPqBooks(sample: Array[Array[Double]], m: Int,
                                      subDim: Int, iters: Int = 5): Array[Double] = {
    val books = new Array[Double](m * 16 * subDim)
    var s = 0
    while (s < m) {
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      val init = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      var i = 0
      while (init.length < 16 && i < subs.length) {
        if (!init.exists(c => java.util.Arrays.equals(c, subs(i)))) init += subs(i).clone()
        i += 1
      }
      // degenerate corpora (< 16 distinct subvectors): cycle through the
      // distinct ones found (modulo their PRE-padding count — taking the
      // growing length would always pick index 0)
      val distinctCount = math.max(init.length, 1)
      while (init.length < 16) init += init(init.length % distinctCount).clone()
      var cents = init.toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(16)(new Array[Double](subDim))
        val cnts = new Array[Int](16)
        subs.foreach { x =>
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < 16) {
            var d2 = 0.0
            var d = 0
            while (d < subDim) { val df = x(d) - cents(c)(d); d2 += df * df; d += 1 }
            if (d2 < bd) { bd = d2; best = c }
            c += 1
          }
          cnts(best) += 1
          var d = 0
          while (d < subDim) { sums(best)(d) += x(d); d += 1 }
        }
        cents = Array.tabulate(16)(c =>
          if (cnts(c) > 0) sums(c).map(_ / cnts(c)) else cents(c))
        it += 1
      }
      var c = 0
      while (c < 16) {
        System.arraycopy(cents(c), 0, books, ((s * 16) + c) * subDim, subDim)
        c += 1
      }
      s += 1
    }
    books
  }

  // ------------------------------------------------------------------- LSH
  /** LSH-bucketed ANN: candidates share the full `planes`-bit signature
    * (native `graft_lsh_bucket`); cosine + top-k only within the bucket.
    * At 100 TB the bucket key is the shuffle key and per-bucket work
    * stays bounded.
    */
  def lshTopK(spark: SparkSession, dir: String,
              numQueries: Int = 5, k: Int = 5, planes: Int = 6): DataFrame = {
    val e = vecs(spark, dir)
      .withColumn("bucket", call_function("graft_lsh_bucket", col("v"), lit(planes)))
    val q = e.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    val scored = e.as("e")
      .join(broadcast(q.as("q")), col("e.bucket") === col("q.bucket") &&
        col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
    topKPerQuery(scored, k)
  }

  /** Multi-probe LSH ANN: each query probes its own bucket *and* every
    * bucket at Hamming distance 1 from its signature (the planes most
    * likely to have flipped for a true near neighbor). Recall rises
    * steeply — probing `planes+1` of `2^planes` buckets — while the
    * corpus side still holds ONE bucket id per vector: the probe
    * expansion is on the (tiny, broadcast) query side only, so the
    * join stays an equi-join on the bucket key and the corpus is never
    * re-bucketed or replicated. This is the classic trade: multi-probe
    * buys recall with query-side work instead of index-side memory.
    */
  def lshMultiProbeTopK(spark: SparkSession, dir: String,
                        numQueries: Int = 5, k: Int = 5,
                        planes: Int = 6): DataFrame = {
    val e = vecs(spark, dir)
      .withColumn("bucket", call_function("graft_lsh_bucket", col("v"), lit(planes)))
    val q = e.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
      // own bucket + the `planes` single-bit flips of the signature
      .withColumn("probe", explode(expr(
        s"array_union(array(bucket), transform(sequence(0, ${planes - 1}), j -> bucket ^ shiftleft(CAST(1 AS BIGINT), j)))")))
    // no distinct needed: a corpus vector has exactly one bucket and a
    // query's probe set is duplicate-free, so each (q_id, vec_id) pair
    // matches at most once
    val scored = e.as("e")
      .join(broadcast(q.as("q")), col("e.bucket") === col("q.probe") &&
        col("e.vec_id") =!= col("q.q_id"))
      .select(col("q_id"), col("vec_id"), cosAB.as("cos"))
    topKPerQuery(scored, k)
  }
}
