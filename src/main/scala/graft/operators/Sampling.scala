package graft.operators

import graft.io.Source
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling and split assignment for training-data
  * pipelines.
  *
  * Everything here is *hash-based, not RNG-based*: a row's assignment
  * depends only on its stable key, so splits are reproducible across
  * reruns, engines, partitionings, and data arrival order — the
  * property a 100 TB pipeline needs for train/val/test hygiene
  * (re-ingesting a shard never shuffles rows between splits, and two
  * independent jobs agree on the split without coordination).
  *
  * The hash is md5 of the key rendered as a string; buckets are the
  * first two hex chars (256 buckets) compared lexicographically, which
  * every SQL engine evaluates identically — no engine-specific hash
  * function in the contract.
  */
object Sampling {

  /** 256-bucket content-stable hash bucket of a key column: the first
    * two hex chars of md5(key as string).
    */
  def hashBucket(key: Column): Column = substring(md5(key.cast("string")), 1, 2)

  /** `bucket < round(pct*256)`-th hex threshold. A full range
    * (`pct = 1.0` ⇒ n = 256) has no 2-char hex upper bound — "100" is
    * 3 chars and lexicographically below "11" — so it is `true`
    * directly rather than a string comparison.
    */
  private def bucketBelow(bucket: Column, pct: Double): Column = {
    val n = math.round(pct * 256).toInt.max(0).min(256)
    if (n >= 256) lit(true)
    else bucket < lit(f"$n%02x") // "00".."ff" < threshold ⇔ index < n
  }

  /** Train/val/test assignment by stable key hash: `trainPct` of the
    * 256 buckets go to `train`, the next `valPct` to `val`, the rest to
    * `test`. Single scan, no shuffle, no state.
    */
  def assignSplit(df: DataFrame, key: Column,
                  trainPct: Double = 0.8, valPct: Double = 0.1): Column = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 1.0,
      "trainPct + valPct must be <= 1")
    val b = hashBucket(key)
    when(bucketBelow(b, trainPct), "train")
      .when(bucketBelow(b, trainPct + valPct), "val")
      .otherwise("test")
  }

  /** Deterministic fraction sample: keep rows whose hash bucket falls
    * under `fraction` of the 256 buckets. The realized rate converges to
    * `round(fraction*256)/256` — quantized, but stable under re-runs
    * and appends (a row's membership never changes).
    */
  def sampleFraction(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.where(bucketBelow(hashBucket(key), fraction))

  /** Deterministic k-fold assignment — the cross-validation sibling of
    * [[assignSplit]]: `fold = hash_bucket mod k` over the same 256
    * content-stable md5 buckets, so fold membership is reproducible
    * across engines/reruns/appends and two jobs agree without
    * coordination ("train on folds ≠ i" is a predicate, not a
    * shuffle). Folds are balanced to ±1 bucket out of 256 (exact when
    * k divides 256); the bucket→int decode is the hex pair parsed
    * base-16, identical string arithmetic on any engine.
    */
  def assignKfold(df: DataFrame, key: Column, k: Int = 5): Column = {
    require(k >= 2 && k <= 256, "k must be in [2, 256]")
    (conv(hashBucket(key), 16, 10).cast("int") % k).as("fold")
  }

  /** documents → (doc_id, fold) assignment (driver entry). */
  def docKfold(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Source.table(spark, dir, "documents")
    docs.select(col("doc_id"),
      assignKfold(docs, col("doc_id"), k).cast("long").as("fold"))
  }

  /** Per-ROW weighted deterministic sampling (importance sampling for
    * pretraining corpus shaping — e.g. keep documents with probability
    * equal to their quality score): each row is kept iff its
    * content-stable hash bucket falls below `weight` (a [0,1] column)
    * of the 256 buckets. The per-row threshold is the weight rendered
    * as the same two-hex-char string the bucket uses —
    * `lpad(lower(hex(round(weight·256))), 2)` — so the comparison is
    * pure string arithmetic every engine evaluates identically, like
    * [[assignSplit]]. Same contract: reproducible across engines,
    * reruns, partitionings, and appends; rates quantize to 1/256. A
    * weight ≥ 1 keeps unconditionally, and so does a weight that ROUNDS
    * to bucket 256 (within half a bucket of 1.0): its hex threshold
    * would be the 3-char "100", which lpad TRUNCATES to "10" — a ~6%
    * keep rate instead of ~100% — so the keep-all guard must fire
    * before the string compare ever sees it.
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column): DataFrame =
    df.where(weight >= 1.0 || round(weight * 256, 0) >= 256 ||
      hashBucket(key) < lpad(lower(hex(round(weight * 256, 0).cast("long"))), 2, "0"))

  /** Leakage-free TEMPORAL train/test split over the events stream —
    * the time-series counterpart of [[assignSplit]]: everything before
    * the cut goes to `train`, everything at/after to `test`, so the
    * model never trains on the future. The cut is a fixed fraction of
    * the observed time range, `lo + (hi-lo)·num/den` in pure int64
    * arithmetic (no doubles ⇒ no rounding divergence across engines;
    * `div`/`//` agree on positive operands). The bounds pass is a
    * min/max aggregate (map-side combined, one exchange of 32 partial
    * rows); the assignment pass broadcasts the single bounds row — at
    * 100 TB both passes are scan-bound and a ts-partitioned layout
    * answers the bounds from partition metadata.
    */
  def temporalSplit(spark: SparkSession, dir: String,
                    trainNum: Long = 4, trainDen: Long = 5): DataFrame = {
    require(trainDen > 0 && trainNum >= 0 && trainNum <= trainDen,
      "train fraction must be in [0, 1]")
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("event_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"))
    val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    ev.crossJoin(broadcast(bounds))
      .select(col("event_id"), col("ts"),
        when(col("ts") <
            expr(s"lo + (((hi - lo) * $trainNum) div $trainDen)"), "train")
          .otherwise("test").as("split"))
  }

  /** documents → (doc_id, split) assignment. */
  def docSplit(spark: SparkSession, dir: String,
               trainPct: Double = 0.8, valPct: Double = 0.1): DataFrame = {
    val docs = Source.table(spark, dir, "documents")
    docs.select(col("doc_id"),
      assignSplit(docs, col("doc_id"), trainPct, valPct).as("split"))
  }

  /** Cluster-aware decontaminated split — [[docSplit]] with the
    * near-dup structure respected: every document in a near-duplicate
    * cluster (n-gram-Jaccard pairs → connected components, the
    * [[graft.operators.Dedup.cluster]] labeling) is assigned by the
    * hash of its CLUSTER id, not its own id, so two near-duplicates
    * can never straddle train/test. This is the eval-leakage guard a
    * plain per-doc split silently violates: a test document whose
    * near-twin sits in train inflates every benchmark number it
    * touches, and at crawl scale near-twins are the norm, not the
    * edge case.
    *
    * Scale shape: the component labeling is the pointer-doubling CC
    * already sized for the corpus (checkpoint-switched, O(log d)
    * rounds); the label frame covers only PAIRED docs, left-joined
    * back on the doc key (one doc-key shuffle — the labels side is
    * the duplicate subset, typically a small fraction of the corpus);
    * unpaired docs fall back to their own id, making the assignment
    * identical to [[docSplit]] on the duplicate-free subset (so
    * adopting the guard re-splits only documents that have a twin).
    * Same md5 bucket thresholds as every split in this file —
    * append-stable, engine-reproducible.
    */
  def decontamSplit(spark: SparkSession, dir: String,
                    trainPct: Double = 0.8, valPct: Double = 0.1,
                    threshold: Double = 0.3): DataFrame = {
    val docs = Source.table(spark, dir, "documents")
      .select(col("doc_id"))
    val labels = Dedup.cluster(spark, dir, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val grouped = docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    grouped.select(col("doc_id"), col("group_id"),
      assignSplit(grouped, col("group_id"), trainPct, valPct).as("split"))
  }

  /** Deterministic source mixing — the corpus-composition step every
    * pretraining pipeline applies: each source is kept at its own rate
    * (e.g. keep all of a high-quality source, an eighth of a crawl),
    * decided per document by the same content-stable hash bucket as
    * [[assignSplit]]. Engine-reproducible, append-stable, and a pure
    * single-scan filter — re-mixing 100 TB is a predicate, not a
    * shuffle. Rates quantize to 1/256 (the bucket width).
    */
  def sourceMix(spark: SparkSession, dir: String,
                rates: Seq[(String, Double)] =
                  Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
                defaultRate: Double = 0.125): DataFrame = {
    val docs = Source.table(spark, dir, "documents")
    val b = hashBucket(col("doc_id"))
    val keep = rates.foldRight(bucketBelow(b, defaultRate)) {
      case ((s, r), acc) => when(col("source") === s, bucketBelow(b, r)).otherwise(acc)
    }
    docs.where(keep).select(col("doc_id"), col("source"))
  }

  /** Sequence packing (concat-and-chunk) for LLM pretraining: within
    * each source shard, documents are concatenated in stable doc_id
    * order and cut into fixed `budget`-token training sequences, with
    * documents straddling cut points split across consecutive
    * sequences — the standard pack-then-chunk dataloader layout,
    * computed as METADATA (which sequence(s) a document feeds and at
    * what offset) so the actual token assembly stays a later
    * map-partition pass.
    *
    * One window cumsum per source: `cum_before = Σ n_tokens` over
    * (source, doc_id asc) — so the shuffle key is the SOURCE shard,
    * the parallel grain a 100 TB pipeline actually packs at (a single
    * global order would serialize the corpus through one sort; packing
    * within shards is what production dataloaders do). Sequence ids
    * are (source, seq_no) with `seq_first = ⌊cum_before / budget⌋`,
    * `seq_last = ⌊(cum_before + n_tokens − 1) / budget⌋`, `offset =
    * cum_before mod budget` — all integer arithmetic on exact long
    * sums, so the layout is engine-reproducible and append-stable
    * per shard.
    */
  def packSequences(docsDf: DataFrame, budget: Long = 1024,
                    shardCol: Column = col("source")): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // `shardCol` is the packing grain AND the parallelism: with few
    // coarse sources, pass a composite (e.g. `concat(col("source"),
    // lit("/"), expr("doc_id div 100000"))`) so a 100 TB corpus packs
    // across thousands of shards instead of serializing per source —
    // packing boundaries are arbitrary by construction, so any
    // deterministic sharding is as valid as the per-source one
    // partitioned on the EMITTED shard column (not the raw expression):
    // the window key and the output's sequence-id namespace are then the
    // same value by construction
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val n = graft.functions.TextFunctions.wsTokenCount(col("text"))
    docsDf
      // the shard key travels with the output: sequence numbering
      // restarts at 0 per shard, so a sequence's identity is
      // (shard, seq_no) — without the shard column a composite grain
      // (e.g. source × doc_id-range) makes (source, seq_first)
      // ambiguous for downstream token assembly
      .select(col("doc_id"), col("source"), shardCol.cast("string").as("shard"),
        n.as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("source"), col("shard"), col("n_tokens"),
        // exact LONG division (not float floor): safe past 2^53 tokens
        expr(s"cum_before div ${budget}L").as("seq_first"),
        // an (impossible-here) empty document stays in its starting
        // sequence rather than computing the floor of a negative
        greatest(expr(s"(cum_before + n_tokens - 1) div ${budget}L"),
          expr(s"cum_before div ${budget}L")).as("seq_last"),
        (col("cum_before") % budget).as("seq_offset"))
  }

  /** documents → packing metadata (driver entry). */
  def packDocs(spark: SparkSession, dir: String, budget: Long = 1024): DataFrame =
    packSequences(Source.table(spark, dir, "documents"), budget)

  /** Deterministic global shuffle for training-order assignment: every
    * row gets a (shard, pos) — shard from the leading `shardChars` hex
    * chars of its salted content hash, position by rank of the full
    * hash within the shard. Epoch reshuffles are a salt change, never a
    * data move. The scale shape is the point: ONE shuffle on the shard
    * key and a per-shard rank — a global `ORDER BY random()` would
    * serialize 100 TB through a total sort, while here the global order
    * is (shard, pos) by CONSTRUCTION (the hash prefix partitions the
    * hash space into disjoint lexicographic ranges, so concatenating
    * shards in shard order IS the global hash order). 16^shardChars
    * shards: 1 char = 16 (test scale), 3 chars = 4096 (the 100 TB
    * grain, bounded skew since md5 is uniform). Engine-reproducible
    * like every md5-bucket op here; appends perturb only the positions
    * behind them within each shard.
    */
  def shuffleOrder(df: DataFrame, key: Column,
                   shardChars: Int = 1, salt: String = "graft"): DataFrame = {
    require(shardChars >= 1 && shardChars <= 8, "shardChars must be in [1,8]")
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(key.cast("string"), lit("#" + salt)))
    val w = Window.partitionBy(col("shard")).orderBy(col("hv"), col("doc_id"))
    df.select(key.as("doc_id"), h.as("hv"))
      .withColumn("shard", substring(col("hv"), 1, shardChars))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** documents → deterministic shuffle order (driver entry). */
  def shuffleDocs(spark: SparkSession, dir: String): DataFrame =
    shuffleOrder(Source.table(spark, dir, "documents"), col("doc_id"))

  /** Per-EPOCH deterministic training orders — multi-epoch training
    * re-shuffles between epochs, and reproducibility demands each
    * epoch's order be re-derivable from (content, epoch) alone: the
    * epoch number folds into [[shuffleOrder]]'s salt, so every epoch
    * is an independent md5-keyed permutation of the same corpus and
    * any epoch can be regenerated in isolation (resume from epoch 7
    * without replaying 0–6). Same scale shape as one shuffle × epochs
    * (shard-partitioned rank, no global sort); output is
    * (epoch, doc_id, shard, pos).
    */
  def epochOrders(spark: SparkSession, dir: String,
                  epochs: Int = 3): DataFrame = {
    // the reduce below is undefined on an empty range (ADVICE r10:
    // epochs=0 threw UnsupportedOperationException instead of a
    // contract error) — same posture as frameSample's everyK guard
    require(epochs >= 1, "epochs must be >= 1")
    val docs = Source.table(spark, dir, "documents")
    (0 until epochs).map { e =>
      shuffleOrder(docs, col("doc_id"), salt = s"graft-e$e")
        .withColumn("epoch", lit(e.toLong))
    }.reduce(_ unionByName _)
      .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
  }

  /** TEMPERATURE-flattened source mixing at τ = ½ — the multilingual /
    * multi-source re-balancing rule (sample share ∝ p^τ): in a
    * keep-only regime (no duplication) the achievable composition is
    * `keep_src = sqrt(n_min / n_src)` — the smallest source keeps
    * everything and each larger source is downsampled toward the
    * flattened share. Unlike [[sourceMix]]'s declared rates, the rates
    * here are DATA-DERIVED (one bounded count aggregate, broadcast
    * back); they stay engine-exact because the chain is integer counts
    * → one IEEE division → one correctly-rounded `sqrt` — no powers,
    * no logs. The per-row keep decision is [[weightedSample]]'s
    * hex-threshold string compare, so membership is reproducible and
    * append-stable at a fixed composition (appending data shifts
    * shares and re-rates sources, as temperature sampling must).
    */
  def temperatureMix(spark: SparkSession, dir: String,
                     key: String = "lang"): DataFrame = {
    val docs = Source.table(spark, dir, "documents")
    val counts = docs.groupBy(col(key)).agg(count(lit(1)).as("n_src"))
    val minN = counts.agg(min(col("n_src")).as("n_min"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col(key).as("r_key"),
        sqrt(col("n_min").cast("double") / col("n_src").cast("double")).as("rate"))
    // keep-all guard covers BOTH exact 1.0 and rates that round to
    // bucket 256 (a source within half a bucket of the smallest): the
    // 3-char hex "100" would lpad-truncate to "10" and silently keep
    // ~6% instead of ~100% — see [[weightedSample]]
    docs.join(broadcast(rates), col(key) === col("r_key"))
      .where(col("rate") >= 1.0 || round(col("rate") * 256, 0) >= 256 ||
        hashBucket(col("doc_id")) <
          lpad(lower(hex(round(col("rate") * 256, 0).cast("long"))), 2, "0"))
      .select(col("doc_id"), col(key), col("rate"))
  }

  /** Quality-tiered CURRICULUM order — corpus shaping for staged
    * pretraining: every document gets a quality tier
    * (`least(floor(score·tiers), tiers-1)`, an identical IEEE chain on
    * any engine over the engine-stable quality score) and the
    * deterministic md5 shuffle WITHIN its (tier, shard) cell. The
    * global training order is the lexicographic (tier DESC, shard,
    * pos) — computable per row plus a bounded per-cell rank; no global
    * sort ever happens, and appends never reshuffle existing rows
    * (the [[shuffleOrder]] contract, tiered).
    */
  def curriculum(spark: SparkSession, dir: String, tiers: Int = 4): DataFrame = {
    require(tiers >= 2 && tiers <= 256, "tiers must be in [2, 256]")
    import org.apache.spark.sql.expressions.Window
    val q = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val h = md5(concat(col("doc_id").cast("string"), lit("#graft")))
    val w = Window.partitionBy(col("tier"), col("shard"))
      .orderBy(col("hv"), col("doc_id"))
    q.withColumn("tier",
        least(floor(col("quality_score") * tiers), lit(tiers - 1)).cast("long"))
      .withColumn("hv", h)
      .withColumn("shard", substring(col("hv"), 1, 1))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("quality_score"), col("tier"),
        col("shard"), col("pos"))
  }

  /** Stratified deterministic top-`perLabel` sample of `embeddings` per
    * label: rows ranked inside each label by (hash, id) — a content-
    * stable shuffle — and the first `perLabel` kept. One shuffle on the
    * stratum key; at 100 TB the stratum is the natural partition.
    */
  def stratifiedSample(spark: SparkSession, dir: String,
                       perLabel: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Source.table(spark, dir, "embeddings")
    val w = Window.partitionBy(col("label"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    e.select(col("vec_id"), col("label"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= perLabel)
  }

  /** Label-BALANCED deterministic downsample — the class-rebalancing
    * cut a training pipeline applies to a skewed label distribution:
    * every label keeps exactly the MINORITY class's count. Unlike
    * [[stratifiedSample]]'s declared per-label cap, the cap here is
    * DATA-DERIVED (one bounded label-count aggregate, its min
    * broadcast back as a one-row cross join — no driver collect), and
    * rows are chosen per label by the same content-stable md5 shuffle
    * rank, so membership is engine-reproducible and stable under
    * repartitioning. One shuffle on the label (the stratum grain a
    * 100 TB corpus is naturally partitioned by); appending data can
    * shrink the minority count and re-cut, as balancing must.
    */
  def balancedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Source.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val minN = broadcast(e.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("n_min")))
    val w = Window.partitionBy(col("label"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    e.withColumn("rnk", row_number().over(w).cast("long"))
      .crossJoin(minN)
      .where(col("rnk") <= col("n_min"))
      .select(col("vec_id"), col("label"), col("rnk"))
  }
}
