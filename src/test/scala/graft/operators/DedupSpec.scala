package graft.operators

import graft.SparkSpec
import graft.expressions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  /** Exhaustive prefix-blocked word-3-shingle Jaccard pairs at or above
    * `threshold`: the ground truth for [[Dedup.minhashLsh]] (the same
    * similarity measure, no hashing).
    */
  private def wordJaccardBlocked(threshold: Double): DataFrame = {
    GraftFunctions.register(spark)
    val g = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"),
      substring(col("text"), 1, 16).as("blk"),
      call_function("graft_word_shingles", col("text")).as("grams"))
    g.as("a")
      .join(g.as("b"), col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        call_function("graft_jaccard", col("a.grams"), col("b.grams")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The minhash candidates of `docs` in the 1-in-`mod` pair-hash
    * sample, each verified by its exact word-3-shingle Jaccard >= 0.5:
    * the reference for [[Dedup.minhashSampleVerifyStats]].
    */
  private def minhashSampledVerify(docs: DataFrame, mod: Int): DataFrame = {
    GraftFunctions.register(spark)
    val sh = docs.select(col("doc_id"),
      call_function("graft_word_shingles", col("text")).as("shingles"))
    Dedup.minhashCandFrame(docs)
      .where(pmod(xxhash64(col("doc_a"), col("doc_b")), lit(mod)) === 0)
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        call_function("graft_jaccard", col("sa.shingles"), col("sb.shingles")).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  test("exact dedup covers every document exactly once") {
    val out = Dedup.exact(spark, sfDir)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.agg(sum("n_docs")).collect()(0).getLong(0) == nDocs)
  }

  test("exactCensus reads the routing input: max group, group count, corpus size") {
    val r = Dedup.exactCensus(spark, sfDir).collect().head
    val groups = Dedup.exact(spark, sfDir).collect().map(_.getAs[Long]("n_docs"))
    assert(r.getAs[Long]("max_group") == groups.max)
    assert(r.getAs[Long]("n_groups") == groups.length.toLong)
    assert(r.getAs[Long]("n_docs") == groups.sum)
    assert(r.getAs[Long]("n_docs") ==
      spark.read.parquet(s"$sfDir/documents.parquet").count())
  }

  test("pipelineSubstring == exact keepers -> rewrite -> quality on the rewritten text") {
    // the composition witness: the pipeline must equal running the
    // gated stages by hand, and the quality column must score
    // clean_text (not the original) — a doc whose boilerplate is cut
    // changes score iff the stages are wired in the claimed order
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val keepers = d.join(Dedup.exact(spark, sfDir)
      .select(col("keeper").as("doc_id")), "doc_id")
    val rewritten = graft.operators.TextAnalysis.dedupRewriteFrame(keepers)
      .where(col("n_kept") > 0)
    val expected = rewritten
      .join(graft.operators.TextAnalysis.qualityFrame(
          rewritten.select(col("doc_id"), col("clean_text").as("text")))
        .select(col("doc_id"), col("quality_score")), "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_kept"),
        col("quality_score"))
      .collect().map(_.toSeq).toSet
    val got = Dedup.pipelineSubstring(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // at least one doc was actually cut (n_kept < n_words) — the
    // substring stage did real work on this corpus
    assert(got.exists(r => r(2).asInstanceOf[Long] < r(1).asInstanceOf[Long]))
  }

  test("minhash finds the planted near-dups and no self/reversed pairs") {
    val out = Dedup.minhashLsh(spark, sfDir).collect()
    assert(out.nonEmpty, "expected planted near-duplicates")
    assert(out.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(out.forall(r => r.getAs[Double]("jaccard") >= 0.5))
  }

  test("minhash recalls all exhaustive word-jaccard pairs >= 0.85") {
    // same similarity measure (word 3-shingle jaccard); with 16 bands x 2
    // rows, P(miss | j>=0.85) = (1 - 0.85^2)^16 < 1e-8
    val mh = Dedup.minhashLsh(spark, sfDir, threshold = 0.85)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = wordJaccardBlocked(threshold = 0.85)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(truth.subsetOf(mh), s"missed: ${truth.diff(mh)}")
  }

  test("sampled minhash verify: exact hash-sample of the full verified pairs") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, col}
    val mod = 4
    val full = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same deterministic pair-hash predicate as the operator, applied
    // to the FULL verified set
    import spark.implicits._
    val expected = full.toSeq.toDF("doc_a", "doc_b")
      .where(pmod(xxhash64(col("doc_a"), col("doc_b")),
        org.apache.spark.sql.functions.lit(mod)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sampled = minhashSampledVerify(docs, mod).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampled == expected)
    assert(sampled.nonEmpty && sampled.size < full.size)
    // the one-action stats agree with the frame counts
    val (s, v) = Dedup.minhashSampleVerifyStats(spark, sfDir, mod)
    assert(v == sampled.size.toLong)
    assert(s >= v)
    // unsampled candidates vastly outnumber the 1-in-mod sample
    assert(Dedup.minhashCandidates(spark, sfDir).count() > s)
  }

  test("collapsed minhash equals the direct path pair-for-pair on a planted giant cluster") {
    // the census-routed boilerplate plan: a 40-member exact-duplicate
    // cluster plus two smaller ones — the regime where direct verify
    // pays O(c^2) kernel calls per cluster and the collapse pays one
    // per representative pair
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val seeds = docs.orderBy("doc_id").limit(3).collect()
    import spark.implicits._
    val clones = ((1 to 40).map(i => (1000000L + i, seeds(0).getString(1))) ++
      (1 to 5).map(i => (2000000L + i, seeds(1).getString(1))) ++
      (1 to 3).map(i => (3000000L + i, seeds(2).getString(1))))
      .toDF("doc_id", "text")
    val frame = docs.union(clones)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = key(Dedup.minhashLshFrame(frame))
    val collapsed = key(Dedup.minhashLshCollapsed(frame))
    // the giant cluster alone contributes C(41,2) intra pairs
    assert(direct.size > 800)
    assert(collapsed == direct)
    // and the census gate routes this frame through the collapse
    assert(41L >= Dedup.CollapseMinGroup)
  }

  test("incremental minhash equals the full run restricted to delta-involving pairs") {
    val mod = 10
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = key(Dedup.minhashIncremental(spark, sfDir, deltaMod = mod))
    val frame = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val full = key(Dedup.minhashLshFrame(frame))
    val restricted = full.filter(p => p._1 % mod == 0 || p._2 % mod == 0)
    assert(restricted.nonEmpty, "delta shard produced no pairs; the spec proves nothing")
    assert(inc == restricted)
  }

  test("incremental minhash exercises both probe legs on a planted delta shard") {
    // clones of one seed land on BOTH sides of the split: two delta ids
    // (1000000, 2000000) and one index id (1000001) — so the contract
    // needs delta×index (clone↔clone across the split, clone↔seed) AND
    // delta×delta (the two delta clones)
    val mod = 10
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val seed = docs.orderBy("doc_id").limit(1).collect()(0)
    import spark.implicits._
    val clones = Seq(1000000L, 2000000L, 1000001L)
      .map(i => (i, seed.getString(1))).toDF("doc_id", "text")
    val frame = docs.union(clones)
    val idxBands = Dedup.bandFrame(
      frame.where(col("doc_id") % mod =!= 0), 32, 16)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = key(Dedup.minhashIncrementalFrame(frame, idxBands, 32, 16, 0.5, mod))
    val restricted = key(Dedup.minhashLshFrame(frame))
      .filter(p => p._1 % mod == 0 || p._2 % mod == 0)
    assert(inc == restricted)
    assert(restricted.exists(p => p._1 % mod != 0 || p._2 % mod != 0))
    assert(restricted.exists(p => p._1 % mod == 0 && p._2 % mod == 0))
  }

  test("incremental embedding LSH equals the full run restricted to delta pairs") {
    val mod = 10
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the comparator is the FULL entry the incremental replaces —
    // identical corpus (planted frame), threshold, sized plan
    val inc = key(Dedup.embeddingLshIncremental(spark, sfDir, deltaMod = mod))
    val restricted = key(Dedup.embeddingNearDup(spark, sfDir))
      .filter(p => p._1 % mod == 0 || p._2 % mod == 0)
    assert(restricted.nonEmpty, "delta shard produced no pairs; the spec proves nothing")
    assert(inc == restricted)
  }

  test("incremental embedding LSH covers both probe legs on a planted split") {
    val mod = 10
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val seed = raw.orderBy("vec_id").limit(1).collect()(0)
    import spark.implicits._
    // two delta clones + one index clone of one seed vector: the
    // contract needs delta×index AND delta×delta
    val clones = Seq(1000000L, 2000000L, 1000001L)
      .map(i => (i, seed.getInt(1), seed.getSeq[Float](2)))
      .toDF("vec_id", "label", "embedding")
    val e = raw.union(clones)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val (rpb, bands) = Dedup.lshPlan(0.35)
    val idxBands = Dedup.embBandFrame(e.where(col("vec_id") % mod =!= 0), rpb, bands)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val restricted = key(Dedup.embeddingCosineLshFrame(e, 0.35))
      .filter(p => p._1 % mod == 0 || p._2 % mod == 0)
    val inc = key(Dedup.embeddingLshIncrementalFrame(e, idxBands,
      rpb, bands, 0.35, mod, broadcastVerify = true))
    assert(inc == restricted)
    assert(restricted.exists(p => p._1 % mod != 0 || p._2 % mod != 0))
    assert(restricted.exists(p => p._1 % mod == 0 && p._2 % mod == 0))
    // shuffle-hash verify fallback is pair-identical
    val incShj = key(Dedup.embeddingLshIncrementalFrame(e, idxBands,
      rpb, bands, 0.35, mod, broadcastVerify = false))
    assert(incShj == restricted)
  }

  test("simhash emits one 64-bit signature per doc") {
    val out = Dedup.simhash(spark, sfDir)
    assert(out.count() == spark.read.parquet(s"$sfDir/documents.parquet").count())
    assert(out.where(col("simhash") === 0L).count() < out.count())
  }

  test("simhash pairs at generous hamming include near-identical docs") {
    val pairs = Dedup.simhashPairs(spark, sfDir, hamMax = 10)
    assert(pairs.where(col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("routed simhash pairs equal the direct classic path across all plans") {
    // the round-12 plan matrix: census-routed collapse (identical-hash
    // groups) × corpus-sized banding (classic 4×16 vs wide 10×~26-bit
    // two-sub-band keys) — every route must emit the exact
    // Hamming-≤-hamMax pair set the classic direct plan emits.
    // Planted: a 40-member exact-duplicate cluster (collapse regime)
    // plus two smaller ones, the minhash-collapse spec's corpus.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val seeds = docs.orderBy("doc_id").limit(3).collect()
    import spark.implicits._
    val clones = ((1 to 40).map(i => (1000000L + i, seeds(0).getString(1))) ++
      (1 to 5).map(i => (2000000L + i, seeds(1).getString(1))) ++
      (1 to 3).map(i => (3000000L + i, seeds(2).getString(1))))
      .toDF("doc_id", "text")
    val frame = docs.union(clones)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hashed = Dedup.simhashFrame(frame)
    val direct = key(
      Dedup.simhashCandFrame(frame).where(col("hamming") <= 3))
    // the giant cluster alone contributes C(41,2) intra pairs
    assert(direct.size > 800)
    // wide banding, direct: different candidate generator, same pairs
    assert(key(Dedup.simhashCandFrame(frame, wide = true)
      .where(col("hamming") <= 3)) == direct)
    // collapsed, both bandings
    assert(key(Dedup.simhashPairsCollapsed(hashed, 3, wide = false)) == direct)
    assert(key(Dedup.simhashPairsCollapsed(hashed, 3, wide = true)) == direct)
    // routing gates: this frame stays DIRECT (the simhash collapse is
    // the hot-bucket guard at 1024, not minhash's verify-cost gate at
    // 3 — simhash verify is one bit_count), and the production entry
    // point still matches whichever route the census picks
    val (maxGroup, _, _) = Dedup.simhashCensus(hashed)
    assert(maxGroup >= 40L && maxGroup < Dedup.SimhashCollapseMinGroup)
    assert(key(Dedup.simhashPairsFrame(frame)) == direct)
  }

  test("wide banding is a complete candidate generator at hamming 3 exactly") {
    // adversarial hash layout: 3 flipped bits placed to dirty three
    // DIFFERENT 13-bit sub-bands (bits 0, 13, 26) — the wide scheme
    // must still catch the pair through a clean two-sub-band key, and
    // the classic scheme through its clean 16-bit band
    import spark.implicits._
    val h = 0x123456789abcdefL
    val flipped = h ^ (1L << 0) ^ (1L << 13) ^ (1L << 26)
    val hashed = Seq((1L, h), (2L, flipped)).toDF("doc_id", "simhash")
    def pairs(wide: Boolean) =
      Dedup.hammingCandFrame(hashed, "doc_id", "simhash", wide)
        .where(col("hamming") <= 3).count()
    assert(pairs(wide = false) == 1L)
    assert(pairs(wide = true) == 1L)
  }

  test("simhashIncremental equals the full pairs restricted to delta-involving") {
    // generous hamming so the equality is exercised on real pairs here
    val inc = Dedup.simhashIncremental(spark, sfDir, hamMax = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Dedup.simhashPairs(spark, sfDir, hamMax = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full.nonEmpty)
    val expected = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(inc == expected, s"inc=$inc expected=$expected")
    // the persisted index holds ONLY base docs, and base ∪ delta is
    // the whole corpus
    val idx = spark.read.parquet(Dedup.ensureSimhashIndex(spark, sfDir))
    assert(idx.where(col("doc_id") % 10 === 0).count() == 0)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val nDelta = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 10 === 0).count()
    assert(idx.count() + nDelta == nDocs)
  }

  test("embedding cosine pairs are label-blocked and thresholded") {
    val out = Dedup.embeddingCosine(spark, sfDir, threshold = 0.2).collect()
    assert(out.forall(r => r.getAs[Double]("cos") >= 0.2))
  }

  test("embedding LSH dedup recalls the label-blocked truth with equal cosines") {
    // truth = exhaustive within-label pairs; the LSH variant is global
    // (may legitimately find cross-label pairs on top), so assert
    // recall >= 0.9 of the truth set and cosine equality on the overlap.
    // Banding is planned by lshPlan for P(candidate | cos=t) >= 0.98.
    val t = 0.2
    val truth = Dedup.embeddingCosine(spark, sfDir, threshold = t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingCosineLsh(spark, sfDir, threshold = t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(truth.nonEmpty)
    val hit = truth.keySet.intersect(lsh.keySet)
    assert(hit.size >= math.ceil(truth.size * 0.9).toInt,
      s"recall ${hit.size}/${truth.size}; missed ${truth.keySet.diff(lsh.keySet)}")
    hit.foreach(k => assert(truth(k) == lsh(k), s"cos mismatch on $k"))
    assert(lsh.values.forall(_ >= t))
  }

  test("lshPlan meets the recall target within the plane budget, at pruning depth") {
    for (t <- Seq(0.2, 0.35, 0.6, 0.8, 0.9, 0.95); r <- Seq(0.95, 0.98)) {
      val (b, n) = Dedup.lshPlan(t, r)
      val p = 1.0 - math.acos(t) / math.Pi
      val recall = 1.0 - math.pow(1.0 - math.pow(p, b), n)
      assert(recall >= r, s"t=$t r=$r plan=($b,$n) recall=$recall")
      assert(b.toLong * n <= 192, s"t=$t plan=($b,$n) exceeds budget")
    }
    // near-dup thresholds must get deep (pruning) bands: a random pair
    // passes a band with prob 2^-b, so b >= 8 means <= 0.4% per band
    assert(Dedup.lshPlan(0.9)._1 >= 8)
    assert(Dedup.lshPlan(0.95)._1 >= 10)
  }

  test("planted near-dups: LSH at t=0.9 recalls the exhaustive truth and prunes") {
    val frame = Dedup.withPlantedNearDups(spark, sfDir)
    val truth = Dedup.embeddingCosineFrame(frame, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    // one planted clone per vector at cos ~0.95: the truth set is ~n pairs
    assert(truth.size >= n * 0.95, s"planted pairs missing: ${truth.size} of $n")
    val lsh = Dedup.embeddingNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val hit = truth.keySet.intersect(lsh.keySet)
    assert(hit.size >= math.ceil(truth.size * 0.95).toInt,
      s"recall ${hit.size}/${truth.size}")
    hit.foreach(k => assert(truth(k) == lsh(k), s"cos mismatch on $k"))
    assert(lsh.values.forall(_ >= 0.9))
  }

  test("semantic dedup (SemDeDup) drops planted clones in-cluster, keeps a representative") {
    val frame = Dedup.withPlantedNearDups(spark, sfDir)
    val out = Dedup.semanticFrame(frame, nlist = 8, iters = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == frame.count())
    val maxId = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("vec_id"))).head().getLong(0)
    val offset = Dedup.cloneOffset(maxId)
    val (clones, originals) = out.partition(_._1 >= offset)
    assert(clones.nonEmpty && originals.nonEmpty)
    // a clone sits at cos ~0.95 to its original: same k-means cell except
    // within ε of a boundary, and the min-id rule keeps the original
    val cloneDropRate = clones.count(!_._2._2).toDouble / clones.size
    assert(cloneDropRate >= 0.8, s"clone drop rate $cloneDropRate")
    val origKeepRate = originals.count(_._2._2).toDouble / originals.size
    assert(origKeepRate >= 0.95, s"original keep rate $origKeepRate")
    // no cluster is emptied: at least one keeper per occupied cell
    val keptCells = out.values.filter(_._2).map(_._1).toSet
    assert(out.values.map(_._1).toSet == keptCells)
    // deterministic end-to-end (init, Lloyd, assignment, pruning)
    val again = Dedup.semanticFrame(frame, nlist = 8, iters = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(again == out)
  }

  test("nlistSized tracks sqrt(n) within the floor/cap, so pairs/cell stay bounded") {
    assert(Dedup.nlistSized(0) == 16)
    assert(Dedup.nlistSized(100) == 16)           // floor
    assert(Dedup.nlistSized(500) == 22)
    assert(Dedup.nlistSized(2000) == 45)
    assert(Dedup.nlistSized(200000) == 447)
    assert(Dedup.nlistSized(20000000000L) == 65536) // cap
    // the scale invariant the sizing exists for: intra-cell pair cost
    // n²/nlist grows ~n^1.5, i.e. a 100× corpus costs ~1000× the pairs,
    // not 10000× — check the implied ratio stays sub-quadratic
    val small = 2000.0 * 2000.0 / Dedup.nlistSized(2000)
    val big = 200000.0 * 200000.0 / Dedup.nlistSized(200000)
    assert(big / small < 1200, s"pair-cost ratio ${big / small} not ~n^1.5")
    // the production entry derives its nlist from the corpus (smoke:
    // stats reflect the sized cell count and a bounded max cell)
    val (nlist, cells, maxC, pairs) = Dedup.semanticStats(spark, sfDir)
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(nlist == Dedup.nlistSized(n))
    assert(cells >= 1 && cells <= nlist)
    assert(maxC >= 1 && pairs >= 0)
  }

  test("embedding LSH fetches candidate payloads via broadcast joins") {
    // the candidate-payload joins must not fall to sort-merge: SMJ
    // sorts an intermediate that carries a vector per row (measured
    // 10-30x slower and spill-prone at 10x scale)
    val plan = Dedup.embeddingNearDup(spark, sfDir)
      .queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected >=2 broadcast payload joins, got $broadcasts")
  }

  test("the verify's cosine floor is the smallest double that rounds to the threshold") {
    import spark.implicits._
    // Spark's own round(x, 6) on the 3 doubles either side of the floor
    // and the floor itself: only the floor and those above it reach the
    // threshold
    for (t <- Seq(0.9, 0.95, 0.8, 0.5, 0.3, 0.1234565, 0.9000004, 0.99999951, 1.0)) {
      val floor = Dedup.roundedFloor(t)
      val around = (-3 to 3).map { k =>
        val x = Iterator.iterate(floor)(d => if (k < 0) math.nextDown(d) else math.nextUp(d))
          .drop(math.abs(k)).next()
        k -> x
      }
      val rounded = around.map(_._2).toDF("x")
        .select(round(col("x"), 6)).collect().map(_.getDouble(0))
      around.zip(rounded).foreach { case ((k, x), r) =>
        assert((r >= t) == (k >= 0), s"threshold $t: round($x, 6) = $r at floor${if (k >= 0) "+" else ""}$k ulp")
      }
    }
    assert(Dedup.roundedFloor(Double.NaN).isNaN)
    assert(Dedup.roundedFloor(Double.PositiveInfinity) == Double.PositiveInfinity)
  }

  test("embedding verify == verify-every-candidate-then-distinct, at the rounding edge") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    val t = 0.9
    // (1, 0) against (c, sqrt(1 - c²)) has cosine c up to the last bits
    def at(c: Double) = Array(c, math.sqrt(1 - c * c))
    val vecs = Seq(
      1L -> Array(1.0, 0.0),
      2L -> at(0.95),         // clearly kept
      3L -> at(t - 3e-7),     // rounds up to t: kept
      4L -> at(t - 6e-7),     // rounds to t - 1e-6: dropped after the prefilter
      5L -> at(t - 2e-6),     // dropped by the prefilter
      6L -> Array(0.0, 0.0),  // zero norm: 0/0 under ANSI division
      7L -> Array(0.0, 1.0))  // orthogonal: dropped
    val e = vecs.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    // every candidate three times, as multi-band matches arrive
    def candOf(pairs: Seq[(Long, Long)]) = Seq.fill(3)(pairs).flatten.toDF("vec_a", "vec_b")
      .repartition(3, col("vec_a"), col("vec_b"))
    val cand = candOf(Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L, 1L -> 7L, 2L -> 3L))
    val zeroCand = candOf(Seq(1L -> 2L, 1L -> 6L))
    for (broadcastVerify <- Seq(true, false)) {
      val side0 = e.select(col("vec_id"), col("v"), col("nrm"))
      val side = if (broadcastVerify) broadcast(side0) else side0.hint("shuffle_hash")
      def reference(cand: org.apache.spark.sql.DataFrame) = cand
        .join(side.as("sa"), col("vec_a") === col("sa.vec_id"))
        .join(side.as("sb"), col("vec_b") === col("sb.vec_id"))
        .select(col("vec_a"), col("vec_b"),
          round(call_function("graft_dot", col("sa.v"), col("sb.v"))
            / (col("sa.nrm") * col("sb.nrm")), 6).as("cos"))
        .where(col("cos") >= t)
        .distinct()
      val got = Dedup.embeddingVerifyFrame(e, cand, t, broadcastVerify)
      assert(sortedRows(got) == sortedRows(reference(cand)), s"broadcastVerify = $broadcastVerify")
      val kept = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(kept == Set(1L -> 2L, 1L -> 3L, 2L -> 3L), s"broadcastVerify = $broadcastVerify")
      // a zero vector has no cosine: its pair is dropped, as DuckDB's NULL division drops it
      val zeroKept = Dedup.embeddingVerifyFrame(e, zeroCand, t, broadcastVerify).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(zeroKept == Set(1L -> 2L), s"broadcastVerify = $broadcastVerify")
    }
  }

  test("a zero-norm vector drops its pairs from the exhaustive and semantic cosines") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    // k-means starts from the vectors with the smallest ids, so id 0 is nonzero
    val e = Seq(0L -> Array(1.0f, 0.0f), 1L -> Array(0.99f, 0.1f), 2L -> Array(0.0f, 0.0f))
      .toDF("vec_id", "v").withColumn("label", lit(0))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val pairs = Dedup.embeddingCosineFrame(e, 0.9).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq(0L -> 1L))
    val keep = Dedup.semanticFrame(e.drop("label"), nlist = 1, iters = 1, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == Map(0L -> true, 1L -> false, 2L -> true))
  }

  test("LSH candidate streams hash-partition on the pair ids, never round-robin") {
    // inputs read as they are, so any round-robin exchange in the plan
    // belongs to the candidate stream
    GraftFunctions.register(spark)
    val frame = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val emb = Dedup.embeddingCosineLshFrame(frame, threshold = 0.9)
    emb.collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val mh = Dedup.minhashCandFrame(docs)
    mh.collect()
    // the dedup_embedding_lsh entry reads one small file, which
    // Dedup.parallelize spreads by a hash of the vector id
    val entry = Dedup.embeddingNearDup(spark, sfDir)
    entry.collect()
    for (df <- Seq(emb, mh, entry)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("RoundRobinPartitioning"), plan)
    }
  }

  test("cluster-size census partitions the paired docs; every cluster has >= 2 members") {
    val hist = Dedup.clusterSizeHist(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(hist.nonEmpty)
    // clusters only exist over PAIRED documents, so no singleton rows
    hist.foreach { case (size, n) => assert(size >= 2 && n >= 1) }
    // the census is a partition of the labeled set: sizes weighted by
    // cluster counts must re-total the member rows exactly
    val members = Dedup.cluster(spark, sfDir).count()
    assert(hist.map { case (size, n) => size * n }.sum == members)
  }

  test("clusterPairs routes (default, uncontracted, contracted, shuffle jump) equal a union-find reference") {
    // adversarial graph: a 60-node chain (forces many propagation
    // rounds), a 6-clique sharing its minimum with nothing, and one
    // isolated pair — ids interleaved so the minimum is not positional
    val chain = (0 until 59).map(i => (100L + i, 101L + i))
    val clique = for (a <- 0 until 6; b <- (a + 1) until 6) yield (10L + a, 10L + b)
    val lone = Seq((7L, 3L))
    val edges = chain ++ clique ++ lone
    val pairs = spark.createDataFrame(edges).toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val reference = UnionFindReference.clusterRows(edges)
    // sanity on the reference itself: chain is ONE component rooted at
    // its min, the clique at 10, the pair at 3
    val byCluster = reference.groupBy(_._2)
    assert(byCluster.keySet == Set(100L, 10L, 3L) && byCluster(100L).size == 60 &&
      byCluster(10L).size == 6 && byCluster(3L).size == 2)
    // the default route on a tiny graph (size-gated: below
    // ClusterContractionMinPairs the driver labels it, no loop round) …
    assert(rows(Dedup.clusterPairs(pairs)) == reference,
      "default route changed the component labeling")
    assert(Dedup.lastClusterRounds == 0 && Dedup.lastClusterNodes == 68,
      "the default route did not label the 68 paired docs on the driver")
    // … the driver route, forced by the gate …
    assert(rows(Dedup.clusterPairsTuned(pairs, 40,
      contractionMinPairs = Long.MaxValue)) == reference,
      "driver route changed the component labeling")
    // … the driver route when one partition holds more than its equal
    // share of the gate: one job counts, a second ships the edges. The
    // route flips exactly at the gate …
    def onePartition(es: Seq[(Long, Long)]) =
      spark.createDataFrame(es).toDF("doc_a", "doc_b").repartition(1).localCheckpoint()
    val skewed = onePartition(chain).union(onePartition(clique ++ lone))
    val (skewedRows, skewedJobs) = jobsDuring(rows(Dedup.clusterPairsTuned(skewed, 40,
      contractionMinPairs = edges.size + 1L)))
    assert(skewedRows == reference && Dedup.lastClusterRounds == 0 && skewedJobs == 2,
      s"skewed driver route: ${Dedup.lastClusterRounds} rounds, $skewedJobs jobs")
    assert(rows(Dedup.clusterPairsTuned(skewed, 40,
      contractionMinPairs = edges.size.toLong)) == reference && Dedup.lastClusterRounds > 0,
      "a graph at the gate must take the contracted route")
    // … the uncontracted loop over the whole pair graph, which only
    // non-Long ids take …
    val intPairs = pairs.select(col("doc_a").cast("int").as("doc_a"),
      col("doc_b").cast("int").as("doc_b"))
    assert(Dedup.clusterPairs(intPairs).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2), r.getBoolean(3)))
      .toSet == reference,
      "uncontracted route changed the component labeling")
    val uncontractedRounds = Dedup.lastClusterRounds
    // … the shuffled pointer-jump join …
    assert(rows(Dedup.clusterPairsTuned(pairs, 40,
      broadcastJumpMaxRows = 0L, contractionMinPairs = 0L)) == reference,
      "shuffle-jump route changed the component labeling")
    // … and the contraction route, forced on via the gate: partition-
    // local union-find feeding the same loop. The chain is the
    // adversarial case — edges scattered across partitions force
    // boundary-graph stitching, while whatever lands together must
    // collapse locally.
    assert(rows(Dedup.clusterPairsTuned(pairs, 40,
      contractionMinPairs = 0L)) == reference,
      "contracted route changed the component labeling")
    val contractedRounds = Dedup.lastClusterRounds
    // contraction runs the loop on the boundary graph: never more
    // rounds than the uncontracted loop
    assert(contractedRounds <= uncontractedRounds,
      s"contracted loop took MORE rounds ($contractedRounds > $uncontractedRounds)")
    // the loop must have run on a CONTRACTED node set: strictly fewer
    // loop nodes than the 68 distinct paired docs (60-chain + 6-clique
    // + pair), however the 2 local-mode partitions split the edges
    assert(Dedup.lastClusterNodes >= 0 && Dedup.lastClusterNodes < 68,
      s"contraction did not shrink the loop (${Dedup.lastClusterNodes} nodes)")
  }

  test("quality keeper keeps the best-scoring member of every cluster, same kept count") {
    val quality = Dedup.pipelineQuality(spark, sfDir)
    // same partition of the corpus as the canonical keeper over the SAME
    // pair set: one keeper per cluster + singletons — only the CHOICE of
    // keeper differs, never the kept-corpus size
    assert(quality.count() == Dedup.pipelineOverPairs(
      spark.read.parquet(s"$sfDir/documents.parquet").select(org.apache.spark.sql.functions.col("doc_id")),
      Dedup.ngramJaccard(spark, sfDir, 0.3)).count())
    // every kept doc carries the MAX quality score of its cluster
    val clusters = Dedup.cluster(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // doc_id -> cluster_id
    val scores = graft.operators.TextAnalysis.quality(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    val bestByCluster = clusters.groupBy(_._2).view
      .mapValues(_.keys.map(scores).max).toMap
    val keptPaired = quality.collect()
      .map(r => (r.getLong(0), r.getAs[Double]("quality_score")))
      .filter(k => clusters.contains(k._1))
    assert(keptPaired.nonEmpty)
    keptPaired.foreach { case (id, s) =>
      assert(s == bestByCluster(clusters(id)), s"doc $id is not the best of its cluster")
    }
  }

  test("exactIncremental: brute delta recompute; covers base-dup, delta-dup, novel") {
    import org.apache.spark.sql.functions._
    val out = Dedup.exactIncremental(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(out.nonEmpty)
    // brute: replant the deterministic re-delivery corpus, then the
    // exact canonicalization chain
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byId = raw.toMap
    val fps = raw.map { case (id, own) =>
      val text =
        if (id % 100 == 90) byId.getOrElse(id - 50, own)
        else if (id % 7 == 3) byId.getOrElse(id - 3, own)
        else own
      (id, java.security.MessageDigest.getInstance("MD5")
        .digest(text.toLowerCase.replaceAll("\\s+", " ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    }
    val baseFps = fps.filter(_._1 % 10 != 0).map(_._2).toSet
    val delta = fps.filter(_._1 % 10 == 0)
    assert(out.keySet == delta.map(_._1).toSet)
    val keeper = delta.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    delta.foreach { case (id, fp) =>
      val inBase = baseFps.contains(fp)
      val kept = !inBase && keeper(fp) == id
      assert(out(id) == ((inBase, kept)), s"delta doc $id mismatch")
    }
    // all three regimes must occur or the contract is under-tested
    assert(out.values.exists(_._1), "no delta doc duplicates the base; vacuous")
    assert(out.values.exists(v => !v._1 && v._2), "no novel keeper; vacuous")
    assert(out.values.exists(v => !v._1 && !v._2) ||
      delta.groupBy(_._2).values.forall(_.size == 1),
      "no intra-delta duplicate and none expected")
  }

  test("keepersWeighted: weights conserve corpus mass; keepers are cluster minima") {
    import org.apache.spark.sql.functions._
    val out = Dedup.keepersWeighted(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    // THE invariant: reweighted training sees the original distribution
    assert(out.values.sum == nDocs, "sum of weights must equal the corpus size")
    val clusters = Dedup.cluster(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    byCluster.foreach { case (_, members) =>
      val keeper = members.min
      assert(out.contains(keeper) && out(keeper) == members.length.toLong,
        s"keeper $keeper must carry its cluster size")
      members.filter(_ != keeper).foreach(m =>
        assert(!out.contains(m), s"non-keeper $m must not survive"))
    }
    // unpaired docs keep themselves at weight 1
    val paired = clusters.map(_._1).toSet
    out.filterNot(kv => paired.contains(kv._1)).values.foreach(w => assert(w == 1L))
    assert(out.size == nDocs - paired.size + byCluster.size)
  }

  test("minhashCalibration: estimates are 1/32-grained and track exact jaccard") {
    val out = Dedup.minhashCalibration(spark, sfDir).collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.nonEmpty)
    out.foreach { case (j, est, band) =>
      assert(j >= 0.5, "only verified pairs are calibrated")
      // est is an integer count of 32 matching positions
      val cnt = est * 32
      assert(math.abs(cnt - math.round(cnt)) < 1e-9 && est >= 0 && est <= 1)
      assert(band == (math.abs(est - j) <= 0.35))
    }
    // the estimator genuinely tracks truth: mean |err| within ~1.5x
    // the binomial bound sqrt(J(1-J)/32) <= 0.0884
    val meanErr = out.map(t => math.abs(t._2 - t._1)).sum / out.length
    assert(meanErr <= 0.13, s"mean |est - true| = $meanErr")
    // band violations are the rare tail, not the norm
    assert(out.count(_._3).toDouble / out.length >= 0.9)
  }

  test("yieldReport: monotone funnel totals, exact stage equals fingerprint census") {
    // minQuality 0.8: at sf0.001 every near-dup survivor clears the
    // default 0.5, which would leave the last stage vacuous here
    val out = Dedup.yieldReport(spark, sfDir, minQuality = 0.8).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out.nonEmpty)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    // per-source doc counts match the corpus
    val bySrc = corpus.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == bySrc.keySet)
    out.foreach { case (s, (n, _, _, _)) => assert(n == bySrc(s)) }
    // funnel totals are monotone and every stage drops something here:
    // the planting guarantees exact drops, the corpus has near-dups,
    // and the quality gate is not vacuous
    val (tN, tE, tD, tQ) = out.values.foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, b, c, d), (n, e, nd, q)) => (a + n, b + e, c + nd, d + q)
    }
    assert(tN > tE && tE > tD && tD > tQ,
      s"funnel $tN -> $tE -> $tD -> $tQ must strictly drop at each stage")
    // the exact stage total is the planted corpus's fingerprint census,
    // recomputed here with the same re-delivery rule
    val d0 = corpus.select(col("doc_id"), col("text"))
    val srcId = when(col("doc_id") % 100 === 90, col("doc_id") - 50)
      .when(col("doc_id") % 7 === 3, col("doc_id") - 3)
    val planted = d0.select(col("doc_id"), srcId.as("src"), col("text").as("own"))
      .join(d0.select(col("doc_id").as("src"), col("text").as("st")), Seq("src"), "left")
      .select(col("doc_id"), coalesce(col("st"), col("own")).as("text"))
    val nFp = planted
      .select(md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
      .distinct().count()
    assert(tE == nFp, s"exact survivors $tE != distinct fingerprints $nFp")
  }
}
