package graft.operators

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSpec with TempDirSpec {

  private def pairsDf(ps: Seq[(Long, Long)]) = {
    import spark.implicits._
    ps.toDF("doc_a", "doc_b")
  }

  test("clusterPairs resolves chain, triangle, and isolated pair components") {
    val out = Dedup.clusterPairs(pairsDf(Seq(
      (1L, 2L), (2L, 3L),           // chain → comp 1
      (5L, 6L), (6L, 7L), (5L, 7L), // triangle → comp 5
      (9L, 10L))))                  // pair → comp 9
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L, 6L, 7L, 9L, 10L))
    assert(Seq(1L, 2L, 3L).forall(out(_)._1 == 1L))
    assert(Seq(5L, 6L, 7L).forall(out(_)._1 == 5L))
    assert(Seq(9L, 10L).forall(out(_)._1 == 9L))
    assert(out(1L)._2 == 3 && out(5L)._2 == 3 && out(9L)._2 == 2)
    assert(out.collect { case (id, (_, _, true)) => id }.toSet == Set(1L, 5L, 9L))
  }

  test("pointer doubling converges on a long path within the iteration cap") {
    // a 200-node path has diameter 199: plain min-propagation needs 199
    // rounds; with the label-shortcut step convergence is logarithmic.
    // The loop runs on the contracted route, forced here: the path is
    // below the gate, where the default route labels it on the driver
    val path = pairsDf((0L until 199L).map(i => (i, i + 1)))
    val loop = Dedup.clusterPairsTuned(path, contractionMinPairs = 0L).collect()
    assert(Dedup.lastClusterRounds > 0, "the forced route ran no loop round")
    val driver = Dedup.clusterPairs(path).collect()
    assert(Dedup.lastClusterRounds == 0 && Dedup.lastClusterNodes == 200L)
    for (out <- Seq(loop, driver)) {
      assert(out.length == 200)
      assert(out.forall(_.getLong(1) == 0L))
      assert(out.forall(_.getLong(2) == 200L))
    }
  }

  test("cluster over ngram pairs: endpoints co-clustered, keeper is the component min") {
    val pairs = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val out = Dedup.cluster(spark, sfDir).collect()
    val comp = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b), s"$a ~ $b split") }
    // cluster id is a member, and exactly the minimum one; keeper flags match
    out.groupBy(_.getLong(1)).foreach { case (cid, rows) =>
      val ids = rows.map(_.getLong(0))
      assert(ids.min == cid)
      assert(rows.forall(_.getLong(2) == rows.length))
      assert(rows.count(_.getBoolean(3)) == 1)
    }
  }

  test("clusterPairs is deterministic across reruns") {
    def run() = Dedup.cluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(run() == run())
  }

  test("pipeline keeps every unpaired doc and exactly one doc per dup cluster") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val kept = Dedup.pipeline(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = Dedup.clusterPairs(
      Dedup.minhashLsh(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val paired = clusters.map(_._1).toSet
    val nDocs = docs.count()
    // every doc accounted for exactly once: kept = all - (paired - keepers)
    assert(kept.size == nDocs - clusters.count(c => !c._4))
    // keepers carry their true cluster size; unpaired docs carry 1
    clusters.filter(_._4).foreach { case (id, _, size, _) =>
      assert(kept(id) == size, s"keeper $id")
    }
    kept.keys.filterNot(paired).foreach(id => assert(kept(id) == 1L))
    // no dropped doc survives
    clusters.filterNot(_._4).foreach { case (id, _, _, _) =>
      assert(!kept.contains(id), s"dropped doc $id still present")
    }
  }

  test("clusterPairs switches to reliable checkpoints when the context has a checkpoint dir") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_ckpt")).toString
    sc.setCheckpointDir(dir)
    try {
      val pairs = pairsDf(Seq((1L, 2L), (2L, 3L), (9L, 10L)))
      val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L, 10L -> 9L)
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // setCheckpointDir makes one subdirectory at once; a checkpoint
      // writes an rdd-<id> directory under it
      def ckptEntries() = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try walk.filter(_.getFileName.toString.startsWith("rdd-")).count()
        finally walk.close()
      }
      // the default route on this small graph is the driver's: it
      // checkpoints nothing
      assert(labels(Dedup.clusterPairs(pairs)) == want)
      assert(ckptEntries() == 0, "the driver route wrote a checkpoint")
      // the loop, forced through the contracted route
      assert(labels(Dedup.clusterPairsTuned(pairs, contractionMinPairs = 0L)) == want)
      // the rounds really went through the reliable path: checkpoint
      // data landed under the configured dir (and the observe-based
      // convergence probe works on that path too, or collect() above
      // would have hung/failed)
      assert(ckptEntries() > 0)
    } finally {
      sc.setCheckpointDir(null) // Option(null) => None: clears it
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("pipelineSimhash: every doc accounted once, keepers carry simhash-component sizes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // hamMax 10 at this tiny sf so the pair set is nonempty (the sf0.01
    // driver entry runs the pigeonhole-complete hamMax=3 regime)
    val kept = Dedup.pipelineSimhash(spark, sfDir, hamMax = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = Dedup.clusterPairs(
      Dedup.simhashPairs(spark, sfDir, hamMax = 10)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(clusters.nonEmpty, "expected simhash pairs at hamMax=10")
    assert(kept.size == docs.count() - clusters.count(c => !c._4))
    clusters.filter(_._4).foreach { case (id, _, size, _) =>
      assert(kept(id) == size, s"keeper $id")
    }
    clusters.filterNot(_._4).foreach { case (id, _, _, _) =>
      assert(!kept.contains(id), s"dropped doc $id still present")
    }
  }

  test("pipelineEmbedding: planted clone pairs collapse to lower-id keepers") {
    val out = Dedup.pipelineEmbedding(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val ids = out.map(_._1)
    assert(ids.length == ids.distinct.length, "every kept id exactly once")
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    // each recalled {v, clone} pair keeps ONE doc; a missed pair keeps
    // both as singletons (recall > 0.99 by banding construction), so
    // the kept corpus sits at ~n of the 2n planted rows
    assert(out.length >= n && out.length <= (n * 1.05).toLong,
      s"kept ${out.length} of planted ${2 * n}")
    val size2 = out.filter(_._2 == 2L).map(_._1)
    assert(size2.nonEmpty, "expected clone-pair clusters")
    // canonical keeper is the component min = the ORIGINAL id (clones
    // live at +cloneOffset, above every corpus id)
    assert(size2.forall(_ < 1000000L), "size-2 keepers must be originals")
  }

  test("pipeline paired-id broadcast is size-gated: plan flips, results identical (high-dup corpus)") {
    import spark.implicits._
    // 40 docs, 15 of them in 3 exact-dup clusters of 5 → 37.5% paired,
    // the web-crawl-like regime where an unconditional broadcast of the
    // paired-id set would be a scale cliff
    val docs = ((0 until 25).map(i =>
        (i.toLong, s"unique document number $i with its own drifting tail of words ${i * 7} ${i * 13} ${i * 31}")) ++
      (0 until 15).map(i =>
        (100L + i, s"duplicated boilerplate page body shared verbatim across the crawl cluster ${i / 5}")))
      .toDF("doc_id", "text")
    val gated = Dedup.pipelineFrame(docs)  // paired count ≤ BroadcastMaxIds → broadcast
    // the above-ceiling route, pinned on the same clusters
    val clusters = Dedup.clusterPairs(Dedup.minhashLshFrame(docs)).localCheckpoint()
    val unpaired = Dedup.unpairedIds(docs, clusters, clusters.count())
    val plainUnpaired = Dedup.unpairedIds(docs, clusters, Dedup.BroadcastMaxIds + 1)
    // the STATIC plans differ: broadcast hint vs the pinned sort-merge
    // (AQE may still convert at runtime when the ids turn out small)
    def antiLine(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.toString.linesIterator
        .filter(_.contains("LeftAnti")).mkString
    assert(antiLine(gated).contains("Broadcast"), "gated plan should broadcast the paired ids")
    assert(antiLine(unpaired).contains("Broadcast"), "gated plan should broadcast the paired ids")
    assert(!antiLine(plainUnpaired).contains("Broadcast"), "above-cap plan must not force a broadcast")
    assert(sortedRows(plainUnpaired) == sortedRows(unpaired))
    val a = gated.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.filter(_._2 == 1L).map(_._1) ==
      unpaired.collect().map(_.getLong(0)).toSet, "unpaired docs keep cluster size 1")
    // the corpus really is high-dup: ≥30% of the 40 docs are paired
    // (keepers carry their cluster size; 3 clusters of 5 → 15 paired)
    assert(a.filter(_._2 > 1).map(_._2).sum >= 12, "expected ≥30% of 40 docs paired")
  }

  test("a pair with a NULL id links nothing, on both routes and through the pipeline") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)), (None, None),
      (Some(7L), Some(8L))).toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val want = UnionFindReference.clusterRows(Seq(1L -> 2L, 7L -> 8L))
    assert(rows(Dedup.clusterPairs(pairs)) == want, "driver route")
    assert(rows(Dedup.clusterPairsTuned(pairs, contractionMinPairs = 0L)) == want,
      "contracted route")
    // doc 5's only pair has a NULL partner: it passes through unpaired
    val docs = (1L to 8L).toDF("doc_id")
    val kept = Dedup.pipelineOverPairs(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 2L))
  }

  test("a small pair graph is labelled on the driver: no loop, count or checkpoint job") {
    def pairs() = pairsDf(Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (9L, 10L)))
    val (rows, collectJobs) = jobsDuring(Dedup.clusterPairs(pairs()).collect())
    assert(rows.length == 8)
    // one job counts the persisted edges and ships them to the driver;
    // the labelled rows come back from a local frame
    assert(collectJobs <= 1, s"clusterPairs(...).collect() ran $collectJobs jobs")
    // building the pipeline runs exactly the jobs building the
    // components runs, so none counts or checkpoints its clusters
    val docs = { import spark.implicits._; (1L to 12L).toDF("doc_id") }
    val (_, clusterJobs) = jobsDuring(Dedup.clusterPairs(pairs()))
    val (pipeline, pipelineJobs) = jobsDuring(Dedup.pipelineOverPairs(docs, pairs()))
    assert(pipelineJobs == clusterJobs,
      s"building pipelineOverPairs ran $pipelineJobs jobs, its components $clusterJobs")
    assert(pipeline.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 3L, 4L -> 1L, 5L -> 3L, 8L -> 1L, 9L -> 2L, 11L -> 1L, 12L -> 1L))
  }
}
