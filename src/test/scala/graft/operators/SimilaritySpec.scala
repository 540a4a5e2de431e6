package graft.operators

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec with TempDirSpec {

  test("brute-force topk: k rows per query, ranked, self excluded") {
    val out = Similarity.bruteForceTopK(spark, sfDir, numQueries = 3, k = 5).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 3)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(rows.forall(_.getAs[Long]("vec_id") != q))
      val cosSorted = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos"))
      assert(cosSorted.zip(cosSorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("range search returns the COMPLETE cos >= t set (exhaustive cross-check)") {
    val t = 0.2
    val out = Similarity.rangeSearch(spark, sfDir, numQueries = 5, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.nonEmpty)
    assert(out.values.forall(_ >= t))
    // the exhaustive ranking restricted to cos >= t must be EXACTLY the
    // range result — completeness is the whole point vs a top-k
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count().toInt
    val full = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = n)
      .where(col("cos") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    assert(out == full)
  }

  test("knn join: block-count-invariant, self-excluded, k per query over the label set") {
    val one = Similarity.knnJoin(spark, sfDir, qLabel = 0, k = 5, blocks = 1)
    val three = Similarity.knnJoin(spark, sfDir, qLabel = 0, k = 5, blocks = 3)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("cos"), r.getAs[Long]("rnk"))
    assert(one.collect().map(key).toSet == three.collect().map(key).toSet)
    val rows = one.collect()
    val nQ = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("label") === 0).count()
    assert(rows.map(_.getAs[Long]("q_id")).distinct.length.toLong == nQ)
    assert(rows.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("vec_id")))
    assert(rows.groupBy(_.getAs[Long]("q_id")).values.forall(_.length == 5))
  }

  test("ivf knn join: exact cosines, recall floor vs the exact join") {
    val exact = Similarity.knnJoin(spark, sfDir, qLabel = 0, k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ivfRows = Similarity.knnJoinIvf(spark, sfDir, qLabel = 0, k = 5).collect()
    val ivf = ivfRows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    // every returned cosine is the exact full-precision score: compare
    // against the exhaustive per-pair cosines from bruteForce at full k
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count().toInt
    val allCos = Similarity.knnJoin(spark, sfDir, qLabel = 0, k = n).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cos"))
      .toMap
    ivfRows.foreach { r =>
      assert(allCos((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
        == r.getAs[Double]("cos"))
    }
    val recall = (ivf & exact).size.toDouble / exact.size
    // measured 0.496 at sf0.001 with nprobe/nlist = 4/16 (reading 1/4 of
    // the lists): the synthetic corpus is near-flat in cosine (max
    // pairwise ≈ 0.48, same characteristic the PQ recall note documents),
    // so neighbors spread across lists almost uniformly — the floor
    // pins the measured behavior; real clustered embeddings sit far
    // higher, and nprobe is the knob
    assert(recall >= 0.45, s"ivf knn-join recall@5 $recall below floor")
  }

  test("recall eval: one row per query, hits consistent with the two rankings") {
    val out = Similarity.recallEval(spark, sfDir).collect()
    assert(out.length == 5)
    val bf = Similarity.bruteForceTopK(spark, sfDir, 5, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = Similarity.ivfTopK(spark, sfDir, 5, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    out.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val hits = r.getAs[Long]("hits")
      assert(hits == bf.filter(_._1 == q).count(ivf.contains))
      assert(r.getAs[Double]("recall") == hits.toDouble / 5)
    }
  }

  test("recall curve: recall non-decreasing in nprobe, full-probe row matches recallEval") {
    val out = Similarity.recallCurve(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("q_id")) ->
        r.getAs[Double]("recall")).toMap
    assert(out.size == 4 * 5)
    // more probed lists can only add candidates: per query, recall is
    // monotone in nprobe
    val qs = out.keys.map(_._2).toSet
    for (q <- qs; Seq(a, b) <- Seq(1, 2, 4, 8).sliding(2))
      assert(out((a, q)) <= out((b, q)),
        s"query $q: recall@nprobe=$a ${out((a, q))} > @nprobe=$b ${out((b, q))}")
    // the shared-baseline contract: EVERY sweep point equals the
    // independent per-nprobe eval — the one-pass (q_id, nprobe) window
    // may only change the cost, never a selection
    for (np <- Seq(1, 2, 4, 8)) {
      val single = Similarity.recallEval(spark, sfDir, nprobe = np).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall")).toMap
      qs.foreach(q => assert(out((np, q)) == single(q),
        s"sweep point nprobe=$np query $q: ${out((np, q))} != ${single(q)}"))
    }
  }

  test("ivf filtered topk: predicate holds, full k per query, cosines exact vs the filtered baseline") {
    val out = Similarity.ivfFilteredTopK(spark, sfDir, numQueries = 3, k = 5)
      .collect()
    assert(out.nonEmpty)
    // the filtered exhaustive baseline: label % 4 == 1 over the WHOLE
    // corpus — the IVF hits must be a subset with identical cosines
    val exact = Similarity.filteredTopK(spark, sfDir, numQueries = 3, k = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"hit $key fails the label predicate " +
        "or is outside the filtered ranking")
      assert(exact(key) == r.getAs[Double]("cos"))
    }
    // pre-filter within the probed lists: every query still fills k
    // (enough matching vectors exist in 4 probed lists at this SF)
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 5))
  }

  test("filtered topk: pre-filter semantics — true top-k of the matching subset") {
    val out = Similarity.filteredTopK(spark, sfDir, numQueries = 3, k = 5).collect()
    assert(out.nonEmpty)
    // every hit satisfies the predicate
    assert(out.forall(_.getAs[Number]("label").longValue % 4 == 1))
    // pre-filter, not post-filter: every query still gets a FULL k hits
    // (a post-filtered top-k would come up short whenever the global
    // top-k contains non-matching labels), and the hit set differs from
    // the unfiltered ranking
    val unfiltered = Similarity.bruteForceTopK(spark, sfDir, numQueries = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSet
    val got = out.map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSet
    assert(got != unfiltered)
    val perQ = out.groupBy(_.getLong(0))
    perQ.foreach { case (_, rows) => assert(rows.length == 5) }
  }

  test("ivf append: incrementally indexed corpus carries the same assignment as a full build") {
    val e = Similarity.vecs(spark, sfDir)
    val maxId = e.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2
    // first-16 centroids live in the base half, so both builds train identically
    val train = () => Similarity.firstVectorCentroids(e, 16)
    val idxInc = IvfIndex.ensure(spark, sfDir, "spec_inc", 16, 0, train,
      e.where(col("vec_id") <= cut))
    IvfIndex.append(idxInc, e.where(col("vec_id") > cut))
    val idxFull = IvfIndex.ensure(spark, sfDir, "spec_full", 16, 0, train, e)
    def assign(ix: IvfIndex.Index) = IvfIndex.open(spark, ix)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = assign(idxInc)
    val full = assign(idxFull)
    assert(inc.nonEmpty && inc == full)
    // the appended half genuinely went through the append path
    assert(inc.exists(_._1 > cut))
    // append invalidated the fingerprint-keyed cache: re-ensuring the
    // same key REBUILDS the pristine half-corpus index instead of
    // silently serving the mutated layout as if it matched its key
    val again = assign(IvfIndex.ensure(spark, sfDir, "spec_inc", 16, 0, train,
      e.where(col("vec_id") <= cut)))
    assert(again.nonEmpty && again.forall(_._1 <= cut))
  }

  test("pq topk: hits carry exact cosines (subset of exhaustive) with measured recall") {
    val pq = Similarity.pqTopK(spark, sfDir, numQueries = 5, k = 10)
    val bf = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = 500)
    val pqRows = pq.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bfAll = bf.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pqRows.nonEmpty)
    // every returned cosine is EXACT: identical to the exhaustive kernel
    pqRows.foreach { case (key, c) =>
      assert(bfAll.get(key).contains(c), s"pair $key cos mismatch")
    }
    // recall@10 of the ADC shortlist + exact re-rank vs the true top-10.
    // Measured at the default re-rank depth (shortlist=100): 0.86 here
    // (sf0.001), 0.90 at sf0.01, 0.68 at sf0.1 — the synthetic corpus
    // has near-flat cosine structure (max pairwise cos ≈ 0.48), so
    // true-neighbor margins are tiny and 4-bit ADC error reorders them;
    // deeper re-rank recovers it (0.74/0.98 at shortlist=200), and on
    // real correlated embeddings an OPQ rotation before the subspace
    // split is the standard fix. Floor set just under the measurement.
    val top10 = bf.where(col("rnk") <= 10).select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = top10.count(pqRows.contains)
    val recall = hit.toDouble / top10.size
    assert(recall >= 0.8, s"recall@10 $recall below floor (hit $hit/${top10.size})")
  }

  test("ivf-pq: exact subset-of-exhaustive hits; ADC scan never reads the vector column") {
    val ivfpq = Similarity.ivfPqTopK(spark, sfDir, numQueries = 5, k = 10)
    val rows = ivfpq.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows.nonEmpty)
    val bf = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = 500)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { case (key, c) =>
      assert(bf.get(key).contains(c), s"pair $key cos mismatch")
    }
    // recall@10 vs the true top-10 (measured 0.88 at sf0.001 / 0.92 at
    // sf0.01 / 0.72 at sf0.1 at the default shortlist=100 — see the
    // pq spec above for why the flat synthetic corpus bounds this and
    // when OPQ would be the fix); floor just under the measurement
    val top10bf = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = 10)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpqRecall = top10bf.count(rows.contains).toDouble / top10bf.size
    assert(ivfpqRecall >= 0.8, s"ivfpq recall@10 $ivfpqRecall below floor")
    // the ADC phase reads codes, norms, ids — parquet column pruning
    // must keep the 64-float vector column out of that scan entirely
    val plan = ivfpq.queryExecution.executedPlan.toString
    val codeScans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("code")).toSeq
    assert(codeScans.nonEmpty, s"no code scan found:\n${plan.take(2000)}")
    assert(codeScans.forall(!_.contains("v:array")),
      s"ADC scan must not read v:\n${codeScans.mkString("\n")}")
  }

  test("ivf-pq append: incrementally coded corpus equals a full build (codes included)") {
    val e = Similarity.vecs(spark, sfDir)
    val maxId = e.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2
    val train = () => Similarity.firstVectorCentroids(e, 16)
    // books trained on the BASE half in both builds, so the quantizers
    // are identical and only the append path differs
    val books = () => Similarity.pqBooksFromCorpus(e.where(col("vec_id") <= cut), 8, 4096)
    val inc = IvfIndex.ensurePq(spark, sfDir, "pq_spec_inc", 16, 0, train, books,
      e.where(col("vec_id") <= cut))
    IvfIndex.appendPq(inc, e.where(col("vec_id") > cut))
    val full = IvfIndex.ensurePq(spark, sfDir, "pq_spec_full", 16, 0, train, books, e)
    def rows(ix: IvfIndex.PqIndex) = IvfIndex.openPqCodes(spark, ix)
      .select("vec_id", "list_id", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = rows(inc)
    val b = rows(full)
    assert(a.nonEmpty && a == b)
    assert(a.exists(_._1 > cut), "appended half must be coded and searchable")
    // append invalidated the cache: re-ensuring the same key rebuilds pristine
    val again = rows(IvfIndex.ensurePq(spark, sfDir, "pq_spec_inc", 16, 0, train, books,
      e.where(col("vec_id") <= cut)))
    assert(again.nonEmpty && again.forall(_._1 <= cut))
  }

  test("lsh topk returns only same-bucket candidates ranked like brute force") {
    val lsh = Similarity.lshTopK(spark, sfDir, numQueries = 5, k = 5)
    val bf = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = 500)
    // every LSH hit must appear in the exhaustive ranking with same cosine
    val lshRows = lsh.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bfRows = bf.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lshRows.foreach { case (k2, c) =>
      assert(bfRows.get(k2).contains(c), s"pair $k2 cos mismatch")
    }
  }

  test("ivf topk hits are a subset of the exhaustive ranking with same cosines") {
    val ivf = Similarity.ivfTopK(spark, sfDir, numQueries = 5, k = 5)
    val bf = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = 500)
    val ivfRows = ivf.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ivfRows.nonEmpty)
    val bfRows = bf.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivfRows.foreach { case (k2, c) =>
      assert(bfRows.get(k2).contains(c), s"pair $k2 cos mismatch")
    }
  }

  test("multi-probe lsh: superset of single-probe hits, exact cosines, better-or-equal recall") {
    val k = 5
    val single = Similarity.lshTopK(spark, sfDir, numQueries = 5, k = k)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val multi = Similarity.lshMultiProbeTopK(spark, sfDir, numQueries = 5, k = k)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bf = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = k)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(multi.nonEmpty)
    // all cosines must agree with the exhaustive computation
    val exhaustive = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = 500)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    multi.foreach { case (k2, c) => assert(exhaustive.get(k2).contains(c)) }
    // probing hamming-1 buckets can only add candidates per query, so
    // recall vs brute-force top-k must be >= single-probe recall
    val rSingle = bf.keySet.intersect(single.keySet).size
    val rMulti = bf.keySet.intersect(multi.keySet).size
    assert(rMulti >= rSingle, s"multi-probe recall $rMulti < single $rSingle")
  }

  test("kmeans ivf: recall@k vs brute force, cosines exact") {
    val k = 5
    val ivf = Similarity.ivfKmeansTopK(spark, sfDir, numQueries = 5, k = k)
    val bf = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = k)
    val ivfRows = ivf.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bfRows = bf.select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivfRows.nonEmpty)
    // candidate cosines must be exact (same kernel as brute force)
    val exhaustive = Similarity.bruteForceTopK(spark, sfDir, numQueries = 5, k = 500)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivfRows.foreach { case (k2, c) => assert(exhaustive.get(k2).contains(c)) }
    // recall@k: trained centroids must find most true neighbors
    val hit = bfRows.keySet.intersect(ivfRows.keySet)
    assert(hit.size >= math.ceil(bfRows.size * 0.6).toInt,
      s"recall@$k = ${hit.size}/${bfRows.size}")
  }

  test("kmeans centroids: deterministic shape, one row per surviving list") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.expressions.GraftFunctions.register(spark)
    val v = e.select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val cent = Similarity.kmeansCentroids(v, nlist = 8, iters = 2).collect()
    assert(cent.nonEmpty && cent.length <= 8)
    assert(cent.map(_.getInt(0)).distinct.length == cent.length)
  }

  test("graft_cent_cos == per-centroid round(graft_dot/(nrm*cnrm), 6)") {
    val e = Similarity.vecs(spark, sfDir)
    val data = Similarity.firstVectorCentroids(e, 8)
    val (_, flat, dim) = Similarity.packCentroids(data)
    val expected = array(data.map { case (_, cv) =>
      val cnrm = math.sqrt(cv.map(x => x * x).sum)
      round(call_function("graft_dot", col("v"), typedLit(cv)) / (col("nrm") * lit(cnrm)), 6)
    }: _*)
    val out = e.select(
      call_function("graft_cent_cos", col("v"), typedLit(flat), lit(dim), lit(true)).as("native"),
      expected.as("hof")).collect()
    out.foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
  }

  test("ivf index is materialized once and reused: inverted-list partition dirs on disk") {
    val a = Similarity.ivfTopK(spark, sfDir, numQueries = 5, k = 5).collect()
    // the index ivfTopK built: the same key, so ensure returns its path
    // without building anything
    val e = Similarity.vecs(spark, sfDir)
    val (index, jobs) = jobsDuring(IvfIndex.ensure(spark, sfDir, "first", 16, iters = 0,
      train = () => Similarity.firstVectorCentroids(e, 16), corpus = e))
    assert(jobs == 0, s"ensure of ivfTopK's key built an index ($jobs jobs)")
    val assignDir = new java.io.File(index.path, "assign")
    val listDirs = assignDir.listFiles().filter(_.getName.startsWith("list_id="))
    assert(listDirs.nonEmpty, "assignment not partitioned by list_id")
    val success = new java.io.File(assignDir, "_SUCCESS")
    val mtime = success.lastModified()
    val b = Similarity.ivfTopK(spark, sfDir, numQueries = 5, k = 5).collect()
    assert(success.lastModified() == mtime, "index rebuilt on second query")
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
  }

  test("ivf probe partition-prunes the inverted-list layout (dynamic pruning)") {
    val plan = Similarity.ivfTopK(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on list_id in:\n${plan.take(2000)}")
  }

  test("ivf plans never window/shuffle the corpus by vec_id") {
    // assignment must be a projection (kernel argmax), not a rank window
    // partitioned by vec_id over a corpus×centroids join
    for (df <- Seq(Similarity.ivfTopK(spark, sfDir),
                   Similarity.ivfKmeansTopK(spark, sfDir))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("windowspecdefinition(vec_id"),
        "corpus-side vec_id window found in IVF plan")
    }
  }

  test("concurrent ivf queries share one materialized index and agree") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val expected = Similarity.ivfKmeansTopK(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val futs = (1 to 4).map { _ =>
      Future(Similarity.ivfKmeansTopK(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq)
    }
    val all = Await.result(Future.sequence(futs),
      scala.concurrent.duration.Duration(600, "s"))
    all.foreach(a => assert(a == expected))
  }

  test("brute-force plan broadcasts the query side") {
    val plan = Similarity.bruteForceTopK(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"))
  }

  test("knnClassify: one prediction per sampled query, votes bounded by k") {
    // NOTE: the testdata corpus's labels are random w.r.t. embedding
    // geometry (measured ~chance accuracy at sf0.001 AND sf0.01), so
    // only the mechanics are assertable here; classification power is
    // proved on the clustered corpus in the next spec
    val k = 5
    val out = Similarity.knnClassify(spark, sfDir, k = k).collect()
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nQueries = e.where(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.lit(20)) === 0).count()
    assert(out.length == nQueries, "exactly one row per sampled query")
    out.foreach { r =>
      val votes = r.getAs[Long]("n_votes")
      assert(votes >= 1 && votes <= k)
      assert(r.getAs[Boolean]("correct") ==
        (r.getAs[Int]("pred_label") == r.getAs[Int]("true_label")))
    }
  }

  test("knnClassify: perfect accuracy on a label-clustered corpus") {
    import spark.implicits._
    val dir = s"$tempDir/knn_classify"
    // three orthogonal clusters of 20 vectors: cosine within a cluster
    // ≈ 1, across clusters ≈ 0 — every neighborhood is pure
    val rows = for (lab <- 0 until 3; i <- 0 until 20) yield {
      val base = Array.fill(4)(0.001f)
      base(lab) = 1.0f + 0.01f * i
      ((lab * 20 + i).toLong, base.toSeq, lab)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.knnClassify(spark, dir, k = 5, queryMod = 7).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("correct")),
      "a pure neighborhood must vote the true label")
  }

  test("clusterStats: populations cover the corpus, cosine spread is sane, deterministic") {
    val stats = Similarity.clusterStats(spark, sfDir, nlist = 8, iters = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(stats.values.map(_._1).sum == corpus, "cell populations must partition the corpus")
    stats.values.foreach { case (n, mean, lo, hi) =>
      assert(n > 0)
      assert(lo <= mean + 1e-6 && mean <= hi + 1e-6, s"spread violated: $lo $mean $hi")
      assert(lo >= -1.000001 && hi <= 1.000001)
    }
    // a member's cosine to its OWN centroid should usually beat random:
    // the per-cell max must be positive for every cell
    assert(stats.values.forall(_._4 > 0))
    val again = Similarity.clusterStats(spark, sfDir, nlist = 8, iters = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(again == stats)
  }

  test("ivfDeletedTopK: anti-join path == predicate path; tombstones never returned") {
    val row = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val anti = Similarity.ivfDeletedTopK(spark, sfDir).collect().map(row).sorted
    assert(anti.nonEmpty)
    // THE two-path contract: the gated anti-join and the pushed
    // predicate must be row-identical. The predicate path is the
    // reference: the same index searched with the tombstones filtered
    // out of the corpus.
    val e = Similarity.vecs(spark, sfDir)
    val index = IvfIndex.ensure(spark, sfDir, "first", 16, iters = 0,
      train = () => Similarity.firstVectorCentroids(e, 16), corpus = e)
    val pred = Similarity.ivfSearch(index, e.where(col("vec_id") < 5), 5, 5, 4,
      corpusFilter = Some(col("vec_id") % 17 =!= 0))
      .collect().map(row).sorted
    assert(anti.sameElements(pred))
    // no tombstoned id survives as a RESULT...
    anti.foreach { case (_, v, _, _) => assert(v % 17 != 0, s"deleted vec $v returned") }
    // ...but deleted ids still QUERY (q_id 0 is tombstoned)
    assert(anti.exists(_._1 == 0L), "deleted query id must still be answered")
    // and the deletion actually changes results vs the undeleted probe
    val full = Similarity.ivfTopK(spark, sfDir).collect().map(row).sorted
    assert(!anti.sameElements(full), "tombstones removed nothing; spec is vacuous")
  }
}
