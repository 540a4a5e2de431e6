package graft.operators

import graft.SparkSpec

/** Seeded fuzz: [[Dedup.clusterPairs]] against the union-find
  * reference ([[UnionFindReference]]) on random graphs — the driver
  * route and the contracted pointer-doubling label propagation must
  * produce exactly the connected components for any edge set, not just
  * the chain/triangle shapes the unit spec pins.
  */
class ClusterFuzzSpec extends SparkSpec {

  test("clusterPairs == union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    (1 to 6).foreach { trial =>
      val n = 20 + rnd.nextInt(180)
      val m = 1 + rnd.nextInt(2 * n)
      val edges = (1 to m).map { _ =>
        val a = rnd.nextInt(n); var b = rnd.nextInt(n)
        while (b == a) b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.distinct
      val pairs = edges.toDF("doc_a", "doc_b")
      // every graph here is below the contraction gate, so the default
      // (driver) route runs, and the contracted loop is forced with
      // each pointer-jump join
      val routes = Seq(
        "driver" -> (() => Dedup.clusterPairs(pairs)),
        "contracted, broadcast jump" -> (() =>
          Dedup.clusterPairsTuned(pairs, contractionMinPairs = 0L)),
        "contracted, shuffle jump" -> (() =>
          Dedup.clusterPairsTuned(pairs, broadcastJumpMaxRows = 0L, contractionMinPairs = 0L)))
      for ((route, run) <- routes) {
        // labels, cluster sizes and keeper flags, row for row
        val got = run().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        assert(got.length == got.toSet.size, s"trial $trial, $route: duplicate rows")
        assert(got.toSet == UnionFindReference.clusterRows(edges),
          s"trial $trial, $route (n=$n, m=${edges.size})")
      }
    }
  }

  test("repStats == brute-force reference on seeded random word soup") {
    val rnd = new scala.util.Random(77)
    val vocab = Array("a", "bb", "ccc", "d", "e", "ff")
    (1 to 300).foreach { _ =>
      val nw = rnd.nextInt(12)
      val text =
        if (nw == 0) ""
        else (1 to nw).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val got = graft.expressions.NativeKernels
        .repStats(org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toLongArray()
      val toks = text.trim.split(" +", -1)
      val bi = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val tri = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val expect = Array[Long](
        toks.length,
        toks.distinct.length,
        if (bi.isEmpty) 0L else bi.groupBy(identity).values.map(_.size).max,
        tri.distinct.length)
      assert(got.toSeq == expect.toSeq, s"text='$text'")
    }
  }
}
