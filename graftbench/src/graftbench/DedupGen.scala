package graftbench

import org.apache.spark.sql.SparkSession

final case class Doc(doc_id: Long, text: String)
final case class Emb(vec_id: Long, v: Array[Float], nrm: Double)

/** The seeded dedup corpus. Documents are laid out in id order; a planted
  * near-duplicate cluster is a base document followed by its members, so
  * the base is the cluster's smallest id (the keeper graft must choose).
  * Cluster sizes have a Pareto tail. Each member is a near duplicate of
  * its base through one channel only:
  *  - text: the base's tokens reordered (SimHash is order-free, so the
  *    pair sits at Hamming distance 0), with an unrelated embedding;
  *  - embedding: the base's vector plus noise (cosine ≈ 0.96), with
  *    unrelated text.
  * Unplanted documents have random text and vectors, so no other pair
  * comes near either threshold.
  */
final class DedupGen(val seed: Long, val nDocs: Int) extends Serializable {
  import DedupGen._

  /** The base id of every document's cluster (its own id if unplanted).
    * The multiset of cluster sizes is the same for every seed (stratified
    * Pareto quantiles); the seed shuffles where the clusters sit.
    */
  val baseOf: Array[Int] = {
    val clusters = (nDocs * PlantedShare / MeanCluster).toInt
    val sizes = Array.tabulate(clusters) { j =>
      val u = (j + 0.5) / clusters
      math.min(MaxCluster, (2.0 / math.pow(1.0 - u, 1 / 1.5)).toInt)
    }
    val rnd = new scala.util.Random(seed)
    val blocks = rnd.shuffle(sizes.toSeq ++ Seq.fill(nDocs - sizes.sum)(1))
    val out = new Array[Int](nDocs)
    var i = 0
    blocks.foreach { size =>
      (i until i + size).foreach(out(_) = i)
      i += size
    }
    out
  }

  def isMember(i: Int): Boolean = baseOf(i) != i
  /** Members alternate between the two channels. */
  def textChannel(i: Int): Boolean = (i - baseOf(i)) % 2 == 1

  /** (base, member) pairs the generator planted. */
  lazy val plantedPairs: Long = (0 until nDocs).count(isMember).toLong
  /** Planted cluster sizes by base id. */
  lazy val clusterSizes: Map[Int, Int] =
    (0 until nDocs).groupBy(baseOf).collect { case (b, ms) if ms.size > 1 => b -> ms.size }
  /** Distinct SimHashes of the corpus: a text member shares its base's
    * hash, and unrelated texts collide with negligible probability.
    */
  lazy val distinctTextHashes: Long =
    nDocs - (0 until nDocs).count(i => isMember(i) && textChannel(i))
  /** The kept count when every planted pair is found and nothing else is. */
  def perfectKept: Long = nDocs - plantedPairs

  private def tokens(i: Int): Array[String] = {
    val n = 24 + Mix.below(Mix.h(seed, i, 0, 13), 17).toInt
    Array.tabulate(n)(j => "w" + Mix.below(Mix.h(seed, i, j, 12), Vocab))
  }

  def text(i: Int): String =
    if (isMember(i) && textChannel(i)) {
      val t = tokens(baseOf(i))
      val r = 1 + Mix.below(Mix.h(seed, i, 0, 14), t.length - 1).toInt
      (t.drop(r) ++ t.take(r)).reverse.mkString(" ")
    } else tokens(i).mkString(" ")

  private def gauss(i: Int, salt: Long): Array[Double] = Array.tabulate(Dim) { j =>
    val u1 = 1.0 - Mix.unit(Mix.h(seed, i, j, salt))
    val u2 = Mix.unit(Mix.h(seed, i, j, salt + 1))
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def vector(i: Int): Array[Float] = {
    val v =
      if (isMember(i) && !textChannel(i)) {
        val b = gauss(baseOf(i), 20); val e = gauss(i, 30)
        Array.tabulate(Dim)(j => b(j) + Noise * e(j))
      } else gauss(i, 20)
    v.map(_.toFloat)
  }

  def doc(i: Long): Doc = Doc(i, text(i.toInt))
  def emb(i: Long): Emb = {
    val v = vector(i.toInt)
    var s = 0.0
    v.foreach(x => s += x.toDouble * x.toDouble)
    Emb(i, v, math.sqrt(s))
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val g = this
    spark.range(0, nDocs, 1, Partitions).as[Long].mapPartitions(_.map(g.doc))
      .write.parquet(s"$dir/documents.parquet")
    spark.range(0, nDocs, 1, Partitions).as[Long].mapPartitions(_.map(g.emb))
      .write.parquet(s"$dir/embeddings.parquet")
  }
}

object DedupGen {
  val Dim = 64
  val Vocab = 20000L
  val Noise = 0.3
  val MaxCluster = 100
  /** Share of documents in planted clusters, and the mean of the capped
    * Pareto(1.5, 2) cluster sizes that sets how many clusters that takes.
    */
  val PlantedShare = 0.3
  val MeanCluster = 5.0
  val Partitions = 8
  /** Cosine threshold for the embedding near-duplicate channel. */
  val CosThreshold = 0.9
}
