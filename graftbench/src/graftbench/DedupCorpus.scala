package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftBenchGates
import graft.operators.Dedup

/** `dedup_corpus`: repeated batch passes of the full near-duplicate
  * composition over one seeded corpus — SimHash text pairs and
  * embedding-LSH pairs, their union through connected components and the
  * keeper anti-join, and the kept corpus written out. Each pass is
  * checked against the generator's planted clusters.
  */
final class DedupCorpus(ctx: Ctx) extends Workload {
  import DedupCorpus._

  val opName = "dedup_pass"
  private val gen = new DedupGen(ctx.seed, Docs)
  private var dir: String = _

  def setup(d: String): String = {
    val tr = ctx.tr
    dir = d
    val checksum = tr.span("gen.inputs") {
      gen.write(ctx.spark, dir)
      val docs = ctx.spark.read.parquet(s"$dir/documents.parquet")
      val emb = ctx.spark.read.parquet(s"$dir/embeddings.parquet")
      val a = docs.agg(bit_xor(xxhash64(col("doc_id"), col("text")))).head().getLong(0)
      val b = emb.agg(bit_xor(xxhash64(col("vec_id"), col("v")))).head().getLong(0)
      s"$a/$b/${gen.plantedPairs}"
    }
    println(s"dedup routes at ${gen.nDocs} documents: SimHash banding " +
      (if (gen.distinctTextHashes >= GraftBenchGates.wideBandMinHashes) "wide" else "classic") +
      s" (${gen.distinctTextHashes} distinct hashes, wide from ${GraftBenchGates.wideBandMinHashes}); " +
      "embedding verify " + (if (broadcastVerify(gen.nDocs)) "broadcast" else "shuffle-hash") +
      s" (broadcast up to ${GraftBenchGates.broadcastVerifyMaxRows} rows)")
    // warm-up: one full pass
    tr.span("warmup") {
      compose(ctx.spark.read.parquet(s"$dir/documents.parquet"),
        ctx.spark.read.parquet(s"$dir/embeddings.parquet"), s"$dir/warm-kept", Docs)
    }
    checksum
  }

  /** Dedup's own ceiling for broadcasting the verify payload, as its
    * directory-level entry points apply it.
    */
  private def broadcastVerify(n: Long): Boolean = n <= GraftBenchGates.broadcastVerifyMaxRows

  private def textPairs(docs: DataFrame): DataFrame =
    Dedup.simhashPairsFrame(docs).select(col("doc_a"), col("doc_b"))

  private def embPairs(emb: DataFrame, n: Long): DataFrame =
    Dedup.embeddingCosineLshFrame(emb, DedupGen.CosThreshold,
      planOverride = Some(Dedup.lshPlanSized(DedupGen.CosThreshold, n)),
      broadcastVerify = broadcastVerify(n))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))

  /** The composition as a user runs it: lazy pair frames, one write. */
  private def compose(docs: DataFrame, emb: DataFrame, out: String, n: Long): Unit = {
    val pairs = textPairs(docs).unionByName(embPairs(emb, n))
    Dedup.pipelineOverPairs(docs, pairs).write.mode("overwrite").parquet(out)
  }

  /** The same composition with each phase materialised under `scratch`, so
    * phase spans do not overlap; the cluster phase runs `clusterPairs` on
    * its own before the pipeline (which clusters again inside).
    */
  private def composeTraced(docs: DataFrame, emb: DataFrame, out: String, n: Long,
                            scratch: String): Unit = {
    val tr = ctx.tr
    val spark = ctx.spark
    def phase(name: String, path: String)(df: => DataFrame): DataFrame = {
      tr.span(name)(df.write.mode("overwrite").parquet(path))
      val phaseSpan = tr.lastClosed
      tr.span("bench.materialise") {
        val back = spark.read.parquet(path)
        val rows = back.count().toDouble
        phaseSpan.foreach(_.attrs.put("rows_out", rows))
        back
      }
    }
    val text = phase("dedup.text_pairs", s"$scratch/text_pairs")(textPairs(docs))
    val embp = phase("dedup.emb_pairs", s"$scratch/emb_pairs")(embPairs(emb, n))
    val pairs = text.unionByName(embp)
    phase("dedup.cluster", s"$scratch/clusters")(Dedup.clusterPairs(pairs))
    phase("dedup.pipeline", out)(Dedup.pipelineOverPairs(docs, pairs))
  }

  /** Checks the kept corpus against the planted clusters and returns the
    * planted-pair recall, or a description of what is wrong.
    */
  private def verify(out: String): Either[String, Double] = {
    val kept = ctx.spark.read.parquet(out).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val n = gen.nDocs
    val unplanted = (0 until n).filter(i => gen.baseOf(i) == i && !gen.clusterSizes.contains(i))
    val falseMerges = unplanted.count(i => !kept.get(i).contains(1L))
    val lostBases = gen.clusterSizes.keys.count(b => !kept.contains(b))
    val found = gen.clusterSizes.keys.toSeq.map(b => kept.getOrElse(b, 1L) - 1).sum
    val recall = found.toDouble / gen.plantedPairs
    val slack = math.ceil((1 - MinRecall) * gen.plantedPairs).toLong
    if (kept.values.sum != n) Left(s"cluster sizes sum to ${kept.values.sum}, want $n")
    else if (falseMerges > 0) Left(s"$falseMerges unplanted documents merged or dropped")
    else if (lostBases > 0) Left(s"$lostBases planted clusters lost their keeper")
    else if (recall < MinRecall) Left(f"planted recall $recall%.4f < $MinRecall")
    else if (kept.size < gen.perfectKept || kept.size > gen.perfectKept + slack)
      Left(s"kept ${kept.size}, want ${gen.perfectKept}..${gen.perfectKept + slack}")
    else Right(recall)
  }

  def loop(seconds: Double): LoopResult = {
    val tr = ctx.tr
    val lat = ArrayBuffer.empty[(Double, Boolean)]
    val recalls = ArrayBuffer.empty[Double]
    var shuffleBytes, outBytes = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadline) {
      val traced = tr.enabled && pass % 2 == 1
      val out = s"$dir/kept"
      tr.drain()
      val sh0 = tr.listener.global.shuffleWrite.sum
      val s = System.nanoTime()
      ctx.tally.check(s"dedup pass $pass") {
        tr.op(opName, traced) {
          val (docs, emb) = tr.span("input.open") {
            (ctx.spark.read.parquet(s"$dir/documents.parquet"),
              ctx.spark.read.parquet(s"$dir/embeddings.parquet"))
          }
          if (traced) composeTraced(docs, emb, out, Docs, s"$dir/phases")
          else compose(docs, emb, out, Docs)
        }
        lat += (((System.nanoTime() - s) / 1e6, traced))
        tr.drain()
        shuffleBytes += tr.listener.global.shuffleWrite.sum - sh0
        outBytes += Sys.du(out)._1
        verify(out) match {
          case Right(r) => recalls += r; true
          case Left(m) => println(s"dedup pass $pass: $m"); false
        }
      }
      pass += 1
    }
    val wallMs = Sys.ms(t0, System.nanoTime())
    val untraced = lat.filter(!_._2).map(_._1).toSeq
    val passMs = Stats.median(if (untraced.nonEmpty) untraced else lat.map(_._1).toSeq)
    if (recalls.nonEmpty) println(f"planted_recall ${Stats.median(recalls.toSeq)}%.6f ratio")
    LoopResult(lat.toSeq,
      Seq(Metric("work_per_s", Docs / (passMs / 1000), "1/s"),
        Metric("bytes_per_item", (shuffleBytes + outBytes).toDouble / (Docs.toLong * pass), "B")),
      pass.toLong, wallMs)
  }
}

object DedupCorpus {
  /** Past Dedup's wide-banding gate: about 21k distinct SimHashes. */
  val Docs = 25000
  val MinPasses = 2
  /** Share of planted (base, member) pairs that must share a component. */
  val MinRecall = 0.95
}
