package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The join route each operator runs, pinned: the count of
  * `BroadcastHashJoin`, `ShuffledHashJoin` and `SortMergeJoin` nodes in
  * the executed plan (AQE's final plan, subqueries included) of
  * registry entries whose joins an operator routes itself, at sf0.001.
  * A change that moves a join to another strategy changes a count.
  */
class JoinRouteSpec extends SparkSpec {

  private object Plans extends AdaptiveSparkPlanHelper

  /** `(broadcast hash, shuffled hash, sort-merge)` joins of `df`, run. */
  private def joins(df: DataFrame): (Int, Int, Int) = {
    df.collect()
    val kinds = Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case _: BroadcastHashJoinExec => 0
      case _: ShuffledHashJoinExec => 1
      case _: SortMergeJoinExec => 2
    }
    (kinds.count(_ == 0), kinds.count(_ == 1), kinds.count(_ == 2))
  }

  private val pinned: Seq[(String, (Int, Int, Int))] = Seq(
    "text_doc_freq" -> (1, 0, 0),
    "text_bigram_lm" -> (2, 0, 0),
    "text_top_terms" -> (1, 0, 0),
    "text_dup_ngrams" -> (1, 0, 0),
    "text_dedup_spans" -> (1, 0, 0),
    "text_dedup_rewrite" -> (3, 0, 0),
    "text_quality_rank" -> (1, 0, 0),
    "ts_zscore_rollup" -> (1, 0, 0),
    "ts_mad" -> (1, 0, 0),
    "dedup_minhash" -> (2, 1, 0),
    "dedup_embedding_lsh" -> (2, 1, 0),
    "dedup_pipeline" -> (1, 0, 0))

  test("registry entries keep their join routes") {
    val got = pinned.map { case (name, _) => name -> joins(SparkEntry.queries(name)(spark, sfDir)) }
    assert(got == pinned, got.mkString("\n"))
  }

  test("the graftbench-shaped embedding LSH call keeps its join routes") {
    graft.expressions.GraftFunctions.register(spark)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val n = e.count()
    val pairs = Dedup.embeddingCosineLshFrame(e, 0.9,
      planOverride = Some(Dedup.lshPlanSized(0.9, n)),
      broadcastVerify = n <= Dedup.BroadcastVerifyMaxRows)
    assert(joins(pairs) == ((2, 1, 0)))
  }
}
