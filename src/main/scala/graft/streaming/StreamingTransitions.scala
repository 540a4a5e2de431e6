package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streamed Markov transition matrix — the streaming face of
  * [[graft.operators.Analytics.eventTransitions]]: adjacent event-type
  * pairs per user emitted as events land, with the LAST event of each
  * user carried in per-key state so a transition whose two events
  * arrive in DIFFERENT micro-batches is still counted (the thing a
  * per-batch window can never see).
  *
  * State is one tiny (ts, id, type) record per user, sharded across
  * executors by the stateful-operator hash — bounded by user
  * cardinality, not event volume. Each micro-batch restores per-user
  * event-time order with a local (ts, event_id) sort; replay order
  * ACROSS batches is the landing's time-chunk contract (chunks
  * partition the global time axis, so all of a user's chunk-i events
  * precede chunk-i+1, and equal-ts events never straddle a boundary).
  * Emission is Append (a pair, once produced, never changes); the
  * final matrix is a batch aggregate over the landed pair changelog —
  * transition-vocabulary-sized output, the same bounded frame as the
  * batch operator.
  */
object StreamingTransitions {

  case class Ev(user_id: Long, ts: Long, event_id: Long, event_type: String)
  case class LastEv(ts: Long, id: Long, tpe: String)
  case class Pair(user_id: Long, src: String, dst: String)

  /** Append-mode stream of (src → dst) transition pairs per user. */
  def transitionPairs(events: DataFrame): Dataset[Pair] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"),
        col("event_id").cast("long"), col("event_type"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Pair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[LastEv]) =>
          val evs = it.toSeq.sortBy(e => (e.ts, e.event_id))
          if (evs.isEmpty) Iterator.empty
          else {
            val types = (if (state.exists) Seq(state.get.tpe) else Seq.empty) ++
              evs.map(_.event_type)
            val last = evs.last
            state.update(LastEv(last.ts, last.event_id, last.event_type))
            types.zip(types.drop(1)).map { case (a, b) => Pair(uid, a, b) }
              .iterator
          }
      }
  }

  /** Drain the events table through [[transitionPairs]] once as FOUR
    * time-ordered micro-batches ([[TimeChunkedLanding]]: consecutive
    * time-range chunks, ascending mtimes → oldest-first file replay),
    * staging each batch's Append output exactly-once — an
    * [[graft.io.Artifact]].
    */
  def ensureStreamed(spark: SparkSession, sfDir: String): String =
    Artifact.ensure(spark, "trans-streamed", s"$sfDir/events.parquet") { path =>
      val landing = TimeChunkedLanding.ensure(spark, sfDir, path)
      Artifact.drain(transitionPairs(Source.stream(spark, landing, 1)), path, "append")
    }

  /** The transition matrix folded from the streamed pair changelog —
    * identical columns to the batch `q_event_transitions`, so the same
    * lag-window SQL oracle pins the cross-batch state carry (a dropped
    * boundary transition changes a count and fails the hash).
    */
  def streamedTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureStreamed(spark, sfDir)
    val counts = Artifact.openStaged(spark, path)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val ws = Window.partitionBy(col("src"))
    counts.select(col("src"), col("dst"), col("n"),
      (col("n").cast("double") / sum(col("n")).over(ws).cast("double"))
        .as("p"))
  }
}
