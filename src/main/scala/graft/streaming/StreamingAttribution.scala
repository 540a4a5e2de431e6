package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streamed last-touch attribution — the streaming face of
  * [[graft.operators.Analytics.attribution]]: every purchase is
  * credited to the latest preceding NON-purchase event in its user's
  * stream, with that last touch carried in per-key state so a purchase
  * whose credited interaction landed in an EARLIER micro-batch is
  * still attributed (the credit a per-batch window pass silently
  * drops — and in a marketing pipeline a dropped cross-batch credit
  * systematically under-counts exactly the channels that convert
  * slowly).
  *
  * State is one tiny (ts, id, type) record per user — the latest
  * non-purchase touch — sharded by the stateful-operator hash and
  * bounded by user cardinality, not event volume. Each micro-batch
  * restores per-user event-time order with a local (ts, event_id)
  * sort; order ACROSS batches is the landing's time-chunk contract
  * (chunks partition the global time axis, so equal-ts events never
  * straddle a boundary). Emission is Append (a credit, once produced,
  * never changes); the final channel roll-up is a batch aggregate over
  * the landed credit changelog — |event_type|-sized output, the same
  * bounded frame as the batch operator, with the identical
  * DECIMAL(28,6) revenue chain so the shared oracle pins the
  * cross-batch state carry (a dropped boundary credit changes a count
  * AND a revenue sum, either fails the hash).
  */
object StreamingAttribution {

  case class Ev(user_id: Long, ts: Long, event_id: Long,
                event_type: String, value: Double)
  case class LastTouch(ts: Long, id: Long, tpe: String)
  case class Credit(user_id: Long, touch: String, value: Double)

  /** Append-mode stream of per-purchase credits. Purchases that lead
    * their user's stream (no preceding touch anywhere) emit nothing —
    * attribution credits interactions, not spontaneity; the batch
    * operator and the oracle encode the same rule.
    */
  def creditStream(events: DataFrame): Dataset[Credit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"),
        col("event_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch, Credit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[LastTouch]) =>
          val evs = it.toSeq.sortBy(e => (e.ts, e.event_id))
          if (evs.isEmpty) Iterator.empty
          else {
            var last: Option[LastTouch] =
              if (state.exists) Some(state.get) else None
            val out = Seq.newBuilder[Credit]
            evs.foreach { e =>
              if (e.event_type == "purchase")
                last.foreach(t => out += Credit(uid, t.tpe, e.value))
              else last = Some(LastTouch(e.ts, e.event_id, e.event_type))
            }
            last.foreach(state.update)
            out.result().iterator
          }
      }
  }

  /** Drain the events table through [[creditStream]] once as FOUR
    * time-ordered micro-batches ([[TimeChunkedLanding]]), staging each
    * batch's Append output exactly-once — an [[graft.io.Artifact]].
    */
  def ensureStreamed(spark: SparkSession, sfDir: String): String =
    Artifact.ensure(spark, "attr-streamed", s"$sfDir/events.parquet") { path =>
      val landing = TimeChunkedLanding.ensure(spark, sfDir, path)
      Artifact.drain(creditStream(Source.stream(spark, landing, 1)), path, "append")
    }

  /** The channel roll-up folded from the streamed credit changelog —
    * identical columns and revenue chain to the batch
    * `q_attribution`, so the same IGNORE-NULLS-frame SQL oracle pins
    * the cross-batch state carry.
    */
  def streamedAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureStreamed(spark, sfDir)
    Artifact.openStaged(spark, path)
      .groupBy(col("touch"))
      .agg(count(lit(1)).as("n_conv"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("revenue"))
  }
}
