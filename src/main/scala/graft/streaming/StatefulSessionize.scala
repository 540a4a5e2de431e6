package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming: gap-based sessionization with
  * `flatMapGroupsWithState` — the Structured Streaming shape for
  * semantics the built-in window aggregates can't express (a session id
  * depends on the previous event's timestamp, carried in per-key state).
  *
  * State is one tiny record per user; at 100 TB the state store shards
  * by user across executors, and event-time ordering inside a
  * micro-batch is restored with a local sort (no global ordering
  * needed).
  */
object StatefulSessionize {

  case class Ev(user_id: Long, ts: Long, event_type: String)
  case class SessState(lastTs: Long, sessionId: Long)
  case class SessOut(user_id: Long, ts: Long, event_type: String, session_id: Long)

  def sessionize(events: DataFrame,
                 gapNs: Long = 1800L * 1000 * 1000 * 1000): Dataset[SessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"), col("event_type"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val evs = it.toSeq.sortBy(_.ts)
          var last = if (state.exists) state.get.lastTs else Long.MinValue
          var sid = if (state.exists) state.get.sessionId else 0L
          val out = evs.map { e =>
            if (last == Long.MinValue || e.ts - last > gapNs) sid += 1
            last = e.ts
            SessOut(uid, e.ts, e.event_type, sid)
          }
          if (evs.nonEmpty) state.update(SessState(last, sid))
          out.iterator
      }
  }

  /** Drain the events table through [[sessionize]] once as FOUR
    * time-ordered micro-batches — the landing is split into four
    * consecutive time-range chunks whose file mtimes ascend
    * ([[TimeChunkedLanding]]), so the file source replays them
    * oldest-first and a session spanning a chunk boundary genuinely
    * crosses per-user STATE (the thing a single-batch replay cannot
    * prove). Batches stage exactly-once — an [[graft.io.Artifact]].
    */
  def ensureStreamed(spark: org.apache.spark.sql.SparkSession,
                     sfDir: String,
                     gapNs: Long = 1800L * 1000 * 1000 * 1000): String =
    Artifact.ensure(spark, "sess-streamed", s"$sfDir/events.parquet", gapNs) { path =>
      val landing = TimeChunkedLanding.ensure(spark, sfDir, path)
      Artifact.drain(sessionize(Source.stream(spark, landing, 1), gapNs), path, "append")
    }

  /** The streamed landing's session assignment — identical columns to
    * the batch `q_event_sessionize`, so its window-SQL oracle pins the
    * cross-batch per-user state fold (a boundary-spanning session
    * whose id diverged, or a re-seeded counter, breaks the hash).
    */
  def streamedSessions(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String): DataFrame = {
    val path = ensureStreamed(spark, sfDir)
    Artifact.openStaged(spark, path)
      .select(col("user_id"), col("ts"), col("event_type"), col("session_id"))
  }
}
