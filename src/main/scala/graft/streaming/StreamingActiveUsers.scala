package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming daily-active-users: watermarked tumbling-day windows with
  * an HLL++ `approx_count_distinct` per window — the Structured
  * Streaming face of [[graft.operators.Analytics.activeUsers]]'s DAU
  * column for the regime where an exact per-day user set no longer
  * fits the state store (at 100 TB the state per window is one
  * fixed-size sketch, not a user set; watermark expiry bounds the
  * number of live sketches).
  *
  * HLL sketches merge associatively and commutatively, so the
  * micro-batched result is IDENTICAL to a batch `approx_count_distinct`
  * over the same rows at the same precision — which is what the spec
  * asserts (not just a tolerance band).
  */
object StreamingActiveUsers {

  def dailyActive(events: DataFrame, watermark: String = "1 day",
                  rsd: Double = 0.05): DataFrame =
    events
      .select(
        (events.schema("ts").dataType match {
          case LongType => timestamp_micros(expr("ts div 1000L"))
          case _        => col("ts").cast("timestamp")
        }).as("ts"),
        col("user_id"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("dau_approx"))
      .select(col("window.start").as("day"), col("dau_approx"))

  /** EXACT streaming DAU via the dedup-then-count decomposition:
    * streaming aggregation cannot run `count_distinct`, so the stream
    * first drops duplicate `(day, user)` arrivals with watermark-
    * bounded keyed state (`dropDuplicatesWithinWatermark` — state is
    * the horizon's distinct day-users, reclaimed as the watermark
    * passes), and the per-day COUNT becomes a plain aggregate over the
    * deduped landing. The sketch variant above bounds state harder
    * (one HLL per window); this one is exact — which is what lets it
    * sit under the DuckDB oracle. The default watermark is only a
    * fallback — the replay path derives the delay from the landing's
    * actual event-time span ([[ReplayGuard.spanWatermark]]), because
    * "nothing dropped on an unordered landing" is a property of the
    * span, not of any fixed number of days.
    */
  def dedupedDayUsers(events: DataFrame,
                      watermark: String = "45 days"): DataFrame = {
    events
      .select(
        (events.schema("ts").dataType match {
          case LongType => timestamp_micros(expr("ts div 1000L"))
          case _        => col("ts").cast("timestamp")
        }).as("ts"),
        graft.tsdb.Db.tsNs(events.schema).as("tsns"),
        col("user_id"))
      .select(col("ts"),
        (expr("tsns div 86400000000000L") * lit(86400000000000L)).as("day"),
        col("user_id"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("day", "user_id")
      .select(col("day"), col("user_id"))
  }

  /** Drain the events table through [[dedupedDayUsers]] once (four
    * micro-batches over a four-file landing, exactly-once batch
    * staging — an [[graft.io.Artifact]]).
    */
  def ensureStreamedExact(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String): String =
    Artifact.ensure(spark, "dau-streamed", s"$sfDir/events.parquet") { path =>
      val landing = StreamingAgg.eventsLanding(spark, sfDir, path)
      // span-derived replay watermark (see [[ReplayGuard]]): the fixed
      // 45-day default only holds while the landing spans < 45 days
      Artifact.drain(dedupedDayUsers(Source.stream(spark, landing, 1),
        watermark = ReplayGuard.spanWatermark(spark, landing)), path, "append")
    }

  /** Exact DAU per day from the streamed deduped landing — a plain
    * count because the keyed state already guaranteed (day, user)
    * uniqueness; hash-matching the oracle's `COUNT(DISTINCT)` proves
    * the cross-batch dedup state dropped every repeat arrival and lost
    * no day-user.
    */
  def streamedDau(spark: org.apache.spark.sql.SparkSession,
                  sfDir: String): DataFrame = {
    val path = ensureStreamedExact(spark, sfDir)
    Artifact.openStaged(spark, path)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
  }
}
