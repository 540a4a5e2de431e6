package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streamed per-point CUSUM drift monitoring — the deployment cycle
  * behind [[graft.tsdb.AggBuilder.buildCusum]]: thresholds are
  * CALIBRATED batch-side (per-series μ/σ over history, the round-6
  * stddev chain quantized into exact int64 half-micros), then the live
  * stream folds the textbook recursion `s = max(0, s + d)` per point
  * as it arrives — the monitoring posture where an alert must fire ON
  * the arriving point, not at the next batch job.
  *
  * State per series is TWO LONGS (`s⁺`, `s⁻`) — integer state folded
  * with integer ops, so the cross-micro-batch result is BIT-equal to
  * the batch drawdown-identity windows by construction (both compute
  * the same exact integers; the oracle proves it with a hash match,
  * not a tolerance). Thresholds ride a stream-static equi-join onto
  * each micro-batch before the stateful fold (never a driver-side
  * map), so the calibration frame scales with series cardinality like
  * every broadcast dim in this library. Each micro-batch restores
  * per-series order with a local (ts, value) sort; order ACROSS
  * batches is the [[TimeChunkedLanding]] contract.
  */
object StreamingCusum {

  case class CPt(series: String, ts: Long, value: Double,
                 th_hi2: Long, th_lo2: Long, alarm_h2: Long)
  case class CState(sHi: Long, sLo: Long)
  case class COut(series: String, ts: Long, value: Double,
                  s_hi: Double, s_lo: Double, alarm: Boolean)

  /** Exact half-micro quantization — the same HALF_UP-at-scale-6 the
    * batch side's `cast(value as decimal(28,6)) * 2000000` performs.
    */
  private def halfMicros(v: Double): Long =
    (BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      * BigDecimal(2000000)).toLongExact

  /** Batch-side calibration: per-series int64 thresholds off the
    * round-6 μ/σ chain — `th± = μ·2e6 ± k2·(σ·1e6)`,
    * `alarm = h2·(σ·1e6)` with k2 = 2k, h2 = 2h whole. The series key
    * is the [[StreamingSeriesState.enrichEvents]] composite
    * (`user|k`, "∅" for an absent props tag).
    */
  def thresholds(spark: SparkSession, sfDir: String, metric: String,
                 k2: Int, h2: Int): DataFrame = {
    val raw = Source.table(spark, sfDir, "events")
    val pts = raw.where(col("event_type") === metric)
      .select(
        concat_ws("|", col("user_id").cast("string"),
          coalesce(nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1),
            lit("")), lit("∅"))).as("series"),
        col("value"))
    val sDec = sum(col("value").cast("decimal(28,6)")).cast("double")
    val sqDec = sum(col("value").cast("decimal(18,6)") *
      col("value").cast("decimal(18,6)")).cast("double")
    val cnt = count(lit(1))
    pts.groupBy(col("series")).agg(
      round(sDec / cnt, 6).as("mu"),
      round(sqrt(greatest((sqDec - sDec * sDec / cnt) / cnt, lit(0.0))), 6)
        .as("sigma"))
      .select(col("series"),
        expr("cast(cast(mu as decimal(28,6)) * 2000000 as bigint) + " +
          s"$k2 * cast(cast(sigma as decimal(28,6)) * 1000000 as bigint)")
          .as("th_hi2"),
        expr("cast(cast(mu as decimal(28,6)) * 2000000 as bigint) - " +
          s"$k2 * cast(cast(sigma as decimal(28,6)) * 1000000 as bigint)")
          .as("th_lo2"),
        expr(s"$h2 * cast(cast(sigma as decimal(28,6)) * 1000000 as bigint)")
          .as("alarm_h2"))
  }

  /** Append-mode per-point CUSUM stream: the events stream joined to
    * the static threshold frame, then the two-long integer fold per
    * series. Every point emits its post-update (s⁺, s⁻, alarm).
    */
  def cusumStream(events: DataFrame, metric: String,
                  th: DataFrame): Dataset[COut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.where(col("event_type") === metric)
      .select(
        concat_ws("|", col("user_id").cast("string"),
          coalesce(nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1),
            lit("")), lit("∅"))).as("series"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"),
        col("value").cast("double"))
      .join(th, Seq("series"))
      .as[CPt]
      .groupByKey(_.series)
      .flatMapGroupsWithState[CState, COut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[CPt], state: GroupState[CState]) =>
          val pts = it.toSeq.sortBy(p => (p.ts, p.value))
          if (pts.isEmpty) Iterator.empty
          else {
            var st = if (state.exists) state.get else CState(0L, 0L)
            val out = pts.map { p =>
              val v2 = halfMicros(p.value)
              st = CState(math.max(0L, st.sHi + v2 - p.th_hi2),
                math.max(0L, st.sLo + p.th_lo2 - v2))
              COut(series, p.ts, p.value,
                st.sHi.toDouble / 2000000.0, st.sLo.toDouble / 2000000.0,
                st.sHi > p.alarm_h2 || st.sLo > p.alarm_h2)
            }
            state.update(st)
            out.iterator
          }
      }
  }

  /** Drain the events table through [[cusumStream]] once as FOUR
    * time-ordered micro-batches ([[TimeChunkedLanding]]), staging each
    * batch's Append output exactly-once — an [[graft.io.Artifact]] keyed
    * by (metric, k2, h2).
    */
  def ensureStreamed(spark: SparkSession, sfDir: String, metric: String,
                     k2: Int = 1, h2: Int = 5): String =
    Artifact.ensure(spark, "cusum-streamed", s"$sfDir/events.parquet", metric, k2, h2) { path =>
      val landing = TimeChunkedLanding.ensure(spark, sfDir, path)
      val th = thresholds(spark, sfDir, metric, k2, h2)
      Artifact.drain(cusumStream(Source.stream(spark, landing, 1), metric, th), path, "append")
    }

  /** The landed per-point CUSUM layout — the driver entry reads it
    * directly; the oracle re-derives the identical integers with the
    * batch drawdown-identity windows over raw points.
    */
  def streamedCusum(spark: SparkSession, sfDir: String,
                    metric: String): DataFrame = {
    val path = ensureStreamed(spark, sfDir, metric)
    Artifact.openStaged(spark, path)
  }
}
