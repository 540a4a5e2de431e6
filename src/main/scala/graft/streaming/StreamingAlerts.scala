package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streamed threshold-alert lifecycle — the live face of
  * [[graft.tsdb.Db.alerts]]'s Prometheus `for:` semantics: per series,
  * a day bucket is FINALIZED the moment the first point of a LATER day
  * arrives, and finalization advances the breach-run state machine
  * (breach extends the run, a clean or MISSING day resets it). A
  * series' last active day never finalizes — the day is not over, so
  * live alerting must not score it; the oracle mirrors by excluding
  * each series' max active day.
  *
  * State per series is THREE LONGS (open day index, its running total
  * in exact integer MICROS — the [[StreamingCusum]] quantization at
  * scale 6, so cross-batch accumulation is bit-exact by construction —
  * and the current run length). The breach compare runs in integer
  * micros against an exact integer threshold; the emitted double is
  * `micros / 1e6`, the same one-division the batch DECIMAL(…,6)→DOUBLE
  * cast performs at these magnitudes. Micro-batch order restores
  * per-series point order with a local (ts, value) sort; order ACROSS
  * batches is the [[TimeChunkedLanding]] contract.
  */
object StreamingAlerts {

  case class APt(series: String, ts: Long, value: Double)
  case class AState(dayIdx: Long, totalMicros: Long, runLen: Long)
  case class AOut(grp: String, bucket_start: Long, value: Double,
                  run_len: Long, state: String)

  private val DayNs = 86400L * 1000000000L

  /** Exact scale-6 quantization to integer micros — the batch side's
    * `cast(value as decimal(28,6))` per point, as an int64.
    */
  private def micros(v: Double): Long =
    (BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      * BigDecimal(1000000)).toLongExact

  /** Append-mode alert stream over raw events: day totals accumulate
    * in integer micros, each day finalizes on its successor's first
    * point, and only BREACHING finalized days emit (the sparse alert
    * contract of the batch operator).
    */
  def alertStream(events: DataFrame, metric: String, threshold: Double,
                  forBuckets: Int): Dataset[AOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val thresholdMicros = micros(threshold)
    events.where(col("event_type") === metric)
      .select(col("user_id").cast("string").as("series"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"),
        col("value").cast("double"))
      .as[APt]
      .groupByKey(_.series)
      .flatMapGroupsWithState[AState, AOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[APt], state: GroupState[AState]) =>
          val pts = it.toSeq.sortBy(p => (p.ts, p.value))
          if (pts.isEmpty) Iterator.empty
          else {
            var st = if (state.exists) state.get else AState(-1L, 0L, 0L)
            val out = scala.collection.mutable.ArrayBuffer.empty[AOut]
            def finalizeDay(nextDay: Long): Unit = {
              if (st.dayIdx >= 0) {
                val breach = st.totalMicros > thresholdMicros
                val run = if (breach) st.runLen + 1 else 0L
                if (breach) out += AOut(series, st.dayIdx * DayNs,
                  st.totalMicros.toDouble / 1000000.0, run,
                  if (run >= forBuckets) "firing" else "pending")
                // a MISSING day between the closed one and the next
                // resets the run exactly like a clean day
                val gap = nextDay >= 0 && nextDay > st.dayIdx + 1
                st = AState(nextDay, 0L, if (gap) 0L else run)
              } else st = AState(nextDay, 0L, 0L)
            }
            pts.foreach { p =>
              val d = p.ts / DayNs
              if (d != st.dayIdx) finalizeDay(d)
              st = st.copy(totalMicros = st.totalMicros + micros(p.value))
            }
            state.update(st)
            out.iterator
          }
      }
  }

  /** Drain the events table through [[alertStream]] as FOUR
    * time-ordered micro-batches ([[TimeChunkedLanding]]), each batch's
    * Append output staged exactly-once — an [[graft.io.Artifact]] keyed
    * by (metric, threshold, forBuckets).
    */
  def ensureStreamed(spark: SparkSession, sfDir: String, metric: String,
                     threshold: Double, forBuckets: Int): String =
    Artifact.ensure(spark, "alerts-streamed", s"$sfDir/events.parquet",
        metric, threshold, forBuckets) { path =>
      val landing = TimeChunkedLanding.ensure(spark, sfDir, path)
      Artifact.drain(alertStream(Source.stream(spark, landing, 1), metric, threshold, forBuckets),
        path, "append")
    }

  /** The landed streamed alert rows — the driver entry reads the
    * staged layout; the oracle re-derives the identical lifecycle with
    * the batch islands over raw points, excluding each series' last
    * active (never-finalized) day.
    */
  def streamedAlerts(spark: SparkSession, sfDir: String,
                     metric: String = "error",
                     threshold: Double = 60.0,
                     forBuckets: Int = 3): DataFrame = {
    val path = ensureStreamed(spark, sfDir, metric, threshold, forBuckets)
    Artifact.openStaged(spark, path)
  }
}
