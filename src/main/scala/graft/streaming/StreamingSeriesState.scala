package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-series running counter state at ingest: each arriving point is
  * enriched with its reset-aware `increase` contribution (`max(Δv, 0)`;
  * zero for a series' first point and for duplicate-timestamp pairs —
  * the same pair semantics as the batch [[graft.tsdb.Db.increase]])
  * and the running EWMA (`y ← (1-α)·y + α·x`, seeded with the first
  * value — the same IEEE op chain as the batch `graft_ewma` kernel, so
  * streamed values are BIT-equal to the batch fold; spec-asserted).
  *
  * State is one (lastTs, lastValue, ewma) record per series, sharded
  * across executors by the state store; event-time order inside a
  * micro-batch is restored with a local sort, like
  * [[StatefulSessionize]]. Cross-batch late/reordered points follow
  * the same contract as every stateful streaming op here: points are
  * folded in arrival-batch order (add a watermark + drop if the
  * deployment needs bounded disorder handling).
  */
object StreamingSeriesState {

  case class Pt(series: String, ts: Long, value: Double)
  case class SState(lastTs: Long, lastValue: Double, ewma: Double)
  case class POut(series: String, ts: Long, value: Double,
                  increase: Double, ewma: Double)
  case class ZState(n: Long, sum: BigDecimal, sumSq: BigDecimal)
  case class ZOut(series: String, ts: Long, value: Double, z: Option[Double])

  /** Enrich a canonical (series, ts, value) stream. */
  def enrich(points: DataFrame, alpha: Double = 0.3): Dataset[POut] = {
    val spark = points.sparkSession
    import spark.implicits._
    val om = 1.0 - alpha
    points.as[Pt]
      .groupByKey(_.series)
      .flatMapGroupsWithState[SState, POut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[Pt], state: GroupState[SState]) =>
          val pts = it.toSeq.sortBy(p => (p.ts, p.value))
          var has = state.exists
          var st = if (has) state.get else SState(Long.MinValue, 0.0, 0.0)
          val out = pts.map { p =>
            val inc =
              if (!has || p.ts <= st.lastTs) 0.0
              else math.max(p.value - st.lastValue, 0.0)
            val e = if (!has) p.value else om * st.ewma + alpha * p.value
            st = SState(math.max(st.lastTs, p.ts), p.value, e)
            has = true
            POut(series, p.ts, p.value, inc, e)
          }
          if (pts.nonEmpty) state.update(st)
          out.iterator
      }
  }

  case class FState(lastTs: Long, lastValue: Double,
                    resets: Long, changes: Long)
  case class FOut(series: String, ts: Long, value: Double,
                  resets: Long, changes: Long)

  /** Per-series running flap counters at ingest: each arriving point is
    * enriched with the series' CUMULATIVE reset count (value drops) and
    * change count (value flips) — the streaming face of
    * [[graft.tsdb.Db.resets]]/[[graft.tsdb.Db.changes]] with an
    * expanding window instead of buckets. Pair semantics match the
    * batch ops exactly: a series' first point and duplicate-timestamp
    * arrivals count no pair (the batch strict-Δt>0 filter), so after an
    * in-order replay the final per-series counters equal the batch
    * ops' bucket totals (spec-asserted across a multi-batch replay).
    * State is one (lastTs, lastValue, resets, changes) record per
    * series — O(1), integer, shardable.
    */
  def enrichFlaps(points: DataFrame): Dataset[FOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.as[Pt]
      .groupByKey(_.series)
      .flatMapGroupsWithState[FState, FOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[Pt], state: GroupState[FState]) =>
          val pts = it.toSeq.sortBy(p => (p.ts, p.value))
          var has = state.exists
          var st = if (has) state.get else FState(Long.MinValue, 0.0, 0L, 0L)
          val out = pts.map { p =>
            val paired = has && p.ts > st.lastTs
            val r = st.resets + (if (paired && p.value < st.lastValue) 1L else 0L)
            val c = st.changes + (if (paired && p.value != st.lastValue) 1L else 0L)
            st = FState(math.max(st.lastTs, p.ts), p.value, r, c)
            has = true
            FOut(series, p.ts, p.value, r, c)
          }
          if (pts.nonEmpty) state.update(st)
          out.iterator
      }
  }

  /** Rolling per-series anomaly score: each arriving point's z against
    * the series' full history INCLUDING itself — the streaming face of
    * [[graft.tsdb.Db.zscore]] with an expanding (prefix) window
    * instead of a bucket. State per series is (n, Σv, Σv²) as EXACT
    * scaled BigDecimals quantized exactly like the batch decimal casts
    * (HALF_UP at scale 6; products at scale 12), so the streamed z is
    * BIT-equal to a batch cumulative-window formulation running the
    * same IEEE chain (spec-asserted) — the alerting posture ("how
    * anomalous is this point vs everything seen so far") with O(1)
    * state per series.
    */
  def enrichZ(points: DataFrame): Dataset[ZOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.as[Pt]
      .groupByKey(_.series)
      .flatMapGroupsWithState[ZState, ZOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[Pt], state: GroupState[ZState]) =>
          val pts = it.toSeq.sortBy(p => (p.ts, p.value))
          var st = if (state.exists) state.get
                   else ZState(0L, BigDecimal(0).setScale(6), BigDecimal(0).setScale(12))
          val out = pts.map { p =>
            val q = BigDecimal(p.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            st = ZState(st.n + 1L, st.sum + q, st.sumSq + q * q)
            val n = st.n.toDouble
            val s = st.sum.toDouble
            val sq = st.sumSq.toDouble
            val sigma = math.sqrt(math.max((sq - (s * s) / n) / n, 0.0))
            // n == 1: no deviation baseline — and the q² double-rounding
            // residual could otherwise make σ a denormal-tiny positive
            val z = if (st.n == 1L || sigma == 0.0) None
                    else Some((p.value - s / n) / sigma + 0.0)
            ZOut(series, p.ts, p.value, z)
          }
          if (pts.nonEmpty) state.update(st)
          out.iterator
      }
  }

  /** [[enrich]] over the raw events file stream for one metric, keyed
    * by the (user, k) series — the streaming face of `Db.increase` /
    * `Db.ewma` (the "∅" sentinel stands in for an absent props tag,
    * mirroring the batch NULL-tag group).
    */
  def enrichEvents(events: DataFrame, metric: String,
                   alpha: Double = 0.3): Dataset[POut] =
    enrich(events
      .where(col("event_type") === metric)
      .select(
        concat_ws("|", col("user_id").cast("string"),
          coalesce(nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1),
            lit("")), lit("∅"))).as("series"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"),
        col("value")), alpha)

  /** [[enrichZ]] over the raw events file stream for one metric —
    * the same series key construction as [[enrichEvents]].
    */
  def enrichZEvents(events: DataFrame, metric: String): Dataset[ZOut] =
    enrichZ(events
      .where(col("event_type") === metric)
      .select(
        concat_ws("|", col("user_id").cast("string"),
          coalesce(nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1),
            lit("")), lit("∅"))).as("series"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"),
        col("value")))

  /** [[enrichFlaps]] over the raw events file stream for one metric —
    * the same series key construction as [[enrichEvents]].
    */
  def enrichFlapsEvents(events: DataFrame, metric: String): Dataset[FOut] =
    enrichFlaps(events
      .where(col("event_type") === metric)
      .select(
        concat_ws("|", col("user_id").cast("string"),
          coalesce(nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1),
            lit("")), lit("∅"))).as("series"),
        graft.tsdb.Db.tsNs(events.schema).as("ts"),
        col("value")))

  /** Drain the events table through the [[enrichFlaps]] counter fold
    * once, an [[graft.io.Artifact]] keyed by the metric. Every point
    * lands with the cumulative reset/change counters its per-series
    * history implied at arrival; the counters are integers, so the
    * driver oracle's batch re-derivation (lag pair indicators + running
    * sums) must match EXACTLY — any state-store mis-fold shows as an
    * off-by-one.
    */
  def ensureStreamedFlaps(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String, metric: String): String = {
    val events = s"$sfDir/events.parquet"
    Artifact.ensure(spark, "flaps-streamed", events, metric) { path =>
      Artifact.drain(enrichFlapsEvents(Source.stream(spark, Artifact.linked(spark, path, events)),
        metric), path, "append")
    }
  }

  /** [[enrichFlaps]] replayed FRESH on every invocation — the
    * gate-facing form of the in-order replay contract. The cached
    * [[ensureStreamedFlaps]] layout is content-keyed, so a change to
    * the state FOLD itself would never rebuild it and could hide
    * behind the stale landing (the spec catches it only until someone
    * edits the spec); this entry re-executes the cross-batch stateful
    * fold from scratch each call, so the driver hash gate pins the
    * fold, not a file.
    *
    * Replay shape: the landing is the events table range-split into 4
    * files on (ts, value) — the fold's own sort key, so file k holds
    * the k-th event-time quantile — with every part file's mtime
    * normalized to one instant, because FileStreamSource orders files
    * by (mtime, path) and task completion order would otherwise feed
    * batches out of event-time order (flap counters are NOT
    * replay-order-invariant: a late point pairs nothing and overwrites
    * lastValue). `maxFilesPerTrigger = 1` then drains 4 genuine
    * micro-batches through a THROWAWAY checkpoint into a memory sink —
    * driver-bounded (one metric's points at verify scale): a
    * VALIDATION query, not the serving path.
    */
  def replayFlaps(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                  metric: String = "view"): DataFrame = {
    import java.nio.file.{Files, Paths}
    // the landing is usable only after BOTH the parquet commit AND the
    // mtime normalization below, so both run inside the one build
    val landing = Artifact.ensure(spark, "flaps-replay-landing", s"$sfDir/events.parquet") { landing =>
      Source.table(spark, sfDir, "events")
        .repartitionByRange(4, col("ts"), col("value"))
        .write.mode("overwrite").parquet(landing)
      // STRICTLY INCREASING mtimes in partition order: part-0000k is
      // range partition k by construction, but task completion order
      // scrambles the written mtimes and FileStreamSource's tie-break
      // on equal mtimes is filesystem-listing luck (measured: one
      // equal-mtime replay delivered a batch out of event-time order —
      // a single off-by-one `changes` counter at sf0.01). mtime =
      // epoch + k seconds makes the (mtime, path) order unambiguous.
      val ls = Files.list(Paths.get(landing))
      try ls.forEach { p =>
        val m = "part-(\\d+)".r.findFirstMatchIn(p.getFileName.toString)
        m.foreach { mm =>
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
            .fromMillis(1704067200000L + mm.group(1).toLong * 1000L))
        }
      } finally ls.close()
    }
    val stream = Source.stream(spark, landing, 1)
    val name = s"graft_flaps_replay_${replaySeq.incrementAndGet()}"
    val ckpt = Files.createTempDirectory("graft_flaps_replay_ckpt")
    val q = enrichFlapsEvents(stream, metric).writeStream
      .format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    StreamAwait.drain(q)
    // bound the per-invocation debris: the throwaway checkpoint dies
    // with the drained query, and only the LATEST replay's memory-sink
    // table stays registered (a bench runs this entry 4× per round —
    // without the drop each run would pin another full output copy in
    // driver memory for the session lifetime)
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    val prev = lastReplayTable.getAndSet(name)
    if (prev != null) spark.catalog.dropTempView(prev)
    spark.table(name)
  }

  private val replaySeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val lastReplayTable =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Drain the events table through the [[enrichZ]] expanding-stats
    * fold once, an [[graft.io.Artifact]] keyed by the metric. Every
    * point lands with the z-score its full per-series history implied
    * at arrival — exact-decimal (n, Σv, Σv²) state, so the landed
    * values are bit-equal to a batch expanding-window formulation,
    * which is what the driver oracle re-derives.
    */
  def ensureStreamedZ(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                      metric: String): String = {
    val events = s"$sfDir/events.parquet"
    Artifact.ensure(spark, "zscore-streamed", events, metric) { path =>
      Artifact.drain(enrichZEvents(Source.stream(spark, Artifact.linked(spark, path, events)),
        metric), path, "append")
    }
  }

  /** Write-once cached STREAMED per-series enrichment layout — the
    * third streamed driver entry point (after the rollup landing and
    * the IVF append) and the first STATEFUL one: events drain through
    * the checkpointed `flatMapGroupsWithState` path above and every
    * enriched micro-batch lands in its own `batch_id=<id>` overwrite
    * directory (the rollup landing's exactly-once staging — a replayed
    * batch rewrites its dir; an incomplete dir is pruned at open). A
    * query over this layout matching the raw-events SQL oracle proves
    * the whole stateful streaming path — canonicalization, state-store
    * fold order, per-batch landing — exact end-to-end, not just
    * spec-replayed. An [[graft.io.Artifact]] keyed by (metric, alpha).
    */
  def ensureStreamed(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                     metric: String, alpha: Double = 0.3): String = {
    val events = s"$sfDir/events.parquet"
    Artifact.ensure(spark, "series-streamed", events, metric, alpha) { path =>
      Artifact.drain(enrichEvents(Source.stream(spark, Artifact.linked(spark, path, events)),
        metric, alpha), path, "append")
    }
  }
}
