package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming variant of the TSDB aggregation: the same
  * epoch-aligned bucket/group semantics as `graft.tsdb.AggBuilder`, over
  * an unbounded source with watermarked state cleanup.
  *
  * Shape: `readStream` → canonicalize → watermark → window agg →
  * `writeStream`. At scale the state store is keyed by (metric, tag,
  * window) and the watermark bounds state size; late data past the
  * watermark is dropped exactly like any Spark streaming agg.
  */
object StreamingAgg {

  /** Raw events schema (ts as timestamp[µs], read as TIMESTAMP_NTZ). */
  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over the events table (parquet). The glob must
    * target only event files — a whole-SF directory would project other
    * tables' files to all-null rows.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    // a glob (not a bare file path) lets the source derive its basePath
    // from the parent directory while selecting only event files
    spark.readStream.schema(EventsSchema).parquet(s"$dir/events*")

  /** Canonicalize + watermark + tumbling-window average per
    * (metric, tag_user). `width` is the bucket width.
    */
  def bucketedAvg(events: DataFrame, width: String = "1 day",
                  watermark: String = "1 hour"): DataFrame =
    events
      .select(
        col("event_type").as("metric"),
        // NTZ→TIMESTAMP is an identity on the stored micros under the
        // session's pinned UTC timezone; legacy int64-ns inputs are
        // likewise truncated to µs instants
        (events.schema("ts").dataType match {
          case LongType => timestamp_micros(expr("ts div 1000L"))
          case _        => col("ts").cast("timestamp")
        }).as("ts"),
        col("value"),
        col("user_id").cast("string").as("tag_user"))
      .withWatermark("ts", watermark)
      .groupBy(col("metric"), col("tag_user"), window(col("ts"), width))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("value"))
      .select(col("metric"), col("tag_user").as("grp"),
        col("window.start").as("bucket_start"), col("n"), col("value"))

  /** Streaming bucketed SKETCH quantile — the unbounded-source face of
    * `Db.quantileApprox`: per (metric, tag_user, window), a
    * Greenwald-Khanna `approx_percentile` whose aggregation state is a
    * bounded-size summary (never the window's raw values) merged
    * associatively across micro-batches — the only quantile shape whose
    * streaming state survives a hot series. GK compression decisions
    * depend on merge order, so streamed and batch sketches need not be
    * bit-equal; both honor the same rank-error contract, which is what
    * the spec asserts.
    */
  def bucketedQuantile(events: DataFrame, q: Double = 0.95,
                       accuracy: Int = 10000, width: String = "1 day",
                       watermark: String = "1 hour"): DataFrame =
    events
      .select(
        col("event_type").as("metric"),
        (events.schema("ts").dataType match {
          case LongType => timestamp_micros(expr("ts div 1000L"))
          case _        => col("ts").cast("timestamp")
        }).as("ts"),
        col("value"),
        col("user_id").cast("string").as("tag_user"))
      .withWatermark("ts", watermark)
      .groupBy(col("metric"), col("tag_user"), window(col("ts"), width))
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile(value, ${q}d, $accuracy)").as("value"))
      .select(col("metric"), col("tag_user").as("grp"),
        col("window.start").as("bucket_start"), col("n"), col("value"))

  /** Streaming active-series cardinality via HLL++ — the streamed face
    * of `Db.activeSeriesApprox`, and the ONLY streaming shape for
    * distinct counting at all: Spark rejects exact `countDistinct` in
    * a streaming aggregation (unbounded per-key state), while the HLL
    * sketch is a FIXED-WIDTH register buffer merged by element-wise
    * max — associative and idempotent, so cross-micro-batch merge
    * order cannot change the estimate (unlike GK, streamed ≡ batch
    * BIT-EXACTLY for identical inputs; spec-asserted). The series id
    * re-derives `Db.fromEvents`'s canonicalization (tag_k from props
    * via the same regexp, user id as tag) so the streamed sketch
    * counts exactly the series the batch surface counts.
    */
  def bucketedHll(events: DataFrame, width: String = "1 day",
                  watermark: String = "1 hour",
                  rsd: Double = 0.02): DataFrame = {
    val tagK = nullif(
      regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1), lit(""))
    val sid = concat(coalesce(tagK, lit("-")), lit("|"),
      coalesce(col("user_id").cast("string"), lit("-")))
    events
      .select(
        col("event_type").as("metric"),
        (events.schema("ts").dataType match {
          case LongType => timestamp_micros(expr("ts div 1000L"))
          case _        => col("ts").cast("timestamp")
        }).as("ts"),
        sid.as("sid"))
      .withWatermark("ts", watermark)
      .groupBy(col("metric"), window(col("ts"), width))
      .agg(count(lit(1)).as("n_points"),
        approx_count_distinct(col("sid"), rsd).as("approx"))
      .select(col("metric"), col("window.start").as("bucket_start"),
        col("n_points"), col("approx"))
  }

  /** Drain the events table through [[bucketedHll]] once (four landing
    * files, one micro-batch each) — an [[graft.io.Artifact]] keyed by
    * `rsd`.
    */
  def ensureStreamedHll(spark: SparkSession, sfDir: String,
                        rsd: Double = 0.02): String =
    Artifact.ensure(spark, "hll-streamed", s"$sfDir/events.parquet", rsd) { path =>
      val landing = eventsLanding(spark, sfDir, path)
      Artifact.drain(bucketedHll(Source.stream(spark, landing, 1), rsd = rsd,
        watermark = ReplayGuard.spanWatermark(spark, landing)), path, "update")
    }

  /** The events table copied once into four landing files beside the
    * artifact at `path`: four micro-batches for a one-file-per-batch
    * stream.
    */
  private[streaming] def eventsLanding(spark: SparkSession, sfDir: String, path: String): String =
    Artifact.landing(spark, path)(Source.table(spark, sfDir, "events").repartition(4))

  /** The STREAMED HLL under the hash gate, `Db.activeSeriesApprox`'s
    * band recipe: per bucket, the landed sketch's final emission (the
    * argmax-by-`n_points` row — a window's point count strictly grows
    * on re-emission) against the exact distinct count recomputed from
    * raw points; the oracle pins the band boolean TRUE and the exact
    * count is the hash anchor. A cross-batch register-merge regression
    * flips a row.
    */
  def streamedHllBand(spark: SparkSession, sfDir: String,
                      metric: String = "view",
                      rsd: Double = 0.02,
                      relBand: Double = 0.10): DataFrame = {
    val path = ensureStreamedHll(spark, sfDir, rsd)
    val last = Artifact.openStaged(spark, path)
      .where(col("metric") === metric)
      .groupBy(col("metric"), col("bucket_start"))
      .agg(max(struct(col("n_points"), col("approx"))).as("last"))
      .select(
        (unix_micros(col("bucket_start")) * lit(1000L)).as("bucket_start"),
        col("last.approx").as("approx"))
    val dayNs = 86400L * 1000000000L
    graft.tsdb.Db.fromEvents(spark, sfDir)
      .activeSeries(metric, dayNs)
      .join(last, Seq("bucket_start"))
      .select(col("bucket_start"), col("n_series"),
        (abs(col("approx") - col("n_series")).cast("double")
          <= col("n_series").cast("double") * lit(relBand)).as("within_band"))
  }

  /** Decimal-EXACT tumbling-window partials per (metric, tag_user):
    * like [[bucketedAvg]] but the window state is `(n, Σ decimal(28,6)
    * value)` instead of an IEEE average, so every Update-mode emission
    * carries a running total independent of batch and merge order —
    * the property that lets a streamed landing answer the batch
    * `ts_avg` oracle bit-exactly. The default watermark is a fallback;
    * the replay path passes a span-derived delay
    * ([[ReplayGuard.spanWatermark]]) so the nothing-dropped posture
    * holds for ANY landing span — a live deployment tightens it to its
    * real lateness bound.
    */
  def bucketedPartials(events: DataFrame, width: String = "1 day",
                       watermark: String = "45 days"): DataFrame =
    events
      .select(
        col("event_type").as("metric"),
        (events.schema("ts").dataType match {
          case LongType => timestamp_micros(expr("ts div 1000L"))
          case _        => col("ts").cast("timestamp")
        }).as("ts"),
        col("value"),
        col("user_id").cast("string").as("tag_user"))
      .withWatermark("ts", watermark)
      .groupBy(col("metric"), col("tag_user"), window(col("ts"), width))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).as("sum_dec"))
      .select(col("metric"), col("tag_user"),
        col("window.start").as("bucket_ts"), col("n"), col("sum_dec"))

  /** Apdex partials per (metric, tag, window): exact BIGINT
    * satisfied/tolerating counters — associative, so cross-batch
    * window-state merge is exact by construction (the decimal-partials
    * argument of [[bucketedPartials]], on conditional counts). The
    * satisfied/tolerating predicates are `Db.apdex`'s bit-deterministic
    * raw-double comparisons.
    */
  def bucketedApdexPartials(events: DataFrame, threshold: Double,
                            width: String = "1 day",
                            watermark: String = "45 days"): DataFrame =
    events
      .select(
        col("event_type").as("metric"),
        (events.schema("ts").dataType match {
          case LongType => timestamp_micros(expr("ts div 1000L"))
          case _        => col("ts").cast("timestamp")
        }).as("ts"),
        col("value"),
        col("user_id").cast("string").as("tag_user"))
      .withWatermark("ts", watermark)
      .groupBy(col("metric"), col("tag_user"), window(col("ts"), width))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= threshold, 1L).otherwise(0L)).as("n_sat"),
        sum(when(col("value") > threshold &&
          col("value") <= 4 * threshold, 1L).otherwise(0L)).as("n_tol"))
      .select(col("metric"), col("tag_user"),
        col("window.start").as("bucket_ts"),
        col("n"), col("n_sat"), col("n_tol"))

  /** Drain the events table through [[bucketedApdexPartials]] once —
    * the four-file, Update-mode, batch-id-staged exactly-once recipe
    * of [[ensureStreamed]], keyed by the threshold so different SLOs
    * land separately.
    */
  def ensureStreamedApdex(spark: SparkSession, sfDir: String,
                          threshold: Double): String =
    Artifact.ensure(spark, "apdex-streamed", s"$sfDir/events.parquet", threshold) { path =>
      val landing = eventsLanding(spark, sfDir, path)
      Artifact.drain(bucketedApdexPartials(Source.stream(spark, landing, 1), threshold,
        watermark = ReplayGuard.spanWatermark(spark, landing)), path, "update")
    }

  /** `ts_apdex` answered from the STREAMED landing — the SLO dashboard
    * that actually runs streaming: per key the latest emission is the
    * row with the largest `n` (strictly growing on re-emission, the
    * [[streamedAvg]] argmax), compacted order-insensitively with one
    * `max(struct(n, n_sat, n_tol))`; the score is `Db.apdex`'s exact
    * `(2·n_sat + n_tol)/(2·n)` chain. Hash-matching ts_apdex's
    * raw-events oracle proves the cross-batch conditional-count state
    * merged every micro-batch exactly.
    */
  def streamedApdex(spark: SparkSession, sfDir: String,
                    metric: String = "view",
                    threshold: Double = 60.0): DataFrame = {
    val path = ensureStreamedApdex(spark, sfDir, threshold)
    Artifact.openStaged(spark, path)
      .where(col("metric") === metric && col("tag_user").isNotNull)
      .groupBy(col("metric"), col("tag_user"), col("bucket_ts"))
      .agg(max(struct(col("n"), col("n_sat"), col("n_tol"))).as("last"))
      .select(
        col("tag_user").as("grp"),
        (unix_micros(col("bucket_ts")) * lit(1000L)).as("bucket_start"),
        col("last.n").as("n"), col("last.n_sat").as("n_sat"),
        col("last.n_tol").as("n_tol"),
        ((lit(2L) * col("last.n_sat") + col("last.n_tol")).cast("double")
          / (lit(2L) * col("last.n")).cast("double")).as("apdex"))
  }

  /** Drain the events table through [[bucketedQuantile]] once — the
    * STREAMED GK sketch landed under the same four-file, Update-mode,
    * batch-id-staged exactly-once recipe as [[ensureStreamed]]. Every
    * re-emission of a (metric, tag, window) key carries the sketch's
    * current answer plus its count `n`, and `n` strictly grows per
    * re-emission, so the final sketch answer per key is the
    * `max(struct(n, value))` compaction — the [[streamedAvg]] trick
    * applied to sketch state.
    */
  def ensureStreamedQuantile(spark: SparkSession, sfDir: String,
                             q: Double = 0.95,
                             accuracy: Int = 10000): String =
    Artifact.ensure(spark, "quantile-streamed", s"$sfDir/events.parquet", q, accuracy) { path =>
      val landing = eventsLanding(spark, sfDir, path)
      Artifact.drain(bucketedQuantile(Source.stream(spark, landing, 1), q, accuracy,
        watermark = ReplayGuard.spanWatermark(spark, landing)), path, "update")
    }

  /** The STREAMED sketch under the hash gate, via the rank-band
    * pattern (`AggBuilder.buildBandCheck`): the landed sketch's final
    * per-key answer joined against the exact discrete rank band
    * [v_⌊(q−m)n⌋, v_⌈(q+m)n⌉] computed from raw points — per (group,
    * bucket), a BOOLEAN both engines agree on, pinned TRUE by the
    * oracle. GK merge order differs between streamed and batch
    * sketches (compression decisions are order-dependent), so their
    * VALUES need not match — but both honor the same rank-error
    * contract, and that contract is exactly what this frame checks:
    * the cross-batch sketch-state merge cannot silently degrade
    * without flipping a row.
    */
  def streamedQuantileBand(spark: SparkSession, sfDir: String,
                           metric: String = "view", q: Double = 0.95,
                           accuracy: Int = 10000,
                           rankMargin: Double = 0.01): DataFrame = {
    val path = ensureStreamedQuantile(spark, sfDir, q, accuracy)
    val last = Artifact.openStaged(spark, path)
      .where(col("metric") === metric && col("grp").isNotNull)
      .groupBy(col("metric"), col("grp"), col("bucket_start"))
      .agg(max(struct(col("n"), col("value"))).as("last"))
      .select(col("grp"),
        (unix_micros(col("bucket_start")) * lit(1000L)).as("bucket_start"),
        col("last.n").as("n"), col("last.value").as("approx"))
    val db = graft.tsdb.Db.fromEvents(spark, sfDir)
    val grpCol = db.tagCol("user")
    val dayNs = 86400L * 1000000000L
    val exact = db.scan(metric).where(grpCol.isNotNull)
      .select(grpCol.as("grp"),
        (expr(s"ts div ${dayNs}L") * lit(dayNs)).as("bucket_start"),
        col("value"))
      .groupBy(col("grp"), col("bucket_start"))
      .agg(array_sort(collect_list(col("value"))).as("vs"))
    last.join(exact, Seq("grp", "bucket_start"))
      .select(col("grp"), col("bucket_start"), col("n"),
        (col("approx") >= element_at(col("vs"),
          greatest(lit(1L), floor(lit(q - rankMargin) * col("n"))).cast("int")) &&
         col("approx") <= element_at(col("vs"),
          least(col("n"), ceil(lit(q + rankMargin) * col("n"))).cast("int")))
          .as("within_band"))
  }

  /** Drain the events table through [[bucketedPartials]] once — four
    * landing files, one micro-batch each, Update-mode changelog staged
    * exactly-once per batch — an [[graft.io.Artifact]].
    */
  def ensureStreamed(spark: SparkSession, sfDir: String): String =
    Artifact.ensure(spark, "agg-streamed", s"$sfDir/events.parquet") { path =>
      val landing = eventsLanding(spark, sfDir, path)
      // replay posture derived from the DATA, not a fixed 45-day hope:
      // the watermark must out-span the landing's actual event-time
      // range or randomly-ordered batches silently drop late rows
      Artifact.drain(bucketedPartials(Source.stream(spark, landing, 1),
        watermark = ReplayGuard.spanWatermark(spark, landing)), path, "update")
    }

  /** `ts_avg` answered from the STREAMED landing: per key the latest
    * running total is the row with the largest `n` (a window's count
    * strictly grows on every re-emission, so the argmax is unique),
    * compacted with one order-insensitive `max(struct(n, sum_dec))`
    * over changelog-sized rows; the final divide-and-round is
    * AggBuilder's exact op chain, and the window start converts back
    * to epoch nanoseconds under the pinned UTC session. Hash-matching
    * ts_avg's raw-events oracle proves the streamed window state
    * merged every batch exactly.
    */
  def streamedAvg(spark: SparkSession, sfDir: String,
                  metric: String = "purchase"): DataFrame = {
    val path = ensureStreamed(spark, sfDir)
    Artifact.openStaged(spark, path)
      .where(col("metric") === metric && col("tag_user").isNotNull)
      .groupBy(col("metric"), col("tag_user"), col("bucket_ts"))
      .agg(max(struct(col("n"), col("sum_dec"))).as("last"))
      .select(
        col("tag_user").as("grp"),
        (unix_micros(col("bucket_ts")) * lit(1000L)).as("bucket_start"),
        col("last.n").as("n"),
        round(col("last.sum_dec").cast("double") / col("last.n"), 6).as("value"))
  }

  /** `ts_seasonal` answered from the SAME streamed landing as
    * [[streamedAvg]] — and the stronger claim: the day-window partials
    * are re-aggregated onto a DIFFERENT grain (day-of-week) than the
    * stream ever grouped by. Decimal partial sums are associative, so
    * folding day buckets into dow cells is exact; the hash match
    * against ts_seasonal's raw-events oracle proves CROSS-GRAIN
    * partial reaggregation over the streamed state — the rollup
    * associativity argument, demonstrated on a streaming landing. Day
    * buckets start at UTC midnight, so `((bucket_ns div 1d) + 4) % 7`
    * is the batch op's exact dow arithmetic.
    */
  def streamedSeasonal(spark: SparkSession, sfDir: String,
                       metric: String = "view"): DataFrame = {
    val path = ensureStreamed(spark, sfDir)
    val dayNs = 86400L * 1000000000L
    Artifact.openStaged(spark, path)
      .where(col("metric") === metric && col("tag_user").isNotNull)
      .groupBy(col("metric"), col("tag_user"), col("bucket_ts"))
      .agg(max(struct(col("n"), col("sum_dec"))).as("last"))
      .select(col("tag_user").as("grp"),
        expr(s"(((unix_micros(bucket_ts) * 1000) div ${dayNs}L) + 4) % 7").as("dow"),
        col("last.n").as("n"), col("last.sum_dec").as("sum_dec"))
      .groupBy(col("grp"), col("dow"))
      .agg(sum(col("n")).as("n"),
        round(sum(col("sum_dec")).cast("double") / sum(col("n")), 6).as("value"))
  }
}
