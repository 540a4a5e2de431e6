package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Aggregation kinds, parity with reference talna `src/agg/{avg,sum,min,max,count}.rs`.
  * [[AggKind.Quantile]] goes beyond the reference surface (talna has no
  * percentile aggregator) — it is the bucketed-p95 shape every metrics
  * store grows, expressed with Spark's exact `percentile` aggregate.
  */
sealed trait AggKind
object AggKind {
  case object Avg   extends AggKind
  case object Sum   extends AggKind
  case object Min   extends AggKind
  case object Max   extends AggKind
  case object Count extends AggKind
  final case class Quantile(q: Double) extends AggKind
  /** Sketch-based quantile (Greenwald-Khanna, rank error ≤ 1/accuracy)
    * — the 100 TB path: [[Quantile]]'s exact `percentile` buffers every
    * group value in the aggregation state, which a hot series at scale
    * cannot afford; the GK summary is bounded-size per group and merges
    * associatively map-side. Returns an actual data point (no
    * interpolation), so it is NOT bit-comparable to an engine's
    * interpolating quantile — driver-checked rows-only, spec-checked
    * against the exact quantile's rank-error band.
    */
  final case class QuantileApprox(q: Double, accuracy: Int) extends AggKind
  /** Population standard deviation per bucket — like [[Quantile]] it goes
    * beyond the reference surface (the anomaly-band shape: avg ± k·stddev).
    * Computed from exact DECIMAL sums of `v` and `v²` so the result is
    * partition-order-independent, unlike a naive float `stddev_pop`.
    */
  case object Stddev extends AggKind
}

/** Spark-native analog of the reference Database (talna `src/db.rs`).
  *
  * Wraps a canonical *series frame* with columns:
  *   - `metric: string` — metric name (talna MetricName)
  *   - `ts: long` — nanoseconds since epoch (talna's ns Timestamp)
  *   - `value: double` — the data-point value
  *   - `tag_<key>: string` — one flat column per tag key
  *
  * Flat tag columns (instead of a map) are deliberate: parquet
  * dictionary/min-max pushdown on them is the distributed analog of the
  * reference's inverted TagIndex — the scan skips row groups the way
  * talna skips series.
  *
  * Metric names are validated at every query API boundary
  * ([[MetricName]]), matching the reference's `MetricName: TryFrom`
  * rejection of invalid names (talna `src/metric_name.rs:15-25`,
  * `src/db.rs:213-324`).
  *
  * Unknown tag keys resolve to a NULL column rather than an analysis
  * error: filters on them match nothing and group-bys return empty —
  * the reference treats unknown tags as empty posting lists
  * (`src/tag_index.rs` query_eq on an absent key) and skips series
  * lacking the group tag (`src/agg/builder.rs:121`).
  */
final class Db(val frame: DataFrame) {
  import Db.TagPrefix

  def avg(metric: String, groupBy: String): AggBuilder   = AggBuilder(this, AggKind.Avg, Db.validated(metric), groupBy)
  def sum(metric: String, groupBy: String): AggBuilder   = AggBuilder(this, AggKind.Sum, Db.validated(metric), groupBy)
  def min(metric: String, groupBy: String): AggBuilder   = AggBuilder(this, AggKind.Min, Db.validated(metric), groupBy)
  def max(metric: String, groupBy: String): AggBuilder   = AggBuilder(this, AggKind.Max, Db.validated(metric), groupBy)
  def count(metric: String, groupBy: String): AggBuilder = AggBuilder(this, AggKind.Count, Db.validated(metric), groupBy)
  /** Bucketed exact quantile (e.g. q=0.95 → p95 latency per group). */
  def quantile(metric: String, groupBy: String, q: Double): AggBuilder = {
    require(q > 0 && q < 1, "quantile must be in (0,1)")
    AggBuilder(this, AggKind.Quantile(q), Db.validated(metric), groupBy)
  }
  /** Bucketed population stddev (anomaly bands: avg ± k·σ per group). */
  def stddev(metric: String, groupBy: String): AggBuilder =
    AggBuilder(this, AggKind.Stddev, Db.validated(metric), groupBy)
  /** Bucketed SKETCH quantile — [[quantile]]'s bounded-memory sibling
    * for groups too hot to buffer (see [[AggKind.QuantileApprox]]).
    */
  def quantileApprox(metric: String, groupBy: String, q: Double,
                     accuracy: Int = 10000): AggBuilder = {
    require(q > 0 && q < 1, "quantile must be in (0,1)")
    require(accuracy >= 1, "accuracy must be >= 1")
    AggBuilder(this, AggKind.QuantileApprox(q, accuracy), Db.validated(metric), groupBy)
  }

  /** Tag-key → column. Missing keys become a typed NULL column so that
    * Eq/Wildcard predicates coalesce to false and group-bys skip every
    * row (reference empty-posting-list semantics), instead of throwing
    * an unresolved-column AnalysisException.
    */
  def tagCol(key: String): Column =
    if (frame.columns.contains(TagPrefix + key)) col(TagPrefix + key)
    else lit(null).cast("string")

  /** Tag columns present in the frame, sorted by key. */
  private[tsdb] def tagColumns: Seq[String] =
    frame.columns.filter(_.startsWith(TagPrefix)).sorted.toSeq

  /** Raw series scan: metric + filter DSL + optional bounds, no aggregation. */
  def scan(metric: String, filterExpr: String = "*",
           minTs: Option[Long] = None, maxTs: Option[Long] = None): DataFrame = {
    var df = frame.where(col("metric") === lit(Db.validated(metric)))
    minTs.foreach(t => df = df.where(col("ts") >= lit(t)))
    maxTs.foreach(t => df = df.where(col("ts") <= lit(t)))
    df.where(FilterParser.compileString(filterExpr, tagCol))
  }

  /** Newest-N data points per series (metric × full tagset), mirroring the
    * reference's newest-first primary-key scan (timestamps stored negated
    * big-endian so forward scans read newest first — README "Data model").
    * A small input ([[Db.smallInputRoute]]) ranks on one partition with
    * no exchange; a large one shuffles on the series key.
    */
  def latest(metric: String, n: Int, filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Db.smallInputRoute(scan(metric, filterExpr))
    val w = Window.partitionBy(tagColumns.map(col): _*).orderBy(col("ts").desc, col("value").desc)
    base.withColumn("rn", row_number().over(w)).where(col("rn") <= n).drop("rn")
  }

  /** Per-series first derivative (Datadog-style `per_second()` rate):
    * for each consecutive pair of points within a series (metric × full
    * tagset), `rate_per_s = Δvalue / Δseconds`. One shuffle on the
    * series key, then a codegen'd window lag — no self-join, no
    * per-series driver loop, so it scales with the point count.
    *
    * Points are ordered by `(ts, value)` — the value tiebreak makes the
    * pairing deterministic when a series carries duplicate timestamps —
    * and zero-Δt pairs are dropped (no rate exists at an instant).
    *
    * The rate is the RAW IEEE-754 division (no decimal rounding): the
    * identical left-to-right op chain is bit-stable across engines,
    * whereas any decimal `round()` re-introduces engine-specific
    * boundary behavior (BigDecimal HALF_UP vs C-library) and signed
    * zeros. `+ 0.0` canonicalizes a `-0.0` quotient (IEEE: x + 0.0 = x
    * for every other x) so the result has one representation.
    */
  def rate(metric: String, filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(tagColumns.map(col): _*)
      .orderBy(col("ts"), col("value"))
    scan(metric, filterExpr)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .where(col("prev_ts").isNotNull && col("prev_ts") < col("ts"))
      .withColumn("rate_per_s",
        (col("value") - col("prev_value"))
          / ((col("ts") - col("prev_ts")) / lit(1e9)) + lit(0.0))
      .drop("prev_ts", "prev_value")
  }

  /** PromQL `sum(rate(m[w]))` — the single most common dashboard
    * expression (cross-series total request rate per bucket): every
    * series' pairwise rates from the exact [[rate]] chain, re-bucketed
    * and totaled ACROSS series. The cross-series sum must not be a
    * raw double fold — addition order differs per engine and per
    * partitioning and double addition is not associative — so each
    * rate is rounded to 6 and summed as DECIMAL(28,6) (exact,
    * associative, engine-stable; the decimal also kills the signed
    * zero a tiny negative rate would round to), with one final double
    * cast. Plan: one window pass on the series partitioning + one
    * map-side-combined aggregate; output rows = buckets — the
    * bounded-output shape a 100 TB fleet dashboard needs.
    */
  def rateSum(metric: String, widthNs: Long,
              filterExpr: String = "*"): DataFrame =
    rate(metric, filterExpr)
      .groupBy((expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_pairs"),
        org.apache.spark.sql.functions.sum(
          round(col("rate_per_s"), 6).cast("decimal(28,6)"))
          .cast("double").as("value"))

  /** PromQL `quantile(q, sum by(group)(m))` — the cross-SERIES
    * quantile per bucket ("p90 per-pod daily volume"), the horizontal
    * sibling of [[quantile]]'s within-group percentile: level one is
    * the exact-decimal per-(group, bucket) sum (AggBuilder's op
    * chain, so the quantile's inputs are engine-identical doubles),
    * level two an exact interpolated percentile ACROSS the bucket's
    * group values, rounded like ts_quantile. The second level buffers
    * only the bucket's GROUP VALUES (series-cardinality-bounded,
    * never points); output rows = buckets.
    */
  def quantileAcross(metric: String, groupBy: String, q: Double,
                     widthNs: Long, filterExpr: String = "*"): DataFrame = {
    require(q > 0 && q < 1, "quantile must be in (0,1)")
    sum(metric, groupBy).filter(filterExpr).granularity(widthNs).build()
      .groupBy(col("bucket_start"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_series"),
        round(expr(s"percentile(value, ${q}d)"), 6).as("value"))
  }

  /** Gauge delta per (series × bucket) — Datadog `diff`-style
    * last-minus-first (PromQL `delta()` without the extrapolation
    * term, which assumes scrape-interval regularity this store does
    * not): the bucket's value at its (ts, value)-max point minus the
    * value at its (ts, value)-min point, `+ 0.0` signed-zero
    * canonicalized. Both endpoint ranks ride ONE series+bucket
    * partitioning (the irate recipe — the exchange is reused, two
    * sorts), then a conditional aggregate collapses each bucket; a
    * single-point bucket reports delta 0 (its first IS its last).
    * Subtraction of two raw doubles is engine-stable; no rounding.
    */
  def delta(metric: String, widthNs: Long,
            filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = scan(metric, filterExpr)
      .withColumn("bucket_start", expr(s"ts div ${widthNs}L") * lit(widthNs))
    val part = Window.partitionBy(tagColumns.map(col) :+ col("bucket_start"): _*)
    val asc = part.orderBy(col("ts").asc, col("value").asc)
    val desc = part.orderBy(col("ts").desc, col("value").desc)
    bucketed
      .withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("metric") +: tagColumns.map(col) :+ col("bucket_start"): _*)
      .agg(
        (org.apache.spark.sql.functions.max(
          when(col("rn_d") === 1, col("value")))
          - org.apache.spark.sql.functions.max(
            when(col("rn_a") === 1, col("value"))) + lit(0.0)).as("delta"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
  }

  /** PromQL subquery shape `max_over_time(rate(m)[w:])`: the
    * per-series [[rate]] stream re-bucketed at `widthNs` and reduced to
    * its per-bucket MAX — the "worst-case burst rate per day" triage
    * line. Composes exactly the ts_rate chain (so every rate value is
    * the same bit-stable IEEE quotient) and one hash aggregate on
    * (series, bucket): MAX/COUNT of an identical input set is
    * engine-deterministic (no -0.0 ambiguity — the rate chain already
    * canonicalizes signed zeros on both engines). One extra map-side
    * combined exchange over the rate window's partitioning; output
    * rows ∝ series × buckets.
    */
  def maxOverRate(metric: String, widthNs: Long,
                  filterExpr: String = "*"): DataFrame =
    rate(metric, filterExpr)
      .groupBy(tagColumns.map(col) :+
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"): _*)
      .agg(
        org.apache.spark.sql.functions.max(col("rate_per_s")).as("max_rate"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** Value histogram of a metric: point counts per fixed-width value
    * bin, `bin_lo = floor(value/width)·width` (the identical IEEE op
    * chain is engine-stable, so bins hash-match an external oracle).
    * One hash aggregate with map-side combine over the scan; output
    * rows ∝ value range / width — independent of corpus size, the
    * distribution sketch a dashboard draws without pulling points.
    */
  def histogram(metric: String, width: Double,
                filterExpr: String = "*"): DataFrame =
    scan(metric, filterExpr)
      .groupBy(col("metric"),
        (floor(col("value") / lit(width)) * lit(width)).as("bin_lo"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** Heatmap grid: [[histogram]] × time — per (time bucket, value
    * bin) point counts, the Grafana heatmap panel's exact input (the
    * "latency distribution drifting over the day" visualization a
    * flat histogram collapses and a p95 line hides). Same
    * floor-division bin math as [[histogram]] (one multiply + one
    * floor — identical IEEE chain on any engine) and the shared
    * `ts div width` bucket math; ONE map-side-combined hash aggregate
    * over the scan, output rows ∝ buckets × occupied bins — bounded
    * by the grid, not the point volume, which is what makes the panel
    * renderable (and this query cheap) at any corpus scale.
    */
  def heatmap(metric: String, widthNs: Long, binWidth: Double,
              filterExpr: String = "*"): DataFrame =
    scan(metric, filterExpr)
      .groupBy(col("metric"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"),
        (floor(col("value") / lit(binWidth)) * lit(binWidth)).as("bin_lo"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** PromQL `count_values()`: per time bucket, the number of points
    * carrying each EXACT value — the "how many servers report version
    * X" / discrete-value census. Grouping on the raw double is
    * engine-stable (both Spark and any SQL engine group doubles by bit
    * pattern; no arithmetic happens, so there is no rounding chain to
    * diverge). One hash aggregate with map-side combine; output rows ∝
    * buckets × distinct values — for discrete-valued metrics that is
    * bounded regardless of point volume, which is the reason the PromQL
    * operator exists (reference: talna has no value census; this is the
    * Prometheus-side parity surface, prometheus/promql/functions.go
    * count_values semantics).
    */
  def countValues(metric: String, widthNs: Long,
                  filterExpr: String = "*"): DataFrame =
    scan(metric, filterExpr)
      .groupBy((expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"),
        col("value"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** Quantile-over-time estimated FROM HISTOGRAM BINS — PromQL
    * `histogram_quantile()`: per `widthNs` time bucket, bin the values
    * at `binWidth`, then linearly interpolate the q-quantile inside the
    * first bin whose cumulative count reaches `q·total`. This is the
    * latency-p95 dashboard line at 100 TB scale: state per time bucket
    * is value_range/binWidth integers (vs [[AggBuilder]]'s exact
    * percentile buffering every point), and the histogram aggregate
    * map-side combines. One exchange (bucket × bin aggregate), one
    * window over the bin-sized frame, bounded output (one row per time
    * bucket). Counts stay integers until ONE final IEEE interpolation
    * chain, identical on any engine; the estimate is
    * exact-rank-correct at bin granularity (the sketch-accuracy
    * contract every Prometheus deployment accepts).
    */
  def histogramQuantile(metric: String, widthNs: Long, binWidth: Double,
                        q: Double, filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(q > 0 && q < 1, "quantile must be in (0,1)")
    require(binWidth > 0, "binWidth must be positive")
    val h = scan(metric, filterExpr)
      .groupBy((expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"),
        (floor(col("value") / lit(binWidth)) * lit(binWidth)).as("bin_lo"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    val byBucket = Window.partitionBy(col("bucket_start"))
    val cum = org.apache.spark.sql.functions.sum(col("n"))
      .over(byBucket.orderBy(col("bin_lo"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val total = org.apache.spark.sql.functions.sum(col("n")).over(byBucket)
    h.withColumn("cum", cum).withColumn("total", total)
      .where(col("cum") - col("n") < lit(q) * col("total") &&
        col("cum") >= lit(q) * col("total"))
      .select(col("bucket_start"), col("total"),
        (col("bin_lo") + lit(binWidth) *
          (lit(q) * col("total") - (col("cum") - col("n"))) / col("n")
          + lit(0.0)).as("est_q"))
  }

  /** Top-N bucket-over-bucket movers: the (series group, bucket) pairs
    * whose aggregate total changed most vs the group's PREVIOUS bucket
    * — "what moved the most today" triage. Composes the exact bucketed
    * sum (one point-volume shuffle), a per-group lag over the
    * group×bucket-sized frame, and a global top-N over that bounded
    * frame (never the points) with a (|Δ| desc, grp, bucket) total
    * order so the kept set is engine-deterministic. The global rank is
    * two-phase (per-partition head prune, then the final rank over
    * ≤ partitions × n survivors — the ANN top-k recipe): Spark's
    * `InferWindowGroupLimit` does NOT fire for an empty-partition
    * window (plan-verified), so the manual pid phase is what keeps the
    * full frame off a single task; the pid stage's uncast rank filter
    * DOES get the WindowGroupLimit top-n heap (a cast around the rank
    * defeats the rule's pattern match — also plan-verified).
    */
  def topMovers(metric: String, groupBy: String, widthNs: Long,
                n: Int = 10, filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, "n must be >= 1")
    val buckets = AggBuilder(this, AggKind.Sum, Db.validated(metric), groupBy)
      .filter(filterExpr).granularity(widthNs).build()
    val byGrp = Window.partitionBy(col("grp")).orderBy(col("bucket_start"))
    val byPart = Window.partitionBy(col("pid"))
      .orderBy(abs(col("delta")).desc, col("grp"), col("bucket_start"))
    val global = Window.orderBy(
      abs(col("delta")).desc, col("grp"), col("bucket_start"))
    buckets
      .withColumn("prev_value", lag(col("value"), 1).over(byGrp))
      .where(col("prev_value").isNotNull)
      .withColumn("delta", col("value") - col("prev_value") + lit(0.0))
      .withColumn("pid", spark_partition_id())
      .withColumn("prnk", row_number().over(byPart))
      .where(col("prnk") <= n)
      .drop("pid", "prnk")
      .withColumn("rnk", row_number().over(global))
      .where(col("rnk") <= n)
      .select(col("grp"), col("bucket_start"), col("value"),
        col("prev_value"), col("delta"), col("rnk").cast("long").as("rnk"))
  }

  /** Active-series cardinality per `widthNs` bucket: how many distinct
    * series (full tagset) of `metric` reported at least one point in
    * each bucket, plus the bucket's point count — the series-churn /
    * cardinality-explosion dashboard metric, and the over-time
    * extension of the reference's TagSets introspection (talna
    * `src/tag_sets.rs` enumerates the CURRENT series of a metric; this
    * answers "how many were live, when"). One aggregate: Spark plans
    * the distinct as a two-phase partial aggregate over (bucket ×
    * series id) with map-side combine, so the reduce-side volume is
    * live series × buckets, never points; output rows = buckets. The
    * series id is a canonical string with an explicit per-tag NULL
    * marker — `concat_ws` would SKIP nulls and collide (a, NULL) with
    * (a) — built identically by any SQL engine.
    */
  def activeSeries(metric: String, widthNs: Long,
                   filterExpr: String = "*"): DataFrame = {
    val parts = tagColumns.map(c => coalesce(col(c), lit("-")))
    val sid = concat(parts.flatMap(p => Seq(p, lit("|"))).dropRight(1): _*)
    scan(metric, filterExpr)
      .groupBy((expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(countDistinct(sid).as("n_series"),
        org.apache.spark.sql.functions.count(lit(1)).as("n_points"))
  }

  /** [[activeSeries]]'s SCALE path plus its oracle gate in one frame:
    * the exact distinct count is replaced in production by Spark's
    * native HLL++ (`approx_count_distinct` — bounded sketch state per
    * bucket, associative merge, partitioning-independent), and this
    * frame carries the sketch's accuracy contract the way
    * [[AggBuilder.buildBandCheck]] carries the GK sketch's: a boolean
    * asserting the HLL estimate lies within `relBand` of the exact
    * count. Cross-engine parity on the ESTIMATE is structurally
    * impossible (engines hash differently), but booleans agree — the
    * oracle pins TRUE per bucket, so any sketch regression flips a
    * hash-gated row. The exact `countDistinct` here makes this the
    * VALIDATION query (it pays the expand the sketch exists to avoid);
    * production serving uses the sketch column alone. `relBand` is 5×
    * the requested rsd — HLL++'s rsd is a standard deviation, not a
    * bound, so the gate band is generous while still catching any
    * implementation break (a broken sketch is off by orders of
    * magnitude, not percent).
    */
  def activeSeriesApprox(metric: String, widthNs: Long,
                         filterExpr: String = "*",
                         rsd: Double = 0.02,
                         relBand: Double = 0.10): DataFrame = {
    val parts = tagColumns.map(c => coalesce(col(c), lit("-")))
    val sid = concat(parts.flatMap(p => Seq(p, lit("|"))).dropRight(1): _*)
    scan(metric, filterExpr)
      .groupBy((expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(countDistinct(sid).as("n_series"),
        approx_count_distinct(sid, rsd).as("approx"))
      .select(col("bucket_start"), col("n_series"),
        (abs(col("approx") - col("n_series")).cast("double")
          <= col("n_series").cast("double") * lit(relBand)).as("within_band"))
  }

  /** Median absolute deviation per (group × bucket) — the ROBUST
    * anomaly baseline (`k·MAD` bands shrug off the outliers that
    * inflate a σ band, so a single spike can't widen its own alert
    * threshold): `med = median(v)`, `mad = median(|v − med|)`. Two
    * exact `percentile` aggregates over one point shuffle each, the
    * bucket-sized median frame joined back broadcast
    * (`broadcastMed = false` → shuffle join, the zscore_rollup
    * contract). Like [[AggBuilder]]'s exact Quantile, the percentile
    * buffers its group — [[quantileApprox]] is the hot-series escape;
    * the MEDIAN is rounded to 6 before the deviation pass so the
    * second percentile's inputs are engine-identical doubles (the
    * ts_quantile round-6 recipe applied at both stages).
    */
  def mad(metric: String, groupBy: String, widthNs: Long,
          filterExpr: String = "*",
          broadcastMed: Boolean = true): DataFrame = {
    val grpCol = tagCol(groupBy)
    val pts = scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .select(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"),
        col("value"))
    val med0 = pts.groupBy(col("grp"), col("bucket_start"))
      .agg(round(expr("percentile(value, 0.5d)"), 6).as("med"))
    val med = if (broadcastMed) broadcast(med0) else med0.hint("shuffle_hash")
    pts.join(med, Seq("grp", "bucket_start"))
      .groupBy(col("grp"), col("bucket_start"), col("med"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        round(expr("percentile(abs(value - med), 0.5d)"), 6).as("mad"))
  }

  /** Buckets where a series reported NOTHING — PromQL
    * `absent_over_time()` as a batch primitive (the alerting question
    * "which scrape targets went dark, and when" — the complement of
    * [[activeSeries]]'s cardinality view and of [[AggBuilder
    * .buildGapFilled]]'s per-series fill): every (observed series,
    * bucket over the metric's GLOBAL span) pair with no data points.
    *
    * Shape: the spine is (distinct series) × (global bucket range) —
    * both BOUNDED frames (series cardinality × span/width, independent
    * of point volume; the in-plan guard refuses a degenerate
    * bucket explosion like gapfill) — anti-joined against the distinct
    * present pairs with null-safe tag equality (a NULL tag is a
    * series identity, not a wildcard). The global bounds come from a
    * one-row aggregate cross-joined broadcast — no driver collect in
    * the plan.
    */
  def absent(metric: String, widthNs: Long, filterExpr: String = "*",
             maxBucketsPerSeries: Long = 1000000L): DataFrame = {
    val tags = tagColumns.map(col)
    val bucket = (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start")
    val pts = scan(metric, filterExpr).select(tags :+ bucket: _*)
    val present = pts.distinct()
    val series = present.select(tags: _*).distinct()
    val bounds = pts
      .agg(org.apache.spark.sql.functions.min(col("bucket_start")).as("b_lo"),
        org.apache.spark.sql.functions.max(col("bucket_start")).as("b_hi"))
      .withColumn("n_buckets",
        (col("b_hi") - col("b_lo")) / lit(widthNs) + lit(1L))
      .withColumn("b_lo", when(col("n_buckets") <= maxBucketsPerSeries, col("b_lo"))
        .otherwise(raise_error(concat(
          lit(s"absent bucket spine exceeds $maxBucketsPerSeries buckets ("),
          col("n_buckets").cast("string"),
          lit(s") for metric '$metric'; widen widthNs or narrow the filter")))))
    val buckets = bounds
      .select(explode(expr(s"sequence(b_lo, b_hi, ${widthNs}L)")).as("bucket_start"))
    // both sides derive from `pts`, so they share attributes: the
    // aliases let the condition name each side explicitly
    val spine = series.crossJoin(buckets).as("spine")
    val cond = tagColumns.map(c => col(s"spine.$c") <=> col(s"present.$c"))
      .foldLeft(col("spine.bucket_start") === col("present.bucket_start"))(_ && _)
    spine.join(present.as("present"), cond, "left_anti")
  }

  /** Series churn: per bucket, how many series were BORN (first-ever
    * point) and how many DIED (last-ever point) — the cardinality-
    * lifecycle read behind every TSDB capacity incident: total series
    * ([[activeSeries]]) can look flat while churn silently replaces
    * the whole population, and churn is what fills an index with dead
    * series ids. The introspection face's ([[metrics]]/[[series]]/
    * [[tagCardinality]]) time axis.
    *
    * Scale shape: one scan collapses to the SERIES-grain lifetime
    * frame (one series shuffle, min/max map-side combined), then two
    * bucket-grain aggregates over that bounded frame full-joined on
    * the day axis — output rows ≤ 2× the bucket span. Pure integer
    * counts and bucket math end to end.
    */
  def seriesChurn(metric: String, widthNs: Long,
                  filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val tags = tagColumns.map(col)
    val bucket = expr(s"ts div ${widthNs}L") * lit(widthNs)
    val life = scan(metric, filterExpr)
      .groupBy(tags: _*)
      .agg(F.min(bucket).as("born"), F.max(bucket).as("died"))
    val births = life.groupBy(col("born").as("bucket_start"))
      .agg(F.count(lit(1)).as("n_born"))
    val deaths = life.groupBy(col("died").as("bucket_start"))
      .agg(F.count(lit(1)).as("n_died"))
    births.join(deaths, Seq("bucket_start"), "full")
      .select(col("bucket_start"),
        coalesce(col("n_born"), lit(0L)).as("n_born"),
        coalesce(col("n_died"), lit(0L)).as("n_died"))
  }

  /** Outage runs: [[absent]]'s dark (series, bucket) pairs grouped
    * into CONSECUTIVE-gap islands, one row per outage with its start
    * and length — the "how long was it down, each time" read; a flat
    * absent list makes the operator count incidents by eyeball, and a
    * 30-bucket outage is a different event than 30 scattered holes.
    *
    * The islands trick is pure integer arithmetic: within a series
    * ordered by bucket, `bucket_index − row_number` is CONSTANT across
    * a consecutive run and strictly increasing across gaps between
    * runs, so one window pass + one aggregate emits the runs — no
    * self-join, no iterative gap-walking; int64 end to end, so the
    * grouping key can never diverge between engines. Output rows =
    * number of outages ≤ the absent-pair count.
    */
  def outageRuns(metric: String, widthNs: Long,
                 filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tags = tagColumns.map(col)
    val w = Window.partitionBy(tags: _*).orderBy(col("bucket_start"))
    absent(metric, widthNs, filterExpr)
      .withColumn("rk",
        expr(s"bucket_start div ${widthNs}L") - row_number().over(w))
      .groupBy(tags :+ col("rk"): _*)
      .agg(org.apache.spark.sql.functions.min(col("bucket_start")).as("run_start"),
        org.apache.spark.sql.functions.count(lit(1)).as("run_len"))
      .select(tags :+ col("run_start") :+ col("run_len"): _*)
  }

  /** MTTR/MTBF report per series over the [[outageRuns]] islands — the
    * reliability numbers an SRE review reads off the outage history:
    * outage count, total/max/mean outage length (buckets), and mean
    * buckets between outage STARTS (NULL below two outages — no
    * between exists). One more vocabulary-sized aggregate on top of
    * the islands (output rows = series count); exact integers until
    * the two final IEEE divisions.
    */
  def mttr(metric: String, widthNs: Long,
           filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val tags = tagColumns.map(col)
    outageRuns(metric, widthNs, filterExpr)
      .groupBy(tags: _*)
      .agg(F.count(lit(1)).as("n_outages"),
        F.sum(col("run_len")).as("down_buckets"),
        F.max(col("run_len")).as("max_down"),
        F.min(col("run_start")).as("first_start"),
        F.max(col("run_start")).as("last_start"))
      .select(tags ++ Seq(col("n_outages"), col("down_buckets"),
        col("max_down"),
        (col("down_buckets").cast("double")
          / col("n_outages").cast("double")).as("mttr_buckets"),
        when(col("n_outages") >= 2,
          expr(s"(last_start - first_start) div ${widthNs}L").cast("double")
            / (col("n_outages") - 1).cast("double"))
          .otherwise(lit(null).cast("double")).as("mtbf_buckets")): _*)
  }

  /** M4 downsampling per (series × `widthNs` bucket): the ≤4 points a
    * pixel-column needs to render a line chart EXACTLY — first, last,
    * min, max (the M4 aggregation of Jugel et al., PVLDB 7(10):
    * error-free line visualization at 4 points per pixel). One shuffle
    * on the series key; the four role ranks are window row_numbers over
    * the SAME partitioning (Catalyst plans one exchange, four in-
    * partition sorts), with total-order tiebreaks ((ts, value) /
    * (value, ts)) so the kept point set is engine-reproducible. A point
    * holding several roles is emitted once — output ≤ 4 rows per
    * (series, bucket) regardless of corpus size, which is what makes
    * dashboard rendering over 100 TB a constant-size transfer.
    */
  def m4(metric: String, widthNs: Long, filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = col("metric") +: tagColumns.map(col) :+ col("bucket_start")
    val w = Window.partitionBy(keys: _*)
    scan(metric, filterExpr)
      .withColumn("bucket_start", expr(s"ts div ${widthNs}L") * lit(widthNs))
      .withColumn("r_first", row_number().over(w.orderBy(col("ts"), col("value"))))
      .withColumn("r_last", row_number().over(w.orderBy(col("ts").desc, col("value").desc)))
      .withColumn("r_min", row_number().over(w.orderBy(col("value"), col("ts"))))
      .withColumn("r_max", row_number().over(w.orderBy(col("value").desc, col("ts").desc)))
      .where(col("r_first") === 1 || col("r_last") === 1 ||
        col("r_min") === 1 || col("r_max") === 1)
      .drop("r_first", "r_last", "r_min", "r_max")
  }

  /** Counter increase per (series × bucket): the sum of the POSITIVE
    * deltas between consecutive points of a series inside each
    * `widthNs` bucket — PromQL-`increase()` semantics without
    * extrapolation: a counter reset (value drop) contributes zero
    * instead of a negative step. Same per-series window shape as
    * [[rate]] (one shuffle on the series key, codegen'd lag; deltas
    * attributed to the LATER point's bucket, zero-Δt pairs dropped).
    * DECIMAL summation keeps the result independent of partition
    * merge order — bit-identical across engines, like every ts_* sum.
    */
  def increase(metric: String, widthNs: Long,
               filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(tagColumns.map(col): _*)
      .orderBy(col("ts"), col("value"))
    scan(metric, filterExpr)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("delta",
        greatest(col("value") - lag(col("value"), 1).over(w), lit(0.0)))
      .where(col("prev_ts").isNotNull && col("prev_ts") < col("ts"))
      .groupBy(col("metric") +: tagColumns.map(col) :+
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"): _*)
      .agg(org.apache.spark.sql.functions.sum(
        col("delta").cast("decimal(28,6)")).cast("double").as("value"))
  }

  /** Faithful PromQL `rate()` per (series × bucket) — the FULL
    * extrapolated rate (prometheus promql/functions.go
    * `extrapolatedRate`), not the point-pair [[rate]] or the plain
    * bucket [[increase]]: reset-aware increase over the bucket's
    * in-window pairs, then boundary extrapolation — extend the sampled
    * interval toward each window edge by the actual gap when the edge
    * is within 1.1× the average sample spacing, else by half the
    * average spacing; the start-side extension is additionally capped
    * so a counter is never extrapolated below zero
    * (`durationToZero = sampledInterval · first/increase`). Emitted
    * rate = `increase · extendedInterval/sampledInterval / windowSecs`.
    *
    * Exactness: the increase rides a DECIMAL pair-contribution sum;
    * every extrapolation input is an int64 ns difference divided by
    * 1e9 once; the remaining chain (two CASEs, one min, two divisions,
    * one multiply) is written in the identical order in the oracle —
    * IEEE-stable. Buckets with < 2 distinct-ts samples emit nothing
    * (PromQL's own n ≥ 2 contract). One series+bucket shuffle, one
    * window pass, one bounded aggregate.
    */
  def xrate(metric: String, widthNs: Long,
            filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = scan(metric, filterExpr)
      .withColumn("bucket_start", expr(s"ts div ${widthNs}L") * lit(widthNs))
    val sb = tagColumns.map(col) :+ col("bucket_start")
    val w = Window.partitionBy(sb: _*).orderBy(col("ts"), col("value"))
    val paired = bucketed
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("prev_v", lag(col("value"), 1).over(w))
      .withColumn("contrib",
        when(col("prev_ts").isNotNull && col("prev_ts") < col("ts"),
          when(col("value") >= col("prev_v"), col("value") - col("prev_v"))
            .otherwise(col("value")))
          .otherwise(lit(null).cast("double")))
    val agg = paired
      .groupBy(col("metric") +: sb: _*)
      .agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.min(col("ts")).as("first_ts"),
        org.apache.spark.sql.functions.max(col("ts")).as("last_ts"),
        org.apache.spark.sql.functions.min(struct(col("ts"), col("value")))
          .getField("value").as("first_v"),
        org.apache.spark.sql.functions.sum(
          col("contrib").cast("decimal(28,6)")).cast("double").as("inc"))
      .where(col("n") >= 2 && col("last_ts") > col("first_ts"))
    agg
      .withColumn("d_start", (col("first_ts") - col("bucket_start")) / lit(1e9))
      .withColumn("d_end",
        (col("bucket_start") + lit(widthNs) - col("last_ts")) / lit(1e9))
      .withColumn("sampled", (col("last_ts") - col("first_ts")) / lit(1e9))
      .withColumn("avg_dur", col("sampled") / (col("n") - lit(1)))
      .withColumn("d_start2",
        when(col("inc") > 0.0 && col("first_v") >= 0.0,
          least(col("d_start"), col("sampled") * (col("first_v") / col("inc"))))
          .otherwise(col("d_start")))
      .withColumn("ext_s",
        when(col("d_start2") < col("avg_dur") * lit(1.1), col("d_start2"))
          .otherwise(col("avg_dur") / lit(2.0)))
      .withColumn("ext_e",
        when(col("d_end") < col("avg_dur") * lit(1.1), col("d_end"))
          .otherwise(col("avg_dur") / lit(2.0)))
      .select(col("metric") +: tagColumns.map(col) :+ col("bucket_start") :+
        col("n") :+
        (col("inc") * ((col("sampled") + col("ext_s") + col("ext_e"))
          / col("sampled")) / (lit(widthNs) / lit(1e9)) + lit(0.0)).as("xrate"): _*)
  }

  /** Instantaneous rate per (series × bucket) — PromQL `irate()`: the
    * per-second rate of the LAST consecutive pair inside each
    * `widthNs` bucket, counter-reset-aware (a value drop contributes
    * the raw new value, PromQL's reset correction) — the spiky-counter
    * companion to [[rate]] (every pair) and [[increase]] (bucket sum).
    * Same single series-key shuffle; both window passes (the ASC lag
    * pairing and the DESC last-row rank) share one partitioning, so
    * the exchange is reused and only a second in-partition sort is
    * added. Buckets whose last pair is degenerate (one point, or a
    * duplicate-timestamp pair) emit nothing, like [[rate]]'s strict
    * Δt > 0 contract. The division is the RAW IEEE chain with `+ 0.0`
    * signed-zero canonicalization — bit-stable across engines, no
    * decimal rounding ([[rate]]'s recipe).
    */
  def irate(metric: String, widthNs: Long,
            filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketCol = (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start")
    val seriesBucket = tagColumns.map(col) :+ col("bucket_start")
    val pairs = Window.partitionBy(seriesBucket: _*)
      .orderBy(col("ts"), col("value"))
    val lastRow = Window.partitionBy(seriesBucket: _*)
      .orderBy(col("ts").desc, col("value").desc)
    scan(metric, filterExpr)
      .withColumn("bucket_start", bucketCol)
      .withColumn("prev_ts", lag(col("ts"), 1).over(pairs))
      .withColumn("prev_value", lag(col("value"), 1).over(pairs))
      .withColumn("rn", row_number().over(lastRow))
      .where(col("rn") === 1 &&
        col("prev_ts").isNotNull && col("prev_ts") < col("ts"))
      .select(col("metric") +: tagColumns.map(col) :+ col("bucket_start") :+
        ((when(col("value") >= col("prev_value"),
          col("value") - col("prev_value")).otherwise(col("value"))
          / ((col("ts") - col("prev_ts")) / lit(1e9))) + lit(0.0)).as("value"): _*)
  }

  /** Per-point trailing simple moving average over the last `nPoints`
    * points of each series (the dashboard `rollingavg()` modifier and
    * EWMA's fixed-window sibling): one shuffle on the series key, one
    * codegen'd window frame `ROWS BETWEEN n-1 PRECEDING AND CURRENT
    * ROW` — never a self-join, never a per-series driver loop. The
    * frame sum is an exact DECIMAL (partition-order-independent), the
    * divide is the bucket-avg op chain (`round(sum/count, 6)`), and
    * the (ts, value) ordering makes the frame contents deterministic
    * under duplicate timestamps, like [[rate]].
    */
  def sma(metric: String, nPoints: Int = 5,
          filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nPoints >= 1, "nPoints must be >= 1")
    val w = Window.partitionBy(tagColumns.map(col): _*)
      .orderBy(col("ts"), col("value"))
      .rowsBetween(-(nPoints - 1).toLong, Window.currentRow)
    scan(metric, filterExpr)
      .withColumn("sma",
        round(org.apache.spark.sql.functions.sum(col("value").cast("decimal(28,6)")).over(w).cast("double")
          / org.apache.spark.sql.functions.count(lit(1)).over(w), 6))
  }

  /** Per-point exponential smoothing of every series of a metric (the
    * dashboard `ewma()` modifier): `y_0 = x_0; y_i = (1-α)·y_{i-1} +
    * α·x_i` in (ts, value) order. A left fold is inherently
    * order-dependent, so the series is collected and sorted per group
    * (one shuffle — series fit comfortably in an executor row; this is
    * the same bound the reference's in-memory series iteration has)
    * and folded by the codegen'd `graft_ewma` kernel in one pass —
    * not an O(n²) prefix recomputation, not an interpreted HOF. The
    * DuckDB oracle mirrors the identical IEEE arithmetic with
    * `list_reduce` over window prefix arrays (bit-stable).
    */
  /** Per-point z-score within its (group × bucket): `(v − μ)/σ` with
    * μ, σ from the SAME exact-decimal Σv/Σv² chain as
    * [[AggKind.Stddev]] — the anomaly-detection read of the stddev
    * band ("which points sit k sigmas out, and where"). Window
    * formulation, not an agg + self-join: ONE shuffle on
    * (group, bucket) serves both the stats and the per-point
    * enrichment, and every arithmetic step after the exact sums is the
    * identical IEEE chain on both engines (no rounding — the rate/ewma
    * bit-stability recipe), with `+ 0.0` canonicalizing the signed
    * zero when v = μ. Constant buckets (σ = 0) yield NULL, not a
    * division blow-up.
    */
  def zscore(metric: String, groupBy: String,
             widthNs: Long = Duration.days(1),
             filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grpCol = tagCol(groupBy)
    val w = Window.partitionBy(grpCol, expr(s"ts div ${widthNs}L"))
    import org.apache.spark.sql.{functions => F}
    val s = F.sum(col("value").cast("decimal(28,6)")).over(w).cast("double")
    val sq = F.sum(col("value").cast("decimal(18,6)") *
      col("value").cast("decimal(18,6)")).over(w).cast("double")
    val cnt = F.count(lit(1)).over(w)
    val sigma = sqrt(greatest((sq - (s * s) / cnt) / cnt, lit(0.0)))
    scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .select(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"),
        col("ts"), col("value"),
        when(sigma === 0.0, lit(null).cast("double"))
          .otherwise((col("value") - s / cnt) / sigma + lit(0.0)).as("z"))
  }

  /** Seasonal-baseline anomaly score: each series' DAILY total
    * z-scored against the profile of the SAME WEEKDAY's totals — "is
    * this Monday anomalous versus Mondays", the de-seasonalized
    * alerting read that a flat [[zscore]] band false-alarms on every
    * weekend dip ([[AggBuilder.buildSeasonal]] shows the weekday
    * profile; this scores residuals against it). Daily totals are
    * exact DECIMAL sums (order-independent), the per-(series, weekday)
    * μ/σ ride the same Σt/Σt² window chain as [[zscore]] — ONE shuffle
    * on (grp, dow) serves the stats and the per-day enrichment, every
    * post-sum step the identical IEEE chain on both engines, `+ 0.0`
    * canonicalizing signed zero, σ = 0 ⇒ NULL. The window partition is
    * one series × one weekday's DAY COUNT (range/7 rows — bounded by
    * calendar time, not data volume).
    */
  def seasonalZscore(metric: String, groupBy: String,
                     filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{functions => F}
    val dayNs = Duration.days(1)
    val grpCol = tagCol(groupBy)
    val daily = scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"), expr(s"ts div ${dayNs}L").as("day_idx"))
      .agg(F.sum(col("value").cast("decimal(28,6)")).as("t0"))
      .select(col("grp"), col("day_idx"),
        ((col("day_idx") + lit(4L)) % lit(7L)).as("dow"),
        col("t0").cast("decimal(18,6)").as("t"))
    val w = Window.partitionBy(col("grp"), col("dow"))
    val s = F.sum(col("t")).over(w).cast("double")
    val sq = F.sum(col("t") * col("t")).over(w).cast("double")
    val cnt = F.count(lit(1)).over(w)
    val sigma = sqrt(greatest((sq - (s * s) / cnt) / cnt, lit(0.0)))
    daily.select(col("grp"),
      (col("day_idx") * lit(dayNs)).as("bucket_start"), col("dow"),
      col("t").cast("double").as("value"),
      when(sigma === 0.0, lit(null).cast("double"))
        .otherwise((col("t").cast("double") - s / cnt) / sigma + lit(0.0))
        .as("z"))
  }

  /** Per-series share of the bucket total — `v / Σ_series v`, the
    * "percent of total traffic" normalization every capacity dashboard
    * draws (PromQL `x / ignoring(instance) group_left sum(x)`). Both
    * the per-series bucket totals and the cross-series denominator are
    * exact DECIMAL sums (order-independent); ONE IEEE division at the
    * end. One shuffle on (grp, bucket) for the aggregate; the
    * denominator window repartitions to the BUCKET grain, whose
    * partition is one bucket's series rows — bounded by series
    * cardinality, not point volume. Zero-total buckets (all-zero
    * values) yield NULL share, not a division blow-up.
    */
  def share(metric: String, groupBy: String,
            widthNs: Long = Duration.days(1),
            filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{functions => F}
    val grpCol = tagCol(groupBy)
    val daily = scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(F.sum(col("value").cast("decimal(28,6)")).as("t"))
    val w = Window.partitionBy(col("bucket_start"))
    val total = F.sum(col("t")).over(w).cast("double")
    daily.select(col("grp"), col("bucket_start"),
      col("t").cast("double").as("value"),
      when(total === 0.0, lit(null).cast("double"))
        .otherwise(col("t").cast("double") / total + lit(0.0)).as("share"))
  }

  /** Threshold-alert lifecycle per series — Prometheus/Alertmanager
    * `for:` semantics over bucket totals: a series whose total breaches
    * `threshold` enters PENDING, and FIRES once the breach has held for
    * `forBuckets` CONSECUTIVE buckets (a missing bucket — no data — or
    * a non-breaching one resets the clock). One row per breaching
    * bucket with its run position and state; non-breaching buckets
    * emit nothing (the alert stream is sparse by design).
    *
    * The run segmentation is the integer gaps-and-islands identity
    * (`day_idx − row_number()` is constant exactly on consecutive-index
    * runs); both windows partition by series (and run), so the
    * partition bound is one series' breaching buckets —
    * calendar-bounded. Totals are exact DECIMAL sums; the breach
    * compare is one double comparison per bucket, bit-deterministic on
    * both engines.
    */
  def alerts(metric: String, groupBy: String, threshold: Double,
             forBuckets: Int = 3,
             widthNs: Long = Duration.days(1),
             filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{functions => F}
    val grpCol = tagCol(groupBy)
    val daily = scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"), expr(s"ts div ${widthNs}L").as("day_idx"))
      .agg(F.sum(col("value").cast("decimal(28,6)")).as("t"))
      .select(col("grp"), col("day_idx"), col("t").cast("double").as("value"))
    val breaches = daily.where(col("value") > threshold)
    val wSeries = Window.partitionBy(col("grp")).orderBy(col("day_idx"))
    val withRun = breaches
      .withColumn("rk", col("day_idx") - row_number().over(wSeries))
    val wRun = Window.partitionBy(col("grp"), col("rk"))
      .orderBy(col("day_idx"))
    withRun
      .withColumn("run_len", row_number().over(wRun))
      .select(col("grp"), (col("day_idx") * lit(widthNs)).as("bucket_start"),
        col("value"), col("run_len").cast("long").as("run_len"),
        when(col("run_len") >= forBuckets, lit("firing"))
          .otherwise(lit("pending")).as("state"))
  }

  /** SLO error-budget remaining per (series, 28-day window) — the
    * cumulative month view next to [[AggBuilder.buildBurnRate]]'s
    * instantaneous dual-window alert: with a `slo` availability target,
    * the window's budget is `(1−slo)·n` bad events, and what remains is
    * `(n − n_bad/(1−slo)) / n` — negative when blown. For slo = 0.99
    * this is the single exact division `(n − 100·n_bad)/n`: integer
    * counts from ONE map-side-combined aggregate, one IEEE division
    * per row, engine-exact with no rounding. `bad: value > threshold`
    * (the latency-proxy convention of [[apdex]]).
    */
  def errorBudget(metric: String, groupBy: String, threshold: Double,
                  sloInverse: Long = 100L,
                  widthNs: Long = 28L * Duration.days(1),
                  filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val grpCol = tagCol(groupBy)
    scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("window_start"))
      .agg(F.count(lit(1)).as("n"),
        F.sum(when(col("value") > threshold, 1L).otherwise(0L)).as("n_bad"))
      .select(col("grp"), col("window_start"), col("n"), col("n_bad"),
        ((col("n") - lit(sloInverse) * col("n_bad")).cast("double")
          / col("n").cast("double")).as("budget_remaining"))
  }

  /** FLEET z-score — each series' bucket total scored against the
    * cross-series distribution of the SAME bucket: "which host is the
    * outlier this hour", the fleet-dimension complement of [[zscore]]
    * (outlier points within a series) and [[seasonalZscore]] (outlier
    * days within a weekday). Identical exactness recipe: DECIMAL
    * bucket totals, the Σt/Σt² window chain — partitioned by BUCKET,
    * whose window partition is one bucket's series rows
    * (cardinality-bounded, not volume-bounded) — identical IEEE steps
    * post-sums, `+ 0.0`, σ = 0 ⇒ NULL (a one-series fleet scores
    * nothing).
    */
  def fleetZscore(metric: String, groupBy: String,
                  widthNs: Long = Duration.days(1),
                  filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{functions => F}
    val grpCol = tagCol(groupBy)
    val daily = scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(F.sum(col("value").cast("decimal(28,6)")).as("t0"))
      .select(col("grp"), col("bucket_start"),
        col("t0").cast("decimal(18,6)").as("t"))
    val w = Window.partitionBy(col("bucket_start"))
    val s = F.sum(col("t")).over(w).cast("double")
    val sq = F.sum(col("t") * col("t")).over(w).cast("double")
    val cnt = F.count(lit(1)).over(w)
    val sigma = sqrt(greatest((sq - (s * s) / cnt) / cnt, lit(0.0)))
    daily.select(col("grp"), col("bucket_start"),
      col("t").cast("double").as("value"),
      when(sigma === 0.0, lit(null).cast("double"))
        .otherwise((col("t").cast("double") - s / cnt) / sigma + lit(0.0))
        .as("z"))
  }

  /** Apdex score per (series, bucket) — the SRE satisfaction index
    * over a latency-like metric: `(satisfied + tolerating/2) / total`
    * with `satisfied: v ≤ T`, `tolerating: T < v ≤ 4T` (the standard
    * Apdex_T definition). Computed as `(2·n_sat + n_tol) / (2·n)` —
    * exact BIGINT counts from one map-side-combined aggregate, ONE
    * IEEE division per row (the rate recipe), so the score is
    * engine-exact. Boundary points sit on ROUNDED comparisons-free
    * raw doubles — `v ≤ T` is bit-deterministic on both engines.
    */
  def apdex(metric: String, groupBy: String, threshold: Double,
            widthNs: Long = Duration.days(1),
            filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val grpCol = tagCol(groupBy)
    val sat = when(col("value") <= threshold, 1L).otherwise(0L)
    val tol = when(col("value") > threshold &&
      col("value") <= 4 * threshold, 1L).otherwise(0L)
    scan(metric, filterExpr)
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(F.count(lit(1)).as("n"), F.sum(sat).as("n_sat"),
        F.sum(tol).as("n_tol"))
      .select(col("grp"), col("bucket_start"), col("n"), col("n_sat"),
        col("n_tol"),
        ((lit(2L) * col("n_sat") + col("n_tol")).cast("double")
          / (lit(2L) * col("n")).cast("double")).as("apdex"))
  }

  def ewma(metric: String, alpha: Double = 0.3,
           filterExpr: String = "*",
           maxPointsPerSeries: Long = 10000000L): DataFrame = {
    graft.expressions.GraftFunctions.register(frame.sparkSession)
    val tags = tagColumns.map(col)
    scan(metric, filterExpr)
      .groupBy(col("metric") +: tags: _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("npts"),
        sort_array(collect_list(struct(col("ts"), col("value")))).as("pts"))
      // in-plan guard (gapfill's posture, Db.buildGapFilled): a series
      // past the cap fails with its identity and size in the message
      // instead of silently OOMing an executor in the fold/explode below
      .withColumn("pts", when(col("npts") <= maxPointsPerSeries, col("pts"))
        .otherwise(raise_error(concat(
          lit(s"ewma series exceeds $maxPointsPerSeries points for metric '"),
          col("metric"), lit("' ("), col("npts").cast("string"),
          lit(" points); narrow the filter or raise maxPointsPerSeries")))))
      .drop("npts")
      .withColumn("sm", call_function("graft_ewma", col("pts"), lit(alpha)))
      .select(col("metric") +: tags :+
        posexplode(arrays_zip(col("pts"), col("sm"))).as(Seq("i", "z")): _*)
      .select(col("metric") +: tags :+ col("z.pts.ts").as("ts") :+
        col("z.pts.value").as("value") :+ col("z.sm").as("ewma"): _*)
  }

  /** One-step-ahead EWMA BACKTEST — the forecast-quality read that
    * justifies (or indicts) a smoothing alpha before anyone alerts on
    * it: per series, predict each point with the smoothed value as of
    * the PREVIOUS point and report the mean absolute error. Rides
    * [[ewma]]'s bit-stable fold (one more window pass on the same
    * partitioning); each |error| rounds at 6 and sums as exact DECIMAL
    * (an IEEE running mean would be partition-order-dependent), ONE
    * division per series. Output rows = series count.
    */
  def ewmaBacktest(metric: String, alpha: Double = 0.3,
                   filterExpr: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{functions => F}
    val tags = tagColumns.map(col)
    val w = Window.partitionBy(tags: _*).orderBy(col("ts"), col("value"))
    ewma(metric, alpha, filterExpr)
      .withColumn("pred", lag(col("ewma"), 1).over(w))
      .where(col("pred").isNotNull)
      .groupBy(tags: _*)
      .agg(F.count(lit(1)).as("n_preds"),
        (F.sum(round(abs(col("value") - col("pred")), 6)
          .cast("decimal(28,6)")).cast("double")
          / F.count(lit(1))).as("mae"))
  }

  /** Per-point Holt double exponential smoothing (level + trend) of
    * every series — trend-aware EWMA, the PromQL-`holt_winters`-class
    * smoother for series that drift (EWMA lags a trending series by
    * construction; Holt's trend term closes the lag). Identical shape
    * and scale posture to [[ewma]]: one shuffle on the series key, one
    * codegen'd `graft_holt` fold kernel per series, the same in-plan
    * point-cap guard. ZERO-trend initialization (`b_0 = 0`; PromQL
    * seeds from the first delta — both published variants) is pinned
    * so the oracle can run the identical fold with a type-stable
    * {level, trend} struct accumulator; see [[graft.expressions
    * .NativeKernels.holt]] for the bit-stability contract.
    */
  def holt(metric: String, alpha: Double = 0.3, beta: Double = 0.1,
           filterExpr: String = "*",
           maxPointsPerSeries: Long = 10000000L): DataFrame = {
    graft.expressions.GraftFunctions.register(frame.sparkSession)
    val tags = tagColumns.map(col)
    scan(metric, filterExpr)
      .groupBy(col("metric") +: tags: _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("npts"),
        sort_array(collect_list(struct(col("ts"), col("value")))).as("pts"))
      .withColumn("pts", when(col("npts") <= maxPointsPerSeries, col("pts"))
        .otherwise(raise_error(concat(
          lit(s"holt series exceeds $maxPointsPerSeries points for metric '"),
          col("metric"), lit("' ("), col("npts").cast("string"),
          lit(" points); narrow the filter or raise maxPointsPerSeries")))))
      .drop("npts")
      .withColumn("sm",
        call_function("graft_holt", col("pts"), lit(alpha), lit(beta)))
      .select(col("metric") +: tags :+
        posexplode(arrays_zip(col("pts"), col("sm"))).as(Seq("i", "z")): _*)
      .select(col("metric") +: tags :+ col("z.pts.ts").as("ts") :+
        col("z.pts.value").as("value") :+ col("z.sm").as("holt"): _*)
  }

  /** Additive Holt-Winters (level + trend + SEASONAL) over the exact
    * bucketed totals — the textbook triple smoother [[holt]] lacks a
    * seasonal term for (Winters 1960): first the one-exchange
    * exact-decimal bucket SUM per (group, `widthNs`) — regular by
    * construction, which is what makes an index-periodic seasonal
    * meaningful — then the `graft_holtwinters` fold per group with
    * period-`period` zero-init seasonal slots (absent buckets are
    * skipped, consuming a slot only when a bucket exists; gapfill
    * first if strict calendar periodicity matters). Per-group state is
    * the bucket array (bounded by the in-plan guard), the emitted fit
    * is `s + c_prev`. Scale shape = [[holt]]: one point-volume
    * exchange into buckets, one group-sized fold, output ∝ groups ×
    * buckets.
    */
  def holtWinters(metric: String, groupBy: String, widthNs: Long,
                  alpha: Double = 0.3, beta: Double = 0.1,
                  gamma: Double = 0.2, period: Int = 7,
                  filterExpr: String = "*",
                  maxBucketsPerSeries: Long = 1000000L): DataFrame = {
    graft.expressions.GraftFunctions.register(frame.sparkSession)
    val buckets = AggBuilder(this, AggKind.Sum, Db.validated(metric), groupBy)
      .filter(filterExpr).granularity(widthNs).build()
    buckets.groupBy(col("grp"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("nb"),
        sort_array(collect_list(struct(col("bucket_start").as("ts"),
          col("value")))).as("pts"))
      .withColumn("pts", when(col("nb") <= maxBucketsPerSeries, col("pts"))
        .otherwise(raise_error(concat(
          lit(s"holtWinters series exceeds $maxBucketsPerSeries buckets for group '"),
          col("grp"), lit("' ("), col("nb").cast("string"),
          lit(" buckets); widen granularity or raise maxBucketsPerSeries")))))
      .drop("nb")
      .withColumn("hw", call_function("graft_holtwinters", col("pts"),
        lit(alpha), lit(beta), lit(gamma), lit(period)))
      .select(col("grp"),
        posexplode(arrays_zip(col("pts"), col("hw"))).as(Seq("i", "z")))
      .select(col("grp"), col("z.pts.ts").as("bucket_start"),
        col("z.pts.value").as("value"), col("z.hw").as("hw"))
  }

  /** As-of alignment of two metrics: for every point of `leftMetric`,
    * the latest `rightMetric` value (and its timestamp) at `ts' <= ts`
    * within the same `on` tag — the standard "join the most recent
    * reading" primitive metric stores bolt on.
    *
    * Spark-first shape: NO join. Both streams are unioned with a kind
    * marker (right rows sort before left rows at equal ts, so `<=`
    * semantics hold), then one window pass carries the last non-null
    * right value forward. A single shuffle on the `on` tag; an as-of
    * implemented as a range join would shuffle both sides AND explode
    * matching ranges. Right rows are pre-merged to one per (tag, ts)
    * (max value) so ties at identical timestamps are deterministic in
    * any engine.
    */
  def asofAlign(leftMetric: String, rightMetric: String,
                on: String = "user"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = tagCol(on).as("grp")
    val l = frame.where(col("metric") === lit(Db.validated(leftMetric)))
      .select(key, col("ts"), lit(1).as("kind"),
        col("value").as("value"), lit(null).cast("double").as("rv"))
      .where(col("grp").isNotNull)
    val r = frame.where(col("metric") === lit(Db.validated(rightMetric)))
      .groupBy(key, col("ts"))
      .agg(org.apache.spark.sql.functions.max(col("value")).as("rv"))
      .select(col("grp"), col("ts"), lit(0).as("kind"),
        lit(null).cast("double").as("value"), col("rv"))
    val w = Window.partitionBy(col("grp")).orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof_value", last(col("rv"), ignoreNulls = true).over(w))
      .withColumn("asof_ts",
        last(when(col("rv").isNotNull, col("ts")), ignoreNulls = true).over(w))
      .where(col("kind") === 1)
      .select(col("grp"), col("ts"), col("value"),
        col("asof_value"), col("asof_ts"))
  }

  /** Shared shape of [[resets]]/[[changes]]: per-series consecutive
    * pairs ((ts, value) order, strict Δt>0 like [[rate]]/[[increase]]),
    * a boolean event predicate on (prev_value, value), counted per
    * (series × `widthNs` bucket of the LATER point). One shuffle on the
    * series key, codegen'd lag, integer output — bit-stable by
    * construction (no float arithmetic survives to the result).
    */
  private def pairEventCount(metric: String, widthNs: Long,
                             filterExpr: String, outCol: String,
                             pred: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(tagColumns.map(col): _*)
      .orderBy(col("ts"), col("value"))
    scan(metric, filterExpr)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .where(col("prev_ts").isNotNull && col("prev_ts") < col("ts"))
      .groupBy(col("metric") +: tagColumns.map(col) :+
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"): _*)
      .agg(
        org.apache.spark.sql.functions.sum(
          when(pred(col("prev_value"), col("value")), 1L).otherwise(0L)).as(outCol),
        org.apache.spark.sql.functions.count(lit(1)).as("n_pairs"))
  }

  /** Counter resets per (series × bucket): how often the value DROPPED
    * between consecutive points — PromQL `resets()`. The monitoring
    * read of [[increase]]'s clamp: increase hides resets, this counts
    * them (a restarting process shows up as a nonzero resets line).
    */
  def resets(metric: String, widthNs: Long,
             filterExpr: String = "*"): DataFrame =
    pairEventCount(metric, widthNs, filterExpr, "resets", (p, v) => v < p)

  /** Value changes per (series × bucket): consecutive pairs whose value
    * differs — PromQL `changes()`, the flap/churn detector for
    * gauge-like series.
    */
  def changes(metric: String, widthNs: Long,
              filterExpr: String = "*"): DataFrame =
    pairEventCount(metric, widthNs, filterExpr, "changes",
      (p, v) => org.apache.spark.sql.functions.not(v <=> p))

  /** Per-(series × bucket) least-squares slope in value/second — PromQL
    * `deriv()`: the trend line a single [[rate]] pair can't give (rate
    * is point-to-point; deriv regresses over EVERY point in the
    * bucket). One hash aggregate with map-side combine — no window, no
    * self-join; state per group is five sums.
    *
    * Bit-stability recipe ([[AggKind.Stddev]]'s): all five sums are
    * EXACT decimals — t = NANOSECONDS into the bucket as decimal(14,0)
    * (widthNs-bounded, so no division anywhere on the decimal side),
    * value as decimal(18,6), their products within the 38-digit cap —
    * so partial-merge order cannot change them; the closed-form slope
    * (in value/ns, scaled to /s by one final float multiply) is then
    * one identical IEEE chain over exact inputs on any engine.
    * Single-point buckets (denominator 0) yield NULL.
    */
  /** The five exact-decimal regression sums per (series × bucket) —
    * [[deriv]] and [[predictLinear]]'s shared aggregate (one hash
    * aggregate, map-side combine; see deriv's bit-stability note).
    */
  private def regSums(metric: String, widthNs: Long,
                      filterExpr: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    require(widthNs <= 99999999999999L,
      "regression bucket width must fit decimal(14,0) nanoseconds (~27 hours)")
    val t = (col("ts") - expr(s"ts div ${widthNs}L") * lit(widthNs))
      .cast("decimal(14,0)")
    val v = col("value").cast("decimal(18,6)")
    scan(metric, filterExpr)
      .groupBy(col("metric") +: tagColumns.map(col) :+
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"): _*)
      .agg(F.count(lit(1)).as("n"),
        F.sum(t).cast("double").as("st"),
        F.sum(t * t).cast("double").as("stt"),
        F.sum(v).cast("double").as("sv"),
        F.sum(t * v).cast("double").as("stv"))
  }

  /** NULL-when-degenerate least-squares slope in value/NANOSECOND from
    * the [[regSums]] columns; the one shared float chain.
    */
  private def slopePerNs: Column =
    when(col("n") * col("stt") - col("st") * col("st") === 0.0,
      lit(null).cast("double"))
      .otherwise((col("n") * col("stv") - col("st") * col("sv"))
        / (col("n") * col("stt") - col("st") * col("st")))

  def deriv(metric: String, widthNs: Long,
            filterExpr: String = "*"): DataFrame =
    regSums(metric, widthNs, filterExpr)
      .withColumn("slope_per_s", slopePerNs * lit(1e9) + lit(0.0))
      .drop("st", "stt", "sv", "stv")

  /** Per-(series × bucket) linear forecast — PromQL `predict_linear()`:
    * the value the bucket's least-squares line reaches `aheadNs` after
    * the bucket END (capacity-planning's "disk full in 4 hours?"
    * primitive). Same ONE-aggregate shape and exact-sum inputs as
    * [[deriv]]; intercept `(Σv − m·Σt)/n` and extrapolation
    * `b + m·(width + ahead)` are one identical IEEE chain on both
    * engines (`+ 0.0` canonicalizes the signed zero). Degenerate
    * (single-point) buckets → NULL.
    */
  def predictLinear(metric: String, widthNs: Long, aheadNs: Long,
                    filterExpr: String = "*"): DataFrame = {
    val m = slopePerNs
    val b = (col("sv") - m * col("st")) / col("n")
    regSums(metric, widthNs, filterExpr)
      .withColumn("predicted",
        b + m * lit((widthNs + aheadNs).toDouble) + lit(0.0))
      .drop("st", "stt", "sv", "stv")
  }

  /** The shared alignment frame of the cross-metric operators
    * ([[corrAligned]], [[ratioAligned]]): per (group × bucket), both
    * metrics' bucket SUMS side by side from ONE scan of
    * `metric IN (a, b)` — conditional aggregates, no self-join/pivot,
    * one point-volume shuffle. Buckets missing either side are dropped
    * (the PromQL vector-matching semantics). Sums, not averages: every
    * input stays an exact decimal end-to-end.
    */
  private def alignedBucketSums(metricA: String, metricB: String,
                                groupBy: String, widthNs: Long): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val a = Db.validated(metricA); val b = Db.validated(metricB)
    val grpCol = tagCol(groupBy)
    val dec = col("value").cast("decimal(28,6)")
    def sumOf(m: String) =
      F.sum(when(col("metric") === lit(m), dec)).cast("decimal(18,6)")
    frame
      .where(col("metric") === lit(a) || col("metric") === lit(b))
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(sumOf(a).as("x"), sumOf(b).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
  }

  /** Multi-window SLO burn rate — the Google SRE-workbook alerting
    * surface: per (group, bucket), the error-budget burn
    * `(errors/total) / (1 − slo)` over the bucket itself (the SHORT
    * window — catches fast burns) and over the trailing `longBuckets`
    * frame (the LONG window — rides out blips), alarming only when
    * BOTH exceed 1 — the dual-window condition that kills the
    * false-page/slow-page trade every single-window alert forces.
    * The reference has no SLO layer; this composes its counter
    * surface the way [[ratioAligned]] composes its binary-op surface.
    *
    * Scale shape: ONE scan (`metric IN (err, total)`), ONE
    * (group, bucket) shuffle computing both counts as conditional
    * aggregates side by side, then one ROWS-frame window pass on the
    * bucket-grain frame (the [[AggBuilder.buildTrailing]] posture —
    * missing buckets compress the frame, documented). Counts and
    * trailing sums are pure integers; each burn is exact ints →
    * two IEEE divisions — bit-identical on any engine; a zero
    * denominator yields NULL burn (no SLI exists) and never alarms,
    * the [[zscore]] σ=0 contract.
    */
  def burnRate(errMetric: String, totalMetric: String, groupBy: String,
               widthNs: Long, slo: Double = 0.9,
               longBuckets: Int = 3): DataFrame = {
    require(slo > 0 && slo < 1, s"slo must be in (0,1), got $slo")
    require(longBuckets >= 1, "longBuckets must be >= 1")
    import org.apache.spark.sql.{functions => F}
    val e = Db.validated(errMetric); val t = Db.validated(totalMetric)
    val grpCol = tagCol(groupBy)
    def cnt(m: String) =
      F.sum(when(col("metric") === lit(m), lit(1L)).otherwise(lit(0L)))
    val base = frame
      .where(col("metric") === lit(e) || col("metric") === lit(t))
      .where(grpCol.isNotNull)
      .groupBy(grpCol.as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"))
      .agg(cnt(e).as("n_err"), cnt(t).as("n_tot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(-(longBuckets - 1).toLong,
        org.apache.spark.sql.expressions.Window.currentRow)
    def burn(err: Column, tot: Column): Column =
      when(tot === lit(0L), lit(null).cast("double"))
        .otherwise((err.cast("double") / tot.cast("double"))
          / (lit(1.0) - lit(slo)))
    base
      .withColumn("err_l", F.sum(col("n_err")).over(w))
      .withColumn("tot_l", F.sum(col("n_tot")).over(w))
      .withColumn("burn_short", burn(col("n_err"), col("n_tot")))
      .withColumn("burn_long", burn(col("err_l"), col("tot_l")))
      .select(col("grp"), col("bucket_start"), col("n_err"), col("n_tot"),
        col("burn_short"), col("burn_long"),
        coalesce(col("burn_short") > lit(1.0) && col("burn_long") > lit(1.0),
          lit(false)).as("alarm"))
  }

  /** Cross-metric per-bucket RATIO — the PromQL binary-operator
    * surface (`a / b` with `on(group)` vector matching): error rate =
    * errors ÷ requests per host, cache hit ratio, conversion rate.
    * One scan, one shuffle ([[alignedBucketSums]]); the ratio is a
    * single RAW IEEE division over the two exact decimal bucket sums
    * with `+ 0.0` signed-zero canonicalization (the [[rate]] recipe —
    * identical op chain on any engine), and a zero denominator yields
    * NULL (no ratio exists), like [[zscore]]'s σ = 0 contract.
    */
  def ratioAligned(metricA: String, metricB: String, groupBy: String,
                   widthNs: Long): DataFrame =
    alignedBucketSums(metricA, metricB, groupBy, widthNs)
      .select(col("grp"), col("bucket_start"),
        when(col("y") === lit(0).cast("decimal(18,6)"),
          lit(null).cast("double"))
          .otherwise((col("x").cast("double") / col("y").cast("double"))
            + lit(0.0)).as("ratio"))

  /** Pearson correlation between two metrics per `groupBy` tag, across
    * their aligned per-bucket TOTALS — "do click totals move with
    * purchase totals, per user?". ONE scan (metric IN (a, b)) and ONE
    * shuffle: the (group, bucket) aggregate computes both sums as
    * conditional aggregates side by side (no self-join, no pivot
    * exchange), then a second tiny aggregate (rows = groups × buckets,
    * never points) folds the correlation. Buckets carrying only one of
    * the two metrics are skipped (alignment is inner, like any paired
    * correlation).
    *
    * Bucket sums (not averages) are the aligned signal deliberately:
    * they stay EXACT decimals end-to-end (a rounded-double average
    * cast back to decimal re-enters the engine-divergent half-boundary
    * minefield the ts_rate fix removed), so every correlation input is
    * partition-order-independent — same recipe as [[deriv]]; |r| is
    * capped at 1 against last-bit float drift, zero-variance groups
    * yield NULL.
    */
  def corrAligned(metricA: String, metricB: String, groupBy: String,
                  widthNs: Long): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val pairs = alignedBucketSums(metricA, metricB, groupBy, widthNs)
    val x = col("x"); val y = col("y")
    val stats = pairs.groupBy(col("grp"))
      .agg(F.count(lit(1)).as("n"),
        F.sum(x).cast("double").as("sx"),
        F.sum(y).cast("double").as("sy"),
        F.sum(x * x).cast("double").as("sxx"),
        F.sum(y * y).cast("double").as("syy"),
        F.sum(x * y).cast("double").as("sxy"))
    val varx = stats("n") * col("sxx") - col("sx") * col("sx")
    val vary = stats("n") * col("syy") - col("sy") * col("sy")
    stats
      .withColumn("r",
        when(varx <= 0.0 || vary <= 0.0, lit(null).cast("double"))
          .otherwise(least(greatest(
            (col("n") * col("sxy") - col("sx") * col("sy"))
              / (sqrt(varx) * sqrt(vary)) + lit(0.0),
            lit(-1.0)), lit(1.0))))
      .drop("sx", "sy", "sxx", "syy", "sxy")
  }

  // ------------------------------------------------------- introspection
  // The reference enumerates a metric's tag keys/values and series via
  // its TagIndex/TagSets partitions (talna `src/tag_index.rs`,
  // `src/tag_sets.rs`). In Spark these are distinct scans — cheap,
  // pushdown-pruned by the metric predicate.

  /** Distinct metric names in the database. */
  def metrics: DataFrame = frame.select(col("metric")).distinct()

  /** Distinct series (metric × full tagset) of a metric. */
  def series(metric: String): DataFrame =
    frame.where(col("metric") === lit(Db.validated(metric)))
      .select((col("metric") +: tagColumns.map(col)): _*)
      .distinct()

  /** Distinct values of one tag key for a metric — the reference
    * TagIndex's value enumeration (src/tag_index.rs): what a query
    * builder's value dropdown lists. One column-pruned scan + a
    * vocabulary-sized distinct; NULL tags are "key absent", not a
    * value.
    */
  def tagValues(metric: String, key: String): DataFrame =
    frame.where(col("metric") === lit(Db.validated(metric)))
      .select(tagCol(key).as("value"))
      .where(col("value").isNotNull)
      .distinct()

  /** Per-tag-key live cardinality for a metric — the introspection
    * read behind every "which label is exploding my series count"
    * dashboard (the TSDB operational question at 100 TB: cardinality,
    * not volume, is what kills a metrics store). One exact
    * count-distinct per tag key folded into a single aggregate over
    * one metric-pruned scan (the tag columns are independent
    * count_distincts in ONE hash aggregate — no per-key jobs, no
    * union of scans); output rows = tag keys, vocabulary-sized.
    */
  def tagCardinality(metric: String): DataFrame = {
    val tags = tagColumns
    require(tags.nonEmpty, "frame has no tag columns")
    import org.apache.spark.sql.functions.{countDistinct, count => cnt}
    val m = frame.where(col("metric") === lit(Db.validated(metric)))
    val agged = m.agg(
      countDistinct(col(tags.head)).as(tags.head),
      tags.tail.flatMap(t => Seq(countDistinct(col(t)).as(t))) ++
        tags.map(t => cnt(col(t)).as(s"__n_$t")): _*)
    val perKey = tags.map(t =>
      struct(lit(t.stripPrefix(TagPrefix)).as("tag_key"),
        col(t).as("n_values"), col(s"__n_$t").as("n_points")))
    agged.select(explode(array(perKey: _*)).as("r"))
      .select(col("r.tag_key"), col("r.n_values"), col("r.n_points"))
  }

  /** Tag keys that occur (non-null) on at least one point of a metric. */
  def tagKeys(metric: String): Seq[String] = {
    val tags = tagColumns
    if (tags.isEmpty) return Seq.empty
    import org.apache.spark.sql.functions.{count => cnt}
    val cnts = frame.where(col("metric") === lit(Db.validated(metric)))
      .agg(cnt(col(tags.head)).as(tags.head),
        tags.tail.map(t => cnt(col(t)).as(t)): _*)
      .collect()(0)
    tags.filter(t => cnts.getAs[Long](t) > 0).map(_.stripPrefix(TagPrefix))
  }
}

object Db {
  val TagPrefix = "tag_"

  /** Open a graft on-disk layout (written by [[Ingest.write]]) — the
    * analog of `Database::builder().open(path)` (talna
    * `src/db_builder.rs`): the storage-engine knobs (LSM cache sizes,
    * keyspaces) have no Spark counterpart, so opening is just binding
    * the layout path: one listing and one parquet footer read on the
    * driver, no Spark job.
    */
  def open(spark: SparkSession, path: String): Db = Ingest.open(spark, path)

  private[tsdb] def validated(metric: String): String = MetricName(metric).name

  /** Route an aggregate's filtered input by its size: `df.coalesce(1)`
    * when every leaf of its physical plan is a file scan and the files
    * those scans select after partition pruning total at most
    * `spark.sql.files.openCostInBytes` (Spark's estimate of the bytes
    * one file open costs), else `df` unchanged. A single-partition child
    * satisfies any aggregate's or window's required distribution, so a
    * small query plans no exchange and runs as one job with one task
    * instead of an AQE shuffle stage plus a result stage. The statistic
    * comes from the file index listed at open and costs driver-side
    * planning only, no job. Large inputs and in-memory, RDD or cached
    * frames keep the shuffle route.
    */
  private[tsdb] def smallInputRoute(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val leaves = qe.sparkPlan.collectLeaves()
    val scans = leaves.collect { case s: FileSourceScanExec => s }
    val small = scans.nonEmpty && scans.size == leaves.size &&
      scans.map(_.selectedPartitions.totalFileSize).sum <=
        qe.sparkSession.sessionState.conf.filesOpenCostInBytes
    if (small) df.coalesce(1) else df
  }

  /** Canonical series frame from the driver's `events` table:
    * metric = event_type, ts = ns epoch, value = value,
    * tags = { user = user_id } ∪ { k = props.k | k ∈ propsTags }.
    *
    * A props key absent from a row yields a NULL tag (not an empty
    * string), so group-bys skip those points — parity with the
    * reference, which drops series lacking the group tag
    * (`src/agg/builder.rs:121`).
    */
  def fromEvents(spark: SparkSession, sfDir: String,
                 propsTags: Seq[String] = Seq("k")): Db =
    new Db(canonicalEvents(FooterSchema.read(spark, s"$sfDir/events.parquet"),
      propsTags))

  /** The canonical series frame of an `events` frame, batch or
    * streaming: the mapping [[fromEvents]] documents, shared with the
    * streaming landings so a streamed layout and a batch-written one
    * are interchangeable.
    */
  private[graft] def canonicalEvents(events: DataFrame,
                                     propsTags: Seq[String]): DataFrame =
    events.select(Seq(
        col("event_type").as("metric"),
        tsNs(events.schema).as("ts"),
        col("value"),
        col("user_id").cast("string").as(TagPrefix + "user")) ++
      propsTags.map(k =>
        nullif(regexp_extract(col("props"), "\"" + k + "\":\\s*(\\d+)", 1), lit(""))
          .as(TagPrefix + k)): _*)

  /** ns-epoch long `ts` for an events frame, tolerant of both on-disk
    * encodings the driver has shipped: int64 nanoseconds (read as
    * BIGINT) and timestamp[µs] (read as TIMESTAMP_NTZ on Spark 4).
    * Both paths land on µs-truncated ns, so bucket math and oracles
    * (`epoch_ns(ts)` in DuckDB) agree bit-exactly. The NTZ→TIMESTAMP
    * cast is an identity on the stored micros because every graft
    * session pins `spark.sql.session.timeZone=UTC`.
    */
  private[graft] def tsNs(schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("ts div 1000L") * lit(1000L)
      case _ =>
        unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    }

  /** [[fromEvents]] with props tag keys discovered from a driver-side
    * sample of the `props` column — the open-tagset analog of the
    * reference's TagSets (any written key becomes queryable without
    * declaring it). Sampling is a bounded driver read; keys outside the
    * sample resolve to NULL columns (empty-result semantics) rather
    * than errors.
    */
  def fromEventsAuto(spark: SparkSession, sfDir: String, sampleRows: Int = 1024): Db = {
    val KeyRe = "\"([A-Za-z0-9_-]+)\"\\s*:".r
    val keys = FooterSchema.read(spark, s"$sfDir/events.parquet")
      .select(col("props")).where(col("props").isNotNull).limit(sampleRows)
      .collect()
      .flatMap(r => KeyRe.findAllMatchIn(r.getString(0)).map(_.group(1)))
      .distinct.sorted.toSeq
    fromEvents(spark, sfDir, keys)
  }
}

/** Fluent grouped-aggregation builder, parity with talna `src/agg/builder.rs`.
  *
  * Output schema: `grp string, bucket_start long, n long, value double`.
  * Bucketing is epoch-aligned tumbling: `bucket_start = (ts div width) *
  * width` — deterministic under parallel merge, unlike the reference's
  * scan-anchored buckets (`src/agg/stream.rs:73`) which are inherently
  * sequential. One hash-aggregate, on one of two routes picked by
  * [[Db.smallInputRoute]] from the total size of the files the scan
  * selects after partition pruning: at most
  * `spark.sql.files.openCostInBytes` (4 MB by default) reads the input
  * on one partition with no exchange, one job with one task; anything
  * larger, or an input that is not all file scans, takes a map-side
  * partial combine and a single shuffle on (group, bucket).
  *
  * Double aggregates are computed via exact DECIMAL sums then converted,
  * so results are bit-identical regardless of partitioning/merge order
  * (and identical to a DuckDB oracle running the same arithmetic).
  *
  * Relative bounds ([[startRelative]]/[[endRelative]]) mirror the
  * reference's `start_relative`/`end_relative`
  * (`src/agg/builder.rs:71-91`): resolved against the wall clock at
  * builder-call time, `now - window`. The clock is injectable for
  * deterministic tests via [[withClock]].
  */
final case class AggBuilder(
    db: Db,
    kind: AggKind,
    metric: String,
    groupBy: String,
    filterExpr: String = "*",
    minTs: Option[Long] = None,
    maxTs: Option[Long] = None,
    widthNs: Long = Duration.minutes(1),
    clock: () => Long = Time.timestamp _) {

  def filter(e: String): AggBuilder        = copy(filterExpr = e)
  def start(ns: Long): AggBuilder          = copy(minTs = Some(ns))
  def end(ns: Long): AggBuilder            = copy(maxTs = Some(ns))
  /** Lower bound `now - window`, like the reference's `start_relative`. */
  def startRelative(window: Long): AggBuilder = copy(minTs = Some(clock() - window))
  /** Upper bound `now - window`, like the reference's `end_relative`. */
  def endRelative(window: Long): AggBuilder   = copy(maxTs = Some(clock() - window))
  def granularity(ns: Long): AggBuilder    = copy(widthNs = ns)
  /** Inject a fixed clock (tests); production uses [[Time.timestamp]]. */
  def withClock(c: () => Long): AggBuilder = copy(clock = c)

  /** The aggregate value column for [[kind]] — shared by [[build]] and
    * [[buildWithMargin]] so every formulation runs the identical
    * exact-decimal op chain.
    */
  private def aggValueCol: Column = {
    val decSum = sum(col("value").cast("decimal(28,6)"))
    (kind match {
      case AggKind.Avg   => round(decSum.cast("double") / count(lit(1)), 6)
      case AggKind.Sum   => decSum.cast("double")
      case AggKind.Min   => min(col("value"))
      case AggKind.Max   => max(col("value"))
      case AggKind.Count => count(lit(1)).cast("double")
      // exact percentile (sort + linear interpolation at p·(n-1)), the
      // same definition DuckDB's quantile_cont computes; rounded because
      // the interpolation arithmetic is float, not decimal
      case AggKind.Quantile(q) => round(expr(s"percentile(value, ${q}d)"), 6)
      // GK sketch: bounded state per group, associative merge — the
      // scale path; emits a genuine data point, unrounded
      case AggKind.QuantileApprox(q, acc) =>
        expr(s"approx_percentile(value, ${q}d, $acc)")
      // σ_pop = sqrt((Σv² − (Σv)²/n) / n) with Σv, Σv² as exact decimals:
      // the only float ops are the final square/divide/sqrt over two
      // exact sums, so the value is identical under any partitioning
      // (and to an oracle running the same op chain). decimal(18,6)² =
      // decimal(37,12) stays within the 38-digit cap before summing.
      case AggKind.Stddev =>
        val sq = sum(col("value").cast("decimal(18,6)") *
          col("value").cast("decimal(18,6)")).cast("double")
        val s = decSum.cast("double")
        val cnt = count(lit(1))
        round(sqrt(greatest((sq - (s * s) / cnt) / cnt, lit(0.0))), 6)
    }).as("value")
  }

  /** The points every aggregate of this builder reads: the scan, minus
    * series lacking the group tag (the reference skips them,
    * agg/builder.rs:121), routed by [[Db.smallInputRoute]].
    */
  private def input: DataFrame =
    Db.smallInputRoute(db.scan(metric, filterExpr, minTs, maxTs)
      .where(db.tagCol(groupBy).isNotNull))

  def build(): DataFrame = {
    val bucketStart = (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start")
    input.groupBy(db.tagCol(groupBy).as("grp"), bucketStart)
      .agg(count(lit(1)).as("n"), aggValueCol)
  }

  /** The GK sketch's rank-error contract as an ORACLE-CHECKABLE frame:
    * per (group, bucket), a boolean asserting the [[AggKind
    * .QuantileApprox]] value lies within the exact DISCRETE rank band
    * `[v_⌊(q−m)·n⌋, v_⌈(q+m)·n⌉]` (sorted values, indices clamped to
    * [1, n]). A sketch emits a genuine data point, so cross-engine
    * bit-parity on the VALUE is structurally impossible — but both
    * engines agree on booleans, so the 1% rank-error band moves from a
    * spec-only assertion into the driver's hash gate (an oracle that
    * simply emits TRUE per group; any sketch regression flips a row).
    * Discrete indices, not interpolated percentiles: the sketch's
    * guarantee is about the RANK of the returned data point, and for
    * small groups an interpolated p94 can exceed every data point below
    * the target rank (n = 2, values {0, 100}: interpolated p94 = 94,
    * yet v₂ = 100 is the correct sketch answer). The band aggregate
    * buffers each group's values exactly like [[AggKind.Quantile]] —
    * this is a VALIDATION query; production serving stays on the
    * bounded-state sketch via [[build]].
    */
  def buildBandCheck(rankMargin: Double = 0.01): DataFrame = {
    val (q, acc) = kind match {
      case AggKind.QuantileApprox(qq, a) => (qq, a)
      case other => throw new IllegalArgumentException(
        s"buildBandCheck applies to QuantileApprox, not $other")
    }
    require(rankMargin > 0 && q - rankMargin > 0 && q + rankMargin < 1,
      "rank band must stay inside (0,1)")
    val bucketStart = (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start")
    input.groupBy(db.tagCol(groupBy).as("grp"), bucketStart)
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile(value, ${q}d, $acc)").as("approx"),
        array_sort(collect_list(col("value"))).as("vs"))
      .select(col("grp"), col("bucket_start"), col("n"),
        (col("approx") >= element_at(col("vs"),
          greatest(lit(1L), floor(lit(q - rankMargin) * col("n"))).cast("int")) &&
         col("approx") <= element_at(col("vs"),
          least(col("n"), ceil(lit(q + rankMargin) * col("n"))).cast("int")))
          .as("within_band"))
  }

  /** Day-of-week seasonal profile — the `day_wise` baseline a weekly
    * dashboard overlays: the same exact-decimal aggregate chain as
    * [[build]], keyed by (group, day-of-week) instead of (group,
    * bucket). `dow = ((ts div 1d) + 4) % 7` with 0 = Sunday (epoch day
    * 0 was a Thursday) — pure int64 arithmetic, identical on any
    * engine. Output is bounded at groups × 7 rows no matter the point
    * volume; one map-side-combined exchange (none on the small-input
    * route, see [[AggBuilder]]).
    */
  def buildSeasonal(): DataFrame = {
    val dayNs = Duration.days(1)
    val dow = ((expr(s"ts div ${dayNs}L") + lit(4L)) % lit(7L)).as("dow")
    input.groupBy(db.tagCol(groupBy).as("grp"), dow).agg(count(lit(1)).as("n"), aggValueCol)
  }

  /** Trailing `nBuckets`-bucket moving average over the aggregated
    * frame — the dashboard's "7-day trailing" smoothing line (the
    * bucket-level sibling of [[sma]]'s point window): one window pass
    * over the bounded groups × buckets frame, partitioned by group in
    * bucket order. The window sum rides DECIMAL(18,6) — a double
    * window sum would hit engine-divergent summation trees (DuckDB
    * runs sliding frames through a segment tree; Spark accumulates in
    * row order — double addition is not associative, decimals are);
    * the cast is exact because bucket values carry ≤ 6 fractional
    * digits and stay far below 2^53/10^6. Trailing counts OBSERVED
    * buckets (gaps are skipped); compose with [[buildGapFilled]]
    * upstream when strict calendar windows matter.
    */
  def buildTrailing(nBuckets: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val w = Window.partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(-(nBuckets - 1).toLong, Window.currentRow)
    build().withColumn("trailing",
      round(sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
        / count(lit(1)).over(w), 6))
  }

  /** Bollinger band breakouts: per (group, bucket), the TRAILING
    * `nBuckets` mean ± k·σ band and whether the bucket's value breaks
    * it — the rolling-window anomaly read between [[Db.zscore]] (whose
    * baseline is the bucket's own points) and [[buildCusum]] (which
    * accumulates): the band adapts to recent level shifts, so a
    * step-change stops alarming once the window absorbs it — the
    * "alert on change, not on the new normal" posture.
    *
    * Scale shape: ONE series shuffle, ONE window pass computing the
    * trailing Σv (decimal 28,6), Σv² (decimal 18,6 × 18,6 — exact) and
    * count side by side over the same ROWS frame (missing buckets
    * compress the frame, the [[buildTrailing]] contract). Decimal
    * window sums are exact AND associative, so a segment-tree windowed
    * aggregate bit-matches a running fold; the mean/σ chain is the
    * [[AggKind.Stddev]] round-6 recipe applied per frame, and the band
    * edges are a fixed 2-op IEEE chain on the rounded pair — identical
    * on any engine, so the breakout comparison can never flip. Early
    * buckets band against their partial frame (deterministic on both
    * sides); a zero-σ frame yields `lo = hi = mean` and strict
    * comparisons keep an exactly-on-band value quiet.
    */
  def buildBollinger(nBuckets: Int = 7, k: Double = 2.0): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(k > 0, "band multiplier must be > 0")
    import org.apache.spark.sql.{functions => F}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(-(nBuckets - 1).toLong,
        org.apache.spark.sql.expressions.Window.currentRow)
    val s = F.sum(col("value").cast("decimal(28,6)")).over(w).cast("double")
    val sq = F.sum(col("value").cast("decimal(18,6)") *
      col("value").cast("decimal(18,6)")).over(w).cast("double")
    val n = F.count(lit(1)).over(w)
    build()
      .withColumn("mean_t", round(s / n, 6))
      .withColumn("sigma_t",
        round(sqrt(greatest((sq - s * s / n) / n, lit(0.0))), 6))
      .withColumn("lo", col("mean_t") - lit(k) * col("sigma_t"))
      .withColumn("hi", col("mean_t") + lit(k) * col("sigma_t"))
      .withColumn("breakout", col("value") < col("lo") || col("value") > col("hi"))
  }

  /** Trailing rolling MEDIAN over each group's last `nBuckets` bucket
    * values — the robust smoother between [[buildTrailing]] (a mean, a
    * single spike drags it) and the bucket-local quantile builder
    * (which summarizes points WITHIN a bucket, not a trend ACROSS
    * buckets); the rolling median is what dashboards draw through
    * spiky series because one outlier bucket cannot move it at all.
    *
    * Scale shape: one series shuffle, one ROWS-frame window pass — the
    * exact-interpolated `percentile` evaluated per frame (frame size
    * capped at `nBuckets`, so per-row cost is a constant); the
    * round-6 recipe keeps cross-engine parity per frame exactly as
    * ts_quantile proves it per bucket. Missing buckets compress the
    * frame (the [[buildTrailing]] contract).
    */
  def buildRollingMedian(nBuckets: Int = 7): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(-(nBuckets - 1).toLong,
        org.apache.spark.sql.expressions.Window.currentRow)
    build().withColumn("rolling_median",
      round(expr("percentile(cast(value as double), 0.5d)").over(w), 6))
  }

  /** Tukey-fence outlier buckets: per group, the buckets whose
    * aggregate value falls outside [Q1 − k·IQR, Q3 + k·IQR] — the
    * boxplot/IQR anomaly read ("which days were abnormal for this
    * host"), [[Db.zscore]]'s distribution-free sibling: quartile
    * fences don't assume normality and a single spike can't drag its
    * own threshold the way it drags a mean and σ.
    *
    * Scale shape: quartiles are computed over the ALREADY-AGGREGATED
    * groups × buckets frame (bounded — days per group, never the raw
    * points), with the same exact-interpolated `percentile` + round-6
    * recipe the quantile builder uses (cross-engine parity proven by
    * ts_quantile); the group-vocabulary-sized fence frame broadcasts
    * back onto the aggregate, and the fence arithmetic is a fixed
    * 2-op IEEE chain (one multiply, one add/sub) on the rounded
    * quartiles — bit-identical on any engine, so the boundary
    * comparison can never flip between Spark and the oracle.
    */
  def buildOutliersIqr(k: Double = 1.5): DataFrame = {
    require(k > 0, "fence multiplier must be > 0")
    val agg = build()
    val fences = agg.groupBy(col("grp"))
      .agg(round(expr("percentile(value, 0.25d)"), 6).as("q1"),
        round(expr("percentile(value, 0.75d)"), 6).as("q3"))
      .select(col("grp").as("f_grp"), col("q1"), col("q3"),
        (col("q1") - lit(k) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(k) * (col("q3") - col("q1"))).as("hi"))
    agg.join(org.apache.spark.sql.functions.broadcast(fences),
        col("grp") === col("f_grp"))
      .where(col("value") < col("lo") || col("value") > col("hi"))
      .select(col("grp"), col("bucket_start"), col("value"),
        col("q1"), col("q3"), col("lo"), col("hi"))
  }

  /** Page's CUSUM drift detector over the bucketed aggregate — the
    * anomaly read for SMALL SUSTAINED shifts ("this host's error sum
    * has run a quarter-sigma hot for two weeks") that every point-wise
    * detector in this file ([[Db.zscore]], [[Db.mad]],
    * [[buildOutliersIqr]]) is blind to by construction: a per-bucket
    * threshold never accumulates evidence. Two-sided: `s⁺` tracks
    * upward drift vs target `μ + k·σ`, `s⁻` downward vs `μ − k·σ`;
    * `alarm` fires when either exceeds `h·σ` (k=½, h=4 — the textbook
    * CUSUM parameterization).
    *
    * The recursion `s_i = max(0, s_{i-1} + d_i)` is NOT a window
    * aggregate, but its closed form is: `s_i = P_i − min(0,
    * min_{j≤i} P_j)` (the running-drawdown identity, P = prefix sum of
    * d), so the whole operator is TWO stacked running-frame windows
    * over the already-aggregated groups × buckets frame — one series
    * shuffle total, no fold kernel, no per-series collect.
    *
    * Cross-engine exactness: every post-aggregate step is PURE INT64
    * in half-micro units (2·10⁻⁷ of a value unit). μ and σ ride the
    * [[AggKind.Stddev]] round-6 chain, so `μ·2e6`, `σ·1e6` and every
    * round-6 `value·2e6` are exact integers (recovered through an
    * exact decimal multiply, never a double multiply that could slip
    * an ulp); with k and h restricted to half-integers the thresholds,
    * prefix sums, running mins, drawdown subtractions and the alarm
    * comparison are all int64 — exact AND associative, so an engine
    * computing windowed aggregates via segment trees (DuckDB)
    * bit-matches Spark's left-to-right running fold, which a double
    * formulation could not guarantee, and decimal type-widening rules
    * (which differ between engines past scale 6) never engage.
    * Doubles appear only in the final display division.
    */
  def buildCusum(k: Double = 0.5, h: Double = 4.0): DataFrame = {
    val k2 = math.round(k * 2).toInt
    val h2 = math.round(h * 2).toInt
    require(k2 == k * 2 && k >= 0, s"cusum k must be a non-negative half-integer, got $k")
    require(h2 == h * 2 && h > 0, s"cusum h must be a positive half-integer, got $h")
    import org.apache.spark.sql.{functions => F}
    val agg = build()
    val sDec = F.sum(col("value").cast("decimal(28,6)")).cast("double")
    val sqDec = F.sum(col("value").cast("decimal(18,6)") *
      col("value").cast("decimal(18,6)")).cast("double")
    val cnt = F.count(lit(1))
    val stats = agg.groupBy(col("grp")).agg(
      round(sDec / cnt, 6).as("mu"),
      round(sqrt(greatest((sqDec - sDec * sDec / cnt) / cnt, lit(0.0))), 6)
        .as("sigma"))
    // exact int64 half-micros: mu2 = μ·2e6, sig1 = σ·1e6 — integers
    // because μ/σ carry exactly 6 decimals
    val th = stats.select(col("grp").as("t_grp"),
      expr("cast(cast(mu as decimal(28,6)) * 2000000 as bigint) + " +
        s"$k2 * cast(cast(sigma as decimal(28,6)) * 1000000 as bigint)")
        .as("th_hi2"),
      expr("cast(cast(mu as decimal(28,6)) * 2000000 as bigint) - " +
        s"$k2 * cast(cast(sigma as decimal(28,6)) * 1000000 as bigint)")
        .as("th_lo2"),
      expr(s"$h2 * cast(cast(sigma as decimal(28,6)) * 1000000 as bigint)")
        .as("alarm_h2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    agg.join(F.broadcast(th), col("grp") === col("t_grp"))
      .withColumn("v2",
        expr("cast(cast(value as decimal(28,6)) * 2000000 as bigint)"))
      .withColumn("p_hi", F.sum(col("v2") - col("th_hi2")).over(w))
      .withColumn("p_lo", F.sum(col("th_lo2") - col("v2")).over(w))
      .withColumn("s_hi2",
        col("p_hi") - least(lit(0L), F.min(col("p_hi")).over(w)))
      .withColumn("s_lo2",
        col("p_lo") - least(lit(0L), F.min(col("p_lo")).over(w)))
      .select(col("grp"), col("bucket_start"), col("value"),
        (col("s_hi2").cast("double") / lit(2000000.0)).as("s_hi"),
        (col("s_lo2").cast("double") / lit(2000000.0)).as("s_lo"),
        (col("s_hi2") > col("alarm_h2") || col("s_lo2") > col("alarm_h2"))
          .as("alarm"))
  }

  /** Week-over-week comparison — the PromQL `offset 1w` ratio line
    * every capacity dashboard overlays: each (group, daily bucket)
    * aggregate joined to the SAME group's bucket exactly 7 days
    * earlier, emitting both values and their IEEE ratio (`+ 0.0`
    * canonicalized; identical division chain on any engine). The join
    * runs on the already-aggregated groups × buckets frame — bounded,
    * never the raw points — and buckets with no week-ago counterpart
    * drop (no fabricated baselines). One point-volume exchange for the
    * aggregate, one bounded-frame equi-join.
    */
  def buildWeekOverWeek(): DataFrame = {
    val weekNs = 7L * 86400L * 1000000000L
    val buckets = build()
    val prev = buckets.select(col("grp").as("p_grp"),
      (col("bucket_start") + lit(weekNs)).as("p_bucket"),
      col("value").as("prev_value"))
    buckets
      .join(prev, col("grp") === col("p_grp") &&
        col("bucket_start") === col("p_bucket"))
      .select(col("grp"), col("bucket_start"), col("value"), col("prev_value"),
        (col("value") / col("prev_value") + lit(0.0)).as("wow_ratio"))
  }

  /** Like [[build]], also emitting the per-bucket margin across ALL
    * groups in the SAME pass — GROUPING SETS ((grp, bucket), (bucket))
    * — the "per-host series plus the fleet-wide line" dashboard query.
    * Computed as ONE Expand (replication factor 2 — the number of
    * sets, not 2^keys) + ONE hash aggregate + at most ONE shuffle; two
    * separate aggregations would scan and shuffle the points twice.
    * Margin rows carry `grp = NULL, gid = 2` — `grouping_id()` puts
    * the FIRST grouping column (grp) in the most-significant bit, so
    * `grouping(grp) = 1` ⇒ gid 2, distinguishing a subtotal from a
    * genuine NULL group key. Grouping
    * keys are pre-projected to plain attributes — an aliased
    * expression in the grouping columns vs its unaliased twin inside a
    * set registers as a third grouping column (the q_grouping_sets
    * lesson, Analytics.scala).
    */
  def buildWithMargin(): DataFrame = {
    val pre = input
      .select(db.tagCol(groupBy).as("grp"),
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"),
        col("value"))
    pre.groupingSets(
        Seq(Seq(col("grp"), col("bucket_start")), Seq(col("bucket_start"))),
        col("grp"), col("bucket_start"))
      .agg(count(lit(1)).as("n"), aggValueCol, grouping_id().as("gid"))
  }

  /** Like [[build]], also emitting the bucket's upper bound and middle
    * timestamp — the reference `Bucket` carries `start`, `end`, `len`,
    * `value` and computes `middle()` (talna `src/agg/mod.rs:20-46`).
    * Under epoch-aligned tumbling buckets, `end = start + width` and
    * `middle = start + width/2` (the reference's
    * `start + (end-start)/2`).
    */
  def buildWithBounds(): DataFrame =
    build()
      .withColumn("bucket_end", col("bucket_start") + lit(widthNs))
      .withColumn("bucket_middle", col("bucket_start") + lit(widthNs / 2))
      .select(col("grp"), col("bucket_start"), col("bucket_end"),
        col("bucket_middle"), col("n"), col("value"))

  /** Like [[build]], keeping only the top `n` groups per bucket by
    * aggregate value (the metrics-dashboard `top()` modifier: "top 5
    * hosts by CPU per interval"). Ties break on the group name for a
    * total order, so results are engine-deterministic. One extra window
    * pass over the AGGREGATED buckets — cardinality = groups × buckets,
    * already reduced from the raw points, so the rank is cheap at any
    * scale.
    */
  def buildTopK(n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, "n must be >= 1")
    val w = Window.partitionBy(col("bucket_start"))
      .orderBy(col("value").desc, col("grp"))
    build()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= n)
  }

  /** PromQL `bottomk()` — [[buildTopK]]'s mirror: the n SMALLEST
    * aggregate values per bucket, (value asc, grp) total order. Same
    * plan shape: one bucketed aggregate, then a per-bucket rank over
    * the bounded group×bucket frame (never the raw points).
    */
  def buildBottomK(n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, "n must be >= 1")
    val w = Window.partitionBy(col("bucket_start"))
      .orderBy(col("value").asc, col("grp"))
    build()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= n)
  }

  /** Like [[build]], then densified per group: every bucket between the
    * group's first and last observed bucket exists, gaps carry the
    * previous bucket's value forward (`filled = true`, `n = 0`) — the
    * gap-filling every metrics dashboard applies before charting.
    *
    * Scale shape: the dense axis is generated per group with
    * `sequence()` (rows ∝ span/width, the OUTPUT size — nothing
    * quadratic), one left join back to the aggregated buckets on the
    * same (group, bucket) key, and one window pass for the forward
    * fill. All three reuse the aggregation's (group, bucket)
    * partitioning; nothing shuffles the raw points again.
    */
  def buildGapFilled(maxBucketsPerSeries: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = build()
    // in-plan guard: a narrow width over a long-lived series would ask
    // sequence() for a row-breaking array (a 1 ms width over a month is
    // 2.6 G elements) — fail with the actual series span in the message
    // instead of an executor OOM
    val span = (col("hi") - col("lo")) / lit(widthNs)
    val dense = base.groupBy(col("grp"))
      .agg(min(col("bucket_start")).as("lo"), max(col("bucket_start")).as("hi"))
      .withColumn("hi", when(span <= maxBucketsPerSeries, col("hi"))
        .otherwise(raise_error(concat(
          lit(s"gapfill would emit more than $maxBucketsPerSeries buckets for group '"),
          col("grp"), lit("' (span "), span.cast("long").cast("string"),
          lit(" buckets); raise granularity or maxBucketsPerSeries")))))
      .select(col("grp"),
        explode(sequence(col("lo"), col("hi"), lit(widthNs))).as("bucket_start"))
    val w = Window.partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(base, Seq("grp", "bucket_start"), "left")
      .select(col("grp"), col("bucket_start"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("value"), ignoreNulls = true).over(w).as("value"),
        col("value").isNull.as("filled"))
  }

  /** [[buildGapFilled]] with LINEAR interpolation instead of forward
    * fill — TimescaleDB's `interpolate()` / the dashboard "connect the
    * dots" fill: a missing bucket gets
    * `prev + (next − prev) · (b − b_prev)/(b_next − b_prev)` between
    * its nearest OBSERVED neighbors (two window passes over the dense
    * spine: last-non-null behind, first-non-null ahead — no
    * self-join). Edges degrade gracefully: before the first
    * observation the fill is the next value, after the last it is the
    * previous (ffill/bfill at the boundaries, interpolation between).
    * The lerp is the RAW IEEE chain in a FIXED operand order over the
    * already-rounded bucket values, `+ 0.0` signed-zero canonicalized
    * — the rate/zscore recipe. Deliberately NOT rounded: a final
    * `round(x, 6)` re-introduces the engine-divergent decimal-boundary
    * behavior this codebase avoids (measured: a one-ulp HALF_UP vs
    * multiply-round split on this exact chain), while identical
    * doubles through identical ops are bit-stable. Same in-plan
    * bucket-explosion guard as [[buildGapFilled]].
    */
  def buildGapFilledLerp(maxBucketsPerSeries: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = build()
    val span = (col("hi") - col("lo")) / lit(widthNs)
    val dense = base.groupBy(col("grp"))
      .agg(min(col("bucket_start")).as("lo"), max(col("bucket_start")).as("hi"))
      .withColumn("hi", when(span <= maxBucketsPerSeries, col("hi"))
        .otherwise(raise_error(concat(
          lit(s"gapfill would emit more than $maxBucketsPerSeries buckets for group '"),
          col("grp"), lit("' (span "), span.cast("long").cast("string"),
          lit(" buckets); raise granularity or maxBucketsPerSeries")))))
      .select(col("grp"),
        explode(sequence(col("lo"), col("hi"), lit(widthNs))).as("bucket_start"))
    val behind = Window.partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ahead = Window.partitionBy(col("grp")).orderBy(col("bucket_start"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsBucket = when(col("value").isNotNull, col("bucket_start"))
    val pv = last(col("value"), ignoreNulls = true).over(behind)
    val pb = last(obsBucket, ignoreNulls = true).over(behind)
    val nv = first(col("value"), ignoreNulls = true).over(ahead)
    val nb = first(obsBucket, ignoreNulls = true).over(ahead)
    val lerp =
      pv + (nv - pv) * ((col("bucket_start") - pb).cast("double")
        / (nb - pb).cast("double")) + lit(0.0)
    dense.join(base, Seq("grp", "bucket_start"), "left")
      .select(col("grp"), col("bucket_start"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(pv.isNull, nv)           // before the first observation
          .when(nv.isNull, pv)        // after the last observation
          // observed rows (and only they) have pb = nb = b: the lerp
          // span is degenerate (0/0 → NaN), the value is their own
          .when(nb === pb, pv)
          .otherwise(lerp)
          .as("value"),
        col("value").isNull.as("filled"))
  }
}
