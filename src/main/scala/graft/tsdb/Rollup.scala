package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

/** A materialized rollup layout: per (metric × tagset × fixed-width
  * bucket) partial aggregates `(n, sum_value, sum_sq, min_value,
  * max_value)`,
  * written once at ingest by [[Ingest.writeRollup]] — the continuous-
  * aggregate feature every production metrics store grows (the
  * reference's embedded engine re-scans raw points per query;
  * at 100 TB the rollup answers dashboard-width queries from data
  * thousands of times smaller than the raw table).
  *
  * Queries at any width that is a MULTIPLE of the rollup width
  * re-aggregate the partials: counts and decimal sums add, mins/maxes
  * combine — all associative, so results are bit-identical to running
  * the same aggregation over the raw points (spec-asserted, and the
  * driver oracle for `ts_rollup_avg` is literally the raw-data SQL).
  * The `sum_sq` partial (layout v4) extends the same argument to
  * population stddev — anomaly bands answered from partials.
  * Quantiles are NOT decomposable into these partials and stay on the
  * raw path ([[Db.quantile]]).
  */
final class Rollup private[tsdb] (private[tsdb] val smallInputRoute: SmallInputRoute,
                                  val widthNs: Long) {
  import Db.TagPrefix

  def this(frame: DataFrame, widthNs: Long) = this(new SmallInputRoute(frame), widthNs)

  val frame: DataFrame = smallInputRoute.frame

  private def tagCol(key: String): Column =
    if (frame.columns.contains(TagPrefix + key)) col(TagPrefix + key)
    else lit(null).cast("string")

  def avg(metric: String, groupBy: String, width: Long,
          filterExpr: String = "*"): DataFrame =
    agg(AggKind.Avg, metric, groupBy, width, filterExpr)
  def sum(metric: String, groupBy: String, width: Long,
          filterExpr: String = "*"): DataFrame =
    agg(AggKind.Sum, metric, groupBy, width, filterExpr)
  def min(metric: String, groupBy: String, width: Long,
          filterExpr: String = "*"): DataFrame =
    agg(AggKind.Min, metric, groupBy, width, filterExpr)
  def max(metric: String, groupBy: String, width: Long,
          filterExpr: String = "*"): DataFrame =
    agg(AggKind.Max, metric, groupBy, width, filterExpr)
  def count(metric: String, groupBy: String, width: Long,
            filterExpr: String = "*"): DataFrame =
    agg(AggKind.Count, metric, groupBy, width, filterExpr)
  /** Population stddev from partials (needs the v4 `sum_sq` column). */
  def stddev(metric: String, groupBy: String, width: Long,
             filterExpr: String = "*"): DataFrame =
    agg(AggKind.Stddev, metric, groupBy, width, filterExpr)

  /** Per-point z-score with the bucket stats answered from PARTIALS:
    * the (group × bucket) Σv/Σv²/n re-aggregate from this rollup
    * (vocabulary-sized) and are BROADCAST onto the raw point scan — so
    * unlike [[Db.zscore]]'s window formulation, the points themselves
    * never shuffle or sort: at 100 TB the plan is a streaming scan +
    * broadcast hash join (spec-asserted zero exchanges on the point
    * side). The arithmetic chain after the exact decimal sums is
    * IDENTICAL to [[Db.zscore]], and both sum paths are exact, so the
    * two formulations are bit-equal (spec-asserted).
    */
  def zscoreOver(db: Db, metric: String, groupBy: String, width: Long,
                 filterExpr: String = "*"): DataFrame = {
    require(width % widthNs == 0,
      s"query width $width is not a multiple of the rollup width $widthNs")
    require(frame.columns.contains("sum_sq"),
      "zscoreOver needs the v4 sum_sq partial; rebuild with Ingest.writeRollup")
    val grpCol = tagCol(groupBy)
    val stats = partials(metric, groupBy, filterExpr)
      .groupBy(grpCol.as("grp"),
        (expr(s"bucket_start div ${width}L") * lit(width)).as("bucket_start"))
      .agg(functions.sum(col("n")).as("cnt"),
        functions.sum(col("sum_value")).as("s_dec"),
        functions.sum(col("sum_sq")).as("sq_dec"))
    val s = col("s_dec").cast("double")
    val sq = col("sq_dec").cast("double")
    val cnt = col("cnt")
    val sigma = sqrt(greatest((sq - (s * s) / cnt) / cnt, lit(0.0)))
    db.groupedScan(metric, filterExpr, groupBy)
      .select(db.tagCol(groupBy).as("grp"),
        (expr(s"ts div ${width}L") * lit(width)).as("bucket_start"),
        col("ts"), col("value"))
      .join(functions.broadcast(stats), Seq("grp", "bucket_start"))
      .select(col("grp"), col("bucket_start"), col("ts"), col("value"),
        when(sigma === 0.0, lit(null).cast("double"))
          .otherwise((col("value") - s / cnt) / sigma + lit(0.0)).as("z"))
  }

  /** Re-aggregate the partials at `width` (a multiple of the rollup
    * width). Output schema matches [[AggBuilder.build]]:
    * `grp, bucket_start, n, value`. Routed like [[AggBuilder.build]]:
    * partials whose selected files total at most
    * `spark.sql.files.openCostInBytes` merge on one partition with no
    * exchange ([[SmallInputRoute]]); larger ones shuffle on
    * (group, bucket).
    */
  def agg(kind: AggKind, metric: String, groupBy: String, width: Long,
          filterExpr: String = "*"): DataFrame = {
    require(width % widthNs == 0,
      s"query width $width is not a multiple of the rollup width $widthNs")
    kind match {
      case AggKind.Quantile(_) => throw new IllegalArgumentException(
        "quantiles are not decomposable into rollup partials; use Db.quantile over raw points")
      case AggKind.QuantileApprox(_, _) => throw new IllegalArgumentException(
        "this rollup layout stores no quantile sketch partials; " +
          "use Db.quantileApprox over raw points")
      case AggKind.Stddev if !frame.columns.contains("sum_sq") =>
        throw new IllegalArgumentException(
          "this rollup layout predates the sum_sq partial (LayoutVersion < 4); " +
            "rebuild with Ingest.writeRollup or use Db.stddev over raw points")
      case _ => ()
    }
    val grpCol = tagCol(groupBy)
    val base = input(metric, groupBy, filterExpr)
    val bucket = (expr(s"bucket_start div ${width}L") * lit(width)).as("bucket_start")
    val n = functions.sum(col("n")).as("n")
    val decSum = functions.sum(col("sum_value"))
    val valueCol = (kind match {
      case AggKind.Avg   => round(decSum.cast("double") / functions.sum(col("n")), 6)
      case AggKind.Sum   => decSum.cast("double")
      case AggKind.Min   => functions.min(col("min_value"))
      case AggKind.Max   => functions.max(col("max_value"))
      case AggKind.Count => functions.sum(col("n")).cast("double")
      // IDENTICAL op chain to AggKind.Stddev over raw points: both Σv
      // and Σv² re-aggregate exactly (decimal adds are associative), so
      // the partial-merged σ is bit-equal to the raw-scan σ
      case AggKind.Stddev =>
        val sq = functions.sum(col("sum_sq")).cast("double")
        val sv = decSum.cast("double")
        val cnt = functions.sum(col("n"))
        round(sqrt(greatest((sq - (sv * sv) / cnt) / cnt, lit(0.0))), 6)
      case AggKind.Quantile(_) | AggKind.QuantileApprox(_, _) =>
        throw new IllegalStateException("unreachable")
    }).as("value")
    base.groupBy(grpCol.as("grp"), bucket).agg(n, valueCol)
  }

  /** The partials of `metric` that pass the filter and carry the group
    * tag, in one `where`.
    */
  private def partials(metric: String, groupBy: String, filterExpr: String): DataFrame =
    frame.where(col("metric") === lit(Db.validated(metric)) &&
      FilterParser.compileString(filterExpr, tagCol) && tagCol(groupBy).isNotNull)

  /** The [[partials]] [[agg]] merges, routed by [[SmallInputRoute]]. */
  private[tsdb] def input(metric: String, groupBy: String, filterExpr: String): DataFrame =
    smallInputRoute(Db.validated(metric), partials(metric, groupBy, filterExpr))
}
