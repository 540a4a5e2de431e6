package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.tsdb.{AggKind, Db, FilterParser, Ingest}

/** One dashboard or read-back query, as the benchmark generates it. */
sealed trait Query { def label: String }
object Query {
  /** `Db.open` → builder(kind, metric, group tag) → filter → start/end →
    * granularity → `build()`, or `buildWithBounds()` when `bounds`. A
    * filter or range that is `None` is left out of the call.
    */
  final case class Raw(kind: String, metric: String, groupBy: String, f: Option[Filter],
                       range: Option[(Long, Long)], width: Long,
                       bounds: Boolean = false) extends Query {
    def label = s"raw $kind($metric by $groupBy)${f.fold("")(x => s" [${x.dsl}]")} " +
      s"${range.fold("all")(r => s"${r._1}..${r._2}")}/$width${if (bounds) " with bounds" else ""}"
  }
  /** Full-range aggregate answered from the rollup (`Ingest.openRollup`). */
  final case class Rolled(kind: String, metric: String, groupBy: String, width: Long) extends Query {
    def label = s"rollup $kind($metric by $groupBy) /$width"
  }
  /** Newest `n` points per series (`Db.latest`). */
  final case class Latest(metric: String, n: Int) extends Query {
    def label = s"latest($metric, $n)"
  }
  /** Raw points of the matching series (`Db.scan`), collected. */
  final case class Scan(metric: String, f: Filter) extends Query {
    def label = s"scan($metric) [${f.dsl}]"
  }
  /** Read-your-write: points of `metric` in `[lo, hi]` (`Db.scan` + count). */
  final case class Count(metric: String, lo: Long, hi: Long) extends Query {
    def label = s"count($metric) $lo..$hi"
  }
}

/** Runs queries through graft's tsdb layers, each call in its own span,
  * and checks every answer against the [[RefStore]].
  */
final class TsdbQueries(spark: SparkSession, tr: Tracer, layout: String,
                        rollup: String, ref: RefStore) {
  import Query._
  import TsdbGen._

  private def kindOf(k: String): AggKind = k match {
    case "avg" => AggKind.Avg; case "sum" => AggKind.Sum; case "min" => AggKind.Min
    case "max" => AggKind.Max; case "count" => AggKind.Count
  }

  private def parse(f: Option[Filter]): Unit =
    f.foreach(x => tr.span("tsdb.filter.parse")(FilterParser.parse(x.dsl)))

  /** Plans and collects `df`: with tracing, planning and execution are
    * separate spans and the scan's SQL metrics are recorded.
    */
  private def collect(df: DataFrame): Array[Row] = {
    tr.span("tsdb.plan")(df.queryExecution.executedPlan)
    tr.span("tsdb.exec") {
      val rows = df.collect()
      if (tr.tracing) {
        val scans = scanNodes(df.queryExecution.executedPlan)
        def metric(k: String) =
          scans.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
        tr.note("files_read", metric("numFiles"))
        tr.note("scan_rows", metric("numOutputRows"))
        tr.note("result_rows", rows.length.toDouble)
      }
      rows
    }
  }

  private def scanNodes(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scanNodes) ++ other.subqueries.flatMap(scanNodes)
  }

  /** Runs `q` and returns its rows (timed by the caller). */
  def run(q: Query): Array[Row] = q match {
    case Raw(kind, metric, groupBy, f, range, width, bounds) =>
      val db = tr.span("tsdb.open")(Db.open(spark, layout))
      parse(f)
      val df = tr.span("tsdb.build") {
        val b0 = kind match {
          case "avg" => db.avg(metric, groupBy); case "sum" => db.sum(metric, groupBy)
          case "min" => db.min(metric, groupBy); case "max" => db.max(metric, groupBy)
          case "count" => db.count(metric, groupBy)
        }
        val b1 = f.fold(b0)(x => b0.filter(x.dsl))
        val b = range.fold(b1) { case (lo, hi) => b1.start(lo).end(hi) }.granularity(width)
        if (bounds) b.buildWithBounds() else b.build()
      }
      collect(df)
    case Rolled(kind, metric, groupBy, width) =>
      val r = tr.span("tsdb.open")(Ingest.openRollup(spark, rollup, RollupWidth))
      collect(tr.span("tsdb.build")(r.agg(kindOf(kind), metric, groupBy, width)))
    case Latest(metric, n) =>
      val db = tr.span("tsdb.open")(Db.open(spark, layout))
      collect(tr.span("tsdb.build")(db.latest(metric, n)))
    case Scan(metric, f) =>
      val db = tr.span("tsdb.open")(Db.open(spark, layout))
      parse(Some(f))
      collect(tr.span("tsdb.build")(db.scan(metric, f.dsl)))
    case Count(metric, lo, hi) =>
      val db = tr.span("tsdb.open")(Db.open(spark, layout))
      val df = tr.span("tsdb.build")(db.scan(metric, "*", Some(lo), Some(hi)))
      collect(df.groupBy().count())
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def points(rows: Array[Row]): Seq[(String, String, String, Long, Double)] =
    rows.toSeq.map(r => (r.getAs[String]("tag_host"), r.getAs[String]("tag_service"),
      r.getAs[String]("tag_env"), r.getAs[Long]("ts"), r.getAs[Double]("value")))

  private def diffPoints(what: String, rows: Array[Row],
                         want: Seq[(String, String, String, Long, Double)]): Option[String] = {
    val got = points(rows)
    val order = Ordering.by[(String, String, String, Long, Double), (String, String, String, Long, Double)](
      x => (x._1, x._2, String.valueOf(x._3), x._4, x._5))
    if (got.sorted(order) == want.sorted(order)) None
    else Some(s"$what: ${got.size} rows, want ${want.size}; " +
      s"missing ${want.diff(got).take(3)}, extra ${got.diff(want).take(3)}")
  }

  /** Compares `rows` with the reference answer; returns a mismatch
    * description, or None when they agree.
    */
  def mismatch(q: Query, rows: Array[Row]): Option[String] = q match {
    case Raw(kind, metric, groupBy, f, range, width, bounds) =>
      val (lo, hi) = range.getOrElse((Long.MinValue, Long.MaxValue - 1))
      val badBounds = if (!bounds) 0 else rows.count { r =>
        val s = r.getAs[Long]("bucket_start")
        r.getAs[Long]("bucket_end") != s + width || r.getAs[Long]("bucket_middle") != s + width / 2
      }
      if (badBounds > 0) Some(s"$badBounds rows with wrong bucket bounds")
      else diffAgg(rows, ref.aggregate(kind, metric, groupBy, f.getOrElse(Filter.All), lo, hi, width))
    case Rolled(kind, metric, groupBy, width) =>
      diffAgg(rows, ref.aggregate(kind, metric, groupBy, Filter.All, Long.MinValue, Long.MaxValue - 1, width))
    case Latest(metric, n) => diffPoints("latest", rows, ref.latest(metric, n))
    case Scan(metric, f) => diffPoints("scan", rows, ref.scan(metric, f))
    case Count(metric, lo, hi) =>
      val got = rows.head.getLong(0)
      val want = ref.count(metric, lo, hi)
      if (got == want) None else Some(s"count $got, want $want")
  }

  private def diffAgg(rows: Array[Row], want: Map[(String, Long), (Long, Double)]): Option[String] = {
    val got = rows.map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket_start")) ->
      (r.getAs[Long]("n"), r.getAs[Double]("value"))).toMap
    val bad = want.iterator.filter { case (k, (n, v)) =>
      got.get(k).forall { case (gn, gv) => gn != n || !close(gv, v) }
    }.take(3).toSeq
    if (bad.isEmpty && got.size == want.size && rows.length == want.size) None
    else Some(s"${rows.length} rows, want ${want.size}; first differences " +
      bad.map { case (k, w) => s"$k want $w got ${got.get(k)}" }.mkString("; "))
  }
}

object TsdbQueries {
  import Filter._
  import Query._
  import TsdbGen._

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def host(r: SplittableRandom): String = f"h${r.nextInt(Hosts)}%03d"
  /** One of h00*..h19*: 10 of the 200 hosts. */
  private def hostPrefix(r: SplittableRandom): String = s"h${r.nextInt(2)}${r.nextInt(10)}"
  private def service(r: SplittableRandom): String = pick(r, Services)
  private def servicePrefix(r: SplittableRandom): String = service(r).take(1)

  /** The bounds of `ts_range` (2024-01-10 to 2024-01-20 of a 30-day
    * table) as the same shares of the generated week.
    */
  private val RangeLo = T0 + SpanNs * 9 / 30
  private val RangeHi = T0 + SpanNs * 19 / 30

  /** Dashboard panels: one per TSDB builder entry of graft's own query
    * set (`graft.SparkEntry`: the talna-parity `ts_*` block, and
    * `ts_rollup_avg`), named after it. Each keeps its entry's aggregate
    * kind, group tag, filter shape, bounds and granularity, with the
    * entry's tags mapped onto the generated ones (`user` → `host`,
    * `k` → `service`). The seed draws the metric and the tag values in
    * the filters. Panels cycle in this order.
    */
  val Panels: Seq[(String, (SplittableRandom, String) => Query)] = {
    def raw(kind: String, groupBy: String = "host", f: Option[Filter] = None,
            range: Option[(Long, Long)] = None, width: Long = Day, bounds: Boolean = false) =
      (_: SplittableRandom, m: String) => Raw(kind, m, groupBy, f, range, width, bounds)
    def rawF(kind: String, groupBy: String)(f: SplittableRandom => Filter) =
      (r: SplittableRandom, m: String) => Raw(kind, m, groupBy, Some(f(r)), None, Day)
    Seq(
      "ts_avg" -> raw("avg"),
      "ts_sum" -> raw("sum"),
      "ts_min" -> raw("min"),
      "ts_max" -> raw("max"),
      "ts_count" -> raw("count"),
      "ts_filter_and" -> rawF("avg", "host")(r =>
        And(Prefix("service", servicePrefix(r)), Prefix("host", hostPrefix(r)))),
      "ts_filter_or" -> rawF("sum", "host")(r =>
        Or(Or(Eq("service", service(r)), Eq("service", service(r))), Eq("service", service(r)))),
      "ts_filter_not" -> rawF("count", "host")(r => Not(Prefix("service", servicePrefix(r)))),
      "ts_filter_wildcard" -> rawF("avg", "service")(r => Prefix("host", hostPrefix(r))),
      "ts_filter_nested" -> rawF("avg", "host")(r => And(Prefix("host", hostPrefix(r)),
        Or(Prefix("service", servicePrefix(r)), Prefix("service", servicePrefix(r))))),
      "ts_filter_allstar" -> rawF("count", "host")(_ => All),
      "ts_range" -> raw("sum", range = Some((RangeLo, RangeHi))),
      "ts_latest" -> ((_: SplittableRandom, m: String) => Latest(m, 5)),
      "ts_raw" -> ((r: SplittableRandom, m: String) => Scan(m, Prefix("host", hostPrefix(r)))),
      "ts_multi_tag_group" -> raw("avg", groupBy = "service", width = 7 * Day),
      "ts_bounds_avg" -> raw("avg", bounds = true),
      "ts_rollup_avg" -> ((_: SplittableRandom, m: String) => Rolled("avg", m, "host", Day)))
  }

  /** The `i`-th query of a panel cycle, on a metric drawn from `r`. */
  def dashboard(r: SplittableRandom, i: Int): Query = {
    val metric = pick(r, Metrics)
    Panels(i % Panels.size)._2(r, metric)
  }
}
