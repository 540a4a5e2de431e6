package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generated point, in graft's canonical series-frame columns. */
final case class Point(metric: String, ts: Long, value: Double,
                       tag_host: String, tag_service: String, tag_env: String)

/** One series: a metric and its tag set (`env` is absent on a few). */
final case class Series(metric: String, host: String, service: String,
                        env: String, size: Int) {
  def tag(key: String): String = key match {
    case "host" => host; case "service" => service; case "env" => env
    case _ => null
  }
}

/** The seeded series catalog and the pure functions that place every
  * point. Series sizes follow a Zipf-like law (the largest series holds
  * about 7% of all points). Values are multiples of 1/4, which doubles,
  * decimals and the references below all represent exactly.
  */
final class TsdbGen(val seed: Long, nSeries: Int, nPoints: Long) extends Serializable {
  import TsdbGen._

  val series: Array[Series] = {
    val perMetric = nSeries / Metrics.size
    val rnd = new SplittableRandom(seed)
    val keys = Metrics.flatMap { m =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[(String, String, String)]
      while (seen.size < perMetric) {
        val u = rnd.nextDouble()
        val env = if (u < 0.60) "prod" else if (u < 0.85) "staging"
          else if (u < 0.95) "dev" else null
        seen += ((f"h${rnd.nextInt(Hosts)}%03d", Services(rnd.nextInt(Services.size)), env))
      }
      seen.toSeq.map { case (h, s, e) => (m, h, s, e) }
    }
    // the same size multiset for every seed (a shuffled Zipf ladder), so
    // seeds change which series are heavy but not how heavy they are
    val ranks = new scala.util.Random(rnd.nextLong()).shuffle(keys.indices.toVector)
    val weights = ranks.map(k => 1.0 / math.pow(1 + k, 0.9))
    val total = weights.sum
    keys.zip(weights).map { case ((m, h, s, e), w) =>
      Series(m, h, s, e, math.max(MinPoints, (nPoints * w / total).toInt))
    }.toArray
  }

  /** First global point index of each series (and the total at the end). */
  val starts: Array[Long] = series.scanLeft(0L)(_ + _.size)
  def total: Long = starts.last

  def seriesOf(i: Long): Int = {
    val k = java.util.Arrays.binarySearch(starts, i)
    if (k >= 0) k else -k - 2
  }

  /** Point `k` of series `s` in the base span: strictly increasing in k. */
  def baseTs(s: Int, k: Int): Long = {
    val step = SpanNs / series(s).size
    T0 + k * step + Mix.below(Mix.h(seed, s, k, 1), step)
  }
  def baseValue(s: Int, k: Int): Double = Mix.below(Mix.h(seed, s, k, 2), 400000L) / 4.0

  def basePoint(i: Long): Point = {
    val s = seriesOf(i)
    val k = (i - starts(s)).toInt
    point(s, baseTs(s, k), baseValue(s, k))
  }

  /** Point `j` of appended slice `step`: series drawn in proportion to
    * their base size, timestamps uniform in the slice's window.
    */
  def sliceSeries(step: Int, j: Long): Int =
    seriesOf(Mix.below(Mix.h(seed, 1000000L + step, j, 3), total))
  def sliceTs(step: Int, j: Long): Long =
    sliceStart(step) + 1 + Mix.below(Mix.h(seed, 1000000L + step, j, 4), SliceNs)
  def sliceValue(step: Int, j: Long): Double =
    Mix.below(Mix.h(seed, 1000000L + step, j, 5), 400000L) / 4.0
  def slicePoint(step: Int, j: Long): Point =
    point(sliceSeries(step, j), sliceTs(step, j), sliceValue(step, j))

  private def point(s: Int, ts: Long, v: Double): Point = {
    val x = series(s)
    Point(x.metric, ts, v, x.host, x.service, x.env)
  }

  def baseFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(0, total, 1, GenPartitions).as[Long]
      .mapPartitions(_.map(g.basePoint)).toDF()
  }

  def sliceFrame(spark: SparkSession, step: Int, n: Long): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(0, n, 1, GenPartitions).as[Long]
      .mapPartitions(_.map(j => g.slicePoint(step, j))).toDF()
  }
}

object TsdbGen {
  val Metrics: Seq[String] = Seq("cpu.usage", "mem.used", "http.requests",
    "http.latency", "disk.io", "net.rx", "net.tx", "queue.depth")
  val Services: Seq[String] = Seq("api", "web", "db", "cache", "auth", "search",
    "billing", "mail", "queue", "cdn", "ml", "etl")
  val Hosts = 200
  val MinPoints = 8
  val GenPartitions = 8
  val Sec: Long = 1000000000L
  val Minute: Long = 60 * Sec
  val Hour: Long = 60 * Minute
  val Day: Long = 24 * Hour
  /** 2026-01-05T00:00:00Z. */
  val T0: Long = 1767571200L * Sec
  val SpanNs: Long = 7 * Day
  val SliceNs: Long = 10 * Minute
  def sliceStart(step: Int): Long = T0 + SpanNs + step * SliceNs
  val RollupWidth: Long = Hour
}

/** Tag filter as the benchmark generates it: rendered to graft's filter
  * DSL for the program, evaluated directly for the reference.
  */
sealed trait Filter {
  def dsl: String
  def eval(s: Series): Boolean
}
object Filter {
  case object All extends Filter {
    def dsl = "*"; def eval(s: Series) = true
  }
  final case class Eq(k: String, v: String) extends Filter {
    def dsl = s"$k:$v"; def eval(s: Series) = v == s.tag(k)
  }
  final case class Prefix(k: String, p: String) extends Filter {
    def dsl = s"$k:$p*"
    def eval(s: Series) = s.tag(k) != null && s.tag(k).startsWith(p)
  }
  final case class And(a: Filter, b: Filter) extends Filter {
    def dsl = s"(${a.dsl} AND ${b.dsl})"; def eval(s: Series) = a.eval(s) && b.eval(s)
  }
  final case class Or(a: Filter, b: Filter) extends Filter {
    def dsl = s"(${a.dsl} OR ${b.dsl})"; def eval(s: Series) = a.eval(s) || b.eval(s)
  }
  final case class Not(a: Filter) extends Filter {
    def dsl = s"!${a.dsl}"; def eval(s: Series) = !a.eval(s)
  }
}

/** Driver-side copy of every point written, per series, in time order:
  * the reference the program's answers are checked against. It uses no
  * graft code.
  */
final class RefStore(gen: TsdbGen) {
  private val n = gen.series.length
  private val ts = Array.tabulate(n)(s => new Array[Long](gen.series(s).size))
  private val vs = Array.tabulate(n)(s => new Array[Double](gen.series(s).size))
  private val len = Array.tabulate(n)(s => gen.series(s).size)
  for (s <- 0 until n; k <- 0 until len(s)) {
    ts(s)(k) = gen.baseTs(s, k); vs(s)(k) = gen.baseValue(s, k)
  }
  val byMetric: Map[String, Seq[Int]] = (0 until n).groupBy(gen.series(_).metric)

  /** Adds slice `step` (its points sorted per series, all newer than any
    * point held so far).
    */
  def addSlice(step: Int, count: Long): Unit = {
    val per = (0L until count).groupBy(j => gen.sliceSeries(step, j))
    per.foreach { case (s, js) =>
      val pts = js.map(j => (gen.sliceTs(step, j), gen.sliceValue(step, j))).sortBy(_._1)
      val need = len(s) + pts.size
      if (need > ts(s).length) {
        val cap = math.max(need, ts(s).length * 2)
        ts(s) = java.util.Arrays.copyOf(ts(s), cap)
        vs(s) = java.util.Arrays.copyOf(vs(s), cap)
      }
      pts.foreach { case (t, v) => ts(s)(len(s)) = t; vs(s)(len(s)) = v; len(s) += 1 }
    }
  }

  def points: Long = len.map(_.toLong).sum

  /** Index of the first point of `s` at or after `t`. */
  private def lowerBound(s: Int, t: Long): Int = {
    var lo = 0; var hi = len(s)
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(s)(m) < t) lo = m + 1 else hi = m }
    lo
  }

  private def matching(metric: String, f: Filter): Seq[Int] =
    byMetric.getOrElse(metric, Nil).filter(s => f.eval(gen.series(s)))

  def count(metric: String, lo: Long, hi: Long): Long =
    byMetric.getOrElse(metric, Nil)
      .map(s => (lowerBound(s, hi + 1) - lowerBound(s, lo)).toLong).sum

  /** (group, bucket_start) → (n, value) for a bucketed aggregate over
    * `[lo, hi]`; series lacking the group tag are skipped.
    */
  def aggregate(kind: String, metric: String, groupBy: String, f: Filter,
                lo: Long, hi: Long, width: Long): Map[(String, Long), (Long, Double)] = {
    final class Acc { var n = 0L; var sum = 0.0; var min = Double.MaxValue; var max = -Double.MaxValue }
    val acc = scala.collection.mutable.HashMap.empty[(String, Long), Acc]
    matching(metric, f).filter(s => gen.series(s).tag(groupBy) != null).foreach { s =>
      val g = gen.series(s).tag(groupBy)
      var k = lowerBound(s, lo)
      while (k < len(s) && ts(s)(k) <= hi) {
        val a = acc.getOrElseUpdate((g, Math.floorDiv(ts(s)(k), width) * width), new Acc)
        val v = vs(s)(k)
        a.n += 1; a.sum += v; a.min = math.min(a.min, v); a.max = math.max(a.max, v)
        k += 1
      }
    }
    acc.map { case (key, a) =>
      val v = kind match {
        case "avg" => BigDecimal(a.sum / a.n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        case "sum" => a.sum
        case "min" => a.min
        case "max" => a.max
        case "count" => a.n.toDouble
      }
      key -> (a.n, v)
    }.toMap
  }

  private def row(s: Int, k: Int): (String, String, String, Long, Double) = {
    val x = gen.series(s)
    (x.host, x.service, x.env, ts(s)(k), vs(s)(k))
  }

  /** Newest `n` points of every series of `metric`: (host, service, env, ts, value). */
  def latest(metric: String, n: Int): Seq[(String, String, String, Long, Double)] =
    byMetric.getOrElse(metric, Nil).flatMap(s => (math.max(0, len(s) - n) until len(s)).map(row(s, _)))

  /** Every point of the matching series. */
  def scan(metric: String, f: Filter): Seq[(String, String, String, Long, Double)] =
    matching(metric, f).flatMap(s => (0 until len(s)).map(row(s, _)))
}
