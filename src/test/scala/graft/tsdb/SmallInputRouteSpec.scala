package graft.tsdb

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two routes of an aggregate's input ([[Db.smallInputRoute]]): a
  * file-scan input of at most `spark.sql.files.openCostInBytes` runs on
  * one partition with no exchange, anything else shuffles. The shuffle
  * route is forced in a second session whose open cost is one byte.
  */
class SmallInputRouteSpec extends SparkSpec with TempDirSpec {
  private val hour = Duration.hours(1)
  private val width = Duration.hours(6)
  private val metric = "purchase"

  private lazy val layout = {
    val p = s"$tempDir/layout"
    Ingest.write(Db.fromEvents(spark, sfDir), p)
    p
  }
  private lazy val rollup = {
    val p = s"$tempDir/rollup"
    Ingest.writeRollup(Db.fromEvents(spark, sfDir), p, hour)
    p
  }

  private def sessionWithOpenCost(bytes: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.openCostInBytes", bytes.toString)
    s
  }
  private lazy val forced = sessionWithOpenCost(1L)

  private val kinds = Seq[AggKind](AggKind.Avg, AggKind.Sum, AggKind.Min, AggKind.Max,
    AggKind.Count, AggKind.Stddev, AggKind.Quantile(0.9))
  private val rollupKinds = kinds.filterNot(_.isInstanceOf[AggKind.Quantile])

  private def builder(s: SparkSession, kind: AggKind) =
    AggBuilder(Ingest.open(s, layout), kind, metric, "user").granularity(width)
  private def latest(s: SparkSession) = Ingest.open(s, layout).latest(metric, 3)
  private def rolled(s: SparkSession, kind: AggKind) =
    Ingest.openRollup(s, rollup, hour).agg(kind, metric, "user", width)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("the small route returns the shuffle route's rows for every kind, latest and rollup") {
    assert(forced.conf.get("spark.sql.session.timeZone") == "UTC")
    for (kind <- kinds) {
      val small = sortedRows(builder(spark, kind).build())
      assert(small.nonEmpty, s"$kind")
      assert(small == sortedRows(builder(forced, kind).build()), s"build $kind")
      assert(sortedRows(builder(spark, kind).buildWithBounds()) ==
        sortedRows(builder(forced, kind).buildWithBounds()), s"buildWithBounds $kind")
    }
    assert(sortedRows(latest(spark)) == sortedRows(latest(forced)))
    for (kind <- rollupKinds)
      assert(sortedRows(rolled(spark, kind)) == sortedRows(rolled(forced, kind)), s"rollup $kind")
    // the sketch may pick another point on one partition; its rank band holds
    // on both routes, over the same groups and counts
    val approx = AggKind.QuantileApprox(0.9, 100)
    for (s <- Seq(spark, forced)) {
      val band = builder(s, approx).buildBandCheck().collect()
      assert(band.nonEmpty && band.forall(_.getAs[Boolean]("within_band")), s"$s")
    }
    def groups(s: SparkSession) = sortedRows(builder(s, approx).build().drop("value"))
    assert(groups(spark) == groups(forced))
  }

  test("a small input plans no exchange; the forced route shuffles on the group key") {
    val queries = Seq[(String, SparkSession => DataFrame)](
      "build" -> (s => builder(s, AggKind.Avg).build()),
      "buildWithBounds" -> (s => builder(s, AggKind.Stddev).buildWithBounds()),
      "latest" -> latest,
      "rollup" -> (s => rolled(s, AggKind.Sum)))
    for ((name, q) <- queries) {
      val small = plan(q(spark))
      assert(!small.contains("Exchange"), s"$name:\n$small")
      assert(small.contains("Coalesce 1"), s"$name:\n$small")
      val shuffled = plan(q(forced))
      assert(shuffled.contains("Exchange hashpartitioning"), s"$name:\n$shuffled")
    }
  }

  test("the route flips exactly at openCostInBytes, counted over the pruned files") {
    val selected = java.nio.file.Files.list(java.nio.file.Paths.get(layout, s"metric=$metric"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filterNot(p => p.getFileName.toString.startsWith("."))
      .map(java.nio.file.Files.size).sum
    assert(selected > 0)
    def shuffles(openCost: Long) =
      plan(builder(sessionWithOpenCost(openCost), AggKind.Avg).build()).contains("Exchange")
    assert(!shuffles(selected))
    assert(shuffles(selected - 1))
  }

  test("in-memory and cached frames keep their exchange") {
    import spark.implicits._
    val mem = new Db(Seq(("purchase", 0L, 1.0, "u"), ("purchase", 1L, 2.0, "v"))
      .toDF("metric", "ts", "value", "tag_user"))
    val memPlan = plan(AggBuilder(mem, AggKind.Avg, metric, "user").build())
    assert(memPlan.contains("Exchange hashpartitioning"), memPlan)
    val cached = new Db(Ingest.open(spark, layout).frame.cache())
    try {
      val cachedPlan = plan(AggBuilder(cached, AggKind.Avg, metric, "user").build())
      assert(cachedPlan.contains("Exchange hashpartitioning"), cachedPlan)
    } finally cached.frame.unpersist(blocking = true)
  }

  test("building launches no job and a small query collects in exactly one") {
    val queries = Seq[(String, SparkSession => DataFrame)](
      "build" -> (s => builder(s, AggKind.Avg).build()),
      "latest" -> latest,
      "rollup" -> (s => rolled(s, AggKind.Avg)))
    assert(layout.nonEmpty && rollup.nonEmpty)
    for ((name, q) <- queries) {
      val (df, buildJobs) = jobsDuring(q(spark))
      assert(buildJobs == 0, s"$name: building launched $buildJobs job(s)")
      val (_, collectJobs) = jobsDuring(df.collect())
      assert(collectJobs == 1, s"$name: collect ran $collectJobs job(s)")
      val (_, forcedJobs) = jobsDuring(q(forced).collect())
      assert(forcedJobs > 1, s"$name: the shuffle route ran $forcedJobs job(s)")
    }
  }
}
