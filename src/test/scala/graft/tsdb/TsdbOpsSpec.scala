package graft.tsdb

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

/** Specs for the round-4 TSDB additions: per-series rate, as-of
  * alignment, and exact bucketed quantiles.
  */
class TsdbOpsSpec extends SparkSpec with TempDirSpec {

  private def db(rows: Seq[(String, Long, Double, String)]) = {
    import spark.implicits._
    new Db(rows.toDF("metric", "ts", "value", "tag_user"))
  }

  test("rate computes per-pair derivative, drops zero-dt pairs, per series") {
    val d = db(Seq(
      ("m", 0L, 1.0, "u1"),
      ("m", 10_000_000_000L, 5.0, "u1"),   // rate (5-1)/10 = 0.4
      ("m", 30_000_000_000L, 2.0, "u1"),   // rate (2-5)/20 = -0.15
      ("m", 0L, 100.0, "u2"),
      ("m", 5_000_000_000L, 110.0, "u2"),  // rate 2.0 — series are independent
      ("x", 1L, 9.0, "u1")))               // other metric: excluded
    val out = d.rate("m").orderBy("tag_user", "ts").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Double]("rate_per_s")).toSeq == Seq(0.4, -0.15, 2.0))
  }

  test("rate is deterministic under duplicate timestamps (value tiebreak, zero-dt dropped)") {
    val d = db(Seq(
      ("m", 0L, 1.0, "u"),
      ("m", 10_000_000_000L, 7.0, "u"),
      ("m", 10_000_000_000L, 3.0, "u"),    // same ts: ordered (3.0, 7.0); the 3→7 pair has dt=0
      ("m", 20_000_000_000L, 9.0, "u")))
    val out = d.rate("m").orderBy("ts", "value").collect()
    // pairs: (1.0@0 → 3.0@10) = 0.2 ; (3.0@10 → 7.0@10) dropped ; (7.0@10 → 9.0@20) = 0.2
    assert(out.length == 2)
    assert(out.map(_.getAs[Double]("rate_per_s")).toSeq == Seq(0.2, 0.2))
  }

  test("increase sums positive deltas per bucket; counter resets contribute zero") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 10.0, "u"),
      ("m", 10_000_000_000L, 15.0, "u"),  // +5
      ("m", 20_000_000_000L, 3.0, "u"),   // reset: -12 → 0
      ("m", 30_000_000_000L, 8.0, "u"),   // +5
      ("m", day + 5L, 9.0, "u")))         // +1, lands in the SECOND day bucket
    val out = d.increase("m", day).collect()
      .map(r => r.getAs[Long]("bucket_start") -> r.getAs[Double]("value")).toMap
    assert(out == Map(0L -> 10.0, day -> 1.0))
  }

  test("ewma folds per series in (ts, value) order, seeded with the first point") {
    val d = db(Seq(
      ("m", 0L, 1.0, "u"),
      ("m", 10L, 2.0, "u"),   // 0.5*1 + 0.5*2 = 1.5
      ("m", 20L, 3.0, "u"),   // 0.5*1.5 + 0.5*3 = 2.25
      ("m", 0L, 100.0, "v"))) // independent series: seed only
    val out = d.ewma("m", alpha = 0.5).orderBy("tag_user", "ts").collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("ts"),
        r.getAs[Double]("value"), r.getAs[Double]("ewma")))
    assert(out.toSeq == Seq(
      ("u", 0L, 1.0, 1.0), ("u", 10L, 2.0, 1.5), ("u", 20L, 3.0, 2.25),
      ("v", 0L, 100.0, 100.0)))
  }

  test("m4 keeps exactly first/last/min/max per series-bucket, multi-role points once") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 10L, 5.0, "u"),            // first AND min of bucket 0
      ("m", 20L, 9.0, "u"),            // max
      ("m", 30L, 7.0, "u"),            // interior — dropped
      ("m", 40L, 6.0, "u"),            // last
      ("m", day + 1L, 3.0, "u"),       // sole point of bucket 1: all four roles
      ("m", 15L, 100.0, "v")))         // other series, independent
    val out = d.m4("m", day).collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start"),
        r.getAs[Long]("ts"), r.getAs[Double]("value"))).toSet
    assert(out == Set(
      ("u", 0L, 10L, 5.0), ("u", 0L, 20L, 9.0), ("u", 0L, 40L, 6.0),
      ("u", day, day + 1L, 3.0),
      ("v", 0L, 15L, 100.0)))
  }

  test("activeSeries counts distinct tagsets per bucket, NULL tags distinct from absent") {
    import spark.implicits._
    val h = 3600L * 1000 * 1000 * 1000
    val d = new Db(Seq(
      // bucket 0: three points, two distinct series ((u=1,k=a) ×2, (u=1,k=NULL))
      ("m", 1L, 1.0, "1", "a"),
      ("m", 2L, 2.0, "1", "a"),
      ("m", 3L, 3.0, "1", null),
      // bucket 1: one series; (u=NULL,k=NULL) must not collide with (u=1,k=NULL)
      ("m", h + 1L, 4.0, null, null),
      ("m", h + 2L, 5.0, null, null))
      .toDF("metric", "ts", "value", "tag_user", "tag_k"))
    val out = d.activeSeries("m", h).collect()
      .map(r => r.getAs[Long]("bucket_start") ->
        (r.getAs[Long]("n_series"), r.getAs[Long]("n_points"))).toMap
    assert(out == Map(0L -> (2L, 3L), h -> (1L, 2L)))
    // corpus sanity: n_series per bucket never exceeds the metric's
    // total distinct tagsets, and the point counts re-add to the scan
    val db = Db.fromEvents(spark, sfDir)
    val buckets = db.activeSeries("view", 86400L * 1000 * 1000 * 1000).collect()
    val total = db.series("view").count()
    assert(buckets.forall(_.getAs[Long]("n_series") <= total))
    assert(buckets.map(_.getAs[Long]("n_points")).sum == db.scan("view").count())
  }

  test("activeSeriesApprox: HLL estimate in-band everywhere, partitioning-independent") {
    val day = 86400L * 1000 * 1000 * 1000
    val db = Db.fromEvents(spark, sfDir)
    val out = db.activeSeriesApprox("view", day).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("within_band")),
      "every bucket's HLL estimate must sit within the gate band")
    // exact column matches activeSeries bit-for-bit
    val exact = db.activeSeries("view", day).collect()
      .map(r => r.getAs[Long]("bucket_start") -> r.getAs[Long]("n_series")).toMap
    out.foreach(r => assert(
      r.getAs[Long]("n_series") == exact(r.getAs[Long]("bucket_start"))))
    // the sketch is merge-deterministic: a different physical
    // partitioning of the same points yields the same booleans (HLL
    // registers merge associatively — the property that makes the
    // sketch the 100 TB path)
    val spark2 = spark
    import spark2.implicits._
    val re = new Db(db.frame.repartition(7)).activeSeriesApprox("view", day)
      .collect().map(r => r.getAs[Long]("bucket_start") ->
        r.getAs[Boolean]("within_band")).toMap
    out.foreach(r => assert(re(r.getAs[Long]("bucket_start"))))
  }

  test("histogram bins by floor(value/width)*width with exact counts") {
    val d = db(Seq(
      ("m", 1L, 0.4, "u"), ("m", 2L, 9.99, "u"),   // bin 0.0
      ("m", 3L, 10.0, "u"),                        // bin 10.0 (boundary)
      ("m", 4L, 25.0, "v"), ("m", 5L, 29.9, "v"),  // bin 20.0
      ("m", 6L, -0.5, "u"),                        // bin -10.0 (negative floor)
      ("x", 7L, 5.0, "u")))                        // other metric excluded
    val out = d.histogram("m", 10.0).collect()
      .map(r => r.getAs[Double]("bin_lo") -> r.getAs[Long]("n")).toMap
    assert(out == Map(0.0 -> 2L, 10.0 -> 1L, 20.0 -> 2L, -10.0 -> 1L))
  }

  test("ewma fails with a diagnostic when a series exceeds the point cap") {
    val d = db((0L until 64L).map(i => ("m", i, i.toDouble, "u")))
    val e = intercept[Exception] {
      d.ewma("m", alpha = 0.5, maxPointsPerSeries = 63L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val msg = messages(e).mkString(" | ")
    assert(msg.contains("ewma series exceeds 63 points"), msg)
    assert(msg.contains("'m'") && msg.contains("64 points"), msg)
    // at the cap itself the fold still runs
    assert(d.ewma("m", alpha = 0.5, maxPointsPerSeries = 64L).count() == 64L)
  }

  test("asofAlign carries the latest right value at ts' <= ts, max-merged at ties") {
    val d = db(Seq(
      ("l", 5L, 1.0, "u"),
      ("l", 15L, 2.0, "u"),
      ("l", 10L, 3.0, "u"),                 // equal ts as a right point: <= includes it
      ("r", 0L, 10.0, "u"),
      ("r", 10L, 20.0, "u"),
      ("r", 10L, 25.0, "u"),                // duplicate right ts → merged to max 25
      ("l", 7L, 4.0, "v")))                 // other user, no right points → nulls
    val out = d.asofAlign("l", "r").orderBy("grp", "ts").collect()
    assert(out.length == 4)
    val byKey = out.map(r => (r.getString(0), r.getLong(1)) ->
      (Option(r.getAs[java.lang.Double]("asof_value")),
        Option(r.getAs[java.lang.Long]("asof_ts")))).toMap
    assert(byKey(("u", 5L)) == (Some(10.0), Some(0L)))
    assert(byKey(("u", 10L)) == (Some(25.0), Some(10L)))
    assert(byKey(("u", 15L)) == (Some(25.0), Some(10L)))
    assert(byKey(("v", 7L)) == (None, None))
  }

  test("quantile matches the sort-interpolate definition") {
    val d = db(Seq(
      ("m", 1L, 1.0, "u"), ("m", 2L, 2.0, "u"),
      ("m", 3L, 3.0, "u"), ("m", 4L, 4.0, "u")))
    val out = d.quantile("m", "user", 0.95).granularity(Duration.days(1)).build().collect()
    // p95 of [1,2,3,4]: pos = 0.95*3 = 2.85 → 3 + 0.85*(4-3) = 3.85
    assert(out.length == 1)
    assert(out(0).getAs[Double]("value") == 3.85)
    assert(out(0).getAs[Long]("n") == 4)
  }

  test("stddev is population σ, exact and partition-order-independent") {
    val d = db(Seq(
      ("m", 1L, 2.0, "u"), ("m", 2L, 4.0, "u"),
      ("m", 3L, 4.0, "u"), ("m", 4L, 4.0, "u"),
      ("m", 5L, 5.0, "u"), ("m", 6L, 5.0, "u"),
      ("m", 7L, 7.0, "u"), ("m", 8L, 9.0, "u"),   // σ_pop([2,4,4,4,5,5,7,9]) = 2
      ("m", 9L, 3.0, "v")))                        // single point: σ = 0
    val out = d.stddev("m", "user").granularity(Duration.days(1)).build().collect()
    val byGrp = out.map(r => r.getString(0) -> r.getAs[Double]("value")).toMap
    assert(byGrp("u") == 2.0)
    assert(byGrp("v") == 0.0)
    // identical value no matter how the points are partitioned (decimal sums)
    val shuffled = new Db(d.frame.repartition(7))
      .stddev("m", "user").granularity(Duration.days(1)).build().collect()
    assert(shuffled.map(r => r.getString(0) -> r.getAs[Double]("value")).toMap == byGrp)
  }

  test("zscore standardizes within (group, bucket); constant buckets yield NULL") {
    val d = db(Seq(
      ("m", 1L, 2.0, "u"), ("m", 2L, 4.0, "u"),
      ("m", 3L, 4.0, "u"), ("m", 4L, 4.0, "u"),
      ("m", 5L, 5.0, "u"), ("m", 6L, 5.0, "u"),
      ("m", 7L, 7.0, "u"), ("m", 8L, 9.0, "u"),   // μ=5, σ=2
      ("m", 9L, 3.0, "v"), ("m", 10L, 3.0, "v"))) // constant bucket → NULL
    val out = d.zscore("m", "user").collect()
    val byTs = out.map(r => r.getLong(2) ->
      Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)).toMap
    assert(byTs(1L).contains(-1.5) && byTs(2L).contains(-0.5))
    assert(byTs(7L).contains(1.0) && byTs(8L).contains(2.0))
    assert(byTs(5L).contains(0.0) && !(1.0 / byTs(5L).get).isNegInfinity) // +0.0, not -0.0
    assert(byTs(9L).isEmpty && byTs(10L).isEmpty)
    // one exchange serves both the stats and the per-point projection
    val plan = d.zscore("m", "user").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("rollup stddev from sum_sq partials is bit-equal to the raw-points stddev") {
    val hour = Duration.hours(1)
    val day = Duration.days(1)
    // points spread across several hourly partials inside one day
    val d = db((0 until 48).map(i =>
      ("m", i * hour + 7L, (i % 7) * 1.5 + 0.25, if (i % 2 == 0) "u" else "v")))
    val path = s"$tempDir/test_rollup_stddev"
    Ingest.writeRollup(d, path, hour)
    val r = Ingest.openRollup(spark, path, hour)
    val got = r.stddev("m", "user", day).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getAs[Double]("value")).toMap
    val raw = d.stddev("m", "user").granularity(day).build().collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getAs[Double]("value")).toMap
    assert(raw.nonEmpty && got == raw)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("rollup-backed zscore is bit-equal to the window zscore; points never shuffle") {
    val hour = Duration.hours(1)
    val day = Duration.days(1)
    val d = Db.fromEvents(spark, sfDir)
    val path = s"$tempDir/test_rollup_zscore"
    Ingest.writeRollup(d, path, hour)
    val r = Ingest.openRollup(spark, path, hour)
    val over = r.zscoreOver(d, "purchase", "user", day)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3),
        Option(x.getAs[java.lang.Double]("z")).map(_.toDouble))).toSeq.sorted(
        Ordering.by((t: (String, Long, Long, Double, Option[Double])) => (t._1, t._2, t._3, t._4)))
    assert(key(over) == key(d.zscore("purchase", "user", day)))
    // ONE exchange total (the vocabulary-sized stats aggregate); the
    // raw points stream through a broadcast hash join unshuffled.
    // AQE's toString prints Final + Initial copies — count the final.
    val plan = over.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("rollup stddev on a pre-v4 layout (no sum_sq) fails with a clear message") {
    val d = db(Seq(("m", 1L, 2.0, "u")))
    val r = new Rollup(
      d.frame.groupBy(col("metric"), expr("ts div 3600000000000 * 3600000000000").as("bucket_start"), col("tag_user"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(28,6)")).as("sum_value"),
          min("value").as("min_value"), max("value").as("max_value")),
      Duration.hours(1))
    val ex = intercept[IllegalArgumentException] {
      r.agg(AggKind.Stddev, "m", "user", Duration.days(1))
    }
    assert(ex.getMessage.contains("sum_sq"))
  }

  test("gapfill densifies the series span and forward-fills values") {
    val day = Duration.days(1)
    val d = db(Seq(
      ("m", 0L, 2.0, "u"),
      ("m", 0L, 4.0, "u"),          // day 0: avg 3.0, n 2
      ("m", 3 * day + 7L, 5.0, "u"), // day 3: avg 5.0 — days 1, 2 are gaps
      ("m", 0L, 9.0, "v")))          // single-bucket series: no gaps
    val out = d.avg("m", "user").granularity(day).buildGapFilled()
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.size == 5)
    assert(out(("u", 0L)) == (2L, 3.0, false))
    assert(out(("u", day)) == (0L, 3.0, true))
    assert(out(("u", 2 * day)) == (0L, 3.0, true))
    assert(out(("u", 3 * day)) == (1L, 5.0, false))
    assert(out(("v", 0L)) == (1L, 9.0, false))
  }

  test("lerp gapfill interpolates gaps linearly; edges and observed rows keep their values") {
    val day = Duration.days(1)
    val d = db(Seq(
      ("m", 0L, 2.0, "u"),
      ("m", 0L, 4.0, "u"),           // day 0: avg 3.0
      ("m", 3 * day + 7L, 9.0, "u"), // day 3: 9.0 — days 1, 2 interpolate
      ("m", 0L, 9.0, "v")))          // single-bucket series: no gaps
    val out = d.avg("m", "user").granularity(day).buildGapFilledLerp()
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.size == 5)
    assert(out(("u", 0L)) == ((2L, 3.0, false)))
    // 3.0 → 9.0 over 3 buckets: +2.0 per bucket
    assert(out(("u", day)) == ((0L, 5.0, true)))
    assert(out(("u", 2 * day)) == ((0L, 7.0, true)))
    assert(out(("u", 3 * day)) == ((1L, 9.0, false)))
    assert(out(("v", 0L)) == ((1L, 9.0, false)))
    // no NaN anywhere (the degenerate-span branch): every value finite
    out.values.foreach { case (_, v, _) => assert(!v.isNaN) }
  }

  test("buildTopK keeps exactly the n best groups per bucket with deterministic ties") {
    val d = db(Seq(
      ("m", 1L, 5.0, "a"), ("m", 2L, 5.0, "b"),    // tie at 5.0: 'a' before 'b'
      ("m", 3L, 3.0, "c"), ("m", 4L, 1.0, "d"),
      ("m", Duration.days(1) + 1, 9.0, "d")))       // second bucket, one group
    val out = d.sum("m", "user").granularity(Duration.days(1)).buildTopK(2)
      .collect().map(r => (r.getLong(1), r.getLong(4)) -> r.getString(0)).toMap
    assert(out.size == 3)
    assert(out((0L, 1L)) == "a" && out((0L, 2L)) == "b")
    assert(out((Duration.days(1), 1L)) == "d")
  }

  test("gapfill rejects a bucket explosion with a clear error, not an executor OOM") {
    val d = db(Seq(("m", 0L, 1.0, "u"), ("m", Duration.days(30), 2.0, "u")))
    val ex = intercept[Exception] {
      d.avg("m", "user").granularity(Duration.millis(1))
        .buildGapFilled(maxBucketsPerSeries = 1000).collect()
    }
    assert(ex.getMessage.contains("gapfill would emit more than 1000 buckets") ||
      Option(ex.getCause).exists(_.getMessage.contains("gapfill would emit")))
  }

  test("rollup re-aggregation is identical to the raw-points aggregation for every kind") {
    val dir = s"$tempDir/test_rollup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val db = Db.fromEvents(spark, sfDir)
    Ingest.writeRollup(db, dir, Duration.hours(1))
    val rollup = Ingest.openRollup(spark, dir, Duration.hours(1))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    for ((kind, name) <- Seq[(AggKind, String)](
      (AggKind.Avg, "avg"), (AggKind.Sum, "sum"), (AggKind.Min, "min"),
      (AggKind.Max, "max"), (AggKind.Count, "count"),
      (AggKind.Stddev, "stddev"))) {
      val direct = AggBuilder(db, kind, "purchase", "user")
        .granularity(Duration.days(1)).build()
      val rolled = rollup.agg(kind, "purchase", "user", Duration.days(1))
      assert(key(direct) == key(rolled), s"kind $name")
    }
    // filter DSL composes over the rollup's tag columns too
    val f = rollup.avg("purchase", "user", Duration.days(1), "k:1*")
    val fd = Db.fromEvents(spark, sfDir).avg("purchase", "user")
      .filter("k:1*").granularity(Duration.days(1)).build()
    assert(key(f) == key(fd))
    // misaligned width and quantile are clean rejections
    intercept[IllegalArgumentException] {
      rollup.avg("purchase", "user", Duration.hours(1) + 1)
    }
    intercept[IllegalArgumentException] {
      rollup.agg(AggKind.Quantile(0.5), "purchase", "user", Duration.days(1))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("cascaded rollup (day-from-hour) equals both the direct day build and raw points") {
    val src = s"$tempDir/test_rollup_cascade_src"
    val dst = s"$tempDir/test_rollup_cascade_dst"
    Seq(src, dst).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val db = Db.fromEvents(spark, sfDir)
    Ingest.writeRollup(db, src, Duration.hours(1))
    Ingest.writeRollupFrom(spark, src, Duration.hours(1), dst, Duration.days(1))
    val day = Ingest.openRollup(spark, dst, Duration.days(1))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // weekly query from the LADDER level vs the same query over raw
    // points: two stacked partial folds must stay bit-exact
    for ((kind, name) <- Seq[(AggKind, String)](
      (AggKind.Avg, "avg"), (AggKind.Sum, "sum"), (AggKind.Min, "min"),
      (AggKind.Max, "max"), (AggKind.Count, "count"),
      (AggKind.Stddev, "stddev"))) {
      val direct = AggBuilder(db, kind, "purchase", "user")
        .granularity(Duration.weeks(1)).build()
      assert(key(day.agg(kind, "purchase", "user", Duration.weeks(1))) == key(direct),
        s"kind $name")
    }
    // the cascaded level's PARTIALS are row-identical to a direct
    // day-level build from raw (associativity at the layout level, not
    // just the query level)
    val direct = s"$tempDir/test_rollup_cascade_direct"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(direct))
    Ingest.writeRollup(db, direct, Duration.days(1))
    val a = Ingest.openRollup(spark, dst, Duration.days(1)).frame.collect()
      .map(_.toString).sorted
    val b = Ingest.openRollup(spark, direct, Duration.days(1)).frame.collect()
      .map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
    // misaligned cascade width is a clean rejection
    intercept[IllegalArgumentException] {
      Ingest.writeRollupFrom(spark, src, Duration.hours(1), dst,
        Duration.hours(1) + 1)
    }
    Seq(src, dst, direct).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("ratioAligned: shared buckets only, zero denominator NULL, one point shuffle") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val day = Duration.days(1)
    val frame = Seq(
      ("err", 0L, 2.0, "a"), ("req", 1L, 8.0, "a"),       // a day0: 2/8
      ("err", day + 1, 1.0, "a"),                          // a day1: no req → dropped
      ("req", day + 2, 5.0, "b"), ("req", day + 3, -5.0, "b"),
      ("err", day + 4, 3.0, "b"),                          // b day1: denom 0 → NULL
      ("req", 5L, 4.0, null.asInstanceOf[String])          // NULL group dropped
    ).toDF("metric", "ts", "value", "tag_k")
    val out = new Db(frame).ratioAligned("err", "req", "k", day)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set(("a", 0L, Some(0.25)), ("b", day, None)))
    // the alignment is ONE conditional aggregate over one scan: a
    // single exchange, no self-join of the two metrics
    val plan = new Db(frame).ratioAligned("err", "req", "k", day)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("ladder routes each query to the coarsest satisfying level, raw fallback, results exact") {
    val ladder = Ladder.ensure(spark, sfDir)
    val db = ladder.db
    // selection: Week → day (coarsest dividing), 4h → hour, quantile →
    // raw (not decomposable), non-multiple width → raw
    assert(ladder.select(AggKind.Avg, Duration.weeks(1))
      .map(_.widthNs).contains(Duration.days(1)))
    assert(ladder.select(AggKind.Max, Duration.hours(4))
      .map(_.widthNs).contains(Duration.hours(1)))
    assert(ladder.select(AggKind.Quantile(0.5), Duration.weeks(1)).isEmpty)
    assert(ladder.select(AggKind.Avg, Duration.minutes(90)).isEmpty)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // routed answers equal the raw-points build for every routed shape
    val routedWeek = ladder.max("purchase", "user", Duration.weeks(1))
    assert(key(routedWeek) == key(db.max("purchase", "user")
      .granularity(Duration.weeks(1)).build()))
    assert(key(ladder.avg("purchase", "user", Duration.hours(4))) ==
      key(db.avg("purchase", "user").granularity(Duration.hours(4)).build()))
    // raw fallback produces the identical frame as the direct builder
    assert(key(ladder.agg(AggKind.Quantile(0.95), "purchase", "user",
        Duration.days(1))) ==
      key(db.quantile("purchase", "user", 0.95).granularity(Duration.days(1))
        .build()))
    // the routed weekly plan READS THE DAY LEVEL, never raw events:
    // every file its scans list lies under the day-rollup layout (the
    // plan string cuts paths at spark.sql.maxMetadataStringLength), the
    // path Ladder.ensure's cascade ensure returns
    val dayLevel = Ingest.ensureRollupCascade(spark, sfDir, Duration.hours(1), Duration.days(1))
    val files = routedWeek.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"$dayLevel/")),
      s"weekly query did not read the day level alone:\n${files.mkString("\n")}")
  }

  test("incremental rollup append merges partials exactly (no read-modify-write)") {
    import org.apache.spark.sql.functions.col
    val dir = s"$tempDir/test_rollup_inc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val raw = Db.fromEvents(spark, sfDir)
    // split the corpus mid-stream: first half written, second appended
    val cut = 1705000000000000000L
    Ingest.writeRollup(new Db(raw.frame.where(col("ts") < cut)), dir, Duration.hours(1))
    Ingest.appendRollup(new Db(raw.frame.where(col("ts") >= cut)), dir, Duration.hours(1))
    val rollup = Ingest.openRollup(spark, dir, Duration.hours(1))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = AggBuilder(raw, AggKind.Avg, "purchase", "user")
      .granularity(Duration.days(1)).build()
    assert(key(rollup.avg("purchase", "user", Duration.days(1))) == key(direct))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

    // overlap case: the SAME (series, bucket) receives partials from
    // both batches — the merge path is exercised, not vacuous
    val dir2 = s"$tempDir/test_rollup_inc2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir2))
    val mk = db(Seq(
      ("m", 100L, 2.0, "u"), ("m", 200L, 4.0, "u")))   // batch 1, same hour bucket
    val mk2 = db(Seq(
      ("m", 300L, 9.0, "u"),                            // batch 2, SAME bucket
      ("m", Duration.hours(2), 7.0, "u")))              // and a new bucket
    Ingest.writeRollup(mk, dir2, Duration.hours(1))
    Ingest.appendRollup(mk2, dir2, Duration.hours(1))
    val r2 = Ingest.openRollup(spark, dir2, Duration.hours(1))
    val dup = r2.frame.groupBy(col("metric"), col("tag_user"), col("bucket_start"))
      .count().where(col("count") > 1).count()
    assert(dup == 1, "bucket 0 must carry partials from both batches")
    val got = r2.avg("m", "user", Duration.hours(1)).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(0L) == (3L, 5.0))                        // (2+4+9)/3 across batches
    assert(got(Duration.hours(2)) == (1L, 7.0))

    // compaction: one row per (series, bucket) again, identical answers
    Ingest.compactRollup(spark, dir2)
    for (sibling <- Seq(".compact", ".old"))
      assert(!new java.io.File(dir2 + sibling).exists(), s"compaction left $dir2$sibling behind")
    val r3 = Ingest.openRollup(spark, dir2, Duration.hours(1))
    assert(r3.frame.groupBy(col("metric"), col("tag_user"), col("bucket_start"))
      .count().where(col("count") > 1).count() == 0)
    val got3 = r3.avg("m", "user", Duration.hours(1)).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got3 == got)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir2))
  }

  test("plans: rate is one exchange + window; gapfill joins broadcast; filters reach the scans") {
    val rate = Db.fromEvents(spark, sfDir).rate("click")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(rate).length == 1, s"rate plan:\n$rate")
    assert(rate.contains("PushedFilters") && rate.contains("EqualTo(event_type,click)"))
    val gap = Db.fromEvents(spark, sfDir)
      .avg("purchase", "user").granularity(Duration.days(1)).buildGapFilled()
      .queryExecution.executedPlan.toString
    assert(gap.contains("BroadcastHashJoin"), s"gapfill plan:\n$gap")
    val asof = Db.fromEvents(spark, sfDir).asofAlign("click", "purchase")
      .queryExecution.executedPlan.toString
    // union + window: no join operator anywhere in the as-of plan
    assert(!asof.contains("Join"), s"asof plan:\n$asof")
  }

  test("quantile builder composes with filter/granularity on real data") {
    val q = Db.fromEvents(spark, sfDir)
      .quantile("view", "user", 0.5).granularity(Duration.days(1)).build()
    val c = Db.fromEvents(spark, sfDir)
      .count("view", "user").granularity(Duration.days(1)).build()
    // same groups, same n, and the median is within each group's min/max
    val qs = q.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cs = c.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(qs == cs)
  }

  test("approx quantile is a genuine data point within the GK rank-error slack") {
    val d = Db.fromEvents(spark, sfDir)
    val w = Duration.days(1)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    val approx = d.quantileApprox("view", "user", 0.95).granularity(w).build()
      .collect().map(r => key(r) -> r.getDouble(3)).toMap
    val grouped = d.scan("view").where(col("tag_user").isNotNull)
      .select(col("tag_user"), (expr(s"ts div ${w}L") * lit(w)).as("b"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(approx.nonEmpty && approx.keySet == grouped.keySet)
    approx.foreach { case (k, v) =>
      val vs = grouped(k)
      val n = vs.length
      val firstRank = vs.indexWhere(_ == v) + 1
      assert(firstRank >= 1, s"group $k: approx $v is not an actual data point")
      val lastRank = vs.lastIndexWhere(_ == v) + 1
      // GK contract: some rank of v lies within ceil(n/accuracy)+1 of the
      // target rank ceil(q*n) (the +1 absorbs the ceil-rank convention)
      val target = math.ceil(0.95 * n).toInt
      val slack = math.ceil(n / 10000.0).toInt + 1
      assert(firstRank - slack <= target && target <= lastRank + slack,
        s"group $k: approx $v spans ranks [$firstRank,$lastRank], target $target ± $slack (n=$n)")
    }
  }

  test("tagCardinality counts distinct live values and points per tag key") {
    val d = Db.fromEvents(spark, sfDir)
    val out = d.tagCardinality("click").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set("k", "user"))
    val pts = d.scan("click")
    assert(out("user")._1 ==
      pts.select("tag_user").where(col("tag_user").isNotNull).distinct().count())
    assert(out("k")._1 ==
      pts.select("tag_k").where(col("tag_k").isNotNull).distinct().count())
    assert(out("k")._2 == pts.where(col("tag_k").isNotNull).count())
  }

  test("rateSum totals the rounded per-series rates exactly per bucket") {
    val d = Db.fromEvents(spark, sfDir)
    val day = Duration.days(1)
    val rs = d.rateSum("click", day).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // driver-side recompute of the identical round→decimal-sum chain
    val rates = d.rate("click")
      .select((expr(s"ts div ${day}L") * lit(day)).as("b"), col("rate_per_s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val exp = rates.groupBy(_._1).view.mapValues { vs =>
      val s = vs.map(v => BigDecimal(v._2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      (vs.size.toLong, s.toDouble)
    }.toMap
    assert(rs.nonEmpty && rs == exp)
  }

  test("quantileAcross: one row per bucket, series-count exact, value within the value spread") {
    val d = Db.fromEvents(spark, sfDir)
    val day = Duration.days(1)
    val inner = d.sum("click", "user").granularity(day).build().collect()
      .map(r => r.getLong(1) -> r.getDouble(3))
    val out = d.quantileAcross("click", "user", 0.9, day).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val byBucket = inner.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(out.nonEmpty && out.keySet == byBucket.keySet)
    out.foreach { case (b, (n, v)) =>
      assert(n == byBucket(b).size)
      assert(v >= byBucket(b).min - 1e-6 && v <= byBucket(b).max + 1e-6)
    }
  }

  test("quantileApprox band check: every group within the exact discrete rank band") {
    val d = Db.fromEvents(spark, sfDir)
    val w = Duration.days(1)
    val check = d.quantileApprox("view", "user", 0.95).granularity(w)
      .buildBandCheck().collect()
    assert(check.nonEmpty)
    // the 1% rank-error contract holds on every group — this is exactly
    // the boolean frame the driver oracle pins to TRUE
    check.foreach { r =>
      assert(r.getAs[Boolean]("within_band"),
        s"group ${r.getString(0)} bucket ${r.getLong(1)} (n=${r.getLong(2)}) " +
          "sketch value escaped the exact rank band")
    }
    // same group/bucket set as the plain build (the oracle's row contract)
    val built = d.quantileApprox("view", "user", 0.95).granularity(w).build()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(check.map(r => (r.getString(0), r.getLong(1))).toSet == built)
    // non-QuantileApprox kinds refuse the band check
    intercept[IllegalArgumentException] {
      d.avg("view", "user").buildBandCheck()
    }
  }

  test("resets counts value drops per bucket; changes counts value flips") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 10.0, "u"),
      ("m", 10_000_000_000L, 15.0, "u"),  // up: no reset, change
      ("m", 20_000_000_000L, 3.0, "u"),   // DROP: reset + change
      ("m", 30_000_000_000L, 3.0, "u"),   // flat: neither
      ("m", day + 5L, 1.0, "u"),          // drop, lands in day-2 bucket
      ("m", 0L, 5.0, "v"),
      ("m", 1_000_000_000L, 4.0, "v")))   // independent series: one drop
    val re = d.resets("m", day).collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start")) ->
        (r.getAs[Long]("resets"), r.getAs[Long]("n_pairs"))).toMap
    assert(re == Map(("u", 0L) -> (1L, 3L), ("u", day) -> (1L, 1L),
      ("v", 0L) -> (1L, 1L)))
    val ch = d.changes("m", day).collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start")) ->
        r.getAs[Long]("changes")).toMap
    assert(ch == Map(("u", 0L) -> 2L, ("u", day) -> 1L, ("v", 0L) -> 1L))
  }

  test("mad is the median absolute deviation; a single spike can't widen its own band") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 1.0, "u"), ("m", 10L, 2.0, "u"),
      ("m", 20L, 3.0, "u"), ("m", 30L, 100.0, "u")))  // the outlier
    val out = d.mad("m", "user", day).collect().head
    assert(out.getAs[Double]("med") == 2.5)   // (2+3)/2
    assert(out.getAs[Double]("mad") == 1.0)   // median of [1.5, .5, .5, 97.5]
    assert(out.getAs[Long]("n") == 4L)
    // the σ band the outlier inflates: stddev >> mad here
    val sd = d.stddev("m", "user").granularity(day).build()
      .collect().head.getAs[Double]("value")
    assert(sd > 40.0 && out.getAs[Double]("mad") < 2.0)
  }

  test("absent emits exactly the dark (series, bucket) pairs over the global span") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 1.0, "u"),            // u: day 0 present
      ("m", 2 * day + 1L, 1.0, "u"),  // u: day 2 present, day 1 ABSENT
      ("m", day + 1L, 1.0, "v")))     // v: day 1 present; days 0,2 ABSENT
    val out = d.absent("m", day).collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start"))).toSet
    assert(out == Set(("u", day), ("v", 0L), ("v", 2 * day)))
    // NULL tag is a series identity, not a wildcard
    val dn = db(Seq(
      ("m", 0L, 1.0, null),
      ("m", 2 * day, 1.0, null)))
    val on = dn.absent("m", day).collect()
      .map(r => (Option(r.getAs[String]("tag_user")), r.getAs[Long]("bucket_start"))).toSet
    assert(on == Set((None, day)))
    // spine-explosion guard trips with a diagnostic, not an OOM
    val e = intercept[Exception] {
      db(Seq(("m", 0L, 1.0, "u"), ("m", day * 5000, 1.0, "u")))
        .absent("m", day, maxBucketsPerSeries = 100).collect()
    }
    assert(e.getMessage.contains("bucket spine exceeds"))
  }

  test("holt folds level+trend per series with zero-trend init, seeded by the first point") {
    val d = db(Seq(
      ("m", 0L, 1.0, "u"),
      ("m", 10L, 2.0, "u"),   // s=.5*2+.5*(1+0)=1.5, b=.5*.5=0.25
      ("m", 20L, 3.0, "u"),   // s=.5*3+.5*(1.5+.25)=2.375
      ("m", 0L, 100.0, "v"))) // single point: level = value
    val out = d.holt("m", alpha = 0.5, beta = 0.5).orderBy("tag_user", "ts").collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("ts"),
        r.getAs[Double]("holt")))
    assert(out.toSeq == Seq(
      ("u", 0L, 1.0), ("u", 10L, 1.5), ("u", 20L, 2.375),
      ("v", 0L, 100.0)))
    // trend-aware: on a perfect ramp Holt tracks closer than EWMA
    val ramp = db((0 until 20).map(i => ("m", i * 10L, i.toDouble, "u")))
    val h = ramp.holt("m").orderBy("ts").collect().map(_.getAs[Double]("holt")).last
    val e = ramp.ewma("m").orderBy("ts").collect().map(_.getAs[Double]("ewma")).last
    assert(math.abs(19.0 - h) < math.abs(19.0 - e))
  }

  test("irate rates the LAST in-bucket pair, reset-aware; degenerate last pairs emit nothing") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 10.0, "u"),
      ("m", 10_000_000_000L, 15.0, "u"),     // earlier pair — ignored
      ("m", 30_000_000_000L, 3.0, "u"),      // LAST pair: drop → raw 3.0 over 20 s
      ("m", day + 5_000_000_000L, 2.0, "u"), // alone in day-2 bucket → nothing
      ("m", 0L, 1.0, "v"),
      ("m", 5_000_000_000L, 2.0, "v"),       // (2-1)/5
      ("m", 0L, 1.0, "w"),
      ("m", 0L, 5.0, "w")))                  // zero-Δt last pair → dropped
    val out = d.irate("m", day).collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start")) ->
        r.getAs[Double]("value")).toMap
    assert(out == Map(("u", 0L) -> 0.15, ("v", 0L) -> 0.2))
  }

  test("deriv fits the least-squares slope per bucket; single-point buckets are NULL") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 0.0, "u"),
      ("m", 10_000_000_000L, 10.0, "u"),   // perfect 1.0/s line...
      ("m", 20_000_000_000L, 20.0, "u"),   // ...through three points
      ("m", day + 1L, 7.0, "u")))          // alone in its bucket → NULL
    val out = d.deriv("m", day).collect()
      .map(r => r.getAs[Long]("bucket_start") ->
        Option(r.getAs[java.lang.Double]("slope_per_s"))).toMap
    assert(out(0L).exists(s => math.abs(s - 1.0) < 1e-12))
    assert(out(day).isEmpty)
  }

  test("histogramQuantile interpolates the bin reaching q·total, per time bucket") {
    val day = 86_400_000_000_000L
    // bucket 1: values 0..99 → ten bins of 10; p95 target rank 95 falls
    // 5/10 into the [90,100) bin → 95.0
    val rows = (0 until 100).map(i => ("m", i.toLong, i.toDouble, "u")) ++
      // bucket 2: all values in one bin → est inside [40,50)
      Seq(("m", day + 1L, 42.0, "u"), ("m", day + 2L, 43.0, "u"))
    val out = db(rows).histogramQuantile("m", day, 10.0, 0.95).collect()
      .map(r => r.getAs[Long]("bucket_start") ->
        ((r.getAs[Long]("total"), r.getAs[Double]("est_q")))).toMap
    assert(out(0L)._1 == 100L && math.abs(out(0L)._2 - 95.0) < 1e-9)
    assert(out(day)._1 == 2L &&
      out(day)._2 >= 40.0 && out(day)._2 < 50.0)
    assert(out.size == 2, "exactly one row per time bucket")
  }

  test("topMovers ranks bucket-over-bucket deltas by magnitude with a total-order tiebreak") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 10.0, "u"), ("m", day, 50.0, "u"),       // u: Δ +40
      ("m", 2 * day, 45.0, "u"),                          // u: Δ -5
      ("m", 0L, 100.0, "v"), ("m", day, 10.0, "v"),       // v: Δ -90 (biggest)
      ("m", 0L, 7.0, "w")))                               // w: no pair
    val out = d.topMovers("m", "user", day, n = 2).collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("grp"),
        r.getAs[Double]("delta")))
      .sortBy(_._1)
    assert(out.length == 2)
    assert(out(0) == ((1L, "v", -90.0)))
    assert(out(1) == ((2L, "u", 40.0)))
  }

  test("predictLinear extrapolates the bucket's line to bucket end + ahead") {
    val day = 86_400_000_000_000L
    val d = db(Seq(
      ("m", 0L, 2.0, "u"),
      ("m", 10_000_000_000L, 12.0, "u"),   // v = 2 + 1.0/s · t —
      ("m", 20_000_000_000L, 22.0, "u"),   // a perfect line
      ("m", day + 1L, 7.0, "u")))          // single point → NULL
    val ahead = 4L * 3600 * 1_000_000_000L
    val out = d.predictLinear("m", day, ahead).collect()
      .map(r => r.getAs[Long]("bucket_start") ->
        Option(r.getAs[java.lang.Double]("predicted"))).toMap
    // line reaches 2 + (86400 + 14400) s · 1.0/s at bucket end + 4h
    assert(out(0L).exists(p => math.abs(p - 100802.0) < 1e-6))
    assert(out(day).isEmpty)
  }

  test("corrAligned pairs bucket totals per group; |r|=1 on exact lines, NULL on zero variance") {
    val day = 86_400_000_000_000L
    val rows = Seq(
      // user u: totals x=[1,2,3], y=[2,4,6] across 3 day buckets → r = 1
      ("a", 0L, 1.0, "u"), ("b", 1L, 2.0, "u"),
      ("a", day, 2.0, "u"), ("b", day + 1, 4.0, "u"),
      ("a", 2 * day, 3.0, "u"), ("b", 2 * day + 1, 6.0, "u"),
      // user v: x=[1,2], y=[5,3] → r = -1
      ("a", 0L, 1.0, "v"), ("b", 1L, 5.0, "v"),
      ("a", day, 2.0, "v"), ("b", day + 1, 3.0, "v"),
      // user w: single aligned bucket → zero variance → NULL
      ("a", 0L, 9.0, "w"), ("b", 1L, 9.0, "w"),
      // user z: never aligned (only metric a) → no pairs → absent
      ("a", 0L, 4.0, "z"))
    val d = db(rows)
    val out = d.corrAligned("a", "b", "user", day).collect()
      .map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n"), Option(r.getAs[java.lang.Double]("r"))))).toMap
    assert(out("u")._1 == 3L && out("u")._2.exists(r => math.abs(r - 1.0) < 1e-12))
    assert(out("v")._1 == 2L && out("v")._2.exists(r => math.abs(r + 1.0) < 1e-12))
    assert(out("w") == ((1L, None)))
    assert(!out.contains("z"))
  }

  test("holtWinters matches an independent fold bit-exactly; seasonal beats holt on a periodic series") {
    val day = Duration.days(1)
    val pattern = Array(10.0, 50.0, 30.0, 70.0, 20.0, 60.0, 40.0)
    val rows = for (w <- 0 until 12; dow <- 0 until 7)
      yield ("m", (w * 7 + dow) * day + 1L, pattern(dow), "u")
    val d = db(rows)
    val out = d.holtWinters("m", "user", day).collect()
      .map(r => r.getAs[Long]("bucket_start") -> r.getAs[Double]("hw")).toMap
    assert(out.size == 84)
    // independent reference fold (same recurrence re-written here)
    val (alpha, beta, gamma) = (0.3, 0.1, 0.2)
    val (oa, ob, og) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    val c = new Array[Double](7)
    var s = 0.0; var b = 0.0
    val ref = (0 until 84).map { i =>
      val x = pattern(i % 7)
      val cPrev = c(i % 7)
      if (i == 0) { s = x; b = 0.0 }
      else { val sN = alpha * (x - cPrev) + oa * (s + b); b = beta * (sN - s) + ob * b; s = sN }
      val fit = s + cPrev
      c(i % 7) = gamma * (x - s) + og * cPrev
      i.toLong * day -> fit
    }.toMap
    ref.foreach { case (bucket, fit) =>
      assert(java.lang.Double.doubleToRawLongBits(out(bucket)) ==
        java.lang.Double.doubleToRawLongBits(fit), s"bucket $bucket: ${out(bucket)} != $fit")
    }
    // seasonal term earns its keep: late-stage fit error well under holt's
    val holtOut = d.holt("m").collect()
      .map(r => r.getAs[Long]("ts") -> r.getAs[Double]("holt")).toMap
    def err(m: Map[Long, Double], key: Int => Long) =
      (70 until 84).map(i => math.abs(m(key(i)) - pattern(i % 7))).sum / 14.0
    val hwErr = err(out, i => i.toLong * day)
    val holtErr = err(holtOut, i => i.toLong * day + 1L)
    assert(hwErr < holtErr / 2.0, s"hw $hwErr vs holt $holtErr")
  }

  test("trailing mean averages the last n observed buckets per group") {
    val day = Duration.days(1)
    val d = db(Seq(
      ("m", 0L, 10.0, "u"), ("m", day, 20.0, "u"),
      ("m", 2 * day, 60.0, "u"),
      ("m", 5 * day, 30.0, "u")))  // gap: trailing counts OBSERVED buckets
    val out = d.sum("m", "user").granularity(day).buildTrailing(nBuckets = 2)
      .collect().map(r => r.getAs[Long]("bucket_start") ->
        r.getAs[Double]("trailing")).toMap
    assert(out == Map(
      0L -> 10.0, day -> 15.0, 2 * day -> 40.0,
      5 * day -> 45.0))  // (60+30)/2 across the gap — observed-bucket frame
  }

  test("xrate reproduces PromQL extrapolatedRate: edge-extension, threshold, zero cap") {
    val day = Duration.days(1)
    val s = 1_000_000_000L
    // bucket 0: samples at 100s/200s/300s — far from both edges, so
    // both sides extend by avg_dur/2 (=50s); increase = 20 (with one
    // reset: 10→25 is +15, 25→5 is a reset contributing 5... use
    // monotone values and check the reset case in bucket 1)
    // bucket 1: reset inside (30 → 4), first sample near the start
    val d = db(Seq(
      ("m", 100 * s, 10.0, "u"),
      ("m", 200 * s, 25.0, "u"),
      ("m", 300 * s, 40.0, "u"),
      ("m", day + 10 * s, 30.0, "u"),
      ("m", day + 400 * s, 4.0, "u"),
      ("m", day + 800 * s, 10.0, "u")))
    val out = d.xrate("m", day).collect()
      .map(r => r.getAs[Long]("bucket_start") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("xrate")))).toMap
    def promql(samples: Seq[(Long, Double)], bucketStart: Long): Double = {
      val n = samples.size
      val inc = samples.sliding(2).map { case Seq((_, a), (_, b)) =>
        if (b >= a) b - a else b }.sum
      val dStart0 = (samples.head._1 - bucketStart) / 1e9
      val dEnd = (bucketStart + day - samples.last._1) / 1e9
      val sampled = (samples.last._1 - samples.head._1) / 1e9
      val avgDur = sampled / (n - 1)
      val dStart = if (inc > 0.0 && samples.head._2 >= 0.0)
        math.min(dStart0, sampled * (samples.head._2 / inc)) else dStart0
      val extS = if (dStart < avgDur * 1.1) dStart else avgDur / 2.0
      val extE = if (dEnd < avgDur * 1.1) dEnd else avgDur / 2.0
      inc * ((sampled + extS + extE) / sampled) / (day / 1e9) + 0.0
    }
    val b0 = promql(Seq(100 * s -> 10.0, 200 * s -> 25.0, 300 * s -> 40.0), 0L)
    val b1 = promql(Seq((day + 10 * s) -> 30.0, (day + 400 * s) -> 4.0,
      (day + 800 * s) -> 10.0), day)
    assert(out(0L)._1 == 3L && out(0L)._2 == b0, s"${out(0L)} vs $b0")
    assert(out(day)._1 == 3L && out(day)._2 == b1, s"${out(day)} vs $b1")
    // sanity on the semantics the formula encodes: bucket 0's increase
    // is 30 over 200 s sampled, extended by 50 s each side (zero cap
    // inactive: durationToZero = 200·10/30 = 66.7 > 100? no — 66.7 <
    // 100, so the START side uses the zero cap 66.7 s, which is < 1.1
    // avg (110) and so used directly)
    assert(math.abs(out(0L)._2 - 30.0 * ((200.0 + 200.0 / 3.0 + 50.0) / 200.0) / 86400.0) < 1e-12)
  }

  test("weekOverWeek pairs each bucket with its 7-day-earlier twin, ratio exact") {
    val day = Duration.days(1)
    val week = 7 * day
    val d = db(Seq(
      ("m", 0L, 10.0, "u"),
      ("m", week + 1L, 25.0, "u"),       // wow vs bucket 0: 2.5
      ("m", 2 * week + 2L, 5.0, "u"),    // wow vs bucket 7d: 0.2
      ("m", 3 * day, 9.0, "u"),          // no bucket at 3d+7d → drops
      ("m", 0L, 4.0, "v")))              // other series, no wow pair
    val out = d.sum("m", "user").granularity(day).buildWeekOverWeek().collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket_start")) ->
        ((r.getAs[Double]("value"), r.getAs[Double]("prev_value"),
          r.getAs[Double]("wow_ratio")))).toMap
    assert(out == Map(
      ("u", week) -> ((25.0, 10.0, 2.5)),
      ("u", 2 * week) -> ((5.0, 25.0, 0.2))))
  }

  test("delta is last-minus-first per bucket; singleton buckets report 0") {
    val day = Duration.days(1)
    val d = db(Seq(
      ("m", 0L, 10.0, "u"),
      ("m", 100L, 3.0, "u"),
      ("m", 200L, 7.5, "u"),            // bucket 0: 7.5 - 10.0 = -2.5
      ("m", day + 5L, 4.0, "u"),        // singleton: 0.0
      ("m", 0L, 1.0, "v"),
      ("m", 0L, 9.0, "v")))             // same-ts pair: (ts,value) order → 9 - 1
    val out = d.delta("m", day).collect()
      .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start")) ->
        ((r.getAs[Double]("delta"), r.getAs[Long]("n")))).toMap
    assert(out == Map(
      ("u", 0L) -> ((-2.5, 3L)),
      ("u", day) -> ((0.0, 1L)),
      ("v", 0L) -> ((8.0, 2L))))
  }

  test("seasonal profile folds weeks onto day-of-week; epoch day 0 is Thursday") {
    val day = Duration.days(1)
    val week = Duration.days(7)
    val d = db(Seq(
      ("m", 0L, 10.0, "u"),             // Thursday (dow 4)
      ("m", week + 1L, 20.0, "u"),      // Thursday again, one week later
      ("m", 3 * day, 5.0, "u"),         // Sunday (dow 0)
      ("m", 4 * day, 7.0, "v")))        // Monday (dow 1), other series
    val out = d.avg("m", "user").buildSeasonal().collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("dow")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("value")))).toMap
    assert(out == Map(
      ("u", 4L) -> ((2L, 15.0)),
      ("u", 0L) -> ((1L, 5.0)),
      ("v", 1L) -> ((1L, 7.0))))
  }

  test("bottomk mirrors topk: smallest n per bucket, (value asc, grp) order") {
    val day = Duration.days(1)
    val rows = Seq(
      ("m", 0L, 1.0, "a"), ("m", 1L, 2.0, "b"), ("m", 2L, 9.0, "c"),
      ("m", day, 5.0, "a"), ("m", day + 1, 4.0, "c"))
    val d = db(rows)
    val out = d.sum("m", "user").granularity(day).buildBottomK(2).collect()
      .map(r => (r.getAs[Long]("bucket_start"), r.getAs[String]("grp"),
        r.getAs[Long]("rnk"))).toSet
    assert(out == Set((0L, "a", 1L), (0L, "b", 2L), (day, "c", 1L), (day, "a", 2L)))
    // top-1 and bottom-1 of a 2-series bucket partition the extremes
    val top1 = d.sum("m", "user").granularity(day).buildTopK(1).collect()
      .map(r => r.getAs[Long]("bucket_start") -> r.getAs[String]("grp")).toMap
    val bot1 = d.sum("m", "user").granularity(day).buildBottomK(1).collect()
      .map(r => r.getAs[Long]("bucket_start") -> r.getAs[String]("grp")).toMap
    assert(top1 == Map(0L -> "c", day -> "a") && bot1 == Map(0L -> "a", day -> "c"))
  }

  test("maxOverRate buckets the rate stream and keeps the per-series burst max") {
    val day = Duration.days(1)
    val s = 1_000_000_000L
    val d = db(Seq(
      ("m", 0L, 0.0, "u"),
      ("m", 10 * s, 20.0, "u"),        // rate 2.0, lands in bucket 0
      ("m", 20 * s, 25.0, "u"),        // rate 0.5, bucket 0
      ("m", day + 10 * s, 125.0, "u"), // rate vs prev point: 100/(day-20s+10s)
      ("m", day + 20 * s, 225.0, "u")))// rate 10.0, bucket 1
    val out = d.maxOverRate("m", day).collect()
      .map(r => r.getAs[Long]("bucket_start") ->
        ((r.getAs[Double]("max_rate"), r.getAs[Long]("n")))).toMap
    assert(out(0L) == ((2.0, 2L)))
    assert(out(day)._2 == 2L && out(day)._1 == 10.0)
  }

  test("countValues censuses exact values per bucket; no arithmetic on the value") {
    val day = Duration.days(1)
    val d = db(Seq(
      ("m", 0L, 1.5, "u1"),
      ("m", 100L, 1.5, "u2"),            // same value, same bucket → n=2
      ("m", 200L, 2.0, "u1"),
      ("m", day + 1L, 1.5, "u1"),        // next bucket: its own census
      ("x", 300L, 1.5, "u1")))           // other metric excluded
    val out = d.countValues("m", day).collect()
      .map(r => (r.getLong(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (0L, 1.5) -> 2L,
      (0L, 2.0) -> 1L,
      (day, 1.5) -> 1L))
    // -0.0 and 0.0 group separately only if the source carries both bit
    // patterns; a census never invents values
    assert(out.keys.map(_._2).toSet == Set(1.5, 2.0))
  }

  test("rollup rejects BOTH quantile kinds up-front (no partials exist for them)") {
    val hour = Duration.hours(1)
    val d = db(Seq(("m", 0L, 1.0, "u")))
    val path = s"$tempDir/test_rollup_qreject"
    Ingest.writeRollup(d, path, hour)
    val r = Ingest.openRollup(spark, path, hour)
    val e1 = intercept[IllegalArgumentException](
      r.agg(AggKind.Quantile(0.5), "m", "user", Duration.days(1)))
    assert(e1.getMessage.contains("not decomposable"))
    val e2 = intercept[IllegalArgumentException](
      r.agg(AggKind.QuantileApprox(0.5, 100), "m", "user", Duration.days(1)))
    assert(e2.getMessage.contains("no quantile sketch partials"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("heatmap: grid counts collapse to the flat histogram and the bucket totals") {
    val day = 86400L * 1000000000L
    val grid = Db.fromEvents(spark, sfDir).heatmap("click", day, 10.0)
    val rows = grid.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(3) > 0))
    // summing the grid over time reproduces the flat histogram exactly
    val collapsed = grid.groupBy(col("metric"), col("bin_lo"))
      .agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getDouble(1), r.getLong(2))).toMap
    val hist = Db.fromEvents(spark, sfDir).histogram("click", 10.0)
      .collect().map(r => (r.getDouble(1), r.getLong(2))).toMap
    assert(collapsed == hist)
    // and summing over bins reproduces the per-bucket point counts
    val byBucket = grid.groupBy(col("bucket_start")).agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val counts = Db.fromEvents(spark, sfDir).count("click", "user")
      .granularity(day).build()
      .groupBy(col("bucket_start")).agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byBucket == counts)
  }

  test("outliersIqr: every row is outside its own fences; brute quartile recompute") {
    val day = 86400L * 1000000000L
    val agg = Db.fromEvents(spark, sfDir).sum("error", "user")
      .granularity(day)
    val out = agg.buildOutliersIqr().collect()
    out.foreach { r =>
      val (v, q1, q3, lo, hi) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(q1 <= q3)
      assert(lo == q1 - 1.5 * (q3 - q1) && hi == q3 + 1.5 * (q3 - q1))
      assert(v < lo || v > hi, s"in-fence row emitted: $r")
    }
    // brute: recompute the interpolated quartiles per group in Scala
    val base = agg.build().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    def quant(vs: Array[Double], q: Double): Double = {
      val s = vs.sorted
      val pos = (s.length - 1) * q
      val (lo, frac) = (pos.toInt, pos - pos.toInt)
      val raw = if (lo + 1 < s.length) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = base.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      val vs = rows.map(_._3)
      val (q1, q3) = (quant(vs, 0.25), quant(vs, 0.75))
      val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
      rows.filter(r => r._3 < lo || r._3 > hi).map(r => (g, r._2, r._3)).toSeq
    }.toSet
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      == expected)
  }

  test("cusum: drawdown identity matches the textbook max(0, s+d) recursion") {
    val day = 86400L * 1000000000L
    val agg = Db.fromEvents(spark, sfDir).sum("error", "user").granularity(day)
    val out = agg.buildCusum(h = 2.5).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(out.nonEmpty)
    // brute: per group, the literal CUSUM recursion in int64 half-micros
    val base = agg.build().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var anyAlarm = false
    base.groupBy(_._1).foreach { case (g, rows) =>
      val vs = rows.map(_._3)
      val mu = r6(vs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / vs.length)
      val s = vs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val sq = vs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .map(d => d * d).sum.toDouble
      val sigma = r6(math.sqrt(math.max((sq - s * s / vs.length) / vs.length, 0.0)))
      def hm(x: Double): Long =
        (BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          * BigDecimal(2000000)).toLongExact
      val (mu2, sig1) = (hm(mu), hm(sigma) / 2)
      val (thHi, thLo, alarmH) = (mu2 + sig1, mu2 - sig1, 5 * sig1)
      var (sHi, sLo) = (0L, 0L)
      rows.sortBy(_._2).foreach { case (_, b, v) =>
        sHi = math.max(0L, sHi + hm(v) - thHi)
        sLo = math.max(0L, sLo + thLo - hm(v))
        val expect = (sHi.toDouble / 2000000.0, sLo.toDouble / 2000000.0,
          sHi > alarmH || sLo > alarmH)
        assert(out((g, b)) == expect, s"cusum mismatch at ($g, $b)")
        if (sHi > alarmH || sLo > alarmH) anyAlarm = true
      }
    }
    assert(out.size == base.length)
    // the detector must actually fire somewhere, else the gate is vacuous
    assert(anyAlarm, "no group ever alarms at sf0.001; spec is vacuous")
  }

  test("bollinger: brute trailing-band recompute; breakouts non-degenerate") {
    val day = 86400L * 1000000000L
    val agg = Db.fromEvents(spark, sfDir).sum("click", "user").granularity(day)
    val out = agg.buildBollinger().collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7), r.getBoolean(8)))).toMap
    assert(out.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val base = agg.build().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    var (broke, quiet) = (0, 0)
    base.groupBy(_._1).foreach { case (g, rows) =>
      val seq = rows.sortBy(_._2)
      seq.zipWithIndex.foreach { case ((_, b, v), i) =>
        val win = seq.slice(math.max(0, i - 6), i + 1).map(_._3)
        val dec = win.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val s = dec.sum.toDouble
        val sq = dec.map(d => d * d).sum.toDouble
        val n = win.length
        val mean = r6(s / n)
        val sigma = r6(math.sqrt(math.max((sq - s * s / n) / n, 0.0)))
        val (lo, hi) = (mean - 2.0 * sigma, mean + 2.0 * sigma)
        val breakout = v < lo || v > hi
        assert(out((g, b)) == ((v, mean, sigma, lo, hi, breakout)),
          s"bollinger mismatch at ($g, $b)")
        if (breakout) broke += 1 else quiet += 1
      }
    }
    assert(broke + quiet == out.size)
    assert(broke > 0 && quiet > 0,
      s"degenerate breakout split ($broke/$quiet); the gate proves nothing")
  }

  test("rollingMedian: brute trailing-frame recompute; a spike bucket cannot move it") {
    val day = 86400L * 1000000000L
    val agg = Db.fromEvents(spark, sfDir).sum("purchase", "user").granularity(day)
    val out = agg.buildRollingMedian().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(out.nonEmpty)
    def quant(vs: Array[Double]): Double = {
      val s = vs.sorted
      val pos = (s.length - 1) * 0.5
      val (lo, frac) = (pos.toInt, pos - pos.toInt)
      val raw = if (lo + 1 < s.length) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val base = agg.build().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    base.groupBy(_._1).foreach { case (g, rows) =>
      val seq = rows.sortBy(_._2)
      seq.zipWithIndex.foreach { case ((_, b, _), i) =>
        val win = seq.slice(math.max(0, i - 6), i + 1).map(_._3)
        assert(out((g, b)) == quant(win.toArray), s"median mismatch at ($g, $b)")
      }
    }
    assert(out.size == base.length)
    // robustness: a planted spike moves the trailing MEAN but not the
    // rolling median of an odd-sized window
    val rows = (0 until 9).map(i =>
      ("m", i * day + 1L, if (i == 8) 1000.0 else 10.0, "A"))
    val planted = db(rows).sum("m", "user").granularity(day)
    val med = planted.buildRollingMedian().collect()
      .map(r => (r.getLong(1) / day, r.getDouble(4))).toMap
    val mean = planted.buildTrailing().collect()
      .map(r => (r.getLong(1) / day, r.getDouble(4))).toMap
    assert(med(8) == 10.0, "one spike must not move the rolling median")
    assert(mean(8) > 100.0, "the trailing mean must show the spike (the contrast)")
  }

  test("seriesChurn: planted lifecycle; births and deaths each sum to series count") {
    val day = 86400L * 1000000000L
    // A lives days 0-2, B days 1-1 (one-day series: born AND died on
    // day 1), C days 2-4
    val rows = Seq(("m", 0L * day + 1, 1.0, "A"), ("m", 2 * day + 1, 1.0, "A"),
      ("m", 1 * day + 1, 1.0, "B"),
      ("m", 2 * day + 1, 1.0, "C"), ("m", 4 * day + 1, 1.0, "C"))
    val out = db(rows).seriesChurn("m", day).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(0L * day -> ((1L, 0L)), 1 * day -> ((1L, 1L)),
      2 * day -> ((1L, 1L)), 4 * day -> ((0L, 1L))))
    // corpus invariant: Σbirths == Σdeaths == distinct series count
    val churn = Db.fromEvents(spark, sfDir).seriesChurn("view", day).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nSeries = Db.fromEvents(spark, sfDir).frame
      .where(col("metric") === "view")
      .select(col("tag_user"), col("tag_k")).distinct().count()
    assert(churn.map(_._2).sum == nSeries && churn.map(_._3).sum == nSeries)
    assert(churn.map(_._1).distinct.length == churn.length)
  }

  test("outageRuns: islands reassemble the absent set; planted two-run series") {
    val day = 86400L * 1000000000L
    // series A present on days 0,1,5,6,9 of a 0..9 global spine:
    // outages are [2..4] (len 3) and [7..8] (len 2); B present on all
    // ten days (defines the spine), no runs
    val rows = Seq(0, 1, 5, 6, 9).map(i => ("m", i * day + 1L, 1.0, "A")) ++
      (0 until 10).map(i => ("m", i * day + 1L, 1.0, "B"))
    val out = db(rows).outageRuns("m", day).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(out == Seq(("A", 2 * day, 3L), ("A", 7 * day, 2L)))
    // on the real corpus: runs partition the absent pairs exactly
    val corpus = Db.fromEvents(spark, sfDir)
    val runs = corpus.outageRuns("purchase", day).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val absentPairs = corpus.absent("purchase", day).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(runs.map(_._4).sum == absentPairs.size,
      "run lengths must partition the absent set")
    runs.foreach { case (u, k, start, len) =>
      (0L until len).foreach(i =>
        assert(absentPairs.contains((u, k, start + i * day)),
          s"run ($u,$k,$start,$len) covers a present bucket"))
      // maximality: the bucket before and after each run is present
      assert(!absentPairs.contains((u, k, start - day)), "run not maximal left")
      assert(!absentPairs.contains((u, k, start + len * day)), "run not maximal right")
    }
  }

  test("cusum: planted sustained shift alarms; the stable sibling never does") {
    val day = 86400L * 1000000000L
    // A: flat 10.0 for 30 days (σ=0 — the degenerate-quiet case);
    // B: 10.0 for 25 days then a 5-day +2.7σ-total drift to 13.0 — the
    // incident is SHORT relative to history, so the calibration's
    // lower threshold sits below the baseline and the pre-shift
    // segment stays quiet (a balanced 15/15 step would correctly trip
    // the LOW side pre-shift: both halves drift vs the global mean)
    val rows = (0 until 30).flatMap { i =>
      Seq(("m", i * day + 1L, 10.0, "A"),
        ("m", i * day + 1L, if (i < 25) 10.0 else 13.0, "B"))
    }
    val out = db(rows).sum("m", "user").granularity(day)
      .buildCusum(h = 2.5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(5)))
    assert(out.count(_._1 == "A") == 30 && out.count(_._1 == "B") == 30)
    assert(!out.exists(t => t._1 == "A" && t._3), "stable series must never alarm")
    val bAlarms = out.filter(t => t._1 == "B" && t._3).map(_._2)
    assert(bAlarms.nonEmpty, "sustained +2 shift must trip the CUSUM")
    // the alarm starts strictly AFTER the shift (never before day 25)
    assert(bAlarms.min >= 25 * day, "alarm before the shift happened")
  }

  test("bollinger: planted spike breaks the band once; the band then absorbs it") {
    val day = 86400L * 1000000000L
    val rows = (0 until 30).map { i =>
      ("m", i * day + 1L, if (i == 20) 30.0 else 10.0, "A")
    }
    val out = db(rows).sum("m", "user").granularity(day)
      .buildBollinger().collect()
      .map(r => (r.getLong(1) / day, r.getBoolean(8))).toMap
    assert(out(20), "the spike bucket must break the trailing band")
    // before the spike the series is flat (σ=0, strict compare: quiet);
    // after, the spike sits INSIDE the window and widens the band
    assert((0 until 20).forall(i => !out(i)), "flat prefix must stay quiet")
    assert((21 until 27).forall(i => !out(i)),
      "the widened band must absorb the level the spike set")
  }

  test("burnRate: planted fast burn pages during the incident and stops after") {
    val day = 86400L * 1000000000L
    // 100 views/day throughout; 1 error/day except a 3-day incident of
    // 50/day at days 10-12 (ratio 0.5 ≫ the 0.1 budget)
    val rows = (0 until 20).flatMap { i =>
      val errs = if (i >= 10 && i <= 12) 50 else 1
      (0 until 100).map(j => ("view", i * day + j * 1000L + 1L, 1.0, "A")) ++
        (0 until errs).map(j => ("error", i * day + j * 1000L + 2L, 1.0, "A"))
    }
    val out = db(rows).burnRate("error", "view", "user", day).collect()
      .map(r => (r.getLong(1) / day, r.getBoolean(6))).toMap
    assert((10 to 12).forall(out(_)), "every incident day must page")
    assert((0 until 10).forall(i => !out(i)), "pre-incident days must stay quiet")
    // two days after the incident leaves the 3-bucket long window,
    // paging stops even though the short window alone would have
    // stopped immediately — the dual-window contract both ways
    assert((15 until 20).forall(i => !out(i)), "post-window days must stay quiet")
  }

  test("burnRate: brute dual-window recompute; alarms non-degenerate") {
    val day = 86400L * 1000000000L
    val out = Db.fromEvents(spark, sfDir).burnRate("error", "view", "user", day)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          r.getBoolean(6)))).toMap
    assert(out.nonEmpty)
    val ev = Db.fromEvents(spark, sfDir).frame
      .where(col("metric").isin("error", "view") && col("tag_user").isNotNull)
      .select(col("tag_user"), col("ts"), col("metric")).collect()
      .map(r => (r.getString(0), r.getLong(1) / day * day, r.getString(2)))
    val counts = ev.groupBy(e => (e._1, e._2)).map { case (k, rows) =>
      (k._1, k._2, rows.count(_._3 == "error").toLong,
        rows.count(_._3 == "view").toLong)
    }.toArray
    def burn(e: Long, t: Long): Option[Double] =
      if (t == 0L) None else Some((e.toDouble / t.toDouble) / (1.0 - 0.9))
    var (fired, quiet) = (0, 0)
    counts.groupBy(_._1).foreach { case (g, rows) =>
      val seq = rows.sortBy(_._2)
      seq.zipWithIndex.foreach { case ((_, b, ne, nt), i) =>
        val win = seq.slice(math.max(0, i - 2), i + 1)
        val (el, tl) = (win.map(_._3).sum, win.map(_._4).sum)
        val (bs, bl) = (burn(ne, nt), burn(el, tl))
        val alarm = bs.exists(_ > 1) && bl.exists(_ > 1)
        assert(out((g, b)) == ((ne, nt, bs, bl, alarm)), s"burn mismatch at ($g, $b)")
        if (alarm) fired += 1 else quiet += 1
      }
    }
    assert(fired + quiet == out.size)
    assert(fired > 0 && quiet > 0,
      s"degenerate alarm split ($fired fired / $quiet quiet); the gate proves nothing")
  }

  test("share partitions each bucket's mass; exact under repartition") {
    val day = Duration.days(1)
    val d = db(Seq(
      ("m", 1L, 1.0, "a"), ("m", 2L, 2.0, "a"),   // a: 3 of 12 → 0.25
      ("m", 3L, 9.0, "b"),                        // b: 9 of 12 → 0.75
      ("m", day + 1L, 5.0, "a")))                 // sole series → 1.0
    val out = d.share("m", "user").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(("a", 0L)) == ((3.0, 0.25)))
    assert(out(("b", 0L)) == ((9.0, 0.75)))
    assert(out(("a", day)) == ((5.0, 1.0)))
    // shares within a bucket sum to exactly 1 (exact decimal denominator)
    val byBucket = out.groupBy(_._1._2).view.mapValues(_.values.map(_._2).sum)
    byBucket.foreach { case (b, s) => assert(s == 1.0, s"bucket $b") }
    val shuffled = new Db(d.frame.repartition(5)).share("m", "user")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(shuffled == out)
  }

  test("apdex scores satisfied/tolerating/frustrated with the standard weights") {
    val d = db(Seq(
      ("m", 1L, 10.0, "u"),   // satisfied (≤ 60)
      ("m", 2L, 60.0, "u"),   // satisfied (boundary inclusive)
      ("m", 3L, 61.0, "u"),   // tolerating
      ("m", 4L, 240.0, "u"),  // tolerating (boundary inclusive)
      ("m", 5L, 241.0, "u"),  // frustrated
      ("m", 6L, 999.0, "u"))) // frustrated
    val out = d.apdex("m", "user", 60.0).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(2) == 6L && r.getLong(3) == 2L && r.getLong(4) == 2L)
    // (2·2 + 2) / (2·6) = 0.5
    assert(r.getDouble(5) == 0.5)
  }

  test("alerts: pending until forBuckets consecutive breaches; gaps reset the clock") {
    val day = Duration.days(1)
    // series u: breach days 0,1,2,3 (fires on 2,3), clean day 4,
    // breach 5 (pending again), MISSING day 6, breach 7 (gap resets)
    val rows = Seq(0, 1, 2, 3, 5, 7).map(i => ("m", i * day + 1L, 100.0, "u")) ++
      Seq(("m", 4 * day + 1L, 10.0, "u")) ++
      // series v never crosses: must not appear at all
      Seq(("m", 1L, 50.0, "v"))
    val out = db(rows).alerts("m", "user", 60.0).collect()
      .map(r => (r.getString(0), r.getLong(1) / day) ->
        ((r.getLong(3), r.getString(4)))).toMap
    assert(!out.keys.exists(_._1 == "v"), "non-breaching series emits nothing")
    assert(!out.contains(("u", 4L)), "clean bucket emits nothing")
    assert(out(("u", 0L)) == ((1L, "pending")))
    assert(out(("u", 1L)) == ((2L, "pending")))
    assert(out(("u", 2L)) == ((3L, "firing")))
    assert(out(("u", 3L)) == ((4L, "firing")))
    assert(out(("u", 5L)) == ((1L, "pending")), "clean day resets the run")
    assert(out(("u", 7L)) == ((1L, "pending")), "a DATA GAP resets the run")
    assert(out.size == 6)
  }

  test("errorBudget: exact single-division chain; blown windows go negative") {
    val d = db(
      (1 to 100).map(i => ("m", i.toLong, 10.0, "ok")) ++      // 0 bad → 1.0
      (1 to 100).map(i => ("m", i.toLong,
        if (i <= 2) 999.0 else 10.0, "blown")))                 // 2 bad of 100
    val out = d.errorBudget("m", "user", 60.0).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(out("ok") == ((100L, 0L, 1.0)))
    // (100 − 100·2)/100 = −1.0: the budget is blown 2×
    assert(out("blown") == ((100L, 2L, -1.0)))
  }

  test("ewmaBacktest: known chain yields exact MAE; errors decimal-summed") {
    val d = db(Seq(
      ("m", 1L, 10.0, "u"), ("m", 2L, 20.0, "u"), ("m", 3L, 30.0, "u"),
      ("m", 9L, 5.0, "v")))  // single point: no prediction, no row
    val out = d.ewmaBacktest("m").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // ewma(10,20,30 | α=.3) = 10, 13, 18.1 → preds 10, 13 → errs 10, 17
    assert(out("u") == ((2L, 13.5)))
    assert(!out.contains("v"))
  }

  test("fleetZscore scores each series against the bucket's cross-series stats") {
    val day = Duration.days(1)
    val d = db(Seq(
      ("m", 1L, 4.0, "a"), ("m", 2L, 6.0, "a"), // a: total 10
      ("m", 3L, 20.0, "b"),                     // b: total 20 → μ=15 σ=5
      ("m", day + 1L, 7.0, "solo")))            // one-series fleet → NULL
    val out = d.fleetZscore("m", "user").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2),
          Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)))).toMap
    assert(out(("a", 0L)) == ((10.0, Some(-1.0))))
    assert(out(("b", 0L)) == ((20.0, Some(1.0))))
    assert(out(("solo", day))._2.isEmpty)
    val shuffled = new Db(d.frame.repartition(5)).fleetZscore("m", "user")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)).toMap
    assert(shuffled == out.view.mapValues(_._2).toMap)
  }

  test("seasonalZscore scores daily totals against the same-weekday profile") {
    val day = Duration.days(1)
    // series u: week 1 totals 10/day, week 2 totals 20/day — every
    // weekday profile is {10, 20}: μ=15, σ=5, z = ∓1. Two points per
    // day prove the total (not the point) is what gets scored.
    // series v: constant totals → σ=0 → NULL.
    val rows = (0 until 14).flatMap { i =>
      val v = if (i < 7) 10.0 else 20.0
      Seq(("m", i * day + 5L, v - 1.0, "u"), ("m", i * day + 6L, 1.0, "u"),
        ("m", i * day + 7L, 7.0, "v"))
    }
    val d = db(rows)
    val out = d.seasonalZscore("m", "user").collect()
    val u = out.filter(_.getString(0) == "u")
      .map(r => r.getLong(1) / day ->
        ((r.getLong(2), r.getDouble(3),
          Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)))).toMap
    assert(u.size == 14)
    (0 until 14).foreach { i =>
      val (dow, value, z) = u(i.toLong)
      assert(dow == (i + 4) % 7, s"day $i dow")
      assert(value == (if (i < 7) 10.0 else 20.0), s"day $i total")
      assert(z.contains(if (i < 7) -1.0 else 1.0), s"day $i z")
    }
    out.filter(_.getString(0) == "v").foreach { r =>
      assert(r.isNullAt(4), "constant weekday profile must yield NULL z")
    }
    // exact decimal sums: identical bits under any partitioning
    val shuffled = new Db(d.frame.repartition(7))
      .seasonalZscore("m", "user").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)).toMap
    val base = out.map(r => (r.getString(0), r.getLong(1)) ->
      Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)).toMap
    assert(shuffled == base)
  }
}
