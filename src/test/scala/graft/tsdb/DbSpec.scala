package graft.tsdb

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DbSpec extends SparkSpec {
  lazy val db: Db = Db.fromEvents(spark, sfDir)

  test("fromEvents works on a fresh session (no special confs)") {
    // the driver smoke-checks entry() on its own session; fromEvents
    // must not depend on session state beyond the UTC timezone
    val s2 = spark.newSession()
    val db2 = Db.fromEvents(s2, sfDir)
    assert(db2.frame.count() > 0)
    assert(graft.SparkEntry.entry(s2).count() > 0)
  }

  test("series frame has canonical schema") {
    assert(db.frame.columns.toSeq == Seq("metric", "ts", "value", "tag_user", "tag_k"))
    assert(db.frame.schema("ts").dataType.typeName == "long")
  }

  test("avg buckets: n and value consistent with raw scan") {
    val out = db.avg("purchase", "user").granularity(Duration.days(1)).build().collect()
    assert(out.nonEmpty)
    val totalN = out.map(_.getAs[Long]("n")).sum
    val rawN = db.scan("purchase").where(col("tag_user").isNotNull).count()
    assert(totalN == rawN)
    // one spot value: recompute avg for one (grp, bucket) by hand
    val r = out.head
    val w = Duration.days(1)
    val manual = db.scan("purchase")
      .where(col("tag_user") === r.getAs[String]("grp"))
      .where(expr(s"ts div ${w}L") * w === r.getAs[Long]("bucket_start"))
      .agg(avg("value")).collect()(0).getDouble(0)
    assert(math.abs(manual - r.getAs[Double]("value")) < 1e-4)
  }

  test("buildWithBounds emits bucket end and middle (reference Bucket parity)") {
    val w = Duration.days(1)
    val out = db.avg("purchase", "user").granularity(w).buildWithBounds().collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val s = r.getAs[Long]("bucket_start")
      assert(r.getAs[Long]("bucket_end") == s + w)
      // reference middle(): start + (end - start)/2
      assert(r.getAs[Long]("bucket_middle") == s + w / 2)
    }
  }

  test("filter DSL restricts rows and NOT complements") {
    val all = db.scan("error").count()
    val not1 = db.scan("error", "!user:1*").count()
    val yes1 = db.scan("error", "user:1*").count()
    assert(not1 + yes1 == all)
  }

  test("count agg equals scan count") {
    val out = db.count("signup", "user").granularity(Duration.days(7)).build()
    val sumN = out.agg(sum("n")).collect()(0).getLong(0)
    assert(sumN == db.scan("signup").where(col("tag_user").isNotNull).count())
  }

  test("latest returns at most n per series, newest first") {
    val out = db.latest("purchase", 3)
    val maxPer = out.groupBy("tag_user", "tag_k").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPer <= 3)
  }

  test("relative bounds resolve against the injected clock (start/end_relative parity)") {
    val now = 1705708800000000000L // fixed "wall clock": 2024-01-20
    val window = Duration.days(10)
    val rel = db.sum("purchase", "user").withClock(() => now)
      .startRelative(window).granularity(Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    val abs = db.sum("purchase", "user").start(now - window)
      .granularity(Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    assert(rel.nonEmpty && rel.sameElements(abs))
    val relEnd = db.sum("purchase", "user").withClock(() => now)
      .endRelative(window).granularity(Duration.days(1)).build().collect()
    val absEnd = db.sum("purchase", "user").end(now - window)
      .granularity(Duration.days(1)).build().collect()
    assert(relEnd.map(_.toString).sorted.sameElements(absEnd.map(_.toString).sorted))
  }

  test("metric names are validated at the query boundary") {
    assertThrows[IllegalArgumentException](db.avg("CPU total", "user"))
    assertThrows[IllegalArgumentException](db.scan("bad-metric!"))
    assertThrows[IllegalArgumentException](db.latest("UPPER", 1))
    // valid but absent metric: empty result, not an error
    assert(db.avg("cpu.total_x", "user").build().count() == 0)
  }

  test("unknown tag keys: filters match nothing, group-by returns empty (no AnalysisException)") {
    assert(db.scan("purchase", "nosuchtag:x").count() == 0)
    assert(db.scan("purchase", "nosuchtag:x*").count() == 0)
    // NOT over an unknown tag matches everything (complement of empty)
    assert(db.scan("purchase", "!nosuchtag:x").count() == db.scan("purchase").count())
    assert(db.avg("purchase", "nosuchtag").granularity(Duration.days(1)).build().count() == 0)
  }

  test("introspection: metrics, series, tagKeys") {
    val ms = db.metrics.collect().map(_.getString(0)).sorted
    assert(ms.contains("purchase") && ms.length >= 2)
    val series = db.series("purchase")
    assert(series.columns.toSeq == Seq("metric", "tag_k", "tag_user"))
    val n = series.count()
    assert(n > 0 && n <= db.scan("purchase").count())
    assert(db.tagKeys("purchase").toSet == Set("user", "k"))
    // a declared-but-never-present tag is not reported
    val db3 = Db.fromEvents(spark, sfDir, propsTags = Seq("k", "zz"))
    assert(db3.tagKeys("purchase").toSet == Set("user", "k"))
  }

  test("fromEventsAuto discovers props keys from data") {
    val auto = Db.fromEventsAuto(spark, sfDir)
    assert(auto.frame.columns.contains("tag_k"))
    assert(auto.scan("purchase", "k:1*").count() ==
      db.scan("purchase", "k:1*").count())
  }

  test("concurrent queries on a shared session return identical results") {
    // the reference is an embedded DB queried from many threads; the
    // Spark re-expression must serve a shared session the same way
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val expected = db.avg("purchase", "user").granularity(Duration.days(1))
      .build().collect().map(_.toString).sorted.toSeq
    val futs = (1 to 8).map { i =>
      Future {
        if (i % 2 == 0)
          db.avg("purchase", "user").granularity(Duration.days(1))
            .build().collect().map(_.toString).sorted.toSeq
        else {
          graft.operators.Dedup.exact(spark, sfDir).count() // interleave other work
          db.avg("purchase", "user").granularity(Duration.days(1))
            .build().collect().map(_.toString).sorted.toSeq
        }
      }
    }
    // generous bound: the wall-clock here depends on host load, not us
    val all = Await.result(Future.sequence(futs), scala.concurrent.duration.Duration(600, "s"))
    all.foreach(a => assert(a == expected))
  }

  test("range bounds are inclusive") {
    val lo = 1704844800000000000L // 2024-01-10
    val hi = 1705708800000000000L // 2024-01-20
    val c = db.scan("purchase", minTs = Some(lo), maxTs = Some(hi))
      .agg(min("ts"), max("ts")).collect()(0)
    assert(c.getLong(0) >= lo && c.getLong(1) <= hi)
  }

  test("scan and aggregate inputs filter in one where, optimised as the chained wheres") {
    def optimized(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.canonicalized
    val (m, f, g) = ("purchase", "(k:1* AND !user:2*)", "user")
    val lo = 1704067200000000000L // 2024-01-01
    val hi = lo + Duration.days(10)
    def chained(d: Db, lo: Option[Long], hi: Option[Long]) = {
      var df = d.frame.where(col("metric") === lit(m))
      lo.foreach(t => df = df.where(col("ts") >= lit(t)))
      hi.foreach(t => df = df.where(col("ts") <= lit(t)))
      df.where(FilterParser.compileString(f, d.tagCol))
    }
    for ((l, h) <- Seq((None, None), (Some(lo), None), (Some(lo), Some(hi)))) {
      assert(optimized(db.scan(m, f, l, h)) == optimized(chained(db, l, h)), s"scan $l $h")
      val b = AggBuilder(db, AggKind.Avg, m, g, f, l, h)
      assert(optimized(b.input) == optimized(db.smallInputRoute(m,
        chained(db, l, h).where(db.tagCol(g).isNotNull))), s"input $l $h")
    }
    val rollup = new Rollup(db.frame, Duration.hours(1))
    assert(optimized(rollup.input(m, g, f)) == optimized(rollup.smallInputRoute(m,
      rollup.frame.where(col("metric") === lit(m))
        .where(FilterParser.compileString(f, db.tagCol))
        .where(db.tagCol(g).isNotNull))))
  }
}
