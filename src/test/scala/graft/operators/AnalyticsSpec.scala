package graft.operators

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec with TempDirSpec {

  test("q1 aggregates per (returnflag, linestatus)") {
    val out = Analytics.q1(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 9)
    assert(out.forall(r => r.getAs[Long]("count_order") > 0))
  }

  test("bucketed fact tables make q3 fully exchange-free with identical results") {
    for (tbl <- Seq("graft_lineitem_b", "graft_orders_b", "graft_customer_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = java.nio.file.Paths.get("spark-warehouse", tbl)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Analytics.bucketFacts(spark, sfDir, buckets = 4)
    // one file per bucket: Spark trusts a bucket's sortBy order only
    // when the bucket is a single file
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    for (tbl <- Seq("graft_lineitem_b", "graft_orders_b", "graft_customer_b")) {
      val files = new java.io.File(warehouse, tbl).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"$tbl holds $files parquet files, expected one per bucket")
    }
    val bucketed = Analytics.q3Bucketed(spark, sfDir)
    val plan = bucketed.queryExecution.executedPlan.toString
    // the fact-fact join AND the aggregation ride the bucketing: no
    // shuffle exchange anywhere (broadcast exchange for the dim is fine)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"shuffle exchange in bucketed q3 plan:\n${plan.take(3000)}")
    val a = bucketed.collect().map(_.toString).sorted
    val b = Analytics.q3(spark, sfDir).collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))

    // q5 over the same layout: the fact-fact join rides the bucketing —
    // no exchange on the order key anywhere. The remaining exchanges
    // are the custkey pre-agg (whose distribution the customer join
    // reuses), the un-hinted customer side, and the final n_name agg.
    val b5 = Analytics.q5Bucketed(spark, sfDir)
    val p5 = b5.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p5).length
    assert(shuffles <= 3,
      s"expected at most pre-agg + customer + final-agg exchanges, got $shuffles:\n${p5.take(3000)}")
    assert(!p5.contains("hashpartitioning(l_orderkey") &&
      !p5.contains("hashpartitioning(o_orderkey"),
      "fact tables must not shuffle on the order key")
    val a5 = b5.collect().map(_.toString).sorted
    val r5 = Analytics.q5(spark, sfDir).collect().map(_.toString).sorted
    assert(a5.nonEmpty && a5.sameElements(r5))

    // q21 over the same layout: the order-key join AND the order-grain
    // aggregate both ride the bucketing — zero exchanges touch fact
    // data; only the supplier-grain count shuffles
    val b21 = Analytics.q21Bucketed(spark, sfDir)
    val p21 = b21.queryExecution.executedPlan.toString
    assert(!p21.contains("hashpartitioning(l_orderkey") &&
      !p21.contains("hashpartitioning(o_orderkey"),
      s"fact data must not shuffle in q21Bucketed:\n${p21.take(3000)}")
    val a21 = b21.collect().map(_.toString).sorted
    val r21 = Analytics.q21Waiting(spark, sfDir).collect().map(_.toString).sorted
    assert(a21.nonEmpty && a21.sameElements(r21))

    // q9 over the same layout: its ONLY fact-grain exchange was the
    // lineitem x orders order-key shuffle — bucketed on that key, the
    // plan has ZERO fact-key exchanges; results bit-identical
    val b9 = Analytics.q9Bucketed(spark, sfDir)
    val p9 = b9.queryExecution.executedPlan.toString
    assert(!p9.contains("hashpartitioning(l_orderkey") &&
      !p9.contains("hashpartitioning(o_orderkey"),
      s"fact tables must not shuffle on the order key in q9Bucketed:\n${p9.take(3000)}")
    val a9 = b9.collect().map(_.toString).sorted
    val r9 = Analytics.q9Profit(spark, sfDir).collect().map(_.toString).sorted
    assert(a9.nonEmpty && a9.sameElements(r9))

    // co-bucketed customer: q5's last per-query table shuffle is gone —
    // the customer scan rides its bucketing (no exchange on c_custkey
    // anywhere), and the only custkey exchange left is the aggregated
    // PAIR frame aligning to the customer bucket layout
    val c5 = Analytics.q5CoBucketed(spark, sfDir)
    val pc5 = c5.queryExecution.executedPlan.toString
    assert(!pc5.contains("hashpartitioning(c_custkey"),
      s"customer table must never shuffle in q5CoBucketed:\n${pc5.take(3000)}")
    assert(!pc5.contains("hashpartitioning(l_orderkey") &&
      !pc5.contains("hashpartitioning(o_orderkey"),
      "fact tables must not shuffle on the order key")
    assert(pc5.contains("Bucketed: true"),
      s"customer side must be a bucketed scan:\n${pc5.take(3000)}")
    val ac5 = c5.collect().map(_.toString).sorted
    assert(ac5.nonEmpty && ac5.sameElements(r5))
  }

  test("q7: nation sides broadcast, only fact exchange is the order key; q14: year filter pushed, part broadcast") {
    // a nation pair that actually trades at this tiny SF (the entry's
    // default pair is exercised by the sf0.01 driver gate)
    val q7 = Analytics.q7Volume(spark, sfDir, "NATION_18", "NATION_19")
    val p7 = q7.queryExecution.executedPlan.toString
    // both filtered nation-tagged key lists ride broadcast joins
    assert("BroadcastHashJoin".r.findAllIn(p7).size >= 2, p7.take(2000))
    // the lineitem x orders join is hint-free (the q5 convention):
    // AQE may broadcast tiny orders at this SF, but the plan never
    // forces it — at scale it degrades to the one order-key shuffle
    val orderJoins = q7.queryExecution.optimizedPlan.toString
      .linesIterator.filter(l => l.contains("Join") && l.contains("o_orderkey"))
      .toSeq
    assert(orderJoins.nonEmpty,
      q7.queryExecution.optimizedPlan.toString.take(3000))
    assert(orderJoins.forall(!_.contains("broadcast")), orderJoins.mkString("\n"))
    // cross-nation rows only, restricted to the two named nations
    val rows = q7.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0) != r.getString(1)))
    assert(rows.flatMap(r => Seq(r.getString(0), r.getString(1))).toSet
      .subsetOf(Set("NATION_18", "NATION_19")))
    val q14 = Analytics.q14Promo(spark, sfDir)
    val p14 = q14.queryExecution.executedPlan.toString
    assert(p14.contains("BroadcastHashJoin"), p14.take(2000))
    val out = q14.collect()
    assert(out.length == 1)
    val pct = out(0).getDouble(0)
    assert(pct > 0.0 && pct < 100.0, s"promo_pct $pct")
  }

  test("q3 and q5 use broadcast joins; q5 never broadcast-hints customer") {
    val p3 = Analytics.q3(spark, sfDir).queryExecution.executedPlan.toString
    val q5 = Analytics.q5(spark, sfDir)
    val p5 = q5.queryExecution.executedPlan.toString
    assert(p3.contains("BroadcastHashJoin"))
    assert(p5.contains("BroadcastHashJoin")) // supplier/nation/region dims
    // customer must carry NO broadcast hint (size estimates / AQE may
    // still pick broadcast at tiny SF — the point is the PLAN never
    // forces it): the optimized logical Join on c_custkey is hint-free
    val custJoins = q5.queryExecution.optimizedPlan.toString
      .linesIterator.filter(l => l.contains("Join") && l.contains("c_custkey")).toSeq
    assert(custJoins.nonEmpty)
    assert(custJoins.forall(!_.contains("broadcast")),
      s"customer join must be un-hinted:\n${custJoins.mkString("\n")}")
  }

  test("rollup cube: one expand + one aggregate exchange; subtotals re-add exactly") {
    val cube = Analytics.rollupCube(spark, sfDir)
    val plan = cube.queryExecution.executedPlan.toString
    // ONE Expand feeding ONE aggregate exchange: all grouping sets share
    // a single scan + shuffle (never a job per grouping set)
    assert("Expand".r.findAllIn(plan).length >= 1)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    val rows = cube.collect()
    val detail = rows.filter(_.getAs[Long]("gid") == 0L)
    val perYear = rows.filter(_.getAs[Long]("gid") == 1L)
    val grand = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1)
    assert(grand(0).getAs[Long]("n_orders") == detail.map(_.getAs[Long]("n_orders")).sum)
    // per-year subtotals equal the sum of their detail rows (counts are
    // exact; sums are decimal-exact so doubles compare equal)
    perYear.foreach { y =>
      val ds = detail.filter(_.getAs[Long]("o_year") == y.getAs[Long]("o_year"))
      assert(y.getAs[Long]("n_orders") == ds.map(_.getAs[Long]("n_orders")).sum)
      assert(math.abs(y.getAs[Double]("sum_price") -
        ds.map(_.getAs[Double]("sum_price")).sum) < 1e-4)
    }
  }

  test("cube and custom grouping sets share the one-Expand one-exchange plan") {
    val cube = Analytics.cubeAgg(spark, sfDir)
    val pc = cube.queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(pc).length >= 1)
    assert("Exchange hashpartitioning".r.findAllIn(pc).length == 1, pc)
    val gs = Analytics.groupingSetsAgg(spark, sfDir)
    val pg = gs.queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(pg).length >= 1)
    assert("Exchange hashpartitioning".r.findAllIn(pg).length == 1, pg)

    val cubeRows = gid(cube)
    val rollupRows = gid(Analytics.rollupCube(spark, sfDir))
    // CUBE ⊇ ROLLUP: the rollup's three set families are in the cube
    // verbatim, plus the per-priority margin (gid=2) rollup lacks
    Seq(0L, 1L, 3L).foreach(g => assert(cubeRows(g) == rollupRows(g)))
    assert(cubeRows.contains(2L) && !rollupRows.contains(2L))
    // custom sets = EXACTLY detail + per-priority margin: no per-year
    // subtotals, no grand total — the point of not paying for a CUBE
    val gsRows = gid(gs)
    assert(gsRows.keySet == Set(0L, 2L))
    assert(gsRows(0L) == cubeRows(0L) && gsRows(2L) == cubeRows(2L))
    // per-priority margins re-add to the detail counts exactly
    val detailByPrio = gs.collect().filter(_.getAs[Long]("gid") == 0L)
      .groupBy(_.getAs[String]("o_orderpriority"))
      .view.mapValues(_.map(_.getAs[Long]("n_orders")).sum).toMap
    gs.collect().filter(_.getAs[Long]("gid") == 2L).foreach { m =>
      assert(m.getAs[Long]("n_orders") ==
        detailByPrio(m.getAs[String]("o_orderpriority")))
    }
  }

  private def gid(df: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] =
    df.collect().groupBy(_.getAs[Long]("gid"))
      .view.mapValues(_.map(_.toString).toSet).toMap

  test("topk returns at most k per brand with contiguous ranks") {
    val out = Analytics.topkPerBrand(spark, sfDir, 3)
    val per = out.groupBy("p_brand").count().agg(max("count")).collect()(0).getLong(0)
    assert(per <= 3)
    assert(out.where(col("rnk") > 3).count() == 0)
  }

  test("sessionize: session ids start at 1 and are monotone per user") {
    val out = Analytics.sessionize(spark, sfDir)
    val firsts = out.groupBy("user_id").agg(min("session_id").as("m")).collect()
    assert(firsts.forall(_.getAs[Long]("m") == 1L))
    val rowsTotal = out.count()
    assert(rowsTotal == spark.read.parquet(s"$sfDir/events.parquet").count())
  }

  test("eventTransitions matches a driver-side Markov recompute; rows sum to 1 per src") {
    val out = Analytics.eventTransitions(spark, sfDir).collect()
    assert(out.nonEmpty)
    // brute force: per user order by (ts, event_id), count adjacent pairs
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val ev = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val brute = ev.groupBy(_._1).values.flatMap { rows =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4).toSeq
      seq.zip(seq.drop(1))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == brute)
    // p is the exact-count quotient, and per-src rows partition the mass
    val srcTot = brute.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    out.foreach { r =>
      assert(r.getDouble(3) ==
        r.getLong(2).toDouble / srcTot(r.getString(0)).toDouble)
    }
    out.groupBy(_.getString(0)).values.foreach { rows =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    }
    // output is the transition matrix: bounded by |event_type|^2
    val nTypes = ev.map(_._4).distinct.length.toLong
    assert(out.length.toLong <= nTypes * nTypes)
  }

  test("retention: offset-0 cell equals the cohort's signup count") {
    val ret = Analytics.retention(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ret.nonEmpty)
    // the signup event itself is activity at offset 0, so cell (c, 0)
    // counts every distinct signer-upper of cohort week c
    val weekNs = 7L * 86400L * 1000000000L
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val cohorts = raw
      .select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_type"))
      .where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min("ts").as("t0"))
      .groupBy((expr(s"t0 div ${weekNs}L") * lit(weekNs)).as("w"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cohorts.foreach { case (w, n) =>
      assert(ret.get((w, 0L)).contains(n), s"cohort $w: ${ret.get((w, 0L))} != $n")
    }
    // retention never exceeds the cohort size at any offset
    ret.foreach { case ((w, _), n) => assert(n <= cohorts(w)) }
  }

  test("session_window sessions match the lag-chain sessionize per user") {
    val sw = Analytics.sessionWindows(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("n_events").as("ev"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lag = Analytics.sessionize(spark, sfDir)
      .groupBy("user_id").agg(max("session_id").as("n"), count(lit(1)).as("ev"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sw.nonEmpty && sw == lag,
      "built-in session_window and the window-function chain must agree")
  }

  test("funnel steps: totals shrink monotonically and step 0 equals the funnel cohort") {
    val out = Analytics.funnelSteps(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_users")).toMap
    assert(out.nonEmpty)
    val perStep = out.groupBy(_._1._2).view
      .mapValues(_.values.sum).toMap
    (1L until 3L).foreach { i =>
      assert(perStep.getOrElse(i, 0L) <= perStep(i - 1),
        s"step $i total ${perStep.get(i)} exceeds step ${i - 1} ${perStep(i - 1)}")
    }
    // per cohort too: a later step never beats an earlier one
    out.foreach { case ((day, i), n) =>
      if (i > 0) assert(n <= out.getOrElse((day, i - 1), 0L))
    }
    // step 0 is exactly the funnel's signup cohort
    val funnelCohorts = Analytics.funnel(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_signups")).toMap
    funnelCohorts.foreach { case (day, n) =>
      assert(out.get((day, 0L)).contains(n))
    }
  }

  test("active users: dau/wau equal the naive per-day and trailing-window distincts") {
    val dayNs = 86400L * 1000000000L
    val out = Analytics.activeUsers(spark, sfDir).collect()
      .map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"))).toMap
    assert(out.nonEmpty)
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val byDay = raw
      .select(graft.tsdb.Db.tsNs(raw.schema).as("ts"), col("user_id"))
      .select((expr(s"ts div ${dayNs}L") * lit(dayNs)).as("day"), col("user_id"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(out.keySet == byDay.keySet, "one output row per day with events")
    out.foreach { case (d, (dau, wau)) =>
      assert(dau == byDay(d).size)
      val naive = (0 until 7).flatMap(k => byDay.getOrElse(d - k * dayNs,
        Set.empty[Long])).toSet.size
      assert(wau == naive, s"day $d: wau $wau != naive $naive")
      assert(wau >= dau)
    }
  }

  test("session stats: per-day session counts and event totals are conserved") {
    val stats = Analytics.sessionStats(spark, sfDir)
    val sess = Analytics.sessionize(spark, sfDir)
    val nSessions = sess.select("user_id", "session_id").distinct().count()
    val nEvents = sess.count()
    val agg = stats.agg(sum("n_sessions"), sum("n_events")).collect()(0)
    assert(agg.getLong(0) == nSessions, "every session starts on exactly one day")
    assert(agg.getLong(1) == nEvents, "every event belongs to exactly one session")
    stats.collect().foreach { r =>
      assert(r.getAs[Double]("avg_events") >= 1.0)
      assert(r.getAs[Double]("avg_dur_ns") >= 0.0)
    }
  }

  test("pivotDaily: declared-value pivot matches the long-form counts, absent cells are 0") {
    val dayNs = 86_400_000_000_000L
    val wide = Analytics.pivotDaily(spark, sfDir).collect()
      .map(r => r.getAs[Long]("day") -> Seq("click", "error", "purchase", "signup", "view")
        .map(t => t -> r.getAs[Long](s"n_$t")).toMap).toMap
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val long = raw
      .select(graft.tsdb.Db.tsNs(raw.schema).as("ts"), col("event_type"))
      .groupBy((expr(s"ts div ${dayNs}L") * lit(dayNs)).as("day"), col("event_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(wide.keySet == long.keys.map(_._1).toSet, "one wide row per active day")
    // the per-cell compare includes absent cells (getOrElse 0): a NULL
    // or dropped cell would fail here; sf0.001 happens to fill every
    // cell, so no standalone zero-cell assertion (data-dependent)
    wide.foreach { case (d, cells) =>
      cells.foreach { case (t, n) =>
        assert(n == long.getOrElse((d, t), 0L), s"day $d type $t")
      }
    }
  }

  test("pivotDaily: a declared type absent from the data is a 0 column, not NULL or dropped") {
    import spark.implicits._
    val dir = s"$tempDir/pivot"
    Seq((0L, "click"), (5L, "click"), (86_400_000_000_000L, "view"))
      .toDF("ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val rows = Analytics.pivotDaily(spark, dir).collect()
      .map(r => r.getAs[Long]("day") ->
        ((r.getAs[Long]("n_click"), r.getAs[Long]("n_purchase"),
          r.getAs[Long]("n_view")))).toMap
    assert(rows == Map(
      0L -> ((2L, 0L, 0L)),
      86_400_000_000_000L -> ((0L, 0L, 1L))))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("q4 plans a LEFT SEMI (native EXISTS); anti join plans LEFT ANTI — no distinct, no re-scan") {
    val semi = Analytics.q4SemiJoin(spark, sfDir)
    val semiPlan = semi.queryExecution.executedPlan.toString
    assert(semiPlan.contains("LeftSemi"), s"no LeftSemi in:\n$semiPlan")
    // EXISTS semantics: every kept order counted once — totals bounded
    // by the date-window order count
    val window = spark.read.parquet(s"$sfDir/orders.parquet")
      .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp")).count()
    assert(semi.agg(sum("n_orders")).head().getLong(0) <= window)
    val anti = Analytics.qOrdersNoLineitem(spark, sfDir)
    val antiPlan = anti.queryExecution.executedPlan.toString
    assert(antiPlan.contains("LeftAnti"), s"no LeftAnti in:\n$antiPlan")
    // anti + inner partition the order universe
    val matched = spark.read.parquet(s"$sfDir/orders.parquet")
      .join(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey")).count()
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(anti.agg(sum("n_orders")).head().getLong(0) == total - matched)
  }

  test("q6: every predicate reaches the parquet scan") {
    val df = Analytics.q6Forecast(spark, sfDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // all four predicates must appear in PushedFilters at the scan
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate lo not pushed:\n$plan")
    assert(plan.contains("LessThan(l_shipdate"), "shipdate hi not pushed")
    assert(plan.contains("GreaterThanOrEqual(l_discount"), "discount lo not pushed")
    assert(plan.contains("LessThan(l_quantity"), "quantity cap not pushed")
    val row = df.head()
    assert(row.getAs[Long]("n_items") > 0 && row.getAs[Double]("revenue") > 0.0)
  }

  test("q8 market share: one conditional aggregate, shares in [0,1], dims broadcast") {
    val out = Analytics.q8MarketShare(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val share = r.getAs[Double]("mkt_share")
      assert(share >= 0.0 && share <= 1.0, s"share $share out of range")
      assert(r.getAs[Double]("region_revenue") > 0.0)
    }
    // one pass: exactly one aggregate pair over one joined frame — the
    // plan must not scan lineitem twice
    val plan = Analytics.q8MarketShare(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).count(_ => true) <= 5, s"re-scan in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "nation/region dims must broadcast")
  }

  test("q18 keeps exactly the HAVING-qualified orders from a single lineitem scan") {
    val out = Analytics.q18LargeVolume(spark, sfDir).collect()
    assert(out.length <= 100)
    // every output order crosses the threshold, per a brute recompute
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val qty = li.groupBy("l_orderkey")
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val ok = r.getAs[Long]("o_orderkey")
      assert(qty(ok) > 250.0, s"order $ok qty ${qty(ok)} below threshold")
      assert(r.getAs[Double]("sum_qty") == qty(ok))
    }
    // plan: the qualifying aggregate CARRIES its quantity sum, so
    // lineitem is scanned exactly once (the r08 plan re-joined the raw
    // fact to recompute the sum — a second scan + wide re-aggregate
    // that spilled a 25 GB heap at 10×) and top-100 never global-sorts
    val plan = Analytics.q18LargeVolume(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 3,
      s"expected exactly one scan each of lineitem/orders/customer in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$plan")
  }

  test("q10 top-20 returned-revenue: bounded, ordered, matches a brute recompute") {
    val out = Analytics.q10Returns(spark, sfDir).collect()
    assert(out.length <= 20 && out.nonEmpty)
    val revs = out.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)), "not revenue-descending")
    // brute-force re-derivation of the same quarter via plain SQL
    spark.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("o10")
    spark.read.parquet(s"$sfDir/lineitem.parquet").createOrReplaceTempView("l10")
    spark.read.parquet(s"$sfDir/customer.parquet").createOrReplaceTempView("c10")
    spark.read.parquet(s"$sfDir/nation.parquet").createOrReplaceTempView("n10")
    val brute = spark.sql(
      """SELECT c_custkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM c10 JOIN o10 ON c_custkey = o_custkey
        |JOIN l10 ON l_orderkey = o_orderkey
        |JOIN n10 ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("revenue"))
      .sameElements(brute))
    // the top-20 never global-sorts: plan shows TakeOrderedAndProject
    val plan = Analytics.q10Returns(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$plan")
  }

  test("q2 argmin picks the cheapest (then lowest-key) supplier per part") {
    val df = Analytics.q2MinCostSupp(spark, sfDir)
    val out = df.collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("p_partkey")).distinct.length == out.length,
      "one row per part")
    // brute recompute of one part's winner
    val sample = out.head.getAs[Long]("p_partkey")
    val brute = spark.sql(
      s"""SELECT s_suppkey,
         |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS c
         |FROM parquet.`$sfDir/lineitem.parquet`
         |JOIN parquet.`$sfDir/supplier.parquet` ON l_suppkey = s_suppkey
         |JOIN parquet.`$sfDir/nation.parquet` ON s_nationkey = n_nationkey
         |JOIN parquet.`$sfDir/region.parquet` ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND l_partkey = $sample
         |GROUP BY 1 ORDER BY c, s_suppkey LIMIT 1""".stripMargin).collect()
    val win = out.find(_.getAs[Long]("p_partkey") == sample).get
    assert(win.getAs[Long]("s_suppkey") == brute.head.getLong(0))
    assert(win.getAs[Double]("min_cost") == brute.head.getDouble(1))
    // no join-back: exactly one lineitem scan; supplier dims broadcast
    // (fresh frame: a collected AQE plan prints Final+Initial sections,
    // double-counting scans)
    val plan = Analytics.q2MinCostSupp(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 4,
      s"expected one scan each of lineitem/supplier/nation/region in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "supplier side must broadcast")
  }

  test("stacked argmin (the q2 recipe) equals brute force under tie-heavy fuzz") {
    // min(struct(cost, key)) must order by cost FIRST then key — a
    // narrow cost domain forces frequent ties so the tie-break is
    // actually exercised, and DECIMAL costs make comparisons exact
    val rnd = new scala.util.Random(2024)
    import spark.implicits._
    (1 to 3).foreach { _ =>
      val rows = (1 to 600).map { _ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(12).toLong,
          rnd.nextInt(8) / 100.0) }
      val df = rows.toDF("p", "s", "c")
        .select(col("p"), col("s"), col("c").cast("decimal(10,2)").as("c"))
        .groupBy(col("p"), col("s")).agg(min(col("c")).as("cost"))
        .groupBy(col("p")).agg(min(struct(col("cost"), col("s"))).as("best"))
        .select(col("p"), col("best.s").as("s"), col("best.cost").as("cost"))
      val got = df.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
      val brute = rows.groupBy(_._1).map { case (p, rs) =>
        val perSupp = rs.groupBy(_._2).view
          .mapValues(xs => BigDecimal(xs.map(_._3).min).setScale(2)).toSeq
        p -> perSupp.minBy { case (s, c) => (c, s) }
      }
      assert(got == brute)
    }
  }

  test("q12/q13/q19/q22 shapes: conditional counts, zero bucket, disjunction, threshold") {
    val q12 = Analytics.q12Priority(spark, sfDir).collect()
    assert(q12.nonEmpty && q12.forall(r =>
      r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count") > 0))

    val q13 = Analytics.q13OrderDist(spark, sfDir).collect()
    val total = q13.map(_.getAs[Long]("custdist")).sum
    val nCust = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(total == nCust, "histogram must partition ALL customers (incl. k=0)")

    val q19 = Analytics.q19Disjunctive(spark, sfDir).collect()
    assert(q19.length == 1 && q19.head.getAs[Long]("n_items") > 0)
    // part-side conjuncts must not collapse to a full-dim broadcast:
    // the disjunction of brands reaches the part scan as a filter
    val p19 = Analytics.q19Disjunctive(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p19.contains("BroadcastHashJoin"), "part must broadcast")

    val q22 = Analytics.q22Global(spark, sfDir).collect()
    assert(q22.nonEmpty)
    // every qualifying customer is strictly above the positive average
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val pos = cust.filter(col("c_acctbal") > 0)
      .agg(sum(expr("CAST(c_acctbal AS DECIMAL(12,2))")).cast("double"), count(lit(1)))
      .collect().head
    val avg = pos.getDouble(0) / pos.getLong(1)
    val nQual = q22.map(_.getAs[Long]("numcust")).sum
    val bruteQual = cust.filter(col("c_acctbal") > avg).count()
    assert(nQual <= bruteQual, "threshold customers bounded by the IEEE-avg count")
  }

  test("q15 reuses the supplier-revenue exchange for its scalar MAX") {
    val df = Analytics.q15TopSupplier(spark, sfDir)
    val out = df.collect()
    assert(out.nonEmpty)
    val revs = out.map(_.getAs[Double]("total_revenue")).distinct
    assert(revs.length == 1, "all rows tie at the maximum")
    // the MAX rides a window over the supplier-grain aggregate — the
    // fact is scanned once (scalar-subquery formulations scan it twice)
    val plan = Analytics.q15TopSupplier(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 2,
      s"expected one scan each of lineitem/supplier in:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "quarter predicate must reach the scan")
  }

  test("q21 attributes lone-late multi-supplier orders without a fact self-join") {
    val df = Analytics.q21Waiting(spark, sfDir)
    val out = df.collect()
    assert(out.nonEmpty)
    // brute per-order recompute on the tiny SF
    val brute = spark.sql(
      s"""WITH per_order AS (
         |  SELECT l_orderkey,
         |    COUNT(DISTINCT l_suppkey) AS n_supp,
         |    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
         |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS lone
         |  FROM parquet.`$sfDir/lineitem.parquet`
         |  JOIN parquet.`$sfDir/orders.parquet` ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F' GROUP BY 1)
         |SELECT lone, COUNT(*) FROM per_order
         |WHERE n_supp > 1 AND n_late = 1 GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("numwait") == brute(r.getAs[Long]("s_suppkey")))
    }
    // exactly one scan each of lineitem/orders/supplier — the EXISTS /
    // NOT EXISTS pair must NOT become two more lineitem scans
    val plan = Analytics.q21Waiting(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 3,
      s"fact self-join detected in:\n$plan")
  }

  test("q11/q20 scalar thresholds ride dimension-grain windows, one fact scan each") {
    val q11 = Analytics.q11ImportantStock(spark, sfDir)
    val out11 = q11.collect()
    assert(out11.nonEmpty)
    // threshold honored: every kept part's value exceeds total/1000
    val total = out11.map(_.getAs[Double]("value")).sum // upper bound check only
    out11.foreach(r => assert(r.getAs[Double]("value") * 1000 > total * 0.999,
      "kept value must clear a fraction of even the KEPT total"))
    val p11 = Analytics.q11ImportantStock(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p11).length == 4,
      s"expected one scan each of lineitem/supplier/nation/part in:\n$p11")

    val out20 = Analytics.q20PotentialPromo(spark, sfDir).collect()
    assert(out20.nonEmpty)
    val p20 = Analytics.q20PotentialPromo(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p20).length == 3,
      s"expected one scan each of lineitem/part/supplier in:\n$p20")
  }

  test("q16 counts distinct suppliers with flagged keys anti-joined out") {
    val df = Analytics.q16PartsSupplier(spark, sfDir)
    val out = df.collect()
    assert(out.nonEmpty)
    val nSupp = spark.read.parquet(s"$sfDir/supplier.parquet").count()
    out.foreach(r => assert(r.getAs[Long]("supplier_cnt") <= nSupp))
    // no flagged supplier survives: recompute one bucket by brute force
    val flagged = spark.read.parquet(s"$sfDir/supplier.parquet")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
      .collect().map(_.getLong(0)).toSet
    val h = out.head
    val brute = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .join(spark.read.parquet(s"$sfDir/part.parquet"),
        col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === h.getAs[String]("p_brand") &&
        col("p_type") === h.getAs[String]("p_type") &&
        col("p_size") === h.getAs[Int]("p_size"))
      .select("l_suppkey").collect().map(_.getLong(0))
      .filterNot(flagged).distinct.length
    assert(h.getAs[Long]("supplier_cnt") == brute)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"NOT IN must plan as LEFT ANTI:\n$plan")
  }

  test("pathTopK: brute per-user recompute, bounded paths, two-phase top-k plan") {
    val df = Analytics.pathTopK(spark, sfDir, steps = 5, k = 10)
    val out = df.collect()
    assert(out.length <= 10)
    // every path is at most 5 steps from the event-type vocabulary
    val vocab = Set("signup", "click", "view", "purchase", "error")
    out.foreach { r =>
      val steps = r.getString(0).split(">")
      assert(steps.length <= 5 && steps.forall(vocab.contains))
    }
    // brute force: collect the raw stream, sort per user in Scala
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val brute = raw
      .select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .groupBy(_._1).values
      .map(_.map(_._2).sortBy(t => (t._1, t._2)).take(5).map(_._3).mkString(">"))
      .groupBy(identity).map { case (p, g) => (p, g.size.toLong) }
    val expected = brute.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == expected)
    // top-k must be two-phase, never a global sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should plan as TakeOrderedAndProject:\n${plan.take(1500)}")
  }

  test("attribution: brute per-user recompute, purchases never credit purchases") {
    val out = Analytics.attribution(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.nonEmpty && out.forall(_._1 != "purchase"))
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val brute = raw
      .select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))))
      .groupBy(_._1).values.flatMap { evs =>
        val sorted = evs.map(_._2).sortBy(t => (t._1, t._2))
        var lastTouch: Option[String] = None
        sorted.flatMap { case (_, _, typ, v) =>
          val credit = if (typ == "purchase") lastTouch.map(t => (t, v)) else None
          if (typ != "purchase") lastTouch = Some(typ)
          credit
        }
      }.toSeq.groupBy(_._1).map { case (t, g) =>
        // exact decimal sum mirrors the operator's DECIMAL(28,6) chain
        (t, g.size.toLong,
          g.map(x => BigDecimal(x._2).setScale(6, BigDecimal.RoundingMode.HALF_UP))
            .sum.toDouble)
      }.toSeq.sortBy(_._1)
    assert(out.map(x => (x._1, x._2)) sameElements brute.map(x => (x._1, x._2)))
    out.zip(brute).foreach { case (a, b) => assert(math.abs(a._3 - b._3) < 1e-6) }
  }

  test("funnelTime: brute first-signup-to-first-purchase recompute per cohort") {
    val day = 86400L * 1000000000L
    val out = Analytics.funnelTime(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.nonEmpty)
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val ev = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val deltas = ev.groupBy(_._1).values.flatMap { rows =>
      val signups = rows.filter(_._3 == "signup").map(_._2)
      if (signups.isEmpty) None
      else {
        val s = signups.min
        val purch = rows.filter(r => r._3 == "purchase" && r._2 >= s).map(_._2)
        if (purch.isEmpty) None else Some((s / day * day, (purch.min - s) / 1000000000L))
      }
    }.toSeq
    def quant(vs: Array[Double], q: Double): Double = {
      val s = vs.sorted
      val pos = (s.length - 1) * q
      val (lo, frac) = (pos.toInt, pos - pos.toInt)
      val raw = if (lo + 1 < s.length) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = deltas.groupBy(_._1).map { case (c, g) =>
      c -> ((g.size.toLong, quant(g.map(_._2.toDouble).toArray, 0.5)))
    }
    assert(out == expected)
    // latency must be non-trivial somewhere or the median is meaningless
    assert(deltas.exists(_._2 > 0), "every conversion is instant; spec is vacuous")
  }

  test("newVsReturning: brute recompute; day-1 users are all new; mass conserved") {
    val day = 86400L * 1000000000L
    val out = Analytics.newVsReturning(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.nonEmpty)
    out.values.foreach { case (a, n, ret) => assert(a == n + ret) }
    // the corpus's first day is 100% new by definition
    val firstDay = out.keys.min
    assert(out(firstDay)._1 == out(firstDay)._2)
    // brute from raw events
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val du = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1) / day * day)).distinct
    val first = du.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = du.groupBy(_._2).map { case (d, rows) =>
      val nNew = rows.count(r => first(r._1) == d).toLong
      d -> ((rows.size.toLong, nNew, rows.size - nNew))
    }
    assert(out == expected)
    // returning users must exist somewhere or the split is vacuous
    assert(out.values.exists(_._3 > 0), "no returning users; spec is vacuous")
  }

  test("copurchase: brute pair recompute; two-phase top-k plan") {
    val df = Analytics.copurchase(spark, sfDir)
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { case (a, b, _) => assert(a < b) }
    val items = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val counts = items.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (p, g) => (p._1, p._2, g.size.toLong) }
    val expected = counts.toSeq.sortBy { case (a, b, n) => (-n, a, b) }.take(20)
    assert(out.toSeq == expected)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should plan as TakeOrderedAndProject:\n${plan.take(1200)}")
  }

  test("copurchaseLift: brute association recompute; lift orders differently than support") {
    val out = Analytics.copurchaseLift(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty && out.length <= 20)
    val items = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nTotal = items.map(_._1).distinct.length.toLong
    val marg = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairs = items.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).collect { case (p, g) if g.size >= 3 =>
      val nAb = g.size.toLong
      (p._1, p._2, nAb,
        (nAb * nTotal).toDouble / (marg(p._1) * marg(p._2)).toDouble,
        nAb.toDouble / marg(p._1).toDouble)
    }
    val expected = pairs.toSeq.sortBy { case (a, b, _, l, _) => (-l, a, b) }.take(20)
    assert(out.toSeq == expected)
    // lift must re-rank: the top-lift pair is NOT the top-support pair
    // (else the entry adds nothing over q_copurchase)
    val topSupport = pairs.maxBy(_._3)
    assert((out.head._1, out.head._2) != ((topSupport._1, topSupport._2)) ||
      pairs.map(_._3).toSet.size == 1,
      "lift ranking degenerates to support ranking")
  }

  test("rfm: brute per-customer recompute with interpolated quartiles; broadcast plan") {
    val df = Analytics.rfm(spark, sfDir)
    val out = df.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))).toMap
    assert(out.nonEmpty)
    // brute: per-customer last order / count / decimal spend in Scala
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey"),
        expr("unix_micros(cast(o_orderdate as timestamp)) * 1000").as("ns"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cust = raw.groupBy(_._1).map { case (k, rows) =>
      (k, rows.map(_._2).max / 86400000000000L, rows.length.toLong,
        rows.map(x => BigDecimal(x._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble)
    }.toArray
    val nowDay = cust.map(_._2).max
    def quant(vs: Array[Double], q: Double): Double = {
      val s = vs.sorted
      val pos = (s.length - 1) * q
      val (lo, frac) = (pos.toInt, pos - pos.toInt)
      val raw = if (lo + 1 < s.length) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def qs(vs: Array[Double]) = (quant(vs, 0.25), quant(vs, 0.5), quant(vs, 0.75))
    val (lq, fq, mq) = (qs(cust.map(_._2.toDouble)), qs(cust.map(_._3.toDouble)),
      qs(cust.map(_._4)))
    def score(v: Double, q: (Double, Double, Double)) =
      1 + (if (v > q._1) 1 else 0) + (if (v > q._2) 1 else 0) +
        (if (v > q._3) 1 else 0)
    // recency scored on the last_day axis: older ⇒ smaller ⇒ higher
    def rScore(lastDay: Double) =
      1 + (if (lastDay < lq._3) 1 else 0) + (if (lastDay < lq._2) 1 else 0) +
        (if (lastDay < lq._1) 1 else 0)
    cust.foreach { case (k, lastDay, freq, mon) =>
      val (r, f, m) = (rScore(lastDay.toDouble), score(freq.toDouble, fq),
        score(mon, mq))
      assert(out(k) == ((nowDay - lastDay, freq, mon, r, f, m,
        r * 100 + f * 10 + m)), s"customer $k mismatch: got ${out(k)}")
    }
    assert(out.size == cust.length)
    // every one-row side must ride a broadcast, never a shuffled join
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"one-row bounds should broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"), "bounds cross join must not plan cartesian")
  }

  test("revenueConcentration: distributed rank matches a driver-side sort exactly") {
    val out = Analytics.revenueConcentration(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet == (0L to 9L).toSet, "exactly ten deciles")
    // brute: collect per-customer spend, one total order, same decile cut
    val spend = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(28,6)")).as("s"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
    val sorted = spend.sortBy { case (k, s) => (s.negate, k) }
    val n = sorted.length
    val byDecile = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 10 / n }
      .view.mapValues { rows =>
        (rows.length.toLong,
          rows.map(r => BigDecimal(r._1._2)).sum)
      }.toMap
    val tot = spend.map(r => BigDecimal(r._2)).sum
    (0L to 9L).foreach { d =>
      val (bn, bs) = byDecile(d)
      val (gn, gs, share, _) = out(d)
      assert(gn == bn, s"decile $d population")
      assert(gs == bs.toDouble, s"decile $d spend")
      assert(share == bs.toDouble / tot.toDouble, s"decile $d share")
    }
    // populations split the customer set near-evenly (±1)
    val pops = out.values.map(_._1)
    assert(pops.sum == n && pops.max - pops.min <= 1)
    // per-customer mean spend is non-increasing down the deciles
    val means = (0L to 9L).map(d => out(d)._2 / out(d)._1)
    means.sliding(2).foreach { case Seq(a, b) => assert(a >= b) }
    // the cumulative share closes at exactly 1.0 (same decimal total)
    assert(out(9L)._4 == 1.0)
  }

  test("abTest: counts partition the user base; z matches the textbook formula") {
    val out = Analytics.abTest(spark, sfDir).collect()
    assert(out.length == 1)
    val r = out.head
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().collect().map(_.getLong(0))
    assert(na == users.count(_ % 2 == 0) && nb == users.count(_ % 2 == 1))
    assert(ca <= na && cb <= nb && ca >= 0 && cb >= 0)
    assert(r.getDouble(4) == ca.toDouble / na && r.getDouble(5) == cb.toDouble / nb)
    val p = (ca + cb).toDouble / (na + nb)
    val se = math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    if (se == 0.0) assert(r.isNullAt(6))
    else assert(r.getDouble(6) == (ca.toDouble / na - cb.toDouble / nb) / se + 0.0)
  }

  test("revenueConcentration plans a RANGE exchange; single-partition work is bounded frames only") {
    val plan = Analytics.revenueConcentration(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the customer-grain global sort rides range partitioning — the
    // distributed rank's exchange, never a single-partition sort
    assert(plan.contains("rangepartitioning(spend_dec"),
      s"expected a range exchange on the rank order:\n${plan.take(1200)}")
    // every SinglePartition exchange in this plan serves a BOUNDED
    // frame: the parallelism-sized offset window, the one-row spend
    // total, and the ten-row decile cumulation
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single <= 3, s"unexpected single-partition exchanges ($single)")
  }

  test("concurrency plans exactly one single-partition window — the hour-grain carry") {
    val plan = Analytics.concurrency(spark, sfDir)
      .queryExecution.executedPlan.toString
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single == 1,
      s"only the bounded hour-grain carry may collapse partitions ($single):\n${plan.take(1200)}")
  }

  test("gini matches the brute pairwise-difference definition") {
    val out = Analytics.gini(spark, sfDir).collect().head
    val spends = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(28,6)")).as("s"))
      .collect().map(r => BigDecimal(r.getDecimal(1)))
    val n = spends.length
    assert(out.getLong(0) == n)
    // brute: G = Σᵢⱼ|xᵢ−xⱼ| / (2·n·Σx) — the definition, not the
    // rank identity the operator uses
    val total = spends.sum
    val diffs = (for (a <- spends; b <- spends) yield (a - b).abs).sum
    val brute = (diffs / (BigDecimal(2) * n * total)).toDouble
    assert(math.abs(out.getDouble(2) - brute) < 1e-6,
      s"gini ${out.getDouble(2)} vs brute $brute")
    assert(out.getDouble(2) > 0.0 && out.getDouble(2) < 1.0)
  }

  test("abTestValue: Welch t matches a driver-side exact-sum recompute") {
    val out = Analytics.abTestValue(spark, sfDir).collect().head
    val vals = spark.read.parquet(s"$sfDir/events.parquet")
      .where(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("v"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def stats(v: Long) = {
      val xs = vals.filter(_._1 == v).map(_._2)
      val dec = xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      val (s, sq) = (dec.sum.toDouble, dec.map(d => d * d).sum.toDouble)
      val n = xs.length
      (n.toLong, s / n, (sq - s * s / n) / (n - 1))
    }
    val (na, ma, va) = stats(0)
    val (nb, mb, vb) = stats(1)
    assert(out.getLong(0) == na && out.getLong(3) == nb)
    assert(out.getDouble(1) == r6(ma) && out.getDouble(4) == r6(mb))
    assert(out.getDouble(2) == r6(va) && out.getDouble(5) == r6(vb))
    val t = r6((ma - mb) / math.sqrt(va / na + vb / nb))
    assert(out.getDouble(6) == t)
  }

  test("abTestValue: one-purchase and zero-purchase arms yield NULL var/mean, not inf/NaN") {
    import spark.implicits._
    // variant = user_id % 2: users 0,2 → arm a (2 purchases), user 1 →
    // arm b (1 purchase). (n_b - 1) = 0 once divided through an
    // unguarded variance — the ADVICE r10 divergence class (Spark NULL
    // vs DuckDB inf) — so var_b must be the guarded NULL and t_stat
    // NULL while mean_b stays defined.
    val dir1 = s"$tempDir/abv"
    Seq((0L, "purchase", 10.0), (2L, "purchase", 20.0), (1L, "purchase", 7.0))
      .toDF("user_id", "event_type", "value")
      .withColumn("ts", lit(0L))
      .write.parquet(s"$dir1/events.parquet")
    val r1 = Analytics.abTestValue(spark, dir1).collect().head
    assert(r1.getAs[Long]("n_a") == 2L && r1.getAs[Long]("n_b") == 1L)
    assert(r1.getAs[Double]("mean_b") == 7.0)
    assert(r1.isNullAt(r1.fieldIndex("var_b")), "var_b must be NULL at n=1")
    assert(!r1.isNullAt(r1.fieldIndex("var_a")), "var_a defined at n=2")
    assert(r1.isNullAt(r1.fieldIndex("t_stat")))
    // an EMPTY arm: n_b = 0 → mean_b and var_b both NULL
    val dir0 = s"$tempDir/abv0"
    Seq((0L, "purchase", 10.0), (2L, "purchase", 20.0))
      .toDF("user_id", "event_type", "value")
      .withColumn("ts", lit(0L))
      .write.parquet(s"$dir0/events.parquet")
    val r0 = Analytics.abTestValue(spark, dir0).collect().head
    assert(r0.getAs[Long]("n_b") == 0L)
    assert(r0.isNullAt(r0.fieldIndex("mean_b")))
    assert(r0.isNullAt(r0.fieldIndex("var_b")))
  }

  test("cohortLtv matches a driver-side cohort recompute; curves are monotone") {
    val out = Analytics.cohortLtv(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.nonEmpty)
    val dayNs = 86_400_000_000_000L
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val ev = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / dayNs, r.getString(2), r.getDouble(3)))
    val cohortOf = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val sizes = cohortOf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rev = ev.filter(_._3 == "purchase")
      .groupBy(e => (cohortOf(e._1), e._2 - cohortOf(e._1)))
      .view.mapValues(_.map(e => BigDecimal(e._4)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum).toMap
    assert(out.keySet == rev.keySet)
    rev.foreach { case (k @ (cohort, _), dec) =>
      val (n, revenue, _) = out(k)
      assert(n == sizes(cohort), s"$k cohort size")
      assert(revenue == dec.toDouble, s"$k revenue")
    }
    // cumulative per-user value never decreases with age
    out.groupBy(_._1._1).foreach { case (cohort, rows) =>
      val curve = rows.toSeq.sortBy(_._1._2).map(_._2._3)
      curve.sliding(2).foreach {
        case Seq(a, b) => assert(a <= b, s"cohort $cohort LTV curve dipped")
        case _ =>
      }
    }
  }

  test("concurrency: handcrafted interval sets hit known hourly peaks") {
    import spark.implicits._
    val h = 3_600_000_000_000L
    def run(iv: Seq[(Long, Long)]) =
      Analytics.concurrencyFromSessions(iv.toDF("start_ts", "end_ts"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // three overlapping in hour 0; one spans silently into hour 2
    val out = run(Seq(
      (10L, 100L), (50L, 200L), (60L, 70L),          // peak 3 in hour 0
      (90L, 2 * h + 10L),                            // still open after hour 0
      (2 * h + 5L, 2 * h + 5L)))                     // momentary in hour 2
    assert(out(0L) == ((4L, 3L, 3L)))                // 4 starts, 3 ends, peak 3
                                                     // (the 70-end frees a slot
                                                     // before the 90-start)
    // hour 1 has no sweep points: absent by contract
    assert(!out.contains(h))
    // hour 2 opens with carry 1; momentary session overlaps the open one
    assert(out(2 * h) == ((1L, 2L, 2L)))
    // an hour that only CLOSES sessions keeps the carry level as peak
    val out2 = run(Seq((0L, h + 10L), (5L, h + 20L)))
    assert(out2(0L) == ((2L, 0L, 2L)))
    assert(out2(h) == ((0L, 2L, 2L)))
  }

  test("concurrency on sf events matches a driver-side sweep recompute") {
    val sess = Analytics.sessionize(spark, sfDir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      .collect().map(r => (r.getAs[Long]("s"), r.getAs[Long]("e")))
    val h = 3_600_000_000_000L
    val rows = sess.flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
      .groupBy(identity).map { case ((ts, d), v) => (ts, d, d * v.size) }
      .toSeq.sortBy(t => (t._1, -t._2))
    var cur = 0L
    val peak = scala.collection.mutable.Map.empty[Long, Long]
    val starts = scala.collection.mutable.Map.empty[Long, Long]
    val ends = scala.collection.mutable.Map.empty[Long, Long]
    rows.foreach { case (ts, d, dd) =>
      val hour = ts / h * h
      // carry level counts toward the hour peak before its first sweep
      if (!peak.contains(hour)) peak(hour) = cur
      cur += dd
      peak(hour) = math.max(peak(hour), cur)
      if (d > 0) starts(hour) = starts.getOrElse(hour, 0L) + dd
      else ends(hour) = ends.getOrElse(hour, 0L) - dd
    }
    assert(cur == 0L, "every start is matched by an end")
    val got = Analytics.concurrency(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == peak.keySet)
    got.foreach { case (hour, (ns, ne, mx)) =>
      assert(ns == starts.getOrElse(hour, 0L), s"hour $hour starts")
      assert(ne == ends.getOrElse(hour, 0L), s"hour $hour ends")
      assert(mx == peak(hour), s"hour $hour peak")
    }
  }
}
