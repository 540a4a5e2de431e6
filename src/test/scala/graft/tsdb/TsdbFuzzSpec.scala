package graft.tsdb

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

/** Seeded property fuzz for the round-4 TSDB operators: random series
  * against straightforward Scala references.
  */
class TsdbFuzzSpec extends SparkSpec with TempDirSpec {

  private val rnd = new scala.util.Random(20260812L)

  private def randomDb(n: Int, users: Int, spanNs: Long): Db = {
    import spark.implicits._
    val rows = (1 to n).map { _ =>
      ("m", (rnd.nextDouble() * spanNs).toLong, (rnd.nextInt(2000) - 1000) / 10.0,
        s"u${rnd.nextInt(users)}")
    }
    new Db(rows.toDF("metric", "ts", "value", "tag_user"))
  }

  test("rollup == direct aggregation on random series for random aligned widths") {
    (1 to 4).foreach { trial =>
      val db = randomDb(200 + rnd.nextInt(800), 1 + rnd.nextInt(6),
        Duration.days(3))
      val rw = Duration.minutes(1 + rnd.nextInt(120))
      val mult = 1 + rnd.nextInt(6)
      val dir = s"$tempDir/test_rollup_fuzz"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      Ingest.writeRollup(db, dir, rw)
      val rollup = Ingest.openRollup(spark, dir, rw)
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      for (kind <- Seq[AggKind](AggKind.Avg, AggKind.Sum, AggKind.Min,
        AggKind.Max, AggKind.Count)) {
        val direct = AggBuilder(db, kind, "m", "user")
          .granularity(rw * mult).build()
        assert(key(rollup.agg(kind, "m", "user", rw * mult)) == key(direct),
          s"trial $trial kind $kind rollup width $rw mult $mult")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("gapfill invariants on random sparse series") {
    (1 to 3).foreach { trial =>
      val db = randomDb(30 + rnd.nextInt(60), 1 + rnd.nextInt(4), Duration.days(20))
      val w = Duration.days(1)
      val out = db.avg("m", "user").granularity(w).buildGapFilled().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))
      val byGrp = out.groupBy(_._1)
      byGrp.foreach { case (g, rows) =>
        val buckets = rows.map(_._2).sorted
        // contiguous: every width-multiple between min and max present once
        assert(buckets.distinct.length == buckets.length)
        assert(buckets.zip(buckets.tail).forall { case (a, b) => b - a == w },
          s"trial $trial grp $g not contiguous")
        // filled rows carry n=0 and the previous real value; real rows n>0
        val sorted = rows.sortBy(_._2)
        var lastReal = Double.NaN
        sorted.foreach { case (_, _, n, v, filled) =>
          if (filled) {
            assert(n == 0)
            assert(v == lastReal)
          } else {
            assert(n > 0)
            lastReal = v
          }
        }
        // first bucket of a span is never filled
        assert(!sorted.head._5)
      }
    }
  }

  test("asofAlign == per-row brute force on random two-metric streams") {
    import spark.implicits._
    (1 to 3).foreach { trial =>
      val users = 1 + rnd.nextInt(3)
      val left = (1 to 40).map(_ =>
        ("l", rnd.nextInt(1000).toLong, rnd.nextInt(100).toDouble, s"u${rnd.nextInt(users)}"))
      val right = (1 to 40).map(_ =>
        ("r", rnd.nextInt(1000).toLong, rnd.nextInt(100).toDouble, s"u${rnd.nextInt(users)}"))
      val db = new Db((left ++ right).toDF("metric", "ts", "value", "tag_user"))
      val got = db.asofAlign("l", "r").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)) ->
          (Option(r.getAs[java.lang.Double]("asof_value")),
            Option(r.getAs[java.lang.Long]("asof_ts")))).toMap
      // brute force: per left row, the max right value at the greatest ts' <= ts
      val rightByUser = right.groupBy(_._4)
      left.foreach { case (_, ts, v, u) =>
        val cands = rightByUser.getOrElse(u, Seq.empty).filter(_._2 <= ts)
        val expect = if (cands.isEmpty) (None, None) else {
          val bestTs = cands.map(_._2).max
          (Some(cands.filter(_._2 == bestTs).map(_._3).max), Some(bestTs))
        }
        assert(got((u, ts, v)) == expect, s"trial $trial user $u ts $ts")
      }
    }
  }

  test("ratioAligned == Scala reference on random two-metric streams") {
    import spark.implicits._
    (1 to 4).foreach { trial =>
      val users = 1 + rnd.nextInt(5)
      val span = Duration.days(2)
      val rows = (1 to 300 + rnd.nextInt(500)).map { _ =>
        (if (rnd.nextBoolean()) "a" else "b",
          (rnd.nextDouble() * span).toLong,
          (rnd.nextInt(2000) - 1000) / 10.0,
          s"u${rnd.nextInt(users)}")
      }
      val width = Duration.hours(1 + rnd.nextInt(47))
      val out = new Db(rows.toDF("metric", "ts", "value", "tag_user"))
        .ratioAligned("a", "b", "user", width).collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      // reference: exact decimal bucket sums, buckets missing either
      // side dropped, zero denominator → None, raw IEEE division
      val ref = rows.groupBy { case (_, ts, _, u) => (u, ts / width * width) }
        .flatMap { case ((u, bucket), pts) =>
          def s(m: String) = {
            val of = pts.filter(_._1 == m)
            if (of.isEmpty) None
            else Some(of.map(p => BigDecimal(p._3).setScale(6)).sum)
          }
          for (x <- s("a"); y <- s("b")) yield (u, bucket,
            if (y == BigDecimal(0)) None
            else Some(x.toDouble / y.toDouble + 0.0))
        }.toSet
      assert(out == ref, s"trial $trial width $width")
    }
  }

  test("resets/changes/deriv match Scala references on random series") {
    (1 to 3).foreach { trial =>
      val db = randomDb(150 + rnd.nextInt(400), 1 + rnd.nextInt(5),
        Duration.days(2))
      val w = Duration.hours(1 + rnd.nextInt(23))
      val rows = db.frame.collect()
        .map(r => (r.getString(3), r.getLong(1), r.getDouble(2)))
      val bySeries = rows.groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).sortBy(identity).toSeq).toMap
      // Scala reference over strict-Δt>0 consecutive pairs, keyed by the
      // LATER point's bucket
      case class Ref(resets: Long = 0, changes: Long = 0, pairs: Long = 0)
      val ref = scala.collection.mutable.Map.empty[(String, Long), Ref]
      bySeries.foreach { case (u, pts) =>
        pts.zip(pts.drop(1)).foreach { case ((t0, v0), (t1, v1)) =>
          if (t0 < t1) {
            val b = (t1 / w) * w
            val r = ref.getOrElse((u, b), Ref())
            ref((u, b)) = Ref(
              r.resets + (if (v1 < v0) 1 else 0),
              r.changes + (if (v1 != v0) 1 else 0),
              r.pairs + 1)
          }
        }
      }
      val gotR = db.resets("m", w).collect()
        .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start")) ->
          ((r.getAs[Long]("resets"), r.getAs[Long]("n_pairs")))).toMap
      val gotC = db.changes("m", w).collect()
        .map(r => (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start")) ->
          r.getAs[Long]("changes")).toMap
      assert(gotR.keySet == ref.keySet && gotC.keySet == ref.keySet,
        s"trial $trial bucket sets")
      ref.foreach { case (k, v) =>
        assert(gotR(k) == ((v.resets, v.pairs)), s"trial $trial resets $k")
        assert(gotC(k) == v.changes, s"trial $trial changes $k")
      }
      // deriv: double-arithmetic least squares within 1e-6 relative
      val derivRef = rows.groupBy(t => (t._1, (t._2 / w) * w)).view.mapValues { ps =>
        val n = ps.length.toDouble
        val ts = ps.map(p => (p._2 - (p._2 / w) * w).toDouble)
        val vs = ps.map(_._3)
        val st = ts.sum; val stt = ts.map(t => t * t).sum
        val sv = vs.sum; val stv = ts.zip(vs).map(p => p._1 * p._2).sum
        val den = n * stt - st * st
        if (den == 0.0) None else Some((n * stv - st * sv) / den * 1e9)
      }.toMap
      db.deriv("m", w).collect().foreach { r =>
        val k = (r.getAs[String]("tag_user"), r.getAs[Long]("bucket_start"))
        val got = Option(r.getAs[java.lang.Double]("slope_per_s")).map(_.toDouble)
        (got, derivRef(k)) match {
          case (None, None) => ()
          case (Some(g), Some(e)) =>
            assert(math.abs(g - e) <= 1e-6 * math.max(1.0, math.abs(e)),
              s"trial $trial deriv $k: $g vs $e")
          case other => fail(s"trial $trial deriv $k mismatch: $other")
        }
      }
    }
  }

  test("plan: the rollup query partition-prunes the metric directory") {
    val dir = s"$tempDir/test_rollup_plan"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Ingest.writeRollup(Db.fromEvents(spark, sfDir), dir, Duration.hours(1))
    val plan = Ingest.openRollup(spark, dir, Duration.hours(1))
      .avg("purchase", "user", Duration.days(1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("purchase"), s"plan:\n${plan.take(2000)}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def hm(x: Double): Long =
    (BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      * BigDecimal(2000000)).toLongExact

  test("outageRuns fuzz: random presence sets reassemble into maximal islands") {
    val day = Duration.days(1)
    (1 to 4).foreach { trial =>
      import spark.implicits._
      // random sparse presence over a 20-day spine, 3-6 series; at
      // least one series present on day 0 and day 19 pins the spine
      val nSeries = 3 + rnd.nextInt(4)
      val rows = (for {
        s <- 0 until nSeries
        d <- 0 until 20
        if rnd.nextDouble() < 0.5
      } yield ("m", d * day + 1L, 1.0, s"u$s")) ++
        Seq(("m", 0L * day + 1, 1.0, "anchor"), ("m", 19 * day + 1, 1.0, "anchor"))
      val d = new Db(rows.toDF("metric", "ts", "value", "tag_user"))
      val present = rows.map(r => (r._4, r._2 / day * day)).toSet
      val series = rows.map(_._4).distinct
      val runs = d.outageRuns("m", day).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // brute islands from the complement of the presence set
      val expected = series.flatMap { u =>
        val dark = (0 until 20).filterNot(i => present((u, i * day))).map(_.toLong)
        val groups = dark.foldLeft(List.empty[List[Long]]) {
          case (acc, i) if acc.nonEmpty && acc.head.head == i - 1 =>
            (i :: acc.head) :: acc.tail
          case (acc, i) => List(i) :: acc
        }
        groups.map(g => (u, g.min * day, g.size.toLong))
      }.toSet
      assert(runs.toSet == expected, s"trial $trial")
    }
  }

  test("cusum fuzz: random series match the literal recursion in half-micros") {
    (1 to 4).foreach { trial =>
      val db = randomDb(100 + rnd.nextInt(400), 1 + rnd.nextInt(5),
        Duration.days(15))
      val w = Duration.days(1)
      val agg = db.sum("m", "user").granularity(w)
      val out = agg.buildCusum(h = 2.5).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
      val base = agg.build().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      assert(out.size == base.length)
      base.groupBy(_._1).foreach { case (g, rows) =>
        val dec = rows.map(r => BigDecimal(r._3)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val s = dec.sum.toDouble
        val sq = dec.map(d => d * d).sum.toDouble
        val mu = r6(s / rows.length)
        val sg = r6(math.sqrt(math.max((sq - s * s / rows.length) / rows.length, 0.0)))
        val (mu2, sig1) = (hm(mu), hm(sg) / 2)
        var (sHi, sLo) = (0L, 0L)
        rows.sortBy(_._2).foreach { case (_, b, v) =>
          sHi = math.max(0L, sHi + hm(v) - (mu2 + sig1))
          sLo = math.max(0L, sLo + (mu2 - sig1) - hm(v))
          assert(out((g, b)) == ((sHi.toDouble / 2000000.0, sLo.toDouble / 2000000.0,
            sHi > 5 * sig1 || sLo > 5 * sig1)), s"trial $trial ($g, $b)")
        }
      }
    }
  }

  test("bollinger fuzz: random series match the trailing-band reference") {
    (1 to 4).foreach { trial =>
      val db = randomDb(100 + rnd.nextInt(400), 1 + rnd.nextInt(5),
        Duration.days(15))
      val agg = db.sum("m", "user").granularity(Duration.days(1))
      val out = agg.buildBollinger().collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(4), r.getDouble(5), r.getBoolean(8)))).toMap
      val base = agg.build().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      assert(out.size == base.length)
      base.groupBy(_._1).foreach { case (g, rows) =>
        val seq = rows.sortBy(_._2)
        seq.zipWithIndex.foreach { case ((_, b, v), i) =>
          val win = seq.slice(math.max(0, i - 6), i + 1).map(_._3)
          val dec = win.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          val s = dec.sum.toDouble
          val sq = dec.map(d => d * d).sum.toDouble
          val mean = r6(s / win.length)
          val sg = r6(math.sqrt(math.max((sq - s * s / win.length) / win.length, 0.0)))
          val (lo, hi) = (mean - 2.0 * sg, mean + 2.0 * sg)
          assert(out((g, b)) == ((mean, sg, v < lo || v > hi)), s"trial $trial ($g, $b)")
        }
      }
    }
  }
}
