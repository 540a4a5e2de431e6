package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.tsdb.{Db, Ingest}

/** `tsdb_dashboard`: a closed loop of [[Dashboard.Clients]] clients, each
  * issuing its next query when the last one returns, over a layout and
  * rollup built in set-up (a week written at once, then the newest
  * slices appended and the rollup compacted). Every query opens the
  * layout, builds, plans and collects — the fixed per-query cost
  * dominates.
  */
final class Dashboard(ctx: Ctx) extends Workload {
  import Dashboard._
  import TsdbGen._

  val opName = "query"
  private val gen = new TsdbGen(ctx.seed, SeriesCount, Points)
  private var layout, rollup: String = _
  private var ref: RefStore = _

  def setup(dir: String): String = {
    val tr = ctx.tr
    layout = s"$dir/layout"
    rollup = s"$dir/rollup"
    val (frame, checksum) = tr.span("gen.inputs") {
      ref = new RefStore(gen)
      // cached, so the layout writes below read the points, not the generator
      val f = gen.baseFrame(ctx.spark).cache()
      val c = f.agg(bit_xor(xxhash64(f.columns.toSeq.map(col): _*)), count(lit(1))).head()
      (f, s"${c.getLong(0)}/${c.getLong(1)}")
    }
    tr.span("tsdb.ingest.write")(Ingest.write(new Db(frame), layout))
    tr.span("tsdb.rollup.write")(Ingest.writeRollup(new Db(frame), rollup, RollupWidth))
    frame.unpersist(blocking = true)
    val q = new TsdbQueries(ctx.spark, tr, layout, rollup, ref)
    // the newest 20 minutes arrive as appended slices, as in a live store,
    // so queries read a layout that appends have split into more files;
    // each append is read back before the next
    (0 until Appends).foreach { step =>
      val slice = gen.sliceFrame(ctx.spark, step, SlicePoints)
      ref.addSlice(step, SlicePoints)
      tr.span("tsdb.ingest.append") {
        val before = if (tr.tracing) Sys.du(layout) else (0L, 0L)
        Ingest.append(new Db(slice), layout)
        if (tr.tracing) {
          val after = Sys.du(layout)
          tr.note("files_written", (after._2 - before._2).toDouble)
          tr.note("bytes_written", (after._1 - before._1).toDouble)
        }
      }
      tr.span("tsdb.rollup.append")(Ingest.appendRollup(new Db(slice), rollup, RollupWidth))
      checked(q, Query.Count(Metrics(step % Metrics.size), sliceStart(step) + 1,
        sliceStart(step) + SliceNs))
    }
    tr.span("tsdb.rollup.compact") {
      Ingest.compactRollup(ctx.spark, rollup)
      if (tr.tracing) tr.note("bytes_rewritten", Sys.du(rollup)._1.toDouble)
    }
    // one query of every panel
    tr.span("warmup") {
      val r = new SplittableRandom(Mix.h(ctx.seed, 99))
      TsdbQueries.Panels.indices.foreach(i => checked(q, TsdbQueries.dashboard(r, i)))
    }
    checksum
  }

  /** Runs `query` as one checked operation; returns its latency in ms,
    * or None when it threw.
    */
  private def checked(q: TsdbQueries, query: Query, traced: Boolean = true): Option[Double] = {
    val s = System.nanoTime()
    var ms: Option[Double] = None
    ctx.tally.check(query.label) {
      val rows = ctx.tr.op(opName, traced)(q.run(query))
      ms = Some((System.nanoTime() - s) / 1e6)
      q.mismatch(query, rows) match {
        case None => true
        case Some(m) => println(s"mismatch ${query.label}: $m"); false
      }
    }
    ms
  }

  def loop(seconds: Double): LoopResult = {
    val q = new TsdbQueries(ctx.spark, ctx.tr, layout, rollup, ref)
    val lat = new ConcurrentLinkedQueue[(Double, Boolean)]()
    val issued = new AtomicInteger
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val clients = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val r = new SplittableRandom(Mix.h(ctx.seed, 7, c))
        var i = 0
        while (System.nanoTime() < deadline || issued.get < MinQueries) {
          // a traced run traces every other whole panel cycle, so traced
          // and untraced queries come from the same panel mix
          val traced = ctx.tr.enabled && (i / TsdbQueries.Panels.size) % 2 == 1
          checked(q, TsdbQueries.dashboard(r, i + c * TsdbQueries.Panels.size / 2), traced)
            .foreach(ms => lat.add((ms, traced)))
          issued.incrementAndGet()
          i += 1
        }
      }, s"dashboard-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    val wallMs = Sys.ms(t0, System.nanoTime())
    val bytes = Sys.du(layout)._1 + Sys.du(rollup)._1
    LoopResult(lat.asScala.toSeq,
      Seq(Metric("work_per_s", lat.size / (wallMs / 1000), "1/s"),
        Metric("bytes_per_item", bytes.toDouble / ref.points, "B")),
      lat.size, wallMs)
  }
}

object Dashboard {
  val Clients = 2
  val SeriesCount = 4000
  val Points = 300000L
  /** Appended 10-minute slices on top of the written week, and their size. */
  val Appends = 2
  val SlicePoints = 10000L
  /** A loop runs past its deadline until it has this many queries, so
    * that at least 10 lie beyond the p90.
    */
  val MinQueries = 100
}
