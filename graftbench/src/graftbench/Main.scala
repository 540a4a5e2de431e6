package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final case class Ctx(spark: SparkSession, tr: Tracer, tally: Tally, seed: Long,
                     workDir: String) {
  val cores: Int = Main.Cores
}

/** A workload: a seeded set-up and a timed loop. */
trait Workload {
  /** The name of the operation whose latency is the workload's headline. */
  def opName: String
  /** Generates the inputs from the seed under `dir`, writes the initial
    * layouts and warms up. Returns a checksum of the generated inputs.
    */
  def setup(dir: String): String
  /** Runs the timed loop for `seconds` over the last set-up's inputs. */
  def loop(seconds: Double): LoopResult
}

/** What a timed loop measured: the latency of each headline operation
  * (and whether it ran traced), the workload's throughput and storage
  * metrics, and the loop's operation count and wall time.
  */
final case class LoopResult(opMs: Seq[(Double, Boolean)], metrics: Seq[Metric],
                            ops: Long, wallMs: Double)

/** Runs one workload and prints every metric, then the result line.
  *
  * Usage: `graftbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work-dir <dir> --out-dir <dir>`.
  */
object Main {
  /** Fixed engine settings: every figure is measured under these. */
  val Cores = 4
  val SetupRounds = 2
  val Workloads = Seq("tsdb_dashboard", "dedup_corpus")

  def session(workDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      // static conf: the default (100) thrashes the generated-class cache
      // when many distinct queries run in one session
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.graft.workDir", s"$workDir/graft")
      .getOrCreate()

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val name = a("workload")
    require(Workloads.contains(name), s"unknown workload $name (one of ${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") match {
      case "0" => false; case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val workDir = a("work-dir")
    val outDir = a("out-dir")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(workDir)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    println(f"session start: $sessionS%.3f s")
    val tr = new Tracer(spark.sparkContext, s"$name-seed$seed-trace${if (trace) 1 else 0}", trace)
    val ctx = Ctx(spark, tr, new Tally, seed, workDir)
    val result =
      try run(ctx, name, seconds, sessionS, outDir)
      finally spark.stop()
    val ok = result.failed == 0 && result.attempted > 0
    result.metrics.foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit}"))
    println(Json.obj(
      "correct" -> ok, "attempted" -> result.attempted, "failed" -> result.failed,
      "metrics" -> Json.obj(result.metrics.map(m =>
        m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*)))
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def run(ctx: Ctx, name: String, seconds: Double, sessionS: Double,
          outDir: String): Outcome = {
    val w: Workload = name match {
      case "tsdb_dashboard" => new Dashboard(ctx)
      case "dedup_corpus" => new DedupCorpus(ctx)
    }
    val tr = ctx.tr
    val (setupS, loop, engine, gcLoop) = tr.span("run") {
      val rounds = (1 to SetupRounds).map { r =>
        val dir = s"${ctx.workDir}/setup-$r"
        val t0 = System.nanoTime()
        val checksum = tr.op("setup", traced = true)(w.setup(dir))
        val s = (System.nanoTime() - t0) / 1e9
        if (r > 1) Sys.deleteTree(s"${ctx.workDir}/setup-${r - 1}")
        println(f"setup round $r: $s%.3f s, input checksum $checksum")
        (s, checksum)
      }
      ctx.tally.check("same seed gives identical inputs in every set-up round")(
        rounds.map(_._2).distinct.size == 1)
      val setupS = sessionS + Stats.median(rounds.map(_._1))
      val gc0 = Sys.gcMs()
      tr.drain()
      val engine0 = tr.listener.global.snapshot
      val loop = w.loop(seconds)
      tr.drain()
      val engine1 = tr.listener.global.snapshot
      (setupS, loop, engine1.map { case (k, v) => k -> (v - engine0(k)).toDouble },
        Sys.gcMs() - gc0)
    }
    def lat(traced: Boolean) = loop.opMs.filter(_._2 == traced).map(_._1)
    val metrics =
      if (!tr.enabled) {
        val ms = lat(traced = false)
        Seq(Metric("setup_s", setupS, "s"),
          Metric("op_p50_ms", Stats.quantile(ms, 0.5), "ms"),
          Metric("op_p90_ms", Stats.quantile(ms, 0.9), "ms")) ++
          loop.metrics ++ Seq(Metric("peak_rss_mb", Sys.peakRssMb(), "MB"),
            Metric("live_heap_mb", Sys.liveHeapMb(), "MB"))
      } else {
        val ops = math.max(1L, loop.ops).toDouble
        val spark = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes").map { k =>
          Metric(s"spark.$k", engine(k) / ops,
            if (k.endsWith("bytes")) "B" else if (k == "task_ms") "ms" else "count")
        } ++ Seq(
          Metric("spark.gc_ms", gcLoop / ops, "ms"),
          Metric("spark.core_util", engine("task_ms") / (ctx.cores * loop.wallMs), "ratio"))
        val (on, off) = (lat(traced = true), lat(traced = false))
        val overhead =
          if (on.isEmpty || off.isEmpty) Seq(Metric("trace.untraced_op_ms", 0.0, "ms"),
            Metric("trace.overhead_frac", 0.0, "ratio"))
          else Seq(Metric("trace.untraced_op_ms", Stats.median(off), "ms"),
            Metric("trace.overhead_frac", Stats.median(on) / Stats.median(off) - 1, "ratio"))
        val file = Path.of(outDir, s"trace-$name-seed${ctx.seed}.json")
        tr.writeJson(file)
        println(s"spans written to $file")
        Layers.report(tr, w.opName, ctx.cores, ctx.tally) ++ spark ++ overhead
      }
    Outcome(metrics, ctx.tally.attemptedCount, ctx.tally.failedCount)
  }
}
