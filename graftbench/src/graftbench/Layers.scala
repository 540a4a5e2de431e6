package graftbench

/** Turns a traced run's spans into the per-layer metrics. Every metric is
  * reported on every workload; a layer the workload never calls reads 0.
  * Times are self times per call (medians); counts are means per call;
  * calls are those of the timed loop.
  */
object Layers {
  /** Largest share of an operation's wall that may fall outside its
    * layer spans.
    */
  val SelfTimeTolerance = 0.05
  /** Spans of the benchmark's own work inside an operation (opening the
    * input files, reading a traced phase's output back): their time is
    * taken off the operation's wall, not counted as layer time.
    */
  val Bookkeeping = Set("input.open", "bench.materialise")

  def report(tr: Tracer, opName: String, cores: Int, tally: Tally): Seq[Metric] = {
    val spans = tr.spans.filter(_.endNs > 0)
    val self = tr.selfNs(spans)
    val byId = spans.map(s => s.id -> s).toMap
    val runIds = spans.filter(_.name == "run").map(_.id).toSet
    // the operation (child of the run span) a span belongs to
    def opOf(s: Span): Option[Span] =
      if (runIds.contains(s.parent)) Some(s) else byId.get(s.parent).flatMap(opOf)
    val inLoop = spans.groupBy(s => opOf(s).exists(_.name != "setup"))
    val loopByName = inLoop.getOrElse(true, Nil).groupBy(_.name)
    val setupByName = inLoop.getOrElse(false, Nil).groupBy(_.name)
    // a layer's calls in the timed loop; a layer that runs only in set-up
    // (the initial layout write of tsdb_dashboard) reports its set-up calls
    def calls(n: String): Seq[Span] =
      loopByName.getOrElse(n, setupByName.getOrElse(n, Nil))
    def selfMs(s: Span): Double = self(s.id) / 1e6
    def medMs(n: String): Double =
      if (calls(n).isEmpty) 0.0 else Stats.median(calls(n).map(selfMs))
    def meanOf(n: String)(f: Span => Double): Double = Stats.mean(calls(n).map(f))
    def jobs(n: String) = meanOf(n)(_.engine.jobs.sum.toDouble)
    def taskMs(n: String) = meanOf(n)(_.engine.taskMs.sum.toDouble)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

    val exec = calls("tsdb.exec")
    val tsdb = Seq(
      Metric("tsdb.filter.parse_us",
        if (calls("tsdb.filter.parse").isEmpty) 0.0
        else Stats.median(calls("tsdb.filter.parse").map(selfMs)) * 1000, "us"),
      Metric("tsdb.open.ms", medMs("tsdb.open"), "ms"),
      Metric("tsdb.open.jobs", jobs("tsdb.open"), "count"),
      Metric("tsdb.build.ms", medMs("tsdb.build"), "ms"),
      Metric("tsdb.build.jobs", jobs("tsdb.build"), "count"),
      Metric("tsdb.plan.ms", medMs("tsdb.plan"), "ms"),
      Metric("tsdb.exec.ms", medMs("tsdb.exec"), "ms"),
      Metric("tsdb.exec.jobs", jobs("tsdb.exec"), "count"),
      Metric("tsdb.exec.tasks", meanOf("tsdb.exec")(_.engine.tasks.sum.toDouble), "count"),
      Metric("tsdb.exec.task_ms", taskMs("tsdb.exec"), "ms"),
      Metric("tsdb.exec.core_util", ratio(exec.map(_.engine.taskMs.sum.toDouble).sum,
        cores * exec.map(_.durNs / 1e6).sum), "ratio"),
      Metric("tsdb.scan.files_read", meanOf("tsdb.exec")(_.attr("files_read")), "count"),
      Metric("tsdb.scan.rows_per_result", ratio(exec.map(_.attr("scan_rows")).sum,
        exec.map(_.attr("result_rows")).sum), "ratio"),
      Metric("tsdb.ingest.append.ms", medMs("tsdb.ingest.append"), "ms"),
      Metric("tsdb.ingest.append.jobs", jobs("tsdb.ingest.append"), "count"),
      Metric("tsdb.ingest.append.task_ms", taskMs("tsdb.ingest.append"), "ms"),
      Metric("tsdb.ingest.append.shuffle_write_bytes",
        meanOf("tsdb.ingest.append")(_.engine.shuffleWrite.sum.toDouble), "B"),
      Metric("tsdb.ingest.append.files_written",
        meanOf("tsdb.ingest.append")(_.attr("files_written")), "count"),
      Metric("tsdb.ingest.append.bytes_written",
        meanOf("tsdb.ingest.append")(_.attr("bytes_written")), "B"),
      Metric("tsdb.rollup.append.ms", medMs("tsdb.rollup.append"), "ms"),
      Metric("tsdb.rollup.compact.ms", medMs("tsdb.rollup.compact"), "ms"),
      Metric("tsdb.rollup.compact.bytes_rewritten",
        meanOf("tsdb.rollup.compact")(_.attr("bytes_rewritten")), "B"))

    val dedup = Seq("text_pairs", "emb_pairs", "cluster", "pipeline").flatMap { phase =>
      val n = s"dedup.$phase"
      Seq(
        Metric(s"$n.ms", medMs(n), "ms"),
        Metric(s"$n.jobs", jobs(n), "count"),
        Metric(s"$n.task_ms", taskMs(n), "ms"),
        Metric(s"$n.shuffle_bytes", meanOf(n)(_.engine.shuffleWrite.sum.toDouble), "B"),
        Metric(s"$n.spill_bytes", meanOf(n)(_.engine.spill.sum.toDouble), "B"),
        Metric(s"$n.rows_out", meanOf(n)(_.attr("rows_out")), "count"))
    }

    // operations of the timed loop: layer self times against op walls;
    // an operation whose layers cover too little of its wall fails the run
    val loopOps = spans.filter(s => runIds.contains(s.parent) && s.name != "setup")
    val kids = spans.groupBy(_.parent)
    def split(op: Span): (Double, Double) = {
      val (own, layers) = kids.getOrElse(op.id, Nil).partition(k => Bookkeeping(k.name))
      (layers.map(selfOfTree(_, kids, self)).sum, op.durNs - own.map(_.durNs).sum.toDouble)
    }
    val covered = loopOps.map(split)
    val shares = covered.map { case (c, wall) => ratio(c, wall) }
    shares.zip(loopOps).foreach { case (sh, op) =>
      tally.check(f"trace: layers cover ${sh * 100}%.1f%% of ${op.name} span ${op.id}, " +
        f"want at least ${(1 - SelfTimeTolerance) * 100}%.0f%%")(sh >= 1 - SelfTimeTolerance)
    }
    val traced = calls(opName).map(_.durNs / 1e6)
    val trace = Seq(
      Metric("trace.op_wall_ms", if (traced.isEmpty) 0.0 else Stats.median(traced), "ms"),
      Metric("trace.layer_share", ratio(covered.map(_._1).sum, covered.map(_._2).sum), "ratio"))
    printBreakdown(loopOps, kids, self)
    tsdb ++ dedup ++ trace
  }

  /** Self time of a span plus that of all its descendants = its duration;
    * kept as a sum so the identity is checked, not assumed.
    */
  private def selfOfTree(s: Span, kids: Map[Long, Seq[Span]], self: Map[Long, Long]): Double =
    self(s.id) + kids.getOrElse(s.id, Nil).map(selfOfTree(_, kids, self)).sum

  /** Per operation kind: median wall and median self time of each layer. */
  private def printBreakdown(ops: Seq[Span], kids: Map[Long, Seq[Span]],
                             self: Map[Long, Long]): Unit =
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, xs) =>
      val layers = xs.flatMap(op => kids.getOrElse(op.id, Nil)).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (l, ls) => f"$l=${Stats.median(ls.map(s => self(s.id) / 1e6))}%.2f" }
      println(f"trace op=$name n=${xs.size} wall_ms=${Stats.median(xs.map(_.durNs / 1e6))}%.2f " +
        s"self_ms: ${layers.mkString(" ")}")
    }
}
