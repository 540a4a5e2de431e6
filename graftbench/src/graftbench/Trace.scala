package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine work attributed to one span, or to the whole process. */
final class Counters {
  val jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill = new LongAdder

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "task_ms" -> taskMs.sum, "shuffle_read_bytes" -> shuffleRead.sum,
    "shuffle_write_bytes" -> shuffleWrite.sum, "spill_bytes" -> spill.sum)
}

/** One timed interval: a run, an operation (query, append step, dedup
  * pass, set-up round) or a call into one graft layer. `attrs` holds
  * counts the benchmark reads at the same boundary (files read, rows
  * out, bytes written).
  */
final class Span(val id: Long, val name: String, val parent: Long,
                 val startNs: Long) {
  @volatile var endNs: Long = 0L
  val engine = new Counters
  val attrs = new ConcurrentHashMap[String, Double]()
  def durNs: Long = endNs - startNs
  def attr(k: String): Double = attrs.getOrDefault(k, 0.0)
}

/** Attributes jobs, stages and task metrics to the span whose id the
  * submitting thread carried as a Spark local property; every task also
  * counts toward the process-wide totals.
  */
final class SpanListener(spanOf: String => Option[Span]) extends SparkListener {
  val global = new Counters
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private def spanFor(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).flatMap(spanOf)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    global.jobs.increment()
    spanFor(e.properties).foreach(_.engine.jobs.increment())
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    global.stages.increment()
    spanFor(e.properties).foreach { s =>
      s.engine.stages.increment()
      stageSpan.put(e.stageInfo.stageId, s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val targets = Seq(global) ++ Option(stageSpan.get(e.stageId)).map(_.engine)
      targets.foreach { c =>
        c.tasks.increment()
        c.taskMs.add(m.executorRunTime)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.diskBytesSpilled)
      }
    }
  }
}

/** In-memory span recorder. Spans nest run → operation → layer call via a
  * per-thread stack; the innermost span's id travels to Spark as a local
  * property so concurrent clients' jobs stay apart. With tracing off
  * (`enabled = false`, or an operation run untraced) every call runs its
  * body directly and records nothing.
  */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val byId = new ConcurrentHashMap[String, Span]()
  private val all = new ConcurrentLinkedQueue[Span]()
  // inheritable: client threads started inside a span nest under it
  private val stack = new InheritableThreadLocal[List[Span]] { override def initialValue = Nil }
  private val active = new InheritableThreadLocal[Boolean] { override def initialValue = true }
  private val lastEnded = new ThreadLocal[Span]

  val listener = new SpanListener(id => Option(byId.get(id)))
  sc.addSparkListener(listener)

  private def current: Option[Span] = stack.get.headOption

  /** Whether calls on this thread are being recorded. */
  def tracing: Boolean = enabled && active.get

  /** Times `body` as span `name` under the current span (if tracing). */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val parent = current
      val s = new Span(nextId.getAndIncrement(), name,
        parent.map(_.id).getOrElse(0L), System.nanoTime())
      byId.put(s.id.toString, s)
      stack.set(s :: stack.get)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        all.add(s)
        lastEnded.set(s)
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  /** Runs one operation, traced or not. Traced and untraced operations
    * are interleaved in a traced run so the two walls compare like for
    * like; the difference is the tracing overhead.
    */
  def op[T](name: String, traced: Boolean)(body: => T): T = {
    val was = active.get
    active.set(traced)
    try span(name)(body) finally active.set(was)
  }

  /** Records a count on the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (tracing) current.foreach(s => s.attrs.merge(key, v, _ + _))

  /** The span this thread closed last, while tracing. */
  def lastClosed: Option[Span] = if (tracing) Option(lastEnded.get) else None

  def drain(): Unit = org.apache.spark.GraftBenchBridge.drainListeners(sc)

  def spans: Seq[Span] = all.asScala.toSeq.sortBy(_.startNs)

  /** Self time of every span: its duration minus the part of it that its
    * children's intervals cover.
    */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** All spans as JSON, written once when the run ends. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val ss = spans
    val self = selfNs(ss)
    val rows = ss.map { s =>
      val base = Seq[(String, Any)]("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> runId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ns" -> self(s.id))
      Json.obj(base ++ s.engine.snapshot.toSeq ++
        s.attrs.asScala.toSeq.sortBy(_._1): _*)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
