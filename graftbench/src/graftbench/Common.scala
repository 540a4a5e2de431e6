package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for flat records (numbers, strings, booleans,
  * nested objects built with [[Json.obj]]).
  */
object Json {
  final case class Raw(text: String) { override def toString: String = text }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case r: Raw => r.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}"))
}

object Stats {
  /** Linear-interpolated quantile (the definition numpy uses by default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One named metric with its unit, as printed and as put in the result. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload measured: its metrics and its operation tally. */
final case class Outcome(metrics: Seq[Metric], attempted: Long, failed: Long)

/** Failure tally shared by a workload's clients; every failure is printed. */
final class Tally {
  private val attempted = new java.util.concurrent.atomic.AtomicLong
  private val failed = new java.util.concurrent.atomic.AtomicLong

  def attempt(): Unit = attempted.incrementAndGet()

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    System.out.println(s"FAILED $what")
  }

  /** Counts one operation; a thrown error or a false check is a failure. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempt()
    val passed =
      try ok
      catch { case e: Exception => fail(s"$what: $e"); return false }
    if (!passed) fail(what)
    passed
  }

  def attemptedCount: Long = attempted.get
  def failedCount: Long = failed.get
}

object Sys {
  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** Heap in use right after a full collection, in MB: the memory the
    * process retains, whatever the heap's size. Spark frees broadcasts,
    * shuffles and cached blocks from a cleaner thread once a collection
    * finds them unreachable, so the heap is measured after a second
    * collection that follows the cleaner's work.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Total GC time of this JVM so far, in ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Bytes of the regular files under `dir`, and their count. */
  def du(dir: String): (Long, Long) = {
    val root = Path.of(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6
}

/** Deterministic 64-bit mixing (SplitMix64 finaliser): every generated
  * value is a pure function of the seed and its coordinates, so the
  * Spark tasks that produce the inputs and the driver-side references
  * that check the outputs compute bit-identical data.
  */
object Mix {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed ^ 0x5851F42D4C957F2DL) ^ a) ^ (b * 0x632BE59BD9B4E019L) ^ (c * 0xC6A4A7935BD1E995L))
  /** Uniform in [0, n). */
  def below(hv: Long, n: Long): Long = java.lang.Long.remainderUnsigned(hv, n)
  /** Uniform in [0, 1). */
  def unit(hv: Long): Double = (hv >>> 11) * (1.0 / (1L << 53))
}
