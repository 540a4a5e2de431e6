package graft

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** `df`'s rows as strings in a canonical order. `Double.toString`
    * round-trips, so equal strings mean bit-equal values (and tell -0.0
    * from 0.0).
    */
  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `f`'s result and the Spark jobs it launched: a listener counts the
    * jobs of a fresh job group, read once the listener bus has drained.
    */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-spec-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted by a spec")
    try {
      val r = f
      ListenerBusBridge.drain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** A temp dir for the suite's files, deleted with its contents when the
  * suite ends, so no spec writes under the checkout and concurrent runs
  * never share a path.
  */
trait TempDirSpec extends BeforeAndAfterAll { this: AnyFunSuite =>
  lazy val tempDir: String =
    java.nio.file.Files.createTempDirectory(getClass.getSimpleName).toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tempDir))
    finally super.afterAll()
}

/** Hard per-test time limit for specs that drive Structured Streaming:
  * a wedged stream (stale checkpoint, dead source, state-store stall)
  * must FAIL the test in bounded time, never hang the whole suite (the
  * round-7 48-minute stall). ThreadSignaler interrupts the test thread,
  * which aborts `processAllAvailable`/`awaitTermination` waits.
  */
trait TimedSpec extends org.scalatest.concurrent.TimeLimitedTests {
  this: AnyFunSuite =>
  import org.scalatest.time.{Seconds, Span}
  val timeLimit: Span = Span(600, Seconds)
  override val defaultTestSignaler: org.scalatest.concurrent.Signaler =
    org.scalatest.concurrent.ThreadSignaler
}

object SparkSpec {
  /** The suites' work dir: one temp dir per JVM, deleted when it exits,
    * so no spec writes under the checkout and concurrent runs never
    * share a cached layout.
    */
  private lazy val workDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spec-work").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.getAbsolutePath
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Conf.WorkDirKey, workDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
