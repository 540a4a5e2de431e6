package graft.tsdb

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

import graft.{SparkSpec, TempDirSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Layout handles ([[Handles]]): a reopen of an unchanged layout returns
  * the opened frame, and any commit — a graft write in this JVM, a
  * write from another session, a write graft did not make — is seen by
  * the next open.
  */
class HandlesSpec extends SparkSpec with TempDirSpec {
  private val metric = "purchase"
  private val hour = Duration.hours(1)
  private lazy val events = Db.fromEvents(spark, sfDir)
  /** A few points of `metric`, appended or overwritten below. */
  private lazy val slice = new Db(events.frame.where(col("metric") === metric).limit(25))

  private def layout(name: String): String = {
    val p = s"$tempDir/$name"
    Ingest.write(events, p)
    p
  }
  private def points(p: String): Long = Ingest.open(spark, p).scan(metric).count()
  private def success(p: String) = new Path(p, "_SUCCESS")
  private def fs(p: String) = success(p).getFileSystem(spark.sessionState.newHadoopConf())

  test("reopening an unchanged layout returns the same frame and launches no job") {
    val p = layout("same")
    val db = Ingest.open(spark, p)
    val (again, jobs) = jobsDuring(Db.open(spark, p))
    assert(jobs == 0)
    assert(again.frame eq db.frame)
    assert(again.smallInputRoute eq db.smallInputRoute)
    val r = s"$tempDir/same_rollup"
    Ingest.writeRollup(events, r, hour)
    val rollup = Ingest.openRollup(spark, r, hour)
    val (rolled, rollupJobs) = jobsDuring(Ingest.openRollup(spark, r, hour))
    assert(rollupJobs == 0)
    assert(rolled.frame eq rollup.frame)
    // another session opens its own handle
    assert(!(Ingest.open(spark.newSession(), p).frame eq db.frame))
  }

  test("a reopen sees an append, an overwrite from another session and a compaction") {
    val p = layout("writes")
    val before = points(p)
    Ingest.append(slice, p)
    assert(points(p) == before + 25)
    val other = spark.newSession()
    Ingest.write(new Db(Db.fromEvents(other, sfDir).frame.where(col("metric") === metric).limit(25)), p)
    assert(points(p) == 25)
    assert(Ingest.open(spark, p).frame.count() == 25)

    val r = s"$tempDir/writes_rollup"
    Ingest.writeRollup(events, r, hour)
    Ingest.appendRollup(events, r, hour)
    val partials = Ingest.openRollup(spark, r, hour).frame
    val rows = partials.count()
    val n = partials.agg(sum("n")).head().getLong(0)
    Ingest.compactRollup(spark, r)
    val compacted = Ingest.openRollup(spark, r, hour).frame
    assert(compacted.count() == rows / 2)
    assert(compacted.agg(sum("n")).head().getLong(0) == n)
  }

  test("read-your-write does not rest on the marker's modification time") {
    val p = layout("same_mtime")
    val before = points(p)
    val mtime = fs(p).getFileStatus(success(p)).getModificationTime
    Ingest.append(slice, p)
    // a store whose clock or mtime granularity cannot tell the commits apart
    fs(p).setTimes(success(p), mtime, -1)
    assert(fs(p).getFileStatus(success(p)).getModificationTime == mtime)
    assert(points(p) == before + 25)
  }

  test("a commit made outside graft invalidates the handle through _SUCCESS") {
    val p = layout("foreign")
    assert(points(p) > 25)
    slice.frame.write.partitionBy("metric").mode("overwrite").parquet(p)
    assert(points(p) == 25)
  }

  test("a root without _SUCCESS is opened afresh every time") {
    val p = layout("unmarked")
    fs(p).delete(success(p), false)
    val db = Ingest.open(spark, p)
    assert(!(Ingest.open(spark, p).frame eq db.frame))
    val staged = s"$tempDir/staged_rollup"
    Ingest.appendRollupBatch(events, staged, hour, 0L)
    val rollup = Ingest.openRollup(spark, staged, hour)
    assert(!(Ingest.openRollup(spark, staged, hour).frame eq rollup.frame))
    Ingest.appendRollupBatch(slice, staged, hour, 1L)
    assert(Ingest.openRollup(spark, staged, hour).frame.agg(sum("n")).head().getLong(0) ==
      rollup.frame.agg(sum("n")).head().getLong(0) + 25)
    // a marker with no data keeps Spark's own error
    val empty = s"$tempDir/marker_only"
    fs(empty).mkdirs(new Path(empty))
    fs(empty).create(success(empty)).close()
    intercept[org.apache.spark.sql.AnalysisException](Ingest.open(spark, empty))
  }

  test("two threads opening at once both get correct answers") {
    val p = layout("threads")
    val want = sortedRows(events.sum(metric, "user").granularity(Duration.days(1)).build())
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val answers = (0 until 2).map(_ => Future {
        start.await()
        (0 until 3).map(_ =>
          sortedRows(Db.open(spark, p).sum(metric, "user").granularity(Duration.days(1)).build()))
      })
      start.countDown()
      answers.flatMap(a => Await.result(a, 5.minutes)).foreach(got => assert(got == want))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
