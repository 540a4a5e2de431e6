package graft.streaming

import graft.{SparkSpec, TempDirSpec}
import graft.tsdb.{Db, Ingest}
import org.apache.spark.sql.functions._

class StreamingIngestSpec extends SparkSpec with TempDirSpec with graft.TimedSpec {

  test("streaming ingest produces a layout interchangeable with batch fromEvents") {
    val base = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_sing")).toString
    // stage the event file into a landing-zone directory (the streaming
    // file source watches a directory for arriving files)
    val landing = java.nio.file.Paths.get(base, "landing")
    java.nio.file.Files.createDirectories(landing)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, "events.parquet"),
      landing.resolve("events-000.parquet"))
    StreamingIngest.ingestAvailable(spark, landing.toString, s"$base/layout", s"$base/ckpt")
    val streamed = Ingest.open(spark, s"$base/layout")
    val batch = Db.fromEvents(spark, sfDir)
    assert(streamed.frame.count() == batch.frame.count())
    // same canonical content: identical filtered aggregation results
    val a = streamed.avg("purchase", "user").filter("k:1*")
      .granularity(graft.tsdb.Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    val b = batch.avg("purchase", "user").filter("k:1*")
      .granularity(graft.tsdb.Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    assert(a.nonEmpty && a.sameElements(b))
    // absent props keys arrive as NULL through the streaming path too
    val db2 = new Db(streamed.frame)
    assert(db2.scan("purchase").where(col("tag_k").isNull).count() ==
      batch.scan("purchase").where(col("tag_k").isNull).count())
  }

  test("ensureStreamedLayout answers the batch filtered agg; reopen is idempotent") {
    val layout = StreamingIngest.ensureStreamedLayout(spark, sfDir)
    val got = Ingest.open(spark, layout)
      .avg("purchase", "user").filter("k:1*")
      .granularity(graft.tsdb.Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    val batch = Db.fromEvents(spark, sfDir)
      .avg("purchase", "user").filter("k:1*")
      .granularity(graft.tsdb.Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    assert(got.nonEmpty && got.sameElements(batch))
    assert(StreamingIngest.ensureStreamedLayout(spark, sfDir) == layout)
  }

  test("streaming ingest enforces the metric-name write boundary like batch") {
    val base = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_sbad")).toString
    val landing = java.nio.file.Paths.get(base, "landing")
    java.nio.file.Files.createDirectories(landing)
    // one event with a name the reference's MetricName::try_from rejects;
    // stage the spark write and move its part file into the landing zone
    val staging = java.nio.file.Paths.get(base, "staging")
    spark.read.parquet(s"$sfDir/events.parquet").limit(1)
      .withColumn("event_type", lit("BAD METRIC!"))
      .coalesce(1).write.parquet(staging.toString)
    val part = new java.io.File(staging.toString).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, landing.resolve("bad-000.parquet"))
    val e = intercept[Exception] {
      StreamingIngest.ingestAvailable(spark, landing.toString,
        s"$base/layout", s"$base/ckpt")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("invalid metric name")), msgs(e).mkString(" | "))
  }
}
