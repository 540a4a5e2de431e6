package graft.io

import graft.{SparkSpec, TempDirSpec}
import graft.operators.Dedup
import graft.tsdb.{Db, Duration, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[Source]], the one way graft opens a parquet input: its schema is
  * the one Spark infers, read from a footer on the driver, and
  * [[Source.rows]] is `count()`, read from the footers while the input
  * has no more files than Spark lists on the driver; neither launches a
  * Spark job there.
  */
class SourceSpec extends SparkSpec with TempDirSpec {

  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** `events` partitioned by `event_type`, several files per partition. */
  private lazy val landing = {
    val p = s"$tempDir/landing"
    spark.read.parquet(s"$sfDir/events.parquet").repartition(3)
      .write.partitionBy("event_type").parquet(p)
    p
  }

  /** Every sf table, a graft-written index dir and a partitioned landing. */
  private lazy val inputs: Seq[String] =
    tables.map(t => s"$sfDir/$t.parquet") :+ Dedup.ensureBandIndex(spark, sfDir) :+ landing

  test("Source.read gives Spark's inferred schema on every table, an index dir and a landing") {
    for (p <- inputs)
      assert(Source.read(spark, p).schema == spark.read.parquet(p).schema, p)
    for (t <- tables)
      assert(Source.table(spark, sfDir, t).schema == spark.read.parquet(s"$sfDir/$t.parquet").schema)
  }

  test("read, schema and rows launch no job below the file-count bound") {
    for (p <- inputs) {
      assert(spark.read.parquet(p).inputFiles.length <=
        spark.sessionState.conf.parallelPartitionDiscoveryThreshold, p)
      val (_, readJobs) = jobsDuring(Source.read(spark, p))
      val (_, schemaJobs) = jobsDuring(Source.read(spark, p).schema)
      val (_, rowsJobs) = jobsDuring(Source.rows(spark, p))
      assert((readJobs, schemaJobs, rowsJobs) == (0, 0, 0), p)
    }
  }

  test("Source.rows equals count() on both sides of the file-count bound") {
    for (p <- inputs)
      assert(Source.rows(spark, p) == spark.read.parquet(p).count(), p)
    // a session whose bound is one file: the landing's rows are counted
    val above: SparkSession = spark.newSession()
    above.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")
    assert(above.read.parquet(landing).inputFiles.length > 1)
    val (n, jobs) = jobsDuring(Source.rows(above, landing))
    assert(n == spark.read.parquet(landing).count())
    assert(jobs > 0, "above the bound, rows should count the frame")
  }

  private def metricAsString(df: DataFrame) =
    df.withColumn("metric", col("metric").cast("string"))

  test("layout opens read Spark's schema from one footer and launch no job") {
    val root = s"$tempDir/footer"
    val events = s"$sfDir/events.parquet"
    val db = Db.fromEvents(spark, sfDir)
    val w = Duration.hours(1)
    val plain = s"$root/plain"
    Ingest.write(db, plain)
    val f32 = s"$root/f32"
    Ingest.write(db, f32, highPrecision = false)
    val appended = s"$root/appended"
    Ingest.write(db, appended)
    Ingest.append(db, appended)
    val rollup = s"$root/rollup"
    Ingest.writeRollup(db, rollup, w)
    val compacted = s"$root/compacted"
    Ingest.writeRollup(db, compacted, w)
    Ingest.appendRollup(db, compacted, w)
    Ingest.compactRollup(spark, compacted)
    val staged = s"$root/staged"
    Seq(0L, 1L, 2L).foreach(b => Ingest.appendRollupBatch(db, staged, w, b))
    java.nio.file.Files.delete(java.nio.file.Paths.get(staged, "batch_id=1", "_SUCCESS"))
    val complete = Seq(0, 2).map(b => s"$staged/batch_id=$b")
    // which footer Spark reads decides the schema when files disagree:
    // `metric=cpu.idle/` sorts before `metric=cpu/` ('.' < '/'), so its
    // f32 file is the one both inferences must pick
    val mixed = s"$root/mixed"
    val purchases = db.frame.where(col("metric") === "purchase")
    Ingest.write(new Db(purchases.withColumn("metric", lit("cpu"))), mixed)
    Ingest.append(new Db(purchases.withColumn("metric", lit("cpu.idle"))), mixed,
      highPrecision = false)

    // the driver-side read reproduces Spark's inferred schema
    def sameRead(paths: Seq[String], options: Map[String, String] = Map.empty) = {
      val want = spark.read.options(options).parquet(paths: _*).schema
      val (got, jobs) = jobsDuring(Source.read(spark, paths, options).schema)
      assert(got == want, s"$paths:\n${got.treeString}\nvs Spark's\n${want.treeString}")
      assert(jobs == 0, s"$paths: reading the schema launched $jobs job(s)")
    }
    Seq(events, plain, f32, appended, rollup, compacted, mixed).foreach(p => sameRead(Seq(p)))
    sameRead(complete, Map("basePath" -> staged))
    assert(spark.read.parquet(mixed).schema("value").dataType.typeName == "float")

    // every public open path: Spark's schema, no job
    def sameOpen(name: String, open: => DataFrame, want: => DataFrame) = {
      val (got, jobs) = jobsDuring(open)
      assert(got.schema == want.schema, s"$name:\n${got.schema.treeString}")
      assert(jobs == 0, s"$name: opening launched $jobs job(s)")
      got
    }
    for (p <- Seq(plain, f32, appended))
      sameOpen(p, Ingest.open(spark, p).frame,
        metricAsString(spark.read.parquet(p)).withColumn("value", col("value").cast("double")))
    for (p <- Seq(rollup, compacted))
      sameOpen(p, Ingest.openRollup(spark, p, w).frame, metricAsString(spark.read.parquet(p)))
    val stagedFrame = sameOpen(staged, Ingest.openRollup(spark, staged, w).frame,
      metricAsString(spark.read.option("basePath", staged).parquet(complete: _*)
        .drop("batch_id")))
    // the batch without `_SUCCESS` stays pruned
    assert(stagedFrame.count() == 2 * spark.read.parquet(rollup).count())
    val (_, fromEventsJobs) = jobsDuring(Db.fromEvents(spark, sfDir))
    assert(fromEventsJobs == 0, s"fromEvents launched $fromEventsJobs job(s)")
  }

  test("schema merging or a parquet summary file leaves the inference to Spark") {
    val layout = Ingest.ensureLayout(spark, sfDir, base = s"$tempDir/merge")
    assert(Source.dataSchema(spark, Seq(layout)).isDefined)
    assert(Source.dataSchema(spark, Seq(layout), Map("mergeSchema" -> "true")).isEmpty)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Source.dataSchema(spark, Seq(layout)).isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // Spark reads a summary file's schema in place of any data footer
    java.nio.file.Files.createFile(java.nio.file.Paths.get(layout, "_common_metadata"))
    assert(Source.dataSchema(spark, Seq(layout)).isEmpty)
  }
}
