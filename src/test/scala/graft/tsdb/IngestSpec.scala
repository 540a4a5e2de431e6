package graft.tsdb

import graft.SparkSpec
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {

  test("ingest roundtrip preserves query results and prunes partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val db = Db.fromEvents(spark, sfDir)
    Ingest.write(db, tmp)
    val db2 = Ingest.open(spark, tmp)

    val a = db.avg("purchase", "user").granularity(Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    val b = db2.avg("purchase", "user").granularity(Duration.days(1)).build()
      .orderBy("grp", "bucket_start").collect()
    assert(a.sameElements(b))

    // metric filter must reach the partition level (directory pruning)
    val scan = db2.scan("purchase")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("metric"),
      s"metric filter not pushed to partitions:\n$plan")
  }

  test("Db.open binds a written layout (builder().open() parity)") {
    val layout = Ingest.ensureLayout(spark, sfDir,
      base = java.nio.file.Files.createTempDirectory("graft_open").toString)
    val db = Db.open(spark, layout)
    assert(db.frame.count() == Db.fromEvents(spark, sfDir).frame.count())
  }

  test("f32 layout: value stored float on disk, widened to double on open") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_f32").toString
    val db = Db.fromEvents(spark, sfDir)
    Ingest.write(db, tmp, highPrecision = false)
    // on-disk schema carries float (2x footprint saving at scale)...
    val disk = spark.read.parquet(tmp)
    assert(disk.schema("value").dataType.typeName == "float", disk.schema.treeString)
    // ...while the reopened Db serves double, each value being exactly
    // the f32-quantized source (f32 -> f64 widening is exact)
    val opened = Ingest.open(spark, tmp)
    assert(opened.frame.schema("value").dataType.typeName == "double")
    val got = opened.frame.select(sum(col("value").isNotNull.cast("long")),
      sum((col("value") =!= col("value").cast("float").cast("double")).cast("long")))
      .collect()(0)
    assert(got.getLong(0) == db.frame.count())
    assert(got.getLong(1) == 0, "reopened values are not f32-quantized fixpoints")
    val want = db.frame
      .select(col("ts"), col("value").cast("float").cast("double").as("value"))
      .agg(sum("value")).collect()(0).getDouble(0)
    val have = opened.frame.agg(sum("value")).collect()(0).getDouble(0)
    assert(math.abs(want - have) < 1e-6 * math.max(1.0, math.abs(want)))
  }

  test("append adds a second batch to the layout") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_append").toString
    val db = Db.fromEvents(spark, sfDir)
    val n = db.frame.count()
    Ingest.write(db, tmp)
    Ingest.append(db, tmp)
    assert(Ingest.open(spark, tmp).frame.count() == 2 * n)
  }

  test("fromEvents with extra props tags yields NULL tags for absent keys") {
    // reference parity: a series lacking the tag is skipped by group-bys
    // (agg/builder.rs:121), so absent keys must be NULL, not ''
    val db = Db.fromEvents(spark, sfDir, propsTags = Seq("k", "zz"))
    assert(db.frame.columns.contains("tag_zz"))
    assert(db.scan("purchase", "zz:x*").count() == 0)
    assert(db.frame.where(col("tag_zz").isNull).count() == db.frame.count())
    assert(db.avg("purchase", "zz").granularity(Duration.days(1)).build().count() == 0)
  }

  test("bucketed layout: series-keyed self-join plans with no shuffle exchange") {
    // a previous JVM's managed-table location survives on disk while the
    // in-memory catalog starts empty — clear both before writing
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_spec")
    val loc = java.nio.file.Paths.get("spark-warehouse", "graft_bucketed_spec")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    Ingest.writeBucketed(Db.fromEvents(spark, sfDir), "graft_bucketed_spec", buckets = 4)
    val db = Ingest.openTable(spark, "graft_bucketed_spec")
    val t1 = db.frame.as("x")
    val t2 = db.frame.as("y")
    // force sort-merge (broadcast would hide the co-location) and join
    // on the bucket key: both sides read pre-bucketed files
    val joined = t1.hint("merge").join(t2,
      col("x.metric") === col("y.metric") && col("x.tag_user") === col("y.tag_user"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    // bucketed aggregation on the bucket key: also shuffle-free
    val agg = db.frame.groupBy("metric", "tag_user").agg(avg("value"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange hashpartitioning"), aggPlan)
    // and the data round-trips
    assert(db.frame.count() == Db.fromEvents(spark, sfDir).frame.count())
  }

  test("write rejects invalid metric names at the boundary") {
    val db = Db.fromEvents(spark, sfDir)
    val bad = new Db(db.frame.withColumn("metric",
      concat(upper(col("metric")), lit(" X"))))
    val tmp = java.nio.file.Files.createTempDirectory("graft_badmetric").toString
    val e = intercept[Exception](Ingest.write(bad, tmp))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("invalid metric name")), e.toString)
  }

  test("tag predicates push down to the parquet scan over the ingest layout") {
    val layout = Ingest.ensureLayout(spark, sfDir,
      base = java.nio.file.Files.createTempDirectory("graft_layout").toString)
    val db = Ingest.open(spark, layout)
    val plan = db.scan("purchase", "user:123 AND k:1*")
      .queryExecution.executedPlan.toString
    // metric → directory-level partition pruning
    assert(plan.contains("PartitionFilters") && plan.contains("metric"), plan)
    // tag eq → EqualNullSafe, tag wildcard → IsNotNull + StartsWith, all
    // inside PushedFilters (the inverted-index analog: row groups whose
    // dictionary/min-max can't match are never read)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("EqualNullSafe(tag_user,123)"), plan)
    assert(pushed.contains("IsNotNull(tag_k)"), plan)
    assert(pushed.contains("StringStartsWith(tag_k,1)"), plan)
    // and the layout round-trips the same result as the source frame
    val a = Db.fromEvents(spark, sfDir).scan("purchase", "user:123 AND k:1*")
      .orderBy("ts", "value").collect()
    val b = db.scan("purchase", "user:123 AND k:1*")
      .select("metric", "ts", "value", "tag_user", "tag_k")
      .orderBy("ts", "value").collect()
    assert(a.sameElements(b))
  }

  /** `f`'s result and the Spark jobs it launched: a listener counts the
    * jobs of a fresh job group, read once the listener bus has drained.
    */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-open-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "layout open")
    try {
      val r = f
      ListenerBusBridge.drain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def metricAsString(df: DataFrame) =
    df.withColumn("metric", col("metric").cast("string"))

  test("layout opens read Spark's schema from one footer and launch no job") {
    val root = java.nio.file.Files.createTempDirectory("graft_footer").toString
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
      val (got, jobs) = jobsDuring(FooterSchema.read(spark, paths, options).schema)
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

  test("an open with no data file fails as spark.read.parquet does") {
    val root = java.nio.file.Files.createTempDirectory("graft_footer_err")
    val onlySuccess = root.resolve("only_success")
    java.nio.file.Files.createDirectories(onlySuccess)
    java.nio.file.Files.createFile(onlySuccess.resolve("_SUCCESS"))
    for (p <- Seq(root.resolve("missing").toString, onlySuccess.toString)) {
      def failure(f: => Any): (Class[_], Option[String]) = intercept[Exception](f) match {
        case e: org.apache.spark.SparkThrowable => (e.getClass, Some(e.getCondition))
        case e => (e.getClass, None)
      }
      val want = failure(spark.read.parquet(p))
      assert(failure(Ingest.open(spark, p)) == want, p)
      assert(failure(Ingest.openRollup(spark, p, Duration.hours(1))) == want, p)
    }
  }

  test("schema merging or a parquet summary file leaves the inference to Spark") {
    val layout = Ingest.ensureLayout(spark, sfDir,
      base = java.nio.file.Files.createTempDirectory("graft_merge").toString)
    assert(FooterSchema.dataSchema(spark, Seq(layout)).isDefined)
    assert(FooterSchema.dataSchema(spark, Seq(layout), Map("mergeSchema" -> "true")).isEmpty)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(FooterSchema.dataSchema(spark, Seq(layout)).isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // Spark reads a summary file's schema in place of any data footer
    java.nio.file.Files.createFile(java.nio.file.Paths.get(layout, "_common_metadata"))
    assert(FooterSchema.dataSchema(spark, Seq(layout)).isEmpty)
  }
}
