package graft.tsdb

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec with TempDirSpec {

  test("ingest roundtrip preserves query results and prunes partitions") {
    val tmp = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_ingest")).toString
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
      base = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_open")).toString)
    val db = Db.open(spark, layout)
    assert(db.frame.count() == Db.fromEvents(spark, sfDir).frame.count())
  }

  test("f32 layout: value stored float on disk, widened to double on open") {
    val tmp = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_f32")).toString
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
    val tmp = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_append")).toString
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

  test("layout upkeep goes through the Hadoop FileSystem of a file: URI work dir") {
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_uri"))
    val root = dir.toUri.toString.stripSuffix("/")
    assert(root.startsWith("file:"))
    val (h, d) = (Duration.hours(1), Duration.days(1))
    def ensureAll() = {
      val rollup = Ingest.ensureRollup(spark, sfDir, h, base = root)
      Seq(Ingest.ensureLayout(spark, sfDir, base = root), rollup,
        Ingest.ensureRollupCascade(spark, sfDir, h, d, base = root),
        Ingest.ensureRollupCascadeFrom(spark, rollup, h, d))
    }
    val paths = ensureAll()
    // every `_SUCCESS` check finds the first call's marker: nothing is rewritten
    val (again, jobs) = jobsDuring(ensureAll())
    assert(again == paths && jobs == 0, s"second ensure launched $jobs job(s)")

    val rollup = paths(1)
    // the events appended once more double every count, not any average
    def daily = sortedRows(Ingest.openRollup(spark, rollup, h).avg("purchase", "user", d).drop("n"))
    val want = daily
    val partials = Ingest.openRollup(spark, rollup, h).frame.count()
    Ingest.appendRollup(Db.fromEvents(spark, sfDir), rollup, h)
    Ingest.compactRollup(spark, rollup)
    assert(Ingest.openRollup(spark, rollup, h).frame.count() == partials)
    assert(daily == want)
    for (sibling <- Seq(".compact", ".old")) {
      val leftover = java.nio.file.Paths.get(new java.net.URI(rollup + sibling))
      assert(!java.nio.file.Files.exists(leftover), s"compaction left $leftover behind")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
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
    val tmp = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_badmetric")).toString
    val e = intercept[Exception](Ingest.write(bad, tmp))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("invalid metric name")), e.toString)
  }

  test("tag predicates push down to the parquet scan over the ingest layout") {
    val layout = Ingest.ensureLayout(spark, sfDir,
      base = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_layout")).toString)
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

  test("an open with no data file fails as spark.read.parquet does") {
    val root = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_footer_err"))
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
}
