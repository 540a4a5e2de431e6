package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamingAggSpec extends SparkSpec with graft.TimedSpec {

  test("streaming windowed avg matches the batch aggregation") {
    val stream = StreamingAgg.eventsStream(spark, sfDir)
    assert(stream.isStreaming)
    val q = StreamingAgg.bucketedAvg(stream)
      .writeStream.format("memory").queryName("stream_agg")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_agg")

    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type").as("metric"),
        col("ts").cast("timestamp").as("ts"),
        col("value"), col("user_id").cast("string").as("grp"))
      .groupBy(col("metric"), col("grp"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("value"))
      .select("metric", "grp", "n", "value")

    assert(got.count() == batch.count())
    val g = got.groupBy("metric").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = batch.groupBy("metric").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g == b)
  }

  test("streaming sketch quantile honors the GK rank-error contract per window") {
    val stream = StreamingAgg.eventsStream(spark, sfDir)
      .where(col("event_type") === "view")
    val q = StreamingAgg.bucketedQuantile(stream)
      .writeStream.format("memory").queryName("stream_q")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_q").collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime) ->
        (r.getLong(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)

    val grouped = spark.read.parquet(s"$sfDir/events.parquet")
      .where(col("event_type") === "view")
      .select(col("event_type").as("metric"), col("ts").cast("timestamp").as("ts"),
        col("value"), col("user_id").cast("string").as("grp"))
      .groupBy(col("metric"), col("grp"), window(col("ts"), "1 day"))
      .agg(collect_list(col("value")).as("vs"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getStruct(2).getTimestamp(0).getTime) ->
        r.getSeq[Double](3).sorted).toMap
    assert(got.keySet == grouped.keySet)
    got.foreach { case (k, (n, v)) =>
      val vs = grouped(k)
      assert(n == vs.length)
      val firstRank = vs.indexWhere(_ == v) + 1
      assert(firstRank >= 1, s"window $k: $v is not an actual data point")
      val lastRank = vs.lastIndexWhere(_ == v) + 1
      val target = math.ceil(0.95 * vs.length).toInt
      val slack = math.ceil(vs.length / 10000.0).toInt + 1
      assert(firstRank - slack <= target && target <= lastRank + slack,
        s"window $k: $v ranks [$firstRank,$lastRank], target $target ± $slack")
    }
  }

  test("streamed decimal partials compact to the batch ts_avg, bit-exactly") {
    import org.apache.spark.sql.functions._
    val got = StreamingAgg.streamedAvg(spark, sfDir)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket_start")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("value")))).toMap
    val batch = graft.tsdb.Db.fromEvents(spark, sfDir)
      .avg("purchase", "user").granularity(graft.tsdb.Duration.days(1)).build()
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket_start")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("value")))).toMap
    assert(got == batch)
  }

  test("streamed apdex counters compact to the batch ts_apdex, bit-exactly") {
    val got = StreamingAgg.streamedApdex(spark, sfDir)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket_start")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_sat"), r.getAs[Long]("n_tol"),
          r.getAs[Double]("apdex")))).toMap
    val batch = graft.tsdb.Db.fromEvents(spark, sfDir)
      .apdex("view", "user", 60.0)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket_start")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_sat"), r.getAs[Long]("n_tol"),
          r.getAs[Double]("apdex")))).toMap
    assert(got == batch && got.nonEmpty)
  }

  test("streamed HLL merges to the batch estimate bit-exactly, in-band everywhere") {
    // band gate: every bucket TRUE, exact anchor matches activeSeries
    val band = StreamingAgg.streamedHllBand(spark, sfDir).collect()
    assert(band.nonEmpty)
    assert(band.forall(_.getAs[Boolean]("within_band")))
    val exact = graft.tsdb.Db.fromEvents(spark, sfDir)
      .activeSeries("view", 86400L * 1000000000L).collect()
      .map(r => r.getAs[Long]("bucket_start") -> r.getAs[Long]("n_series")).toMap
    assert(band.map(_.getAs[Long]("bucket_start")).toSet == exact.keySet)
    band.foreach(r => assert(
      r.getAs[Long]("n_series") == exact(r.getAs[Long]("bucket_start"))))

    // HLL registers merge by element-wise max (associative, idempotent)
    // — unlike GK, the cross-micro-batch streamed estimate must equal
    // the single-pass batch estimate EXACTLY
    val path = StreamingAgg.ensureStreamedHll(spark, sfDir)
    val streamed = graft.io.Artifact.openStaged(spark, path)
      .where(col("metric") === "view")
      .groupBy(col("bucket_start"))
      .agg(max(struct(col("n_points"), col("approx"))).as("last"))
      .select((unix_micros(col("bucket_start")) * lit(1000L)).as("bucket_start"),
        col("last.approx").as("approx"))
      .collect().map(r => r.getAs[Long]("bucket_start") -> r.getAs[Long]("approx")).toMap
    val db = graft.tsdb.Db.fromEvents(spark, sfDir)
    val sid = concat(coalesce(col("tag_k"), lit("-")), lit("|"),
      coalesce(col("tag_user"), lit("-")))
    val batchEst = db.scan("view")
      .groupBy((expr(s"ts div ${86400L * 1000000000L}L") * lit(86400L * 1000000000L))
        .as("bucket_start"))
      .agg(approx_count_distinct(sid, 0.02).as("approx"))
      .collect().map(r => r.getAs[Long]("bucket_start") -> r.getAs[Long]("approx")).toMap
    assert(streamed == batchEst,
      "cross-batch register merge must reproduce the one-pass estimate")
  }
}
