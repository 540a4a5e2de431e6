package graft.streaming

import graft.SparkSpec
import graft.tsdb.{Db, Duration}
import org.apache.spark.sql.functions._

class StreamingSeriesStateSpec extends SparkSpec with graft.TimedSpec {

  private def seriesKey = concat_ws("|",
    col("tag_user"), coalesce(col("tag_k"), lit("∅"))).as("series")

  test("streamed rolling z-score is bit-equal to the batch cumulative-window chain") {
    import org.apache.spark.sql.expressions.Window
    val stream = StreamingAgg.eventsStream(spark, sfDir)
      .where(col("event_type") === "view")
      .select(concat_ws("|", col("user_id").cast("string")).as("series"),
        Db.tsNs(StreamingAgg.EventsSchema).as("ts"), col("value"))
    val q = StreamingSeriesState.enrichZ(stream)
      .writeStream.format("memory").queryName("series_z")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("series_z").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq

    // batch cumulative (expanding) window running the IDENTICAL chain
    val w = Window.partitionBy(col("series")).orderBy(col("ts"), col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = sum(col("value").cast("decimal(28,6)")).over(w).cast("double")
    val sq = sum(col("value").cast("decimal(18,6)") *
      col("value").cast("decimal(18,6)")).over(w).cast("double")
    val cnt = count(lit(1)).over(w)
    val sigma = sqrt(greatest((sq - (s * s) / cnt) / cnt, lit(0.0)))
    val batchRaw = spark.read.parquet(s"$sfDir/events.parquet")
    val batch = batchRaw
      .where(col("event_type") === "view")
      .select(concat_ws("|", col("user_id").cast("string")).as("series"),
        Db.tsNs(batchRaw.schema).as("ts"), col("value"))
      .select(col("series"), col("ts"), col("value"),
        when(cnt === 1L || sigma === 0.0, lit(null).cast("double"))
          .otherwise((col("value") - s / cnt) / sigma + lit(0.0)).as("z"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(got.nonEmpty && got == batch)
    // early points genuinely score against a short history: the first
    // point of every series has no deviation baseline (z is NULL there)
    val firsts = got.groupBy(_._1).values.map(_.head)
    assert(firsts.forall(_._4.isEmpty))
  }

  test("streamed per-series ewma is bit-equal to the batch fold; increase sums match per bucket") {
    val stream = StreamingAgg.eventsStream(spark, sfDir)
    val q = StreamingSeriesState.enrichEvents(stream, "click")
      .writeStream.format("memory").queryName("series_state")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("series_state")

    val db = Db.fromEvents(spark, sfDir)
    // ewma: every streamed point carries EXACTLY the batch kernel's value
    def ewmaRows(df: org.apache.spark.sql.DataFrame) = df
      .select("series", "ts", "value", "ewma").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2, t._3, t._4)).toSeq
    val gotE = ewmaRows(got)
    val batchE = ewmaRows(db.ewma("click").select(seriesKey,
      col("ts"), col("value"), col("ewma")))
    assert(gotE.nonEmpty && gotE == batchE)

    // increase: per-bucket DECIMAL sums of the streamed contributions
    // equal the batch operator's buckets; streamed-only buckets (a
    // series' first point with no pair) sum to zero
    val day = Duration.days(1)
    val batchI = db.increase("click", day).select(seriesKey,
        col("bucket_start"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val gotI = got.groupBy(col("series"),
        (expr(s"ts div ${day}L") * lit(day)).as("bucket_start"))
      .agg(sum(col("increase").cast("decimal(28,6)")).cast("double").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(batchI.nonEmpty)
    batchI.foreach { case (k, v) =>
      assert(gotI.get(k).contains(v), s"bucket $k: ${gotI.get(k)} != $v")
    }
    (gotI.keySet -- batchI.keySet).foreach { k =>
      assert(gotI(k) == 0.0, s"pairless bucket $k must contribute zero")
    }
  }

  test("streamed flap counters end at the batch resets/changes totals per series") {
    val stream = StreamingAgg.eventsStream(spark, sfDir)
      .where(col("event_type") === "click")
      .select(concat_ws("|", col("user_id").cast("string"),
        coalesce(nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1),
          lit("")), lit("∅"))).as("series"),
        Db.tsNs(StreamingAgg.EventsSchema).as("ts"), col("value"))
    val q = StreamingSeriesState.enrichFlaps(stream)
      .writeStream.format("memory").queryName("series_flaps")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // counters are cumulative in (ts, value) fold order — the final
    // counters per series sit on the fold-last point
    val fin = spark.table("series_flaps").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
      .groupBy(_._1).view
      .mapValues(rows => { val l = rows.maxBy(t => (t._2, t._3)); (l._4, l._5) })
      .toMap
    val day = Duration.days(1)
    val db = Db.fromEvents(spark, sfDir)
    def totals(df: org.apache.spark.sql.DataFrame, c: String) = df
      .select(seriesKey, col(c)).groupBy(col("series"))
      .agg(sum(col(c)).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchR = totals(db.resets("click", day), "resets")
    val batchC = totals(db.changes("click", day), "changes")
    assert(fin.nonEmpty && batchR.nonEmpty)
    fin.foreach { case (s, (r, c)) =>
      assert(batchR.getOrElse(s, 0L) == r, s"series $s resets")
      assert(batchC.getOrElse(s, 0L) == c, s"series $s changes")
    }
    // every batch series with pairs appears in the stream output too
    assert(batchR.keySet.subsetOf(fin.keySet))
  }

  test("ensureStreamed lands the stateful enrichment exactly once and reopens bit-equal") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("series"), r.getAs[Long]("ts"),
        r.getAs[Double]("value"), r.getAs[Double]("increase"),
        r.getAs[Double]("ewma"))).sortBy(t => (t._1, t._2, t._3)).toSeq
    val path = StreamingSeriesState.ensureStreamed(spark, sfDir, "click")
    val opened = rows(graft.io.Artifact.openStaged(spark, path))
    // reference: the same stateful stream drained into a memory sink
    val stream = StreamingAgg.eventsStream(spark, sfDir)
    val q = StreamingSeriesState.enrichEvents(stream, "click")
      .writeStream.format("memory").queryName("ewma_streamed_ref")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ref = rows(spark.table("ewma_streamed_ref"))
    assert(opened.nonEmpty && opened == ref)
    // idempotent rebuild: dropping the completion marker re-enters the
    // build, which replays off the checkpoint (AvailableNow sees no new
    // files) and must leave the layout identical — the exactly-once
    // read-back
    graft.io.Artifact.invalidate(spark, path)
    val path2 = StreamingSeriesState.ensureStreamed(spark, sfDir, "click")
    assert(path2 == path)
    assert(rows(graft.io.Artifact.openStaged(spark, path)) == opened)
  }

  test("ensureStreamedZ lands the expanding z exactly once; reopen is idempotent") {
    val path = StreamingSeriesState.ensureStreamedZ(spark, sfDir, "error")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("series"), r.getAs[Long]("ts"),
        r.getAs[Double]("value"),
        Option(r.getAs[java.lang.Double]("z")).map(_.toDouble))).toSet
    val opened = rows(graft.io.Artifact.openStaged(spark, path))
    val n = spark.read.parquet(s"$sfDir/events.parquet")
      .where(col("event_type") === "error").count()
    assert(opened.size == n)
    assert(StreamingSeriesState.ensureStreamedZ(spark, sfDir, "error") == path)
    assert(rows(graft.io.Artifact.openStaged(spark, path)) == opened)
  }
}
