package graft.tsdb

import graft.io.{Artifact, Source}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch ingest: writes a canonical series frame in the graft on-disk
  * layout — parquet partitioned by `metric` (directory-level pruning is
  * the distributed analog of the reference's per-metric posting lists,
  * talna `src/tag_index.rs`), rows sorted by `ts` within files so
  * parquet row-group min/max statistics prune time ranges.
  *
  * At 100 TB: one directory per metric, `repartition(metric, bucket(ts))`
  * ahead of the write keeps file counts bounded per partition, and time
  * locality within files makes `start/end` scans IO-minimal.
  *
  * A layout is opened once per session and reused ([[open]],
  * [[openRollup]], [[Handles]]): the handle — the opened frame with its
  * file index — stays valid while the root's `_SUCCESS` keeps the file
  * status it had when the handle was built, and every writer below
  * drops the handles of the path it writes. A dashboard query on an
  * unchanged layout therefore pays one file status to open it.
  *
  * Aggregates over these layouts ([[AggBuilder.build]], [[Db.latest]],
  * [[Rollup.agg]]) take one of two routes, picked per query by
  * [[SmallInputRoute]] from one statistic: the total size of the
  * files the scan selects after partition pruning, read from the file
  * index listed at open, once per handle and metric. At most
  * `spark.sql.files.openCostInBytes` (4 MB by default), the input is
  * read on one partition and the query runs as one job with no
  * exchange; above it, the aggregate shuffles as usual. Layout upkeep
  * (compaction, `_SUCCESS` checks, batch discovery) goes through the
  * Hadoop `FileSystem` of the path, so the work dir may be any URI
  * Spark writes to (HDFS, an object store).
  */
object Ingest {

  /** Distributed metric-name validation: the reference rejects invalid
    * names at the write boundary (`src/db.rs:319` via
    * `MetricName::try_from`, `src/metric_name.rs:15-25`). Wrapping the
    * column in a `raise_error` guard fails the write job on the first
    * invalid value without a separate validation pass.
    */
  private[graft] def validatedMetric: org.apache.spark.sql.Column =
    when(col("metric").rlike("^[a-z_.]+$"), col("metric"))
      .otherwise(raise_error(concat(
        lit("invalid metric name: '"), col("metric"), lit("' (allowed: a-z _ .)"))))

  /** Shuffle key ahead of a layout write: (metric, week, salt). Keys the
    * exchange by layout locality — same metric+week lands together, the
    * salt caps files per (metric, week) at `filesPerWeek` — while the
    * partition COUNT stays `spark.sql.shuffle.partitions` (cluster-
    * sized), so writer parallelism scales with the cluster instead of
    * being pinned to the file-count knob.
    */
  private def layoutKey(filesPerWeek: Int) = Seq(
    col("metric"), expr(s"ts div ${Duration.days(7)}L"),
    pmod(hash(col("ts")), lit(filesPerWeek)))

  /** Stored value dtype per the reference's precision contract: talna
    * stores `Value = f32` unless the `high_precision` (f64) build flag
    * is set (`src/lib.rs:112-116`). graft defaults to f64
    * (`highPrecision = true`); opting into f32 halves value bytes —
    * 2× IO/footprint at 100 TB — while [[open]] widens back to double
    * so the query/aggregation path is unchanged (f32→f64 is exact).
    */
  private def storedValue(highPrecision: Boolean): org.apache.spark.sql.Column =
    if (highPrecision) col("value") else col("value").cast("float")

  def write(db: Db, path: String, filesPerWeek: Int = 4,
            highPrecision: Boolean = true): Unit =
    writeLayout(db, path, filesPerWeek, highPrecision, "overwrite")

  /** Append a batch to an existing layout — the Spark re-expression of
    * the reference's `Database::write` ingestion path (talna
    * `src/db.rs:319`): micro-batched appends instead of per-point LSM
    * inserts. `write_at` (explicit timestamp, `src/db.rs:324`) needs no
    * separate API: every row of the canonical frame carries its own
    * `ts`, so all graft writes are explicit-timestamp writes.
    */
  def append(db: Db, path: String, filesPerWeek: Int = 4,
             highPrecision: Boolean = true): Unit =
    writeLayout(db, path, filesPerWeek, highPrecision, "append")

  /** The layout write behind [[write]] and [[append]], which differ only
    * in the save `mode`.
    */
  private def writeLayout(db: Db, path: String, filesPerWeek: Int,
                          highPrecision: Boolean, mode: String): Unit =
    save(db.frame
      .withColumn("metric", validatedMetric)
      .withColumn("value", storedValue(highPrecision))
      .repartition(layoutKey(filesPerWeek): _*)
      .sortWithinPartitions(col("metric"), col("ts")), path, mode)

  /** Write `df` as metric-partitioned parquet at `path` in `mode`, then
    * drop the open handles of `path`, so a reopen in this JVM reads the
    * write.
    */
  private def save(df: DataFrame, path: String, mode: String): Unit = {
    df.write.partitionBy("metric").mode(mode).parquet(path)
    Handles.drop(df.sparkSession, path)
  }

  /** Reopen a graft layout as a Db. The `metric` partition column comes
    * back as a string column; tag columns keep their `tag_` prefix; a
    * float-stored `value` (see [[write]]) widens back to double so
    * aggregation always runs in f64, like the reference's query path.
    *
    * The first open in a session lists the layout and reads one parquet
    * footer on the driver ([[graft.io.Source]]); it launches no Spark job.
    * Later opens return the same handle — the same frame, file index
    * and route statistics — for as long as the root's `_SUCCESS` keeps
    * its modification time and length and no graft writer has written
    * the path ([[Handles]]); such an open costs one file status. A root
    * without `_SUCCESS` (a streaming sink) is opened afresh every time.
    */
  def open(spark: SparkSession, path: String): Db =
    new Db(Handles.open(spark, path, "layout") {
      Source.read(spark, path)
        .withColumn("metric", col("metric").cast("string"))
        .withColumn("value", col("value").cast("double"))
    })

  /** Bucketed series layout: `bucketBy` on the series key (metric +
    * primary tag) with in-bucket sort. Repeated series-keyed joins and
    * aggregations between tables written this way are co-located —
    * Catalyst plans them with NO shuffle exchange, the Spark analog of
    * the reference keeping a series' points contiguous under one
    * SeriesId. Requires `saveAsTable` (bucket metadata lives in the
    * catalog); at 100 TB this is the layout for series-join-heavy
    * workloads, while the plain [[write]] layout optimizes scan+filter.
    */
  def writeBucketed(db: Db, table: String, buckets: Int = 8,
                    tagKey: String = "user"): Unit =
    db.frame
      .withColumn("metric", validatedMetric)
      .write
      .bucketBy(buckets, "metric", Db.TagPrefix + tagKey)
      .sortBy("metric", Db.TagPrefix + tagKey, "ts")
      .mode("overwrite").format("parquet")
      .saveAsTable(table)

  /** Reopen a bucketed table as a Db. */
  def openTable(spark: SparkSession, table: String): Db =
    new Db(spark.table(table))

  /** Materialize a rollup layout ([[Rollup]]): one hash aggregate over
    * the raw frame into per (metric × tagset × `widthNs` bucket)
    * partials, parquet-partitioned by metric like the point layout.
    * Decimal sums keep re-aggregation exact; the rollup is typically
    * orders of magnitude smaller than its source, so the write is
    * amortized after a handful of dashboard queries.
    */
  def writeRollup(db: Db, path: String, widthNs: Long): Unit =
    save(rollupPartials(db, widthNs), path, "overwrite")

  private def rollupPartials(db: Db, widthNs: Long) = {
    val tags = db.tagColumns.map(col)
    db.frame
      .withColumn("metric", validatedMetric)
      .groupBy(col("metric") +: tags :+
        (expr(s"ts div ${widthNs}L") * lit(widthNs)).as("bucket_start"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).as("sum_value"),
        // Σv² partial (decimal(18,6)² = decimal(37,12), exact): makes
        // population stddev decomposable at query time — anomaly bands
        // answered from partials instead of a raw 100 TB re-scan
        sum(col("value").cast("decimal(18,6)") *
          col("value").cast("decimal(18,6)")).as("sum_sq"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
  }

  /** Incremental rollup maintenance: aggregate ONLY the new batch into
    * partials and append them. No read-modify-write of existing
    * partials is needed — [[Rollup.agg]] re-aggregates at query time,
    * so duplicate (series, bucket) partial rows from different batches
    * merge by the same associativity that merges buckets (counts and
    * decimal sums add, mins/maxes combine). Appending a batch costs
    * one aggregate over the batch, independent of the rollup's size —
    * the property that makes continuous aggregates operable at 100 TB.
    * (Periodic compaction — rewriting a partition back to one partial
    * per series-bucket — is an optimization, not a correctness need.)
    */
  def appendRollup(db: Db, path: String, widthNs: Long): Unit =
    save(rollupPartials(db, widthNs), path, "append")

  /** Exactly-once variant of [[appendRollup]] for replayable writers
    * (Structured Streaming `foreachBatch`): the batch's partials land
    * under a `batch_id=<id>` partition directory with OVERWRITE
    * semantics, so re-executing a batch after a crash rewrites the same
    * directory instead of appending a duplicate copy — the append is
    * idempotent per batch id. A crash mid-write leaves the directory
    * without its `_SUCCESS` marker; [[openRollup]] prunes such
    * incomplete batches at read time, and the eventual replay rewrites
    * them. Do not mix with plain [[appendRollup]] on one layout (the
    * directory depths differ).
    */
  def appendRollupBatch(db: Db, path: String, widthNs: Long,
                        batchId: Long): Unit =
    save(rollupPartials(db, widthNs), s"$path/batch_id=$batchId", "overwrite")

  /** Compact a rollup layout: merge the partial rows accumulated by
    * [[appendRollup]] back to ONE row per (series, bucket) — the same
    * associative combination the query-time merge applies, persisted.
    * Purely an optimization (query results are identical before and
    * after, spec-asserted); run it when the partial-row multiplicity
    * makes scans noticeably wider. The rewrite stages to a sibling
    * directory, moves the live copy ASIDE, swaps the staged copy in,
    * and only then deletes the old copy — a crash at any step leaves a
    * complete rollup on disk (live or at `path + ".old"`), never a
    * destroyed one. Still not atomic against CONCURRENT readers; a
    * real deployment layers a transactional table format for that.
    */
  def compactRollup(spark: SparkSession, path: String): Unit = {
    val tmp = path + ".compact"
    save(mergePartials(Source.read(spark, path), col("bucket_start")), tmp, "overwrite")
    val dir = new Path(path)
    val old = new Path(path + ".old")
    val fs = Artifact.fileSystem(spark, dir)
    fs.delete(old, true)
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"compaction aside-move failed: $path -> $old")
    if (!fs.rename(new Path(tmp), dir)) {
      // roll back so the live path keeps serving the pre-compaction copy
      fs.rename(old, dir)
      throw new java.io.IOException(s"compaction swap failed: $tmp -> $path")
    }
    Handles.drop(spark, path)
    fs.delete(old, true)
  }

  /** Reopen a rollup layout written by [[writeRollup]]/[[appendRollup]]
    * or batch-staged by [[appendRollupBatch]]. Staged layouts are
    * detected by their `batch_id=` partition directories; batches whose
    * write never completed (no `_SUCCESS` marker — a crash between the
    * parquet job and the streaming checkpoint commit) are pruned here,
    * which is the read half of the exactly-once contract. Like [[open]],
    * opening launches no Spark job: batches are found through the
    * Hadoop `FileSystem` of `path`, and the schema comes from one footer.
    * Also like [[open]], a rollup whose root holds `_SUCCESS` (written
    * by [[writeRollup]], [[appendRollup]] or [[compactRollup]]) is
    * opened once and reused while that marker is unchanged; a staged
    * root has no marker of its own, so its complete batches are found
    * afresh on every open.
    */
  def openRollup(spark: SparkSession, path: String, widthNs: Long): Rollup =
    new Rollup(Handles.open(spark, path, "rollup")(
      Artifact.openStaged(spark, path).withColumn("metric", col("metric").cast("string"))), widthNs)

  /** Write-once cached rollup for a source events dir (same contract as
    * [[ensureLayout]]).
    */
  def ensureRollup(spark: SparkSession, sfDir: String, widthNs: Long,
                   base: String = ""): String = {
    val path = rollupPath(sfDir, widthNs, graft.Conf.resolveWorkDir(spark, base))
    Artifact.once(spark, path)(writeRollup(Db.fromEvents(spark, sfDir), path, widthNs))
  }

  /** Downsample an existing rollup layout one level COARSER — the
    * multi-resolution ladder (1 m → 1 h → 1 d → …) every production
    * metrics store maintains (the M3/Thanos downsampling posture):
    * the coarser level's partials are built FROM the finer level's,
    * never from raw points, so each additional level costs one
    * aggregate over data already orders of magnitude smaller than the
    * source — at 100 TB the ladder build is a rounding error next to
    * the first rollup. Counts and decimal sums add, Σv² adds,
    * mins/maxes combine — the SAME associativity that makes
    * query-time width re-aggregation exact makes the level build
    * exact, so a query answered from a cascaded level is bit-equal to
    * one answered from raw points (the ts_rollup_cascade oracle's
    * hash-checked claim, and the property that lets a deployment
    * route each query to the coarsest level satisfying its
    * granularity).
    */
  def writeRollupFrom(spark: SparkSession, srcPath: String, srcWidth: Long,
                      path: String, widthNs: Long): Unit = {
    require(widthNs % srcWidth == 0,
      s"cascade width $widthNs is not a multiple of the source width $srcWidth")
    save(mergePartials(openRollup(spark, srcPath, srcWidth).frame,
      (expr(s"bucket_start div ${widthNs}L") * lit(widthNs)).as("bucket_start")),
      path, "overwrite")
  }

  /** Merge rollup partials to one row per (metric, tagset, `bucketStart`),
    * the grouping column named `bucket_start`: counts, decimal sums and
    * Σv² add, mins/maxes combine. Shared by [[compactRollup]] (same
    * buckets) and [[writeRollupFrom]] (coarser buckets).
    */
  private def mergePartials(partials: DataFrame, bucketStart: Column): DataFrame = {
    val tags = partials.columns.filter(_.startsWith(Db.TagPrefix)).sorted.toSeq.map(col)
    partials
      .groupBy(col("metric") +: tags :+ bucketStart: _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_value")).as("sum_value"),
        sum(col("sum_sq")).as("sum_sq"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
  }

  /** Write-once cached two-level cascade: the `widthNs` rollup built
    * from the `srcWidth` rollup (which [[ensureRollup]] builds from
    * raw). Cache-keyed by BOTH widths so a ladder and a direct build
    * at the same width never collide.
    */
  def ensureRollupCascade(spark: SparkSession, sfDir: String,
                          srcWidth: Long, widthNs: Long,
                          base: String = ""): String = {
    val srcPath = ensureRollup(spark, sfDir, srcWidth, base)
    val path = Artifact.pathIn(graft.Conf.resolveWorkDir(spark, base), "rollup-cascade",
      s"$sfDir/events.parquet", LayoutVersion, srcWidth, widthNs)
    Artifact.once(spark, path)(writeRollupFrom(spark, srcPath, srcWidth, path, widthNs))
  }

  /** [[ensureRollupCascade]] over an EXISTING rollup path — e.g. the
    * batch-id-staged layout a streaming landing maintains
    * ([[graft.streaming.StreamingRollup.ensureStreamed]]): the ladder
    * does not care how its source level was landed, because
    * [[openRollup]] already normalizes staged layouts. The cascade
    * lives beside the source path (itself an [[graft.io.Artifact]] key),
    * so a re-landed source re-keys the cascade.
    */
  def ensureRollupCascadeFrom(spark: SparkSession, srcPath: String,
                              srcWidth: Long, widthNs: Long): String = {
    val path = s"${srcPath}_cascade_w$widthNs"
    Artifact.once(spark, path)(writeRollupFrom(spark, srcPath, srcWidth, path, widthNs))
  }

  /** The [[graft.io.Artifact]] path [[ensureRollup]] uses for a
    * source dir (no side effects — lets a benchmark evict the cache to
    * time the build separately from the query).
    */
  private[graft] def rollupPath(sfDir: String, widthNs: Long,
                                base: String): String =
    Artifact.pathIn(base, "rollup", s"$sfDir/events.parquet", LayoutVersion, widthNs)

  /** Bump when the canonical frame layout changes (e.g. tag semantics),
    * so cached layouts from older code are never silently reused.
    */
  // v4: rollup partials carry the Σv² column (stddev decomposability)
  private val LayoutVersion = 4

  /** Write-once cached graft layout for a source events dir, an
    * [[graft.io.Artifact]]: the first call materializes `Db.fromEvents`
    * through [[write]]; later calls reuse it. Lets queries exercise the real on-disk layout (metric
    * partition dirs + materialized tag columns ⇒ partition pruning and
    * parquet tag pushdown) without rewriting per run.
    */
  def ensureLayout(spark: SparkSession, sfDir: String,
                   base: String = ""): String = {
    val path = Artifact.pathIn(graft.Conf.resolveWorkDir(spark, base), "layout",
      s"$sfDir/events.parquet", LayoutVersion)
    Artifact.once(spark, path)(write(Db.fromEvents(spark, sfDir), path))
  }
}
