package graft.streaming

import graft.io.{Artifact, Source}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The shared 4-chunk time-ordered landing every cross-batch stateful
  * replay contract in this package leans on: the events table staged
  * as four CONSECUTIVE time-range parquet chunks with ascending
  * mtimes, so a `maxFilesPerTrigger=1` file stream replays them
  * oldest-first as four deterministic micro-batches. Chunks partition
  * the global time axis — all of a key's chunk-i events precede its
  * chunk-i+1 events, and equal-ts events never straddle a boundary —
  * which is exactly the cross-batch per-key ordering the
  * `flatMapGroupsWithState` folds downstream assume.
  */
object TimeChunkedLanding {

  /** Stage `sfDir`'s events under `basePath.landing` once (an
    * [[graft.io.Artifact.once]]; a crash mid-stage restages from
    * scratch). The span bounds are a two-VALUE driver read, never the
    * data. Returns the landing directory path.
    */
  def ensure(spark: SparkSession, sfDir: String, basePath: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val landing = Paths.get(s"$basePath.landing")
    Artifact.once(spark, landing.toString) {
      val raw = Source.table(spark, sfDir, "events")
      val tsNs = graft.tsdb.Db.tsNs(raw.schema)
      val ev = raw.withColumn("_tsns", tsNs)
      val Array(lo, hi) = ev.agg(min(col("_tsns")), max(col("_tsns")))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val span = math.max(hi - lo + 1, 4L)
      Files.createDirectories(landing)
      for (i <- 0 until 4) {
        val a = lo + span * i / 4
        val b = if (i == 3) hi + 1 else lo + span * (i + 1) / 4
        val tmp = s"$basePath.chunk_$i"
        ev.where(col("_tsns") >= a && col("_tsns") < b).drop("_tsns")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .head.toPath
        val dst = landing.resolve(f"chunk_$i%d.parquet")
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        // ascending mtimes = deterministic oldest-first replay order
        Files.setLastModifiedTime(dst,
          FileTime.fromMillis(1704067200000L + i * 60000L))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }
  }
}
