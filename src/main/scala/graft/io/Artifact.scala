package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Where graft keeps what it persists between sessions — layouts,
  * rollups, indexes, landings, streamed layouts — and when such an
  * artifact counts as complete. The validity rule, stated once:
  *
  *  - '''Key.''' An artifact derived from a source lives at
  *    `workDir/kind_params_hash_fingerprint` ([[path]]): `hash` is the
  *    source path's hash code in hex, `fingerprint` an md5 over every
  *    source file's relative path, size and modification time. A
  *    regenerated or touched source therefore lands on a new path and
  *    is rebuilt, never served from the old one. Params are rendered
  *    injectively (a double by its bit pattern), so two requests that
  *    differ in any param never share a path.
  *  - '''Completion.''' An artifact is complete when its `_DONE` marker
  *    exists. [[once]] runs the build only when the marker is absent and
  *    writes it after the build returns, so a build that throws (or a
  *    process that dies mid-build) leaves no marker and the next call
  *    builds again. A build must therefore overwrite what a failed
  *    attempt left, never append to it. An artifact that is changed in
  *    place after completion drops its marker first ([[invalidate]]).
  *  - '''Streams.''' A streamed artifact is drained once ([[drain]]):
  *    every micro-batch lands in its own `batch_id=N` directory with
  *    overwrite semantics and the query checkpoints at `path.ckpt`, so a
  *    rebuild after a crash replays from the checkpoint and a replayed
  *    batch rewrites its directory. [[openStaged]] reads only the batch
  *    directories whose write committed (`_SUCCESS`).
  *
  * Markers and batch discovery go through the Hadoop `FileSystem` of
  * the path, so the work dir may be any URI Spark writes to.
  */
private[graft] object Artifact {

  private val Marker = "_DONE"

  /** The path of the artifact `kind` built from `source` with `params`,
    * under the session's work dir.
    */
  def path(spark: SparkSession, kind: String, source: String, params: Any*): String =
    pathIn(graft.Conf.workDir(spark), kind, source, params: _*)

  /** [[path]] under the directory `root`. `kind` is a distinct literal
    * per artifact of `[a-z0-9-]`, so it holds no `_` and the key splits
    * back into its parts.
    */
  def pathIn(root: String, kind: String, source: String, params: Any*): String = {
    require(kind.matches("[a-z0-9-]+"), s"artifact kind '$kind' is not [a-z0-9-]+")
    (s"$root/$kind" +: params.map(render) :+
      Integer.toHexString(source.hashCode) :+ contentFingerprint(source)).mkString("_")
  }

  /** One param of a key. Integers print in decimal, a double as the hex
    * of its bit pattern (two doubles one ulp apart differ), a string
    * with every character outside `[A-Za-z0-9.]` as `-` and four hex
    * digits — so no rendered param holds the `_` that separates them.
    */
  private def render(p: Any): String = p match {
    case i: Int     => i.toString
    case l: Long    => l.toString
    case d: Double  => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case s: String  => s.flatMap { c =>
      if (c.isLetterOrDigit && c < 128 || c == '.') c.toString else f"-${c.toInt}%04x"
    }
    case other => throw new IllegalArgumentException(s"unsupported artifact param: $other")
  }

  /** Content fingerprint of a source path: md5 over every file's
    * relative path, size, and mtime. Keying cached layouts on it (not
    * just the dir name) means a regenerated source is never silently
    * served from a stale layout.
    */
  private def contentFingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val digest = java.security.MessageDigest.getInstance("MD5")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => s"${root.relativize(p)}:${java.nio.file.Files.size(p)}:" +
        s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
      .toSeq.sorted
      .foreach(s => digest.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    digest.digest().take(6).map("%02x".format(_)).mkString
  }

  /** `build` the artifact at `path` unless it is complete, then mark it
    * complete. Returns `path`.
    */
  def once(spark: SparkSession, path: String)(build: => Unit): String = {
    val marker = new Path(path, Marker)
    val fs = fileSystem(spark, marker)
    if (!fs.exists(marker)) {
      build
      fs.create(marker, true).close()
    }
    path
  }

  /** [[once]] at [[path]]: the artifact `kind` of `source`, built by
    * `build(path)` on the first call.
    */
  def ensure(spark: SparkSession, kind: String, source: String, params: Any*)
            (build: String => Unit): String = {
    val p = path(spark, kind, source, params: _*)
    once(spark, p)(build(p))
  }

  /** Mark the artifact at `path` incomplete, so the next [[once]]
    * rebuilds it. Call it BEFORE changing a completed artifact in place:
    * every state the change can crash in is then unmarked.
    */
  def invalidate(spark: SparkSession, path: String): Unit = {
    val marker = new Path(path, Marker)
    fileSystem(spark, marker).delete(marker, false)
  }

  /** The Hadoop `FileSystem` of `path`. */
  def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** The landing `path.landing`: `frame` written there once, for a
    * file-source stream to replay.
    */
  def landing(spark: SparkSession, path: String)(frame: => DataFrame): String = {
    val dir = s"$path.landing"
    once(spark, dir)(frame.write.mode("overwrite").parquet(dir))
  }

  /** A directory a file-source stream can watch over the parquet input
    * `file`: the input itself when it is a directory, else the landing
    * `path.landing` holding a symbolic link to it (local file systems).
    */
  def linked(spark: SparkSession, path: String, file: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(file).toAbsolutePath.normalize()
    if (Files.isDirectory(src)) src.toString
    else once(spark, s"$path.landing") {
      val link = Files.createDirectories(Paths.get(s"$path.landing")).resolve(src.getFileName)
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, src)
    }
  }

  /** Drain `stream` into the staged layout at `path` (one `batch_id=N`
    * overwrite directory per micro-batch), checkpointed at `path.ckpt`,
    * until the input available now is consumed. Returns the stopped query.
    */
  def drain[T](stream: Dataset[T], path: String, outputMode: String): StreamingQuery =
    drainTo(stream, s"$path.ckpt", outputMode) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$path/batch_id=$id")
    }

  /** [[drain]] with the micro-batch write `sink`, for layouts that stage
    * batches their own way; `sink` must overwrite on a replayed batch id.
    */
  def drainTo[T](stream: Dataset[T], checkpoint: String, outputMode: String)
                (sink: (Dataset[T], Long) => Unit): StreamingQuery = {
    val q = stream.writeStream
      .outputMode(outputMode)
      .foreachBatch(sink)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.streaming.StreamAwait.drain(q)
    q
  }

  /** The staged layout at `path` as one frame: the `batch_id=`
    * directories whose write committed, read through [[Source.read]]
    * with `path` as the base path and without the `batch_id` column.
    * Batches are found with one listing and one `_SUCCESS` check each,
    * and the open launches no Spark job. A path with no `batch_id=`
    * directory is read as it is.
    */
  def openStaged(spark: SparkSession, path: String): DataFrame = {
    val (staged, complete) = batches(spark, path)
    require(staged.isEmpty || complete.nonEmpty, s"no complete batch under staged layout $path")
    if (staged.isEmpty) Source.read(spark, path) else readBatches(spark, path, complete)
  }

  /** The committed batches of the staged layout at `path` as
    * [[openStaged]] reads them, or None when it has none (or no `path`).
    */
  def committedBatches(spark: SparkSession, path: String): Option[DataFrame] =
    Some(batches(spark, path)._2).filter(_.nonEmpty).map(readBatches(spark, path, _))

  /** The `batch_id=` directories under `path`, and those of them holding `_SUCCESS`. */
  private def batches(spark: SparkSession, path: String): (Seq[Path], Seq[Path]) = {
    val root = new Path(path)
    val fs = fileSystem(spark, root)
    val staged =
      (try fs.listStatus(root).toSeq catch { case _: java.io.FileNotFoundException => Nil })
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .map(_.getPath)
    (staged, staged.filter(b => fs.exists(new Path(b, "_SUCCESS"))))
  }

  private def readBatches(spark: SparkSession, path: String, complete: Seq[Path]): DataFrame =
    Source.read(spark, complete.map(_.toString).sorted, Map("basePath" -> path)).drop("batch_id")
}
