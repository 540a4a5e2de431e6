package graft.tsdb

import java.io.FileNotFoundException
import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Opened graft layouts, kept so that a reopen of an unchanged layout
  * costs one file status instead of a footer read, a recursive listing
  * with partition inference and the analysis of the opened frame — the
  * keyspace handle an embedded store opens once (talna
  * `Database::builder().open(path)`, `src/db_builder.rs`).
  *
  * A handle is the opened frame, with the file index its scans read,
  * and its [[SmallInputRoute]], kept per (session, qualified root,
  * kind). It stays valid while the root's `_SUCCESS` keeps the
  * (modification time, length) it had when the handle was built. That
  * status is read BEFORE the frame is built, so a commit that lands
  * during the build changes it and the next open builds afresh. graft's
  * own writers [[drop]] the handles of the path they write, so a reader
  * in the same JVM sees its write even where a commit does not move the
  * marker's modification time. A root without `_SUCCESS` (a staged
  * rollup, a streaming sink, a missing path) is built afresh on every
  * open and never kept.
  *
  * Sessions are held weakly and handles softly (a handle's frame refers
  * back to its session): an idle session's handles go at a collection
  * that clears soft references, and then the session itself.
  */
private[tsdb] object Handles {

  private final class Handle(val success: (Long, Long), val route: SmallInputRoute)

  /** (qualified root, kind) → handle, per session. */
  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, String), SoftReference[Handle]]]()

  /** The handle of `kind` for the layout at `path`: the kept one while
    * the root's `_SUCCESS` is unchanged, else one over the frame `build`
    * returns.
    */
  def open(spark: SparkSession, path: String, kind: String)(build: => DataFrame): SmallInputRoute = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val success =
      try {
        val s = fs.getFileStatus(new Path(root, "_SUCCESS"))
        Some((s.getModificationTime, s.getLen))
      } catch { case _: FileNotFoundException => None }
    success match {
      case None => new SmallInputRoute(build)
      case Some(status) =>
        val key = (fs.makeQualified(root).toString, kind)
        val handles = sessions.synchronized(
          sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
        Option(handles.get(key)).flatMap(h => Option(h.get)).filter(_.success == status) match {
          case Some(h) => h.route
          case None =>
            val h = new Handle(status, new SmallInputRoute(build))
            handles.put(key, new SoftReference(h))
            h.route
        }
    }
  }

  /** Forget every session's handles of the layout at `path`; graft's
    * writers call it once their write has committed.
    */
  def drop(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val qualified = root.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(root).toString
    sessions.synchronized(sessions.values.asScala.toList)
      .foreach(_.keySet.removeIf(_._1 == qualified))
  }
}
