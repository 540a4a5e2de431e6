package graft.tsdb

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** Driver-side parquet schema for graft layouts. A bare
  * `spark.read.parquet` infers the schema inside a Spark job even with
  * `mergeSchema=false`, where that job reads exactly one footer: the
  * first data file in sorted path order. Reading that same footer here
  * and handing the schema to `spark.read.schema(..)` yields the same
  * frame with no job, so opening a layout costs a file listing and one
  * footer read — the fixed per-query cost an embedded store never pays.
  * Partition discovery and Spark's own file listing are untouched.
  */
private[graft] object FooterSchema {

  /** `spark.read.options(options).parquet(paths: _*)` with the data
    * schema read on the driver; defers to the plain read (and so to
    * Spark's own errors) when [[dataSchema]] has no answer.
    */
  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    dataSchema(spark, paths, options) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None    => reader.parquet(paths: _*)
    }
  }

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** The data schema (partition columns excluded) Spark infers for
    * `paths` without merging, or None when Spark must decide: no data
    * file (missing path, only `_SUCCESS`), parquet summary files, an
    * unreadable footer, or schema merging turned on.
    */
  def dataSchema(spark: SparkSession, paths: Seq[String],
                 options: Map[String, String] = Map.empty): Option[StructType] = {
    val merge = options.get("mergeSchema").map(_.toBoolean)
      .getOrElse(spark.sessionState.conf.isParquetSchemaMergingEnabled)
    if (merge) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      try {
        val roots = paths.map { p =>
          val path = new Path(p)
          path.getFileSystem(conf).getFileStatus(path)
        }
        firstDataFile(roots, conf).map { status =>
          val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, conf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, meta),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        }
      } catch {
        case NonFatal(_) => None
      }
    }
  }

  /** The first data file in sorted full-path order, walking depth first
    * instead of listing the whole tree. Siblings are visited by name,
    * with a directory's name taken as `name + "/"`: under one parent,
    * every path below an earlier key sorts before every path below a
    * later one, so the first file reached is the minimum Spark picks.
    * Hidden names are skipped as Spark's file index skips them. A
    * parquet summary file, which Spark would read instead, ends the
    * walk with [[SummaryFileFound]].
    */
  private def firstDataFile(statuses: Seq[FileStatus], conf: Configuration): Option[FileStatus] = {
    def key(s: FileStatus) = s.getPath.toString + (if (s.isDirectory) "/" else "")
    statuses.sortBy(key).iterator.flatMap { s =>
      if (!s.isDirectory) Iterator.single(s)
      else {
        val children = s.getPath.getFileSystem(conf).listStatus(s.getPath).toSeq
        if (children.exists(c => SummaryFiles(c.getPath.getName))) throw SummaryFileFound
        firstDataFile(children.filterNot(c => hidden(c.getPath.getName)), conf)
      }
    }.nextOption()
  }

  private object SummaryFileFound extends java.io.IOException("parquet summary file")

  private val SummaryFiles = Set("_metadata", "_common_metadata")

  /** Spark's rule for names its file index drops while listing. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
