package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** How graft opens a parquet input and learns its size: every operator,
  * streaming job and layout open reads through here.
  *
  * A bare `spark.read.parquet` infers the schema inside a Spark job even
  * with `mergeSchema=false`, where that job reads exactly one footer: the
  * first data file in sorted path order. [[read]] reads that same footer
  * on the driver and hands the schema to `spark.read.schema(..)`, which
  * yields the same frame with no job; partition discovery and Spark's own
  * file listing are untouched. [[rows]] sums the row counts the footers
  * record instead of running a `count()` job. So opening an input costs a
  * file listing and footer reads — the per-query setup an embedded engine
  * never pays.
  */
private[graft] object Source {

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

  /** [[read]] of the table `$dir/$name.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** The parquet files under the directory `dir` as a file-source
    * stream with the schema [[read]] finds, at most `filesPerBatch`
    * files per micro-batch when positive (all available files when 0).
    */
  def stream(spark: SparkSession, dir: String, filesPerBatch: Int = 0): DataFrame = {
    val reader = spark.readStream.schema(read(spark, dir).schema)
    (if (filesPerBatch > 0) reader.option("maxFilesPerTrigger", filesPerBatch.toLong) else reader)
      .parquet(dir)
  }

  /** The row count of the parquet input at `path`: the sum of the
    * row-group row counts in the footers of the files [[read]] lists.
    * The footers are read on the driver while there are at most
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files —
    * the bound above which Spark itself stops listing on the driver —
    * and the frame is counted by a Spark job above it.
    */
  def rows(spark: SparkSession, path: String): Long = {
    val df = read(spark, path)
    val files = df.inputFiles
    if (files.length > spark.sessionState.conf.parallelPartitionDiscoveryThreshold) df.count()
    else {
      val conf = spark.sessionState.newHadoopConf()
      files.iterator.map { f =>
        ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(new Path(new java.net.URI(f)), conf),
          ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
      }.sum
    }
  }

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
