package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Reads of the Parquet stores this program writes, without a schema job.
  *
  * `spark.read.parquet(dir)` infers the schema by launching a one-task
  * Spark job that reads one footer (`SchemaMergeUtils.mergeSchemasInParallel`),
  * before the query itself runs. [[read]] reads that footer on the driver
  * instead, converts it with Spark's own conversion
  * (`ParquetFileFormat.readSchemaFromFooter`, the call the inference job
  * makes) and hands the result to the reader as its schema. Partition
  * columns are still inferred from the directory names by Spark's file
  * index, exactly as before.
  *
  * The footer is the first visible data file's, in path order, as in
  * Spark's own inference; entries whose names start with `_` or `.` are
  * skipped as Spark's file index skips them. The stores write no summary
  * files (`_metadata`), which inference would read first.
  *
  * [[read]] falls back to Spark's inference when no data file is found,
  * so a missing path still raises `AnalysisException` ([[readIfAny]]
  * answers None there instead), and when the read merges
  * schemas (the `mergeSchema` option or `spark.sql.parquet.mergeSchema`),
  * which needs every footer.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    read(spark, Map.empty[String, String], paths)

  def read(spark: SparkSession, options: Map[String, String], paths: Seq[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    load(spark, options, paths, conf, if (mergesSchema(spark, options)) None else firstDataFile(paths, conf))
  }

  /** [[read]], or None when no path holds a visible data file (a missing
    * path, an empty dir, a table whose every file was deleted). Spark's
    * reader is not started then, so nothing fails and nothing is logged.
    * The probe is the listing [[read]] makes for its footer anyway.
    */
  def readIfAny(spark: SparkSession, paths: String*): Option[DataFrame] = {
    val conf = spark.sessionState.newHadoopConf()
    firstDataFile(paths, conf).map { file =>
      load(spark, Map.empty, paths, conf, if (mergesSchema(spark, Map.empty)) None else Some(file))
    }
  }

  private def mergesSchema(spark: SparkSession, options: Map[String, String]): Boolean =
    new ParquetOptions(options, spark.sessionState.conf).mergeSchema

  /** Spark's reader over `paths`, with the data schema (no partition
    * columns) of `footer`'s file where one is given, else inferred.
    */
  private def load(spark: SparkSession, options: Map[String, String], paths: Seq[String],
      conf: Configuration, footer: Option[FileStatus]): DataFrame = {
    val reader = spark.read.options(options)
    footer.map(schemaOf(spark, conf, _)).fold(reader)(reader.schema).parquet(paths: _*)
  }

  private def schemaOf(spark: SparkSession, conf: Configuration, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_"))

  /** The first visible data file under `paths`, in path order. */
  private def firstDataFile(paths: Seq[String], conf: Configuration): Option[FileStatus] =
    paths.iterator.map(p => firstDataFile(new Path(p), conf)).collectFirst { case Some(f) => f }

  /** Depth-first, children in name order, down to the first visible file. */
  private def firstDataFile(path: Path, conf: Configuration): Option[FileStatus] = {
    val fs = path.getFileSystem(conf)
    def first(s: FileStatus): Option[FileStatus] =
      if (s.isFile) Some(s)
      else fs.listStatus(s.getPath).filter(c => visible(c.getPath.getName)).sortBy(_.getPath.getName)
        .iterator.map(first).collectFirst { case Some(f) => f }
    try first(fs.getFileStatus(path))
    catch { case _: FileNotFoundException => None }
  }
}
