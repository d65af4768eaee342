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
  * Falls back to Spark's inference when no data file is found, so a
  * missing path still raises `AnalysisException`, and when the read merges
  * schemas (the `mergeSchema` option or `spark.sql.parquet.mergeSchema`),
  * which needs every footer.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    read(spark, Map.empty[String, String], paths)

  def read(spark: SparkSession, options: Map[String, String], paths: Seq[String]): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, options, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The data schema (no partition columns) of the first visible data file
    * under `paths`, from its footer; None where Spark must infer it.
    */
  private def footerSchema(spark: SparkSession, options: Map[String, String], paths: Seq[String]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (new ParquetOptions(options, sqlConf).mergeSchema) None
    else {
      val conf = spark.sessionState.newHadoopConfWithOptions(options)
      paths.iterator.map(p => firstDataFile(new Path(p), conf)).collectFirst { case Some(f) => f }.map { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
        val footer = try reader.getFooter finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(sqlConf))
      }
    }
  }

  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_"))

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
