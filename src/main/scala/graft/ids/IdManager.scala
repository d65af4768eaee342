package graft.ids

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.io.{Parquet, PartitionManager, RunLog}

/** Configuration for the id-manager vertex table.
  * Ref: common/.../models/Config.scala (IDManagerConfig / JanusGraphConfig).
  *
  * @param dataPath        base directory of the managed vertex table
  * @param tableName       table (sub-directory) name
  * @param reservedIdSpace ids 1..reservedIdSpace are reserved for fixed
  *                        vertices; data ids start at reservedIdSpace + 1
  */
case class IdManagerConfig(dataPath: String, tableName: String, reservedIdSpace: Long = 200)

/** Loaded + current vertex data after id assignment; `currentCount` is the
  * number of rows in `current`, counted as they were written.
  * Ref: core/.../services/IDManagerSparkService.scala (VertexData).
  */
case class VertexData(loaded: DataFrame, current: DataFrame, currentCount: Long)

/** Maintains the append-only, id-stamped vertex Parquet table: the engine's
  * system of record and the source of "loaded" vertices for edge rules.
  *
  * Ref: core/.../services/IDManagerSparkService.scala:85-141.
  *
  * Scale notes: the reference's `fetchID` is a `max(id)` scan of the
  * whole table per run; here the last id is the largest `hi` of the run
  * log ([[graft.io.RunLog]]), read on the driver. The reference also
  * re-reads the full history each run and acknowledges the cost
  * (IDManagerSparkService.scala:135 TODO); at 100 TB restrict the loaded
  * side with partition predicates via `readRange` instead.
  *
  * The manager only reads the table and writes into dirs it is given (a
  * run's staging dir): loads, compaction and deletes commit through the
  * run log, which renames files in and unlinks the ones they replace.
  */
class IdManager(spark: SparkSession, config: IdManagerConfig) {

  private def tablePath: String = s"${config.dataPath}/${config.tableName}"

  /** Reads the accumulated vertex table; on a missing/empty path returns an
    * empty DataFrame with `id` prepended to the supplied schema.
    * Ref: IDManagerSparkService.scala:88-100 (readAll).
    */
  def readAll(schema: StructType): DataFrame =
    try {
      val df = Parquet.read(spark, tablePath)
      if (df.schema.fieldNames.contains("id")) df
      else emptyWithId(schema)
    } catch {
      case _: org.apache.spark.sql.AnalysisException => emptyWithId(schema)
    }

  /** Partition-pruned read of the vertex table: only the `year/month/day`
    * partitions of `pm`'s date range are scanned (Catalyst partition
    * pruning — the files of other dates are never listed into the scan).
    *
    * This resolves the reference's acknowledged full-history-scan TODO
    * (IDManagerSparkService.scala:135): at 100 TB the accumulated table
    * grows without bound, but the set of loaded vertices that can actually
    * join a day's batch doesn't — restrict the loaded side to that range
    * instead of re-reading everything. The supplied schema must include the
    * partition columns (readAndProcess always appends them).
    */
  def readRange(schema: StructType, pm: PartitionManager): DataFrame =
    readAll(schema).where(pm.partitionPredicate)

  private def emptyWithId(schema: StructType): DataFrame = {
    val withId = StructType(StructField("id", LongType, nullable = false) +: schema.fields)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withId)
  }

  /** Id-stamps the current batch with ids `lastId + 1 ..` and writes it,
    * partitioned by year/month/day, to `dir` (a run's staging dir, see
    * [[graft.io.RunLog]]); returns (loaded, current-with-ids, its row count).
    * Ref: IDManagerSparkService.scala:102-130 (process).
    *
    * `loadedRange` restricts the returned loaded side to a date range via
    * [[readRange]] — the incremental-ingest scale path: the full-width
    * loaded frame feeds every edge-rule join, and that is what the range
    * prunes. The last id comes from the run log, so no run scans the table
    * for it. The batch is counted as it is written (an [[Observation]] on
    * the frame the write consumes, above the sort the partitioned write
    * needs, as [[graft.graph.EdgeStore.write]] does): assigning, counting
    * and storing the ids are one Spark execution.
    */
  def stage(df: DataFrame, loadedRange: Option[PartitionManager], lastId: Long, dir: String): VertexData = {
    val loaded = loadedRange.fold(readAll(df.schema))(readRange(df.schema, _))
    // custom plan-integrated operator (InternalRow zipWithIndex, no
    // Row round trip); ZipWithIndex is the public-API equivalent
    val dfWithId = org.apache.spark.sql.graft.DenseId.assign(df, lastId)
    // tracked, not bare-cached: the id-stamped batch feeds the write and
    // every rule's classify — all inside one load — then must not outlive
    // the load in a long session (GraftJob.load releases it;
    // Caches.clear() does for other callers)
    graft.Caches.track(dfWithId)
    val rows = Observation()
    dfWithId
      .sortWithinPartitions("year", "month", "day")
      .observe(rows, count(lit(1)).as("rows"))
      .write
      .format("parquet")
      .partitionBy("year", "month", "day")
      .save(dir)
    VertexData(loaded, dfWithId, rows.get("rows").asInstanceOf[Long])
  }

  /** One vertex-only load run through the table's run log: [[stage]], then
    * commit and publish (see [[graft.io.RunLog]]), ids continuing from the
    * last one the log recorded.
    */
  def process(df: DataFrame, loadedRange: Option[PartitionManager] = None): VertexData = {
    val runLog = new RunLog(spark, config, edgeBasePath = None)
    val st     = runLog.recover()
    val seq    = st.seq + 1
    val vertexData = stage(df, loadedRange, st.hi, runLog.stageDir(RunLog.Vertices, seq).toString)
    runLog.commitLoad(seq, None, st.hi, vertexData.currentCount, Map.empty)
    vertexData
  }

  /** Rewrites `files`, the files of one partition dir of the table, into
    * `nFiles` files in `dir`: the vertex side of compaction
    * ([[graft.job.GraftJob.compact]]). Partition values live in the dir
    * name, not the files, so the rows are rewritten as they are.
    */
  def compactPartitions(files: Seq[String], nFiles: Int, dir: String): Unit =
    Parquet.read(spark, files: _*).coalesce(nFiles).write.parquet(dir)
}
