package graft.ids

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.io.PartitionManager

/** Configuration for the id-manager vertex table.
  * Ref: common/.../models/Config.scala (IDManagerConfig / JanusGraphConfig).
  *
  * @param dataPath        base directory of the managed vertex table
  * @param tableName       table (sub-directory) name
  * @param reservedIdSpace ids 1..reservedIdSpace are reserved for fixed
  *                        vertices; data ids start at reservedIdSpace + 1
  */
case class IdManagerConfig(dataPath: String, tableName: String, reservedIdSpace: Long = 200)

/** Loaded + current vertex data after id assignment.
  * Ref: core/.../services/IDManagerSparkService.scala (VertexData).
  */
case class VertexData(loaded: DataFrame, current: DataFrame)

/** Maintains the append-only, id-stamped vertex Parquet table: the engine's
  * system of record and the source of "loaded" vertices for edge rules.
  *
  * Ref: core/.../services/IDManagerSparkService.scala:85-141.
  *
  * Scale notes: `fetchID` is a single `max(id)` aggregation — partial
  * (map-side) max per partition then one scalar to the driver; the only
  * driver-side collect in the pipeline. The reference re-reads the full
  * history each run and acknowledges the cost
  * (IDManagerSparkService.scala:135 TODO); at 100 TB restrict the loaded
  * side with partition predicates via `readRange` instead.
  */
class IdManager(spark: SparkSession, config: IdManagerConfig) {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[IdManager])

  private def tablePath: String = s"${config.dataPath}/${config.tableName}"

  /** Reads the accumulated vertex table; on a missing/empty path returns an
    * empty DataFrame with `id` prepended to the supplied schema.
    * Ref: IDManagerSparkService.scala:88-100 (readAll).
    */
  def readAll(schema: StructType): DataFrame =
    try {
      val df = spark.read.parquet(tablePath)
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

  /** Last used id: `max(id)` over the table, or `reservedIdSpace` when the
    * table is empty. Ref: IDManagerSparkService.scala:132-141 (fetchID).
    */
  def fetchId(loaded: DataFrame): Long = {
    val row = loaded.agg(max(col("id"))).head()
    if (row.isNullAt(0)) config.reservedIdSpace else row.getLong(0)
  }

  // ---- max-id sidecar -----------------------------------------------------
  // `fetchId` is a partial-max over a single column, but it still scans the
  // id column of EVERY file in the table — O(history) work per run on an
  // append-only table that only grows. The sidecar persists the last
  // assigned id in a tiny `_last_id` file next to the data (underscore
  // prefix: invisible to partition/file discovery), so the steady-state run
  // does zero table reads for id continuation. It is written BEFORE each
  // append: a crash between the two leaves an id GAP (harmless — ids stay
  // unique and dense per batch), never a reuse. Absent / unreadable /
  // implausible sidecars fall back to the full scan, and out-of-band writers
  // can simply delete the file to force re-derivation.

  private def hadoopFs(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecarPath = new org.apache.hadoop.fs.Path(s"$tablePath/_last_id")

  /** The sidecar's recorded last-assigned id, if present and plausible. */
  def readMaxIdSidecar(): Option[Long] =
    try {
      val fs = hadoopFs(sidecarPath)
      if (!fs.exists(sidecarPath)) None
      else {
        val in = fs.open(sidecarPath)
        val s  = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                 finally in.close()
        Some(s.toLong).filter(_ >= config.reservedIdSpace)
      }
    } catch { case _: Exception => None } // corrupt/unreadable → scan fallback

  private def writeMaxIdSidecar(maxId: Long): Unit = {
    val fs  = hadoopFs(sidecarPath)
    val tmp = new org.apache.hadoop.fs.Path(s"$tablePath/._last_id.tmp")
    val out = fs.create(tmp, true)
    try out.write(maxId.toString.getBytes("UTF-8")) finally out.close()
    // delete-then-rename: a crash in the window leaves NO sidecar, which is
    // the safe state (next run re-derives the max from the table)
    if (fs.exists(sidecarPath)) fs.delete(sidecarPath, false)
    fs.rename(tmp, sidecarPath)
  }

  /** Id-stamps the current batch (continuing from the table's max id),
    * appends it to the vertex table partitioned by year/month/day, and
    * returns (loaded, current-with-ids).
    * Ref: IDManagerSparkService.scala:102-130 (process).
    *
    * `loadedRange` restricts the returned loaded side to a date range via
    * [[readRange]] — the incremental-ingest scale path. The max-id fetch
    * always runs over the FULL table (ids grow with load order, not event
    * date — a range-restricted max would re-issue ids), but that is a
    * single-column aggregate; the expensive part at scale is the full-width
    * loaded frame feeding every edge-rule join, and that is what the range
    * prunes.
    */
  def process(df: DataFrame, loadedRange: Option[PartitionManager] = None): VertexData = {
    val loaded = loadedRange.fold(readAll(df.schema))(readRange(df.schema, _))
    // Steady state reads the sidecar, not the table (see readMaxIdSidecar) —
    // but never trusts it alone: an out-of-band writer that appended higher
    // ids would leave the sidecar stale LOW, and reusing ids is the one
    // unrecoverable failure. `max(id)` over the loaded frame is an
    // independent lower bound on the true max (over the full table when no
    // range is given, over the pruned range otherwise — both already being
    // scanned for the join, so the extra single-column partial max is
    // marginal). A sidecar below that bound is stale: degrade loudly and use
    // the scan. The bound is RANGE-LOCAL when a loadedRange is given: an
    // out-of-band writer that appended higher ids only in partitions
    // OUTSIDE the pruned range still evades it. Ids grow with load order
    // (new batches land in the latest partitions), so a higher max outside
    // the loaded range implies time-travel by the foreign writer —
    // accepted residual risk; widen the range (or pass none) to re-derive
    // from the full table when auditing after an out-of-band write.
    val lastMax = readMaxIdSidecar() match {
      case Some(sc) =>
        val scanned = fetchId(loaded)
        if (sc < scanned)
          log.warn(s"_last_id sidecar ($sc) is below max(id) of the loaded range ($scanned) — " +
            "stale sidecar (out-of-band writer?); using the scanned max")
        else
          log.info(s"id continuation from _last_id sidecar: $sc (scan lower bound $scanned)")
        math.max(sc, scanned)
      case None => fetchId(readAll(df.schema))
    }
    // custom plan-integrated operator (InternalRow zipWithIndex, no
    // Row round trip); ZipWithIndex is the public-API equivalent
    val dfWithId = org.apache.spark.sql.graft.DenseId.assign(df, lastMax)
    // tracked, not bare-cached: the id-stamped batch feeds the sidecar
    // count, the append, and the caller's classify+count — all inside one
    // load — then must not outlive the load in a long session (GraftJob.load
    // releases it; Caches.clear() does for other callers)
    graft.Caches.track(dfWithId)
    // advance the sidecar BEFORE appending (crash ⇒ gap, never reuse)
    writeMaxIdSidecar(lastMax + dfWithId.count())
    dfWithId.write
      .format("parquet")
      .mode(SaveMode.Append)
      .partitionBy("year", "month", "day")
      .save(tablePath)
    VertexData(loaded, dfWithId)
  }

  /** Rewrites the date range's partition directories into size-targeted
    * files, preserving the partition layout. Maintenance for the
    * append-only vertex table: re-runs and multi-batch days append small
    * files per partition dir; at scale the scan becomes file-open-bound
    * (see [[graft.graph.EdgeStore.compact]]). Crash-safe per partition via
    * the rename-aside protocol of [[graft.io.AtomicSwap]].
    */
  def compactPartitions(
      pm: PartitionManager,
      targetFileBytes: Long = 128L * 1024 * 1024,
      hooks: graft.io.AtomicSwap.Hooks = graft.io.AtomicSwap.NoHooks
  ): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // a partition whose previous swap died between renames is missing under
    // its live name — heal every candidate dir BEFORE the existence probe,
    // or the crashed partition would be skipped forever
    pm.relativePaths.foreach { r =>
      val dir = new org.apache.hadoop.fs.Path(s"$tablePath/$r")
      graft.io.AtomicSwap.heal(dir.getFileSystem(conf), dir)
    }
    pm.existingPaths(spark, tablePath).foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(d)
      val fs  = dir.getFileSystem(conf)
      graft.io.AtomicSwap.withMaintenanceLock(fs, dir) {
        val bytes  = fs.getContentSummary(dir).getLength
        val nFiles = math.max(1, (bytes / targetFileBytes).toInt)
        // partition values live in the dir name, not the files — rewrite the
        // leaf dir's row set as-is
        spark.read.parquet(d).coalesce(nFiles)
          .write.mode(SaveMode.Overwrite).parquet(graft.io.AtomicSwap.scratch(dir).toString)
        graft.io.AtomicSwap.swapIn(fs, dir, hooks)
      }
    }
  }

  /** Deletes the date range's table partitions, in either directory
    * spelling — the delete-mode analogue of `ALTER TABLE DROP PARTITION`.
    * Ref: PartitionManager.scala:100-112 (deletePartitions), Job.scala:128-133.
    */
  def deletePartitions(pm: PartitionManager): Unit =
    pm.existingPaths(spark, tablePath).foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(d)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    }
}
