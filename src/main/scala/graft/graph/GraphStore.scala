package graft.graph

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Parquet
import graft.rules.{EdgeColumns, VertexClassifierRule}

/** Parquet-backed edge store — the engine's system of record for edges,
  * replacing the reference's per-edge JanusGraph/HBase transactional sink
  * (the dominant cost in every published benchmark; BASELINE.md).
  *
  * The reference itself designates the Spark-side intermediate copy as the
  * read path for edge computation ("Option 4", docs/LoadAlgorithm.md:119-158);
  * we promote it to first-class storage.
  *
  * Ref: core/.../processor/EdgeProcessor.scala:84-187.
  *
  * The store only reads labels and writes edge files: appended to a
  * label's live dir, or into a dir it is given. The load job gives it the
  * run log's staging dirs ([[graft.io.RunLog]]), so every load, compaction
  * and delete of the job's stores commits through that log.
  */
class EdgeStore(spark: SparkSession, basePath: String) {

  /** Validates a rule's edge schema, then adds the reversed copy of every
    * edge when `bidirectional`. Each edge and its swap come out of one read
    * of `edges` (an explode of the pair), so an uncached rule frame is
    * computed once, not once per direction.
    */
  private def oriented(edges: DataFrame, label: String, bidirectional: Boolean): DataFrame = {
    VertexClassifierRule.validate(edges.schema, label)
    if (!bidirectional) edges
    else {
      val (src, dst, value) = (col(EdgeColumns.Src), col(EdgeColumns.Dst), col(EdgeColumns.PropVal))
      edges
        .select(explode(array(
          struct(src, dst, value),
          struct(dst.as(EdgeColumns.Src), src.as(EdgeColumns.Dst), value))).as("edge"))
        .select("edge.*")
    }
  }

  /** Writes one rule's edge set, partitioned by edge label, and returns the
    * number of rows stored (2× the edge count when `bidirectional`). `dir`
    * overrides the label's live dir: the load job writes into a run's
    * staging dir ([[graft.io.RunLog]]).
    *
    * Bidirectionality: the reference writes each edge twice (forward +
    * reverse, EdgeProcessor.scala:108-138) because JanusGraph adjacency is
    * directional; relationally we materialize every edge and its swap when
    * `bidirectional = true`, or leave symmetry to query time.
    *
    * The count is taken as the rows are written, like the reference's
    * (EdgeProcessor.scala:166): an [[Observation]] on the frame the write
    * consumes, so classifying, counting and storing are one Spark execution
    * and `edges` need not be cached. It sits above the exchange and the
    * sort on purpose: below them, AQE's empty-relation propagation can
    * prune the observing node away when a rule finds nothing, and the
    * metric would never arrive.
    *
    * Scale notes: edges are hash-distributed on `src` before the write —
    * the same `keyBy(src).partitionBy(HashPartitioner)` layout the reference
    * uses (EdgeProcessor.scala:170-180) — so downstream per-source reads and
    * vertex-id joins are co-located — and each file is sorted by `src`,
    * which keeps a vertex's forward and reverse rows together and lets
    * Parquet's encodings and row-group statistics work on runs of equal
    * ids. AQE coalesces small shuffle partitions.
    */
  def write(
      edges: DataFrame,
      label: String,
      bidirectional: Boolean = false,
      mode: SaveMode = SaveMode.Append,
      dir: Option[String] = None
  ): Long = {
    val stored = Observation()
    oriented(edges, label, bidirectional)
      .repartition(col(EdgeColumns.Src))
      .sortWithinPartitions(col(EdgeColumns.Src))
      .observe(stored, count(lit(1)).as("rows"))
      .write
      .mode(mode)
      .parquet(dir.getOrElse(s"$basePath/label=$label"))
    stored.get("rows").asInstanceOf[Long]
  }

  /** Writes the rows of `files` (edge files of one label) that have no
    * endpoint in `[lo, hi]` to `dir`, each output file sorted by `src`:
    * the edge side of deleting one load run's vertex interval
    * ([[graft.io.RunLog.deleteRun]]). A filter on the id columns, which
    * Parquet's row-group statistics can skip on `src`-sorted files: no
    * join, no broadcast and no collect.
    */
  def writeWithout(files: Seq[String], lo: Long, hi: Long, dir: String): Unit =
    Parquet.read(spark, files: _*)
      .where(!(col(EdgeColumns.Src).between(lo, hi) || col(EdgeColumns.Dst).between(lo, hi)))
      .sortWithinPartitions(col(EdgeColumns.Src))
      .write.parquet(dir)

  /** One label's stored edges (schema from a footer, no Spark job). */
  def read(label: String): DataFrame = Parquet.read(spark, s"$basePath/label=$label")

  /** Rewrites `files` (edge files of one label) into `nFiles` files in
    * `dir`, hash-distributed on `src` and each sorted by `src`, the layout
    * [[write]] leaves: the edge side of compaction
    * ([[graft.job.GraftJob.compact]]).
    */
  def compact(files: Seq[String], nFiles: Int, dir: String): Unit =
    Parquet.read(spark, files: _*)
      .repartition(nFiles, col(EdgeColumns.Src))
      .sortWithinPartitions(col(EdgeColumns.Src))
      .write.parquet(dir)

  /** Writes to `dir` the rows of one label's files that hold an edge
    * touching one of `vertexIds`, less those edges, and returns the names
    * of those files: the edge side of a delete that is not one whole run
    * ([[graft.job.GraftJob.delete]]), the relational analogue of removing
    * a vertex's incident edges. The caller replaces exactly those files
    * with the written ones.
    *
    * One scan finds the affected files (two broadcast semi-joins); only
    * they are rewritten, each output file sorted by `src`. On a src-hash
    * layout a day's doomed vertices touch the files their hashes land in
    * plus the files holding edges pointing at them, a small fraction of
    * the store at scale. The affected-file list is a driver-side collect
    * bounded by the store's file count (paths, not rows). Writes nothing
    * when no file holds an incident edge.
    */
  def deleteForVerticesRestricted(label: String, vertexIds: DataFrame, dir: String): Seq[String] = {
    val ids = vertexIds.select(col("id"))
    val withFile = read(label).withColumn("_file", input_file_name())
    val affected = withFile
      .join(broadcast(ids), col(EdgeColumns.Src) === col("id"), "left_semi")
      .select(col("_file"))
      .union(withFile
        .join(broadcast(ids), col(EdgeColumns.Dst) === col("id"), "left_semi")
        .select(col("_file")))
      .distinct().collect().map(_.getString(0)).toSeq
    if (affected.nonEmpty)
      Parquet.read(spark, affected: _*)
        .join(broadcast(ids), col(EdgeColumns.Src) === col("id"), "left_anti")
        .join(broadcast(ids), col(EdgeColumns.Dst) === col("id"), "left_anti")
        .sortWithinPartitions(col(EdgeColumns.Src))
        .write.parquet(dir)
    affected.map(f => new org.apache.hadoop.fs.Path(f).getName)
  }
}

/** Parquet-backed fixed-vertex (dimension) store with idempotent upsert —
  * the relational analogue of the reference's skip-if-exists fixed-vertex
  * loader (VertexProcessor.scala:163-201).
  */
class FixedVertexStore(spark: SparkSession, path: String) {

  /** Idempotent load: appends only rows whose id is not already present
    * (anti-join on id — `MERGE`-style upsert without Delta).
    */
  def load(fixedVertices: DataFrame): Unit = {
    val toWrite = Parquet.readIfAny(spark, path).fold(fixedVertices) { existing =>
      fixedVertices.join(broadcast(existing.select("id")), Seq("id"), "left_anti")
    }
    toWrite.write.mode(SaveMode.Append).parquet(path)
  }

  def read(): DataFrame = Parquet.read(spark, path)
}
