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
  */
class EdgeStore(spark: SparkSession, basePath: String) {

  /** Matches the reference's writer-parallelism calculation:
    * `max(count / taskSize + 1, parallelism)`. Ref: EdgeProcessor.scala:141-149
    * (getParallelism, taskSize default 25000).
    */
  def getParallelism(edgeCount: Long, taskSize: Long = 25000, minParallelism: Int = 100): Int =
    math.max((edgeCount / taskSize + 1).toInt, minParallelism)

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

  /** Bucketed variant: writes the edge set as a bucketed+sorted catalog
    * table on `src`. Joins and aggregations keyed on `src` against this
    * table then plan WITHOUT an Exchange on the edge side — the bucketing
    * metadata replaces the shuffle, which at 100 TB is the difference
    * between re-shuffling the edge corpus per query and reading it in
    * place. (Plain `repartition(src)` layout — [[write]] — loses that
    * information at read time; only catalog bucketing persists it.)
    */
  def writeBucketed(
      edges: DataFrame,
      tableName: String,
      buckets: Int = 0,
      bidirectional: Boolean = false,
      mode: SaveMode = SaveMode.Overwrite
  ): Unit = {
    val edgeSet = oriented(edges, tableName, bidirectional)
    // buckets <= 0: derive the bucket count from the edge count with the
    // reference's writer-parallelism rule (getParallelism) — one count()
    // pass, paid once at layout time so every later src-keyed read gets a
    // properly-sized shuffle-free layout
    val n = if (buckets > 0) buckets else getParallelism(edgeSet.count())
    edgeSet.write
      .mode(mode)
      .bucketBy(n, EdgeColumns.Src)
      .sortBy(EdgeColumns.Src)
      .option("path", s"$basePath/table=$tableName")
      .saveAsTable(tableName)
  }

  def readBucketed(tableName: String): DataFrame = spark.table(tableName)

  /** Rewrites one label's accumulated small files into size-targeted files.
    *
    * Maintenance for the append-only store: every incremental run appends
    * at least one file per label, so after thousands of runs the scan cost
    * is dominated by file-open overhead rather than bytes (the classic
    * small-files problem — at 100 TB the difference between reading 10k
    * 128 MB files and 10M 100 KB ones). File count is sized from the
    * label's actual on-disk bytes; the rewrite preserves the src-hash
    * distribution of [[write]] and swaps directories via the crash-safe
    * rename-aside protocol of [[graft.io.AtomicSwap]] (a complete copy of
    * the label's rows exists on disk at every instant; scratch dirs are
    * dot-prefixed and invisible to discovery).
    */
  def compact(
      label: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      hooks: graft.io.AtomicSwap.Hooks = graft.io.AtomicSwap.NoHooks
  ): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$basePath/label=$label")
    val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.AtomicSwap.withMaintenanceLock(fs, dir) {
      healRestrictedDelete(fs, dir)
      graft.io.AtomicSwap.heal(fs, dir)
      if (fs.exists(dir)) {
        val bytes  = fs.getContentSummary(dir).getLength
        val nFiles = math.max(1, (bytes / targetFileBytes).toInt)
        val tmp    = graft.io.AtomicSwap.scratch(dir)
        read(label).repartition(nFiles, col(EdgeColumns.Src))
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        graft.io.AtomicSwap.swapIn(fs, dir, hooks)
      }
    }
  }

  /** Deletes every edge touching one of the given vertex ids (delete-mode
    * cleanup, the relational analogue of removing a vertex's incident edges).
    * Implemented as two broadcast-able anti-joins over the FULL store —
    * every byte is rewritten. Kept as the simple/reference path (and the
    * spec oracle); incremental deployments should prefer
    * [[deleteForVerticesRestricted]], which rewrites only the files that
    * actually contain incident edges.
    */
  def deleteForVertices(
      label: String,
      vertexIds: DataFrame,
      hooks: graft.io.AtomicSwap.Hooks = graft.io.AtomicSwap.NoHooks
  ): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$basePath/label=$label")
    val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.AtomicSwap.withMaintenanceLock(fs, dir) {
      healRestrictedDelete(fs, dir)
      graft.io.AtomicSwap.heal(fs, dir)
      val ids = vertexIds.select(col("id"))
      val remaining = read(label)
        .join(broadcast(ids), col(EdgeColumns.Src) === col("id"), "left_anti")
        .join(broadcast(ids), col(EdgeColumns.Dst) === col("id"), "left_anti")
      remaining.write.mode(SaveMode.Overwrite).parquet(graft.io.AtomicSwap.scratch(dir).toString)
      graft.io.AtomicSwap.swapIn(fs, dir, hooks)
    }
  }

  // --- file-restricted delete: dot-prefixed protocol siblings (invisible
  // to Spark's file discovery, like AtomicSwap.scratch) ---
  private def delScratch(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir.getParent, s".${dir.getName}.delrows")
  private def delManifest(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir.getParent, s".${dir.getName}.delmanifest")
  private def delMarker(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir.getParent, s".${dir.getName}.delcommit")

  private def moveScratchIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(delScratch(dir)))
      fs.listStatus(delScratch(dir)).filter(_.getPath.getName.startsWith("part-"))
        .foreach(s => fs.rename(s.getPath, new org.apache.hadoop.fs.Path(dir, s.getPath.getName)))

  /** Finishes (or rolls back) a [[deleteForVerticesRestricted]] that died
    * mid-flight. Before the commit marker exists the live store is
    * untouched → roll BACK (drop scratch + manifest). Once the marker
    * exists the survivor files are complete → roll FORWARD (move the
    * remaining scratch files in, delete the affected originals listed in
    * the manifest, clear the protocol files). Idempotent; called at the
    * start of every maintenance op on the dir so stale debris can never
    * meet a store rewritten by a later compaction.
    */
  private def healRestrictedDelete(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val (scr, man, mark) = (delScratch(dir), delManifest(dir), delMarker(dir))
    if (fs.exists(mark)) {
      val in = fs.open(man)
      val affected = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
                     finally in.close()
      moveScratchIn(fs, dir)
      affected.filter(_.nonEmpty).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
      fs.delete(mark, false); fs.delete(man, false); fs.delete(scr, true)
    } else if (fs.exists(man) || fs.exists(scr)) {
      fs.delete(man, false); fs.delete(scr, true)
    }
    ()
  }

  /** [[deleteForVertices]] that rewrites ONLY the files containing incident
    * edges. One full scan is unavoidable without an index (the same is true
    * of the full rewrite), but the WRITE is restricted to affected bytes:
    * on a src-hash layout a day's doomed vertices touch the files their
    * hashes land in plus the files holding edges pointing at them — at
    * 100 TB that is a small fraction of the store, where the whole-dir
    * swap of [[deleteForVertices]] rewrites everything every time.
    *
    * Protocol (all state dot-prefixed, invisible to discovery): survivors
    * of the affected files are written to a scratch dir; the affected-file
    * list goes to a manifest; a commit MARKER is then created, after which
    * the scratch part-files are renamed into the live dir and the affected
    * originals deleted. A crash before the marker rolls back (live store
    * untouched); after it, [[healRestrictedDelete]] rolls forward from the
    * manifest on the next maintenance call. Readers concurrent with the
    * commit window can transiently see a survivor row twice (new file
    * moved in, old file not yet deleted) — the same single-writer /
    * best-effort-reader caveat as the whole-dir swap, which has its own
    * no-dir-under-the-live-name window. The affected-file list is a
    * driver-side collect bounded by the store's FILE count (paths, not
    * rows).
    *
    * Hook mapping for crash-injection specs: `beforeAside` fires before
    * the manifest write, `beforeSwapIn` before the commit marker (both
    * still roll back), `beforeCleanup` after the marker with originals
    * still present (rolls forward).
    */
  def deleteForVerticesRestricted(
      label: String,
      vertexIds: DataFrame,
      hooks: graft.io.AtomicSwap.Hooks = graft.io.AtomicSwap.NoHooks
  ): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$basePath/label=$label")
    val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.AtomicSwap.withMaintenanceLock(fs, dir) {
      healRestrictedDelete(fs, dir)
      graft.io.AtomicSwap.heal(fs, dir)
      val ids = vertexIds.select(col("id"))
      val withFile = read(label).withColumn("_file", input_file_name())
      val affected = withFile
        .join(broadcast(ids), col(EdgeColumns.Src) === col("id"), "left_semi")
        .select(col("_file"))
        .union(withFile
          .join(broadcast(ids), col(EdgeColumns.Dst) === col("id"), "left_semi")
          .select(col("_file")))
        .distinct().collect().map(_.getString(0))
      if (affected.nonEmpty) {
        val survivors = Parquet.read(spark, affected.toSeq: _*)
          .join(broadcast(ids), col(EdgeColumns.Src) === col("id"), "left_anti")
          .join(broadcast(ids), col(EdgeColumns.Dst) === col("id"), "left_anti")
        survivors.write.mode(SaveMode.Overwrite).parquet(delScratch(dir).toString)
        hooks.beforeAside()
        val out = fs.create(delManifest(dir), true)
        try out.write((affected.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        hooks.beforeSwapIn()
        fs.createNewFile(delMarker(dir)) // commit point
        moveScratchIn(fs, dir)
        hooks.beforeCleanup()
        affected.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
        fs.delete(delMarker(dir), false)
        fs.delete(delManifest(dir), false)
        fs.delete(delScratch(dir), true)
      }
      ()
    }
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
    val existing =
      try Parquet.read(spark, path).select("id")
      catch { case _: org.apache.spark.sql.AnalysisException => null }
    val toWrite =
      if (existing == null) fixedVertices
      else fixedVertices.join(broadcast(existing), Seq("id"), "left_anti")
    toWrite.write.mode(SaveMode.Append).parquet(path)
  }

  def read(): DataFrame = Parquet.read(spark, path)
}
