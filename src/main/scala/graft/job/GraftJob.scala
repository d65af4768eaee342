package graft.job

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.EdgeStore
import graft.ids.{IdManager, IdManagerConfig, VertexData}
import graft.io.{FixedVertexSource, PartitionManager, PartitionedReader, ReaderConfig}
import graft.rules._

/** Rule-selection + rule-parameter config.
  *
  * Ref: common/.../models/Config.scala (JobConfig.edgeLoader.rulesToApply and
  * per-rule configs). `rulesToApply` accepts both the correct spelling and
  * the reference's config-key typo `similarityClassifer` (Config.scala:70) —
  * a consciously-preserved compatibility quirk.
  */
case class RulesConfig(
    rulesToApply: List[String],
    similarity: Option[SimilarityConfig] = None,
    sameValue: Option[SameValueSimilarityConfig] = None,
    twoMode: Option[TwoModeSimilarityConfig] = None,
    fixedVertexCsvPath: Option[String] = None
)

/** Full job configuration: reader + id manager + edge store + rules.
  *
  * `loadedDays`: loaded-side date horizon of [[GraftJob.process]]
  * (None = full history, the reference semantics; see
  * [[graft.ids.IdManager.readRange]] for the scale rationale).
  */
case class GraftConfig(
    reader: ReaderConfig,
    idManager: IdManagerConfig,
    edgeBasePath: String,
    rules: RulesConfig,
    bidirectionalEdges: Boolean = true,
    loadedDays: Option[Int] = None
)

/** Per-rule edge counts of one run (stored rows: ×2 when bidirectional). */
case class JobResult(vertexCount: Long, edgeCounts: Map[String, Long])

/** The load-job orchestration: read → derive → id-stamp → classify → store.
  *
  * Ref: core/.../Job.scala:71-115 (process), :117-134 (delete). The
  * JanusGraph write path of steps 3/6 is replaced by the Parquet
  * vertex/edge tables (the reference's own "Option 4" system of record,
  * docs/LoadAlgorithm.md:119-158); schema pre-creation (SchemaLoader)
  * becomes implicit Parquet schema-on-write + [[graft.meta.SchemaInfo]].
  *
  * Scale notes: the only driver-side values are the max-id scalar and the
  * per-rule edge counts; everything else stays distributed. Edge writes are
  * hash-distributed on `src` (EdgeStore) exactly like the reference's
  * writer partitioning (EdgeProcessor.scala:170-180).
  */
class GraftJob(spark: SparkSession, config: GraftConfig) {

  private val edgeStore = new EdgeStore(spark, config.edgeBasePath)
  private val idManager = new IdManager(spark, config.idManager)

  /** Builds the configured classifier rules.
    * Ref: Job.scala:106-113 (rulesMap) incl. the spelling quirk.
    */
  def buildRules(): List[VertexClassifierRule] =
    config.rules.rulesToApply.flatMap {
      case "similarityClassifier" | "similarityClassifer" =>
        val c = config.rules.similarity.getOrElse(
          throw new IllegalArgumentException("similarityClassifier requires SimilarityConfig"))
        Some(new SimilarityClassifier(c))
      case "sameValueClassifier" =>
        val c = config.rules.sameValue.getOrElse(
          throw new IllegalArgumentException("sameValueClassifier requires SameValueSimilarityConfig"))
        Some(new SameValueClassifier(c))
      case "twoModeClassifier" =>
        val c = config.rules.twoMode.getOrElse(
          throw new IllegalArgumentException("twoModeClassifier requires TwoModeSimilarityConfig"))
        val fixed = config.rules.fixedVertexCsvPath
          .map(FixedVertexSource.read)
          .getOrElse(throw new IllegalArgumentException("twoModeClassifier requires fixedVertexCsvPath"))
        Some(new TwoModeClassifier(c, fixed))
      case other =>
        throw new IllegalArgumentException(s"Unknown rule: $other")
    }

  /** One incremental load run over `[startDate, startDate + duration)`:
    * [[PartitionedReader.readAndProcess]] then [[load]].
    * Ref: Job.scala:71-115 (process).
    *
    * `config.loadedDays` restricts the loaded side of the edge-rule joins to
    * the `loadedDays` days ending at `startDate + duration` (exclusive) via
    * [[IdManager.readRange]] — partition pruning instead of the reference's
    * full-history re-read (its own TODO, IDManagerSparkService.scala:135).
    * Unset keeps exact reference semantics (join against all history);
    * rules whose matches can only occur within a bounded time horizon (the
    * common case for alert streams) should set it.
    */
  def process(startDate: String, duration: Int): JobResult = {
    val pm = PartitionManager.forRange(startDate, duration)
    val loadedRange = config.loadedDays.map { days =>
      PartitionManager(pm.startDate.plusDays(duration.toLong - days), days)
    }
    load(new PartitionedReader(spark, config.reader).readAndProcess(pm), loadedRange)
  }

  /** Loads one projected batch: id-stamps and appends it
    * ([[IdManager.process]], loaded side restricted to `loadedRange`), then
    * runs every configured rule over (loaded, batch) and appends its edges.
    * The one load path of both [[process]] and
    * [[graft.streaming.StreamingIngest]].
    *
    * Per-run counts, matching the reference (EdgeProcessor.scala:166): each
    * classified set is cached so the count and the write share one
    * computation, and the accumulated store — which grows without bound —
    * is never re-read in the hot path. The id-stamped batch is released at
    * the end: it feeds nothing after the load.
    */
  def load(batch: DataFrame, loadedRange: Option[PartitionManager]): JobResult = {
    val vertexData: VertexData = idManager.process(batch, loadedRange)
    val edgeCounts = buildRules().map { rule =>
      val edges = rule.classify(vertexData.loaded, vertexData.current).cache()
      val n = edges.count()
      edgeStore.write(edges, rule.getEdgeLabel, bidirectional = config.bidirectionalEdges)
      edges.unpersist()
      rule.getEdgeLabel -> (if (config.bidirectionalEdges) n * 2 else n)
    }.toMap
    val result = JobResult(vertexData.current.count(), edgeCounts)
    vertexData.current.unpersist()
    result
  }

  /** Maintenance mode: compacts the date range's vertex partitions and
    * every configured rule's edge label (see [[IdManager.compactPartitions]]
    * / [[EdgeStore.compact]] for why append-only stores need this at scale).
    */
  def compact(startDate: String, duration: Int, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val pm = PartitionManager.forRange(startDate, duration)
    idManager.compactPartitions(pm, targetFileBytes)
    if (config.rules.rulesToApply.nonEmpty)
      buildRules().map(_.getEdgeLabel).distinct.foreach(edgeStore.compact(_, targetFileBytes))
  }

  /** Delete mode: removes the date range's vertices and their incident
    * edges, in either partition-dir spelling. Ref: Job.scala:117-134;
    * edge cleanup is the relational analogue of per-vertex `remove()` and
    * uses the file-restricted rewrite ([[EdgeStore.deleteForVerticesRestricted]])
    * — a day's deletion rewrites only the files holding incident edges,
    * not the whole accumulated store.
    */
  def delete(startDate: String, duration: Int, clearOnDelete: Boolean): Unit = {
    val pm = PartitionManager.forRange(startDate, duration)
    val vertexTable = s"${config.idManager.dataPath}/${config.idManager.tableName}"
    val doomed: DataFrame =
      try spark.read.parquet(vertexTable).where(pm.partitionPredicate).select(col("id"))
      catch { case _: org.apache.spark.sql.AnalysisException => return } // nothing ever loaded

    buildRules().map(_.getEdgeLabel).distinct.foreach { label =>
      try edgeStore.deleteForVerticesRestricted(label, doomed)
      catch { case _: org.apache.spark.sql.AnalysisException => () } // label never written
    }
    if (clearOnDelete) idManager.deletePartitions(pm)
  }
}

/** Plain-args CLI, mirroring the reference's scopt surface without the
  * dependency. Ref: core/.../CLParser.scala:40-81, Boot.scala:44-56.
  *
  * Usage:
  *   runMain graft.job.Main [--config job.conf] --base-path P --id-path P
  *     --edge-path P --startdate 2019-02-01 [--duration 1] [--loaded-days N]
  *     [--rules r1,r2] [--similarity-exp EXP] [--same-value-cols c1,c2]
  *     [--two-mode-recipes r1,r2] [--fixed-csv PATH] [--delete] [--clear]
  *     [--compact]
  *
  * `--config` loads a HOCON file (see [[graft.config.ConfigLoader]] for the
  * accepted surface); any explicit flag overrides the file's value.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // Bare flags are consumed positionally first; only value options pair up,
    // so `--delete --startdate 2019-02-01` parses regardless of flag order.
    // Strict like the reference's scopt surface (CLParser.scala:40-81): a
    // dangling option, an unknown option, or an option swallowing the next
    // option as its value all fail fast instead of being silently dropped.
    val bareFlags  = Set("--delete", "--clear", "--compact")
    val valueFlags = Set("--config", "--base-path", "--id-path", "--edge-path",
      "--startdate", "--duration", "--loaded-days", "--rules", "--similarity-exp",
      "--same-value-cols", "--two-mode-recipes", "--fixed-csv")
    val valueArgs  = args.filterNot(bareFlags.contains)
    if (valueArgs.length % 2 != 0)
      throw new IllegalArgumentException(
        s"option '${valueArgs.last}' is missing its value")
    val pairs = valueArgs.sliding(2, 2).collect { case Array(k, v) => k -> v }.toList
    pairs.foreach { case (k, v) =>
      if (!valueFlags.contains(k))
        throw new IllegalArgumentException(s"unknown option '$k'")
      if (v.startsWith("--"))
        throw new IllegalArgumentException(s"option '$k' is missing its value (got '$v')")
    }
    val opts = pairs.toMap ++ args.filter(bareFlags.contains).map(_ -> "true").toMap
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).isDefined
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --config loads the HOCON file (the reference's UX); explicit flags
    // override its values, so a file can hold the stable parts and the
    // date/paths can still vary per invocation
    val base = opts.get("--config").map(graft.config.ConfigLoader.load)
    def flagOr(flag: String, fromFile: GraftConfig => String): String =
      opts.get(flag).orElse(base.map(fromFile)).getOrElse(
        throw new IllegalArgumentException(s"$flag required (or provide --config)"))
    val rules = opts.get("--rules").map(_.split(",").toList)
      .orElse(base.map(_.rules.rulesToApply).filter(_.nonEmpty))
      .getOrElse(List("similarityClassifier"))
    val config = GraftConfig(
      reader = base.map(_.reader.copy(basePath = flagOr("--base-path", _.reader.basePath)))
        .getOrElse(ReaderConfig(flagOr("--base-path", _.reader.basePath))),
      idManager = base.map(_.idManager.copy(dataPath = flagOr("--id-path", _.idManager.dataPath)))
        .getOrElse(IdManagerConfig(flagOr("--id-path", _.idManager.dataPath), "vertices")),
      edgeBasePath = flagOr("--edge-path", _.edgeBasePath),
      rules = RulesConfig(
        rulesToApply = rules,
        similarity = opts.get("--similarity-exp").map(e => SimilarityConfig(e))
          .orElse(base.flatMap(_.rules.similarity)),
        sameValue = opts.get("--same-value-cols").map(c => SameValueSimilarityConfig(c.split(",").toList))
          .orElse(base.flatMap(_.rules.sameValue)),
        twoMode = opts.get("--two-mode-recipes").map(r => TwoModeSimilarityConfig(r.split(",").toList))
          .orElse(base.flatMap(_.rules.twoMode)),
        fixedVertexCsvPath = opts.get("--fixed-csv").orElse(base.flatMap(_.rules.fixedVertexCsvPath))
      ),
      bidirectionalEdges = base.forall(_.bidirectionalEdges),
      loadedDays = opts.get("--loaded-days").map(_.toInt).orElse(base.flatMap(_.loadedDays))
    )
    val job      = new GraftJob(spark, config)
    val start    = opts.getOrElse("--startdate",
      throw new IllegalArgumentException("--startdate required"))
    val duration = opts.getOrElse("--duration", "1").toInt
    if (opts.contains("--compact")) {
      job.compact(start, duration)
      println(s"""{"compacted":"$start+$duration"}""")
    } else if (opts.contains("--delete")) {
      job.delete(start, duration, clearOnDelete = opts.contains("--clear"))
      println(s"""{"deleted":"$start+$duration"}""")
    } else {
      val r = job.process(start, duration)
      println(s"""{"vertices":${r.vertexCount},"edges":{${r.edgeCounts.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
    }
    if (!preexisting) spark.stop() // embedded callers (tests) keep their session
  }
}
