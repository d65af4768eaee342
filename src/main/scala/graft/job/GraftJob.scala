package graft.job

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.EdgeStore
import graft.ids.{IdManager, IdManagerConfig}
import graft.io.{FixedVertexSource, Parquet, PartitionManager, PartitionedReader, ReaderConfig, RunLog}
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
  * Every load, delete and compaction goes through the stores' run log
  * ([[RunLog]]): its files are staged, committed by one entry and then
  * published, so re-running a range and crashing at any point are safe.
  * `hooks` are crash-injection points for specs.
  *
  * Scale notes: the only driver-side values are the per-run counts and the
  * log; everything else stays distributed. Edge writes are
  * hash-distributed on `src` (EdgeStore) exactly like the reference's
  * writer partitioning (EdgeProcessor.scala:170-180).
  */
class GraftJob(spark: SparkSession, config: GraftConfig, hooks: RunLog.Hooks = RunLog.NoHooks) {

  private val edgeStore = new EdgeStore(spark, config.edgeBasePath)
  private val idManager = new IdManager(spark, config.idManager)
  private val runLog    = new RunLog(spark, config.idManager, Some(config.edgeBasePath), hooks)

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

  private def edgeLabels(): List[String] = buildRules().map(_.getEdgeLabel).distinct

  /** One incremental load run over `[startDate, startDate + duration)`:
    * [[PartitionedReader.readAndProcess]] then [[load]], with the range as
    * the run's id. Ref: Job.scala:71-115 (process).
    *
    * Re-running a committed range is a no-op that returns the run's
    * recorded [[JobResult]]; a range that overlaps a committed run without
    * equalling it fails fast and names the run (delete it first).
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
    load(new PartitionedReader(spark, config.reader).readAndProcess(pm), loadedRange, Some(RunLog.rangeId(pm)))
  }

  /** Loads one projected batch as one run of the log: id-stamps it
    * ([[IdManager.stage]], ids continuing from the log, loaded side
    * restricted to `loadedRange`), runs every configured rule over
    * (loaded, batch), writing vertices and edges to the run's staging
    * dirs, then commits the run with one log entry and publishes it. The
    * one load path of both [[process]] and
    * [[graft.streaming.StreamingIngest]].
    *
    * `runId` names the run ([[RunLog.rangeId]], [[RunLog.streamId]]): a run
    * already committed under it is not loaded again and its recorded
    * counts are returned. A run that crashes before its commit leaves no
    * trace once the next call recovers the log; one that crashes after it
    * is published by that call.
    *
    * Per-run counts, matching the reference (EdgeProcessor.scala:166): the
    * batch and each rule's edges are counted as they are written (an
    * Observation on each write), so id-stamping is one Spark execution and
    * each rule one more, and the accumulated store — which grows without
    * bound — is never re-read in the hot path. The id-stamped batch, the
    * one frame the rules share, is released at the end: it feeds nothing
    * after the load.
    */
  def load(batch: DataFrame, loadedRange: Option[PartitionManager], runId: Option[String] = None): JobResult = {
    val st = runLog.recover()
    runId.flatMap(st.committed) match {
      case Some(run) => JobResult(run.vertexCount, run.counts)
      case None =>
        runId.flatMap(RunLog.rangeOf).foreach(st.requireNoOverlap)
        val seq = st.seq + 1
        val vertexData = idManager.stage(batch, loadedRange, st.hi, runLog.stageDir(RunLog.Vertices, seq).toString)
        try {
          hooks.afterVertexWrite()
          val edgeCounts = buildRules().map { rule =>
            val label = rule.getEdgeLabel
            val n = edgeStore.write(rule.classify(vertexData.loaded, vertexData.current), label,
              bidirectional = config.bidirectionalEdges,
              dir = Some(s"${runLog.stageDir(RunLog.Edges, seq)}/label=$label"))
            hooks.afterRule(label)
            label -> n
          }.toMap
          runLog.commitLoad(seq, runId, st.hi, vertexData.currentCount, edgeCounts)
          JobResult(vertexData.currentCount, edgeCounts)
        } finally vertexData.current.unpersist()
    }
  }

  /** Maintenance mode: compacts the date range's vertex partitions and
    * every configured rule's edge label into size-targeted files, as one
    * change of the run log ([[RunLog.rewrite]]). Append-only stores need
    * this at scale: every run adds at least one file per partition and per
    * label, so after thousands of runs a scan is dominated by file opens,
    * not bytes. Each partition dir ([[IdManager.compactPartitions]]) and
    * each label ([[EdgeStore.compact]]) is rewritten from exactly the files
    * listed in it, sized from their bytes; the new files keep the runs that
    * own their rows, so a later delete of a whole run still takes
    * [[RunLog.deleteRun]]. Fails fast while another compaction or delete
    * holds the log's maintenance lock.
    */
  def compact(startDate: String, duration: Int, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val pm = PartitionManager.forRange(startDate, duration)
    val labels = edgeLabels()
    runLog.rewrite(RunLog.Compact) { seq =>
      def rewritten(store: String, rel: String)(write: (Seq[String], Int, String) => Unit): Seq[RunLog.FileRef] = {
        val files = runLog.liveFiles(store, rel)
        if (files.nonEmpty)
          write(files.map(runLog.pathOf), math.max(1, (runLog.bytes(files) / targetFileBytes).toInt),
            s"${runLog.stageDir(store, seq)}/$rel")
        files
      }
      (pm.relativePaths.flatMap(rewritten(RunLog.Vertices, _)(idManager.compactPartitions)) ++
        labels.flatMap(l => rewritten(RunLog.Edges, s"label=$l")(edgeStore.compact)), Nil)
    }
  }

  /** Delete mode: removes the date range's vertices and their incident
    * edges, in either partition-dir spelling. Ref: Job.scala:117-134.
    *
    * A range that is exactly one committed run is deleted through the run
    * log ([[RunLog.deleteRun]]): the latest run's files are unlinked with
    * no Spark job, and an older run's deletion also rewrites the later
    * runs' edge files by id interval. Anything else — part of a run, a
    * day spanning several runs, a store rewritten outside the log, or
    * `clearOnDelete = false` — takes the full path, one change of the log
    * ([[RunLog.rewrite]]): every label's edge files holding an incident
    * edge are rewritten without those edges
    * ([[EdgeStore.deleteForVerticesRestricted]], the relational analogue
    * of per-vertex `remove()`) and, with `clearOnDelete`, the range's
    * vertex files are unlinked and its days recorded as deleted. Without
    * `clearOnDelete` the vertices stay, and so does their run:
    * re-processing the range is then a no-op. A range whose vertex
    * partitions hold no file (nothing loaded, or already deleted) starts
    * no Spark job.
    */
  def delete(startDate: String, duration: Int, clearOnDelete: Boolean): Unit = {
    val pm = PartitionManager.forRange(startDate, duration)
    val st = runLog.recover()
    if (!(clearOnDelete && runLog.deleteRun(st, pm)(edgeStore.writeWithout)))
      runLog.rewrite(RunLog.Delete) { seq =>
        val vertices = runLog.vertexFiles(pm)
        if (vertices.isEmpty) (Nil, Nil)
        else {
          val doomed = Parquet.read(spark, vertices.map(runLog.pathOf): _*).select(col("id"))
          val edges = edgeLabels().flatMap { label =>
            val dir = s"label=$label"
            if (runLog.liveFiles(RunLog.Edges, dir).isEmpty) Nil
            else edgeStore.deleteForVerticesRestricted(label, doomed, s"${runLog.stageDir(RunLog.Edges, seq)}/$dir")
              .map(name => RunLog.FileRef(RunLog.Edges, s"$dir/$name"))
          }
          if (clearOnDelete) (edges ++ vertices, pm.dates) else (edges, Nil)
        }
      }
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
    val spark = graft.GraftSession(sys.env.get("SPARK_MASTER").map("spark.master" -> _).toSeq: _*)

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
