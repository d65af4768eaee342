package graft.shell

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.ConfigLoader
import graft.io.Parquet
import graft.job.{GraftConfig, GraftJob, JobResult}
import graft.meta.SchemaInfo

/** Interactive-session bootstrap — the Spark-first analogue of the
  * reference's Ammonite/Gremlin shell (core/.../shell/Main.scala:34-75),
  * which loads the config file, opens the graph, and binds `graph`/`g`
  * into a REPL. Here the REPL is `spark-shell` itself (Ammonite isn't on
  * this classpath, and Spark already ships a REPL); this helper is the
  * predef: it loads the HOCON config, registers the graft SQL functions,
  * and binds the stores behind one value.
  *
  * Usage from spark-shell (with the graft jar on --jars):
  * {{{
  *   scala> val g = graft.shell.GraftShell(spark, "job.conf")
  *   graft> g.vertices.show()          // id-stamped vertex table
  *   graft> g.edges("similarity")      // one edge label
  *   graft> g.info                     // schema JSON (the /info payload)
  *   graft> g.run("2019-02-01")        // one incremental load
  *   graft> g.sql("SELECT cosine_similarity(...)")
  * }}}
  */
final case class GraftShell(spark: SparkSession, config: GraftConfig) {

  private def vertexTablePath = s"${config.idManager.dataPath}/${config.idManager.tableName}"

  /** The accumulated id-stamped vertex table (empty-safe). */
  def vertices: DataFrame =
    try Parquet.read(spark, vertexTablePath)
    catch { case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame }

  /** One edge label's stored edge set. */
  def edges(label: String): DataFrame =
    Parquet.read(spark, s"${config.edgeBasePath}/label=$label")

  def edgeLabels: List[String] = SchemaInfo.edgeLabels(spark, config.edgeBasePath)

  /** Schema metadata JSON — the `/info` payload (footer/listing reads only). */
  def info: String =
    SchemaInfo.toJson(SchemaInfo.describe(spark, vertexTablePath, config.edgeBasePath))

  /** The configured job, for programmatic runs. */
  def job: GraftJob = new GraftJob(spark, config)

  /** One incremental load over the date range. The epilogue drops every
    * operator-internal persisted intermediate (classifier band frames, loop
    * checkpoints) — a load's result lives in the stores, not the block
    * manager, so repeated interactive `run`s must not accumulate
    * unevictable state in a long-lived session. `loadedDays` overrides the
    * config's loaded-side horizon for this run.
    */
  def run(startDate: String, duration: Int = 1, loadedDays: Option[Int] = None): JobResult =
    try new GraftJob(spark, config.copy(loadedDays = loadedDays.orElse(config.loadedDays)))
      .process(startDate, duration)
    finally graft.Caches.clear()

  /** Releases operator-internal persisted state (loop checkpoints, GraphX
    * graph caches, tracked self-join frames) accumulated by the exploration
    * helpers below. Call after CONSUMING their results (`.show()`,
    * `.count()`, a write): checkpoint-backed frames do not recompute once
    * released. `run` clears automatically; exploration results are lazy, so
    * releasing them is the caller's epilogue.
    */
  def release(): Unit = graft.Caches.clear()

  def sql(query: String): DataFrame = spark.sql(query)

  /** Degree per vertex of one edge label (the shell's sanity query shape,
    * `g.V().outE(label).count()`-style).
    */
  def degrees(label: String): DataFrame =
    graft.graph.GraphQueries.degrees(edges(label))

  /** Connected components of one edge label over the stored vertex set —
    * the DataFrame alternating-star loop with local-finish endgame
    * ([[graft.graph.GraphQueries.connectedComponentsDF]]): the recommended
    * path at any graph size (spillable shuffles; exact driver union-find
    * once the remnant is broadcast-sized). GraphX
    * ([[graft.graph.GraphQueries.connectedComponents]]) remains available
    * for explicitly-small in-memory graphs.
    */
  def components(label: String): DataFrame =
    graft.graph.GraphQueries.connectedComponentsDF(
      spark, vertices.select("id"), edges(label))

  /** PageRank of one edge label — the DataFrame power-iteration twin
    * ([[graft.graph.GraphQueries.pageRankDF]]): like [[components]], the
    * recommended path at any graph size (spillable per-round shuffles, no
    * graph pinned in cached RDDs). GraphX
    * ([[graft.graph.GraphQueries.pageRank]]) remains available for
    * explicitly-small in-memory graphs.
    */
  def pageRank(label: String, numIter: Int = 20): DataFrame =
    graft.graph.GraphQueries.pageRankDF(spark, vertices.select("id"), edges(label), numIter)

  /** Per-vertex triangle counts of one edge label — the DataFrame
    * degree-oriented wedge closure
    * ([[graft.graph.GraphQueries.triangleCountsDF]]): like [[components]]
    * and [[pageRank]], the recommended path at any graph size. GraphX
    * ([[graft.graph.GraphQueries.triangleCounts]]) remains available for
    * explicitly-small in-memory graphs.
    */
  def triangles(label: String): DataFrame =
    graft.graph.GraphQueries.triangleCountsDF(spark, vertices.select("id"), edges(label))

  /** The k-core of one edge label ([[graft.graph.GraphQueries.kCore]]) —
    * the dense-substructure screen (spam rings / tightly cross-linked dup
    * families); DF peeling loop, safe at any graph size like the other
    * exploration helpers.
    */
  def kcore(label: String, k: Int): DataFrame =
    graft.graph.GraphQueries.kCore(spark, edges(label), k)

  /** Label-propagation communities over one edge label
    * ([[graft.graph.GraphQueries.labelPropagation]]) — deterministic
    * min-tie self-vote variant, covers edge endpoints.
    */
  def communities(label: String, numIter: Int = 5): DataFrame =
    graft.graph.GraphQueries.labelPropagation(spark, edges(label), numIter)

  /** BFS hop distances from a seed set over one edge label
    * ([[graft.graph.GraphQueries.shortestPaths]]) — "how far does this
    * cluster reach", dist to the NEAREST seed, vertices beyond `maxDist`
    * absent.
    */
  def distances(label: String, sources: Seq[Long], maxDist: Int = 10): DataFrame =
    graft.graph.GraphQueries.shortestPaths(spark, edges(label), sources, maxDist = maxDist)

  /** Personalized PageRank from one seed vertex over one edge label —
    * proximity-to-seed as a probability (sums to 1); the "what's near
    * this object" ranking ([[graft.graph.GraphQueries.pageRankDF]] with
    * `personalized`).
    */
  def near(label: String, source: Long, numIter: Int = 10): DataFrame =
    graft.graph.GraphQueries.pageRankDF(spark, vertices.select("id"), edges(label),
      numIter = numIter, personalized = Some(source))

  /** Core number of every vertex in one edge label's graph
    * ([[graft.graph.GraphQueries.coreNumbers]]) — the full degeneracy
    * profile, where [[kcore]] answers membership at one k.
    */
  def cores(label: String): DataFrame =
    graft.graph.GraphQueries.coreNumbers(spark, edges(label))

  /** k-truss of one edge label's graph
    * ([[graft.graph.GraphQueries.kTruss]]) — the surviving edges with
    * their triangle support; the community-skeleton filter.
    */
  def truss(label: String, k: Int): DataFrame =
    graft.graph.GraphQueries.kTruss(spark, edges(label), k)

  /** Sampled-Brandes betweenness over one edge label's graph
    * ([[graft.graph.GraphQueries.approxBetweenness]]) — the broker-vertex
    * ranking; `pivots ≥ |V|` makes it exact.
    */
  def betweenness(label: String, pivots: Int = 64): DataFrame =
    graft.graph.GraphQueries.approxBetweenness(spark, edges(label), pivots)

  /** Sampled harmonic closeness over one edge label's graph
    * ([[graft.graph.GraphQueries.approxCloseness]]).
    */
  def closeness(label: String, pivots: Int = 64): DataFrame =
    graft.graph.GraphQueries.approxCloseness(spark, edges(label), pivots)
}

object GraftShell {

  /** Loads the config file, registers graft's SQL functions on the session
    * (cosine_similarity / dot_product usable from `spark.sql`), and returns
    * the bound shell. Prints the banner the reference's shell prints its
    * welcome through — store locations instead of JanusGraph coordinates.
    */
  def apply(spark: SparkSession, confFile: String): GraftShell =
    bind(spark, ConfigLoader.load(confFile))

  def bind(spark: SparkSession, config: GraftConfig): GraftShell = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val shell = GraftShell(spark, config)
    println(
      s"""graft shell ready
         |  vertices : ${config.idManager.dataPath}/${config.idManager.tableName}
         |  edges    : ${config.edgeBasePath} (labels: ${shell.edgeLabels.mkString(", ")})
         |  helpers  : .vertices .edges(label) .info .run(date) .sql(q) .release()
         |             .degrees(label) .components(label) .pageRank(label) .triangles(label) .kcore(label, k)
         |             .communities(label) .distances(label, seeds) .near(label, source)
         |             .cores(label) .truss(label, k) .betweenness(label) .closeness(label)""".stripMargin)
    shell
  }
}
