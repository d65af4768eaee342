package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Loop
import graft.rules.EdgeColumns

/** Query surface over the edge tables — the engine's analogue of the
  * reference's Gremlin-shell exploration (core/.../shell/Main.scala:34-75,
  * docs/TestJanusGraph_20200731.md: `g.V().outE("similarity").count()` etc.).
  *
  * Degree/neighbor/two-hop queries are plain DataFrame aggregations and
  * joins (codegen, shuffle on the grouping key only). Connected components
  * comes in two flavors: [[connectedComponents]] (GraphX Pregel — lowest
  * fixed overhead on small/medium graphs that fit executor memory) and
  * [[connectedComponentsDF]] (alternating-star DataFrame loop — spillable
  * shuffles, AQE-planned, the recommended path for large pair graphs;
  * [[graft.ops.Dedup.clusters]] rides this one). All three iterative /
  * whole-graph ops now come in both flavors: GraphX ([[pageRank]],
  * [[triangleCounts]], [[connectedComponents]]) has the lowest fixed
  * overhead on small/medium graphs that fit executor memory, while the
  * DataFrame twins ([[pageRankDF]], [[triangleCountsDF]],
  * [[connectedComponentsDF]]) are plain spillable shuffles with no graph
  * pinned in non-evictable cached RDDs — the recommended path for large
  * graphs.
  *
  * Every iterative DataFrame operator here is built from [[graft.Loop]]:
  * [[graft.Loop.canonicalPairs]] / [[graft.Loop.undirected]] read the
  * edges as one distinct undirected pair per edge, [[graft.Loop.run]] owns
  * the round counter, the cap, the lineage cut every
  * [[graft.Loop.CutEvery]] rounds with the release of the previous cut,
  * and the converged/capped verdict, and [[graft.Loop.materialize]] is the
  * one checkpoint helper. Each operator keeps its step body, stop test,
  * eager/lazy choice per frame and capped-loop warning. Nested loops
  * ([[componentLabels]], [[sccDF]], [[minSpanningForest]], the HyperBall
  * loop and the backward sweep of [[approxBetweenness]]) stay hand-written
  * on the same helpers.
  */
object GraphQueries {

  private val log = org.slf4j.LoggerFactory.getLogger(GraphQueries.getClass)

  /** True iff the last [[connectedComponentsDF]] call on this thread
    * reached its fixed point (vs. being cut off at `maxIter`). Purely a
    * test/observability hook — the returned labeling is always internally
    * consistent either way (see the label-closing `min()` in the method).
    */
  private val ccConvergedFlag = new ThreadLocal[Boolean] { override def initialValue(): Boolean = true }
  def lastConnectedComponentsConverged: Boolean = ccConvergedFlag.get()

  /** Out-degree per source vertex. On a bidirectionally-materialized edge
    * table this equals total degree.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col(EdgeColumns.Src).as("id")).agg(count(lit(1)).as("degree"))

  /** Degree distribution: how many vertices have degree d (the shell's
    * sanity query shape).
    */
  def degreeHistogram(edges: DataFrame): DataFrame =
    degrees(edges).groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))

  /** Direct neighbors of one vertex. */
  def neighbors(edges: DataFrame, vertexId: Long): DataFrame =
    edges.where(col(EdgeColumns.Src) === vertexId).select(col(EdgeColumns.Dst).as("neighbor"))

  /** Distinct two-hop neighborhood: the hop-1 set N plus every vertex one
    * edge out of N, the start vertex v excluded unless N holds it (a
    * self-loop).
    *
    * Two scans of `edges`: one filtered on `src = v` yields N ∪ {v} (each
    * out-edge of v gives its `dst` and v), broadcast; one semi-join of the
    * edges on `src` against it. Rows out of v give N; rows out of the rest
    * of N give hop 2, where `dst = v` is dropped.
    */
  def twoHop(edges: DataFrame, vertexId: Long): DataFrame = {
    val frontier = edges.where(col(EdgeColumns.Src) === vertexId)
      .select(explode(array(col(EdgeColumns.Dst), lit(vertexId))).as("_from"))
    edges.join(broadcast(frontier), col(EdgeColumns.Src) === col("_from"), "left_semi")
      .where(col(EdgeColumns.Src) === vertexId || col(EdgeColumns.Dst) =!= vertexId)
      .select(col(EdgeColumns.Dst).as("neighbor"))
      .distinct()
  }

  /** Bipartite projection: collapse a two-mode edge set (left-type `src` →
    * right-type `dst`, e.g. supplier → part, user → item, doc → shingle)
    * onto the LEFT mode — `(a, b, shared)` for every left pair sharing at
    * least `minShared` right neighbors. The co-occurrence-graph builder
    * (co-purchase, co-authorship, doc-overlap); its output feeds the
    * component/community/PageRank ops directly.
    *
    * Scale shape: the inverted-index self-join (group on the right key),
    * the [[graft.ops.Dedup.ngramJaccardPairs]] discipline — pair volume is
    * Σ_r d(r)², so hub right-nodes are the quadratic hazard. `maxDegree`
    * excludes right-nodes above a degree cap BEFORE the join (a
    * best-seller part shared by everyone contributes no discriminative
    * signal but d² pair rows; same reasoning as the n-gram df-prune).
    * One grouped degree count + a semi-join, then the equi-join on the
    * right key with map-side-combined pair counting.
    */
  def bipartiteProject(
      edges: DataFrame,
      minShared: Long = 1L,
      maxDegree: Long = 0L
  ): DataFrame = {
    val e = edges.select(
      col(EdgeColumns.Src).cast("long").as("l"),
      col(EdgeColumns.Dst).cast("long").as("r")).distinct()
    val scoped =
      if (maxDegree <= 0L) e
      else {
        val keep = e.groupBy("r").agg(count(lit(1)).as("_d"))
          .where(col("_d") <= maxDegree).select("r")
        e.join(keep, Seq("r"), "left_semi")
      }
    scoped.select(col("r"), col("l").as("a"))
      .join(scoped.select(col("r"), col("l").as("b")), Seq("r"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** PageRank over an edge set (GraphX Pregel — iterative vertex programs
    * belong in GraphX, where vertex state is co-partitioned and replicated
    * once instead of a DataFrame loop re-shuffling the edge corpus per
    * iteration). Directed: pass a bidirectional edge set for the undirected
    * reading. Vertices in `vertices` but absent from any edge keep the
    * reset mass `resetProb`. GraphX normalizes the result to sum to the
    * vertex count, so on a graph of k-regular components plus isolated
    * vertices the fixed point is exactly `N / (C + resetProb·I)` per
    * connected vertex and `resetProb · N / (C + resetProb·I)` per isolated
    * one (C connected, I isolated, N = C + I).
    */
  def pageRank(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      numIter: Int = 20,
      resetProb: Double = 0.15,
      idCol: String = "id",
      personalized: Option[Long] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    import spark.implicits._
    val vRdd: RDD[(Long, Unit)] =
      vertices.select(col(idCol).cast("long")).rdd.map(r => (r.getLong(0), ()))
    val eRdd: RDD[Edge[Unit]] = edges
      .select(col(EdgeColumns.Src).cast("long"), col(EdgeColumns.Dst).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val g = Graph(vRdd, eRdd)
    val ranked = personalized match {
      case None      => g.staticPageRank(numIter, resetProb)
      case Some(src) => g.staticPersonalizedPageRank(src, numIter, resetProb)
    }
    ranked.vertices.toDF(idCol, "pagerank")
  }

  /** DataFrame power-iteration PageRank — the large-graph twin of
    * [[pageRank]], same contract (GraphX `staticPageRank` semantics:
    * ranks start at 1, `r' = reset + (1-reset)·Σ in-contribs` with
    * out-degree-normalized contributions, dangling mass dropped, final
    * ranks normalized to sum to |V|; spec asserts equality with GraphX to
    * rounding). The vertex universe is `vertices ∪ edge endpoints`,
    * deduplicated — exactly GraphX's `Graph()` construction, which
    * materializes endpoints absent from the vertex RDD (they contribute
    * and receive mass and count in the normalization) and dedups repeated
    * vertex ids; both divergence cases are spec'd against GraphX. Like
    * [[connectedComponentsDF]] vs GraphX components, the per-round state
    * is plain shuffles over (vid, rank) and a degree-annotated edge
    * frame — spillable, AQE-planned, no graph pinned in non-evictable
    * cached RDDs — so this is the shape that survives at 100 TB; each
    * round is checkpoint-truncated so the plan stays flat.
    *
    * `initRanks` warm-starts the iteration from a previous result (this
    * function's own (idCol, pagerank) output; absent vertices start at
    * 1.0) — the incremental serving path when the graph grew slightly
    * since the last run: power iteration contracts toward the unique
    * fixed point at rate (1−resetProb) from ANY start, so a near-converged
    * start needs a handful of rounds instead of numIter=20. On a graph
    * with no dangling vertices (every vertex has an out-edge — e.g. any
    * bidirectional edge set over its own endpoints) the rank sum is
    * conserved at |V|, so resuming from the normalized output IS exact
    * continuation (spec'd: warm(5) ≡ cold(25) to rounding); with dangling
    * vertices the dropped mass makes the resumed trajectory approximate
    * but still contracting to the same fixed point.
    */
  def pageRankDF(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      numIter: Int = 20,
      resetProb: Double = 0.15,
      idCol: String = "id",
      initRanks: Option[DataFrame] = None,
      personalized: Option[Long] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(numIter > 0, s"numIter must be positive, got $numIter")
    val e = edges.select(
      col(EdgeColumns.Src).cast("long").as("src"),
      col(EdgeColumns.Dst).cast("long").as("dst"))
    // vertex universe as one distinct shuffle on bare longs — deliberately
    // NOT persisted: v appears twice per round, but within each
    // checkpoint-delimited job the identical subplans collapse into one
    // ReusedExchange, while persisting it forces every round through an
    // InMemoryRelation that defeats those rewrites (measured 2.9 s
    // unpersisted vs 6.0 s persisted for the full 10-round q75 run at
    // sf0.1 — the cache more than doubles the loop)
    val v = vertices.select(col(idCol).cast("long").as("vid"))
      .union(e.select(col("src").as("vid")))
      .union(e.select(col("dst").as("vid")))
      .distinct()
    // degree-annotated edges: built once, reused every round
    val eDeg = graft.Caches.track(
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
    // Personalized mode (GraphX staticPersonalizedPageRank semantics): the
    // walk teleports to ONE source vertex instead of uniformly — ranks
    // start as the source delta, the reset term applies at the source
    // only, and the result normalizes to sum 1 (a probability over the
    // graph: proximity-to-source, the "related documents / accounts near
    // this seed" query) instead of to |V|. The loop is identical — only
    // the three literals change.
    def coldRank(vid: Column): Column = personalized match {
      case None      => lit(1.0)
      case Some(src) => when(vid === src, 1.0).otherwise(0.0)
    }
    def resetTerm(vid: Column): Column = personalized match {
      case None      => lit(resetProb)
      case Some(src) => when(vid === src, resetProb).otherwise(0.0)
    }
    val r0 = initRanks match {
      case None => v.select(col("vid"), coldRank(col("vid")).as("rank"))
      case Some(ir) =>
        val prev = ir.select(
          col(idCol).cast("long").as("ivid"), col("pagerank").cast("double").as("irank"))
        v.join(prev, v("vid") === prev("ivid"), "left")
          .select(v("vid"), coalesce(col("irank"), coldRank(v("vid"))).as("rank"))
    }
    // Cadence cuts stay EAGER here: an r15 lazy-cut experiment (chain all
    // cadences into the final stats job) measured q75 ~15% SLOWER
    // same-box same-hour — the eager per-cadence jobs let AQE stage-reuse
    // dedupe the per-round vertex-universe subplans within each 4-round
    // window, which the one-big-job chain does not recover. (hits keeps
    // the lazy variant: measured neutral-to-better there.)
    val r = Loop.run(r0, numIter, cutLast = true) { (ranks, round) =>
      val contribs = eDeg.join(ranks, eDeg("src") === ranks("vid"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("msg"))
      Some(round.cadence(v.join(contribs, v("vid") === contribs("dst"), "left")
        .select(
          v("vid"),
          (resetTerm(v("vid")) + lit(1 - resetProb) * coalesce(col("msg"), lit(0.0))).as("rank"))))
    }.state
    val stats = r.agg(sum("rank"), count(lit(1))).head()
    val scale =
      if (stats.getDouble(0) <= 0) 1.0
      else if (personalized.isDefined) 1.0 / stats.getDouble(0)
      else stats.getLong(1) / stats.getDouble(0)
    r.select(col("vid").as(idCol), (col("rank") * lit(scale)).as("pagerank"))
  }

  /** Per-vertex triangle counts (GraphX TriangleCount — edges are
    * canonicalized and self-loops dropped internally, so either a one-way
    * or bidirectional edge table gives the same undirected answer).
    * Vertices in no triangle report 0. The clustering-coefficient
    * primitive of the shell's exploration surface.
    */
  def triangleCounts(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id"
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    import spark.implicits._
    val vRdd: RDD[(Long, Unit)] =
      vertices.select(col(idCol).cast("long")).rdd.map(r => (r.getLong(0), ()))
    val eRdd: RDD[Edge[Unit]] = edges
      .select(col(EdgeColumns.Src).cast("long"), col(EdgeColumns.Dst).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    Graph(vRdd, eRdd)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices
      .map { case (id, n) => (id, n.toLong) }
      .toDF(idCol, "triangles")
  }

  /** Per-vertex triangle counts as plain DataFrame joins — the large-graph
    * twin of [[triangleCounts]], same contract (undirected reading of a
    * one-way or bidirectional edge table, self-loops dropped, vertices in
    * no triangle report 0; spec asserts equality with GraphX on a random
    * graph).
    *
    * Shape: canonicalize to one distinct (lo, hi) row per undirected edge,
    * then orient every edge from its LOWER-degree endpoint to the higher
    * (ties by id). Wedges are the self-join of the oriented edge set on the
    * source; a wedge (u→v, u→w) closes into a triangle iff the oriented
    * edge v→w exists — one equi-join on (v, w). Every triangle is found
    * exactly once (its orientation-minimal corner is the unique wedge
    * apex), contributing one count to each of its three corners.
    *
    * Why degree orientation and not id order (the naive triple join): the
    * wedge count is Σᵤ d⁺(u)², and degree orientation bounds d⁺(u) by
    * O(√m), giving the classical O(m^{3/2}) total — a high-degree hub
    * (every near-dup pair graph has them) produces almost no wedges
    * because its edges all point INTO it, where id order could square the
    * hub's degree. All state is slim long frames riding spillable,
    * AQE-planned shuffles — no graph pinned in cached RDDs, the same 100×
    * argument as [[connectedComponentsDF]] / [[pageRankDF]].
    */
  def triangleCountsDF(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id"
  ): DataFrame = {
    // one distinct (lo, hi) row per undirected edge, self-loops dropped
    val canon = graft.Caches.track(Loop.canonicalPairs(edges))
    val deg = canon.select(col("a").as("v")).union(canon.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient low-degree → high-degree (ties by id); carry the target's
    // (deg, id) so the wedge filter below can compare orientation order
    // without a second lookup
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = graft.Caches.track(
      canon
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(
          when(fwd, col("a")).otherwise(col("b")).as("u"),
          when(fwd, col("b")).otherwise(col("a")).as("v"),
          when(fwd, col("db")).otherwise(col("da")).as("dv")))
    // wedges (u→v, u→w) with v before w in orientation order; closure =
    // the oriented edge v→w (which, in a triangle, exists in exactly that
    // direction because orientation order is total)
    val o1 = oriented.select(col("u"), col("v"), col("dv"))
    val o2 = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    val tri = o1.join(o2, Seq("u"))
      .where(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .join(closing, Seq("v", "w"))
    val counts = tri.select(col("u").as("vid"))
      .union(tri.select(col("v").as("vid")))
      .union(tri.select(col("w").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("n"))
    val vs = vertices.select(col(idCol).cast("long").as(idCol))
    vs.join(counts, vs(idCol) === counts("vid"), "left")
      .select(vs(idCol), coalesce(col("n"), lit(0L)).as("triangles"))
  }

  /** Common-neighbor link prediction — candidate NEW edges ranked by
    * neighborhood overlap (the classic graph-completion / related-item /
    * ER-candidate-expansion primitive): every non-adjacent vertex pair
    * sharing ≥ `minCommon` neighbors, scored by the common-neighbor
    * count and the neighborhood Jaccard `cn / (d(u)+d(v)−cn)`. Exact
    * integers plus ONE double division — engine-portable (Adamic-Adar
    * would put a `log` in every term, the q88/q134 ulp lottery; Jaccard
    * carries the same signal with exact arithmetic). Returns
    * `(src, dst, common, jaccard)` with `src < dst`.
    *
    * Scale shape — the [[bipartiteProject]] wedge join applied to the
    * graph's own adjacency: pairs are generated per MIDDLE vertex
    * (Σ d(v)² — the quadratic hazard), so `maxDegree` caps the middle
    * degree exactly like the projection's hub cap / the n-gram df-prune;
    * existing edges leave via one anti-join; degrees re-attach by two
    * slim joins.
    */
  def linkPrediction(
      edges: DataFrame,
      minCommon: Long = 1L,
      maxDegree: Long = 0L
  ): DataFrame = {
    val canon = Loop.canonicalPairs(edges)
    val adj = canon.select(col("a").as("v"), col("b").as("n"))
      .union(canon.select(col("b").as("v"), col("a").as("n")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val mids =
      if (maxDegree <= 0L) adj
      else adj.join(deg.where(col("deg") <= maxDegree).select("v"), Seq("v"), "left_semi")
    val cn = mids.select(col("v"), col("n").as("x"))
      .join(mids.select(col("v"), col("n").as("y")), Seq("v"))
      .where(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
    cn.join(canon, col("x") === col("a") && col("y") === col("b"), "left_anti")
      .join(deg.select(col("v").as("x"), col("deg").as("_dx")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("deg").as("_dy")), Seq("y"))
      .select(col("x").as("src"), col("y").as("dst"), col("common"),
        round(col("common").cast("double")
          / (col("_dx") + col("_dy") - col("common")), 6).as("jaccard"))
  }

  /** HITS hubs & authorities (Kleinberg) on the DIRECTED edge set — the
    * link-analysis complement of PageRank (PageRank ranks by received
    * mass; HITS separates "points at good things" from "is a good
    * thing", the classic curation-vs-content split for link/citation
    * graphs). Synchronous power iteration: per round `a ∝ Aᵀh` then
    * `h ∝ Aa`, each L2-normalized; returns `(idCol, hub, authority)`
    * for every edge-endpoint vertex. Converges to the principal
    * singular vectors of the adjacency matrix; like [[pageRankDF]],
    * iterated float rounds are NOT bit-portable across engines, so the
    * checkable contract is the fixed-point residual itself (q116/q126
    * discipline — the q155 gate recomputes one half-step in-query and
    * asserts it lands on the returned vectors).
    *
    * Scale shape — the [[pageRankDF]] loop with two half-steps: per
    * round two slim equi-join + grouped-sum shuffles and two one-row
    * norm aggregates broadcast back; checkpoint cadence truncates
    * lineage; edge frame materialized once. Nothing pinned in cached
    * RDDs beyond the tracked loop state.
    *
    * `init` warm-starts the iteration from a previous result (this
    * function's own `(idCol, hub, authority)` output; vertices absent
    * from it — the graph grew — start at 1.0, the pageRankDF rule): the
    * power iteration converges to the principal singular direction from
    * any start with a nonzero component along it, so a near-converged
    * hub vector needs a cadence or two instead of 30 rounds. Only the
    * hub column seeds (each round recomputes `a` from `h` first, so a
    * stored authority vector would be overwritten before it is read).
    */
  def hits(
      spark: SparkSession,
      edges: DataFrame,
      iters: Int = 30,
      idCol: String = "id",
      init: Option[DataFrame] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // LAZY cadence cuts (see pageRankDF): no action runs inside the loop,
    // so the final count materializes the whole chain in one job; each
    // cadence boundary still truncates lineage. e and vertices stay eager
    // — both are read many times per round and must cache up front.
    val e = edges.select(col(EdgeColumns.Src).cast("long").as("src"),
        col(EdgeColumns.Dst).cast("long").as("dst"))
      .distinct()
      .localCheckpoint()
    val vertices =
      e.select(col("src").as("vid")).union(e.select(col("dst").as("vid"))).distinct()
        .localCheckpoint()
    def normalize(df: DataFrame, c: String): DataFrame = {
      val n2 = df.agg(sum(col(c) * col(c)).as("_n2"))
      df.crossJoin(broadcast(n2))
        .select(col("vid"),
          (col(c) / when(col("_n2") > 0, sqrt(col("_n2")))).as(c))
    }
    // the dangling-vertex zero rows only matter where norms/output read
    // the full universe — the inner edge joins ignore them and zeros add
    // nothing to a norm, so the universe attaches on cadence only
    def withUniverse(df: DataFrame, c: String): DataFrame =
      vertices.join(df, Seq("vid"), "left")
        .select(col("vid"), coalesce(col(c), lit(0.0)).as(c))
    val h0 = init match {
      case None => vertices.withColumn("h", lit(1.0))
      case Some(prev) =>
        val p = prev.select(col(idCol).cast("long").as("ivid"), col("hub").cast("double").as("ih"))
        vertices.join(p, vertices("vid") === p("ivid"), "left")
          .select(vertices("vid"), coalesce(col("ih"), lit(1.0)).as("h"))
    }
    // Normalize and materialize only on the CADENCE (due rounds and the
    // last), not every half-step: per-step L2 normalization is a pure
    // rescale, and a pure rescale never changes the direction the power
    // iteration converges to — so deferring it to the cadence yields the
    // same normalized fixed point while cutting the norm-aggregate
    // crossJoins and checkpoints 4×. Off-cadence rounds are plain join+agg
    // chains (no embedded scalar-aggregate subtrees, so Catalyst compile
    // stays flat — the original per-step materialization existed precisely
    // because crossJoin'd norm subtrees stacked ~4 per round); magnitudes
    // grow ≤ ‖A‖² per round, far inside double range over any 4-round
    // window. On cadence rounds `a` materializes BEFORE `h` is built from
    // it, so the h job reads the checkpoint instead of recomputing a's chain.
    val (h, a) = Loop.run((h0, null: DataFrame), iters, cutLast = true) { case ((hPrev, _), round) =>
      val aRaw = e.join(hPrev.select(col("vid").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
        .select(col("dst").as("vid"), col("a"))
      val a =
        if (round.due) round.cut(normalize(withUniverse(aRaw, "a"), "a"), eager = false) else aRaw
      val hRaw = e.join(a.select(col("vid").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
        .select(col("src").as("vid"), col("h"))
      val h =
        if (round.due) round.cut(normalize(withUniverse(hRaw, "h"), "h"), eager = false) else hRaw
      Some((h, a))
    }.state
    vertices
      .join(h, Seq("vid")).join(a, Seq("vid"))
      .select(col("vid").as(idCol), col("h").as("hub"), col("a").as("authority"))
  }

  /** Per-vertex local clustering coefficient — how close each vertex's
    * neighborhood is to a clique (`2·T / (d·(d−1))`): the community-
    * cohesion / spam-ring / boilerplate-hub score on top of
    * [[triangleCountsDF]]. Returns `(idCol, triangles, degree, coeff)`
    * for every vertex of `vertices`; `degree` is the SIMPLE undirected
    * degree (distinct neighbors, self-loops dropped — the denominator
    * must count the same edges the triangles ride), `coeff` is NULL for
    * degree < 2 (undefined, not zero). Triangle and degree counts are
    * exact integers and the coefficient is ONE double division, so the
    * whole table is engine-portable.
    *
    * Cost: [[triangleCountsDF]]'s O(m^{3/2}) wedge closure plus one
    * degree aggregate and a left join — same slim-long-frame scale shape.
    */
  def clusteringCoefficient(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      scale: Int = 6
  ): DataFrame = {
    val tri = triangleCountsDF(spark, vertices, edges, idCol)
    val canon = Loop.canonicalPairs(edges)
    val deg = canon.select(col("a").as("v")).union(canon.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    tri.join(deg, tri(idCol) === deg("v"), "left")
      .select(
        tri(idCol),
        col("triangles"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        when(coalesce(col("degree"), lit(0L)) >= 2,
          round(lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1)), scale))
          .as("coeff"))
  }

  /** k-core subgraph via iterative degree peeling as a DataFrame loop:
    * repeatedly delete every vertex of degree < k until the fixed point,
    * then report the survivors as (idCol, core_degree) with their degree
    * INSIDE the core. The dense-substructure screen of the exploration
    * surface (spam rings, boilerplate hubs, tightly cross-linked dup
    * families — cohesion that per-vertex degree alone cannot see, because
    * a vertex's neighbors must themselves be retained for it to survive).
    * Edges are read undirected (either one-way or bidirectional tables
    * give the same answer), self-loops dropped. Vertices in no k-core ⇒
    * absent from the result; k=1 returns every non-isolated vertex.
    *
    * Scale shape, same family as [[connectedComponentsDF]] /
    * [[pageRankDF]]: per round one grouped degree count + two semi-joins
    * on slim long frames — spillable, AQE-planned, no graph pinned in
    * cached RDDs. Convergence is a 1-row scalar aggregate per round
    * (vertex count + below-k count: done when nothing is below k), the
    * CC-DF signature discipline; lineage is truncated on the pageRankDF
    * cadence. Rounds are bounded by the peeling depth (the graph's
    * degeneracy ordering collapses whole shells per round — cliques fall
    * in one round), with the CC-style maxIter warning as the backstop.
    */
  def kCore(
      spark: SparkSession,
      edges: DataFrame,
      k: Int,
      idCol: String = "id",
      maxIter: Int = 100,
      within: Option[DataFrame] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(k >= 1, s"k must be >= 1, got $k")
    // one distinct undirected edge, materialized in both orientations so
    // groupBy(src) IS the undirected degree. With `within` (the warm
    // start), the edge set is first restricted to edges BOTH of whose
    // endpoints are in the given vertex frame — sound whenever `within`
    // contains the k-core, because core_k(G) = core_k(G[W]) for any
    // W ⊇ core_k(G). The canonical use is nested peeling on one graph:
    // a previously computed j-core (j ≤ k) is such a W, so deepening
    // k → k+1 peels only the (usually tiny) previous core instead of the
    // whole corpus graph (spec'd: warm ≡ cold).
    val scoped = within match {
      case None => edges
      case Some(w) =>
        val ids = w.select(col(idCol).cast("long").as("_wid"))
        edges
          .join(ids, col(EdgeColumns.Src).cast("long") === col("_wid"), "left_semi")
          .join(ids, col(EdgeColumns.Dst).cast("long") === col("_wid"), "left_semi")
    }
    val e0 = Loop.undirected(scoped)
    val res = Loop.run(e0, maxIter, held = Seq(e0)) { (e, round) =>
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val stats = deg.agg(
        count(lit(1)),
        sum(when(col("deg") < k, 1).otherwise(0))).head()
      val present = stats.getLong(0)
      val below   = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      if (present == 0L || below == 0L) None
      else {
        val keep = deg.where(col("deg") >= k).select(col("src").as("_kv"))
        Some(round.cadence(e.join(keep.select(col("_kv").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("_kv").as("dst")), Seq("dst"), "left_semi")))
      }
    }
    if (!res.converged) {
      log.warn(
        s"kCore exited via maxIter=$maxIter before reaching the peeling fixed point; " +
          "the returned subgraph may still contain vertices below k — " +
          "re-run with a larger maxIter")
    }
    val e = res.state
    e.groupBy("src").agg(count(lit(1)).as("core_degree"))
      .select(col("src").as(idCol), col("core_degree"))
  }

  /** Synchronous label propagation community detection as plain DataFrame
    * rounds — the cheap community/near-component structure pass (GraphX
    * ships the same algorithm as `lib.LabelPropagation`; this is its
    * spillable twin in the [[connectedComponentsDF]] / [[pageRankDF]]
    * family). Every vertex starts labeled with its own id; each round it
    * adopts the most frequent label among its neighbors AND itself, ties
    * broken by the MINIMUM label — deterministic (GraphX's hashmap-order
    * tie-break is not), so results are stable across partitionings and
    * reproducible by an external engine on graphs with a closed form. The
    * self-vote is the oscillation damper: pure neighbor voting swaps
    * labels forever on a 2-clique (a ↔ b every round), while with the
    * self-vote every clique settles on its minimum id in one round.
    * Covers edge ENDPOINTS (undirected reading, self-loops dropped);
    * isolated vertices are the caller's coalesce, as in [[kCore]].
    *
    * Returns `(idCol, label)` after exactly `numIter` rounds (LPA has no
    * guaranteed fixed point — labels can oscillate on bipartite-ish
    * structures; a fixed round budget is the standard contract).
    *
    * Scale shape: one join of the bidirectional edge list against the
    * |V|-row label frame + two grouped aggregates per round — the
    * neighbor-count frame never exceeds the edge list, the max-struct
    * election is a partial aggregate (map-side combine), and lineage is
    * truncated on the pageRankDF checkpoint cadence.
    */
  def labelPropagation(
      spark: SparkSession,
      edges: DataFrame,
      numIter: Int = 5,
      idCol: String = "id",
      initLabels: Option[DataFrame] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(numIter >= 1, s"numIter >= 1, got $numIter")
    val e = Loop.undirected(edges)
    // warm start (the pageRankDF initRanks pattern): seed from a previous
    // run's (idCol, label) output — vertices absent from the seed (the
    // graph grew) start with their own id, seed rows for vanished vertices
    // are dropped by the join. From a settled community structure a grown
    // graph needs a round or two for the new vertices to adopt their
    // neighborhoods' labels instead of a full cold budget (spec'd: warm on
    // the grown graph ≡ its cold labeling).
    val labels0 = initLabels match {
      case None =>
        e.select(col("src").as("vid")).distinct()
          .select(col("vid"), col("vid").as("label"))
      case Some(init) =>
        val prev = init.select(
          col(idCol).cast("long").as("ivid"), col("label").cast("long").as("ilabel"))
        val v = e.select(col("src").as("vid")).distinct()
        v.join(prev, v("vid") === prev("ivid"), "left")
          .select(v("vid"), coalesce(col("ilabel"), v("vid")).as("label"))
    }
    val labels = Loop.run(labels0, numIter, cutLast = true) { (labels, round) =>
      val contrib = e.join(labels, e("dst") === labels("vid"))
        .select(col("src"), col("label"))
        .union(labels.select(col("vid").as("src"), col("label")))
      val counts = contrib
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      // most frequent label, min on ties: max of (cnt, -label) structs —
      // an exact partial aggregate, no window sort
      Some(round.cadence(counts
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("_best"))
        .select(col("src").as("vid"), (-col("_best.neg")).as("label"))))
    }.state
    labels.select(col("vid").as(idCol), col("label"))
  }

  /** Multi-source BFS shortest paths (unweighted, undirected) as a DF
    * frontier loop — the hop-distance primitive (crawl-depth from a seed
    * set, contamination-radius from known-bad documents, graph-distance
    * features for a link graph). Returns `(idCol, dist)` for every vertex
    * reachable from the source set within `maxDist` hops; sources are
    * dist 0, a vertex's dist is its distance to the NEAREST source, and
    * vertices farther than `maxDist` (or unreachable) are absent. Edges
    * are read undirected (one-way or bidirectional input is the same
    * graph), self-loops dropped; sources need not appear in any edge
    * (isolated sources still report dist 0).
    *
    * Scale shape, same family as [[connectedComponentsDF]] / [[kCore]]:
    * level-synchronous expansion — per round ONE equi-join of the edge
    * list against the (slim, shrinking) frontier, a distinct, and an
    * anti-join against the settled set; every frame is `(vid[, dist])`
    * longs, spillable and AQE-planned, nothing pinned in cached RDDs.
    * The settled set only grows by genuinely new vertices, so total work
    * is O(Σ frontier-degree) = O(m) across all rounds — the textbook BFS
    * bound, paid as `diameter` shuffle rounds. Emptiness of the
    * materialized frontier is the per-round scalar (the CC-DF signature
    * discipline); settled lineage is truncated on the pageRankDF cadence.
    */
  def shortestPaths(
      spark: SparkSession,
      edges: DataFrame,
      sources: Seq[Long],
      idCol: String = "id",
      maxDist: Int = 50
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(sources.nonEmpty, "sources must be non-empty")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    import spark.implicits._
    val e = Loop.undirected(edges)
    val settled0 = Loop.materialize(
      sources.distinct.toDF("vid").select(col("vid").cast("long").as("vid"), lit(0).as("dist")))
    val res = Loop.run((settled0, settled0), maxDist, held = Seq(settled0)) {
      case ((settled, frontier), round) =>
        // every neighbor of the frontier not yet settled joins at dist
        // round.n; the frontier is level-uniform so distinct (not min)
        // suffices. LAZY checkpoint + count fuses the old eager-materialize
        // job and the isEmpty probe job into ONE pass per round (the
        // hyperBallLoop discipline): count() computes and persists every
        // partition, so the lineage cut is complete before the next round
        // builds on it.
        val next =
          e.join(frontier.select(col("vid").as("src")), Seq("src"))
            .select(col("dst").as("vid")).distinct()
            .join(settled.select(col("vid")), Seq("vid"), "left_anti")
            .withColumn("dist", lit(round.n))
            .localCheckpoint(false)
        if (next.count() == 0L) {
          Loop.release(next)
          None
        } else Some((round.cadence(settled.union(next)), next))
    }
    if (!res.converged) {
      log.warn(
        s"shortestPaths stopped at maxDist=$maxDist with a non-empty frontier; " +
          "vertices beyond that radius are absent from the result — " +
          "re-run with a larger maxDist for full reachability")
    }
    val (settled, _) = res.state
    settled.select(col("vid").as(idCol), col("dist"))
  }

  /** Incremental hop-distance maintenance by relaxation — the warm start
    * of the [[shortestPaths]] family (pageRankDF has `initRanks`, LPA
    * `initLabels`, kCore `within`; this is the distances counterpart).
    * `init` is a `(idCol, dist)` frame of ADMISSIBLE UPPER BOUNDS: the
    * previous run's output plus the sources at dist 0. Each round relaxes
    * one hop — neighbors of last round's improved rows get
    * `min(old, improved + 1)` — until nothing improves; the fixed point
    * is the true distance set as long as every init bound is ≥ its true
    * distance, which holds exactly when edges were only ADDED since the
    * init was computed (an edge REMOVAL can raise true distances above a
    * bound — recompute cold for that). New vertices (absent from `init`)
    * are discovered by expansion like a cold BFS. `maxDist` is the same
    * radius cap as [[shortestPaths]]: candidates beyond it are dropped,
    * so warm(grown) ≡ cold(grown) at equal caps (spec'd).
    *
    * Scale shape: identical per-round frames to [[shortestPaths]] plus a
    * |V|-row min-merge of the settled table; after a small graph delta
    * the frontier is only the improvement wavefront, so an incremental
    * update touches O(affected region), not O(graph) — rounds bounded by
    * the longest improvement chain (≤ maxDist + 1, enforced).
    */
  def relaxDistances(
      spark: SparkSession,
      edges: DataFrame,
      init: DataFrame,
      idCol: String = "id",
      maxDist: Int = 50
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val e = Loop.undirected(edges)
    val settled0 = Loop.materialize(
      init.select(col(idCol).cast("long").as("vid"), col("dist").cast("int").as("dist"))
        .where(col("dist") <= maxDist)
        .groupBy("vid").agg(min(col("dist")).as("dist")))
    val maxIter = maxDist + 1
    val res = Loop.run((settled0, settled0), maxIter, held = Seq(settled0)) {
      case ((settled, frontier), round) =>
        val cand = e.join(frontier.select(col("vid").as("src"), col("dist")), Seq("src"))
          .select(col("dst").as("vid"), (col("dist") + 1).as("dist"))
          .where(col("dist") <= maxDist)
          .groupBy("vid").agg(min(col("dist")).as("dist"))
        // lazy checkpoint + count: one fused pass per round (see shortestPaths)
        val improved =
          cand.join(settled.select(col("vid"), col("dist").as("_old")), Seq("vid"), "left")
            .where(col("_old").isNull || col("dist") < col("_old"))
            .select(col("vid"), col("dist"))
            .localCheckpoint(false)
        if (improved.count() == 0L) {
          Loop.release(improved)
          None
        } else {
          Some((round.cut(
            settled.join(improved.select(col("vid").as("_iv")),
                col("vid") === col("_iv"), "left_anti")
              .union(improved)), improved))
        }
    }
    if (!res.converged) {
      log.warn(
        s"relaxDistances exhausted its ${maxIter}-round budget before the fixed point; " +
          "this should be unreachable for admissible init bounds — check that edges " +
          "were only added since init was computed")
    }
    val (settled, _) = res.state
    settled.select(col("vid").as(idCol), col("dist"))
  }

  /** Per-landmark BFS distances (the GraphX `lib.ShortestPaths` analogue):
    * for every vertex, its hop distance to EACH landmark it can reach
    * within `maxDist` — `(idCol, landmark, dist)`. The graph-distance
    * FEATURE table ([[shortestPaths]] collapses to the nearest source;
    * this keeps the per-landmark vector: positional features for ranking,
    * triangulation-style spam scoring, landmark-based distance estimates
    * à la Potamias et al. 2009).
    *
    * Same frontier loop as [[shortestPaths]] with a composite (vid,
    * landmark) state key: per round one equi-join of the edge list
    * against the frontier — the edge list is scanned ONCE per round
    * regardless of |landmarks| — then distinct + anti-join against the
    * settled set. State is bounded by |V|·|landmarks| slim long rows;
    * total work O(m·|landmarks|) across all rounds, the same bound as
    * |landmarks| separate BFS runs but paid in `diameter` shuffle rounds
    * instead of `diameter·|landmarks|`.
    */
  def landmarkDistances(
      spark: SparkSession,
      edges: DataFrame,
      landmarks: Seq[Long],
      idCol: String = "id",
      maxDist: Int = 50
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(landmarks.nonEmpty, "landmarks must be non-empty")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    import spark.implicits._
    val e = Loop.undirected(edges)
    val settled0 = Loop.materialize(
      landmarks.distinct.toDF("lm")
        .select(col("lm").cast("long").as("vid"), col("lm").cast("long").as("lm"),
          lit(0).as("dist")))
    val res = Loop.run((settled0, settled0), maxDist, held = Seq(settled0)) {
      case ((settled, frontier), round) =>
        // lazy checkpoint + count: one fused pass per round instead of an
        // eager materialize job plus an isEmpty probe job (see shortestPaths)
        val next =
          e.join(frontier.select(col("vid").as("src"), col("lm")), Seq("src"))
            .select(col("dst").as("vid"), col("lm")).distinct()
            .join(settled.select(col("vid"), col("lm")), Seq("vid", "lm"), "left_anti")
            .withColumn("dist", lit(round.n))
            .localCheckpoint(false)
        if (next.count() == 0L) {
          Loop.release(next)
          None
        } else Some((round.cadence(settled.union(next)), next))
    }
    if (!res.converged) {
      log.warn(
        s"landmarkDistances stopped at maxDist=$maxDist with a non-empty frontier; " +
          "(vertex, landmark) pairs beyond that radius are absent from the result")
    }
    val (settled, _) = res.state
    settled.select(col("vid").as(idCol), col("lm").as("landmark"), col("dist"))
  }

  /** Approximate neighborhood function (ANF / HyperBall) — per-vertex
    * k-hop REACH estimates via iterated HLL sketch unions, the canonical
    * web-scale graph-statistics algorithm (effective diameter, reach
    * curves, spid) where exact per-vertex balls are O(V·ball) and die at
    * scale: `ball_h(v) = ball_{h-1}(v) ∪ ⋃_{(v,w)∈E} ball_{h-1}(w)`,
    * with every ball a fixed-size DataSketches HLL (`hll_sketch_agg` /
    * `hll_union_agg` — mergeable, deterministic for a given input set
    * and lgK). Returns `(id, hop, reach_est)` for hop = 1..maxHops;
    * `reach_est` counts the vertex itself (hop-0 ball = {v}).
    *
    * Edges are DIRECTED out-edges (union the swap for undirected reach).
    * Scale shape — HyperBall's delta-frontier discipline: HLL union is
    * monotone and idempotent, so a vertex whose sketch did NOT change in
    * round h−1 can contribute nothing new to any neighbor in round h (the
    * neighbor already absorbed its registers). Each round therefore joins
    * edges against only the CHANGED sketches (the frontier), folds the
    * contributions per target vertex map-side (`hll_union_agg`), and
    * merges them into the standing state as an anti-join (untouched rows)
    * plus an inner join + pairwise `hll_union` (updated rows) — both
    * against the DELTA, which broadcasts at runtime once the frontier
    * shrinks, so a steady-state round never reshuffles the standing state.
    * Shuffle mass is ≈ |E_frontier|·2^lgK bytes per round (not |E|), the lgK knob
    * trading accuracy (σ ≈ 1.04/√2^lgK) against bandwidth, and the loop
    * EXITS as soon as the frontier empties — `maxHops` is a bound, not a
    * fixed cost (remaining hop snapshots replicate the converged state).
    * Change detection compares the merged sketch to the old one on the
    * serialized bytes: registers that differ cannot serialize equal, so a
    * change is never missed; a representation-only difference (sparse →
    * dense promotion) at worst re-ships one sketch one extra round.
    * Rounds are lineage-cut per hop (the [[shortestPaths]] loop
    * discipline).
    */
  /** The largest lgK in [lgKMin, lgKMax] whose WORST-CASE per-round
    * contribution shuffle — `contribRows` dense HLL_8 sketches of
    * `2^lgK + 64` bytes (registers + serialization header) — fits
    * `shuffleBudgetBytes`; `lgKMin` when none does. This is the ANF
    * bandwidth knob automated: HyperBall's round-1 contribution join
    * ships ≤|E| sketches (fewer once the frontier narrows), so
    * `contribRows = |E|` bounds the peak and the accuracy trade is
    * explicit — σ ≈ 1.04/√2^lgK, i.e. each lgK step down costs √2 in σ
    * and halves the shuffle. A 100-TB deployment passes its aggregate
    * cluster shuffle/disk budget; a single-box probe passes a fraction
    * of its free disk (the regime where a dense lgK=11 state is the
    * difference between completing and filling the disk).
    */
  def anfAutoLgK(
      contribRows: Long,
      shuffleBudgetBytes: Long,
      lgKMax: Int = 12,
      lgKMin: Int = 4): Int = {
    require(lgKMin >= 4 && lgKMax <= 21 && lgKMin <= lgKMax,
      s"need 4 <= lgKMin <= lgKMax <= 21, got [$lgKMin, $lgKMax]")
    require(shuffleBudgetBytes > 0, s"budget must be positive, got $shuffleBudgetBytes")
    val rows = math.max(contribRows, 1L)
    (lgKMin to lgKMax).reverse
      .find(k => rows <= shuffleBudgetBytes / ((1L << k) + 64L))
      .getOrElse(lgKMin)
  }

  /** Resolve the effective lgK for an ANF run: the caller's `lgK` capped
    * by [[anfAutoLgK]] under `shuffleBudgetBytes` — from `edgeRowsHint`
    * when the caller already knows |E|, else one count() over the edge
    * frame (the worst-case round-1 contribution rows). The count() is
    * skipped entirely when the plan's own size estimate already proves
    * the budget admits `lgK`: every parquet/in-memory row occupies ≥ 1
    * byte, so stats.sizeInBytes upper-bounds the row count, and a budget
    * that admits that many rows at full width can never downgrade. */
  private def resolveLgK(
      lgK: Int, edges: DataFrame, budget: Option[Long],
      edgeRowsHint: Option[Long] = None): Int =
    budget match {
      case None => lgK
      case Some(b) =>
        val cap = b / ((1L << lgK) + 64L)
        val statUpper = edges.queryExecution.optimizedPlan.stats.sizeInBytes
        if (edgeRowsHint.isEmpty && statUpper <= BigInt(cap)) lgK
        else {
          val rows = edgeRowsHint.getOrElse(edges.count())
          val eff = anfAutoLgK(rows, b, lgKMax = lgK)
          if (eff < lgK)
            // operator telemetry: an explicit budget actively downgrading
            // accuracy must be visible in the run log (σ ≈ 1.04/√2^lgK)
            println(f"[anf] lgK $lgK -> $eff under budget ${b}%d B " +
              f"($rows%d contribution rows; sigma ~ ${1.04 / math.sqrt(1L << eff)}%.4f)")
          eff
        }
    }

  def neighborhoodFunction(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxHops: Int,
      lgK: Int = 12,
      idCol: String = "id",
      shuffleBudgetBytes: Option[Long] = None,
      edgeRowsHint: Option[Long] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    val lgKEff = resolveLgK(lgK, edges, shuffleBudgetBytes, edgeRowsHint)
    val v = vertices.select(col(idCol).cast("long").as("id")).distinct()
    val state0 = v.groupBy(col("id")).agg(hll_sketch_agg(col("id"), lit(lgKEff)).as("_sk"))
    // Round 0: every vertex just absorbed its own id — all are frontier.
    val (states, _, _) = hyperBallLoop(spark, edges, state0, None, maxHops, lgKEff = lgKEff)
    states.zipWithIndex.map { case (st, i) =>
      st.select(col("id"), lit(i + 1).as("hop"),
        hll_sketch_estimate(col("_sk")).cast("double").as("reach_est"))
    }.reduce(_ unionAll _)
  }

  /** The persistable state behind [[neighborhoodFunction]]: converged (or
    * `maxHops`-bounded) per-vertex HLL reach sketches `(id, sketch)`.
    * Write the frame to a table and feed it back as `initState` to RESUME
    * after the graph GROWS — HLL union is monotone, so a prior run's
    * converged sketches are a valid lower state for any edge/vertex
    * ADDITION, and the loop re-propagates only what the additions change
    * (edge DELETIONS invalidate the state — cold-start those).
    * `newEdges`, when given, must be the edges added since `initState`
    * was taken; it seeds the frontier with just the vertices those edges
    * feed from, so a small increment costs rounds proportional to its
    * blast radius instead of a full |E| round-1 join. Without it the
    * whole state is conservatively re-frontiered (correct, still
    * convergence-pruned after one round). Warm and cold converge to the
    * SAME register state — per-vertex estimates are equal exactly, the
    * spec- and oracle-pinned contract (the relaxDistances/q138
    * admissible-resume pattern).
    */
  def neighborhoodSketches(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxHops: Int,
      lgK: Int = 12,
      idCol: String = "id",
      initState: Option[DataFrame] = None,
      newEdges: Option[DataFrame] = None,
      shuffleBudgetBytes: Option[Long] = None,
      edgeRowsHint: Option[Long] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    // Budget-capped lgK (see anfAutoLgK). Warm ≡ cold requires the SAME
    // register geometry across resume: a persisted state's sketches keep
    // their build-time lgK (hll_union merges mixed-lgK down, so a resume
    // under a TIGHTER budget still converges — but estimate-exactness vs
    // a cold rebuild is only contractual at equal lgK).
    val lgKEff = resolveLgK(lgK, edges, shuffleBudgetBytes, edgeRowsHint)
    val v = vertices.select(col(idCol).cast("long").as("id")).distinct()
    val selfSk = v.groupBy(col("id")).agg(hll_sketch_agg(col("id"), lit(lgKEff)).as("_sk"))
    val (state0, frontier0) = initState match {
      case None => (selfSk, None)
      case Some(init) =>
        val prior = init.select(col(idCol).cast("long").as("id"), col("sketch").as("_sk"))
        // new vertices start from their self-sketch; prior rows win —
        // their sketch already contains the own id
        val st = prior.unionAll(
          selfSk.join(prior.select(col("id")), Seq("id"), "left_anti"))
        val fr = newEdges.map { ne =>
          // the sketches a new edge will PULL FROM (its dst side) must
          // re-enter the frontier; brand-new vertices likewise
          val touched = ne.select(col(EdgeColumns.Dst).cast("long").as("id")).distinct()
            .unionAll(v.join(prior.select(col("id")), Seq("id"), "left_anti"))
            .distinct()
          st.join(touched, Seq("id"), "left_semi")
        }
        (st, fr.orElse(Some(st)))
    }
    val (_, finalState, _) = hyperBallLoop(spark, edges, state0, frontier0, maxHops, lgKEff = lgKEff)
    finalState.select(col("id").as(idCol), col("_sk").as("sketch"))
  }

  /** The HyperBall delta-frontier loop shared by [[neighborhoodFunction]]
    * and [[neighborhoodSketches]]: iterates `state0` (id, _sk) along
    * `edges` for up to `maxHops` rounds, frontier-pruned and
    * lineage-cut per round; `frontier0 = None` means every state row is
    * round-0 frontier. Returns (per-hop state frames, final state).
    *
    * `narrowDen` is the adaptive-merge switch point (full-outer while
    * `frontier ≥ state/narrowDen`, anti+inner below) — a test-only knob:
    * the spec forces each branch (`1` ⇒ narrow from round 2, `MaxValue`
    * ⇒ always full-outer) and pins their states equal; production
    * callers always use the default 4. [[hyperBallBranchLog]] records
    * the decision per round (true = full-outer) for the same spec.
    */
  private[graft] def hyperBallBranchLog(
      spark: SparkSession,
      edges: DataFrame,
      state0: DataFrame,
      maxHops: Int,
      narrowDen: Long
  ): (IndexedSeq[DataFrame], DataFrame, Seq[Boolean]) =
    hyperBallLoop(spark, edges, state0, None, maxHops, narrowDen)

  /** Worst-case frontier sketch mass up to which [[hyperBallLoop]]
    * broadcasts the frontier into the contribution join. */
  private val AnfBroadcastBytes = 64L << 20

  private def hyperBallLoop(
      spark: SparkSession,
      edges: DataFrame,
      state0: DataFrame,
      frontier0: Option[DataFrame],
      maxHops: Int,
      narrowDen: Long = 4L,
      lgKEff: Int = 12
  ): (IndexedSeq[DataFrame], DataFrame, Seq[Boolean]) = {
    // r15 execution rework (guide §2.4/§3.1, measured 5× on the q304 graph
    // at sf0.1: 17.1 s → 3.3 s steady-state for the 3-hop loop):
    //  1. the edge frame is hash-partitioned by `src` ONCE and persisted —
    //     `persist` (unlike `localCheckpoint`) preserves the partitioning
    //     in the plan, so every round's per-target sketch fold
    //     (`groupBy(src)`) is satisfied by the standing layout and ships
    //     ZERO sketch bytes through an Exchange whenever the frontier side
    //     broadcasts;
    //  2. the frontier broadcasts when its worst-case sketch mass
    //     (`frontierCount · (2^lgK + 64)` bytes) fits a 64 MB budget
    //     (AnfBroadcastBytes) — the contribution
    //     join then streams the edge frame map-side instead of
    //     sort-merge-shuffling |E| sketch-carrying rows per round. At
    //     100-TB scale a full first-round frontier blows the budget and
    //     falls back to the shuffled join; the steady-state narrowed
    //     frontier is exactly the broadcastable case.
    //  3. the ObjectHashAggregate sort fallback threshold is raised for
    //     the loop's duration: the default (128 distinct groups per task)
    //     degraded every contribution fold into a sort over |E| sketch-
    //     carrying rows; 64k groups × ~2 KB sketches bounds the hash map
    //     at ~128 MB per task, inside executor memory at any scale.
    //  4. loop state stays localCheckpoint-based: per-round lineage MUST
    //     be cut — the narrow merge references the state three times, so
    //     an uncut plan tree grows 3^rounds and the 12-hop callers OOM in
    //     plan stringification alone (measured: NeighborhoodFunctionSpec
    //     heap death via InMemoryRelation.cachedName treeString).
    // Estimates: hop sums are bit-identical for saturated sketches; pre-
    // saturation dense sketches can shift within HLL's HIP-vs-composite
    // path sensitivity (≪ the sketch's own σ ≈ 1.04/√2^lgK) — the oracle
    // gates (q304 ≤15% vs exact balls, q371 bounds, q373 warm ≡ cold under
    // one plan shape) and the small-ball exactness specs pin the contract.
    val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val fbOld = spark.conf.getOption(fbKey)
    spark.conf.set(fbKey, "65536")
    try {
    val sketchBytes = (1L << lgKEff) + 64L
    val eBase = edges
      .select(col(EdgeColumns.Src).cast("long").as("src"),
        col(EdgeColumns.Dst).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val e = graft.Caches.track(eBase.repartition(col("src")))
    // state0 stays CHECKPOINTED (not persisted): the adaptive-merge branch
    // spec pins final sketch bytes equal across merge branches, and an
    // InMemoryRelation-backed round-0 state perturbs downstream coupon
    // insertion order enough to break LIST-mode byte equality (bisected).
    var state = state0.localCheckpoint()
    var frontier = frontier0.getOrElse(state)
    var frontierCount = Long.MaxValue // unknown until the first merge
    var stateCount    = Long.MaxValue
    frontier0.foreach { f0 =>
      // a SUPPLIED frontier (warm resume) is usually a small blast radius:
      // one count up front (over the persisted frame, reused by round 1)
      // lets round 1 take the broadcast + narrow-merge path instead of
      // defaulting to the unknown-size full-shuffle shape
      frontier = graft.Caches.track(f0)
      frontierCount = frontier.count()
      stateCount = state.count()
    }
    val branchLog = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val states = (1 to maxHops).map { _ =>
      if (frontierCount == 0L) state // converged: reach is final
      else {
        val f = frontier.select(col("id").as("dst"), col("_sk"))
        val fr =
          if (frontierCount != Long.MaxValue && frontierCount * sketchBytes <= AnfBroadcastBytes)
            broadcast(f)
          else f
        val contrib = e
          .join(fr, Seq("dst"))
          .select(col("src").as("id"), col("_sk"))
        val delta = contrib.groupBy(col("id"))
          .agg(hll_union_agg(col("_sk"), lit(true)).as("_dsk"))
        // Merge shape is ADAPTIVE on the measured frontier size. While the
        // frontier is still a large fraction of the state (early rounds on
        // a connected graph — the delta touches most vertices anyway), the
        // round-12 full-outer rewrite is the right plan, and it also
        // materializes edge sources absent from `vertices` (the legacy
        // contract: such a vertex appears once reached). Once the frontier
        // narrows, the anti+inner split lets the small delta broadcast and
        // the standing sketches stream through unshuffled — only the slim
        // id projection of the state enters the absent-source anti-join.
        // Both shapes produce identical rows.
        val useFull = frontierCount >= stateCount / narrowDen
        branchLog += useFull
        val merged =
          // (compare via division: the sentinel Long.MaxValue would
          // overflow a frontierCount * narrowDen)
          if (useFull)
            state.join(delta, Seq("id"), "full")
              .select(col("id"), col("_sk").as("_osk"),
                when(col("_sk").isNull, col("_dsk"))
                  .when(col("_dsk").isNull, col("_sk"))
                  .otherwise(hll_union(col("_sk"), col("_dsk")))
                  .as("_nsk"))
              .select(col("id"), col("_nsk").as("_sk"),
                (col("_osk").isNull || !(col("_nsk") <=> col("_osk"))).as("_chg"))
          else {
            val untouched = state.join(delta, Seq("id"), "left_anti")
              .select(col("id"), col("_sk"), lit(false).as("_chg"))
            val updated = state.join(delta, Seq("id"))
              .select(col("id"),
                hll_union(col("_sk"), col("_dsk")).as("_nsk"), col("_sk").as("_osk"))
              .select(col("id"), col("_nsk").as("_sk"),
                (!(col("_nsk") <=> col("_osk"))).as("_chg"))
            val newIds = delta.join(state.select(col("id")), Seq("id"), "left_anti")
              .select(col("id"), col("_dsk").as("_sk"), lit(true).as("_chg"))
            untouched.unionAll(updated).unionAll(newIds)
          }
        // lazy checkpoint: the counts aggregate below computes and caches
        // every partition — one fused materialize + probe job per round,
        // with the lineage cut (see note 4 above)
        val next = merged.localCheckpoint(false)
        state = next.select(col("id"), col("_sk"))
        frontier = next.where(col("_chg")).select(col("id"), col("_sk"))
        // one pass over the persisted frame yields both the emptiness
        // probe (the old isEmpty action) and the next round's shape inputs
        val counts = next.agg(count(lit(1)),
          sum(when(col("_chg"), 1L).otherwise(0L))).first()
        stateCount = counts.getLong(0)
        frontierCount = if (counts.isNullAt(1)) 0L else counts.getLong(1)
        state
      }
    }
    (states, state, branchLog.toSeq)
    } finally {
      fbOld match {
        case Some(v) => spark.conf.set(fbKey, v)
        case None    => spark.conf.unset(fbKey)
      }
    }
  }

  /** Effective diameter from a [[neighborhoodFunction]] output — the
    * statistic HyperBall exists to compute: the (interpolated) hop count
    * within which a `q` fraction of all CONNECTED vertex pairs can reach
    * each other. The neighborhood function `N(h) = Σ_v reach_v(h)` counts
    * reachable pairs within h hops; the effective diameter is the
    * smallest h with `N(h) ≥ q·N(h_max)`, linearly interpolated between
    * hop h−1 and h (Palmer/Faloutsos ANF convention, q = 0.9 classic).
    * Returns one row `(max_hop, n_pairs_max, effective_diameter)` —
    * `n_pairs_max` includes the self-pairs the hop-0 ball carries.
    *
    * The hop-0 point `N(0) = |V|` (every hop-0 ball is the vertex itself)
    * is synthesized into the curve from the ANF frame's per-hop row count,
    * so a graph whose q-target is already met at hop 1 interpolates
    * between hop 0 and hop 1 (Palmer/Faloutsos) instead of pinning to 1.0
    * — dense/small-diameter graphs were upward-biased before this; a
    * target met by the self-pairs alone yields 0.
    *
    * Pure post-processing: one groupBy over the (|V|·hops)-row ANF frame
    * plus a ≤hops-row window — the reach sums carry the HLL estimates'
    * error, so the diameter inherits the sketch accuracy (σ ≈ 1.04/√2^lgK)
    * but touches no edges. If the curve has not saturated by `maxHops`
    * (N still growing at the last hop), the value is a LOWER bound —
    * re-run the ANF with more hops; the delta-frontier loop stops early
    * once converged, so generous bounds are cheap.
    */
  def effectiveDiameter(anf: DataFrame, q: Double = 0.9, scale: Int = 6): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"q must be in (0,1], got $q")
    val perHop = anf.groupBy(col("hop").cast("int").as("hop"))
      .agg(sum(col("reach_est")).as("_n"), count(lit(1)).as("_nv"))
    // hop 0 synthesized off the earliest hop's vertex count (every hop
    // carries one row per vertex, so any hop's count is |V|; the earliest
    // is well-defined even on a sliced frame)
    val hop0 = perHop.orderBy(col("hop")).limit(1)
      .select(lit(0).as("hop"), col("_nv").cast("double").as("_n"))
    val byHop = perHop.select(col("hop"), col("_n")).unionAll(hop0)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("hop"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    // ≤hops rows: the bounded-window class
    val curve = byHop
      .withColumn("_prev", lag(col("_n"), 1).over(w))
      .withColumn("_nmax", max(col("_n")).over(wAll))
      .withColumn("_target", max(col("_n")).over(wAll) * lit(q))
      .withColumn("_maxHop", max(col("hop")).over(wAll))
    curve.where(col("_n") >= col("_target"))
      .orderBy(col("hop")).limit(1)
      .select(
        col("_maxHop").as("max_hop"),
        round(col("_nmax"), 0).cast("long").as("n_pairs_max"),
        round(
          when(col("_prev").isNull || col("_n") <= col("_prev"), col("hop").cast("double"))
            .otherwise(col("hop") - lit(1.0) +
              (col("_target") - col("_prev")) / (col("_n") - col("_prev"))),
          scale).as("effective_diameter"))
  }

  /** Connected components over an edge set; vertices absent from any edge
    * are singletons (their own component). Returns (id, component) where
    * component = smallest vertex id in the component (GraphX convention).
    */
  def connectedComponents(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id"
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    import spark.implicits._
    val vRdd: RDD[(Long, Unit)] =
      vertices.select(col(idCol).cast("long")).rdd.map(r => (r.getLong(0), ()))
    val eRdd: RDD[Edge[Unit]] = edges
      .select(col(EdgeColumns.Src).cast("long"), col(EdgeColumns.Dst).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph(vRdd, eRdd)
    graph.connectedComponents().vertices
      .toDF(idCol, "component")
  }

  /** Connected components as a pure DataFrame loop — the alternating
    * large-star / small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC'14). Same contract as
    * [[connectedComponents]]: (id, component = min vertex id reachable),
    * singletons included.
    *
    * Why a second implementation: GraphX pins the whole graph in cached
    * RDDs outside Tungsten memory accounting and is a fixed ~1 s of
    * stage overhead per run; this variant is plain shuffles over (src,
    * dst) longs — spillable, AQE-planned, and O(log n) rounds, each
    * round two groupBy-min aggregations plus an equi-join (no per-round
    * growth: every rewrite only lowers labels). At 100 TB this is the
    * shape that survives: the per-round state is exactly one (long,
    * long) edge list, never an in-memory vertex replica set.
    *
    * Each round is truncated with `localCheckpoint` (reliable
    * `checkpoint` when the session has a checkpoint dir) so the plan
    * does not grow by ~10 operators per iteration; the prior round's
    * checkpoint is unpersisted as soon as its successor materializes.
    *
    * Local-finish endgame: each round already counts the active edge set
    * (the convergence signature); once it is at or below
    * `localFinishEdges` the remaining graph is collected and closed with
    * an exact driver-side union-find, and the labels rejoin as a (small)
    * DataFrame. The bound is the broadcast-side discipline — 200k edges
    * is ~3 MB of longs, the same order as an auto-broadcast join side —
    * so this is NOT an unbounded driver collect. It serves two ends: at
    * 100 TB it cuts the O(log n) tail of rounds (the last rounds churn a
    * tiny high-diameter remnant through full shuffle stages), and on
    * small graphs it skips the loop entirely, beating GraphX's fixed
    * overhead. Pass `localFinishEdges = 0` to force the pure loop.
    */
  def connectedComponentsDF(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      maxIter: Int = 50,
      localFinishEdges: Long = 200000L
  ): DataFrame = {
    val labels = componentLabels(spark, edges, maxIter, localFinishEdges)
    val v = vertices.select(col(idCol).cast("long").as(idCol))
    v.join(labels, v(idCol) === labels("vid"), "left")
      .select(v(idCol), coalesce(col("component"), v(idCol)).as("component"))
  }

  /** Deterministic random walks over the undirected graph — the
    * node2vec/DeepWalk corpus generator (walk tables feed skip-gram
    * embedding training; also the graph-sampling primitive for
    * neighborhood sketches). Returns `(walk_id, step, vertex)` for every
    * position of every walk: `numWalks` walks start from each of `starts`
    * (`walk_id = start·numWalks + w`, injective for `w < numWalks`), each
    * extended `walkLength` hops. The "random" choice is a HASH of
    * `(seed, walk_id, step)` modulo the current vertex's degree over its
    * neighbors ranked by id — fully deterministic, partition-invariant,
    * and (under [[graft.ops.Md5Hash]]) replayable by an external SQL
    * engine, the same portability contract as the samplers (q45). Walks
    * stop early only at isolated start vertices (an undirected walk that
    * arrived somewhere always has an edge back). With `weightCol` set
    * (positive integer weights; parallel input edges SUM), the hop is
    * drawn proportionally to edge weight — hash mod total weight lands in
    * a neighbor's cumulative-weight range, the discrete-distribution
    * sampling rule — which degenerates to the unweighted rank rule at
    * w ≡ 1 (one code path).
    *
    * Scale shape: the ranked adjacency `(src, dst, rank)` and degree
    * frames are built once (one row_number window partitioned by src —
    * the per-vertex sort is O(d log d), hub-bounded like the q77 wedge
    * orientation) and persisted across steps (self-joined derived frame —
    * the no-CSE lesson); each step is TWO slim equi-joins (state ⋈ degree
    * on the vertex, then ⋈ adjacency on (vertex, chosen rank)) over
    * |walks| rows of state, never a shuffle of the edge list itself.
    * Steps are localCheckpoint-materialized so the loop's lineage stays
    * flat.
    */
  def randomWalks(
      spark: SparkSession,
      edges: DataFrame,
      starts: Seq[Long],
      numWalks: Int = 1,
      walkLength: Int = 5,
      seed: Int = 42,
      hash: graft.ops.HashFamily = graft.ops.XxHash,
      weightCol: Option[String] = None
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(starts.nonEmpty, "starts must be non-empty")
    require(numWalks >= 1, s"numWalks must be >= 1, got $numWalks")
    require(walkLength >= 0, s"walkLength must be >= 0, got $walkLength")
    import spark.implicits._
    // per-neighbor weights: 1 per distinct undirected edge (unweighted), or
    // the sum over parallel input rows (weighted — multiplicity is mass);
    // choosing neighbor = the cumulative range [cum_lo, cum_hi) containing
    // hash mod total. With w ≡ 1 this reduces EXACTLY to "id-ranked
    // neighbor number hash mod degree" — one code path, spec-pinned.
    val adjW = weightCol match {
      case None =>
        val canon = Loop.canonicalPairs(edges)
        canon.select(col("a").as("a_src"), col("b").as("a_dst"))
          .union(canon.select(col("b").as("a_src"), col("a").as("a_dst")))
          .withColumn("w", lit(1L))
      case Some(wc) =>
        val rows = edges
          .select(col(EdgeColumns.Src).cast("long").as("s"), col(EdgeColumns.Dst).cast("long").as("d"),
            col(wc).cast("long").as("w"))
          .where(col("s") =!= col("d"))
        rows.select(col("s").as("a_src"), col("d").as("a_dst"), col("w"))
          .union(rows.select(col("d").as("a_src"), col("s").as("a_dst"), col("w")))
          .groupBy("a_src", "a_dst").agg(sum(col("w")).as("w"))
    }
    // ONE pass over the adjacency build: tot and the weight guard both
    // derive from the persisted cumulative frame instead of re-running
    // the union+groupBy upstream (it was computed three times — adj, tot
    // and the min-weight check each re-aggregated the raw edges; guide
    // §1.2 "don't compute things twice"). total = max(cum_hi) per source
    // and min weight = min(cum_hi − cum_lo) are exact reads of adj.
    val adj = graft.Caches.track(
      adjW.withColumn("cum_hi", sum(col("w")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("a_src")).orderBy(col("a_dst"))))
        .withColumn("cum_lo", col("cum_hi") - col("w"))
        .select(col("a_src"), col("a_dst"), col("cum_lo"), col("cum_hi")))
    if (weightCol.isDefined) {
      val minW = adj.agg(min(col("cum_hi") - col("cum_lo"))).head
      require(minW.isNullAt(0) || minW.getLong(0) >= 1L,
        s"non-positive edge weight ${minW.get(0)} — walk weights must be >= 1")
    }
    val tot = graft.Caches.track(
      adj.groupBy(col("a_src")).agg(max(col("cum_hi")).as("total"))
        .select(col("a_src").as("d_src"), col("total")))
    val start = Loop.materialize(
      starts.distinct.flatMap(s => (0 until numWalks).map(w => (s * numWalks + w, s)))
        .toDF("walk_id", "vertex")
        .withColumn("step", lit(0)))
    val startRows = starts.distinct.size.toLong * numWalks // known, no probe job
    val (positions, _) = Loop.run((Vector(start), startRows), walkLength) {
      case ((positions, frontierRows), _) =>
        if (frontierRows == 0L) None
        else {
          val chosen = positions.last
            .join(tot, col("vertex") === col("d_src"))
            .select(col("walk_id"), col("vertex"), col("step"),
              pmod(hash.seeded(seed,
                concat(col("walk_id").cast("string"), lit(":"), col("step").cast("string"))),
                col("total")).as("crank"))
          // lazy checkpoint + count: one fused pass per step (see shortestPaths)
          val next =
            chosen.join(adj,
                col("vertex") === col("a_src") &&
                  col("crank") >= col("cum_lo") && col("crank") < col("cum_hi"))
              .select(col("walk_id"), col("a_dst").as("vertex"), (col("step") + 1).as("step"))
              .localCheckpoint(false)
          Some((positions :+ next, next.count()))
        }
    }.state
    positions.reduce(_ union _).select(col("walk_id"), col("step"), col("vertex"))
  }

  /** Weighted single-source-set shortest paths (non-negative integer
    * weights) — the Bellman-Ford counterpart of [[shortestPaths]] for
    * cost-weighted graphs (latency-weighted link graphs, edit-cost
    * lattices). Returns `(idCol, cost)` for every vertex reachable from
    * the source set at total cost ≤ `maxCost`; a vertex's cost is the
    * minimum over paths from ANY source, parallel edges collapse to their
    * minimum weight, edges are undirected, self-loops dropped. Weights
    * must be ≥ 0 (checked with one scalar aggregate up front — wrong
    * answers beat a scan ONLY until the first negative weight).
    *
    * Scale shape — [[relaxDistances]] with a weight column: per round ONE
    * equi-join of the (slim, persisted) edge list against the improvement
    * wavefront, a min-merge groupBy, and a min-merge against the settled
    * table; every frame is long rows, spillable, AQE-planned. Rounds are
    * bounded by the longest shortest-path EDGE COUNT (≤ maxIter,
    * warning-capped like the CC-DF family); the cost cap prunes
    * candidates map-side so state never exceeds the ≤-maxCost ball.
    */
  def weightedDistances(
      spark: SparkSession,
      edges: DataFrame,
      sources: Seq[Long],
      weightCol: String = "weight",
      idCol: String = "id",
      maxCost: Long = 1000000L,
      maxIter: Int = 50
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(sources.nonEmpty, "sources must be non-empty")
    require(maxCost >= 0, s"maxCost must be >= 0, got $maxCost")
    import spark.implicits._
    val canon = edges
      .select(col(EdgeColumns.Src).cast("long").as("s"), col(EdgeColumns.Dst).cast("long").as("d"),
        col(weightCol).cast("long").as("w"))
      .where(col("s") =!= col("d"))
      .groupBy(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .agg(min(col("w")).as("w"))
    val e = Loop.materialize(
      canon.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(canon.select(col("b").as("src"), col("a").as("dst"), col("w"))))
    val minW = e.agg(min(col("w"))).head
    require(minW.isNullAt(0) || minW.getLong(0) >= 0L,
      s"negative edge weight ${minW.get(0)} — weightedDistances requires non-negative weights")
    val settled0 = Loop.materialize(
      sources.distinct.toDF("vid").select(col("vid").cast("long").as("vid"), lit(0L).as("cost")))
    val res = Loop.run((settled0, settled0), maxIter, held = Seq(settled0)) {
      case ((settled, frontier), round) =>
        val cand = e.join(frontier.select(col("vid").as("src"), col("cost")), Seq("src"))
          .select(col("dst").as("vid"), (col("cost") + col("w")).as("cost"))
          .where(col("cost") <= maxCost)
          .groupBy("vid").agg(min(col("cost")).as("cost"))
        // lazy checkpoint + count: one fused pass per round (see shortestPaths)
        val improved =
          cand.join(settled.select(col("vid"), col("cost").as("_old")), Seq("vid"), "left")
            .where(col("_old").isNull || col("cost") < col("_old"))
            .select(col("vid"), col("cost"))
            .localCheckpoint(false)
        if (improved.count() == 0L) {
          Loop.release(improved)
          None
        } else {
          Some((round.cut(
            settled.join(improved.select(col("vid").as("_iv")),
                col("vid") === col("_iv"), "left_anti")
              .union(improved)), improved))
        }
    }
    if (!res.converged) {
      log.warn(
        s"weightedDistances stopped at maxIter=$maxIter before the fixed point; " +
          "returned costs are admissible upper bounds — raise maxIter for exactness")
    }
    val (settled, _) = res.state
    settled.select(col("vid").as(idCol), col("cost"))
  }

  /** Component labels `(vid, component)` for every vertex incident to an
    * edge — [[connectedComponentsDF]] without the vertex-universe join.
    * Callers whose vertex set IS the edge-endpoint set (dedup cluster
    * formation: every pair member is an endpoint by construction) use this
    * directly and save the distinct + join that re-derive a universe the
    * labels already cover; absent vertices are singletons (label = own id,
    * via coalesce at the call site).
    */
  def componentLabels(
      spark: SparkSession,
      edges: DataFrame,
      maxIter: Int = 50,
      localFinishEdges: Long = 200000L
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    val src = col("src"); val dst = col("dst")

    // large-star: every node u points each strictly-larger neighbor at the
    // minimum of its closed neighborhood m(u) = min({u} ∪ Γ(u)). The output
    // needs no self-loop filter or dedup: m ≤ u < v rules out loops, and
    // duplicate edges are absorbed by small-star's groupBy/distinct — one
    // less Exchange per round.
    def largeStar(e: DataFrame): DataFrame = {
      val sym  = e.union(e.select(dst.as("src"), src.as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(src, least(src, col("mn")).as("m"))
      sym.where(dst > src)
        .join(mins, "src")
        .select(dst.as("src"), col("m").as("dst"))
    }

    // small-star: orient edges large→small; every node points its smaller
    // neighbors (and itself) at its minimum smaller neighbor.
    def smallStar(e: DataFrame): DataFrame = {
      val t = e.select(greatest(src, dst).as("src"), least(src, dst).as("dst"))
      val mins = t.groupBy("src").agg(min("dst").as("m"))
      t.join(mins, "src")
        .select(dst.as("src"), col("m").as("dst"))
        .union(mins.select(src, col("m").as("dst")))
        .where(src =!= dst).distinct()
    }

    // (count, order-independent content hash): equal signatures ⇒ the edge
    // set reached the algorithm's fixed point (star forest). bit_xor is
    // commutative and cannot overflow (sum would, under ANSI mode).
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(src, dst))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // exact driver union-find over a BOUNDED edge list (min-id roots:
    // uniting two roots always keeps the smaller as parent, so find(v) is
    // the component minimum — the same contract as the star forest).
    def unionFind(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val ks = parent.keys.toArray // snapshot: find() path-compresses in place
      ks.map(v => (v, find(v))).toSeq
    }

    // lazy checkpoint: the signature scan persists every partition — fused
    var e = edges
      .select(col(EdgeColumns.Src).cast("long").as("src"), col(EdgeColumns.Dst).cast("long").as("dst"))
      .where(src =!= dst).distinct()
      .localCheckpoint(false)
    var sig  = signature(e)
    var iter = 0
    var done = sig._1 == 0L
    while (!done && iter < maxIter && sig._1 > localFinishEdges) {
      // lazy checkpoint: signature() is a full-scan aggregate, so it
      // computes and persists every partition — one fused job per round
      val next    = smallStar(largeStar(e)).localCheckpoint(false)
      val nextSig = signature(next)
      Loop.release(e)
      done = nextSig == sig
      sig = nextSig
      e = next
      iter += 1
    }

    val localFinish = !done && sig._1 > 0L && sig._1 <= localFinishEdges
    ccConvergedFlag.set(done || localFinish)
    if (!done && !localFinish && iter >= maxIter) {
      // A truncated run must be distinguishable from a converged one: the
      // best-effort labeling below is consistent but not guaranteed to be
      // the per-component minimum (ADVICE r6 #4).
      log.warn(
        s"connectedComponentsDF exited via maxIter=$maxIter without reaching the " +
          "fixed point — labels are a consistent best-effort assignment, not " +
          "guaranteed component minima; re-run with a larger maxIter")
    }

    val labels =
      if (localFinish) {
        // endgame: the remnant is at most localFinishEdges (long, long)
        // rows — a broadcast-sized collect, closed exactly on the driver.
        // Both rewrites preserve the vertex set of every non-singleton
        // component, so e's endpoints cover every vertex needing a label.
        import spark.implicits._
        unionFind(e.collect()).toDF("vid", "component")
      } else {
        // fixed point is a star forest: non-roots appear as src (pointing
        // at their root), roots only as dst. min() also closes the
        // not-quite-converged maxIter cutoff into a consistent best-effort
        // labeling.
        e.select(src.as("vid"), dst.as("component"))
          .union(e.select(dst.as("vid"), dst.as("component")))
          .groupBy("vid").agg(min("component").as("component"))
      }
    labels
  }

  /** Strongly connected components (GraphX twin): `(id, scc)` with `scc`
    * = the LOWEST vertex id in the component — GraphX's contract, shared
    * by [[sccDF]] (spec-pinned equal). Iterative vertex programs belong
    * in GraphX where vertex state is co-partitioned; the DF twin exists
    * for the spill-safe large-graph path.
    */
  def scc(spark: SparkSession, edges: DataFrame, numIter: Int = 20): DataFrame =
    graft.Caches.trackNewRdds(spark) {
      import spark.implicits._
      val eRdd: RDD[Edge[Unit]] = edges
        .select(col(EdgeColumns.Src).cast("long"), col(EdgeColumns.Dst).cast("long"))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
      val g = Graph.fromEdges(eRdd, ())
      org.apache.spark.graphx.lib.StronglyConnectedComponents.run(g, numIter)
        .vertices.toDF("id", "scc")
    }

  /** DataFrame strongly connected components — the forward-backward
    * COLORING algorithm as checkpointed DF loops, the directed
    * counterpart of [[componentLabels]]:
    *
    *   1. ''color'': propagate the MINIMUM reaching vertex id forward to
    *      a fixpoint — `color(v) = min(ancestors(v) ∪ {v})`. Every color
    *      value `c` that appears is its own color (`color(c) = c`): the
    *      pivots.
    *   2. ''mark'': within each color class, propagate backward from the
    *      pivot. A marked vertex reaches its pivot (backward edge walk)
    *      and is reached by it (same color) — mutual reachability, so
    *      the marked set IS the pivot's SCC; assign `scc = color`.
    *   3. remove assigned vertices and their incident edges; repeat. Each
    *      round closes at least one SCC per surviving color class, so
    *      rounds are bounded by the longest pivot chain, not |V|.
    *
    * Scale shape: both inner fixpoints are slim `(id, color/mark)` frames
    * joined against the directed edge list — one key shuffle per
    * iteration, checkpoint-truncated lineage every round (the q75/q155
    * cadence rules), nothing collected to the driver. Semantics identical
    * to [[scc]] (spec-pinned on random digraphs); isolated vertices and
    * self-loops label as their own singleton SCC.
    */
  def sccDF(
      spark: SparkSession,
      edges: DataFrame,
      maxRounds: Int = 25,
      maxIter: Int = 50
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    var rem = Loop.materialize(
      edges.select(
          col(EdgeColumns.Src).cast("long").as("src"),
          col(EdgeColumns.Dst).cast("long").as("dst"))
        .where(col("src") =!= col("dst")).distinct())
    var verts = Loop.materialize(
      edges.select(col(EdgeColumns.Src).cast("long").as("id"))
        .union(edges.select(col(EdgeColumns.Dst).cast("long").as("id")))
        .distinct())
    var assigned: List[DataFrame] = Nil
    var round = 0
    var remaining = verts.count()
    while (round < maxRounds && remaining > 0) {
      // 1. forward min-color fixpoint over the surviving subgraph.
      // Colors only DECREASE, so the exact decimal color sum is a
      // fixpoint signature — one cheap aggregate per iteration instead
      // of a change-detection join.
      def colorSum(c: DataFrame): java.math.BigDecimal =
        c.agg(sum(col("color").cast("decimal(38,0)"))).head.getDecimal(0)
      var colors = Loop.materialize(verts.select(col("id"), col("id").as("color")))
      var curSum = colorSum(colors)
      var stable = false
      var it = 0
      while (!stable && it < maxIter) {
        val pushed = rem
          .join(colors.select(col("id").as("src"), col("color")), Seq("src"))
          .select(col("dst").as("id"), col("color"))
        val next = Loop.materialize(
          colors.union(pushed).groupBy("id").agg(min("color").as("color")))
        val nextSum = colorSum(next)
        Loop.release(colors)
        colors = next
        stable = nextSum.compareTo(curSum) == 0
        curSum = nextSum
        it += 1
      }
      // 2. backward mark within the color class, from the pivots
      val colSrc = colors.select(col("id").as("src"), col("color").as("_cs"))
      val colDst = colors.select(col("id").as("dst"), col("color").as("_cd"))
      val sameColor = Loop.materialize(
        rem.join(colSrc, Seq("src")).join(colDst, Seq("dst"))
          .where(col("_cs") === col("_cd"))
          .select(col("src"), col("dst"), col("_cs").as("color")))
      var marked = Loop.materialize(
        colors.where(col("id") === col("color")).select(col("id"), col("color")))
      stable = false
      it = 0
      while (!stable && it < maxIter) {
        val pulled = sameColor
          .join(marked.select(col("id").as("dst"), col("color")), Seq("dst", "color"))
          .select(col("src").as("id"), col("color"))
        val next = Loop.materialize(marked.union(pulled).distinct())
        val grew = next.count() > marked.count()
        Loop.release(marked)
        marked = next
        stable = !grew
        it += 1
      }
      val done = Loop.materialize(marked.select(col("id"), col("color").as("scc")))
      assigned ::= done
      verts = Loop.materialize(verts.join(done, Seq("id"), "left_anti"))
      rem = Loop.materialize(
        rem.join(done.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(done.select(col("id").as("dst")), Seq("dst"), "left_anti"))
      Loop.release(sameColor)
      Loop.release(colors)
      remaining = verts.count()
      round += 1
    }
    if (remaining > 0) {
      // maxRounds backstop (the kCore discipline): close the remnant
      // best-effort as singletons rather than loop forever
      assigned ::= verts.select(col("id"), col("id").as("scc"))
    }
    assigned.reduce(_ unionByName _)
  }

  /** Full core decomposition — every vertex's core NUMBER (the largest k
    * whose k-core contains it), not just membership at one k
    * ([[kCore]]): the degeneracy profile that grades near-dup hubs,
    * community cores and crawl-frontier quality in one pass family.
    *
    * H-index iteration (Lü et al., "The H-index of a network node",
    * 2016): start at the degree, repeatedly replace each vertex's value
    * with the H-index of its neighbors' values — the largest h such that
    * ≥ h neighbors hold ≥ h. The sequence is monotone non-increasing and
    * its fixed point IS the core number, so convergence is detected by a
    * scalar sum (strictly decreasing until fixed — no change-detection
    * join). Per round: one edge⋈values join, one degree-bounded
    * per-vertex window for the H-index, one |V|-row merge — all
    * spillable shuffles in the [[pageRankDF]] family, lineage truncated
    * per round.
    */
  def coreNumbers(
      spark: SparkSession,
      edges: DataFrame,
      idCol: String = "id",
      maxIter: Int = 100
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    val e = Loop.undirected(edges)
    val c0 = Loop.materialize(
      e.groupBy("src").agg(count(lit(1)).as("c"))
        .select(col("src").as("vid"), col("c")))
    def sumOf(df: DataFrame): Long = {
      val row = df.agg(sum(col("c"))).head
      if (row.isNullAt(0)) 0L else row.getLong(0) // empty graph → no vertices
    }
    // state: (values, their sum, whether the last round changed them)
    val (c, _, changed) = Loop.run((c0, sumOf(c0), true), maxIter, held = Seq(c0)) {
      case ((_, _, false), _) => None
      case ((c, cSum, _), round) =>
        val nb = e.join(c.select(col("vid").as("dst"), col("c").as("_cv")), Seq("dst"))
          .select(col("src"), col("_cv"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("_cv").desc)
        val h = nb.withColumn("_rn", row_number().over(w).cast("long"))
          .groupBy(col("src"))
          .agg(max(least(col("_rn"), col("_cv"))).as("_h"))
        val next = round.cut(
          c.join(h.select(col("src").as("vid"), col("_h")), Seq("vid"))
            .select(col("vid"), least(col("c"), col("_h")).as("c")))
        val nextSum = sumOf(next)
        Some((next, nextSum, nextSum != cSum)) // monotone: equal sum ⟺ no change
    }.state
    if (changed) {
      log.warn(
        s"coreNumbers exited via maxIter=$maxIter before the H-index fixed point; " +
          "returned values are valid UPPER BOUNDS on core numbers — re-run with " +
          "a larger maxIter for exact values")
    }
    c.select(col("vid").as(idCol), col("c").as("core"))
  }

  /** k-truss decomposition membership: the maximal subgraph whose EVERY
    * edge closes at least `k − 2` triangles *within the subgraph* — the
    * edge-level analog of [[kCore]] and the standard "cohesive community
    * skeleton" filter (a k-truss is a subgraph of the (k−1)-core but far
    * stricter: it demands mutual neighbors, not just degree). Returns the
    * surviving canonical edges as `(src, dst, support)` with
    * `src < dst` and `support` their triangle count in the final truss.
    *
    * Peeling loop: per round, enumerate triangles with the
    * degree-oriented wedge closure (the [[triangleCountsDF]] discipline —
    * hubs point inward, Σd⁺² stays O(m^{3/2})), explode each triangle to
    * its three canonical edges, count per edge, drop edges under
    * `k − 2`, repeat until the edge count is stable (a scalar per
    * round). Deletions cascade exactly as the peeling semantics require;
    * every frame is a slim spillable shuffle, lineage truncated per
    * round.
    */
  def kTruss(
      spark: SparkSession,
      edges: DataFrame,
      k: Int,
      maxIter: Int = 100
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(k >= 2, s"k must be >= 2, got $k")
    def supportOf(e: DataFrame): DataFrame = {
      val bidir = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      val deg = bidir.groupBy(col("src")).agg(count(lit(1)).as("_d"))
      val keyed = bidir
        .join(deg.select(col("src"), col("_d").as("_ds")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("_d").as("_dd")), Seq("dst"))
      val o = keyed.where(col("_ds") < col("_dd") ||
          (col("_ds") === col("_dd") && col("src") < col("dst")))
        .select(col("src").as("u"), col("dst").as("v"),
          struct(col("_dd"), col("dst")).as("_kv"))
      val w1 = o.select(col("u"), col("v").as("x"), col("_kv").as("_kx"))
      val w2 = o.select(col("u"), col("v").as("y"), col("_kv").as("_ky"))
      val wedges = w1.join(w2, Seq("u")).where(col("_kx") < col("_ky"))
      val closer = o.select(col("u").as("x"), col("v").as("y"))
      val tri = wedges.join(closer, Seq("x", "y"))
        .select(col("u"), col("x"), col("y"))
      tri.select(explode(array(
          struct(least(col("u"), col("x")).as("a"), greatest(col("u"), col("x")).as("b")),
          struct(least(col("u"), col("y")).as("a"), greatest(col("u"), col("y")).as("b")),
          struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))))
          .as("_e"))
        .select(col("_e.a").as("a"), col("_e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    }
    val e0 = Loop.materialize(Loop.canonicalPairs(edges))
    val eCount0 = e0.count()
    val support0 = Loop.materialize(supportOf(e0))
    // state: (surviving edges, their count, their support)
    val res = Loop.run((e0, eCount0, support0), maxIter, held = Seq(e0, support0)) {
      case ((_, 0L, _), _) => None
      case ((e, eCount, support), round) =>
        // edges absent from the support frame close zero triangles
        val keep =
          if (k == 2) e
          else e.join(support.where(col("sup") >= k - 2).select(col("a"), col("b")),
            Seq("a", "b"), "left_semi")
        val keepM = round.cut(keep)
        val nc = keepM.count()
        if (nc == eCount) None
        else Some((keepM, nc, round.cut(supportOf(keepM))))
    }
    val (e, eCount, support) = res.state
    if (!res.converged && eCount > 0) {
      log.warn(
        s"kTruss exited via maxIter=$maxIter before the peeling fixed point; " +
          "the returned subgraph may still contain under-supported edges")
    }
    e.join(support, Seq("a", "b"), "left")
      .select(col("a").as(EdgeColumns.Src), col("b").as(EdgeColumns.Dst),
        coalesce(col("sup"), lit(0L)).as("support"))
  }

  /** Newman modularity of a vertex partition — the score that says
    * whether a community labeling ([[labelPropagation]], [[kCore]]-guided
    * cuts, external clusterings) actually beats random:
    * `Q = Σ_c [ e_c/m − (d_c/2m)² ]` over communities, with `e_c` the
    * intra-community edge count, `d_c` the community degree sum and `m`
    * the total undirected edge count. Returns one row
    * `(n_communities, m, modularity)`.
    *
    * Everything is exact integers until the per-community scalar
    * arithmetic (two divisions + one square in pinned order), and the
    * community contributions are decimal-cast before the sum — the usual
    * engine-portability discipline. Unlabeled endpoints count as their
    * own singleton communities (labels frame contract:
    * `(idCol, labelCol)`), keyed in a DISJOINT space — a
    * `(is_singleton, id-or-label)` struct — so a caller label space that
    * overlaps vertex ids (e.g. cluster ids 0..k−1) can never silently
    * absorb an unlabeled vertex into community 0..k−1. One join of the
    * canonical edge list against the label frame per endpoint + two
    * grouped aggregates.
    */
  def modularity(
      spark: SparkSession,
      edges: DataFrame,
      labels: DataFrame,
      idCol: String = "id",
      labelCol: String = "label",
      scale: Int = 6
  ): DataFrame = {
    val canon = Loop.canonicalPairs(edges)
    val lab = labels.select(col(idCol).cast("long").as("_v"), col(labelCol).cast("long").as("_l"))
    // singleton fallbacks get key (true, vertex-id), caller labels
    // (false, label) — structurally collision-free however the caller's
    // label space is numbered
    def commKey(l: Column, v: Column): Column =
      when(l.isNotNull, struct(lit(false).as("_sg"), l.as("_k")))
        .otherwise(struct(lit(true).as("_sg"), v.as("_k")))
    val e = graft.Caches.track(canon
      .join(lab.select(col("_v").as("a"), col("_l").as("_la")), Seq("a"), "left")
      .join(lab.select(col("_v").as("b"), col("_l").as("_lb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        commKey(col("_la"), col("a")).as("_la"),
        commKey(col("_lb"), col("b")).as("_lb")))
    val m = e.count()
    if (m == 0L) {
      import spark.implicits._
      return Seq((0L, 0L)).toDF("n_communities", "m")
        .withColumn("modularity", lit(null).cast("double"))
    }
    val intra = e.where(col("_la") === col("_lb"))
      .groupBy(col("_la").as("_c")).agg(count(lit(1)).as("_ec"))
    val degs = e.select(col("_la").as("_c")).union(e.select(col("_lb").as("_c")))
      .groupBy(col("_c")).agg(count(lit(1)).as("_dc"))
    degs.join(intra, Seq("_c"), "left")
      .withColumn("_ec", coalesce(col("_ec"), lit(0L)))
      .withColumn("_q",
        col("_ec").cast("double") / lit(m) -
          (col("_dc").cast("double") / lit(2L * m)) * (col("_dc").cast("double") / lit(2L * m)))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("_q").cast("decimal(38,12)")).as("_s"))
      .select(col("n_communities"), lit(m).as("m"),
        round(col("_s").cast("double"), scale).as("modularity"))
  }

  /** Densest-subgraph 2-approximation (Charikar's greedy peel in the
    * O(log n)-round distributed form of Bahmani et al., VLDB 2012): per
    * round, record the current density `|E|/|V|`, then remove EVERY
    * vertex whose degree is ≤ 2·density (the average degree) and repeat;
    * the best-density snapshot seen is within 2× of the true densest
    * subgraph. The "find the hottest community / boilerplate nucleus /
    * spam ring" extractor. Returns the snapshot's vertices as
    * `(idCol, density)` with the shared density value on every row
    * (one exact |E|,|V| pair → one division).
    *
    * Determinism: the removal rule is a pure degree threshold and
    * densities compare as exact cross-multiplied integers
    * (`2·E_new·V_best > 2·E_best·V_new`), so the snapshot — including
    * tie behavior (first best wins, which keeps the LARGEST subgraph at
    * equal density) — is partitioning- and engine-stable. Per round: a
    * degree aggregate, one scalar, two semi-joins — kCore's exact cost
    * profile.
    *
    * Round count: this peels at the ε=0 threshold (`deg·V ≤ 2E` exactly),
    * which keeps the snapshot within 2× but does NOT carry Bahmani's
    * O(log n) round bound — that bound needs the 2(1+ε)·density cut with
    * ε > 0 (each round then removes a constant fraction of vertices). In
    * practice the average-degree cut empties real graphs in a few dozen
    * rounds, but an adversarial degree sequence can exhaust `maxIter`; if
    * that happens the best snapshot SEEN is returned (still a valid lower
    * bound on the densest density, just without the 2-approx certificate)
    * and a warning is logged. Callers needing the certificate on hostile
    * inputs should raise `maxIter`.
    */
  def densestSubgraph(
      spark: SparkSession,
      edges: DataFrame,
      idCol: String = "id",
      maxIter: Int = 100
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    val e0 = Loop.undirected(edges)
    // state: (surviving edges, the best round's materialized vertex
    // snapshot with its edge and vertex counts)
    val res = Loop.run((e0, Option.empty[(DataFrame, Long, Long)]), maxIter, held = Seq(e0)) {
      case ((e, best), round) =>
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        val stats = deg.agg(count(lit(1)), sum(col("deg"))).head
        val nV = stats.getLong(0)
        val twoE = if (stats.isNullAt(1)) 0L else stats.getLong(1)
        if (nV == 0L) None
        else {
          // exact density compare, BigInt so E·V cannot overflow at any scale:
          // E/V > bestE/bestV ⟺ 2E·bestV > 2·bestE·V
          val better = best.forall { case (_, bestE, bestV) =>
            BigInt(twoE) * bestV > BigInt(2L) * bestE * nV
          }
          val nextBest =
            if (!better) best
            else {
              val snapshot = Loop.materialize(deg.select(col("src")))
              best.foreach { case (prev, _, _) => Loop.release(prev) }
              Some((snapshot, twoE / 2, nV)) // the bidirectional frame double-counts
            }
          // avg degree = 2E/V; remove deg ≤ avg, as exact integers: deg·V ≤ 2E
          // (decimal product — deg·V would graze long range on 10⁹-vertex graphs)
          val keep = deg.where(col("deg").cast("decimal(38,0)") * lit(nV) > lit(twoE))
            .select(col("src").as("_kv"))
          Some((round.cadence(e.join(keep.select(col("_kv").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("_kv").as("dst")), Seq("dst"), "left_semi")), nextBest))
        }
    }
    if (!res.converged) {
      log.warn(
        s"densestSubgraph: maxIter=$maxIter exhausted before the graph emptied — " +
          "returning the best snapshot seen (a valid density lower bound, but the " +
          "2-approximation certificate requires peeling to empty; raise maxIter)")
    }
    res.state._2 match {
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Double)].toDF(idCol, "density")
      case Some((best, bestE, bestV)) =>
        best.select(col("src").as(idCol),
          (lit(bestE).cast("double") / lit(bestV)).as("density"))
    }
  }

  /** Longest-path level per vertex in a DAG — topological layering: a
    * vertex with no in-edges sits at level 0, every other vertex at
    * `1 + max(level of its predecessors)`. The critical-path / stage-depth
    * query over dependency graphs (pipeline DAGs, derivation chains,
    * citation depth), and the scheduling complement of [[shortestPaths]]'s
    * min-relaxation.
    *
    * Max-relaxation DF loop in the [[relaxDistances]] family: per round,
    * only the rows whose level IMPROVED last round propagate — each
    * wavefront is one slim equi-join + max-aggregate + |V|-row merge, so a
    * round touches O(frontier out-edges), and the number of rounds is the
    * DAG's depth, not |V|. Lineage is truncated on the checkpoint cadence.
    *
    * Acyclicity is the caller's contract and is ENFORCED by the round
    * budget: in a cycle the level keeps climbing and the loop cannot reach
    * a fixed point, so exhausting `maxIter` with a non-empty frontier
    * throws `IllegalStateException` (a cycle, or a genuine path longer
    * than the budget) instead of returning wrong levels.
    */
  def dagLevels(
      spark: SparkSession,
      edges: DataFrame,
      idCol: String = "id",
      maxIter: Int = 100
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val e = Loop.materialize(
      edges.select(col(EdgeColumns.Src).cast("long").as("src"),
          col(EdgeColumns.Dst).cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    val verts = e.select(col("src").as("vid")).union(e.select(col("dst").as("vid"))).distinct()
    val levels0 = Loop.materialize(verts.withColumn("lvl", lit(0L)))
    val res = Loop.run((levels0, levels0), maxIter, held = Seq(levels0)) {
      case ((levels, frontier), round) =>
        val cand = e
          .join(frontier.select(col("vid").as("src"), col("lvl")), Seq("src"))
          .groupBy(col("dst").as("vid"))
          .agg(max(col("lvl") + 1).as("_c"))
        // lazy cut: the improvement count below scans (and thereby
        // persists) every partition, so materialize + probe fuse to one job
        val next = round.cut(
          levels.join(cand, Seq("vid"), "left")
            .select(col("vid"),
              greatest(col("lvl"), coalesce(col("_c"), lit(0L))).as("lvl"),
              (coalesce(col("_c"), lit(-1L)) > col("lvl")).as("_imp")),
          eager = false)
        if (next.where(col("_imp")).count() == 0L) None
        else Some((next.select(col("vid"), col("lvl")),
          next.where(col("_imp")).select(col("vid"), col("lvl"))))
    }
    if (!res.converged) {
      throw new IllegalStateException(
        s"dagLevels did not converge within maxIter=$maxIter rounds: the edge set " +
          "contains a cycle (levels would climb forever), or a genuine path exceeds " +
          "the budget — raise maxIter only if the input is provably acyclic")
    }
    val (levels, _) = res.state
    levels.select(col("vid").as(idCol), col("lvl").as("level"))
  }

  /** Directed-graph reciprocity summary: of the distinct non-loop edges,
    * how many have their reverse present? Returns one row
    * `(n_vertices, n_edges, n_reciprocal, reciprocity)` — the
    * "is this graph really directed?" probe (follower graphs ~0.5+,
    * citation DAGs ~0, the q182 parity construction in between), and the
    * precursor to choosing the undirected vs directed algorithm family.
    *
    * One self-join of the distinct edge list on the swapped key pair plus
    * two scalar aggregates; `reciprocity` is one exact-integer division.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = graft.Caches.track(
      edges.select(col(EdgeColumns.Src).cast("long").as("src"),
          col(EdgeColumns.Dst).cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("_r", lit(1))
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().agg(count(lit(1)).as("n_vertices"))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("_r").isNotNull, 1L).otherwise(0L)).as("n_reciprocal"))
      .crossJoin(verts)
      .select(col("n_vertices"), col("n_edges"), col("n_reciprocal"),
        round(col("n_reciprocal").cast("double") / col("n_edges"), 6).as("reciprocity"))
  }

  /** Harmonic closeness centrality, sampled (undirected, unweighted):
    * `H(v) = Σ_{t≠v} 1/d(v,t)` estimated from `numSources` hash-elected
    * pivots as `(|V|/k) · Σ_{pivots s≠v} 1/d(s,v)` (distances are
    * symmetric, so pivot-to-v distances estimate v's own sum; Boldi &
    * Vigna's preferred closeness variant — unreachable pairs contribute
    * 0 instead of poisoning the mean). `numSources ≥ |V|` degrades to
    * exact. The "who is CLOSE to everything" complement of
    * [[approxBetweenness]]'s "who do paths RUN THROUGH".
    *
    * Same scale shape and determinism as the betweenness forward phase:
    * one multi-source level-synchronous BFS (rounds = diameter, state =
    * O(numSources·|V|) rows), 1/d terms decimal(38,12)-cast before the
    * per-vertex sum, one double scale multiply, hash-deterministic
    * pivots. Returns `(idCol, n_reached, harmonic)` — `n_reached` is the
    * number of pivots that reach v (self excluded); vertices no pivot
    * reaches report 0/0.0.
    */
  def approxCloseness(
      spark: SparkSession,
      edges: DataFrame,
      numSources: Int,
      seed: Int = 42,
      idCol: String = "id",
      maxDist: Int = 50,
      scale: Int = 6
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(numSources >= 1, s"numSources must be >= 1, got $numSources")
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val e = Loop.undirected(edges)
    val verts = e.select(col("src").as("v")).distinct()
    val nV = verts.count() // bounded scalar
    if (nV == 0L) {
      import spark.implicits._
      Seq.empty[(Long, Long, Double)].toDF(idCol, "n_reached", "harmonic")
    } else {
      val pivots = Loop.materialize(
        verts.orderBy(graft.ops.Sampling.bucket(col("v"), seed, graft.ops.XxHash), col("v"))
          .limit(numSources).select(col("v").as("s")))
      val nS = pivots.count()
      val settled0 = Loop.materialize(pivots.select(col("s"), col("s").as("v"), lit(0).as("lvl")))
      val res = Loop.run((settled0, settled0), maxDist, held = Seq(settled0)) {
        case ((settled, frontier), round) =>
          // lazy checkpoint + count: one fused pass per level (see shortestPaths)
          val next =
            frontier.join(e, col("v") === col("src"))
              .select(col("s"), col("dst").as("v")).distinct()
              .join(settled.select(col("s"), col("v")), Seq("s", "v"), "left_anti")
              .withColumn("lvl", lit(round.n))
              .localCheckpoint(false)
          if (next.count() == 0L) { Loop.release(next); None }
          else Some((round.cadence(settled.union(next)), next))
      }
      if (!res.converged) {
        log.warn(s"approxCloseness: diameter exceeds maxDist=$maxDist from some pivot; " +
          "farther pairs contribute nothing — raise maxDist for exactness")
      }
      val (settled, _) = res.state
      val factor = nV.toDouble / nS
      settled.where(col("lvl") > 0)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n_reached"),
          sum((lit(1.0) / col("lvl")).cast("decimal(38,12)")).as("_h"))
        .join(verts, Seq("v"), "right")
        .select(col("v").as(idCol),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          round(coalesce(col("_h").cast("double"), lit(0.0)) * lit(factor), scale)
            .as("harmonic"))
    }
  }

  /** Betweenness centrality by multi-source Brandes (undirected,
    * unweighted), sampled: run the forward BFS + backward dependency
    * accumulation from `numSources` hash-elected pivot vertices AT ONCE
    * (frames keyed `(source, vertex)` — rounds are bounded by the
    * DIAMETER, not sources × diameter) and scale by `|V|/numSources`
    * (Bader et al.'s estimator; `numSources ≥ |V|` degrades to exact
    * Brandes). Forward: level-synchronous frontier carrying the
    * shortest-path COUNT σ (level-uniform, so a per-(source, vertex) sum
    * per round is exact). Backward: walk the levels top-down,
    * `δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ_w)`; betweenness is
    * `Σ_s δ_s(v) / 2` (each unordered pair counted once).
    *
    * Determinism: pivots are `bucket(id, seed)`-ordered (the sampler
    * discipline — a pure function of ids), σ is an exact decimal count,
    * each δ term is decimal(38,12)-cast before its per-vertex sum, and
    * the final scale/halving is one double multiply — partitioning
    * cannot move anything. The backward recursion is an exact
    * rearrangement of the pairwise σ_sv·σ_vt/σ_st sum (Brandes 2001), so
    * an engine computing THAT form agrees to well below the rounding.
    *
    * Scale shape: per forward round one equi-join frontier×edges + one
    * partial-agg + one anti-join against settled (shortestPaths' exact
    * cost, ×numSources rows); per backward LEVEL one three-way equi-join
    * of level slices. State is O(numSources · |V|) rows — the sampling
    * knob is precisely what bounds it at corpus scale. Vertices
    * unreachable from every pivot report 0 (left join), isolated
    * vertices don't appear (no edges, no centrality).
    */
  def approxBetweenness(
      spark: SparkSession,
      edges: DataFrame,
      numSources: Int,
      seed: Int = 42,
      idCol: String = "id",
      maxDist: Int = 50,
      scale: Int = 6
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(numSources >= 1, s"numSources must be >= 1, got $numSources")
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val e = Loop.undirected(edges)
    val verts = e.select(col("src").as("v")).distinct()
    val nV = verts.count() // bounded scalar (vertex count)
    if (nV == 0L) {
      import spark.implicits._
      Seq.empty[(Long, Double)].toDF(idCol, "bc")
    } else {
      val pivots = Loop.materialize(
        verts.orderBy(graft.ops.Sampling.bucket(col("v"), seed, graft.ops.XxHash), col("v"))
          .limit(numSources).select(col("v").as("s")))
      val nS = pivots.count() // = min(numSources, |V|), bounded scalar
      // forward: settled(s, v, lvl, sigma) — sigma exact decimal counts
      val settled0 = Loop.materialize(pivots.select(col("s"), col("s").as("v"),
        lit(0).as("lvl"), lit(1).cast("decimal(38,0)").as("sigma")))
      val forward = Loop.run((settled0, settled0), maxDist, held = Seq(settled0)) {
        case ((settled, frontier), round) =>
          // lazy checkpoint + count: one fused pass per level (see shortestPaths)
          val next =
            frontier.join(e, col("v") === col("src"))
              .groupBy(col("s"), col("dst").as("_w"))
              .agg(sum(col("sigma")).as("sigma"))
              .withColumnRenamed("_w", "v")
              .join(settled.select(col("s"), col("v")), Seq("s", "v"), "left_anti")
              .withColumn("lvl", lit(round.n))
              .select(col("s"), col("v"), col("lvl"), col("sigma"))
              .localCheckpoint(false)
          if (next.count() == 0L) { Loop.release(next); None }
          else Some((round.cadence(settled.union(next)), next))
      }
      if (!forward.converged) {
        log.warn(s"approxBetweenness: diameter exceeds maxDist=$maxDist from some pivot; " +
          "paths beyond that radius are not accumulated — raise maxDist")
      }
      val lvl = forward.rounds
      val settled = Loop.materialize(forward.state._1)
      forward.release() // the backward sweep reads only the final cut
      // backward: δ by descending level; every settled row gets a δ row
      var delta = settled.where(col("lvl") === lvl)
        .select(col("s"), col("v"), col("lvl"), col("sigma"), lit(0.0).as("delta"))
      var acc = delta
      var curLvl = lvl - 1
      while (curLvl >= 0) {
        val cur = settled.where(col("lvl") === curLvl)
        val succ = delta.select(col("s").as("_ss"), col("v").as("_w"),
          col("sigma").as("_sw"), col("delta").as("_dw"))
        val contrib = cur.join(e, col("v") === col("src"))
          .join(succ, col("s") === col("_ss") && col("dst") === col("_w"))
          .groupBy(col("s"), col("v"))
          .agg(sum(((col("sigma").cast("double") / col("_sw").cast("double"))
            * (lit(1.0) + col("_dw"))).cast("decimal(38,12)")).cast("double").as("_c"))
        delta = Loop.materialize(
          cur.join(contrib, Seq("s", "v"), "left")
            .select(col("s"), col("v"), col("lvl"), col("sigma"),
              coalesce(col("_c"), lit(0.0)).as("delta")))
        acc = acc.union(delta)
        curLvl -= 1
      }
      val factor = nV.toDouble / nS
      acc.where(col("v") =!= col("s"))
        .groupBy(col("v"))
        .agg(sum(col("delta").cast("decimal(38,12)")).as("_bc"))
        .join(verts, Seq("v"), "right")
        .select(col("v").as(idCol),
          round(coalesce(col("_bc").cast("double"), lit(0.0)) * lit(factor) / 2, scale)
            .as("bc"))
    }
  }

  /** Minimum spanning forest by distributed Borůvka: every component
    * elects its lightest incident inter-component edge, the elected edges
    * join the forest, and the hook graph over component ids is contracted
    * via [[componentLabels]] — components at least HALVE per round, so the
    * loop is `O(log |V|)` rounds regardless of data volume (the classic
    * MST recipe for bulk-synchronous engines; Kruskal's global edge sort
    * and Prim's sequential frontier both fight the execution model).
    *
    * Ties: edges are elected by the STRICT total order
    * `(weight, src, dst)` (struct-min is lexicographic), which is
    * Borůvka's distinct-weights precondition restored by perturbation —
    * the result is THE unique MSF of that order (and therefore *a* valid
    * MSF of `weight` alone), deterministic under any partitioning. An
    * engine testing the same order's cycle property — "an edge is in the
    * forest iff its endpoints are NOT connected by strictly smaller
    * edges" — derives the identical edge set, which is exactly how the
    * oracle checks this.
    *
    * Scale shape: per round two label equi-joins + one struct-min
    * aggregate (partial-agg combines map-side, so the shuffle carries at
    * most |components| candidate rows per partition) + the contraction's
    * star rounds on a frame that never exceeds |components| edges.
    * Parallel edges collapse to their min weight up front; self-loops
    * drop. Returns `(src, dst, weight)` with `src < dst`; an empty or
    * all-loop input yields an empty forest.
    */
  def minSpanningForest(
      spark: SparkSession,
      edges: DataFrame,
      weightCol: String = "weight",
      maxIter: Int = 30
  ): DataFrame = graft.Caches.trackNewRdds(spark) {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val canon = Loop.materialize(edges
      .select(col(EdgeColumns.Src).cast("long").as("s"),
        col(EdgeColumns.Dst).cast("long").as("d"), col(weightCol).as("w"))
      .where(col("s") =!= col("d") && col("w").isNotNull)
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w")))
    val emptyForest =
      canon.limit(0).select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))
    var labels = Loop.materialize(
      canon.select(col("a").as("v")).union(canon.select(col("b"))).distinct()
        .select(col("v"), col("v").as("c")))
    var forest: DataFrame = null
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val la = labels.select(col("v").as("a"), col("c").as("_ca"))
      val lb = labels.select(col("v").as("b"), col("c").as("_cb"))
      // lazy checkpoint + count: one fused pass per round (see shortestPaths)
      val xe = canon.join(la, "a").join(lb, "b")
        .where(col("_ca") =!= col("_cb"))
        .localCheckpoint(false)
      if (xe.count() == 0L) { Loop.release(xe); done = true }
      else {
        // each component's lightest incident edge in the (w, a, b) order;
        // the other endpoint's component rides along for the hook graph
        val cands = xe.select(col("_ca").as("_c"),
            struct(col("w"), col("a"), col("b"), col("_cb").as("_oc")).as("_cand"))
          .union(xe.select(col("_cb").as("_c"),
            struct(col("w"), col("a"), col("b"), col("_ca").as("_oc")).as("_cand")))
        val sel = Loop.materialize(cands.groupBy(col("_c")).agg(min(col("_cand")).as("_m"))
          .select(col("_c"), col("_m.w").as("w"), col("_m.a").as("a"),
            col("_m.b").as("b"), col("_m._oc").as("_oc")))
        // an edge elected from both sides appears once in the forest
        val newEdges = sel.select(col("a"), col("b"), col("w")).distinct()
        forest = Loop.materialize(if (forest == null) newEdges else forest.union(newEdges))
        val roots = componentLabels(spark,
          sel.select(col("_c").as(EdgeColumns.Src), col("_oc").as(EdgeColumns.Dst)))
        labels = Loop.materialize(labels.join(
            roots.select(col("vid").as("c"), col("component").as("_nc")), Seq("c"), "left")
          .select(col("v"), coalesce(col("_nc"), col("c")).as("c")))
        Loop.release(xe)
        iter += 1
      }
    }
    if (!done) {
      log.warn(s"minSpanningForest exited via maxIter=$maxIter with inter-component " +
        "edges remaining — the result is a valid partial forest, not spanning")
    }
    if (forest == null) emptyForest
    else forest.select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))
  }

  /** Rich-club coefficient over a degree grid — "do the hubs form their
    * own dense club?" For each threshold k,
    * `φ(k) = E_{>k} / (N_{>k}·(N_{>k}−1))` over the DIRECTED edge frame
    * (pass both orientations for an undirected graph: numerator and
    * denominator then both count ordered pairs, so φ ∈ [0,1] and the
    * undirected textbook value falls out exactly). Rising φ(k) with
    * assortative hubs is the "rich club" signature
    * ([[reciprocity]]/assortativity's structural cousin one level up).
    * Returns one row per k in `ks`: `(k, n_nodes, n_edges, phi)`;
    * φ NULL where the club has < 2 members.
    *
    * Exact integers end to end (degrees, club sizes, club edge counts);
    * one pinned division per row. Scale shape: one degree aggregation,
    * one |ks|-literal explode over the |nodes| frame and one over the
    * edge frame (|ks| is a handful — the fan-out is bounded), one
    * |ks|-row join. No window, no quadratic anything.
    */
  def richClub(edges: DataFrame, ks: Seq[Long], scale: Int = 6): DataFrame = {
    require(ks.nonEmpty, "richClub needs at least one degree threshold")
    val e = graft.Caches.track(
      edges.select(col(EdgeColumns.Src).cast("long").as("src"),
          col(EdgeColumns.Dst).cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    val deg = graft.Caches.track(
      e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg")))
    val kCol = explode(array(ks.map(lit): _*)).as("k")
    val clubN = deg.select(col("deg"), kCol)
      .where(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val withDegs = e
      .join(deg.select(col("v").as("src"), col("deg").as("_du")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("_dv")), Seq("dst"))
    val clubE = withDegs.select(col("_du"), col("_dv"), kCol)
      .where(col("_du") > col("k") && col("_dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    clubN.join(clubE, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        round(when(col("n_nodes") > 1,
          coalesce(col("n_edges"), lit(0L)).cast("double") /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double")), scale)
          .as("phi"))
  }
}
