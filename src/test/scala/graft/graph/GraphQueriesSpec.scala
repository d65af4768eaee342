package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.SimilaritySearch

class GraphQueriesSpec extends SparkSpec {

  private def edgeDf = {
    import spark.implicits._
    Seq((1L, 2L, 1), (2L, 3L, 1)).toDF("src", "dst", "propVal")
  }

  test("degrees and histogram over a bidirectional edge set") {
    val bidir = edgeDf.select(col("src"), col("dst"))
      .union(edgeDf.select(col("dst").as("src"), col("src").as("dst")))
    val deg = GraphQueries.degrees(bidir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    val hist = GraphQueries.degreeHistogram(bidir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(1L -> 2L, 2L -> 1L))
  }

  test("neighbors and two-hop") {
    val bidir = edgeDf.select(col("src"), col("dst"))
      .union(edgeDf.select(col("dst").as("src"), col("src").as("dst")))
    assert(GraphQueries.neighbors(bidir, 1L).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(GraphQueries.twoHop(bidir, 1L).collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  /** The three-scan two-hop formula twoHop replaced: hop1 ⋈ edges ∪ hop1. */
  private def twoHopReference(edges: org.apache.spark.sql.DataFrame, v: Long) = {
    val hop1 = GraphQueries.neighbors(edges, v)
    hop1.join(edges, hop1("neighbor") === edges("src"))
      .select(col("dst").as("neighbor"))
      .where(col("neighbor") =!= v)
      .union(hop1)
      .distinct()
  }

  private def fileScans(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .size
  }

  test("twoHop ≡ the three-scan formula: random graphs, self-loops, repeated edges, isolated start") {
    import spark.implicits._
    def ids(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(_.getLong(0)).toSeq
      assert(got.distinct.size == got.size, s"duplicates: $got")
      got.toSet
    }
    def check(what: String, pairs: Seq[(Long, Long)], labels: Int, starts: Seq[Long]): Unit = {
      // the same edge list under several labels, unioned as a store read is
      val edges = (1 to labels).map(_ => pairs.toDF("src", "dst")).reduce(_ union _)
      starts.foreach { v =>
        assert(ids(GraphQueries.twoHop(edges, v)) == ids(twoHopReference(edges, v)), s"$what, v=$v")
      }
    }
    (1 to 4).foreach { seed =>
      val rnd   = new scala.util.Random(seed)
      val pairs = Seq.fill(18)((rnd.nextInt(7).toLong, rnd.nextInt(7).toLong)) // loops and repeats
      check(s"seed $seed", pairs, labels = 1 + seed % 3, starts = 0L to 7L) // 7 has no edges
    }
    val hand = Seq(1L -> 1L, 1L -> 2L, 2L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 4L, 5L -> 1L)
    check("hand", hand, labels = 2, starts = Seq(1L, 2L, 4L, 5L, 9L))
    assert(ids(GraphQueries.twoHop(hand.toDF("src", "dst"), 4L)) == Set(4L)) // only neighbor is itself
    assert(ids(GraphQueries.twoHop(hand.toDF("src", "dst"), 1L)) == Set(1L, 2L, 3L)) // self-loop on v
    assert(ids(GraphQueries.twoHop(hand.toDF("src", "dst"), 5L)) == Set(1L, 2L)) // loop on a neighbor
    assert(ids(GraphQueries.twoHop(hand.toDF("src", "dst"), 9L)).isEmpty)
  }

  test("twoHop over a Parquet edge set scans it twice (the three-scan formula scanned it three times)") {
    import spark.implicits._
    val dir = tempDir("twohop-scans") + "/edges"
    Seq((1L, 2L), (2L, 3L), (2L, 1L), (3L, 4L)).toDF("src", "dst").write.parquet(dir)
    val edges = spark.read.parquet(dir)
    assert(fileScans(GraphQueries.twoHop(edges, 1L)) == 2)
    assert(fileScans(twoHopReference(edges, 1L)) == 3)
  }

  test("connected components: chain is one component, isolated vertex is its own") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    val cc = GraphQueries.connectedComponents(spark, vertices, edgeDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("pageRank: k-regular clique fixed point is 1.0; isolated vertex keeps resetProb") {
    import spark.implicits._
    // bidirectional triangle (2-regular) + isolated vertex 4
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val bidir = tri.union(tri.select(col("dst"), col("src")))
      .withColumn("propVal", org.apache.spark.sql.functions.lit(1))
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    // raw fixed point (1, 1, 1, 0.15) normalized by GraphX to sum to N=4:
    // connected = 4/3.15, isolated = 0.15*4/3.15
    val pr = GraphQueries.pageRank(spark, vertices, bidir)
      .collect().map(r => r.getLong(0) -> (math.rint(r.getDouble(1) * 1e6) / 1e6)).toMap
    assert(pr == Map(1L -> 1.269841, 2L -> 1.269841, 3L -> 1.269841, 4L -> 0.190476))
    // a hub (star center) must outrank its leaves — the non-regular case
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("src", "dst")
    val starBidir = star.union(star.select(col("dst"), col("src")))
      .withColumn("propVal", org.apache.spark.sql.functions.lit(1))
    val pr2 = GraphQueries.pageRank(spark, Seq(10L, 1L, 2L, 3L).toDF("id"), starBidir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr2(10L) > pr2(1L) && pr2(1L) == pr2(2L))
  }

  test("triangleCounts: clique of 4 gives 3 per vertex, path gives 0, isolated gives 0") {
    import spark.implicits._
    // clique {1,2,3,4} (one-way canonical edges), path 5-6-7, isolated 8
    val edges = (for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (a.toLong, b.toLong, 1)) ++ Seq((5L, 6L, 1), (6L, 7L, 1))
    val e = edges.toDF("src", "dst", "propVal")
    val v = (1L to 8L).toDF("id")
    val out = GraphQueries.triangleCounts(spark, v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 0L, 6L -> 0L, 7L -> 0L, 8L -> 0L), s"got $out")
    // a bidirectional edge table gives the same undirected answer
    val bidir = e.union(e.select(col("dst"), col("src"), col("propVal")))
    val out2 = GraphQueries.triangleCounts(spark, v, bidir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == out)
  }

  test("triangleCountsDF: clique/path/isolated and bidirectional input match triangleCounts") {
    import spark.implicits._
    val edges = (for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (a.toLong, b.toLong, 1)) ++ Seq((5L, 6L, 1), (6L, 7L, 1))
    val e = edges.toDF("src", "dst", "propVal")
    val v = (1L to 8L).toDF("id")
    val out = GraphQueries.triangleCountsDF(spark, v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 0L, 6L -> 0L, 7L -> 0L, 8L -> 0L), s"got $out")
    val bidir = e.union(e.select(col("dst"), col("src"), col("propVal")))
    val out2 = GraphQueries.triangleCountsDF(spark, v, bidir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == out)
  }

  test("triangleCountsDF: random graph (with a hub) agrees with GraphX exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val ids = (1L to 120L)
    // random edges + a high-degree hub (vertex 1 touches everything) — the
    // degree-orientation case that separates O(m^{3/2}) from the naive
    // id-ordered join
    val random = Seq.fill(400)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
    val hub    = ids.drop(1).map(i => (1L, i))
    val edges  = (random ++ hub).toDF("src", "dst").withColumn("propVal", lit(1))
    val v = ids.toDF("id")
    val viaDf = GraphQueries.triangleCountsDF(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaGx = GraphQueries.triangleCounts(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDf == viaGx)
  }

  test("linkPrediction: non-adjacent wedge pairs only, exact jaccard, hub cap") {
    import spark.implicits._
    // square 1-2-3-4 with diagonal 1-3: the only non-adjacent pair sharing
    // neighbors is (2,4) via {1,3}
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    val got = GraphQueries.linkPrediction(sq)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((2L, 4L, 2L, 1.0)))
    // star: all leaf pairs predicted via the hub; capping the hub's degree
    // out of the middle role removes every wedge
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(GraphQueries.linkPrediction(star).count() == 10)
    assert(GraphQueries.linkPrediction(star, maxDegree = 4L).count() == 0)
  }

  test("hits: matches a reference power iteration on a random directed graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).distinct
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    // reference: synchronous a = A^T h, h = A a, L2-normalized, same iters
    var h = Array.fill(ids.size)(1.0)
    var a = Array.fill(ids.size)(0.0)
    def norm(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) v.map(_ / n) else v
    }
    (1 to 30).foreach { _ =>
      val a2 = Array.fill(ids.size)(0.0)
      edges.foreach { case (s, d) => a2(idx(d)) += h(idx(s)) }
      a = norm(a2)
      val h2 = Array.fill(ids.size)(0.0)
      edges.foreach { case (s, d) => h2(idx(s)) += a(idx(d)) }
      h = norm(h2)
    }
    val got = GraphQueries.hits(spark, edges.toDF("src", "dst"), iters = 30)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.size == ids.size)
    ids.foreach { v =>
      assert(math.abs(got(v)._1 - h(idx(v))) < 1e-9, s"hub $v")
      assert(math.abs(got(v)._2 - a(idx(v))) < 1e-9, s"authority $v")
    }
    // norms are 1
    assert(math.abs(got.values.map(x => x._1 * x._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(x => x._2 * x._2).sum - 1.0) < 1e-9)
  }

  test("hits: warm start from own output ≡ cold continuation; grown graph converges") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .distinct.filter(e => e._1 != e._2)
    val e = edges.toDF("src", "dst")
    val cold28 = GraphQueries.hits(spark, e, iters = 28)
    val cold32 = GraphQueries.hits(spark, e, iters = 32)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // 28 and 32 are both cadence rounds, so warm(4) resumes from exactly
    // the state cold(32) had after round 28 — the tail rounds coincide
    val warm4 = GraphQueries.hits(spark, e, iters = 4, init = Some(cold28))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(warm4.keySet == cold32.keySet)
    warm4.foreach { case (id, (h, a)) =>
      assert(math.abs(h - cold32(id)._1) < 1e-9, s"hub $id")
      assert(math.abs(a - cold32(id)._2) < 1e-9, s"authority $id")
    }
    // vertices absent from init (grown graph) seed at 1.0 and the warm run
    // still lands on the grown graph's own fixed point
    val grown = (edges ++ Seq((40L, 1L), (1L, 40L), (40L, 2L))).toDF("src", "dst")
    val warmGrown = GraphQueries.hits(spark, grown, iters = 32, init = Some(cold28))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val coldGrown = GraphQueries.hits(spark, grown, iters = 32)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(warmGrown.keySet == coldGrown.keySet)
    warmGrown.foreach { case (id, (h, a)) =>
      assert(math.abs(h - coldGrown(id)._1) < 1e-4, s"grown hub $id")
      assert(math.abs(a - coldGrown(id)._2) < 1e-4, s"grown authority $id")
    }
    graft.Caches.clear()
  }

  test("pageRankDF personalized: warm start continues to the same fixed point") {
    import spark.implicits._
    val rng   = new scala.util.Random(11)
    val ids   = (1L to 60L)
    // bidirectional (dangling-free) so the personalized mass sum is
    // conserved at 1 and the normalized output IS the raw fixed point —
    // the exact-continuation contract (the standard warm spec's caveat);
    // dangling graphs resume approximately, per the pageRankDF scaladoc
    val pairs = Seq.fill(200)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
      .filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct
    val edges = pairs.toDF("src", "dst")
    val v     = ids.toDF("id")
    val src   = 7L
    val cold30df = GraphQueries.pageRankDF(spark, v, edges, numIter = 30,
      personalized = Some(src))
    val cold30 = cold30df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // a converged personalized vector re-entered as initRanks stays put:
    // the personalized contraction has the same unique fixed point
    val warm10 = GraphQueries.pageRankDF(spark, v, edges, numIter = 10,
        personalized = Some(src), initRanks = Some(cold30df))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(warm10.keySet == cold30.keySet)
    warm10.foreach { case (id, rank) =>
      assert(math.abs(rank - cold30(id)) < 1e-6, s"vertex $id: warm=$rank cold=${cold30(id)}")
    }
    assert(math.abs(warm10.values.sum - 1.0) < 1e-9)
    graft.Caches.clear()
  }

  test("clusteringCoefficient: hand-computed square-with-diagonal; degree<2 NULL") {
    import spark.implicits._
    // square 1-2-3-4 plus diagonal 1-3; pendant 5 off vertex 4; isolated 9
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (4L, 5L))
    val v = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val got = GraphQueries.clusteringCoefficient(spark, v, e.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // triangles: (1,2,3) and (1,3,4)
    assert(got(1L) == ((2L, 3L, Some(BigDecimal(2.0 * 2 / 6).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble))))   // 2/C(3,2)=2/3
    assert(got(2L) == ((1L, 2L, Some(1.0))))
    assert(got(3L) == ((2L, 3L, got(1L)._3)))
    assert(got(4L) == ((1L, 3L, Some(BigDecimal(1.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble))))
    assert(got(5L) == ((0L, 1L, None)))
    assert(got(9L) == ((0L, 0L, None)))
  }

  test("connectedComponentsDF: chain + isolated vertex matches the GraphX contract") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    val cc = GraphQueries.connectedComponentsDF(spark, vertices, edgeDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("connectedComponentsDF: long path converges (multi-round) and labels the min") {
    import spark.implicits._
    // a 60-node path is the alternating algorithm's slow case: forces
    // several large/small-star rounds before the star forest fixed point
    val n = 60L
    val path = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
      .withColumn("propVal", lit(1))
    val v  = (1L to n).toDF("id")
    // localFinishEdges = 0 forces the pure distributed loop (no endgame)
    val cc = GraphQueries.connectedComponentsDF(spark, v, path, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == n && cc.values.forall(_ == 1L), s"got ${cc.toSeq.sortBy(_._1).take(5)}...")
    assert(GraphQueries.lastConnectedComponentsConverged)
  }

  test("connectedComponentsDF: maxIter cutoff is exposed as non-convergence; fixed point reports converged") {
    import spark.implicits._
    // a 30-node path cannot reach the star-forest fixed point in one round
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
      .withColumn("propVal", lit(1))
    val v = (1L to 30L).toDF("id")
    val truncated = GraphQueries.connectedComponentsDF(
      spark, v, path, maxIter = 1, localFinishEdges = 0L)
    truncated.collect() // labeling is still total + internally consistent
    assert(!GraphQueries.lastConnectedComponentsConverged,
      "maxIter=1 on a long path must report non-convergence")

    GraphQueries.connectedComponentsDF(spark, v, path, localFinishEdges = 0L).collect()
    assert(GraphQueries.lastConnectedComponentsConverged,
      "unbounded pure-loop run on the same graph must report convergence")

    // the default (local-finish endgame) path is exact, so it converges
    // even under a maxIter that would truncate the pure loop
    val finished = GraphQueries.connectedComponentsDF(spark, v, path, maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(GraphQueries.lastConnectedComponentsConverged,
      "local-finish endgame must report convergence")
    assert(finished.values.forall(_ == 1L), s"endgame labels wrong: ${finished.take(5)}")
  }

  test("connectedComponentsDF: mid-loop local finish (cliques collapse under threshold) is exact") {
    import spark.implicits._
    // 3 cliques of 10 → 135 edges up front; one star round collapses each
    // to 9 edges (27 total), crossing a threshold of 50 mid-loop
    val cliques = for {
      c <- 0 until 3; i <- 0 until 10; j <- (i + 1) until 10
    } yield (c * 100L + i, c * 100L + j)
    val edges = cliques.toDF("src", "dst").withColumn("propVal", lit(1))
    val v = cliques.flatMap(e => Seq(e._1, e._2)).distinct.toDF("id")
    val cc = GraphQueries.connectedComponentsDF(spark, v, edges, localFinishEdges = 50L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(GraphQueries.lastConnectedComponentsConverged)
    assert(cc.size == 30 && cc.forall { case (id, comp) => comp == (id / 100L) * 100L },
      s"got ${cc.toSeq.sortBy(_._1).take(6)}")
  }

  test("connectedComponentsDF: random graph agrees with GraphX exactly; empty edges = all singletons") {
    import spark.implicits._
    val rng   = new scala.util.Random(42)
    val ids   = (1L to 200L)
    val edges = Seq.fill(150)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
      .toDF("src", "dst").withColumn("propVal", lit(1))
    val v = ids.toDF("id")
    val viaDf = GraphQueries.connectedComponentsDF(spark, v, edges, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaGx = GraphQueries.connectedComponents(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDf == viaGx)
    val viaEndgame = GraphQueries.connectedComponentsDF(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaEndgame == viaGx)

    val none = GraphQueries.connectedComponentsDF(spark, v, edges.limit(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none == ids.map(i => i -> i).toMap)
  }

  test("pageRankDF: random graph agrees with GraphX staticPageRank to rounding") {
    import spark.implicits._
    val rng   = new scala.util.Random(7)
    val ids   = (1L to 100L)
    val edges = Seq.fill(300)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
      .filter(p => p._1 != p._2)
      .toDF("src", "dst")
    val v = ids.toDF("id")
    val viaDf = GraphQueries.pageRankDF(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaGx = GraphQueries.pageRank(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaDf.keySet === viaGx.keySet)
    viaDf.foreach { case (id, rank) =>
      assert(math.abs(rank - viaGx(id)) < 1e-6, s"vertex $id: df=$rank gx=${viaGx(id)}")
    }
    // ranks normalize to sum to |V|, like GraphX
    assert(math.abs(viaDf.values.sum - ids.size) < 1e-6)
  }

  test("bipartiteProject: shared counts, canonical order, duplicate links collapse, maxDegree cap") {
    import spark.implicits._
    // suppliers 1,2,3 over parts 10..13; part 13 is a hub shared by all
    val e = Seq(
      (1L, 10L), (1L, 11L), (1L, 13L), (1L, 13L), // dup link collapses
      (2L, 10L), (2L, 11L), (2L, 13L),
      (3L, 12L), (3L, 13L)
    ).toDF("src", "dst")
    val all = GraphQueries.bipartiteProject(e)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(all == Map((1L, 2L) -> 3L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
    // minShared prunes weak pairs
    val strong = GraphQueries.bipartiteProject(e, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(strong == Map((1L, 2L) -> 3L))
    // capping out the hub part (degree 3 > 2) removes its contributions
    val capped = GraphQueries.bipartiteProject(e, maxDegree = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((1L, 2L) -> 2L))
  }

  test("pageRankDF personalized: agrees with GraphX staticPersonalizedPageRank; sums to 1") {
    import spark.implicits._
    import org.apache.spark.graphx.{Edge, Graph}
    val rng   = new scala.util.Random(11)
    val ids   = (1L to 60L)
    val pairs = Seq.fill(200)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
      .filter(p => p._1 != p._2)
    val edges = pairs.toDF("src", "dst")
    val v     = ids.toDF("id")
    val src   = 7L
    val viaDf = GraphQueries.pageRankDF(spark, v, edges, personalized = Some(src))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val g = Graph(
      spark.sparkContext.parallelize(ids.map(i => (i, ()))),
      spark.sparkContext.parallelize(pairs.map(p => Edge(p._1, p._2, ()))))
    val viaGx = g.staticPersonalizedPageRank(src, numIter = 20)
      .vertices.collect().toMap
    assert(viaDf.keySet == viaGx.keySet.map(_.toLong))
    viaDf.foreach { case (id, rank) =>
      assert(math.abs(rank - viaGx(id)) < 1e-6, s"vertex $id: df=$rank gx=${viaGx(id)}")
    }
    assert(math.abs(viaDf.values.sum - 1.0) < 1e-9)
    // mass concentrates near the source: the source outranks the median vertex
    val ranks = viaDf.values.toSeq.sorted
    assert(viaDf(src) > ranks(ranks.size / 2))
  }

  test("pageRankDF: warm start from the normalized output is exact continuation (dangling-free graph)") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val ids = (1L to 80L)
    // bidirectional random graph over its own endpoints: every vertex has
    // an out-edge, so rank mass is conserved and normalization is identity
    val oneWay = Seq.fill(200)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
      .filter(p => p._1 != p._2)
    val edges = (oneWay ++ oneWay.map(_.swap)).toDF("src", "dst")
    val v = edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct()

    val cold20 = GraphQueries.pageRankDF(spark, v, edges, numIter = 20)
    val cold25 = GraphQueries.pageRankDF(spark, v, edges, numIter = 25)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val warm5 = GraphQueries.pageRankDF(spark, v, edges, numIter = 5, initRanks = Some(cold20))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(warm5.keySet == cold25.keySet)
    warm5.foreach { case (id, rank) =>
      assert(math.abs(rank - cold25(id)) < 1e-9, s"vertex $id: warm=$rank cold=${cold25(id)}")
    }
    // a vertex absent from initRanks (graph grew) starts at 1.0 and still converges
    val grown = edges.union(Seq((81L, 1L), (1L, 81L)).toDF("src", "dst"))
    val vg = grown.select(col("src").as("id")).union(grown.select(col("dst").as("id"))).distinct()
    val warmGrown = GraphQueries.pageRankDF(spark, vg, grown, numIter = 30, initRanks = Some(cold20))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val coldGrown = GraphQueries.pageRankDF(spark, vg, grown, numIter = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    warmGrown.foreach { case (id, rank) =>
      assert(math.abs(rank - coldGrown(id)) < 1e-4,
        s"vertex $id after growth: warm=$rank cold=${coldGrown(id)}")
    }
  }

  test("pageRankDF: edge endpoints absent from vertices and duplicate ids match GraphX") {
    import spark.implicits._
    // vertices list only 1..5 (with 3 duplicated); edges reach 6..8, which
    // GraphX materializes into the graph — they receive/contribute mass and
    // count in the |V| normalization. The DF twin must agree on both.
    val v = Seq(1L, 2L, 3L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 6L), (6L, 2L), (2L, 7L), (7L, 8L), (8L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val viaDf = GraphQueries.pageRankDF(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaGx = GraphQueries.pageRank(spark, v, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaDf.keySet === viaGx.keySet)
    assert(viaDf.keySet === (1L to 8L).toSet)
    viaDf.foreach { case (id, rank) =>
      assert(math.abs(rank - viaGx(id)) < 1e-6, s"vertex $id: df=$rank gx=${viaGx(id)}")
    }
  }

  test("dagLevels: diamond DAG takes the LONGEST path; multiple roots; duplicates ignored") {
    import spark.implicits._
    // 1 → 2 → 3 → 4 and the shortcut 1 → 4: level(4) must be 3, not 2;
    // 10 → 3 is a second root feeding mid-DAG
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 4L), (10L, 3L))
      .toDF("src", "dst")
    val got = GraphQueries.dagLevels(spark, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 10L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    graft.Caches.clear()
  }

  test("dagLevels: a cycle fails loudly instead of returning wrong levels") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      GraphQueries.dagLevels(spark, e, maxIter = 10)
    }
    assert(ex.getMessage.contains("cycle"))
    graft.Caches.clear()
  }

  test("dagLevels: deep chain converges in depth rounds; self-loops dropped") {
    import spark.implicits._
    val chain = (1L until 30L).map(i => (i, i + 1)) :+ ((5L, 5L))
    val got = GraphQueries.dagLevels(spark, chain.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 30L).map(i => i -> (i - 1)).toMap)
    graft.Caches.clear()
  }

  test("decomposition ops tolerate an empty edge set (the sparse-SF contract)") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphQueries.coreNumbers(spark, none).count() == 0L)
    assert(GraphQueries.kTruss(spark, none, k = 3).count() == 0L)
    assert(GraphQueries.dagLevels(spark, none).count() == 0L)
    graft.Caches.clear()
  }

  test("coreNumbers: triangle+tail and star hand cases") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), // triangle, tail at 4
      (5L, 6L), (5L, 7L), (5L, 8L))                      // star
      .toDF("src", "dst")
    val got = GraphQueries.coreNumbers(spark, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L,
      5L -> 1L, 6L -> 1L, 7L -> 1L, 8L -> 1L))
    graft.Caches.clear()
  }

  test("coreNumbers ≡ iterated kCore membership on a pseudorandom graph") {
    import spark.implicits._
    val e = (1 to 300).map { i =>
      (((i * 7919) % 40).toLong, ((i * 104729) % 40).toLong)
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    val core = GraphQueries.coreNumbers(spark, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- 1 to 4) {
      val members = GraphQueries.kCore(spark, e, k = k)
        .collect().map(_.getLong(0)).toSet
      val expect = core.filter(_._2 >= k).keySet
      assert(members == expect, s"k=$k: kCore=$members vs core-numbers=$expect")
    }
    graft.Caches.clear()
  }

  test("modularity: two triangles → 0.5 with the right labels; one blob → 0; worse split scores lower") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("src", "dst")
    def labels(m: Map[Long, Long]) = m.toSeq.toDF("id", "label")
    val perfect = GraphQueries.modularity(spark, e,
      labels(Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))).head
    assert(perfect.getLong(0) == 2L && perfect.getLong(1) == 6L && perfect.getDouble(2) == 0.5)
    val blob = GraphQueries.modularity(spark, e,
      labels((1L to 6L).map(_ -> 1L).toMap)).head
    assert(blob.getDouble(2) == 0.0)
    val worse = GraphQueries.modularity(spark, e,
      labels(Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))).head
    assert(worse.getDouble(2) < 0.5)
    // unlabeled endpoints default to singleton communities
    val partial = GraphQueries.modularity(spark, e,
      labels(Map(1L -> 1L, 2L -> 1L, 3L -> 1L))).head
    assert(partial.getLong(0) == 4L)
    // singleton keys live in a disjoint space: labeling ONLY vertex 4 with
    // label 5 must NOT merge it with unlabeled vertex 5's singleton —
    // 6 communities ({4:lab5} + five singletons), not 5
    val collide = GraphQueries.modularity(spark, e, labels(Map(4L -> 5L))).head
    assert(collide.getLong(0) == 6L)
    graft.Caches.clear()
  }

  test("densestSubgraph: largest clique beats smaller ones; equal maxima both kept; star snapshot") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b } yield (a, b)
    // K5 (density 2.0) vs K3 (density 1.0): the peel lands on K5 alone
    val e1 = (clique(1L to 5L) ++ clique(Seq(10L, 11L, 12L))).toDF("src", "dst")
    val g1 = GraphQueries.densestSubgraph(spark, e1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g1.keySet == (1L to 5L).toSet && g1.values.forall(_ == 2.0))
    // two equal K4s: both survive to the best round
    val e2 = (clique(1L to 4L) ++ clique(21L to 24L)).toDF("src", "dst")
    val g2 = GraphQueries.densestSubgraph(spark, e2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g2.keySet == ((1L to 4L) ++ (21L to 24L)).toSet && g2.values.forall(_ == 1.5))
    // star S5: whole star is the densest snapshot (5 edges / 6 vertices)
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val g3 = GraphQueries.densestSubgraph(spark, star)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g3.keySet == (0L to 5L).toSet && g3.values.forall(_ == 5.0 / 6.0))
    // empty graph → empty result, no throw
    assert(GraphQueries.densestSubgraph(spark,
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
    graft.Caches.clear()
  }

  test("kTruss: K4 survives at k=4, pendant triangle peels; k=3 keeps both; k=2 keeps all") {
    import spark.implicits._
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val e = (k4 ++ Seq((4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L))).toDF("src", "dst")
    val t4 = GraphQueries.kTruss(spark, e, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t4.keySet == k4.toSet)
    assert(t4.values.forall(_ == 2L)) // every K4 edge closes 2 triangles
    val t3 = GraphQueries.kTruss(spark, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3 == k4.toSet ++ Set((4L, 5L), (5L, 6L), (4L, 6L))) // pendant edge 6-7 out
    val t2 = GraphQueries.kTruss(spark, e, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t2.size == e.distinct.count())
    graft.Caches.clear()
  }

  test("kTruss: deletions cascade — a diamond empties at k=4") {
    import spark.implicits._
    // K4 minus edge (1,2): (3,4) has support 2, the rest 1 — dropping the
    // rest leaves (3,4) with 0, which must then drop too
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    assert(GraphQueries.kTruss(spark, e, k = 4).count() == 0L)
    graft.Caches.clear()
  }

  test("reciprocity: hand-built graph; loops dropped, duplicates collapsed") {
    import spark.implicits._
    // distinct non-loop edges: 1→2, 2→1 (reciprocal pair), 2→3, 3→4
    val e = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (7L, 7L))
      .toDF("src", "dst")
    val r = GraphQueries.reciprocity(e).collect().head
    assert(r.getLong(0) == 4L) // vertices 1,2,3,4 (7 only had a loop)
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 0.5)
    graft.Caches.clear()
  }

  test("approxCloseness: path/star closed forms at full pivots, unreachable contribute 0") {
    import spark.implicits._
    def hc(edges: Seq[(Long, Long)], k: Int) =
      GraphQueries.approxCloseness(spark, edges.toDF("src", "dst"), numSources = k)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // path 1-2-3-4: H(1) = 1 + 1/2 + 1/3; H(2) = 1 + 1 + 1/2
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val p = hc(path, 4)
    assert(p(1L) == ((3L, r6(1.0 + 0.5 + 1.0 / 3))) && p(4L) == p(1L))
    assert(p(2L) == ((3L, 2.5)) && p(3L) == ((3L, 2.5)))
    // star: center sees 4 at d=1; each leaf 1 + 3/2
    val star = (1L to 4L).map(i => (0L, i))
    val s = hc(star, 5)
    assert(s(0L) == ((4L, 4.0)) && s(1L) == ((4L, 2.5)))
    // disconnected pair: cross-component pairs add nothing
    val two = path ++ Seq((10L, 11L))
    val d = hc(two, 6)
    assert(d(10L) == ((1L, 1.0)) && d(2L) == ((3L, 2.5)))
    // sampled estimate deterministic under repartition, nonnegative
    val est = GraphQueries.approxCloseness(spark, path.toDF("src", "dst"), numSources = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val est2 = GraphQueries.approxCloseness(
      spark, path.toDF("src", "dst").repartition(5), numSources = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(est == est2 && est.values.forall(_ >= 0.0))
    graft.Caches.clear()
  }

  test("approxBetweenness: path/star/cycle closed forms at full pivots, disconnected zeros") {
    import spark.implicits._
    def bc(edges: Seq[(Long, Long)], k: Int) =
      GraphQueries.approxBetweenness(spark, edges.toDF("src", "dst"), numSources = k)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // path 1-2-3-4: pairs (1,3),(1,4) pass 2; (1,4),(2,4) pass 3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(bc(path, 4) == Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0))
    // star: every leaf pair routes through the hub — C(4,2) = 6
    val star = (1L to 4L).map(i => (0L, i))
    assert(bc(star, 5) == Map(0L -> 6.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0))
    // 4-cycle: each opposite pair has TWO shortest paths (σ splits 1/2 each way)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(bc(cycle, 4) == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5, 4L -> 0.5))
    // disconnected components never contribute cross-pairs
    val two = path ++ Seq((10L, 11L))
    val d = bc(two, 6)
    assert(d(2L) == 2.0 && d(10L) == 0.0 && d(11L) == 0.0)
    // sampled pivots scale by |V|/k and stay deterministic under repartition
    val est = GraphQueries.approxBetweenness(spark, path.toDF("src", "dst"), numSources = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val est2 = GraphQueries.approxBetweenness(
      spark, path.toDF("src", "dst").repartition(7), numSources = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(est == est2 && est.values.forall(_ >= 0.0))
    graft.Caches.clear()
  }

  test("minSpanningForest: closed forms — tie-break order, parallel/self edges, forest") {
    import spark.implicits._
    def msf(edges: Seq[(Long, Long, Long)]) =
      GraphQueries.minSpanningForest(spark, edges.toDF("src", "dst", "weight"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // triangle + pendant: the heaviest triangle edge is the one cut
    val tri = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 3L), (3L, 4L, 5L))
    assert(msf(tri) == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 5L)))
    // all weights equal: the (w, a, b) order keeps (1,2),(1,3), drops (2,3)
    val tie = Seq((1L, 2L, 7L), (1L, 3L, 7L), (2L, 3L, 7L))
    assert(msf(tie) == Set((1L, 2L, 7L), (1L, 3L, 7L)))
    // parallel edges collapse to their min weight; self-loops drop
    val par = Seq((1L, 2L, 9L), (2L, 1L, 4L), (2L, 2L, 1L), (2L, 3L, 6L))
    assert(msf(par) == Set((1L, 2L, 4L), (2L, 3L, 6L)))
    // disconnected input: a forest, one tree per component
    val disc = Seq((1L, 2L, 1L), (10L, 11L, 2L), (11L, 12L, 3L), (10L, 12L, 9L))
    assert(msf(disc) == Set((1L, 2L, 1L), (10L, 11L, 2L), (11L, 12L, 3L)))
    graft.Caches.clear()
  }

  test("minSpanningForest: random graphs match driver Kruskal under the same total order") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 12 + rng.nextInt(8)
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n
        if rng.nextDouble() < 0.35
      } yield (a.toLong, b.toLong, (1 + rng.nextInt(12)).toLong)
      val got = GraphQueries.minSpanningForest(spark, edges.toDF("src", "dst", "weight"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // Kruskal under the identical (w, a, b) perturbed order — both
      // algorithms must land on THE unique MSF of that order
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
      }
      val exp = scala.collection.mutable.Set[(Long, Long, Long)]()
      edges.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(ra) = rb; exp += ((a, b, w)) }
      }
      assert(got == exp.toSet, s"trial $trial: got ${got.size}, expected ${exp.size}")
      graft.Caches.clear()
    }
  }
}

class IvfSpec extends SparkSpec {

  test("ANN recall@10 on real embeddings: multi-probe beats single-probe; IVF recalls most") {
    val dir = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q   = graft.SparkEntry.benchQueryVec
    val truth = SimilaritySearch.bruteForceTopK(emb, q, k = 10).collect().map(_.getLong(0)).toSet

    val lsh = SimilaritySearch.RandomHyperplaneLsh(bits = 4, dim = 64)
    val idx = lsh.index(emb).cache()
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(_.getLong(0)).count(truth) / 10.0
    val r1 = recall(lsh.query(idx, q, k = 10, probes = 1))
    val r5 = recall(lsh.query(idx, q, k = 10, probes = 5))
    assert(r5 >= r1, s"multi-probe recall $r5 < single-probe $r1")

    val ivf = SimilaritySearch.IvfIndex(k = 8, nprobe = 4)
    val (indexed, centroids) = ivf.index(emb)
    val rIvf = recall(ivf.query(indexed, centroids, q, topK = 10))
    assert(rIvf >= 0.5, s"IVF recall@10 too low: $rIvf")
    idx.unpersist()
  }

  test("IVF query scores agree with brute force; candidates restricted to cells") {
    import spark.implicits._
    val rng  = new scala.util.Random(5)
    val rows = Seq.tabulate(300)(i => (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val df   = rows.toDF("vec_id", "embedding")
    val q    = Seq.fill(8)(rng.nextDouble() * 2 - 1)

    val ivf = SimilaritySearch.IvfIndex(k = 4, nprobe = 2)
    val (indexed, centroids) = ivf.index(df)
    assert(centroids.length == 4)
    assert(indexed.select(countDistinct(col("cell"))).head().getLong(0) == 4)

    val got = ivf.query(indexed, centroids, q, topK = 5).collect()
    assert(got.nonEmpty && got.length <= 5)
    val brute = SimilaritySearch.bruteForceTopK(df, q, k = 300).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach(r => assert(r.getDouble(1) == brute(r.getLong(0))))
  }

  test("richClub: triangle + pendant — the hub club is fully dense; singleton club is NULL") {
    import spark.implicits._
    // triangle 1-2-3 (deg 2,2,3 with pendant 4-1): at k=1 the club is
    // {1,2,3} with all 6 ordered edges present → φ = 1; at k=2 only
    // node 1 qualifies → NULL
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = GraphQueries.richClub(edges, ks = Seq(1L, 2L))
      .collect().map(r => r.getLong(0) -> r).toMap
    val k1 = got(1L)
    assert(k1.getLong(1) == 3L && k1.getLong(2) == 6L && k1.getDouble(3) == 1.0)
    val k2 = got(2L)
    assert(k2.getLong(1) == 1L && k2.getLong(2) == 0L && k2.isNullAt(3))
    graft.Caches.clear()
  }

}
