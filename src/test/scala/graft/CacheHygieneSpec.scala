package graft

import org.apache.spark.sql.functions._

import graft.graph.GraphQueries
import graft.ops.{EventAnalytics, Sampling, TextAnalysis}

/** Session cache hygiene: every iterative / GraphX op must leave NOTHING in
  * the block manager once its result is consumed and `Caches.clear()` runs —
  * the long-lived-session (GraftShell) contract. Loop checkpoints
  * (`localCheckpoint` pins its final frame) and GraphX's internally-cached
  * graph RDDs are the two leak classes; both are caught by the
  * `getPersistentRDDs` delta that [[Caches.trackNewRdds]] registers.
  */
class CacheHygieneSpec extends SparkSpec {

  private def edges = {
    import spark.implicits._
    // two triangles bridged by an edge + a pendant — enough structure for
    // every op to iterate at least once
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L), (6L, 7L))
      .toDF("src", "dst")
  }
  private def vertices = {
    import spark.implicits._
    (1L to 7L).toDF("id")
  }

  private def weighted = edges.withColumn("weight", col("src") + col("dst"))

  private def transitions = {
    import spark.implicits._
    Seq(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 2L), ("c", "a", 1L))
      .toDF("from_type", "to_type", "n")
  }

  /** An undirected path 1 - 2 - ... - n. */
  private def path(n: Long) = {
    import spark.implicits._
    (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
  }

  /** Persisted RDDs still pinned, BEFORE `Caches.clear()`, once the frame
    * `run` returns has been consumed. The frame stays reachable until the
    * count is taken: the persistent-RDD registry holds its values weakly.
    */
  private def pinnedBy(run: => org.apache.spark.sql.DataFrame): Int = {
    Caches.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = run
    result.collect()
    val pinned = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    java.lang.ref.Reference.reachabilityFence(result)
    Caches.clear()
    pinned
  }

  private def assertNoResidue(label: String)(run: => Unit): Unit = {
    Caches.clear() // isolate from whatever earlier suites left behind
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run // must CONSUME its result (checkpointed frames don't recompute)
    Caches.clear()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"$label left ${leaked.size} persisted RDD(s) after Caches.clear(): $leaked")
  }

  test("pageRankDF releases its final checkpoint after clear()") {
    assertNoResidue("pageRankDF") {
      assert(GraphQueries.pageRankDF(spark, vertices, edges, numIter = 6).count() == 7)
    }
  }

  test("componentLabels releases its final checkpoint after clear() (both endgames)") {
    assertNoResidue("componentLabels(localFinish)") {
      assert(GraphQueries.componentLabels(spark, edges).count() == 7)
    }
    assertNoResidue("componentLabels(pure loop)") {
      assert(GraphQueries.componentLabels(spark, edges, localFinishEdges = 0L).count() == 7)
    }
  }

  test("kCore and labelPropagation release their checkpoints after clear()") {
    assertNoResidue("kCore") {
      assert(GraphQueries.kCore(spark, edges, k = 2, maxIter = 20).count() == 6)
    }
    assertNoResidue("labelPropagation") {
      assert(GraphQueries.labelPropagation(spark, edges, numIter = 5).count() == 7)
    }
  }

  test("shortestPaths, landmarkDistances and personalized pageRankDF release checkpoints after clear()") {
    assertNoResidue("shortestPaths") {
      assert(GraphQueries.shortestPaths(spark, edges, Seq(1L)).count() == 7)
    }
    assertNoResidue("landmarkDistances") {
      assert(GraphQueries.landmarkDistances(spark, edges, Seq(1L, 7L)).count() == 14)
    }
    assertNoResidue("pageRankDF(personalized)") {
      assert(GraphQueries.pageRankDF(spark, vertices, edges, numIter = 6,
        personalized = Some(1L)).count() == 7)
    }
    assertNoResidue("relaxDistances") {
      import spark.implicits._
      assert(GraphQueries.relaxDistances(spark, edges,
        Seq((1L, 0)).toDF("id", "dist")).count() == 7)
    }
  }

  test("the remaining graph loops release their checkpoints after clear()") {
    assertNoResidue("hits") {
      assert(GraphQueries.hits(spark, edges, iters = 6).count() == 7)
    }
    assertNoResidue("weightedDistances") {
      assert(GraphQueries.weightedDistances(spark, weighted, Seq(1L)).count() == 7)
    }
    assertNoResidue("randomWalks") {
      assert(GraphQueries.randomWalks(spark, edges, Seq(1L, 7L), numWalks = 2).count() == 24)
    }
    assertNoResidue("sccDF") {
      assert(GraphQueries.sccDF(spark, edges).count() == 7)
    }
    assertNoResidue("coreNumbers") {
      assert(GraphQueries.coreNumbers(spark, edges).count() == 7)
    }
    assertNoResidue("kTruss") {
      assert(GraphQueries.kTruss(spark, edges, k = 3).count() == 6)
    }
    assertNoResidue("densestSubgraph") {
      assert(GraphQueries.densestSubgraph(spark, edges).count() == 7)
    }
    assertNoResidue("dagLevels") {
      assert(GraphQueries.dagLevels(spark, edges).count() == 7)
    }
    assertNoResidue("approxCloseness") {
      assert(GraphQueries.approxCloseness(spark, edges, numSources = 3).count() == 7)
    }
    assertNoResidue("approxBetweenness") {
      assert(GraphQueries.approxBetweenness(spark, edges, numSources = 3).count() == 7)
    }
    assertNoResidue("minSpanningForest") {
      assert(GraphQueries.minSpanningForest(spark, weighted).count() == 6)
    }
  }

  test("ipfWeights, markovStationary and hittingProbability release their checkpoints after clear()") {
    assertNoResidue("ipfWeights") {
      import spark.implicits._
      val df = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "x")).toDF("r", "c")
      assert(Sampling.ipfWeights(df, col("r"), col("c"), rounds = 2).count() == 3)
    }
    assertNoResidue("markovStationary") {
      assert(EventAnalytics.markovStationary(transitions, iterations = 9).count() == 3)
    }
    assertNoResidue("hittingProbability") {
      assert(EventAnalytics.hittingProbability(transitions, "c", steps = 9).count() == 3)
    }
  }

  test("bpeMerges leaves nothing persisted, even before clear()") {
    import spark.implicits._
    val docs = Seq("hug pug pun bun hugs", "hug pun pun hugs hug").toDF("text")
    assertNoResidue("bpeMerges") {
      assert(TextAnalysis.bpeMerges(docs, numMerges = 6).count() > 0)
    }
    assert(pinnedBy(TextAnalysis.bpeMerges(docs, numMerges = 6)) == 0)
  }

  test("loops pin one cut however many rounds they run (previous cuts are released)") {
    // a path peels its two endpoints per round: 6 rounds on 12 vertices,
    // 24 on 48 — 1 vs 6 cadence cuts
    def densest(n: Long) = pinnedBy(GraphQueries.densestSubgraph(spark, path(n)))
    assert(densest(12) == densest(48))
    def markov(k: Int) = pinnedBy(EventAnalytics.markovStationary(transitions, iterations = k))
    assert(markov(6) == markov(14))
    def hitting(k: Int) = pinnedBy(EventAnalytics.hittingProbability(transitions, "c", steps = k))
    assert(hitting(6) == hitting(14))
  }

  test("GraphX ops (pageRank, connectedComponents, triangleCounts) release graph caches") {
    assertNoResidue("pageRank(GraphX)") {
      assert(GraphQueries.pageRank(spark, vertices, edges, numIter = 5).count() == 7)
    }
    assertNoResidue("connectedComponents(GraphX)") {
      assert(GraphQueries.connectedComponents(spark, vertices, edges).count() == 7)
    }
    assertNoResidue("triangleCounts(GraphX)") {
      assert(GraphQueries.triangleCounts(spark, vertices, edges).count() == 7)
    }
    assertNoResidue("triangleCountsDF") {
      assert(GraphQueries.triangleCountsDF(spark, vertices, edges).count() == 7)
    }
  }

  test("results stay usable BEFORE clear(); tracked frames recompute after") {
    Caches.clear()
    val pr = GraphQueries.pageRankDF(spark, vertices, edges, numIter = 4)
    val first = pr.orderBy("id").collect()
    // consuming twice pre-clear is fine (the checkpoint serves both reads)
    assert(pr.orderBy("id").collect().sameElements(first))
    Caches.clear()
    // plan-level tracked frames (triangleCountsDF persists, no checkpoint)
    // recompute from lineage even after clear
    val tc = GraphQueries.triangleCountsDF(spark, vertices, edges)
    val a = tc.orderBy("id").collect()
    Caches.clear()
    assert(tc.orderBy("id").collect().sameElements(a))
  }
}
