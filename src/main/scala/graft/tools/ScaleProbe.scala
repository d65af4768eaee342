package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1.0 scale-probe data generator: replicates the sf0.1 tables 10× with
  * per-key-domain offsets (copy i shifts every key of a domain by
  * i × the domain's sf0.1 cardinality, keeping keys dense and referential
  * integrity intact — an offset order still points at its offset customer,
  * an offset lineitem at its offset part/supplier). `nation`/`region` are
  * copied UNCHANGED: dimensions don't multiply when the fact data grows
  * 10×, which is exactly what makes the probe honest — per-dimension
  * group counts stay fixed while group SIZES grow 10×.
  *
  * Two deliberate replication artifacts, recorded here and in
  * BENCH_SCALE.json's notes:
  *  - `documents.text` / `embeddings.embedding` repeat verbatim per copy
  *    (offset ids, identical content), so every doc gains 9 exact
  *    near-duplicates — dedup/ANN queries therefore measure a
  *    duplicate-HEAVY corpus (bounded 10-copy clusters, not corpus²).
  *  - same-dimension-key self-join families (the supplier same-nation
  *    clique) grow quadratically in edges because group sizes grew 10× —
  *    that is the operator's real data semantics at 10× scale, not a plan
  *    artifact.
  *
  * Usage: runMain graft.tools.ScaleGen [sf01Dir] [outDir]
  */
object ScaleGen {
  /** Replication factor: 10 = the per-round sf1.0 probe; 100 (via
    * SPARK_GRAFT_SCALE_COPIES) generates the heavy-tier sf10 probe set —
    * strides stay the sf0.1 cardinalities, so any copy count keeps keys
    * dense and referential integrity intact.
    */
  val Copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt

  /** Key domains and their sf0.1 strides (table cardinalities). */
  private val strides: Map[String, Long] = Map(
    "custkey" -> 15000L, "orderkey" -> 150000L, "partkey" -> 20000L,
    "suppkey" -> 1000L, "doc_id" -> 5000L, "vec_id" -> 2000L,
    "event_id" -> 100000L, "user_id" -> 1500L)

  /** Which columns of each table carry which key domain. */
  private val tableKeys: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "custkey"),
    "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
      "l_suppkey" -> "suppkey"),
    "part" -> Seq("p_partkey" -> "partkey"),
    "supplier" -> Seq("s_suppkey" -> "suppkey"),
    "documents" -> Seq("doc_id" -> "doc_id"),
    "embeddings" -> Seq("vec_id" -> "vec_id"),
    "events" -> Seq("event_id" -> "event_id", "user_id" -> "user_id"))

  def replicate(df: DataFrame, keys: Seq[(String, String)]): DataFrame =
    (0 until Copies).map { i =>
      keys.foldLeft(df) { case (d, (colName, domain)) =>
        val dt = df.schema(colName).dataType
        d.withColumn(colName, (col(colName) + lit(i * strides(domain))).cast(dt))
      }
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val sf01 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out  = args.lift(1).getOrElse("scale_probe/sf1.0")
    val spark = graft.GraftSession()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val src = spark.read.parquet(s"$sf01/$t.parquet")
      val scaled = tableKeys.get(t).map(replicate(src, _)).getOrElse(src)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t: ${scaled.count()} rows")
    }
    println("SCALEGEN-DONE")
    spark.stop()
  }
}

/** sf1.0 scale probe — measures time(sf1.0)/time(sf0.1) for the most
  * expensive queries and records per-query ratios in BENCH_SCALE.json.
  * The 100×-plan claims elsewhere are plan-audited; this is the one
  * MEASURED data point beyond sf0.1: with 10× rows, a scale-safe plan
  * should land ≈≤10× wall-clock plus fixed overhead (iterative graph ops
  * add rounds only if the DIAMETER grows — it doesn't under replication),
  * while the documented quadratic families (same-dimension-key cliques,
  * duplicate-heavy dedup) are expected and annotated super-linear.
  *
  * Runs each query twice per scale (bench mode, xxhash — the production
  * path) and keeps the min; sf0.1 first, then sf1.0, so JIT/codegen warmth
  * favors neither ratio direction systematically.
  *
  * Usage: runMain graft.tools.ScaleProbe [sf01Dir] [sf1Dir] [outPath] [q ...]
  * Pass the single name `ALL` to probe the ENTIRE registry — the sweep
  * that catches a super-linear sleeper hiding in the cheap tier.
  * SPARK_GRAFT_PROBE_RUNS (default 2) sets attempts per scale (min kept);
  * min-of-1 is the documented full-sweep setting.
  */
object ScaleProbe {

  /** Default probe set: the most expensive queries of the r10 full bench
    * (BENCH_DETAIL.json queries_min, descending) — the tail of the suite
    * is sub-second fixed overhead at sf0.1 and tells nothing about scale.
    */
  val DefaultQueries: Seq[String] = Seq(
    "q155_graph_hits", "q121_graph_bfs", "q143_semantic_clusters",
    "q133_graph_bipartite", "q126_graph_ppr", "q19_dedup_ngram",
    "q258_prf_report", "q128_graph_landmarks", "q142_graph_sssp",
    "q230_mutual_knn_approx", "q138_graph_bfs_warm",
    "q150_graph_walks_weighted", "q156_graph_linkpred", "q141_graph_walks",
    "q242_betweenness", "q182_graph_scc", "q191_dag_levels",
    "q216_densest_subgraph", "q157_graph_assortativity",
    "q75_graph_pagerank_df", "q304_graph_anf",
    // round-12 additions: the heaviest of the new operator families —
    // token-level shuffles, pair folds, multi-pass prefix-sum clamps
    "q329_chao1", "q330_diversity", "q333_assoc_rules", "q334_morans_i",
    "q338_rich_club", "q341_jonckheere", "q346_quade",
    "q348_winsorized_corr", "q322_moods_median", "q332_sprt")

  /** Expected-growth annotations for the documented super-linear families. */
  val Expectations: Map[String, String] = Map(
    "q126_graph_ppr" -> ("same-nation supplier clique: 10x suppliers over fixed 25 nations " +
      "=> ~100x edges by data semantics; PPR cost tracks edges"),
    "q19_dedup_ngram" -> "replicated corpus: every doc has 9 verbatim copies => 10x denser postings, ~45 pairs/doc",
    // q143/q230 annotations retired: exact-duplicate collapse
    // (SimilaritySearch.collapseExactDuplicates) makes the replicated
    // corpus near-linear — measured 0.9x/1.0x at 10x rows.
    "q156_graph_linkpred" -> "same-nation clique projection: wedge counts grow quadratically with group size",
    "q216_densest_subgraph" -> "same-nation clique graph: ~100x edges by data semantics",
    "q373_anf_warm" -> ("the probe's sf1.0 run pays the memoized COLD prior build once (the warm " +
      "resume alone is the bench face) on top of HyperBall sparse->dense sketch growth (q304's model)"),
    "q367_blocking_eval" -> ("candidate pairs grow with duplicate-family size^2 on the replicated " +
      "corpus (bounded 10-copy families at 10x; ~10^4x at 100x, where it is disk-bound on one box)"),
    "q213_graph_ktruss" -> ("same-nation clique graph: ~100x edges AND ~100x surviving truss rows " +
      "by data semantics (output rows measured 102x) — 32x time is sub-linear in the edge growth"))
    // q304 annotation retired: the delta-frontier rewrite measured 3.8x at
    // 10x rows — inside the gate with no excuse needed.

  def main(args: Array[String]): Unit = {
    System.setProperty("graft.hash", sys.env.getOrElse("SPARK_GRAFT_HASH", "xxhash"))
    System.setProperty("graft.mode", "bench")
    // ANF shuffle budget: unless the caller pinned one, give the ANF
    // family a THIRD of this box's free disk as its per-round budget —
    // GraphQueries.anfAutoLgK then downgrades lgK at the 100× tier
    // (where dense lgK=11 sketches previously filled the disk) and the
    // operator logs the chosen lgK + σ; sf0.1 and the 10× tier fit
    // lgK=11 inside any sane budget, so their numbers are unchanged.
    if (sys.props.get("graft.anf.budget.mb").isEmpty &&
        sys.env.get("SPARK_GRAFT_ANF_BUDGET_MB").isEmpty) {
      val freeMb = new java.io.File(".").getUsableSpace >> 20
      System.setProperty("graft.anf.budget.mb", (freeMb / 3).toString)
      println(s"[scale] graft.anf.budget.mb defaulted to ${freeMb / 3} " +
        s"(free disk ${freeMb >> 10} GB)")
    }
    val sf01 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sf1  = args.lift(1).getOrElse("scale_probe/sf1.0")
    val out  = args.lift(2).getOrElse("BENCH_SCALE.json")
    val names =
      if (args.length == 4 && args(3) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 3) args.drop(3).toSeq
      else DefaultQueries
    val runsPerScale = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt
    require(runsPerScale >= 1, s"SPARK_GRAFT_PROBE_RUNS must be >= 1, got $runsPerScale")
    // shuffle files of FINISHED queries are only reclaimed when their
    // RDDs are GC'd, and a probe heap big enough for the 100× tier GCs
    // rarely — the first sf10 sweep filled the disk with 40+ GB of dead
    // spill from EARLIER queries before q304's own shuffle even peaked.
    // An aggressive periodic GC keeps the local dirs bounded to the
    // running query's working set.
    val spark = graft.GraftSession("spark.cleaner.periodicGC.interval" -> "90s")
    spark.range(1000000).selectExpr("sum(id)").collect()

    // A failed attempt contributes NEITHER its wall-clock nor its row
    // count: folding a failure's elapsed time into `best` (or letting a
    // late failure overwrite a good `rows`) would record a bogus
    // timing/ratio with no failure marker. `failed` rides through to the
    // JSON so a partially-failed probe is visible in BENCH_SCALE.json.
    //
    // SPARK_GRAFT_PROBE_TIMEOUT_SEC (0 = off) bounds each attempt: the
    // heavy-tier 100× probe sweeps queries whose DATA semantics may be
    // quadratic at that replication (same-dimension-key cliques), and one
    // runaway attempt must cost its budget, not the whole sweep. On
    // timeout the query's job group is cancelled and the attempt records
    // as failed.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_PROBE_TIMEOUT_SEC", "0").toLong
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    def attempt(name: String, dir: String): Long = {
      val run = () => try graft.SparkEntry.queries(name)(spark, dir).count()
        catch { case e: Throwable =>
          System.err.println(s"[scale] $name@$dir FAILED: ${e.getMessage}"); -1L }
      if (timeoutSec <= 0L) run()
      else {
        // The job group is a thread-local Spark property and the query runs
        // on a (reused) global-EC pool thread, so it MUST be set inside the
        // Future body on the executing thread — setting it on the main
        // thread only propagates at pool-thread CREATION, and a timed-out
        // cancelJobGroup would then cancel nothing, leaving the runaway
        // attempt polluting every later attempt's timing.
        val fut = scala.concurrent.Future {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try run() finally spark.sparkContext.clearJobGroup()
        }
        try scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration(timeoutSec, "s"))
        catch {
          case _: java.util.concurrent.TimeoutException =>
            System.err.println(s"[scale] $name@$dir TIMED OUT after ${timeoutSec}s — cancelling")
            spark.sparkContext.cancelJobGroup(name)
            -1L
        }
      }
    }
    def minTime(name: String, dir: String): (Double, Long, Boolean) = {
      var best = Double.MaxValue; var rows = -1L; var anyFail = false
      (1 to runsPerScale).foreach { _ =>
        val t0 = System.nanoTime()
        val n  = attempt(name, dir)
        if (n >= 0L) {
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          rows = n
        } else anyFail = true
        graft.Caches.clear()
      }
      (if (rows >= 0L) best else Double.NaN, rows, anyFail)
    }

    val rows = names.map { name =>
      val (t01, r01, f01) = minTime(name, sf01)
      val (t1, r1, f1)    = minTime(name, sf1)
      val failed = f01 || f1
      val ratio = t1 / t01
      val note = Expectations.get(name)
      System.err.println(
        f"[scale] $name%-26s sf0.1 $t01%7.2fs (rows=$r01) sf1.0 $t1%7.2fs (rows=$r1) ratio ${ratio}%6.2fx" +
          (if (failed) "  [HAD FAILURES]" else "") +
          note.map(n => s"  [expected super-linear: $n]").getOrElse(""))
      (name, t01, t1, ratio, r01, r1, note, failed)
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else f"$d%.3f"
    val qJson = rows.map { case (n, t01, t1, ratio, r01, r1, note, failed) =>
      s""""$n":{"sf01_sec":${num(t01)},"sf1_sec":${num(t1)},"ratio":${if (ratio.isNaN || ratio.isInfinite) "null" else f"$ratio%.2f"},"rows_sf01":$r01,"rows_sf1":$r1""" +
        (if (failed) ""","failed":true""" else "") +
        note.map(x => s""","expected_superlinear":"${esc(x)}"""").getOrElse("") + "}"
    }.mkString("{", ",", "}")
    // flag threshold: 15x for the default 10x-rows probe; the 100x probe
    // passes SPARK_GRAFT_PROBE_FLAG_X=150 (same slack factor at its scale)
    val flagX = sys.env.getOrElse("SPARK_GRAFT_PROBE_FLAG_X", "15").toDouble
    val copiesNote = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10")
    val flagged = rows.filter { case (_, _, _, ratio, _, _, note, failed) =>
      failed || (ratio > flagX && note.isEmpty) }.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val json =
      s"""{"sf01":"${esc(sf01)}","sf1":"${esc(sf1)}","data":"${copiesNote}x row replication of sf0.1 with per-key-domain offsets; nation/region dims unchanged; documents/embeddings content repeats verbatim per copy (duplicate-heavy by construction)","hash":"${sys.props("graft.hash")}","runs_per_scale":$runsPerScale,"flag_threshold_x":$flagX,"flagged_unexplained_over_${flagX.toLong}x":$flagged,"queries":$qJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"SCALEPROBE-DONE flagged=$flagged")
    spark.stop()
  }
}
