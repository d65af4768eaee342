package graft.rules

import org.apache.spark.sql.DataFrame

import graft.{Alert, SparkSpec}

/** Physical-plan regression guards for the similarity rewrite paths: the
  * whole point of the disjunct rewrite is that equality leaves become hash
  * join keys (the reference's literal predicate plans
  * BroadcastNestedLoopJoin — its 55-minute edge phase,
  * docs/Benchmarks.md:36-39). These specs pin the plan shape, not just the
  * result set, so an optimizer- or refactor-induced fallback to a
  * nested-loop plan fails loudly instead of silently costing O(n²) at scale.
  */
class PlanSpec extends SparkSpec {

  private def alerts(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => Alert.gen(i.toLong, s"obj${i % 3}", 0.95, 0.1, 0, 0.95f, "C*", None, None)).toDF()
  }

  private def plan(exp: String): String = {
    val df = alerts(1 to 10)
    new SimilarityClassifier(SimilarityConfig(exp))
      .classify(df.limit(0), df)
      .queryExecution.executedPlan.toString()
  }

  private def assertNoNestedLoop(exp: String): Unit = {
    val p = plan(exp)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"'$exp' fell back to a nested-loop plan:\n$p")
  }

  test("flat OR of equality leaves plans hash joins, no nested loop") {
    assertNoNestedLoop("objectId OR cdsxmatch")
  }

  test("mixed AND/OR plans per-disjunct hash joins, no nested loop") {
    assertNoNestedLoop("(objectId AND rfscore) OR cdsxmatch")
  }

  test("AND-only expression: equality leaf becomes the join key, no nested loop") {
    assertNoNestedLoop("objectId AND rfscore")
  }

  test("pure-range disjunct is the ONE documented nested-loop case") {
    // classtar compiles to a two-sided range condition — genuinely non-equi,
    // so its disjunct legitimately stays nested-loop (documented in
    // SimilarityClassifier's scaladoc). Pin that this is WHY a nested loop
    // appears: the same expression with the range leaf removed plans clean.
    val p = plan("classtar OR objectId")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
      s"expected the documented nested-loop for the pure-range disjunct:\n$p")
    assertNoNestedLoop("objectId")
  }

  test("multi-disjunct plans union disjoint joins: no dedup aggregate over (id1, id2)") {
    Seq("objectId OR cdsxmatch", "(objectId AND rfscore) OR cdsxmatch", "cdsxmatch OR roid OR objectId")
      .foreach { exp =>
        val p = plan(exp)
        assert(!p.contains("Aggregate"), s"'$exp' plans an aggregate:\n$p")
      }
  }

  test("similarity join inputs are pruned to id + referenced leaf columns") {
    // at scale this is the difference between shuffling 2 columns and 16:
    // the scan under the join must read only what the expression references
    // (needs a file source — ReadSchema only exists on real scans)
    val dir = tempDir("plan-prune") + "/alerts"
    alerts(1 to 10).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val p = new SimilarityClassifier(SimilarityConfig("objectId OR cdsxmatch"))
      .classify(df.limit(0), df)
      .queryExecution.executedPlan.toString()
    val scanSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(scanSchemas.nonEmpty, s"no file scans found in:\n$p")
    scanSchemas.foreach { line =>
      assert(!line.contains("rfscore") && !line.contains("snn_snia_vs_nonia"),
        s"unreferenced columns leak into the join scan:\n$line")
    }
  }
}
