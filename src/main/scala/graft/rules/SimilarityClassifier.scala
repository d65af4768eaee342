package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Configuration for [[SimilarityClassifier]].
  * Ref: common/.../models/Config.scala (SimilarityConfig).
  */
case class SimilarityConfig(similarityExp: String)

/** Connects "similar" vertices: a self-theta-join of the new batch against
  * (loaded ∪ new) under the compiled similarity expression, with edge value =
  * number of independently satisfied leaf conditions.
  *
  * Ref: core/.../processor/edgerules/SimilarityClassifer.scala:44-109.
  *
  * Semantics preserved exactly:
  *  - join condition is `id1 > id2 && parsed.condition` — the id ordering
  *    halves the cross product and prevents self/duplicate edges;
  *  - the right side is `loaded.select(cols) union new.select(cols)` so that
  *    intra-batch edges are also produced;
  *  - the `similarity` edge value counts each *leaf* condition independently
  *    (+1 per satisfied leaf, ANDs not grouped) — it can exceed the number of
  *    satisfied top-level conjuncts (docs/classifiers/VertexClassifiers.md:44-50).
  *
  * Scale notes (100 TB): the predicate is non-equi in general, which Spark
  * plans as BroadcastNestedLoopJoin / CartesianProduct. Instead of the
  * reference's always-BNL plan we:
  *  - express the whole predicate as Catalyst columns (codegen-friendly, no
  *    UDF), so when a disjunct contains top-level AND-ed equality leaves
  *    Catalyst extracts them as join keys and plans a shuffled hash /
  *    sort-merge join automatically;
  *  - keep only the referenced leaf columns + `id` in the join inputs
  *    (column pruning before the shuffle/broadcast);
  *  - join once per top-level disjunct ([[SimilarityClassifier.join]]), so
  *    an OR of equalities becomes a union of equi-joins instead of one
  *    cartesian.
  */
class SimilarityClassifier(config: SimilarityConfig) extends VertexClassifierRule {

  // The reference returns "similarityClassifier" for *all three* rules — a
  // quirk we preserve (SimilarityClassifer.scala:31).
  override def name: String = "similarityClassifier"
  override def getEdgeLabel: String = "similarity"
  override def getEdgePropertyKey: String = "value"

  override def classify(loadedDf: DataFrame, df: DataFrame): DataFrame = {
    val parsed = SimilarityExp.parse(config.similarityExp)
    SimilarityClassifier.join(parsed, SimilarityExp.disjuncts(parsed.ast), loadedDf, df)
  }
}

object SimilarityClassifier {

  /** The similarity join: one join per disjunct, unioned.
    *
    * `disjuncts` must together be equivalent to `parsed.ast` under OR. With
    * one disjunct this is the literal theta-join `id1 > id2 AND condition`
    * (pass `List(parsed.ast)` to get it for any expression). With two or
    * more, each disjunct gets its own join: the literal predicate
    * `id1 > id2 AND (d1 OR d2 OR ...)` has no extractable equi-conjunct, so
    * Spark would plan a BroadcastNestedLoopJoin — the O(n²) shape behind the
    * reference's 55-minute edge phase (docs/Benchmarks.md:36-39). Per
    * disjunct, equality-style leaves (`<=>`, cdsxmatch, mulens) become
    * hash-join keys, and single-side range leaves (score > 0.9) are pushed
    * below the join as filters, shrinking even the disjuncts that remain
    * nested-loop. A pair that satisfies several disjuncts is kept once.
    *
    * The similarity value is the per-leaf fold of the reference
    * (SimilarityClassifer.scala:91-106) either way, so the result does not
    * depend on how the expression is split.
    */
  def join(
      parsed: SimilarityExp.ParseResult,
      disjuncts: List[SimilarityExp.Expr],
      loadedDf: DataFrame,
      df: DataFrame
  ): DataFrame = {
    val selectColsNoId = parsed.columns.flatMap(SimilarityExp.leafSelectColumns).distinct
    val selectColsList = "id" :: selectColsNoId
    def withSuffix(num: Int): List[Column] = selectColsList.map(x => col(x).as(s"$x$num"))

    // Prune to referenced columns *before* the join: at scale this is the
    // difference between shuffling 2 columns and shuffling 100.
    val df1 = df.select(withSuffix(1): _*)
    val df2 = loadedDf
      .select(selectColsList.map(col): _*)
      .union(df.select(selectColsList.map(col): _*))
      .select(withSuffix(2): _*)

    // Plain relational join (not joinWith + struct unwrap as in the
    // reference): same semantics, one fewer projection, and the flat shape
    // lets Catalyst extract equi-conjuncts from the condition.
    def on(d: SimilarityExp.Expr): DataFrame =
      df1.join(df2, (col("id1") > col("id2")) && SimilarityExp.compile(d))

    val joined = disjuncts match {
      case List(d) => on(d)
      case _ =>
        // Each disjunct join already has every leaf column in scope, so one
        // aggregation on (id1, id2) dedups candidate pairs without joining
        // df1 and df2 again. Duplicate pairs carry identical leaf values by
        // construction, so first() is deterministic.
        val leafCols  = selectColsNoId.flatMap(c => List(s"${c}1", s"${c}2"))
        val firstAggs = leafCols.map(c => first(col(c)).as(c))
        disjuncts
          .map(d => on(d).select(col("id1") :: col("id2") :: leafCols.map(col): _*))
          .reduce(_ union _)
          .groupBy(col("id1"), col("id2"))
          .agg(firstAggs.head, firstAggs.tail: _*)
    }

    // +1 per satisfied leaf condition, matching the reference's fold
    // (SimilarityClassifer.scala:91-106).
    val computed = parsed.columns.foldLeft(joined.withColumn("similarity", lit(0))) { (curr, name) =>
      curr.withColumn(
        "similarity",
        when(SimilarityExp.colNameToCondition(name), col("similarity") + 1)
          .otherwise(col("similarity")))
    }
    computed.select(
      col("id1").as(EdgeColumns.Src),
      col("id2").as(EdgeColumns.Dst),
      col("similarity").as(EdgeColumns.PropVal))
  }
}
