package graft.rules

import org.apache.spark.sql.{DataFrame, Row}

import graft.{Alert, SparkSpec}

/** Golden-edge tests replicating the reference specs exactly
  * (FIXTURES.md §5; SimilarityClassifierSpec / TwoModeClassifierSpec /
  * SameValueClassifierSpec in the reference).
  */
class ClassifierSpec extends SparkSpec {

  private def alertsDf(alerts: Seq[Alert]): DataFrame = {
    import spark.implicits._
    alerts.toDF()
  }

  private def collectEdges(df: DataFrame): Set[Row] = df.collect().toSet

  // ------------------------------------------------------- similarity

  test("similarity: edge between new and old vertices") {
    val rule = new SimilarityClassifier(SimilarityConfig("rfscore OR objectId"))
    val loaded = alertsDf(
      Seq(Alert.gen(1L, "ZTF19acmbyav", 0.388, 0.36001157760620117, 1, 0.0f, "WD*", None, None))
    )
    val current = alertsDf(
      Seq(Alert.gen(2L, "ZTF19acmbyav", 0.988, 0.67001157760620889, 0, 0.0f, "Unknown", None, None))
    )
    assert(collectEdges(rule.classify(loaded, current)) == Set(Row(2L, 1L, 1)))
  }

  test("similarity: edge between new vertices (intra-batch via union)") {
    val rule = new SimilarityClassifier(SimilarityConfig("rfscore OR objectId"))
    val current = alertsDf(
      Seq(
        Alert.gen(1L, "ZTF19acmbyav", 0.388, 0.36001157760620117, 1, 0.0f, "WD*", None, None),
        Alert.gen(2L, "ZTF19acmbyav", 0.988, 0.67001157760620889, 0, 0.0f, "Unknown", None, None)
      )
    )
    val loaded = alertsDf(
      Seq(Alert.gen(3L, "ZTF20acmkyap", 0.188, 0.67001157760620889, 0, 0.2f, "Unknown", None, None))
    )
    assert(collectEdges(rule.classify(loaded, current)) == Set(Row(2L, 1L, 1)))
  }

  test("similarity: leaf-counted similarity value (5 of 7 leaves)") {
    val rule = new SimilarityClassifier(
      SimilarityConfig("(rfscore AND snn_snia_vs_nonia) OR mulens OR classtar OR cdsxmatch OR objectId OR roid")
    )
    val loaded = alertsDf(
      Seq(Alert.gen(1L, "toto", 0.99, 0.8, 3, 0.0f, "C*", Some("CONSTANT"), Some("CONSTANT")))
    )
    val current = alertsDf(
      Seq(Alert.gen(2L, "toto", 0.95, 0.95, 2, 0.0f, "C*", Some("ML"), Some("CONSTANT")))
    )
    assert(collectEdges(rule.classify(loaded, current)) == Set(Row(2L, 1L, 5)))
  }

  test("similarity: union-of-equi-joins rewrite matches the direct plan") {
    val loaded = alertsDf(
      Seq(
        Alert.gen(1L, "a", 0.1, 0.1, 3, 0.5f, "C*", None, None),
        Alert.gen(2L, "b", 0.1, 0.1, 0, 0.5f, "WD*", None, None)
      )
    )
    val current = alertsDf(
      Seq(
        Alert.gen(3L, "a", 0.1, 0.1, 2, 0.5f, "WD*", None, None),
        Alert.gen(4L, "c", 0.1, 0.1, 5, 0.5f, "Unknown", None, None)
      )
    )
    // the reference: the literal theta-join, the whole expression as one disjunct
    Seq("objectId OR cdsxmatch OR roid", "(objectId AND roid) OR cdsxmatch", "cdsxmatch").foreach { exp =>
      val parsed  = SimilarityExp.parse(exp)
      val direct  = collectEdges(SimilarityClassifier.join(parsed, List(parsed.ast), loaded, current))
      val rewrite = collectEdges(new SimilarityClassifier(SimilarityConfig(exp)).classify(loaded, current))
      assert(direct == rewrite, exp)
      assert(direct.nonEmpty, exp)
    }
  }

  test("similarity: each pair is claimed by its first disjunct — the same multiset as the theta-join") {
    import spark.implicits._
    // pairs satisfying several disjuncts (11-1: objectId, rfscore and
    // cdsxmatch) and pairs whose earlier disjunct is NULL rather than false
    // (12-11: null rfscore, 13-2: null cdsxmatch), which a later disjunct
    // must still keep
    def frame(rows: (Long, String, Option[Double], String, Option[Int])*): DataFrame =
      rows.toDF("id", "objectId", "rfscore", "cdsxmatch", "roid")
    val loaded = frame(
      (1L, "a", Some(0.92), "C*", Some(1)),
      (2L, "b", None, null, Some(4)),
      (3L, null, Some(0.91), "Unknown", Some(2)))
    val current = frame(
      (11L, "a", Some(0.95), "C*", Some(3)),
      (12L, "a", None, "C*", Some(5)),
      (13L, "b", Some(0.97), null, Some(2)),
      (14L, null, Some(0.99), "Unknown", Some(0)),
      (15L, null, None, null, None))
    def multiset(df: DataFrame): Map[Row, Int] = df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
    Seq("objectId OR rfscore", "rfscore OR objectId", "cdsxmatch OR roid OR objectId",
        "(objectId AND roid) OR cdsxmatch").foreach { exp =>
      val parsed     = SimilarityExp.parse(exp)
      val direct     = SimilarityClassifier.join(parsed, List(parsed.ast), loaded, current)
      val classified = new SimilarityClassifier(SimilarityConfig(exp)).classify(loaded, current)
      assert(classified.count() == direct.count(), exp)
      assert(multiset(classified) == multiset(direct), exp)
      assert(multiset(direct).values.forall(_ == 1) && direct.count() > 1, exp)
    }
  }

  // ------------------------------------------------------- same-value

  test("same-value: clique within batch + join edges vs loaded") {
    val rule = new SameValueClassifier(SameValueSimilarityConfig(List("objectId")))
    val current = alertsDf(
      Seq(
        Alert.gen(1L, "obj1", 0.1, 0.1, 0, 0.5f, "Unknown", None, None),
        Alert.gen(2L, "obj2", 0.1, 0.1, 0, 0.5f, "Unknown", None, None),
        Alert.gen(3L, "obj1", 0.1, 0.1, 0, 0.5f, "Unknown", None, None)
      )
    )
    val loaded = alertsDf(
      Seq(
        Alert.gen(4L, "obj3", 0.1, 0.1, 0, 0.5f, "Unknown", None, None),
        Alert.gen(13L, "obj1", 0.1, 0.1, 0, 0.5f, "Unknown", None, None),
        Alert.gen(14L, "obj5", 0.1, 0.1, 0, 0.5f, "Unknown", None, None)
      )
    )
    val edges = rule.classify(loaded, current).collect().toSet
    assert(
      edges == Set(
        Row(1L, 3L, "objectId"),
        Row(1L, 13L, "objectId"),
        Row(3L, 13L, "objectId")
      )
    )
  }

  test("same-value: multi-column union") {
    val rule = new SameValueClassifier(SameValueSimilarityConfig(List("objectId", "cdsxmatch")))
    val current = alertsDf(
      Seq(
        Alert.gen(1L, "obj1", 0.1, 0.1, 0, 0.5f, "AGN", None, None),
        Alert.gen(2L, "obj2", 0.1, 0.1, 0, 0.5f, "AGN", None, None)
      )
    )
    val loaded = alertsDf(
      Seq(Alert.gen(4L, "obj1", 0.1, 0.1, 0, 0.5f, "AGN", None, None))
    )
    val edges = rule.classify(loaded, current).collect().toSet
    assert(
      edges == Set(
        Row(1L, 2L, "cdsxmatch"),
        Row(1L, 4L, "cdsxmatch"),
        Row(2L, 4L, "cdsxmatch"),
        Row(1L, 4L, "objectId")
      )
    )
  }

  test("same-value: non-string (int) link column needs no caller-side cast") {
    import spark.implicits._
    val rule = new SameValueClassifier(SameValueSimilarityConfig(List("bucket")))
    val current = Seq((1L, 7), (2L, 8), (3L, 7)).toDF("id", "bucket")
    val loaded  = Seq((13L, 7), (14L, 9)).toDF("id", "bucket")
    val edges = rule.classify(loaded, current).collect().toSet
    assert(
      edges == Set(
        Row(1L, 3L, "bucket"),
        Row(1L, 13L, "bucket"),
        Row(3L, 13L, "bucket")
      )
    )
  }

  test("same-value: null link values group together, distinct from 'null' string") {
    import spark.implicits._
    val rule = new SameValueClassifier(SameValueSimilarityConfig(List("k")))
    val current = Seq((1L, Option.empty[String]), (2L, Some("null")), (3L, None: Option[String]))
      .toDF("id", "k")
    val loaded = Seq.empty[(Long, Option[String])].toDF("id", "k")
    val edges = rule.classify(loaded, current).collect().toSet
    // clique among the two SQL-null rows only; the literal "null" string row
    // is its own group (and null never equi-joins against loaded)
    assert(edges == Set(Row(1L, 3L, "k")))
  }

  test("same-value: -0.0 and 0.0 group together, intra-batch AND cross-batch") {
    import spark.implicits._
    val rule = new SameValueClassifier(SameValueSimilarityConfig(List("v")))
    // intra-batch: -0.0 vs 0.0 must form a clique edge (Spark's join
    // equality treats them as equal — the stringified grouping key must too)
    val current = Seq((1L, 0.0), (2L, -0.0), (3L, 1.5)).toDF("id", "v")
    val loaded  = Seq((13L, -0.0)).toDF("id", "v")
    val edges = rule.classify(loaded, current).collect().toSet
    assert(
      edges == Set(
        Row(1L, 2L, "v"),   // intra-batch clique across the sign of zero
        Row(1L, 13L, "v"),  // cross-batch join: 0.0 = -0.0
        Row(2L, 13L, "v")
      )
    )
    // NaN keeps grouping with itself (string form + Spark's NaN = NaN)
    val nans = rule.classify(
      Seq.empty[(Long, Double)].toDF("id", "v"),
      Seq((1L, Double.NaN), (2L, Double.NaN)).toDF("id", "v")).collect().toSet
    assert(nans == Set(Row(1L, 2L, "v")))
  }

  // ------------------------------------------------------- two-mode

  private val fixedVertices = List(
    FixedVertex(1L, "similarity", List(FixedVertexProperty("recipe", "string", "supernova"))),
    FixedVertex(2L, "similarity", List(FixedVertexProperty("recipe", "string", "microlensing"))),
    FixedVertex(3L, "similarity", List(FixedVertexProperty("recipe", "string", "asteroids")))
  )

  test("two-mode: supernova / microlensing / asteroids recipes") {
    val rule = new TwoModeClassifier(
      TwoModeSimilarityConfig(List("supernova", "microlensing", "asteroids")),
      fixedVertices
    )
    val current = alertsDf(
      Seq(
        // supernova: snn>0.75, snn_sn_vs_all>0.75, drb>0.5, ndethist<400, classtar>0.4, cdsxmatch in set
        Alert.gen(10L, "sn", 0.1, 0.9, 0, 0.5f, "SN", None, None, snnSnVsAll = 0.9, drb = 0.6f, ndethist = 10),
        // microlensing: both classes ML
        Alert.gen(12L, "ml", 0.1, 0.1, 0, 0.5f, "Unknown", Some("ML"), Some("ML")),
        // microlensing AND asteroids
        Alert.gen(13L, "both", 0.1, 0.1, 3, 0.5f, "Unknown", Some("ML"), Some("ML")),
        // nothing
        Alert.gen(14L, "none", 0.1, 0.1, 0, 0.5f, "Unknown", None, None)
      )
    )
    val loaded = alertsDf(Seq.empty[Alert])
    val edges = rule.classify(loaded, current).collect().toSet
    assert(
      edges == Set(
        Row(10L, 1L, 0.0),
        Row(12L, 2L, 0.0),
        Row(13L, 2L, 0.0),
        Row(13L, 3L, 0.0)
      )
    )
  }

  test("two-mode: catalog exact-match over cdsxmatch") {
    val catalogFixed = List(
      FixedVertex(
        1L,
        "similarity",
        List(
          FixedVertexProperty("recipe", "string", "catalog"),
          FixedVertexProperty("equals", "string", "EB*")
        )
      )
    )
    val rule = new TwoModeClassifier(TwoModeSimilarityConfig(List("catalog")), catalogFixed)
    val current = alertsDf(
      (1 to 5).map(i => Alert.gen(10L + i, s"o$i", 0.1, 0.1, 0, 0.5f, "EB*", None, None)) :+
        Alert.gen(20L, "x", 0.1, 0.1, 0, 0.5f, "AGN", None, None)
    )
    val edges = rule.classify(alertsDf(Seq.empty[Alert]), current).collect().toSet
    assert(edges == (1 to 5).map(i => Row(10L + i, 1L, 0.0)).toSet)
  }

  test("two-mode: missing fixed vertex fails") {
    val rule = new TwoModeClassifier(TwoModeSimilarityConfig(List("supernova")), List.empty)
    assertThrows[MissingFixedVertex](
      rule.classify(alertsDf(Seq.empty[Alert]), alertsDf(Seq.empty[Alert]))
    )
  }

  test("edge contract validation rejects missing columns") {
    import spark.implicits._
    val bad = Seq((1L, 2L)).toDF("src", "dst")
    assertThrows[IllegalArgumentException](
      VertexClassifierRule.validate(bad.schema, "test")
    )
  }
}
