package graft

import org.apache.spark.sql.graft.GraftFunctions

/** Guards the driver contract itself: entry() returns rows, every oracle
  * key has a query, rows-only queries are a known closed set, and the SQL
  * function registration works.
  */
class EntryContractSpec extends SparkSpec {

  test("entry() produces rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("EVERY query has an oracle (no rows-only checks left)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without query: ${o -- q}")
    // since round 2 the sketch queries use the portable Md5Hash family and
    // q27 emits a recall gate, so the driver hash-checks all 40 queries
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
  }

  /** Columns whose type the driver's pandas-based compare cannot hash:
    * list/map/struct cells raise `unhashable type: numpy.ndarray` in the
    * harness (r10's q282). Every queries() face must be atomic-typed —
    * string-join arrays (`concat_ws`) / json-serialize structs at the
    * query face, keeping the richer types on the operator API itself.
    */
  private def complexColumns(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq
  }

  /** One pass over the registry at sf0.001: each query's frame is built
    * once, and both contracts below read what that pass recorded — its row
    * count and its non-atomic columns.
    */
  private lazy val sweep: Seq[(String, Long, Seq[String])] = {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, dir)
      (name, df.count(), complexColumns(df))
    }
  }

  test("every query runs at sf0.001; all but the sparse self-joins return rows") {
    // sf0.001 is legitimately too sparse for a few predicates: 10 suppliers
    // over 25 nations (same-nation self-joins empty) and max(value)≈327 < the
    // supernova recipe's 375 threshold. All are non-empty from sf0.01 up,
    // which is what the driver verifies.
    val mayBeEmpty = Set(
      "q07_sim_selfjoin", "q08_sim_or_leaves", "q25_graph_degrees", "q39_twomode_supernova",
      "q93_graph_kcore", // same sparse supplier graph as q07/q25: no edges at sf0.001
      "q209_graph_core_numbers", "q213_graph_ktruss", "q216_densest_subgraph", // same empty clique graph
      "q156_graph_linkpred", // minShared=150 projection: no 2-wedge non-adjacent pairs at sf0.001
      "q349_seasonal_strength") // events span < the 25-bucket centered trend window: every component row NULL-filtered (5 rows from sf0.01 up)
    sweep.foreach { case (name, n, _) =>
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query result column is atomic-typed (harness compare contract)") {
    val offenders = sweep.flatMap { case (name, _, complex) => complex.map(c => s"$name -> $c") }
    assert(offenders.isEmpty,
      s"non-atomic result columns (driver compare cannot hash them): " +
        offenders.mkString("; "))
  }

  test("the atomic-type checker flags a deliberately array-returning frame") {
    import org.apache.spark.sql.functions._
    val bad = spark.range(3).select(
      org.apache.spark.sql.functions.col("id"),
      array(lit(1), lit(2)).as("xs"),
      map(lit("k"), lit(1)).as("m"),
      struct(lit(1).as("a")).as("st"))
    assert(complexColumns(bad).size == 3)
    assert(complexColumns(bad.select(concat_ws("|", col("xs")).as("xs"))).isEmpty)
  }

  test("registered SQL functions evaluate the native expressions") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 11.0)
    val t = spark.sql(
      "SELECT length(nfc_normalize('Café')) AS n, deflate_ratio('aaaaaaaaaaaaaaaa') AS dr").head()
    assert(t.getInt(0) == 4, "NFC must compose the combining acute")
    assert(t.getDouble(1) > 0.0 && t.getDouble(1) < 1.0)
  }

  test("registered SQL aggregates: topk_agg and simhash_agg work from spark.sql") {
    GraftFunctions.register(spark)
    // topk_agg: top-2 by score desc, ties to the smaller id
    val top = spark.sql(
      """SELECT g, topk_agg(s, id, 2) AS t FROM VALUES
        |  ('a', 0.5d, 1L), ('a', 0.9d, 2L), ('a', 0.9d, 3L), ('b', 0.1d, 9L)
        |AS v(g, s, id) GROUP BY g ORDER BY g""".stripMargin).collect()
    val a = top(0).getSeq[org.apache.spark.sql.Row](1)
    assert(a.map(r => (r.getDouble(0), r.getLong(1))) == Seq((0.9, 2L), (0.9, 3L)))
    assert(top(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) == Seq(9L))
    // k must be a literal — it sizes the aggregation buffer
    intercept[Exception](spark.sql(
      "SELECT topk_agg(s, id, id) FROM VALUES (0.1d, 1L) AS v(s, id)").collect())
    // simhash_agg over a single token hash is that hash's bit pattern
    val sh = spark.sql(
      "SELECT simhash_agg(h) FROM VALUES (5L) AS v(h)").head().getLong(0)
    assert(sh == 5L)
  }
}
