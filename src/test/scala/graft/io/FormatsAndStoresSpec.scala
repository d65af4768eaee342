package graft.io

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.{EdgeStore, FixedVertexStore}
import graft.rules.{SimilarityClassifier, SimilarityConfig, SimilarityExp}

/** S1's csv/json format support + the store operators (S6-S8) and the
  * OR-similarity rewrite A/B (SURVEY §4 stretch item).
  */
class FormatsAndStoresSpec extends SparkSpec {

  test("partitioned reader handles csv and json formats (S1 format list)") {
    import spark.implicits._
    val base = tempDir("formats")
    val df = Seq(("a", 1, 2019, 2, 1), ("b", 2, 2019, 2, 1)).toDF("name", "v", "year", "month", "day")
    df.write.partitionBy("year", "month", "day").csv(s"$base/csv")
    df.write.partitionBy("year", "month", "day").json(s"$base/json")
    val pm = PartitionManager(LocalDate.of(2019, 2, 1), 1)

    val csvReader = new PartitionedReader(spark, ReaderConfig(s"$base/csv", DataFormat.Csv))
    val csv = csvReader.read(pm)
    assert(csv.count() == 2) // schema-less csv: positional _c* columns + partition cols

    // format options flow through (csv header + schema inference)
    val headered = new PartitionedReader(spark, ReaderConfig(s"$base/csvh", DataFormat.Csv,
      options = Map("header" -> "true", "inferSchema" -> "true")))
    df.write.partitionBy("year", "month", "day").option("header", "true").csv(s"$base/csvh")
    val h = headered.read(pm)
    assert(h.count() == 2 && h.columns.contains("name"))

    val jsonReader = new PartitionedReader(spark, ReaderConfig(s"$base/json", DataFormat.Json))
    val json = jsonReader.read(pm)
    assert(json.count() == 2 && json.columns.contains("name"))
  }

  test("FixedVertexStore.load is idempotent (anti-join upsert)") {
    import spark.implicits._
    val path = tempDir("fixed") + "/store"
    val store = new FixedVertexStore(spark, path)
    val dim = Seq((1L, "similarity", "microlensing"), (2L, "similarity", "asteroids"))
      .toDF("id", "label", "recipe")
    store.load(dim)
    store.load(dim) // second load must not duplicate
    assert(store.read().count() == 2)
    store.load(Seq((3L, "similarity", "catalog")).toDF("id", "label", "recipe"))
    assert(store.read().count() == 3)
  }

  test("EdgeStore parallelism matches the reference's calculation (300000 -> 121)") {
    val store = new EdgeStore(spark, tempDir("edges"))
    // Ref: EdgeProcessorSpec getParallelism(300000) == 121 (SURVEY §5)
    assert(store.getParallelism(300000, taskSize = 2500, minParallelism = 100) == 121)
    assert(store.getParallelism(10, taskSize = 25000, minParallelism = 100) == 100)
  }

  test("bucketed edge table: src-keyed aggregation plans without an Exchange") {
    import spark.implicits._
    val store = new EdgeStore(spark, tempDir("edges-bucketed"))
    val edges = Seq((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2)).toDF("src", "dst", "propVal")
    store.writeBucketed(edges, "edges_bucket_spec", buckets = 4)
    val t = store.readBucketed("edges_bucket_spec")
    assert(t.count() == 3)
    val agg  = t.groupBy("src").count()
    val plan = agg.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"bucketed agg should not shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
    spark.sql("DROP TABLE IF EXISTS edges_bucket_spec")
  }

  test("EdgeStore.compact collapses appended small files, preserving rows") {
    import spark.implicits._
    val base  = tempDir("edges-compact")
    val store = new EdgeStore(spark, base)
    // three appends -> at least 3 files in the label dir
    (1 to 3).foreach { i =>
      store.write(Seq((i.toLong, i + 10L, 1)).toDF("src", "dst", "propVal"), "similarity")
    }
    def files(): Int = new java.io.File(s"$base/label=similarity")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    val before = store.read("similarity").collect().toSet
    assert(files() >= 3)
    store.compact("similarity") // tiny data -> 1 target file
    assert(files() == 1, "compaction should produce a single file here")
    assert(store.read("similarity").collect().toSet == before)
    store.compact("no_such_label") // missing label: no-op
  }

  test("IdManager.compactPartitions collapses per-partition files, preserving rows") {
    import spark.implicits._
    import graft.Alert
    val dataPath = tempDir("idm-compact")
    val mgr = new graft.ids.IdManager(spark, graft.ids.IdManagerConfig(dataPath, "t"))
    def alert(i: Int) = Alert.gen(i.toLong, s"obj$i", 0.1, 0.1, 0, 0.5f, "Unknown", None, None)
    mgr.process(Seq(alert(1), alert(2)).toDF().drop("id"))
    mgr.process(Seq(alert(3)).toDF().drop("id")) // same day -> second file
    val pm = graft.io.PartitionManager.forRange("2019-02-01", 1)
    val schema = Seq(alert(1)).toDF().drop("id").schema
    val before = mgr.readAll(schema).collect().map(_.getLong(0)).toSet
    val dir = pm.existingPaths(spark, s"$dataPath/t").head
    def files(): Int = new java.io.File(dir.stripPrefix("file:"))
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(files() >= 2)
    mgr.compactPartitions(pm)
    assert(files() == 1)
    assert(mgr.readAll(schema).collect().map(_.getLong(0)).toSet == before)
  }

  test("writeBucketed derives the bucket count from getParallelism when unset") {
    import spark.implicits._
    val store = new EdgeStore(spark, tempDir("edges-bucketed-auto"))
    val edges = Seq((1L, 2L, 1), (2L, 3L, 1)).toDF("src", "dst", "propVal")
    store.writeBucketed(edges, "edges_bucket_auto_spec") // buckets derived
    try {
      val catalog = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("edges_bucket_auto_spec"))
      // 2 edges, taskSize 25000 -> max(2/25000+1, 100) = 100 buckets
      assert(catalog.bucketSpec.exists(_.numBuckets == store.getParallelism(2)))
    } finally spark.sql("DROP TABLE IF EXISTS edges_bucket_auto_spec")
  }

  test("bucketed edge table: src-keyed JOIN plans without an Exchange on the edge side") {
    import spark.implicits._
    val store = new EdgeStore(spark, tempDir("edges-bucketed-join"))
    val edges = Seq((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2)).toDF("src", "dst", "propVal")
    store.writeBucketed(edges, "edges_bucket_join_spec", buckets = 4)
    val t = store.readBucketed("edges_bucket_join_spec")
    val vertices = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("src", "name")
    // force a shuffle join (broadcast would hide the bucketing benefit)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = t.join(vertices, "src")
      val p = joined.queryExecution.executedPlan.toString()
      // exactly one Exchange: the probe (vertices) side shuffles to match the
      // bucketing; the edge corpus itself is read in place — at 100 TB that
      // is the entire point of the bucketed layout
      val exchanges = p.linesIterator.count(_.trim.stripPrefix("+- ").stripPrefix(": ")
        .contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"expected 1 Exchange (probe side only), plan:\n$p")
      assert(p.contains("Bucketed: true"), p)
      assert(joined.count() == 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS edges_bucket_join_spec")
    }
  }

  test("mixed AND/OR expression: disjunct rewrite matches the literal theta-join") {
    import spark.implicits._
    val df = Seq(
      (1L, "n1", 0.95, "x"), (2L, "n1", 0.96, "y"), (3L, "n2", 0.1, "x"),
      (4L, "n2", 0.97, "z"), (5L, "n3", 0.99, "x")
    ).toDF("id", "grp", "rfscore", "other")
    val exp    = "(grp AND rfscore) OR other"
    val loaded = df.limit(0)
    val direct = literalThetaJoin(exp, loaded, df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rewritten = new SimilarityClassifier(SimilarityConfig(exp))
      .classify(loaded, df).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(direct == rewritten)
    assert(direct.nonEmpty)
    val plan = new SimilarityClassifier(SimilarityConfig(exp))
      .classify(loaded, df).queryExecution.executedPlan.toString()
    // the equality disjunct must hash-join; only the pure-range part may BNL
    assert(plan.contains("HashJoin"), plan)
  }

  test("OR-similarity union-of-equi-joins rewrite matches the theta-join classifier") {
    import spark.implicits._
    val df = Seq(
      (1L, "n1", 10.0), (2L, "n1", 20.0), (3L, "n2", 10.0), (4L, "n2", 20.0), (5L, "n3", 30.0)
    ).toDF("id", "grp", "score")
    val exp    = "grp OR score"
    val loaded = df.limit(0)
    val direct = literalThetaJoin(exp, loaded, df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val classified = new SimilarityClassifier(SimilarityConfig(exp)).classify(loaded, df)
    val rewrite = classified.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(direct == rewrite)
    assert(direct.nonEmpty)
    // and the classifier plans only equi-joins (no cartesian/BNL)
    val plan = classified.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  /** The reference's literal theta-join: the whole expression as one disjunct. */
  private def literalThetaJoin(exp: String, loaded: org.apache.spark.sql.DataFrame,
                               df: org.apache.spark.sql.DataFrame) = {
    val parsed = SimilarityExp.parse(exp)
    SimilarityClassifier.join(parsed, List(parsed.ast), loaded, df)
  }
}
