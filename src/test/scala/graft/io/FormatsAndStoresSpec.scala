package graft.io

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.{EdgeStore, FixedVertexStore}
import graft.rules.{EdgeColumns, SimilarityClassifier, SimilarityConfig, SimilarityExp}

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

  /** Asserts every Parquet file under `dir` is sorted by `src`. */
  private def assertSortedBySrc(dir: String): Unit = {
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    files.foreach { f =>
      val src = spark.read.parquet(f.getPath).select("src").collect().map(_.getLong(0)).toSeq
      assert(src == src.sorted, s"${f.getName} is not sorted by src")
    }
  }

  test("EdgeStore.write returns the rows it appends (2n bidirectional) and sorts each file by src") {
    import spark.implicits._
    val base  = tempDir("edges-write")
    val store = new EdgeStore(spark, base)
    def stored(): Long =
      try store.read("sim").count() catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val edges = (1 to 200).map(i => ((i * 37 % 101).toLong, (i * 53 % 97 + 200).toLong, i % 5))
      .toDF(EdgeColumns.all: _*)
    // uncoalesced shuffle partitions: several files, each with many rows
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      Seq(true -> 400L, false -> 200L).foreach { case (bidirectional, want) =>
        val before = stored()
        assert(store.write(edges, "sim", bidirectional = bidirectional) == want, s"bidirectional=$bidirectional")
        assert(stored() - before == want, s"bidirectional=$bidirectional")
      }
      assert(store.write(edges.limit(0), "sim", bidirectional = true) == 0)
      assert(store.write(edges.where($"src" < 0), "sim") == 0)
      assert(stored() == 600)
    } finally spark.conf.set(coalesceKey, prev)
    assert(new java.io.File(s"$base/label=sim").listFiles().count(_.getName.endsWith(".parquet")) > 2)
    assertSortedBySrc(s"$base/label=sim")
  }

  test("EdgeStore.compact collapses appended small files, preserving rows") {
    import spark.implicits._
    val base  = tempDir("edges-compact")
    val store = new EdgeStore(spark, base)
    // three appends -> at least 3 files in the label dir, each sorted by
    // src, their concatenation not
    Seq(Seq(5L, 50L, 500L), Seq(1L, 40L, 400L), Seq(3L, 30L, 300L)).foreach { srcs =>
      store.write(srcs.map(s => (s, s + 1, 1)).toDF("src", "dst", "propVal"), "similarity")
    }
    def files(dir: String): Seq[String] = new java.io.File(dir)
      .listFiles().map(_.getPath).filter(_.endsWith(".parquet")).toSeq
    val before = store.read("similarity").collect().toSet
    assert(files(s"$base/label=similarity").size >= 3)
    val out = s"$base/compacted"
    store.compact(files(s"$base/label=similarity"), 1, out) // tiny data -> 1 target file
    assert(files(out).size == 1, "compaction should produce a single file here")
    assert(spark.read.parquet(out).collect().toSet == before)
    assertSortedBySrc(out)
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
    def files(dir: String): Seq[String] = new java.io.File(dir.stripPrefix("file:"))
      .listFiles().map(_.getPath).filter(_.endsWith(".parquet")).toSeq
    assert(files(dir).size >= 2)
    val out = s"$dataPath/compacted"
    mgr.compactPartitions(files(dir), 1, out)
    assert(files(out).size == 1)
    assert(spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSet == before)
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

  /** The stores one load writes: a vertex table partitioned by
    * `year/month/day`, three edge labels whose `propVal` is int, string and
    * double, and raw alert input under zero-padded `month=02` dirs.
    */
  private def stores(): (String, graft.ids.IdManager, String, String) = {
    import spark.implicits._
    import graft.Alert
    val base = tempDir("parquet-stores")
    def alert(i: Int) = Alert.gen(i.toLong, s"obj$i", 0.1 * i, 0.1, i, 0.5f, "Unknown", Some("ML"), None)
    val raw = Seq(alert(1), alert(2), alert(3)).toDF().drop("id", "year", "month", "day")
    raw.write.parquet(s"$base/raw/year=2019/month=02/day=01")
    raw.write.parquet(s"$base/raw/year=2019/month=02/day=02")
    val mgr = new graft.ids.IdManager(spark, graft.ids.IdManagerConfig(s"$base/vertices", "t"))
    mgr.process(Seq(alert(1), alert(2)).toDF().drop("id"))
    mgr.process(Seq(alert(3)).toDF().drop("id").withColumn("day", lit(2)))
    val edges = new EdgeStore(spark, s"$base/edges")
    edges.write(Seq((1L, 2L, 1)).toDF(EdgeColumns.all: _*), "similarity", bidirectional = true)
    edges.write(Seq((1L, 3L, "obj1")).toDF(EdgeColumns.all: _*), "exactmatch")
    edges.write(Seq((2L, 3L, 0.5)).toDF(EdgeColumns.all: _*), "satr")
    (base, mgr, s"$base/vertices/t", s"$base/edges")
  }

  test("Parquet.read: footer schemas equal Spark's inferred schemas for every store shape") {
    val (base, _, vertexTable, edgeBase) = stores()
    def same(what: String, paths: String*): Unit = {
      val mine = Parquet.read(spark, paths: _*).schema
      assert(mine == spark.read.parquet(paths: _*).schema, s"$what: $mine")
    }
    same("vertex table", vertexTable)
    assert(Parquet.read(spark, vertexTable).columns.takeRight(3).toSeq == Seq("year", "month", "day"))
    Map("similarity" -> "int", "exactmatch" -> "string", "satr" -> "double").foreach { case (l, t) =>
      same(l, s"$edgeBase/label=$l")
      assert(Parquet.read(spark, s"$edgeBase/label=$l").schema(EdgeColumns.PropVal).dataType.simpleString == t, l)
    }
    same("raw input, padded dirs", s"$base/raw")
    val pm = PartitionManager(LocalDate.of(2019, 2, 1), 2)
    val paths = pm.existingPaths(spark, s"$base/raw")
    assert(paths.size == 2 && paths.forall(_.contains("month=02")))
    assert(new PartitionedReader(spark, ReaderConfig(s"$base/raw")).read(pm).schema ==
      spark.read.option("basePath", s"$base/raw").parquet(paths: _*).schema)
    val files = new java.io.File(s"$edgeBase/label=similarity").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.nonEmpty)
    same("file list", files: _*)
    // no data file: Spark's inference, and its AnalysisException
    intercept[org.apache.spark.sql.AnalysisException](Parquet.read(spark, s"$base/no_such_dir"))
    new java.io.File(s"$base/empty/_SUCCESS").getParentFile.mkdirs()
    new java.io.File(s"$base/empty/_SUCCESS").createNewFile()
    intercept[org.apache.spark.sql.AnalysisException](Parquet.read(spark, s"$base/empty"))
    // files of two schemas: the first file's wins, as in Spark's inference;
    // merging them needs every footer and is left to Spark, by option or conf
    import spark.implicits._
    val evolving = s"$base/evolving"
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$evolving/day=1")
    Seq((2L, "b", 0.9)).toDF("id", "v", "quality").write.parquet(s"$evolving/day=2")
    same("two schemas", evolving)
    assert(!Parquet.read(spark, evolving).columns.contains("quality"))
    assert(Parquet.read(spark, Map("mergeSchema" -> "true"), Seq(evolving)).columns.contains("quality"))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try assert(Parquet.read(spark, evolving).columns.contains("quality"))
    finally spark.conf.unset(key)
  }

  test("no store read starts a Spark job: building a read and taking its schema is driver-only") {
    val (base, mgr, vertexTable, edgeBase) = stores()
    val edges  = new EdgeStore(spark, edgeBase)
    val reader = new PartitionedReader(spark, ReaderConfig(s"$base/raw"))
    val reads = Map[String, () => Any](
      "EdgeStore.read"        -> (() => Seq("similarity", "exactmatch", "satr").map(edges.read(_).schema)),
      "IdManager.readAll"     -> (() => mgr.readAll(new org.apache.spark.sql.types.StructType()).schema),
      "PartitionedReader.read" -> (() => reader.read(PartitionManager(LocalDate.of(2019, 2, 1), 2)).schema),
      "SchemaInfo.describe"   -> (() => graft.meta.SchemaInfo.describe(spark, vertexTable, edgeBase)))
    val started = reads.map { case (what, read) =>
      what -> org.apache.spark.graft.TestSparkInternals.jobsStarted(spark.sparkContext)(read())
    }
    assert(started.values.forall(_.isEmpty), started.collect {
      case (what, jobs) if jobs.nonEmpty => s"$what started ${jobs.size} Spark job(s): ${jobs.mkString(", ")}"
    }.mkString("; "))
  }

  /** The reference's literal theta-join: the whole expression as one disjunct. */
  private def literalThetaJoin(exp: String, loaded: org.apache.spark.sql.DataFrame,
                               df: org.apache.spark.sql.DataFrame) = {
    val parsed = SimilarityExp.parse(exp)
    SimilarityClassifier.join(parsed, List(parsed.ast), loaded, df)
  }
}
