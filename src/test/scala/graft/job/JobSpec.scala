package graft.job

import graft.SparkSpec
import graft.ids.IdManagerConfig
import graft.io.ReaderConfig
import graft.meta.SchemaInfo
import graft.rules.{SameValueSimilarityConfig, SimilarityConfig}

class JobSpec extends SparkSpec {

  private def writeAlerts(dir: String): Unit = {
    import spark.implicits._
    Seq(
      ("objA", 0.95, "C*", 2019, 2, 1),
      ("objB", 0.20, "Unknown", 2019, 2, 1),
      ("objA", 0.99, "C*", 2019, 2, 2),
      ("objC", 0.10, "AGN", 2019, 2, 2)
    ).toDF("objectId", "rfscore", "cdsxmatch", "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(dir)
  }

  private def config(work: String): GraftConfig = GraftConfig(
    reader = ReaderConfig(s"$work/raw"),
    idManager = IdManagerConfig(s"$work/ids", "vertices", reservedIdSpace = 100),
    edgeBasePath = s"$work/edges",
    rules = RulesConfig(
      rulesToApply = List("similarityClassifier", "sameValueClassifier"),
      similarity = Some(SimilarityConfig("objectId OR cdsxmatch")),
      sameValue = Some(SameValueSimilarityConfig(List("cdsxmatch")))
    )
  )

  test("two sequential runs: ids continue, cross-day edges appear, delete cleans up") {
    val work = tempDir("graft-job")
    writeAlerts(s"$work/raw")
    val job = new GraftJob(spark, config(work))

    val r1 = job.process("2019-02-01", 1)
    assert(r1.vertexCount == 2)
    // JobResult counts are PER RUN (stored rows: ×2 bidirectional), not the
    // cumulative store size — and the store is never re-read to produce them
    val sim1 = spark.read.parquet(s"$work/edges/label=similarity").count()
    assert(r1.edgeCounts("similarity") == sim1)

    val r2 = job.process("2019-02-02", 1)
    assert(r2.vertexCount == 2)
    val simAll = spark.read.parquet(s"$work/edges/label=similarity").count()
    assert(r2.edgeCounts("similarity") == simAll - sim1,
      s"run-2 count must be run 2's edges only (got ${r2.edgeCounts("similarity")}, store grew by ${simAll - sim1})")

    // the two objA vertices (one per day) must be linked: same objectId.
    // Ids are dense 101..104 but intra-day order follows partition order —
    // resolve the actual ids instead of hardcoding.
    val ids = spark.read.parquet(s"$work/ids/vertices")
      .select("id", "objectId", "day").collect()
      .map(r => (r.getString(1), r.getInt(2)) -> r.getLong(0)).toMap
    assert(ids.values.toSet == Set(101L, 102L, 103L, 104L))
    val objA1 = ids(("objA", 1)); val objA2 = ids(("objA", 2))
    val simEdges = spark.read.parquet(s"$work/edges/label=similarity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simEdges.contains((objA2, objA1)) && simEdges.contains((objA1, objA2))) // bidirectional

    // metadata surface sees both stores
    val info = SchemaInfo.describe(spark, s"$work/ids/vertices", s"$work/edges")
    assert(info.edgeLabels == List("exactmatch", "similarity"))
    assert(info.vertexPropertyKeys.exists(p => p.name == "id" && p.dataType == "bigint"))
    assert(SchemaInfo.toJson(info).contains("\"edgeLabels\":[\"exactmatch\",\"similarity\"]"))

    // delete day 2: vertices gone, incident edges gone
    job.delete("2019-02-02", 1, clearOnDelete = true)
    val left = spark.read.parquet(s"$work/ids/vertices").select("id").collect().map(_.getLong(0)).toSet
    assert(left == Set(101L, 102L))
    val simLeft = spark.read.parquet(s"$work/edges/label=similarity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!simLeft.exists { case (s, d) => s >= 103L || d >= 103L })
  }

  test("loadedDays covering all history produces identical edges to a full re-read") {
    // two identical stores, run day 1 then day 2 — one with the loaded side
    // range-restricted (2 days covers everything), one with full history.
    // Same edges ⇒ the pruned path is a pure optimization of the reference
    // semantics whenever the range covers the join partners.
    def run(loadedDays: Option[Int]): Set[(Long, Long, String)] = {
      val work = tempDir("graft-job-range")
      writeAlerts(s"$work/raw")
      val job = new GraftJob(spark, config(work).copy(loadedDays = loadedDays))
      job.process("2019-02-01", 1)
      job.process("2019-02-02", 1)
      spark.read.parquet(s"$work/edges/label=similarity")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
    }
    val pruned = run(Some(2))
    val full   = run(None)
    assert(pruned == full && pruned.nonEmpty)
  }

  test("loadedDays=1 excludes older history from the loaded join side") {
    val work = tempDir("graft-job-range1")
    writeAlerts(s"$work/raw")
    val job = new GraftJob(spark, config(work).copy(loadedDays = Some(1)))
    job.process("2019-02-01", 1)
    // day 2 restricted to 1 loaded day (= day 2 itself): the cross-day objA
    // similarity edge must NOT appear — day 1's vertices are pruned out
    val r2 = job.process("2019-02-02", 1)
    val ids = spark.read.parquet(s"$work/ids/vertices")
      .select("id", "objectId", "day").collect()
      .map(r => (r.getString(1), r.getInt(2)) -> r.getLong(0)).toMap
    val objA1 = ids(("objA", 1)); val objA2 = ids(("objA", 2))
    val simEdges = spark.read.parquet(s"$work/edges/label=similarity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!simEdges.contains((objA2, objA1)),
      "cross-day edge should be pruned when loadedDays excludes day 1")
    // ids still continued from the full-table max despite the restriction
    assert(ids.values.toSet == Set(101L, 102L, 103L, 104L))
    assert(r2.vertexCount == 2)
  }

  test("CLI main runs the load job end to end") {
    val work = tempDir("graft-cli")
    writeAlerts(s"$work/raw")
    // getOrCreate reuses the suite session; CLI wiring is what's under test
    Main.main(Array(
      "--base-path", s"$work/raw", "--id-path", s"$work/ids", "--edge-path", s"$work/edges",
      "--startdate", "2019-02-01", "--duration", "2",
      "--rules", "similarityClassifier", "--similarity-exp", "objectId"))
    assert(spark.read.parquet(s"$work/ids/vertices").count() == 4)
    assert(spark.read.parquet(s"$work/edges/label=similarity").count() > 0)
  }

  test("CLI --config runs the job from a HOCON file, flags overriding") {
    val work = tempDir("graft-cli-conf")
    writeAlerts(s"$work/raw")
    val confPath = s"$work/job.conf"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(confPath),
      s"""reader { basePath = "$work/raw" }
         |idManager { spark { dataPath = "/overridden/by/flag", reservedIdSpace = 100 } }
         |edgeStore { basePath = "$work/edges" }
         |edgeLoader {
         |  rulesToApply = ["similarityClassifier"]
         |  rules { similarityClassifier { similarityExp = "objectId" } }
         |}
         |""".stripMargin)
    Main.main(Array(
      "--config", confPath,
      "--id-path", s"$work/ids", // flag overrides the file's dataPath
      "--startdate", "2019-02-01", "--duration", "2"))
    assert(spark.read.parquet(s"$work/ids/vertices").count() == 4)
    assert(spark.read.parquet(s"$work/edges/label=similarity").count() > 0)
  }

  test("CLI --config carries the file's loadedDays into the job") {
    val work = tempDir("graft-cli-conf-range")
    writeAlerts(s"$work/raw")
    val confPath = s"$work/job.conf"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(confPath),
      s"""reader { basePath = "$work/raw" }
         |idManager { spark { dataPath = "$work/ids", reservedIdSpace = 100 } }
         |edgeStore { basePath = "$work/edges" }
         |edgeLoader {
         |  loadedDays = 1
         |  rulesToApply = ["similarityClassifier"]
         |  rules { similarityClassifier { similarityExp = "objectId" } }
         |}
         |""".stripMargin)
    Main.main(Array("--config", confPath, "--startdate", "2019-02-01"))
    Main.main(Array("--config", confPath, "--startdate", "2019-02-02"))
    val ids = spark.read.parquet(s"$work/ids/vertices")
      .select("id", "objectId", "day").collect()
      .map(r => (r.getString(1), r.getInt(2)) -> r.getLong(0)).toMap
    val simEdges = spark.read.parquet(s"$work/edges/label=similarity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!simEdges.contains((ids(("objA", 2)), ids(("objA", 1)))),
      "file-level loadedDays must prune the cross-day edge through the CLI path")
  }

  test("CLI --loaded-days overrides the file's horizon") {
    val work = tempDir("graft-cli-loaded-days")
    writeAlerts(s"$work/raw")
    val confPath = s"$work/job.conf"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(confPath),
      s"""reader { basePath = "$work/raw" }
         |idManager { spark { dataPath = "$work/ids", reservedIdSpace = 100 } }
         |edgeStore { basePath = "$work/edges" }
         |edgeLoader {
         |  loadedDays = 2
         |  rulesToApply = ["similarityClassifier"]
         |  rules { similarityClassifier { similarityExp = "objectId" } }
         |}
         |""".stripMargin)
    Main.main(Array("--config", confPath, "--startdate", "2019-02-01"))
    Main.main(Array("--config", confPath, "--startdate", "2019-02-02", "--loaded-days", "1"))
    val ids = spark.read.parquet(s"$work/ids/vertices")
      .select("id", "objectId", "day").collect()
      .map(r => (r.getString(1), r.getInt(2)) -> r.getLong(0)).toMap
    val simEdges = spark.read.parquet(s"$work/edges/label=similarity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!simEdges.contains((ids(("objA", 2)), ids(("objA", 1)))),
      "--loaded-days 1 must prune the cross-day edge the file's 2-day horizon would keep")
  }

  test("CLI --compact collapses appended files for the date range") {
    val work = tempDir("graft-cli-compact")
    writeAlerts(s"$work/raw")
    val job = new GraftJob(spark, config(work))
    job.process("2019-02-01", 1)
    job.process("2019-02-02", 1) // second run appends more vertex files
    val before = spark.read.parquet(s"$work/ids/vertices").count()
    Main.main(Array(
      "--compact",
      "--base-path", s"$work/raw", "--id-path", s"$work/ids", "--edge-path", s"$work/edges",
      "--startdate", "2019-02-01", "--duration", "2",
      "--rules", "similarityClassifier", "--similarity-exp", "objectId"))
    assert(spark.read.parquet(s"$work/ids/vertices").count() == before)
    val simDir = new java.io.File(s"$work/edges/label=similarity")
    assert(simDir.listFiles().count(_.getName.endsWith(".parquet")) == 1)
  }

  test("delete on a never-loaded store is a no-op") {
    val work = tempDir("graft-del")
    new GraftJob(spark, config(work)).delete("2019-02-01", 1, clearOnDelete = true)
  }

  test("CLI bare flags parse positionally: --delete before value options") {
    val work = tempDir("graft-cli-flags")
    writeAlerts(s"$work/raw")
    // a bare flag FIRST must not misalign the key/value pairing
    Main.main(Array(
      "--delete",
      "--base-path", s"$work/raw", "--id-path", s"$work/ids", "--edge-path", s"$work/edges",
      "--startdate", "2019-02-01", "--rules", "similarityClassifier",
      "--similarity-exp", "objectId"))
    // delete on an empty store is a no-op; reaching here means parsing held
  }

  test("CLI strictness: dangling, unknown, and value-swallowing options fail fast") {
    // trailing option with no value — previously silently dropped
    val dangling = intercept[IllegalArgumentException] {
      Main.main(Array("--base-path", "p", "--startdate"))
    }
    assert(dangling.getMessage.contains("--startdate"))
    // unknown option
    val unknown = intercept[IllegalArgumentException] {
      Main.main(Array("--base-path", "p", "--startdate", "2019-02-01", "--bogus", "x"))
    }
    assert(unknown.getMessage.contains("--bogus"))
    // an option swallowing the next option as its value
    val swallowed = intercept[IllegalArgumentException] {
      Main.main(Array("--base-path", "--startdate", "2019-02-01", "x"))
    }
    assert(swallowed.getMessage.contains("--base-path"))
    // missing required --startdate
    val missing = intercept[IllegalArgumentException] {
      Main.main(Array("--base-path", "p", "--id-path", "q", "--edge-path", "r"))
    }
    assert(missing.getMessage.contains("--startdate"))
  }

  test("unknown rule name fails fast; missing rule config fails fast") {
    val work = tempDir("graft-job2")
    val bad  = config(work).copy(rules = RulesConfig(rulesToApply = List("nope")))
    assertThrows[IllegalArgumentException](new GraftJob(spark, bad).buildRules())
    val noCfg = config(work).copy(rules = RulesConfig(rulesToApply = List("twoModeClassifier")))
    assertThrows[IllegalArgumentException](new GraftJob(spark, noCfg).buildRules())
  }

  test("reference config-key typo 'similarityClassifer' is accepted") {
    val work = tempDir("graft-job3")
    val cfg = config(work).copy(rules = RulesConfig(
      rulesToApply = List("similarityClassifer"),
      similarity = Some(SimilarityConfig("objectId"))))
    assert(new GraftJob(spark, cfg).buildRules().size == 1)
  }
}
