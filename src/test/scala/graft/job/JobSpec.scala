package graft.job

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.graft.TestSparkInternals.jobsStarted
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec
import graft.ids.IdManagerConfig
import graft.io.{ReaderConfig, RunLog}
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

  test("a rule that finds no edge reports 0, writes no rows, and neither throws nor blocks") {
    import spark.implicits._
    val work = tempDir("graft-job-empty")
    // no shared objectId, no rfscore > 0.9: `objectId OR rfscore` matches
    // nothing, on the first day (empty history) and on the second; the
    // exactmatch rule still links the two alerts of each day
    Seq(
      ("objA", 0.10, "AGN", 2019, 2, 1),
      ("objB", 0.20, "AGN", 2019, 2, 1),
      ("objC", 0.30, "QSO", 2019, 2, 2),
      ("objD", 0.40, "QSO", 2019, 2, 2)
    ).toDF("objectId", "rfscore", "cdsxmatch", "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(s"$work/raw")
    val cfg = config(work).copy(rules = config(work).rules.copy(
      similarity = Some(SimilarityConfig("objectId OR rfscore"))))
    val job = new GraftJob(spark, cfg)
    Seq("2019-02-01", "2019-02-02").foreach { day =>
      val r = Await.result(Future(job.process(day, 1)), 2.minutes)
      assert(r.vertexCount == 2, day)
      assert(r.edgeCounts == Map("similarity" -> 0L, "exactmatch" -> 2L), day)
    }
    val similarity = new java.io.File(s"$work/edges/label=similarity")
    if (similarity.exists) assert(spark.read.parquet(similarity.getPath).count() == 0)
    assert(spark.read.parquet(s"$work/edges/label=exactmatch").count() == 4)
  }

  test("one process day runs each rule as one execution (its write) and counts the batch once") {
    // SQL executions one day starts (tagged, so no other thread's work
    // counts), and the persisted RDDs it leaves
    def day(work: String, rules: List[String], date: String): (Seq[SparkListenerSQLExecutionStart], Set[Int]) = {
      val cfg = config(work)
      val job = new GraftJob(spark, cfg.copy(rules = cfg.rules.copy(rulesToApply = rules)))
      val tag  = s"jobspec-$date-${rules.size}"
      val seen = mutable.ArrayBuffer.empty[SparkListenerSQLExecutionStart]
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) => seen.synchronized { seen += s; () }
          case _ =>
        }
      }
      val before = spark.sparkContext.getPersistentRDDs.keySet
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.addJobTag(tag)
      try {
        job.process(date, 1)
        org.apache.spark.graft.TestSparkInternals.flushListenerBus(spark.sparkContext)
      } finally {
        spark.sparkContext.removeJobTag(tag)
        spark.sparkContext.removeSparkListener(listener)
      }
      (seen.synchronized(seen.toList), spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
    }
    def counts(execs: Seq[SparkListenerSQLExecutionStart]): Int =
      execs.count(_.description.startsWith("count at"))
    def labelWrites(execs: Seq[SparkListenerSQLExecutionStart]): Seq[String] =
      execs.flatMap(e => """/label=(\w+)""".r.findFirstMatchIn(e.physicalPlanDescription).map(_.group(1)))

    val (withRules, without) = (tempDir("graft-job-execs"), tempDir("graft-job-execs0"))
    val rules = config(withRules).rules.rulesToApply
    writeAlerts(s"$withRules/raw"); writeAlerts(s"$without/raw")
    Seq("2019-02-01", "2019-02-02").foreach { date =>
      val (execs, pinned)   = day(withRules, rules, date)
      val (execs0, pinned0) = day(without, Nil, date)
      assert(execs.size - execs0.size == rules.size,
        s"$date: each rule must add exactly one execution, got ${execs.size} vs ${execs0.size} without rules:\n" +
          execs.map(_.description).mkString("\n"))
      assert(labelWrites(execs).sorted == List("exactmatch", "similarity"), date)
      assert(counts(execs) == 0 && counts(execs0) == 0,
        s"$date: the batch is counted by its write and no rule's edges are counted apart from their write")
      assert(pinned.isEmpty && pinned0.isEmpty, s"$date: process left RDDs persisted: $pinned $pinned0")
    }
    // the latest day is one whole run: its delete only unlinks its files
    val deleteJobs = jobsStarted(spark.sparkContext)(new GraftJob(spark, config(withRules)).delete("2019-02-02", 1, clearOnDelete = true))
    assert(deleteJobs.isEmpty, s"deleting the latest day started Spark jobs: $deleteJobs")
  }

  // ---- the run log: re-runs and crashes -------------------------------------

  private class Boom extends RuntimeException("injected crash")

  /** Hooks that crash at `point`: `vertexWrite`, `rule:<label>` (after that
    * rule's write), `commit` (before the entry is written) or `publish`
    * (after the first file is published).
    */
  private def crashAt(point: String): RunLog.Hooks = new RunLog.Hooks {
    override def afterVertexWrite(): Unit          = if (point == "vertexWrite") throw new Boom
    override def afterRule(label: String): Unit    = if (point == s"rule:$label") throw new Boom
    override def beforeCommit(): Unit              = if (point == "commit") throw new Boom
    override def published(f: RunLog.FileRef): Unit = if (point == "publish") throw new Boom
  }

  /** Every stored row, ids included: the vertex table and each label. */
  private def snapshot(work: String): (Seq[String], Map[String, Seq[String]]) = {
    def rows(dir: String): Seq[String] =
      if (new java.io.File(dir).exists) spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq else Nil
    (rows(s"$work/ids/vertices"), List("similarity", "exactmatch").map(l => l -> rows(s"$work/edges/label=$l")).toMap)
  }

  /** A fresh store with the two-day input, and a job over it. */
  private def store(tag: String, hooks: RunLog.Hooks = RunLog.NoHooks): (String, GraftJob) = {
    val work = tempDir(tag)
    writeAlerts(s"$work/raw")
    (work, new GraftJob(spark, config(work), hooks))
  }

  private def cleanRun(ops: GraftJob => Unit): (Seq[String], Map[String, Seq[String]]) = {
    val (work, job) = store("graft-clean")
    ops(job)
    snapshot(work)
  }

  test("a re-run of a committed range is a no-op that returns the recorded result") {
    val want = cleanRun { j => j.process("2019-02-01", 1); j.process("2019-02-02", 1) }
    val (work, job) = store("graft-rerun")
    val r1 = job.process("2019-02-01", 1)
    val r2 = job.process("2019-02-02", 1)
    assert(job.process("2019-02-02", 1) == r2)
    assert(new GraftJob(spark, config(work)).process("2019-02-01", 1) == r1) // a new job reads the log
    assert(snapshot(work) == want)
    val overlap = intercept[IllegalStateException](job.process("2019-02-01", 2))
    assert(overlap.getMessage.contains("range 2019-02-01 1"), overlap.getMessage)
    assert(snapshot(work) == want)
  }

  Seq(
    "after the vertex write"   -> "vertexWrite",
    "between two rules"        -> "rule:similarity",
    "before the commit"        -> "commit",
    "after the commit, before publish completes" -> "publish"
  ).foreach { case (when, point) =>
    test(s"a load that crashes $when ends, once re-run, as one clean run") {
      val want = cleanRun { j => j.process("2019-02-01", 1); j.process("2019-02-02", 1) }
      val (work, job) = store("graft-crash")
      job.process("2019-02-01", 1)
      val day1 = snapshot(work)
      intercept[Boom](new GraftJob(spark, config(work), crashAt(point)).process("2019-02-02", 1))
      // nothing of the run is visible before its commit
      if (point != "publish") assert(snapshot(work) == day1, point)
      val r = new GraftJob(spark, config(work)).process("2019-02-02", 1)
      assert(r.vertexCount == 2)
      assert(snapshot(work) == want, point)
      assertNoStaging(work)
    }
  }

  // the latest day is one run (unlinked); day 1 is older (day 2's edge
  // files are rewritten without its rows)
  Seq("2019-02-02" -> "commit", "2019-02-02" -> "publish", "2019-02-01" -> "commit", "2019-02-01" -> "publish")
    .foreach { case (day, point) =>
      test(s"a delete of the run of $day that crashes at $point ends, once re-run, as one clean delete") {
        def ops(j: GraftJob): Unit = { j.process("2019-02-01", 1); j.process("2019-02-02", 1) }
        val want = cleanRun { j => ops(j); j.delete(day, 1, clearOnDelete = true); j.process(day, 1) }
        val (work, job) = store("graft-del-crash")
        ops(job)
        intercept[Boom](new GraftJob(spark, config(work), crashAt(point)).delete(day, 1, clearOnDelete = true))
        val again = new GraftJob(spark, config(work))
        again.delete(day, 1, clearOnDelete = true)
        again.process(day, 1)
        assert(snapshot(work) == want)
      }
    }

  /** The number of entries committed to the store's run log. */
  private def entries(work: String): Int =
    Option(new java.io.File(s"$work/ids/_runs").list()).fold(0)(_.count(!_.startsWith(".")))

  private def assertNoStaging(work: String): Unit = {
    val dirs = new java.io.File(s"$work/ids/vertices").list() ++ new java.io.File(s"$work/edges").list()
    assert(!dirs.exists(_.startsWith(".stage-")), s"staging left behind: ${dirs.mkString(" ")}")
  }

  // a compaction, and a delete of part of a run (its own second day), are
  // each one change of the log: one entry, and a crash before or during its
  // publish leaves either nothing of it or, once re-run, all of it
  Seq[(String, GraftJob => Unit, GraftJob => Unit)](
    ("a compaction", { j => j.process("2019-02-01", 1); j.process("2019-02-02", 1) }, _.compact("2019-02-01", 2)),
    ("a delete of one day of a two-day run", _.process("2019-02-01", 2), _.delete("2019-02-02", 1, clearOnDelete = true))
  ).foreach { case (what, setup, op) =>
    test(s"$what commits one log entry") {
      val (work, job) = store("graft-one-entry")
      setup(job)
      val before = entries(work)
      op(job)
      assert(entries(work) == before + 1)
    }
    Seq("commit", "publish").foreach { point =>
      test(s"$what that crashes at $point ends, once re-run, as one clean run") {
        val (work, job) = store("graft-rewrite-crash")
        setup(job)
        val before = snapshot(work)
        // the clean run starts from a copy: a multi-day run's ids follow
        // the order its input files are read in, which two stores need not share
        val clean = tempDir("graft-rewrite-clean")
        org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(work), new java.io.File(clean))
        op(new GraftJob(spark, config(clean)))
        val want = snapshot(clean)
        intercept[Boom](op(new GraftJob(spark, config(work), crashAt(point))))
        if (point == "commit") assert(snapshot(work) == before, "nothing of an uncommitted change is visible")
        op(new GraftJob(spark, config(work)))
        assert(snapshot(work) == want)
        assertNoStaging(work)
      }
    }
  }

  private def liveRuns(work: String): Seq[String] =
    new RunLog(spark, config(work).idManager, Some(config(work).edgeBasePath)).state().runs.values.flatMap(_.id).toSeq

  test("after a compaction, deleting the latest whole run goes through the log and equals a clean delete") {
    def ops(j: GraftJob): Unit = { j.process("2019-02-01", 1); j.process("2019-02-02", 1) }
    val want = cleanRun { j => ops(j); j.delete("2019-02-02", 1, clearOnDelete = true) }
    val (work, job) = store("graft-compact-del")
    ops(job)
    job.compact("2019-02-01", 2)
    job.delete("2019-02-02", 1, clearOnDelete = true)
    // a whole-run delete drops the run from the log; the full path would
    // keep it with its day marked deleted
    assert(liveRuns(work) == Seq("range 2019-02-01 1"))
    assert(snapshot(work) == want)
  }

  test("a log with a merge entry of an earlier version still replays; a delete after it equals a clean delete") {
    def ops(j: GraftJob): Unit = { j.process("2019-02-01", 1); j.process("2019-02-02", 1) }
    val want = cleanRun { j => ops(j); j.delete("2019-02-02", 1, clearOnDelete = true) }
    val (work, job) = store("graft-merge-log")
    ops(job)
    // what that version did before compacting: mark the runs merged, then
    // rewrite the label dirs outside the log
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f"$work/ids/_runs/${entries(work) + 1}%020d"),
      "kind\tmerge\ntarget\t1\n")
    List("similarity", "exactmatch").foreach { l =>
      val (dir, tmp) = (s"$work/edges/label=$l", s"$work/edges-tmp/label=$l")
      spark.read.parquet(dir).coalesce(1).write.parquet(tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      assert(new java.io.File(tmp).renameTo(new java.io.File(dir)))
    }
    val again = new GraftJob(spark, config(work))
    again.delete("2019-02-02", 1, clearOnDelete = true)
    assert(snapshot(work) == want)
    assert(entries(work) == 4)
  }

  test("a compaction fails fast while another caller holds the log's maintenance lock") {
    val (work, job) = store("graft-compact-lock")
    job.process("2019-02-01", 1)
    val before = (snapshot(work), entries(work))
    val runs = new org.apache.hadoop.fs.Path(s"$work/ids/_runs")
    graft.io.AtomicSwap.withMaintenanceLock(runs.getFileSystem(spark.sparkContext.hadoopConfiguration), runs) {
      intercept[graft.io.AtomicSwap.ConcurrentMaintenanceException](job.compact("2019-02-01", 1))
    }
    assert((snapshot(work), entries(work)) == before)
    job.compact("2019-02-01", 1)
    assert(snapshot(work) == before._1 && entries(work) == before._2 + 1)
  }

  test("repeating a completed delete starts no Spark job") {
    val (_, job) = store("graft-del-again")
    job.process("2019-02-01", 1)
    job.process("2019-02-02", 1)
    job.delete("2019-02-02", 1, clearOnDelete = true)
    val again = jobsStarted(spark.sparkContext)(job.delete("2019-02-02", 1, clearOnDelete = true))
    assert(again.isEmpty, s"repeating a delete started Spark jobs: $again")
  }

  test("delete the latest day, then re-process it: the new ids are above the old high-water") {
    val (work, job) = store("graft-del-ids")
    job.process("2019-02-01", 1)
    val r2 = job.process("2019-02-02", 1)
    job.delete("2019-02-02", 1, clearOnDelete = true)
    assert(snapshot(work)._1.size == 2)
    assert(job.process("2019-02-02", 1) == r2)
    val ids = spark.read.parquet(s"$work/ids/vertices").select("id", "day").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSet
    assert(ids == Set(101L -> 1, 102L -> 1, 105L -> 2, 106L -> 2))
    // the cross-day edge is back, on the new ids
    val sim = spark.read.parquet(s"$work/edges/label=similarity").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.exists { case (s, d) => s >= 105L && d <= 102L })
    assert(!sim.exists { case (s, d) => Set(103L, 104L)(s) || Set(103L, 104L)(d) })
  }

  /** The ERROR lines Spark's `ExecutionListenerBus` logs while `body` runs. */
  private def listenerErrors(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("listener-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("ExecutionListenerBus") && e.getLevel.isMoreSpecificThan(Level.ERROR))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    appender.start()
    root.addAppender(appender)
    try { body; org.apache.spark.graft.TestSparkInternals.flushListenerBus(spark.sparkContext) }
    finally root.removeAppender(appender)
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toList
  }

  test("a load onto a vertex table with no data file starts no failing Parquet read") {
    val (_, fresh) = store("graft-first-load")
    assert(listenerErrors(assert(fresh.process("2019-02-01", 1).vertexCount == 2)).isEmpty)
    val (_, emptied) = store("graft-emptied-load")
    emptied.process("2019-02-01", 1)
    emptied.delete("2019-02-01", 1, clearOnDelete = true)
    assert(listenerErrors(assert(emptied.process("2019-02-02", 1).vertexCount == 2)).isEmpty)
  }

  test("a run that loads 0 vertices neither blocks nor throws") {
    import spark.implicits._
    val (work, job) = store("graft-job-0v")
    Seq.empty[(String, Double, String)].toDF("objectId", "rfscore", "cdsxmatch")
      .coalesce(1).write.parquet(s"$work/raw/year=2019/month=2/day=3")
    job.process("2019-02-01", 1)
    val r = Await.result(Future(job.process("2019-02-03", 1)), 2.minutes)
    assert(r == JobResult(0L, Map("similarity" -> 0L, "exactmatch" -> 0L)))
    job.process("2019-02-02", 1)
    val ids = spark.read.parquet(s"$work/ids/vertices").select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(101L, 102L, 103L, 104L)) // the empty run used no id
    assert(Await.result(Future(job.process("2019-02-03", 1)), 2.minutes) == r) // and re-runs as a no-op
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

  test("compact on a never-loaded store is a no-op that commits nothing") {
    val work = tempDir("graft-compact-empty")
    new GraftJob(spark, config(work)).compact("2019-02-01", 1)
    assert(entries(work) == 0)
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
