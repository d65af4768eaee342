package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SaveMode

import graft.SparkSpec
import graft.graph.EdgeStore
import graft.ids.IdManagerConfig
import graft.rules.EdgeColumns

/** Crash-safety of the two commit protocols of on-disk stores: the
  * rename-aside swap of [[AtomicSwap]] (index and clustered stores), with
  * a crash injected at every step boundary of [[AtomicSwap.swapIn]], and
  * the run log's rewrite ([[RunLog.rewrite]]) that the load job's
  * compaction and delete commit through. Each asserts that a complete copy
  * of the store's rows survives, scratch and staging dirs stay invisible,
  * and the next maintenance call heals whatever dangled.
  */
class AtomicSwapSpec extends SparkSpec {

  private case class Boom(step: String) extends RuntimeException(step)

  private def crashAt(step: String): AtomicSwap.Hooks = new AtomicSwap.Hooks {
    override def beforeAside(): Unit   = if (step == "aside") throw Boom(step)
    override def beforeSwapIn(): Unit  = if (step == "swapIn") throw Boom(step)
    override def beforeCleanup(): Unit = if (step == "cleanup") throw Boom(step)
  }

  private def fs: FileSystem = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def edges(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, (i + 100).toLong, 1)).toDF(EdgeColumns.all: _*)
  }

  private def rows(store: EdgeStore): Set[Long] =
    store.read("sim").select(EdgeColumns.Src).collect().map(_.getLong(0)).toSet

  // ---- AtomicSwap on a plain Parquet dir -------------------------------------

  /** A plain Parquet dir of 10 edges, and its src set. */
  private def plainDir(tag: String): (Path, Set[Long]) = {
    val dir = new Path(s"${tempDir(tag)}/data")
    edges(10).write.parquet(dir.toString)
    (dir, srcs(dir))
  }

  private def srcs(dir: Path): Set[Long] =
    spark.read.parquet(dir.toString).select(EdgeColumns.Src).collect().map(_.getLong(0)).toSet

  /** One maintenance rewrite of `dir` into a single file under its lock:
    * heal, write the scratch copy, swap it in.
    */
  private def rewriteDir(dir: Path, hooks: AtomicSwap.Hooks = AtomicSwap.NoHooks): Unit =
    AtomicSwap.withMaintenanceLock(fs, dir) {
      AtomicSwap.heal(fs, dir)
      spark.read.parquet(dir.toString).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(AtomicSwap.scratch(dir).toString)
      AtomicSwap.swapIn(fs, dir, hooks)
    }

  test("crash before rename-aside leaves the live store untouched") {
    val (dir, before) = plainDir("swap-a")
    intercept[Boom] { rewriteDir(dir, crashAt("aside")) }
    assert(srcs(dir) == before)
    // the scratch orphan is dot-prefixed: a fresh read never lists it
    rewriteDir(dir) // next maintenance completes and cleans up
    assert(srcs(dir) == before)
  }

  test("crash between renames: live name dangles but the aside copy is complete; next call heals") {
    val (dir, before) = plainDir("swap-b")
    intercept[Boom] { rewriteDir(dir, crashAt("swapIn")) }
    // the pre-swap copy survives in full in the aside dir
    val aside = new Path(dir.getParent, ".data.old")
    assert(!fs.exists(dir) && fs.exists(aside), "aside dir must hold the complete pre-swap copy")
    assert(spark.read.parquet(aside.toString).count() == 10)
    // the next maintenance call heals first, then completes normally
    rewriteDir(dir)
    assert(srcs(dir) == before)
  }

  test("crash after rename-in: the NEW store is live; the orphan is invisible and cleaned later") {
    val (dir, before) = plainDir("swap-c")
    intercept[Boom] { rewriteDir(dir, crashAt("cleanup")) }
    assert(srcs(dir) == before, "new store must already be live")
    assert(fs.exists(new Path(dir.getParent, ".data.old")))
    rewriteDir(dir) // cleans the leftover aside dir
    assert(srcs(dir) == before)
    assert(!fs.exists(new Path(dir.getParent, ".data.old")))
  }

  test("concurrent maintenance on one dir fails fast instead of interleaving") {
    val (dir, before) = plainDir("swap-lock")
    // writer A holds the lock; writer B's rewrite must refuse up front —
    // before touching scratch or aside dirs
    AtomicSwap.withMaintenanceLock(fs, dir) {
      val ex = intercept[AtomicSwap.ConcurrentMaintenanceException] { rewriteDir(dir) }
      assert(ex.getMessage.contains("lock"), ex.getMessage)
      assert(srcs(dir) == before, "refused maintenance must not have touched the store")
      assert(!fs.exists(AtomicSwap.scratch(dir)))
    }
    // lock released on A's exit: maintenance proceeds again
    rewriteDir(dir)
    assert(srcs(dir) == before)
  }

  test("the maintenance lock is released when the body fails (crashed-swap heal still works)") {
    val (dir, before) = plainDir("swap-lock-rel")
    intercept[Boom] { rewriteDir(dir, crashAt("swapIn")) }
    assert(!fs.exists(AtomicSwap.lockPath(dir)), "lock must not outlive the failed call")
    rewriteDir(dir) // heals and completes — not blocked by a stale lock
    assert(srcs(dir) == before)
  }

  // ---- the run log's rewrite: restricted delete and compaction -------------

  private def logCrashAt(point: String): RunLog.Hooks = new RunLog.Hooks {
    override def beforeCommit(): Unit               = if (point == "commit") throw Boom(point)
    override def published(f: RunLog.FileRef): Unit = if (point == "publish") throw Boom(point)
  }

  private def runLog(base: String, hooks: RunLog.Hooks = RunLog.NoHooks): RunLog =
    new RunLog(spark, IdManagerConfig(s"$base/ids", "vertices"), Some(s"$base/edges"), hooks)

  /** The full delete's edge side on label `sim`, committed through the log
    * as [[graft.job.GraftJob.delete]] commits it.
    */
  private def restrictedDelete(base: String, store: EdgeStore, ids: Seq[Long],
      hooks: RunLog.Hooks = RunLog.NoHooks, afterWrite: () => Unit = () => ()): Unit = {
    import spark.implicits._
    val log = runLog(base, hooks)
    log.rewrite(RunLog.Delete) { seq =>
      val names = store.deleteForVerticesRestricted("sim", ids.toDF("id"), s"${log.stageDir(RunLog.Edges, seq)}/label=sim")
      afterWrite()
      (names.map(n => RunLog.FileRef(RunLog.Edges, s"label=sim/$n")), Nil)
    }
  }

  /** The edge side of [[graft.job.GraftJob.compact]] on label `sim`. */
  private def compactSim(base: String, store: EdgeStore): Unit = {
    val log = runLog(base)
    log.rewrite(RunLog.Compact) { seq =>
      val files = log.liveFiles(RunLog.Edges, "label=sim")
      store.compact(files.map(log.pathOf), 1, s"${log.stageDir(RunLog.Edges, seq)}/label=sim")
      (files, Nil)
    }
  }

  /** Every part file of label `sim`, with its bytes. */
  private def partFiles(base: String): Map[String, Seq[Byte]] =
    fs.listStatus(new Path(s"$base/edges/label=sim")).map(_.getPath).filter(_.getName.startsWith("part-"))
      .map(p => p.getName -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.toUri)).toSeq).toMap

  test("restricted delete rewrites only the files holding incident edges") {
    import spark.implicits._
    val base  = tempDir("rdel-a")
    val store = new EdgeStore(spark, s"$base/edges")
    // three append batches → three disjoint file groups
    store.write((1 to 10).map(i => (i.toLong, (i + 100).toLong, 1)).toDF(EdgeColumns.all: _*), "sim")
    val filesA = partFiles(base)
    store.write((21 to 30).map(i => (i.toLong, (i + 100).toLong, 1)).toDF(EdgeColumns.all: _*), "sim")
    val filesB = partFiles(base) -- filesA.keySet
    store.write((41 to 50).map(i => (i.toLong, (i + 100).toLong, 1)).toDF(EdgeColumns.all: _*), "sim")
    val filesC = partFiles(base) -- filesA.keySet -- filesB.keySet
    assert(filesA.nonEmpty && filesB.nonEmpty && filesC.nonEmpty)

    // doom vertices living only in batch A (src 1,2 and dst 105)
    restrictedDelete(base, store, Seq(1L, 2L, 105L))
    val after = partFiles(base)
    assert((filesB ++ filesC).forall { case (n, bytes) => after.get(n).contains(bytes) },
      s"untouched batches' files must survive byte-identical: missing ${(filesB ++ filesC).keySet -- after.keySet}")
    assert((filesA.keySet intersect after.keySet).isEmpty,
      s"batch A's originals must be replaced: ${filesA.keySet intersect after.keySet}")
    assert(rows(store) == ((3L to 10L).toSet - 5L) ++ (21L to 30L) ++ (41L to 50L),
      s"got ${rows(store)}")

    // no incident edges anywhere → nothing is rewritten at all
    val stable = partFiles(base)
    restrictedDelete(base, store, Seq(9999L))
    assert(partFiles(base) == stable, "a no-op delete must not touch any file")
  }

  test("restricted delete ≡ full-rewrite delete on the same store") {
    import spark.implicits._
    val base  = tempDir("rdel-eq")
    val store = new EdgeStore(spark, s"$base/edges")
    store.write(edges(30), "sim")
    store.write((31 to 60).map(i => (i.toLong, (i % 7).toLong, 1)).toDF(EdgeColumns.all: _*), "sim")
    def all() = store.read("sim").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val doomed = Set(3L, 4L, 40L, 133L)
    val want = all().filterNot { case (s, d) => doomed(s) || doomed(d) }
    restrictedDelete(base, store, doomed.toSeq)
    assert(all() == want, s"restricted=${all().size} full=${want.size}")
  }

  test("restricted delete: crash before the commit marker rolls back completely") {
    val base  = tempDir("rdel-b")
    val store = new EdgeStore(spark, s"$base/edges")
    store.write(edges(10), "sim")
    val before      = rows(store)
    val filesBefore = partFiles(base)
    // the survivors are written, but the log entry (the commit) is not
    Seq[(String, RunLog.Hooks, () => Unit)](
      ("write", RunLog.NoHooks, () => throw Boom("write")),
      ("commit", logCrashAt("commit"), () => ())
    ).foreach { case (step, hooks, afterWrite) =>
      intercept[Boom] { restrictedDelete(base, store, Seq(1L, 2L), hooks, afterWrite) }
      assert(rows(store) == before, s"crash at $step must leave the live rows untouched")
      assert(partFiles(base) == filesBefore, s"crash at $step must leave the live files untouched")
    }
    // the next call heals (rollback) then completes
    restrictedDelete(base, store, Seq(1L, 2L))
    assert(rows(store) == (3L to 10L).toSet)
    assert(!fs.listStatus(new Path(s"$base/edges")).exists(_.getPath.getName.startsWith(".stage-")))
  }

  test("restricted delete: crash after the commit marker rolls forward on the next maintenance call") {
    val base  = tempDir("rdel-c")
    val store = new EdgeStore(spark, s"$base/edges")
    store.write(edges(10), "sim")
    intercept[Boom] { restrictedDelete(base, store, Seq(1L, 2L), logCrashAt("publish")) }
    // committed but not fully published: the next maintenance call must
    // finish the delete, not resurrect rows
    restrictedDelete(base, store, Seq(1L, 2L))
    assert(rows(store) == (3L to 10L).toSet, s"got ${rows(store)}")
    // and compaction also finishes a committed delete before rewriting
    intercept[Boom] { restrictedDelete(base, store, Seq(3L), logCrashAt("publish")) }
    compactSim(base, store)
    assert(rows(store) == (4L to 10L).toSet, s"got ${rows(store)}")
    assert(store.read("sim").count() == 7)
  }

  test("IdManager.compactPartitions heals a partition that crashed mid-swap") {
    import spark.implicits._
    val dir = tempDir("swap-e")
    val cfg = IdManagerConfig(dir, "t", reservedIdSpace = 0)
    val mgr = new graft.ids.IdManager(spark, cfg)
    val alerts = (1 to 6).map(i =>
      graft.Alert.gen(i.toLong, s"obj$i", 0.1, 0.1, 0, 0.5f, "Unknown", None, None))
    mgr.process(alerts.take(3).toDF().drop("id"))
    mgr.process(alerts.drop(3).toDF().drop("id")) // same day: a second file
    val pm = PartitionManager.forRange("2019-02-01", 1)
    def compact(hooks: RunLog.Hooks): Unit = {
      val log = new RunLog(spark, cfg, None, hooks)
      log.rewrite(RunLog.Compact) { seq =>
        val files = log.vertexFiles(pm)
        files.groupBy(f => f.path.take(f.path.lastIndexOf('/'))).foreach { case (rel, inDir) =>
          mgr.compactPartitions(inDir.map(log.pathOf), 1, s"${log.stageDir(RunLog.Vertices, seq)}/$rel")
        }
        (files, Nil)
      }
    }
    // the compacted file is in, the originals not yet unlinked
    intercept[Boom] { compact(logCrashAt("publish")) }
    // the next maintenance run finishes it before compacting again
    compact(RunLog.NoHooks)
    val schema = alerts.toDF().drop("id").schema
    assert(mgr.readAll(schema).select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 6L))
    assert(new RunLog(spark, cfg, None).vertexFiles(pm).size == 1)
  }
  // --- LshIndex.append marker protocol (the store now feeds two
  // oracle-gated consumers — q378 labels, q382 decontamination — so a
  // torn append must be invisible, not just documented) ---

  private def lshDocs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def lshFixture(tag: String): (graft.ops.Dedup.LshIndex, String) = {
    val idx = graft.ops.Dedup.LshIndex(numHashes = 16, shingleWidth = 3)
    val path = tempDir(s"lsh-crash-$tag") + "/index"
    idx.save(lshDocs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "completely unrelated text about spark physical planning"), path)
    (idx, path)
  }

  private val lshBatch = () => lshDocs(
    10L -> "the quick brown fox jumps over the lazy dog tonight",
    11L -> "a fresh paragraph on columnar shuffle layouts and codecs")
  private val lshLate = () => lshDocs(
    20L -> "a fresh paragraph on columnar shuffle layouts and codecs")

  private def lshHits(idx: graft.ops.Dedup.LshIndex, path: String,
      df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    idx.probe(spark, path, df, bands = 4, verifyThreshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("LshIndex.append crash BEFORE the commit marker: store untouched, batch invisible, re-append heals") {
    val (idx, path) = lshFixture("pre")
    intercept[Boom] { idx.append(spark, path, lshBatch(), hooks = crashAt("aside")) }
    // the torn batch is invisible: 20 only matches 11, which never committed
    assert(lshHits(idx, path, lshLate()).isEmpty, "uncommitted batch must not serve")
    // the pre-append corpus still serves exactly
    assert(lshHits(idx, path, lshBatch()) == Set((10L, 1L)))
    // the next append heals (rolls the scratch back) and lands the batch
    idx.append(spark, path, lshBatch())
    assert(lshHits(idx, path, lshLate()) == Set((20L, 11L)))
    graft.Caches.clear()
  }

  test("LshIndex.append crash AFTER the marker: batch already probe-visible; compact rolls forward") {
    val (idx, path) = lshFixture("post")
    intercept[Boom] { idx.append(spark, path, lshBatch(), hooks = crashAt("swapIn")) }
    // committed: every part-file still sits in scratch, yet the probe
    // unions it in — the whole batch serves, nothing is torn
    assert(lshHits(idx, path, lshLate()) == Set((20L, 11L)),
      "a committed batch must serve even before any rename")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/.sigs.appendcommit")))
    // roll forward via the next maintenance op; results identical, protocol files gone
    idx.compact(spark, path)
    assert(lshHits(idx, path, lshLate()) == Set((20L, 11L)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/.sigs.appendcommit")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/.sigs.appendrows")))
    graft.Caches.clear()
  }

  test("LshIndex.append crash mid-cleanup: serves correctly; the next append is unscathed") {
    val (idx, path) = lshFixture("mid")
    intercept[Boom] { idx.append(spark, path, lshBatch(), hooks = crashAt("cleanup")) }
    assert(lshHits(idx, path, lshLate()) == Set((20L, 11L)))
    // heal is idempotent: the next append clears the leftover marker and
    // the already-renamed files are not double-counted
    idx.append(spark, path, lshLate())
    val sigs = spark.read.parquet(s"$path/sigs")
    assert(sigs.count() == 5L, "2 corpus + 2 batch + 1 late, each exactly once")
    assert(sigs.select("id").distinct().count() == 5L)
    graft.Caches.clear()
  }

}
