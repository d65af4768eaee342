package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate

import scala.collection.immutable.SortedMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.{col, max}

import graft.ids.IdManagerConfig

/** The commit log of the load job's stores, at `<dataPath>/_runs/`.
  *
  * Every load run is staged, committed by one log entry, then published:
  *
  *  - stage: the run writes its vertex batch and every rule's edges under
  *    a dot-prefixed `.stage-<seq>` dir of each store's own root, which
  *    Spark's file discovery, [[Parquet.read]] and
  *    [[graft.meta.SchemaInfo]] never list;
  *  - commit: one entry, written last with create-then-rename, records
  *    the run id, the id interval `[lo, hi]`, every file the run wrote and
  *    its counts. The entry is the run's one commit point;
  *  - publish: the staged files are renamed into the live dirs and the
  *    staging dirs removed.
  *
  * Compaction and every delete go through the same three steps
  * ([[rewrite]], [[deleteRun]]): the rewritten files are staged, one
  * entry lists them with the files they replace, and publishing renames
  * them in and unlinks the replaced ones. There is no other commit
  * protocol for these stores.
  *
  * [[recover]] runs at the start of every load, delete and compaction:
  * staging with no entry is dropped, and a committed entry whose staging
  * is still there is published again (publishing is idempotent). So a
  * crash anywhere leaves either no trace of the change or all of it, and
  * readers never consult the log: uncommitted files never reach a live
  * dir. A reader that lists a dir during a publish may see a rewritten
  * row twice (the new file is in, the old one not yet unlinked).
  *
  * The log also knows which files hold which run's rows, which makes the
  * delete of a whole run cheap ([[deleteRun]]), and its largest `hi` is
  * the last id ever assigned ([[State.hi]]): a delete never lowers it, so
  * ids are never reused.
  *
  * The design follows the transaction log of Delta Lake (Armbrust et al.,
  * VLDB 2020); entries are small tab-separated text files, one per commit.
  */
final class RunLog(
    spark: SparkSession,
    ids: IdManagerConfig,
    edgeBasePath: Option[String],
    hooks: RunLog.Hooks = RunLog.NoHooks
) {
  import RunLog._

  private val roots: Map[String, Path] =
    Map(Vertices -> new Path(s"${ids.dataPath}/${ids.tableName}")) ++
      edgeBasePath.map(p => Edges -> new Path(p))
  private val logDir = new Path(ids.dataPath, "_runs")
  private val fs: FileSystem = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // entries are immutable once committed: replay only the ones this
  // instance has not seen yet
  private var cached = State.empty(ids.reservedIdSpace)

  /** The replayed state of every committed entry. Entries are numbered
    * without gaps, so the next one is probed by name, not by a listing.
    */
  def state(): State = {
    Iterator.continually(cached.seq + 1).map(readIfCommitted).takeWhile(_.isDefined)
      .foreach(e => cached = cached(e.get))
    cached
  }

  /** Brings the stores to a committed state (see the class doc) and
    * returns it. A store written before the log existed is adopted once
    * as a legacy run.
    */
  def recover(): State = {
    if (state().seq == 0) adoptLegacy()
    val st = state()
    val staged = roots.values.toSeq.flatMap { root =>
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith(StagePrefix))
        .flatMap(n => n.stripPrefix(StagePrefix).toLongOption)
    }.distinct.sorted
    staged.foreach { seq =>
      if (seq <= st.seq) publish(read(seq))
      else dropStaging(seq)
    }
    st
  }

  /** Where run `seq` stages its files for `store` ([[Vertices]] or [[Edges]]). */
  def stageDir(store: String, seq: Long): Path = new Path(roots(store), s"$StagePrefix$seq")

  /** Commits a staged load run: one entry listing every data file staged
    * for `seq`, then publishes it.
    */
  def commitLoad(seq: Long, run: Option[String], lastId: Long, vertexCount: Long,
      counts: Map[String, Long]): Unit =
    commitAndPublish(Entry(seq, Load, run, lastId + 1, lastId + vertexCount, vertexCount, counts,
      adds = staged(seq).map(_ -> Set(seq)).toMap))

  /** Rewrites files of the stores as one committed change: a compaction
    * ([[Compact]]) or a delete that is not one whole run ([[Delete]]).
    *
    * Holds the log's maintenance lock ([[AtomicSwap.withMaintenanceLock]]
    * on `_runs`), so a second compaction or delete fails fast instead of
    * interleaving; recovers; then `body(seq)` writes the new files under
    * `seq`'s staging dirs ([[stageDir]]), at the same relative dir as the
    * files they replace, and returns the replaced files and the days whose
    * vertices are gone. One entry commits it all, and publishing renames
    * the new files in and unlinks the replaced ones.
    *
    * A new file holds the rows of the files it replaces in its dir, so it
    * is owned by the union of their owners; a file the log does not list
    * counts as the first run's. So [[deleteRun]] still finds every file
    * that holds a run's rows after a rewrite. Commits nothing when `body`
    * replaces nothing and deletes no day.
    */
  def rewrite(kind: String)(body: Long => (Seq[FileRef], Seq[LocalDate])): Unit =
    AtomicSwap.withMaintenanceLock(fs, logDir) {
      val st  = recover()
      val seq = st.seq + 1
      val (removes, days) = body(seq)
      if (removes.isEmpty && days.isEmpty) dropStaging(seq)
      else {
        val first = st.runs.headOption.map(_._1).toSet
        def dirOf(f: FileRef) = (f.store, f.path.take(f.path.lastIndexOf('/') + 1))
        val owners = removes.groupMapReduce(dirOf)(st.files.getOrElse(_, first))(_ ++ _)
        commitAndPublish(Entry(seq, kind, days = days, removes = removes,
          adds = staged(seq).map(f => f -> owners.getOrElse(dirOf(f), first)).toMap))
      }
    }

  /** The data files now in `pm`'s vertex partition dirs (either spelling). */
  def vertexFiles(pm: PartitionManager): Seq[FileRef] = pm.relativePaths.flatMap(liveFiles(Vertices, _))

  /** The data files now in `rel` (a partition or label dir) of `store`. */
  def liveFiles(store: String, rel: String): Seq[FileRef] = {
    val dir = new Path(roots(store), rel)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).filter(s => s.isFile && visible(s.getPath.getName))
      .map(s => FileRef(store, s"$rel/${s.getPath.getName}")).toSeq
  }

  /** The live path of `f`. */
  def pathOf(f: FileRef): String = live(f).toString

  /** The total size of `files` in bytes. */
  def bytes(files: Seq[FileRef]): Long = files.map(f => fs.getFileStatus(live(f)).getLen).sum

  /** Deletes the run loaded for exactly `pm`'s range, with its vertices
    * and every edge incident to them, through the log; false (nothing
    * done) when the run's files are not all known to the log.
    *
    * Every edge a run writes has an endpoint in its own batch (rules
    * classify the batch against the loaded side), and runs' id intervals
    * grow with their commit order. So the run's own files hold only rows
    * to delete, and the only other files that may hold its edges are
    * those of later runs. Deleting the latest run unlinks its files and
    * starts no Spark job; deleting an older one also has `rewrite(files,
    * lo, hi, dir)` write the later runs' edge files of each label, less
    * the rows with an endpoint in the run's interval, to a staging dir
    * ([[graft.graph.EdgeStore.writeWithout]]) — one write per label, with
    * no join and no collect. Both are committed by one entry and then
    * published.
    *
    * Falls back (returns false) for a range that is not one whole run, a
    * run some part of which was already deleted, or when a file the log
    * lists is missing or a file in the range's partition dirs is not the
    * run's (a store rewritten outside the log).
    */
  def deleteRun(st: State, pm: PartitionManager)(
      rewrite: (Seq[String], Long, Long, String) => Unit): Boolean =
    st.runs.values.find(r => r.id.contains(rangeId(pm)) && r.goneDays.isEmpty) match {
      case Some(run) =>
        // its own files, and the edge files that hold other runs' rows too
        val mine   = st.files.filter { case (_, o) => o == Set(run.seq) }.keySet
        val shared = st.files.filter { case (f, o) => f.store == Edges && o.exists(_ >= run.seq) && o != Set(run.seq) }
        val vertex = mine.filter(_.store == Vertices)
        val known  = vertexFiles(pm).toSet == vertex &&
          (mine ++ shared.keySet).forall(f => fs.exists(live(f)))
        if (known) {
          val seq = st.seq + 1
          shared.groupBy { case (f, _) => labelOf(f) }.foreach { case (label, files) =>
            rewrite(files.keys.toSeq.map(live(_).toString), run.lo, run.hi,
              new Path(stageDir(Edges, seq), s"label=$label").toString)
          }
          val owners = shared.values.flatten.toSet - run.seq
          commitAndPublish(Entry(seq, Delete, run.id, target = Some(run.seq),
            adds = staged(seq).map(_ -> owners).toMap, removes = (mine ++ shared.keySet).toSeq))
        }
        known
      case _ => false
    }

  // ---- entries ------------------------------------------------------------

  private def entryPath(seq: Long) = new Path(logDir, f"$seq%020d")

  private def read(seq: Long): Entry =
    readIfCommitted(seq).getOrElse(throw new java.io.FileNotFoundException(s"run log: no entry ${entryPath(seq)}"))

  private def readIfCommitted(seq: Long): Option[Entry] =
    try {
      val in = fs.open(entryPath(seq))
      try Some(Entry.parse(seq, new String(in.readAllBytes(), UTF_8))) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Writes `e` under a temporary name and renames it into place: the
    * rename is the commit.
    */
  private def commit(e: Entry): Unit = {
    hooks.beforeCommit()
    val tmp = new Path(logDir, s".${e.seq}.tmp")
    val out = fs.create(tmp, true)
    try out.write(e.render.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, entryPath(e.seq)))
      throw new java.io.IOException(s"run log: could not commit entry ${e.seq} at ${entryPath(e.seq)}")
    cached = cached(e)
  }

  /** Commits and publishes `e`; its (possibly empty) vertex staging dir
    * marks the publish as pending until it completes.
    */
  private def commitAndPublish(e: Entry): Unit = {
    fs.mkdirs(stageDir(Vertices, e.seq))
    commit(e)
    publish(e)
  }

  private def live(f: FileRef): Path = new Path(roots(f.store), f.path)

  /** Moves `e`'s staged files in, unlinks the files it removes (and the
    * partition dirs that leaves empty), then drops its staging. Each step
    * is a no-op when already done, so a crashed publish is finished by
    * running it again.
    */
  private def publish(e: Entry): Unit = {
    e.adds.keys.foreach { f =>
      val from = new Path(stageDir(f.store, e.seq), f.path)
      if (fs.exists(from)) {
        fs.mkdirs(live(f).getParent)
        if (!fs.rename(from, live(f)))
          throw new java.io.IOException(s"run log: could not publish $from to ${live(f)}")
        hooks.published(f)
      }
    }
    e.removes.foreach { f =>
      if (fs.delete(live(f), false)) {
        var dir = live(f).getParent
        while (dir.depth > roots(f.store).depth && fs.exists(dir) && fs.listStatus(dir).isEmpty) {
          fs.delete(dir, true); dir = dir.getParent
        }
        hooks.published(f)
      }
    }
    dropStaging(e.seq)
  }

  private def dropStaging(seq: Long): Unit = roots.keys.foreach(s => fs.delete(stageDir(s, seq), true))

  /** The data files staged for `seq`, relative to their store's root. */
  private def staged(seq: Long): Seq[FileRef] = roots.keys.toSeq.flatMap { store =>
    val dir = stageDir(store, seq)
    if (!fs.exists(dir)) Nil
    else {
      val prefix = fs.makeQualified(dir).toUri.getPath + "/"
      val it = fs.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.startsWith("part-"))
        .map(p => FileRef(store, p.toUri.getPath.stripPrefix(prefix)))
        .toList
    }
  }

  private def visible(name: String) = !name.startsWith(".") && !name.startsWith("_")

  /** Adopts a store written before the log existed: one legacy run whose
    * `hi` is the larger of the old `_last_id` sidecar and `max(id)`.
    */
  private def adoptLegacy(): Unit = {
    val table = roots(Vertices)
    val scanned =
      if (!fs.exists(table)) None
      else try Option(Parquet.read(spark, table.toString).agg(max(col("id"))).head().get(0)).map(_.asInstanceOf[Long])
      catch { case _: AnalysisException => None } // no data file in the table
    scanned.foreach { m =>
      val sidecar =
        try {
          val in = fs.open(new Path(table, "_last_id"))
          try new String(in.readAllBytes(), UTF_8).trim.toLongOption finally in.close()
        } catch { case _: java.io.IOException => None }
      val hi = (Seq(m, ids.reservedIdSpace) ++ sidecar).max
      commit(Entry(1, Legacy, lo = ids.reservedIdSpace + 1, hi = hi))
    }
  }
}

object RunLog {

  /** Store codes of [[FileRef]]: the vertex table and the edge store. */
  val Vertices = "v"
  val Edges    = "e"

  private val StagePrefix = ".stage-"

  // entry kinds
  val Load    = "load"
  val Legacy  = "legacy"
  val Delete  = "delete"
  val Compact = "compact"

  /** The run id of a batch load of `pm`'s range. */
  def rangeId(pm: PartitionManager): String = s"range ${pm.startDate} ${pm.duration}"

  /** The range a [[rangeId]] names; None for any other run id. */
  def rangeOf(id: String): Option[PartitionManager] = id.split(" ") match {
    case Array("range", start, n) => Some(PartitionManager(LocalDate.parse(start), n.toInt))
    case _                        => None
  }

  /** The run id of one micro-batch of a streaming query. */
  def streamId(queryId: String, batchId: Long): String = s"stream $queryId $batchId"

  /** A data file of one store, relative to the store's root. */
  final case class FileRef(store: String, path: String)

  private def labelOf(f: FileRef): String = f.path.takeWhile(_ != '/').stripPrefix("label=")

  /** One committed change to the stores.
    *
    * @param run    load: the run's id; delete: the id of the run deleted
    * @param adds   files published by this entry, with the runs whose rows
    *               each holds
    * @param target delete of a whole run: the run deleted
    * @param days   delete: days whose vertices are gone
    */
  final case class Entry(
      seq: Long,
      kind: String,
      run: Option[String] = None,
      lo: Long = 0L,
      hi: Long = 0L,
      vertexCount: Long = 0L,
      counts: Map[String, Long] = Map.empty,
      adds: Map[FileRef, Set[Long]] = Map.empty,
      removes: Seq[FileRef] = Nil,
      target: Option[Long] = None,
      days: Seq[LocalDate] = Nil
  ) {
    def render: String = {
      val lines = Seq(s"kind\t$kind") ++ run.map(r => s"run\t$r") ++
        Seq(s"lo\t$lo", s"hi\t$hi", s"vertices\t$vertexCount") ++
        counts.toSeq.sorted.map { case (l, n) => s"count\t$l\t$n" } ++
        adds.toSeq.sortBy(_._1.path).map { case (f, o) => s"add\t${f.store}\t${o.toSeq.sorted.mkString(",")}\t${f.path}" } ++
        removes.map(f => s"remove\t${f.store}\t${f.path}") ++
        target.map(t => s"target\t$t") ++ days.map(d => s"day\t$d")
      lines.mkString("", "\n", "\n")
    }
  }

  object Entry {
    def parse(seq: Long, text: String): Entry =
      text.linesIterator.filter(_.nonEmpty).map(_.split("\t", -1)).foldLeft(Entry(seq, "")) { (e, f) =>
        f match {
          case Array("kind", k)            => e.copy(kind = k)
          case Array("run", r)             => e.copy(run = Some(r))
          case Array("lo", v)              => e.copy(lo = v.toLong)
          case Array("hi", v)              => e.copy(hi = v.toLong)
          case Array("vertices", v)        => e.copy(vertexCount = v.toLong)
          case Array("count", l, n)        => e.copy(counts = e.counts + (l -> n.toLong))
          case Array("add", s, owners, p)  => e.copy(adds = e.adds + (FileRef(s, p) -> owners.split(",").filter(_.nonEmpty).map(_.toLong).toSet))
          case Array("remove", s, p)       => e.copy(removes = e.removes :+ FileRef(s, p))
          case Array("target", t)          => e.copy(target = Some(t.toLong))
          case Array("day", d)             => e.copy(days = e.days :+ LocalDate.parse(d))
          case other => throw new IllegalStateException(s"run log entry $seq: unreadable line '${other.mkString("\t")}'")
        }
      }
  }

  /** A committed run that has not been deleted.
    *
    * @param goneDays days of its range deleted since it was loaded
    */
  final case class Run(seq: Long, id: Option[String], lo: Long, hi: Long, vertexCount: Long,
      counts: Map[String, Long], goneDays: Set[LocalDate] = Set.empty) {

    /** The days of a range run that still hold its vertices. */
    def liveDays: Seq[LocalDate] = id.flatMap(rangeOf).fold(Seq.empty[LocalDate])(_.dates).filterNot(goneDays)
  }

  /** The stores as the log's entries describe them.
    *
    * @param seq   the last entry's sequence number (0: empty log)
    * @param hi    the last id ever assigned
    * @param files every published data file the log knows, with the runs
    *              whose rows it holds
    */
  final case class State(seq: Long, hi: Long, runs: SortedMap[Long, Run], files: Map[FileRef, Set[Long]]) {

    def apply(e: Entry): State = e.kind match {
      case Load | Legacy =>
        copy(seq = e.seq, hi = math.max(hi, e.hi),
          runs = runs + (e.seq -> Run(e.seq, e.run, e.lo, e.hi, e.vertexCount, e.counts)),
          files = files ++ e.adds)
      // older logs marked the runs a compaction or delete was about to
      // rewrite outside the log; [[deleteRun]]'s file checks cover them
      case "merge" => copy(seq = e.seq)
      case Delete | Compact =>
        copy(seq = e.seq, runs = (runs -- e.target).map { case (s, r) => s -> r.copy(goneDays = r.goneDays ++ e.days) },
          files = files -- e.removes ++ e.adds)
      case other => throw new IllegalStateException(s"run log entry ${e.seq}: unknown kind '$other'")
    }

    /** The committed run `id` names, when all of it is still loaded. */
    def committed(id: String): Option[Run] = runs.values.find(r => r.id.contains(id) && r.goneDays.isEmpty)

    /** Fails when `pm`'s range overlaps a committed range run it does not equal. */
    def requireNoOverlap(pm: PartitionManager): Unit =
      runs.values.find(r => r.liveDays.exists(pm.dates.contains)).foreach { r =>
        throw new IllegalStateException(
          s"range ${pm.startDate}+${pm.duration} overlaps run ${r.seq} (${r.id.getOrElse("")}) without " +
            "equalling it: delete that run first, or load exactly its range")
      }
  }

  object State {
    def empty(reservedIdSpace: Long): State = State(0L, reservedIdSpace, SortedMap.empty, Map.empty)
  }

  /** Crash-injection points for specs: each is invoked where it names; a
    * spec subclass throws to simulate dying there.
    */
  trait Hooks {
    def afterVertexWrite(): Unit           = ()
    def afterRule(label: String): Unit     = ()
    def beforeCommit(): Unit               = ()
    def published(file: FileRef): Unit     = ()
  }
  object NoHooks extends Hooks
}
