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
  * [[recover]] runs at the start of every load, delete and compaction:
  * staging with no entry is dropped, and a committed entry whose staging
  * is still there is published again (publishing is idempotent). So a
  * crash anywhere leaves either no trace of the run or the whole run, and
  * readers never consult the log: uncommitted files never reach a live
  * dir. Only the publish window keeps the single-writer caveat of
  * [[AtomicSwap]].
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
      else roots.keys.foreach(s => fs.delete(stageDir(s, seq), true))
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

  /** Marks every run from `from` on as merged: their files are no longer
    * the ones the log lists, so [[deleteRun]] leaves them to the full
    * delete. Always safe; commits nothing when there is nothing to mark.
    */
  def markMerged(st: State, from: Option[Long]): Unit =
    from.filter(f => st.runs.exists { case (s, r) => s >= f && !r.merged })
      .foreach(f => commit(Entry(st.seq + 1, Merge, target = Some(f))))

  /** The earliest run that may hold a vertex of `pm`'s days, per the files
    * of those days; the first run when a file there is not in the log.
    */
  def earliestIn(st: State, pm: PartitionManager): Option[Long] = {
    val files = liveVertexFiles(pm)
    val owners = files.map(f => st.files.get(FileRef(Vertices, f)))
    if (files.isEmpty) None
    else if (owners.exists(_.isEmpty)) st.runs.headOption.map(_._1)
    else Some(owners.flatten.flatten.min)
  }

  /** Records that `pm`'s days were deleted outside [[deleteRun]], so their
    * range can be loaded again.
    */
  def commitDeletedDays(st: State, pm: PartitionManager): Unit =
    if (st.runs.nonEmpty) commit(Entry(st.seq + 1, Delete, days = pm.dates))

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
    * run some part of which was already deleted, a run with a merged run
    * at or after it, or when a file the log lists is missing or a file in
    * the range's partition dirs is not the run's.
    */
  def deleteRun(st: State, pm: PartitionManager)(
      rewrite: (Seq[String], Long, Long, String) => Unit): Boolean =
    st.runs.values.find(r => r.id.contains(rangeId(pm)) && r.goneDays.isEmpty) match {
      case Some(run) if st.runs.valuesIterator.forall(r => r.seq < run.seq || !r.merged) =>
        // its own files, and the edge files that hold other runs' rows too
        val mine   = st.files.filter { case (_, o) => o == Set(run.seq) }.keySet
        val shared = st.files.filter { case (f, o) => f.store == Edges && o.max >= run.seq && o != Set(run.seq) }
        val vertex = mine.filter(_.store == Vertices)
        val known  = liveVertexFiles(pm).map(FileRef(Vertices, _)).toSet == vertex &&
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
    roots.keys.foreach(s => fs.delete(stageDir(s, e.seq), true))
  }

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

  /** The data files now in `pm`'s vertex partition dirs (either spelling). */
  private def liveVertexFiles(pm: PartitionManager): Seq[String] =
    pm.relativePaths.flatMap { rel =>
      val dir = new Path(roots(Vertices), rel)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).map(_.getPath.getName).filter(n => !n.startsWith(".") && !n.startsWith("_")).map(n => s"$rel/$n")
    }

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
  val Load   = "load"
  val Legacy = "legacy"
  val Merge  = "merge"
  val Delete = "delete"

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
    * @param target merge: the first run merged; delete: the run deleted
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
    * @param merged   its files are no longer the ones the log lists
    * @param goneDays days of its range deleted since it was loaded
    */
  final case class Run(seq: Long, id: Option[String], lo: Long, hi: Long, vertexCount: Long,
      counts: Map[String, Long], merged: Boolean, goneDays: Set[LocalDate] = Set.empty) {

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
          runs = runs + (e.seq -> Run(e.seq, e.run, e.lo, e.hi, e.vertexCount, e.counts, merged = e.kind == Legacy)),
          files = files ++ e.adds)
      case Merge =>
        copy(seq = e.seq, runs = runs.map { case (s, r) => s -> (if (s >= e.target.get) r.copy(merged = true) else r) })
      case Delete =>
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

  /** Crash-injection points for specs, in the style of [[AtomicSwap.Hooks]]:
    * each is invoked where it names; a spec subclass throws to simulate
    * dying there.
    */
  trait Hooks {
    def afterVertexWrite(): Unit           = ()
    def afterRule(label: String): Unit     = ()
    def beforeCommit(): Unit               = ()
    def published(file: FileRef): Unit     = ()
  }
  object NoHooks extends Hooks
}
