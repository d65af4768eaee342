package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe directory replacement for maintenance rewrites of whole
  * directories (the clustered layout, the streaming state tables, the
  * index stores): write-new-to-scratch → rename-old-aside → rename-new-in
  * → delete-old. The load job's stores commit through [[RunLog]] instead;
  * its maintenance lock is [[withMaintenanceLock]] on `_runs`.
  *
  * NOT atomic — a plain filesystem cannot swap a directory name in one
  * operation — but crash-SAFE: a complete copy of the store's rows exists
  * on disk at every instant. The failure windows:
  *
  *  - crash before the first rename: live dir untouched, scratch dir is an
  *    invisible orphan (dot-prefixed — file/partition discovery skips it);
  *  - crash between rename-aside and rename-in (two metadata ops): the live
  *    name dangles, but the aside dir holds the complete pre-swap copy;
  *    [[heal]] renames it back — it runs automatically at the start of the
  *    next maintenance call on the same dir;
  *  - crash after rename-in: the new store is live; the aside copy is an
  *    invisible orphan cleaned up by the next swap.
  *
  * Contrast with the previous delete-then-rename, whose crash window left
  * NO directory under the live name and the only copy in a scratch dir
  * that partition discovery could also see.
  *
  * SINGLE WRITER per directory: the crash-safety argument above assumes
  * one maintenance process at a time — two concurrent swaps on the same
  * dir could each treat the other's aside copy as a stale leftover and
  * delete the only pre-swap copy. Callers therefore wrap the whole
  * write-scratch → swap sequence in [[withMaintenanceLock]], which
  * fail-fasts (instead of interleaving) when another writer holds the
  * dir's lock file.
  */
object AtomicSwap {

  /** Dot-prefixed lock file marking an in-flight maintenance rewrite of
    * `dir` (invisible to file/partition discovery, like [[scratch]]).
    */
  def lockPath(dir: Path): Path = new Path(dir.getParent, s".${dir.getName}.lock")

  /** Runs `body` holding `dir`'s maintenance lock. Acquisition is an
    * atomic create-if-absent ([[FileSystem.createNewFile]]), so of two
    * concurrent maintenance calls exactly one proceeds and the other
    * fails fast with [[ConcurrentMaintenanceException]] — interleaved
    * swaps (which could delete the only pre-swap copy) cannot happen.
    * The lock is released on success AND failure; only a process crash
    * mid-body leaves it behind, in which case the next call fails with a
    * message telling the operator to remove the stale file after
    * confirming no writer is alive (the crashed swap itself is healed
    * automatically by [[heal]] once the lock is cleared).
    */
  def withMaintenanceLock[A](fs: FileSystem, dir: Path)(body: => A): A = {
    val lock = lockPath(dir)
    val acquired =
      try fs.createNewFile(lock)
      catch { case _: java.io.IOException => false }
    if (!acquired)
      throw new ConcurrentMaintenanceException(
        s"maintenance lock $lock is already held — another compaction/cleanup is " +
          s"running on $dir, or a previous one crashed; delete the lock file after " +
          "confirming no other writer is alive")
    try body
    finally { fs.delete(lock, false); () }
  }

  class ConcurrentMaintenanceException(msg: String) extends IllegalStateException(msg)

  /** Crash-injection points for specs: each is invoked immediately before
    * the step it names; a spec subclass throws to simulate dying there.
    */
  trait Hooks {
    def beforeAside(): Unit   = ()
    def beforeSwapIn(): Unit  = ()
    def beforeCleanup(): Unit = ()
  }
  object NoHooks extends Hooks

  /** Scratch path the rewrite output must be written to before [[swapIn]]:
    * a dot-prefixed sibling, invisible to Spark's file/partition discovery
    * even though it lives inside the store's base path.
    */
  def scratch(dir: Path): Path = new Path(dir.getParent, s".${dir.getName}.swap")

  private def aside(dir: Path): Path = new Path(dir.getParent, s".${dir.getName}.old")

  /** Heals a swap that died between rename-aside and rename-in: the live
    * name is missing but the complete aside copy exists → rename it back.
    * Idempotent; called automatically by [[swapIn]].
    */
  def heal(fs: FileSystem, dir: Path): Unit =
    if (!fs.exists(dir) && fs.exists(aside(dir))) { fs.rename(aside(dir), dir); () }

  /** Replaces `dir` with the content previously written to [[scratch]]. */
  def swapIn(fs: FileSystem, dir: Path, hooks: Hooks = NoHooks): Unit = {
    val old = aside(dir)
    heal(fs, dir)
    if (fs.exists(old)) fs.delete(old, true) // leftover of a crashed cleanup
    hooks.beforeAside()
    if (fs.exists(dir)) fs.rename(dir, old)
    hooks.beforeSwapIn()
    fs.rename(scratch(dir), dir)
    hooks.beforeCleanup()
    fs.delete(old, true)
    ()
  }
}
