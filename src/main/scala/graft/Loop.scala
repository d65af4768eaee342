package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, greatest, least}

import graft.rules.EdgeColumns

/** The kit every iterative DataFrame operator is built from — one
  * checkpoint helper, one undirected-edge builder and one round loop, in
  * the spirit of GraphX's single Pregel operator over a dataflow engine
  * instead of one hand-rolled loop per algorithm.
  *
  * [[run]] owns what every loop used to repeat: the round counter, the
  * `maxRounds` cap, the lineage cut every [[CutEvery]] rounds, the release
  * of the previous cut once its successor lands, and the converged/capped
  * verdict. The caller keeps its step body, its stop test, its eager/lazy
  * choice per frame, whether it also cuts on the final round, and its own
  * warning or exception when the loop is capped. A per-round trace (round,
  * frontier size, stop reason) belongs in [[run]] too, once a metrics
  * collector exists to receive it.
  */
object Loop {

  /** Rounds between lineage cuts. A cut is a whole job — a fixed scheduler
    * cost whatever the data size — while a handful of un-truncated
    * join+agg rounds is a perfectly fine plan, so loops pay the job once
    * per `CutEvery` rounds.
    */
  val CutEvery = 4

  /** Cuts `df`'s lineage: a reliable `checkpoint` when the session has a
    * checkpoint dir (always written eagerly), else a `localCheckpoint`.
    * A lazy local cut (`eager = false`) computes on the first action that
    * reads it, so a following `count()` fuses materialize and probe into
    * one job; the frame stays pinned until [[release]] (or
    * [[Caches.clear]] after [[Caches.trackNewRdds]]).
    */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(eager)

  /** Unpersists the checkpoint behind `df`, a [[materialize]] result.
    * `Dataset.unpersist` only drops cache-manager entries; a checkpoint's
    * blocks belong to the RDD under its `LogicalRDD`, so that is what goes.
    * Only for frames nothing reads again: a released local checkpoint
    * cannot be recomputed.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case cut: LogicalRDD => cut.rdd.unpersist(blocking = false); ()
    case _               => df.unpersist(blocking = false); ()
  }

  /** One `(a, b)` row with `a < b` per distinct undirected edge of `edges`
    * (`src`/`dst` cast to long), self-loops dropped. Lazy.
    */
  def canonicalPairs(edges: DataFrame): DataFrame =
    edges
      .select(col(EdgeColumns.Src).cast("long").as("s"), col(EdgeColumns.Dst).cast("long").as("d"))
      .where(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()

  /** The [[canonicalPairs]] in both orientations as one materialized
    * `(src, dst)` frame, so `groupBy(src)` is the simple undirected degree
    * and a join on `src` reaches every neighbor.
    */
  def undirected(edges: DataFrame): DataFrame = {
    val canon = canonicalPairs(edges)
    materialize(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst"))))
  }

  /** One round of [[run]]: its 1-based number `n`, whether it is the
    * `last` the cap allows, and whether a cut is `due` (every
    * [[CutEvery]]th round, and the last one when the loop cuts there too).
    */
  final class Round private[Loop] (val n: Int, val last: Boolean, val due: Boolean) {
    private[Loop] var cuts: List[DataFrame] = Nil

    /** Materializes `df` as this round's cut. The loop releases it once a
      * later round cuts, or at once if this round stops the loop.
      */
    def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
      val m = materialize(df, eager)
      cuts ::= m
      m
    }

    /** [[cut]] on a `due` round, `df` unchanged otherwise. */
    def cadence(df: DataFrame, eager: Boolean = true): DataFrame =
      if (due) cut(df, eager) else df
  }

  /** The loop's final `state` after `rounds` completed rounds;
    * `converged` is false when the cap stopped it.
    */
  final case class Result[S](
      state: S, rounds: Int, converged: Boolean, private val held: List[DataFrame]) {

    /** Unpersists the cut the final state still reads — for callers whose
      * result no longer needs it (the result was collected).
      */
    def release(): Unit = held.foreach(Loop.release)
  }

  /** Runs `step` from `state0` for at most `maxRounds` rounds. `step`
    * returns the next state, or `None` when the loop has converged (that
    * round then does not count, and any cut it made is released). `held`
    * are frames `state0` was materialized into; the first cut releases
    * them like any previous cut. With `cutLast` the final round is always
    * due a cut, not only when it falls on the cadence.
    */
  def run[S](state0: S, maxRounds: Int, cutLast: Boolean = false, held: Seq[DataFrame] = Nil)(
      step: (S, Round) => Option[S]): Result[S] = {
    var state = state0
    var previous = held.toList
    var n = 0
    var converged = false
    while (!converged && n < maxRounds) {
      val last = n + 1 == maxRounds
      val round = new Round(n + 1, last, (n + 1) % CutEvery == 0 || (cutLast && last))
      step(state, round) match {
        case None =>
          round.cuts.foreach(release)
          converged = true
        case Some(next) =>
          state = next
          n += 1
          if (round.cuts.nonEmpty) {
            previous.foreach(release)
            previous = round.cuts
          }
      }
    }
    Result(state, n, converged, previous)
  }
}
