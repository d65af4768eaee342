package perfbench

import java.time.LocalDate

import scala.collection.mutable

/** One generated alert: the columns the load job's three rules read. */
final case class Alert(objectId: String, rfscore: Double, cdsxmatch: String, roid: Int) {
  def high: Boolean = rfscore > 0.9
  /** Fixed vertices this alert links to under the `asteroids` + `catalog` recipes. */
  def satr: Int = (if (roid > 1) 1 else 0) + (if (AlertGen.Catalog.contains(cdsxmatch)) 1 else 0)
}

/** Shape of a workload's input.
  *
  * @param days         days generated (one `year/month/day` partition each)
  * @param alertsPerDay alerts in every day's partition
  * @param returnFrac   share of a day's alerts whose object was seen on an
  *                     earlier day (drives the objectId joins of two rules)
  * @param highFrac     share of alerts with rfscore > 0.9 (the similarity
  *                     rule's range leaf links every such pair)
  */
final case class GenSpec(days: Int, alertsPerDay: Int, returnFrac: Double, highFrac: Double)

/** Seeded, engine-free generator of alert-shaped days.
  *
  * Every day after the first has exactly `returnFrac` of its alerts from
  * objects seen on earlier days and exactly `highFrac` with rfscore > 0.9;
  * which alerts, and which earlier objects, is drawn from the seed. Exact
  * shares keep the rules' work alike across seeds. Other alerts reuse one
  * of the day's own new objects with probability 0.1 (same-day repeats feed
  * the intra-batch cliques) or start a new object. Scores are drawn away
  * from the 0.9 threshold so float round-trips cannot flip a rule.
  */
object AlertGen {

  val Start: LocalDate = LocalDate.of(2019, 11, 1)

  /** Fixed (recipe) vertices: the `asteroids` direct rule and the `catalog`
    * exact-match rule over `cdsxmatch`. `Unknown` and the other classes
    * have no recipe.
    */
  val Catalog: Map[String, Long] = Map("RRLyr" -> 2L, "EB*" -> 3L, "Mira" -> 4L)
  val AsteroidsId: Long          = 1L
  private val OtherClasses       = Vector("Star", "QSO", "YSO")

  def fixedVertexCsv: String =
    (s"$AsteroidsId,recipe,recipe,string,asteroids" +:
      Catalog.toSeq.sortBy(_._2).map { case (cls, id) => s"$id,recipe,recipe,string,catalog,equals,string,$cls" })
      .mkString("", "\n", "\n")

  def generate(spec: GenSpec, seed: Long): Vector[Vector[Alert]] = {
    val rnd   = new scala.util.Random(seed)
    val seen  = mutable.ArrayBuffer.empty[String]
    var next  = 0
    val catalogClasses = Catalog.keys.toVector.sorted
    (0 until spec.days).map { _ =>
      val n         = spec.alertsPerDay
      def pick(frac: Double) = rnd.shuffle((0 until n).toVector).take(math.round(frac * n).toInt).toSet
      val returning = if (seen.isEmpty) Set.empty[Int] else pick(spec.returnFrac)
      val high      = pick(spec.highFrac)
      val today     = mutable.ArrayBuffer.empty[String]
      val day = (0 until n).map { i =>
        val obj =
          if (returning(i)) seen(rnd.nextInt(seen.size))
          else if (today.nonEmpty && rnd.nextDouble() < 0.1) today(rnd.nextInt(today.size))
          else { next += 1; val o = s"ZTF${seed}_$next"; today += o; o }
        val rf  = if (high(i)) 0.905 + 0.09 * rnd.nextDouble() else 0.85 * rnd.nextDouble()
        val u   = rnd.nextDouble()
        val cds =
          if (u < 0.5) "Unknown"
          else if (u < 0.75) catalogClasses(rnd.nextInt(catalogClasses.size))
          else OtherClasses(rnd.nextInt(OtherClasses.size))
        val r    = rnd.nextDouble()
        val roid = if (r < 0.9) 0 else if (r < 0.95) 1 else 2 + rnd.nextInt(2)
        Alert(obj, rf, cds, roid)
      }.toVector
      seen ++= today
      day
    }.toVector
  }

  def date(day: Int): LocalDate = Start.plusDays(day.toLong)
}

/** Engine-free expected results of the load job, computed from the
  * generated rows with plain collections.
  *
  * The store holds, per day, the alerts loaded so far. A `process` call over
  * a batch joins it against the loaded side (every stored day, or the
  * `loadedDays` window ending on the batch's last day) and against itself:
  *  - similarity (`objectId OR rfscore`): pairs with the same object, plus
  *    pairs with both scores above 0.9, counted once;
  *  - exactmatch (`objectId`): pairs with the same object;
  *  - satr: one edge per matching recipe of each batch alert.
  * Stored counts are doubled (bidirectional edges).
  */
final class Oracle(window: Option[Int]) {

  private val stored = mutable.TreeMap.empty[Int, Vector[Alert]]

  /** Expected `JobResult` of one `process` call over `batch` (day -> alerts);
    * the batch's days are stored afterwards.
    */
  def process(batch: Seq[(Int, Vector[Alert])]): (Long, Map[String, Long]) = {
    val last   = batch.map(_._1).max
    val alerts = batch.flatMap(_._2)
    val loaded = stored.iterator
      .filter { case (d, _) => window.forall(w => d <= last && d > last - w) }
      .flatMap(_._2)
    val loadedObj  = mutable.HashMap.empty[String, Array[Long]] // objectId -> (all, high)
    var loadedHigh = 0L
    loaded.foreach { a =>
      val c = loadedObj.getOrElseUpdate(a.objectId, Array(0L, 0L))
      c(0) += 1
      if (a.high) { c(1) += 1; loadedHigh += 1 }
    }
    var same, sameHigh = 0L
    alerts.groupBy(_.objectId).foreach { case (o, as) =>
      val (k, kh) = (as.size.toLong, as.count(_.high).toLong)
      val m       = loadedObj.getOrElse(o, Array(0L, 0L))
      same     += k * m(0) + Oracle.c2(k)
      sameHigh += kh * m(1) + Oracle.c2(kh)
    }
    val h    = alerts.count(_.high).toLong
    val high = h * loadedHigh + Oracle.c2(h)
    batch.foreach { case (d, as) => stored(d) = as }
    (alerts.size.toLong, Map(
      "similarity" -> 2 * (same + high - sameHigh),
      "exactmatch" -> 2 * same,
      "satr"       -> 2 * alerts.map(_.satr.toLong).sum))
  }

  def delete(day: Int): Unit = stored.remove(day)
}

object Oracle {
  def c2(n: Long): Long = n * (n - 1) / 2
}

/** Expected answers of the graph reads, given the stored vertices by id
  * with the day each was loaded for. Two alerts are linked by the object and
  * score rules when their days are within the loaded-side window (always,
  * for full history); recipe links do not depend on the day.
  */
final class GraphOracle(vertices: collection.Map[Long, (Int, Alert)], window: Option[Int]) {

  private def day(id: Long): Int     = vertices(id)._1
  private def alert(id: Long): Alert = vertices(id)._2
  private def near(d1: Int, d2: Int) = window.forall(w => math.abs(d1 - d2) < w)

  private val byObject: Map[String, Vector[Long]] =
    vertices.toVector.groupMap(_._2._2.objectId)(_._1)
  private val highByDay: Map[Int, Vector[Long]] =
    vertices.toVector.collect { case (id, (d, a)) if a.high => d -> id }.groupMap(_._1)(_._2)
  private val fixedMembers: Map[Long, Vector[Long]] =
    vertices.toVector.flatMap { case (id, (_, a)) => fixedOf(a).map(_ -> id) }.groupMap(_._1)(_._2)

  private def fixedOf(a: Alert): Seq[Long] =
    (if (a.roid > 1) Seq(AlertGen.AsteroidsId) else Nil) ++ AlertGen.Catalog.get(a.cdsxmatch)

  /** High alerts linked by score to a high alert on day `d` (itself included). */
  private def highNear(d: Int): Iterator[Long] = window match {
    case None    => highByDay.valuesIterator.flatten
    case Some(w) => (d - w + 1 until d + w).iterator.flatMap(highByDay.getOrElse(_, Vector.empty))
  }

  private def sameNear(id: Long): Vector[Long] =
    byObject(alert(id).objectId).filter(u => u != id && near(day(u), day(id)))

  /** Stored rows per edge label. */
  def labelRows: Map[String, Long] = {
    val perVertex = vertices.keysIterator.map { id =>
      val same = sameNear(id)
      (same.size.toLong, same.count(alert(_).high).toLong)
    }.toVector
    val same     = perVertex.map(_._1).sum / 2
    val sameHigh = vertices.keysIterator.filter(alert(_).high).map(id => sameNear(id).count(alert(_).high).toLong).sum / 2
    val high     = vertices.keysIterator.filter(alert(_).high).map(id => highNear(day(id)).size - 1L).sum / 2
    Map(
      "similarity" -> 2 * (same + high - sameHigh),
      "exactmatch" -> 2 * same,
      "satr"       -> 2 * vertices.valuesIterator.map(_._2.satr.toLong).sum)
  }

  /** `neighbors` of an alert over all labels: (row count, distinct ids). */
  def neighbors(id: Long): (Long, Set[Long]) = {
    val a     = alert(id)
    val same  = sameNear(id)
    val high  = if (a.high) highNear(day(id)).filter(u => u != id && alert(u).objectId != a.objectId).toVector else Vector.empty
    val fixed = fixedOf(a)
    (2L * same.size + high.size + fixed.size, (same ++ high ++ fixed).toSet)
  }

  /** `twoHop` of an alert over all labels: distinct ids within two hops, minus itself. */
  def twoHop(id: Long): Set[Long] = {
    val out      = mutable.HashSet.empty[Long]
    val highDays = mutable.HashSet.empty[Int]
    val hop1     = neighbors(id)._2
    out ++= hop1
    hop1.foreach { u =>
      fixedMembers.get(u) match {
        case Some(members) => out ++= members
        case None =>
          out ++= sameNear(u)
          out ++= fixedOf(alert(u))
          if (alert(u).high) highDays += (if (window.isEmpty) 0 else day(u))
      }
    }
    highDays.foreach(d => out ++= highNear(d))
    out -= id
    out.toSet
  }

  /** `degreeHistogram`: degree -> vertex count, fixed vertices included. */
  def degreeHistogram: Map[Long, Long] = {
    val alertDegrees = vertices.keysIterator.map(id => neighbors(id)._1)
    val fixedDegrees = fixedMembers.valuesIterator.map(_.size.toLong)
    (alertDegrees ++ fixedDegrees).filter(_ > 0).toVector.groupMapReduce(identity)(_ => 1L)(_ + _)
  }
}
