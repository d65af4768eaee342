package perfbench

/** Engine-free self-test of the generator and the expected-result oracles;
  * runs at the start of every benchmark run.
  */
object SelfTest {

  /** Failed assertions; empty when every check passes. */
  def run(): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def check(what: String, ok: Boolean): Unit = if (!ok) failures += what

    // determinism: the same seed gives the same rows, another seed does not
    val spec = GenSpec(days = 4, alertsPerDay = 50, returnFrac = 0.5, highFrac = 0.1)
    check("same seed, same rows", AlertGen.generate(spec, 5L) == AlertGen.generate(spec, 5L))
    check("other seed, other rows", AlertGen.generate(spec, 5L) != AlertGen.generate(spec, 6L))
    val rows = AlertGen.generate(spec, 5L).flatten
    check("objects come back", rows.map(_.objectId).distinct.size < rows.size)
    check("high scores present", rows.exists(_.high) && rows.exists(!_.high))
    check("no score on the threshold", rows.forall(a => math.abs(a.rfscore - 0.9) > 0.004))

    // hand-sized case: day 0 = A (high), A, B (high); day 1 = A (high), C (asteroid, RRLyr)
    val a0  = Alert("A", 0.95, "Unknown", 0)
    val a0b = Alert("A", 0.10, "Unknown", 0)
    val b0  = Alert("B", 0.97, "Star", 0)
    val a1  = Alert("A", 0.99, "Unknown", 1)
    val c1  = Alert("C", 0.20, "RRLyr", 2)
    val day0 = Vector(a0, a0b, b0)
    val day1 = Vector(a1, c1)

    val full = new Oracle(None)
    check("full day 0", full.process(Seq(0 -> day0)) ==
      (3L, Map("similarity" -> 4L, "exactmatch" -> 2L, "satr" -> 0L)))
    // day 1 pairs: A1-A0 (object and score), A1-A0b (object), A1-B0 (score)
    check("full day 1", full.process(Seq(1 -> day1)) ==
      (2L, Map("similarity" -> 6L, "exactmatch" -> 4L, "satr" -> 4L)))
    val windowed = new Oracle(Some(1))
    windowed.process(Seq(0 -> day0))
    check("window day 1", windowed.process(Seq(1 -> day1)) ==
      (2L, Map("similarity" -> 0L, "exactmatch" -> 0L, "satr" -> 4L)))
    val batch = new Oracle(None)
    check("two-day batch", batch.process(Seq(0 -> day0, 1 -> day1)) ==
      (5L, Map("similarity" -> 10L, "exactmatch" -> 6L, "satr" -> 4L)))

    val ids   = Map(201L -> (0, a0), 202L -> (0, a0b), 203L -> (0, b0), 204L -> (1, a1), 205L -> (1, c1))
    val graph = new GraphOracle(ids, None)
    check("label rows", graph.labelRows == Map("similarity" -> 10L, "exactmatch" -> 6L, "satr" -> 4L))
    check("neighbors", graph.neighbors(201L) == ((5L, Set(202L, 203L, 204L))))
    check("twoHop via recipes", graph.twoHop(205L) == Set(1L, 2L))
    check("twoHop via object and score", graph.twoHop(202L) == Set(201L, 203L, 204L))
    check("degree histogram", graph.degreeHistogram == Map(5L -> 2L, 4L -> 1L, 2L -> 2L, 1L -> 2L))
    val graphWindowed = new GraphOracle(ids, Some(1))
    check("windowed label rows", graphWindowed.labelRows == Map("similarity" -> 4L, "exactmatch" -> 2L, "satr" -> 4L))
    check("windowed twoHop", graphWindowed.twoHop(204L) == Set.empty[Long])

    failures.result()
  }
}
