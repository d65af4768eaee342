package graft.tools

import graft.SparkSpec

/** Env-gated local debug runner: show any registry query's frame without a
  * Verify round-trip. The test is registered only when `GRAFT_SCRATCH`
  * names a query, so normal test sweeps neither run nor cancel it.
  *
  *   GRAFT_SCRATCH=q377_cox_multi [GRAFT_SCRATCH_MODE=bench] \
  *     [GRAFT_SCRATCH_DIR=/root/testdata/sf0.01] sbt "testOnly *ScratchDebug"
  */
class ScratchDebug extends SparkSpec {
  private val name = sys.env.getOrElse("GRAFT_SCRATCH", "")
  if (name.nonEmpty) test("debug: show one registry query")(show())

  private def show(): Unit = {
    val dir = sys.env.getOrElse("GRAFT_SCRATCH_DIR", "/root/testdata/sf0.01")
    val priorHash = sys.props.get("graft.hash")
    System.setProperty("graft.hash", "md5")
    sys.env.get("GRAFT_SCRATCH_MODE").foreach(System.setProperty("graft.mode", _))
    try graft.SparkEntry.queries(name)(spark, dir).show(50, truncate = false)
    finally {
      System.clearProperty("graft.mode")
      // restore the process-wide hash family — leaking md5 into suites
      // that run after this one flips activeHash for the whole JVM
      priorHash match {
        case Some(h) => System.setProperty("graft.hash", h)
        case None    => System.clearProperty("graft.hash")
      }
    }
  }
}
