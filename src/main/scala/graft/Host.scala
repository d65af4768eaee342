package graft

/** Defaults taken from the host, not from a fixed machine size. */
object Host {

  /** Cores of a local Spark session (`local[n]`) and its shuffle partition
    * count: `SPARK_GRAFT_CPUS`, else the processors this JVM may use.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
