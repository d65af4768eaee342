package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession: a local session on
  * [[Host.cpus]] cores with as many shuffle partitions, log level WARN.
  */
object GraftSession {

  /** Settings every session shares, the specs' included. */
  val settings: Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    // SparkEntry.E()'s timestamp cast depends on the session zone
    "spark.sql.session.timeZone" -> "UTC",
    // the events ts unit is the data's to choose (it changed nanos → µs
    // once); nanosAsLong makes a NANOS file arrive as a long, and
    // SparkEntry.E() normalizes whatever unit arrives
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The session; `extra` pairs are applied last, so they override the
    * defaults (`"spark.master" -> ...` included).
    */
  def apply(extra: (String, String)*): SparkSession = {
    val spark = SparkSession.builder().master(s"local[${Host.cpus}]")
      .config((Seq("spark.sql.shuffle.partitions" -> Host.cpus) ++ settings ++ extra).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
