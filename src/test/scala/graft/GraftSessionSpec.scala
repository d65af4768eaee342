package graft

class GraftSessionSpec extends SparkSpec {

  private val keys = Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.shuffle.partitions")

  /** Runs `body`, then puts back the shared session's conf and log level:
    * `GraftSession()` returns the session that already exists and applies
    * its runtime settings to it.
    */
  private def restoring(body: => Unit): Unit = {
    val before = keys.map(k => k -> spark.conf.get(k))
    try body
    finally {
      before.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sparkContext.setLogLevel("ERROR")
    }
  }

  test("a GraftSession() session has the UTC zone, nanosAsLong and Host.cpus shuffle partitions") {
    restoring {
      spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val s = GraftSession()
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") == Host.cpus)
    }
  }

  test("an extra pair overrides a default") {
    restoring {
      val s = GraftSession("spark.sql.session.timeZone" -> "America/Chicago", "spark.sql.shuffle.partitions" -> "7")
      assert(s.conf.get("spark.sql.session.timeZone") == "America/Chicago")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    }
  }
}
