package graft.tools

import org.apache.spark.sql.SparkSession

/** Times one or more SparkEntry queries INCLUDING query construction
  * (operators that materialize during construction — iterative loops,
  * index builds — are invisible to [[Explain]]'s post-construction count;
  * this is the Bench-equivalent per-query number without a full sweep).
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <queryName> [query ...]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    // Time the bench face (SPARK_GRAFT_MODE=bench) or the verify face
    // (default) — sbt's forked run drops -D flags, so the env var is the
    // only reliable channel.
    sys.env.get("SPARK_GRAFT_MODE").foreach(System.setProperty("graft.mode", _))
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.tail.toSeq
    val cpus  = graft.Host.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC") // E()'s ts cast is tz-dependent
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      (1 to 3).foreach { run =>
        val t0 = System.nanoTime()
        val n  = graft.SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[time] $name run$run ${(System.nanoTime() - t0) / 1e9}%.3fs rows=$n")
        graft.Caches.clear()
      }
    }
    spark.stop()
  }
}
