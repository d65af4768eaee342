package graft.tools

/** Plan-inspection harness: prints the formatted physical plan of one or more
  * SparkEntry queries and times two consecutive executions (first ≈ includes
  * codegen/plan compile, second ≈ steady-state).
  *
  * Usage: runMain graft.tools.Explain <sfDir> <queryName> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      println(s"========== $name ==========")
      val df = fn(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime(); val n1 = df.count(); val t1 = System.nanoTime()
      val n2 = df.count(); val t2 = System.nanoTime()
      println(f"[explain] $name rows=$n1 first=${(t1 - t0) / 1e9}%.3fs second=${(t2 - t1) / 1e9}%.3fs")
    }
    spark.stop()
  }
}
