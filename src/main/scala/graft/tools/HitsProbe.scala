package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Convergence probe for [[graft.graph.GraphQueries.hits]]: prints the
  * one-extra-half-step residual of the authority vector per iteration
  * budget, on the q155 graph at the given SF — the data that pins q155's
  * (iters, threshold) pair. Usage: runMain graft.tools.HitsProbe <sfDir>.
  */
object HitsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(s"local[${graft.Host.cpus}]")
      .config("spark.sql.shuffle.partitions", graft.Host.cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      col("l_partkey").cast("long").as("src"),
      (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
    val eD = e.distinct().cache()
    Seq(5, 8, 10, 12, 15, 20).foreach { iters =>
      val t0 = System.nanoTime()
      val res = graft.graph.GraphQueries.hits(spark, e, iters = iters)
      val aRaw = eD.join(res.select(col("id").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("_a2"))
      val n2 = aRaw.agg(sum(col("_a2") * col("_a2")).as("_n2"))
      val a2n = aRaw.crossJoin(broadcast(n2))
        .select(col("dst").as("id"), (col("_a2") / sqrt(col("_n2"))).as("_a2"))
      val r = res.join(a2n, Seq("id"), "left")
        .agg(max(abs(coalesce(col("_a2"), lit(0.0)) - col("authority")))).head.getDouble(0)
      println(f"[hits] iters=$iters%2d resid=$r%.3e took=${(System.nanoTime() - t0) / 1e9}%.1fs")
      graft.Caches.clear()
    }
    spark.stop()
  }
}
