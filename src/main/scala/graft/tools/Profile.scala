package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-stage profiler for one or more SparkEntry queries: runs each query
  * (bench face, count-forced, like Bench) and prints every completed stage's
  * wall time, task time, shuffle read/write bytes and record counts, sorted
  * by task time — the local stand-in for the Spark UI's stage table
  * (guide §1.1/§7.1; the UI is disabled in the bench harness).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <queryName> [queryName ...]
  * Env: SPARK_GRAFT_CPUS (default: the host's processors), SPARK_GRAFT_PROFILE_RUNS (default 2 —
  * run 1 pays codegen, run 2 is reported; stages of earlier runs are
  * discarded between runs).
  */
object Profile {
  private final class StageAgg extends SparkListener {
    case class S(id: Int, name: String, ms: Long, taskMs: Long,
        shufReadMB: Double, shufWriteMB: Double, inMB: Double,
        recsIn: Long, recsShufR: Long, recsShufW: Long, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[S]()
    val scopes = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m  = si.taskMetrics
      // operator scopes of the stage's RDDs — maps an AQE stage back to the
      // plan operators it executes (the local stand-in for the SQL tab)
      scopes.put(si.stageId,
        si.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name).distinct.mkString(" <- "))
      val wall = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
      stages.add(S(si.stageId, si.name.takeWhile(_ != '\n').take(120), wall,
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.bytesRead / 1e6,
        m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten,
        si.numTasks))
      ()
    }
    def clear(): Unit = stages.clear()
  }

  def main(args: Array[String]): Unit = {
    sys.env.get("SPARK_GRAFT_MODE").foreach(System.setProperty("graft.mode", _))
    if (!sys.props.contains("graft.mode")) System.setProperty("graft.mode", "bench")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.tail.toSeq
    val cpus  = graft.Host.cpus
    val runs  = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt.max(1)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // measurement-only conf overrides for A/B experiments, e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false;spark.foo=bar"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").map(_.trim).filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val agg = new StageAgg
    spark.sparkContext.addSparkListener(agg)
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      var rows = -1L; var dt = 0.0
      (1 to runs).foreach { r =>
        agg.clear()
        val t0 = System.nanoTime()
        rows = fn(spark, sfDir).count()
        dt = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name run$r ${dt}%.3f s rows=$rows")
        graft.Caches.clear()
      }
      // the last run's stages (steady state)
      import scala.jdk.CollectionConverters._
      val ss = agg.stages.asScala.toSeq.sortBy(-_.taskMs)
      val totTask = ss.map(_.taskMs).sum
      val totShufW = ss.map(_.shufWriteMB).sum
      println(f"[profile] $name stages=${ss.size} taskTimeTotal=${totTask / 1000.0}%.2f s " +
        f"shuffleWriteTotal=$totShufW%.1f MB")
      ss.take(25).foreach { s =>
        println(f"[profile]   stage ${s.id}%4d wall=${s.ms}%6d ms task=${s.taskMs}%7d ms " +
          f"tasks=${s.tasks}%3d in=${s.inMB}%8.1f MB sr=${s.shufReadMB}%8.1f MB " +
          f"sw=${s.shufWriteMB}%8.1f MB recIn=${s.recsIn}%9d recSW=${s.recsShufW}%9d  ${s.name}")
        Option(agg.scopes.get(s.id)).filter(_.nonEmpty)
          .foreach(sc => println(s"[profile]     ops: ${sc.take(400)}"))
      }
    }
    spark.stop()
  }
}
