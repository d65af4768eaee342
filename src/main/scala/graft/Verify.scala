package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // The oracles replicate the portable Md5Hash sketch pipeline — pin it
    // here so a stray SPARK_GRAFT_HASH can never silently fail correctness
    // (Bench is where the production XxHash path gets its timing signal).
    System.setProperty("graft.hash", "md5")
    System.clearProperty("graft.mode")
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: one pathological query must not consume the whole
    // correctness run. On timeout the query's job group is cancelled and the
    // run moves on (the query is then reported failed, not the round).
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "180").toLong
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Optional comma-separated query-name filter for fast local iteration
    // (dev/check_oracle.py takes the same names); the driver leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // The job group must be set on the thread that SUBMITS the Spark jobs
      // (it's a thread-local snapshot): setting it here on the main thread
      // would tag nothing, and a reused pool thread would carry a stale
      // group — cancelJobGroup would then cancel the wrong (or no) jobs.
      val work = Future {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally spark.sparkContext.clearJobGroup()
      }
      try Await.result(work, timeoutSec.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s — cancelled")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Caches.clear() // drop operator-internal persisted intermediates
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
