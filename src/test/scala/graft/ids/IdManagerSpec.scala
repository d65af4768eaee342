package graft.ids

import org.apache.spark.graft.TestSparkInternals.jobsStarted
import org.apache.spark.sql.functions._

import graft.{Alert, SparkSpec}

/** Mirrors the reference's IDManagerSparkServiceSpec: reservedIdSpace
  * fallback; contiguous ids continuing from the previous max.
  */
class IdManagerSpec extends SparkSpec {

  private def alerts(n: Int, startId: Long = 0): Seq[Alert] =
    (1 to n).map(i => Alert.gen(startId + i, s"obj$i", 0.1, 0.1, 0, 0.5f, "Unknown", None, None))

  /** Delete mode of the load job over the table `t` under `dir`, with no rule. */
  private def deleteDays(dir: String, config: IdManagerConfig, startDate: String): Unit =
    new graft.job.GraftJob(spark, graft.job.GraftConfig(graft.io.ReaderConfig(s"$dir/raw"), config,
      s"$dir/edges", graft.job.RulesConfig(Nil))).delete(startDate, 1, clearOnDelete = true)

  test("zipWithIndex assigns dense contiguous ids from offset+1") {
    import spark.implicits._
    val df = alerts(5).toDF().repartition(3)
    val withIds = ZipWithIndex.zipWithIndex(df, offset = 7)
    val ids = withIds.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(8L, 9L, 10L, 11L, 12L))
    assert(withIds.columns.head == "id")
    assert(withIds.count() == 5)
  }

  test("zipWithIndex replaces an existing id column") {
    import spark.implicits._
    val df = alerts(3).toDF()
    val withIds = ZipWithIndex.zipWithIndex(df, offset = 100)
    assert(withIds.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(101L, 102L, 103L))
    assert(withIds.columns.count(_ == "id") == 1)
  }

  test("empty store: first ids follow reservedIdSpace, no table read") {
    import spark.implicits._
    val dir = tempDir("idm")
    val mgr = new IdManager(spark, IdManagerConfig(dir, "t", reservedIdSpace = 200))
    val loaded = mgr.readAll(alerts(1).toDF().drop("id").schema)
    assert(loaded.isEmpty)
    assert(loaded.columns.head == "id")
    val log = new graft.io.RunLog(spark, IdManagerConfig(dir, "t", reservedIdSpace = 200), None)
    assert(jobsStarted(spark.sparkContext)(assert(log.recover().hi == 200L)).isEmpty)
    val r = mgr.process(alerts(2).toDF().drop("id"))
    assert(r.current.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(201L, 202L))
    assert(log.state().hi == 202L)
  }

  test("process stamps ids, appends partitioned, and continues across runs") {
    import spark.implicits._
    val mgr = new IdManager(spark, IdManagerConfig(tempDir("idm2"), "t", reservedIdSpace = 7))

    val day1 = alerts(5).toDF().drop("id")
    val r1   = mgr.process(day1)
    val ids1 = r1.current.select("id").collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq == (8L to 12L))
    assert(r1.loaded.isEmpty)

    val day2 = alerts(3).toDF().drop("id").withColumn("day", lit(2))
    val r2   = mgr.process(day2)
    val ids2 = r2.current.select("id").collect().map(_.getLong(0)).sorted
    assert(ids2.toSeq == (13L to 15L))
    assert(r2.loaded.count() == 5)

    // table now holds both days, partition-pruned reads work
    val all = mgr.readAll(day1.schema)
    assert(all.count() == 8)
    assert(all.where(col("day") === 2).count() == 3)
  }

  test("readRange prunes partitions (PartitionFilters in the physical plan)") {
    import spark.implicits._
    val mgr = new IdManager(spark, IdManagerConfig(tempDir("idm-range"), "t"))
    mgr.process(alerts(5).toDF().drop("id")) // day 1 (Alert.gen: 2019-02-01)
    mgr.process(alerts(3).toDF().drop("id").withColumn("day", lit(2))) // day 2

    val schema = alerts(1).toDF().drop("id").schema
    val pm     = graft.io.PartitionManager.forRange("2019-02-02", 1)
    val ranged = mgr.readRange(schema, pm)
    assert(ranged.count() == 3)

    // pruning must reach the scan: the predicate becomes PartitionFilters
    // (no data filter, no full-table file scan), so only day=2's files are
    // ever listed into the physical plan
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"expected partition pruning in plan:\n$plan")
    val filters = plan.split("PartitionFilters: \\[")(1).split("]")(0)
    assert(filters.trim.nonEmpty, s"PartitionFilters empty — predicate did not prune:\n$plan")

    // empty table: readRange degrades like readAll (empty frame with id)
    val empty = new IdManager(spark, IdManagerConfig(tempDir("idm-range2"), "t"))
      .readRange(schema, pm)
    assert(empty.isEmpty && empty.columns.head == "id")
  }

  test("process with loadedRange restricts loaded but still continues ids from the full max") {
    import spark.implicits._
    val mgr = new IdManager(spark, IdManagerConfig(tempDir("idm-range3"), "t", reservedIdSpace = 0))
    mgr.process(alerts(4).toDF().drop("id")) // ids 1..4 on day 1
    val pmDay2 = graft.io.PartitionManager.forRange("2019-02-02", 1)
    val r = mgr.process(
      alerts(2).toDF().drop("id").withColumn("day", lit(2)), loadedRange = Some(pmDay2))
    // loaded side sees only day 2 (nothing yet) — but ids continue from 4
    assert(r.loaded.isEmpty)
    assert(r.current.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  test("steady-state id continuation comes from the run log, not a table scan") {
    import spark.implicits._
    val dir = tempDir("idm-log")
    val mgr = new IdManager(spark, IdManagerConfig(dir, "t", reservedIdSpace = 0))
    mgr.process(alerts(4).toDF().drop("id")) // ids 1..4
    val log = new graft.io.RunLog(spark, IdManagerConfig(dir, "t", reservedIdSpace = 0), None)
    assert(jobsStarted(spark.sparkContext)(assert(log.recover().hi == 4L)).isEmpty)
    // remove the DATA (keep the log): if the next run still continues at 5,
    // the last id came from the log — no table scan happened
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t/year=2019"), true)
    val r = mgr.process(alerts(2).toDF().drop("id"))
    assert(r.current.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
  }

  /** A store as the sidecar-era code left it: Parquet rows with ids
    * `ids`, and a `_last_id` file holding `sidecar` (None: no file).
    */
  private def legacyStore(tag: String, ids: Seq[Long], sidecar: Option[String]): String = {
    import spark.implicits._
    val dir = tempDir(tag)
    alerts(ids.size).zip(ids).map { case (a, id) => a.copy(id = id) }.toDF()
      .write.partitionBy("year", "month", "day").parquet(s"$dir/t")
    sidecar.foreach { v =>
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/t/_last_id"), true)
      out.write(v.getBytes("UTF-8")); out.close()
    }
    dir
  }

  private def nextIds(dir: String, n: Int): Seq[Long] = {
    import spark.implicits._
    new IdManager(spark, IdManagerConfig(dir, "t", reservedIdSpace = 0))
      .process(alerts(n).toDF().drop("id").withColumn("day", lit(2)))
      .current.select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("legacy adoption continues ids from the larger of sidecar and max(id)") {
    // sidecar below the table max (an out-of-band writer): the scan wins
    assert(nextIds(legacyStore("idm-legacy-low", Seq(1L, 2L, 3L, 4L), Some("2")), 2) == Seq(5L, 6L))
    // sidecar above the table max (a crash after the sidecar advanced
    // left a gap): the sidecar wins, so no id is ever issued twice
    val gap = legacyStore("idm-legacy-high", Seq(1L, 2L, 3L, 4L), Some("9"))
    assert(nextIds(gap, 2) == Seq(10L, 11L))
    // adopted once: the table scan is not repeated, ids go on from the log
    assert(nextIds(gap, 1) == Seq(12L))
  }

  test("legacy adoption with absent or corrupt sidecar scans max(id)") {
    assert(nextIds(legacyStore("idm-legacy-none", Seq(3L, 7L), None), 2) == Seq(8L, 9L))
    assert(nextIds(legacyStore("idm-legacy-bad", Seq(3L, 7L), Some("not-a-number")), 1) == Seq(8L))
  }

  test("a delete never lowers the high-water: ids are never reused") {
    import spark.implicits._
    val dir = tempDir("idm-highwater")
    val cfg = IdManagerConfig(dir, "t", reservedIdSpace = 10)
    val mgr = new IdManager(spark, cfg)
    mgr.process(alerts(3).toDF().drop("id")) // ids 11..13, day 1
    mgr.process(alerts(2).toDF().drop("id").withColumn("day", lit(2))) // 14..15, day 2
    // drop the latest day: max(id) over the table falls back to 13
    deleteDays(dir, cfg, "2019-02-02")
    val r = mgr.process(alerts(2).toDF().drop("id").withColumn("day", lit(2)))
    assert(r.current.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(16L, 17L))
    assert(r.loaded.count() == 3 && r.currentCount == 2)
  }

  test("deletePartitions drops matching partition dirs") {
    import spark.implicits._
    val dir = tempDir("idm3")
    val cfg = IdManagerConfig(dir, "t")
    val mgr = new IdManager(spark, cfg)
    mgr.process(alerts(4).toDF().drop("id"))
    assert(mgr.readAll(alerts(1).toDF().drop("id").schema).count() == 4)
    val pm = graft.io.PartitionManager.forRange("2019-02-01", 1)
    assert(pm.existingPaths(spark, s"$dir/t").nonEmpty)
    deleteDays(dir, cfg, "2019-02-01")
    assert(pm.existingPaths(spark, s"$dir/t").isEmpty)
    assert(mgr.readAll(alerts(1).toDF().drop("id").schema).isEmpty)
  }
}
