package graft.ids

import org.apache.spark.sql.functions._

import graft.{Alert, SparkSpec}

/** Mirrors the reference's IDManagerSparkServiceSpec: reservedIdSpace
  * fallback; contiguous ids continuing from the previous max.
  */
class IdManagerSpec extends SparkSpec {

  private def alerts(n: Int, startId: Long = 0): Seq[Alert] =
    (1 to n).map(i => Alert.gen(startId + i, s"obj$i", 0.1, 0.1, 0, 0.5f, "Unknown", None, None))

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

  test("fetchId returns reservedIdSpace for an empty table") {
    import spark.implicits._
    val mgr = new IdManager(spark, IdManagerConfig(tempDir("idm"), "t", reservedIdSpace = 200))
    val loaded = mgr.readAll(alerts(1).toDF().drop("id").schema)
    assert(loaded.isEmpty)
    assert(loaded.columns.head == "id")
    assert(mgr.fetchId(loaded) == 200L)
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

  test("steady-state id continuation comes from the sidecar, not a table scan") {
    import spark.implicits._
    val dir = tempDir("idm-sidecar")
    val mgr = new IdManager(spark, IdManagerConfig(dir, "t", reservedIdSpace = 0))
    mgr.process(alerts(4).toDF().drop("id")) // ids 1..4
    assert(mgr.readMaxIdSidecar().contains(4L))
    // remove the DATA (keep the sidecar): if the next run still continues
    // at 5, the max came from the sidecar — no table scan happened
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t/year=2019"), true)
    val r = mgr.process(alerts(2).toDF().drop("id"))
    assert(r.current.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
  }

  test("stale sidecar below the table max is overridden by the scan — ids never reused") {
    import spark.implicits._
    val dir = tempDir("idm-sidecar-stale")
    val mgr = new IdManager(spark, IdManagerConfig(dir, "t", reservedIdSpace = 0))
    mgr.process(alerts(4).toDF().drop("id")) // ids 1..4, sidecar = 4
    // simulate an out-of-band writer: rewind the sidecar to 2 while the
    // table's real max stays 4 — trusting it would reassign ids 3 and 4
    val fs  = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/t/_last_id"), true)
    out.write("2".getBytes("UTF-8")); out.close()
    val r = mgr.process(alerts(2).toDF().drop("id"))
    assert(r.current.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
    assert(mgr.readMaxIdSidecar().contains(6L)) // healed forward
  }

  test("sidecar fallback: absent or corrupt sidecar re-derives the max from the table") {
    import spark.implicits._
    val dir = tempDir("idm-sidecar2")
    val mgr = new IdManager(spark, IdManagerConfig(dir, "t", reservedIdSpace = 0))
    mgr.process(alerts(4).toDF().drop("id")) // ids 1..4
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val sidecar = new org.apache.hadoop.fs.Path(s"$dir/t/_last_id")
    // absent → scan fallback yields the same continuation the sidecar would
    fs.delete(sidecar, false)
    val r2 = mgr.process(alerts(2).toDF().drop("id"))
    assert(r2.current.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
    // corrupt → same
    val out = fs.create(sidecar, true)
    out.write("not-a-number".getBytes("UTF-8")); out.close()
    val r3 = mgr.process(alerts(1).toDF().drop("id"))
    assert(r3.current.select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
    // and the write path healed the sidecar
    assert(mgr.readMaxIdSidecar().contains(7L))
  }

  test("deletePartitions drops matching partition dirs") {
    import spark.implicits._
    val dir = tempDir("idm3")
    val mgr = new IdManager(spark, IdManagerConfig(dir, "t"))
    mgr.process(alerts(4).toDF().drop("id"))
    assert(mgr.readAll(alerts(1).toDF().drop("id").schema).count() == 4)
    mgr.deletePartitions(graft.io.PartitionManager.forRange("2019-02-01", 1))
    assert(mgr.readAll(alerts(1).toDF().drop("id").schema).isEmpty)
  }
}
