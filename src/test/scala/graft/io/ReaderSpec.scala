package graft.io

import java.time.LocalDate

import graft.{Alert, SparkSpec}

class ReaderSpec extends SparkSpec {

  private def writeFixture(): String = {
    import spark.implicits._
    val dir = tempDir("reader") + "/data"
    val day1 = (1 to 5).map(i => Alert.gen(i.toLong, s"obj$i", 0.1, 0.1, 0, 0.5f, "Unknown", None, None))
    val day2 = (6 to 8).map(i => Alert.gen(i.toLong, s"obj$i", 0.1, 0.1, 0, 0.5f, "AGN", None, None))
      .map(_.copy(day = 2))
    (day1 ++ day2).toDF().write.partitionBy("year", "month", "day").parquet(dir)
    dir
  }

  test("partition manager generates padded and unpadded paths") {
    val pm = PartitionManager.forRange("2019-02-01", 2)
    assert(pm.relativePaths == Seq(
      "year=2019/month=02/day=01", "year=2019/month=2/day=1",
      "year=2019/month=02/day=02", "year=2019/month=2/day=2"))
    // the probe returns every spelling that exists, on either layout
    val dir = tempDir("reader-spellings")
    Seq("year=2019/month=02/day=01", "year=2019/month=2/day=1", "year=2019/month=2/day=2")
      .foreach(r => new java.io.File(s"$dir/$r").mkdirs())
    assert(pm.existingPaths(spark, dir) == Seq(
      s"$dir/year=2019/month=02/day=01", s"$dir/year=2019/month=2/day=1", s"$dir/year=2019/month=2/day=2"))
  }

  test("read prunes to existing requested partitions only") {
    val dir = writeFixture()
    val reader = new PartitionedReader(spark, ReaderConfig(dir))
    // spark partitionBy writes unpadded int dirs
    val pm = PartitionManager(LocalDate.of(2019, 2, 1), 1)
    val df = reader.read(pm)
    assert(df.count() == 5)
    // missing days are silently skipped as long as one partition exists
    val pm3 = PartitionManager(LocalDate.of(2019, 2, 1), 7)
    assert(reader.read(pm3).count() == 8)
  }

  test("orc and text formats ride the same partitioned scan path") {
    import spark.implicits._
    val orcDir = tempDir("reader_orc") + "/data"
    (1 to 4).map(i => (i.toLong, s"o$i", 2019, 2, 1)).toDF("id", "v", "year", "month", "day")
      .write.partitionBy("year", "month", "day").orc(orcDir)
    val orc = new PartitionedReader(spark, ReaderConfig(orcDir, format = DataFormat.Orc))
      .read(PartitionManager(LocalDate.of(2019, 2, 1), 1))
    assert(orc.count() == 4 && orc.columns.contains("id"))

    val txtDir = tempDir("reader_text") + "/data"
    Seq("line one", "line two").toDF("value")
      .withColumn("year", org.apache.spark.sql.functions.lit(2019))
      .withColumn("month", org.apache.spark.sql.functions.lit(2))
      .withColumn("day", org.apache.spark.sql.functions.lit(1))
      .write.partitionBy("year", "month", "day").text(txtDir)
    val txt = new PartitionedReader(spark, ReaderConfig(txtDir, format = DataFormat.Text))
      .read(PartitionManager(LocalDate.of(2019, 2, 1), 1))
    assert(txt.select("value").collect().map(_.getString(0)).toSet ==
      Set("line one", "line two"))
  }

  test("read throws NoDataException when no partitions exist") {
    val dir = writeFixture()
    val reader = new PartitionedReader(spark, ReaderConfig(dir))
    val pm = PartitionManager(LocalDate.of(2030, 1, 1), 2)
    assertThrows[NoDataException](reader.read(pm))
  }

  test("readAndProcess keeps, renames (nested flatten) and derives columns") {
    val dir = writeFixture()
    val reader = new PartitionedReader(
      spark,
      ReaderConfig(
        dir,
        keepCols = List("objectId", "rfscore"),
        keepColsRenamed = List("candidate.jd" -> "jd", "mulens_class_1" -> "mulens1"),
        newCols = List("rowkey" -> "objectId || '_' || jd")
      )
    )
    val pm = PartitionManager(LocalDate.of(2019, 2, 1), 1)
    val df = reader.readAndProcess(pm)
    assert(
      df.columns.toSeq == Seq("objectId", "rfscore", "jd", "mulens1", "year", "month", "day", "rowkey")
    )
    val row = df.where(df("objectId") === "obj1").head()
    assert(row.getAs[String]("rowkey") == "obj1_0.0")
  }

  test("partition predicate prunes through the catalog path too") {
    val dir = writeFixture()
    val pm  = PartitionManager(LocalDate.of(2019, 2, 2), 1)
    val df  = spark.read.parquet(dir).where(pm.partitionPredicate)
    assert(df.count() == 3)
    // the filter must reach the scan as a partition filter, not a post-scan filter
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") || df.inputFiles.length == 1)
  }

  test("schema evolution: mergeSchema option surfaces a late-added column, null-filled for old days") {
    import spark.implicits._
    val dir = tempDir("reader-evolve") + "/data"
    // day 1 written WITHOUT the quality column, day 2 WITH it
    Seq((1L, "a")).toDF("id", "v")
      .write.parquet(s"$dir/year=2019/month=2/day=1")
    Seq((2L, "b", 0.9)).toDF("id", "v", "quality")
      .write.parquet(s"$dir/year=2019/month=2/day=2")
    val reader = new PartitionedReader(spark, ReaderConfig(dir,
      options = Map("mergeSchema" -> "true")))
    val pm = PartitionManager(LocalDate.of(2019, 2, 1), 2)
    val df = reader.read(pm)
    assert(df.columns.contains("quality"))
    val rows = df.select("id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(0.9)))
  }
}
