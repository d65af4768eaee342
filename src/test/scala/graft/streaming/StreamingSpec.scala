package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ids.IdManagerConfig
import graft.io.ReaderConfig
import graft.job.{GraftConfig, GraftJob, RulesConfig}
import graft.rules.{SameValueSimilarityConfig, SimilarityConfig}

class StreamingSpec extends SparkSpec {

  test("file-source streaming ingest runs the full pipeline per micro-batch") {
    import spark.implicits._
    val work = tempDir("graft-stream")
    val alerts = Seq(
      ("objA", 0.95, 2019, 2, 1),
      ("objB", 0.20, 2019, 2, 1),
      ("objA", 0.99, 2019, 2, 2)
    ).toDF("objectId", "rfscore", "year", "month", "day")
    alerts.write.parquet(s"$work/raw")

    val config = GraftConfig(
      reader = ReaderConfig(s"$work/raw"),
      idManager = IdManagerConfig(s"$work/ids", "vertices", reservedIdSpace = 100),
      edgeBasePath = s"$work/edges",
      rules = RulesConfig(
        rulesToApply = List("similarityClassifier"),
        similarity = Some(SimilarityConfig("objectId")))
    )
    val q = new StreamingIngest(spark, config)
      .start(alerts.schema, s"$work/ckpt")
    q.awaitTermination(60000)

    val ids = spark.read.parquet(s"$work/ids/vertices").select("id", "objectId")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ids.keySet == Set(101L, 102L, 103L))
    val edges = spark.read.parquet(s"$work/edges/label=similarity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the two objA vertices are connected (both orientations present)
    val objAIds = ids.filter(_._2 == "objA").keySet
    assert(objAIds.subsets(2).forall(s => { val Seq(a, b) = s.toSeq.sorted; edges((b, a)) && edges((a, b)) }))
  }

  test("batch/stream parity: process and StreamingIngest load the same vertices and edges") {
    import spark.implicits._
    val raw = tempDir("graft-parity") + "/raw"
    // one file per day, day 1 older than day 2: the stream takes one day per
    // micro-batch in file order, as process takes one day per call
    Seq(
      Seq(("objA", 0.95, "C*", 2019, 2, 1), ("objB", 0.20, "Unknown", 2019, 2, 1)),
      Seq(("objA", 0.99, "C*", 2019, 2, 2), ("objC", 0.10, "C*", 2019, 2, 2))
    ).zipWithIndex.foreach { case (day, i) =>
      val dir = s"$raw/year=2019/month=2/day=${i + 1}"
      day.toDF("objectId", "rfscore", "cdsxmatch", "year", "month", "day")
        .drop("year", "month", "day").coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1000000000000L + i * 60000L))
    }
    def config(work: String) = GraftConfig(
      reader = ReaderConfig(raw, newCols = List("tag" -> "objectId || '_' || cdsxmatch"),
        options = Map("maxFilesPerTrigger" -> "1")),
      idManager = IdManagerConfig(s"$work/ids", "vertices", reservedIdSpace = 100),
      edgeBasePath = s"$work/edges",
      rules = RulesConfig(
        rulesToApply = List("similarityClassifier", "sameValueClassifier"),
        similarity = Some(SimilarityConfig("objectId OR cdsxmatch")),
        sameValue = Some(SameValueSimilarityConfig(List("cdsxmatch")))))

    val batchWork = tempDir("graft-parity-batch")
    val job = new GraftJob(spark, config(batchWork))
    job.process("2019-02-01", 1)
    job.process("2019-02-02", 1)

    val streamWork = tempDir("graft-parity-stream")
    val schema = spark.read.parquet(raw).schema
    val q = new StreamingIngest(spark, config(streamWork)).start(schema, s"$streamWork/ckpt")
    q.awaitTermination(60000)

    // vertices by their natural key (objectId, day); edges through that key
    def stored(work: String): (Set[Row], Map[String, Set[(Row, Row, String)]]) = {
      val v = spark.read.parquet(s"$work/ids/vertices")
        .select("id", "objectId", "rfscore", "cdsxmatch", "tag", "year", "month", "day").collect()
      val key = v.map(r => r.getLong(0) -> Row(r.getString(1), r.getInt(7))).toMap
      val edges = List("similarity", "exactmatch").map { label =>
        label -> spark.read.parquet(s"$work/edges/label=$label").collect()
          .map(r => (key(r.getLong(0)), key(r.getLong(1)), r.get(2).toString)).toSet
      }.toMap
      (v.toSet, edges)
    }
    val (batchVertices, batchEdges)   = stored(batchWork)
    val (streamVertices, streamEdges) = stored(streamWork)
    assert(batchVertices.map(_.getString(4)) == Set("objA_C*", "objB_Unknown", "objC_C*"))
    assert(streamVertices == batchVertices)
    assert(streamEdges == batchEdges)
    assert(batchEdges.values.forall(_.nonEmpty))
  }

  test("windowed type counts aggregate by tumbling event-time windows") {
    import spark.implicits._
    val stream = MemoryStream[(Timestamp, String, Double)](spark)
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 3.0))
    val events = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventStreamOps.windowedTypeCounts(events)
      .writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select(date_format(col("window_start"), "HH:mm").as("h"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(("10:00", "click", 2L, 3.0), ("11:00", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap, carries state across batches") {
    import spark.implicits._
    val stream = MemoryStream[SessionEvent](spark)
    val q = StatefulSessionize.sessionize(stream.toDS(), gapMillis = 1000L)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      // batch 1: two events inside one session for user 7
      stream.addData(SessionEvent(7L, 0L, 1.0), SessionEvent(7L, 500L, 2.0))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() == 0) // session still open
      // batch 2: a far-future event closes session 0 and opens session 1
      stream.addData(SessionEvent(7L, 10000L, 3.0))
      q.processAllAvailable()
      val closed = spark.table("sessions_out").as[ClosedSession].collect()
      assert(closed.length == 1)
      assert(closed.head == ClosedSession(7L, 0L, 0L, 500L, 2L, 3.0))
    } finally q.stop()
  }

  test("event-time sessionize closes idle sessions when the watermark passes") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Timestamp, Double)](spark)
    val events = stream.toDF().toDF("user_id", "ts", "value")
    val out = StatefulSessionize.sessionizeEventTime(
      events, gapMillis = 1000L, watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("et_sessions")
      .outputMode("append").start()
    try {
      stream.addData((7L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      assert(spark.table("et_sessions").count() == 0) // open, watermark not past gap
      // a much later event (other user) advances the watermark past 10:00:01
      stream.addData((8L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0))
      q.processAllAvailable()
      // one more batch so the timeout fires after the watermark advanced
      stream.addData((8L, Timestamp.valueOf("2024-01-01 10:10:00.5"), 1.0))
      q.processAllAvailable()
      val closed = spark.table("et_sessions").as[ClosedSession].collect()
      assert(closed.exists(c => c.userId == 7L && c.nEvents == 1L), closed.mkString(","))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Timestamp)](spark)
    stream.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:00:01")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:02")))
    val events = stream.toDF().toDF("event_id", "ts")
    val q = EventStreamOps.dedupEvents(events)
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }
}
