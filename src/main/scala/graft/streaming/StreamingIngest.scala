package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.PartitionedReader
import graft.job.{GraftConfig, GraftJob}

/** Structured-Streaming front-end for the incremental load pipeline.
  *
  * The reference is strictly batch-incremental (SURVEY.md §1.3 — state
  * between runs is the id-manager table); this module is the natural
  * Spark-first extension: a file-source stream of the reader's base path
  * (its format and options) drives each micro-batch through the reader's
  * keep/rename/derive ([[graft.io.PartitionedReader.project]]) and then
  * [[graft.job.GraftJob.load]], the same id-stamp → classify → store code
  * that [[graft.job.GraftJob.process]] runs after its partition-pruned read,
  * with one system of record. A micro-batch joins against full history.
  *
  * Scale notes: `foreachBatch` (not a streaming sink per rule) because the
  * pipeline needs multi-output fan-out (vertex table + one edge table per
  * rule) and the id assignment is inherently sequential-per-batch — the
  * max-id scalar is the only cross-batch state, carried by the vertex
  * table itself, which also makes the query restart-safe (ids continue
  * from the stored max after checkpoint recovery).
  */
class StreamingIngest(spark: SparkSession, config: GraftConfig) {

  private val reader = new PartitionedReader(spark, config.reader)
  private val job    = new GraftJob(spark, config)

  /** Runs one micro-batch through the load pipeline. */
  def ingestBatch(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) job.load(reader.project(batch), loadedRange = None)

  /** Starts the streaming ingest over the reader base path (file source —
    * new alert files are discovered per trigger).
    */
  def start(schema: StructType, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(schema)
      .format(config.reader.format.name)
      .options(config.reader.options)
      .load(config.reader.basePath)
      .writeStream
      .foreachBatch(ingestBatch _)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}

/** Watermarked event-time operators over a streaming events table —
  * standard Structured-Streaming shapes (beyond-reference surface; the
  * batch q14/q15 queries are their batch equivalents).
  */
object EventStreamOps {

  /** Tumbling-window counts/sums per event type with late-data bound.
    * Works on both batch and streaming frames (same plan API).
    */
  def windowedTypeCounts(
      events: DataFrame,
      tsCol: String = "ts",
      windowLength: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming dedup on an id column bounded by watermark — the streaming
    * face of exact dedup (Spark keeps seen-key state until the watermark
    * expires it, so state is bounded at scale).
    */
  def dedupEvents(events: DataFrame, idCol: String = "event_id",
                  tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCol)
}

/** One event of the stateful sessionizer (event-time in epoch millis). */
case class SessionEvent(userId: Long, tsMillis: Long, value: Double)

/** [[SessionEvent]] + the watermarked event-time column (must survive into
  * the stateful operator for EventTimeTimeout — see sessionizeEventTime).
  */
case class TimedSessionEvent(userId: Long, eventTime: java.sql.Timestamp, tsMillis: Long, value: Double)

/** Open-session state carried between micro-batches. */
case class SessionState(sessionSeq: Long, startMillis: Long, lastMillis: Long, nEvents: Long, sumValue: Double)

/** A closed session emitted when the gap (or timeout) expires. */
case class ClosedSession(userId: Long, sessionSeq: Long, startMillis: Long,
                         endMillis: Long, nEvents: Long, sumValue: Double)

/** Stateful streaming sessionization via `flatMapGroupsWithState` — the
  * streaming face of [[graft.ops.Sessionize]] (same gap semantics, but
  * sessions close incrementally as state rather than via a global sort).
  *
  * State per user is O(1): exactly one open session. A session closes when
  * a later event arrives past the gap. Closing *idle* sessions (no further
  * events ever) needs a timeout: use `EventTimeTimeout` + a watermark in
  * production — NOT `ProcessingTimeTimeout`, whose per-tick state-cleanup
  * batches keep `processAllAvailable`-style quiescence from ever being
  * reached (measured: the query loops "No new data but cleaning up state"
  * forever under test harnesses).
  */
object StatefulSessionize {

  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  def sessionize(events: Dataset[SessionEvent], gapMillis: Long): Dataset[ClosedSession] = {
    implicit val se: org.apache.spark.sql.Encoder[SessionState]   = Encoders.product[SessionState]
    implicit val ce: org.apache.spark.sql.Encoder[ClosedSession]  = Encoders.product[ClosedSession]
    implicit val le: org.apache.spark.sql.Encoder[Long]           = Encoders.scalaLong

    def update(userId: Long, rows: Iterator[SessionEvent],
               state: GroupState[SessionState]): Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(_.tsMillis)
      var closed = List.empty[ClosedSession]
      var cur    = state.getOption
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.tsMillis - s.lastMillis <= gapMillis =>
            cur = Some(s.copy(lastMillis = e.tsMillis, nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
          case Some(s) =>
            closed ::= ClosedSession(userId, s.sessionSeq, s.startMillis, s.lastMillis, s.nEvents, s.sumValue)
            cur = Some(SessionState(s.sessionSeq + 1, e.tsMillis, e.tsMillis, 1, e.value))
          case None =>
            cur = Some(SessionState(0, e.tsMillis, e.tsMillis, 1, e.value))
        }
      }
      cur.foreach(state.update)
      closed.reverseIterator
    }

    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Event-time variant: also closes *idle* sessions once the watermark
    * passes `lastEvent + gap` — the production-complete form. Input must
    * carry an event-time `timestamp` column (for the watermark); rows are
    * converted to [[SessionEvent]]s internally.
    *
    * @param events    frame with (userCol, tsCol: timestamp, valueCol)
    * @param watermark late-data bound, e.g. "10 seconds"
    */
  def sessionizeEventTime(
      events: org.apache.spark.sql.DataFrame,
      gapMillis: Long,
      watermark: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"
  ): Dataset[ClosedSession] = {
    import org.apache.spark.sql.functions._
    implicit val ee: org.apache.spark.sql.Encoder[SessionEvent]  = Encoders.product[SessionEvent]
    implicit val se: org.apache.spark.sql.Encoder[SessionState]  = Encoders.product[SessionState]
    implicit val ce: org.apache.spark.sql.Encoder[ClosedSession] = Encoders.product[ClosedSession]
    implicit val le: org.apache.spark.sql.Encoder[Long]          = Encoders.scalaLong

    def update(userId: Long, rows: Iterator[TimedSessionEvent],
               state: GroupState[SessionState]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(ClosedSession(userId, s.sessionSeq, s.startMillis, s.lastMillis, s.nEvents, s.sumValue))
      }
      val sorted = rows.toSeq.sortBy(_.tsMillis)
      var closed = List.empty[ClosedSession]
      var cur    = state.getOption
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.tsMillis - s.lastMillis <= gapMillis =>
            cur = Some(s.copy(lastMillis = e.tsMillis, nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
          case Some(s) =>
            closed ::= ClosedSession(userId, s.sessionSeq, s.startMillis, s.lastMillis, s.nEvents, s.sumValue)
            cur = Some(SessionState(s.sessionSeq + 1, e.tsMillis, e.tsMillis, 1, e.value))
          case None =>
            cur = Some(SessionState(0, e.tsMillis, e.tsMillis, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // close when the watermark passes the session's gap horizon
        state.setTimeoutTimestamp(s.lastMillis + gapMillis)
      }
      closed.reverseIterator
    }

    implicit val te: org.apache.spark.sql.Encoder[TimedSessionEvent] = Encoders.product[TimedSessionEvent]
    val fn: (Long, Iterator[TimedSessionEvent], GroupState[SessionState]) => Iterator[ClosedSession] = update
    events
      .withWatermark(tsCol, watermark)
      .select(
        col(userCol).cast("long").as("userId"),
        col(tsCol).as("eventTime"), // the watermarked column, kept in-plan
        unix_millis(col(tsCol)).as("tsMillis"),
        col(valueCol).cast("double").as("value"))
      .as[TimedSessionEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
