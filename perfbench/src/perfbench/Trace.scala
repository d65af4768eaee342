package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed interval, in epoch milliseconds. `parent` is -1 for a top-level
  * span (one public call the benchmark makes).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Work Spark did under one span: summed over its jobs' tasks. */
final class Work {
  var jobs, stages, failedTasks          = 0
  var taskMs, shuffleWrite, spill        = 0L
  var input, output                      = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; failedTasks += o.failedTasks
    taskMs += o.taskMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
  }
}

/** Records every Spark job and SQL execution while `on`, and attributes each
  * to a layer of the program.
  *
  * A job's layer is read from the call site of its SQL execution (looked up
  * through `spark.sql.execution.id`: AQE stage jobs carry a thread-pool call
  * site of their own) or, for a job outside any execution, from the job's own
  * call site. The layer is the package of the first `graft.<pkg>.` frame.
  * Two refinements, both applied in [[Tracer.spans]]:
  *  - an execution with no `graft.` frame was started by the benchmark
  *    acting on a frame a public call returned, and belongs to that call;
  *  - `GraftJob.process` runs each rule's lazy edge frame with a `count()`
  *    of its own and then hands it to `EdgeStore.write`: an execution from
  *    the `job` package directly followed by a write into `label=L` is the
  *    rule that writes label L.
  *
  * Driver work that starts no Spark job (input probes and file listing,
  * planning, sidecar files) is seen by sampling the stack of the thread
  * that created the tracer every [[Tracer.SampleMs]] ms while `on`: a run
  * of samples outside every execution, all in one layer by their innermost
  * `graft.<pkg>.` frame, becomes a span of that layer.
  */
final class Tracer extends SparkListener {

  @volatile var on: Boolean = false

  private val GraftFrame = """^\s*graft\.([a-z]+)\.""".r.unanchored
  private val WriteLabel = """InsertIntoHadoopFsRelationCommand\s+\S*/label=(\w+)""".r.unanchored

  /** Layer of the first `graft.<pkg>.` line: a call site's lines run from
    * the innermost frame outwards, as do the frames of a stack trace.
    */
  private def layerOf(lines: Iterator[String]): String =
    lines.collectFirst { case GraftFrame(pkg) => if (Tracer.Layers.contains(pkg)) pkg else "other" }
      .getOrElse(Tracer.NoFrame)
  private def layerOf(callSite: String): String =
    layerOf(Option(callSite).iterator.flatMap(_.linesIterator))

  private val client  = Thread.currentThread()
  private val samples = mutable.ArrayBuffer.empty[(Double, String)] // (epoch ms, layer)
  @volatile private var sampling = true
  private val sampler = new Thread(() =>
    while (sampling) {
      if (on) {
        val t     = System.currentTimeMillis().toDouble
        val layer = layerOf(client.getStackTrace.iterator.map(_.getClassName + "."))
        synchronized(samples += ((t, layer)))
      }
      Thread.sleep(Tracer.SampleMs)
    }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Stops the sampler thread and waits for it. */
  def close(): Unit = { sampling = false; sampler.join() }

  private final class Exec(val id: Long, val start: Double, val layer: String, val writeLabel: Option[String]) {
    var end: Double = Double.NaN
    val work        = new Work
  }
  private final class Job(val id: Int, val start: Double, val exec: Option[Exec], val layer: String) {
    var end: Double = Double.NaN
    val work        = new Work
  }

  private val execs    = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs     = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  /** Edge label an execution writes, from its plan's insert command. */
  private def writeLabel(plan: SparkPlanInfo): Option[String] =
    WriteLabel.findFirstMatchIn(plan.simpleString).map(_.group(1))
      .orElse(plan.children.iterator.flatMap(writeLabel).nextOption())

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (on) synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val label = writeLabel(e.sparkPlanInfo)
        execs(e.executionId) = new Exec(e.executionId, e.time.toDouble, layerOf(e.details), label)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.end = e.time.toDouble)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val props = Option(e.properties)
    val exec  = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execs.get(id.toLong))
    val layer = exec.map(_.layer)
      .getOrElse(layerOf(props.map(_.getProperty("callSite.long")).orNull))
    val job = new Job(e.jobId, e.time.toDouble, exec, layer)
    job.work.jobs = 1
    jobs(e.jobId) = job
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.work.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val w = job.work
      if (e.reason != Success) w.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
        w.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Child spans of the given spans, one per SQL execution or stand-alone
    * job that started inside one, with the Spark work each did, and one per
    * run of driver samples outside them. Call once, after the listener bus
    * has drained.
    */
  def spans(ops: collection.Seq[Span], firstId: Int): Seq[(Span, Work)] = synchronized {
    final case class Piece(start: Double, end: Double, layer: String, writeLabel: Option[String], work: Work)
    jobs.valuesIterator.foreach(j => j.exec.foreach(_.work.add(j.work)))
    val pieces =
      execs.valuesIterator.map(x => Piece(x.start, x.end, x.layer, x.writeLabel, x.work)).toSeq ++
        jobs.valuesIterator.filter(_.exec.isEmpty).map(j => Piece(j.start, j.end, j.layer, None, j.work))
    var next = firstId
    def span(op: Span, name: String, layer: String, start: Double, end: Double): Span = {
      next += 1
      Span(next, op.id, name, layer, start, math.min(end, op.end))
    }
    ops.toSeq.flatMap { op =>
      // event times are whole milliseconds: allow one either side
      val inside = pieces.filter(p => p.start >= op.start - 1 && p.start <= op.end + 1).sortBy(_.start)
      val spark = inside.indices.map { i =>
        val p = inside(i)
        val (layer, name) =
          if (p.layer == Tracer.NoFrame) (op.layer, op.layer)
          else inside.lift(i + 1).filter(n => p.layer == "job" && n.layer == "graph").flatMap(_.writeLabel) match {
            case Some(label) => ("rules", s"rules.$label")
            case None        => (p.layer, p.layer)
          }
        (span(op, name, layer, p.start, if (p.end.isNaN) p.start else p.end), p.work)
      }
      val busy = spark.map(s => (s._1.start, s._1.end))
      val idle = samples.iterator
        .filter { case (t, l) => t >= op.start && t < op.end && l != Tracer.NoFrame && !busy.exists(b => t >= b._1 && t <= b._2) }
        .toVector
      // consecutive samples of one layer, no more than two periods apart, form one span
      val runs = mutable.ArrayBuffer.empty[(Double, Double, String)]
      idle.foreach { case (t, l) =>
        runs.lastOption match {
          case Some((s, e, rl)) if rl == l && t - e <= 2 * Tracer.SampleMs => runs(runs.size - 1) = (s, t, l)
          case _                                                         => runs += ((t, t, l))
        }
      }
      spark ++ runs.map { case (s, e, l) => (span(op, l + Tracer.DriverSuffix, l, s, e + Tracer.SampleMs), new Work) }
    }
  }
}

object Tracer {
  /** The program's modules, in pipeline order. */
  val Layers: Seq[String] = Seq("io", "ids", "rules", "graph", "job", "meta")
  val NoFrame = "-"
  val SampleMs = 5L
  /** Name suffix of a span made from driver samples. */
  val DriverSuffix = ".driver"

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (s, e) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (s.isNaN || a > e) { if (!s.isNaN) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (!s.isNaN) total += e - s
    total
  }

  /** Self time per layer: each instant of a top-level span goes to the
    * layer of the latest-started child covering it, or to the span's own
    * layer when no child covers it.
    */
  def selfTime(op: Span, children: Seq[Span]): Map[String, Double] = {
    val cuts = (Seq(op.start, op.end) ++ children.flatMap(c => Seq(c.start, c.end)))
      .filter(t => t >= op.start && t <= op.end).distinct.sorted
    cuts.zip(cuts.tail).map { case (a, b) =>
      val mid   = (a + b) / 2
      val owner = children.filter(c => c.start <= mid && mid < c.end).sortBy(_.start).lastOption
      owner.fold(op.layer)(_.layer) -> (b - a)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
