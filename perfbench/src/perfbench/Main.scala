package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.graph.{EdgeStore, GraphQueries}
import graft.ids.IdManagerConfig
import graft.io.ReaderConfig
import graft.job.{GraftConfig, GraftJob, RulesConfig}
import graft.meta.SchemaInfo
import graft.rules.{SameValueSimilarityConfig, SimilarityConfig, TwoModeSimilarityConfig}

/** One workload: its input shape, loaded-side window and setup.
  *
  * @param window   `loadedDays` of every process call (None = full history)
  * @param backfill days loaded after day 0 by the first (cold) `process`
  *                 call, which builds the history the loop starts from
  */
final case class Workload(name: String, gen: GenSpec, window: Option[Int], backfill: Int)

object Workload {
  val all: Map[String, Workload] = Seq(
    // Full history and objects that come back often: the rules join every
    // day against all stored alerts and the score leaf links each new high
    // alert to every stored one, so rule joins and edge writes grow with
    // history. The 4-day first call gives the loop a history to grow from.
    Workload("ingest_full", GenSpec(0, 1500, returnFrac = 0.6, highFrac = 0.03), None, backfill = 3),
    // A two-day loaded window, twice the batch and few returning objects:
    // the rules find little, so per-day fixed costs (input probe and scan,
    // id assignment and append, orchestration, job scheduling) dominate. A
    // rule-join optimisation should not move this workload.
    Workload("ingest_window", GenSpec(0, 3000, returnFrac = 0.05, highFrac = 0.005), Some(2), backfill = 0)
  ).map(w => w.name -> w).toMap
}

/** The load-job benchmark: one process, one client thread, closed loop.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --cpus C --work DIR --out FILE`.
  * Prints one compact JSON record as its last stdout line and writes the
  * full record (and, traced, the spans) next to `--out`.
  */
object Main {

  val Labels: Seq[String] = Seq("similarity", "exactmatch", "satr")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w    = Workload.all.getOrElse(args("workload"), sys.error(s"unknown workload ${args("workload")}"))
    new Run(w, args("seed").toLong, args("seconds").toInt, args("trace") == "1", args("cpus").toInt,
      args("work"), args("out")).execute()
  }
}

object Run {
  /** Cycles of the measured window: about six seconds each on a 4-core
    * host. The count depends on `seconds` alone, so every run makes the same
    * calls whatever the program's speed.
    */
  def cycles(seconds: Int): Int = math.max(4, seconds / 6)
}

/** One benchmark run: input, session, setup, the measured loop, the checks
  * and the record. Every expected value comes from [[Oracle]] and
  * [[GraphOracle]], never from the program under test.
  */
final class Run(w: Workload, seed: Long, seconds: Int, trace: Boolean, cpus: Int, work: String, out: String) {

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val baseMs   = System.currentTimeMillis().toDouble
  private val baseNs   = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val cycles    = Run.cycles(seconds)
  private val spec      = w.gen.copy(days = 2 + w.backfill + cycles)
  private val days      = AlertGen.generate(spec, seed)
  private val raw       = s"$work/raw"
  private val vertexDir = s"$work/ids/vertices"
  private val edgeDir   = s"$work/edges"

  private var spark: SparkSession    = _
  private var job: GraftJob          = _
  private var tracer: Option[Tracer] = None

  // ---- checks: run after each top-level call, outside its timing ----------
  private val failures = mutable.ArrayBuffer.empty[String]
  private val pending  = mutable.ArrayBuffer.empty[() => Unit]
  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { failures += what; System.err.println(s"[perfbench] check failed: $what") }

  // ---- spans of the public calls ------------------------------------------
  /** One timed call: its span, and the CPU time of the JVM's Java threads
    * (the driver and Spark's task threads; not the JIT compiler's or the
    * garbage collector's) over it.
    */
  private final case class Op(span: Span, traced: Boolean, inWindow: Boolean, cpuS: Double) {
    def kind: String = span.name
    def secs: Double = span.dur / 1000
    def top: Boolean = span.parent < 0
  }
  private val ops        = mutable.ArrayBuffer.empty[Op]
  private val open       = mutable.Stack.empty[(Int, Boolean)] // (span id, traced) of enclosing calls
  private val kindCounts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private var nextId     = 0
  private var inWindow   = false
  private var attempted, failed = 0

  /** Times one public call, then queues `verify` on its result. A
    * top-level call is one attempted operation; the queued checks run when
    * it returns, outside its timing. In a traced run every call of the
    * window is traced except every other top-level `process`, so untraced
    * days interleave with traced ones as the overhead baseline; nested
    * calls follow their parent.
    */
  private def op[A](kind: String, layer: String)(body: => A)(verify: (A, Op) => Unit): Op = {
    val parent = open.headOption
    val traced = parent.map(_._2).getOrElse {
      val k = kindCounts(kind); kindCounts(kind) = k + 1
      tracer.isDefined && inWindow && (kind != "process" || k % 2 == 1)
    }
    if (parent.isEmpty) {
      attempted += 1
      tracer.foreach { t => if (t.on != traced) { Bus.drain(spark.sparkContext); t.on = traced } }
    }
    val id = nextId; nextId += 1
    open.push((id, traced))
    val start = nowMs
    val cpu0  = threadCpuNs
    val r =
      try body
      catch {
        case e: Exception =>
          if (parent.isEmpty) { failed += 1; pending.clear() }
          check(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}", ok = false)
          throw e
      } finally open.pop()
    val o = Op(Span(id, parent.fold(-1)(_._1), kind, layer, start, nowMs), traced, inWindow, cpuSince(cpu0))
    ops += o
    pending += (() => verify(r, o))
    if (parent.isEmpty) {
      val checks = pending.toList; pending.clear()
      val before = failures.size
      checks.foreach(_())
      if (failures.size > before) failed += 1
    }
    o
  }

  // ---- input ---------------------------------------------------------------
  private def writeInput(): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message alert { optional binary objectId (UTF8); optional double rfscore; " +
        "optional binary cdsxmatch (UTF8); optional int32 roid; }")
    val conf   = new Configuration()
    val groups = new SimpleGroupFactory(schema)
    days.zipWithIndex.par.foreach { case (alerts, d) =>
      val dt   = AlertGen.date(d)
      val file = new Path(f"$raw/year=${dt.getYear}/month=${dt.getMonthValue}%02d/day=${dt.getDayOfMonth}%02d/part-00000.parquet")
      val wr   = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf)).withType(schema).withConf(conf).build()
      try alerts.foreach { a =>
        wr.write(groups.newGroup().append("objectId", a.objectId).append("rfscore", a.rfscore)
          .append("cdsxmatch", a.cdsxmatch).append("roid", a.roid))
      } finally wr.close()
    }
    Files.writeString(Paths.get(s"$work/fixed.csv"), AlertGen.fixedVertexCsv)
  }

  // ---- engine-free expected state -----------------------------------------
  private val oracle      = new Oracle(w.window)
  private val vertices    = mutable.HashMap.empty[Long, (Int, Alert)] // stored id -> (day, alert)
  private var maxAssigned = 200L                                      // ids above the reserved space
  private var graphOracle = Option.empty[GraphOracle]
  private def expected: GraphOracle = graphOracle.getOrElse {
    val g = new GraphOracle(vertices, w.window); graphOracle = Some(g); g
  }

  private def dayIndex(y: Int, m: Int, d: Int): Int =
    java.time.temporal.ChronoUnit.DAYS.between(AlertGen.Start, java.time.LocalDate.of(y, m, d)).toInt

  /** Reads back the stored vertices of `ds`: their rows must be the generated
    * rows and their ids the next dense block after every id assigned so far.
    */
  private def readBack(ds: Seq[Int]): Unit = {
    val pred = ds.map { d =>
      val dt = AlertGen.date(d)
      col("year") === dt.getYear && col("month") === dt.getMonthValue && col("day") === dt.getDayOfMonth
    }.reduce(_ || _)
    val rows = spark.read.parquet(vertexDir).where(pred)
      .select("id", "objectId", "rfscore", "cdsxmatch", "roid", "year", "month", "day").collect()
      .map(r => (r.getLong(0), dayIndex(r.getInt(5), r.getInt(6), r.getInt(7)),
        Alert(r.getString(1), r.getDouble(2), r.getString(3), r.getInt(4))))
    val ids = rows.map(_._1).sorted.toSeq
    check(s"ids of days ${ds.head}+${ds.size} are the next dense block", ids == (maxAssigned + 1 to maxAssigned + ids.size))
    maxAssigned += ids.size
    val ord = Ordering.by((a: Alert) => (a.objectId, a.rfscore, a.cdsxmatch, a.roid))
    ds.foreach(d => check(s"stored rows of day $d", rows.filter(_._2 == d).map(_._3).sorted(ord).toSeq == days(d).sorted(ord)))
    rows.foreach { case (id, d, a) => vertices(id) = (d, a) }
    graphOracle = None
  }

  private def checkLabelRows(when: String): Unit = {
    val want = expected.labelRows
    Main.Labels.foreach(l => check(s"$l rows $when", new EdgeStore(spark, edgeDir).read(l).count() == want(l)))
  }

  // ---- operations ----------------------------------------------------------
  private val loads = mutable.ArrayBuffer.empty[(Op, Map[String, Long], Long)] // op, edges per label, vertices

  private def process(first: Int, n: Int): Op =
    op("process", "job")(job.process(AlertGen.date(first).toString, n)) { (r, o) =>
      loads += ((o, r.edgeCounts, r.vertexCount))
      val want = oracle.process((first until first + n).map(d => d -> days(d)))
      check(s"JobResult of days $first+$n: got ${r.vertexCount} ${r.edgeCounts}, want $want",
        (r.vertexCount, r.edgeCounts) == want)
      graft.Caches.clear()
      readBack(first until first + n)
    }

  private def graph(): DataFrame =
    Main.Labels.map(l => new EdgeStore(spark, edgeDir).read(l).select("src", "dst")).reduce(_ union _)

  /** A point read of one vertex: its neighbors, then its two-hop set. */
  private def read(v: Long): Op =
    op("read", "graph") {
      op("neighbors", "graph")(GraphQueries.neighbors(graph(), v).collect().map(_.getLong(0))) { (got, _) =>
        val (n, set) = expected.neighbors(v)
        check(s"neighbors($v)", got.length == n && got.toSet == set)
      }
      op("twoHop", "graph")(GraphQueries.twoHop(graph(), v).collect().map(_.getLong(0))) { (got, _) =>
        check(s"twoHop($v)", got.length == got.distinct.length && got.toSet == expected.twoHop(v))
      }
    }((_, _) => ())

  private def scan(): Op =
    op("degreeHistogram", "graph")(GraphQueries.degreeHistogram(graph()).collect()) { (got, _) =>
      check("degreeHistogram", got.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected.degreeHistogram)
    }

  private def describe(): Op =
    op("describe", "meta")(SchemaInfo.describe(spark, vertexDir, edgeDir)) { (info, _) =>
      val keys = info.vertexPropertyKeys.map(p => p.name -> p.dataType).toSet
      check("describe", info.edgeLabels == Main.Labels.sorted && Set("id" -> "bigint", "objectId" -> "string",
        "rfscore" -> "double", "cdsxmatch" -> "string", "roid" -> "int").subsetOf(keys))
    }

  /** Deletes a day with its vertices and incident edges, then loads it again.
    * On a full-history store every label keeps its row count.
    */
  private def repair(d: Int): Op =
    op("repair", "job") {
      op("delete", "job")(job.delete(AlertGen.date(d).toString, 1, clearOnDelete = true)) { (_, _) =>
        oracle.delete(d)
        vertices.filterInPlace { case (_, (day, _)) => day != d }
      }
      process(d, 1)
    }((_, _) => checkLabelRows(s"after repairing day $d"))

  // ---- run -----------------------------------------------------------------
  /** CPU time stolen from this machine by others, from /proc/stat (s). */
  private def stealS(): Double =
    try Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")(8).toDouble / 100
    catch { case _: Exception => -1.0 }

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  private def partFiles(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0
    else Files.walk(p).iterator().asScala.count(f => f.getFileName.toString.startsWith("part-"))
  }

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of every live Java thread (ns); -1 marks a thread that ended. */
  private def threadCpuNs: Map[Long, Long] = threads.getAllThreadIds.map(t => t -> threads.getThreadCpuTime(t)).toMap
  /** CPU seconds the Java threads used since `before`; a thread that ended
    * in between takes its time with it.
    */
  private def cpuSince(before: Map[Long, Long]): Double =
    threadCpuNs.iterator.map { case (t, ns) => if (ns < 0) 0L else ns - before.getOrElse(t, 0L).max(0L) }.sum / 1e9
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def execute(): Unit = {
    val loadStart = loadavg()
    SelfTest.run().foreach(f => check(s"selftest: $f", ok = false))

    // setup: input, session, the cold first call, a warm cycle
    val genStart = nowMs
    writeInput()
    val genS = (nowMs - genStart) / 1000
    val sessionStart = nowMs
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (nowMs - sessionStart) / 1000
    tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    job = new GraftJob(spark, GraftConfig(
      reader = ReaderConfig(raw),
      idManager = IdManagerConfig(s"$work/ids", "vertices"),
      edgeBasePath = edgeDir,
      rules = RulesConfig(
        rulesToApply = List("similarityClassifier", "sameValueClassifier", "twoModeClassifier"),
        similarity = Some(SimilarityConfig("objectId OR rfscore")),
        sameValue = Some(SameValueSimilarityConfig(List("objectId"))),
        twoMode = Some(TwoModeSimilarityConfig(List("asteroids", "catalog"))),
        fixedVertexCsvPath = Some(s"$work/fixed.csv")),
      loadedDays = w.window))

    val rnd = new scala.util.Random(seed * 7919 + 17)
    // A vertex of `day` linked to a recipe vertex, so its neighbor and
    // two-hop sets are never empty: a read of an isolated vertex skips
    // work and costs about a third less, which made read times bimodal.
    def vertexOf(day: Int): Long = {
      val ids = vertices.iterator.collect { case (id, (d, a)) if d == day && a.satr > 0 => id }.toVector.sorted
      ids(rnd.nextInt(ids.size))
    }
    var next = 0
    // Full history repairs the day before the latest, whose edges reach a
    // later day; a windowed store only ever repairs its latest day.
    def repairOne(): Op = repair(if (w.window.isEmpty) next - 2 else next - 1)
    def loadNext(): Op = { next += 1; process(next - 1, 1) }
    try {
      val first = process(0, 1 + w.backfill)
      next = 1 + w.backfill
      // warm up: the second process call still runs much code the JIT
      // compiles during it, and so do the first read, scan and describe
      loadNext()
      read(vertexOf(next - 1))
      scan()
      describe()
      val setupS = (nowMs - jvmStart) / 1000

      // measured window: one client, closed loop, a fixed schedule, so every
      // run makes the same calls on the same days however fast the program
      // is. Each cycle loads the next day and reads one of its vertices;
      // even cycles also scan the graph and describe the stores, and cycles
      // 1, 4, 7, ... repair a day.
      inWindow = true
      kindCounts.clear()
      heapPools.foreach(_.resetPeakUsage())
      val gcStart     = gcMs
      val stealStart  = stealS()
      val windowStart = nowMs
      try (0 until cycles).foreach { c =>
        loadNext()
        read(vertexOf(next - 1))
        if (c % 2 == 0) { scan(); describe() }
        if (c % 3 == 1) repairOne()
      } catch { case e: Exception => System.err.println(s"[perfbench] window stopped: $e") }
      inWindow = false
      val windowS     = (nowMs - windowStart) / 1000
      val gcS         = (gcMs - gcStart) / 1000.0
      val stealWindow = stealS() - stealStart
      val peakHeap    = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      tracer.foreach { t => Bus.drain(spark.sparkContext); t.on = false }
      val storeMb     = (bytesUnder(vertexDir) + bytesUnder(edgeDir)) / 1e6

      // end of run: ids unique and exactly the ones read back, label rows as expected
      val stored = spark.read.parquet(vertexDir).select("id").collect().map(_.getLong(0))
      check("vertex ids unique", stored.length == stored.distinct.length)
      check("vertex ids as read back", stored.toSet == vertices.keySet)
      checkLabelRows("at end")

      report(Record(
        setupS = setupS, genS = genS, sessionS = sessionS, first = first, storeMb = storeMb, windowS = windowS,
        gcS = gcS, peakHeapMb = peakHeap, loadStart = loadStart, stealS = stealWindow))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] run stopped: $e")
        e.printStackTrace()
        report(Record(Double.NaN, Double.NaN, Double.NaN, null, Double.NaN, 0, 0, 0, loadStart, Double.NaN))
    } finally {
      tracer.foreach(_.close())
      spark.stop()
    }
  }

  private final case class Record(
      setupS: Double, genS: Double, sessionS: Double, first: Op, storeMb: Double, windowS: Double,
      gcS: Double, peakHeapMb: Double, loadStart: Double, stealS: Double)

  private def report(r: Record): Unit = {
    val window      = ops.filter(_.inWindow)
    val dayOps      = window.filter(o => o.top && o.kind == "process")
    val readOps     = window.filter(_.kind == "read")
    val scanOps     = window.filter(_.kind == "degreeHistogram")
    val repairOps   = window.filter(_.kind == "repair")
    val windowLoads = loads.filter(l => l._1.inWindow && l._1.top)
    val loadedV     = windowLoads.map(_._3).sum.toDouble
    val loadedE     = windowLoads.map(_._2.values.sum).sum.toDouble
    val first       = Option(r.first)
    val (dayTail, dayP)   = Stats.tail(dayOps.map(_.secs))
    val (readTail, readP) = Stats.tail(readOps.map(_.secs))

    // Gated: CPU seconds of the Java threads per call. They track the work
    // the program does and move far less than wall time when other tenants
    // of a shared host take CPU time or the JIT compiler is still busy: on
    // a shared 4-core host, wall-time medians spread 30-60% between runs
    // and these about a third of that.
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", r.setupS, "s"),
      ("first_day_cpu_s", first.map(_.cpuS).getOrElse(Double.NaN), "s"),
      ("day_cpu_s_p50", Stats.median(dayOps.map(_.cpuS)), "s"),
      ("vertices_per_cpu_s", loadedV / dayOps.map(_.cpuS).sum, "1/s"),
      ("edges_per_cpu_s", loadedE / dayOps.map(_.cpuS).sum, "1/s"),
      ("store_mb", r.storeMb, "MB"),
      ("read_cpu_s_p50", Stats.median(readOps.map(_.cpuS)), "s"),
      ("graph_scan_cpu_s", Stats.median(scanOps.map(_.cpuS)), "s"),
      ("repair_cpu_s", Stats.median(repairOps.map(_.cpuS)), "s"))
    // Ungated: the wall times a user waits for, with the tails
    val wall: Seq[(String, Double, String)] = Seq(
      ("first_day_s", first.map(_.secs).getOrElse(Double.NaN), "s"),
      ("day_s_p50", Stats.median(dayOps.map(_.secs)), "s"),
      ("day_s_tail", dayTail, "s"),
      ("vertices_per_s", loadedV / dayOps.map(_.secs).sum, "1/s"),
      ("edges_per_s", loadedE / dayOps.map(_.secs).sum, "1/s"),
      ("read_s_p50", Stats.median(readOps.map(_.secs)), "s"),
      ("read_s_tail", readTail, "s"),
      ("graph_scan_s", Stats.median(scanOps.map(_.secs)), "s"),
      ("repair_s", Stats.median(repairOps.map(_.secs)), "s"))
    val opsFailedFrac = failed.toDouble / math.max(1, attempted)

    val layer: Seq[(String, Double, String)] = wall ++ tracer.map(t => layerMetrics(t)).getOrElse(Nil) ++ Seq(
      ("graph.store_files", partFiles(edgeDir).toDouble, "count"),
      ("ids.vertex_files", partFiles(vertexDir).toDouble, "count"),
      ("jvm.gc_s", r.gcS, "s"),
      ("jvm.peak_heap_mb", r.peakHeapMb, "MB"),
      ("ops_failed_frac", opsFailedFrac, "ratio"))

    val correct = failures.isEmpty && failed == 0 && (e2e ++ wall).forall(m => !m._2.isNaN)
    val shown   = if (trace) layer else e2e
    def metricJson(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

    val detail = Json.obj(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "cycles" -> cycles.toLong, "trace" -> trace,
      "input" -> Json.obj("days" -> spec.days, "alerts_per_day" -> spec.alertsPerDay,
        "objects" -> days.iterator.flatten.map(_.objectId).distinct.size, "return_frac" -> spec.returnFrac,
        "high_frac" -> spec.highFrac),
      "loaded_days" -> w.window.map(_.toLong).getOrElse(-1L),
      "backfill_days" -> w.backfill.toLong,
      "host" -> Json.obj("cpus" -> cpus.toLong, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "loadavg_start" -> r.loadStart, "loadavg_end" -> loadavg(), "steal_s_in_window" -> r.stealS),
      "correct" -> correct, "attempted" -> attempted.toLong, "failed" -> failed.toLong,
      "failures" -> failures.take(20).toSeq,
      "setup" -> Json.obj("input_s" -> r.genS, "session_s" -> r.sessionS, "total_s" -> r.setupS),
      "window_s" -> r.windowS,
      "traced_days" -> Json.obj(
        "untraced_day_s_p50" -> Stats.median(dayOps.filterNot(_.traced).map(_.secs)),
        "traced_day_s_p50" -> Stats.median(dayOps.filter(_.traced).map(_.secs))),
      "samples" -> Json.obj("day" -> dayOps.size.toLong, "day_tail_pct" -> dayP, "read" -> readOps.size.toLong,
        "read_tail_pct" -> readP, "scan" -> scanOps.size.toLong, "repair" -> repairOps.size.toLong,
        "describe" -> window.count(_.kind == "describe").toLong),
      "calls" -> ops.filter(_.top).map(o => Json.obj("call" -> o.kind, "s" -> o.secs, "cpu_s" -> o.cpuS, "window" -> o.inWindow)).toSeq,
      "end_to_end" -> Json.raw(metricJson(e2e)),
      "per_layer" -> Json.raw(metricJson(layer)))
    Files.writeString(Paths.get(out), detail.text + "\n")
    if (trace) Files.writeString(Paths.get(out.stripSuffix(".json") + ".spans.json"), spansJson + "\n")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metricJson(shown)}}""")
  }

  private var childSpans: Seq[(Span, Work)] = Nil

  /** Per-layer numbers of the window's traced calls, each averaged over the
    * calls of one kind: the load-path layers per `process` day, `meta` per
    * describe, and `graph.read`, `graph.scan` and `graph.delete` per read,
    * scan and delete (the delete path's other layers start no Spark job and
    * take a few milliseconds).
    */
  private def layerMetrics(t: Tracer): Seq[(String, Double, String)] = {
    val traced  = ops.filter(o => o.traced && o.inWindow)
    val parents = ops.map(_.span.parent).toSet
    val kinds   = ops.map(o => o.span.id -> o.kind).toMap
    val leaves  = traced.filterNot(o => parents(o.span.id))
    childSpans  = t.spans(leaves.map(_.span), firstId = nextId)
    val byOp    = childSpans.groupBy(_._1.parent).withDefaultValue(Nil)

    def perCall(calls: Seq[Op], n: Int, layer: String, prefix: String): Seq[(String, Double, String)] = {
      val per  = math.max(1, n).toDouble
      val wall = calls.map(o => Tracer.covered(byOp(o.span.id).collect { case (c, _) if c.layer == layer => (c.start, c.end) })).sum
      val self = calls.map(o => Tracer.selfTime(o.span, byOp(o.span.id).map(_._1)).getOrElse(layer, 0.0)).sum
      val w    = new Work
      calls.foreach(o => byOp(o.span.id).foreach { case (c, cw) => if (c.layer == layer) w.add(cw) })
      val mb = 1048576.0 * per
      Seq(("wall_s", wall / 1000 / per, "s"), ("self_s", self / 1000 / per, "s"),
        ("task_s", w.taskMs / 1000.0 / per, "s"), ("jobs", w.jobs / per, "count"), ("stages", w.stages / per, "count"),
        ("failed_tasks", w.failedTasks / per, "count"), ("shuffle_write_mb", w.shuffleWrite / mb, "MB"),
        ("spill_mb", w.spill / mb, "MB"), ("input_mb", w.input / mb, "MB"), ("output_mb", w.output / mb, "MB"))
        .map { case (k, v, u) => (s"$prefix.$k", v, u) }
    }
    def leavesOf(kind: String) = leaves.filter(o => o.kind == kind || kinds.get(o.span.parent).contains(kind)).toSeq
    def count(kind: String)    = traced.count(_.kind == kind)

    val days     = leaves.filter(o => o.top && o.kind == "process").toSeq
    // io starts no Spark job (its probes and listing are driver time), so
    // of its numbers only wall_s and self_s, the first two, can move
    val perLayer =
      perCall(days, days.size, "io", "io").take(2) ++
        Seq("ids", "rules", "graph", "job").flatMap(l => perCall(days, days.size, l, l)) ++
        perCall(leavesOf("describe"), count("describe"), "meta", "meta") ++
        perCall(leavesOf("read"), count("read"), "graph", "graph.read") ++
        perCall(leavesOf("degreeHistogram"), count("degreeHistogram"), "graph", "graph.scan") ++
        perCall(leavesOf("delete"), count("delete"), "graph", "graph.delete")

    val per       = math.max(1, days.size).toDouble
    val dayLoads  = loads.filter(l => l._1.traced && l._1.inWindow && l._1.top)
    val perRule = Main.Labels.flatMap { l =>
      val w = new Work
      days.foreach(o => byOp(o.span.id).foreach { case (c, cw) => if (c.name == s"rules.$l") w.add(cw) })
      Seq((s"rules.$l.task_s", w.taskMs / 1000.0 / per, "s"),
        (s"rules.$l.edges", dayLoads.map(_._2.getOrElse(l, 0L)).sum / per, "count"))
    }
    // job.driver_s: the part of a day no Spark job covers (driver spans aside)
    val driverMs = days.map(o => o.span.dur - Tracer.covered(byOp(o.span.id).collect {
      case (c, _) if !c.name.endsWith(Tracer.DriverSuffix) => (c.start, c.end)
    })).sum
    perLayer ++ Seq(("job.driver_s", driverMs / 1000 / per, "s"),
      ("job.process_s", days.map(_.secs).sum / per, "s")) ++ perRule ++
      Seq(("trace.overhead_s", traceOverhead, "s"), ("trace.calls", traced.count(_.top).toDouble, "count"))
  }

  /** Tracing overhead per day: the median over traced days of the traced
    * day's time minus the mean of the untraced days next to it, which
    * cancels a day cost that grows steadily with history.
    */
  private def traceOverhead: Double = {
    val days = ops.filter(o => o.inWindow && o.top && o.kind == "process").toVector
    val diffs = days.indices.filter(days(_).traced).flatMap { i =>
      val around = Seq(i - 1, i + 1).flatMap(days.lift).filterNot(_.traced).map(_.secs)
      if (around.isEmpty) None else Some(days(i).secs - around.sum / around.size)
    }
    if (diffs.isEmpty) 0.0 else Stats.median(diffs)
  }

  private def spansJson: String =
    (ops.map(o => (o.span, o.traced)) ++ childSpans.map(c => (c._1, true))).map { case (sp, tr) =>
      Json.obj("id" -> sp.id.toLong, "parent" -> sp.parent.toLong, "name" -> sp.name, "layer" -> sp.layer,
        "start_ms" -> sp.start, "end_ms" -> sp.end, "traced" -> tr).text
    }.mkString("[\n", ",\n", "\n]")
}

object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and the
    * percentile itself. Below 21 samples no percentile has ten beyond it,
    * and the tail is the maximum (percentile 100).
    */
  def tail(xs: collection.Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n >= 21) (s(n - 11), 100.0 * (n - 11) / (n - 1)) else (s.lastOption.getOrElse(Double.NaN), 100.0)
  }
}

/** Minimal JSON rendering for the records. */
object Json {
  final case class Raw(text: String)
  def raw(text: String): Raw = Raw(text)

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  private def value(v: Any): String = v match {
    case Raw(t)      => t
    case s: String   => "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      } + "\""
    case d: Double   => num(d)
    case l: Long     => l.toString
    case i: Int      => i.toString
    case b: Boolean  => b.toString
    case xs: Seq[_]  => xs.map(value).mkString("[", ",", "]")
    case other       => value(other.toString)
  }

  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
