package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace. Times are epoch microseconds;
  * `op` is shared by every span of one query, job or micro-batch. */
final case class Span(id: Int, name: String, op: String, parent: Int,
    start: Long, end: Long) {
  def dur: Long = math.max(end - start, 0L)
}

object Clock {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** What a workload calls around each unit of work. The untraced
  * probe only runs the body, so timed runs pay nothing for tracing. */
trait Probe {
  /** One op: a query, a wordcount job. */
  def op[T](opId: String)(body: => T): T
  /** The DataFrame construction inside an op (`operators.build`). */
  def build[T](body: => T): T
}

object NoTrace extends Probe {
  def op[T](opId: String)(body: => T): T = body
  def build[T](body: => T): T = body
}

/** Records spans from outside the program: around the harness's own
  * calls into public entry points, and from Spark's public listener
  * APIs (SparkListener, QueryExecutionListener, StreamingQueryListener).
  * Span tree: op -> operators.build -> planner.<phase> -> scheduler.job
  * -> exec.stage. Spans stay in memory until [[finish]]. */
final class Tracer(spark: SparkSession, localDir: String) extends Probe {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private def add(s: Span): Unit = spans.synchronized { spans += s }

  @volatile private var on = false

  /** Trace the ops that follow, or stop tracing them: detaching waits
    * until every event of the ops before has been delivered. */
  def enable(b: Boolean): Unit = if (b != on) {
    if (b) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
      on = true
    } else {
      quiesce()
      on = false
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }

  // client-thread op context
  private var curOp: String = null
  private var curOpSpan = 0

  def op[T](opId: String)(body: => T): T = if (!on) body else {
    val id = ids.getAndIncrement()
    curOp = opId; curOpSpan = id
    sc.setLocalProperty(OpKey, opId)
    val t0 = Clock.nowUs()
    try body
    finally {
      add(Span(id, "op", opId, 0, t0, Clock.nowUs()))
      sc.setLocalProperty(OpKey, null)
      curOp = null; curOpSpan = 0
    }
  }

  def build[T](body: => T): T = if (!on) body else {
    val id = ids.getAndIncrement()
    val t0 = Clock.nowUs()
    try body
    finally add(Span(id, "operators.build", curOp, curOpSpan, t0, Clock.nowUs()))
  }

  // ---- listener-side state (written on the listener bus thread) ----
  private final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, cpuNs, gcMs = 0L
    var shWriteB, shWriteNs, shReadB, fetchWaitMs, spillB = 0L
    var inB, inRows, outB, sinkMs = 0L
    var qeCount, cacheScans = 0L
    val planMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var blocksStored = 0L
    val cachedRdds = mutable.Set.empty[Int]
    val batches = mutable.ArrayBuffer.empty[Map[String, Double]]
  }
  private val acc = new Acc
  private val jobInfo = mutable.Map.empty[Int, (Int, String, Long)] // job -> (span, op, startUs)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val streamNames = mutable.Map.empty[String, String] // query id -> query name
  private val seenBlocks = mutable.Set.empty[String]
  private val events = new AtomicLong(0)
  private val pendingJobs = new AtomicInteger(0)

  private def opOf(p: java.util.Properties): String =
    if (p == null) "unattributed"
    else Option(p.getProperty(OpKey)).getOrElse {
      (Option(p.getProperty("sql.streaming.queryId")),
        Option(p.getProperty("streaming.sql.batchId"))) match {
        case (Some(q), Some(b)) => s"stream:$q:$b"
        case _ => "unattributed"
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = acc.synchronized {
      events.incrementAndGet(); pendingJobs.incrementAndGet()
      if (on) {
        jobInfo(e.jobId) = (ids.getAndIncrement(), opOf(e.properties), e.time * 1000L)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        acc.jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = acc.synchronized {
      events.incrementAndGet(); pendingJobs.decrementAndGet()
      jobInfo.remove(e.jobId).foreach { case (id, op, t0) =>
        add(Span(id, "scheduler.job", op, -1, t0, e.time * 1000L)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = acc.synchronized {
      events.incrementAndGet()
      if (on) stage(e.stageInfo)
    }
    private def stage(si: StageInfo): Unit = {
      acc.stages += 1
      for (t0 <- si.submissionTime; t1 <- si.completionTime;
           job <- stageJob.get(si.stageId); (jspan, op, _) <- jobInfo.get(job))
        add(Span(ids.getAndIncrement(), "exec.stage", op, jspan, t0 * 1000L, t1 * 1000L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = acc.synchronized {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (on && m != null) {
        acc.tasks += 1
        acc.taskMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shWriteB += m.shuffleWriteMetrics.bytesWritten
        acc.shWriteNs += m.shuffleWriteMetrics.writeTime
        acc.shReadB += m.shuffleReadMetrics.totalBytesRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.inB += m.inputMetrics.bytesRead
        acc.inRows += m.inputMetrics.recordsRead
        acc.outB += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) acc.sinkMs += m.executorRunTime
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = acc.synchronized {
      events.incrementAndGet()
      val b = e.blockUpdatedInfo
      if (on && b.blockId.isRDD && b.storageLevel.isValid && seenBlocks.add(b.blockId.name)) {
        acc.blocksStored += b.memSize + b.diskSize
        b.blockId.asRDDId.foreach(r => acc.cachedRdds += r.rddId)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = acc.synchronized {
      events.incrementAndGet()
      if (on) trace(qe)
    }
    private def trace(qe: QueryExecution): Unit = {
      acc.qeCount += 1
      qe.tracker.phases.foreach { case (phase, s) =>
        if (PlannerPhases.contains(phase)) {
          acc.planMs(phase) += s.durationMs
          add(Span(ids.getAndIncrement(), s"planner.$phase", null, -1,
            s.startTimeMs * 1000L, s.endTimeMs * 1000L))
        }
      }
      acc.cacheScans += (try PlanWalk.cacheScans(qe.executedPlan) catch { case _: Throwable => 0 })
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      acc.synchronized { streamNames(e.id.toString) = Option(e.name).getOrElse("stream") }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = acc.synchronized {
      events.incrementAndGet()
      if (on) progress(e.progress)
    }
    private def progress(p: StreamingQueryProgress): Unit = {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val ops = p.stateOperators
      val t0 = java.time.Instant.parse(p.timestamp)
      val startUs = t0.getEpochSecond * 1000000L + t0.getNano / 1000
      val trig = d.getOrElse("triggerExecution", 0.0)
      add(Span(ids.getAndIncrement(), "op", s"stream:${p.id}:${p.batchId}", 0,
        startUs, startUs + (trig * 1000).toLong))
      acc.batches += Map(
        "trigger" -> trig,
        "rows" -> p.numInputRows.toDouble,
        "addBatch" -> d.getOrElse("addBatch", 0.0),
        "latestOffset" -> d.getOrElse("latestOffset", 0.0),
        "queryPlanning" -> d.getOrElse("queryPlanning", 0.0),
        "walCommit" -> d.getOrElse("walCommit", 0.0),
        "commitOffsets" -> d.getOrElse("commitOffsets", 0.0),
        "stateRows" -> ops.map(_.numRowsTotal).sum.toDouble,
        "stateMem" -> ops.map(_.memoryUsedBytes).sum.toDouble,
        "stateCommit" -> ops.map(_.commitTimeMs).sum.toDouble,
        "dropped" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
    }
  }

  @volatile private var sampling = true
  @volatile private var localPeak = 0L
  private val sampler = new Thread(() => {
    while (sampling) {
      if (on) localPeak = math.max(localPeak, dirBytes(localDir))
      Thread.sleep(200)
    }
  }, "perfbench-local-dir-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Detach, wait for the listener bus to drain, write the spans to
    * `spansOut`, and return the per-layer metrics for `cores` worker
    * threads and the per-op-name summary ([[summary]]). */
  def finish(cores: Int, spansOut: java.nio.file.Path)
      : (Map[String, Double], Map[String, Map[String, Double]]) = {
    enable(false)
    sampling = false
    sampler.join()
    val all = spans.synchronized(spans.toVector)
    val tree = resolve(all)
    writeSpans(tree, spansOut)
    acc.synchronized((metrics(tree, cores), summary(tree)))
  }

  /** Listener delivery is asynchronous: wait until every started job
    * has ended and no event has arrived for a while. */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 15e9.toLong
    var last = -1L
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (pendingJobs.get() > 0 || System.nanoTime() - stableSince < 500e6.toLong)) {
      val n = events.get()
      if (n != last) { last = n; stableSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }

  /** Give planner spans their op and parent by time containment, and
    * jobs whose start falls in a build span that span as parent. */
  private def resolve(all: Vector[Span]): Vector[Span] = {
    val ops = all.filter(_.name == "op").sortBy(_.start)
    val builds = all.filter(_.name == "operators.build")
    def opAt(t: Long): Option[Span] = ops.find(o => o.start <= t && t <= o.end)
    def buildAt(op: String, t: Long): Option[Span] =
      builds.find(b => b.op == op && b.start <= t && t <= b.end)
    all.map {
      case s if s.name.startsWith("planner.") =>
        opAt(s.start) match {
          case Some(o) => s.copy(op = o.op,
            parent = buildAt(o.op, s.start).map(_.id).getOrElse(o.id))
          case None => s.copy(op = "unattributed")
        }
      case s if s.name == "scheduler.job" =>
        // an op id repeats across passes: the job's op span is the one
        // with its id that was running when the job started
        val opSpan = ops.find(o => o.op == s.op && o.start <= s.start && s.start <= o.end)
        s.copy(parent = buildAt(s.op, s.start).map(_.id)
          .orElse(opSpan.map(_.id)).getOrElse(0))
      case s => s
    }
  }

  private def metrics(tree: Vector[Span], cores: Int): Map[String, Double] = {
    val ops = tree.filter(_.name == "op")
    val n = math.max(ops.size, 1).toDouble
    val byParent = tree.groupBy(_.parent)
    def selfUs(s: Span): Long =
      s.dur - covered(byParent.getOrElse(s.id, Vector.empty), s.start, s.end)
    def selfS(layer: String): Double =
      tree.filter(s => s.name == layer || s.name.startsWith(layer + "."))
        .map(selfUs).sum / 1e6 / n
    val opWallS = ops.map(_.dur).sum / 1e6
    val jobsByOp = tree.filter(_.name == "scheduler.job").groupBy(_.op)
    val gapS = ops.map(o => opGapS(o, jobsByOp.getOrElse(o.op, Vector.empty))).sum
    val builds = tree.filter(_.name == "operators.build")
    val buildJobs = tree.count(s => s.name == "scheduler.job" &&
      builds.exists(_.id == s.parent))
    val taskS = acc.taskMs / 1e3
    val b = acc.batches
    def bMean(k: String): Double =
      if (b.isEmpty) 0.0 else b.map(_(k)).sum / b.size
    val trig = b.filter(_("rows") > 0).map(_("trigger")).sorted.toSeq
    val mb = 1024.0 * 1024.0
    Map(
      "trace.ops" -> ops.size.toDouble,
      "op.self_s" -> selfS("op"),
      "operators.build_s" -> builds.map(_.dur).sum / 1e6 / n,
      "operators.build_jobs" -> buildJobs / n,
      "operators.self_s" -> selfS("operators"),
      "planner.analysis_s" -> acc.planMs("analysis") / 1e3 / n,
      "planner.optimization_s" -> acc.planMs("optimization") / 1e3 / n,
      "planner.planning_s" -> acc.planMs("planning") / 1e3 / n,
      "planner.executions" -> acc.qeCount / n,
      "planner.self_s" -> selfS("planner"),
      "scheduler.jobs" -> acc.jobs / n,
      "scheduler.stages" -> acc.stages / n,
      "scheduler.tasks" -> acc.tasks / n,
      "scheduler.gap_s" -> gapS / n,
      "scheduler.self_s" -> selfS("scheduler"),
      "exec.task_s" -> taskS / n,
      "exec.cpu_s" -> acc.cpuNs / 1e9 / n,
      "exec.gc_s" -> acc.gcMs / 1e3 / n,
      "exec.busy_frac" -> (if (opWallS > 0) taskS / (opWallS * cores) else 0.0),
      "exec.self_s" -> selfS("exec"),
      "shuffle.write_mb" -> acc.shWriteB / mb / n,
      "shuffle.read_mb" -> acc.shReadB / mb / n,
      "shuffle.write_s" -> acc.shWriteNs / 1e9 / n,
      "shuffle.fetch_wait_s" -> acc.fetchWaitMs / 1e3 / n,
      "shuffle.spill_mb" -> acc.spillB / mb / n,
      "shuffle.local_peak_mb" -> localPeak / mb,
      "cache.builds" -> acc.cachedRdds.size / n,
      "cache.stored_mb" -> acc.blocksStored / mb / n,
      "cache.scans" -> acc.cacheScans / n,
      "cache.reuse" -> (if (acc.cachedRdds.isEmpty) 0.0
        else acc.cacheScans.toDouble / acc.cachedRdds.size),
      "sources.read_mb" -> acc.inB / mb / n,
      "sources.read_rows" -> acc.inRows / n,
      "sources.write_mb" -> acc.outB / mb / n,
      "sources.sink_s" -> acc.sinkMs / 1e3 / n,
      "streaming.batches" -> b.size.toDouble,
      "streaming.batch_p50_ms" -> Stats.pct(trig, 0.5),
      "streaming.batch_p90_ms" -> Stats.pct(trig, 0.9),
      "streaming.add_batch_ms" -> bMean("addBatch"),
      "streaming.latest_offset_ms" -> bMean("latestOffset"),
      "streaming.planning_ms" -> bMean("queryPlanning"),
      "streaming.wal_commit_ms" -> bMean("walCommit"),
      "streaming.commit_offsets_ms" -> bMean("commitOffsets"),
      "streaming.state_rows" -> bMean("stateRows"),
      "streaming.state_mem_mb" ->
        (if (b.isEmpty) 0.0 else b.map(_("stateMem")).max / mb),
      "streaming.state_commit_ms" -> bMean("stateCommit"),
      "streaming.rows_dropped_late" -> b.map(_("dropped")).sum)
  }

  /** For each op name (wordcount jobs folded into `wc`, micro-batches
    * into their streaming query), the median over executions of: wall,
    * build, planner (analysis + optimization + planning), Spark jobs,
    * scheduling gap (wall minus the union of job intervals), and the
    * share of wall that planner plus gap take; `n` is the executions. */
  private def summary(tree: Vector[Span]): Map[String, Map[String, Double]] = {
    val byOp = tree.groupBy(_.op)
    def family(op: String): String = op.split(":") match {
      case Array("wc", _) => "wc"
      case Array("stream", q, _) =>
        "stream:" + streamNames.get(q).map(_.replaceAll("_\\d+$", "")).getOrElse(q)
      case _ => op
    }
    tree.filter(_.name == "op").map { o =>
      // an op id repeats across passes: an execution owns the spans
      // of its id that start inside its op span
      val in = byOp(o.op).filter(s => s.start >= o.start && s.start <= o.end)
      def total(p: Span => Boolean) = in.filter(p).map(_.dur).sum / 1e6
      val jobs = in.filter(_.name == "scheduler.job")
      val wall = o.dur / 1e6
      val planner = total(_.name.startsWith("planner."))
      val gap = opGapS(o, jobs)
      family(o.op) -> Map("wall" -> wall, "build" -> total(_.name == "operators.build"),
        "planner" -> planner, "jobs" -> jobs.size.toDouble, "gap" -> gap,
        "share" -> (if (wall > 0) (planner + gap) / wall else 0.0))
    }.groupBy(_._1).map { case (f, rows) =>
      f -> (rows.head._2.keys.map(k => k -> Stats.median(rows.map(_._2(k)))).toMap +
        ("n" -> rows.size.toDouble))
    }
  }

  private def writeSpans(tree: Vector[Span], out: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(out.getParent)
    val lines = tree.sortBy(_.start).map(s => Json.render(Map(
      "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
      "start_us" -> s.start, "end_us" -> s.end)))
    java.nio.file.Files.write(out, lines.asJava)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PlannerPhases = Set("analysis", "optimization", "planning")

  /** Scheduling gap of one op, seconds: its wall minus the union of
    * its jobs' intervals. */
  def opGapS(op: Span, jobs: Seq[Span]): Double =
    (op.dur - covered(jobs, op.start, op.end)) / 1e6

  /** Microseconds of [lo, hi] covered by the union of `spans`. */
  def covered(spans: Seq[Span], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    spans.map(s => (math.max(s.start, lo), math.min(s.end, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  def dirBytes(dir: String): Long =
    try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => try java.nio.file.Files.size(p) catch { case _: Throwable => 0L }).sum
      finally s.close()
    } catch { case _: Throwable => 0L }
}

/** Counts in-memory (cached) relation scans in an executed plan,
  * including inside adaptive plans and subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def cacheScans(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.size
}

object Stats {
  /** Nearest-rank percentile of sorted values; 0 when empty. */
  def pct(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(q * sorted.size).toInt - 1)))

  def median(xs: Seq[Double]): Double = pct(xs.sorted, 0.5)
}
