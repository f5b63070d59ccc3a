package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop FileSystem counters of the local (`file`) scheme: bytes from
  * Hadoop's statistics, summed over every FileSystem class registered
  * under the scheme, and call counts from [[CountingLocalFs]]. In
  * `local[N]` the driver and all executor threads share one JVM, so this
  * is the whole process's file I/O through Hadoop; Spark's shuffle and
  * spill files bypass it. */
final case class FsCounters(bytesRead: Long, bytesWritten: Long,
    readOps: Long, writeOps: Long) {
  def -(o: FsCounters): FsCounters = FsCounters(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, readOps - o.readOps, writeOps - o.writeOps)
  def +(o: FsCounters): FsCounters = FsCounters(bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten, readOps + o.readOps, writeOps + o.writeOps)
}

object FsCounters {
  val Zero: FsCounters = FsCounters(0, 0, 0, 0)
  @annotation.nowarn("cat=deprecation")
  def now(): FsCounters = {
    val stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsCounters(stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum,
      CountingLocalFs.readOps.get, CountingLocalFs.writeOps.get)
  }
}

/** One traced call into a module: `op` groups the spans of one benchmark
  * operation, `parent` is the enclosing span (-1 for a top-level span). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, startMs: Long, fs0: FsCounters) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  var fs: FsCounters = FsCounters.Zero
  /** changed rows the benchmark attributes to this call (writes) */
  var rows: Long = 0L
  /** live files of the table the call read, when the workload knows them */
  var liveFiles: Long = 0L
  /** distinct data files opened during the call */
  var filesRead: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task-side totals of one span (or of the whole timed phase). */
final class TaskTotals {
  var tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
}

/** Spark's planning-phase times and written-file count of one executed
  * query. */
final case class QeRecord(startMs: Long, analysisMs: Long, optimizerMs: Long,
    planningMs: Long, writeFiles: Long) {
  def planMs: Long = analysisMs + optimizerMs + planningMs
}

/**
 * Span recorder for the traced run. Spans are opened and closed by the
 * benchmark around its own calls into the engine; Spark activity is
 * attributed to them from outside the engine through public hooks only:
 *  - before each call the span id goes into the `bench.span` local
 *    property, which every job started by that call carries back to the
 *    [[SparkListener]] (and, through the job's stages, its tasks);
 *  - a [[QueryExecutionListener]] reads each query's planning-phase times
 *    (`qe.tracker`) and the files its write commands wrote (SQL metric
 *    `numFiles`); queries are attributed to the innermost span open when
 *    their analysis began;
 *  - Hadoop FileSystem statistics and [[CountingLocalFs]] counts are
 *    sampled at each span boundary.
 * Spans live in memory and are written as one JSON file at the end.
 * When disabled, `span` only runs its body.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextOp = 0

  private final case class Job(span: Int, startMs: Long, var endMs: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val taskTotals = mutable.HashMap.empty[Int, TaskTotals]
  val wideTasks = new TaskTotals
  private val qes = mutable.ArrayBuffer.empty[QeRecord]
  @volatile private var lastEventNs = System.nanoTime()

  def newOp(): Int = { nextOp += 1; nextOp }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        op, System.nanoTime(), System.currentTimeMillis(), FsCounters.now())
      spans += s
      open = s :: open
      sc.setLocalProperty("bench.span", s.id.toString)
      CountingLocalFs.dataFilesOpened.clear()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.fs = FsCounters.now() - s.fs0
        s.filesRead = CountingLocalFs.dataFilesOpened.size
        open = open.tail
        sc.setLocalProperty("bench.span", open.headOption.map(_.id.toString).orNull)
      }
    }

  /** The innermost open span, for call sites that attach counts to it. */
  def current: Option[Span] = open.headOption

  private object Plans extends AdaptiveSparkPlanHelper {
    def filesWritten(plan: SparkPlan): Long =
      collectWithSubqueries(plan) { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("bench.span")))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(span, e.time, -1L)
      e.stageIds.foreach(stageSpan(_) = span)
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val span = stageSpan.getOrElse(e.stageId, -1)
        Seq(taskTotals.getOrElseUpdate(span, new TaskTotals), wideTasks).foreach { t =>
          t.tasks += 1
          t.runMs += m.executorRunTime
          t.gcMs += m.jvmGCTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
          t.output += m.outputMetrics.bytesWritten
        }
      }
      lastEventNs = System.nanoTime()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      val written = try Plans.filesWritten(qe.executedPlan) catch { case _: Throwable => 0L }
      Tracer.this.synchronized {
        qes += QeRecord(start, ms("analysis"), ms("optimization"), ms("planning"), written)
        lastEventNs = System.nanoTime()
      }
    }
  }

  /** Start attributing Spark activity (the timed phase begins). */
  def start(): Unit = if (enabled) {
    spans.clear()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Stop attributing, after the asynchronous listener buses went quiet. */
  def stop(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    def quiet = synchronized(jobs.values.forall(_.endMs >= 0)) &&
      System.nanoTime() - lastEventNs > 500000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(50)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  // ------------------------------------------------------------ reports

  private def innermostAt(ms: Long): Int = {
    // spans are opened in time order on one client thread, so the last
    // span that started at or before `ms` and had not ended is innermost
    var best = -1
    spans.foreach(s => if (s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs)) best = s.id)
    best
  }

  /** Union length (ms) of [a, b) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-layer metrics over the named spans plus workload-wide totals over
    * the timed phase `[phaseStartMs, phaseEndMs]`. Layer spans are the
    * children of the cycle spans; a span name's numbers sum over calls. */
  def layerMetrics(spanNames: Seq[String], phaseStartMs: Long, phaseEndMs: Long,
      phaseFs: FsCounters): Seq[(String, Double, String)] = synchronized {
    val jobsBySpan = jobs.values.toSeq.filter(_.endMs >= 0).groupBy(_.span)
    val qeBySpan = qes.toSeq.groupBy(q => innermostAt(q.startMs))
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def spansOf(name: String) = spans.toSeq.filter(s => s.name == name && s.endNs >= 0)
    spanNames.foreach { name =>
      val ss = spansOf(name)
      val ids = ss.map(_.id).toSet
      val wall = ss.map(_.wallS).sum
      val jobIv = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil).map(j =>
        (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
      val jobS = covered(jobIv) / 1e3
      val tt = ids.toSeq.flatMap(taskTotals.get)
      val q = ids.toSeq.flatMap(qeBySpan.getOrElse(_, Nil))
      out += ((s"$name.calls", ss.size.toDouble, "count"))
      out += ((s"$name.wall_s", wall, "s"))
      out += ((s"$name.driver_s", math.max(0.0, wall - jobS), "s"))
      out += ((s"$name.plan_s", q.map(_.planMs).sum / 1e3, "s"))
      out += ((s"$name.jobs", ids.toSeq.map(jobsBySpan.getOrElse(_, Nil).size).sum.toDouble, "count"))
      out += ((s"$name.task_s", tt.map(_.runMs).sum / 1e3, "s"))
      out += ((s"$name.fs_read_ops", ss.map(_.fs.readOps).sum.toDouble, "count"))
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def qeOf(name: String) = spansOf(name).flatMap(s => qeBySpan.getOrElse(s.id, Nil))
    out += (("sink.write.files_written",
      ratio(qeOf("sink.write").map(_.writeFiles).sum.toDouble, spansOf("sink.write").size), "count"))
    Seq("sink.snap_commit", "sources.dml").foreach { n =>
      val ss = spansOf(n)
      out += ((s"$n.bytes_written_per_changed_row",
        ratio(ss.map(_.fs.bytesWritten).sum.toDouble, ss.map(_.rows).sum.toDouble), "B/row"))
    }
    Seq("sink.snap_read", "sources.scan").foreach { n =>
      val ss = spansOf(n)
      out += ((s"$n.files_read_ratio",
        ratio(ss.map(_.filesRead).sum.toDouble, ss.map(_.liveFiles).sum.toDouble), "ratio"))
    }
    out += (("sink.snap_maint.bytes_rewritten",
      spansOf("sink.snap_maint").map(_.fs.bytesWritten).sum.toDouble, "B"))
    val t = wideTasks
    out += (("exec.tasks", t.tasks.toDouble, "count"))
    out += (("exec.task_s", t.runMs / 1e3, "s"))
    out += (("exec.gc_s", t.gcMs / 1e3, "s"))
    out += (("exec.shuffle_read_bytes", t.shuffleRead.toDouble, "B"))
    out += (("exec.shuffle_write_bytes", t.shuffleWrite.toDouble, "B"))
    out += (("exec.spill_bytes", t.spill.toDouble, "B"))
    out += (("exec.input_bytes", t.input.toDouble, "B"))
    out += (("exec.output_bytes", t.output.toDouble, "B"))
    out += (("fs.read_ops", phaseFs.readOps.toDouble, "count"))
    out += (("fs.write_ops", phaseFs.writeOps.toDouble, "count"))
    out += (("fs.bytes_read", phaseFs.bytesRead.toDouble, "B"))
    out += (("fs.bytes_written", phaseFs.bytesWritten.toDouble, "B"))
    val inPhase = qes.toSeq.filter(q => q.startMs >= phaseStartMs && q.startMs <= phaseEndMs)
    out += (("plan.analysis_s", inPhase.map(_.analysisMs).sum / 1e3, "s"))
    out += (("plan.optimizer_s", inPhase.map(_.optimizerMs).sum / 1e3, "s"))
    out += (("plan.planning_s", inPhase.map(_.planningMs).sum / 1e3, "s"))
    val allJobs = jobs.values.toSeq.filter(j => j.endMs >= 0 && j.startMs >= phaseStartMs)
      .map(j => (j.startMs, math.min(j.endMs, phaseEndMs)))
    out += (("driver.gap_s",
      math.max(0.0, (phaseEndMs - phaseStartMs - covered(allJobs)) / 1e3), "s"))
    out.toSeq
  }

  /** Spans as one JSON document: name, start/end (ms since the first
    * span), parent, op id, plus the per-span counters the printer shows. */
  def spansJson(): String = synchronized {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val jobsBySpan = jobs.values.toSeq.groupBy(_.span)
    spans.filter(_.endNs >= 0).map { s =>
      val tt = taskTotals.getOrElse(s.id, new TaskTotals)
      val jobIv = jobsBySpan.getOrElse(s.id, Nil).filter(_.endMs >= 0)
        .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      "{" + Seq(
        s""""id":${s.id}""", s""""name":"${s.name}"""", s""""parent":${s.parent}""",
        s""""op":${s.op}""", f""""start_ms":${(s.startNs - t0) / 1e6}%.3f""",
        f""""end_ms":${(s.endNs - t0) / 1e6}%.3f""",
        s""""jobs":${jobsBySpan.getOrElse(s.id, Nil).size}""",
        f""""job_ms":${covered(jobIv).toDouble}%.1f""",
        s""""tasks":${tt.tasks}""", s""""task_ms":${tt.runMs}""",
        s""""fs_read_ops":${s.fs.readOps}""", s""""fs_bytes_written":${s.fs.bytesWritten}""",
        s""""files_read":${s.filesRead}""",
        s""""rows":${s.rows}""").mkString(",") + "}"
    }.mkString("{\"spans\":[\n", ",\n", "\n]}\n")
  }

  /** Share of `wallNs` spent in the spans `pick` selects (they do not
    * overlap when they are top-level or leaves). */
  def shareOf(pick: Span => Boolean, wallNs: Long): Double =
    spans.filter(s => pick(s) && s.endNs >= 0).map(_.wallS).sum * 1e9 / math.max(1L, wallNs)
}
