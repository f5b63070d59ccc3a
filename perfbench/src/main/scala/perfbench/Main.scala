package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State one run shares with its workload: the session, the tracer and
  * everything the end-to-end metrics are made of. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val work: Path) {
  /** op latencies by kind: write, read, maint, compute */
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap(Seq("write", "read", "maint", "compute")
      .map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
  /** the same latencies by the workload's op label */
  val byLabel = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  private val failedOps = mutable.Set.empty[Int]
  private var lastOp = 0
  /** input rows committed or processed (rows_per_s) */
  var rows = 0L
  /** the same rows' bytes as plain snappy Parquet (write_amp's base) */
  var refBytes = 0L
  /** on-disk bytes of finished outputs, and their live rows' plain
    * snappy Parquet bytes (space_amp) */
  var diskBytes = 0L
  var liveRefBytes = 0L
  /** what the last set-up generated, for the report */
  var inputs: String = ""
  /** data files and partition directories, sampled after writes */
  var sampledFiles = 0L
  var sampledPartitions = 0L

  def failed: Int = failedOps.size

  /** Forget the latencies measured so far (the warm-up's); its checks
    * still count. */
  def resetMeasures(): Unit = {
    latencies.values.foreach(_.clear())
    byLabel.clear()
  }

  /** One closed-loop operation of `kind`: the next starts only after it
    * returns. */
  def op[T](kind: String, label: String)(body: => T): T = {
    attempted += 1
    lastOp = tracer.newOp()
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => failedOps += lastOp; throw e }
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      latencies(kind) += dt
      byLabel.getOrElseUpdate(label, mutable.ArrayBuffer.empty) += dt
    }
  }

  /** A traced call into one engine module, inside the current op. */
  def span[T](name: String)(body: => T): T = tracer.span(name, lastOp)(body)

  /** Attach a count to the innermost open span (traced runs only). */
  def annotate(f: Span => Unit): Unit = tracer.current.foreach(f)

  /** Record a correctness check of the last op; a mismatch fails it. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failedOps += lastOp
      System.err.println(s"[perfbench] WRONG after op $lastOp: $what")
    }
}

/** One workload: `setup` builds inputs and seeded tables from scratch
  * (it runs several times, the last one stays), `warmup` runs untimed ops
  * that leave the state as set-up left it, `cycle` runs a fixed sequence
  * of ops on data the seed draws, `finish` checks the end state and
  * records space. */
trait Workload {
  /** cycles in one run's timed phase */
  def cycles: Int
  def setup(ctx: Ctx): Unit
  def warmup(ctx: Ctx): Unit = ()
  def cycle(ctx: Ctx): Unit
  def finish(ctx: Ctx): Unit
}

object Main {
  /** Spans measured at the benchmark's call sites, by layer. */
  val SpanNames: Seq[String] = Seq("sink.resolve", "sink.write",
    "sink.readback", "sink.catalog", "sink.compact", "sink.snap_commit",
    "sink.snap_read", "sink.snap_maint", "sources.dml", "sources.scan",
    "ops.dedup", "ops.text", "ops.similarity")

  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(45.0)
    val trace = opts.get("trace").contains("1")
    val work = Paths.get(opts.getOrElse("work", ".bench_work")).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", ".bench_out")).toAbsolutePath
    val wl: Workload = workload match {
      case "curated_ingest" => new CuratedIngestWorkload
      case "snapshot_table" => new SnapshotWorkload
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(work)
    Files.createDirectories(out)
    val t0 = System.nanoTime()
    val spark = Session.build(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, work)

    val setupTimes = (1 to Setups).map { _ =>
      Io.deleteTree(work.resolve("data"))
      val s0 = System.nanoTime()
      wl.setup(ctx)
      (System.nanoTime() - s0) / 1e9
    }
    wl.warmup(ctx)
    ctx.resetMeasures()
    val heapSetup = Heap.postGcOldGenMb()

    tracer.start()
    val fs0 = FsCounters.now()
    val phaseStartMs = System.currentTimeMillis()
    // the workload's fixed number of whole cycles, so every run measures
    // the same op sequence; --seconds only caps it on a slow machine
    val p0 = System.nanoTime()
    val limit = p0 + (seconds * 1e9).toLong
    var cycles = 0
    while (cycles < wl.cycles && (cycles == 0 || System.nanoTime() < limit)) {
      tracer.span("cycle", tracer.newOp())(wl.cycle(ctx))
      cycles += 1
    }
    val p1 = System.nanoTime()
    val phaseEndMs = System.currentTimeMillis()
    val phaseFs = FsCounters.now() - fs0
    tracer.stop()
    val heapEnd = Heap.postGcOldGenMb()
    wl.finish(ctx)

    val wall = (p1 - p0) / 1e9
    val all = ctx.latencies.values.flatten.toSeq
    val e2e = mutable.ArrayBuffer.empty[(String, Double, String)]
    val notes = mutable.ArrayBuffer.empty[String]
    // A kind's ops differ (a MERGE costs ten point lookups), so a median
    // over them jumps between kinds from run to run; the bounded metric is
    // the mean over the fixed op sequence, the median and tail are printed.
    def timing(name: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      e2e += ((s"${name}_mean_s", xs.sum / xs.size, "s"))
      notes += f"${name}_p50_s = ${Stats.median(xs)}%.6f s of ${xs.size} samples"
      notes += (Stats.tail(xs) match {
        case Some((p, v)) if p > 0.5 =>
          f"${name}_tail_s = $v%.6f s: p${p * 100}%.0f of ${xs.size} samples"
        case _ => s"${name}_tail_s: none; of ${xs.size} samples, no percentile " +
          "above the median has ten beyond it"
      })
    }
    e2e += (("setup_s", Stats.median(setupTimes), "s"))
    e2e += (("rows_per_s", ctx.rows / wall, "1/s"))
    timing("write", ctx.latencies("write").toSeq)
    timing("read", ctx.latencies("read").toSeq)
    timing("maint", ctx.latencies("maint").toSeq)
    notes += f"op_p50_s = ${Stats.median(all)}%.6f s of ${all.size} samples"
    e2e += (("write_amp", phaseFs.bytesWritten.toDouble / ctx.refBytes, "ratio"))
    e2e += (("space_amp", ctx.diskBytes.toDouble / ctx.liveRefBytes, "ratio"))
    e2e += (("files_per_partition",
      ctx.sampledFiles.toDouble / ctx.sampledPartitions, "count"))
    e2e += (("heap_peak_mb", math.max(heapSetup, heapEnd), "MB"))

    val correct = ctx.failed == 0 && ctx.attempted > 0
    val report = mutable.ArrayBuffer.empty[String]
    report += s"workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}"
    report += s"session: local[${Session.cores}], shuffle.partitions=${Session.cores}, " +
      "maxConcurrentOutputFileWriters=16, committer v2, GraftExtensions"
    report += f"session_start_s=$sessionS%.3f setups_s=${setupTimes.map(t => f"$t%.3f").mkString(",")}"
    report += s"inputs: ${ctx.inputs}"
    report += f"timed phase: wall_s=$wall%.3f cycles=$cycles ops=${ctx.attempted} rows=${ctx.rows}"
    ctx.latencies.foreach { case (k, v) => report += s"  $k ops: ${v.size}" }
    ctx.byLabel.foreach { case (k, v) =>
      report += f"    $k%-12s ${v.map(x => f"$x%.3f").mkString(" ")}" }
    e2e.foreach { case (n, v, u) => report += f"  $n%-22s $v%.6f $u" }
    notes.foreach(n => report += s"  ($n)")
    report += f"  fail_ratio             ${ctx.failed.toDouble / math.max(1, ctx.attempted)}%.6f ratio"
    report += s"correctness: ${if (correct) "PASS" else "FAIL"} " +
      s"(${ctx.failed} failed of ${ctx.attempted} ops)"

    val metrics =
      if (!trace) e2e.toSeq
      else {
        val layers = tracer.layerMetrics(SpanNames, phaseStartMs, phaseEndMs, phaseFs)
        val traceFile = out.resolve(s"trace-$workload-$seed.json")
        Files.write(traceFile, tracer.spansJson().getBytes("UTF-8"))
        report += s"trace: $traceFile"
        report += f"  top-level (cycle) spans cover ${tracer.shareOf(_.parent < 0, p1 - p0) * 100}%.1f%% of wall_s"
        report += f"  layer spans cover ${tracer.shareOf(_.parent >= 0, p1 - p0) * 100}%.1f%% of wall_s"
        Seq("sink.", "sources.", "ops.").foreach(p => report +=
          f"  $p* spans: ${tracer.shareOf(_.name.startsWith(p), p1 - p0) * 100}%.1f%% of wall_s")
        val gap = layers.find(_._1 == "driver.gap_s").map(_._2).getOrElse(0.0)
        report += f"  driver.gap_s / wall_s = ${gap / wall}%.3f"
        report += f"  wall_s (traced) = $wall%.3f"
        layers
      }
    report.foreach(println)
    val json = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${Stats.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{$json}}""")
    System.out.flush()
    spark.stop()
    Io.deleteTree(work)
    if (!correct) sys.exit(1)
  }
}

object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** graft.Bench's session shape, with scratch space under `work`. */
  def build(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.maxConcurrentOutputFileWriters", "16")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** The highest percentile with at least ten samples beyond it, and its
    * value; None with ten samples or fewer. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size <= 10) None
    else {
      val p = (xs.size - 10).toDouble / xs.size
      Some((p, quantile(xs, p)))
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

object Heap {
  /** Old-generation usage right after a full collection, in MB. */
  def postGcOldGenMb(): Double = {
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    val it = pools.iterator()
    var used = 0L
    while (it.hasNext) {
      val p = it.next()
      if (p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        used += p.getUsage.getUsed
    }
    used / 1048576.0
  }
}

object Io {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def files(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try { val b = mutable.ArrayBuffer.empty[Path]; s.filter(Files.isRegularFile(_)).forEach(b += _); b.toSeq }
    finally s.close()
  }

  private def hidden(f: Path): Boolean = {
    val n = f.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }

  /** Every byte on disk under `p`, checksums and metadata included. */
  def diskBytes(p: Path): Long = files(p).map(Files.size).sum

  /** Bytes of the visible data files under `p`. */
  def dataBytes(p: Path): Long = files(p).filterNot(hidden).map(Files.size).sum

  /** (visible data files, distinct directories holding them) under `p`. */
  def filesAndDirs(p: Path): (Long, Long) = {
    val fs = files(p).filterNot(hidden)
    (fs.size.toLong, fs.map(_.getParent).distinct.size.toLong)
  }
}
