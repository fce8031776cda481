package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed op: its wall time, the process CPU time it used, whether it
  * threw, and its input rows.
  */
case class OpRecord(i: Int, name: String, startMs: Long, wallS: Double,
    cpuS: Double, ok: Boolean, error: String, inputRows: Long)

/** A workload drives the program under test through its public API.
  * The harness calls `setup` (a fresh session's base state) several
  * times, then `warmup` once, then `next` in a closed loop until the
  * run's time is up, then `finish`.
  */
trait Workload {
  def setup(spark: SparkSession, tr: Tracer): Unit
  def warmup(spark: SparkSession): Unit
  /** The next op, or None when the workload stops; `remainingS` is the
    * measuring time left. An op returns its input rows.
    */
  def next(remainingS: Double): Option[(String, SparkSession => Long)]
  /** Untimed end of run: output dumps for the checks and state figures. */
  def finish(spark: SparkSession, tr: Tracer): Map[String, Any]
}

object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def session(cores: Int, out: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads, in seconds. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** Host CPU time stolen from this machine so far (the `steal` column
    * of /proc/stat), in seconds: time other tenants of the host took.
    */
  def stealS(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      f(8).toDouble / 100.0
    } catch { case _: Throwable => -1.0 }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val cores = Runtime.getRuntime.availableProcessors
    val plan: JsonNode = mapper.readTree(new File(opt("plan")))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(out, "work").getAbsolutePath
    val wl: Workload = workloadName match {
      case "inventory_read" => new InventoryRead(plan, work)
      case "lake_backfill" => new LakeBackfill(plan, work)
      case "corpus_dedup" => new CorpusDedup(plan, work)
    }
    val tr = new Tracer(trace)

    // set-up, repeated: each repetition starts a fresh session and
    // rebuilds the workload's base state
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val firstSetupStart = System.currentTimeMillis()
    for (_ <- 0 until SetupReps) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session(cores, out, trace)
      wl.setup(spark, tr)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val warmT0 = System.nanoTime()
    wl.warmup(spark)
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    tr.spans.clear()
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)

    // closed loop, one client: each op starts when the previous ends
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val timedStart = System.currentTimeMillis()
    val steal0 = stealS()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def remaining = (deadline - System.nanoTime()) / 1e9
    var nextOp = wl.next(remaining)
    while (nextOp.isDefined) {
      val (name, body) = nextOp.get
      tr.op = ops.size
      val startMs = System.currentTimeMillis()
      val c0 = processCpuS()
      val t0 = System.nanoTime()
      val (ok, err, rows) =
        try { val n = body(spark); (true, "", n) }
        catch { case e: Throwable =>
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), 0L) }
      ops += OpRecord(ops.size, name, startMs, (System.nanoTime() - t0) / 1e9,
        processCpuS() - c0, ok, err, rows)
      nextOp = wl.next(remaining)
    }
    val timedEnd = System.currentTimeMillis()
    val timedStealS = stealS() - steal0
    tr.op = -1
    val finishT0 = System.nanoTime()
    val state = wl.finish(spark, tr)
    val finishS = (System.nanoTime() - finishT0) / 1e9

    val layers = if (trace) {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      traceSummary(tr, listener, ops.toSeq, timedStart, timedEnd)
    } else Map.empty[String, Any]

    val artifact = Map(
      "workload" -> workloadName, "seed" -> opt("seed"), "trace" -> trace,
      "cores" -> cores, "seconds" -> seconds,
      "jvm_start_to_setup_s" -> (firstSetupStart - jvmStart) / 1000.0,
      "jvm_start_to_first_op_s" -> (timedStart - jvmStart) / 1000.0,
      "setup_s" -> setupS.toSeq, "warmup_s" -> warmupS, "finish_s" -> finishS,
      "timed_s" -> (timedEnd - timedStart) / 1000.0, "timed_steal_s" -> timedStealS,
      "ops" -> ops.map(o => Map("i" -> o.i, "name" -> o.name, "start_ms" -> o.startMs,
        "wall_s" -> o.wallS, "cpu_s" -> o.cpuS, "ok" -> o.ok, "error" -> o.error,
        "input_rows" -> o.inputRows)).toSeq,
      "state" -> state, "layers" -> layers,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(out, "jvm.json"), mapper.writeValueAsString(artifact))
    stopSession(spark)
  }

  /** Per-span totals and per-op sums for the traced run, plus the Spark
    * counters of the timed window. Everything is a run total; the
    * reporting side divides by the number of timed ops.
    */
  def traceSummary(tr: Tracer, l: JobListener, ops: Seq[OpRecord],
      timedStart: Long, timedEnd: Long): Map[String, Any] = {
    val jobs = l.jobIntervals
    val tasks = l.synchronized(l.tasks.toList)
    val bySpan = tr.spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        SpanTotals.of(s.start, s.end, jobs, tasks)
          .copy(fsOps = s.fsOps, bytesWritten = s.bytesWritten)
      }.reduce(_ + _)
    }
    val inOps = tr.spans.filter(_.op >= 0)
    val spanSumByOp = inOps.groupBy(_.op).map { case (op, ss) =>
      op -> ss.map(s => (s.end - s.start) / 1000.0).sum }
    val opWindows = ops.map(o => (o.startMs, o.startMs + math.round(o.wallS * 1000)))
    val window = opWindows.map { case (a, b) => SpanTotals.of(a, b, jobs, tasks) }
      .foldLeft(SpanTotals.zero)(_ + _)
    Map(
      "spans" -> bySpan.map { case (k, t) => k -> totalsMap(t) },
      "op_wall_s" -> ops.map(_.wallS).sum,
      "op_span_s" -> ops.map(o => spanSumByOp.getOrElse(o.i, 0.0)).sum,
      "window" -> totalsMap(window),
      "jobs_total" -> jobs.size)
  }

  def totalsMap(t: SpanTotals): Map[String, Any] = Map(
    "calls" -> t.calls, "s" -> t.s, "jobs" -> t.jobs, "tasks" -> t.tasks,
    "cpu_s" -> t.cpuS, "gap_s" -> t.gapS, "fs_ops" -> t.fsOps,
    "bytes_written" -> t.bytesWritten, "input_bytes" -> t.inputBytes,
    "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes,
    "failed_tasks" -> t.failedTasks)
}
