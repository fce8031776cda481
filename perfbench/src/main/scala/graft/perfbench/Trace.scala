package graft.perfbench

import java.io.FilterOutputStream
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Local filesystem that counts namespace calls and bytes written.
  *
  * Hadoop's local-FS statistics report only bytes read and written, so
  * the traced run registers this class as `fs.file.impl`. Counters are
  * JVM-global: Hadoop caches one instance per scheme, and executors of a
  * `local[n]` session share the driver's JVM. Streaming checkpoints do
  * their I/O through `FileContext` and bypass this class.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(p: Path): Array[FileStatus] = {
    calls.incrementAndGet(); super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    calls.incrementAndGet(); super.getFileStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    calls.incrementAndGet(); super.open(p, bufferSize)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    calls.incrementAndGet()
    counted(super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    calls.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    calls.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    calls.incrementAndGet(); super.mkdirs(p, permission)
  }
  override def mkdirs(p: Path): Boolean = {
    calls.incrementAndGet(); super.mkdirs(p)
  }

  private def counted(inner: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new FilterOutputStream(inner) {
      override def write(b: Int): Unit = { inner.write(b); written.incrementAndGet() }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        inner.write(b, off, len); written.addAndGet(len)
      }
    }, null)
}

object CountingFileSystem {
  val calls = new AtomicLong
  val written = new AtomicLong
  def snapshot(): (Long, Long) = (calls.get, written.get)
}

/** Interval arithmetic for driver gaps: span time with no job running. */
object Intervals {
  /** Length of the part of `[lo, hi)` covered by the union of `xs`. */
  def covered(lo: Long, hi: Long, xs: Seq[(Long, Long)]): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }

  /** Time in `[lo, hi)` during which no interval of `xs` is open. */
  def gap(lo: Long, hi: Long, xs: Seq[(Long, Long)]): Long =
    (hi - lo) - covered(lo, hi, xs)
}

/** Spark job and task records from the listener bus, in wall-clock ms. */
class JobListener extends SparkListener {
  case class Job(id: Int, start: Long, var end: Long = Long.MaxValue)
  case class Task(launch: Long, finish: Long, cpuNs: Long, inputBytes: Long,
      shuffleBytes: Long, spillBytes: Long, failed: Boolean)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L),
      e.reason != Success)
  }

  def jobIntervals: Seq[(Long, Long)] = synchronized {
    jobs.values.map(j => (j.start, j.end)).toSeq
  }
}

/** A closed span: one call from the benchmark into one public function. */
case class Span(name: String, op: Int, start: Long, end: Long,
    fsOps: Long, bytesWritten: Long)

/** Span aggregates: busy time, Spark work and filesystem work. */
case class SpanTotals(calls: Int, s: Double, jobs: Int, tasks: Int,
    cpuS: Double, gapS: Double, fsOps: Long, bytesWritten: Long,
    inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
    failedTasks: Int) {
  def +(o: SpanTotals): SpanTotals = SpanTotals(calls + o.calls, s + o.s,
    jobs + o.jobs, tasks + o.tasks, cpuS + o.cpuS, gapS + o.gapS,
    fsOps + o.fsOps, bytesWritten + o.bytesWritten, inputBytes + o.inputBytes,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    failedTasks + o.failedTasks)
}

object SpanTotals {
  val zero = SpanTotals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Attribute jobs and tasks to `[lo, hi)` by start time. With one
    * client thread the benchmark's spans never overlap, so every job and
    * task a call causes starts inside that call's interval.
    */
  def of(lo: Long, hi: Long, jobs: Seq[(Long, Long)],
      tasks: Seq[JobListener#Task]): SpanTotals = {
    val inJobs = jobs.filter { case (a, _) => a >= lo && a < hi }
    val inTasks = tasks.filter(t => t.launch >= lo && t.launch < hi)
    SpanTotals(1, (hi - lo) / 1000.0, inJobs.size, inTasks.size,
      inTasks.map(_.cpuNs).sum / 1e9, Intervals.gap(lo, hi, jobs) / 1000.0,
      0, 0, inTasks.map(_.inputBytes).sum, inTasks.map(_.shuffleBytes).sum,
      inTasks.map(_.spillBytes).sum, inTasks.count(_.failed))
  }
}

/** Records spans when tracing is on; a pass-through otherwise. */
class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (c0, w0) = CountingFileSystem.snapshot()
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        val (c1, w1) = CountingFileSystem.snapshot()
        spans += Span(name, op, t0, t1, c1 - c0, w1 - w0)
      }
    }
}
