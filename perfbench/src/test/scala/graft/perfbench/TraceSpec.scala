package graft.perfbench

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("the counting filesystem counts a scripted sequence of calls") {
    val fs = new CountingFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    val root = new Path(Files.createTempDirectory("counting-fs").toUri)
    def delta[T](body: => T): (Long, Long) = {
      val (c0, w0) = CountingFileSystem.snapshot()
      body
      val (c1, w1) = CountingFileSystem.snapshot()
      (c1 - c0, w1 - w0)
    }
    val a = new Path(root, "d/a.bin")
    assert(delta(fs.mkdirs(new Path(root, "d"))) === ((1L, 0L)))
    // create also makes the parent directory: two namespace calls; the
    // bytes are the caller's, not the checksum file's
    assert(delta { val o = fs.create(a); o.write(new Array[Byte](1000)); o.write(7); o.close() } ===
      ((2L, 1001L)))
    assert(delta(fs.getFileStatus(a)) === ((1L, 0L)))
    assert(delta(fs.listStatus(new Path(root, "d"))) === ((1L, 0L)))
    // open also reads the file's status (for its checksum)
    assert(delta(fs.open(a).close()) === ((2L, 0L)))
    val b = new Path(root, "d/b.bin")
    assert(delta(fs.rename(a, b)) === ((1L, 0L)))
    assert(delta(fs.exists(b)) === ((1L, 0L)))
    assert(delta(fs.delete(new Path(root, "d"), true)) === ((1L, 0L)))
    assert(delta(fs.delete(root, true)) === ((1L, 0L)))
  }

  test("driver gap is span time outside the union of overlapping jobs") {
    // jobs 10-30 and 20-50 overlap: together they cover 40 ms, not 50
    assert(Intervals.covered(0, 100, Seq((10L, 30L), (20L, 50L), (70L, 80L))) === 50L)
    assert(Intervals.gap(0, 100, Seq((10L, 30L), (20L, 50L), (70L, 80L))) === 50L)
    // a job nested inside another adds nothing
    assert(Intervals.gap(0, 100, Seq((10L, 90L), (20L, 30L))) === 20L)
    // jobs are clipped to the span; a job still running counts to its end
    assert(Intervals.gap(100, 200, Seq((50L, 120L), (190L, Long.MaxValue))) === 70L)
    // no job at all: the whole span is gap
    assert(Intervals.gap(0, 100, Nil) === 100L)
  }

  test("span totals take the jobs and tasks that start inside the span") {
    val l = new JobListener
    val tasks = Seq(
      l.Task(launch = 5, finish = 15, cpuNs = 1000000000L, inputBytes = 10,
        shuffleBytes = 1, spillBytes = 0, failed = false),
      l.Task(launch = 25, finish = 40, cpuNs = 500000000L, inputBytes = 20,
        shuffleBytes = 2, spillBytes = 3, failed = true),
      l.Task(launch = 120, finish = 130, cpuNs = 7L, inputBytes = 99,
        shuffleBytes = 9, spillBytes = 9, failed = false))
    val t = SpanTotals.of(0, 100, Seq((0L, 20L), (22L, 45L), (110L, 140L)), tasks)
    assert(t.jobs === 2)
    assert(t.tasks === 2)
    assert(t.cpuS === 1.5)
    assert(t.gapS === 0.057)
    assert((t.inputBytes, t.shuffleBytes, t.spillBytes, t.failedTasks) === ((30L, 3L, 3L, 1)))
  }
}
