package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, SwapCommit}

/** The layout-swap protocol's concurrency layers (ADVICE r13): the
  * per-root JVM lock, the reader grace window, the race-tolerant
  * replace, and GC of publish/replace litter — exercised through the
  * protocol's one user, [[graft.operators.AnnIndex]].
  */
class SwapCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def localFs =
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)

  private def tmpRoot(name: String): Path = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-swap-$name")
    new Path(p.toString)
  }

  private def write(f: org.apache.hadoop.fs.FileSystem, p: Path,
      body: String): Unit = {
    val out = f.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def read(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("gcOrphans removes aborted staging, stale marker temps, and " +
      "stale replace trash — and nothing else") {
    val f = localFs
    val root = tmpRoot("gc")
    f.mkdirs(new Path(root, "_staged-dead"))
    write(f, new Path(root, "_commit.tmp-abc"), "orphan publish temp")
    f.mkdirs(new Path(root, s"${SwapCommit.TrashPrefix}bands-xyz"))
    f.mkdirs(new Path(root, "bands")) // live data must survive
    write(f, new Path(root, "_scheme"), "16,4")
    SwapCommit.gcOrphans(f, root, "_staged-", "_commit", None)
    val names = f.listStatus(root).map(_.getPath.getName).toSet
    assert(names === Set("bands", "_scheme"),
      s"only live entries survive the GC, got $names")
  }

  test("replace: absent source is an already-applied no-op; a normal " +
      "replace installs the staged tree and leaves no trash") {
    val f = localFs
    val root = tmpRoot("replace")
    val dst = new Path(root, "bands")
    write(f, new Path(dst, "live.parquet"), "old")
    // already-applied: src missing, live untouched
    SwapCommit.replace(f, new Path(root, "_staged-gone/bands"), dst)
    assert(read(f, new Path(dst, "live.parquet")) === "old")
    // normal replace
    val src = new Path(root, "_staged-x/bands")
    write(f, new Path(src, "new.parquet"), "new")
    SwapCommit.replace(f, src, dst)
    assert(f.exists(new Path(dst, "new.parquet")))
    assert(!f.exists(new Path(dst, "live.parquet")),
      "replace swaps the whole tree, not a merge")
    assert(!f.listStatus(root).exists(
      _.getPath.getName.startsWith(SwapCommit.TrashPrefix)),
      "a completed replace cleans up its trash")
  }

  test("two recoverers racing the same committed replace cannot lose " +
      "the staged data (layer-3 tolerance, raced for real)") {
    val f = localFs
    (1 to 20).foreach { i =>
      val root = tmpRoot(s"race$i")
      val dst = new Path(root, "bands")
      write(f, new Path(dst, "old.parquet"), "old")
      val src = new Path(root, "_staged/bands")
      write(f, new Path(src, "new.parquet"), "new")
      // two threads apply the SAME committed swap with no lock between
      // them (the cross-process recovery shape): both must return
      // without error and the new tree must be installed exactly once
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (1 to 2).map(_ => new Thread(() =>
        try SwapCommit.replace(f, src, dst)
        catch { case t: Throwable => errs.add(t) }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty, s"round $i: racing replace threw ${errs.peek()}")
      assert(read(f, new Path(dst, "new.parquet")) === "new",
        s"round $i: staged tree must survive the race")
      assert(!f.exists(new Path(dst, "old.parquet")))
      // trash may linger only if a loser displaced-then-restored; any
      // leftover is GC-able litter, never live data
      SwapCommit.gcOrphans(f, root, "_staged", "_commit", None)
      assert(f.listStatus(root).map(_.getPath.getName).toSet === Set("bands"))
    }
  }

  /** A two-cell index whose cell 2 holds 24 vectors: over a cap of
    * 16, so an optimize splits it (AnnIndexSpec's skewed fixture).
    */
  private def skewedIndex(p: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cents = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "c")
    val hot = (0 until 12).map(i => (10L + i, Seq(0.0, 1.0 + 0.002 * i, 1.0 + 0.01 * i, 0.0))) ++
      (0 until 12).map(i => (30L + i, Seq(0.0, 1.0 + 0.002 * i + 0.001, -(1.0 + 0.01 * i), 0.0)))
    val cold = (0 until 8).map(i => (50L + i, Seq(1.0 + 0.01 * i, 0.0, 0.0, 0.0)))
    AnnIndex.build((hot ++ cold).toDF("vec_id", "v"), cents, p)
    cents
  }

  private def occupancy(p: String): Map[Long, Long] = spark.read.parquet(p)
    .groupBy(org.apache.spark.sql.functions.col("cell").cast("long").as("cell"))
    .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def indexDir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-swap-$name").toString

  test("a crashed commit recovered by many concurrent entry points " +
      "applies exactly once (the per-root lock serializes recovery)") {
    val ref = indexDir("concref")
    val cents = skewedIndex(ref)
    AnnIndex.optimize(spark, ref, cents, maxOccupancy = 16L)
    val p = indexDir("conc")
    skewedIndex(p)
    // crash AFTER the marker publish, before any cell swap: the split
    // is committed but unapplied — exactly what racing recoveries then
    // fight over
    intercept[java.io.IOException] {
      AnnIndex.optimizeImpl(spark, p, cents, maxOccupancy = 16L,
        failAfterSwaps = 0)
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val applied = new java.util.concurrent.atomic.AtomicInteger()
    val ts = (1 to 8).map(_ => new Thread(() =>
      try { if (AnnIndex.recover(spark, p).isDefined) applied.incrementAndGet() }
      catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent recovery threw ${errs.peek()}")
    assert(applied.get === 1, "exactly one entry point rolls the swap forward")
    assert(!new java.io.File(p, "_optimize_commit").exists)
    assert(occupancy(p) === occupancy(ref),
      "the committed split applied exactly once")
  }

  test("a reader waits out a live writer's commit window instead of " +
      "rolling the marker forward itself") {
    import spark.implicits._
    val p = indexDir("grace")
    val cents = skewedIndex(p)
    val root = new Path(p)
    val f = localFs
    // a marker naming staging that does not exist: any recoverer that
    // applies it fails — a reader honoring the grace must never touch it
    SwapCommit.publish(f, root, "_optimize_commit", "_optimize-missing")
    // the "live writer in another process": clears its marker mid-grace
    val writer = new Thread(() => {
      Thread.sleep(150)
      f.delete(new Path(root, "_optimize_commit"), false)
    })
    writer.start()
    val got = AnnIndex.probe(spark, p,
        Seq((9L, Seq(0.0, 1.0, 1.0, 0.0))).toDF("p_id", "p"), cents,
        nprobe = 2, k = 3)
      .collect()
    writer.join()
    assert(got.length === 3,
      "the probe proceeds normally once the writer finishes")
  }
}
