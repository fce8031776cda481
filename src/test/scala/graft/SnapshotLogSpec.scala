package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Compaction, Deletes, SnapshotLog}

/** The snapshot commit log: atomic swaps, time travel, reader isolation
  * from concurrent maintenance, and the vacuum retention boundary.
  */
class SnapshotLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"

  private def rows(part: String, ids: Seq[Int]) =
    ids.map(i => (i.toLong, part, s"v$i")).toDF("id", "part", "payload")

  test("overwrite + append commit monotonic versions and readAt time-travels") {
    val t = freshTable()
    val v1 = SnapshotLog.overwrite(rows("a", 1 to 10), t, Seq("part"))
    val v2 = SnapshotLog.append(rows("b", 11 to 15), t, Seq("part"))
    assert(v1 == 1 && v2 == 2)
    assert(SnapshotLog.readAt(spark, t, 1).count() == 10)
    assert(SnapshotLog.readAt(spark, t, 2).count() == 15)
    // partition column survives the explicit-file read
    assert(SnapshotLog.read(spark, t).filter($"part" === "b").count() == 5)
  }

  test("overwritePartitions swaps only touched partitions, atomically") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 5).union(rows("b", 6 to 10)), t, Seq("part"))
    SnapshotLog.overwritePartitions(rows("b", 100 to 101), t, Seq("part"))
    val latest = SnapshotLog.read(spark, t)
    assert(latest.filter($"part" === "a").count() == 5, "untouched partition intact")
    assert(latest.filter($"part" === "b").as[(Long, String, String)]
      .collect().map(_._1).sorted.toSeq == Seq(100L, 101L))
    // the pre-swap version still serves the old partition contents
    assert(SnapshotLog.readAt(spark, t, 1).filter($"part" === "b").count() == 5)
  }

  test("deleteByKeys (via Deletes delegation) purges latest, keeps history") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 5).union(rows("b", 6 to 10)), t, Seq("part"))
    val affected = Deletes.deleteByKeys(spark, t, "id",
      Seq(2L, 3L).toDF("id"), "part")
    assert(affected == Seq("a"), s"only partition a holds doomed keys: $affected")
    val latest = SnapshotLog.read(spark, t)
    assert(latest.count() == 8)
    assert(latest.filter($"id".isin(2L, 3L)).count() == 0)
    // right-to-be-forgotten clock: history serves them until vacuum
    assert(SnapshotLog.readAt(spark, t, 1).filter($"id".isin(2L, 3L)).count() == 2)
    SnapshotLog.vacuum(spark, t, retainLast = 1, staleGraceMs = 0L)
    assertThrows[IllegalArgumentException](SnapshotLog.readAt(spark, t, 1))
  }

  test("a reader planned before compaction still scans a consistent snapshot") {
    val t = freshTable()
    // many small files: one per append
    (1 to 6).foreach(i => if (i == 1) SnapshotLog.overwrite(rows("a", Seq(i)), t, Seq("part"))
      else SnapshotLog.append(rows("a", Seq(i)), t, Seq("part")))
    val before = SnapshotLog.latestVersion(spark, t).get
    val reader = SnapshotLog.readAt(spark, t, before) // planned pre-compaction
    val (v, compacted) = SnapshotLog.compact(spark, t, maxFiles = 1)
    assert(compacted.nonEmpty && v == before + 1)
    // the old files are unlinked from the log but NOT deleted — the
    // concurrent reader's explicit file list still resolves
    assert(reader.count() == 6)
    assert(SnapshotLog.read(spark, t).as[(Long, String, String)].collect().sorted.toSeq
      == reader.as[(Long, String, String)].collect().sorted.toSeq)
    // and the compacted partition really is one file now
    val snap = SnapshotLog.read(spark, t)
    assert(snap.inputFiles.length < reader.inputFiles.length)
  }

  test("Compaction.compact delegates to the log on snapshot tables") {
    val t = freshTable()
    (1 to 5).foreach(i => if (i == 1) SnapshotLog.overwrite(rows("a", Seq(i)), t, Seq("part"))
      else SnapshotLog.append(rows("a", Seq(i)), t, Seq("part")))
    val parts = Compaction.compact(spark, t, maxFiles = 1)
    assert(parts == Seq("part=a"))
    assert(SnapshotLog.latestVersion(spark, t).contains(6L))
    assert(SnapshotLog.read(spark, t).count() == 5)
  }

  test("concurrent appends race on the version slot and both land") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), t, Seq("part"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(
      Future(SnapshotLog.append(rows("b", 10 to 12), t, Seq("part"))),
      Future(SnapshotLog.append(rows("c", 20 to 24), t, Seq("part"))))
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.toSet == Set(2L, 3L), s"distinct versions: $versions")
    assert(SnapshotLog.read(spark, t).count() == 10, "the rebase lost no files")
  }

  test("vacuum drops only unreferenced files and expired log entries") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 4), t, Seq("part"))
    SnapshotLog.overwritePartitions(rows("a", 5 to 6), t, Seq("part"))
    val dropped = SnapshotLog.vacuum(spark, t, retainLast = 1, staleGraceMs = 0L)
    assert(dropped.nonEmpty, "v1's unlinked files are vacuumable")
    assert(SnapshotLog.versions(spark, t) == Seq(2L))
    assert(SnapshotLog.read(spark, t).count() == 2, "latest untouched")
  }

  test("deleteByKeys handles multi-level partitioning without duplication") {
    val t = freshTable()
    val df = Seq((1L, "a", "x", "p1"), (2L, "a", "y", "p2"), (3L, "b", "x", "p3"))
      .toDF("id", "p1", "p2", "payload")
    SnapshotLog.overwrite(df, t, Seq("p1", "p2"))
    val (_, affected) =
      SnapshotLog.deleteByKeys(spark, t, "id", Seq(1L).toDF("id"), "p1")
    assert(affected == Seq("a"))
    val latest = SnapshotLog.read(spark, t)
      .select("id").as[Long].collect().sorted.toSeq
    assert(latest == Seq(2L, 3L),
      s"no doomed rows and no duplicated survivors: $latest")
  }

  test("merge upserts: updates replace, inserts append, keys can move partitions") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 4).union(rows("b", 5 to 8)), t, Seq("part"))
    // id 2 re-payloads in place, id 3 MOVES a→b, id 100 inserts into c
    val updates = Seq((2L, "a", "u2"), (3L, "b", "u3"), (100L, "c", "new"))
      .toDF("id", "part", "payload")
    val (v, affected) = SnapshotLog.merge(spark, t, updates, "id", "part")
    assert(v == 2L)
    assert(affected.toSet == Set("a", "b", "c"))
    val latest = SnapshotLog.read(spark, t).select($"id", $"part", $"payload")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(latest.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 100L),
      s"no duplicate, no loss: $latest")
    assert(latest.find(_._1 == 2L).contains((2L, "a", "u2")))
    assert(latest.find(_._1 == 3L).contains((3L, "b", "u3")), "key moved partition")
    assert(latest.find(_._1 == 100L).contains((100L, "c", "new")))
    // the pre-merge version is untouched history
    assert(SnapshotLog.readAt(spark, t, 1)
      .filter($"payload".startsWith("u")).count() == 0)
  }

  test("appendTxn is idempotent per (appId, version)") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), t, Seq("part"))
    val v1 = SnapshotLog.appendTxn(rows("b", 3 to 4), t, Seq("part"), "app", 0L)
    assert(v1 == 2L)
    // replay of batch 0 — even with different data attached — is a no-op
    val v2 = SnapshotLog.appendTxn(rows("c", 9 to 9), t, Seq("part"), "app", 0L)
    assert(v2 == 2L)
    assert(SnapshotLog.read(spark, t).count() == 4, "replay added nothing")
    // a different app's version counter is independent
    val v3 = SnapshotLog.appendTxn(rows("c", 9 to 9), t, Seq("part"), "other", 0L)
    assert(v3 == 3L)
    assert(SnapshotLog.read(spark, t).count() == 5)
  }

  test("a racing writer with an overlapping file domain aborts, disjoint rebases") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 4), t, Seq("part"))
    val base = SnapshotLog.snapshotAt(spark, t, 1)
    // winner: appends into part=a AFTER the loser planned against v1
    SnapshotLog.append(rows("a", 100 to 101), t, Seq("part"))
    // loser whose domain covers part=a (a delete that never scanned the
    // winner's files): must abort, not silently drop them
    assertThrows[java.util.ConcurrentModificationException] {
      SnapshotLog.commit(spark, t, "delete", base.schema, base.partCols,
        Some(base), fp => fp.startsWith("part=a/"))(head => head)
    }
    // a loser with a disjoint domain rebases and commits fine
    val v = SnapshotLog.commit(spark, t, "delete", base.schema, base.partCols,
      Some(base), fp => fp.startsWith("part=zzz/"))(head => head)
    assert(v == 3L)
    assert(SnapshotLog.read(spark, t).count() == 6, "nothing lost")
  }

  test("a torn tmp from a crashed committer is invisible and aged out") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))
    // simulate a crash mid-commit: a partial document in the log dir
    val tmp = new java.io.File(t + "/_graft_log/.tmp-dead.json")
    val w = new java.io.FileOutputStream(tmp)
    try w.write("{\"version\":".getBytes("UTF-8")) finally w.close()
    assert(SnapshotLog.versions(spark, t) == Seq(1L), "tmp is not a version")
    assert(SnapshotLog.read(spark, t).count() == 3, "reads unaffected")
    SnapshotLog.append(rows("a", Seq(4)), t, Seq("part"))
    assert(SnapshotLog.read(spark, t).count() == 4, "commits unaffected")
    SnapshotLog.vacuum(spark, t, staleGraceMs = 0L)
    assert(!tmp.exists, "orphaned tmp aged out by vacuum")
  }

  test("vacuum's grace window protects staged-but-uncommitted files") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))
    // simulate an in-flight writer: an unreferenced parquet freshly
    // renamed into the live tree (stage() done, log entry pending)
    val staged = new java.io.File(t + "/part=a/staged-in-flight.parquet")
    val w = new java.io.FileOutputStream(staged)
    try w.write(Array[Byte](1, 2, 3)) finally w.close()
    assert(SnapshotLog.vacuum(spark, t).isEmpty, "fresh file inside grace kept")
    assert(staged.exists)
    assert(SnapshotLog.vacuum(spark, t, staleGraceMs = 0L)
      .contains("part=a/staged-in-flight.parquet"))
    assert(!staged.exists)
  }

  test("optimizeZOrder rewrites layout atomically, data-identical") {
    val t = freshTable()
    // two clusterable dims spread across many small files
    val df = (1 to 200).map(i => (i.toLong, (i * 37 % 100).toLong, "a"))
      .toDF("x", "y", "part")
    (0 until 4).foreach { k =>
      val slice = df.filter($"x" % 4 === k)
      if (k == 0) SnapshotLog.overwrite(slice, t, Seq("part"))
      else SnapshotLog.append(slice, t, Seq("part"))
    }
    val before = SnapshotLog.read(spark, t)
    val nFilesBefore = before.inputFiles.length
    val (v, parts) = SnapshotLog.optimizeZOrder(spark, t, Seq("x", "y"))
    assert(v == 5L && parts == Seq("part=a"))
    val after = SnapshotLog.read(spark, t)
    assert(after.inputFiles.length < nFilesBefore, "layout consolidated")
    assert(after.select($"x", $"y").as[(Long, Long)].collect().sorted.toSeq
      == before.select($"x", $"y").as[(Long, Long)].collect().sorted.toSeq,
      "data identical")
    // pre-optimize version still resolves its own files
    assert(SnapshotLog.readAt(spark, t, 4).count() == 200)
  }

  test("append with new columns evolves the schema by name union") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))
    val evolved = Seq((10L, "b", "v10", 0.5))
      .toDF("id", "part", "payload", "score")
    SnapshotLog.append(evolved, t, Seq("part"))
    val df = SnapshotLog.read(spark, t)
    assert(df.columns.toSeq == Seq("id", "payload", "score", "part"),
      "new column appended before the partition column")
    assert(df.count() == 4)
    assert(df.filter($"score".isNull).count() == 3, "old files read null")
    assert(df.filter($"id" === 10L).select($"score").as[Double].head() == 0.5)
    // time travel keeps the PRE-evolution schema
    assert(SnapshotLog.readAt(spark, t, 1).columns.toSeq
      == Seq("id", "payload", "part"))
    // a same-name type conflict fails fast, nothing committed
    val bad = Seq((11L, "b", 1.0)).toDF("id", "part", "payload")
    assertThrows[IllegalArgumentException](SnapshotLog.append(bad, t, Seq("part")))
    // so does a mismatched partitioning
    assertThrows[IllegalArgumentException](
      SnapshotLog.append(rows("c", Seq(12)), t, Seq("payload")))
    assert(SnapshotLog.latestVersion(spark, t).contains(2L))
  }

  test("delta-encoded log reconstructs any version across checkpoints") {
    val t = freshTable()
    // 25 single-row commits: checkpoints at v1, v10, v20; all else deltas
    (1 to 25).foreach { i =>
      if (i == 1) SnapshotLog.overwrite(rows("a", Seq(i)), t, Seq("part"))
      else SnapshotLog.append(rows("a", Seq(i)), t, Seq("part"))
    }
    // spot-check versions on both sides of each checkpoint
    Seq(1L, 9L, 10L, 11L, 19L, 20L, 25L).foreach { v =>
      assert(SnapshotLog.readAt(spark, t, v).count() == v,
        s"v$v reconstructs to $v rows")
    }
    // a rewrite mid-chain (delete v26) reconstructs too
    Deletes.deleteByKeys(spark, t, "id", Seq(5L, 6L).toDF("id"), "part")
    assert(SnapshotLog.read(spark, t).count() == 23)
    assert(SnapshotLog.readAt(spark, t, 25).count() == 25, "history intact")
  }

  test("vacuum promotes the oldest retained version to a checkpoint") {
    val t = freshTable()
    (1 to 7).foreach { i =>
      if (i == 1) SnapshotLog.overwrite(rows("a", Seq(i)), t, Seq("part"))
      else SnapshotLog.append(rows("a", Seq(i)), t, Seq("part"))
    }
    // v5..v7 retained; v5 is delta-encoded and its chain (v1..v4) expires
    SnapshotLog.vacuum(spark, t, retainLast = 3, staleGraceMs = 0L)
    assert(SnapshotLog.versions(spark, t) == Seq(5L, 6L, 7L))
    Seq(5L, 6L, 7L).foreach { v =>
      assert(SnapshotLog.readAt(spark, t, v).count() == v,
        s"v$v readable after its delta chain expired")
    }
    assertThrows[IllegalArgumentException](SnapshotLog.readAt(spark, t, 4))
  }

  test("changesBetween feeds exactly the per-commit appended rows") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), t, Seq("part"))
    SnapshotLog.append(rows("b", 3 to 5), t, Seq("part"))
    SnapshotLog.append(rows("a", 6 to 6), t, Seq("part"))
    val changes = SnapshotLog.changesBetween(spark, t, 1, 3)
      .select($"id", $"_commit_version").as[(Long, Long)].collect().sorted.toSeq
    assert(changes == Seq((3L, 2L), (4L, 2L), (5L, 2L), (6L, 3L)),
      s"only post-v1 rows, stamped with their commit: $changes")
    // empty range yields an empty, schema-stable frame
    val none = SnapshotLog.changesBetween(spark, t, 3, 3)
    assert(none.count() == 0 && none.columns.contains("_commit_version"))
  }

  test("restore rewinds contents as a new version; history narrates the log") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))
    SnapshotLog.append(rows("b", 4 to 5), t, Seq("part"))
    Deletes.deleteByKeys(spark, t, "id", Seq(1L).toDF("id"), "part")
    assert(SnapshotLog.read(spark, t).count() == 4)
    val v = SnapshotLog.restore(spark, t, 2)
    assert(v == 4L)
    assert(SnapshotLog.read(spark, t).count() == 5, "contents rewound")
    assert(SnapshotLog.readAt(spark, t, 3).count() == 4,
      "the botched version stays in history for the post-mortem")
    val h = SnapshotLog.history(spark, t)
      .as[(Long, String, Long, Long, Long, Boolean)].collect().toSeq
    assert(h.map(_._1) == Seq(4L, 3L, 2L, 1L), "newest first")
    assert(h.map(_._2) == Seq("restore", "delete", "append", "overwrite"))
    assert(h.last._6, "v1 is a checkpoint")
  }

  test("readWhere prunes files from log stats and matches the full scan") {
    val t = freshTable()
    val df = (1 to 400).map(i => (i.toLong, (i * 37 % 100).toLong, "a"))
      .toDF("x", "y", "part")
    (0 until 4).foreach { k =>
      val slice = df.filter($"x" % 4 === k)
      if (k == 0) SnapshotLog.overwrite(slice, t, Seq("part"))
      else SnapshotLog.append(slice, t, Seq("part"))
    }
    // z-order clusters x so per-file x-ranges become disjoint segments
    SnapshotLog.optimizeZOrder(spark, t, Seq("x", "y"),
      targetFileBytes = 2048)
    val full = SnapshotLog.read(spark, t)
    val pruned = SnapshotLog.readWhere(spark, t, "x", 1, 50)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"stats pruned the file list: ${pruned.inputFiles.length} of ${full.inputFiles.length}")
    assert(pruned.select($"x").as[Long].collect().sorted.toSeq
      == full.filter($"x".between(1, 50)).select($"x").as[Long]
        .collect().sorted.toSeq, "pruning loses no qualifying row")
    // stats survive delta reconstruction (the optimize commit is v5 —
    // a delta entry resolved through the v1 checkpoint)
    val snap = SnapshotLog.snapshotAt(spark, t,
      SnapshotLog.latestVersion(spark, t).get)
    assert(snap.files.forall(f => snap.stats.contains(f)),
      "every live file carries stats")
    // an out-of-range probe prunes everything without failing
    assert(SnapshotLog.readWhere(spark, t, "x", 5000, 6000).count() == 0)
  }

  test("empty snapshot reads back with the committed schema") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 0), t, Seq("part"))
    val df = SnapshotLog.read(spark, t)
    assert(df.columns.toSeq.sorted == Seq("id", "part", "payload"))
    assert(df.count() == 0)
  }

  test("deleteWhere is merge-on-read: no data file rewritten, rows gone") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10).union(rows("b", 11 to 20)),
      t, Seq("part"))
    val before = SnapshotLog.snapshotAt(spark, t, 1).files
    val (v, n) = SnapshotLog.deleteWhere(spark, t, $"id" % 3 === 0)
    assert(v == 2 && n == 6)
    val snap = SnapshotLog.snapshotAt(spark, t, 2)
    assert(snap.files == before, "MoR delete must not touch the listing")
    assert(snap.dvs.nonEmpty && snap.dvs.values.flatten.toSet.size == 1,
      "one DV file for the whole commit")
    val latest = SnapshotLog.read(spark, t)
    assert(latest.count() == 14)
    assert(latest.filter($"id" % 3 === 0).count() == 0)
    // time travel to the pre-delete version still serves the rows
    assert(SnapshotLog.readAt(spark, t, 1).count() == 20)
    // no-match predicate: no commit at all
    val (v2, n2) = SnapshotLog.deleteWhere(spark, t, $"id" > 999)
    assert(v2 == 2 && n2 == 0)
  }

  test("overlapping deleteWhere calls union per file; re-delete is idempotent") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), t, Seq("part"))
    val (_, n1) = SnapshotLog.deleteWhere(spark, t, $"id" <= 4)
    val (_, n2) = SnapshotLog.deleteWhere(spark, t, $"id" <= 6) // overlaps 1-4
    assert(n1 == 4 && n2 == 2, "second delete dooms only still-live rows")
    val latest = SnapshotLog.read(spark, t)
    assert(latest.as[(Long, String, String)].collect().map(_._1).sorted.toSeq
      == (7L to 10L))
    // intermediate version reflects only the first delete
    assert(SnapshotLog.readAt(spark, t, 2).count() == 6)
  }

  test("compact physically purges deletion vectors; restore resurrects them") {
    val t = freshTable()
    // many small files so compaction flags the partition
    (1 to 5).foreach(i => SnapshotLog.append(
      rows("a", (i * 10) to (i * 10 + 3)), t, Seq("part")))
    SnapshotLog.deleteWhere(spark, t, $"id" % 2 === 0) // v6
    val live = SnapshotLog.read(spark, t).as[(Long, String, String)]
      .collect().map(_._1).sorted.toSeq
    val (v7, parts) = SnapshotLog.compact(spark, t, maxFiles = 1)
    assert(parts.nonEmpty, "fixture must trigger compaction")
    val after = SnapshotLog.snapshotAt(spark, t, v7)
    assert(after.dvs.isEmpty, "compaction drops the DV entries")
    assert(SnapshotLog.read(spark, t).as[(Long, String, String)]
      .collect().map(_._1).sorted.toSeq == live,
      "compaction is data-identical through the DV filter")
    // restore to the pre-compact MoR version brings its DV map back
    val v8 = SnapshotLog.restore(spark, t, 6)
    assert(SnapshotLog.snapshotAt(spark, t, v8).dvs.nonEmpty)
    assert(SnapshotLog.read(spark, t).as[(Long, String, String)]
      .collect().map(_._1).sorted.toSeq == live)
    // and restoring to the pre-DELETE version drops the DVs entirely
    val v9 = SnapshotLog.restore(spark, t, 5)
    assert(SnapshotLog.snapshotAt(spark, t, v9).dvs.isEmpty)
    assert(SnapshotLog.read(spark, t).count() == live.size * 2L,
      "pre-delete restore serves the doomed rows again")
  }

  test("vacuum sweeps unreferenced DV files, keeps referenced ones") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), t, Seq("part"))
    SnapshotLog.deleteWhere(spark, t, $"id" <= 3)          // v2: DV
    SnapshotLog.compact(spark, t, maxFiles = 0)            // v3: purged
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDir = new org.apache.hadoop.fs.Path(t, "_graft_dv")
    assert(fsys.listStatus(dvDir).count(_.getPath.getName.endsWith(".parquet")) == 1)
    // retain v2+v3: the DV is still referenced by v2 → kept
    SnapshotLog.vacuum(spark, t, retainLast = 2, staleGraceMs = 0L)
    assert(fsys.listStatus(dvDir).count(_.getPath.getName.endsWith(".parquet")) == 1)
    assert(SnapshotLog.readAt(spark, t, 2).count() == 7, "v2 still DV-filtered")
    // retain only v3 (DV-free): the DV file is swept
    SnapshotLog.vacuum(spark, t, retainLast = 1, staleGraceMs = 0L)
    assert(!fsys.exists(dvDir) ||
      fsys.listStatus(dvDir).count(_.getPath.getName.endsWith(".parquet")) == 0)
    assert(SnapshotLog.read(spark, t).count() == 7)
  }

  test("checkpoint promotion carries the DV map across expired chains") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), t, Seq("part"))
    SnapshotLog.deleteWhere(spark, t, $"id" <= 2)  // v2 (delta doc)
    SnapshotLog.append(rows("b", 11 to 12), t, Seq("part")) // v3
    SnapshotLog.append(rows("b", 13 to 14), t, Seq("part")) // v4
    // expire v1-v2; v3 (delta-encoded) must be promoted WITH the DVs
    SnapshotLog.vacuum(spark, t, retainLast = 2, staleGraceMs = 0L)
    assert(SnapshotLog.readAt(spark, t, 3).filter($"id" <= 2).count() == 0,
      "promoted checkpoint keeps the merge-on-read delete")
    assert(SnapshotLog.read(spark, t).count() == 12)
  }

  test("DV keys survive same-named files across partition dirs") {
    val t = freshTable()
    // repartition(2) makes each task hold BOTH partition values, so
    // the write emits the SAME part-file name under part=a and part=b
    // — a bare-name DV key would doom sibling-partition rows
    SnapshotLog.overwrite(
      rows("a", 1 to 10).union(rows("b", 11 to 20)).repartition(2),
      t, Seq("part"))
    val (_, n) = SnapshotLog.deleteWhere(spark, t, $"id" <= 5)
    assert(n == 5)
    val latest = SnapshotLog.read(spark, t)
    assert(latest.filter($"part" === "b").count() == 10,
      "sibling partition must be untouched")
    assert(latest.count() == 15)
  }

  test("CHECK constraints gate writers; null passes; drop lifts the gate") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), t, Seq("part"))
    // existing data must satisfy a new constraint
    intercept[IllegalArgumentException] {
      SnapshotLog.addConstraint(spark, t, "small_ids", "id <= 5")
    }
    SnapshotLog.addConstraint(spark, t, "positive_ids", "id > 0")
    // violating append rejected BEFORE staging: version unchanged
    val before = SnapshotLog.latestVersion(spark, t).get
    intercept[IllegalArgumentException] {
      SnapshotLog.append(rows("a", Seq(-1)), t, Seq("part"))
    }
    assert(SnapshotLog.latestVersion(spark, t).contains(before))
    // valid append passes and the constraint survives the new version
    SnapshotLog.append(rows("b", 11 to 12), t, Seq("part"))
    assert(SnapshotLog.snapshotAt(spark, t,
      SnapshotLog.latestVersion(spark, t).get)
      .constraints == Map("positive_ids" -> "id > 0"))
    // NULL is not FALSE: a null id passes (Delta's CHECK semantics)
    // (schema order: data cols first, partition col last)
    val readSchema = SnapshotLog.read(spark, t).schema
    val nullRow = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        readSchema.fieldNames.map {
          case "id" => null
          case "part" => "a"
          case _ => "vn"
        }.toIndexedSeq: _*)),
      readSchema)
    SnapshotLog.append(nullRow, t, Seq("part"))
    // merge enforces on the updates frame too
    intercept[IllegalArgumentException] {
      SnapshotLog.merge(spark, t, rows("a", Seq(-7)), "id", "part")
    }
    // drop lifts the gate
    SnapshotLog.dropConstraint(spark, t, "positive_ids")
    SnapshotLog.append(rows("a", Seq(-1)), t, Seq("part"))
    assert(SnapshotLog.read(spark, t).filter($"id" < 0).count() == 1)
  }

  test("restore rewinds the constraint set with the data") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 5), t, Seq("part"))   // v1
    SnapshotLog.addConstraint(spark, t, "positive_ids", "id > 0") // v2
    val v3 = SnapshotLog.restore(spark, t, 1)
    assert(SnapshotLog.snapshotAt(spark, t, v3).constraints.isEmpty,
      "restore to the pre-constraint version drops it")
    SnapshotLog.append(rows("a", Seq(-1)), t, Seq("part")) // now allowed
    assert(SnapshotLog.read(spark, t).count() == 6)
  }

  test("SnapshotFeed tails the log at-least-once with a durable cursor") {
    import graft.streaming.SnapshotFeed
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 5), t, Seq("part"))  // v1
    SnapshotLog.append(rows("b", 6 to 8), t, Seq("part"))     // v2
    var fed = Seq.empty[Long]
    val n1 = SnapshotFeed.process(spark, t, "job1") { batch =>
      fed = batch.select($"id").as[Long].collect().toSeq.sorted
    }
    assert(n1 == 2 && fed == (1L to 8L), "first run feeds the full history")
    // caught up: handler not invoked
    assert(SnapshotFeed.process(spark, t, "job1")(_ => fail()) == 0L)
    // only the new commit's rows arrive next
    SnapshotLog.append(rows("a", 9 to 10), t, Seq("part"))    // v3
    SnapshotFeed.process(spark, t, "job1") { batch =>
      fed = batch.select($"id").as[Long].collect().toSeq.sorted
      assert(batch.select($"_commit_version").distinct().as[Long]
        .collect().toSeq == Seq(3L))
    }
    assert(fed == Seq(9L, 10L))
    // a crashed handler leaves the cursor put → the batch replays
    SnapshotLog.append(rows("b", 11 to 11), t, Seq("part"))   // v4
    intercept[RuntimeException] {
      SnapshotFeed.process(spark, t, "job1")(_ => throw new RuntimeException("boom"))
    }
    assert(SnapshotFeed.lastSeen(spark, t, "job1") == 3L)
    SnapshotFeed.process(spark, t, "job1") { batch =>
      fed = batch.select($"id").as[Long].collect().toSeq.sorted
    }
    assert(fed == Seq(11L))
    // independent consumers keep independent cursors
    assert(SnapshotFeed.lastSeen(spark, t, "job2") == 0L)
  }

  test("a compaction racing a deleteWhere on the same files aborts one side") {
    val t = freshTable()
    (1 to 3).foreach(i => SnapshotLog.append(
      rows("a", (i * 10) to (i * 10 + 2)), t, Seq("part")))
    val base = SnapshotLog.snapshotAt(spark, t, 3)
    // simulate the race: a compaction lands AFTER deleteWhere planned
    // against v3 — the delete's DV would reference swapped-out files
    SnapshotLog.compact(spark, t, maxFiles = 1)
    intercept[java.util.ConcurrentModificationException] {
      // drive the commit path directly with the stale base
      SnapshotLog.commit(spark, t, "delete_mor", base.schema, base.partCols,
        Some(base), base.files.toSet.contains,
        dvAdds = Map(base.files.head -> Seq("_graft_dv/x.parquet")))(identity)
    }
  }

  test("incremental OPTIMIZE rewrites only partitions changed since a version") {
    val t = freshTable()
    def xy(part: String, ids: Seq[Int]) =
      ids.map(i => (i.toLong, (i * 37 % 100).toLong, part)).toDF("x", "y", "part")
    SnapshotLog.overwrite(
      xy("a", 1 to 40) union xy("b", 100 to 140), t, Seq("part"))      // v1
    SnapshotLog.optimizeZOrder(spark, t, Seq("x", "y"))                // v2
    val optimized = SnapshotLog.latestVersion(spark, t).get
    SnapshotLog.append(xy("b", 200 to 220), t, Seq("part"))            // v3
    // planning is pure log metadata: only part=b saw adds since v2
    val changed = SnapshotLog.partitionsChangedSince(spark, t, optimized)
    assert(changed == Set("part=b"))
    val before = SnapshotLog.snapshotAt(spark, t,
      SnapshotLog.latestVersion(spark, t).get)
    val aFiles = before.files.filter(_.startsWith("part=a/"))
    val (_, rewritten) = SnapshotLog.optimizeZOrder(spark, t, Seq("x", "y"),
      onlyPartitions = changed.contains)                               // v4
    assert(rewritten == Seq("part=b"))
    val after = SnapshotLog.snapshotAt(spark, t,
      SnapshotLog.latestVersion(spark, t).get)
    assert(after.files.filter(_.startsWith("part=a/")) == aFiles,
      "untouched partition keeps its exact files")
    assert(SnapshotLog.read(spark, t).count() == 40 + 41 + 21,
      "data identical after the scoped rewrite")
    // a filter selecting nothing is a no-op, not an empty commit
    val head = SnapshotLog.latestVersion(spark, t).get
    assert(SnapshotLog.optimizeZOrder(spark, t, Seq("x", "y"),
      onlyPartitions = _ => false) == ((head, Nil)))
  }

  test("shallow clone is zero-copy and pins the source version") {
    val src = freshTable()
    SnapshotLog.overwrite(
      rows("a", 1 to 10) union rows("b", 20 to 25), src, Seq("part")) // v1
    SnapshotLog.append(rows("b", 30 to 32), src, Seq("part"))         // v2
    val dst = freshTable()
    assert(SnapshotLog.cloneShallow(spark, src, dst) == 1L)
    // zero-copy: the clone dir holds only its own log, no data files
    val copied = new java.io.File(dst).listFiles
    assert(copied.forall(_.getName.startsWith("_")),
      s"clone copied data: ${copied.map(_.getName).mkString(",")}")
    assert(SnapshotLog.read(spark, dst).count() == 19)
    assert(SnapshotLog.read(spark, dst)
      .filter($"part" === "b").count() == 9, "partition cols survive")
    // version-pinned clone
    val dst1 = freshTable()
    SnapshotLog.cloneShallow(spark, src, dst1, Some(1L))
    assert(SnapshotLog.read(spark, dst1).count() == 16)
    // stats carried: data skipping works on the clone without footers
    assert(SnapshotLog.readWhere(spark, dst, "id", 30.0, 99.0).count() == 3)
    // a clone of a clone still points at the ORIGINAL files
    val dst2 = freshTable()
    SnapshotLog.cloneShallow(spark, dst, dst2)
    assert(new java.io.File(dst2).listFiles.forall(_.getName.startsWith("_")))
    assert(SnapshotLog.read(spark, dst2).count() == 19)
  }

  test("a clone diverges from its source in both directions") {
    val src = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), src, Seq("part"))       // v1
    val dst = freshTable()
    SnapshotLog.cloneShallow(spark, src, dst)
    SnapshotLog.append(rows("a", 11 to 13), dst, Seq("part"))
    SnapshotLog.append(rows("a", 90 to 99), src, Seq("part"))
    assert(SnapshotLog.read(spark, dst).count() == 13)
    assert(SnapshotLog.read(spark, src).count() == 20)
    // a clone-side delete rewrites the partition LOCALLY: the source
    // keeps its files and its rows
    import spark.implicits._
    SnapshotLog.deleteByKeys(spark, dst, "id",
      Seq(1L, 2L).toDF("id"), "part")
    assert(SnapshotLog.read(spark, dst).count() == 11)
    assert(SnapshotLog.read(spark, src).count() == 20,
      "source untouched by clone delete")
    val head = SnapshotLog.snapshotAt(spark, dst,
      SnapshotLog.latestVersion(spark, dst).get)
    assert(head.files.forall(!_.contains("::")),
      "rewritten partition fully un-shared")
  }

  test("compacting a clone un-shares only the touched partitions") {
    val src = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), src, Seq("part"))        // v1
    // part=b lands as ONE file so only part=a trips the small-file flag
    SnapshotLog.append(rows("b", 50 to 60).coalesce(1), src, Seq("part"))
    (1 to 5).foreach(k =>
      SnapshotLog.append(rows("a", (10 * k) to (10 * k + 2)), src, Seq("part")))
    val dst = freshTable()
    SnapshotLog.cloneShallow(spark, src, dst)
    val before = SnapshotLog.read(spark, dst).collect().toSet
    val (_, parts) = SnapshotLog.compact(spark, dst, maxFiles = 3)
    assert(parts == Seq("part=a"))
    assert(SnapshotLog.read(spark, dst).collect().toSet == before,
      "data identical after clone-side compaction")
    val head = SnapshotLog.snapshotAt(spark, dst,
      SnapshotLog.latestVersion(spark, dst).get)
    val (aFiles, bFiles) = head.files.partition(_.contains("part=a"))
    assert(aFiles.nonEmpty && aFiles.forall(!_.contains("::")),
      "compacted partition is local now")
    assert(bFiles.nonEmpty && bFiles.forall(_.contains("::")),
      "untouched partition still shared")
    assert(SnapshotLog.read(spark, src).count() == 17 + 11,
      "source files all intact")
  }

  test("deletion vectors carry into a clone; both sides stay correct") {
    val src = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), src, Seq("part"))       // v1
    import org.apache.spark.sql.functions.col
    SnapshotLog.deleteWhere(spark, src, col("id") === 3L)             // v2 MoR
    val dst = freshTable()
    SnapshotLog.cloneShallow(spark, src, dst)
    assert(SnapshotLog.read(spark, dst).count() == 9, "source DV applies")
    // a clone-side MoR delete doesn't touch the source
    SnapshotLog.deleteWhere(spark, dst, col("id") === 5L)
    assert(SnapshotLog.read(spark, dst).count() == 8)
    assert(SnapshotLog.read(spark, src).count() == 9,
      "clone DV invisible to source")
  }

  test("vacuum on a clone never reaches outside its own root") {
    val src = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), src, Seq("part"))
    val dst = freshTable()
    SnapshotLog.cloneShallow(spark, src, dst)
    // un-share: after this rewrite the clone head references NO source
    // file, so a vacuum with retainLast=1 sees them all unreferenced
    import spark.implicits._
    SnapshotLog.deleteByKeys(spark, dst, "id", Seq(1L).toDF("id"), "part")
    SnapshotLog.vacuum(spark, dst, retainLast = 1, staleGraceMs = 0L)
    assert(SnapshotLog.read(spark, src).count() == 10,
      "source files survive a clone-side vacuum")
    assert(SnapshotLog.read(spark, dst).count() == 9)
  }

  test("detail() summarizes the head from metadata alone") {
    val t = freshTable()
    SnapshotLog.overwrite(
      rows("a", 1 to 5) union rows("b", 10 to 12), t, Seq("part"))
    SnapshotLog.addConstraint(spark, t, "positive_ids", "id > 0")
    val d = SnapshotLog.detail(spark, t).collect()(0)
    val snap = SnapshotLog.snapshotAt(spark, t, 2)
    assert(d.getLong(0) == 2L && d.getString(1) == "add_constraint")
    assert(d.getLong(2) == snap.files.size.toLong)
    assert(d.getLong(3) > 0L, "byte size from per-partition listings")
    assert(d.getLong(4) == 2L && d.getString(5) == "part")
    assert(d.getLong(6) == 0L && d.getLong(7) == 1L)
    assert(d.getLong(8) == 1L && d.getLong(9) == 2L)
  }

  test("a rebasing loser keeps the race winner's evolved schema") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), t, Seq("part"))       // v1
    val stale = SnapshotLog.snapshotAt(spark, t, 1)
    // winner: evolves the schema with a new column AFTER the loser
    // planned against v1
    SnapshotLog.append(rows("b", 3 to 4).withColumn("extra", lit(7L)),
      t, Seq("part"))                                              // v2
    // loser: disjoint-domain commit carrying v1's schema — the rebase
    // must union with the head's, not clobber 'extra' out of it
    val v = SnapshotLog.commit(spark, t, "append", stale.schema,
      stale.partCols, Some(stale), _ => false)(identity)           // v3
    val head = SnapshotLog.snapshotAt(spark, t, v)
    assert(head.schema.fieldNames.contains("extra"),
      "winner's evolved column survived the loser's rebase")
    assert(SnapshotLog.read(spark, t)
      .filter($"extra" === 7L).count() == 2, "and its data is visible")
  }

  test("schema evolution matches column names case-insensitively") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), t, Seq("part"))
    // same column, different case: NOT a new field (Spark resolves
    // case-insensitively — a dup would make every later read throw)
    SnapshotLog.append(
      rows("a", 3 to 4).withColumnRenamed("payload", "Payload"),
      t, Seq("part"))
    val head = SnapshotLog.read(spark, t)
    assert(head.schema.fieldNames.count(_.equalsIgnoreCase("payload")) == 1)
    assert(head.count() == 4, "case-variant frame still readable")
    // …while a case-variant TYPE conflict still fails fast
    intercept[IllegalArgumentException] {
      SnapshotLog.append(
        Seq((5L, "a", 1L)).toDF("id", "part", "PAYLOAD"), t, Seq("part"))
    }
  }

  test("racing metadata-only constraint commits both survive") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))       // v1
    val stale = SnapshotLog.snapshotAt(spark, t, 1)
    SnapshotLog.addConstraint(spark, t, "c1", "id > 0")            // v2
    // loser planned against v1 (empty file clash ⇒ no domain abort):
    // its delta function must apply to the HEAD's map, keeping c1
    val v = SnapshotLog.commit(spark, t, "add_constraint", stale.schema,
      stale.partCols, Some(stale), _ => true,
      constraintsUpdate = Some(_ + ("c2" -> "id < 100")))(identity) // v3
    assert(SnapshotLog.snapshotAt(spark, t, v).constraints ==
      Map("c1" -> "id > 0", "c2" -> "id < 100"))
  }

  test("a writer racing a constraint change aborts instead of bypassing it") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))       // v1
    val stale = SnapshotLog.snapshotAt(spark, t, 1)
    SnapshotLog.addConstraint(spark, t, "positive_ids", "id > 0")  // v2
    // writer validated against v1's EMPTY constraint set; the winner is
    // metadata-only (empty file clash), so only the expected-constraints
    // check can force the re-validation
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.commit(spark, t, "append", stale.schema, stale.partCols,
        expectedConstraints = Some(Map.empty))(identity)
    }
    // the high-level retry re-reads the head and enforces the new gate
    intercept[IllegalArgumentException] {
      SnapshotLog.append(rows("a", Seq(-1)), t, Seq("part"))
    }
  }

  test("overwrite fails fast when a CHECK constraint stops resolving") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))
    SnapshotLog.addConstraint(spark, t, "positive_ids", "id > 0")
    // replacement schema drops 'id': the constraint would be dead
    // forever — reject, pointing at dropConstraint
    val ex = intercept[IllegalArgumentException] {
      SnapshotLog.overwrite(
        Seq(("a", "x")).toDF("part", "payload"), t, Seq("part"))
    }
    assert(ex.getMessage.contains("drop the constraint"))
    // an APPEND omitting the column is fine: rows read back as NULL
    // there, and NULL passes CHECK (Delta semantics)
    SnapshotLog.append(Seq(("a", "y")).toDF("part", "payload"), t, Seq("part"))
    assert(SnapshotLog.read(spark, t).filter($"id".isNull).count() == 1)
  }

  // ------------------------------------------ multi-table transaction (2PC)

  private def freshDecisionDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txn").toString

  test("commitAll lands appends on every table atomically") {
    val t1 = freshTable(); val t2 = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t1, Seq("part"))
    SnapshotLog.overwrite(rows("a", 1 to 5), t2, Seq("part"))
    val (decision, versions) = SnapshotLog.commitAll(spark, Seq(
      (rows("b", 10 to 12), t1, Seq("part")),
      (rows("b", 10 to 11), t2, Seq("part"))), freshDecisionDir())
    assert(versions == Map(t1 -> 2L, t2 -> 2L))
    assert(SnapshotLog.read(spark, t1).count() == 6)
    assert(SnapshotLog.read(spark, t2).count() == 7)
    // the decided head is not pending: new writers stack freely
    SnapshotLog.append(rows("c", 20 to 20), t1, Seq("part"))
    assert(SnapshotLog.read(spark, t1).count() == 7)
    // a second decide can never flip the outcome
    assert(SnapshotLog.rollbackTxn(spark, decision) == "committed")
  }

  test("an undecided prepare is invisible to readers and blocks writers") {
    val t1 = freshTable(); val t2 = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t1, Seq("part"))
    SnapshotLog.overwrite(rows("a", 1 to 5), t2, Seq("part"))
    // hand-drive phase 1 only — the coordinator "crashes" before deciding
    val decision = freshDecisionDir() + "/txn-crashed.json"
    val snap1 = SnapshotLog.snapshotAt(spark, t1, 1)
    SnapshotLog.commit(spark, t1, "txn_append", snap1.schema, snap1.partCols,
      txnDecision = Some(decision))(
      headFiles => headFiles) // metadata-only prepare: adds not needed here
    // readers: the prepare's version exists but contributes nothing yet
    assert(SnapshotLog.read(spark, t1).count() == 3)
    assert(SnapshotLog.snapshotAt(spark, t1, 2).pendingTxn.contains(decision))
    // writers refuse to stack on the undecided head
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.append(rows("c", 30 to 30), t1, Seq("part"))
    }
    // rollbackTxn publishes the abort: writers unblock, adds stay void
    assert(SnapshotLog.rollbackTxn(spark, decision) == "aborted")
    assert(SnapshotLog.snapshotAt(spark, t1, 2).pendingTxn.isEmpty)
    SnapshotLog.append(rows("c", 30 to 30), t1, Seq("part"))
    assert(SnapshotLog.read(spark, t1).count() == 4)
    // the untouched second table never saw any of it
    assert(SnapshotLog.read(spark, t2).count() == 5)
  }

  test("a failed prepare aborts the whole transaction on every table") {
    val t1 = freshTable(); val t2 = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t1, Seq("part"))
    SnapshotLog.overwrite(rows("a", 1 to 5), t2, Seq("part"))
    SnapshotLog.addConstraint(spark, t2, "positive_ids", "id > 0")
    // t1's prepare lands first, then t2's constraint rejects its rows —
    // the coordinator must void t1's already-landed prepare
    intercept[IllegalArgumentException] {
      SnapshotLog.commitAll(spark, Seq(
        (rows("b", 10 to 12), t1, Seq("part")),
        (rows("b", Seq(-1)), t2, Seq("part"))), freshDecisionDir())
    }
    assert(SnapshotLog.read(spark, t1).count() == 3, "t1's prepare voided")
    assert(SnapshotLog.read(spark, t2).count() == 5)
    // t1 is decided-aborted, not stuck: writers proceed, and the
    // aborted prepare's staged files are vacuum-sweepable orphans
    SnapshotLog.append(rows("c", 30 to 30), t1, Seq("part"))
    assert(SnapshotLog.read(spark, t1).count() == 4)
    val dropped = SnapshotLog.vacuum(spark, t1, retainLast = 10, staleGraceMs = 0L)
    assert(dropped.nonEmpty, "aborted prepare's staged files swept")
    assert(SnapshotLog.read(spark, t1).count() == 4, "live data untouched")
  }

  test("a prepare on a checkpoint slot backs its adds out until decided") {
    val t = freshTable()
    // v1..v9 committed; the next commit (v10) is a checkpoint whose full
    // listing includes its own adds — exactly the back-out path
    (1 to 9).foreach { i =>
      if (i == 1) SnapshotLog.overwrite(rows("a", Seq(i)), t, Seq("part"))
      else SnapshotLog.append(rows("a", Seq(i)), t, Seq("part"))
    }
    val (decision, versions) = SnapshotLog.commitAll(spark,
      Seq((rows("b", 100 to 102), t, Seq("part"))), freshDecisionDir())
    assert(versions == Map(t -> 10L), "prepare landed on the checkpoint slot")
    assert(SnapshotLog.read(spark, t).count() == 12)
    // hide the decision: the checkpoint's own adds must back out, and
    // later deltas must still replay cleanly from the masked checkpoint
    val f = new org.apache.hadoop.fs.Path(decision)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hidden = new org.apache.hadoop.fs.Path(decision + ".hidden")
    assert(f.rename(new org.apache.hadoop.fs.Path(decision), hidden))
    assert(SnapshotLog.read(spark, t).count() == 9,
      "undecided checkpoint prepare serves the pre-txn rows only")
    assert(f.rename(hidden, new org.apache.hadoop.fs.Path(decision)))
    assert(SnapshotLog.read(spark, t).count() == 12)
    // reconstruction THROUGH the decided checkpoint stays exact
    SnapshotLog.append(rows("c", 200 to 200), t, Seq("part"))
    assert(SnapshotLog.readAt(spark, t, 11).count() == 13)
  }

  test("vacuum never truncates past an undecided prepare; its adds survive the sweep") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"))
    SnapshotLog.append(rows("a", 4 to 4), t, Seq("part"))
    val (decision, _) = SnapshotLog.commitAll(spark,
      Seq((rows("b", 10 to 12), t, Seq("part"))), freshDecisionDir())
    // simulate a coordinator crash AFTER the prepare landed: hide the
    // decision so the txn reads as undecided
    val f = new org.apache.hadoop.fs.Path(decision)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hidden = new org.apache.hadoop.fs.Path(decision + ".hidden")
    assert(f.rename(new org.apache.hadoop.fs.Path(decision), hidden))
    assert(SnapshotLog.read(spark, t).count() == 4, "prepare invisible")
    // vacuum with zero grace: the log must NOT truncate (promotion
    // would bake the exclusion in) and the prepare's staged data files
    // must NOT be swept (age proves nothing for an undecided txn)
    SnapshotLog.vacuum(spark, t, retainLast = 1, staleGraceMs = 0L)
    assert(SnapshotLog.versions(spark, t) == Seq(1L, 2L, 3L),
      "log truncation deferred while the head txn is undecided")
    // the decision lands as committed: every prepared row is intact
    assert(f.rename(hidden, new org.apache.hadoop.fs.Path(decision)))
    assert(SnapshotLog.read(spark, t).count() == 7,
      "committed prepare's rows survive a vacuum run while undecided")
    // decided: vacuum truncates, promotes, and BAKES the decision into
    // the checkpoint — the decision file is no longer load-bearing
    SnapshotLog.vacuum(spark, t, retainLast = 1, staleGraceMs = 0L)
    assert(SnapshotLog.versions(spark, t) == Seq(3L))
    f.delete(new org.apache.hadoop.fs.Path(decision), false)
    assert(SnapshotLog.read(spark, t).count() == 7,
      "promoted checkpoint is self-contained (no decision reference)")
  }

  test("vacuumDecisions sweeps dead decisions, keeps referenced and young ones") {
    val t1 = freshTable(); val t2 = freshTable()
    val dDir = freshDecisionDir()
    SnapshotLog.overwrite(rows("a", 1 to 3), t1, Seq("part"))
    SnapshotLog.overwrite(rows("a", 1 to 3), t2, Seq("part"))
    val (d1, _) = SnapshotLog.commitAll(spark,
      Seq((rows("b", 10 to 10), t1, Seq("part"))), dDir)
    val (d2, _) = SnapshotLog.commitAll(spark, Seq(
      (rows("c", 20 to 20), t1, Seq("part")),
      (rows("c", 20 to 20), t2, Seq("part"))), dDir)
    val f = new org.apache.hadoop.fs.Path(dDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // both referenced by live log docs → kept even past the grace clock
    assert(SnapshotLog.vacuumDecisions(spark, dDir, Seq(t1, t2), 0L).isEmpty)
    // t1's vacuum truncates past both prepares (the promoted checkpoint
    // bakes d2's outcome); d2 stays referenced by t2's untruncated log
    SnapshotLog.vacuum(spark, t1, retainLast = 1, staleGraceMs = 0L)
    assert(SnapshotLog.vacuumDecisions(spark, dDir, Seq(t1, t2), 0L) == Seq(d1))
    assert(f.exists(new org.apache.hadoop.fs.Path(d2)), "d2 still referenced")
    SnapshotLog.vacuum(spark, t2, retainLast = 1, staleGraceMs = 0L)
    assert(SnapshotLog.vacuumDecisions(spark, dDir, Seq(t1, t2), 0L) == Seq(d2))
    // a young decision survives the default grace window even when the
    // reference scan misses it (prepare-before-decision race cover)
    val (d3, _) = SnapshotLog.commitAll(spark,
      Seq((rows("d", 30 to 30), t1, Seq("part"))), dDir)
    assert(SnapshotLog.vacuumDecisions(spark, dDir, Seq.empty).isEmpty,
      "young decision kept by the grace clock alone")
    assert(f.exists(new org.apache.hadoop.fs.Path(d3)))
    // an empty CLAIM file is decide's to arbitrate, never GC'd here
    val claim = new org.apache.hadoop.fs.Path(dDir, "txn-claim.json")
    f.create(claim, false).close()
    f.setTimes(claim, System.currentTimeMillis() - 60 * 60 * 1000L, -1)
    assert(!SnapshotLog.vacuumDecisions(spark, dDir, Seq(t1, t2), 0L)
      .exists(_.endsWith("txn-claim.json")))
    assert(f.exists(claim))
  }

  test("a stale empty decision claim is reclaimed; a published decision never flips") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dDir = freshDecisionDir()
    val p = new org.apache.hadoop.fs.Path(dDir, "txn-stale.json")
    val f = p.getFileSystem(hconf)
    // a writer that crashed between create and write leaves a claimed,
    // zero-length slot: readers treat it as in-flight...
    f.create(p, false).close()
    f.setTimes(p, System.currentTimeMillis() - 10 * 60 * 1000L, -1)
    assert(SnapshotLog.txnStatusAt(hconf, p.toString).isEmpty)
    // ...and a rollback reclaims it once the claim has gone stale
    // (the crashed writer never returned an outcome — presumed abort)
    assert(SnapshotLog.rollbackTxn(spark, p.toString) == "aborted")
    assert(SnapshotLog.txnStatusAt(hconf, p.toString).contains("aborted"))
    // published decisions are create-if-absent claims: a second decide
    // of either flavor returns the standing status, never flips it
    assert(SnapshotLog.rollbackTxn(spark, p.toString) == "aborted")
  }

  test("tombstone reclaim restores a publish displaced mid-reclaim") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dDir = freshDecisionDir()
    val p = new org.apache.hadoop.fs.Path(dDir, "txn-gap.json")
    val f = p.getFileSystem(hconf)
    // the exact interleaving of the old delete-based race: the
    // staleness check observed a zero-length claim, and the paused
    // writer's publish lands BEFORE the reclaim touches the slot —
    // drive the reclaim seam directly against that state
    val out = f.create(p, false)
    out.write("""{"status":"committed","at_ms":1}""".getBytes("UTF-8"))
    out.close()
    assert(SnapshotLog.reclaimStaleClaim(f, p).contains("committed"),
      "reclaim detects the landed publish instead of unlinking it")
    assert(SnapshotLog.txnStatusAt(hconf, p.toString).contains("committed"),
      "the displaced decision stands, restored verbatim")
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(dDir))
      .exists(_.getPath.getName.contains(".reclaim-")),
      "no tombstone left behind")
    // and the restored decision still never flips
    assert(SnapshotLog.rollbackTxn(spark, p.toString) == "committed")
  }

  test("a publish racing a stale-claim reclaim never flips silently") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dDir = freshDecisionDir()
    val p = new org.apache.hadoop.fs.Path(dDir, "txn-race.json")
    val f = p.getFileSystem(hconf)
    // a coordinator paused past stalenessMs: claim created long ago,
    // stream still open, write about to resume
    val stream = f.create(p, false)
    f.setTimes(p, System.currentTimeMillis() - 10 * 60 * 1000L, -1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val wRes = pool.submit(new java.util.concurrent.Callable[Option[String]] {
      def call(): Option[String] = {
        stream.write("""{"status":"committed","at_ms":1}""".getBytes("UTF-8"))
        stream.close()
        SnapshotLog.txnStatusAt(hconf, p.toString) // the fencing re-read
      }
    })
    val rRes = pool.submit(new java.util.concurrent.Callable[String] {
      def call(): String = SnapshotLog.rollbackTxn(spark, p.toString)
    })
    val wSeen = wRes.get(); val rOut = rRes.get()
    pool.shutdown()
    val standing = SnapshotLog.txnStatusAt(hconf, p.toString)
    // one outcome, shared by every observer: the reclaimer's return
    // value IS the standing status...
    assert(standing.contains(rOut),
      s"reclaimer returned '$rOut' but the slot holds '$standing'")
    // ...and a publisher whose fencing re-read saw its own commit can
    // never have it flipped afterwards (the silent-flip invariant);
    // any other fence observation surfaces as a LOUD coordinator
    // error in commitAll, which is the designed non-silent outcome
    if (wSeen.contains("committed"))
      assert(standing.contains("committed"),
        "fence-confirmed publish flipped after the fact")
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(dDir))
      .exists(_.getPath.getName.contains(".reclaim-")))
  }

  test("vacuumDecisions restores an orphaned non-empty reclaim tombstone") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dDir = freshDecisionDir()
    val f = new org.apache.hadoop.fs.Path(dDir).getFileSystem(hconf)
    // a reclaimer that crashed between rename and restore leaves the
    // displaced decision in its tombstone and the slot absent
    val tomb = new org.apache.hadoop.fs.Path(dDir,
      "txn-orphan.json.reclaim-deadbeef")
    val out = f.create(tomb, false)
    out.write("""{"status":"committed","at_ms":1}""".getBytes("UTF-8"))
    out.close()
    f.setTimes(tomb, System.currentTimeMillis() - 60 * 60 * 1000L, -1)
    SnapshotLog.vacuumDecisions(spark, dDir, Seq.empty, 0L)
    val orig = new org.apache.hadoop.fs.Path(dDir, "txn-orphan.json")
    assert(SnapshotLog.txnStatusAt(hconf, orig.toString).contains("committed"),
      "the displaced decision outlives the crashed reclaimer")
    assert(!f.exists(tomb), "tombstone swept")
  }

  test("vacuumDecisions self-checks embedded participants when the caller omits them") {
    val t1 = freshTable(); val t2 = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), t1, Seq("part"))
    SnapshotLog.overwrite(rows("a", 1 to 2), t2, Seq("part"))
    val dDir = freshDecisionDir()
    val (d, _) = SnapshotLog.commitAll(spark, Seq(
      (rows("b", 10 to 11), t1, Seq("part")),
      (rows("b", 20 to 21), t2, Seq("part"))), dDir)
    // caller lists NO tables and zeroes the grace clock — the old
    // contract would delete the still-referenced decision and
    // silently revert both prepares to pending; the embedded table
    // list lets the sweep find the references itself
    assert(SnapshotLog.vacuumDecisions(spark, dDir, Seq.empty, 0L).isEmpty,
      "decision kept via its own embedded participant list")
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(SnapshotLog.txnStatusAt(hconf, d).contains("committed"))
    assert(SnapshotLog.read(spark, t1).count() == 4)
    // once every participant's log no longer references it, the same
    // zero-table call may sweep it
    SnapshotLog.vacuum(spark, t1, retainLast = 1, staleGraceMs = 0L)
    SnapshotLog.vacuum(spark, t2, retainLast = 1, staleGraceMs = 0L)
    assert(SnapshotLog.vacuumDecisions(spark, dDir, Seq.empty, 0L)
      .contains(d), "unreferenced decision swept without a caller list")
  }

  test("racing commitAlls and a plain append serialize with no stuck heads") {
    val t1 = freshTable(); val t2 = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 2), t1, Seq("part"))
    SnapshotLog.overwrite(rows("a", 1 to 2), t2, Seq("part"))
    val dDir = freshDecisionDir()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    def txn(part: String, ids: Seq[Int]) =
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean =
          try {
            SnapshotLog.commitAll(spark, Seq(
              (rows(part, ids), t1, Seq("part")),
              (rows(part, ids), t2, Seq("part"))), dDir)
            true
          } catch { // lost to a racing txn's undecided prepare: clean abort
            case _: java.util.ConcurrentModificationException => false
          }
      })
    val fa = txn("b", 10 to 11)
    val fb = txn("c", 20 to 21)
    val fApp = pool.submit(new java.util.concurrent.Callable[Boolean] {
      def call(): Boolean = {
        var done = false; var tries = 0
        while (!done && tries < 100) {
          try { SnapshotLog.append(rows("d", 30 to 30), t1, Seq("part")); done = true }
          catch { case _: java.util.ConcurrentModificationException =>
            tries += 1; Thread.sleep(20) }
        }
        done
      }
    })
    val (okA, okB, okApp) = (fa.get(), fb.get(), fApp.get())
    pool.shutdown()
    assert(okApp, "the plain append retries through txn windows and lands")
    // atomicity: each txn's rows are on BOTH tables or NEITHER
    for ((part, ok) <- Seq("b" -> okA, "c" -> okB)) {
      val n1 = SnapshotLog.read(spark, t1).filter($"part" === part).count()
      val n2 = SnapshotLog.read(spark, t2).filter($"part" === part).count()
      assert(n1 == n2, s"txn $part split-brained: t1=$n1 t2=$n2")
      assert((n1 == 2) == ok, s"txn $part outcome ${ok} but rows $n1")
    }
    val okTxns = Seq(okA, okB).count(identity)
    assert(SnapshotLog.read(spark, t1).count() == 2 + 2 * okTxns + 1)
    assert(SnapshotLog.read(spark, t2).count() == 2 + 2 * okTxns)
    // no stuck heads: every surviving head is decided
    Seq(t1, t2).foreach { t =>
      val head = SnapshotLog.snapshotAt(spark, t,
        SnapshotLog.latestVersion(spark, t).get)
      assert(head.pendingTxn.isEmpty, s"$t head stuck on an undecided txn")
    }
  }

  // --------------------------------------------------- scale properties

  test("1,000-commit log: replay is O(checkpoint cadence), vacuum bounds the directory") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 10), t, Seq("part"))
    val snap1 = SnapshotLog.snapshotAt(spark, t, 1)
    // metadata-only commits (file listing unchanged) — the cheapest way
    // to grow a four-digit history without minutes of parquet staging
    (2 to 1000).foreach { _ =>
      SnapshotLog.commit(spark, t, "noop", snap1.schema, snap1.partCols)(
        headFiles => headFiles)
    }
    assert(SnapshotLog.latestVersion(spark, t).contains(1000L))
    // head resolution walks back to the nearest checkpoint — never the
    // whole history
    SnapshotLog.docReads.set(0L)
    assert(SnapshotLog.snapshotAt(spark, t, 1000).files.nonEmpty)
    assert(SnapshotLog.docReads.get <= SnapshotLog.CheckpointInterval,
      s"head replay read ${SnapshotLog.docReads.get} docs — must be " +
      "O(cadence), not O(history)")
    // a deep mid-cadence version costs the same class (time travel does
    // not degrade with table age)
    SnapshotLog.docReads.set(0L)
    SnapshotLog.snapshotAt(spark, t, 555)
    assert(SnapshotLog.docReads.get <= SnapshotLog.CheckpointInterval)
    // vacuum expires the history, promotes the oldest survivor to a
    // checkpoint, and leaves a bounded log directory
    SnapshotLog.vacuum(spark, t, retainLast = 5, staleGraceMs = 0L)
    assert(SnapshotLog.versions(spark, t) == (996L to 1000L))
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDocs = f.listStatus(new org.apache.hadoop.fs.Path(t, "_graft_log"))
      .count(_.getPath.getName.endsWith(".json"))
    assert(logDocs == 5, s"log directory holds $logDocs docs after vacuum")
    // the promoted checkpoint serves reads with its delta chain gone
    SnapshotLog.docReads.set(0L)
    assert(SnapshotLog.readAt(spark, t, 996).count() == 10)
    assert(SnapshotLog.docReads.get <= SnapshotLog.CheckpointInterval)
  }

  test("readWhere prunes the file list from log stats alone") {
    val t = freshTable()
    // four single-file commits with disjoint id ranges → four files
    // with non-overlapping logged [min, max]
    SnapshotLog.overwrite(rows("a", 1 to 100).repartition(1), t)
    (1 to 3).foreach { b =>
      SnapshotLog.append(rows("a", b * 100 + 1 to b * 100 + 100).repartition(1), t)
    }
    val snap = SnapshotLog.snapshotAt(spark, t, 4)
    assert(snap.files.size == 4)
    assert(snap.files.forall(snap.stats.get(_).exists(_.contains("id"))),
      "every data file logged id stats at commit time")
    val kept = SnapshotLog.statsPrunedFiles(snap, "id", 150, 160)
    assert(kept.size == 1,
      s"range [150,160] must prune 3 of 4 files from metadata alone, kept $kept")
    assert(SnapshotLog.readWhere(spark, t, "id", 150, 160).count() == 11)
    // an unknown column prunes nothing (never prune on ignorance)
    assert(SnapshotLog.statsPrunedFiles(snap, "nope", 0, 1).size == 4)
  }

  test("deletion vectors: DV-free files scan on the no-join fast path") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 50).repartition(1), t)
    SnapshotLog.append(rows("a", 51 to 100).repartition(1), t)
    val clean = SnapshotLog.read(spark, t)
      .queryExecution.executedPlan.toString
    assert(!clean.contains("LeftAnti"), "a DV-free table never joins")
    // MoR-delete rows that live only in the second file
    SnapshotLog.deleteWhere(spark, t, $"id" >= 60 && $"id" <= 70)
    val snap = SnapshotLog.snapshotAt(spark, t,
      SnapshotLog.latestVersion(spark, t).get)
    assert(snap.dvs.size == 1, "only the file holding doomed rows gets a DV")
    val df = SnapshotLog.read(spark, t)
    assert(df.count() == 89)
    val plan = df.queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 1,
      "exactly the dirty file's branch pays the DV anti-join")
    assert(plan.contains("Union"),
      "the clean file unions in through its own scan, outside the join")
  }

  test("merge and deleteByKeys resolve the head once and read what they commit on") {
    val t = freshTable()
    SnapshotLog.overwrite(rows("a", 1 to 4).union(rows("b", 5 to 8)), t, Seq("part"))
    SnapshotLog.append(rows("b", 9 to 10), t, Seq("part"))
    SnapshotLog.append(rows("c", 11 to 12), t, Seq("part"))
    def docReads(body: => Unit): Long = {
      val r0 = SnapshotLog.docReads.get
      body
      SnapshotLog.docReads.get - r0
    }
    // one resolution of the head replays checkpoint v1 plus its deltas;
    // the commit resolves the head once more for its race check, so a
    // rewriter that reads through its own snapshot costs exactly two.
    // Resolving the head again for the read (the old `read` + snapshotAt
    // pair) costs three, and an append landing between those two
    // resolutions would be unlinked with its rows in no rewrite.
    def headCost = docReads(SnapshotLog.snapshotAt(spark, t,
      SnapshotLog.latestVersion(spark, t).get))
    val mergeCost = headCost
    assert(docReads(SnapshotLog.merge(spark, t,
      Seq((2L, "a", "u2"), (100L, "c", "new")).toDF("id", "part", "payload"),
      "id", "part")) == 2 * mergeCost)
    val deleteCost = headCost
    assert(docReads(SnapshotLog.deleteByKeys(spark, t, "id",
      Seq(9L).toDF("id"), "part")) == 2 * deleteCost)
    assert(SnapshotLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 10L, 11L, 12L, 100L))
  }

  test("compaction rewrites every flagged partition in one write job") {
    val t = freshTable()
    // three partitions of different sizes, five small files each
    (1 to 5).foreach(i => SnapshotLog.append(
      rows("a", (i * 100) until (i * 100 + 40))
        .union(rows("b", (i * 100 + 40) until (i * 100 + 50)))
        .union(rows("c", Seq(i * 100 + 50))).repartition(1), t, Seq("part")))
    val before = SnapshotLog.read(spark, t).as[(Long, String, String)].collect().sorted.toSeq
    def partBytes(p: String) = new java.io.File(s"$t/part=$p").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = partBytes("a") / 3 + 1 // a: 3 files; b, c: fewer
    val expected = Seq("a", "b", "c").map(p => p -> (partBytes(p) + target - 1) / target).toMap
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.scheduler.SparkListenerJobStart]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e)
    }
    org.apache.spark.SchedulerProbe.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val (v, parts) = try SnapshotLog.compact(spark, t, targetFileBytes = target, maxFiles = 1)
      finally {
        org.apache.spark.SchedulerProbe.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(parts == Seq("part=a", "part=b", "part=c"))
    // a write job ends in a result stage; AQE's shuffle-map jobs do not
    val writeJobs = jobs.asScala.count(org.apache.spark.SchedulerProbe.endsInResultStage)
    assert(writeJobs == 1, s"$writeJobs write jobs for ${parts.size} partitions")
    val snap = SnapshotLog.snapshotAt(spark, t, v)
    snap.files.groupBy(_.takeWhile(_ != '/')).foreach { case (dir, files) =>
      val p = dir.stripPrefix("part=")
      assert(files.size >= 1 && files.size <= expected(p),
        s"$dir: ${files.size} files, at most ${expected(p)}")
    }
    assert(snap.files.size < 15)
    assert(SnapshotLog.read(spark, t).as[(Long, String, String)].collect().sorted.toSeq
      == before, "compaction is data-identical")
  }

  test("per-file row counts survive a checkpoint boundary and a forward replay") {
    val t = freshTable()
    // a string-only table: no numeric column, so no (min, max) stats,
    // yet every file still gets its row count. 12 commits put
    // checkpoints at v1 and v10 and deltas everywhere else.
    def strRows(i: Int) = rows(s"p${i % 3}", (i * 100) until (i * 100 + i))
      .select($"payload", $"part")
    (1 to 12).foreach { i =>
      if (i == 1) SnapshotLog.overwrite(strRows(i), t, Seq("part"))
      else SnapshotLog.append(strRows(i), t, Seq("part"))
    }
    Deletes.deleteByKeys(spark, t, "payload", Seq("v500").toDF("payload"), "part") // v13
    def exact(v: Long): Unit = {
      val snap = SnapshotLog.snapshotAt(spark, t, v)
      assert(snap.rows.keySet == snap.files.toSet,
        s"v$v: one count per listed file, none for unlinked ones")
      assert(snap.files.map(snap.rows).sum == SnapshotLog.readAt(spark, t, v).count(),
        s"v$v: the counts sum to the rows a read returns")
    }
    assert(SnapshotLog.snapshotAt(spark, t, 13).stats.isEmpty)
    Seq(1L, 9L, 10L, 12L, 13L).foreach(exact)
    // expire the chain: v12 is promoted to a checkpoint, v13 replays
    // forward from it
    SnapshotLog.vacuum(spark, t, retainLast = 2, staleGraceMs = 0L)
    assert(SnapshotLog.versions(spark, t) == Seq(12L, 13L))
    Seq(12L, 13L).foreach(exact)
  }

  test("table properties survive append, merge and compact, and a lost " +
      "commit race") {
    val t = freshTable()
    val p1 = Map("layout" -> "v1")
    SnapshotLog.overwrite(rows("a", 1 to 3), t, Seq("part"), Some(_ ++ p1)) // v1
    SnapshotLog.append(rows("a", 4 to 5), t, Seq("part"))                 // v2
    SnapshotLog.merge(spark, t,
      Seq((2L, "a", "u2")).toDF("id", "part", "payload"), "id", "part")   // v3
    SnapshotLog.append(rows("a", 6 to 7), t, Seq("part"))                 // v4
    val (vc, compacted) = SnapshotLog.compact(spark, t, maxFiles = 1)     // v5
    assert(compacted.nonEmpty && vc == 5L)
    (1L to 5L).foreach { v =>
      assert(SnapshotLog.snapshotAt(spark, t, v).properties == p1,
        s"v$v carries the properties unchanged")
    }
    // a loser planned against v5 loses the race to a property commit:
    // its update is a function of the HEAD's map, so both survive
    val stale = SnapshotLog.snapshotAt(spark, t, 5)
    SnapshotLog.append(rows("b", Seq(8)), t, Seq("part"),
      Some(_ + ("winner" -> "w")))                                         // v6
    val v = SnapshotLog.commit(spark, t, "append", stale.schema,
      stale.partCols, Some(stale), _ => false,
      propertiesUpdate = Some(_ + ("loser" -> "l")))(identity)            // v7
    assert(SnapshotLog.snapshotAt(spark, t, v).properties ==
      p1 ++ Map("winner" -> "w", "loser" -> "l"))
  }

  test("nested nullability is no schema conflict: a table rewritten from " +
      "its own read still takes appends of a freshly built frame") {
    val t = freshTable()
    // array(lit) has containsNull = false; every parquet read comes
    // back containsNull = true
    val built = Seq((1L, "a")).toDF("id", "part").withColumn("arr", array(lit("x")))
    SnapshotLog.overwrite(built, t, Seq("part"))
    SnapshotLog.overwrite(SnapshotLog.read(spark, t), t, Seq("part"))
    SnapshotLog.append(built.withColumn("id", lit(2L)), t, Seq("part"))
    assert(SnapshotLog.read(spark, t).count() == 2)
  }
}
