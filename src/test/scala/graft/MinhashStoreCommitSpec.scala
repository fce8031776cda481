package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MinhashSignatureStore, SnapshotLog}
import graft.queries.Extras

/** The signature store's COMMIT surface — docs-then-bands append, the
  * bands log's row count, rebuild/rebuildIfOutgrown — split out of
  * [[MinhashStoreSpec]] (see the note there).
  */
class MinhashStoreCommitSpec extends MssStoreSpecBase {

  private def versions(store: String): (Long, Long) =
    (SnapshotLog.latestVersion(spark, s"$store/docs").get,
      SnapshotLog.latestVersion(spark, s"$store/bands").get)

  test("append commits atomically: a probe sees a batch's bands AND " +
      "docs, or neither (VERDICT r12 #3)") {
    val batch = docsDf(30L -> freshText)
    def probe(store: String) = verdictMap(MinhashSignatureStore.dedupAgainst(
      spark, docsDf(40L -> freshText), store, perms, T))
    // reference verdicts for the twin doc 40: before and after ONE
    // clean append of its original
    val ref = freshStore("tearref")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      ref, 16, 4, perms)
    val pre = probe(ref)
    MinhashSignatureStore.append(spark, batch, ref, perms)
    val post = probe(ref)
    assert(pre(40L)._1 === true && post(40L) === ((false, 1L, 1.0)))

    // failpoint 1: crash before the docs commit — neither table moves
    val s1 = freshStore("tear1")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      s1, 16, 4, perms)
    val before = versions(s1)
    intercept[java.io.IOException] {
      MinhashSignatureStore.appendImpl(spark, batch, s1, perms, failAt = 1)
    }
    assert(versions(s1) === before, "a pre-commit crash moves no version")
    assert(probe(s1) === pre, "the crashed batch never landed")

    // failpoint 2: crash between the docs and bands commits — the docs
    // commit lands, but no bands head names it
    val s2 = freshStore("tear2")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      s2, 16, 4, perms)
    val (d0, b0) = versions(s2)
    intercept[java.io.IOException] {
      MinhashSignatureStore.appendImpl(spark, batch, s2, perms, failAt = 2)
    }
    assert(versions(s2) === ((d0 + 1, b0)))
    assert(probe(s2) === pre,
      "a probe reads the docs version the bands head covers: pre-batch")
    MinhashSignatureStore.append(spark, batch, s2, perms)
    assert(probe(s2) === post,
      "a retried append probes exactly like one clean append")
  }

  test("the bands log's row count is exact through build, appends, a " +
      "crashed append and rebuild, and the store keeps no sidecar " +
      "(VERDICT r16 #1)") {
    val store = freshStore("rowsmeta")
    def truth: Long = SnapshotLog.read(spark, s"$store/bands").count()
    def rows: Long = MinhashSignatureStore.storedBandsRows(spark, store)
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      store, 16, 4, perms)
    assert(rows === truth, "build records the exact count")
    MinhashSignatureStore.append(spark, docsDf(3L -> freshText), store, perms)
    assert(rows === truth, "append adds its exact delta")
    intercept[java.io.IOException] {
      MinhashSignatureStore.appendImpl(spark, docsDf(4L -> zText), store,
        perms, failAt = 2)
    }
    assert(rows === truth, "a crash before the bands commit adds nothing")
    MinhashSignatureStore.append(spark, docsDf(5L -> bText), store, perms)
    assert(rows === truth)
    MinhashSignatureStore.rebuild(spark, store, 48, 8, perms)
    assert(rows === truth, "rebuild replaces the total")
    // rebuild reads the docs head, so the crashed append's docs commit
    // (doc 4) is banded with the rest: five docs, eight bands each
    assert(rows === 5L * 8)
    val names = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(names === Set("docs", "bands"),
      s"no marker, row-count or scheme sidecar and no staging: $names")
  }

  test("storedBandsRows surfaces the bands log's row count, and a store " +
      "with no bands snapshot fails loudly (the r17 probe-leg routing " +
      "signal)") {
    val store = freshStore("rowsaccessor")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      store, 16, 4, perms)
    assert(MinhashSignatureStore.storedBandsRows(spark, store)
      === SnapshotLog.read(spark, s"$store/bands").count())
    MinhashSignatureStore.append(spark, docsDf(3L -> freshText), store, perms)
    assert(MinhashSignatureStore.storedBandsRows(spark, store)
      === SnapshotLog.read(spark, s"$store/bands").count(),
      "the count tracks the append delta")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$store/bands/_graft_log"))
    intercept[java.io.FileNotFoundException] {
      MinhashSignatureStore.storedBandsRows(spark, store)
    }
  }

  test("rebuild re-bands to a new scheme: probes match a fresh build, " +
      "the swap is crash-atomic, duplicated rows compact (VERDICT r12 #2)") {
    // a store built at the small-corpus scheme, grown by an append —
    // the situation where the pinned scheme must be upgraded
    val store = freshStore("rebuild")
    val histA = docsDf(100L -> h1Text, 102L -> h2Text)
    val histB = docsDf(104L -> freshText)
    MinhashSignatureStore.build(spark, histA, store, 16, 4, perms)
    MinhashSignatureStore.append(spark, histB, store, perms)
    // a replay-duplicated append (the dedupStream crash window): its
    // dead bytes must die at rebuild
    MinhashSignatureStore.append(spark, histB, store, perms)
    assert(SnapshotLog.read(spark, s"$store/docs").count() === 4)

    MinhashSignatureStore.rebuild(spark, store, 48, 8, perms)
    assert(MinhashSignatureStore.readScheme(spark, store) === ((48, 8)))
    assert(SnapshotLog.read(spark, s"$store/docs").count() === 3,
      "rebuild compacts replay-duplicated docs rows")

    // probe equality against a from-scratch 48/8 build of the same docs
    val fresh = freshStore("rebuildref")
    MinhashSignatureStore.build(spark,
      histA.unionByName(docsDf(104L -> freshText)), fresh, 48, 8, perms)
    val probe = docsDf(201L -> h1Text, 203L -> bText, 205L -> zText,
      207L -> freshText, 209L -> "totally unrelated tokens")
    assert(
      verdictMap(MinhashSignatureStore.dedupAgainst(spark, probe, store, perms, T)) ===
        verdictMap(MinhashSignatureStore.dedupAgainst(spark, probe, fresh, perms, T)),
      "a rebuilt store must probe exactly like a fresh build at the new scheme")

    // crash injection: before the docs overwrite, and between the docs
    // and bands overwrites — either way the OLD scheme stands and
    // probes correctly, and a retried rebuild lands the new one
    for (fp <- Seq(1, 2)) {
      val s = freshStore(s"rebuildcrash$fp")
      MinhashSignatureStore.build(spark, histA, s, 16, 4, perms)
      intercept[java.io.IOException] {
        MinhashSignatureStore.rebuildImpl(spark, s, 48, 8, perms, failAt = fp)
      }
      assert(MinhashSignatureStore.readScheme(spark, s) === ((16, 4)),
        s"failpoint $fp: the old scheme stands")
      val v1 = verdictMap(MinhashSignatureStore.dedupAgainst(
        spark, docsDf(201L -> h1Text), s, perms, T))
      assert(v1(201L)._1 === false, "old store still probes correctly")
      MinhashSignatureStore.rebuild(spark, s, 48, 8, perms)
      assert(MinhashSignatureStore.readScheme(spark, s) === ((48, 8)))
      val v = verdictMap(MinhashSignatureStore.dedupAgainst(
        spark, docsDf(201L -> h1Text), s, perms, T))
      assert(v(201L)._1 === false && v(201L)._3 === 1.0)
    }
  }

  test("rebuildIfOutgrown upgrades the scheme exactly when the occupancy " +
      "policy says so, and is idempotent") {
    val store = freshStore("outgrow")
    // policy: ≤ 3 docs → 16/4, beyond → 48/8 (the minhashSchemeFor
    // shape at spec scale)
    val policy = (n: Long) => if (n <= 3) (16, 4) else (48, 8)
    MinhashSignatureStore.build(spark,
      docsDf(1L -> h1Text, 2L -> h2Text), store, 16, 4, perms)
    assert(!MinhashSignatureStore.rebuildIfOutgrown(spark, store, perms, policy),
      "a store inside its regime must not rebuild")
    assert(MinhashSignatureStore.readScheme(spark, store) === ((16, 4)))
    // grow past the regime boundary (a duplicated-append row must not
    // inflate the count: occupancy is deduplicated docs)
    MinhashSignatureStore.append(spark, docsDf(3L -> freshText), store, perms)
    MinhashSignatureStore.append(spark, docsDf(3L -> freshText), store, perms)
    assert(!MinhashSignatureStore.rebuildIfOutgrown(spark, store, perms, policy),
      "3 distinct docs is still inside the ≤3 regime despite 4 rows")
    MinhashSignatureStore.append(spark, docsDf(4L -> bText), store, perms)
    assert(MinhashSignatureStore.rebuildIfOutgrown(spark, store, perms, policy),
      "crossing the regime boundary must trigger the rebuild")
    assert(MinhashSignatureStore.readScheme(spark, store) === ((48, 8)))
    assert(!MinhashSignatureStore.rebuildIfOutgrown(spark, store, perms, policy),
      "a just-rebuilt store is inside its regime: idempotent")
    // the upgraded store still probes correctly
    val v = verdictMap(MinhashSignatureStore.dedupAgainst(
      spark, docsDf(9L -> h1Text), store, perms, T))
    assert(v(9L)._1 === false && v(9L)._3 === 1.0)
  }
}
