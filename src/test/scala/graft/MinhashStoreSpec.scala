package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MinhashSignatureStore, SnapshotLog}
import graft.queries.Extras

/** Cross-run incremental near-dup dedup: store lifecycle semantics
  * (keep/drop vs history, earlier-in-batch, and the dropped-docs-
  * never-enter-the-store subtlety), append file claims, re-probe
  * idempotence, and the probe's never-shuffle-the-store plan shape.
  * The commit/metadata/rebuild half lives in
  * [[MinhashStoreCommitSpec]] so the two halves run as separate
  * forked suite groups (r18 test-gate fix; every test is verbatim).
  */
abstract class MssStoreSpecBase extends AnyFunSuite {
  protected lazy val spark = TestSpark.spark

  protected val T = Extras.MinhashJaccardThreshold
  protected def perms = Extras.Perms

  protected def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  protected def freshStore(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-mss-$name").toString
    new java.io.File(p).delete()
    p
  }

  // ten shared base tokens; B overlaps H1 in 9 of 11 union tokens
  // (J = 0.818 ≥ 0.7) but NOT transitively: Z overlaps B at 0.818
  // while J(Z, H1) = 8/12 = 0.667 < 0.7
  protected val h1Text = (0 until 10).map(i => s"a$i").mkString(" ")
  protected val bText = ((0 until 9).map(i => s"a$i") :+ "x1").mkString(" ")
  protected val zText = ((1 until 9).map(i => s"a$i") ++ Seq("x1", "z9")).mkString(" ")
  protected val h2Text = "q0 q1 q2 q3 q4 q5 q6 q7"
  protected val freshText = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"

  protected def verdictMap(df: DataFrame): Map[Long, (Boolean, Long, Double)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getBoolean(1), r.getLong(2), r.getDouble(3)))).toMap
}

class MinhashStoreSpec extends MssStoreSpecBase {

  test("lifecycle: history, within-batch, and store-growth semantics") {
    val store = freshStore("life")
    MinhashSignatureStore.build(spark,
      docsDf(100L -> h1Text, 102L -> h2Text), store, 16, 4, perms)
    assert(MinhashSignatureStore.readScheme(spark, store) === ((16, 4)))

    // batch 1: exact dup of H1; near-dup of H1; a fresh doc; an exact
    // within-batch dup of the fresh doc
    val b1 = docsDf(201L -> h1Text, 203L -> bText,
      205L -> freshText, 207L -> freshText)
    val v1 = verdictMap(
      MinhashSignatureStore.dedupAgainst(spark, b1, store, perms, T))
    assert(v1(201L)._1 === false && v1(201L)._3 === 1.0,
      "exact dup of a history doc drops at J = 1")
    assert(v1(203L)._1 === false,
      "J = 0.818 near-dup of history must be banded and dropped")
    assert(v1(205L)._1 === true && v1(205L)._2 === 0L)
    assert(v1(207L)._1 === false && v1(207L)._3 === 1.0,
      "later within-batch twin drops against the smaller id")

    // keepers only enter the store
    import spark.implicits._
    val keepers = b1.filter($"doc_id" === 205L)
    MinhashSignatureStore.append(spark, keepers, store, perms)

    // batch 2: twin of a KEPT batch-1 doc drops; near-dup of a DROPPED
    // batch-1 doc survives (203 never entered the store and Z is below
    // threshold against everything that did); twin of H2 drops
    val b2 = docsDf(301L -> freshText, 303L -> zText, 305L -> h2Text)
    val v2 = verdictMap(
      MinhashSignatureStore.dedupAgainst(spark, b2, store, perms, T))
    assert(v2(301L)._1 === false && v2(301L)._3 === 1.0,
      "twin of an appended keeper drops")
    assert(v2(303L)._1 === true,
      "a doc matching only a DROPPED (never-stored) doc is kept")
    assert(v2(305L)._1 === false && v2(305L)._3 === 1.0)

    // counterfactual for 303: had B been stored, Z would have dropped —
    // so 303's keep is the store-semantics claim, not a banding miss
    val cf = freshStore("cf")
    MinhashSignatureStore.build(spark, docsDf(203L -> bText), cf, 16, 4, perms)
    val vz = verdictMap(MinhashSignatureStore.dedupAgainst(
      spark, docsDf(303L -> zText), cf, perms, T))
    assert(vz(303L)._1 === false,
      "the banding does catch (Z, B) when B is actually in the store")
  }

  test("empty-text and no-match docs keep with zeroed stats") {
    val store = freshStore("empty")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text), store, 16, 4, perms)
    val v = verdictMap(MinhashSignatureStore.dedupAgainst(spark,
      docsDf(10L -> "", 11L -> "totally unrelated tokens"), store, perms, T))
    assert(v(10L) === ((true, 0L, 0.0)))
    assert(v(11L) === ((true, 0L, 0.0)))
  }

  test("append adds files without touching history; re-probe is idempotent") {
    val store = freshStore("files")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      store, 16, 4, perms)
    def files(sub: String): Set[String] = {
      val root = new java.io.File(s"$store/$sub")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(_.getAbsolutePath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val (docs0, bands0) = (files("docs"), files("bands"))
    val batch = docsDf(30L -> freshText)
    MinhashSignatureStore.append(spark, batch, store, perms)
    val (docs1, bands1) = (files("docs"), files("bands"))
    assert(docs0.subsetOf(docs1) && bands0.subsetOf(bands1),
      "append must not rewrite or drop history files")
    assert(docs1.size > docs0.size && bands1.size > bands0.size)
    assert(SnapshotLog.read(spark, s"$store/docs").count() === 3)

    // the appended doc re-probed against the store that now contains it:
    // the d1 ≠ d2 guard keeps it from matching itself
    val again = verdictMap(MinhashSignatureStore.dedupAgainst(
      spark, batch, store, perms, T))
    assert(again(30L)._1 === true, "re-probing an ingested batch is idempotent")
  }

  test("a duplicated append (dedupStream's crash-window replay) cannot " +
      "change any verdict, including n_dups") {
    // single-append reference store
    val ref = freshStore("dupref")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      ref, 16, 4, perms)
    val batch = docsDf(30L -> freshText)
    MinhashSignatureStore.append(spark, batch, ref, perms)
    // store where the same append ran TWICE (crash between the append
    // and the ledger marker, then a replay)
    val dup = freshStore("dupdup")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      dup, 16, 4, perms)
    MinhashSignatureStore.append(spark, batch, dup, perms)
    MinhashSignatureStore.append(spark, batch, dup, perms)
    assert(SnapshotLog.read(spark, s"$dup/docs").count() === 4,
      "the duplicated append really does leave a duplicate row")
    // a later batch matching the duplicated doc: same keep AND same
    // n_dups/max_jaccard — matches count DOCS, not rows
    val later = docsDf(40L -> freshText, 41L -> bText)
    val vRef = verdictMap(MinhashSignatureStore.dedupAgainst(
      spark, later, ref, perms, T))
    val vDup = verdictMap(MinhashSignatureStore.dedupAgainst(
      spark, later, dup, perms, T))
    assert(vRef === vDup,
      "verdicts must be identical against the duplicated store")
    assert(vDup(40L) === ((false, 1L, 1.0)),
      "the twin of the duplicated doc counts it ONCE")
  }

  test("probe plan: DPP-armed broadcast band join, store never shuffled") {
    val store = freshStore("plan")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text, 2L -> h2Text),
      store, 16, 4, perms)
    val out = MinhashSignatureStore.dedupAgainstLazy(spark,
      docsDf(50L -> bText), store, perms, T)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "bkt must arm dynamic partition pruning on the store bands scan")
    assert(!plan.contains("SortMergeJoin"),
      "every join in the probe must be broadcast-side (store streams)")
  }

  test("dedupVerdicts: keep/drop identical to the census mode on the " +
      "lifecycle fixture (VERDICT r12 #1)") {
    val store = freshStore("vmode")
    MinhashSignatureStore.build(spark,
      docsDf(100L -> h1Text, 102L -> h2Text), store, 16, 4, perms)
    // the full semantic mix: history exact dup, history near-dup, a
    // fresh keeper, a within-batch twin, a below-threshold near-miss
    val batch = docsDf(201L -> h1Text, 203L -> bText, 205L -> freshText,
      207L -> freshText, 209L -> zText)
    val census = verdictMap(MinhashSignatureStore.dedupAgainst(
      spark, batch, store, perms, T)).map { case (k, v) => k -> v._1 }
    val verdicts = MinhashSignatureStore.dedupVerdicts(
        spark, batch, store, perms, T)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts === census,
      "the short-circuit mode must not change a single keep/drop")
    assert(verdicts.values.exists(identity) && verdicts.values.exists(!_),
      "fixture exercises both outcomes")
  }

  test("dedupVerdicts bounds verify volume at O(batch) on an " +
      "all-duplicate corpus; censusless keepers still verify fully") {
    // the adversarial shape from the scale sweep: EVERY store doc
    // matches every batch doc (the census mode verifies |batch|×|store|
    // pairs here — the sf² regime)
    val store = freshStore("vbound")
    val d = 40
    MinhashSignatureStore.build(spark,
      docsDf((1 to d).map(i => i.toLong -> h1Text): _*), store, 16, 4, perms)
    val b = 6
    val batch = docsDf((101 to 100 + b).map(i => i.toLong -> h1Text): _*)
    val st = MinhashSignatureStore.dedupVerdictsWithStats(
      spark, batch, store, perms, T)
    assert(st.verdicts.collect().forall(!_.getBoolean(1)),
      "every batch doc drops")
    assert(st.verifiedPairs <= 4L * b,
      s"short-circuit must verify at most chunk×batch pairs, got " +
        s"${st.verifiedPairs} (census would verify ~${d * b})")
    // bounded GENERATION (VERDICT r13 #2): the all-duplicate bucket
    // yields at most R store reps + R+1 batch reps per doc, not the
    // census's |batch|×|store| pair dump
    assert(st.generatedPairs <= (2L * 4 + 1) * b,
      s"rep generation must stay O(batch) on the dense bucket, got " +
        s"${st.generatedPairs} (census would generate ~${d * b})")

    // a no-candidate batch generates and verifies nothing at all
    val kSt = MinhashSignatureStore.dedupVerdictsWithStats(
      spark, docsDf(300L -> "totally unrelated tokens"), store, perms, T)
    assert(kSt.verdicts.collect().forall(_.getBoolean(1)) &&
      kSt.verifiedPairs === 0L && kSt.generatedPairs === 0L)
  }

  test("half-built store (no scheme file) fails loudly, not silently") {
    val store = freshStore("torn")
    MinhashSignatureStore.build(spark, docsDf(1L -> h1Text), store, 16, 4, perms)
    // the scheme lives in the bands log: a store whose bands commit
    // never landed has none
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$store/bands/_graft_log"))
    intercept[java.io.FileNotFoundException] {
      MinhashSignatureStore.dedupAgainst(spark, docsDf(9L -> h2Text),
        store, perms, T)
    }
  }
}
