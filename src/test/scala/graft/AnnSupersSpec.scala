package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SessionConf.withConf
import graft.operators.AnnIndex

/** Two-level super assignment: construction-path identity and the
  * layout persistence protocol (r18, VERDICT r17 #4).
  *
  * Contracts pinned here:
  *  - the size-gated DIRECT membership argmax (one aggregate over the
  *    (cell, seed) pairs) selects bit-identically to [[AnnIndex]]'s
  *    double-pruned assign path, so flipping the gate can never move
  *    a cell between supers;
  *  - optimize persists the super assignment into the layout exactly
  *    when the refreshed centroid set crosses the two-level routing
  *    limit, and a probe session reads it back (zero construction)
  *    with results identical to in-session construction;
  *  - the persistence is exact-or-absent: a torn version (missing
  *    `_meta`) and a stale version (different centroid set) both fall
  *    back to construction; build() invalidates the home.
  */
class AnnSupersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def vectors = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  /** Fresh frame instances per call: the in-session super memo is
    * keyed per frame INSTANCE, so every run below constructs (or
    * reads) its own supers instead of hitting a previous run's memo.
    */
  private def freshCentroids = vectors.filter(col("vec_id").between(1, 8))
    .select(col("vec_id").as("cid"), col("v").as("c"))

  private def freshProbes = vectors.filter(col("vec_id").between(20, 24))
    .select(col("vec_id").as("p_id"), col("v").as("p"))

  /** The probe's rows, and whether its ranking read persisted supers:
    * those are a parquet scan under `_supers/`, while constructed
    * supers are a localCheckpoint with no input file.
    */
  private def runProbe(path: String,
      cents: DataFrame): (Seq[(Long, Long, Long)], Boolean) = {
    val res = AnnIndex.probe(spark, path, freshProbes, cents, nprobe = 2, k = 5)
    (res.select(col("p_id").cast("long"), col("rank").cast("long"),
        col("vec_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted,
      res.inputFiles.exists(_.contains("/_supers/")))
  }

  test("direct membership argmax ≡ assign's pruned argmax: the " +
      "construction gate cannot change a two-level probe") {
    val path = java.nio.file.Files.createTempDirectory("graft-supers-gate")
      .toString + "/index"
    AnnIndex.build(vectors, freshCentroids, path)
    withConf(spark, AnnIndex.CentroidLimitKey -> "4") {
      val cents = freshCentroids
      val (rows, fromLayout) = runProbe(path, cents)
      assert(AnnIndex.routesTwoLevel(cents), "8 cells over limit 4 must route")
      assert(!fromLayout, "no persisted supers here")
      assert(rows.groupBy(_._1).forall(_._2.size == 5),
        "the two-level probe returns k hits per probe")
    }
    // the probe's ranking is a function of (superOf, superCents) alone,
    // so the gate cannot change it iff both construction paths give
    // the same rows: k2 = ⌈√8⌉ = 3, and 8×3 pairs ≤ the default gate
    // takes the direct aggregate, directPairs = 0 the assign path
    def ofRows(so: DataFrame) =
      so.select(col("cid").cast("long"), col("sid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def centRows(sc: DataFrame) =
      sc.select(col("cid").cast("long"), col("c"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    val (directSo, directSc) = AnnIndex.computeSupers(freshCentroids, 3)
    val (assignSo, assignSc) =
      AnnIndex.computeSupers(freshCentroids, 3, directPairs = 0L)
    val (directOf, directCents) = (ofRows(directSo), centRows(directSc))
    val (assignOf, assignCents) = (ofRows(assignSo), centRows(assignSc))
    assert(directOf.size == 8 && directCents.size == 3,
      s"every cell in one of 3 supers: $directOf")
    assert(assignOf == directOf,
      s"construction paths must agree on superOf:\n$directOf\nvs\n$assignOf")
    assert(assignCents == directCents,
      "construction paths must agree on superCents")
  }

  test("maintenance persists supers past the routing limit; probes read " +
      "them back, fall back on torn or stale versions — results " +
      "identical throughout") {
    val path = java.nio.file.Files.createTempDirectory("graft-supers")
      .toString + "/index"
    // 8 centroids (= 8 non-empty cells) over a forced limit of 5:
    // probes route two-level, and the steady-state maintenance call
    // (optimizeIfOutgrown, no hot cells under a never-hot policy — the
    // 100 TB no-op window that runs before optimize's loud scale
    // guard) persists the super assignment into the layout
    AnnIndex.build(vectors, freshCentroids, path)
    withConf(spark, AnnIndex.CentroidLimitKey -> "5") {
      val cents = freshCentroids
      val (constructed, constructedFromLayout) = runProbe(path, cents)
      assert(AnnIndex.routesTwoLevel(cents), "8 cells over limit 5 must route")
      assert(!constructedFromLayout, "nothing persisted yet")

      AnnIndex.optimizeIfOutgrown(spark, path, freshCentroids,
        policy = _ => Long.MaxValue)
      val home = new java.io.File(path, "_supers")
      assert(home.isDirectory, "maintenance must persist the super home")
      val versions = home.listFiles().filter(_.isDirectory)
      assert(versions.length == 1 &&
        new java.io.File(versions.head, "_meta").isFile,
        "one committed version with its _meta")

      // a second maintenance call must NOT rewrite the valid version
      val stamp = versions.head.lastModified()
      AnnIndex.optimizeIfOutgrown(spark, path, freshCentroids,
        policy = _ => Long.MaxValue)
      assert(home.listFiles().filter(_.isDirectory).head
        .lastModified() == stamp, "valid persisted version is not rewritten")

      // a fresh frame of the same set (content-fingerprint match)
      // probes via the persisted supers, bit-identically
      val (fromLayout, usedLayout) = runProbe(path, freshCentroids)
      assert(usedLayout, "a matching persisted version must be used")
      assert(fromLayout == constructed,
        "persisted supers must reproduce the constructed ranking")

      // a DIFFERENT centroid set must not match the fingerprint
      val narrower = freshCentroids.filter(col("cid") <= 7)
      val (_, staleFromLayout) = runProbe(path, narrower)
      assert(AnnIndex.routesTwoLevel(narrower) && !staleFromLayout,
        "another set's persisted supers must be rejected")

      // torn version (meta deleted mid-crash): construct, same rows
      assert(new java.io.File(versions.head, "_meta").delete())
      val (afterTear, tornFromLayout) = runProbe(path, freshCentroids)
      assert(!tornFromLayout, "torn version must not be read")
      assert(afterTear == constructed,
        "fallback construction must reproduce the ranking")

      // build() over the same path invalidates the home
      AnnIndex.build(vectors, freshCentroids, path)
      assert(!home.isDirectory,
        "build must delete persisted supers")
    }
  }
}
