package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnIndex

/** The `_cell_rows` occupancy commit metadata (r18, VERDICT r17 #3 —
  * an exact-or-absent sidecar; the signature store's row count, its
  * model, now comes from its SnapshotLog commits): maintained by
  * append/optimize, seeded lazily by the first maintenance call, and
  * EXACT against the scan it replaces at every step — wrong counts
  * would silently change the split planner's seed ranks and therefore
  * hash-gated outputs, so exactness is the whole contract. A deleted
  * (torn) file must fall back to the scan and self-heal.
  */
class AnnCellRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private lazy val vectors = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  private lazy val centroids = vectors.filter(col("vec_id").between(1, 8))
    .select(col("vec_id").as("cid"), col("v").as("c"))

  private def scanCounts(path: String): Map[Long, Long] =
    spark.read.parquet(path).groupBy(col("cell")).count()
      .select(col("cell").cast("long"), col("count"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def metaCounts(path: String): Option[Map[Long, Long]] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AnnIndex.readCellRows(f, root).map(_.toMap)
  }

  test("occupancy metadata stays exact through the lifecycle and a torn " +
    "file falls back to the scan") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-cellrows").toString + "/index"
    AnnIndex.build(vectors.filter(col("vec_id") % 3 =!= 0), centroids, path)
    assert(metaCounts(path).isEmpty,
      "build must NOT seed the metadata (lazy-seed contract)")

    AnnIndex.append(vectors.filter(col("vec_id") % 3 === 0), centroids, path)
    assert(metaCounts(path).isEmpty,
      "an append onto an unseeded store skips maintenance")

    // first maintenance call: scans (absent metadata), splits, and
    // seeds the post-swap counts from driver-known numbers
    val refreshed = AnnIndex.optimizeIfOutgrown(spark, path, centroids)
    val afterOpt = metaCounts(path)
    assert(afterOpt.nonEmpty, "optimize must seed the metadata post-swap")
    assert(afterOpt.get === scanCounts(path),
      "post-optimize metadata must equal the scan exactly")

    // append onto a seeded store: the delta maintenance must stay exact
    val extra = vectors.limit(7).select(
      (col("vec_id") + 1000000L).as("vec_id"), col("v"))
    AnnIndex.append(extra, refreshed, path)
    val afterApp = metaCounts(path)
    assert(afterApp.nonEmpty, "append must maintain seeded metadata")
    assert(afterApp.get === scanCounts(path),
      "post-append metadata must equal the scan exactly")

    // steady state: the metadata-sourced recount must produce the SAME
    // refreshed centroid set as a scan-sourced twin (torn file)
    val viaMeta = AnnIndex.optimizeIfOutgrown(spark, path, refreshed)
      .orderBy(col("cid")).collect().map(_.toString).toSeq
    assert(metaCounts(path).get === scanCounts(path))

    val twin = java.nio.file.Files
      .createTempDirectory("graft-cellrows-twin").toString + "/index"
    AnnIndex.build(vectors.filter(col("vec_id") % 3 =!= 0), centroids, twin)
    AnnIndex.append(vectors.filter(col("vec_id") % 3 === 0), centroids, twin)
    val refreshedT = AnnIndex.optimizeIfOutgrown(spark, twin, centroids)
    AnnIndex.append(extra, refreshedT, twin)
    locally { // tear the twin's metadata: the scan fallback must engage
      val root = new org.apache.hadoop.fs.Path(twin)
      val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(root, "_cell_rows"), false)
    }
    val viaScan = AnnIndex.optimizeIfOutgrown(spark, twin, refreshedT)
      .orderBy(col("cid")).collect().map(_.toString).toSeq
    assert(viaMeta === viaScan,
      "metadata-sourced and scan-sourced recounts must refresh identically")
    assert(metaCounts(twin).nonEmpty,
      "the scan path must self-heal (re-seed) the torn metadata")
  }
}
