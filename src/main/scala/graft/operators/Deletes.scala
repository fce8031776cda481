package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted row deletion from a partitioned parquet lake — the
  * right-to-be-forgotten / bad-record purge job. Without a table
  * format the primitive is the same one Compaction uses: rewrite ONLY
  * the partitions that contain a doomed key, via dynamic partition
  * overwrite; untouched partitions keep their files byte-for-byte
  * (the spec pins this at the file-listing level).
  *
  * Scale shape: finding the affected partitions is one broadcast
  * semi-join (the delete-key set is small by nature) + a distinct over
  * partition values; the rewrite reads only those partitions
  * (partition-pruned scan) and anti-joins the keys out. Cost is
  * O(affected partitions), never a table rewrite — on a
  * date-partitioned lake, deleting one user touches only the days
  * that user appears in.
  */
object Deletes {

  /** Dynamic partition overwrite, scoped with [[graft.SessionConf.withConf]]
    * around each rewrite here and in [[Compaction.compact]]: a leaked
    * 'dynamic' changes the semantics of a caller's later intentional
    * static overwrite.
    */
  private[operators] val DynamicOverwrite =
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic"

  /** Delete every row of `tableDir` whose `keyCol` appears in `keys`
    * (a one-column frame named `keyCol`). Returns the partition values
    * that were rewritten — empty when no partition held a doomed key,
    * in which case nothing is written at all.
    */
  def deleteByKeys(spark: SparkSession, tableDir: String, keyCol: String,
      keys: DataFrame, partCol: String): Seq[Any] = {
    // a snapshot-committed table gets the atomic form: survivors land
    // as NEW files and one log entry swaps them in, so a concurrent
    // reader never observes a half-rewritten partition
    if (SnapshotLog.latestVersion(spark, tableDir).nonEmpty)
      return SnapshotLog.deleteByKeys(spark, tableDir, keyCol, keys, partCol)._2
    val table = spark.read.parquet(tableDir)
    val affected = table
      .join(broadcast(keys), Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (affected.isEmpty) return Nil
    // null-SAFE partition match: `isin` evaluates to null for the null
    // partition, which would silently skip its doomed rows while still
    // reporting the partition as rewritten (ADVICE r6 #1)
    val affectedPred = affected
      .map(v => col(partCol) <=> lit(v)).reduce(_ || _)
    val remaining = table.filter(affectedPred)
      .join(broadcast(keys), Seq(keyCol), "left_anti")
    // dynamic overwrite only replaces partitions PRESENT in the
    // written frame — a partition whose every row is doomed would keep
    // its old files. Split: rewrite survivors, rm emptied directories.
    val surviving = remaining.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSet
    if (surviving.nonEmpty) graft.SessionConf.withConf(spark, DynamicOverwrite) {
      remaining.write.mode("overwrite").partitionBy(partCol).parquet(tableDir)
    }
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (affected.toSet -- surviving).foreach { v =>
      // the null partition lives in Hive's reserved directory, not a
      // literal "part=null" (ADVICE r6 #1)
      val leaf =
        if (v == null) org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(String.valueOf(v))
      fs.delete(new org.apache.hadoop.fs.Path(tableDir, s"$partCol=$leaf"), true)
    }
    affected
  }
}
