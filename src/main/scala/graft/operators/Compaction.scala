package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Small-file compaction for the date-partitioned parquet lake — the
  * maintenance job every incrementally-ingested table needs. Daily
  * keep-latest upserts (`ingest/Incremental`, reference H5) rewrite a
  * partition with however many files the shuffle produced; over months
  * a hot partition accumulates hundreds of small files and every scan
  * pays their open/footer cost. Compaction is the standing answer
  * (the OPTIMIZE job of Delta/Iceberg, re-expressed over plain parquet
  * + dynamic partition overwrite since table-format jars are
  * unavailable offline — same substitute as `ingest/Manifest`).
  *
  * Scale shape: `plan` is a pure FileSystem-metadata pass (no data
  * read) — at a million-partition table, drive it from the manifest or
  * shard the listing; each `compact` rewrite is one partition-pruned
  * scan + one dynamic-overwrite write, atomic and idempotent per
  * partition, so a scheduler can fan partitions out as independent
  * jobs and re-run failures safely. Untouched partitions keep their
  * files byte-for-byte.
  */
object Compaction {

  private val PlanSchema = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("action", StringType, nullable = false)))

  /** One row per partition directory of `tableDir`: parquet file
    * count, total bytes, and the planned action — "compact" when the
    * partition holds more than `maxFiles` files AND their average size
    * is below `targetFileBytes` (many small files), "ok" otherwise.
    */
  def plan(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L << 20, maxFiles: Int = 4): DataFrame = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .sortBy(_.getPath.getName)
      .map { st =>
        val files = fs.listStatus(st.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val n = files.length.toLong
        val bytes = files.map(_.getLen).sum
        val action =
          if (n > maxFiles && bytes / math.max(n, 1L) < targetFileBytes)
            "compact"
          else "ok"
        Row(st.getPath.getName, n, bytes, action)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), PlanSchema)
  }

  /** Rewrite every "compact"-flagged partition into
    * `ceil(bytes / targetFileBytes)` files via dynamic partition
    * overwrite. Returns the rewritten partition names. The read is
    * partition-pruned (the filter is on the partition column), the
    * write replaces only that partition.
    */
  def compact(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L << 20, maxFiles: Int = 4): Seq[String] = {
    // a snapshot-committed table gets the atomic form: rewritten files
    // swap in via one log entry and prior versions stay readable
    if (SnapshotLog.latestVersion(spark, tableDir).nonEmpty)
      return SnapshotLog.compact(spark, tableDir, targetFileBytes, maxFiles)._2
    val flagged = plan(spark, tableDir, targetFileBytes, maxFiles)
      .filter(col("action") === "compact")
      .collect() // one row per flagged partition — scheduler-sized
    // dynamic overwrite only for the duration of the rewrites — a
    // leaked session-wide 'dynamic' would change the semantics of a
    // caller's later intentional full-table overwrite
    graft.SessionConf.withConf(spark, Deletes.DynamicOverwrite) {
      flagged.toSeq.map { r =>
        val partDir = r.getString(0) // e.g. ingest_date=2024-01-03
        val Array(partCol, escaped) = partDir.split("=", 2)
        // directory names are Hive-escaped; the column filter needs the
        // raw value or an escaped partition never matches (and the
        // empty-frame overwrite would be reported as a rewrite)
        val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(escaped)
        val nOut = math.max(1L,
          (r.getLong(2) + targetFileBytes - 1) / targetFileBytes).toInt
        spark.read.parquet(tableDir)
          .filter(col(partCol) === value)
          .repartition(nOut)
          .write.mode("overwrite").partitionBy(partCol).parquet(tableDir)
        partDir
      }
    }
  }
}
