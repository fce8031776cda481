package graft.streaming

import org.apache.spark.sql.DataFrame

/** Micro-batch spreading for `foreachBatch` sinks whose upstream is a
  * file source with atomic-rename arrivals: a trigger then often
  * delivers ONE small file, and every row-local stage downstream
  * (tokenize, signatures, embedding assignment) runs as ONE task
  * until the first shuffle (VERDICT r15 #4, measured in the r16
  * stream-vs-batch sweep, BENCH_SWEEP_*_r16.json: 2.7× the batch
  * lifecycle at sf1, 0.9× once spread). The repartition is GATED on
  * the incoming partition count (ADVICE r16): a batch already carved into >= session-parallelism
  * splits gains nothing from re-spreading, and the unconditional
  * version paid a full batch-sized shuffle on exactly the wide
  * arrivals where batches are biggest.
  */
object Spread {

  /** `batch` repartitioned to the session's default parallelism iff
    * it arrives with fewer partitions than that; unchanged otherwise.
    */
  def toParallelism(batch: DataFrame): DataFrame =
    toWidth(batch, batch.sparkSession.sparkContext.defaultParallelism)

  /** `batch` repartitioned to `n` partitions iff it arrives narrower;
    * unchanged otherwise — the data-sized variant (r18): a caller that
    * knows the trigger's input bytes spreads to what the data
    * justifies instead of the full session parallelism, so a small
    * micro-batch is not carved into dozens of near-empty partitions
    * that every downstream exchange then inherits (foreachBatch plans
    * run AQE-less — nothing coalesces them back).
    */
  def toWidth(batch: DataFrame, n: Int): DataFrame =
    if (batch.rdd.getNumPartitions < n) batch.repartition(n) else batch

  /** The trigger's exact input bytes from the file-source listing —
    * driver-side file-status calls on the handful of files a trigger
    * delivers, no Spark job; -1 when the source is not file-backed
    * (caller falls back to session defaults).
    */
  def inputBytes(batch: DataFrame): Long =
    try {
      val files = batch.inputFiles
      if (files.isEmpty) 0L
      else {
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        files.map { p =>
          val pth = new org.apache.hadoop.fs.Path(p)
          pth.getFileSystem(conf).getFileStatus(pth).getLen
        }.sum
      }
    } catch { case _: Exception => -1L }

  /** Data-sized (shuffle partitions, spread width) for a micro-batch
    * (r18): one partition per `bytesPerPartition` of the trigger's
    * [[inputBytes]], capped at the session's shuffle.partitions; the
    * width is that count capped at the default parallelism.
    * foreachBatch plans run AQE-less, so every exchange otherwise
    * inherits the session's static width — dozens of near-empty tasks
    * per job at small batch sizes. A non-file-backed batch keeps the
    * session's partition count.
    */
  def batchSizing(batch: DataFrame, bytesPerPartition: Long): (Int, Int) = {
    val spark = batch.sparkSession
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = inputBytes(batch)
    val parts = if (bytes < 0) sessionParts
      else math.max(1L, math.min(sessionParts.toLong,
        bytes / bytesPerPartition + 1)).toInt
    (parts, math.min(spark.sparkContext.defaultParallelism, parts))
  }
}
