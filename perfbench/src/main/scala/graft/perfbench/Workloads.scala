package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.operators.{AnnIndex, MinhashSignatureStore, SnapshotLog}
import graft.queries.Extras
import graft.streaming.SnapshotSink

object Work {
  def wipe(dir: String): Unit = {
    val f = new File(dir)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    f.mkdirs()
  }

  def duBytes(dir: String): Long = {
    val f = new File(dir)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
  }

  def writeJson(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), Main.mapper.writeValueAsString(v))
  }

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
}

/** Inventory keys (Q01–Q28), each built and run through the noop sink.
  * The untimed warm-up pass lands every key's result as one parquet file
  * for the output check.
  */
class InventoryRead(plan: JsonNode, work: String) extends Workload {
  private val dir = plan.get("dir").asText()
  private val tableRows = plan.get("rows").fields().asScala
    .map(e => e.getKey -> e.getValue.asLong()).toMap
  private val passes: Seq[Seq[String]] = plan.get("passes").elements().asScala
    .map(_.elements().asScala.map(_.asText()).toSeq).toSeq
  private val queries = SparkEntry.queries
  private var tr: Tracer = _
  private var rowsByKey = Map.empty[String, Long]
  private var pass = 0
  private var pos = 0
  private var passStart = 0L
  private var lastPassS = 0.0

  /** Input rows of a query: the rows of every table its plan scans. */
  private def inputRows(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.rootPaths.map(p => tableRows.getOrElse(
          p.getName.stripSuffix(".parquet"), 0L)).sum
    }.sum

  private def runOnce(spark: SparkSession, key: String): Long = {
    val df = tr("queries.build")(queries(key)(spark, dir))
    tr("queries.run")(df.write.format("noop").mode("overwrite").save())
    spark.catalog.clearCache()
    rowsByKey.getOrElse(key, 0L)
  }

  /** Base state of a read-only workload: its tables, opened. */
  def setup(spark: SparkSession, tr: Tracer): Unit = {
    this.tr = tr
    Work.wipe(s"$work/check")
    tableRows.keys.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
  }

  /** Two untimed passes, so the JIT has settled before timing. The
    * first lands every key's result for the output check and sizes each
    * key's input; the second runs the timed form of the op.
    */
  def warmup(spark: SparkSession): Unit = {
    passes.head.foreach { key =>
      val df = queries(key)(spark, dir)
      rowsByKey += key -> inputRows(df)
      df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/$key")
      spark.catalog.clearCache()
    }
    Work.writeJson(s"$work/check/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => passes.head.contains(k) })
    passes(1).foreach(runOnce(spark, _))
    pass = 2
  }

  /** Whole passes only: a new pass starts while at least half the
    * previous pass's time is left, so every run's ops cover every key
    * equally often.
    */
  def next(remainingS: Double): Option[(String, SparkSession => Long)] = {
    if (pos == passes(pass).size) {
      lastPassS = (System.nanoTime() - passStart) / 1e9
      pass += 1
      pos = 0
    }
    if (pos == 0) {
      if (pass == passes.size || remainingS < lastPassS / 2) return None
      passStart = System.nanoTime()
    }
    val key = passes(pass)(pos)
    pos += 1
    Some(key -> (s => runOnce(s, key)))
  }

  def finish(spark: SparkSession, tr: Tracer): Map[String, Any] =
    Map("timed_passes" -> (pass - 1))
}

/** Daily landing and backfill on the snapshot log. */
class LakeBackfill(plan: JsonNode, work: String) extends Workload {
  private val days = plan.get("days").elements().asScala.toSeq
  private val lake = s"$work/lake"
  private val bronze = s"$lake/bronze"
  private val silver = s"$lake/silver"
  private val feed = s"$lake/feed"
  private val ckpt = s"$lake/checkpoint"
  private val MaintenanceEvery = 5
  private val WarmupDays = 2
  private var tr: Tracer = _
  private var d = 0
  private var landedBytes = 0L
  private val reports = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  private def dayOp(spark: SparkSession, idx: Int): Long = {
    val meta = days(idx)
    val file = meta.get("path").asText()
    val day = meta.get("day").asInt()
    val schema = spark.read.parquet(file).schema
    tr("stream.land") {
      Files.copy(Paths.get(file), Paths.get(feed, new File(file).getName),
        StandardCopyOption.REPLACE_EXISTING)
      val q = SnapshotSink.start(spark.readStream.schema(schema).parquet(feed),
        bronze, "lake", Seq("day"), Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    tr("log.merge")(SnapshotLog.merge(spark, silver, spark.read.parquet(file),
      "event_id", "day"))
    val rep = tr("log.report") {
      SnapshotLog.readWhere(spark, silver, "day", day, day)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("string").as("sum_value"))
        .collect()
    }
    reports += Map("day_index" -> idx, "day" -> day,
      "rows" -> rep.map(r => Seq(r.getString(0), r.getLong(1), r.getString(2))).toSeq)
    if (idx % MaintenanceEvery == MaintenanceEvery - 1) {
      tr("log.compact")(SnapshotLog.compact(spark, bronze, maxFiles = 2))
      tr("log.vacuum") {
        SnapshotLog.vacuum(spark, bronze, retainLast = 2, staleGraceMs = 0L)
        SnapshotLog.vacuum(spark, silver, retainLast = 2, staleGraceMs = 0L)
      }
    }
    landedBytes += new File(file).length()
    meta.get("rows").asLong()
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    this.tr = tr
    Work.wipe(lake)
    new File(feed).mkdirs()
    reports.clear()
    landedBytes = 0L
    val first = spark.read.parquet(days.head.get("path").asText())
    SnapshotLog.overwrite(first.limit(0), silver, Seq("day"))
  }

  /** The first days land untimed, so the JIT has settled before timing. */
  def warmup(spark: SparkSession): Unit = {
    (0 until WarmupDays).foreach(dayOp(spark, _))
    d = WarmupDays
  }

  def next(remainingS: Double): Option[(String, SparkSession => Long)] =
    if (remainingS <= 0 || d >= days.size) None
    else {
      val idx = d
      d += 1
      Some(f"day-$idx%02d" -> (s => dayOp(s, idx)))
    }

  def finish(spark: SparkSession, tr: Tracer): Map[String, Any] = {
    SnapshotLog.read(spark, silver).coalesce(1).write.mode("overwrite")
      .parquet(s"$work/check/silver")
    val bronzeRows = SnapshotLog.read(spark, bronze).count()
    Work.writeJson(s"$work/check/reports.json", reports.toSeq)
    val head = SnapshotLog.snapshotAt(spark, silver,
      SnapshotLog.latestVersion(spark, silver).get)
    Map("days_landed" -> d, "bronze_rows" -> bronzeRows,
      "log.versions" -> (head.version + 1),
      "log.files" -> head.files.size,
      "landed_input_bytes" -> landedBytes,
      "stored_bytes" -> (Work.duBytes(bronze) + Work.duBytes(silver)))
  }
}

/** Incremental near-dup ingest into the minhash store and the ANN index. */
class CorpusDedup(plan: JsonNode, work: String) extends Workload {
  private val mss = MinhashSignatureStore
  private val docsPath = plan.get("docs").asText()
  private val vecsPath = plan.get("vectors").asText()
  private val docHistory = Work.longs(plan.get("doc_history"))
  private val vecHistory = Work.longs(plan.get("vec_history"))
  private val docBatches = plan.get("doc_batches").elements().asScala.map(Work.longs).toSeq
  private val vecBatches = plan.get("vec_batches").elements().asScala.map(Work.longs).toSeq
  private val centroidIds = Work.longs(plan.get("centroid_ids"))
  private val store = s"$work/corpus/store"
  private val index = s"$work/corpus/index"
  private val MaintenanceEvery = 3
  val Threshold: Double = Extras.MinhashJaccardThreshold
  val Tau: Double = Extras.EmbedCosThreshold
  private var tr: Tracer = _
  private var b = 0
  private var cents: DataFrame = _
  private var centsVersion = 0
  private var pendingLayoutDump = false
  private val log = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private var keptDocs = 0L
  private var batchDocs = 0L

  private def docs(s: SparkSession, ids: Seq[Long]) =
    s.read.parquet(docsPath).filter(col("doc_id").isin(ids: _*))
  private def vecs(s: SparkSession, ids: Seq[Long]) =
    s.read.parquet(vecsPath).filter(col("vec_id").isin(ids: _*))

  /** Centroids as a driver-local frame, saved for the replay. */
  private def localCentroids(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.select(col("cid"), col("c")).collect().toSeq
    Work.writeJson(s"$work/check/centroids-$centsVersion.json",
      rows.map(r => Map("cid" -> r.getLong(0), "c" -> r.getSeq[Double](1))))
    s.createDataFrame(rows.asJava, df.select(col("cid"), col("c")).schema)
  }

  private def dumpLayout(s: SparkSession, name: String): Unit =
    Work.writeJson(s"$work/check/$name.json", s.read.parquet(index)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => Seq(r.getLong(0), r.getAs[Any](1).toString.toLong)).toSeq)

  private def batchOp(s: SparkSession, i: Int, timed: Boolean): Long = {
    val dIds = docBatches(i)
    val vIds = vecBatches(i)
    val dv = tr("store.dedup") {
      mss.dedupAgainst(s, docs(s, dIds).select(col("doc_id"), col("text")),
        store, Extras.Perms, Threshold).select(col("doc_id"), col("keep")).collect()
    }
    val kept = dv.filter(_.getBoolean(1)).map(_.getLong(0)).toSeq
    tr("store.append")(mss.append(s, docs(s, kept).select(col("doc_id"), col("text")),
      store, Extras.Perms))
    val vv = tr("ann.dedup") {
      AnnIndex.dedupVerdicts(s, index, vecs(s, vIds), cents, 2, Tau).collect()
    }
    val keptV = vv.filter(_.getBoolean(1)).map(_.getLong(0)).toSeq
    tr("ann.append")(AnnIndex.append(vecs(s, keptV), cents, index))
    log += Map("batch" -> i, "centroids" -> centsVersion,
      "docs" -> dv.map(r => Seq(r.getLong(0), r.getBoolean(1))).toSeq,
      "vecs" -> vv.map(r => Seq(r.getLong(0), r.getBoolean(1))).toSeq)
    if (timed) { keptDocs += kept.size; batchDocs += dIds.size }
    if (i % MaintenanceEvery == MaintenanceEvery - 1) {
      tr("store.rebuild")(mss.rebuildIfOutgrown(s, store, Extras.Perms,
        Extras.minhashSchemeFor))
      tr("ann.optimize") {
        val refreshed = AnnIndex.optimizeIfOutgrown(s, index, cents)
        centsVersion += 1
        cents = localCentroids(s, refreshed)
      }
      pendingLayoutDump = true
      log += Map("optimized_after" -> i, "centroids" -> centsVersion)
    }
    (dIds.size + vIds.size).toLong
  }

  def setup(s: SparkSession, tr: Tracer): Unit = {
    this.tr = tr
    Work.wipe(s"$work/corpus")
    Work.wipe(s"$work/check")
    log.clear()
    centsVersion = 0
    val (nh, nb) = Extras.minhashSchemeFor(docHistory.size.toLong)
    mss.build(s, docs(s, docHistory).select(col("doc_id"), col("text")), store,
      nh, nb, Extras.Perms)
    cents = localCentroids(s, vecs(s, centroidIds).select(col("vec_id").as("cid"),
      col("v").as("c")))
    AnnIndex.build(vecs(s, vecHistory), cents, index)
  }

  def warmup(s: SparkSession): Unit = {
    batchOp(s, 0, timed = false)
    b = 1
  }

  def next(remainingS: Double): Option[(String, SparkSession => Long)] = {
    if (pendingLayoutDump) {
      dumpLayout(SparkSession.active, s"layout-$centsVersion")
      pendingLayoutDump = false
    }
    if (remainingS <= 0 || b >= docBatches.size) None
    else {
      val i = b
      b += 1
      Some(f"batch-$i%02d" -> (s => batchOp(s, i, timed = true)))
    }
  }

  def finish(s: SparkSession, tr: Tracer): Map[String, Any] = {
    val probeIds = vecHistory.take(4)
    val probes = vecs(s, probeIds).select(col("vec_id").as("p_id"), col("v").as("p"))
    val top = tr("ann.probe")(AnnIndex.probe(s, index, probes, cents, 2, 5).collect())
    Work.writeJson(s"$work/check/probe.json", Map("centroids" -> centsVersion,
      "rows" -> top.map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq))
    dumpLayout(s, "layout-final")
    Work.writeJson(s"$work/check/batches.json", log.toSeq)
    Work.writeJson(s"$work/check/perms.json",
      Map("perms" -> Extras.Perms.map(p => Seq(p._1, p._2, p._3)),
        "threshold" -> Threshold, "tau" -> Tau))
    val cells = s.read.parquet(index).groupBy(col("cell")).count().collect()
      .map(_.getLong(1))
    Map("batches_done" -> b,
      "store.keep_ratio" -> (if (batchDocs > 0) keptDocs.toDouble / batchDocs else 0.0),
      "ann.cells" -> cells.length, "ann.max_occupancy" -> cells.max,
      "stored_bytes" -> (Work.duBytes(store) + Work.duBytes(index)),
      "input_bytes" -> plan.get("input_bytes").asLong())
  }
}
