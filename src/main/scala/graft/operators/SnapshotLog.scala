package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType,
  StructField, StructType}

/** Versioned-snapshot commit log over a plain-parquet, hive-partitioned
  * table — the atomic-commit / time-travel layer the north star names
  * ("Spark read/write to Delta/Iceberg", BASELINE.json) re-expressed
  * without table-format jars (offline container; same substitute family
  * as [[graft.ingest.Manifest]], which stays the schema-history log —
  * this log is the FILE-set source of truth).
  *
  * Layout: data files live in normal `part=value/` directories with
  * globally-unique names; `<table>/_graft_log/v%016d.json` records, per
  * commit, the COMPLETE relative-path listing of the snapshot plus the
  * schema and the operation. Readers never list data directories — they
  * resolve the latest committed version (or an explicit one: time
  * travel) and scan exactly those files, so a writer mid-rewrite is
  * invisible: rewrites ADD files and only the final log entry swaps
  * them in, leaving prior versions readable until [[vacuum]].
  *
  * Atomicity: a commit writes its full JSON document to a hidden tmp
  * file and RENAMES it onto the next version slot — rename is atomic
  * on local disk and HDFS, so a crash mid-write can never leave a
  * truncated head entry (the tmp is invisible to [[versions]]).
  * Concurrent committers race on the version number; a loser whose
  * file-set changes are DISJOINT from the winner's rebases (replays
  * its add/remove sets against the new head — appends always commute)
  * while an overlapping loser aborts with
  * `ConcurrentModificationException` rather than silently dropping the
  * winner's files or resurrecting its deletes — the caller retries the
  * whole operation against the new head, exactly Delta's
  * optimistic-concurrency contract. On an object store without atomic
  * rename this slot would be a conditional PUT — same protocol,
  * different primitive.
  *
  * Scale shape: a commit document is O(CHANGED files) — add/remove
  * deltas, with the full listing only on every
  * [[CheckpointInterval]]-th version (Delta's commit-JSON +
  * periodic-checkpoint split), so a single append to a million-file
  * table writes KBs, not tens of MBs. Snapshot resolution replays at
  * most `CheckpointInterval - 1` KB-scale log reads forward from the
  * nearest checkpoint; [[vacuum]] promotes the oldest retained
  * version to a checkpoint before expiring the entries it would have
  * replayed through. All data movement is executor-side Spark jobs;
  * the driver only lists, renames and writes KB-scale log entries.
  */
object SnapshotLog {

  /** One committed table state. `files` are table-relative paths
    * (`part=v/name.parquet`), sorted; `schema` includes partition
    * columns so an empty snapshot still reads with the right shape;
    * `txns` carries the cumulative app → last-committed-version map
    * (Delta's txnAppId/txnVersion) that makes [[appendTxn]] replays
    * idempotent — each commit stores the FULL map, like the full file
    * listing, so the check is one head read. `dvs` maps a data file to
    * the DELETION-VECTOR files (under `_graft_dv/`) whose
    * (file_path, row_index) rows are subtracted from it at read time
    * — Delta's merge-on-read DV shape, as a parquet relation instead
    * of a roaring bitmap. `constraints` are named CHECK expressions
    * (Delta's `ADD CONSTRAINT`) every incoming row must satisfy —
    * stored cumulatively per commit like `txns`. `pendingTxn` is the
    * decision-file path of an UNDECIDED multi-table transaction whose
    * prepare wrote this version's own doc — its adds are already
    * EXCLUDED from `files`; the field exists so writers refuse to
    * stack commits on an in-flight transaction ([[commitAll]]).
    * `rows` maps each listed file to its physical row count from its
    * footer (Delta's `numRecords`; deletion vectors not subtracted),
    * so a table's size needs no footer opens. `properties` is the
    * table's string configuration (Delta's `metaData.configuration`),
    * stored cumulatively per commit like `constraints`.
    */
  case class Snapshot(version: Long, op: String, files: Seq[String],
      schema: StructType, partCols: Seq[String],
      txns: Map[String, Long] = Map.empty,
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      dvs: Map[String, Seq[String]] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      pendingTxn: Option[String] = None,
      rows: Map[String, Long] = Map.empty,
      properties: Map[String, String] = Map.empty)

  private val mapper = new ObjectMapper()

  /** In-process commit mutex: the local filesystem's create-if-absent
    * is a non-atomic exists+open, so same-JVM writers (tests, local
    * pipelines) serialize here; cross-process writers still race on
    * the create(overwrite = false) slot below.
    */
  private val commitLock = new Object

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A [[cloneShallow]] file entry is `<sourceRoot>::<relPath>` — the
    * clone's log references the SOURCE table's physical file without
    * copying it. Plain entries are relative to this table's own root.
    */
  private def entrySplit(entry: String): (Option[String], String) = {
    val i = entry.indexOf("::")
    if (i < 0) (None, entry)
    else (Some(entry.substring(0, i)), entry.substring(i + 2))
  }

  /** Physical location of a listed file — the clone base's tree for
    * foreign entries, this table's tree otherwise.
    */
  private def dataPath(tableDir: String, entry: String): Path =
    entrySplit(entry) match {
      case (Some(base), rel) => new Path(base, rel)
      case (None, rel) => new Path(tableDir, rel)
    }

  private def logDir(tableDir: String) = new Path(tableDir, "_graft_log")

  private def versionPath(tableDir: String, v: Long) =
    new Path(logDir(tableDir), f"v$v%016d.json")

  private def versionOf(name: String): Long =
    name.stripPrefix("v").stripSuffix(".json").toLong

  /** All committed versions, ascending (empty → not a snapshot table). */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val f = fs(spark, tableDir)
    val dir = logDir(tableDir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(versionOf).sorted
  }

  def latestVersion(spark: SparkSession, tableDir: String): Option[Long] =
    versions(spark, tableDir).lastOption

  /** Every `CheckpointInterval`-th commit stores the FULL file listing
    * (a checkpoint, like Delta's); the commits between store only
    * adds/removes deltas, so per-commit metadata is O(changed files)
    * instead of O(table files) — the difference between KBs and tens
    * of MBs per commit on a million-file table. Resolution walks back
    * at most `CheckpointInterval - 1` KB-scale log reads.
    */
  private[graft] val CheckpointInterval = 10L

  /** Log-doc read counter (test instrumentation only): the stress spec
    * pins [[snapshotAt]]'s replay cost to O(CheckpointInterval) docs,
    * not O(history) — the property that keeps a million-commit table's
    * planning cost flat.
    */
  private[graft] val docReads = new java.util.concurrent.atomic.AtomicLong

  private def readDoc(f: FileSystem, tableDir: String,
      v: Long): com.fasterxml.jackson.databind.JsonNode = {
    docReads.incrementAndGet()
    val p = versionPath(tableDir, v)
    val st = f.getFileStatus(p)
    val in = f.open(p)
    val doc = try {
      val buf = new Array[Byte](st.getLen.toInt)
      in.readFully(buf)
      new String(buf, "UTF-8")
    } finally in.close()
    mapper.readTree(doc)
  }

  private def strArr(n: com.fasterxml.jackson.databind.JsonNode,
      key: String): Seq[String] =
    Option(n.get(key)).map(a => (0 until a.size()).map(i => a.get(i).asText()))
      .getOrElse(Seq.empty)

  private def dvsOf(n: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Seq[String]] =
    Option(n.get("dvs")).map { dn =>
      dn.fields().asScala.map { e =>
        e.getKey -> (0 until e.getValue.size())
          .map(i => e.getValue.get(i).asText())
      }.toMap
    }.getOrElse(Map.empty)

  private def statsOf(n: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Map[String, (Double, Double)]] =
    Option(n.get("stats")).map { sn =>
      sn.fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala.map { c =>
          c.getKey -> (c.getValue.get(0).asDouble(), c.getValue.get(1).asDouble())
        }.toMap
      }.toMap
    }.getOrElse(Map.empty)

  private def longMapOf(n: com.fasterxml.jackson.databind.JsonNode,
      key: String): Map[String, Long] =
    Option(n.get(key)).map { ln =>
      ln.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty)

  private def stringMapOf(n: com.fasterxml.jackson.databind.JsonNode,
      key: String): Map[String, String] =
    Option(n.get(key)).map { cn =>
      cn.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

  private def putStrings(root: com.fasterxml.jackson.databind.node.ObjectNode,
      key: String, m: Map[String, String]): Unit =
    if (m.nonEmpty) {
      val n = root.putObject(key)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    }

  private def putRows(root: com.fasterxml.jackson.databind.node.ObjectNode,
      rows: Map[String, Long]): Unit =
    if (rows.nonEmpty) {
      val rn = root.putObject("rows")
      rows.toSeq.sortBy(_._1).foreach { case (rel, n) => rn.put(rel, n) }
    }

  /** Per-file row count, and (min, max) for every top-level numeric
    * column, straight from the parquet FOOTERS of freshly-staged files
    * — one KB-scale driver read per added file, the same cost class as
    * the staging renames. Every file gets a row count; annotated
    * physical types (decimal-as-int64, timestamps, strings) get no
    * (min, max): their raw stats are not in logical units, and wrong
    * stats prune wrongly. This is Delta's per-add stats JSON: the
    * scan-time file pruning it buys ([[readWhere]]) and a table's row
    * count need no footer opens at all.
    */
  private def collectStats(f: FileSystem, tableDir: String, rels: Seq[String])
      : (Map[String, Map[String, (Double, Double)]], Map[String, Long]) = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // one options object per commit: `open(InputFile)` alone builds a
    // fresh Hadoop Configuration, re-parsing its XML, for every footer
    val opts = HadoopReadOptions.builder(f.getConf).build()
    val perFile = rels.map { rel =>
      val in = HadoopInputFile.fromPath(dataPath(tableDir, rel), f.getConf)
      val r = ParquetFileReader.open(in, opts)
      try {
        val cols = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .flatMap { c =>
            val p = c.getPath.toDotString
            val st = c.getStatistics
            val ann = c.getPrimitiveType.getLogicalTypeAnnotation
            val plain = ann == null || ann.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation]
            if (p.contains('.') || !plain || st == null || st.isEmpty ||
                !st.hasNonNullValue) None
            else st match {
              case s: LongStatistics => Some(p -> (s.getMin.toDouble, s.getMax.toDouble))
              case s: IntStatistics => Some(p -> (s.getMin.toDouble, s.getMax.toDouble))
              case s: DoubleStatistics => Some(p -> (s.getMin, s.getMax))
              case s: FloatStatistics => Some(p -> (s.getMin.toDouble, s.getMax.toDouble))
              case _ => None
            }
          }
          .groupBy(_._1)
          .map { case (p, vs) => // min/max across the file's row groups
            p -> (vs.map(_._2._1).min, vs.map(_._2._2).max) }
        (rel, cols, r.getRecordCount)
      } finally r.close()
    }
    (perFile.collect { case (rel, cols, _) if cols.nonEmpty => rel -> cols }.toMap,
      perFile.map { case (rel, _, n) => rel -> n }.toMap)
  }

  /** Load one committed snapshot; throws if the version was never
    * committed or has been vacuumed away. A delta-encoded version is
    * reconstructed by replaying adds/removes forward from the nearest
    * checkpoint at or below it.
    */
  def snapshotAt(spark: SparkSession, tableDir: String, version: Long): Snapshot = {
    val f = fs(spark, tableDir)
    require(f.exists(versionPath(tableDir, version)),
      s"snapshot v$version does not exist under $tableDir " +
      "(never committed, or removed by vacuum)")
    // walk back to the nearest full listing; docs ends up
    // checkpoint-first, requested-version-last
    var docs = List(readDoc(f, tableDir, version))
    var v = version
    while (!docs.head.has("files")) {
      v -= 1
      require(v >= 1 && f.exists(versionPath(tableDir, v)),
        s"cannot reconstruct v$version under $tableDir: log entry v$v " +
        "is missing (removed by vacuum without a retained checkpoint?)")
      docs = readDoc(f, tableDir, v) :: docs
    }
    // multi-table-txn visibility: a doc carrying `txn_decision` is a
    // PREPARE — its adds count only once the decision file says
    // committed (absent = in flight, aborted = never). One decision
    // read per distinct txn, cached across the replay.
    val decisions = mutable.Map.empty[String, Option[String]]
    val hconf = spark.sparkContext.hadoopConfiguration
    def txnCommitted(d: com.fasterxml.jackson.databind.JsonNode): Boolean =
      Option(d.get("txn_decision")).map(_.asText()) match {
        case None => true
        case Some(p) =>
          decisions.getOrElseUpdate(p, txnStatusAt(hconf, p)).contains("committed")
      }
    var files: Seq[String] = strArr(docs.head, "files")
    var stats = statsOf(docs.head)          // full map on checkpoints
    var rows = longMapOf(docs.head, "rows") // full map on checkpoints
    var dvs = dvsOf(docs.head)              // full map on checkpoints
    if (!txnCommitted(docs.head)) {
      // a prepare can land on a checkpoint slot: its full listing
      // (and stats/rows/DV map) includes its own adds — back them out
      val own = strArr(docs.head, "adds").toSet
      files = files.filterNot(own.contains)
      stats = stats -- own
      rows = rows -- own
      dvs = dvs -- own
    }
    docs.tail.foreach { d =>
      val visible = txnCommitted(d)
      val rm = strArr(d, "removes").toSet
      files = files.filterNot(rm.contains) ++
        (if (visible) strArr(d, "adds") else Seq.empty)
      stats = (stats -- rm) ++ // adds-only on delta docs
        (if (visible) statsOf(d) else Map.empty)
      rows = (rows -- rm) ++ (if (visible) longMapOf(d, "rows") else Map.empty)
      // a removed data file sheds its DVs; a dvs_full doc (restore)
      // REPLACES the map, a delta doc's dvs ACCUMULATE per file
      // (a second MoR delete on a file unions with the first)
      dvs =
        if (d.has("dvs_full")) dvsOf(d)
        else (if (visible) dvsOf(d) else Map.empty[String, Seq[String]])
          .foldLeft(dvs -- rm) { case (m, (k, v)) =>
            m.updated(k, (m.getOrElse(k, Seq.empty) ++ v).distinct)
          }
    }
    val n = docs.last // the requested version's own doc: op/schema/txns
    val parts = strArr(n, "part_cols")
    val pending = Option(n.get("txn_decision")).map(_.asText())
      .filter(p => decisions.getOrElseUpdate(p, txnStatusAt(hconf, p)).isEmpty)
    Snapshot(n.get("version").asLong(), n.get("op").asText(), files.sorted,
      DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      parts, longMapOf(n, "txns"), stats, dvs, stringMapOf(n, "constraints"),
      pending, rows, stringMapOf(n, "properties"))
  }

  /** The DV row relation: `(file_path, row_index)` pairs doomed by
    * merge-on-read deletes. The key is the FULL `_metadata.file_path`
    * URI, not the bare file name: one Spark task writing several
    * partition values emits the SAME part-NNNNN-uuid name under each
    * partition directory, so a name-keyed DV would doom sibling
    * partitions' rows. Both the doom scan and every read scan build
    * their file lists from the same `new Path(tableDir, rel)` strings
    * through the same Hadoop conf, so the qualified URIs match
    * exactly. Caveat (documented trade): a DV'd table is pinned to
    * its location — compact (purging the DVs) before relocating.
    */
  private val DvSchema = StructType(Seq(
    StructField("file_path", StringType, false),
    StructField("row_index", LongType, false)))

  private def dvDir(tableDir: String) = new Path(tableDir, "_graft_dv")

  /** Read a subset of a snapshot's files with its deletion vectors
    * applied. Files WITHOUT a DV scan untouched (the fast path — no
    * metadata columns, no join); files with one anti-join their
    * broadcast DV rows on `(_metadata.file_path, _metadata.row_index)`
    * — per-file physical row positions, stable because data files are
    * immutable once committed. The MoR contract is Delta's: DVs hold
    * targeted-delete row sets (GDPR purges, correction patches), small
    * relative to the table; bulk deletes belong to the copy-on-write
    * path ([[deleteByKeys]]), and [[compact]] physically purges DVs.
    */
  private[graft] def readFiles(spark: SparkSession, tableDir: String,
      snap: Snapshot, rels: Seq[String]): DataFrame = {
    if (rels.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    // basePath keeps the hive partition columns of explicit file reads;
    // it must be an ancestor of every file in one scan, and a shallow
    // clone's listing mixes its own tree with its source's — so group
    // by physical root, one scan per root, unioned. `perScan` runs
    // inside each scan because `_metadata` columns only resolve there.
    def scanGrouped(es: Seq[String],
        perScan: DataFrame => DataFrame = identity) =
      es.groupBy(e => entrySplit(e)._1.getOrElse(tableDir)).toSeq.sortBy(_._1)
        .map { case (base, g) =>
          perScan(spark.read.option("basePath", base).schema(snap.schema)
            .parquet(g.map(e => dataPath(tableDir, e).toString): _*))
        }.reduce(_ unionByName _)
    val (dirty, clean) = rels.partition(snap.dvs.contains)
    if (dirty.isEmpty) return scanGrouped(rels)
    val dvRels = dirty.flatMap(snap.dvs(_)).distinct
    val dv = spark.read.schema(DvSchema)
      .parquet(dvRels.map(rel => dataPath(tableDir, rel).toString): _*)
    val outCols = snap.schema.fields.map(f => col(f.name)).toIndexedSeq
    val sub = scanGrouped(dirty, _
        .withColumn("_dv_path", col("_metadata.file_path"))
        .withColumn("_dv_row", col("_metadata.row_index")))
      .join(broadcast(dv),
        col("_dv_path") === dv("file_path") && col("_dv_row") === dv("row_index"),
        "left_anti")
      .select(outCols: _*)
    if (clean.isEmpty) sub else scanGrouped(clean).unionByName(sub)
  }

  /** Scan exactly one committed version — time travel. Old versions
    * stay readable (their files are only unlinked by [[vacuum]]), and
    * each version subtracts exactly ITS deletion vectors — a
    * pre-delete version still serves the since-doomed rows.
    */
  def readAt(spark: SparkSession, tableDir: String, version: Long): DataFrame = {
    val snap = snapshotAt(spark, tableDir, version)
    readFiles(spark, tableDir, snap, snap.files)
  }

  /** Change feed (CDF-lite): the rows carried by files LINKED IN over
    * `(fromVersion, toVersion]`, stamped `_commit_version` — Delta's
    * change-data-feed shape at file granularity. For an append-only
    * table (the [[graft.streaming.SnapshotSink]] case) this is exactly
    * the new rows per commit, which makes a downstream incremental
    * consumer a loop of `changesBetween(lastSeen, head)`. For rewrite
    * ops (delete/merge/compact) the added files hold the rewritten
    * partitions' SURVIVORS, not a row-level delta — diff against the
    * prior version (x33's snapshot-diff) when row-level change types
    * are needed. Cost: log metadata + a scan of only the added files —
    * never a full-table re-read.
    */
  def changesBetween(spark: SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    if (fromVersion == toVersion) {
      val snap = snapshotAt(spark, tableDir, toVersion)
      return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
        .withColumn("_commit_version", lit(toVersion))
    }
    // thread each iteration's file set into the next: v's snapshot IS
    // v+1's predecessor, so resolving it twice would double the
    // driver-side log replay on the feed hot path
    var prev = if (fromVersion == 0) Set.empty[String]
      else snapshotAt(spark, tableDir, fromVersion).files.toSet
    val frames = (fromVersion + 1 to toVersion).map { v =>
      val snap = snapshotAt(spark, tableDir, v)
      val adds = snap.files.filterNot(prev.contains)
      prev = snap.files.toSet
      // added files read through the adding version's own DVs (none at
      // their birth version unless the commit both added and deleted);
      // a delete_mor commit adds NO files, so its row removals don't
      // surface here — diff snapshots (x33) for row-level change types
      readFiles(spark, tableDir, snap, adds).withColumn("_commit_version", lit(v))
    }
    frames.reduceLeft(_ unionByName (_, allowMissingColumns = true))
  }

  /** Stats-pruned range scan (data skipping): drop every file whose
    * logged per-file [min, max] on `colName` cannot overlap
    * `[lo, hi]`, then scan the survivors with the predicate applied
    * (parquet row-group stats prune further inside each file). The
    * file-list pruning is pure LOG metadata — no footer opens, no
    * listing — which at 100 TB is the difference between planning over
    * a million file handles and reading a few KB of commit JSON. Files
    * without stats on the column are kept (never prune on ignorance).
    * Pair with [[optimizeZOrder]]: clustering is what makes per-file
    * ranges tight enough to prune on more than one column.
    */
  def readWhere(spark: SparkSession, tableDir: String, colName: String,
      lo: Double, hi: Double): DataFrame = {
    val snap = snapshotAt(spark, tableDir,
      latestVersion(spark, tableDir).getOrElse(
        sys.error(s"$tableDir has no committed snapshot")))
    // literals in the column's own type → the predicate reaches the
    // parquet scan as-is (no cast in the way of pushdown)
    val dt = snap.schema.fields.find(_.name == colName).map(_.dataType)
    val (lLo, lHi) = dt match {
      case Some(t) => (lit(lo).cast(t), lit(hi).cast(t))
      case None => (lit(lo), lit(hi))
    }
    val pred = col(colName) >= lLo && col(colName) <= lHi
    readFiles(spark, tableDir, snap, statsPrunedFiles(snap, colName, lo, hi))
      .filter(pred)
  }

  /** The file subset [[readWhere]] actually scans: every listed file
    * whose logged [min, max] on `colName` can overlap `[lo, hi]`, plus
    * any file with no stats on the column (never prune on ignorance).
    * Exposed `private[graft]` so the spec can pin the pruning COUNT —
    * the metadata-only planning guarantee — not just result values.
    */
  private[graft] def statsPrunedFiles(snap: Snapshot, colName: String,
      lo: Double, hi: Double): Seq[String] =
    snap.files.filter { rel =>
      snap.stats.get(rel).flatMap(_.get(colName)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }

  /** Scan the latest committed version. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val v = latestVersion(spark, tableDir).getOrElse(
      sys.error(s"$tableDir has no committed snapshot"))
    readAt(spark, tableDir, v)
  }

  // ------------------------------------------------------------ writers

  /** Stage `df` as finished parquet files: write (partitioned) into a
    * private staging dir, then rename each data file into the table
    * tree keeping its partition subpath. Spark part-file names embed
    * the job UUID, so staged names never collide with live ones; the
    * files are INVISIBLE to snapshot readers until a commit lists them.
    * Returns the table-relative paths. Renames are driver-side metadata
    * ops (O(files)); on an object store this step is the one to replace
    * with a direct write of uniquely-named files (Delta's protocol).
    */
  private def stage(df: DataFrame, tableDir: String,
      partCols: Seq[String]): Seq[String] = {
    val spark = df.sparkSession
    val f = fs(spark, tableDir)
    val staging = new Path(tableDir,
      "_staging/commit-" + java.util.UUID.randomUUID().toString)
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(staging.toString)
    val moved = mutable.ArrayBuffer.empty[String]
    def walk(p: Path, rel: String): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, s"$rel$name/")
        else if (name.endsWith(".parquet")) {
          val dest = new Path(tableDir, rel + name)
          f.mkdirs(dest.getParent)
          require(f.rename(st.getPath, dest), s"rename failed: $dest")
          moved += rel + name
        }
      }
    walk(staging, "")
    f.delete(staging, true)
    moved.toSeq.sorted
  }

  /** Commit `files` as the next version, rebasing on a version race:
    * if another writer took version N first, recompute the listing
    * against the new head via `rebase(headFiles)` and try N+1 —
    * UNLESS the winner's changes touch this writer's conflict domain
    * (`conflictsWith` is true for some file the winner added or
    * removed relative to `base`), in which case the rebase would not
    * commute (a delete could drop the winner's appended-but-unscanned
    * rows; a compact could resurrect the winner's deletes) and the
    * commit aborts with `ConcurrentModificationException` for the
    * caller to retry the whole operation.
    *
    * `propertiesUpdate` is a function of the head's properties, like
    * `constraintsUpdate`, so a lost race re-applies it to the winner's
    * map; without one the head's map is carried unchanged.
    *
    * `private[graft]` (not `private`) so the spec can drive the
    * race/conflict paths deterministically.
    */
  private[graft] def commit(spark: SparkSession, tableDir: String, op: String,
      schema: StructType, partCols: Seq[String],
      base: Option[Snapshot] = None,
      conflictsWith: String => Boolean = _ => false,
      txn: Option[(String, Long)] = None,
      dvAdds: Map[String, Seq[String]] = Map.empty,
      dvFull: Option[Map[String, Seq[String]]] = None,
      constraintsUpdate: Option[Map[String, String] => Map[String, String]] = None,
      unionSchemaWithHead: Boolean = true,
      expectedConstraints: Option[Map[String, String]] = None,
      precomputedStats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      precomputedRows: Map[String, Long] = Map.empty,
      txnDecision: Option[String] = None,
      propertiesUpdate: Option[Map[String, String] => Map[String, String]] = None)(
      rebase: Seq[String] => Seq[String]): Long = {
    val f = fs(spark, tableDir)
    f.mkdirs(logDir(tableDir))
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, tableDir)
      val headSnap = head.map(snapshotAt(spark, tableDir, _))
      // an UNDECIDED multi-table prepare at the head blocks every
      // other writer: a commit stacked on it (above all a checkpoint's
      // full listing, which would freeze the exclusion) could lose the
      // txn's adds if the decision lands later. The in-flight window
      // is the coordinator's prepare→decide gap — milliseconds — and a
      // crashed coordinator is cleared by [[rollbackTxn]]. The txn's
      // OWN later prepares (same decision path) may stack.
      headSnap.flatMap(_.pendingTxn).filterNot(txnDecision.contains)
        .foreach { p =>
          throw new java.util.ConcurrentModificationException(
            s"$op@$tableDir: head v${head.getOrElse(0L)} is an undecided " +
            s"multi-table transaction ($p); decide or roll it back first")
        }
      val headFiles = headSnap.map(_.files).getOrElse(Nil)
      val headTxns = headSnap.map(_.txns).getOrElse(Map.empty[String, Long])
      // idempotence slot: a replayed (appId, version) — rechecked on
      // every race retry, so even a zombie twin commits at most once;
      // its staged orphans age out via vacuum's grace clock
      if (txn.exists { case (app, v) => headTxns.get(app).exists(_ >= v) })
        return head.get
      base.filter(b => !head.contains(b.version)).foreach { b =>
        // lost the race: abort unless the winner's add/remove set is
        // disjoint from this writer's domain (then the rebase commutes)
        val baseSet = b.files.toSet
        val clash = (headFiles.toSet diff baseSet) ++ (baseSet diff headFiles.toSet)
        if (clash.exists(conflictsWith))
          throw new java.util.ConcurrentModificationException(
            s"$op@$tableDir lost the commit race to a writer that touched " +
            s"its file domain (base v${b.version}, head v${head.getOrElse(0L)}); " +
            "retry the operation against the new head")
      }
      // a row-adding writer validated CHECK constraints against a
      // specific set; if a racing addConstraint/dropConstraint changed
      // that set (a metadata-only winner has an EMPTY file clash, so
      // the domain check above cannot catch it), the validation is
      // stale — abort so the caller re-reads and re-validates
      expectedConstraints.foreach { exp =>
        val headCons = headSnap.map(_.constraints).getOrElse(Map.empty)
        if (headCons != exp)
          throw new java.util.ConcurrentModificationException(
            s"$op@$tableDir lost the commit race to a constraint change " +
            s"(validated against ${exp.keySet}, head now has ${headCons.keySet}); " +
            "retry the operation against the new head")
      }
      // rebasing replays FILE deltas against the new head; the schema
      // must rebase too, or a race winner's evolved column would be
      // silently dropped from the head schema while its files stay
      // listed (data present but invisible). Union by name, caller's
      // types checked against the head's — overwrite/restore replace
      // the schema wholesale and opt out.
      val outSchema =
        if (unionSchemaWithHead)
          headSnap.map(h => unionSchemas(h.schema, schema, partCols))
            .getOrElse(schema)
        else schema
      val next = head.getOrElse(0L) + 1
      val root = mapper.createObjectNode()
      root.put("version", next)
      root.put("op", op)
      root.put("at_ms", System.currentTimeMillis())
      txnDecision.foreach(root.put("txn_decision", _))
      root.put("schema", outSchema.json)
      val pc = root.putArray("part_cols")
      partCols.foreach(pc.add)
      val tx = root.putObject("txns")
      (headTxns ++ txn).foreach { case (k, v) => tx.put(k, v) }
      // constraints are cumulative per commit (full map, like txns);
      // the update is a FUNCTION of the head's map, re-applied on every
      // race retry — a full-map replacement computed from a stale
      // snapshot would silently erase a racing constraint commit
      val headCons = headSnap.map(_.constraints).getOrElse(Map.empty)
      val consOut = constraintsUpdate.map(_(headCons)).getOrElse(headCons)
      putStrings(root, "constraints", consOut)
      // table properties: the same full-map, update-as-function shape
      val headProps = headSnap.map(_.properties).getOrElse(Map.empty)
      putStrings(root, "properties",
        propertiesUpdate.map(_(headProps)).getOrElse(headProps))
      val listing = rebase(headFiles).sorted
      // deltas always (O(changed files)); the full listing only on
      // checkpoint versions — between them snapshotAt replays forward
      val headSet = headFiles.toSet
      val listingSet = listing.toSet
      val added = listing.filterNot(headSet.contains)
      val removed = headFiles.filterNot(listingSet.contains)
      val adds = root.putArray("adds")
      added.foreach(adds.add)
      val removes = root.putArray("removes")
      removed.foreach(removes.add)
      // per-add footer stats and row counts; checkpoints carry the
      // full maps so reconstruction never reopens a footer. Entries the
      // caller already has counts for (a clone carrying its source's)
      // skip the footer open — that keeps cloneShallow O(log metadata).
      val (footStats, footRows) =
        collectStats(f, tableDir, added.filterNot(precomputedRows.contains))
      val addedStats = precomputedStats.view.filterKeys(added.contains).toMap ++
        footStats
      val addedRows = precomputedRows.view.filterKeys(added.contains).toMap ++
        footRows
      val checkpoint = next == 1L || next % CheckpointInterval == 0L
      val fullStats =
        if (checkpoint)
          (headSnap.map(_.stats).getOrElse(Map.empty) -- removed) ++ addedStats
        else addedStats
      putRows(root,
        if (checkpoint)
          (headSnap.map(_.rows).getOrElse(Map.empty) -- removed) ++ addedRows
        else addedRows)
      if (fullStats.nonEmpty) {
        val sn = root.putObject("stats")
        fullStats.foreach { case (rel, cols) =>
          val cn = sn.putObject(rel)
          cols.foreach { case (c, (mn, mx)) =>
            val a = cn.putArray(c); a.add(mn); a.add(mx)
          }
        }
      }
      if (checkpoint) {
        val arr = root.putArray("files")
        listing.foreach(arr.add)
      }
      // DV map: full replacement (restore, or any checkpoint — so
      // reconstruction never replays past one), else this commit's
      // per-file additions
      val dvOut: Map[String, Seq[String]] =
        if (dvFull.isDefined) dvFull.get
        else if (checkpoint) {
          val headDvs = headSnap.map(_.dvs).getOrElse(Map.empty)
          dvAdds.foldLeft(headDvs -- removed) { case (m, (k, v)) =>
            m.updated(k, (m.getOrElse(k, Seq.empty) ++ v).distinct)
          }
        } else dvAdds
      if (dvFull.isDefined || checkpoint) root.put("dvs_full", true)
      if (dvOut.nonEmpty || dvFull.isDefined || checkpoint) {
        val dn = root.putObject("dvs")
        dvOut.toSeq.sortBy(_._1).foreach { case (rel, dvFiles) =>
          val a = dn.putArray(rel)
          dvFiles.foreach(a.add)
        }
      }
      val doc = mapper.writeValueAsString(root)
      // full document to a hidden tmp first: a crash mid-write leaves
      // only an ignorable tmp, never a truncated version file
      val tmp = new Path(logDir(tableDir),
        s".tmp-${java.util.UUID.randomUUID()}.json")
      try {
        val out = f.create(tmp, true)
        try out.write(doc.getBytes("UTF-8")) finally out.close()
        // the exists+rename pair is the slot two concurrent committers
        // race on (atomic create-if-absent on HDFS; guarded by the
        // in-process lock on local fs); the loser lands in the catch.
        // NOTE: the loop body re-reads the head, so a loser REBASES.
        commitLock.synchronized {
          val p = versionPath(tableDir, next)
          if (f.exists(p) || !f.rename(tmp, p))
            throw new java.io.IOException(s"version taken: $p")
        }
        return next
      } catch {
        case _: java.io.IOException if attempts < 10 =>
          attempts += 1
          f.delete(tmp, false)
      }
    }
    sys.error("unreachable")
  }

  /** Initialize (or replace) the table: stage all of `df`, commit a
    * snapshot listing ONLY the new files. Prior versions — including
    * their now-unlinked files — remain readable via [[readAt]].
    */
  def overwrite(df: DataFrame, tableDir: String,
      partCols: Seq[String] = Nil,
      propertiesUpdate: Option[Map[String, String] => Map[String, String]] = None)
      : Long = {
    val head = headSnapshot(df.sparkSession, tableDir)
    // strict resolution: overwrite replaces the schema, so a constraint
    // that stops resolving here would be dead forever
    enforceConstraints(head, df, "overwrite", requireResolvable = true)
    val added = stage(df, tableDir, partCols)
    commit(df.sparkSession, tableDir, "overwrite", readSchema(df, partCols),
      partCols, unionSchemaWithHead = false,
      expectedConstraints = Some(head.map(_.constraints).getOrElse(Map.empty)),
      propertiesUpdate = propertiesUpdate)(_ => added)
  }

  /** Append `df`: new files join the head listing. Concurrent appends
    * commute — a rebase just re-unions against the new head. The
    * committed schema is the by-name UNION of the table's and the
    * frame's (Delta's mergeSchema): new columns land nullable, old
    * files read them as null, and a same-name type conflict fails
    * fast instead of committing an unreadable listing.
    */
  def append(df: DataFrame, tableDir: String,
      partCols: Seq[String] = Nil,
      propertiesUpdate: Option[Map[String, String] => Map[String, String]] = None)
      : Long = {
    val spark = df.sparkSession
    val head = headSnapshot(spark, tableDir)
    enforceConstraints(head, df, "append")
    val schema = evolvedSchema(head, df, partCols)
    val added = stage(df, tableDir, partCols)
    commit(spark, tableDir, "append", schema, partCols,
      expectedConstraints = Some(head.map(_.constraints).getOrElse(Map.empty)),
      propertiesUpdate = propertiesUpdate)(headFiles => headFiles ++ added)
  }

  /** Reject `df` if any row violates a table CHECK constraint. Delta's
    * NULL semantics: a constraint fails only when its expression is
    * literally FALSE — NULL passes (use an explicit IS NOT NULL
    * constraint to forbid nulls). One executor pass over the incoming
    * frame, short-circuited by `limit(1)`; runs BEFORE staging, so a
    * rejected write leaves no orphan files for vacuum to sweep.
    */
  private def enforceConstraints(head: Option[Snapshot], df: DataFrame,
      op: String, requireResolvable: Boolean = false): Unit = {
    val cons = head.map(_.constraints).getOrElse(Map.empty)
    if (cons.isEmpty) return
    def resolves(frame: DataFrame, c: String): Boolean =
      try { frame.select(expr(c)); true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    cons.foreach { case (name, c) =>
      if (resolves(df, c)) {
        val bad = df.filter(expr(c) <=> lit(false)).limit(1).count()
        require(bad == 0L,
          s"$op rejected: CHECK constraint '$name' ($c) is violated by " +
          "at least one incoming row")
      } else {
        // an overwrite REPLACES the schema: a constraint that no longer
        // resolves would never be enforceable again — fail fast instead
        // of silently carrying a dead CHECK forward (Delta does the same)
        require(!requireResolvable,
          s"$op rejected: CHECK constraint '$name' ($c) does not resolve " +
          "against the replacement schema — drop the constraint first")
        // append path: the frame may legitimately omit a constrained
        // column the TABLE carries (schema evolution in flight) — those
        // rows read back as NULL there, and NULL passes CHECK (Delta's
        // null semantics). Anything else is a broken constraint.
        val spark = df.sparkSession
        val tableResolves = head.exists { h =>
          resolves(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], h.schema), c)
        }
        require(tableResolves,
          s"$op rejected: CHECK constraint '$name' ($c) resolves against " +
          "neither the incoming frame nor the table schema — drop it first")
      }
    }
  }

  /** Register a named CHECK constraint (Delta's `ALTER TABLE ADD
    * CONSTRAINT`): validates the EXISTING table first (one scan), then
    * commits a metadata-only version carrying the constraint; every
    * subsequent write enforces it on incoming rows before staging.
    * Conflict domain is everything — a racing append could land rows
    * the new constraint never saw.
    */
  def addConstraint(spark: SparkSession, tableDir: String,
      name: String, checkExpr: String): Long = {
    val snap = snapshotAt(spark, tableDir,
      latestVersion(spark, tableDir).getOrElse(
        sys.error(s"$tableDir has no committed snapshot")))
    val bad = readAt(spark, tableDir, snap.version)
      .filter(expr(checkExpr) <=> lit(false)).limit(1).count()
    require(bad == 0L,
      s"cannot add CHECK constraint '$name' ($checkExpr): existing rows violate it")
    // the update is a delta FUNCTION of the head's map: losing a race
    // to another metadata-only constraint commit (empty file clash, so
    // no abort) must not erase the winner's constraint
    commit(spark, tableDir, "add_constraint", snap.schema, snap.partCols,
      Some(snap), _ => true,
      constraintsUpdate = Some(_ + (name -> checkExpr)))(identity)
  }

  /** Drop a named CHECK constraint — metadata-only commit. */
  def dropConstraint(spark: SparkSession, tableDir: String,
      name: String): Long = {
    val snap = snapshotAt(spark, tableDir,
      latestVersion(spark, tableDir).getOrElse(
        sys.error(s"$tableDir has no committed snapshot")))
    require(snap.constraints.contains(name),
      s"no CHECK constraint named '$name' on $tableDir")
    commit(spark, tableDir, "drop_constraint", snap.schema, snap.partCols,
      Some(snap), _ => false,
      constraintsUpdate = Some(_ - name))(identity)
  }

  /** By-name schema union against the current head (no head → the
    * frame's own read schema). Partition columns must match the
    * table's exactly — a mismatched layout would scatter files Spark
    * can no longer resolve to one partitioning.
    */
  private def evolvedSchema(head: Option[Snapshot],
      df: DataFrame, partCols: Seq[String]): StructType = {
    val incoming = readSchema(df, partCols)
    head match {
      case None => incoming
      case Some(head) =>
        require(head.partCols == partCols,
          s"partition columns $partCols do not match the table's ${head.partCols}")
        unionSchemas(head.schema, incoming, partCols)
    }
  }

  /** By-name union of the table schema and an incoming one: new fields
    * land nullable (absent from every older file), same-name fields
    * must agree on type, nested nullability aside. Name matching is
    * CASE-INSENSITIVE — Spark resolves columns case-insensitively by
    * default, so a
    * case-variant duplicate ('payload' + 'Payload') would commit a
    * head schema every subsequent read throws on.
    */
  private def unionSchemas(table: StructType, incoming: StructType,
      partCols: Seq[String]): StructType = {
    // nested nullability is no type difference: parquet does not enforce
    // it and Spark reads every file column back nullable, so a table
    // rewritten from its own read (containsNull = true) must still take
    // appends of a freshly built frame (containsNull = false)
    def nullable(t: DataType): DataType = t match {
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case st: StructType => StructType(st.fields.map(x =>
        x.copy(dataType = nullable(x.dataType), nullable = true)))
      case other => other
    }
    val existing = table.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    incoming.fields.foreach { f =>
      existing.get(f.name.toLowerCase(java.util.Locale.ROOT)).foreach { ef =>
        require(nullable(ef.dataType) == nullable(f.dataType),
          s"schema evolution type conflict on '${f.name}': table has " +
          s"${ef.dataType.simpleString}, frame has ${f.dataType.simpleString}")
      }
    }
    val newFields = incoming.fields
      .filterNot(f =>
        existing.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
      .map(_.copy(nullable = true)) // absent from every older file
    if (newFields.isEmpty) table
    else {
      // keep partition columns last (Spark appends them on read)
      val parts = table.fields.filter(f => partCols.contains(f.name))
      val data = table.fields.filterNot(f => partCols.contains(f.name))
      StructType(data ++ newFields ++ parts)
    }
  }

  /** Idempotent append keyed by `(appId, version)` — the exactly-once
    * primitive for streaming sinks ([[graft.streaming.SnapshotSink]]):
    * a replayed micro-batch (same appId, version ≤ the last committed
    * for that app) is a no-op BEFORE staging, and the same check
    * replays inside the commit loop on every race retry, so even a
    * zombie twin of the query commits each version at most once
    * (Delta's txnAppId/txnVersion protocol). Returns the table version
    * holding the batch — the fresh commit's, or the existing head's
    * when the batch was already in.
    */
  def appendTxn(df: DataFrame, tableDir: String, partCols: Seq[String],
      appId: String, version: Long,
      propertiesUpdate: Option[Map[String, String] => Map[String, String]] = None)
      : Long = {
    val spark = df.sparkSession
    val head = headSnapshot(spark, tableDir)
    val replayed = head.filter(_.txns.get(appId).exists(_ >= version))
    if (replayed.isDefined) return replayed.get.version
    enforceConstraints(head, df, "appendTxn")
    val schema = evolvedSchema(head, df, partCols)
    val added = stage(df, tableDir, partCols)
    commit(spark, tableDir, "append", schema, partCols,
      txn = Some(appId -> version),
      expectedConstraints = Some(head.map(_.constraints).getOrElse(Map.empty)),
      propertiesUpdate = propertiesUpdate)(headFiles => headFiles ++ added)
  }

  // ---------------------------------------- multi-table transaction (2PC)

  /** Status of a multi-table transaction: `None` while the coordinator
    * is in flight (decision file absent — or created-but-unwritten,
    * the microsecond claim window of [[decide]]'s create-if-absent
    * publish, which reads the same as in-flight and converges once the
    * content lands), else `Some("committed")` / `Some("aborted")`. One
    * KB-scale metadata read; [[snapshotAt]] caches it per replay, so a
    * million-file reconstruction reads each distinct decision exactly
    * once. The FileSystem is derived from the decision path itself —
    * `decisionDir` may live on a different scheme/authority than the
    * participating tables without making them unreadable.
    */
  private[graft] def txnStatusAt(conf: org.apache.hadoop.conf.Configuration,
      decisionPath: String): Option[String] = {
    val p = new Path(decisionPath)
    val f = p.getFileSystem(conf)
    if (!f.exists(p)) None
    else {
      val st = f.getFileStatus(p)
      if (st.getLen == 0) None // claimed, content not yet flushed
      else {
        val in = f.open(p)
        val doc = try {
          val buf = new Array[Byte](st.getLen.toInt)
          in.readFully(buf)
          new String(buf, "UTF-8")
        } finally in.close()
        try Some(mapper.readTree(doc).get("status").asText())
        catch { case _: Exception => None } // partial write in flight
      }
    }
  }

  /** Publish a decision exactly once via CREATE-IF-ABSENT
    * (`create(p, overwrite = false)`): the slot claim is atomic on
    * HDFS-like stores and serialized by `commitLock` in-process.
    * Rename is deliberately NOT the publish primitive — POSIX /
    * RawLocalFileSystem rename overwrites its destination, which would
    * let a [[rollbackTxn]] in another process silently clobber a
    * published "committed" after the coordinator returned success.
    * First writer wins; a later decide (a rollback racing the
    * coordinator's commit, or vice versa) returns the EXISTING status
    * unchanged — a decision can never flip, which is what makes the
    * prepare-visibility check in [[snapshotAt]] stable across reads.
    * A zero-length slot older than `stalenessMs` is a writer that
    * crashed mid-create — reclaimed via [[reclaimStaleClaim]]'s
    * tombstone-rename, which is safe because that writer never
    * returned an outcome to anyone (presumed abort) and, being a
    * rename, can never unlink a publish that landed in the
    * check→reclaim gap.
    *
    * The claim-wait (a racing writer's create→write gap) runs OUT
    * HERE, lock-free: [[decideOnce]] is idempotent, and holding the
    * JVM-wide `commitLock` through a cross-process gap would stall
    * unrelated in-process commits for the full poll budget.
    * `tables` (the participating tableDirs, when known) is embedded
    * in the decision document so [[vacuumDecisions]] can self-check
    * references instead of trusting its caller's table list.
    */
  private def decide(conf: org.apache.hadoop.conf.Configuration,
      decisionPath: String, status: String,
      stalenessMs: Long = 60 * 1000L,
      tables: Seq[String] = Seq.empty): String = {
    var out: Option[String] = None
    var i = 0
    while (out.isEmpty && i < 150) {
      out = decideOnce(conf, decisionPath, status, stalenessMs, tables)
      if (out.isEmpty) Thread.sleep(10)
      i += 1
    }
    out.getOrElse(sys.error(
      s"decision slot $decisionPath is claimed but unwritten; " +
      "retry once the writer finishes or its claim goes stale"))
  }

  /** One lock-held decision attempt: `Some(finalStatus)` once a
    * decision stands (ours, a winner's, or one restored by the
    * reclaim fence), `None` while a racing writer holds the
    * zero-length claim — the caller sleeps outside the lock and
    * retries.
    */
  private def decideOnce(conf: org.apache.hadoop.conf.Configuration,
      decisionPath: String, status: String, stalenessMs: Long,
      tables: Seq[String]): Option[String] = commitLock.synchronized {
    val p = new Path(decisionPath)
    val f = p.getFileSystem(conf)
    txnStatusAt(conf, decisionPath) match {
      case some @ Some(_) => some
      case None =>
        val live = f.exists(p) &&
          f.getFileStatus(p).getModificationTime >
            System.currentTimeMillis() - stalenessMs
        if (live) None // a LIVE racing writer holds the claim: wait it out
        else {
          val restored = if (f.exists(p)) reclaimStaleClaim(f, p) else None
          restored.orElse {
            f.mkdirs(p.getParent)
            val root = mapper.createObjectNode()
            root.put("status", status)
            root.put("at_ms", System.currentTimeMillis())
            if (tables.nonEmpty) {
              val a = root.putArray("tables")
              tables.foreach(a.add)
            }
            try {
              val out = f.create(p, false)
              try out.write(mapper.writeValueAsString(root).getBytes("UTF-8"))
              finally out.close()
              // fencing re-read: a writer paused past `stalenessMs`
              // between create and write can have its claim reclaimed
              // as stale by a concurrent decide — returning the
              // OBSERVED status (not the intended one) turns that
              // clobber into a loud coordinator error (commitAll
              // requires "committed") instead of a silent
              // wrong-outcome return
              Some(txnStatusAt(conf, decisionPath).getOrElse(sys.error(
                s"decision publish at $decisionPath vanished out from " +
                "under its writer (stale-claim reclaim race?) — retry")))
            } catch {
              case _: java.io.IOException =>
                None // lost the cross-process claim race: wait it out
            }
          }
        }
    }
  }

  /** Reclaim a stale zero-length decision claim via TOMBSTONE-RENAME,
    * never a bare delete: rename is atomic, so whatever the slot held
    * at the reclaim instant — the crashed writer's empty claim, or a
    * publish that landed in the staleness-check→reclaim gap from a
    * writer paused past `stalenessMs` — moves intact to a
    * uniquely-named tombstone and is inspected AFTER the slot is
    * exclusively ours. A bare delete could unlink a
    * microseconds-earlier publish (flipping an outcome its
    * coordinator may already have returned); with the tombstone such
    * a publish is detected and restored verbatim through the normal
    * create-if-absent primitive. Returns `Some(status)` when the
    * "stale" claim turned out to be a landed decision (now standing
    * again), `None` when the slot was a genuine crashed claim and is
    * free for the caller to publish into.
    */
  private[graft] def reclaimStaleClaim(f: FileSystem, p: Path): Option[String] = {
    val tomb = new Path(p.getParent,
      p.getName + s".reclaim-${java.util.UUID.randomUUID()}")
    if (!f.rename(p, tomb)) None // slot vanished: create-if-absent arbitrates
    else {
      val st = try f.getFileStatus(tomb) catch {
        case _: java.io.FileNotFoundException => return None
      }
      if (st.getLen == 0) { f.delete(tomb, false); None }
      else {
        // the claim had actually been published — restore it verbatim
        val buf = new Array[Byte](st.getLen.toInt)
        val in = f.open(tomb)
        try in.readFully(buf) finally in.close()
        val observed =
          try Some(mapper.readTree(new String(buf, "UTF-8"))
            .get("status").asText())
          catch { case _: Exception => None }
        try {
          val out = f.create(p, false)
          try out.write(buf) finally out.close()
        } catch {
          case _: java.io.IOException => () // another decider published first
        }
        f.delete(tomb, false)
        val standing = txnStatusAt(f.getConf, p.toString)
        (observed, standing) match {
          case (Some(o), Some(s)) if o == s => Some(o)
          case (Some(o), s) => sys.error(
            s"reclaim displaced a published '$o' at $p but the slot " +
            s"now holds '$s' — decision integrity breach, refusing to " +
            "proceed")
          case (None, s) => s // garbled displaced bytes: standing wins
        }
      }
    }
  }

  /** Atomic MULTI-TABLE transaction — append each `(df, tableDir,
    * partCols)` so that ALL tables' new rows become visible together
    * or none do (the cross-table atomicity Delta itself lacks;
    * decision-file two-phase commit, the coordinator half of the
    * read-side protocol in [[snapshotAt]]/[[commit]]).
    *
    * Phase 1 (prepare): each table gets a normal staged commit whose
    * log doc carries the SHARED `txn_decision` path. While that file
    * is absent, every reader excludes the prepare's adds and every
    * other writer refuses to stack on the undecided head — the
    * in-flight window is the prepare→decide gap, milliseconds.
    * Phase 2 (decide): one CREATE-IF-ABSENT publish lands
    * "committed"; all prepares flip visible in the same instant. Any
    * prepare failure
    * (constraint violation, conflict abort) publishes "aborted" before
    * rethrowing, voiding the prepares that already landed — their
    * staged files are never listed and age out via [[vacuum]]'s grace
    * clock. A coordinator that CRASHES between phases leaves the
    * decision absent: readers keep excluding, writers stay blocked,
    * until [[rollbackTxn]] publishes the abort.
    *
    * Scale shape: pure log/decision metadata on top of the normal
    * staged writes — no extra data movement, no cross-table lock; the
    * per-table commit race/rebase rules apply to each prepare
    * unchanged. The decision file must outlive every retained log
    * entry referencing it (KB-scale; keep `decisionDir` outside any
    * vacuumed tree). Returns (decisionPath, tableDir → prepare
    * version).
    */
  def commitAll(spark: SparkSession,
      writes: Seq[(DataFrame, String, Seq[String])],
      decisionDir: String): (String, Map[String, Long]) = {
    require(writes.nonEmpty, "commitAll needs at least one write")
    require(writes.map(_._2).distinct.size == writes.size,
      "one prepare per table: duplicate tableDir in commitAll")
    val hconf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, decisionDir)
    val decisionPath = f.makeQualified(new Path(decisionDir,
      s"txn-${java.util.UUID.randomUUID()}.json")).toString
    val prepared = mutable.Map.empty[String, Long]
    try {
      writes.foreach { case (df, tableDir, partCols) =>
        val head = headSnapshot(spark, tableDir)
        enforceConstraints(head, df, "commitAll")
        val schema = evolvedSchema(head, df, partCols)
        val added = stage(df, tableDir, partCols)
        prepared(tableDir) = commit(spark, tableDir, "txn_append", schema,
          partCols, txnDecision = Some(decisionPath),
          expectedConstraints =
            Some(head.map(_.constraints).getOrElse(Map.empty)))(
          headFiles => headFiles ++ added)
      }
    } catch {
      case e: Throwable =>
        decide(hconf, decisionPath, "aborted",
          tables = writes.map(_._2))
        throw e
    }
    val outcome = decide(hconf, decisionPath, "committed",
      tables = writes.map(_._2))
    require(outcome == "committed",
      s"transaction $decisionPath was decided '$outcome' out from under " +
      "its coordinator (concurrent rollbackTxn?)")
    (decisionPath, prepared.toMap)
  }

  /** Resolve a stuck multi-table transaction (crashed coordinator):
    * publish "aborted" unless a decision already exists, and return
    * the final status. Safe on a decided txn — the existing decision
    * stands. Unblocks writers on every table whose head is the txn's
    * prepare; the aborted prepares' staged files age out via
    * [[vacuum]].
    */
  def rollbackTxn(spark: SparkSession, decisionPath: String): String =
    decide(spark.sparkContext.hadoopConfiguration, decisionPath, "aborted")

  /** The schema a READER of this table sees: partition columns read
    * back from directory names lose nullability-irrelevant writer
    * details, so derive it from an actual staged read once written —
    * cheap approximation: writer schema with partition cols moved last
    * (Spark appends partition columns on read).
    */
  private def readSchema(df: DataFrame, partCols: Seq[String]): StructType = {
    val data = df.schema.fields.filterNot(f => partCols.contains(f.name))
    val parts = partCols.map(n => df.schema.fields.find(_.name == n).getOrElse(
      sys.error(s"partition column $n missing from frame")))
    StructType(data ++ parts)
  }

  /** Dynamic-partition-overwrite, snapshot style: files of partitions
    * PRESENT in `df` are unlinked from the listing, the staged
    * replacements linked in, one atomic commit. Readers of prior
    * versions keep the old files (nothing is deleted here).
    */
  def overwritePartitions(df: DataFrame, tableDir: String,
      partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "overwritePartitions needs partition columns")
    val spark = df.sparkSession
    val base = headSnapshot(spark, tableDir)
    enforceConstraints(base, df, "overwritePartitions")
    val schema = evolvedSchema(base, df, partCols)
    val added = stage(df, tableDir, partCols)
    val touched = added.map(partPrefix).toSet
    commit(spark, tableDir, "overwrite_partitions",
      schema, partCols, base,
      fp => touched.contains(partPrefix(fp)),
      expectedConstraints = Some(base.map(_.constraints).getOrElse(Map.empty))) {
      headFiles =>
      headFiles.filterNot(fp => touched.contains(partPrefix(fp))) ++ added
    }
  }

  private[graft] def headSnapshot(spark: SparkSession,
      tableDir: String): Option[Snapshot] =
    latestVersion(spark, tableDir).map(snapshotAt(spark, tableDir, _))

  /** The head snapshot and its rows, resolved ONCE. A rewriter must
    * read the same version it commits against: resolving the head a
    * second time for the commit base could pick up an append that the
    * read never saw, and the rebase would then unlink that append's
    * file with its rows in no rewrite — lost without an error.
    */
  private def headWithRows(spark: SparkSession,
      tableDir: String): (Snapshot, DataFrame) = {
    val snap = headSnapshot(spark, tableDir).getOrElse(
      sys.error(s"$tableDir has no committed snapshot"))
    (snap, readFiles(spark, tableDir, snap, snap.files))
  }

  /** Total size of one partition's listed files with ONE `listStatus`
    * per LOCAL partition directory (the compaction planner's cost
    * class — O(partitions) metadata calls, not O(files)); foreign
    * (clone-referenced) files fall back to a per-file `getFileStatus`
    * against their own root, and a partition whose files are ALL
    * foreign has no local directory to list at all.
    */
  private def partitionBytes(f: FileSystem, tableDir: String,
      part: String, files: Seq[String]): Long = {
    val dirPath = if (part.isEmpty) new Path(tableDir)
      else new Path(tableDir, part)
    lazy val lens =
      if (f.exists(dirPath))
        f.listStatus(dirPath).iterator
          .map(st => st.getPath.getName -> st.getLen).toMap
      else Map.empty[String, Long]
    files.map { e =>
      val (base, rel) = entrySplit(e)
      val name = rel.substring(rel.lastIndexOf('/') + 1)
      if (base.isDefined) f.getFileStatus(dataPath(tableDir, e)).getLen
      else lens.getOrElse(name,
        f.getFileStatus(new Path(tableDir, rel)).getLen)
    }.sum
  }

  /** `part=a/part2=b/file.parquet` → `part=a/part2=b`. A foreign
    * (clone-referenced) entry groups by the partition subpath within
    * ITS OWN root, so local and foreign files of one logical partition
    * plan together.
    */
  private def partPrefix(entry: String): String = {
    val rel = entrySplit(entry)._2
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** True when any `col=value` directory segment of `rel` matches one
    * of `leaves` — depth-agnostic, so a single-column predicate finds
    * its partition inside a multi-level `p1=a/p2=b/...` layout too.
    */
  private def inPartitions(rel: String, leaves: Set[String]): Boolean =
    partPrefix(rel).split('/').exists(leaves.contains)

  /** Hive directory leaf for one partition value (null → reserved
    * default-partition name), shared with [[Deletes]]' semantics.
    */
  private def partLeaf(partCol: String, v: Any): String =
    s"$partCol=" + (if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(String.valueOf(v)))

  /** Targeted delete, snapshot style (the [[Deletes.deleteByKeys]]
    * primitive routed through the log): rewrite ONLY partitions holding
    * a doomed key, commit survivors atomically. A reader concurrent
    * with the rewrite sees either the old snapshot or the new one —
    * never a half-rewritten partition — and `readAt` of prior versions
    * still serves the deleted rows until [[vacuum]] (retention is the
    * right-to-be-forgotten clock, exactly as in Delta).
    * Returns (newVersion, affectedPartitionValues).
    */
  def deleteByKeys(spark: SparkSession, tableDir: String, keyCol: String,
      keys: DataFrame, partCol: String): (Long, Seq[Any]) = {
    val (snap, table) = headWithRows(spark, tableDir)
    val affected = table
      .join(broadcast(keys), Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq // partition values: scheduler-sized
    if (affected.isEmpty) return (snap.version, Nil)
    val affectedPred = affected.map(v => col(partCol) <=> lit(v)).reduce(_ || _)
    val survivors = table.filter(affectedPred)
      .join(broadcast(keys), Seq(keyCol), "left_anti")
    val added = stage(survivors, tableDir, snap.partCols)
    // segment match (not whole-prefix equality): with multi-level
    // partitioning the doomed leaf is one segment of a deeper path
    val doomedDirs = affected.map(v => partLeaf(partCol, v)).toSet
    val v = commit(spark, tableDir, "delete", snap.schema, snap.partCols,
      Some(snap), fp => inPartitions(fp, doomedDirs)) { headFiles =>
        headFiles.filterNot(fp => inPartitions(fp, doomedDirs)) ++ added
    }
    (v, affected)
  }

  /** Merge-on-read row delete (Delta/Iceberg DELETION VECTORS): mark
    * the rows matching `pred` as deleted WITHOUT rewriting any data
    * file — the commit adds one KB-scale DV parquet of doomed
    * `(file_name, row_index)` pairs and maps each affected data file
    * to it; every read path subtracts them. This is the
    * latency-shaped delete: a GDPR purge over a 100 TB table touches
    * no data file at commit time, and [[compact]] / [[optimizeZOrder]]
    * physically purge the doomed rows later (their rewrites read
    * DV-aware and drop the entries). Contrast [[deleteByKeys]], the
    * copy-on-write path that rewrites affected partitions up front —
    * right when deletes are bulk, wrong when they are point lookups.
    *
    * Semantics: doomed rows are computed against the CURRENT snapshot
    * (prior DVs applied, so re-deleting is idempotent and a second
    * overlapping delete unions per file). Time travel to a pre-delete
    * version still serves the rows; vacuum of that version is the
    * right-to-be-forgotten clock, as with the copy-on-write path.
    * Per-file stats stay as written — conservative (the doomed rows
    * can only narrow true ranges), so data skipping never
    * false-prunes. A concurrent rewrite (compact/zorder/delete) of an
    * affected file aborts this commit rather than letting the DV
    * reference a swapped-out file. Returns (version, doomedRowCount) —
    * (head, 0) with no commit when nothing matches.
    *
    * The DV write is `repartition(1)`: ONE file per delete commit,
    * deliberately — DV row sets are point-delete-sized by contract
    * (Delta's DVs are single per-transaction bitmaps for the same
    * reason); a predicate that dooms a table-sized row set belongs on
    * the copy-on-write path.
    */
  def deleteWhere(spark: SparkSession, tableDir: String,
      pred: org.apache.spark.sql.Column): (Long, Long) = {
    val head = latestVersion(spark, tableDir).getOrElse(
      sys.error(s"$tableDir has no committed snapshot"))
    val snap = snapshotAt(spark, tableDir, head)
    if (snap.files.isEmpty) return (head, 0L)
    val f = fs(spark, tableDir)
    // per-root scans (clone listings mix roots); _metadata resolves
    // only inside each scan, so stamp the DV key columns per group
    val scan = snap.files
      .groupBy(e => entrySplit(e)._1.getOrElse(tableDir)).toSeq.sortBy(_._1)
      .map { case (base, g) =>
        spark.read.option("basePath", base).schema(snap.schema)
          .parquet(g.map(e => dataPath(tableDir, e).toString): _*)
          .withColumn("_dv_path", col("_metadata.file_path"))
          .withColumn("_dv_row", col("_metadata.row_index"))
      }.reduce(_ unionByName _)
    val live =
      if (snap.dvs.isEmpty) scan
      else {
        val dvRels = snap.dvs.values.flatten.toSeq.distinct
        val dv = spark.read.schema(DvSchema)
          .parquet(dvRels.map(rel => dataPath(tableDir, rel).toString): _*)
        scan.join(broadcast(dv),
          col("_dv_path") === dv("file_path") &&
            col("_dv_row") === dv("row_index"), "left_anti")
      }
    val doomed = live.filter(pred)
      .select(col("_dv_path").as("file_path"), col("_dv_row").as("row_index"))
      .persist()
    try {
      // affected FILE list is scheduler-sized driver metadata (the
      // same class as Deletes' partition values)
      val affectedPaths = doomed.select(col("file_path")).distinct()
        .collect().map(_.getString(0)).toSet
      if (affectedPaths.isEmpty) return (head, 0L)
      val nDoomed = doomed.count()
      // stage the single DV file invisibly, then rename into _graft_dv
      val stagingDv = new Path(tableDir,
        "_staging/dv-" + java.util.UUID.randomUUID().toString)
      doomed.repartition(1).write.mode("overwrite").parquet(stagingDv.toString)
      val dvName = f.listStatus(stagingDv)
        .map(_.getPath.getName).find(_.endsWith(".parquet"))
        .getOrElse(sys.error("DV write produced no parquet file"))
      val dvRel = s"_graft_dv/$dvName"
      f.mkdirs(dvDir(tableDir))
      require(f.rename(new Path(stagingDv, dvName), new Path(tableDir, dvRel)),
        s"DV rename failed: $dvRel")
      f.delete(stagingDv, true)
      // map qualified URIs back to listing entries (suffix match on
      // the entry's OWN-root-relative path — each URI ends in exactly
      // one of them; the size require below catches any ambiguity)
      val affectedRels = snap.files
        .filter(e => affectedPaths.exists(_.endsWith("/" + entrySplit(e)._2)))
      require(affectedRels.size == affectedPaths.size,
        s"DV path mapping mismatch: ${affectedPaths.size} affected files " +
        s"resolved to ${affectedRels.size} listing entries")
      val affectedSet = affectedRels.toSet
      val v = commit(spark, tableDir, "delete_mor", snap.schema,
        snap.partCols, Some(snap), affectedSet.contains,
        dvAdds = affectedRels.map(_ -> Seq(dvRel)).toMap)(identity)
      (v, nDoomed)
    } finally doomed.unpersist(blocking = false)
  }

  /** Delta-style MERGE (keyed upsert): each row of `updates` replaces
    * the table row sharing its `keyCol` value, unmatched update rows
    * insert, unmatched table rows survive untouched — the table-level
    * form of the keep-latest upsert (Q19/H5), made atomic. Only the
    * partitions that hold a matched key or receive an update row are
    * rewritten and swapped in ONE commit; a concurrent writer touching
    * an affected partition aborts this merge (conflict domain) rather
    * than being silently clobbered, and matched keys whose update row
    * carries a NEW `partCol` value move partitions correctly (the old
    * copy's partition is rewritten too).
    *
    * `updates` must be key-unique — pre-dedup with keep-latest if the
    * delta can carry several versions of one key (same requirement as
    * Delta's MERGE multiple-match error). No broadcast hint on the
    * joins: a merge delta ranges from KBs to a large backfill, so the
    * planner (AQE at runtime) picks broadcast vs shuffle by size.
    * Returns (newVersion, affectedPartitionValues).
    */
  def merge(spark: SparkSession, tableDir: String, updates: DataFrame,
      keyCol: String, partCol: String): (Long, Seq[Any]) = {
    val (snap, table) = headWithRows(spark, tableDir)
    require(table.columns.sorted.sameElements(updates.columns.sorted),
      s"merge schema mismatch: table has ${table.columns.sorted.mkString(",")}" +
      s" vs updates ${updates.columns.sorted.mkString(",")}")
    enforceConstraints(Some(snap), updates, "merge")
    val updKeys = updates.select(col(keyCol))
    val affected = table.join(updKeys, Seq(keyCol), "left_semi")
      .select(col(partCol))
      .union(updates.select(col(partCol)))
      .distinct()
      .collect().map(_.get(0)).toSeq // partition values: scheduler-sized
    if (affected.isEmpty) return (snap.version, Nil)
    val affectedPred = affected.map(v => col(partCol) <=> lit(v)).reduce(_ || _)
    val rewritten = table.filter(affectedPred)
      .join(updKeys, Seq(keyCol), "left_anti")
      .unionByName(updates.select(table.columns.map(col).toIndexedSeq: _*))
    val added = stage(rewritten, tableDir, snap.partCols)
    val doomed = affected.map(v => partLeaf(partCol, v)).toSet
    val v = commit(spark, tableDir, "merge", snap.schema, snap.partCols,
      Some(snap), fp => inPartitions(fp, doomed),
      expectedConstraints = Some(snap.constraints)) { headFiles =>
        headFiles.filterNot(fp => inPartitions(fp, doomed)) ++ added
    }
    (v, affected)
  }

  /** Small-file compaction routed through the log (the
    * [[Compaction.compact]] maintenance job made atomic): partitions
    * whose listing shows more than `maxFiles` files under
    * `targetFileBytes` average are rewritten into
    * `ceil(bytes/target)` files and swapped in with ONE commit, so a
    * concurrent reader never sees a partition half-compacted and the
    * data content of the new version is bit-identical to the old.
    * Planning is pure log+FileStatus metadata — no data read.
    */
  def compact(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L << 20, maxFiles: Int = 4): (Long, Seq[String]) = {
    val head = latestVersion(spark, tableDir).getOrElse(
      sys.error(s"$tableDir has no committed snapshot"))
    val snap = snapshotAt(spark, tableDir, head)
    val f = fs(spark, tableDir)
    val byPart = snap.files.groupBy(partPrefix)
    val flagged = byPart.toSeq.sortBy(_._1).flatMap { case (part, files) =>
      val bytes = partitionBytes(f, tableDir, part, files)
      if (files.length > maxFiles &&
          bytes / math.max(files.length, 1) < targetFileBytes)
        Some((part, files, math.max(1L,
          (bytes + targetFileBytes - 1) / targetFileBytes).toInt))
      else None
    }
    if (flagged.isEmpty) return (head, Nil)
    val replaced = flagged.flatMap(_._2).toSet
    // ONE write job for every flagged partition: each partition's rows
    // are spread over its own `nOut` tasks, so it still lands as at
    // most `nOut` files, and AQE runs the per-partition exchanges side
    // by side instead of one write job after another. DV-aware read:
    // compaction PHYSICALLY PURGES merge-on-read deletes (the rewritten
    // files carry survivors only, and the replaced files' DV entries
    // fall out of the new snapshot)
    val rewritten = flagged.map { case (_, files, nOut) =>
      readFiles(spark, tableDir, snap, files).repartition(nOut)
    }.reduce(_ unionByName _)
    val added = stage(rewritten, tableDir, snap.partCols)
    // conflict domain = exactly the files being rewritten: if a racing
    // delete unlinked any of them, re-adding their contents would
    // resurrect deleted rows → abort; racing appends commute (their
    // new files pass through the rebase untouched)
    val v = commit(spark, tableDir, "compact", snap.schema, snap.partCols,
      Some(snap), replaced.contains) {
      headFiles => headFiles.filterNot(replaced.contains) ++ added
    }
    (v, flagged.map(_._1))
  }

  /** Restore the table to an older version's contents — by committing
    * a NEW version whose listing is the old one's file set (Delta's
    * RESTORE): pure metadata, no data movement, and the botched
    * versions in between stay in history for the post-mortem. Fails
    * if any of the old files were already vacuumed. Conflict domain is
    * everything (a restore that races any writer must abort — it
    * would silently undo the winner).
    */
  def restore(spark: SparkSession, tableDir: String, version: Long): Long = {
    val target = snapshotAt(spark, tableDir, version)
    val head = snapshotAt(spark, tableDir,
      latestVersion(spark, tableDir).get)
    val f = fs(spark, tableDir)
    (target.files ++ target.dvs.values.flatten).foreach { rel =>
      require(f.exists(dataPath(tableDir, rel)),
        s"cannot restore v$version: $rel was vacuumed")
    }
    // expectedConstraints closes the metadata-only race the file-domain
    // check can't see: a constraint commit racing this restore must
    // abort it, not be silently replaced by the target's set
    commit(spark, tableDir, "restore", target.schema, target.partCols,
      Some(head), _ => true,
      dvFull = Some(target.dvs),
      constraintsUpdate = Some(_ => target.constraints),
      unionSchemaWithHead = false,
      expectedConstraints = Some(head.constraints))(_ => target.files)
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): commit
    * a new table at `dstDir` whose v1 listing REFERENCES `srcDir`'s
    * files at `version` (default: head) without copying a byte — a
    * zero-copy dev/test/experiment fork of a 100 TB table in O(log)
    * metadata (per-file stats carry over, so not even a footer is
    * reopened). The clone then evolves independently:
    *  - its own appends/merges land in its own tree;
    *  - [[compact]] / [[optimizeZOrder]] / [[deleteByKeys]] rewrite
    *    foreign references into LOCAL files, un-sharing exactly the
    *    touched partitions;
    *  - [[vacuum]] only ever deletes files under its own root.
    * Deletion vectors, CHECK constraints and properties carry over; txn
    * idempotence slots do NOT (the clone is a new table identity, as
    * in Delta). A clone of a clone keeps pointing at the ORIGINAL
    * physical files.
    *
    * Caveat (Delta's too): a source-side rewrite (delete/compact) only
    * unlinks files from the SOURCE listing — harmless here — but
    * source [[vacuum]] physically deletes them and breaks clones still
    * referencing them. Fork tables you vacuum aggressively with a deep
    * copy instead: `overwrite(readAt(spark, src, v), dst, partCols)`.
    */
  def cloneShallow(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None): Long = {
    require(latestVersion(spark, dstDir).isEmpty,
      s"clone target $dstDir already has a committed snapshot")
    val v = version.getOrElse(latestVersion(spark, srcDir).getOrElse(
      sys.error(s"$srcDir has no committed snapshot")))
    val snap = snapshotAt(spark, srcDir, v)
    val srcRoot = fs(spark, srcDir).makeQualified(new Path(srcDir)).toString
    require(!srcRoot.contains("::"), s"source root $srcRoot contains '::'")
    def retag(e: String): String = entrySplit(e) match {
      case (Some(_), _) => e // already foreign: keep the ORIGINAL root
      case (None, rel) => s"$srcRoot::$rel"
    }
    commit(spark, dstDir, "clone", snap.schema, snap.partCols,
      dvFull = Some(
        snap.dvs.map { case (k, dvFiles) => retag(k) -> dvFiles.map(retag) }),
      constraintsUpdate = Some(_ => snap.constraints),
      unionSchemaWithHead = false,
      precomputedStats =
        snap.stats.map { case (k, cols) => retag(k) -> cols },
      precomputedRows = snap.rows.map { case (k, n) => retag(k) -> n },
      propertiesUpdate = Some(_ => snap.properties))(
      _ => snap.files.map(retag))
  }

  /** The commit history, newest first: one row per retained log entry
    * with its op, timestamp and add/remove counts (DESCRIBE HISTORY).
    * Driver-side log metadata only — never touches data files.
    */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, tableDir)
    versions(spark, tableDir).reverse.map { v =>
      val n = readDoc(f, tableDir, v)
      (v, n.get("op").asText(), n.get("at_ms").asLong(),
        strArr(n, "adds").size.toLong, strArr(n, "removes").size.toLong,
        n.has("files"))
    }.toDF("version", "op", "at_ms", "n_added", "n_removed", "is_checkpoint")
  }

  /** Partition prefixes that received new files in `(sinceVersion,
    * head]` — pure LOG metadata (each commit's `adds` delta; no
    * snapshot reconstruction, no listing), KB-scale however big the
    * table. This is the planning half of incremental maintenance:
    * `optimizeZOrder(..., onlyPartitions = partitionsChangedSince(...))`
    * re-clusters exactly where new data landed.
    */
  def partitionsChangedSince(spark: SparkSession, tableDir: String,
      sinceVersion: Long): Set[String] = {
    val f = fs(spark, tableDir)
    versions(spark, tableDir).filter(_ > sinceVersion).flatMap { v =>
      strArr(readDoc(f, tableDir, v), "adds").map(partPrefix)
    }.toSet
  }

  /** One-row table summary (DESCRIBE DETAIL): head version and op,
    * file/byte/partition counts, DV and constraint counts, retained
    * log span. Driver-side metadata only — one log read plus one
    * `listStatus` per partition directory (the compaction planner's
    * cost class), no data scanned.
    */
  def detail(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val head = latestVersion(spark, tableDir).getOrElse(
      sys.error(s"$tableDir has no committed snapshot"))
    val snap = snapshotAt(spark, tableDir, head)
    val f = fs(spark, tableDir)
    val byPart = snap.files.groupBy(partPrefix)
    val bytes = byPart.iterator.map { case (part, files) =>
      partitionBytes(f, tableDir, part, files)
    }.sum
    val vs = versions(spark, tableDir)
    Seq((head, snap.op, snap.files.size.toLong, bytes,
      byPart.size.toLong, snap.partCols.mkString(","),
      snap.dvs.values.flatten.toSeq.distinct.size.toLong,
      snap.constraints.size.toLong, vs.head, vs.size.toLong))
      .toDF("version", "op", "num_files", "size_bytes", "num_partitions",
        "part_cols", "num_dv_files", "num_constraints",
        "oldest_retained_version", "num_retained_versions")
  }

  /** Z-order OPTIMIZE routed through the log: rewrite every partition
    * of the head along the Morton curve of `cols`
    * ([[ZOrder.layout]]) into `ceil(bytes/targetFileBytes)` files and
    * swap the listing in ONE commit — data-identical, layout-only.
    * Readers concurrent with the rewrite keep the old snapshot; a
    * racing delete on any rewritten file aborts this optimize
    * (conflict domain = the whole replaced listing) so it can never
    * resurrect purged rows. The stats pass behind the Morton key runs
    * per partition, keeping each partition's curve tight over its own
    * value ranges. Returns (newVersion, rewrittenPartitions).
    *
    * `onlyPartitions` scopes the rewrite to the partition prefixes it
    * accepts — the INCREMENTAL OPTIMIZE shape: at 100 TB nobody
    * re-clusters the whole table nightly; pair with
    * [[partitionsChangedSince]] to rewrite exactly the partitions new
    * data landed in since the last optimize. Unselected partitions
    * keep their files (and are outside the conflict domain, so
    * concurrent writers there commute).
    */
  def optimizeZOrder(spark: SparkSession, tableDir: String,
      cols: Seq[String], targetFileBytes: Long = 128L << 20,
      onlyPartitions: String => Boolean = _ => true): (Long, Seq[String]) = {
    val head = latestVersion(spark, tableDir).getOrElse(
      sys.error(s"$tableDir has no committed snapshot"))
    val snap = snapshotAt(spark, tableDir, head)
    require(cols.forall(c => !snap.partCols.contains(c)),
      s"z-order columns $cols must not overlap partition columns ${snap.partCols}")
    val f = fs(spark, tableDir)
    val plans = snap.files.groupBy(partPrefix).toSeq.sortBy(_._1)
      .filter { case (part, _) => onlyPartitions(part) }
      .map { case (part, files) =>
        val bytes = partitionBytes(f, tableDir, part, files)
        (part, files, math.max(1L,
          (bytes + targetFileBytes - 1) / targetFileBytes).toInt)
    }
    if (plans.isEmpty) return (head, Nil)
    val replaced = plans.flatMap(_._2).toSet
    val added = plans.flatMap { case (_, files, nOut) =>
      // DV-aware read: the clustered rewrite physically purges
      // merge-on-read deletes along the way
      val part = readFiles(spark, tableDir, snap, files)
      stage(ZOrder.layout(part, cols, nOut), tableDir, snap.partCols)
    }
    val v = commit(spark, tableDir, "zorder", snap.schema, snap.partCols,
      Some(snap), replaced.contains) {
      headFiles => headFiles.filterNot(replaced.contains) ++ added
    }
    (v, plans.map(_._1))
  }

  /** Drop every data file not referenced by the newest `retainLast`
    * snapshots, and the log entries of the expired versions — after
    * this, `readAt` of an expired version fails loudly instead of
    * reading half-vacuumed data. This is the retention boundary that
    * makes [[deleteByKeys]] a real purge. Returns deleted rel paths.
    *
    * `staleGraceMs` protects IN-FLIGHT writers: a commit's staged
    * files are already renamed into the live tree before its log entry
    * exists, so an unreferenced file younger than the grace window is
    * presumed staged-not-yet-committed and kept (Delta's retention
    * check, scaled to commit latency rather than its 7-day default).
    * Pass 0 only when no writer can be concurrent.
    */
  def vacuum(spark: SparkSession, tableDir: String, retainLast: Int = 2,
      staleGraceMs: Long = 20 * 60 * 1000L): Seq[String] = {
    val f = fs(spark, tableDir)
    val all = versions(spark, tableDir)
    val retained = all.takeRight(math.max(retainLast, 1))
    // one reconstruction per retained version serves both keep sets
    // (data files and DVs) — this is the maintenance path's only
    // driver-side log replay
    val retainedSnaps = retained.map(v => snapshotAt(spark, tableDir, v))
    // an UNDECIDED multi-table prepare's staged adds are excluded from
    // snapshot files but must survive the sweep: if the coordinator
    // later decides "committed" those files become live retroactively.
    // (A crashed coordinator can leave the prepare undecided well past
    // the grace window — unlike plain staged-not-yet-committed writes,
    // age proves nothing here.)
    val hconf = spark.sparkContext.hadoopConfiguration
    val undecidedDocs = retained.map(v => v -> readDoc(f, tableDir, v))
      .filter { case (_, d) =>
        Option(d.get("txn_decision")).map(_.asText())
          .exists(p => txnStatusAt(hconf, p).isEmpty)
      }
    val pendingAdds = undecidedDocs.flatMap { case (_, d) => strArr(d, "adds") }
    val keep = (retainedSnaps.flatMap(_.files) ++ pendingAdds).toSet
    val cutoffMs = System.currentTimeMillis() - math.max(staleGraceMs, 0L)
    val dropped = mutable.ArrayBuffer.empty[String]
    def walk(p: Path, rel: String): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (!name.startsWith("_")) walk(st.getPath, s"$rel$name/")
        } else if (name.endsWith(".parquet") && !keep.contains(rel + name) &&
            st.getModificationTime < cutoffMs) {
          f.delete(st.getPath, false)
          dropped += rel + name
        }
      }
    walk(new Path(tableDir), "")
    // DV files live under the log-invisible _graft_dv dir the data
    // walk skips: sweep them against the retained snapshots' DV
    // references, on the same grace clock (an unreferenced young DV
    // may belong to an in-flight delete_mor commit)
    val keepDvs = retainedSnaps.flatMap(_.dvs.values.flatten).toSet
    val dvd = dvDir(tableDir)
    if (f.exists(dvd)) f.listStatus(dvd).foreach { st =>
      val rel = s"_graft_dv/${st.getPath.getName}"
      if (st.getPath.getName.endsWith(".parquet") && !keepDvs.contains(rel) &&
          st.getModificationTime < cutoffMs) {
        f.delete(st.getPath, false)
        dropped += rel
      }
    }
    val expired = all.dropRight(math.max(retainLast, 1))
    // An UNDECIDED prepare anywhere in the retained range freezes log
    // truncation: promoting it (or a successor) to a checkpoint would
    // bake the current "excluded" reading of its adds into the full
    // listing permanently — snapshotAt's checkpoint path only ever
    // backs adds OUT, so when the coordinator later decides
    // "committed" the rows would vanish from that version forward.
    // Data/DV sweeps above already ran (pendingAdds kept); only the
    // log-entry work is deferred until the txn is decided.
    if (undecidedDocs.nonEmpty) return dropped.toSeq.sorted
    // promote the oldest retained version to a checkpoint if it is
    // delta-encoded: its reconstruction chain is about to be deleted.
    // The rewrite is semantically the same doc plus the full listing;
    // delete+rename under the lock leaves only a sub-ms missing-doc
    // window on filesystems whose rename cannot overwrite.
    if (expired.nonEmpty) retained.headOption.foreach { v =>
      val doc = readDoc(f, tableDir, v)
      if (!doc.has("files")) {
        val snap = retainedSnaps.head // reconstructed pre-deletion above
        val root = doc.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
        // a DECIDED txn_decision is baked in: snap.files already
        // reflects the outcome (committed → adds listed, aborted →
        // excluded), so the promoted checkpoint drops the reference —
        // making it self-contained and the decision file GC-able
        // ([[vacuumDecisions]]). Undecided never reaches here (guard
        // above).
        root.remove("txn_decision")
        val arr = root.putArray("files")
        snap.files.foreach(arr.add)
        root.remove("rows") // promote the FULL row-count map too
        putRows(root, snap.rows)
        root.remove("stats") // and the FULL stats map
        if (snap.stats.nonEmpty) {
          val sn = root.putObject("stats")
          snap.stats.foreach { case (rel, cols) =>
            val cn = sn.putObject(rel)
            cols.foreach { case (c, (mn, mx)) =>
              val a = cn.putArray(c); a.add(mn); a.add(mx)
            }
          }
        }
        // promote the FULL DV map as well — a checkpoint without it
        // would resurrect merge-on-read-deleted rows after its
        // reconstruction chain expires
        root.remove("dvs")
        root.put("dvs_full", true)
        if (snap.dvs.nonEmpty) {
          val dn = root.putObject("dvs")
          snap.dvs.toSeq.sortBy(_._1).foreach { case (rel, dvFiles) =>
            val a = dn.putArray(rel)
            dvFiles.foreach(a.add)
          }
        }
        val tmp = new Path(logDir(tableDir),
          s".tmp-${java.util.UUID.randomUUID()}.json")
        val out = f.create(tmp, true)
        try out.write(mapper.writeValueAsString(root).getBytes("UTF-8"))
        finally out.close()
        commitLock.synchronized {
          val p = versionPath(tableDir, v)
          f.delete(p, false)
          require(f.rename(tmp, p), s"checkpoint promotion failed: $p")
        }
      }
    }
    expired.foreach(v => f.delete(versionPath(tableDir, v), false))
    // orphaned commit tmps (crashed writers) age out on the same clock
    val ld = logDir(tableDir)
    if (f.exists(ld)) f.listStatus(ld).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime < cutoffMs)
        f.delete(st.getPath, false)
    }
    dropped.toSeq.sorted
  }

  /** GC multi-table-transaction decision files: a DECIDED decision that
    * no surviving log entry of any participating table references is
    * dead metadata — [[vacuum]]'s log truncation (which bakes decided
    * outcomes into promoted checkpoints) is what unreferences them, and
    * without this sweep a long-lived lake accumulates one KB-file per
    * transaction forever. Kept: decisions referenced by ANY remaining
    * log doc of `tableDirs` (the caller lists every table that ever
    * participated — same contract as choosing `decisionDir`),
    * zero-length claims (an in-flight [[decide]], arbitrated there,
    * never here), and anything younger than `staleGraceMs` (covers the
    * reference-scan-vs-new-txn race: a new txn's prepares land BEFORE
    * its decision file exists, so an unreferenced-but-young decision
    * may belong to a txn whose prepares this scan just missed).
    *
    * Self-checking: [[commitAll]] embeds the participating tableDirs
    * in each decision document, and this sweep unions those with the
    * caller's `tableDirs` per candidate — so omitting a participant
    * from the call can no longer delete a decision its own document
    * says is in use (the caller list still matters for pre-embedding
    * decisions and rollback-published ones, which carry no table
    * list). Returns the deleted paths.
    */
  def vacuumDecisions(spark: SparkSession, decisionDir: String,
      tableDirs: Seq[String],
      staleGraceMs: Long = 20 * 60 * 1000L): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dd = new Path(decisionDir)
    val df = dd.getFileSystem(hconf)
    if (!df.exists(dd)) return Seq.empty
    // per-table referenced-decision sets, computed once per DISTINCT
    // table across caller-supplied and document-embedded dirs
    val refCache = mutable.Map.empty[String, Set[String]]
    def referencedBy(t: String): Set[String] =
      refCache.getOrElseUpdate(t, {
        val tf = fs(spark, t)
        versions(spark, t).flatMap { v =>
          Option(readDoc(tf, t, v).get("txn_decision")).map(_.asText())
        }.toSet
      })
    def embeddedTables(p: Path, len: Long): Seq[String] =
      try {
        val in = df.open(p)
        val buf = new Array[Byte](len.toInt)
        try in.readFully(buf) finally in.close()
        Option(mapper.readTree(new String(buf, "UTF-8")).get("tables"))
          .map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Seq.empty)
      } catch { case _: Exception => Seq.empty }
    val cutoffMs = System.currentTimeMillis() - math.max(staleGraceMs, 0L)
    // orphaned reclaim tombstones (reclaimer crashed between rename
    // and delete) age out on the same clock; a LIVE reclaim holds its
    // tombstone for microseconds, never near any sane grace window.
    // A non-empty orphan is a DISPLACED PUBLISH the crashed reclaimer
    // never restored — put it back through create-if-absent before
    // dropping the tombstone, so the decision outlives the crash.
    df.listStatus(dd).foreach { st =>
      val name = st.getPath.getName
      val cut = name.indexOf(".json.reclaim-")
      if (cut >= 0 && st.getModificationTime < cutoffMs) {
        if (st.getLen > 0) {
          val buf = new Array[Byte](st.getLen.toInt)
          val in = df.open(st.getPath)
          try in.readFully(buf) finally in.close()
          val orig = new Path(dd, name.substring(0, cut + 5))
          try {
            val out = df.create(orig, false)
            try out.write(buf) finally out.close()
          } catch { case _: java.io.IOException => () // slot re-decided
          }
        }
        df.delete(st.getPath, false)
      }
    }
    df.listStatus(dd).toSeq
      .filter { st =>
        !st.isDirectory &&
        st.getPath.getName.startsWith("txn-") &&
        st.getPath.getName.endsWith(".json") &&
        st.getLen > 0 &&
        st.getModificationTime < cutoffMs && {
          val q = df.makeQualified(st.getPath).toString
          val participants =
            (tableDirs ++ embeddedTables(st.getPath, st.getLen)).distinct
          !participants.exists(t => referencedBy(t).contains(q))
        }
      }
      .map { st =>
        df.delete(st.getPath, false)
        df.makeQualified(st.getPath).toString
      }.sorted
  }
}
