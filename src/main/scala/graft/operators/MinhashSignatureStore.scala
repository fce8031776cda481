package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextFns

/** Cross-run incremental NEAR-dup dedup: a persisted MinHash signature
  * store that lets each new ingest batch be near-deduplicated against
  * the full historical corpus WITHOUT recomputing history signatures
  * or re-running the history×history quadratic — the continuously-
  * ingesting companion to [[BloomIncrementalDedup]] (which is exact-key
  * only: byte-identical content). Reference semantics: the lake's
  * "only ingest new objects" upsert rule (src/main_extractor.py:400-436)
  * lifted from exact ids to the x02 near-dup contract (Jaccard ≥ t on
  * the token set).
  *
  * Store layout at `storeDir`: two [[SnapshotLog]] tables.
  *  - `docs/` — (doc_id, arr: sorted distinct tokens, sz): the exact-
  *    verify side. The store is O(corpus token sets) on disk; what the
  *    signature store buys is not storage, it is RUN cost — per batch,
  *    history contributes one column-pruned scan and zero shuffle.
  *  - `bands/` — (doc_id, band, sig: array<long>) partitioned by
  *    `bkt = hash(band, sig) mod buckets`: the candidate side.
  *    Partitioning by a key-derived bucket makes the probe's band join
  *    dynamic-partition-prunable: a small batch touches few buckets,
  *    and the store scan skips the rest (the [[AnnIndex.probe]]
  *    precedent, with DPP instead of a driver-collected static filter
  *    since the pruning key is simply part of the equi-join key).
  *
  * The bands head is the store's ONE commit point. Its table
  * properties pin the layout: `nHashes` and `nBands` (LSH band keys
  * are only comparable under one scheme, so growing the corpus into
  * the next occupancy regime — x02's `minhashSchemeFor` — is a
  * [[rebuild]], not an append; the moment to re-band is a compaction
  * decision, exactly like re-bucketing a bucketed table), `buckets`
  * (the bkt fan-out, sized from the data at build/rebuild) and
  * `docs_version`, the docs version those bands cover. Its per-file
  * row counts give the exact bands row count the probe sizing needs,
  * with no listing and no footer open.
  *
  * Probe dataflow ([[dedupAgainst]]) — the store side is NEVER
  * shuffled, the 100 TB invariant:
  *  1. incoming signatures/bands: one batch-sized aggregate.
  *  2. candidates = store bands ⋈ broadcast(incoming bands) on
  *     (bkt, band, sig) — broadcast hash join, store streams, DPP
  *     prunes buckets — plus the batch-internal self-join (d1 < d2).
  *     Multi-band collisions dedup via `distinct` on the pair (the
  *     candidate sliver, not the store, pays that exchange).
  *  3. exact verify: store docs scanned once behind a broadcast
  *     LEFT SEMI on candidate d1 ids (sliver fetch, no store shuffle),
  *     then sliver⋈sliver joins compute exact Jaccard via the
  *     codegen'd sorted-merge intersect ([[graft.expressions.SortedIntersectCount]]).
  *  4. verdict per incoming doc: keep ⇔ no match ≥ threshold in
  *     history ∪ earlier-in-batch (smaller doc_id — deterministic and
  *     order-free, so the batch rule is replayable in SQL).
  *
  * [[append]] adds a batch (the caller passes its KEPT docs) as new
  * files in both tables — O(batch) work, history untouched. Doc ids
  * must be unique across the store's lifetime (the lake's own id
  * contract); a doc re-appended under its own id is additionally
  * guarded by the d1 ≠ d2 filter, so re-probing an already-ingested
  * batch is idempotent rather than self-matching.
  *
  * Commit protocol: every writer commits docs FIRST, then bands with
  * `docs_version` set to that docs commit; every reader resolves the
  * bands head ONCE and reads docs at its `docs_version`. A crash
  * between the two commits therefore leaves a docs commit no bands
  * head names — invisible to every probe, which sees the pre-batch
  * store — and there is no torn state to recover.
  *
  * [[rebuild]] is the store's `optimize` (VERDICT r12 #2): the LSH
  * scheme is pinned at build, so a store grown past its occupancy
  * regime (x02's `minhashSchemeFor` schedule) must re-band or it
  * silently keeps a recall-collapsed scheme. Rebuild re-signatures
  * from the stored token sets (never raw text), compacts
  * replay-duplicated docs rows, overwrites docs and then bands under
  * the same protocol, and vacuums the replaced files.
  *
  * Single-writer contract: builds/appends/rebuilds are serialized by
  * the caller (dedupStream's foreachBatch already is). Readers are
  * unrestricted, except that [[rebuild]]'s vacuum deletes the
  * replaced files at once, as a fresh [[build]] deletes the old tree:
  * a probe must not run concurrently with a rebuild.
  */
object MinhashSignatureStore {

  private val BucketTargetRows = 65536L

  private val MaxBuckets = 4096L

  /** Bucket count for a layout holding `bandRows` rows: one bucket
    * per [[BucketTargetRows]], floored at 1, capped at [[MaxBuckets]]
    * (at the target that is ~270M band rows before buckets saturate;
    * a 100 TB deployment raises both together like bucketed-table
    * DDL). Data-derived at build/rebuild time and pinned in the bands
    * properties (guide §2.4/§6): a fixed 64 was both too many buckets
    * at toy scale and far too few at 100 TB. Like the LSH scheme,
    * bucket count is only comparable within one layout, so it changes
    * at build/rebuild, never at append.
    */
  private def bucketsFor(bandRows: Long): Int =
    math.max(1L, math.min(MaxBuckets, bandRows / BucketTargetRows + 1)).toInt

  /** Target rows per docs file (r18): a batch's docs are written
    * `coalesce`d to ⌈docs / this⌉ files (capped at the session
    * parallelism) instead of one near-empty file per shuffle
    * partition — a small-batch append writes 1 docs file, not 32, and
    * every later probe's docs scan reads that many fewer files.
    */
  private val DocsRowsPerFile = 65536L

  private def docsFiles(spark: SparkSession, nDocs: Long): Int =
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      nDocs / DocsRowsPerFile + 1)).toInt

  private def docsDir(storeDir: String) = s"$storeDir/docs"
  private def bandsDir(storeDir: String) = s"$storeDir/bands"

  /** The bands-head properties that pin the layout. */
  private val NHashes = "nHashes"
  private val NBands = "nBands"
  private val Buckets = "buckets"
  private val DocsVersion = "docs_version"

  /** One consistent view of the store, taken from ONE bands head: the
    * scheme, the bands row count (the sum of the log's per-file row
    * counts), the bands files, and docs read at the version those
    * bands cover.
    */
  private final class Store(spark: SparkSession, storeDir: String,
      val head: SnapshotLog.Snapshot) {
    private def prop(k: String): Long = head.properties.getOrElse(k,
      sys.error(s"$storeDir: bands v${head.version} has no '$k' property")).toLong
    val nHashes: Int = prop(NHashes).toInt
    val nBands: Int = prop(NBands).toInt
    val buckets: Int = prop(Buckets).toInt
    def bandsRows: Long = head.files.iterator.map(head.rows).sum
    def bands: DataFrame =
      SnapshotLog.readFiles(spark, bandsDir(storeDir), head, head.files)
    def docs: DataFrame =
      SnapshotLog.readAt(spark, docsDir(storeDir), prop(DocsVersion))
  }

  /** Resolve the store's bands head. A directory without one (not a
    * store, or a build that crashed before its bands commit) fails
    * loudly instead of probing an empty or scheme-less store.
    */
  private def open(spark: SparkSession, storeDir: String): Store =
    new Store(spark, storeDir,
      SnapshotLog.headSnapshot(spark, bandsDir(storeDir)).getOrElse(
        throw new java.io.FileNotFoundException(
          s"$storeDir has no committed bands snapshot " +
            "(not a signature store, or a half-built one)")))

  /** The store's exact bands row count, from the bands head's per-file
    * row counts: log metadata only, no Spark job, no listing. Callers
    * use it as a SCALE SIGNAL (e.g. x71/x78's concurrent-vs-sequential
    * probe-leg routing): it is the only store-size figure available for
    * zero cost before any probe plan is built.
    */
  private[graft] def storedBandsRows(spark: SparkSession, storeDir: String): Long =
    open(spark, storeDir).bandsRows

  /** (nHashes, nBands) pinned at build time. */
  def readScheme(spark: SparkSession, storeDir: String): (Int, Int) = {
    val s = open(spark, storeDir)
    (s.nHashes, s.nBands)
  }

  /** (doc_id, arr, sz): sorted distinct token sets — x02's exact-verify
    * representation (tokenize → distinct → sort), so the Jaccard this
    * store enforces is bit-identical to the in-corpus operator's.
    */
  private[graft] def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextFns.tokenize(col("text"))).as("tok"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("arr"),
        count(lit(1)).as("sz"))

  private val P = TextFns.HashMod

  /** Per-doc signature (doc_id, mh0..mh{n-1}) from cached token sets:
    * all n min-hashes come out of ONE hash aggregate over the exploded
    * set (the x02 shape — no ×n row explode).
    */
  private[graft] def signatures(arrs: DataFrame, nHashes: Int,
      perms: Seq[(Int, Long, Long)]): DataFrame = {
    val mhCols = perms.take(nHashes).map { case (j, a, b) =>
      min((lit(a) * col("th") + lit(b)) % P).as(s"mh$j")
    }
    arrs.select(col("doc_id"), explode(col("arr")).as("tok"))
      .withColumn("th", TextFns.tokHash(col("tok")))
      .groupBy(col("doc_id"))
      .agg(mhCols.head, mhCols.tail: _*)
  }

  /** Exploded band rows (doc_id, band, sig, bkt) with x02's lossless
    * two-per-long pack (each min-hash < P < 2^30). `buckets` is the
    * store's scheme-pinned fan-out — probe and write sides must
    * compute bkt under the SAME modulus or the DPP-armed band join
    * silently misses.
    */
  private[graft] def bandRows(sig: DataFrame, nHashes: Int, nBands: Int,
      buckets: Int): DataFrame = {
    require(nHashes % nBands == 0 && (nHashes / nBands) % 2 == 0,
      s"nBands must divide $nHashes into even slices, got $nBands")
    val rowsPer = nHashes / nBands
    def bandSig(b: Int): Column = array((0 until rowsPer / 2).map { l =>
      col(s"mh${rowsPer * b + 2 * l}") * lit(P) + col(s"mh${rowsPer * b + 2 * l + 1}")
    }: _*)
    val structs = (0 until nBands).map(b =>
      struct(lit(b).as("band"), bandSig(b).as("sig")))
    sig.select(col("doc_id"), explode(array(structs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .withColumn("bkt", pmod(hash(col("band"), col("sig")), lit(buckets)))
  }

  /** Band rows of a token-set frame, clustered by bkt for the
    * partitioned write: without the clustering every write task holds
    * every bucket and the commit fans out to tasks×buckets tiny files
    * (r12 measured 270 files for a 2.5 MB store — the file count, not
    * the bytes, was most of the lifecycle's cost); clustered, each
    * bucket lands as one file per batch, and the shuffle is
    * batch-sized.
    */
  private def bandsOf(arrs: DataFrame, nHashes: Int, nBands: Int,
      buckets: Int, perms: Seq[(Int, Long, Long)]): DataFrame =
    bandRows(signatures(arrs, nHashes, perms), nHashes, nBands, buckets)
      .repartition(col("bkt"))

  /** Persist `df` for the duration of `body`, which runs actions on it. */
  private def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(df) finally df.unpersist(blocking = false)
  }

  /** Test-only failpoints shared by [[appendImpl]] and [[rebuildImpl]]:
    * 1 throws before the docs commit, 2 between the docs and bands
    * commits.
    */
  private def failpoint(failAt: Int, at: Int): Unit =
    if (failAt == at) throw new java.io.IOException(
      if (at == 1) "injected failure before the docs commit (test failpoint)"
      else "injected failure between the docs and bands commits (test failpoint)")

  /** Write a whole layout from token sets (`nDocs` rows): overwrite
    * docs, then overwrite bands with all four layout properties — the
    * bands commit publishes the new scheme and the docs it covers at
    * once.
    */
  private def writeLayout(spark: SparkSession, arrs: DataFrame, nDocs: Long,
      storeDir: String, nHashes: Int, nBands: Int,
      perms: Seq[(Int, Long, Long)], failAt: Int): Unit = {
    val buckets = bucketsFor(nDocs * nBands)
    failpoint(failAt, 1)
    val dv = SnapshotLog.overwrite(arrs.coalesce(docsFiles(spark, nDocs)),
      docsDir(storeDir))
    failpoint(failAt, 2)
    SnapshotLog.overwrite(bandsOf(arrs, nHashes, nBands, buckets, perms),
      bandsDir(storeDir), Seq("bkt"), Some(_ ++ Map(NHashes -> nHashes.toString,
        NBands -> nBands.toString, Buckets -> buckets.toString,
        DocsVersion -> dv.toString)))
  }

  /** Append token sets under the store's pinned layout: docs first,
    * then bands naming that docs commit. With `txn` both commits are
    * [[SnapshotLog.appendTxn]]s under one (appId, batch id), so a
    * replay after a crash between them lands only the missing bands.
    */
  private def appendArrs(spark: SparkSession, arrs: DataFrame,
      storeDir: String, store: Store, perms: Seq[(Int, Long, Long)],
      txn: Option[(String, Long)], failAt: Int): Unit = {
    def commit(df: DataFrame, dir: String, partCols: Seq[String],
        props: Option[Map[String, String] => Map[String, String]]): Long =
      txn match {
        case Some((app, v)) => SnapshotLog.appendTxn(df, dir, partCols, app, v, props)
        case None => SnapshotLog.append(df, dir, partCols, props)
      }
    failpoint(failAt, 1)
    val dv = commit(arrs.coalesce(docsFiles(spark, arrs.count())),
      docsDir(storeDir), Nil, None)
    failpoint(failAt, 2)
    commit(bandsOf(arrs, store.nHashes, store.nBands, store.buckets, perms),
      bandsDir(storeDir), Seq("bkt"), Some(_ + (DocsVersion -> dv.toString)))
  }

  /** Create the store from the historical corpus, pinning the scheme.
    * The caller picks (nHashes, nBands) for the corpus it expects to
    * grow into (x02's `minhashSchemeFor` policy) and supplies the
    * library's fixed permutation constants.
    */
  def build(spark: SparkSession, docs: DataFrame, storeDir: String,
      nHashes: Int, nBands: Int, perms: Seq[(Int, Long, Long)]): Unit = {
    new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(storeDir), true)
    // one count of the persisted token sets sizes the bucket fan-out
    // and the docs files; both writes then read the cached frame
    withCached(tokenSets(docs)) { arrs =>
      writeLayout(spark, arrs, arrs.count(), storeDir, nHashes, nBands,
        perms, failAt = 0)
    }
  }

  /** Append a batch (the caller's kept docs) under the pinned scheme. */
  def append(spark: SparkSession, docs: DataFrame, storeDir: String,
      perms: Seq[(Int, Long, Long)]): Unit =
    appendImpl(spark, docs, storeDir, perms, failAt = 0)

  /** [[append]] with the test-only failpoints of [[failpoint]]. */
  private[graft] def appendImpl(spark: SparkSession, docs: DataFrame,
      storeDir: String, perms: Seq[(Int, Long, Long)], failAt: Int): Unit = {
    val store = open(spark, storeDir)
    withCached(tokenSets(docs)) { arrs =>
      appendArrs(spark, arrs, storeDir, store, perms, None, failAt)
    }
  }

  /** Re-band the store to a new pinned scheme — the store's
    * `optimize` (VERDICT r12 #2). The LSH scheme is fixed at build
    * time because band keys are only comparable under one scheme; a
    * corpus that grows into the next occupancy regime
    * (x02's `minhashSchemeFor`) needs MORE hashes and bands or its
    * recall at the declared Jaccard threshold silently collapses —
    * the x02 recall cliff, persisted. Rebuild:
    *
    *  1. re-signatures every doc from the stored token sets in
    *     `docs/` (never raw text — the store is self-contained),
    *     compacting replay-duplicated rows (dedupStream's benign
    *     crash-window appends) to one row per doc_id;
    *  2. overwrites docs with the compacted rows, then bands with the
    *     new bands (bucketed exactly like a fresh build) and the new
    *     layout properties — the same docs-then-bands protocol as
    *     append, so a reader sees the old scheme+bands or the new,
    *     never a mix;
    *  3. vacuums both tables down to their new heads, with no grace
    *     period (single-writer contract), so the store's disk use is
    *     one layout again.
    *
    * It reads the docs HEAD, not the bands' `docs_version`: a docs
    * commit that a crashed append or stream batch left without its
    * bands is folded in and banded here. Dropping it instead would
    * break a stream replay, whose docs `appendTxn` would then skip the
    * batch while its bands still land.
    *
    * Cost is one full pass over the stored token sets — O(corpus),
    * like any compaction; probes before/after are scheme-consistent
    * by construction. A rebuilt store probes EXACTLY like a fresh
    * [[build]] of the same docs at the same scheme (MinhashStoreSpec
    * pins this).
    */
  def rebuild(spark: SparkSession, storeDir: String, nHashes: Int,
      nBands: Int, perms: Seq[(Int, Long, Long)]): Unit =
    rebuildImpl(spark, storeDir, nHashes, nBands, perms, failAt = 0)

  /** Rebuild IFF the pinned scheme no longer matches what `schemeFor`
    * prescribes for the store's current (deduplicated) doc count —
    * the maintenance hook an ingestion pipeline calls between batches
    * (or a compaction job calls on a schedule) so a growing store can
    * never silently keep a recall-collapsed LSH scheme. The check
    * costs one column-pruned count plus the bands head resolution;
    * returns true when a rebuild ran. `schemeFor` is the caller's
    * occupancy policy (the x02 `minhashSchemeFor` schedule in this
    * repo's pipelines), kept as a parameter so the operator stays
    * policy-free.
    */
  def rebuildIfOutgrown(spark: SparkSession, storeDir: String,
      perms: Seq[(Int, Long, Long)],
      schemeFor: Long => (Int, Int)): Boolean = {
    val store = open(spark, storeDir)
    val nDocs = store.docs.select(col("doc_id")).dropDuplicates().count()
    val wanted = schemeFor(nDocs)
    if (wanted != ((store.nHashes, store.nBands))) {
      rebuild(spark, storeDir, wanted._1, wanted._2, perms)
      true
    } else false
  }

  /** [[rebuild]] with the test-only failpoints of [[failpoint]]. */
  private[graft] def rebuildImpl(spark: SparkSession, storeDir: String,
      nHashes: Int, nBands: Int, perms: Seq[(Int, Long, Long)],
      failAt: Int): Unit = {
    open(spark, storeDir) // loud failure on a half-built store
    // one row per doc: replay-duplicated rows are byte-identical, so
    // any representative is exact; this is where their dead bytes die.
    // Persisted, then counted ONCE (r18): the count sizes the rebuilt
    // bucket fan-out and the docs file count.
    withCached(
        SnapshotLog.read(spark, docsDir(storeDir)).dropDuplicates("doc_id")) { arrs =>
      writeLayout(spark, arrs, arrs.count(), storeDir, nHashes, nBands,
        perms, failAt)
    }
    Seq(docsDir(storeDir), bandsDir(storeDir)).foreach { dir =>
      SnapshotLog.vacuum(spark, dir, retainLast = 1, staleGraceMs = 0L)
    }
  }

  /** The streaming probe's per-batch contract (VERDICT r13 #1): the
    * census mode pays for per-doc match statistics; a production
    * ingest that needs only keep/drop runs VerdictOnly, whose work is
    * bounded at O(batch) on match-dense corpora ([[dedupVerdicts]]).
    */
  sealed trait ProbeMode
  /** (doc_id, keep, n_dups, max_jaccard) via [[dedupAgainst]]. */
  case object Census extends ProbeMode
  /** (doc_id, keep) via [[dedupVerdicts]] — the 100 TB ingest mode. */
  case object VerdictOnly extends ProbeMode

  /** The [[SnapshotLog]] transaction app id of one stream checkpoint:
    * the md5 of its qualified URI, so `/ckpt`, `/ckpt/` and
    * `file:/ckpt` are one replay domain (ADVICE r13) and every
    * distinct checkpoint is its own.
    */
  private[graft] def streamAppId(spark: SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint)
    graft.Hashing.md5hex(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.toString)
  }

  /** Streaming ingest dedup: every micro-batch is near-deduplicated
    * against the store (history ∪ all earlier batches), its verdicts
    * land in `verdictDir/batch-<id>`, and its KEPT docs append — the
    * probe/[[append]] lifecycle driven by Structured Streaming
    * through a foreachBatch keyed on the store's own transaction map.
    * `mode` picks the probe ([[ProbeMode]]): Census for audited ingest
    * with match statistics, VerdictOnly for the bounded keep/drop path
    * a production pipeline runs — keep/drop (and therefore the store's
    * growth) are contract-identical either way, so the mode can be
    * switched between runs of the same store.
    *
    * Replay semantics: both table commits of a batch are
    * [[SnapshotLog.appendTxn]]s keyed by ([[streamAppId]], batch id),
    * and a batch whose id the bands head already holds is skipped
    * whole. A crash before the bands commit replays the batch: the
    * verdict write is a per-batch overwrite (idempotent), the probe
    * reads the pre-batch store (the bands head still names the
    * pre-batch docs version) and so verdicts identically, the docs
    * commit is a no-op if it already landed, and only the missing
    * bands commit. The transaction map lives in the log, so it
    * survives [[rebuild]] (every commit carries the head's map).
    *
    * The app id is per CHECKPOINT (ADVICE r12): a fresh checkpoint
    * pointed at an existing store restarts batch ids at 0, and one
    * shared id would silently drop those batches — no verdicts, no
    * append. A new checkpoint re-applying an old batch is the benign
    * duplicate-append case: duplicate store rows cost dead bytes until
    * the next [[rebuild]], never a wrong keep/drop (candidates are
    * distinct pairs and n_dups counts distinct d1).
    */
  def dedupStream(stream: DataFrame, storeDir: String, verdictDir: String,
      perms: Seq[(Int, Long, Long)], threshold: Double,
      checkpoint: String,
      mode: ProbeMode = Census): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val appId = streamAppId(spark, checkpoint)
        // ONE bands-head resolution per micro-batch serves the replay
        // check, the probe and the append's scheme
        val store = open(spark, storeDir)
        if (!store.head.txns.get(appId).exists(_ >= batchId)) {
          // SPREAD the micro-batch to the session's parallelism before
          // anything reads it (the AnnIndex.dedupStream fix, measured
          // in the r16 stream-vs-batch sweep, BENCH_SWEEP_*_r16.json):
          // the atomic-rename arrival pattern delivers ONE file per
          // trigger, and tokenize + signatures + band rows are all
          // row-local work that would otherwise run as ONE task.
          // GATED on the incoming partition count
          // (ADVICE r16): a trigger that already delivers >= |cores|
          // splits is spread enough, and the unconditional repartition
          // was a pure batch-sized shuffle there. Then persist: the
          // micro-batch feeds two actions (the verdict write, then the
          // append's joins), so the source files are read and
          // tokenized once per batch, not once per action (ADVICE r12).
          // DATA-SIZED parallelism for the whole micro-batch (r18,
          // guide §2.4): foreachBatch plans run AQE-less, so every
          // exchange inherits the session's static shuffle.partitions
          // — at small batch sizes that was ~25 jobs per batch (census
          // broadcast subtrees included) each dragging 32 near-empty
          // tasks, pure scheduler latency. Partitions are sized from
          // the trigger's ACTUAL input bytes (driver-known from the
          // file-source listing, no job); withCensusExchangeConf still
          // RAISES beyond this when the measured candidate volume
          // demands it (the sf10 OOM guard) — this floor only ever
          // drops to what the data justifies, so it is scale-adaptive,
          // not a local-mode constant. Non-file sources (inputBytes
          // -1) keep the session default.
          val (parts, width) = graft.streaming.Spread.batchSizing(batch,
            ProbeBytesPerPartition)
          graft.SessionConf.withConf(spark,
              "spark.sql.shuffle.partitions" -> parts.toString) {
          val spread = graft.streaming.Spread.toWidth(batch, width)
          spread.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // ONE tokenization of the micro-batch serves the probe AND
          // the kept-docs append (r18): the append used to re-run the
          // explode + distinct + sort aggregate over the kept docs,
          // whose token sets are a semi-join away from the probe's own
          // cached frame.
          val arrs = tokenSets(spread)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val out = s"$verdictDir/batch-$batchId"
            // materialize verdicts BEFORE the append mutates the store
            // (the x71 ordering rule): the verdict frame is lazy
            val verdicts = mode match {
              case Census =>
                dedupAgainstArrs(spark, spread, arrs, store, perms, threshold)
              case VerdictOnly =>
                dedupVerdictsStatsImpl(spark, spread, Some(arrs), store, perms,
                  threshold).verdicts
            }
            verdicts.write.mode("overwrite").parquet(out)
            // in-memory kept handoff (r18): the verdict frame's
            // expensive inputs are checkpointed inside the probe, so
            // re-filtering it here is a broadcast-join residue over
            // the cached batch — the parquet read-back paid a listing
            // + scan per batch for the same rows
            val keptIds = verdicts.filter(col("keep")).select(col("doc_id"))
            appendArrs(spark,
              arrs.join(broadcast(keptIds), Seq("doc_id"), "left_semi"),
              storeDir, store, perms, Some(appId -> batchId), failAt = 0)
          } finally {
            arrs.unpersist(blocking = false)
            spread.unpersist(blocking = false)
          }
          }
        }
        ()
      }
      .start()


  /** Band-collision candidate pairs (d1 → d2) for an incoming batch's
    * band rows: store collisions ∪ earlier-in-batch collisions, one
    * row PER COLLIDING BAND (the census path dedups them; the
    * verdict-only path counts them as its ranking signal).
    *
    * Store side streams through a broadcast hash join (never
    * shuffles); bkt in the join key arms DPP on the store scan. The
    * d1 ≠ d2 guard makes re-probing an ingested batch idempotent
    * instead of self-matching; the in-batch side is a batch-sized
    * broadcast self-join on smaller doc_id.
    */
  private def bandCollisions(storeBands: DataFrame, inc: DataFrame): DataFrame =
    bandCollisions(storeBands, inc, inc)

  /** As above with the two batch roles split: `incRef` supplies the
    * earlier-in-batch REFERENCE side (always the full batch — a doc's
    * in-batch references are every smaller id, resolved or not),
    * `incProbe` the docs whose candidates are wanted (the verdict
    * path's full-generation stage restricts it to still-unresolved
    * docs, which is what bounds that stage).
    */
  private def bandCollisions(storeBands: DataFrame, incRef: DataFrame,
      incProbe: DataFrame): DataFrame = {
    val fromStore = storeBands.as("s").join(broadcast(incProbe).as("i"),
        col("s.bkt") === col("i.bkt") && col("s.band") === col("i.band") &&
          col("s.sig") === col("i.sig") && col("s.doc_id") =!= col("i.doc_id"))
      .select(col("s.doc_id").as("d1"), col("i.doc_id").as("d2"))
    val inBatch = incRef.as("x").join(broadcast(incProbe).as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    fromStore.unionByName(inBatch)
  }

  /** Advisory post-shuffle partition size while a probe's candidate
    * jobs run. AQE's default 64 MB advisory coalesces the candidate
    * exchanges into partitions whose DESERIALIZED pair rows blow the
    * heap (two-long pairs compress ~10×; VERDICT r13: the sf10 probe
    * OOM'd an 8 GB driver, and disabling coalescing cut x71 sf10 by
    * 28%). Rather than shipping that as deployment guidance, every
    * probe entry point scopes the advisory down around its own
    * actions — coalescing stays on (tiny exchanges still merge) but
    * builds memory-sane partitions on the explosive ones. Session-
    * scoped while held: a concurrently-running unrelated query in the
    * same session would momentarily see the smaller advisory — a
    * few extra tasks, never a wrong plan.
    */
  private val CandidateAdvisory =
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m"

  /** Raw input bytes per partition for a micro-batch's data-sized
    * parallelism ([[dedupStream]], r18): text work (tokenize +
    * signatures) is CPU-heavy per byte, so the divisor is small —
    * 256 KiB keeps those tasks tens-of-ms-sized while a kilobyte-scale
    * trigger collapses to a handful of partitions instead of the
    * session's static width.
    */
  private val ProbeBytesPerPartition = 256L << 10

  private def withAdvisoryCap[T](spark: SparkSession)(body: => T): T =
    graft.SessionConf.withConf(spark, CandidateAdvisory)(body)

  /** The batch-vocabulary strategy probe: distinct token count of the
    * CACHED batch frame, clamped at 1025 (all the mask ladder needs
    * to know is ≤ 1024 or not) — never a store scan.
    */
  private def batchVocabCount(arrs: DataFrame): Long =
    arrs.select(explode(col("arr")).as("tok")).distinct().limit(1025).count()

  /** Exact-verified matches (d1, d2, jaccard ≥ threshold) for the
    * candidate pairs. The store docs scan is pruned by a broadcast
    * semi on candidate d1 ids (sliver fetch, never a store shuffle);
    * d1 may be a store doc or an earlier batch doc — one union'd
    * reference frame serves both.
    *
    * Verify-strategy ladder (x02's mask ladder, chosen PER PROBE by
    * the BATCH vocabulary — sufficient, because a token common to a
    * store doc and a batch doc is by definition in the batch
    * vocabulary, so masks over the batch vocab compute |A∩B|
    * EXACTLY and |A∪B| = sz1 + sz2 − |A∩B| from the stored sizes):
    * a ≤1024-token batch vocabulary — templated spam, generator
    * corpora, boilerplate floods, exactly the batches whose
    * candidate volume explodes — verifies each pair with one
    * codegen popcount pass over ≤16 longs instead of a string
    * merge over the full token arrays, and ships 8·words bytes per
    * doc through the pair joins instead of the arrays (sf1 A/B:
    * 30.8 → 21.5 s for the x71 lifecycle; neutral at sf0.1).
    * Open-vocab batches keep the sorted-merge intersect.
    *
    * Mask-path guards: threshold 0 would make J = 0 pairs contractual,
    * and the rank join drops store docs disjoint from the batch vocab
    * (their J is 0) — the mask path is only sound for a positive
    * threshold. vCount 0 (an EMPTY micro-batch, e.g. delivered on a
    * stream restart) must fall through too: words = 0 would leave the
    * mask aggregate with no columns and crash at plan build (ADVICE
    * r12), while the sorted-merge branch is a clean no-op on empty
    * input.
    */
  /** Mask frames for the popcount verify path when the batch
    * vocabulary permits (see the strategy ladder above): per-doc
    * (id, mask array, stored size) for the reference side and the
    * batch side. None → the sorted-merge path applies.
    */
  private def maskFrames(spark: SparkSession, arrs: DataFrame,
      refArrs: DataFrame, threshold: Double,
      vCount: Long): Option[(DataFrame, DataFrame)] =
    if (vCount > 0 && vCount <= 1024 && threshold > 0) {
      graft.expressions.MaskPairStats.register(spark)
      val words = ((vCount + 63) / 64).toInt
      val ranks = arrs.select(explode(col("arr")).as("tok")).distinct()
        .agg(sort_array(collect_list(col("tok"))).as("varr"))
        .select(posexplode(col("varr")).as(Seq("p", "tok")))
      def masked(df: DataFrame, id: String, m: String, sz: String) = {
        // bit_or, NOT sum: a doc row duplicated by dedupStream's
        // crash-window replay explodes its tokens twice into this
        // aggregate, and summing would carry duplicate bits into
        // the wrong positions — OR is idempotent, so duplicate
        // store rows cannot corrupt a mask (MinhashStoreSpec pins
        // verdict equality against a duplicated store)
        val wordCols = (0 until words).map { w =>
          expr(s"bit_or(CASE WHEN p DIV 64 = $w THEN " +
            "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)) " +
            "ELSE CAST(0 AS BIGINT) END)").as(s"_w$w")
        }
        df.select(col("doc_id"), col("sz"), explode(col("arr")).as("tok"))
          .join(broadcast(ranks), Seq("tok"))
          .groupBy(col("doc_id"), col("sz"))
          .agg(wordCols.head, wordCols.tail: _*)
          .select(col("doc_id").as(id),
            array((0 until words).map(w => col(s"_w$w")): _*).as(m),
            col("sz").as(sz))
      }
      Some((masked(refArrs, "d1", "m1", "sz1"),
        masked(arrs, "d2", "m2", "sz2")))
    } else None

  /** Exact Jaccard ≥ threshold for candidate pairs against prebuilt
    * verify sides (mask kernel when `masks` is defined, sorted-merge
    * intersect otherwise).
    */
  private def scorePairs(cand: DataFrame,
      masks: Option[(DataFrame, DataFrame)], refArrs: DataFrame,
      arrs: DataFrame, threshold: Double): DataFrame =
    (masks match {
      case Some((mRef, mArr)) =>
        cand.join(mRef, Seq("d1")).join(mArr, Seq("d2"))
          .withColumn("mps", graft.expressions.MaskPairStats.maskPairStats(
            col("m1"), col("m2"), lit(1)))
          .withColumn("inter",
            shiftright(col("mps"), 11).bitwiseAND(lit(0x7ffL)))
          .withColumn("jaccard", col("inter").cast(DoubleType) /
            (col("sz1") + col("sz2") - col("inter")))
      case None =>
        cand
          .join(refArrs.select(col("doc_id").as("d1"), col("arr").as("a1"),
            col("sz").as("sz1")), Seq("d1"))
          .join(arrs.select(col("doc_id").as("d2"), col("arr").as("a2"),
            col("sz").as("sz2")), Seq("d2"))
          .withColumn("inter",
            graft.expressions.SortedIntersectCount.sortedIntersectCount(
              col("a1"), col("a2")))
          .withColumn("jaccard", col("inter").cast(DoubleType) /
            (col("sz1") + col("sz2") - col("inter")))
    }).filter(col("jaccard") >= threshold)

  private def verifiedMatches(spark: SparkSession, cand: DataFrame,
      arrs: DataFrame, storeDocs: DataFrame, threshold: Double,
      vCount: Long): DataFrame = {
    val d1Ids = cand.select(col("d1").as("doc_id")).distinct()
    val refArrs = storeDocs.join(broadcast(d1Ids), Seq("doc_id"), "left_semi")
      .unionByName(arrs)
    scorePairs(cand, maskFrames(spark, arrs, refArrs, threshold, vCount),
      refArrs, arrs, threshold)
  }

  /** Near-dup verdicts for an incoming batch against history ∪
    * earlier-in-batch: (doc_id, keep, n_dups, max_jaccard) — keep ⇔ no
    * token-set Jaccard ≥ `threshold` against any store doc or any
    * smaller-id batch doc; n_dups counts the matches the banding
    * surfaced, max_jaccard their maximum (0.0 when kept).
    *
    * This is the CENSUS mode: the match statistics force verifying
    * every ≥-threshold candidate, which on a match-dense corpus grows
    * as the square of scale even though the verdict output is linear
    * (VERDICT r12). A pipeline that needs only keep/drop uses
    * [[dedupVerdicts]], whose verify cost is bounded at O(batch) on
    * exactly those corpora.
    */
  def dedupAgainst(spark: SparkSession, incoming: DataFrame,
      storeDir: String, perms: Seq[(Int, Long, Long)],
      threshold: Double): DataFrame = {
    val store = open(spark, storeDir)
    // one batch-sized cached frame; signatures, both band-join sides,
    // the verify d2 side and the verdict base all derive from it
    withCached(tokenSets(incoming)) { arrs =>
      dedupAgainstArrs(spark, incoming, arrs, store, perms, threshold)
    }
  }

  /** [[dedupAgainst]] over a PRECOMPUTED token-set frame and a resolved
    * store view, the frame's persist lifecycle the CALLER's —
    * [[dedupStream]]'s per-batch path (r18): one bands-head resolution
    * and ONE tokenization of the micro-batch serve both the probe and
    * the kept-docs append.
    */
  private def dedupAgainstArrs(spark: SparkSession, incoming: DataFrame,
      arrs: DataFrame, store: Store, perms: Seq[(Int, Long, Long)],
      threshold: Double): DataFrame = {
    val storeBands = store.bands
    val storeDocs = store.docs
    graft.expressions.SortedIntersectCount.register(spark)
    locally {
      val inc = bandRows(signatures(arrs, store.nHashes, perms), store.nHashes,
        store.nBands, store.buckets)
      // the candidate jobs run HERE (eager localCheckpoint), inside a
      // scope that sizes their exchanges (VERDICT r13 #3 + the r14
      // foreachBatch OOM): only the cheap batch-sized verdict join is
      // left lazy for the caller's action. Two-stage sizing (VERDICT
      // r14 #2): the store-free upper bound GATES the measurement —
      // when even the bound fits the session default's exchange
      // capacity the count job is skipped outright (the common small
      // probe, and the per-micro-batch fixed cost x75 paid at sf0.1);
      // only a probe the bound can't clear pays the r14 measured
      // count, whose precision matters exactly there (the bound is
      // maxm-loose on dup-dense batches — sizing FROM it directly
      // re-benched 2× slower at the ×10 decade, thousands of near-idle
      // tasks per exchange).
      val bound = candidateUpperBound(store, inc)
      val fits = bound / PairsPerStaticPartition + 1 <=
        spark.conf.get("spark.sql.shuffle.partitions").toLong
      val perDoc = withCensusExchangeConf(spark,
          if (fits) bound else bandCollisions(storeBands, inc).count()) {
        censusPerDoc(spark, arrs, inc, storeDocs, storeBands, threshold)
          .localCheckpoint(true)
      }
      verdictFrame(incoming, perDoc)
    }
  }

  /** Upper bound on the probe's band-collision pair count, computed
    * WITHOUT touching the store — the gate that decides whether the
    * measured-count job is worth paying at all (VERDICT r14 #2: the
    * measured count re-ran the whole band join per probe — a fixed
    * store-scan cost x75's streaming lifecycle paid per micro-batch
    * even when the answer was always "default is fine"; a
    * cached-pairs variant measured even slower than the double scan,
    * losing the distinct's exchange reuse; and sizing directly from
    * this bound re-benched 2× slower at the ×10 decade — it is
    * maxm-loose on dup-dense batches, so it gates, never sizes, above
    * the default):
    *
    *  - in-batch pairs are EXACT: the self-join on (band, sig) with
    *    d1 < d2 yields Σ_g C(m_g, 2) over the batch's collision-group
    *    multiplicities — one batch-sized aggregate, no store access.
    *  - store-side pairs are ≤ store_band_rows × max_g m_g; the row
    *    count is EXACT, the sum of the bands head's per-file row
    *    counts (log metadata — VERDICT r16 #1: the r16 footer-sweep
    *    version of this exactness re-listed and re-opened every bands
    *    file per MICRO-BATCH, ~2 s/probe at sf0.1 and an object-store
    *    listing storm at scale). ADVICE r15 killed the older bytes/2
    *    heuristic: a dup-dense bands table (dictionary + RLE on
    *    band/sig, delta-packed ids, snappy) can compress below
    *    2 bytes/row, which made the "must only ever err HIGH"
    *    invariant false in exactly the match-dense regime the sizing
    *    exists for — a false "fits" skips the measured count and runs
    *    the census exchanges under-sized (the r14 sf10 heap-kill
    *    class). With the exact count the only slack left is maxm,
    *    which errs high by construction.
    *
    * Cost: one aggregate job over the batch's band rows; the row count
    * comes with the already-resolved bands head.
    */
  private def candidateUpperBound(store: Store, inc: DataFrame): Long = {
    val st = inc.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("m"))
      .agg(coalesce(max(col("m")), lit(0L)).as("maxm"),
        coalesce(sum(col("m") * (col("m") - lit(1L))), lit(0L)).as("sp2"))
      .head()
    store.bandsRows * st.getLong(0) + st.getLong(1) / 2
  }

  /** ~1M two-long pair rows per static post-shuffle partition keeps a
    * verify/census task's aggregate state in the tens of MB.
    */
  private val PairsPerStaticPartition = 1L << 20

  /** Exchange sizing for the census probe's candidate jobs, derived
    * from the candidate-count signal the caller supplies — the probe
    * path passes [[candidateUpperBound]] (store-free, errs only
    * high), the diagnostics pass a measured count:
    *  - `spark.sql.shuffle.partitions` is raised (never lowered) to
    *    candidates / [[PairsPerStaticPartition]], capped at 4096. With
    *    AQE on this is just a bigger initial partition count that
    *    coalescing shrinks back for free; WITHOUT AQE — Spark runs
    *    foreachBatch micro-batch plans AQE-less, which is exactly
    *    [[dedupStream]]'s probe — it is the only thing standing
    *    between a 185M-pair exchange and 32 default partitions of
    *    ~6M pairs each, the r14-measured heap kill at sf10.
    *  - the AQE advisory cap (VERDICT r13 #3) still applies, bounding
    *    coalescing's rebuilt partitions on the AQE path.
    * This makes the probe's partitioning self-tuning: sized by data
    * measured at run time, not by whatever the session default is —
    * the 100 TB posture, where candidate volume varies per batch by
    * orders of magnitude.
    */
  private def withCensusExchangeConf[T](spark: SparkSession,
      candidates: Long)(body: => T): T = {
    val parts = math.max(
      spark.conf.get("spark.sql.shuffle.partitions").toLong,
      math.min(4096L, candidates / PairsPerStaticPartition + 1)).toString
    graft.SessionConf.withConf(spark,
      "spark.sql.shuffle.partitions" -> parts, CandidateAdvisory)(body)
  }

  /** [[dedupAgainst]] as one lazy plan — what the plan-shape specs
    * audit (DPP-armed broadcast band join, store never shuffled). The
    * public entry point executes this exact dataflow; it just runs
    * the census aggregate eagerly under [[withAdvisoryCap]], which
    * checkpoint-truncates the plan a caller can see.
    */
  private[graft] def dedupAgainstLazy(spark: SparkSession, incoming: DataFrame,
      storeDir: String, perms: Seq[(Int, Long, Long)],
      threshold: Double): DataFrame = {
    val store = open(spark, storeDir)
    graft.expressions.SortedIntersectCount.register(spark)
    graft.Caching.withPersistedThrough(tokenSets(incoming)) { arrs =>
      verdictFrame(incoming, censusPerDoc(spark, arrs,
        bandRows(signatures(arrs, store.nHashes, perms), store.nHashes,
          store.nBands, store.buckets),
        store.docs, store.bands, threshold))
    }
  }

  /** The census aggregate: per matched batch doc, how many ≥-threshold
    * matches the banding surfaced and their max Jaccard.
    */
  private def censusPerDoc(spark: SparkSession, arrs: DataFrame,
      inc: DataFrame, storeDocs: DataFrame, storeBands: DataFrame,
      threshold: Double): DataFrame =
    censusPerDocFrom(spark, arrs, bandCollisions(storeBands, inc),
      storeDocs, threshold)

  /** [[censusPerDoc]] over an already-derived collision frame. The
    * probe path deliberately does NOT pass a cached/persisted pair
    * frame to share with the sizing count (ADVICE r15 flagged the old
    * scaladoc claiming it did): when the gate fails and the measured
    * count runs, the band join executes twice — the r14 cached-pairs
    * experiment benched SLOWER than the double scan because
    * persisting the collisions loses the distinct's ReusedExchange.
    * The indirection exists so the double scan is a one-line choice
    * to revisit, not an accident.
    */
  private def censusPerDocFrom(spark: SparkSession, arrs: DataFrame,
      collisions: DataFrame, storeDocs: DataFrame,
      threshold: Double): DataFrame = {
    // multi-band collisions: the candidate sliver pays the distinct,
    // not the store (store-side rows never reach an exchange); its
    // two consumers (the scored pairs and the d1Ids verify-fetch
    // pruning) share the distinct's exchange via ReusedExchange — a
    // r12 persist experiment measured no gain over the reuse
    val cand = collisions.distinct()
    val matches = verifiedMatches(spark, cand, arrs, storeDocs,
      threshold, batchVocabCount(arrs))
    // countDistinct(d1), not count(*): identical when the store is
    // clean (candidate pairs are already distinct), but immune to a
    // doc row duplicated by a replayed crash-window append
    // ([[dedupStream]]) — a match is a matching DOC, not a row
    matches.groupBy(col("d2").as("doc_id"))
      .agg(countDistinct(col("d1")).as("n_dups"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** The verdict projection over the per-doc census aggregate.
    * perDoc ≤ batch-sized, like everything broadcast here: the
    * operator's standing assumption is a broadcastable batch (split
    * a giant crawl drop into sub-batches before probing).
    */
  private def verdictFrame(incoming: DataFrame, perDoc: DataFrame): DataFrame =
    incoming.select(col("doc_id"))
      .join(broadcast(perDoc), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        col("n_dups").isNull.as("keep"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))

  /** How many top-ranked candidates each doc verifies in the rep
    * stage's resolve round. The top-ranked candidates are the
    * likeliest true matches (collision count is monotone in J), so
    * one chunk resolves virtually every dropping doc at ≤ 4 verified
    * pairs; everything still unresolved falls through to the
    * exactness stage, which verifies whatever remains in one shot —
    * those docs are overwhelmingly keepers, who must verify all their
    * candidates anyway (a keep verdict IS the claim that every
    * candidate is below threshold). Two driver-sequenced verify jobs
    * per probe total — the r13 chunk-ladder's extra rounds bought no
    * measurable pair savings and cost a fixed job latency every
    * probe paid (r14 re-measurement).
    */
  private val VerdictChunk = 4L

  /** Representatives kept per (band, sig) collision group in
    * [[dedupVerdicts]]'s bounded-generation stage (VERDICT r13 #2).
    * Must be ≥ 2: with at least two reps, a group can only yield zero
    * candidates for a probing doc when the group holds nothing but
    * that doc's own store row — which is exactly when the full
    * generation would find nothing either, the invariant that lets
    * the fallback stage skip candidate-free docs. 4 trades a slightly
    * larger rep-pair set for fewer docs falling through to full
    * generation (a rep set diluted by re-probed self rows or
    * below-threshold bucket-mates still usually contains a true
    * match).
    */
  private val RepPerGroup = 4

  /** (doc_id, keep) verdicts plus the probe's work accounting:
    * `verifiedPairs` is what the O(batch) verify bound is about;
    * `generatedPairs` what the bounded-GENERATION claim is about
    * (rep pairs + the full-generation fallback's pairs — the census
    * path generates every band-collision pair instead).
    */
  private[graft] final case class VerdictStats(verdicts: DataFrame,
    verifiedPairs: Long, generatedPairs: Long)

  /** One doc_id-schema empty frame (the resolve stage's seed). */
  private def emptyIds(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))

  /** VERDICT-ONLY near-dup dedup (VERDICT r12 #1): (doc_id, keep) with
    * keep/drop decisions IDENTICAL to [[dedupAgainst]]'s, at verify
    * cost bounded by O(batch) on match-dense corpora — and, since r14,
    * candidate GENERATION bounded the same way (VERDICT r13 #2).
    *
    * The census contract's n_dups/max_jaccard force verifying EVERY
    * ≥-threshold match; on a duplicate-heavy corpus (a spammy crawl —
    * exactly where near-dup dedup earns its keep) a batch doc matches
    * a constant FRACTION of history, so census work grows as sf².
    * But keep/drop only needs ONE verified match per dropping doc.
    * This mode short-circuits BOTH halves of the probe:
    *
    *  1. GENERATION — representatives instead of all pairs. Store
    *     band rows colliding with any batch band key are fetched
    *     WITHOUT batch doc ids attached (linear in matched history,
    *     no pair blowup), ranked per (band, sig) group by doc_id, and
    *     only the [[RepPerGroup]] smallest per group join back
    *     against the batch to form pairs — ≤ bands·R candidates per
    *     batch doc, however duplicate-dense the bucket. The in-batch
    *     side mirrors it (R+1 smallest ids per group, d1 < d2).
    *  2. VERIFY — rep pairs are ranked per batch doc by colliding-
    *     band count (collisions ~ Binomial(bands, J^rows), monotone
    *     in J) and each doc's top [[VerdictChunk]] verify in one
    *     round: a doc with a verified ≥-threshold match resolves
    *     (drop) and never fetches another candidate.
    *  3. EXACTNESS — docs still unresolved after the rep round that
    *     had at least one candidate fall through to a FULL generation
    *     restricted to those docs ([[bandCollisions]] with the probe
    *     side filtered), minus the round-1 pairs they already
    *     verified below threshold, verified in one shot; surviving it
    *     means every census candidate of the doc verified below
    *     threshold — kept, exactly the census rule. Docs with NO rep
    *     candidates need no fallback: with [[RepPerGroup]] ≥ 2 a
    *     collision group yields zero rep candidates only when it
    *     holds nothing but the doc's own store row (see
    *     [[RepPerGroup]]).
    *
    * On a dense corpus nearly every dropping doc resolves in round 1
    * (≤ 4 verified pairs) and the fallback set is keepers + near
    * misses — S-curve-sparse — so BOTH generated and verified pairs
    * are ~O(batch) where the census pays |batch|·|matched history|.
    * The rep ranking's band count is computed over rep pairs only (a
    * non-rep band's collision is not counted) — a pure ranking
    * signal, so undercounting can reorder rounds but never change a
    * verdict. MinhashStoreSpec pins verdict equality with the census
    * mode and both O(batch) bounds on an all-duplicate corpus; the
    * x78 oracle key hash-gates the lifecycle end-to-end.
    */
  def dedupVerdicts(spark: SparkSession, incoming: DataFrame,
      storeDir: String, perms: Seq[(Int, Long, Long)],
      threshold: Double): DataFrame =
    dedupVerdictsWithStats(spark, incoming, storeDir, perms, threshold).verdicts

  /** [[dedupVerdicts]] plus the work accounting ([[VerdictStats]],
    * spec- and diag-facing). The returned frame's expensive inputs are
    * fully materialized (the round loop runs actions and the resolved
    * set is checkpointed), so re-consuming it is cheap.
    */
  private[graft] def dedupVerdictsWithStats(spark: SparkSession,
      incoming: DataFrame, storeDir: String,
      perms: Seq[(Int, Long, Long)], threshold: Double): VerdictStats =
    dedupVerdictsStatsImpl(spark, incoming, None, open(spark, storeDir),
      perms, threshold)

  /** The verdict-only probe against a resolved store view; `arrs0` is
    * a precomputed token-set frame whose lifecycle is the caller's —
    * [[dedupStream]]'s VerdictOnly per-batch path (r18, the
    * [[dedupAgainstArrs]] twin).
    */
  private def dedupVerdictsStatsImpl(spark: SparkSession,
      incoming: DataFrame, arrs0: Option[DataFrame], store: Store,
      perms: Seq[(Int, Long, Long)], threshold: Double): VerdictStats = {
    import org.apache.spark.sql.expressions.Window
    val (nHashes, nBands, buckets) = (store.nHashes, store.nBands, store.buckets)
    val storeBands = store.bands
    val storeDocs = store.docs
    graft.expressions.SortedIntersectCount.register(spark)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the round loop runs its own actions, so cache scopes are managed
    // by hand here (persist -> loop -> unpersist), not via Caching;
    // the whole probe runs under the advisory cap (VERDICT r13 #3)
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { df.persist(lvl); persisted += df; df }
    try withAdvisoryCap(spark) {
      val arrs = arrs0.getOrElse(keep(tokenSets(incoming)))
      val inc = keep(bandRows(signatures(arrs, nHashes, perms), nHashes,
        nBands, buckets))
      // --- bounded generation: the rep stage (Scaladoc step 1) ---
      // store rows colliding with any batch band KEY (no batch doc_id
      // attached -> linear in matched history, no pair blowup); the
      // broadcast keeps the store un-shuffled and bkt arms DPP exactly
      // like the census band join
      val incKeys = inc.select(col("bkt"), col("band"), col("sig")).distinct()
      val collide = keep(storeBands.as("s").join(broadcast(incKeys).as("i"),
          col("s.bkt") === col("i.bkt") && col("s.band") === col("i.band") &&
            col("s.sig") === col("i.sig"))
        .select(col("s.doc_id").as("d1"), col("s.band").as("band"),
          col("s.sig").as("sig")))
      // rank-in-group windows: WindowGroupLimit prunes to R per group
      // BEFORE the exchange, so the shuffle carries ~groups*R rows
      val gw = Window.partitionBy(col("band"), col("sig")).orderBy(col("d1"))
      val storeReps = collide
        .withColumn("gr", row_number().over(gw))
        .filter(col("gr") <= RepPerGroup).drop("gr")
      val repStore = storeReps.as("r").join(broadcast(inc).as("i"),
          col("r.band") === col("i.band") && col("r.sig") === col("i.sig") &&
            col("r.d1") =!= col("i.doc_id"))
        .select(col("r.d1").as("d1"), col("i.doc_id").as("d2"))
      val bw = Window.partitionBy(col("band"), col("sig")).orderBy(col("doc_id"))
      val batchReps = inc
        .withColumn("gr", row_number().over(bw))
        .filter(col("gr") <= RepPerGroup + 1)
        .select(col("doc_id").as("d1"), col("band"), col("sig"))
      val repBatch = batchReps.as("r").join(broadcast(inc).as("i"),
          col("r.band") === col("i.band") && col("r.sig") === col("i.sig") &&
            col("r.d1") < col("i.doc_id"))
        .select(col("d1"), col("i.doc_id").as("d2"))
      val repCand = keep(repStore.unionByName(repBatch)
        .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("nb"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("d2")).orderBy(col("nb").desc, col("d1")))))
      // Prebuild BOTH verify sides ONCE over every store doc that
      // collides at all (covers rep pairs AND the fallback stage) —
      // per-DOC linear work the census path pays identically — and
      // persist them, so each round pays only its own PAIR volume.
      val vCount = batchVocabCount(arrs)
      val d1Ids = collide.select(col("d1").as("doc_id")).distinct()
      val refArrs = storeDocs.join(broadcast(d1Ids), Seq("doc_id"), "left_semi")
        .unionByName(arrs)
      val masks = maskFrames(spark, arrs, refArrs, threshold, vCount)
      masks.map { case (a, b) => Seq(a, b) }.getOrElse(Seq(refArrs))
        .foreach(keep)
      // --- resolve round over the top-ranked rep pairs (one verify
      // job; docs with a confirmed match drop and never fetch more) ---
      val statsRow = repCand.agg(count(lit(1)),
        count(when(col("rn") <= VerdictChunk, 1))).collect().head
      var generatedPairs = statsRow.getLong(0)
      var verifiedPairs = statsRow.getLong(1)
      val round1 = repCand.filter(col("rn") <= VerdictChunk)
        .select(col("d1"), col("d2"))
      var resolved =
        if (verifiedPairs == 0) emptyIds(spark)
        else scorePairs(round1, masks, refArrs, arrs, threshold)
          .select(col("d2").as("doc_id")).distinct().localCheckpoint(true)
      // --- exactness fallback (Scaladoc step 3): ALL remaining
      // candidates of unresolved docs-with-candidates, one shot. The
      // unresolved set stays lazy (one consumer, derived from the
      // persisted repCand and the checkpointed resolved set); its
      // emptiness is decided by fullCand's own count — one job, not
      // two (r14 job-count trim)
      val unresolved = repCand.select(col("d2").as("doc_id")).distinct()
        .join(resolved, Seq("doc_id"), "left_anti")
      val incU = inc.join(broadcast(unresolved), Seq("doc_id"), "left_semi")
      val fullCand = keep(bandCollisions(storeBands, inc, incU).distinct()
        // the round-1 pairs these docs already verified (all below
        // threshold — they are unresolved) need not verify twice
        .join(round1, Seq("d1", "d2"), "left_anti"))
      val n2 = fullCand.count()
      generatedPairs += n2
      verifiedPairs += n2
      if (n2 > 0) {
        val hit = scorePairs(fullCand, masks, refArrs, arrs, threshold)
          .select(col("d2").as("doc_id")).distinct().localCheckpoint(true)
        resolved = resolved.unionByName(hit).localCheckpoint(true)
      }
      val out = incoming.select(col("doc_id"))
        .join(broadcast(resolved.withColumn("m", lit(true))),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("m").isNull.as("keep"))
      VerdictStats(out, verifiedPairs, generatedPairs)
    } finally persisted.foreach(_.unpersist(blocking = false))
  }
}
