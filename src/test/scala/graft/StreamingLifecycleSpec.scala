package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The STORE/INDEX streaming lifecycles (dedupStream, appendStream +
  * between-runs maintenance) — split out of [[StreamingSpec]] so the
  * two halves run as separate forked suite groups: together they were
  * ~5.4 min of the sequential suite's 20-minute wall time (r18 test-
  * gate fix; no test changed, only the file it lives in).
  */
class StreamingLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("MinhashSignatureStore.dedupStream verdicts == the x71 batch " +
      "lifecycle, row for row") {
    import graft.queries.Extras
    val batchRows = Extras.x71IncrementalMinhash(spark, sf).collect().toSeq
    val streamRows = Extras.x75StreamDedup(spark, sf).collect().toSeq
    assert(streamRows == batchRows,
      "streaming the ingest batches must not change a single verdict")
    // the lifecycle is non-degenerate on this fixture: something dropped
    assert(batchRows.exists(!_.getBoolean(2)))
  }

  test("dedupStream in VerdictOnly mode == the x78 batch lifecycle, row " +
      "for row (VERDICT r13 #1: the production keep/drop stream)") {
    import graft.operators.MinhashSignatureStore
    import graft.queries.Extras
    // the batch twin: x78's store-build + two dedupVerdicts legs
    val batchRows = Extras.x78DedupVerdicts(spark, sf).collect().toSeq
    // the streamed run: same history store, same two batches arriving
    // as files, probed through dedupStream(mode = VerdictOnly)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hist = docs.filter(col("doc_id") % 4 === 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft-mssvstream").toString
    val store = root + "/store"
    val (nh, nb) = Extras.minhashSchemeFor(hist.count())
    MinhashSignatureStore.build(spark, hist, store, nh, nb, Extras.Perms)
    val feed = root + "/feed"
    new java.io.File(feed).mkdirs()
    val q = MinhashSignatureStore.dedupStream(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      store, root + "/verdicts", Extras.Perms,
      Extras.MinhashJaccardThreshold, root + "/ckpt",
      MinhashSignatureStore.VerdictOnly)
    try {
      docs.filter(col("doc_id") % 8 === 1).coalesce(1)
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
      docs.filter(col("doc_id") % 8 === 5).coalesce(1)
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    val streamRows = spark.read.parquet(root + "/verdicts/batch-0")
      .withColumn("batch", lit("b1"))
      .unionByName(spark.read.parquet(root + "/verdicts/batch-1")
        .withColumn("batch", lit("b2")))
      .select(col("doc_id"), col("batch"), col("keep"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(streamRows == batchRows,
      "the verdict-only stream must not change a single keep/drop")
    assert(batchRows.exists(!_.getBoolean(2)), "fixture is non-degenerate")
    // the verdict-only schema really is the slim one (no census stats)
    assert(spark.read.parquet(root + "/verdicts/batch-0")
      .schema.fieldNames.toSeq == Seq("doc_id", "keep"))
  }

  test("rebuildIfOutgrown between stream runs: the ledger survives the " +
      "scheme swap and the resumed stream probes under the new scheme") {
    import graft.operators.MinhashSignatureStore
    import graft.queries.Extras
    val T = Extras.MinhashJaccardThreshold
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hist = docs.filter(col("doc_id") % 4 === 0)
    val b1 = docs.filter(col("doc_id") % 8 === 1)
    val b2 = docs.filter(col("doc_id") % 8 === 5)
    val root = java.nio.file.Files
      .createTempDirectory("graft-mssrebuild").toString
    val store = root + "/store"
    // deliberately undersized scheme: the occupancy policy below will
    // demand the upgrade once b1's keepers land
    MinhashSignatureStore.build(spark, hist, store, 16, 4, Extras.Perms)
    val feed = root + "/feed"
    new java.io.File(feed).mkdirs()
    def startStream() = MinhashSignatureStore.dedupStream(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      store, root + "/verdicts", Extras.Perms, T, root + "/ckpt")
    // run 1: batch 0 probes and appends under the 16/4 scheme
    val q1 = startStream()
    try {
      b1.coalesce(1).write.mode("append").parquet(feed)
      q1.processAllAvailable()
    } finally q1.stop()
    // the stream's batch ids live in the bands log's transaction map
    val appId = MinhashSignatureStore.streamAppId(spark, root + "/ckpt")
    def committedBatch(): Option[Long] = graft.operators.SnapshotLog
      .headSnapshot(spark, store + "/bands").get.txns.get(appId)
    assert(committedBatch() === Some(0L))
    val keptB1 = spark.read.parquet(root + "/verdicts/batch-0")
      .filter(col("keep")).count()
    // between-runs maintenance: the store outgrew 16/4 -> rebuild
    val policy = (n: Long) => if (n <= 2) (16, 4) else (48, 8)
    assert(MinhashSignatureStore.rebuildIfOutgrown(
      spark, store, Extras.Perms, policy), "the store must rebuild")
    assert(MinhashSignatureStore.readScheme(spark, store) === ((48, 8)))
    assert(committedBatch() === Some(0L),
      "the rebuild's commits must carry the stream's transaction map")
    // run 2: SAME checkpoint — batch 0 is not replayed, batch 1 (b2)
    // probes under the rebuilt scheme
    val q2 = startStream()
    try {
      b2.coalesce(1).write.mode("append").parquet(feed)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(root + "/verdicts/batch-0")
      .filter(col("keep")).count() == keptB1,
      "the resumed stream must not reprocess the pre-rebuild batch")
    // equivalence oracle: a batch-built 48/8 store over history + b1's
    // keepers must give b2 the exact same verdicts
    val refStore = root + "/refstore"
    val keptIds = spark.read.parquet(root + "/verdicts/batch-0")
      .filter(col("keep")).select(col("doc_id"))
    MinhashSignatureStore.build(spark,
      hist.unionByName(b1.join(keptIds, Seq("doc_id"), "left_semi")),
      refStore, 48, 8, Extras.Perms)
    val expected = MinhashSignatureStore.dedupAgainst(
        spark, b2, refStore, Extras.Perms, T)
      .orderBy(col("doc_id")).collect().toSeq
    val got = spark.read.parquet(root + "/verdicts/batch-1")
      .orderBy(col("doc_id")).collect().toSeq
    assert(got == expected,
      "the resumed stream's probe must equal a fresh build at the new scheme")
  }

  test("rebuildIfOutgrown between stream runs keeps a VerdictOnly " +
      "stream on the cheap verdict-only probe under the new scheme " +
      "(VERDICT r14 #7)") {
    import graft.operators.MinhashSignatureStore
    import graft.queries.Extras
    val T = Extras.MinhashJaccardThreshold
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hist = docs.filter(col("doc_id") % 4 === 0)
    val b1 = docs.filter(col("doc_id") % 8 === 1)
    val b2 = docs.filter(col("doc_id") % 8 === 5)
    val root = java.nio.file.Files
      .createTempDirectory("graft-mssrebuildv").toString
    val store = root + "/store"
    MinhashSignatureStore.build(spark, hist, store, 16, 4, Extras.Perms)
    val feed = root + "/feed"
    new java.io.File(feed).mkdirs()
    def startStream() = MinhashSignatureStore.dedupStream(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      store, root + "/verdicts", Extras.Perms, T, root + "/ckpt",
      MinhashSignatureStore.VerdictOnly)
    val q1 = startStream()
    try {
      b1.coalesce(1).write.mode("append").parquet(feed)
      q1.processAllAvailable()
    } finally q1.stop()
    val policy = (n: Long) => if (n <= 2) (16, 4) else (48, 8)
    assert(MinhashSignatureStore.rebuildIfOutgrown(
      spark, store, Extras.Perms, policy), "the store must rebuild")
    assert(MinhashSignatureStore.readScheme(spark, store) === ((48, 8)))
    val q2 = startStream()
    try {
      b2.coalesce(1).write.mode("append").parquet(feed)
      q2.processAllAvailable()
    } finally q2.stop()
    // the post-rebuild micro-batch stayed on the verdict-only probe:
    // its output is the slim schema, not the census one
    assert(spark.read.parquet(root + "/verdicts/batch-1")
      .schema.fieldNames.toSeq == Seq("doc_id", "keep"),
      "a VerdictOnly stream must stay verdict-only across a rebuild")
    // equivalence oracle: verdict-only probe against a fresh 48/8
    // store over history + b1's keepers gives b2 the same verdicts
    val refStore = root + "/refstore"
    val keptIds = spark.read.parquet(root + "/verdicts/batch-0")
      .filter(col("keep")).select(col("doc_id"))
    MinhashSignatureStore.build(spark,
      hist.unionByName(b1.join(keptIds, Seq("doc_id"), "left_semi")),
      refStore, 48, 8, Extras.Perms)
    val expected = MinhashSignatureStore.dedupVerdicts(
        spark, b2, refStore, Extras.Perms, T)
      .orderBy(col("doc_id")).collect().toSeq
    val got = spark.read.parquet(root + "/verdicts/batch-1")
      .orderBy(col("doc_id")).collect().toSeq
    assert(got == expected,
      "post-rebuild VerdictOnly probe must equal a fresh build's verdicts")
  }

  test("dedupStream's batch-id ledger skips replayed batches; unmarked " +
      "batches land normally") {
    import graft.operators.{MinhashSignatureStore, SnapshotLog}
    import graft.queries.Extras
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-mssstream").toString
    val store = root + "/store"
    MinhashSignatureStore.build(spark,
      docs.filter(col("doc_id") % 2 === 0), store, 16, 4, Extras.Perms)
    val histDocs = SnapshotLog.read(spark, store + "/docs").count()
    val bands = store + "/bands"
    val appId = MinhashSignatureStore.streamAppId(spark, root + "/ckpt")
    def committedBatch(): Option[Long] =
      SnapshotLog.headSnapshot(spark, bands).get.txns.get(appId)
    val feed = root + "/feed"
    new java.io.File(feed).mkdirs()
    val q = MinhashSignatureStore.dedupStream(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      store, root + "/verdicts", Extras.Perms,
      Extras.MinhashJaccardThreshold, root + "/ckpt")
    try {
      // batch id 0 is pre-committed in the bands log under this
      // checkpoint's app id (as after a crash between the bands commit
      // and the checkpoint commit): the delivered batch must be
      // SKIPPED — no verdicts, no append (ADVICE r12: ids are per
      // checkpoint)
      val head = SnapshotLog.headSnapshot(spark, bands).get
      SnapshotLog.commit(spark, bands, "append", head.schema, head.partCols,
        txn = Some(appId -> 0L))(identity)
      docs.filter(col("doc_id") % 4 === 1).coalesce(1)
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
      assert(!new java.io.File(root + "/verdicts/batch-0").exists,
        "a ledger-marked batch id must not probe again")
      assert(SnapshotLog.read(spark, store + "/docs").count() == histDocs,
        "a ledger-marked batch id must not append again")
      // the following batch (id 1) is unmarked: verdicts land and the
      // kept docs grow the store
      docs.filter(col("doc_id") % 4 === 3).coalesce(1)
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
      val v1 = spark.read.parquet(root + "/verdicts/batch-1")
      assert(v1.count() == docs.filter(col("doc_id") % 4 === 3).count())
      val kept = v1.filter(col("keep")).count()
      assert(SnapshotLog.read(spark, store + "/docs").count() == histDocs + kept,
        "exactly the kept docs append")
      assert(committedBatch() === Some(1L),
        "the processed batch commits its id")
    } finally q.stop()

    // A FRESH checkpoint pointed at the same store restarts batch ids
    // at 0 — its batches must PROCESS, not be skipped by the previous
    // query's markers (ADVICE r12: the un-namespaced ledger silently
    // lost exactly these batches)
    val feed2 = root + "/feed2"
    new java.io.File(feed2).mkdirs()
    val q2 = MinhashSignatureStore.dedupStream(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed2),
      store, root + "/verdicts2", Extras.Perms,
      Extras.MinhashJaccardThreshold, root + "/ckpt2")
    try {
      docs.filter(col("doc_id") % 8 === 5).coalesce(1)
        .write.mode("append").parquet(feed2)
      q2.processAllAvailable()
      assert(new java.io.File(root + "/verdicts2/batch-0").exists,
        "a fresh checkpoint's batch 0 must not be skipped by the old " +
          "query's ledger")
    } finally q2.stop()
  }

  test("optimize between ANN stream runs: the ledger survives the cell " +
      "swap and the resumed stream probes the post-split layout with " +
      "the refreshed centroids") {
    import graft.operators.AnnIndex
    import graft.queries.Extras
    val tau = Extras.EmbedCosThreshold
    val vectors = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cents = vectors.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("v").as("c"))
    val pool = vectors.filter(col("vec_id") >= 17)
    val hist = pool.filter(col("vec_id") % 2 === 0)
    val b1 = pool.filter(col("vec_id") % 4 === 1)
    val b2 = pool.filter(col("vec_id") % 4 === 3)
    val root = java.nio.file.Files
      .createTempDirectory("graft-annoptstream").toString
    val idx = root + "/index"
    AnnIndex.build(hist, cents, idx)
    val feed = root + "/feed"
    new java.io.File(feed).mkdirs()
    def startStream(c: org.apache.spark.sql.DataFrame) =
      AnnIndex.dedupStream(
        spark.readStream.schema(pool.schema)
          .option("maxFilesPerTrigger", 1).parquet(feed),
        idx, root + "/verdicts", c, nprobe = 2, tau, root + "/ckpt")
    // run 1: batch 0 probes and appends under the 8 seed cells
    val q1 = startStream(cents)
    try {
      b1.coalesce(1).write.mode("append").parquet(feed)
      q1.processAllAvailable()
    } finally q1.stop()
    val ledger = new java.io.File(graft.streaming.StreamLedger.dir(
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(idx), root + "/ckpt").toUri.getPath)
    assert(new java.io.File(ledger, "batch-0").exists)
    val keptB1 = spark.read.parquet(root + "/verdicts/batch-0")
      .filter(col("keep")).count()
    // between-runs maintenance: split the hot cells (the x65c hook)
    val maxOcc = 16L
    val refreshed = AnnIndex.optimize(spark, idx, cents, maxOcc)
      .localCheckpoint(true)
    assert(refreshed.count() > cents.count(),
      "fixture must actually split at this occupancy")
    assert(new java.io.File(ledger, "batch-0").exists,
      "the optimize swap must not touch the stream ledger")
    // run 2: SAME checkpoint, REFRESHED centroids (the production
    // resume contract) — batch 0 is not replayed, batch 1 (b2)
    // probes the post-split layout
    val q2 = startStream(refreshed)
    try {
      b2.coalesce(1).write.mode("append").parquet(feed)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(root + "/verdicts/batch-0")
      .filter(col("keep")).count() == keptB1,
      "the resumed stream must not reprocess the pre-optimize batch")
    // equivalence oracle: replay the lifecycle in batch — build at the
    // seed cells over history + b1's keepers, optimize with the same
    // occupancy (deterministic: same content, same args, same splits),
    // probe b2 against THAT. Any divergence in the resumed stream's
    // layout, centroid set, or verdicts shows up row-for-row.
    val refIdx = root + "/refindex"
    val keptIds = spark.read.parquet(root + "/verdicts/batch-0")
      .filter(col("keep")).select(col("vec_id"))
    AnnIndex.build(
      hist.unionByName(b1.join(keptIds, Seq("vec_id"), "left_semi")),
      cents, refIdx)
    val refCents = AnnIndex.optimize(spark, refIdx, cents, maxOcc)
    val expected = AnnIndex.dedupAgainst(
        spark, refIdx, b2, refCents, nprobe = 2, tau)
      .orderBy(col("vec_id")).collect().toSeq
    val got = spark.read.parquet(root + "/verdicts/batch-1")
      .orderBy(col("vec_id")).collect().toSeq
    assert(got == expected,
      "the resumed stream's probe must equal a fresh build + optimize")
  }

  test("AnnIndex.dedupStream == the x79 batch dedup lifecycle, row for " +
      "row (x80: the streaming leg of cross-run semantic dedup)") {
    import graft.queries.Extras
    // the two public queries run the IDENTICAL lifecycle — x79 hands
    // the batches to dedupAgainst/append directly, x80 lands them as
    // files in a watched dir and lets dedupStream drive the same
    // probe-write-append sequence per micro-batch; any divergence
    // (ordering, ledger, verdict materialization) shows up as a row
    val batchRows = Extras.x79SemdedupIncremental(spark, sf).collect().toSeq
    val streamRows = Extras.x80SemdedupStream(spark, sf).collect().toSeq
    assert(streamRows == batchRows,
      "streaming the ingest batches must not change a single verdict")
    // non-degenerate: the sf0.001 fixture drops at least one vector
    assert(batchRows.exists(!_.getBoolean(2)),
      "fixture must exercise a drop")
  }

  test("AnnIndex.dedupStream in VerdictOnly mode == the x81 batch " +
      "lifecycle, row for row (the production keep/drop stream for " +
      "embeddings)") {
    import graft.operators.AnnIndex
    import graft.queries.Extras
    val batchRows = Extras.x81SemdedupVerdicts(spark, sf).collect().toSeq
    val vectors = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cents = vectors.filter(col("vec_id").between(1, 16))
      .select(col("vec_id").as("cid"), col("v").as("c"))
    val pool = vectors.filter(col("vec_id") >= 17)
    val root = java.nio.file.Files
      .createTempDirectory("graft-annvstream").toString
    val idx = root + "/index"
    AnnIndex.build(pool.filter(col("vec_id") % 2 === 0), cents, idx)
    val feed = root + "/feed"
    new java.io.File(feed).mkdirs()
    val q = AnnIndex.dedupStream(
      spark.readStream.schema(pool.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      idx, root + "/verdicts", cents, nprobe = 2,
      Extras.EmbedCosThreshold, root + "/ckpt", AnnIndex.VerdictOnly)
    try {
      pool.filter(col("vec_id") % 4 === 1).coalesce(1)
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
      pool.filter(col("vec_id") % 4 === 3).coalesce(1)
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    val streamRows = spark.read.parquet(root + "/verdicts/batch-0")
      .withColumn("batch", lit("b1"))
      .unionByName(spark.read.parquet(root + "/verdicts/batch-1")
        .withColumn("batch", lit("b2")))
      .select(col("vec_id"), col("batch"), col("keep"))
      .orderBy(col("vec_id")).collect().toSeq
    assert(streamRows == batchRows,
      "the verdict-only stream must not change a single keep/drop")
    // the verdict-only schema really is the slim one (no census stats)
    assert(spark.read.parquet(root + "/verdicts/batch-0")
      .schema.fieldNames.toSeq == Seq("vec_id", "keep"))
  }
}
