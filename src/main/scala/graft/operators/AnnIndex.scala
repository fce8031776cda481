package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Disk-backed IVF index: the vectors live in a parquet table
  * PARTITIONED BY their coarse-quantizer cell, so a probe only READS
  * the `nprobe` cells it ranked — at 100 TB the index is built once
  * and every query's scan is bounded by `nprobe / n_cells` of the
  * corpus via plain partition pruning (visible as `PartitionFilters`
  * in the scan; no custom source needed).
  *
  * This is the persistent complement of the in-query IVF (x13): x13
  * re-derives cells per run, which is right for one-shot analytics;
  * a serving/refresh workload amortizes the assignment into the
  * layout, exactly like Z-ordering amortizes sort order
  * (operators/ZOrder).
  *
  * The quantizer is inner-product argmax against a broadcast centroid
  * set (ties to the smaller cell id) — swap the scoring expression for
  * L2 without touching the layout machinery.
  *
  * Scoring runs through the exact-decimal codegen kernel
  * ([[graft.expressions.DecimalDot]]): a PERSISTENT layout must be
  * bit-reproducible — double-accumulation order could move a
  * near-tied vector between cells across rebuilds (and across
  * engines), which would make the index non-deterministic and its
  * probe results un-oracle-able (x65 hash-gates this operator).
  */
object AnnIndex {

  private def dot(v: String, c: String) =
    graft.functions.VectorFns.dotDec(v, c)

  private def dotc(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.expressions.DecimalDot.decimalDot(a, b)

  private def fdotc(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.expressions.DoubleDot.doubleDot(a, b)

  /** The index's two session settings, read through [[setting]] from
    * the session's conf when a plan is built (so `--conf`,
    * `SPARK_GRAFT_EXTRA_CONF` and `spark.conf.set` all reach them, and
    * two sessions on one driver never see each other's values):
    *  - [[CentroidLimitKey]] (default 262144 cells): past it the probe
    *    ranking routes two-level ([[routesTwoLevel]]), maintenance
    *    persists supers ([[optimizeIfOutgrown]]) and optimize refuses
    *    to reorganize ([[guardCentroidScale]]);
    *  - [[NsuperKey]] (default 8): the two-level descent width
    *    ([[topCellsTwoLevel]]).
    */
  private[graft] val CentroidLimitKey = "spark.graft.ann.centroid.limit"
  private[graft] val NsuperKey = "spark.graft.ann.nsuper"

  private val settingDefaults = Map(CentroidLimitKey -> 262144L, NsuperKey -> 8L)

  private def setting(spark: SparkSession, key: String): Long =
    spark.conf.getOption(key).fold(settingDefaults(key))(_.trim.toLong)

  /** Hard ceiling on the centroid-set size for [[optimize]] (VERDICT
    * r15 #3). The PROBE paths no longer share it: past the same limit
    * their ranking routes through the two-level coarse quantizer
    * ([[topCellsTwoLevel]], r17) instead of broadcasting the set, and
    * the refresh's driver COLLECT is gone too (the refreshed set is
    * staged as parquet and swapped to a versioned live home). What
    * the guard still bounds is optimize's REORGANIZATION machinery:
    * the driver-side split-plan Seqs (one entry per hot cell / child
    * / final slice) and the fact that a mega-rebalance has never been
    * MEASURED — the Lloyd/seed join hints are already conditional on
    * the driver-known child count (`bcastR`: past
    * [[ReorgBroadcastRowsLimit]] the hints drop and AQE picks
    * shuffle joins from runtime sizes), so the structural pieces are
    * in place, and lifting the refusal is a measurement task, not a
    * design one (SCALE.md r18). The limit is the session setting
    * [[CentroidLimitKey]].
    */
  private def guardCentroidScale(spark: SparkSession, n: Long): Unit = {
    val limit = setting(spark, CentroidLimitKey)
    if (n > limit) sys.error(
      s"AnnIndex centroid set has $n cells > broadcast-sane limit $limit: " +
        "raise maxOccupancy (optimizeIfOutgrown's √n policy keeps " +
        "n_cells ≈ √n); probes past this limit rank via the two-level " +
        "coarse quantizer, but optimize's Lloyd broadcasts and " +
        "driver-side split plan still scale with the hot-cell count " +
        "(SCALE.md) — refusing to build them")
  }

  /** How many wanted-cell ids inline as a literal IN-list (static
    * partition pruning) before the probe paths switch to a
    * broadcast-semi-join filter (runtime partition pruning via DPP):
    * a 10⁴–10⁵-cell index would otherwise bloat every probe plan with
    * a 10⁴-literal predicate — plan size and compile time grow with
    * the index instead of the probe (VERDICT r14 #4).
    */
  private val IsinCellLimit = 256

  /** The index scan restricted to `cellIds`: small id sets inline as
    * a static partition filter, pruned BEFORE any row is read; large
    * ones become a broadcast left-semi join against a one-column
    * cell-id frame. That semi join alone prunes no partition (DPP does
    * not treat a local id relation as a selective filtering side); the
    * runtime partition filter comes from the probe paths' join of the
    * scan to their ranked cells. The id frame is cast to the
    * discovered partition-column type so the scan side stays a bare
    * attribute — a cast there would defeat that DPP.
    */
  private def wantedCellScan(spark: SparkSession, path: String,
      cellIds: Seq[Long]): DataFrame =
    wantedCellScan(spark.read.parquet(path), cellIds)

  /** [[wantedCellScan]] over an already-read index frame: every
    * `spark.read.parquet(path)` call pays a fresh recursive listing of
    * the cell-partitioned table on the driver (InMemoryFileIndex is
    * per-DataFrame, and the local FS materializes permission bits per
    * listed file — SCALE.md measured ~0.6 s at ~200 files; an object
    * store pays a LIST storm), so a caller that already holds a frame
    * for the same table state reuses its listing instead of re-walking
    * the directory tree (r17, guide §6). Partition pruning — static
    * isin or the DPP semi-join — operates on the frame's cached
    * listing either way; the routing and the plan are unchanged.
    * `isinLimit` is a parameter only so a spec can take the DPP branch
    * at fixture size.
    */
  private[graft] def wantedCellScan(index: DataFrame, cellIds: Seq[Long],
      isinLimit: Int = IsinCellLimit): DataFrame = {
    val spark = index.sparkSession
    if (cellIds.lengthCompare(isinLimit) <= 0)
      index.filter(col("cell").isin(cellIds: _*))
    else {
      import spark.implicits._
      val ids = cellIds.toDF("cell")
        .select(col("cell").cast(index.schema("cell").dataType).as("cell"))
      index.join(broadcast(ids), Seq("cell"), "left_semi")
    }
  }

  /** The double/decimal disagreement margin: double dot error scales
    * with Σ|x·y| (not the result — near-cancelling large components
    * can leave |error| ≫ |score|), and Σ|x·y| ≤ |x|·|y| by
    * Cauchy–Schwarz, so the band is anchored on the MAGNITUDE
    * `mag` = |x|·|y| of the row's vectors (plus the compared rows' —
    * callers pass the max magnitude over the compared set). The
    * kernels agree to ~1e-14 of that magnitude, so 1e-9 is ~10⁵
    * slack; the |s|+|ref| terms keep the old relative band as a
    * second floor (ADVICE r14: a pure relative band silently broke
    * the bit-identical contract for unnormalized near-cancelling
    * vectors).
    */
  private def margin(s: org.apache.spark.sql.Column,
      ref: org.apache.spark.sql.Column,
      mag: org.apache.spark.sql.Column) =
    lit(1e-9) * (abs(s) + abs(ref) + mag + 1)

  /** Exact-decimal top-k cell ranking with a codegen DOUBLE pre-rank
    * (the bloom-route pattern the scoring side already uses): rank
    * every (probe, cell) pair by the cheap double kernel, keep only
    * pairs that could still be in the true decimal top-k — double
    * rank ≤ k, or double score within the [[margin]] band of the
    * k-th double score (a cell below that band cannot beat the k-th
    * place exactly) — and let the decimal kernel rank ONLY the
    * survivors, with the contract's tie rules (score desc, nulls
    * last, smaller cid). Selection is bit-identical to
    * decimal-ranking every cell (the hash gates on every ANN key pin
    * this), but the decimal cost drops from |probes| × |cells| to
    * ~|probes| × (k + ties) — the difference between an un-rankable
    * maintained index (hundreds of cells after [[optimize]] capping)
    * and a probe whose ranking stage is one codegen pass (measured in
    * ANN_DIAG_r14.json: the all-decimal ranking DOMINATED the capped
    * index's probe, inverting the win from 52× fewer candidate pairs).
    *
    * Input probes as (p_id, p); output keeps (p_id, p, cid, c) AND
    * the decimal rank `rk` (1..k per probe; only the double helper
    * columns are dropped), k rows per probe (fewer only if the index
    * has fewer cells). `rk` is load-bearing: rank 1 IS the
    * build/append assignment cell under the argmax rule, which
    * [[dedupStream]] uses to route kept vectors without a second
    * ranking pass (ADVICE r15: this column is contract, not residue).
    * That contract — columns, tie rules, selection — holds for BOTH
    * ranking paths below; [[topCells]] routes between them by
    * centroid-set size.
    */
  private def topCells(probes: DataFrame, centroids: DataFrame,
      k: Int, indexPath: Option[String] = None): DataFrame =
    if (routesTwoLevel(centroids))
      topCellsTwoLevel(probes, centroids, k, cellCount(centroids), indexPath)
    else topCellsFlat(probes, centroids, k)

  /** Ranking-path router: the flat single-level ranking broadcasts
    * the whole centroid set, which is the right plan up to the
    * broadcast-sane bound and a driver/executor memory event past it
    * — so past the centroid frame's session [[CentroidLimitKey]] the
    * ranking routes through the TWO-LEVEL coarse quantizer
    * ([[topCellsTwoLevel]]) instead. n_cells comes from a per-frame
    * memo ([[cellCount]]): the streaming paths reuse one adopted
    * centroids frame across micro-batches, so the count job runs once
    * per adopted set, not per batch.
    */
  private[graft] def routesTwoLevel(centroids: DataFrame): Boolean =
    cellCount(centroids) > setting(centroids.sparkSession, CentroidLimitKey)

  /** Memoized centroid-set size per FRAME INSTANCE (identity-keyed,
    * weak, so dropped frames GC): the ranking router needs n_cells
    * and must not pay a count job per micro-batch.
    */
  private val cellCountMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, java.lang.Long]())

  private def cellCount(centroids: DataFrame): Long =
    cellCountMemo.computeIfAbsent(centroids, c => c.count()).longValue

  /** Memoized two-level super construction per centroid frame
    * instance — see [[topCellsTwoLevel]]. Values are eagerly
    * localCheckpoint'd frames whose lineage holds no reference back
    * to the weak key, so entries stay collectable.
    */
  private val superMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, (DataFrame, DataFrame)]())

  /** Memoized content fingerprint per centroid frame instance —
    * (n_cells, order-independent hash-sum over (cid, c)) — the key
    * that ties a LAYOUT-persisted super assignment ([[persistSupers]])
    * to the centroid frame a probe actually passed. One aggregate per
    * frame instance, paid only on the two-level route when a
    * persisted-super candidate exists.
    */
  private val centroidFpMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, (Long, Long)]())

  private def centroidFingerprint(centroids: DataFrame): (Long, Long) =
    centroidFpMemo.computeIfAbsent(centroids, { c =>
      // bit_xor: order-independent and overflow-free under ANSI mode
      // (a sum of 64-bit hashes overflows); rows are unique by cid, so
      // pairwise cancellation cannot occur in a well-formed set
      val r = c.agg(count(lit(1)),
        bit_xor(xxhash64(col("cid"), col("c")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    })

  /** TWO-LEVEL coarse quantizer (the guard's named escape, VERDICT
    * r16 missing #1): for n_cells past the broadcast bound, cluster
    * the CELL CENTROIDS under k₂ = ⌈√n_cells⌉ super-centroids and
    * rank in two stages — (1) the flat machinery over the √n supers
    * (broadcast-sane by construction), (2) the same double-pre-rank +
    * margin-band + exact-decimal tie rules over ONLY the chosen
    * supers' cells, with the pairs built by thin joins (nothing
    * n_cells-sized is ever broadcast or collected; the p_id join
    * satisfies the ranking windows' clustering, so no pair-row
    * exchange is added either). Fully deterministic, hence verdicts
    * stay replayable: seeds are the k₂ smallest cell ids, membership
    * is [[assign]]'s decimal argmax, super-centroids are per-
    * dimension DECIMAL SUMS of member centroids (the x61 idiom —
    * cosine is scale-invariant, so the undivided sum ranks exactly
    * like the mean and sidesteps decimal division), and both ranking
    * stages share the flat path's tie rules.
    *
    * The descent width [[NsuperKey]] (default 8) is the
    * recall/cost dial of every two-level IVF: a cell whose super was
    * not ranked in the top-nsuper is not considered — missed BY
    * CONTRACT, like nprobe at level 1. With nsuper ≥ k₂ every cell is
    * considered and the output is IDENTICAL to the flat ranking
    * (AnnIndexSpec pins this), because the candidate SET and the tie
    * rules — not the plan shape — determine the result. Super
    * construction — O(n_cells·√n_cells) distributed work — is
    * memoized per centroid FRAME instance ([[superMemo]], the
    * [[cellCount]] idiom): the streaming paths reuse one adopted
    * centroids frame across micro-batches, so they cluster once per
    * adopted set, not per batch; the memoized frames are eagerly
    * localCheckpoint'd, so their lineage holds no reference to the
    * weak key. Persisting the super assignment in the index LAYOUT at
    * [[optimize]] time (surviving the JVM) remains the named
    * follow-up (SCALE.md).
    */
  /** The super construction itself — assignment of every cell
    * centroid to its best of the k₂ seed supers, plus the per-super
    * decimal-sum centroids ([[topCellsTwoLevel]]'s contract comment
    * spells out the determinism rules). Returns eagerly
    * localCheckpoint'd (superOf = (cid, sid), superCents = (cid, c))
    * frames whose lineage holds no reference to the input frame.
    *
    * Two construction paths with BIT-IDENTICAL selection (spec-pinned):
    * past `directPairs` (cells × k₂ candidate pairs; a parameter only
    * so a spec can take both paths) the membership runs through
    * [[assign]]'s double-pruned decimal argmax — at scale the prune is what keeps BigDecimal work
    * O(n_cells) instead of O(n_cells·√n_cells). Under the bound the
    * pair set is scheduler-sized and the prune's extra exchanges
    * (pre-aggregate + re-join) cost more than they save, so the
    * membership is ONE aggregate: decimal-score every (cell, seed)
    * pair and take assign's own argmax rule (max d, null → MinValue,
    * tie → smaller sid) via max_by. Both paths then fuse the vector
    * into the checkpointed assignment, so the super-centroid sums
    * read the 16-row checkpoint instead of re-joining the input
    * (r18: one join and one exchange fewer per construction).
    */
  private[graft] def computeSupers(centroids: DataFrame, k2: Int,
      directPairs: Long = SupersDirectPairs): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val nCells = cellCount(centroids)
    val seeds = centroids.orderBy(col("cid")).limit(k2)
    val asgv =
      (if (nCells * k2 <= directPairs) {
        centroids.crossJoin(
            broadcast(seeds.select(col("cid").as("sid"), col("c").as("sc"))))
          .withColumn("d", dot("c", "sc"))
          .groupBy(col("cid"))
          .agg(max(col("c")).as("c"),
            max_by(col("sid"),
              struct(coalesce(col("d"), lit(Double.MinValue)).as("d"),
                (-col("sid")).as("t"))).as("sid"))
      } else {
        assign(
          centroids.select(col("cid").as("vec_id"), col("c").as("v")), seeds,
          spread = false)
          .select(col("vec_id").as("cid"), col("v").as("c"),
            col("cell").as("sid"))
      }).localCheckpoint(true)
    val so = asgv.select(col("cid"), col("sid"))
    val sc = asgv
      .select(col("sid"), posexplode(col("c")).as(Seq("pos", "x")))
      .groupBy(col("sid"), col("pos"))
      .agg(sum(col("x").cast(DecimalType(30, 12)))
        .cast(DoubleType).as("cc"))
      .groupBy(col("sid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cc")))),
        p => p.getField("cc")).as("c"))
      .select(col("sid").as("cid"), col("c"))
      .localCheckpoint(true)
    (so, sc)
  }

  private val SupersDirectPairs = 262144L

  /** Layout home of the persisted super assignment (underscore
    * prefix: invisible to parquet readers of the index). One version
    * at a time; `_meta` (fingerprint of the centroid set the supers
    * were computed FROM) commits LAST, so any crash in the window
    * leaves an unreadable version whose fallback is in-session
    * construction — the [[CellRowsFile]] exact-or-absent idiom.
    */
  private val SupersDir = "_supers"

  private def supersRoot(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, SupersDir)

  private[graft] def deleteSupers(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    f.delete(supersRoot(root), true)

  /** Persist the super assignment for `centroids` into the index
    * layout ([[optimize]] calls this when the refreshed set crossed
    * the two-level routing limit — driver-known counts, no extra job
    * below the limit). Probe sessions against this layout then read
    * the assignment back instead of each paying the
    * O(n_cells·√n_cells) construction ([[topCellsTwoLevel]]).
    */
  private def persistSupers(spark: SparkSession, path: String,
      centroids: DataFrame, version: String): Unit = {
    val (f, root) = fsOf(spark, path)
    deleteSupers(f, root)
    val k2 = math.ceil(math.sqrt(cellCount(centroids).toDouble)).toInt
    val (so, sc) = superMemo.computeIfAbsent(centroids,
      _ => computeSupers(centroids, k2))
    val home = new org.apache.hadoop.fs.Path(supersRoot(root), version)
    so.write.parquet(new org.apache.hadoop.fs.Path(home, "super_of").toString)
    sc.write.parquet(
      new org.apache.hadoop.fs.Path(home, "super_cents").toString)
    val (n, fp) = centroidFingerprint(centroids)
    val tmp = new org.apache.hadoop.fs.Path(home, "_meta.tmp")
    val out = f.create(tmp, true)
    try out.write(s"$n $fp".getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, new org.apache.hadoop.fs.Path(home, "_meta")))
      sys.error(s"AnnIndex: rename $tmp -> _meta failed")
  }

  /** The committed persisted-super version for exactly this centroid
    * set, or None (absent / torn / different set — fall back to
    * construction). The fingerprint check costs one aggregate per
    * centroid FRAME instance (memoized), paid only when a persisted
    * candidate exists on the two-level route.
    */
  private def readPersistedSupers(spark: SparkSession, path: String,
      centroids: DataFrame): Option[(DataFrame, DataFrame)] =
    try {
      val (f, root) = fsOf(spark, path)
      val sr = supersRoot(root)
      if (!f.exists(sr)) return None
      f.listStatus(sr).filter(_.isDirectory)
        .sortBy(-_.getModificationTime).iterator.flatMap { st =>
          val meta = new org.apache.hadoop.fs.Path(st.getPath, "_meta")
          if (!f.exists(meta)) None
          else {
            val in = f.open(meta)
            val txt = try scala.io.Source.fromInputStream(in).mkString
            finally in.close()
            val a = txt.trim.split(" ", 2)
            val (n, fp) = (a(0).toLong, a(1).toLong)
            if ((n, fp) != centroidFingerprint(centroids)) None
            else Some((
              spark.read.parquet(
                new org.apache.hadoop.fs.Path(st.getPath, "super_of").toString),
              spark.read.parquet(
                new org.apache.hadoop.fs.Path(st.getPath,
                  "super_cents").toString)))
          }
        }.nextOption()
    } catch { case _: Exception => None }

  private def topCellsTwoLevel(probes: DataFrame, centroids: DataFrame,
      k: Int, nCells: Long, indexPath: Option[String] = None): DataFrame = {
    val spark = probes.sparkSession
    graft.expressions.DecimalDot.register(spark)
    graft.expressions.DoubleDot.register(spark)
    val fdot = graft.functions.VectorFns.dotFast _
    val k2 = math.ceil(math.sqrt(nCells.toDouble)).toInt
    val nsuper =
      math.max(1L, setting(centroids.sparkSession, NsuperKey)).toInt
    val (superOf, superCents) = superMemo.computeIfAbsent(centroids, _ =>
      indexPath.flatMap(readPersistedSupers(spark, _, centroids))
        .getOrElse(computeSupers(centroids, k2)))
    val topSuper = topCellsFlat(probes, superCents, nsuper)
      .select(col("p_id"), col("cid").as("sid"))
    val candCells = topSuper.join(superOf, Seq("sid"))
      .select(col("p_id"), col("cid"))
    val w = Window.partitionBy(col("p_id"))
    val rkd = row_number().over(w.orderBy(col("sd").desc, col("cid")))
    val kth = max(when(col("rkd") === k, col("sd"))).over(w)
    val probesP = probes.repartition(col("p_id"))
    val cand = candCells
      .join(centroids.withColumn("ncf", fdot("c", "c")), Seq("cid"))
      .join(probesP.withColumn("npf", fdot("p", "p")), Seq("p_id"))
      .select(col("p_id"), col("cid"), fdot("p", "c").as("sd"),
        sqrt(col("npf") * col("ncf")).as("mag"))
      .withColumn("rkd", rkd)
      .withColumn("kth", kth)
      .withColumn("magx", max(col("mag")).over(w))
      .filter(col("rkd") <= k || col("sd").isNull || col("kth").isNull ||
        col("sd") >= col("kth") -
          margin(col("sd"), col("kth"), col("mag") + col("magx")))
      .select(col("p_id"), col("cid"))
    val rk = row_number().over(w.orderBy(col("d").desc, col("cid")))
    cand.join(centroids, Seq("cid"))
      .join(probesP, Seq("p_id"))
      .withColumn("d", dot("p", "c"))
      .withColumn("rk", rk).filter(col("rk") <= k)
      .drop("d")
  }

  private def topCellsFlat(probes: DataFrame, centroids: DataFrame,
      k: Int): DataFrame = {
    graft.expressions.DecimalDot.register(probes.sparkSession)
    graft.expressions.DoubleDot.register(probes.sparkSession)
    val fdot = graft.functions.VectorFns.dotFast _
    val w = Window.partitionBy(col("p_id"))
    val rkd = row_number().over(w.orderBy(col("sd").desc, col("cid")))
    val kth = max(when(col("rkd") === k, col("sd"))).over(w)
    // The PROBES are hash-partitioned by p_id BEFORE the broadcast
    // cross join: BroadcastNestedLoopJoin preserves its streamed
    // side's partitioning, so both ranking windows' ClusteredDistribution
    // on p_id is already satisfied and NO |probes| × |cells| exchange
    // exists anywhere in the plan — the only shuffle is the
    // probe-frame-sized repartition. At the sf10 diag point (25k
    // probes × 1138 cells) the old plan exchanged 28.5M pair rows per
    // probe call; this is what kept the fixed-cap maintained probe
    // ranking-bound (r16 diag) even after the pairs were thinned to
    // scalars. Self-norms stay HOISTED below the join (VERDICT r15
    // #5): one fdot per probe row and one per centroid instead of two
    // per (probe, cell) pair — the projections sit under the
    // join/broadcast so project-collapse cannot fold them back into
    // the pair row, and sqrt(npf·ncf) is the same double as the old
    // sqrt(fdot·fdot). mag = |p|·|c| anchors the margin on the
    // magnitude the double error actually scales with, and the window
    // max covers the k-th row's own magnitude.
    val probesP = probes.repartition(col("p_id"))
    val cand = probesP.withColumn("npf", fdot("p", "p"))
      .crossJoin(broadcast(centroids.withColumn("ncf", fdot("c", "c"))))
      .select(col("p_id"), col("cid"), fdot("p", "c").as("sd"),
        sqrt(col("npf") * col("ncf")).as("mag"))
      .withColumn("rkd", rkd)
      .withColumn("kth", kth)
      .withColumn("magx", max(col("mag")).over(w))
      .filter(col("rkd") <= k || col("sd").isNull || col("kth").isNull ||
        col("sd") >= col("kth") -
          margin(col("sd"), col("kth"), col("mag") + col("magx")))
      .select(col("p_id"), col("cid"))
    val rk = row_number().over(w.orderBy(col("d").desc, col("cid")))
    // the decimal rank survives in the output (`rk`): rank 1 IS the
    // assignment cell under build/append's argmax rule (max d, tie →
    // smaller cid), which lets [[dedupStream]] route kept vectors
    // without a second ranking pass
    cand.join(broadcast(centroids), Seq("cid"))
      .join(probesP, Seq("p_id"))
      .withColumn("d", dot("p", "c"))
      .withColumn("rk", rk).filter(col("rk") <= k)
      .drop("d")
  }

  /** Best-cell assignment with the same double-pruned decimal argmax,
    * shaped for a CORPUS-sized input (build/append assign every
    * vector, so the probe paths' window — which must co-locate all of
    * a vector's cell scores — would shuffle n × cells rows): the
    * double max per vector partial-aggregates map-side (one thin
    * n-row exchange), candidates are the cells within the margin of
    * that max, and the decimal kernel scores only those before the
    * original max_by argmax (score desc, null → MinValue, tie →
    * smaller cid). Ties go to the smaller cell id; a degenerate
    * vector (null dots) still gets a cell — its double max is null,
    * every cell survives the prune, and the tie rule picks the
    * smallest cid. Selection is bit-identical to decimal-scoring
    * every (vector, cell) pair; decimal cost drops to ~one dot per
    * vector.
    */
  private def assign(embeddings0: DataFrame, centroids: DataFrame,
      spread: Boolean = true): DataFrame = {
    graft.expressions.DecimalDot.register(embeddings0.sparkSession)
    graft.expressions.DoubleDot.register(embeddings0.sparkSession)
    val fdot = graft.functions.VectorFns.dotFast _
    // The scoring map work (a dot per surviving (vector, centroid)
    // pair) runs on the INPUT partitioning, and build/append inputs
    // often arrive as one or two parquet files — 2-second serial jobs
    // on an otherwise idle 32-core box (r18, guide §2.4). Widen narrow
    // inputs to the session's width; the session's shuffle.partitions
    // is the cap so a stream's data-sized batch scope
    // ([[graft.streaming.Spread.batchSizing]])
    // is honored rather than re-widened. Wide inputs pass through;
    // scheduler-sized inputs (the two-level super construction assigns
    // one ROW per cell centroid) opt out — widening those just buys
    // near-empty tasks.
    val spark = embeddings0.sparkSession
    val embeddings = if (!spread) embeddings0
      else graft.streaming.Spread.toWidth(embeddings0,
        math.min(spark.sparkContext.defaultParallelism,
          spark.conf.get("spark.sql.shuffle.partitions").toInt))
    // self-norms hoisted below the joins (VERDICT r15 #5): one fdot
    // per vector row / per centroid, not two per (vector, cell) pair
    val centsN = broadcast(centroids.withColumn("ncf", fdot("c", "c")))
    val best = embeddings.withColumn("nvf", fdot("v", "v"))
      .crossJoin(centsN)
      .select(col("vec_id"), fdot("v", "c").as("sd"),
        sqrt(col("nvf") * col("ncf")).as("mag"))
      .groupBy(col("vec_id"))
      .agg(max(col("sd")).as("maxd"), max(col("mag")).as("magx"))
    embeddings.join(best, Seq("vec_id"))
      .withColumn("nvf", fdot("v", "v"))
      .crossJoin(centsN)
      .withColumn("sd", fdot("v", "c"))
      .withColumn("mag", sqrt(col("nvf") * col("ncf")))
      .filter(col("sd").isNull || col("maxd").isNull ||
        col("sd") >= col("maxd") -
          margin(col("sd"), col("maxd"), col("mag") + col("magx")))
      .withColumn("d", dot("v", "c"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v").as("v"), col("cid").as("cid")),
        struct(coalesce(col("d"), lit(Double.MinValue)).as("d"),
          (-col("cid")).as("t"))).as("w"))
      .select(col("vec_id"), col("w.v").as("v"), col("w.cid").as("cell"))
  }

  /** Per-cell RAW row-count commit metadata (r18, VERDICT r17 #3 —
    * an exact-or-absent sidecar, the idiom the signature store used
    * before its row count moved into its SnapshotLog commits): build
    * seeds it, append/optimize maintain it, and [[optimizeIfOutgrown]]'s
    * policy recount becomes one tiny driver-side file read instead of a
    * full-index aggregate per maintenance call (at 100 TB, a listing
    * + scan of the whole index between every batch).
    *
    * Exact-or-absent protocol: every writer DELETES the file before
    * touching the table and writes the updated counts only after its
    * write completed, so a crash anywhere in the window leaves the
    * file ABSENT — readers fall back to the scan (and re-seed), never
    * to a stale count. Counts are RAW rows (replay-duplicated append
    * rows included), exactly what the scan it replaces measured — the
    * split planner's seed ranks and the occupancy policy see the same
    * numbers either way. Any out-of-band rewrite of the index tree
    * must delete this file (in-repo writers all go through build/
    * append/optimize).
    */
  private val CellRowsFile = "_cell_rows"

  private def cellRowsPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, CellRowsFile)

  /** (cell, rawRows) per non-empty cell, or None (absent/torn). */
  private[graft] def readCellRows(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Seq[(Long, Long)]] =
    try {
      val p = cellRowsPath(root)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val txt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
        Some(txt.split("\n").iterator.filter(_.nonEmpty).map { l =>
          val a = l.split(" ", 2); (a(0).toLong, a(1).toLong)
        }.toSeq)
      }
    } catch { case _: Exception => None }

  private def writeCellRows(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, counts: Seq[(Long, Long)]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$CellRowsFile.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(counts.filter(_._2 > 0).sortBy(_._1)
      .map { case (c, n) => s"$c $n" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    f.delete(cellRowsPath(root), false)
    if (!f.rename(tmp, cellRowsPath(root)))
      sys.error(s"AnnIndex: rename $tmp -> $CellRowsFile failed")
  }

  private def deleteCellRows(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    f.delete(cellRowsPath(root), false)

  /** The scan the metadata replaces: per-cell raw row counts, one
    * column-pruned aggregate over the cell-partitioned table (cell is
    * a partition column, so ReadSchema is empty — footer-weight, but
    * still a full listing + job).
    */
  private def scanCellCounts(spark: SparkSession,
      index: DataFrame): Seq[(Long, Long)] =
    index.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .select(col("cell").cast("long"), col("n").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def fsOf(spark: SparkSession, path: String) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Append `frame` (vec_id, v, cell) under the metadata protocol:
    * when the count metadata exists it is deleted, the frame persisted
    * and written, and the merged counts written back (one O(batch)
    * aggregate on the cached frame); an absent-metadata append skips
    * all of it (the next optimizeIfOutgrown scan re-seeds).
    */
  private def appendFrame(spark: SparkSession, path: String,
      frame: DataFrame): Unit = {
    val (f, root) = fsOf(spark, path)
    readCellRows(f, root) match {
      case None =>
        frame.write.mode("append").partitionBy("cell").parquet(path)
      case Some(old) =>
        deleteCellRows(f, root)
        val fr = frame.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          fr.write.mode("append").partitionBy("cell").parquet(path)
          val merged = (old ++ scanCellCounts(spark, fr))
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
            .map { case (c, n) => (c, n) }
          writeCellRows(f, root, merged)
        } finally fr.unpersist(blocking = false)
    }
  }

  /** Assign every vector to its best cell and write the
    * cell-partitioned index table.
    */
  def build(embeddings: DataFrame, centroids: DataFrame, path: String): Unit = {
    val spark = embeddings.sparkSession
    // a stale metadata file from a previous layout at this path must
    // not survive the overwrite (build is the one writer that replaces
    // the tree without going through the swap protocol)
    val (f, root) = fsOf(spark, path)
    deleteCellRows(f, root)
    deleteSupers(f, root)
    assign(embeddings, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // the metadata is seeded LAZILY by the first maintenance call
    // (optimizeIfOutgrown scans once and re-seeds; optimize seeds
    // post-swap from driver-known numbers): an A/B showed seeding at
    // build time costs a scan per build plus a delta aggregate per
    // append — more than the one recount it saves on a
    // build-then-maintain-once lifecycle, while the steady-state
    // pipeline (maintenance between every batch) reaches the
    // zero-scan recount after its first call either way.
  }

  /** Incrementally add vectors to an existing index: the same
    * assignment pass in append mode — new files land inside the
    * affected cell directories only, so a refresh touches
    * O(new vectors) data and probes see the additions with no rebuild.
    * Pair with [[Compaction]] when many small refreshes fragment a
    * cell. Completes any crashed [[optimize]] swap first so the append
    * never lands inside a half-swapped layout — and when that
    * roll-forward happens, the batch is assigned against the
    * RECOVERED (post-split) centroid set, not the caller's stale one
    * (ADVICE r15: assigning by the pre-split scheme would file rows
    * into cells the refreshed set no longer names, unreachable by
    * subsequent probes).
    */
  def append(embeddings: DataFrame, centroids: DataFrame, path: String): Unit = {
    val recovered = recover(embeddings.sparkSession, path)
    appendRecovered(embeddings, recovered.getOrElse(centroids), path)
  }

  /** [[append]] against a centroid set the caller has ALREADY
    * roll-forward-recovered — [[appendStream]]'s per-batch path, which
    * runs [[recover]] itself to adopt a crashed optimize's refreshed
    * centroids and would otherwise pay a second no-op lock + marker
    * listing per micro-batch (ADVICE r16).
    */
  private def appendRecovered(embeddings: DataFrame, centroids: DataFrame,
      path: String): Unit =
    appendFrame(embeddings.sparkSession, path, assign(embeddings, centroids))

  /** Raw input bytes per partition for a micro-batch's data-sized
    * parallelism ([[graft.streaming.Spread.batchSizing]], r18):
    * embedding rows are wide and the per-row work (double dots) light
    * relative to tokenization, so the divisor is larger than the
    * minhash store's.
    */
  private val StreamBytesPerPartition = 1L << 20

  /** STREAMING index maintenance (VERDICT r11 #7): a `foreachBatch`
    * sink that lands every micro-batch of (vec_id, v) rows through the
    * same assignment [[append]], so an embedding stream keeps the
    * serving index fresh with no rebuild — the streaming leg of the
    * refresh path x65b exercises in batch. A batch-id ledger marker
    * (the LakeSink discipline via [[graft.streaming.StreamLedger]],
    * written AFTER the data) makes replays idempotent at the batch
    * level: a restarted query re-delivering batch N skips it instead
    * of duplicating vectors, so a probe over the drained stream equals
    * a probe over a batch-built index exactly (x70 hash-gates this).
    * The ledger is namespaced per checkpoint (ADVICE r12): batch ids
    * restart at 0 under a fresh checkpoint, so an un-namespaced
    * ledger would silently drop a new query's first batches against
    * an existing index. The ledger dir is underscore-prefixed —
    * invisible to parquet readers of the index. At scale each
    * micro-batch costs O(batch) data + one marker, the same shape as
    * any commit-log entry.
    */
  def appendStream(stream: DataFrame, centroids: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // mid-stream crash recovery threading, same as [[dedupStream]]:
    // once a roll-forward hands back the post-split centroid set,
    // this and every later micro-batch assigns against it
    var liveCents = centroids
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val root = new org.apache.hadoop.fs.Path(path)
        val f = root.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        graft.streaming.StreamLedger.once(f, root, checkpoint, batchId) {
          recover(batch.sparkSession, path).foreach(r => liveCents = r)
          // spread the (often one-file) trigger delivery before the
          // assignment pipeline — see [[dedupStream]]'s note; the
          // recovery just ran, so skip append's re-entry recover
          // (ADVICE r16: two swap-lock acquisitions + marker listings
          // per micro-batch, the second always a no-op). Both the
          // spread width and the exchanges are data-sized (r18,
          // [[graft.streaming.Spread.batchSizing]]).
          val (parts, width) = graft.streaming.Spread.batchSizing(batch,
            StreamBytesPerPartition)
          graft.SessionConf.withConf(batch.sparkSession,
              "spark.sql.shuffle.partitions" -> parts.toString) {
            appendRecovered(graft.streaming.Spread.toWidth(batch, width),
              liveCents, path)
          }
        }
        ()
      }
      .start()
  }

  /** Verdict-only incremental semantic dedup — [[dedupAgainst]] minus
    * the census statistics, the embedding analog of
    * [[MinhashSignatureStore.dedupVerdicts]] (x78). A production
    * ingest needs only keep/drop, and dropping the n_dups/max_cos
    * contract changes the cost class on match-dense corpora:
    * the census must score EVERY matching pair with the exact-decimal
    * kernel (max_cos is part of the hash-gated output, and only
    * decimal is bit-reproducible), so a dup-heavy corpus pays
    * BigDecimal work proportional to its duplicate-pair volume. The
    * verdict needs decimal only where double and decimal could
    * DISAGREE about ≥ τ: the two kernels agree to ~1e-12 relative, so
    * a pair with double-cosine ≥ τ + 1e-9 is a certain match (codegen
    * only), < τ − 1e-9 a certain miss (codegen only), and only the
    * ±1e-9 border band pays the decimal decide — O(ties), not
    * O(matches). Keep/drop is contract-identical to the census mode
    * (AnnIndexSpec pins equality); output is the slim
    * (vec_id, keep) schema.
    */
  def dedupVerdicts(spark: SparkSession, path: String, batch: DataFrame,
      centroids: DataFrame, nprobe: Int, tau: Double): DataFrame = {
    graft.expressions.DecimalDot.register(spark)
    recoverForRead(spark, path)
    val probes = batch.select(col("vec_id").as("p_id"), col("v").as("p"))
    dedupVerdictsFrom(spark, path, batch,
      topCells(probes, centroids, nprobe, Some(path)), tau)
  }

  /** [[dedupVerdicts]] over a precomputed [[topCells]] ranking — the
    * streaming path ([[dedupStream]]) materializes the ranking once
    * and reuses rank 1 as the kept vectors' append assignment, saving
    * a second decimal ranking pass per micro-batch. Assumes the
    * caller already ran swap recovery.
    */
  private def dedupVerdictsFrom(spark: SparkSession, path: String,
      batch: DataFrame, ranked: DataFrame, tau: Double): DataFrame = {
    graft.expressions.DecimalDot.register(spark)
    val probes = batch.select(col("vec_id").as("p_id"), col("v").as("p"))
    val wanted = ranked.select(col("p_id"), col("cid"))
    val cellIds = wanted.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    graft.expressions.DoubleDot.register(spark)
    val fdot = graft.functions.VectorFns.dotFast _
    val index = wantedCellScan(spark, path, cellIds)
      .select(col("vec_id").as("d1"), col("v").as("sv"), col("cell"))
      .withColumn("nvf", fdot("sv", "sv"))
    val cosf = fdot("p", "sv") /
      (sqrt(col("npf")) * sqrt(col("nvf")))
    // certain match by the double margin, OR border band decided by
    // the exact decimal — the when/otherwise STRUCTURALLY pins the
    // evaluation order (ADVICE r14: a disjunct's short-circuit is not
    // guaranteed across predicate reordering/CNF normalization), so
    // the decimal expressions are never evaluated outside the band
    // and a 100%-dup cell costs one codegen pass, not a BigDecimal
    // pass per pair
    val matched = probes.withColumn("npf", fdot("p", "p"))
      .join(broadcast(wanted), Seq("p_id"))
      .join(index, col("cid") === col("cell") && col("d1") =!= col("p_id"))
      .filter(col("npf") > 0d && col("nvf") > 0d && cosf >= tau - 1e-9)
      .filter(when(cosf >= tau + 1e-9, lit(true)).otherwise(
        dot("p", "sv") / (sqrt(dot("p", "p")) * sqrt(dot("sv", "sv"))) >= tau))
      .select(col("p_id").as("vec_id")).distinct()
      .withColumn("hit", lit(true))
    batch.select(col("vec_id"))
      .join(broadcast(matched), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("hit").isNull.as("keep"))
  }

  /** STREAMING incremental semantic dedup (the embedding analog of
    * [[graft.operators.MinhashSignatureStore.dedupStream]]): a
    * `foreachBatch` sink that runs every micro-batch of (vec_id, v)
    * rows through [[dedupAgainst]], writes the per-batch verdicts to
    * `verdictDir/batch-<id>`, and [[append]]s only the KEPT vectors —
    * the production shape of the x79 lifecycle, where "batch" is
    * whatever the trigger delivered. Ordering inside a batch is the
    * x71 rule: verdicts MATERIALIZE (the parquet write) before the
    * append mutates the index, so the lazy verdict plan never sees the
    * post-append layout. The [[graft.streaming.StreamLedger]] marker
    * (written after both the verdict write and the append) makes
    * replays idempotent — a restarted query re-delivering batch N
    * skips it, so the drained stream's verdicts AND index equal the
    * batch-driven lifecycle exactly (x80 hash-gates this against the
    * x79 oracle). Batch-internal semantic dedup is the caller's
    * pre-step (x61/x62's job), matching [[dedupAgainst]]'s
    * index-only contract. Per micro-batch cost: one cell-pruned probe
    * + O(kept) append + one marker — the index is never shuffled.
    */
  /** Which probe a [[dedupStream]] micro-batch runs: Census for
    * audited ingest with match statistics (n_dups, max_cos — every
    * matching pair pays the exact-decimal kernel), VerdictOnly for
    * production keep/drop (decimal only on the ±1e-9 border band —
    * the mode a 100 TB ingest would run, same split as the minhash
    * store's [[MinhashSignatureStore.ProbeMode]]).
    */
  sealed trait ProbeMode
  case object Census extends ProbeMode
  case object VerdictOnly extends ProbeMode

  def dedupStream(stream: DataFrame, path: String, verdictDir: String,
      centroids: DataFrame, nprobe: Int, tau: Double,
      checkpoint: String,
      mode: ProbeMode = Census): org.apache.spark.sql.streaming.StreamingQuery = {
    // when a crashed optimize is rolled forward mid-stream, this and
    // every LATER micro-batch must rank against the RECOVERED
    // (post-split) centroid set — the stream-start snapshot names
    // cells the refreshed layout may not have (ADVICE r15)
    var liveCents = centroids
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(path)
        val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.streaming.StreamLedger.once(f, root, checkpoint, batchId) {
          // SPREAD the micro-batch to the session's parallelism before
          // anything reads it (VERDICT r15 #4, measured in the r16
          // stream-vs-batch sweep, BENCH_SWEEP_*_r16.json): a trigger
          // often delivers ONE small file (the atomic-rename arrival
          // pattern), and the file source then runs the whole
          // per-batch probe pipeline — double ranking, margin filters,
          // the scoring join's stream side — as ONE task. At sf1 that
          // made the streamed lifecycle 2.7× the identical batch
          // lifecycle; spread, it is 0.9× (the stream SAVES append's
          // re-ranking pass). One batch-sized
          // shuffle only when the arrival is narrower than the session
          // ([[graft.streaming.Spread]], ADVICE r16), verdicts
          // bit-identical (every downstream op is partitioning-
          // independent). Also the persist target: the micro-batch
          // feeds two actions (verdict write, kept append).
          // data-sized parallelism for the whole batch body (r18,
          // [[graft.streaming.Spread.batchSizing]]): AQE-less
          // micro-batch plans otherwise run every exchange at the
          // session's static width
          val (parts, width) = graft.streaming.Spread.batchSizing(batch,
            StreamBytesPerPartition)
          graft.SessionConf.withConf(spark,
              "spark.sql.shuffle.partitions" -> parts.toString) {
          val spread = graft.streaming.Spread.toWidth(batch, width)
          spread.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            graft.expressions.DecimalDot.register(spark)
            // writer entry: roll any swap forward, adopt its centroids
            recover(spark, path).foreach(r => liveCents = r)
            val centroids = liveCents
            val out = s"$verdictDir/batch-$batchId"
            // ONE decimal cell-ranking pass per micro-batch (VERDICT
            // r14 #5): the materialized ranking feeds the probe's
            // wanted-cells AND, at rank 1, the kept vectors' append
            // assignment (identical to build/append's argmax rule —
            // max d, tie → smaller cid), which previously re-ranked
            // the whole batch against the centroids a second time
            val probes = spread.select(col("vec_id").as("p_id"),
              col("v").as("p"))
            val ranked = topCells(probes, centroids, nprobe, Some(path))
              .localCheckpoint(true)
            // verdicts materialize EAGERLY (r18): the verdict plan
            // scans the index, so it must run before the append
            // mutates it (the x71 ordering rule) — previously enforced
            // by writing parquet and reading it back per batch. The
            // checkpoint is the same materialization boundary without
            // the read-back's listing + scan; the verdict write then
            // streams from the checkpointed rows.
            val verdicts = (mode match {
              case Census =>
                dedupAgainstFrom(spark, path, spread, ranked, tau)
              case VerdictOnly =>
                dedupVerdictsFrom(spark, path, spread, ranked, tau)
            }).localCheckpoint(true)
            verdicts.write.mode("overwrite").parquet(out)
            val kept = verdicts.filter(col("keep"))
            // route directly off the checkpointed ranking: the append
            // plan reads NOTHING from the index, so the
            // verdicts-before-append ordering is structural here
            appendFrame(spark, path, ranked.filter(col("rk") === 1)
              .join(kept.select(col("vec_id").as("p_id")),
                Seq("p_id"), "left_semi")
              .select(col("p_id").as("vec_id"), col("p").as("v"),
                col("cid").cast("long").as("cell")))
          } finally spread.unpersist(blocking = false)
          }
        }
        ()
      }
      .start()
  }

  /** The optimize swap's commit marker: an underscore-prefixed FILE in
    * the table root (invisible to parquet readers) whose content is
    * the staging directory name. Publication/recovery/cleanup go
    * through [[SwapCommit]] — the one layout-swap protocol this repo
    * uses (VERDICT r12 #8); only the roll-forward (per-cell
    * delete+rename, [[completeSwap]]) is AnnIndex-specific.
    */
  private val CommitMarker = "_optimize_commit"

  /** Complete a pending [[optimize]] swap left behind by a crash
    * (roll-forward recovery): if the commit marker exists, every
    * staged cell directory still in the staging dir is swapped in
    * (delete-then-rename per cell, idempotent — already-renamed cells
    * are simply absent from staging), then marker and staging are
    * cleaned up. Returns the refreshed centroid table the crashed
    * optimize had staged, so the caller can resume probing with the
    * centroid set that names the post-split cells; None when no swap
    * was pending. [[probe]], [[append]] and [[optimize]] call this on
    * entry, so an AnnIndex reader can only ever observe the
    * pre-publish layout (marker never committed) or the post-swap
    * layout — never a half-swapped tree.
    */
  def recover(spark: SparkSession, path: String): Option[DataFrame] =
    recoverImpl(spark, path, graceMs = 0L)

  /** Reader-entry variant (ADVICE r13): a pending marker is presumed
    * to belong to a LIVE writer in another process first — wait the
    * grace for its own roll-forward, recover only a marker that
    * outlives it (in-process writers are excluded by the root lock).
    */
  private def recoverForRead(spark: SparkSession, path: String): Option[DataFrame] =
    recoverImpl(spark, path, SwapCommit.ReaderGraceMs)

  private def recoverImpl(spark: SparkSession, path: String,
      graceMs: Long): Option[DataFrame] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(hconf)
    SwapCommit.withLock(root) {
      SwapCommit.awaitPending(f, root, CommitMarker, graceMs).map { p =>
        val staging = new org.apache.hadoop.fs.Path(root, p.payload)
        // the roll-forward moves the staged refreshed centroids to
        // their versioned live home ([[completeSwap]]) — read them
        // back from there, no driver collect (r17)
        completeSwap(f, root, staging, Int.MaxValue)
        SwapCommit.finish(f, root, p.marker, staging)
        spark.read.parquet(centroidHome(root, staging.getName).toString)
      }
    }
  }

  /** Swap every staged cell directory into the live tree, one cell at
    * a time (delete the old dir, immediately rename its replacement
    * in — the exposure window for raw non-AnnIndex readers is one
    * cell, and [[recover]] closes even that). Idempotent: a staged dir
    * that was already renamed by a previous attempt is gone from
    * staging, so replays skip it. `failAfter` is a test-only failpoint
    * (throws after that many completed renames) proving the
    * marker-recovery contract under a mid-swap crash.
    */
  private def completeSwap(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, staging: org.apache.hadoop.fs.Path,
      failAfter: Int): Unit = {
    var done = 0
    f.listStatus(staging)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .sortBy(_.getPath.getName)
      .foreach { st =>
        if (done >= failAfter)
          throw new java.io.IOException(
            s"injected FS failure after $done swaps (test failpoint)")
        val dest = new org.apache.hadoop.fs.Path(root, st.getPath.getName)
        // displace-then-rename (never delete live data): tolerant of a
        // cross-process recoverer racing the same committed swap
        SwapCommit.replace(f, st.getPath, dest)
        done += 1
      }
    // publish the staged refreshed centroids to their versioned live
    // home LAST (after the failpoint-counted cell renames, so the
    // crash specs' rename counts are unchanged); a replayed
    // roll-forward finds the staged dir already moved and skips
    val sc = new org.apache.hadoop.fs.Path(staging, "centroids")
    if (f.exists(sc)) {
      val home = centroidHome(root, staging.getName)
      f.mkdirs(home.getParent)
      SwapCommit.replace(f, sc, home)
    }
  }

  /** Rebalance over-occupied cells (VERDICT r10 #8): after many
    * appends a hot cell degrades probe cost toward a full scan of that
    * cell — `nprobe / n_cells` of the data only bounds the read when
    * occupancy stays near-uniform. Every cell holding more than
    * `maxOccupancy` vectors is split K-WAY in one rewrite, with
    * `k = ⌈n / maxOccupancy⌉` children (VERDICT r14 #1: the old
    * two-way split needed ~log₂(n/cap) full rewrites of a hot cell's
    * shrinking data to reach the cap; k-way reaches it in one or two):
    *
    *  - **Seeds are the TWO-ANCHOR quantile pick** (VERDICT r15 #1 —
    *    the old evenly-spaced ranks of the parent-alignment score were
    *    a 1-D shadow of the member distribution, and x76b measured the
    *    resulting split costing recall@nprobe=1 0.933 → 0.700): seed 0
    *    is still rank 1 of the (parent score desc, vec_id asc)
    *    ordering (nulls last); seeds i ≥ 1 sit at evenly-spaced ranks
    *    `1 + ⌊(n−1)·(i−1)/(k−1)⌋` of the DIVERSITY ordering — the
    *    exact-decimal L2 distance² to seed 0, `|x|² − 2·x·s₀ + |s₀|²`,
    *    descending (nulls last, vec_id tie) — so seed 1 is the
    *    farthest member from seed 0 (for k = 2 this IS deterministic
    *    farthest-point/maximin seeding, the regime every driver
    *    fixture sits in) and higher seeds spread across the distance
    *    spectrum. Non-iterative by design: one extra thin window pass
    *    for ANY k, where true maximin would serialize k−1 scheduler
    *    rounds through the split rows.
    *  - **Reassignment is local NEAREST-SEED Voronoi, then TWO Lloyd
    *    sweeps**: each member first joins the child whose seed is
    *    closest in L2 — argmax(2·x·s − |s|²), the inner-product form
    *    of argmin |x − s|²; ties (and null scores) → the lowest seed
    *    index. (A raw inner-product compare would be norm-biased: one
    *    long seed captures everything — code-review r11.) Two fixed
    *    Lloyd iterations then refine the children: per live child the
    *    per-dimension EXACT-DECIMAL(30,12) sum vector (the x61 idiom —
    *    order-independent, bit-identical across engines), cast to
    *    double, is the iteration's centroid; members re-join the
    *    live child with the max exact cosine (decimal dots, double
    *    sqrt/divide — every arithmetic step IEEE-deterministic), ties
    *    → the smaller child id, degenerate (zero-norm) scores pinned
    *    to −2 so they route to the lowest child. The iteration count
    *    is FIXED at 2 (never run-to-convergence) so the oracle replays
    *    it as two unrolled relational rounds. Both the Voronoi pass
    *    and each Lloyd pass are double-kernel pre-pruned ([[margin]]
    *    band / the x61 1e-9 cosine band): only candidates that could
    *    still win the exact argmax pay the decimal kernel — selection
    *    stays bit-identical to decimal-scoring every pair.
    *  - **Seed members are PINNED to their own child** through Voronoi
    *    and both Lloyd sweeps (a member whose vec_id is a seed routes
    *    to its lowest seed index unconditionally). This keeps child 0
    *    provably non-empty — child 0 recycles the split cell's
    *    directory, and the swap protocol rewrites exactly the staged
    *    cell dirs, so an empty child 0 would leave the STALE pre-split
    *    directory live. With the pin, every live directory in the
    *    split set is always staged.
    *  - **Child ids**: seed 0 keeps the old cell id (its directory is
    *    rewritten in place); seed i ≥ 1 gets `max cid + Σ(k−1 of
    *    preceding hot cells) + i` — deterministic and collision-free.
    *  - **Rank-slice overflow (one-pass cap guarantee)**: a refined
    *    child can still exceed the cap — duplicate-heavy or
    *    degenerate-geometry cells split arbitrarily unevenly. Within
    *    the same rewrite, any child above the cap is sliced by plain
    *    `vec_id` rank into ⌈m/cap⌉ cells of ≤ cap rows each: slice 0
    *    keeps the child id, later slices take fresh ids after the
    *    Voronoi block (ordered by (child, slice)). Slices are a
    *    CAPACITY device, not geometry — vec_id order (vs r15's
    *    parent-score rank) ranks through the x31 TWO-PHASE prefix sum
    *    (fixed-width `vec_id DIV 4096` buckets: per-bucket local
    *    window + one thin per-child bucket-offset rollup), so no
    *    single task ever holds a mega-child and no vector rides the
    *    ranking exchange (VERDICT r15 #2 — the old per-child window
    *    ranked 64-double rows through ONE task per child). After ANY
    *    single optimize call, `max occupancy ≤ maxOccupancy` —
    *    unconditionally.
    *  - **Refreshed centroids are NORMALIZED DECIMAL-MEAN vectors**:
    *    each final cell's centroid is its members' per-dimension
    *    DECIMAL(30,12) sum, cast to double and divided by the L2 norm
    *    (computed via the exact-decimal self-dot; an all-zero sum is
    *    left unnormalized). Every step — decimal sums, double
    *    divide/sqrt — is bit-reproducible across engines, keeping the
    *    layout oracle-able, and the normalized mean is the natural
    *    inner-product ranking anchor for unit-norm corpora (rank-1
    *    member vectors norm-biased the probe's cell ranking, and
    *    rank-slice siblings now carry DISTINCT, meaningfully-placed
    *    centroids — both halves of the x76b recall cliff). x76b
    *    hash-gates the recall effect: with two-anchor seeds + 2 Lloyd
    *    sweeps + normalized means, post-optimize recall@3 at nprobe=1
    *    is 0.867 on the sf0.01 audit (was 0.700), 0.933 at nprobe 2–4
    *    (was 0.867). Never-materialized children have no rows, so no
    *    phantom centroids can arise.
    *  - **In-swap compaction** (VERDICT r14 #1): the staged rows are
    *    repartitioned BY CELL before the write, so each split cell
    *    lands as ⌈expected bytes / 128 MB⌉ files (one, for any sane
    *    cap) instead of one file per shuffle partition per cell —
    *    iterated maintenance no longer fragments the layout (the sf10
    *    diag hit 1386 cell dirs of shuffle-width files, whose per-dir
    *    open overhead made the maintained index probe SLOWER than the
    *    unmaintained one).
    *  - **Layout rewrite touches only split cells, crash-atomically**
    *    (VERDICT r11 #3): the reassigned rows land in an
    *    underscore-prefixed staging dir (invisible to parquet readers
    *    — Spark also refuses to overwrite a path it reads), the
    *    refreshed centroids are staged beside them, and THEN the
    *    commit marker is published with an atomic create-then-rename.
    *    Only after that commit point are the split cells' directories
    *    — and ONLY those — swapped in, one delete+rename per cell. A
    *    crash before the marker leaves the live tree byte-identical;
    *    a crash after it leaves the marker pointing at the staging
    *    dir, and [[recover]] (run on entry by every AnnIndex
    *    operation) rolls the swap forward — so index readers observe
    *    the pre-split or post-split layout, never a tree missing
    *    cells. Untouched cells' files stay byte-identical (the spec
    *    pins the file-level claim). Refreshed centroids are derived
    *    from the rows that actually materialized (normalized decimal
    *    mean per final cell), so they always name exactly the live
    *    cells and a degenerate Voronoi child that captured no members
    *    leaves no phantom centroid behind (ADVICE r11).
    *
    * Returns the refreshed centroid table (cid, c) the caller must
    * use for subsequent [[probe]]/[[append]] calls (after a crash,
    * [[recover]] returns the same table from the staged copy). Cost
    * is O(split-cell rows) data + scheduler-sized aggregates over
    * cell counts — the same O(delta) shape as [[append]]; the only
    * vector-carrying exchanges are hash-partitioned (the member
    * collapse and the by-cell compaction write), never a per-child
    * window. Fails loud ([[guardCentroidScale]]) before building any
    * plan whose centroid set outgrew the broadcast-sane bound.
    */
  def optimize(spark: SparkSession, path: String, centroids: DataFrame,
      maxOccupancy: Long): DataFrame =
    optimizeImpl(spark, path, centroids, maxOccupancy, Int.MaxValue)

  /** [[optimize]] under an occupancy POLICY instead of a fixed cap
    * (VERDICT r15 #3): a FIXED maxOccupancy makes n_cells = n/cap grow
    * LINEARLY with the corpus, and every probe broadcasts the
    * centroid set while optimize collects it — at 100 TB a cap chosen
    * at sf10 is a driver OOM. The default policy is the IVF balance
    * cap ≈ ⌈√n⌉: cells and occupancy grow together as √n, so the
    * broadcast centroid set, the per-probe ranking cost (n_cells
    * double dots) and the per-probe scan (nprobe·cap rows) all stay
    * √n-bounded — the same growth-policy hook the minhash store's
    * rebuildIfOutgrown gives band tiering. Run it wherever a fixed-cap
    * optimize ran between append batches; it recounts the index (one
    * scheduler-sized job) and applies the policy's cap.
    */
  def optimizeIfOutgrown(spark: SparkSession, path: String,
      centroids: DataFrame,
      policy: Long => Long = defaultOccupancyPolicy): DataFrame = {
    // Metadata-sourced recount (r18, VERDICT r17 #3): the per-cell
    // occupancy rides [[CellRowsFile]] commit metadata maintained by
    // build/append/optimize, so the steady-state policy recount is ONE
    // tiny driver-side file read — zero Spark jobs, zero listings. A
    // legacy or torn store pays the old full aggregate once and
    // optimizeImpl re-seeds the file. recover() first, like optimize
    // itself, so either source sees the rolled-forward table.
    recover(spark, path)
    val (f, root) = fsOf(spark, path)
    val (cellCounts, knownIdx) = readCellRows(f, root) match {
      case Some(cs) => (cs, None)
      case None =>
        val df = spark.read.parquet(path)
        (scanCellCounts(spark, df), Some(df))
    }
    val n = cellCounts.map(_._2).sum
    // Layout-persisted supers (r18, VERDICT r17 #4): past the
    // two-level routing limit every probe SESSION against this layout
    // pays the O(n_cells·√n_cells) super construction — work that
    // belongs in the layout, written on the maintenance schedule.
    // This is the one reachable maintenance window for a past-limit
    // set: optimize itself refuses to CREATE one (guardCentroidScale
    // bounds both the input and the post-split count), so such an
    // index arrived through build() with an externally-grown centroid
    // set, and its steady-state maintenance call lands here. The gate
    // is the driver-known NON-EMPTY cell count (a conservative proxy
    // for the centroid count — free, no job); the fingerprint check
    // skips the write when a valid version already exists. Below the
    // limit: no job, no file, nothing changes.
    if (cellCounts.size > setting(spark, CentroidLimitKey) &&
        readPersistedSupers(spark, path, centroids).isEmpty)
      persistSupers(spark, path, centroids,
        java.util.UUID.randomUUID().toString)
    optimizeImpl(spark, path, centroids, math.max(1L, policy(n)),
      Int.MaxValue, knownCounts = Some(cellCounts), knownIndex = knownIdx)
  }

  /** Row bound under which [[optimizeImpl]]'s reorganization joins
    * carry broadcast hints (see `bcastR` there).
    */
  private val ReorgBroadcastRowsLimit = 65536L

  /** cap ≈ ⌈√n⌉ — see [[optimizeIfOutgrown]]. */
  def defaultOccupancyPolicy(n: Long): Long =
    math.ceil(math.sqrt(math.max(1L, n).toDouble)).toLong

  /** [[optimize]] with a test-only failpoint: `failAfterSwaps` = n ≥ 0
    * throws after n completed cell renames (post-commit crash, see
    * [[completeSwap]]); -1 throws just before the marker publish
    * (pre-commit crash). AnnIndexSpec injects both and proves readers
    * see pre- or post-split, never half.
    */
  private[graft] def optimizeImpl(spark: SparkSession, path: String,
      centroids: DataFrame, maxOccupancy: Long, failAfterSwaps: Int,
      knownCounts: Option[Seq[(Long, Long)]] = None,
      knownIndex: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    graft.expressions.DecimalDot.register(spark)
    graft.expressions.DoubleDot.register(spark)
    recover(spark, path) // roll forward any crashed predecessor's swap
    // aborted pre-commit staging (a predecessor that crashed before
    // publishing its marker) is dead weight — GC it here, the writer
    // entry point (single-writer contract makes this safe)
    SwapCommit.gcOrphans(
      new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(path), "_optimize-", CommitMarker, None)
    // ONE index read serves the occupancy aggregate AND the member
    // scan below (r17): a second spark.read.parquet(path) would pay a
    // second full recursive listing of the cell-partitioned table on
    // the driver (see [[wantedCellScan]]'s frame overload) — measured
    // as the bulk of a 18.1 → 11.6 s x65d A/B once optimizeIfOutgrown
    // stopped triple-listing. Partition discovery types `cell=` dirs
    // as INT when the ids are small — normalize to long before
    // collecting. A caller that already aggregated the occupancy
    // (optimizeIfOutgrown's policy recount) passes the collected
    // counts and its frame through instead.
    // lazy: when the counts came from commit metadata and nothing is
    // hot, no listing of the index tree happens at all (the no-op
    // maintenance call costs one file read, the 100 TB steady state)
    lazy val indexDf = knownIndex.getOrElse(spark.read.parquet(path))
    val (fMeta, rootMeta) = fsOf(spark, path)
    val allCounts = knownCounts.getOrElse(scanCellCounts(spark, indexDf))
    val hotCells = allCounts.filter(_._2 > maxOccupancy).sortBy(_._1)
    if (hotCells.isEmpty) {
      // self-heal: seed the occupancy metadata on the no-op path iff
      // absent (legacy store, or a crash window left it deleted)
      if (readCellRows(fMeta, rootMeta).isEmpty)
        writeCellRows(fMeta, rootMeta, allCounts)
      return centroids
    }
    // one scheduler-sized agg serves the child-id base, the compaction
    // sizing's vector width, and the loud scale guard's input count
    val idsRow = centroids
      .agg(max(col("cid")), max(size(col("c"))), count(lit(1))).head()
    val maxCid = idsRow.getLong(0)
    val dim = idsRow.getInt(1)
    guardCentroidScale(spark, idsRow.getLong(2))
    // driver-side split plan (scheduler-sized: one row per CHILD, and
    // children ≈ split rows / cap): k = ceil(n/cap) children per hot
    // cell; seed 0 at rank 1 of the parent-alignment ordering, seed
    // i ≥ 1 at rank 1 + floor((n−1)·(i−1)/(k−1)) of the DIVERSITY
    // (distance-from-seed-0) ordering; child 0 keeps the cell id,
    // child i ≥ 1 gets maxCid + (running (k−1) offset) + i
    import spark.implicits._
    var childOffset = 0L
    val seedSpecs = hotCells.flatMap { case (c, n) =>
      val k = ((n + maxOccupancy - 1) / maxOccupancy).toInt
      val rows = (0 until k).map { i =>
        val rank = if (i == 0) 1L else 1L + (n - 1L) * (i - 1L) / (k - 1L)
        (c, i, rank, if (i == 0) c else maxCid + childOffset + i)
      }
      childOffset += (k - 1).toLong
      rows
    }
    val seedSpecDf = seedSpecs.toDF("cell", "si", "rn", "child")
    // Data-derived reorganization frames (the member↔centroid scoring
    // join, seed picks/vectors, the pin map, each sweep's mu) carry a
    // broadcast hint ONLY while the driver-known counts say they are
    // broadcast-sane — the split plan is a driver Seq, so the input
    // cell count and the child count are both exact before any join
    // is built. Past the bound the hints drop away and AQE picks the
    // strategy from runtime sizes (shuffle joins at mega-rebalance
    // scale) — the SCALE.md r18 item-2 posture, with byte-identical
    // plans at every scale the bench or the fixtures actually reach
    // (the driver-Seq frames seedSpecDf/subSpecDf stay hinted: they
    // are scheduler-sized by construction).
    val reorgSane = idsRow.getLong(2) <= ReorgBroadcastRowsLimit &&
      seedSpecs.size <= ReorgBroadcastRowsLimit
    def bcastR(df: DataFrame): DataFrame =
      if (reorgSane) broadcast(df) else df
    // members of split cells, scored against their OWN centroid — the
    // scan prunes to the split directories (static partition filter,
    // or the broadcast-semi DPP fallback when the hot set is wide).
    // The groupBy collapse makes (cell, vec_id) a UNIQUE key (replay-
    // duplicated append rows fold to one, deterministically via the
    // lexicographic array max) so every later stage can rank and join
    // THIN (cell, vec_id, scalar) rows and fetch vectors back by key;
    // the collapse is the pipeline's one vector-carrying exchange and
    // it hash-partitions — no per-cell task (VERDICT r15 #2). The
    // decimal self-dot n2 is computed once here and reused by the
    // diversity ordering and both Lloyd sweeps' exact cosines.
    val hotIds = hotCells.map(_._1)
    val fdot = graft.functions.VectorFns.dotFast _
    val members = wantedCellScan(indexDf, hotIds)
      .select(col("cell").cast(LongType).as("cell"), col("vec_id"), col("v"))
      .groupBy(col("cell"), col("vec_id")).agg(max(col("v")).as("v"))
      .join(bcastR(centroids), col("cell") === col("cid"))
      .withColumn("d", dot("v", "c"))
      .drop("cid", "c")
      .withColumn("n2", dot("v", "v"))
      .withColumn("nvf", fdot("v", "v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed 0 (thin): rank 1 of the (parent score desc, vec_id) order
    val rankInCell = row_number().over(Window.partitionBy(col("cell"))
      .orderBy(coalesce(col("d"), lit(Double.MinValue)).desc, col("vec_id")))
    val seed0Pick = members.select(col("cell"), col("d"), col("vec_id"))
      .withColumn("rn", rankInCell)
      .join(broadcast(seedSpecDf.filter(col("si") === 0)), Seq("cell", "rn"))
      .select(col("cell"), col("si"), col("child"), col("vec_id").as("svid"))
    // diversity ordering: exact-decimal L2 distance² to seed 0,
    // |x|² − 2·x·s₀ + |s₀|² combined in IEEE double — ranked THIN
    val s0 = members
      .select(col("cell"), col("vec_id").as("svid0"), col("v").as("s0v"),
        col("n2").as("ns0"))
      .join(bcastR(seed0Pick.select(col("cell"),
        col("svid").as("svid0"))), Seq("cell", "svid0"))
      .select(col("cell"), col("s0v"), col("ns0"))
    val rankByF0 = row_number().over(Window.partitionBy(col("cell"))
      .orderBy(coalesce(col("f0"), lit(Double.MinValue)).desc, col("vec_id")))
    val seedRestPick = members.join(bcastR(s0), Seq("cell"))
      .withColumn("f0",
        col("n2") - lit(2d) * dotc(col("v"), col("s0v")) + col("ns0"))
      .select(col("cell"), col("f0"), col("vec_id"))
      .withColumn("rn", rankByF0)
      .join(broadcast(seedSpecDf.filter(col("si") > 0)), Seq("cell", "rn"))
      .select(col("cell"), col("si"), col("child"), col("vec_id").as("svid"))
    // one eager tiny materialization: the seed set feeds the pin map,
    // the seed-vector fetch and (via pins) every assignment stage
    val seedPick = seed0Pick.unionByName(seedRestPick).localCheckpoint(true)
    // pin map: a member that IS a seed stays in its (lowest-si) child
    // through Voronoi and Lloyd — keeps child 0 (the recycled live
    // directory) provably non-empty, see the scaladoc
    val pins = seedPick.groupBy(col("cell"), col("svid"))
      .agg(min(struct(col("si"), col("child"))).as("w"))
      .select(col("cell"), col("svid").as("vec_id"),
        col("w.child").as("pchild"))
    def withPins(asg: DataFrame): DataFrame =
      asg.join(bcastR(pins), Seq("cell", "vec_id"), "left_outer")
        .select(col("cell"), col("vec_id"),
          coalesce(col("pchild"), col("child")).as("child"))
    // seed self-dots for the nearest-seed rule, decimal-exact like
    // every other score so the oracle replays them bit-identically
    val seeds = members
      .select(col("cell"), col("vec_id").as("svid"), col("v").as("sv"),
        col("n2").as("ns2"), col("nvf").as("nsf"))
      .join(bcastR(seedPick), Seq("cell", "svid"))
    // nearest-seed in L2 via 2·x·s − |s|², exact-decimal dots combined
    // in IEEE double arithmetic (bit-equal on both engines) — routed
    // through the double-kernel pre-prune: a seed whose DOUBLE score
    // sits below the member's best by more than the magnitude-anchored
    // margin band (4× slack, so a pruned seed cannot even TIE the
    // surviving winner) cannot win the exact argmax, so the decimal
    // kernel prices ~one seed per member instead of k
    val cand = members
      .join(bcastR(seeds.select(col("cell"), col("si"), col("child"),
        col("sv"), col("ns2"), col("nsf"))), Seq("cell"))
      .withColumn("f", lit(2d) * fdot("v", "sv") - col("nsf"))
      .withColumn("marg", lit(1e-9) *
        (lit(2d) * sqrt(col("nvf") * col("nsf")) + col("nsf") + lit(3d)))
    val bestF = cand.groupBy(col("cell"), col("vec_id"))
      .agg(max(col("f")).as("maxf"), max(col("marg")).as("margx"))
    // ties (and all-null scores) → the lowest surviving seed index;
    // seed 0 survives its own prune (its f IS a candidate for maxf),
    // so an all-null member still routes to the kept child. THIN
    // output — (cell, vec_id, child) — vectors rejoin by key later.
    val voronoi = cand.join(bestF, Seq("cell", "vec_id"))
      .filter(col("f").isNull || col("maxf").isNull ||
        col("f") >= col("maxf") - lit(4d) * (col("marg") + col("margx")))
      .withColumn("sdec", lit(2d) * dot("v", "sv") - col("ns2"))
      .groupBy(col("cell"), col("vec_id"))
      .agg(max_by(col("child"),
        struct(coalesce(col("sdec"), lit(Double.MinValue)).as("s"),
          (-col("si")).as("t"))).as("child"))
      .select(col("cell"), col("vec_id"), col("child").cast(LongType).as("child"))
    // TWO Lloyd sweeps (fixed count — oracle-unrollable): per live
    // child the exact-decimal(30,12) per-dimension sum vector (the
    // x61 centroid idiom) cast to double is the sweep's centroid;
    // members rejoin the live child of max exact cosine (double
    // pre-select band 1e-9, decimal decides; ties → smaller child id;
    // zero-norm scores pin to −2 → lowest child). Each assignment
    // frame is thin and eagerly checkpointed so the next sweep's
    // three consumers don't recompute the previous one.
    def lloydOnce(asg: DataFrame): DataFrame = {
      val mu = asg
        .join(members.select(col("cell"), col("vec_id"), col("v")),
          Seq("cell", "vec_id"))
        .select(col("cell"), col("child"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("child"), col("pos"))
        .agg(sum(col("x").cast(DecimalType(30, 12)))
          .cast(DoubleType).as("cc"))
        .groupBy(col("cell"), col("child"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cc")))),
          p => p.getField("cc")).as("mc"))
        .withColumn("mnf", fdotc(col("mc"), col("mc")))
        .withColumn("mn2", dotc(col("mc"), col("mc")))
        .localCheckpoint(true)
      val scored = asg
        .join(members.select(col("cell"), col("vec_id"), col("v"),
          col("nvf")), Seq("cell", "vec_id"))
        .join(bcastR(mu.select(col("cell"), col("child").as("mchild"),
          col("mc"), col("mnf"))), Seq("cell"))
        .select(col("cell"), col("vec_id"), col("mchild"), {
          val nprod = sqrt(col("nvf")) * sqrt(col("mnf"))
          val dd = when(nprod > 0d, fdotc(col("v"), col("mc")) / nprod)
          when(abs(nanvl(dd, lit(-2.0))) <= 1.5, nanvl(dd, lit(-2.0)))
            .otherwise(-2.0).as("dcos")
        })
      val candL = scored.groupBy(col("cell"), col("vec_id"))
        .agg(max(col("dcos")).as("mx"),
          collect_list(struct(col("dcos"), col("mchild"))).as("cs"))
        .select(col("cell"), col("vec_id"),
          explode(expr("filter(cs, x -> x.dcos >= mx - 1e-9)")).as("w"))
        .select(col("cell"), col("vec_id"), col("w.mchild").as("child"))
      val exact = candL
        .join(members.select(col("cell"), col("vec_id"), col("v"),
          col("n2")), Seq("cell", "vec_id"))
        .join(bcastR(mu.select(col("cell"), col("child"), col("mc"),
          col("mn2"))), Seq("cell", "child"))
        .withColumn("cos", when(col("n2") > 0d && col("mn2") > 0d,
          dotc(col("v"), col("mc")) / (sqrt(col("n2")) * sqrt(col("mn2")))))
        .groupBy(col("cell"), col("vec_id"))
        .agg(max(struct(coalesce(col("cos"), lit(-2.0)).as("k"),
          (-col("child")).as("nk"), col("child").as("child"))).as("w"))
        .select(col("cell"), col("vec_id"), col("w.child").as("child"))
      withPins(exact).localCheckpoint(true)
    }
    val asg = lloydOnce(lloydOnce(withPins(voronoi).localCheckpoint(true)))
    // rank-slice overflow (the one-pass cap guarantee): child sizes
    // come back scheduler-sized, the driver numbers ⌈m/cap⌉ slices
    // per child, and the member→slice rank is the x31 TWO-PHASE
    // prefix sum over plain vec_id order — fixed-width integer
    // buckets (vec_id DIV 4096) bound every ranking task at 4096
    // thin rows no matter how big a duplicate-heavy child gets, and
    // no vector rides the exchange (VERDICT r15 #2). Slice 0 keeps
    // the child id; later slices take fresh ids after the Voronoi
    // block, ordered by (child, slice) — deterministic and
    // collision-free.
    val sizes = asg.groupBy(col("child")).agg(count(lit(1)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val sliceBase = maxCid + childOffset
    var sliceSeq = 0L
    val subSpecs = sizes.flatMap { case (child, m) =>
      val s = ((m + maxOccupancy - 1) / maxOccupancy).toInt
      (0 until s).map { j =>
        val fcell = if (j == 0) child else { sliceSeq += 1; sliceBase + sliceSeq }
        (child, j.toLong, fcell)
      }
    }
    val subSpecDf = subSpecs.toDF("child", "sub", "fcell")
    // the post-split cell count is fully known here — input cells
    // minus the hot parents plus the final slices — so guard BEFORE
    // the staging write, the Lloyd broadcasts already behind us, and
    // the refreshed-centroid collect (ADVICE r16: guarding on
    // refreshedRows.size let one tiny-cap optimize call reach the
    // driver-memory event the guard exists to prevent)
    guardCentroidScale(spark,
      idsRow.getLong(2) - hotCells.size + subSpecs.size)
    val sliceW = 4096L
    val thin = asg.select(col("cell"), col("child"), col("vec_id"))
      .withColumn("bucket", expr(s"vec_id DIV $sliceW"))
    val localW = Window.partitionBy(col("child"), col("bucket"))
      .orderBy(col("vec_id"))
    val offW = Window.partitionBy(col("child")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bcounts = thin.groupBy(col("child"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
    val offsets = bcounts
      .withColumn("off", coalesce(sum(col("bn")).over(offW), lit(0L)))
      .select(col("child"), col("bucket"), col("off"))
    val reassigned = thin
      .withColumn("lr", row_number().over(localW))
      .join(offsets, Seq("child", "bucket"))
      .withColumn("sub", expr(s"(lr + off - 1) DIV $maxOccupancy"))
      .join(broadcast(subSpecDf), Seq("child", "sub"))
      .join(members.select(col("cell"), col("vec_id"), col("v")),
        Seq("cell", "vec_id"))
      .select(col("vec_id"), col("v"), col("fcell").cast(LongType).as("cell"))
    // Stage everything, then commit, then swap (the crash-atomicity
    // story in the scaladoc): reassigned rows land in an
    // underscore-prefixed staging dir — invisible to parquet readers
    // of `path`, and Spark refuses to overwrite a path it is also
    // reading. All non-split cells' files are left byte-for-byte
    // untouched throughout.
    val stagingName = s"_optimize-${java.util.UUID.randomUUID()}"
    val staging = s"$path/$stagingName"
    // in-swap compaction (VERDICT r14 #1): route each cell's rows to
    // one task so a split cell lands as ceil(expected bytes / 128 MB)
    // files — one, for any sane cap — instead of one file per shuffle
    // partition per cell (the fragmentation that made the sf10
    // maintained index probe slower than the unmaintained one)
    val target = 128L * 1024 * 1024
    val filesPerCell =
      (((maxOccupancy * (8L * dim + 24L)) + target - 1) / target).max(1L).toInt
    val routed =
      if (filesPerCell == 1) reassigned.repartition(col("cell"))
      else reassigned.repartition(col("cell"),
        pmod(col("vec_id"), lit(filesPerCell.toLong)))
    routed.write.mode("overwrite").partitionBy("cell").parquet(staging)
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(hconf)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    // Materialize the refreshed centroid set BEFORE the swap: its
    // lineage reads the PRE-optimize file listing (via the persisted
    // member frame over the split cells' current files), so a lazy
    // return would chase deleted paths on first use. One (cid,
    // 64-double) row per cell — scheduler-sized, the same trade as
    // probe's cell-id collect. Each final cell's centroid is the
    // NORMALIZED DECIMAL-MEAN of the rows that MATERIALIZED (see the
    // scaladoc) — so a Voronoi child that captured no members
    // contributes nothing: no phantom centroids (ADVICE r11), no
    // staging-listing check needed.
    // anti-join instead of a NOT-IN literal list: centroids is
    // scheduler-sized, but a 10⁵-id literal would still bloat the plan
    val kept = centroids.join(
      seedSpecDf.select(col("cell").as("cid")).distinct(),
      Seq("cid"), "left_anti")
    val refreshed = kept.unionByName(
      reassigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x").cast(DecimalType(30, 12)))
          .cast(DoubleType).as("cc"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cc")))),
          p => p.getField("cc")).as("c0"))
        .withColumn("nrm", sqrt(dotc(col("c0"), col("c0"))))
        .select(col("cell").as("cid"),
          transform(col("c0"),
            x => when(col("nrm") > 0d, x / col("nrm")).otherwise(x)).as("c")))
    // Stage the refreshed centroids as FILES, not a driver collect
    // (r17, the first half of the two-level maintenance design): the
    // staged parquet write IS the pre-swap materialization point (the
    // frame's lineage reads the pre-optimize file listing via the
    // persisted member frame, so it must run before any cell is
    // swapped), and the swap then publishes it to a VERSIONED live
    // home (`_centroids/<staging uuid>`, [[completeSwap]]) that
    // survives staging deletion — the returned frame READS IT BACK,
    // so no driver-side copy of the centroid set exists at any point
    // (the r16 version collected one (cid, dim-double) row per cell,
    // ~140 MB at the guard). The pre-split guard above already
    // bounded the post-split cell count, so no post-count re-guard is
    // needed (its bound errs only high). Version retention keeps the
    // last [[CentroidVersionsKept]] homes: a frame returned by an
    // earlier optimize/recover stays readable across that many later
    // optimizes; every in-repo caller re-adopts the newest returned
    // frame (streams on each recovery), and long-held frames should
    // be eagerly localCheckpoint'd (the iterated-optimize loop that
    // produced ANN_DIAG_r14.json does this).
    refreshed.coalesce(1).write.parquet(s"$staging/centroids")
    members.unpersist(blocking = false)
    if (failAfterSwaps == -1)
      throw new java.io.IOException(
        "injected FS failure before commit-marker publish (test failpoint)")
    // occupancy metadata: absent throughout the swap window (deleted
    // BEFORE the marker publishes, so any crash leaves the safe
    // fallback), rewritten after the swap from driver-known numbers:
    // untouched cells keep their input counts; each final slice of a
    // split cell holds exactly min(cap, m − j·cap) of its child's m
    // collapsed members (the rank-slice identity above — the join is
    // 1:1 on (cell, vec_id), so these ARE the materialized row counts)
    deleteCellRows(f, root)
    deleteSupers(f, root)
    SwapCommit.publish(f, root, CommitMarker, stagingName)
    completeSwap(f, root, stagingPath, failAfterSwaps)
    SwapCommit.finish(f, root,
      new org.apache.hadoop.fs.Path(root, CommitMarker), stagingPath)
    gcCentroidVersions(f, root)
    val sizesMap = sizes.toMap
    val hotIdSet = hotIds.toSet
    writeCellRows(f, root,
      allCounts.filterNot(c => hotIdSet.contains(c._1)) ++
        subSpecs.map { case (child, j, fcell) =>
          (fcell, math.min(maxOccupancy, sizesMap(child) - j * maxOccupancy))
        })
    spark.read.parquet(centroidHome(root, stagingName).toString)
  }

  /** How many versioned centroid homes [[gcCentroidVersions]] keeps.
    * Optimizes are once-per-decade-of-growth events, so four versions
    * is years of slack for any holder of an old returned frame.
    */
  private val CentroidVersionsKept = 4

  private def centroidHome(root: org.apache.hadoop.fs.Path,
      stagingName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "_centroids"), stagingName)

  private def gcCentroidVersions(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val home = new org.apache.hadoop.fs.Path(root, "_centroids")
    if (!f.exists(home)) return
    f.listStatus(home).filter(_.isDirectory)
      .sortBy(-_.getModificationTime)
      .drop(CentroidVersionsKept)
      .foreach(st => f.delete(st.getPath, true))
  }

  /** Top-k nearest (by inner product) for each probe, scanning only
    * each probe's `nprobe` best cells. Cell ranking runs distributed
    * (probes × broadcast centroids, probe-partitioned WindowGroupLimit);
    * the union of wanted cells — at most |probes|·nprobe ids — comes
    * back to the driver to become a STATIC partition filter, so the
    * parquet scan prunes before any row is read.
    */
  /** Cross-run incremental SEMANTIC dedup against the persistent
    * index — the embedding analog of
    * [[MinhashSignatureStore.dedupAgainst]], completing the dedup
    * family matrix (exact keys: [[BloomIncrementalDedup]]; token
    * near-dup: the minhash store; semantic: here). Per batch vector
    * (vec_id, v): keep ⇔ NO stored vector in the probe's top-`nprobe`
    * cells has exact-decimal cosine ≥ `tau`; n_dups counts the
    * distinct matching stored vectors the probed cells surfaced,
    * max_cos their maximum (0.0 when kept). The caller appends the
    * KEPT vectors ([[append]]) — the only-ingest-new-objects lifecycle
    * lifted from content identity to embedding similarity.
    *
    * Cell pruning is the IVF approximation, applied deterministically
    * (the same argmax/tie rules as [[probe]]) so the verdicts are
    * exactly replayable — a cross-cell near-duplicate is missed BY
    * CONTRACT, the trade every IVF serving path makes, tunable with
    * `nprobe` (the x76 audit measures the recall curve). Scale shape:
    * probes broadcast twice (cell ranking, then the scoring join),
    * the index scan is statically pruned to the probed cells, per-row
    * norms are row-local, and the verdict aggregate is batch-sized —
    * the index is never shuffled. Zero-norm vectors (either side)
    * have no cosine and never match; a vector re-probed against an
    * index that already contains it is guarded by vec_id ≠ p_id, so
    * re-running an ingested batch is idempotent rather than
    * self-matching. countDistinct/max make the stats immune to a
    * replay-duplicated append row.
    */
  def dedupAgainst(spark: SparkSession, path: String, batch: DataFrame,
      centroids: DataFrame, nprobe: Int, tau: Double): DataFrame = {
    graft.expressions.DecimalDot.register(spark)
    recoverForRead(spark, path)
    val probes = batch.select(col("vec_id").as("p_id"), col("v").as("p"))
    dedupAgainstFrom(spark, path, batch,
      topCells(probes, centroids, nprobe, Some(path)), tau)
  }

  /** [[dedupAgainst]] over a precomputed [[topCells]] ranking — see
    * [[dedupVerdictsFrom]]. Assumes the caller already ran recovery.
    */
  private def dedupAgainstFrom(spark: SparkSession, path: String,
      batch: DataFrame, ranked: DataFrame, tau: Double): DataFrame = {
    graft.expressions.DecimalDot.register(spark)
    val probes = batch.select(col("vec_id").as("p_id"), col("v").as("p"))
    val wanted = ranked.select(col("p_id"), col("cid"))
    val cellIds = wanted.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    graft.expressions.DoubleDot.register(spark)
    val fdot = graft.functions.VectorFns.dotFast _
    val index = wantedCellScan(spark, path, cellIds)
      .select(col("vec_id").as("d1"), col("v").as("sv"), col("cell"))
      // norms are PER-VECTOR columns (double for the route, decimal
      // for the exact pass), computed once per row/probe — never per
      // candidate pair
      .withColumn("nvf", fdot("sv", "sv"))
      .withColumn("nv", dot("sv", "sv"))
    // bloom-route scoring (the x62 pattern): the cheap codegen DOUBLE
    // dot pre-filters every candidate pair — only pairs within 1e-9 of
    // the threshold pay the oracle-exact decimal pass, whose verdict
    // alone decides. Double vs decimal dots agree to ~1e-12 relative,
    // so the margin can't lose a true ≥-tau pair; without the route,
    // a hot probed cell made every pair pay BigDecimal arithmetic
    // (r14 measured 12.5 s at 2k vectors).
    val hits = probes.withColumn("npf", fdot("p", "p"))
      .withColumn("np", dot("p", "p"))
      .join(broadcast(wanted), Seq("p_id"))
      .join(index, col("cid") === col("cell") && col("d1") =!= col("p_id"))
      .filter(col("npf") > 0d && col("nvf") > 0d &&
        fdot("p", "sv") / (sqrt(col("npf")) * sqrt(col("nvf"))) >= tau - 1e-9)
      .withColumn("cos", dot("p", "sv") /
        (sqrt(col("np")) * sqrt(col("nv"))))
      .filter(col("cos") >= tau)
      .groupBy(col("p_id").as("vec_id"))
      .agg(countDistinct(col("d1")).as("n_dups"),
        max(col("cos")).as("max_cos"))
    batch.select(col("vec_id"))
      .join(broadcast(hits), Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        col("n_dups").isNull.as("keep"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"))
  }

  def probe(spark: SparkSession, path: String, probes: DataFrame,
      centroids: DataFrame, nprobe: Int, k: Int): DataFrame = {
    graft.expressions.DecimalDot.register(spark)
    recoverForRead(spark, path) // never read a half-swapped layout

    val wanted = topCells(probes, centroids, nprobe, Some(path))
      .select(col("p_id"), col("cid"))
    val cellIds = wanted.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val index = wantedCellScan(spark, path, cellIds)
    val scoreRk = row_number().over(
      Window.partitionBy(col("p_id")).orderBy(col("score").desc, col("vec_id")))
    probes.join(broadcast(wanted), Seq("p_id"))
      .join(index, col("cid") === col("cell"))
      .withColumn("score", dot("p", "v"))
      .withColumn("rank", scoreRk)
      .filter(col("rank") <= k)
      .select(col("p_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("score"))
      .orderBy(col("p_id"), col("rank"))
  }
}
