package graft

/** Plan auditor: prints the formatted physical plan of selected
  * queries and asserts the scale-critical properties hold —
  * projection/filter pushdown reaches the parquet scan, small dims
  * broadcast instead of shuffling, aggregations are partial
  * (map-side) before the exchange.
  *
  * Run: `runMain graft.PlanAudit [sfDir]`. Exits non-zero if an
  * expectation fails, so it can gate commits.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // fixed 4 cores: the plan expectations below were written against
    // local[4] / 4 shuffle partitions
    val spark = Main.session(cores = 4)
    spark.sparkContext.setLogLevel("ERROR")

    var failures = 0
    def auditDf(name: String, df: => org.apache.spark.sql.DataFrame)(
        expect: (String, String => Boolean)*): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n========== $name ==========")
      println(plan.linesIterator.take(40).mkString("\n"))
      expect.foreach { case (desc, check) =>
        val ok = check(plan)
        if (!ok) failures += 1
        println(s"  [${if (ok) "PASS" else "FAIL"}] $desc")
      }
    }
    def audit(name: String)(expect: (String, String => Boolean)*): Unit =
      auditDf(name, SparkEntry.queries(name)(spark, sfDir))(expect: _*)

    // Q01: projection pruned to 2 columns at the scan
    audit("q01_scan")(
      "scan reads only l_orderkey, l_extendedprice" ->
        (p => p.contains("ReadSchema") &&
          !p.contains("l_shipdate") && !p.contains("l_quantity")))
    // Q02: all predicates pushed to parquet
    audit("q02_filter")(
      "filters pushed to scan" -> (_.contains("PushedFilters: [IsNotNull")))
    // Q05: both dims broadcast, no shuffle join
    audit("q05_join_broadcast")(
      "part+supplier broadcast" ->
        (p => "BroadcastHashJoin".r.findAllIn(p).size >= 2),
      "no sort-merge join" -> (p => !p.contains("SortMergeJoin")))
    // Q06: region/nation broadcast
    audit("q06_join_5way")(
      "nation+region broadcast" ->
        (p => "BroadcastHashJoin".r.findAllIn(p).size >= 2))
    // Q09: partial aggregation before the exchange
    audit("q09_agg_ratios")(
      "map-side partial agg" -> (_.contains("HashAggregate")),
      // 2 exchanges: one hash shuffle for the agg + one range partition
      // for the oracle-mandated total ORDER BY
      "agg shuffles once (+sort exchange)" ->
        (p => "\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2))
    // Q13: window keyed by custkey (one hash shuffle, no global sort
    // before the window)
    audit("q13_keep_latest")(
      "window partitioned" -> (_.contains("Window")))
    // Q27: bitset strategy — no token-index self-join explosion
    audit("q27_near_dup")(
      "size-filter equi-join (no cartesian)" ->
        (p => !p.contains("CartesianProduct")))
    // x05: probe-vs-all is a broadcast nested loop of 10 probes (OK),
    // never a shuffled cartesian of the corpus with itself
    audit("x05_ann_brute")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "decimal_dot kernel in plan (not interpreted HOF)" ->
        (_.contains("decimal_dot")))
    // x12: pairwise similarity only through LSH buckets, scored by the
    // codegen kernel
    audit("x12_embed_neardup")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "decimal_dot kernel in plan" -> (_.contains("decimal_dot")))
    // x04: PPJoin-prefix candidates + merge-scan verify. The r04
    // rewrite removed both sort-based windows (prefix + verify arrays
    // now come out of one grouped sort) — pin that shape.
    audit("x04_ngram_jaccard")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "sorted_intersect_count kernel in plan" ->
        (_.contains("sorted_intersect_count")),
      "no window (one-pass PPJoin, VERDICT r04 #7)" ->
        (p => !p.contains("Window")),
      // the r10 AQE lesson: the post-distinct candidate exchange is 16
      // bytes/row, so byte-based coalescing collapses the expensive
      // merge-intersect verify to 1-2 partitions unless the operator
      // pins its parallelism with an explicit d1-hash repartition
      "verify parallelism pinned (REPARTITION_BY_NUM on d1)" ->
        (p => p.contains("REPARTITION_BY_NUM") ||
          "hashpartitioning\\(d1".r.findFirstIn(p).nonEmpty))
    // x02: banded candidates, no global window, no cartesian
    audit("x02_dedup_minhash_lsh")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x13: cell assignment is a max_by hash aggregate, never a
    // sort-based window over corpus×16 rows (VERDICT r03 #2)
    audit("x13_ann_ivf")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "no window in assignment (max_by aggregate)" ->
        (p => !p.contains("Window")))

    // x14: clustering reaches its labels through signature/star/label
    // equi-joins only — a within-group pair explosion would surface as
    // a cartesian here (the final plan embeds the converged star join)
    audit("x14_dedup_clusters")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x16: the eval-vs-train probe must be a semi-join on the shingle
    // hash, bounded by eval's shingles — never eval×train
    audit("x16_contamination")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "shingle probe is a semi-join" -> (p => p.contains("LeftSemi")))
    // x20: the bloom probe must reach the plan as a scan-side filter
    // (the definitely-new branch pays zero shuffle), and only the
    // bloom-positive sliver goes through the LeftAnti verify
    // x24: lexical candidates must be pruned by the broadcast query
    // terms before the df join (posting-list bound), and the vector
    // leg scores through the decimal kernel; RRF joins two 10-row
    // frames — nothing corpus-sized past the rankings
    audit("x24_hybrid_search")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "query-term prune is a broadcast join" ->
        (_.contains("BroadcastHashJoin")),
      "decimal_dot kernel in the vector leg" -> (_.contains("decimal_dot")))
    // x25: codeword assignment is a max_by hash aggregate over a
    // broadcast 128-row codebook (never a sort window), rerank through
    // the decimal kernel
    audit("x25_ann_pq")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "assignment is aggregate, not window" -> (p => !p.contains("Window")),
      "decimal_dot re-rank in plan" -> (_.contains("decimal_dot")))
    // x21: quantized scoring must run through the integer codegen
    // kernel (probe side broadcast, TakeOrdered cut — no cartesian,
    // no global sort window)
    audit("x21_ann_sq")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "int_dot kernel in plan" -> (_.contains("int_dot")),
      "decimal_dot re-rank in plan" -> (_.contains("decimal_dot")),
      "candidate cut is TakeOrdered, not a window" ->
        (p => !p.contains("Window")))
    audit("x20_bloom_dedup")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "bloom probe is a filter in the plan" ->
        (p => p.contains("might_contain") || p.contains("bloom_contains")),
      "exact verify is a left anti join" -> (p => p.contains("LeftAnti")))
    // x31: the two-phase prefix sum must join the tiny bucket-offsets
    // frame back by broadcast — if the offsets rollup ever shuffles
    // the corpus side it has collapsed into a global-sort plan
    audit("x31_seq_pack")(
      "offsets join back by broadcast" -> (_.contains("BroadcastHashJoin")),
      "no sort-merge join" -> (p => !p.contains("SortMergeJoin")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x33: two keep-latest windows + one key equi-join; the FULL OUTER
    // diff must stay an equi-join (hash or sort-merge), never a
    // cartesian, and the window dedup must precede the join
    audit("x33_snapshot_diff")(
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "keep-latest windows in plan" -> (_.contains("Window")))
    // x37: the source-pair counts must come from a self-EQUI-join on
    // the shingle hash — a sources×sources cartesian would hide here
    audit("x37_source_overlap")(
      "pair generation is an equi-join on the shingle" ->
        (p => !p.contains("CartesianProduct")))
    // x38/x40 are pure row-local passes: any join or aggregate in the
    // plan means a feature stopped being map-side
    audit("x38_filter_cascade")(
      "single map pass: no join" -> (p => !p.contains("Join")),
      "single map pass: no aggregate" -> (p => !p.contains("Aggregate")))
    audit("x40_chunk_overlap")(
      "single map pass: no join" -> (p => !p.contains("Join")),
      "single map pass: no aggregate" -> (p => !p.contains("Aggregate")))
    // x41: the global order must come from the bucket-offset scheme,
    // never a corpus-wide single-partition sort-window
    audit("x41_curriculum")(
      // the bucket column appearing in a windowspecdefinition is the
      // proof the per-row rank is partitioned — a regression to the
      // naive corpus-wide Window.orderBy would drop it
      "per-row window is (tier,bucket)-partitioned" ->
        (_.contains("_go_bucket")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")),
      "bucket counts reduce before the offset window" ->
        (_.contains("HashAggregate")))
    audit("x42_funnel")(
      "stage joins are user_id equi-joins" ->
        (p => !p.contains("CartesianProduct")))
    audit("x43_retention")(
      "cohort join is a user_id equi-join" ->
        (p => !p.contains("CartesianProduct")))
    audit("x44_boilerplate")(
      "boilerplate set joins back by phrase hash" ->
        (p => !p.contains("CartesianProduct")))
    audit("x45_tfidf_keywords")(
      "top-3 window is doc_id-partitioned (group-limit pushdown)" ->
        (_.contains("WindowGroupLimit")),
      "df join is a term equi-join" -> (p => !p.contains("CartesianProduct")))
    audit("x46_volume_anomaly")(
      "per-type stats broadcast back" -> (_.contains("BroadcastHashJoin")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    audit("x47_containment")(
      "pair generation is a capped shingle equi-join" ->
        (p => !p.contains("CartesianProduct")))
    audit("x48_attribution")(
      "purchase-click pairing is a user_id equi-join" ->
        (p => !p.contains("CartesianProduct")),
      "last-touch flag is purchase-partitioned" -> (_.contains("Window")))
    audit("x30_source_caps")(
      "per-source cap runs the salted two-phase rank (partial _lr)" ->
        (_.contains("_lr")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    audit("x49_pipeline_funnel")(
      "six-stage composition stays cartesian-free" ->
        (p => !p.contains("CartesianProduct")),
      // stage 4 must reuse the SAME salted helper as x30 — the plain
      // per-source window would concentrate a hot source on one task
      "stage-4 cap runs the salted two-phase rank (partial _lr)" ->
        (_.contains("_lr")))
    audit("x06_ann_lsh")(
      "bucket probing is an equi-join (no cartesian beyond tiny probes)" ->
        (p => !p.contains("CartesianProduct")),
      "decimal_dot kernel in plan" -> (_.contains("decimal_dot")))
    audit("x11b_binary_assets")(
      "assets come from a real binaryFile source" ->
        (_.contains("binaryFile")),
      "decode runs at the typed mapPartitions boundary" ->
        (p => p.contains("SerializeFromObject") || p.contains("MapPartitions")))
    // x66/x67: the multimodal stages must stay NARROW — decode,
    // sample, and resize are row-local object stages, so the only
    // exchange in either plan is the contract's output ORDER BY
    // (a range partitioning); any other exchange means a shuffle
    // crept between decode and transform
    // node-count claims use the detail-section headers "(n) Op" so a
    // node is counted once, not once per tree line + detail block
    audit("x66_frame_sample")(
      "sampler runs at a typed mapPartitions boundary" ->
        (p => p.contains("MapPartitions")),
      "single exchange: the output sort only" ->
        (p => "\\(\\d+\\) Exchange".r.findAllIn(p).size == 1 &&
          p.contains("rangepartitioning")),
      "no join anywhere" -> (p => !p.contains("Join")))
    audit("x67_resize")(
      "decode→resize chains two object stages with no shuffle between" ->
        (p => "\\(\\d+\\) MapPartitions".r.findAllIn(p).size == 2 &&
          "\\(\\d+\\) Exchange".r.findAllIn(p).size == 1 &&
          p.contains("rangepartitioning")),
      "no join anywhere" -> (p => !p.contains("Join")))
    audit("x68_audio_features")(
      "windowed VAD rollup stays inside the object stage (one row per " +
        "clip, no explode/join/regroup)" ->
        (p => p.contains("MapPartitions") &&
          "\\(\\d+\\) Exchange".r.findAllIn(p).size == 1 &&
          p.contains("rangepartitioning") && !p.contains("Join") &&
          !p.contains("Generate")))
    audit("x52_time_travel")(
      "version digests are plain aggregates over snapshot file scans" ->
        (p => p.contains("HashAggregate") && !p.contains("CartesianProduct")))
    audit("x53_merge_upsert")(
      "merged head digests are plain aggregates over snapshot scans" ->
        (p => p.contains("HashAggregate") && !p.contains("CartesianProduct")))
    audit("x54_data_skipping")(
      "range digest is a plain aggregate over the pruned file scan" ->
        (p => p.contains("HashAggregate") && !p.contains("CartesianProduct")),
      "the range predicate reaches the parquet scan" ->
        (_.contains("PushedFilters: [IsNotNull(o_orderkey), " +
          "GreaterThanOrEqual(o_orderkey")))
    audit("x55_change_feed")(
      "per-commit digests are plain aggregates over added-file scans" ->
        (p => p.contains("HashAggregate") && !p.contains("CartesianProduct")))
    audit("x50_leak_safe_split")(
      "split layers on the CC labels without a cartesian" ->
        (p => !p.contains("CartesianProduct")))
    audit("x51_token_drift")(
      "grand totals broadcast back (1-row frame)" ->
        (_.contains("BroadcastExchange")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    audit("x58_deletion_vectors")(
      "version digests are plain aggregates over snapshot scans" ->
        (p => p.contains("HashAggregate") && !p.contains("CartesianProduct")),
      "MoR versions subtract DVs via a BROADCAST anti-join" ->
        (p => p.contains("BroadcastHashJoin LeftAnti") ||
          p.contains("LeftAnti BuildRight")))
    audit("x56_segment_dedup")(
      "doom flag joins back by segment hash (no cartesian)" ->
        (p => !p.contains("CartesianProduct")),
      "reassembly is a doc_id aggregate, not a window" ->
        (p => p.contains("ObjectHashAggregate") && !p.contains("WindowExec")))
    audit("x57_lm_quality")(
      "count join is a bigram-hash equi-join (no cartesian)" ->
        (p => !p.contains("CartesianProduct")),
      "corpus totals broadcast back (1-row frame)" ->
        (_.contains("BroadcastExchange")),
      "no window anywhere" -> (p => !p.contains("WindowExec")))
    audit("x59_incremental_mv")(
      "MV digest is a plain scan of the tiny MV table (no join back " +
        "to the base)" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    audit("x61_kmeans_embed")(
      "no cartesian product (centroids broadcast)" ->
        (p => !p.contains("CartesianProduct") &&
          p.contains("BroadcastExchange")),
      "assignment is a max_by aggregate, not a window" ->
        (p => !p.contains("WindowExec")))
    audit("x62_semantic_dedup")(
      "pair stage is a cell equi-join, never a cartesian" ->
        (p => !p.contains("CartesianProduct")),
      "keep verdict via join, not a window" ->
        (p => !p.contains("WindowExec")))
    audit("x63_shallow_clone")(
      "fork digests are plain aggregates over snapshot scans" ->
        (p => p.contains("HashAggregate") && !p.contains("CartesianProduct")),
      "no window anywhere" -> (p => !p.contains("WindowExec")))
    audit("x60_bpe_train")(
      "per-round outputs are a local table (all heavy work done in " +
        "the loop's own aggregates)" ->
        (p => p.contains("LocalTableScan") || p.contains("Scan ExistingRDD")))
    // x65: the persistent-index probe must scan only its nprobe cells —
    // the cell restriction is a STATIC partition filter on the index
    // scan (pruned before any row is read), and scoring runs through
    // the codegen decimal kernel
    audit("x65_ann_index")(
      "probe's cell budget reaches the index scan as a partition filter" ->
        (p => p.contains("PartitionFilters: [") && p.contains("cell#")),
      "decimal_dot kernel scores the probe (not interpreted HOF)" ->
        (_.contains("decimal_dot")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x65b: the post-append probe keeps the same plan shape — append
    // must not cost the serving path its partition pruning (the
    // file-level "append wrote only affected cell dirs" claim is
    // pinned in AnnIndexSpec)
    audit("x65b_ann_append")(
      "post-append probe still prunes by partition filter" ->
        (p => p.contains("PartitionFilters: [") && p.contains("cell#")),
      "decimal_dot kernel scores the probe (not interpreted HOF)" ->
        (_.contains("decimal_dot")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x65c: the maintenance lifecycle — the final probe runs against
    // the REFRESHED centroid set and must keep the same serving-path
    // shape (static partition pruning + decimal kernel); optimize's
    // own member scan prunes to the split cells driver-side before
    // the plan is built, so the plan-level claims are the probe's
    audit("x65c_ann_optimize")(
      "post-optimize probe prunes by partition filter" ->
        (p => p.contains("PartitionFilters: [") && p.contains("cell#")),
      "decimal_dot kernel scores the probe (not interpreted HOF)" ->
        (_.contains("decimal_dot")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x82/x83: the two-level-routed probes — the ranking plan changed
    // (router forced by the keys' scoped session settings), but the
    // SERVING claims must hold unchanged: the index scan still prunes
    // to the chosen cells, decimal kernels still score, and the two-level
    // pair construction is thin joins — a CartesianProduct anywhere
    // means an n_cells-sized pair blowup crept into the new path
    audit("x82_ann_twolevel")(
      "two-level-routed probe still prunes by partition filter" ->
        (p => p.contains("PartitionFilters: [") && p.contains("cell#")),
      "decimal_dot kernel scores the probe (not interpreted HOF)" ->
        (_.contains("decimal_dot")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    audit("x83_ann_twolevel_narrow")(
      "narrow-descent probe still prunes by partition filter" ->
        (p => p.contains("PartitionFilters: [") && p.contains("cell#")),
      "decimal_dot kernel scores the probe (not interpreted HOF)" ->
        (_.contains("decimal_dot")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x65d: the PRODUCTION-DEFAULT maintenance path (optimizeIfOutgrown,
    // √n policy) — same serving-path claims as x65c: the policy changes
    // how many cells exist, never the probe's plan shape
    audit("x65d_ann_policy")(
      "post-policy-optimize probe prunes by partition filter" ->
        (p => p.contains("PartitionFilters: [") && p.contains("cell#")),
      "decimal_dot kernel scores the probe (not interpreted HOF)" ->
        (_.contains("decimal_dot")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))
    // x71: the signature-store probe must never shuffle the store —
    // the bands scan is DPP-pruned on bkt and every join builds the
    // batch side (broadcast); an SMJ anywhere means a store-sized
    // exchange crept in. The PUBLIC key materializes its census
    // eagerly and returns a checkpoint-truncated frame (r13 #3 — no
    // store scan left in that plan), so the probe SHAPE is audited on
    // dedupAgainstLazy: the one lazy plan the eager entry point
    // executes (its scaladoc contract; MinhashStoreSpec pins the same
    // claims).
    auditDf("x71_incremental_minhash (lazy probe plan)", {
      import org.apache.spark.sql.functions.col
      val mss = graft.operators.MinhashSignatureStore
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val store = java.nio.file.Files
        .createTempDirectory("graft-audit-mss").toString + "/store"
      mss.build(spark, docs.filter(col("doc_id") % 4 === 0), store, 16, 4,
        graft.queries.Extras.Perms)
      mss.dedupAgainstLazy(spark, docs.filter(col("doc_id") % 8 === 1),
        store, graft.queries.Extras.Perms,
        graft.queries.Extras.MinhashJaccardThreshold)
    })(
      "store bands scan armed with dynamic partition pruning" ->
        (_.contains("dynamicpruning")),
      "store side never shuffles (no sort-merge join)" ->
        (p => !p.contains("SortMergeJoin")),
      "no cartesian product" -> (p => !p.contains("CartesianProduct")))

    // x73: the two-phase prefix sum must join the 4096-row bucket
    // offsets by BROADCAST (a shuffled join here re-shuffles the whole
    // corpus on the bucket key a second time)
    audit("x73_shard_pack")(
      "bucket offsets broadcast into the corpus" ->
        (_.contains("BroadcastHashJoin")),
      "no sort-merge join" -> (p => !p.contains("SortMergeJoin")))
    // x74: the trained weight table (≤ buckets×langs rows) must build
    // the broadcast side of the scoring join — the corpus-sized
    // per-doc bucket counts never shuffle against it
    audit("x74_lang_classifier")(
      "weights broadcast into the scoring join" ->
        (_.contains("BroadcastHashJoin")),
      "argmax window partitioned by doc_id (never a global sort)" ->
        (_.contains("Window")))
    // x76: all scoring against broadcast frames (centroids, probes) —
    // one corpus scan per arm, the decimal kernel in the plan, no
    // corpus-sized shuffle join
    audit("x76_ann_recall")(
      "decimal_dot kernel in plan (not interpreted HOF)" ->
        (_.contains("decimal_dot")),
      "no cartesian product of corpus with itself" ->
        (p => !p.contains("CartesianProduct")),
      "centroids/probes broadcast" -> (_.contains("Broadcast")))

    // Direct snapshot-log checks — the scale properties a plan string
    // can't show: file pruning happens driver-side BEFORE the plan is
    // built, and the DV fast path is a plan SHAPE (which files join).
    def check(desc: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
      if (!ok) failures += 1
      println(s"  [${if (ok) "PASS" else "FAIL"}] $desc")
    }
    println("\n========== snapshot log direct checks ==========")
    locally {
      import graft.operators.SnapshotLog
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val t = java.nio.file.Files.createTempDirectory("graft-audit")
        .toString + "/t"
      def batch(lo: Int, hi: Int) =
        (lo to hi).map(_.toLong).toDF("id").repartition(1)
      SnapshotLog.overwrite(batch(1, 100), t)
      (1 to 3).foreach(b => SnapshotLog.append(batch(b * 100 + 1, b * 100 + 100), t))
      val snap = SnapshotLog.snapshotAt(spark, t, 4)
      check("x54: readWhere keeps 1 of 4 files from log stats alone")(
        SnapshotLog.statsPrunedFiles(snap, "id", 150, 160).size == 1)
      SnapshotLog.deleteWhere(spark, t, col("id") === 150)
      val dvPlan = SnapshotLog.read(spark, t)
        .queryExecution.executedPlan.toString
      check("x58: only the DV'd file pays the anti-join; clean files " +
          "union past it")(
        "LeftAnti".r.findAllIn(dvPlan).size == 1 && dvPlan.contains("Union"))
    }

    println(s"\nPlan audit: ${if (failures == 0) "ALL PASS" else s"$failures FAILURES"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
