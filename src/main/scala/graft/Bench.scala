package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is forced through the `noop` sink (full execution of
  * every operator and column) rather than `.count()`, which would let
  * Catalyst prune the projection and measure a metadata scan
  * (VERDICT r01 "What's wrong").
  *
  * Reproducibility (VERDICT r03 "What's wrong" #1/#4): each query runs
  * `SPARK_GRAFT_BENCH_RUNS` times (default 3, clamped to >= 1) and
  * reports the MEDIAN of the SUCCESSFUL runs (even-sized samples
  * average the two middle values); `spark.catalog.clearCache()` runs
  * after every execution so a query's persisted intermediates
  * (x02/x04 token indexes) never squat in the heap across queries or
  * repetitions — every timed run pays its own full cost from parquet.
  *
  * Failure visibility (ADVICE r04): a run whose query throws is NOT
  * folded into the median — its time is discarded, `failed_runs`
  * counts it in the artifact, and a query with zero successful runs
  * reports `null` (excluded from the total) so a crash can never
  * deflate the numbers silently.
  *
  * The JSON line goes to stdout AND, when `BENCH_OUT` is set, to that
  * file verbatim — so the artifact doesn't depend on scraping the sbt
  * log (VERDICT r04 #8). It is also always written to
  * `BENCH_LAST.json` in the working directory so every run leaves a
  * machine-readable artifact even when the env var is absent, and
  * appended (commit- and time-stamped) to `BENCH_HISTORY.jsonl`,
  * the committed append-only record that keeps every run's full
  * per-query maps diagnosable after BENCH_LAST is overwritten and
  * the driver's 2000-char log tail truncates them (VERDICT r10 #6).
  *
  * Driver-parseable tail (VERDICT r11 #6): the full artifact line for
  * a 106-key sweep is ~8 kB, so any fixed-size log tail cuts it and
  * `BENCH_rN.json.parsed` lands null. The LAST stdout line is now a
  * compact (< 2 kB) summary — total/total_min/sf/runs/spreads plus the
  * ten slowest per-query minima and a pointer to the full artifact —
  * so a consumer that parses the final line of output always gets
  * valid JSON with the headline numbers.
  *
  * Subset self-description (ADVICE r11): a `SPARK_GRAFT_BENCH_ONLY`
  * run stamps `"only":[...]` and every artifact carries `"n_queries"`,
  * so a 5-key sweep's total can never be misread as a full-sweep
  * total in the append-only history.
  *
  * Scale sweep (VERDICT r11 #2): `SPARK_GRAFT_BENCH_SWEEP` — a
  * comma-separated list of sf dirs — runs the (optionally
  * subsetted) key set against EACH dir in one invocation and emits
  * ONE commit-stamped artifact with the per-dir maps
  * (`"metric":"sweep"`), written to `BENCH_SWEEP_LAST.json` and
  * appended to BENCH_HISTORY.jsonl. One command, one commit, every
  * scale — so scaling claims always cite a single reproducible
  * measurement instead of numbers scattered across rounds
  * (r11's x62 evidence gap).
  *
  * Contention evidence (BENCH_r05 post-mortem): the shared VM can be
  * loaded by other tenants mid-run — `queries_min`/`total_min` (the
  * minimum of the runs — a floor cannot be faked by noise) and
  * `loadavg_*` fields make a busy-host run self-evident.
  *
  * Host-factor self-identification (VERDICT r15 #7): single-dir
  * artifacts carry `host_factor` (median q-key min ratio vs the
  * committed BENCH_RECORD.json) and `host_suspect` (keys whose own
  * ratio exceeds 1.5× it) — the repo's bench trust model baked into
  * the artifact, so a loaded-host run reads as noise without manual
  * cross-referencing.
  *
  * Variance bounds (VERDICT r08 #2): one UNTIMED warm-up rep per
  * query absorbs codegen compile + page-cache fill; the artifact
  * carries `queries_spread`, `queries_load`, `max_spread`, and
  * `noisy_queries` (spread > 1.5 — numbers not to be trusted as plan
  * cost). `SPARK_GRAFT_BENCH_STRICT=1` turns noisy into nonzero exit.
  */
object Bench {
  /** Median of a non-empty sample; even sizes average the middle two. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-minute load average from /proc/loadavg ("n/a" off Linux). */
  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ").head
    catch { case _: Throwable => "n/a" }

  private def spreadOf(good: Seq[Double]): Double =
    if (good.isEmpty || good.min <= 0) 1.0
    else (good.sum / good.size) / good.min

  private def gitCommit(): String =
    try scala.sys.process.Process(
      Seq("git", "rev-parse", "--short", "HEAD")).!!.trim
    catch { case _: Throwable => "unknown" }

  /** Per-key minima of the committed record run (BENCH_RECORD.json, or
    * SPARK_GRAFT_BENCH_RECORD) — the reference for [[hostFactor]].
    * Extracted with a scoped regex rather than a JSON library (the
    * artifact format is this file's own output; no new dependency).
    */
  private def recordMinima(): Map[String, Double] =
    try {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD", "BENCH_RECORD.json")
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      val obj = s.split("\"queries_min\"\\s*:\\s*\\{", 2)(1).split("\\}", 2)(0)
      val m = """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(obj)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      if (m.isEmpty)
        // the record EXISTS but yielded no keys: a format drift would
        // otherwise silently read as "no record" and turn off
        // host-contamination flagging (ADVICE r16) — say so loudly
        System.err.println(
          s"[bench] WARNING: $p exists but no queries_min entries " +
            "parsed — record format drift? host_factor disabled")
      m
    } catch { case _: java.nio.file.NoSuchFileException => Map.empty
      case e: Throwable =>
        System.err.println(
          s"[bench] WARNING: bench record unreadable (${e.getClass
            .getSimpleName}: ${e.getMessage}) — host_factor disabled")
        Map.empty }

  /** Host-contamination self-identification (VERDICT r15 #7): the
    * repo's bench trust model says cross-VM totals are incomparable
    * and regressions are judged by the per-key ratio DISTRIBUTION —
    * a uniform shift is the host, a lone jump is code. This bakes the
    * model into the artifact: `host_factor` = median over the
    * query-contract keys (q*) of this run's min / the committed
    * record's min (q-keys are the stablest, rarely-touched surface),
    * and `host_suspect` lists keys whose own ratio exceeds 1.5× that
    * factor — the keys a loaded driver run inflates (r15's phantom
    * x29/x51–x55 "regressions" at loadavg 7 read as exactly this). A
    * missing record file yields host_factor null, never an error.
    */
  private def hostFactor(results: Seq[(String, Seq[Double], String)])
      : (Option[Double], Seq[String]) = {
    val rec = recordMinima()
    val ratios = results.collect {
      case (k, good, _) if good.nonEmpty && rec.get(k).exists(_ > 0) =>
        k -> good.min / rec(k)
    }
    val qRatios = ratios.collect { case (k, r) if k.startsWith("q") => r }
    if (qRatios.isEmpty) (None, Nil)
    else {
      val hf = median(qRatios)
      (Some(hf), ratios.collect {
        case (k, r) if r > 1.5 * hf => k
      }.sorted)
    }
  }

  /** Shortest prefix (≥ 3 chars) of each key that no OTHER key starts
    * with — the abbreviation scheme of the parse-safe tail line
    * (VERDICT r12 #7): the full 115-key minima map with full names is
    * ~2.6 kB, larger than the driver's captured log tail, while the
    * abbreviated one ("x71", "q08_a", …) fits with room to spare. A
    * key that is itself a prefix of another key (q26_centroid /
    * q26_centroid_agg) appears in full; abbreviations are distinct
    * strings by construction.
    */
  private def uniquePrefixes(names: Seq[String]): Map[String, String] =
    names.map { n =>
      val others = names.filterNot(_ == n)
      val len = (3 to n.length)
        .find(l => !others.exists(_.startsWith(n.take(l))))
        .getOrElse(n.length)
      n -> n.take(len)
    }.toMap

  /** One timed sweep of `names` against `sfDir`: per-query successful
    * run times + the loadavg sampled at each query's start.
    */
  private def measure(spark: SparkSession, sfDir: String, runs: Int,
      names: Seq[String]): (Seq[(String, Seq[Double], String)], Int) = {
    var failedRuns = 0
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val qLoad = loadavg()
      // one untimed warm-up rep: absorbs the per-plan codegen compile
      // and page-cache fill so the timed runs measure steady-state plan
      // cost (the quantity comparable across rounds); its failure is
      // counted like any run's so a crash still surfaces
      val samples = (0 to runs).map { rep =>
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
          }
        val t = (System.nanoTime() - t0) / 1e9
        // drop this query's persisted intermediates before the next run
        spark.catalog.clearCache()
        (t, ok, rep == 0)
      }
      val good = samples.collect { case (t, true, false) => t }
      failedRuns += samples.count(s => !s._2)
      (name, good, qLoad)
    }
    (results, failedRuns)
  }

  /** JSON object bodies for one measured sweep (shared by the
    * single-dir and sweep artifacts).
    */
  private def sweepJson(results: Seq[(String, Seq[Double], String)],
      failedRuns: Int, sfDir: String): (String, Double, Double, Seq[String]) = {
    def obj(f: Seq[Double] => Double): String = results.map { case (k, good, _) =>
      "\"" + k + "\":" + (if (good.nonEmpty) f(good).toString else "null")
    }.mkString("{", ",", "}")
    val qLoads = results.map { case (k, _, l) => "\"" + k + "\":\"" + l + "\"" }
      .mkString("{", ",", "}")
    val maxSpread = results.map(r => spreadOf(r._2)).maxOption.getOrElse(1.0)
    val noisy = results.filter(r => spreadOf(r._2) > 1.5).map(_._1)
    val total = results.collect { case (_, g, _) if g.nonEmpty => median(g) }.sum
    val totalMin = results.collect { case (_, g, _) if g.nonEmpty => g.min }.sum
    val noisyJson = noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val body =
      s""""value":$total,"unit":"sec","queries":${obj(median)},"queries_min":${obj(_.min)},"queries_spread":${obj(g => math.rint(spreadOf(g) * 100) / 100)},"queries_load":$qLoads,"max_spread":${math.rint(maxSpread * 100) / 100},"noisy_queries":$noisyJson,"warmup":1,"total_min":$totalMin,"sf":"$sfDir","n_queries":${results.size},"failed_runs":$failedRuns"""
    (body, total, totalMin, noisy)
  }

  private def writeArtifact(line: String, defaultFile: String): Unit = {
    (sys.env.get("BENCH_OUT").toSeq :+ defaultFile).foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    // Append-only history (VERDICT r10 #6): BENCH_LAST.json is
    // overwritten by every run and the driver's per-round tail
    // truncates the per-query maps, so every run also appends its full
    // artifact — stamped with commit + wall time — to
    // BENCH_HISTORY.jsonl, which is committed and never rewritten.
    try {
      val stamped =
        s"""{"ts":"${java.time.Instant.now()}","commit":"${gitCommit()}",""" +
          line.stripPrefix("{")
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        (stamped + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not append history: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the factory applies the SPARK_GRAFT_EXTRA_CONF A/B knob for plan
    // experiments (e.g. AQE coalescing on the candidate exchange)
    val spark = Main.session()
    // Warm the JVM/codegen/IO paths once so the first measured query
    // doesn't absorb session bootstrap cost.
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop")
      .mode("overwrite").save()
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Optional subset (comma-separated keys): scale rehearsals target
    // one operator family without paying the full sweep at that
    // volume. The driver's per-round run leaves this unset, so the
    // round artifact stays the full contract surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // fail fast on typos: a silently-empty subset would still overwrite
    // BENCH_LAST.json and append a bogus total=0 line to the committed
    // append-only history
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val onlyField = only match {
      case Some(_) =>
        s""""only":${names.map("\"" + _ + "\"").mkString("[", ",", "]")},"""
      case None => ""
    }
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val loadStart = loadavg()

    sys.env.get("SPARK_GRAFT_BENCH_SWEEP") match {
      case Some(dirs) =>
        // multi-scale sweep: every dir measured in this one JVM at this
        // one commit → one self-contained artifact for scaling claims
        val perDir = dirs.split(',').toSeq.map { d =>
          require(new java.io.File(d).isDirectory, s"sweep dir missing: $d")
          System.err.println(s"[bench] sweep: $d")
          val (results, failed) = measure(spark, d, runs, names)
          val (body, total, totalMin, noisy) = sweepJson(results, failed, d)
          noisy.foreach(n => System.err.println(
            s"[bench] $d $n spread > 1.5x — number untrustworthy under load"))
          (d, "{" + body + "}", total, totalMin)
        }
        val sfsJson = perDir.map { case (d, o, _, _) => "\"" + d + "\":" + o }
          .mkString("{", ",", "}")
        val totalsMin = perDir.map { case (d, _, _, tm) =>
          "\"" + d + "\":" + tm }.mkString("{", ",", "}")
        val line =
          s"""{"metric":"sweep","commit":"${gitCommit()}",$onlyField"n_queries":${names.size},"runs":$runs,"max_heap_mb":$heapMb,"loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","totals_min":$totalsMin,"sfs":$sfsJson}"""
        println(line)
        writeArtifact(line, "BENCH_SWEEP_LAST.json")
      case None =>
        val (results, failedRuns) = measure(spark, sfDir, runs, names)
        val (body, total, totalMin, noisy) = sweepJson(results, failedRuns, sfDir)
        noisy.foreach(n => System.err.println(
          s"[bench] $n spread > 1.5x (mean/min) — number untrustworthy under load"))
        val (hfOpt, suspects) = hostFactor(results)
        val hfField = hfOpt match {
          case Some(h) =>
            s""""host_factor":${math.rint(h * 100) / 100},"host_suspect":${suspects.map("\"" + _ + "\"").mkString("[", ",", "]")},"""
          case None => """"host_factor":null,"""
        }
        suspects.foreach(k => System.err.println(
          s"[bench] $k ratio-vs-record > 1.5x host_factor — likely load, " +
            "not code (trust model: SCALE.md)"))
        val line =
          s"""{"metric":"total",$onlyField$hfField$body,"runs":$runs,"max_heap_mb":$heapMb,"loadavg_start":"$loadStart","loadavg_end":"${loadavg()}"}"""
        println(line)
        writeArtifact(line, "BENCH_LAST.json")
        // Compact LAST line (VERDICT r12 #7): the driver parses the
        // FINAL stdout line and keeps only a ~2 kB tail, so this line
        // must be (a) the actual last line — build.sbt suppresses
        // sbt's trailing "[success]" banner and unwraps the forked
        // JVM's stdout from the "[info] " prefix — and (b) self-
        // contained under 2 kB: ALL per-key minima, keys abbreviated
        // to shortest-unique-prefix, values rounded to 0.1 s.
        // BENCH_LAST.json / BENCH_HISTORY.jsonl carry full names and
        // precision.
        val pfx = uniquePrefixes(names)
        val allMin = results
          .map { case (k, g, _) => "\"" + pfx(k) + "\":" +
            (if (g.nonEmpty) (math.rint(g.min * 10) / 10).toString else "null") }
          .mkString("{", ",", "}")
        println(
          s"""{"metric":"total","value":${math.rint(total * 100) / 100},"unit":"sec",$onlyField$hfField"n_queries":${names.size},"total_min":${math.rint(totalMin * 100) / 100},"sf":"$sfDir","runs":$runs,"failed_runs":$failedRuns,"noisy_count":${noisy.size},"loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","key_style":"shortest-unique-prefix","queries_min_abbrev":$allMin,"full_artifact":"BENCH_LAST.json"}""")
        if (sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1") && noisy.nonEmpty) {
          spark.stop()
          sys.exit(2)
        }
    }
    spark.stop()
  }
}
