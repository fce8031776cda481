package graft

/** Ad-hoc profiler: time one named query repeatedly through the noop
  * sink (same execution path as [[Bench]]) to separate real plan cost
  * from JVM/codegen warmup and shared-VM noise.
  *
  * Run: `runMain graft.Profile <query>[,<query>...] [sfDir] [reps]`.
  * A comma-separated list runs each query's full rep block in order
  * with [[Bench]]'s exact per-rep hygiene (noop sink + clearCache) —
  * the tool for reproducing sweep-order interactions (e.g. "is x01
  * slower when q28's streaming teardown precedes it?").
  *
  * `SPARK_GRAFT_EXPLAIN=1` dumps each plan first;
  * `SPARK_GRAFT_ROWS=1` swaps the noop sink for a `count()` and prints
  * rows alongside seconds — pair queries on dup-heavy corpora are
  * output-bound (SCALE.md sf5 rehearsal), so a scaling investigation
  * needs rows to tell plan cost from result growth.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    // same factory as Bench (conf block + [[ExtraConf]]), so a profiled
    // plan runs under the exact config being benched
    val spark = Main.session()
    names.foreach { name =>
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val rows =
          if (sys.env.contains("SPARK_GRAFT_ROWS")) Some(df.count())
          else { df.write.format("noop").mode("overwrite").save(); None }
        val secs = f"${(System.nanoTime() - t0) / 1e9}%.2f s"
        println(s"[profile] $name rep$i $secs" +
          rows.fold("")(n => s" rows=$n"))
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
