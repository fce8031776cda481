package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{DecimalDot, SortedIntersectCount, UnicodeUnescape}

/** Library entry point for `spark.sql.extensions`: injects the graft
  * custom Catalyst expressions into every session's function registry,
  * so SQL users get them natively:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT decimal_dot(a.embedding, b.embedding) FROM ...
  * }}}
  *
  * The query library also registers the same functions imperatively
  * (`DecimalDot.register(spark)` etc.) so it works on stock sessions;
  * this class is the idiomatic wiring for clusters where the session
  * is built by the platform, not the job.
  *
  * It also registers the engine's `file:` filesystem classes
  * ([[graft.io.LocalFs]]) on the running context's Hadoop conf: Hadoop's
  * pure-Java local filesystem forks `chmod` for every file it creates,
  * which dominated a small daily commit. A class the user set under
  * `spark.hadoop.fs.file.impl` or `spark.hadoop.fs.AbstractFileSystem.file.impl`
  * is kept.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.ActiveContext().foreach(sc => graft.io.LocalFs.install(sc.hadoopConfiguration))

    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "", "", "", "scala_udf")

    def arity(name: String, n: Int)(children: Seq[Expression]): Seq[Expression] = {
      if (children.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> n.toString,
            "actualNum" -> children.length.toString, "docroot" -> ""))
      children
    }

    ext.injectFunction((
      FunctionIdentifier("decimal_dot"),
      info("decimal_dot",
        "decimal_dot(a, b) - exact DECIMAL(30,20)-accumulated dot product of two array<double>"),
      (children: Seq[Expression]) => {
        val c = arity("decimal_dot", 2)(children); DecimalDot(c(0), c(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - |A ∩ B| of two sorted unique array<string>"),
      (children: Seq[Expression]) => {
        val c = arity("sorted_intersect_count", 2)(children)
        SortedIntersectCount(c(0), c(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("unicode_unescape"),
      info("unicode_unescape",
        "unicode_unescape(s) - decode \\uXXXX / \\xNN escape sequences"),
      (children: Seq[Expression]) =>
        UnicodeUnescape(arity("unicode_unescape", 1)(children).head)))

    ext.injectFunction((
      FunctionIdentifier("int_dot"),
      info("int_dot",
        "int_dot(a, b) - exact i64 dot product of two array<int> (quantized-vector scoring)"),
      (children: Seq[Expression]) => {
        val c = arity("int_dot", 2)(children)
        graft.expressions.IntDot(c(0), c(1))
      }))

    // Spark's own bloom sketch expressions (the pair the AQE
    // runtime-filter rule uses internally) surfaced for SQL users —
    // the incremental-dedup router (operators/BloomIncrementalDedup)
    // and `SELECT bloom_agg(xxhash64(k), 1000000, 8388608) ...` both
    // work natively.
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      info("bloom_agg",
        "bloom_agg(longCol[, estItems, numBits]) - bloom filter sketch (binary) of a long column"),
      graft.operators.BloomIncrementalDedup.aggBuilder))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      info("bloom_contains",
        "bloom_contains(bloomBinary, longCol) - bloom filter membership probe"),
      graft.operators.BloomIncrementalDedup.containsBuilder))

    // Canonicalize the declarative decimal-dot idiom to the codegen
    // kernel wherever it appears in a plan.
    ext.injectOptimizerRule(_ => graft.plans.DecimalDotRewrite)
  }
}
