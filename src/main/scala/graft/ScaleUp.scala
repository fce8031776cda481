package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal data generator: blow the driver's sf0.1 tables up
  * by an integer factor (default 10 → "sf1") into a scratch dir, so
  * the full bench can be replayed at 10× data and per-query scaling
  * exponents measured empirically (VERDICT r9 next-round #1).
  *
  * Run: `runMain graft.ScaleUp [srcDir] [dstDir] [factor]`
  * (defaults `/root/testdata/sf0.1` → `tmp/sf1` ×10).
  *
  * Design constraints, in order of importance:
  *
  *  1. **Referential integrity.** Every key column is offset by
  *     `replica × stride` with stride = max(key)+1 read from the
  *     source, applied consistently on both sides of every FK edge
  *     (orders.o_custkey ↔ customer.c_custkey, lineitem.l_orderkey /
  *     l_partkey / l_suppkey ↔ their parents). Joins therefore match
  *     exactly as they did at sf0.1, ×factor.
  *  2. **Replica 0 is the identity.** Any literal id a query carries
  *     (ANN probe vec_ids, point-lookup keys) still resolves.
  *  3. **Replicas must NOT be near-duplicates of each other.** A naive
  *     copy makes every document a 10-way exact dup and every
  *     embedding a 10-way identical vector, so pair-producing
  *     operators (MinHash-LSH, SemDeDup, containment) would grow
  *     quadratically in the factor — measuring the *generator's*
  *     artifact, not the operator's scaling. Instead:
  *       - document text gets a per-replica Caesar rotation over
  *         [a-zA-Z] (`translate` — codegen, length/whitespace/
  *         n_chars-preserving). Token sets across replicas are
  *         disjoint, so dup/near-dup structure replicates ×factor
  *         WITHIN each replica and pair volume scales linearly —
  *         exactly how a real 10× corpus behaves.
  *       - embeddings get a per-replica circular shift of the vector
  *         (norm-preserving; a shifted 64-dim embedding is
  *         effectively an independent direction, expected cosine ≈ 0).
  *  4. **Time axes keep their range.** Timestamps are copied, not
  *     shifted: 10× data in the same date range = 10× per-window
  *     density, which is how production volume growth actually
  *     arrives (window/session/retention state grows per key, not
  *     per calendar).
  *
  * Dimension tables `region`/`nation` are copied unscaled (TPC-H
  * semantics: fixed geography at every sf).
  *
  * CAVEAT (measured in the factor-50 rehearsal): the Caesar rotation
  * wraps at 26, so factors beyond 26 produce replicas with EXACTLY
  * duplicated text — identical-set pair volume then grows
  * quadratically in replicas-per-rotation and pair-operator timings
  * measure output growth, not plan cost. Factors ≤ 26 preserve the
  * non-duplicate invariant; larger factors deliberately model a
  * dup-heavy (open-web-shaped) corpus.
  *
  * The embedding circular shift wraps the same way at `dim` (k = r %
  * dim, dim = 64 in the driver tables): factors > 64 produce replicas
  * with byte-identical embeddings, so embedding-pair operators (x12
  * near-dup, x61/x62 SemDeDup) at factor-100+ measure duplicate-pair
  * output volume, not plan cost — same reading as the Caesar wrap,
  * arriving at 64 instead of 26 (ADVICE r10).
  */
object ScaleUp {
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Caesar-rotate both cases by r (r=0 → identity). */
  private def rotAlpha(r: Int): (String, String) = {
    val k = ((r % 26) + 26) % 26
    (Lower + Upper, Lower.drop(k) + Lower.take(k) + Upper.drop(k) + Upper.take(k))
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Main.session()
    run(spark, src, dst, factor)
    spark.stop()
  }

  /** The generator body, callable with a live session (the spec drives
    * it without stopping the shared test session).
    */
  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def table(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** stride = max(key)+1, so offset key spaces never collide. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    /** Union of `factor` per-replica transforms of the source frame.
      * Union (not an explode of a replica sequence) so each replica
      * can apply replica-LITERAL expressions (`translate` tables,
      * slice offsets) that stay inside whole-stage codegen.
      */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => f(df, r)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] wrote $name")
    }

    // fixed geography dims: copy unscaled
    write(table("region"), "region")
    write(table("nation"), "nation")

    val customer = table("customer")
    val supplier = table("supplier")
    val part = table("part")
    val orders = table("orders")
    val lineitem = table("lineitem")
    val events = table("events")
    val documents = table("documents")
    val embeddings = table("embeddings")

    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val ordS = stride(orders, "o_orderkey")
    val evS = stride(events, "event_id")
    val userS = stride(events, "user_id")
    val docS = stride(documents, "doc_id")
    val vecS = stride(embeddings, "vec_id")

    def off(c: String, s: Long, r: Int) = col(c) + lit(s * r)

    write(replicate(customer) { (df, r) =>
      df.withColumn("c_custkey", off("c_custkey", custS, r))
    }, "customer")

    write(replicate(supplier) { (df, r) =>
      df.withColumn("s_suppkey", off("s_suppkey", suppS, r))
    }, "supplier")

    write(replicate(part) { (df, r) =>
      df.withColumn("p_partkey", off("p_partkey", partS, r))
    }, "part")

    write(replicate(orders) { (df, r) =>
      df.withColumn("o_orderkey", off("o_orderkey", ordS, r))
        .withColumn("o_custkey", off("o_custkey", custS, r))
    }, "orders")

    write(replicate(lineitem) { (df, r) =>
      df.withColumn("l_orderkey", off("l_orderkey", ordS, r))
        .withColumn("l_partkey", off("l_partkey", partS, r))
        .withColumn("l_suppkey", off("l_suppkey", suppS, r))
    }, "lineitem")

    write(replicate(events) { (df, r) =>
      df.withColumn("event_id", off("event_id", evS, r))
        .withColumn("user_id", off("user_id", userS, r))
    }, "events")

    write(replicate(documents) { (df, r) =>
      val (from, to) = rotAlpha(r)
      df.withColumn("doc_id", off("doc_id", docS, r))
        .withColumn("text", translate(col("text"), from, to))
    }, "documents")

    val dim = embeddings.selectExpr("size(embedding)").head.getInt(0)
    write(replicate(embeddings) { (df, r) =>
      val k = r % dim
      val shifted =
        if (k == 0) col("embedding")
        else concat(
          expr(s"slice(embedding, ${k + 1}, ${dim - k})"),
          expr(s"slice(embedding, 1, $k)"))
      df.withColumn("vec_id", off("vec_id", vecS, r))
        .withColumn("embedding", shifted)
    }, "embeddings")

    println(s"[scaleup] done: $src ×$factor → $dst")
  }
}
