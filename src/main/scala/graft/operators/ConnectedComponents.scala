package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed connected components over an edge list — the clustering
  * stage every near-dup pipeline needs between "pairs" (x01–x04, x12
  * emit them) and "keep one canonical doc per duplicate cluster".
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014), which
  * converges in O(log²/log n) rounds and — unlike naive min-label
  * propagation, whose round count is the component DIAMETER — survives
  * the adversarial chain case (signature relations can daisy-chain
  * A~B~C~… arbitrarily deep at open-web scale).
  *
  * Scale shape per round: two hash aggregations (per-node neighbor
  * min) and two shuffles on node id — never a collect_list of the
  * neighborhood, so a mega-component's hub node costs its GROUP BY
  * min, not a materialized member array. The driver loop holds only a
  * (count, checksum) pair per round; edges stay distributed
  * throughout. Lineage is truncated each round with `localCheckpoint`
  * (on a cluster with a checkpoint dir, `checkpoint` — the plan
  * otherwise quadruples per round and overwhelms the optimizer long
  * before data size matters).
  */
object ConnectedComponents {

  /** One large-star round: every node's strictly-larger neighbors are
    * re-pointed at the minimum of its closed neighborhood min(N(u)∪u).
    * Emitted edges always point high→low, so `u > v` is an invariant.
    */
  private[operators] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mv"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("u"), col("mv")).as("v"))
      .distinct()
  }

  /** One small-star round: edges already point high→low; every node's
    * not-larger neighbors (and the node itself) are re-pointed at its
    * neighborhood minimum.
    */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Materialize a round's edge set (lineage truncation) and collect
    * its order-insensitive fingerprint — (row count, sum of per-edge
    * xxhash64) — IN THE SAME JOB via the Observation API: the
    * `CollectMetrics` node accumulates while the checkpoint job scans,
    * so convergence detection costs zero extra passes (the previous
    * form paid a full second aggregation job per round). Two
    * consecutive equal fingerprints mean the star-contraction reached
    * its fixpoint (a 2⁻⁶⁴-grade hash collision is the only false
    * positive; the decimal sum cannot overflow under ANSI).
    */
  private def materialize(e: DataFrame): (DataFrame, (Long, Any)) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = e.observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)).as("h"))
      .localCheckpoint()
    val m = obs.get
    (cp, (m("n").asInstanceOf[Long], m("h")))
  }

  /** Collapse an undirected edge list (columns `u`, `v`, any integral
    * type) into per-node component labels.
    *
    * @return (node, label) with label = the component's minimum node
    *         id; only nodes that appear in an edge are returned (the
    *         caller left-joins and coalesces to cover singletons).
    */
  def run(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    var (e, prev) = materialize(edges
      .select(col("u").cast(LongType), col("v").cast(LongType))
      .filter(col("u") =!= col("v"))
      .distinct())
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val (next, cur) = materialize(smallStar(largeStar(e)))
      e = next
      converged = cur == prev
      prev = cur
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds")
    // at the fixpoint the edge set is a star forest: (member, root)
    e.select(col("u").as("node"), col("v").as("label"))
  }

  /** Star edges for a signature relation: every member of a signature
    * group points at the group's minimum doc id. O(n) edges per
    * relation — a k-member duplicate group contributes k−1 edges, not
    * the k·(k−1)/2 pairs a within-group self-join would (the pair
    * explosion that kills at 100 TB when a boilerplate page has 10⁶
    * copies).
    */
  def starEdges(df: DataFrame, id: String, sig: String): DataFrame = {
    val mins = df.groupBy(sig).agg(min(id).as("v"))
    df.join(mins, sig)
      .filter(col(id) =!= col("v"))
      .select(col(id).as("u"), col("v"))
  }
}
