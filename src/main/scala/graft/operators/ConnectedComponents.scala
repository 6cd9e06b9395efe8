package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star
  * contraction (Kiveris et al. 2014, "Connected Components in MapReduce
  * and Beyond") — the published O(log² n)-round algorithm for
  * planet-scale graphs, here as the high-diameter complement to
  * [[Dedup.assignClusters]]'s min-label propagation.
  *
  * Why both kernels exist: min-label propagation needs one round per
  * unit of graph DIAMETER. Dedup graphs are star/pair-shaped (diameter
  * ≤ 2-3), so propagation converges in 1-2 rounds and stays the dedup
  * default. But citation chains, co-occurrence paths, and web-graph
  * components have diameters in the hundreds — at 100 TB a
  * diameter-bound loop is the difference between 8 shuffling rounds and
  * 300. Star contraction's round count is logarithmic in component
  * size, independent of diameter.
  *
  * Scale shape per round: one map-side-combinable `groupBy(u).min`
  * (bounded state — one value per live node), one equi-join of the edge
  * set with that min table on the SAME key (AQE reuses the exchange),
  * and one `distinct` to keep the edge set from accumulating
  * duplicates. Edge count never grows: large-star maps each (u,v) edge
  * (v above u) to exactly one (v, m) edge; small-star maps each
  * max-oriented edge to one (lo, m) edge plus one (hi, m) edge per live
  * node. A high-degree hub is just many edge rows under one key — the
  * min aggregate combines map-side and the join is hash-partitioned, so
  * no single task ever materializes a neighborhood (the published MR
  * formulation's reducer-side neighborhood list is exactly what the
  * DataFrame translation avoids).
  *
  * Convergence is detected from a per-round checksum (count + sum of
  * hash(a, b)) over the persisted next edge set — one action per round,
  * the assignClusters discipline. Stars are fixed points of both
  * operations, so a stable checksum means every edge is (node,
  * component-min).
  */
object ConnectedComponents {

  /** Large-star step: every node connects its LARGER neighbors to the
    * minimum of its closed neighborhood. Input/output: undirected edge
    * list (a, b), no self-loops in output.
    */
  def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges
      .filter(col("a") =!= col("b"))
      .select(col("a").as("u"), col("b").as("v"))
      .union(edges.filter(col("a") =!= col("b")).select(col("b").as("u"), col("a").as("v")))
    val mins = sym
      .groupBy("u")
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // m ≤ u < v, so (v, m) is never a self-loop.
    sym
      .filter(col("v") > col("u"))
      .join(mins, Seq("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .distinct()
  }

  /** Small-star step: every node connects its SMALLER neighbors (and
    * itself) to the minimum of its closed neighborhood. Edges are
    * oriented to their larger endpoint first, so the group key is the
    * larger node and the aggregate state stays one min per node.
    */
  def smallStar(edges: DataFrame): DataFrame = {
    val ori = edges
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val mins = ori.groupBy("u").agg(min(col("v")).as("m"))
    ori
      .join(mins, Seq("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .union(mins.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Component assignment for every node that appears in `edges`
    * (columns a, b; any orderable type): returns (id, component_id)
    * where component_id is the component's minimum node id.
    *
    * `maxRounds` is a safety cap well above the O(log² n) bound for any
    * realistic graph (2^20-size components converge in ≲ 8 rounds). If
    * the checksum still moved in round `maxRounds`, this throws
    * `IllegalStateException` naming the round count rather than return
    * partly contracted labels, as [[Dedup.assignClusters]] does.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    // Each round references the previous edge set 4+ times (symmetrize,
    // min-join, re-join), so a lazy/persisted loop grows the LOGICAL
    // plan 4^rounds even though the data is cached — an eager
    // checkpoint cuts the lineage to a LogicalRDD per round (the
    // Bpe.train discipline, incl. the previous round's release and the
    // executor-loss caveat documented on graft.Lineage).
    // Seed orientation (greatest, least) matches smallStar's output form
    // (every emitted edge has a > b), so an already-contracted input's
    // round-1 checksum can equal the seed checksum and converge in ONE
    // round — the common star/pair shape neardupComponents feeds in.
    var cur = graft.Lineage.checkpoint(
      edges
        .filter(col("a") =!= col("b"))
        .select(
          greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b")
        )
        .distinct()
    )
    // (count, hash-sum) checksum over the materialized round: one cheap
    // action decides convergence. hash() is Spark-deterministic; long
    // sums are partition-order independent.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e
        .agg(
          count(lit(1)).as("c"),
          coalesce(sum(hash(col("a"), col("b")).cast("long")), lit(0L)).as("s")
        )
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = checksum(cur.df)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val next = graft.Lineage.checkpoint(smallStar(largeStar(cur.df)))
      val chk = checksum(next.df)
      cur.release()
      cur = next
      converged = chk == prev
      prev = chk
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds: edge checksum still moving"
      )
    // After convergence every edge is (node, component-min) and centers
    // map to themselves, and every center also appears as an edge's `b`
    // — the union emits it once per edge, so the min-aggregate collapses
    // those copies to the one row per id downstream left joins rely on.
    cur.df
      .select(col("a").as("id"), col("b").as("component_id"))
      .union(cur.df.select(col("b").as("id"), col("b").as("component_id")))
      .groupBy("id")
      .agg(min(col("component_id")).as("component_id"))
  }

  /** Permuted-chain graph over `part`: node ids are `perm(k) = k·48271
    * mod 2147483647` (the MINSTD Lehmer pair — a bijection on
    * [0, 2³¹−2], so replicated key spaces far beyond the base SF still
    * permute collision-free), and k links to k+1 except across each
    * 16-node chain
    * boundary (chain = k/16, 0-based — p_partkey starts at 0, and the
    * 0-based form keeps the oracle's integer division out of
    * truncation-vs-floor territory). Chains make the diameter 15 — the
    * regime where min-label propagation needs 15 rounds and star
    * contraction ≲ 5 — while the permutation scatters ids so component
    * minima are not positional. The oracle derives components from the
    * chain CONSTRUCTION; the Spark side sees only the edge list.
    */
  def chainEdges(parts: DataFrame, chainLen: Int = 16): DataFrame = {
    val k = col("p_partkey")
    val perm = (k * 48271L) % 2147483647L
    val nodes = parts.select(k.as("k"), perm.as("node"))
    nodes
      .filter(col("k") % chainLen =!= (chainLen - 1))
      .join(
        nodes.select((col("k") - 1).as("k"), col("node").as("next_node")),
        Seq("k")
      )
      .select(col("node").as("a"), col("next_node").as("b"))
  }

  private val componentsQ = Q(
    "graph_components_star",
    (s, d) => {
      val parts = Tables.part(s, d)
      val nodes = parts.select(((col("p_partkey") * 48271L) % 2147483647L).as("id"))
      val labels = connectedComponents(chainEdges(parts))
      // Isolated nodes (a tail chain of length 1) are their own
      // component; the general contract covers them even when the
      // current SFs have none.
      nodes
        .join(labels, Seq("id"), "left")
        .select(
          col("id"),
          coalesce(col("component_id"), col("id")).as("component_id")
        )
    },
    Some(
      """WITH n AS (
        |  SELECT p_partkey AS k, (p_partkey * 48271) % 2147483647 AS node FROM part),
        |c AS (
        |  SELECT k // 16 AS chain, min(node) AS m FROM n GROUP BY 1)
        |SELECT cast(node as bigint) AS id, cast(m as bigint) AS component_id
        |FROM n JOIN c ON n.k // 16 = c.chain""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(componentsQ)
}
