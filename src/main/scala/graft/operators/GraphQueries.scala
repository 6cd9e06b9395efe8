package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics: weighted PageRank by fixed-iteration power
  * method (Page et al. 1999), and connected components of a
  * permuted-chain graph through the dedup pipeline's kernel
  * ([[Dedup.assignClusters]]).
  *
  * Determinism discipline: rank mass lives in integer micro-units and
  * every division is integer floor division, so per-node ranks are exact
  * longs — a float PageRank would sum incoming contributions in
  * partition order and never reproduce bit-for-bit across engines or
  * even across Spark runs. Long sums ARE order-independent.
  *
  * Scale shape: each iteration is one equi-join of the rank table with
  * the edge table on `src` (both shuffled on the same key, so AQE reuses
  * the exchange across iterations) plus one bounded aggregation on
  * `dst`. K is fixed, so the whole plan is K bounded-key shuffles — the
  * standard distributed PageRank; nothing is ever collected to the
  * driver and no adjacency list needs to fit in memory.
  */
object GraphQueries {

  private val BaseMicro = 1000000L // initial per-node rank mass
  private val Iterations = 3

  /** One power-method step: r'(v) = (1−d)·base + d·Σ_{u→v} r(u)·w/W(u),
    * damping d = 0.85, all in integer micro-units. `edges` must carry
    * (src, dst, w, totw) with totw = Σ w over src.
    */
  def pagerankStep(ranks: DataFrame, edges: DataFrame): DataFrame =
    edges
      .join(ranks, Seq("src"))
      .select(col("dst"), expr("(rank_micro * w) div totw").as("contrib"))
      .groupBy("dst")
      .agg(sum(col("contrib")).as("c"))
      .select(
        col("dst").as("src"),
        (lit(BaseMicro * 15 / 100) + expr("(c * 85) div 100")).as("rank_micro")
      )

  /** Fixed-iteration weighted PageRank over an edge list (src, dst, w).
    * Every node must have out-edges (callers symmetrize); dangling-node
    * redistribution is therefore unnecessary.
    */
  def pagerank(edgeList: DataFrame, iters: Int = Iterations): DataFrame = {
    val totw = edgeList.groupBy("src").agg(sum(col("w")).as("totw"))
    // The edge table is read once per iteration (plus the r0 derivation):
    // persist it, or the lazy plan re-derives the upstream joins K+2
    // times — at 100 TB that is K+2 full scans of the fact tables.
    // (Verify/Bench clear the cache after each query.)
    val edges = edgeList
      .join(totw, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r0 = edges.select(col("src")).distinct().withColumn("rank_micro", lit(BaseMicro))
    (1 to iters).foldLeft(r0)((r, _) => pagerankStep(r, edges))
  }

  /** The customer↔supplier trade graph: an edge per (customer, supplier)
    * pair weighted by their lineitem count, symmetrized so rank flows
    * both directions of the bipartite graph. High-rank suppliers are
    * those trading heavily with high-rank customers — the standard
    * importance propagation.
    */
  private val pagerankQ = Q(
    "graph_pagerank",
    (s, d) => {
      val raw = Tables
        .lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey")
        )
        .groupBy(
          concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst")
        )
        .agg(count(lit(1)).as("w"))
      val sym = raw.unionByName(
        raw.select(col("dst").as("src"), col("src").as("dst"), col("w"))
      )
      pagerank(sym).select(col("src").as("node_id"), col("rank_micro"))
    },
    Some {
      val iter = (t: Int) =>
        s"""r$t AS (
           |  SELECT e.dst AS node,
           |    150000 + (sum((r.rank_micro * e.w) // e.totw) * 85) // 100 AS rank_micro
           |  FROM e JOIN r${t - 1} r ON e.src = r.node
           |  GROUP BY 1)""".stripMargin
      s"""WITH raw AS (
         |  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst, count(*) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |sym AS (SELECT * FROM raw UNION ALL SELECT dst AS src, src AS dst, w FROM raw),
         |tw AS (SELECT src, sum(w) AS totw FROM sym GROUP BY 1),
         |e AS (SELECT sym.src, sym.dst, sym.w, tw.totw FROM sym JOIN tw ON sym.src = tw.src),
         |r0 AS (SELECT DISTINCT src AS node, cast(${BaseMicro} as bigint) AS rank_micro FROM e),
         |${(1 to Iterations).map(iter).mkString(",\n")}
         |SELECT node AS node_id, cast(rank_micro as bigint) AS rank_micro FROM r$Iterations""".stripMargin
    }
  )

  private val ChainLen = 16

  /** Permuted-chain graph over `parts`: node ids are `perm(k) = k·48271
    * mod 2147483647` (the MINSTD Lehmer pair — a bijection on
    * [0, 2³¹−2], so replicated key spaces far beyond the base SF still
    * permute collision-free), and k links to k+1 except across each
    * 16-node chain boundary (chain = k/16, 0-based — p_partkey starts at
    * 0, and the 0-based form keeps the oracle's integer division out of
    * truncation-vs-floor territory). Chains have diameter 15, so min-label
    * propagation runs 15 rounds, while the permutation scatters ids so
    * component minima are not positional. The oracle derives components
    * from the chain CONSTRUCTION; the Spark side sees only the edge list
    * (id_1, id_2).
    */
  def chainEdges(parts: DataFrame): DataFrame = {
    val k = col("p_partkey")
    val perm = (k * 48271L) % 2147483647L
    val nodes = parts.select(k.as("k"), perm.as("node"))
    nodes
      .filter(col("k") % ChainLen =!= (ChainLen - 1))
      .join(
        nodes.select((col("k") - 1).as("k"), col("node").as("next_node")),
        Seq("k")
      )
      .select(col("node").as("id_1"), col("next_node").as("id_2"))
  }

  private val componentsQ = Q(
    "graph_components_star",
    (s, d) => {
      val parts = Tables.part(s, d)
      val nodes = parts.select(((col("p_partkey") * 48271L) % 2147483647L).as("id"))
      val labels = Dedup.assignClusters(chainEdges(parts))
      // Isolated nodes (a tail chain of length 1) are their own
      // component; the general contract covers them even when the
      // current SFs have none.
      nodes
        .join(labels, Seq("id"), "left")
        .select(
          col("id"),
          coalesce(col("dedup_id"), col("id")).as("component_id")
        )
    },
    Some(
      s"""WITH n AS (
        |  SELECT p_partkey AS k, (p_partkey * 48271) % 2147483647 AS node FROM part),
        |c AS (
        |  SELECT k // $ChainLen AS chain, min(node) AS m FROM n GROUP BY 1)
        |SELECT cast(node as bigint) AS id, cast(m as bigint) AS component_id
        |FROM n JOIN c ON n.k // $ChainLen = c.chain""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(pagerankQ, componentsQ)
}
