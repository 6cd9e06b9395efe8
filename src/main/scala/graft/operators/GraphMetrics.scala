package graft.operators

import graft.{Checkpointed, Lineage, Q}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-health metrics over the verified near-duplicate graph,
  * completing the registry's graph-analytics family (PageRank,
  * star-contraction components, triangle counting):
  *
  *  - Global clustering coefficient / transitivity (Watts & Strogatz
  *    1998; Newman 2003 §III): 3·triangles / wedges — ONE number that
  *    separates template families (clique-dense, C → 1) from revision
  *    chains (C → 0) corpus-wide, where the per-vertex triangle counts
  *    need interpretation.
  *  - k-core decomposition (Seidman 1983): iteratively peel vertices
  *    of degree < k; what survives is the graph's dense backbone — for
  *    dedup, the boilerplate/template core that component counts hide
  *    (a star of one million docs has a huge component but an EMPTY
  *    2-core).
  *
  * Scale shapes: transitivity reuses [[TriangleQueries.triangleCounts]]
  * (degree-oriented wedges, Σ outdeg² ≤ m^{3/2}) plus one bounded
  * degree aggregate — wedge counts come from degrees, never from
  * materializing wedges. Peeling runs a FIXED round count (both
  * engines run the same R rounds, so outputs agree even on a
  * pathological chain that hasn't converged): each round is one
  * semi-join + one degree aggregate — the iterative-graph shape of
  * [[Dedup.assignClusters]], with per-round lazy checkpoints keeping
  * the plan flat.
  */
object GraphMetrics {

  private val CoreK = 2
  private val PeelRounds = 12

  /** Canonical undirected edge set (u < v, distinct). */
  private def canonical(edges0: DataFrame): DataFrame =
    edges0
      .select(
        least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v")
      )
      .filter(col("u") =!= col("v"))
      .distinct()

  /** One-row transitivity summary of an undirected edge list. */
  def transitivityOf(edges0: DataFrame): DataFrame = {
    // Checkpoint, not persist: the canonical edge set is read by three
    // branches of ONE returned plan, so the operator cannot release it
    // itself; the consumer's Lineage.releaseHeld() does, after the
    // action (persist entries would pin blocks in the CacheManager until
    // an explicit clearCache).
    val edges = Lineage.checkpoint(canonical(edges0)).df
    val deg = edges
      .select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("dg"))
    val tri = TriangleQueries
      .triangleCounts(edges.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .agg(coalesce(sum("n_tri"), lit(0L)).as("tri3"))
    val dsum = deg.agg(
      count(lit(1)).as("n_vertices"),
      sum(expr("dg * (dg - 1)")).as("wedges2")
    )
    val esum = edges.agg(count(lit(1)).as("n_edges"))
    dsum
      .withColumn("j", (col("n_vertices") - col("n_vertices") + 1).cast("int"))
      .join(
        broadcast(esum.select((col("n_edges") - col("n_edges") + 1).cast("int").as("j"), col("n_edges"))),
        Seq("j")
      )
      .join(
        broadcast(tri.select((col("tri3") - col("tri3") + 1).cast("int").as("j"), col("tri3"))),
        Seq("j")
      )
      .select(
        col("n_vertices"),
        col("n_edges"),
        expr("tri3 div 3").as("n_triangles"),
        expr("wedges2 div 2").as("n_wedges"),
        when(col("wedges2") > 0, expr("(tri3 * 10000) div (wedges2 div 2)")).as("transitivity_pm")
      )
  }

  /** Vertices surviving R peeling rounds at threshold k, with their
    * final within-core degree — plus convergence TELEMETRY: peeling is
    * monotone (degrees only shrink), so round r's degree table equals
    * round r−1's iff their (vertex count, degree sum) pair is equal;
    * `rounds_used` is the first such r (R if none) and `converged`
    * flags whether a fixpoint was reached within the budget. A graph
    * whose peeling cascade outruns R (a long chain) now SAYS so in the
    * output instead of silently reporting a superset core.
    *
    * The per-round summary is one (count, sum) aggregate over the
    * just-checkpointed degree table, itself checkpointed to one row —
    * so the big per-round tables can still be released as soon as the
    * next round materializes past them.
    */
  def kcoreOf(edges0: DataFrame, k: Int = CoreK, rounds: Int = PeelRounds): DataFrame = {
    val edges = Lineage.checkpoint(canonical(edges0)).df
    // One-row (vertex count, degree sum) summary, collected DRIVER-side
    // per round (the Bpe.train argmax-collect discipline): peeling is
    // monotone, so summary equality means the degree table is at its
    // fixpoint and every remaining round is a no-op — the loop STOPS
    // there, producing the identical output to the full budget (the
    // oracle unrolls all R rounds; post-fixpoint CTE rounds are
    // identities) while a converged graph pays only rounds_used + 1
    // passes instead of R.
    def summaryOf(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), coalesce(sum("dg"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var deg = edges
      .select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("dg"))
    var prevSummary = summaryOf(deg)
    var kept: Option[Checkpointed] = None
    var stable = -1
    var r = 1
    while (r <= rounds && stable < 0) {
      val alive = deg.filter(col("dg") >= k).select("id")
      val e2 = edges
        .join(alive.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("id").as("v")), Seq("v"), "left_semi")
      // LAZY checkpoint (round-14, guide §1.2 action batching): the
      // summary collect below is the round's single materializing
      // action — the old eager checkpoint ran a SEPARATE job per
      // round before the collect, i.e. 2 sequential job turnarounds per
      // peel round where 1 suffices (the assignClusters discipline).
      val next = Lineage.checkpoint(
        e2
          .select(col("u").as("id"))
          .unionByName(e2.select(col("v").as("id")))
          .groupBy("id")
          .agg(count(lit(1)).as("dg")),
        eager = false
      )
      val sm = summaryOf(next.df)
      if (sm == prevSummary) stable = r
      prevSummary = sm
      kept.foreach(_.release())
      kept = Some(next)
      deg = next.df
      r += 1
    }
    val roundsUsed = if (stable > 0) stable.toLong else rounds.toLong
    val converged = if (stable > 0) 1L else 0L
    deg
      .filter(col("dg") >= k)
      .select(col("id").as("doc_id"), col("dg").as("core_deg"))
      .withColumn("rounds_used", lit(roundsUsed))
      .withColumn("converged", lit(converged))
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in
    * networks"): the Pearson correlation of endpoint degrees across
    * edges. Near-dup graphs separate regimes cleanly — template farms
    * (hubs linking to hubs) are assortative, star-shaped boilerplate
    * (one canonical doc linked by many leaves) strongly DISassortative
    * — so this one number tells a dedup operator which cluster topology
    * dominates before they ever look at a sample.
    *
    * Scale shape: degrees come from one bounded aggregate; each edge is
    * tagged with its two endpoint degrees via two vertex-keyed
    * equi-joins; the correlation reduces to FOUR integer sums over
    * edges. Exact integers end-to-end (decimal(38,0) products), one
    * permyriad division at the end — over the symmetrized edge list,
    * r = (2m·Σ2jk − (Σ(j+k))²) / (2m·Σ(j²+k²) − (Σ(j+k))²).
    */
  def assortativityOf(edges0: DataFrame): DataFrame = {
    val edges = canonical(edges0)
    val deg = edges
      .select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("dg"))
    edges
      .join(deg.select(col("id").as("u"), col("dg").as("ju")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("dg").as("jv")), Seq("v"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(expr("cast(ju as decimal(38,0)) + jv")).as("sj"),
        sum(expr("2 * cast(ju as decimal(38,0)) * jv")).as("sjk2"),
        sum(expr("cast(ju as decimal(38,0)) * ju + cast(jv as decimal(38,0)) * jv")).as("sj2")
      )
      .select(
        col("n_edges"),
        col("sj").cast("long").as("sum_deg"),
        when(
          expr("2 * cast(n_edges as decimal(38,0)) * sj2 - sj * sj") > 0,
          expr(
            "cast(((2 * cast(n_edges as decimal(38,0)) * sjk2 - sj * sj) * 10000) div " +
              "(2 * cast(n_edges as decimal(38,0)) * sj2 - sj * sj) as bigint)"
          )
        ).as("assortativity_pm")
      )
  }

  /** Newman modularity of a vertex partition over an undirected edge
    * list (Newman & Girvan 2004): Q = Σ_c [e_c/m − (deg_c/2m)²] —
    * measured here with the STRICT near-dup clustering (Jaccard ≥ 0.8)
    * as the partition and the LOOSE verified graph (≥ 0.5) as the
    * edges, i.e. "how much of the 0.5-similarity structure does the
    * 0.8 clustering explain vs the degree-preserving null model". The
    * cluster-granularity diagnostic a dedup pipeline reads before
    * loosening its threshold: Q near 1 = the strict clusters already
    * close over the loose graph; low Q = mass cross-cluster similarity
    * the partition ignores.
    *
    * Scale shape: two label equi-joins on the edge endpoints (labels
    * are the certified clustering output), ONE degree aggregate, ONE
    * per-cluster aggregate — every key space is vertices/clusters,
    * never pairs. Exact integer output: with no cross-partition edge
    * counted twice (canonical u < v edges), Q = (4·m·intra −
    * Σ deg_c²) / (4m²); the permyriad rides decimal(38,0) products
    * (both engines truncate integer division toward zero — probed).
    */
  def modularityOf(edges0: DataFrame, labels: DataFrame): DataFrame = {
    val edges = Lineage.checkpoint(canonical(edges0)).df
    val lab = labels.select(col("doc_id"), col("cluster_id"))
    val tagged = edges
      .join(lab.select(col("doc_id").as("u"), col("cluster_id").as("cu")), Seq("u"))
      .join(lab.select(col("doc_id").as("v"), col("cluster_id").as("cv")), Seq("v"))
    val m = edges.agg(count(lit(1)).as("m"))
    val intra = tagged.agg(
      coalesce(sum(when(col("cu") === col("cv"), 1L).otherwise(0L)), lit(0L)).as("n_intra")
    )
    val degc = edges
      .select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .join(lab.select(col("doc_id").as("id"), col("cluster_id")), Seq("id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("dc"))
    val sums = degc.agg(
      coalesce(sum(expr("cast(dc as decimal(38,0)) * dc")), lit(0L).cast("decimal(38,0)"))
        .as("sum_deg_sq"),
      count(lit(1)).as("n_clusters")
    )
    m.withColumn("j", (col("m") - col("m") + 1).cast("int"))
      .join(
        broadcast(
          intra.select((col("n_intra") - col("n_intra") + 1).cast("int").as("j"), col("n_intra"))
        ),
        Seq("j")
      )
      .join(
        broadcast(
          sums.select(
            (col("n_clusters") - col("n_clusters") + 1).cast("int").as("j"),
            col("sum_deg_sq"),
            col("n_clusters")
          )
        ),
        Seq("j")
      )
      .select(
        col("m").as("n_edges"),
        col("n_intra"),
        col("n_clusters"),
        when(
          col("m") > 0,
          expr(
            "cast(((4 * cast(m as decimal(38,0)) * n_intra - sum_deg_sq) * 10000) div (4 * cast(m as decimal(38,0)) * m) as bigint)"
          )
        ).as("modularity_pm")
      )
  }

  /** The peeling oracle: R unrolled (alive, edges, degree) CTE rounds
    * over the shared near-dup graph CTEs.
    */
  private def kcoreOracle: String = {
    def round(r: Int): String =
      // MATERIALIZED is load-bearing: al$r is referenced twice and dg$r
      // feeds the next round — inlined CTEs would re-expand the whole
      // prior chain per reference (2^R blowup).
      s"""al$r AS MATERIALIZED (SELECT id FROM dg${r - 1} WHERE dg >= $CoreK),
         |ed$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM ce e
         |  SEMI JOIN al$r a1 ON a1.id = e.u
         |  SEMI JOIN al$r a2 ON a2.id = e.v),
         |dg$r AS MATERIALIZED (
         |  SELECT id, count(*) AS dg
         |  FROM (SELECT u AS id FROM ed$r UNION ALL SELECT v FROM ed$r) _d GROUP BY id)""".stripMargin
    def summary(r: Int): String =
      s"sm$r AS (SELECT $r AS r, count(*) AS n, coalesce(sum(dg), 0) AS s FROM dg$r)"
    s"""WITH ${TriangleQueries.neardupGraphCtesSql},
       |ce AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM vp WHERE u != v),
       |dg0 AS MATERIALIZED (
       |  SELECT id, count(*) AS dg
       |  FROM (SELECT u AS id FROM ce UNION ALL SELECT v FROM ce) _d GROUP BY id),
       |${(1 to PeelRounds).map(round).mkString(",\n")},
       |${(0 to PeelRounds).map(summary).mkString(",\n")},
       |smu AS (${(0 to PeelRounds).map(r => s"SELECT * FROM sm$r").mkString(" UNION ALL ")}),
       |tele AS (
       |  SELECT CAST(coalesce(min(b.r), $PeelRounds) AS BIGINT) AS rounds_used,
       |    CAST(CASE WHEN min(b.r) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS converged
       |  FROM smu a JOIN smu b ON b.r = a.r + 1 AND a.n = b.n AND a.s = b.s)
       |SELECT id AS doc_id, CAST(dg AS BIGINT) AS core_deg, rounds_used, converged
       |FROM dg$PeelRounds, tele WHERE dg >= $CoreK""".stripMargin
  }

  private val transitivityQ = Q(
    "graph_transitivity",
    (s, d) =>
      transitivityOf(
        LlmQueries8.verifiedNeardupEdges(TriangleQueries.triCorpus(s, d), 0.5)
      ),
    Some {
      s"""WITH ${TriangleQueries.neardupGraphCtesSql},
         |ce AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM vp WHERE u != v),
         |dg AS (
         |  SELECT id, count(*) AS dg
         |  FROM (SELECT u AS id FROM ce UNION ALL SELECT v FROM ce) _d GROUP BY id),
         |t3 AS (
         |  SELECT CAST(3 * count(*) AS BIGINT) AS tri3 FROM tri),
         |ds AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         |    CAST(sum(dg * (dg - 1)) AS BIGINT) AS wedges2
         |  FROM dg),
         |es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ce)
         |SELECT n_vertices, n_edges,
         |  tri3 // 3 AS n_triangles,
         |  wedges2 // 2 AS n_wedges,
         |  CASE WHEN wedges2 > 0 THEN (tri3 * 10000) // (wedges2 // 2) END AS transitivity_pm
         |FROM ds, es, t3""".stripMargin
    }
  )

  private val modularityQ = Q(
    "graph_modularity",
    (s, d) =>
      modularityOf(
        LlmQueries8.verifiedNeardupEdges(TriangleQueries.triCorpus(s, d), 0.5),
        LlmQueries8
          .neardupClusters(TriangleQueries.triCorpus(s, d), 0.8)
          .select(col("doc_id"), col("cluster_id"))
      ),
    Some {
      val jac8 =
        """cast(len(list_intersect(a.wset, b.wset)) as double) /
          |        len(list_distinct(list_concat(a.wset, b.wset)))""".stripMargin
      // Labels: the certified 0.8-clustering as a recursive closure over
      // the uncapped verified pairs (component-equal to the capped+star
      // kernel — the docs_neardup_clusters equivalence); edges: the
      // capped 0.5 graph the other graph metrics measure.
      s"""WITH RECURSIVE ${TriangleQueries.neardupGraphCtesSql},
         |ce AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM vp WHERE u != v),
         |vp8 AS (
         |  SELECT p.doc_a, p.doc_b FROM pairs p
         |  JOIN wsets a ON p.doc_a = a.doc_id
         |  JOIN wsets b ON p.doc_b = b.doc_id
         |  WHERE $jac8 >= 0.8),
         |sym AS (SELECT doc_a AS id, doc_b AS peer FROM vp8
         |        UNION ALL SELECT doc_b, doc_a FROM vp8),
         |reach AS (
         |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM sym)
         |  UNION
         |  SELECT reach.id, sym.peer FROM reach JOIN sym ON sym.id = reach.r
         |),
         |clab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |lab AS MATERIALIZED (
         |  SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS cluster_id
         |  FROM corpus c LEFT JOIN clab l ON c.doc_id = l.id),
         |mm AS (SELECT count(*) AS m FROM ce),
         |intra AS (
         |  SELECT coalesce(sum(CASE WHEN lu.cluster_id = lv.cluster_id THEN 1 ELSE 0 END), 0) AS n_intra
         |  FROM ce JOIN lab lu ON lu.doc_id = ce.u JOIN lab lv ON lv.doc_id = ce.v),
         |degc AS (
         |  SELECT lab.cluster_id, count(*) AS dc
         |  FROM (SELECT u AS id FROM ce UNION ALL SELECT v FROM ce) e
         |  JOIN lab ON lab.doc_id = e.id GROUP BY 1),
         |sums AS (
         |  SELECT coalesce(sum(CAST(dc AS HUGEINT) * dc), 0) AS sum_deg_sq,
         |    count(*) AS n_clusters
         |  FROM degc)
         |SELECT CAST(m AS BIGINT) AS n_edges, CAST(n_intra AS BIGINT) AS n_intra,
         |  CAST(n_clusters AS BIGINT) AS n_clusters,
         |  CAST(CASE WHEN m > 0
         |    THEN ((4 * CAST(m AS HUGEINT) * n_intra - sum_deg_sq) * 10000) // (4 * CAST(m AS HUGEINT) * m)
         |  END AS BIGINT) AS modularity_pm
         |FROM mm, intra, sums""".stripMargin
    }
  )

  private val kcoreQ = Q(
    "graph_kcore",
    (s, d) =>
      kcoreOf(LlmQueries8.verifiedNeardupEdges(TriangleQueries.triCorpus(s, d), 0.5)),
    Some(kcoreOracle),
    bench2 = true
  )

  private val assortativityQ = Q(
    "graph_assortativity",
    (s, d) =>
      assortativityOf(
        LlmQueries8.verifiedNeardupEdges(TriangleQueries.triCorpus(s, d), 0.5)
      ),
    Some {
      s"""WITH ${TriangleQueries.neardupGraphCtesSql},
         |ce AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM vp WHERE u != v),
         |dg AS (
         |  SELECT id, count(*) AS dg
         |  FROM (SELECT u AS id FROM ce UNION ALL SELECT v FROM ce) _d GROUP BY id),
         |sums AS (
         |  SELECT count(*) AS m,
         |    sum(CAST(du.dg AS HUGEINT) + dv.dg) AS sj,
         |    sum(2 * CAST(du.dg AS HUGEINT) * dv.dg) AS sjk2,
         |    sum(CAST(du.dg AS HUGEINT) * du.dg + CAST(dv.dg AS HUGEINT) * dv.dg) AS sj2
         |  FROM ce JOIN dg du ON du.id = ce.u JOIN dg dv ON dv.id = ce.v)
         |SELECT CAST(m AS BIGINT) AS n_edges, CAST(sj AS BIGINT) AS sum_deg,
         |  CAST(CASE WHEN 2 * CAST(m AS HUGEINT) * sj2 - sj * sj > 0
         |    THEN ((2 * CAST(m AS HUGEINT) * sjk2 - sj * sj) * 10000) //
         |         (2 * CAST(m AS HUGEINT) * sj2 - sj * sj)
         |  END AS BIGINT) AS assortativity_pm
         |FROM sums""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(transitivityQ, kcoreQ, modularityQ, assortativityQ)
}
