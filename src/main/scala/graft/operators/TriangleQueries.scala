package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Triangle counting over the verified near-duplicate graph — the
  * clique-vs-chain diagnostic for a dedup run: template families
  * (every member pairwise-similar) are triangle-dense, while revision
  * chains (only adjacent members similar — the regime that motivated
  * the star-contraction component kernel) are triangle-free. The
  * per-document triangle count therefore tells a curation pipeline
  * WHICH duplicate structure it is looking at before it picks a
  * canonical-selection strategy, and is the classic local clustering
  * signal (Watts & Strogatz 1998).
  *
  * Scale shape (Schank & Wagner 2005 / Suri & Vassilvitskii 2011
  * degree-ordered orientation, the MapReduce-standard bound): every
  * edge is oriented from its lower-(degree, id) endpoint to the
  * higher, so each node's OUT-degree is O(√m) and the wedge self-join
  * on `src` generates at most Σ outdeg² ≤ m^{3/2} candidate wedges —
  * independent of maximum degree, the whole point: a mega-hub (one
  * boilerplate doc near-similar to millions) contributes wedges only
  * through its bounded out-neighborhood, never its full adjacency.
  * Three equi-joins, one bounded union-aggregate; no windows, nothing
  * driver-side. Edges come from [[LlmQueries8.verifiedNeardupEdges]],
  * so the LSH banding, heavy-bucket cap, and Jaccard verification are
  * the shared, already-certified derivation.
  */
object TriangleQueries {

  /** Per-vertex triangle counts over an undirected edge list
    * (doc_a, doc_b); each triangle credits all three corners once.
    */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    // Eager checkpoints, not lazy persists (round-14; the assignClusters
    // r13 lesson applied to the last known instance of the class): every
    // multi-consumer frame here feeds INDEPENDENT shuffle stages that
    // AQE materializes concurrently — `edges` the degree aggregate AND
    // the orientation join side, `oriented` THREE wedge/closing join
    // sides, `tris` three union branches — and a cold lazy cache made
    // each consumer replay the whole verified-near-dup-edge derivation
    // (profiled at sf0.1 local[32]: 33.7 s summed task time for a
    // 3.7 s-wall query; the three fat stages were 64/64/96 tasks = the
    // 2×/2×/3× concurrent replays). Blocks are released by the consumer
    // via Lineage.releaseHeld (Bench/Verify per query).
    // Canonicalize defensively: (least, greatest) + distinct makes the
    // count correct even for callers that emit both directions.
    val edges = graft.Lineage.checkpoint(
      edges0
        .select(
          least(col("doc_a"), col("doc_b")).as("u"),
          greatest(col("doc_a"), col("doc_b")).as("v")
        )
        .filter(col("u") =!= col("v"))
        .distinct()
    ).df
    val deg = edges
      .select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("dg"))
    val withDeg = edges
      .join(deg.select(col("id").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("dg").as("dv")), Seq("v"))
    val uFirst =
      col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = graft.Lineage.checkpoint(
      withDeg
        .select(
          when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          // the dst endpoint's degree, carried so wedge ordering and the
          // closing edge's orientation agree without another join
          when(uFirst, col("dv")).otherwise(col("du")).as("ddg")
        )
    ).df
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("ddg").as("bdg"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("ddg").as("cdg"))
    val wedges = e1
      .join(e2, Seq("src"))
      .filter(
        col("bdg") < col("cdg") || (col("bdg") === col("cdg") && col("b") < col("c"))
      )
      .select(col("src").as("a"), col("b"), col("c"))
    // (bdg, b) < (cdg, c) in the orientation order, so the b—c edge, if
    // present, is oriented exactly b → c: one equi-join closes wedges.
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val tris = graft.Lineage.checkpoint(wedges.join(closing, Seq("b", "c"))).df
    tris
      .select(col("a").as("doc_id"))
      .unionByName(tris.select(col("b").as("doc_id")))
      .unionByName(tris.select(col("c").as("doc_id")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Triangle fixture: the dedup corpus variant where sampled documents
    * get TWO similar companions (one verbatim, one tail-appended), so
    * each family is a genuine 3-clique — the corpus the chain-shaped
    * docs_neardup_components fixture deliberately avoids.
    */
  private[operators] def triCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val exact = docs
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val near = docs
      .filter(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" extra tail words appended here")).as("text")
      )
    docs.union(exact).union(near)
  }

  private val TriCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 300000, text || ' extra tail words appended here' FROM documents WHERE doc_id % 10 = 0
      |)""".stripMargin

  /** Oracle CTE chain for the verified near-dup graph over the triangle
    * fixture, ending at `vp(u, v)` (verified edges), `deg(id, dg)`, `o`
    * (degree-oriented edges), and `tri(a, b, c)` — shared by
    * graph_triangles and [[GraphMetrics]]. The candidate CTE mirrors
    * verifiedNeardupEdges EXACTLY — incl. the heavy-bucket cap and its
    * star edges (rep = bucket min id) — rather than riding SigSql's
    * uncapped `pairs`: star edges change triangle counts (a hub has no
    * within-bucket pairwise edges), so an uncapped oracle would diverge
    * silently the day a band bucket of this fixture exceeds the cap.
    */
  private[operators] def neardupGraphCtesSql: String = {
    val jac =
      """cast(len(list_intersect(a.wset, b.wset)) as double) /
        |        len(list_distinct(list_concat(a.wset, b.wset)))""".stripMargin
    val ord = "(e1.ddg < e2.ddg OR (e1.ddg = e2.ddg AND e1.dst < e2.dst))"
    s"""$TriCorpusSql, ${LlmQueries.SigSql},
       |wsets AS (SELECT doc_id, list_distinct(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS wset FROM corpus),
       |heavyb AS (
       |  SELECT band_id, band_hash, min(doc_id) AS rep FROM bh
       |  GROUP BY 1, 2 HAVING count(*) > ${LlmQueries.MaxBucketSize}),
       |lightb AS (SELECT bh.* FROM bh ANTI JOIN heavyb USING (band_id, band_hash)),
       |cpairs AS (
       |  SELECT b1.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM lightb b1 JOIN lightb b2
       |    ON b1.band_id = b2.band_id AND b1.band_hash = b2.band_hash
       |   AND b1.doc_id < b2.doc_id
       |  UNION
       |  SELECT h.rep, b.doc_id
       |  FROM bh b JOIN heavyb h
       |    ON b.band_id = h.band_id AND b.band_hash = h.band_hash
       |  WHERE b.doc_id != h.rep),
       |vp AS (
       |  SELECT p.doc_a AS u, p.doc_b AS v FROM cpairs p
       |  JOIN wsets a ON p.doc_a = a.doc_id
       |  JOIN wsets b ON p.doc_b = b.doc_id
       |  WHERE $jac >= 0.5
       |),
       |deg AS (SELECT id, count(*) AS dg
       |        FROM (SELECT u AS id FROM vp UNION ALL SELECT v FROM vp) GROUP BY id),
       |o AS (
       |  SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v) THEN e.u ELSE e.v END AS src,
       |         CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v) THEN e.v ELSE e.u END AS dst,
       |         CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v) THEN dv.dg ELSE du.dg END AS ddg
       |  FROM vp e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND $ord
       |  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst)""".stripMargin
  }

  private val trianglesQ = Q(
    "graph_triangles",
    (s, d) =>
      triangleCounts(LlmQueries8.verifiedNeardupEdges(triCorpus(s, d), 0.5)),
    Some {
      s"""WITH $neardupGraphCtesSql
         |SELECT id AS doc_id, count(*) AS n_tri
         |FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |GROUP BY id""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(trianglesQ)
}
