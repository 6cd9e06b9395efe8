package graft.operators

import graft.Q
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** MinHash estimator calibration (Broder 1997 Thm 1: P[minhash
  * agreement] = Jaccard) — the measurement that justifies every
  * signature-based dedup decision the registry makes: bucket the LSH
  * candidate pairs by how many of the k=12 signature positions agree
  * and report the MEAN TRUE Jaccard per bucket next to the estimator's
  * expectation (agree/k). A healthy pipeline shows the two tracking;
  * drift (e.g. after changing the shingle width or hash mix) is the
  * first sign the near-dup thresholds no longer mean what they did.
  *
  * Scale shape: rides the ALREADY-capped LSH candidate pairs (the
  * production edge set — never all-pairs); signatures and word sets
  * join on doc_id (fact-to-fact equi-joins on the pair's two sides);
  * the report is a ≤ k+1-key aggregate. Everything is exact integers:
  * agreement counts, and true Jaccard as integer permyriad
  * (|∩|·10⁴ div |∪|), so bucket means are ratios of int64 sums.
  */
object CalibrationQueries {

  private val K = 12

  private val calibrationQ = Q(
    "dedup_minhash_calibration",
    (s, d) => {
      val corpus = LlmQueries.corpus(s, d)
      val sigs = corpus.select(
        col("doc_id"),
        TextFunctions.minhashSignature(col("text")).as("sig")
      )
      val wsets = corpus.select(
        col("doc_id"),
        array_distinct(TextFunctions.words(col("text"))).as("wset")
      )
      val pairs = LlmQueries.minhashPairsOf(corpus)
      val agree = aggregate(
        sequence(lit(1), lit(K)),
        lit(0L),
        (acc, k) =>
          acc + when(
            element_at(col("sa"), k.cast("int")) === element_at(col("sb"), k.cast("int")),
            1L
          ).otherwise(0L)
      )
      pairs
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), Seq("doc_b"))
        .join(wsets.select(col("doc_id").as("doc_a"), col("wset").as("wa")), Seq("doc_a"))
        .join(wsets.select(col("doc_id").as("doc_b"), col("wset").as("wb")), Seq("doc_b"))
        .select(
          agree.as("m_agree"),
          size(array_intersect(col("wa"), col("wb"))).cast("long").as("ni"),
          size(array_distinct(concat(col("wa"), col("wb")))).cast("long").as("nu")
        )
        // `div`, not `/`: long / long is a DOUBLE division in the
        // Column API; the oracle's `//` is integral.
        .select(col("m_agree"), expr("(ni * 10000) div nu").as("true_pm"))
        .groupBy("m_agree")
        .agg(count(lit(1)).as("n_pairs"), sum("true_pm").as("tsum"))
        .select(
          col("m_agree"),
          col("n_pairs"),
          expr(s"(m_agree * 10000) div $K").as("expected_pm"),
          expr("tsum div n_pairs").as("mean_true_pm")
        )
    },
    Some {
      import LlmQueries.{normSql, CorpusSql, SigSql}
      s"""WITH $CorpusSql, $SigSql,
         |wsets AS (SELECT doc_id, list_distinct(string_split(${normSql("text")}, ' ')) AS wset FROM corpus),
         |pr AS (
         |  SELECT
         |    len(list_filter(range(1, ${K + 1}), k -> s1.sig[k] = s2.sig[k])) AS m_agree,
         |    (len(list_intersect(a.wset, b.wset)) * 10000) //
         |      len(list_distinct(list_concat(a.wset, b.wset))) AS true_pm
         |  FROM pairs p
         |  JOIN sg s1 ON s1.doc_id = p.doc_a
         |  JOIN sg s2 ON s2.doc_id = p.doc_b
         |  JOIN wsets a ON a.doc_id = p.doc_a
         |  JOIN wsets b ON b.doc_id = p.doc_b)
         |SELECT CAST(m_agree AS BIGINT) AS m_agree,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST((m_agree * 10000) // $K AS BIGINT) AS expected_pm,
         |  CAST(sum(true_pm) // count(*) AS BIGINT) AS mean_true_pm
         |FROM pr GROUP BY m_agree""".stripMargin
    }
  )

  /** IVF cell-balance diagnostic — the index-health check every IVF
    * deployment monitors: per-cell population, share, and lift vs the
    * uniform 1/cells (10000 = balanced). A skewed quantizer silently
    * turns "probe 2 of 8 cells" into "probe half the corpus"; this row
    * quantifies exactly that before queries pay for it. ONE
    * ≤cells-key aggregate over the cell assignment.
    */
  private val ivfBalanceQ = Q(
    "ann_ivf_balance",
    (s, d) => {
      val cells = graft.Tables
        .embeddings(s, d)
        .select(LlmQueries2.ivfCell(col("embedding"), 8).as("cell"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"))
      val tot = cells.agg(sum("n_vecs").as("nt"))
      cells
        .withColumn("j", (col("n_vecs") - col("n_vecs") + 1).cast("int"))
        .join(
          broadcast(tot.select((col("nt") - col("nt") + 1).cast("int").as("j"), col("nt"))),
          Seq("j")
        )
        .select(
          col("cell").cast("long").as("cell"),
          col("n_vecs"),
          expr("(n_vecs * 10000) div nt").as("share_pm"),
          expr("(n_vecs * 8 * 10000) div nt").as("lift_pm")
        )
    },
    Some {
      s"""WITH ${LlmQueries2.IvfCellCteSql},
         |c AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM b GROUP BY 1),
         |t2 AS (SELECT sum(n_vecs) AS nt FROM c)
         |SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
         |  CAST((n_vecs * 10000) // t2.nt AS BIGINT) AS share_pm,
         |  CAST((n_vecs * 8 * 10000) // t2.nt AS BIGINT) AS lift_pm
         |FROM c, t2""".stripMargin
    }
  )

  /** Near-dup cluster quality report — the post-clustering audit a
    * dedup run ships with its cluster assignments: per multi-member
    * cluster, the member count, verified-edge count, edge DENSITY
    * (2E/(n(n−1)) permyriad — 10000 = clique/template family, low =
    * chain/revision history; the same clique-vs-chain axis as
    * graph_transitivity but per cluster), and mean verified Jaccard.
    *
    * Scale shape: rides the already-capped verified edge set and the
    * certified cluster labels; per-edge Jaccard is the
    * docs_jaccard_pairs fact-to-dimension join; the report is one
    * cluster-keyed aggregate. (Like docs_neardup_clusters' oracle, the
    * heavy-bucket star edges never fire on this fixture — documented
    * there.)
    */
  private val clusterQualityQ = Q(
    "dedup_cluster_quality",
    (s, d) => {
      val corpus = LlmQueries.corpus(s, d)
      val clusters = LlmQueries8
        .neardupClusters(corpus, 0.8)
        .select(col("doc_id"), col("cluster_id"))
      val wsets = corpus.select(
        col("doc_id"),
        array_distinct(TextFunctions.words(col("text"))).as("wset")
      )
      val edges = LlmQueries8
        .verifiedNeardupEdges(corpus, 0.8)
        .join(wsets.select(col("doc_id").as("doc_a"), col("wset").as("wa")), Seq("doc_a"))
        .join(wsets.select(col("doc_id").as("doc_b"), col("wset").as("wb")), Seq("doc_b"))
        .select(
          col("doc_a"),
          size(array_intersect(col("wa"), col("wb"))).cast("long").as("ni"),
          size(array_distinct(concat(col("wa"), col("wb")))).cast("long").as("nu")
        )
        .select(col("doc_a"), expr("(ni * 10000) div nu").as("jac_pm"))
        .join(clusters.select(col("doc_id").as("doc_a"), col("cluster_id")), Seq("doc_a"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_edges"), sum("jac_pm").as("jsum"))
      val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
      sizes
        .filter(col("n_docs") >= 2)
        .join(edges, Seq("cluster_id"), "left")
        .select(
          col("cluster_id"),
          col("n_docs"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          expr("(coalesce(n_edges, 0L) * 2 * 10000) div (n_docs * (n_docs - 1))").as("density_pm"),
          when(col("n_edges") > 0, expr("jsum div n_edges")).as("mean_jac_pm")
        )
    },
    Some {
      import LlmQueries.{normSql, CorpusSql, SigSql}
      val jac =
        """cast(len(list_intersect(a.wset, b.wset)) as double) /
          |        len(list_distinct(list_concat(a.wset, b.wset)))""".stripMargin
      s"""WITH RECURSIVE $CorpusSql, $SigSql,
         |wsets AS (SELECT doc_id, list_distinct(string_split(${normSql("text")}, ' ')) AS wset FROM corpus),
         |vpairs AS (
         |  SELECT p.doc_a, p.doc_b,
         |    (len(list_intersect(a.wset, b.wset)) * 10000) //
         |      len(list_distinct(list_concat(a.wset, b.wset))) AS jac_pm
         |  FROM pairs p
         |  JOIN wsets a ON p.doc_a = a.doc_id
         |  JOIN wsets b ON p.doc_b = b.doc_id
         |  WHERE $jac >= 0.8
         |),
         |sym AS (SELECT doc_a AS id, doc_b AS peer FROM vpairs
         |        UNION ALL SELECT doc_b, doc_a FROM vpairs),
         |reach AS (
         |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM sym)
         |  UNION
         |  SELECT reach.id, sym.peer FROM reach JOIN sym ON sym.id = reach.r
         |),
         |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
         |          FROM labels GROUP BY 1 HAVING count(*) >= 2),
         |ec AS (
         |  SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
         |    CAST(sum(v.jac_pm) AS BIGINT) AS jsum
         |  FROM vpairs v JOIN labels l ON l.id = v.doc_a
         |  GROUP BY 1)
         |SELECT s.cluster_id, s.n_docs,
         |  coalesce(ec.n_edges, 0) AS n_edges,
         |  (coalesce(ec.n_edges, 0) * 2 * 10000) // (s.n_docs * (s.n_docs - 1)) AS density_pm,
         |  CASE WHEN ec.n_edges > 0 THEN ec.jsum // ec.n_edges END AS mean_jac_pm
         |FROM sizes s LEFT JOIN ec ON ec.cluster_id = s.cluster_id""".stripMargin
    }
  )

  /** Empirical LSH recall curve — the measured counterpart of the
    * banding S-curve P(candidate | J) = 1 − (1 − Jʳ)ᵇ: ground truth =
    * the EXACT prefix-filter all-pairs join at θ = 4/5 over SHINGLE
    * sets ([[AllPairsJoin.allPairsOfSets]] — the banding's OWN metric;
    * word sets would conflate metrics: on a small-vocabulary corpus
    * every pair is word-set-similar while only true near-copies are
    * shingle-similar), probe = the capped MinHash-LSH candidate set;
    * per true-Jaccard bucket, the fraction of exact pairs the banding
    * admitted. This is the number that justifies (or indicts) the
    * production (bands, rows) choice — theory says ≥ 1−(1−0.8³)⁴ ≈
    * 94% capture at the θ = 0.8 knee rising to ~100% at J = 1, and
    * this row certifies it on data every round.
    *
    * Runs over the same deterministic 1-in-4 subsample as
    * `docs_allpairs_join` (exact output is pair-quadratic in clone
    * families; the sample keeps families intact — companions share
    * the base id mod 4).
    */
  private val lshRecallQ = Q(
    "dedup_lsh_recall_curve",
    (s, d) => {
      val sub = LlmQueries.corpus(s, d).filter(col("doc_id") % 4 === 1)
      val exact = AllPairsJoin
        .allPairsOfSets(
          sub.select(
            col("doc_id"),
            array_distinct(TextFunctions.shingles(col("text"))).as("ws")
          )
        )
        .select("doc_a", "doc_b", "jac_pm")
      val lsh = LlmQueries
        .minhashPairsOf(sub)
        .withColumn("cand", lit(1L))
      exact
        .join(lsh, Seq("doc_a", "doc_b"), "left")
        .select(expr("jac_pm div 25").as("bucket"), coalesce(col("cand"), lit(0L)).as("cand"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"), sum("cand").as("n_captured"))
        .select(
          col("bucket"),
          col("n_pairs"),
          col("n_captured"),
          expr("(n_captured * 10000) div n_pairs").as("recall_pm")
        )
    },
    Some {
      import LlmQueries.{normSql, CorpusSql, SigSql}
      val Num = 4
      val Den = 5
      // SigSql reads a CTE named `corpus`; rebind it to the subsample.
      val corpusSub = CorpusSql.replaceFirst("corpus AS", "corpus_all AS") +
        ",\ncorpus AS (SELECT doc_id, text FROM corpus_all WHERE doc_id % 4 = 1)"
      s"""WITH $corpusSub, $SigSql,
         |wsets AS (SELECT doc_id, list_distinct(shingles) AS ws FROM sh),
         |toks AS (SELECT doc_id, unnest(ws) AS token FROM wsets),
         |tf AS (SELECT token, count(*) AS f FROM toks GROUP BY token),
         |ranked AS (
         |  SELECT t.doc_id, t.token,
         |    row_number() OVER (PARTITION BY t.doc_id ORDER BY tf.f, t.token) AS pos,
         |    count(*) OVER (PARTITION BY t.doc_id) AS len
         |  FROM toks t JOIN tf ON t.token = tf.token),
         |posts AS (
         |  SELECT doc_id, token, len FROM ranked
         |  WHERE pos <= len - (($Num * len + $Num) // $Den) + 1),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM posts a JOIN posts b ON a.token = b.token AND a.doc_id < b.doc_id
         |  WHERE b.len * $Den >= a.len * $Num AND a.len * $Den >= b.len * $Num),
         |exact AS (
         |  SELECT c.doc_a, c.doc_b,
         |    (1000 * len(list_intersect(wa.ws, wb.ws))) // len(list_distinct(list_concat(wa.ws, wb.ws))) AS jac_pm
         |  FROM cands c
         |  JOIN wsets wa ON c.doc_a = wa.doc_id
         |  JOIN wsets wb ON c.doc_b = wb.doc_id
         |  WHERE len(list_intersect(wa.ws, wb.ws)) * $Den >= len(list_distinct(list_concat(wa.ws, wb.ws))) * $Num)
         |SELECT jac_pm // 25 AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_captured,
         |  CAST((sum(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS recall_pm
         |FROM exact e
         |LEFT JOIN pairs p ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
         |GROUP BY 1""".stripMargin
    }
  )

  /** One-row precision/recall/F1 of LSH candidate generation against
    * the exact shingle-Jaccard join at θ = 4/5 — the summary the
    * recall CURVE buckets expand: recall = true pairs the banding
    * admitted; precision = candidates that are truly ≥ θ (the verify
    * stage's workload — low precision is wasted verification compute,
    * low recall is silent dedup loss). Same subsample and ground truth
    * as `dedup_lsh_recall_curve`; F1 in exact integer permyriad
    * (2·hit·10⁴ div (true + cand)).
    */
  private val lshPrQ = Q(
    "dedup_lsh_pr_summary",
    (s, d) => {
      val sub = LlmQueries.corpus(s, d).filter(col("doc_id") % 4 === 1)
      val exact = AllPairsJoin
        .allPairsOfSets(
          sub.select(
            col("doc_id"),
            array_distinct(TextFunctions.shingles(col("text"))).as("ws")
          )
        )
        // No persist: the exact-pair frame feeds exactly ONE consumer
        // (the full-outer join below), so caching it would only pin
        // blocks past the query with no reuse to pay for them.
        .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      val cand = LlmQueries.minhashPairsOf(sub).withColumn("c", lit(1L))
      val j = exact.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      j.agg(
          sum(coalesce(col("t"), lit(0L))).as("n_true"),
          sum(coalesce(col("c"), lit(0L))).as("n_cand"),
          sum(coalesce(col("t"), lit(0L)) * coalesce(col("c"), lit(0L))).as("n_hit")
        )
        .select(
          col("n_true"),
          col("n_cand"),
          col("n_hit"),
          expr("(n_hit * 10000) div n_cand").as("precision_pm"),
          expr("(n_hit * 10000) div n_true").as("recall_pm"),
          expr("(2 * n_hit * 10000) div (n_true + n_cand)").as("f1_pm")
        )
    },
    Some {
      import LlmQueries.{CorpusSql, SigSql}
      val Num = 4
      val Den = 5
      val corpusSub = CorpusSql.replaceFirst("corpus AS", "corpus_all AS") +
        ",\ncorpus AS (SELECT doc_id, text FROM corpus_all WHERE doc_id % 4 = 1)"
      s"""WITH $corpusSub, $SigSql,
         |wsets AS (SELECT doc_id, list_distinct(shingles) AS ws FROM sh),
         |toks AS (SELECT doc_id, unnest(ws) AS token FROM wsets),
         |tf AS (SELECT token, count(*) AS f FROM toks GROUP BY token),
         |ranked AS (
         |  SELECT t.doc_id, t.token,
         |    row_number() OVER (PARTITION BY t.doc_id ORDER BY tf.f, t.token) AS pos,
         |    count(*) OVER (PARTITION BY t.doc_id) AS len
         |  FROM toks t JOIN tf ON t.token = tf.token),
         |posts AS (
         |  SELECT doc_id, token, len FROM ranked
         |  WHERE pos <= len - (($Num * len + $Num) // $Den) + 1),
         |cands0 AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM posts a JOIN posts b ON a.token = b.token AND a.doc_id < b.doc_id
         |  WHERE b.len * $Den >= a.len * $Num AND a.len * $Den >= b.len * $Num),
         |exact AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cands0 c
         |  JOIN wsets wa ON c.doc_a = wa.doc_id
         |  JOIN wsets wb ON c.doc_b = wb.doc_id
         |  WHERE len(list_intersect(wa.ws, wb.ws)) * $Den >= len(list_distinct(list_concat(wa.ws, wb.ws))) * $Num),
         |m AS (
         |  SELECT
         |    CAST(count(*) FILTER (t.doc_a IS NOT NULL) AS BIGINT) AS n_true,
         |    CAST(count(*) FILTER (p.doc_a IS NOT NULL) AS BIGINT) AS n_cand,
         |    CAST(count(*) FILTER (t.doc_a IS NOT NULL AND p.doc_a IS NOT NULL) AS BIGINT) AS n_hit
         |  FROM exact t
         |  FULL OUTER JOIN pairs p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b)
         |SELECT n_true, n_cand, n_hit,
         |  (n_hit * 10000) // n_cand AS precision_pm,
         |  (n_hit * 10000) // n_true AS recall_pm,
         |  (2 * n_hit * 10000) // (n_true + n_cand) AS f1_pm
         |FROM m""".stripMargin
    }
  )

  /** The (bands, rows) grid sharing the K = 12 signature budget. */
  private val PlanGrid = Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12))

  /** Detection probability 1 − (1 − s^r)^b with the powers UNROLLED as
    * multiplication chains — no libm pow crosses the engine boundary;
    * a left-associated IEEE multiply chain is bit-identical everywhere.
    * Quantized by FLOOR, not round: dyadic similarities (s = 1/2, 7/8…)
    * land micro-values EXACTLY on .5 ties, where the engines' tie
    * policies differ — floor has no tie.
    */
  private def detectExpr(b: Int, r: Int): String = {
    // scientific-notation literals only: DuckDB types 1000.0 as DECIMAL
    // (decimal division ≠ IEEE), while 1e3/1e0 are DOUBLE in both
    // engines.
    val s = "(jac_pm / 1e3)"
    val sr = Seq.fill(r)(s).mkString("(", " * ", ")")
    val q = s"(1e0 - $sr)"
    val qb = Seq.fill(b)(q).mkString("(", " * ", ")")
    s"cast(floor(1e6 * (1e0 - $qb)) as bigint)"
  }

  /** Data-driven banding PLANNER: for every (bands, rows) split of the
    * 12-hash MinHash budget, the expected recall over the corpus's OWN
    * measured duplicate-similarity distribution — Σ_pairs
    * [1 − (1 − s^r)^b] with s each true pair's exact shingle Jaccard.
    * The operational question the recall CURVE (which measures one
    * deployed config) cannot answer: what would the OTHER configs have
    * captured, without paying for a run of each. At 100 TB re-running
    * LSH per candidate config is a day of cluster time; this planner
    * is one aggregate over the already-certified ground-truth pairs.
    *
    * Determinism: per-pair detection probabilities quantize to integer
    * micro-units before the sum (order-independent), and the powers are
    * unrolled multiply chains — the only division is the final integer
    * mean. Scale shape: the exact-pair frame is the certified
    * prefix-filter join (output-bounded); the grid adds 6 aggregates
    * over one checkpointed frame.
    */
  private val lshPlanQ = Q(
    "dedup_lsh_plan",
    (s, d) => {
      val sub = LlmQueries.corpus(s, d).filter(col("doc_id") % 4 === 1)
      val exact = graft.Lineage.checkpoint(
        AllPairsJoin
          .allPairsOfSets(
            sub.select(
              col("doc_id"),
              array_distinct(TextFunctions.shingles(col("text"))).as("ws")
            )
          )
          .select("jac_pm")
      ).df
      PlanGrid
        .map { case (b, r) =>
          exact
            .agg(
              count(lit(1)).as("n_true_pairs"),
              sum(expr(detectExpr(b, r))).as("exp_capture_mu")
            )
            .select(
              lit(b.toLong).as("bands"),
              lit(r.toLong).as("rows_per_band"),
              col("n_true_pairs"),
              col("exp_capture_mu"),
              expr("exp_capture_mu div n_true_pairs").as("exp_recall_mu")
            )
        }
        .reduce(_.unionByName(_))
    },
    Some {
      import LlmQueries.{CorpusSql, SigSql}
      val Num = 4
      val Den = 5
      val corpusSub = CorpusSql.replaceFirst("corpus AS", "corpus_all AS") +
        ",\ncorpus AS (SELECT doc_id, text FROM corpus_all WHERE doc_id % 4 = 1)"
      val arms = PlanGrid
        .map { case (b, r) =>
          s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
             |  CAST(count(*) AS BIGINT) AS n_true_pairs,
             |  CAST(sum(${detectExpr(b, r)}) AS BIGINT) AS exp_capture_mu,
             |  CAST(sum(${detectExpr(b, r)}) // count(*) AS BIGINT) AS exp_recall_mu
             |FROM exact""".stripMargin
        }
        .mkString("\nUNION ALL\n")
      s"""WITH $corpusSub, $SigSql,
         |wsets AS (SELECT doc_id, list_distinct(shingles) AS ws FROM sh),
         |toks AS (SELECT doc_id, unnest(ws) AS token FROM wsets),
         |tf AS (SELECT token, count(*) AS f FROM toks GROUP BY token),
         |ranked AS (
         |  SELECT t.doc_id, t.token,
         |    row_number() OVER (PARTITION BY t.doc_id ORDER BY tf.f, t.token) AS pos,
         |    count(*) OVER (PARTITION BY t.doc_id) AS len
         |  FROM toks t JOIN tf ON t.token = tf.token),
         |posts AS (
         |  SELECT doc_id, token, len FROM ranked
         |  WHERE pos <= len - (($Num * len + $Num) // $Den) + 1),
         |cands0 AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM posts a JOIN posts b ON a.token = b.token AND a.doc_id < b.doc_id
         |  WHERE b.len * $Den >= a.len * $Num AND a.len * $Den >= b.len * $Num),
         |exact AS MATERIALIZED (
         |  SELECT (1000 * len(list_intersect(wa.ws, wb.ws))) // len(list_distinct(list_concat(wa.ws, wb.ws))) AS jac_pm
         |  FROM cands0 c
         |  JOIN wsets wa ON c.doc_a = wa.doc_id
         |  JOIN wsets wb ON c.doc_b = wb.doc_id
         |  WHERE len(list_intersect(wa.ws, wb.ws)) * $Den >= len(list_distinct(list_concat(wa.ws, wb.ws))) * $Num)
         |$arms""".stripMargin
    }
  )

  /** Threshold-sensitivity sweep of the dedup graph ABOVE the deployed
    * θ = 0.8 (the prefix-filter's certified floor): for each τ ∈
    * {800, 850, 900, 950, 1000}‰, the surviving edge count, touched
    * vertex count, and maximum degree. The decision read before
    * tightening a dedup threshold — a cliff between 800 and 850 means
    * the clusters are borderline and τ is load-bearing; a flat curve
    * means the duplicates are unambiguous. One threshold explode over
    * the checkpointed exact pairs + two bounded aggregates per τ.
    */
  private val ThresholdGrid = Seq(800, 850, 900, 950, 1000)

  private val thresholdSweepQ = Q(
    "dedup_threshold_sweep",
    (s, d) => {
      val sub = LlmQueries.corpus(s, d).filter(col("doc_id") % 4 === 1)
      val exact = graft.Lineage.checkpoint(
        AllPairsJoin
          .allPairsOfSets(
            sub.select(
              col("doc_id"),
              array_distinct(TextFunctions.shingles(col("text"))).as("ws")
            )
          )
          .select("doc_a", "doc_b", "jac_pm")
      ).df
      val taued = exact
        .select(
          explode(typedLit(ThresholdGrid.map(_.toLong))).as("tau_pm"),
          col("doc_a"),
          col("doc_b"),
          col("jac_pm")
        )
        .filter(col("jac_pm") >= col("tau_pm"))
      val edges = taued.groupBy("tau_pm").agg(count(lit(1)).as("n_edges"))
      val verts = taued
        .select(col("tau_pm"), col("doc_a").as("v"))
        .unionByName(taued.select(col("tau_pm"), col("doc_b").as("v")))
        .groupBy("tau_pm", "v")
        .agg(count(lit(1)).as("dg"))
        .groupBy("tau_pm")
        .agg(count(lit(1)).as("n_vertices"), max("dg").as("max_degree"))
      // scaffold the full grid: a τ that kills every edge must SAY so
      // (n_edges 0), not vanish from the curve.
      exact.sparkSession
        .range(0, ThresholdGrid.size.toLong)
        .select(element_at(typedLit(ThresholdGrid.map(_.toLong)), col("id").cast("int") + 1).as("tau_pm"))
        .join(edges, Seq("tau_pm"), "left")
        .join(verts, Seq("tau_pm"), "left")
        .select(
          col("tau_pm"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_vertices"), lit(0L)).as("n_vertices"),
          coalesce(col("max_degree"), lit(0L)).as("max_degree")
        )
    },
    Some {
      import LlmQueries.{CorpusSql, SigSql}
      val Num = 4
      val Den = 5
      val corpusSub = CorpusSql.replaceFirst("corpus AS", "corpus_all AS") +
        ",\ncorpus AS (SELECT doc_id, text FROM corpus_all WHERE doc_id % 4 = 1)"
      s"""WITH $corpusSub, $SigSql,
         |wsets AS (SELECT doc_id, list_distinct(shingles) AS ws FROM sh),
         |toks AS (SELECT doc_id, unnest(ws) AS token FROM wsets),
         |tf AS (SELECT token, count(*) AS f FROM toks GROUP BY token),
         |ranked AS (
         |  SELECT t.doc_id, t.token,
         |    row_number() OVER (PARTITION BY t.doc_id ORDER BY tf.f, t.token) AS pos,
         |    count(*) OVER (PARTITION BY t.doc_id) AS len
         |  FROM toks t JOIN tf ON t.token = tf.token),
         |posts AS (
         |  SELECT doc_id, token, len FROM ranked
         |  WHERE pos <= len - (($Num * len + $Num) // $Den) + 1),
         |cands0 AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM posts a JOIN posts b ON a.token = b.token AND a.doc_id < b.doc_id
         |  WHERE b.len * $Den >= a.len * $Num AND a.len * $Den >= b.len * $Num),
         |exact AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b,
         |    (1000 * len(list_intersect(wa.ws, wb.ws))) // len(list_distinct(list_concat(wa.ws, wb.ws))) AS jac_pm
         |  FROM cands0 c
         |  JOIN wsets wa ON c.doc_a = wa.doc_id
         |  JOIN wsets wb ON c.doc_b = wb.doc_id
         |  WHERE len(list_intersect(wa.ws, wb.ws)) * $Den >= len(list_distinct(list_concat(wa.ws, wb.ws))) * $Num),
         |taued AS (
         |  SELECT t.tau_pm, e.doc_a, e.doc_b
         |  FROM exact e
         |  CROSS JOIN (SELECT unnest(${ThresholdGrid.mkString("[", ", ", "]")}) AS tau_pm) t
         |  WHERE e.jac_pm >= t.tau_pm),
         |edges AS (SELECT tau_pm, count(*) AS n_edges FROM taued GROUP BY 1),
         |verts AS (
         |  SELECT tau_pm, count(*) AS n_vertices, max(dg) AS max_degree
         |  FROM (
         |    SELECT tau_pm, v, count(*) AS dg
         |    FROM (SELECT tau_pm, doc_a AS v FROM taued UNION ALL SELECT tau_pm, doc_b FROM taued) _u
         |    GROUP BY 1, 2) _d
         |  GROUP BY 1)
         |SELECT CAST(g.tau_pm AS BIGINT) AS tau_pm,
         |  CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
         |  CAST(coalesce(n_vertices, 0) AS BIGINT) AS n_vertices,
         |  CAST(coalesce(max_degree, 0) AS BIGINT) AS max_degree
         |FROM (SELECT unnest(${ThresholdGrid.mkString("[", ", ", "]")}) AS tau_pm) g
         |LEFT JOIN edges ON edges.tau_pm = g.tau_pm
         |LEFT JOIN verts ON verts.tau_pm = g.tau_pm""".stripMargin
    }
  )

  val all: Seq[Q] =
    Seq(calibrationQ, ivfBalanceQ, clusterQualityQ, lshRecallQ, lshPrQ, lshPlanQ, thresholdSweepQ)
}
