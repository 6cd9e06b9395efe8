package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization codebook TRAINING (Jégou, Douze & Schmid 2011
  * §II-A): per-subspace k-means over the sub-vectors — the step that
  * turns `embed_pq_encode`'s deterministic placeholder codewords into a
  * trained codebook, completing the IVF-PQ training story
  * ([[KMeans]] trains the coarse quantizer; this trains the fine one).
  * Eighth certified training loop in the registry (after dedup-EM,
  * classifier, k-means, BPE, PCA, nearest-class-mean, unigram-EM).
  *
  * Scale shape per Lloyd round: all 8 subspaces train in ONE frame —
  * the corpus explodes to 8 sub-vector rows per vector (map-only), the
  * 8×16 = 128 current centroids collapse into 8 per-subspace broadcast
  * rows (BroadcastHashJoin on the subspace key — never a nested loop),
  * assignment is the per-row [[KMeans.nearestCell]] argmin, and the
  * update aggregates to the (subspace, code, dim) key space — 1,024
  * keys whatever the corpus size, so the shuffle is ~pure map-side
  * combine. The corpus is rescanned per round (Lloyd's shape); only
  * the 128-row model is checkpointed between rounds.
  *
  * Engine determinism: distances are sequential double sums over 8
  * dims (the certified `embed_kmeans_step` arithmetic), ties keep the
  * lowest code, and the OUTPUT is the final round's sufficient
  * statistics — per (sub, code, dim) member count and exact integer
  * micro-unit sum (new centroid = s_mu/(1e6·n), computed by the
  * consumer) — so the hash compare is integer-exact. Empty cells drop
  * (classic Lloyd); the oracle replays both rounds as unrolled CTEs.
  */
object PqTrain {

  private val M = 8
  private val Dsub = 8
  private val Kc = 16
  private val Iters = 2

  /** (vec_id, m, sv): the 8-dim double sub-vector of each subspace. */
  private def subvecs(embs: DataFrame): DataFrame =
    embs
      .select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("m"), col("embedding"))
      .select(
        col("vec_id"),
        col("m"),
        expr(s"transform(slice(embedding, m * $Dsub + 1, $Dsub), x -> cast(x as double))")
          .as("sv")
      )

  /** One Lloyd round over every subspace at once: assignment under the
    * current per-subspace codebooks + the (m, cell, dim) sufficient
    * statistics.
    */
  private def assignStep(sub: DataFrame, seeds: DataFrame): DataFrame = {
    val cents = seeds
      .groupBy("m")
      .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cents"))
    sub
      .join(broadcast(cents), Seq("m"))
      .select(col("m"), KMeans.nearestCell(col("sv"), col("cents")).as("cell"), posexplode(col("sv")))
      .select(col("m"), col("cell"), (col("pos") + 1).cast("long").as("dim"), col("col").as("x"))
      .groupBy("m", "cell", "dim")
      .agg(count(lit(1)).as("n"), sum(round(col("x") * 1e6).cast("long")).as("s_mu"))
  }

  /** The full per-subspace training loop: seeds = the first 16 vectors'
    * sub-vectors, `Iters` Lloyd rounds, final-round statistics out.
    */
  def trainOf(embs: DataFrame): DataFrame = trainLoop(embs)._1

  private def trainLoop(embs: DataFrame): (DataFrame, DataFrame) = {
    val sub = subvecs(embs)
    var seeds = sub
      .filter(col("vec_id") < Kc)
      .select(col("m"), col("vec_id").as("cell"), col("sv").as("cv"))
    var stats: graft.Checkpointed = null
    for (_ <- 1 to Iters) {
      // The 1,024-row statistics table is the only state carried between
      // rounds — checkpoint it (Bpe.train discipline), never the corpus.
      val next = graft.Lineage.checkpoint(assignStep(sub, seeds))
      seeds = next.df
        .groupBy("m", "cell")
        .agg(
          transform(
            array_sort(
              collect_list(struct(col("dim"), (col("s_mu") / (col("n") * 1e6)).as("v")))
            ),
            _.getField("v")
          ).as("cv")
        )
      Option(stats).foreach(_.release())
      stats = next
    }
    (
      stats.df.select(
        col("m").cast("long").as("sub"),
        col("cell").cast("long").as("code"),
        col("dim"),
        col("n"),
        col("s_mu")
      ),
      seeds
    )
  }

  /** Explicit left-associated 8-term squared-L2 — both engines spell the
    * identical double chain, so the distortion VALUE (not just the
    * argmin) is bit-deterministic. `i0` is the engine's base index.
    */
  private def l2sqChain(a: String, b: String, i0: Int): String =
    (i0 until i0 + Dsub)
      .map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
      .mkString("(", " + ", ")")

  /** Mean PQ quantization distortion per subspace under the TRAINED
    * codebooks — the codebook-quality companion of `ann_recall_ivfpq`
    * (recall measures end-to-end search; distortion isolates how much
    * signal the 4-bit codes destroy, the number that decides Kc and M
    * before any search runs). Per (vector, subspace): the MIN squared
    * L2 to the 16 trained centroids — a min needs no tie-break — as an
    * explicit left-associated double chain identical in both engines,
    * FLOOR-quantized to micro-units per element before the exact
    * integer rollup.
    */
  def distortionOf(embs: DataFrame): DataFrame = {
    val (_, seeds) = trainLoop(embs)
    val cents = seeds
      .groupBy("m")
      .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cents"))
    subvecs(embs)
      .join(broadcast(cents), Seq("m"))
      .select(
        col("m"),
        expr(
          s"cast(floor(1e6 * array_min(transform(cents, cc -> ${l2sqChain("sv", "cc.cv", 0)}))) as bigint)"
        ).as("err_mu")
      )
      .groupBy("m")
      .agg(count(lit(1)).as("n_vecs"), sum("err_mu").as("sum_err_mu"))
      .select(
        col("m").cast("long").as("sub"),
        col("n_vecs"),
        col("sum_err_mu"),
        expr("sum_err_mu div n_vecs").as("mean_err_mu")
      )
  }

  private def oracleSql: String =
    s"""$trainCtesSql
       |SELECT cast(m as bigint) AS sub, cast(cell as bigint) AS code,
       |  cast(dim as bigint) AS dim, cast(n as bigint) AS n, cast(s_mu as bigint) AS s_mu
       |FROM st$Iters""".stripMargin

  /** The training CTE chain (everything before the final SELECT) for
    * composition into downstream oracles (distortion, trained search):
    * ends with `st$Iters` (final sufficient statistics) and `c$Iters`
    * (final double codebooks) in scope, plus `e` (the cast corpus) and
    * `sv` (sub-vectors). Built as the explicit prefix `oracleSql` itself
    * appends its final SELECT to — downstream composition must not
    * reverse-parse the assembled string (the r11 advice finding: a
    * lastIndexOf over the final SELECT breaks on any whitespace edit).
    */
  private[operators] def trainCtesSql: String =
    s"""WITH e AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
       |${trainChainSql("e")}""".stripMargin

  /** The PQ Lloyd chain over any `$src(vec_id, v)` CTE, all CTE names
    * prefixed with `$p` (so two chains — e.g. raw and residual — can
    * coexist in one oracle). Ends with `${p}sv` (sub-vectors),
    * `${p}st$Iters` (final statistics) and `${p}c$Iters` (final double
    * codebooks) in scope.
    */
  private[operators] def trainChainSql(src: String, p: String = ""): String = {
    def round(r: Int): String =
      s"""${p}d$r AS (
         |  SELECT s.vec_id, s.m, c.cell,
         |    list_sum(list_transform(range(1, ${Dsub + 1}),
         |      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS dist
         |  FROM ${p}sv s JOIN ${p}c${r - 1} c ON c.m = s.m),
         |${p}a$r AS (
         |  SELECT vec_id, m, cell,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cell) AS rn
         |  FROM ${p}d$r),
         |${p}x$r AS (
         |  SELECT a.m, a.cell, unnest(range(1, ${Dsub + 1})) AS dim, unnest(s.sv) AS x
         |  FROM (SELECT vec_id, m, cell FROM ${p}a$r WHERE rn = 1) a
         |  JOIN ${p}sv s ON s.vec_id = a.vec_id AND s.m = a.m),
         |${p}st$r AS MATERIALIZED (
         |  SELECT m, cell, dim, count(*) AS n,
         |    sum(cast(round(x * 1e6) as bigint)) AS s_mu
         |  FROM ${p}x$r GROUP BY 1, 2, 3),
         |${p}c$r AS (
         |  SELECT m, cell, list(s_mu / (n * 1e6) ORDER BY dim) AS cv
         |  FROM ${p}st$r GROUP BY m, cell)""".stripMargin
    s"""${p}sv AS MATERIALIZED (
       |  SELECT vec_id, m,
       |    list_transform(range(1, ${Dsub + 1}), i -> v[m * $Dsub + i]) AS sv
       |  FROM (SELECT vec_id, v, unnest(range(0, $M)) AS m FROM $src) _s$p),
       |${p}c0 AS (SELECT m, vec_id AS cell, sv AS cv FROM ${p}sv WHERE vec_id < $Kc),
       |${(1 to Iters).map(round).mkString(",\n")}""".stripMargin
  }

  /** Distortion rollup tail over a prefixed chain: min squared-L2 to
    * the `${p}c$Iters` codebooks, micro-floored, aggregated per
    * subspace as `${p}dist(sub, n_vecs, sum_err_mu, mean_err_mu)`.
    */
  private[operators] def distortionTailSql(p: String): String =
    s"""${p}cg AS (SELECT m, list(cv ORDER BY cell) AS cents FROM ${p}c$Iters GROUP BY m),
       |${p}err AS (
       |  SELECT s.m,
       |    CAST(floor(1e6 * list_min(list_transform(cg.cents, cc -> ${l2sqChain("s.sv", "cc", 1)}))) AS BIGINT) AS err_mu
       |  FROM ${p}sv s JOIN ${p}cg cg ON cg.m = s.m),
       |${p}dist AS (
       |  SELECT CAST(m AS BIGINT) AS sub, CAST(count(*) AS BIGINT) AS n_vecs,
       |    CAST(sum(err_mu) AS BIGINT) AS sum_err_mu,
       |    CAST(sum(err_mu) // count(*) AS BIGINT) AS mean_err_mu
       |  FROM ${p}err GROUP BY 1)""".stripMargin

  private val trainQ = Q(
    "embed_pq_train",
    (s, d) => trainOf(Tables.embeddings(s, d)),
    Some(oracleSql)
  )

  private val distortionQ = Q(
    "embed_pq_distortion",
    (s, d) => distortionOf(Tables.embeddings(s, d)),
    Some {
      // Reuse the training CTE chain verbatim, then one assignment-free
      // min pass under the final codebooks.
      s"""$trainCtesSql,
         |cg AS (SELECT m, list(cv ORDER BY cell) AS cents FROM c$Iters GROUP BY m),
         |err AS (
         |  SELECT s.m,
         |    CAST(floor(1e6 * list_min(list_transform(cg.cents, cc -> ${l2sqChain("s.sv", "cc", 1)}))) AS BIGINT) AS err_mu
         |  FROM sv s JOIN cg ON cg.m = s.m)
         |SELECT CAST(m AS BIGINT) AS sub, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(err_mu) AS BIGINT) AS sum_err_mu,
         |  CAST(sum(err_mu) // count(*) AS BIGINT) AS mean_err_mu
         |FROM err GROUP BY 1""".stripMargin
    }
  )

  /** Residuals r = v − coarse_centroid(assigned cell) under a trained
    * Lloyd coarse quantizer — the FAISS-standard IVFADC formulation
    * (Jégou, Douze & Schmid 2011 §III-A): the PQ codebooks quantize what
    * the coarse quantizer leaves behind, so the 4-bit budget is spent on
    * the informative within-cell variation instead of re-encoding the
    * cell mean every vector in the cell shares.
    */
  def residualsOf(emb: DataFrame, cents: DataFrame): DataFrame =
    emb
      .withColumn("j", (size(col("embedding")) * 0 + 1).cast("int"))
      .join(broadcast(KMeans.centroidsRow(cents)), Seq("j"))
      .withColumn("acell", KMeans.nearestCell(col("embedding"), col("cents")))
      .select(
        col("vec_id"),
        expr(
          "zip_with(embedding, filter(cents, c -> c.cell = acell)[0].cv, (a, b) -> cast(a as double) - b)"
        ).as("embedding")
      )

  /** Residual-vs-raw PQ distortion — what residual encoding buys at the
    * same code budget, per subspace: the same Lloyd training + min-L2
    * rollup run twice (raw vectors; residuals under the registered
    * coarse quantizer), joined on the subspace with an integer per-mille
    * improvement. Two bounded trainings + two map-only min passes; the
    * corpus shuffles only into the 1,024-key statistics aggregates.
    */
  def residualDistortionOf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val cents = IvfPq.trainedCentsOf(emb)
    val res = distortionOf(residualsOf(emb, cents))
    val raw = distortionOf(emb)
    res
      .select(
        col("sub"),
        col("n_vecs"),
        col("sum_err_mu").as("res_sum_err_mu"),
        col("mean_err_mu").as("res_mean_err_mu")
      )
      .join(raw.select(col("sub"), col("mean_err_mu").as("raw_mean_err_mu")), Seq("sub"))
      .withColumn(
        "gain_permille",
        // double divide + toward-zero cast in BOTH engines (Spark ANSI
        // integral cast truncates; DuckDB needs explicit trunc — its
        // bigint cast rounds and `//` floors).
        expr(
          "cast(cast((raw_mean_err_mu - res_mean_err_mu) * 1000 as double) / raw_mean_err_mu as bigint)"
        )
      )
  }

  private val residualQ = Q(
    "embed_pq_residual",
    (s, d) => residualDistortionOf(s, d),
    Some {
      s"""WITH e AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
         |${IvfPq.lloydCtesSql("e", "e")},
         |re AS (SELECT e.vec_id,
         |    list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cv[i]) AS v
         |  FROM e JOIN kasn a USING (vec_id) JOIN kc${IvfPq.KmIters} c ON c.cell = a.cell),
         |${trainChainSql("e", "w")},
         |${distortionTailSql("w")},
         |${trainChainSql("re", "r")},
         |${distortionTailSql("r")}
         |SELECT r.sub, r.n_vecs, r.sum_err_mu AS res_sum_err_mu,
         |  r.mean_err_mu AS res_mean_err_mu, w.mean_err_mu AS raw_mean_err_mu,
         |  CAST(trunc(CAST((w.mean_err_mu - r.mean_err_mu) * 1000 AS DOUBLE) / w.mean_err_mu) AS BIGINT) AS gain_permille
         |FROM rdist r JOIN wdist w USING (sub)""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(trainQ, distortionQ, residualQ)
}
