package graft.operators

import graft.Q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT all-pairs set-similarity join via prefix filtering (Bayardo,
  * Ma & Srikant, WWW 2007; the MapReduce formulation is Vernica,
  * Carey & Li, SIGMOD 2010) — the zero-recall-loss complement to the
  * MinHash/LSH family: every pair with Jaccard ≥ θ is found, with no
  * banding miss probability, at a cost bounded by the candidate set
  * the prefix filter admits.
  *
  * Filter chain, all integer arithmetic (θ = 4/5 avoids floats — the
  * double literal 0.8 is not exactly representable and ceil(0.8·n)
  * can round differently from exact 4n/5):
  *  - PREFIX: each document's token set is sorted by ascending GLOBAL
  *    frequency (rarest first, ties by token bytes); only the first
  *    p = n − ceil(θn) + 1 tokens are posted. Any pair with J ≥ θ
  *    must share its globally-smallest intersection token inside both
  *    prefixes (the Bayardo argument), so the candidate join touches
  *    only rare-token postings.
  *  - LENGTH: J ≥ θ forces θ·|a| ≤ |b| ≤ |a|/θ, applied inside the
  *    join condition as 5·|b| ≥ 4·|a| ∧ 5·|a| ≥ 4·|b|.
  *  - VERIFY: exact set intersection, J ≥ θ as 5·inter ≥ 4·union.
  *
  * Scale shape: one token-keyed aggregation for global frequencies,
  * a per-document ARRAY sort (bounded by document length — never a
  * corpus ordering), one equi-join on prefix tokens, one exact verify
  * join. Candidate volume is governed by the rare-prefix property; a
  * clone-heavy corpus makes it quadratic in the clone-class size, but
  * that is the size of the TRUE RESULT — exact semantics are
  * output-bound by definition (Bayardo §3). Corpora where the output
  * itself is infeasible use the capped LSH family; this operator is
  * the exact path for θ-certified joins.
  */
object AllPairsJoin {

  /** θ = num/den as an exact rational. */
  private val Num = 4
  private val Den = 5

  /** All pairs with Jaccard(word sets) ≥ 4/5 over (doc_id, text). */
  def allPairs(docs: DataFrame): DataFrame =
    allPairsOfSets(
      docs.select(
        col("doc_id"),
        array_distinct(graft.functions.TextFunctions.words(col("text"))).as("ws")
      )
    )

  /** The exact join over ANY (doc_id, ws: array<string>) set frame —
    * the set definition is the caller's metric choice (word sets here;
    * the LSH recall curve passes SHINGLE sets, the banding's own
    * metric).
    */
  def allPairsOfSets(wsets0: DataFrame): DataFrame = {
    // Checkpoint, not persist: three branches of the ONE returned plan
    // read the set frame, so the operator cannot release it itself; the
    // consumer's Lineage.releaseHeld() frees it after the action instead
    // of cache entries pinning blocks across a sweep.
    val wsets = graft.Lineage.checkpoint(wsets0).df
    val toks = wsets.select(col("doc_id"), explode(col("ws")).as("token"))
    val tf = toks.groupBy("token").agg(count(lit(1)).as("f"))
    // Per-document prefix: sort the doc's OWN tokens by (global freq,
    // token bytes) — an array sort bounded by doc length — and keep the
    // first n − ceil(θn) + 1. ceil(4n/5) = (4n + 4) div 5 exactly.
    val prefixes = toks
      .join(tf, Seq("token"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("f"), col("token")))).as("sorted"))
      .select(
        col("doc_id"),
        size(col("sorted")).as("len"),
        expr(
          s"transform(slice(sorted, 1, cast(size(sorted) - (($Num * size(sorted) + $Num) div $Den) + 1 as int)), x -> x.token)"
        ).as("prefix")
      )
    val posts = prefixes.select(col("doc_id"), col("len"), explode(col("prefix")).as("token"))
    val cands = posts
      .select(col("token"), col("doc_id").as("doc_a"), col("len").as("la"))
      .join(
        posts.select(col("token"), col("doc_id").as("doc_b"), col("len").as("lb")),
        Seq("token")
      )
      .filter(
        col("doc_a") < col("doc_b") &&
          col("lb") * Den >= col("la") * Num &&
          col("la") * Den >= col("lb") * Num
      )
      .select("doc_a", "doc_b")
      .distinct()
    cands
      .join(wsets.select(col("doc_id").as("doc_a"), col("ws").as("wa")), Seq("doc_a"))
      .join(wsets.select(col("doc_id").as("doc_b"), col("ws").as("wb")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        size(array_intersect(col("wa"), col("wb"))).cast("long").as("inter"),
        size(array_distinct(concat(col("wa"), col("wb")))).cast("long").as("uni")
      )
      .filter(col("inter") * Den >= col("uni") * Num)
      .withColumn("jac_pm", expr("(1000 * inter) div uni"))
  }

  /** The registered query: exact join over a deterministic 1-in-4
    * id-hash subsample of the dedup corpus (the clone families in the
    * synthetic corpus are DENSE at θ = 4/5 — the raw pair table is
    * pair-quadratic in family size, ~38M rows at the sf1-equivalent
    * point, which is honest exact-join output but not a sane oracle
    * row set), rolled up per document: partner count, max and sum of
    * the per-mille Jaccards. Integer aggregates of an exact pair set
    * — still certifies the full filter chain end to end, with output
    * bounded by the corpus. The injected +100000/+200000 companions
    * keep their base doc's id mod 4, so sampled families stay intact.
    */
  private val allPairsQ = Q(
    "docs_allpairs_join",
    (s, d) => {
      val pairs = allPairs(LlmQueries.corpus(s, d).filter(col("doc_id") % 4 === 1))
      // One explode instead of a self-union: a union would reference
      // the unpersisted pair plan twice, re-executing the candidate and
      // verify joins (the expensive stages) once per side.
      pairs
        .select(
          explode(
            array(
              struct(col("doc_a").as("doc_id"), col("jac_pm")),
              struct(col("doc_b").as("doc_id"), col("jac_pm"))
            )
          ).as("r")
        )
        .select(col("r.doc_id").as("doc_id"), col("r.jac_pm").as("jac_pm"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_partners"),
          max(col("jac_pm")).as("max_jac_pm"),
          sum(col("jac_pm")).as("sum_jac_pm")
        )
    },
    Some {
      // The oracle mirrors the SAME prefix-filter candidate generation
      // (an exhaustive n² cross join would not survive the
      // sf1-equivalent sweep); exactness is then certified because the
      // filter chain is the published lossless one AND the spec pins
      // the filter against a brute-force pair scan on a hand corpus.
      s"""WITH ${LlmQueries.CorpusSql},
         |wsets AS (SELECT doc_id, list_distinct(string_split(${LlmQueries.normSql("text")}, ' ')) AS ws FROM corpus WHERE doc_id % 4 = 1),
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
         |pairs2 AS (
         |  SELECT c.doc_a, c.doc_b,
         |    (1000 * len(list_intersect(wa.ws, wb.ws))) // len(list_distinct(list_concat(wa.ws, wb.ws))) AS jac_pm
         |  FROM cands c
         |  JOIN wsets wa ON c.doc_a = wa.doc_id
         |  JOIN wsets wb ON c.doc_b = wb.doc_id
         |  WHERE len(list_intersect(wa.ws, wb.ws)) * $Den >= len(list_distinct(list_concat(wa.ws, wb.ws))) * $Num)
         |SELECT doc_id, count(*) AS n_partners,
         |  cast(max(jac_pm) as bigint) AS max_jac_pm,
         |  cast(sum(jac_pm) as bigint) AS sum_jac_pm
         |FROM (SELECT doc_a AS doc_id, jac_pm FROM pairs2
         |      UNION ALL SELECT doc_b, jac_pm FROM pairs2)
         |GROUP BY doc_id""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(allPairsQ)
}
