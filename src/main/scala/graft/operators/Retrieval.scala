package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions.words
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus retrieval / term-weighting operators for the LLM-pipeline
  * surface: TF-IDF keyword extraction and BM25 ranked search (Robertson &
  * Spärck Jones probabilistic relevance framework; BM25 constants k1=1.2,
  * b=0.75 — the Okapi defaults). No counterpart in the reference (it
  * delegates ranking to Solr); a data-curation pipeline needs both
  * natively: TF-IDF feeds keyword/topic profiling, BM25 powers
  * seed-query mining of a web corpus.
  *
  * Scale shape, both queries:
  *  - tokenization is map-only;
  *  - term statistics (document frequency) aggregate on the term — a
  *    VOCAB-bounded key, not a corpus-bounded one, with map-side partial
  *    aggregation;
  *  - corpus-level scalars (N, total length) ride the 1-row
  *    computed-key broadcast join (the `docs_lm_score` idiom — never a
  *    cross join, never a driver collect);
  *  - per-document ranking windows partition on doc/query id, so the
  *    sort is per-group and bounded, never a global order-by.
  *
  * All scores are quantized to integer micro-units BEFORE comparison
  * (`round(x*1e6)` as long) so the DuckDB oracle comparison never sits on
  * a floating-point boundary — `ln` is the only libm call either engine
  * makes, and it feeds the quantizer directly.
  */
object Retrieval {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  private[operators] def tokens = filter(words(coalesce(col("text"), lit(""))), w => length(w) > 0)

  private[operators] val NormSql =
    "list_filter(string_split(lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))), ' '), x -> length(x) > 0)"

  /** Top-5 TF-IDF terms per document. idf = ln(N/df) over the whole
    * corpus, tf = raw in-document count; score_mu = tf * round(idf*1e6)
    * is integer-exact, so ranking (score desc, term asc) is
    * deterministic across engines.
    */
  private val tfidf = Q(
    "docs_tfidf",
    (s, d) => {
      val terms = docs(s, d).select(col("doc_id"), explode(tokens).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n"))
      // Vocab-bounded dimension: term → integer micro-idf. The corpus
      // count joins in via the non-foldable computed-key broadcast.
      val idf = dfT
        .withColumn("j", (col("df") - col("df") + 1).cast("int"))
        .join(
          broadcast(n.select((col("n") - col("n") + 1).cast("int").as("j"), col("n"))),
          Seq("j")
        )
        .select(
          col("term"),
          round(log(col("n").cast("double") / col("df").cast("double")) * 1e6)
            .cast("long")
            .as("idf_mu")
        )
      val w = Window.partitionBy("doc_id").orderBy(col("score_mu").desc, col("term").asc)
      tf.join(idf, "term")
        .select(
          col("doc_id"),
          col("term"),
          col("tf"),
          (col("tf") * col("idf_mu")).as("score_mu")
        )
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("doc_id", "term", "tf", "score_mu", "rank")
    },
    Some {
      s"""WITH base AS (SELECT doc_id, $NormSql AS ws FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ws) AS term FROM base) _t GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |idf AS (
         |  SELECT term,
         |    cast(round(ln(cast(n.n AS double) / cast(df AS double)) * 1e6) AS bigint) AS idf_mu
         |  FROM dfx, n),
         |ranked AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, tf.tf * idf.idf_mu AS score_mu,
         |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf * idf.idf_mu DESC, tf.term) AS rank
         |  FROM tf JOIN idf USING (term))
         |SELECT doc_id, term, cast(tf AS bigint) AS tf,
         |  cast(score_mu AS bigint) AS score_mu, cast(rank AS bigint) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    }
  )

  /** The query workload: tiny, rides along as a broadcast dimension. */
  val SearchQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "stream", "window"),
    2 -> Seq("hash", "join", "merge"),
    3 -> Seq("vector", "query", "scan")
  )

  /** BM25 top-10 documents per query. Per matched (doc, term):
    * score = idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)), with
    * idf = ln(1 + (N-df+0.5)/(df+0.5)). Each term's contribution is
    * quantized to micro-units and the per-document score is an INTEGER
    * sum — double summation order across terms never matters, so the
    * result is engine- and partition-order-independent. Only the
    * query-term postings (a broadcast-filtered sliver of the corpus)
    * ever reach the scoring join.
    */
  private val bm25 = Q(
    "docs_bm25_search",
    (s, d) => bm25Of(docs(s, d)),
    bm25Oracle,
    bench2 = true
  )

  /** The BM25 pipeline over any (doc_id, text) frame — exposed for the
    * `retrieval` scale probe.
    */
  def bm25Of(documents: DataFrame): DataFrame =
    TopK
      .topkPerGroup(bm25ScoredOf(documents), "query_id", "score_mu", "doc_id", 10)
      .withColumn("rank", col("rk").cast("long"))
      .drop("rk")

  /** The un-cut (query_id, doc_id, score_mu) candidate scores — every
    * document containing a query term. [[Rerank]] brute-forces its
    * ground truth over this frame.
    *
    * Round-14 restructure (guide §1.2 "distributed algorithm" / §2.4
    * "remove shuffles outright"): the query vocabulary is a COMPILE-TIME
    * constant (9 terms), so per-document term frequencies are array
    * columns computed in the tokenize projection — the old
    * explode → isin → groupBy(doc_id, term) posting aggregation (a
    * corpus-keyed shuffle) disappears, and the old THREE full tokenize
    * passes (df chain, stats pass, tf broadcast build — three separate
    * `Scan parquet` subtrees in the r13 plan) collapse into ONE pass
    * materialized into the lazily persisted narrow per-doc frame
    * (doc_id, dl, tf_0..tf_8 — no text). The 1-row corpus statistics
    * (N, Σdl, df_t = Σ[tf_t>0]) fold into a SINGLE aggregate over that
    * frame, which is EAGERLY checkpointed (a lazy persist was measured
    * first and raced: the per-query union planned its own statsRow
    * broadcast build per branch, and those builds plus the probe stages
    * hit the cold cache CONCURRENTLY — six ~320 ms stages each
    * re-reading the parquet, the assignClusters replay class). The
    * scored frame is then a SINGLE map pass over the blocks: one
    * broadcast join attaches the stats row and an explode of the
    * 3-element per-query struct array replaces the 3-branch union, so
    * one probe stage and one broadcast build remain. Result: 1 tokenize
    * pass instead of 3, zero corpus-keyed exchanges before the top-k
    * histogram, measured 2.96 → ~1.3 s wall / 23 → ~2 s summed task
    * time at sf0.1 local[32].
    *
    * Output equivalence with the posting form (and the unchanged DuckDB
    * oracle) is EXACT, not approximate: the candidate set is identical
    * (a doc appears for query q iff Σ_{t∈q} tf_t > 0, i.e. it contains
    * ≥1 query term — per-query, not any-term, so score-0 docs stay
    * excluded); each per-term contribution rounds BEFORE the sum with
    * the identical double expression (same operand order, same casts),
    * and a tf=0 term contributes round(idf·0/den) = 0 exactly. The
    * bm25/rerank/RM3 oracle hash gates certify it every sweep.
    */
  private[graft] def bm25ScoredOf(documents: DataFrame): DataFrame = {
    val queryTerms = SearchQueries.flatMap { case (q, ts) => ts.map(q -> _) }
    val allTerms = queryTerms.map(_._2).distinct
    val termIdx = allTerms.zipWithIndex.toMap
    val tfCols = allTerms.zipWithIndex.map { case (t, i) =>
      size(filter(col("ws"), w => w === t)).cast("long").as(s"tf_$i")
    }
    val perDoc = graft.Lineage.checkpoint(
      documents
        .select(col("doc_id"), tokens.as("ws"))
        .select(col("doc_id") +: size(col("ws")).cast("long").as("dl") +: tfCols: _*)
    ).df
    val dfAggs = sum("dl").as("sumdl") +:
      allTerms.indices.map(i => sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(count(lit(1)).as("n"), dfAggs: _*)
    val idfCols = allTerms.indices.map { i =>
      round(
        log(
          (col("n").cast("double") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5) + 1.0
        ) * 1e6
      ).cast("long").as(s"idf_$i")
    }
    // The corpus scalars ride the 1-row computed-key broadcast join
    // (the docs_lm_score idiom — never a cross join, never a collect).
    val statsRow = stats.select(
      (col("n") - col("n") + 1).cast("int").as("j") +: col("n") +: col("sumdl") +: idfCols: _*
    )
    val withStats = perDoc
      .withColumn("j", (col("dl") - col("dl") + 1).cast("int"))
      .join(broadcast(statsRow), Seq("j"))
    // The top-10 cut in bm25Of rides the bounded histogram (TopK),
    // not a per-query rank window: this scored candidate set is every
    // document containing a query term, which for a common term is
    // corpus-scale — a `PARTITION BY query_id` window would sort that
    // whole posting list on one task at 100 TB (round 8; the ANN
    // queries' per-query windows rank bucket-bounded candidate sets
    // and keep the window form).
    val qStructs = SearchQueries.map { case (qid, ts) =>
      val idxs = ts.map(termIdx)
      def den(i: Int) =
        col(s"tf_$i") + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl") * col("n")).cast("double") / col("sumdl").cast("double"))
      val score = idxs
        .map(i =>
          when(
            col(s"tf_$i") > 0,
            round(col(s"idf_$i") * ((col(s"tf_$i") * lit(2.2)) / den(i))).cast("long")
          ).otherwise(lit(0L))
        )
        .reduce(_ + _)
      struct(
        lit(qid).as("query_id"),
        score.as("score_mu"),
        (idxs.map(i => col(s"tf_$i")).reduce(_ + _) > 0).as("keep")
      )
    }
    withStats
      .select(col("doc_id"), explode(array(qStructs: _*)).as("q"))
      .filter(col("q.keep"))
      .select(col("q.query_id").as("query_id"), col("doc_id"), col("q.score_mu").as("score_mu"))
  }

  /** The BM25 oracle CTE chain with every CTE name prefixed by `p` —
    * shared with the rerank oracle, which composes these CTEs into the
    * classifier-training WITH block (where bare names like `dl` are
    * taken). Ends with `${p}ranked(query_id, doc_id, score_mu, rank)`.
    */
  private[operators] def bm25CtesSql(p: String): String = {
    val values = SearchQueries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    val inList = SearchQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""${p}base AS (SELECT doc_id, $NormSql AS ws FROM documents),
       |${p}dl AS (SELECT doc_id, cast(len(ws) AS bigint) AS dl FROM ${p}base),
       |${p}stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM ${p}dl),
       |${p}tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS term FROM ${p}base) _t
       |  WHERE term IN ($inList) GROUP BY 1, 2),
       |${p}idf AS (
       |  SELECT term,
       |    cast(round(ln((cast(s.n AS double) - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS bigint) AS idf_mu
       |  FROM (SELECT term, count(*) AS df FROM ${p}tf GROUP BY 1) _d, ${p}stats s),
       |${p}q(query_id, term) AS (VALUES $values),
       |${p}ts AS (
       |  SELECT q.query_id, tf.doc_id,
       |    cast(round(idf.idf_mu * ((tf.tf * 2.2) /
       |      (tf.tf + 1.2 * (0.25 + 0.75 *
       |        cast(dl.dl * s.n AS double) / cast(s.sumdl AS double))))) AS bigint) AS t_mu
       |  FROM ${p}tf tf
       |  JOIN ${p}idf idf ON idf.term = tf.term
       |  JOIN ${p}dl dl ON dl.doc_id = tf.doc_id
       |  JOIN ${p}q q ON q.term = tf.term, ${p}stats s),
       |${p}sc AS (SELECT query_id, doc_id, sum(t_mu) AS score_mu FROM ${p}ts GROUP BY 1, 2),
       |${p}ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_mu DESC, doc_id) AS rank
       |  FROM ${p}sc)""".stripMargin
  }

  private lazy val bm25Oracle: Option[String] = Some {
    s"""WITH ${bm25CtesSql("")}
       |SELECT cast(query_id AS int) AS query_id, doc_id,
       |  cast(score_mu AS bigint) AS score_mu, cast(rank AS bigint) AS rank
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** md5-derived token bucket 0..63 — the same hex-digit position-lookup
    * construction as docs_sample_stratified, so both engines agree
    * byte-for-byte.
    */
  private[operators] val BucketSpark =
    "((instr('0123456789abcdef', substr(md5(term), 31, 1)) - 1) * 16 + " +
      "(instr('0123456789abcdef', substr(md5(term), 32, 1)) - 1)) % 64"
  private[operators] val BucketDuck =
    "((strpos('0123456789abcdef', substr(md5(term), 31, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substr(md5(term), 32, 1)) - 1)) % 64"

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by the log-likelihood ratio of a TARGET domain's hashed
    * unigram model over the RAW corpus model — here target = the English
    * slice, features = 64 md5 token buckets, add-1 smoothing. Documents
    * that look like the target get positive weight; resampling by these
    * weights shifts a 100 TB crawl toward the target distribution.
    *
    * Scale shape: the two n-gram models are 64-key aggregates with
    * map-side combine; model totals ride the 1-row computed-key
    * broadcast; the per-token model lookup is a 64-row broadcast join
    * (map-side), so the only corpus shuffle is the final per-document
    * sum on doc_id. Per-bucket llr is quantized to integer micro-units,
    * making each document's weight an integer sum — engine- and
    * partition-order-independent.
    */
  /** The DSIR per-document weight frame (doc_id, n_tokens, w_mu) — the
    * body of `docs_dsir_weight`, shared with the ESS diagnostic below.
    */
  def dsirWeights(s: SparkSession, d: String): DataFrame =
    dsirWeightsWithModel(s, d, dsirLlrOf(s, d))

  private def dsirTok(s: SparkSession, d: String): DataFrame =
    // explode_outer keeps empty documents (null term → null bucket →
    // null llr), so no corpus-keyed join-back is needed for them.
    docs(s, d)
      .select(col("doc_id"), col("lang"), explode_outer(tokens).as("term"))
      .withColumn("bk", expr(BucketSpark))

  /** The trained DSIR model: the 64-row (bucket, llr_mu) table — the
    * target-vs-raw hashed-unigram log-likelihood ratios.
    */
  private[operators] def dsirLlrOf(s: SparkSession, d: String): DataFrame = {
      val tok = dsirTok(s, d)
      val cr = tok.filter(col("term").isNotNull).groupBy("bk").agg(count(lit(1)).as("cr"))
      val ct = tok
        .filter(col("term").isNotNull && col("lang") === "en")
        .groupBy("bk")
        .agg(count(lit(1)).as("ct"))
      val dim0 = cr
        .join(ct, Seq("bk"), "left")
        .select(col("bk"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      val tot = dim0.agg(sum("cr").as("tr"), sum("ct").as("tt"))
      val dim = dim0
        .withColumn("j", (col("cr") - col("cr") + 1).cast("int"))
        .join(
          broadcast(
            tot.select((col("tr") - col("tr") + 1).cast("int").as("j"), col("tr"), col("tt"))
          ),
          Seq("j")
        )
        .select(
          col("bk"),
          // Double-first multiply: a long×long product of two corpus-scale
          // token counts overflows at 100 TB (ANSI mode would throw);
          // IEEE double multiply of the same operands is engine-exact.
          round(
            log(
              ((col("ct") + 1).cast("double") * (col("tr") + 64).cast("double")) /
                ((col("cr") + 1).cast("double") * (col("tt") + 64).cast("double"))
            ) * 1e6
          ).cast("long").as("llr_mu")
        )
      dim
  }

  /** Weighting under an EXPLICIT (bk, llr_mu) model — the seam the
    * persisted-model twin loads through ([[ModelStore]]).
    */
  private[operators] def dsirWeightsWithModel(
      s: SparkSession,
      d: String,
      llr: DataFrame
  ): DataFrame =
    dsirTok(s, d)
      .join(broadcast(llr), Seq("bk"), "left")
      .groupBy("doc_id")
      .agg(
        count(col("term")).cast("long").as("n_tokens"),
        coalesce(sum("llr_mu"), lit(0L)).cast("long").as("w_mu")
      )

  /** Persisted-model twin: the 64-row llr model round-trips through a
    * parquet model table before weighting. Shares `docs_dsir_weight`'s
    * oracle verbatim; registered via [[ModelStore]].
    */
  def dsirStoredOf(s: SparkSession, d: String, path: String): DataFrame = {
    dsirLlrOf(s, d).coalesce(1).write.mode("overwrite").parquet(path)
    dsirWeightsWithModel(s, d, s.read.parquet(path))
  }

  /** The DSIR oracle SELECT, shared with the ESS diagnostic. */
  private[operators] val DsirOracleSql =
    s"""WITH base AS (SELECT doc_id, lang, $NormSql AS ws FROM documents),
         |tok AS (
         |  SELECT doc_id, lang, term, $BucketDuck AS bk
         |  FROM (SELECT doc_id, lang, unnest(ws) AS term FROM base) _t),
         |cr AS (SELECT bk, count(*) AS cr FROM tok GROUP BY 1),
         |ct AS (SELECT bk, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
         |dim AS (SELECT cr.bk, cr.cr, coalesce(ct.ct, 0) AS ct FROM cr LEFT JOIN ct USING (bk)),
         |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM dim),
         |llr AS (
         |  SELECT bk,
         |    cast(round(ln((cast(ct + 1 AS double) * cast(tr + 64 AS double)) /
         |      (cast(cr + 1 AS double) * cast(tt + 64 AS double))) * 1e6) AS bigint) AS llr_mu
         |  FROM dim, tot),
         |agg AS (
         |  SELECT tok.doc_id, cast(count(*) AS bigint) AS n_tokens,
         |    cast(sum(llr.llr_mu) AS bigint) AS w_mu
         |  FROM tok JOIN llr USING (bk) GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.w_mu, 0) AS w_mu
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  private val dsir = Q("docs_dsir_weight", (s, d) => dsirWeights(s, d), Some(DsirOracleSql))

  /** Kish effective sample size of the DSIR importance weights (Kish
    * 1965: ESS = (Σw)²/Σw²) — THE go/no-go diagnostic before importance
    * resampling: weights so skewed that a handful of documents carry
    * all the mass make the resampled corpus tiny no matter how many raw
    * documents went in. Log-weights are clipped at ±20 nats (the
    * standard guard: one unclipped outlier otherwise IS the sample),
    * exponentiated, and quantized to integer micro-units per document
    * BEFORE the sums, so both Σw and Σw² are exact decimal(38,0)
    * integer sums — engine- and partition-order-independent (the
    * docs_ppl_holdout discipline). One double division at the end,
    * quantized to centi-units.
    *
    * Scale shape: the weight frame's own shape (vocab-bounded joins),
    * then ONE map pass + ONE one-row aggregate.
    */
  private val essQ = Q(
    "docs_ess_weights",
    (s, d) =>
      dsirWeights(s, d)
        .withColumn(
          "wq",
          round(exp(least(greatest(col("w_mu"), lit(-20000000L)), lit(20000000L)).cast("double") / 1e6) * 1e6)
            .cast("decimal(38,0)")
        )
        .agg(
          count(lit(1)).as("n_docs"),
          sum("wq").as("s1"),
          sum(expr("wq * wq")).as("s2")
        )
        .select(
          col("n_docs"),
          when(
            col("s2") > 0,
            round(col("s1").cast("double") * col("s1").cast("double") / col("s2").cast("double") * 100)
              .cast("long")
          ).as("ess_c"),
          when(
            col("s2") > 0,
            round(
              col("s1").cast("double") * col("s1").cast("double") / col("s2").cast("double") /
                col("n_docs").cast("double") * 1e4
            ).cast("long")
          ).as("ess_ratio_qm")
        ),
    Some(
      s"""WITH w AS (SELECT * FROM ($DsirOracleSql) _w),
         |q AS (
         |  SELECT CAST(round(exp(CAST(least(greatest(w_mu, -20000000), 20000000) AS DOUBLE) / 1e6) * 1e6) AS HUGEINT) AS wq
         |  FROM w),
         |s AS (SELECT count(*) AS n_docs, sum(wq) AS s1, sum(wq * wq) AS s2 FROM q)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CASE WHEN s2 > 0 THEN CAST(round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(s2 AS DOUBLE) * 100) AS BIGINT) END AS ess_c,
         |  CASE WHEN s2 > 0 THEN CAST(round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(s2 AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e4) AS BIGINT) END AS ess_ratio_qm
         |FROM s""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(tfidf, bm25, dsir, essQ)
}
