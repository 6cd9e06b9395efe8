package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators: deduplication (exact, MinHash-LSH,
  * SimHash, n-gram Jaccard), similarity search (brute-force + sign-LSH
  * ANN), and text analysis (language ID, quality scoring, token stats,
  * fingerprinting) over the `documents` / `embeddings` tables.
  *
  * Scale notes: every dedup variant is blocking/banding based — candidates
  * come from equi-joins on hash-bounded bucket keys, never an all-pairs
  * product; the ANN scale path buckets by sign-LSH before scoring. The
  * corpus used by the dedup queries injects exact and near duplicates
  * deterministically so the operators have non-trivial work to find.
  */
object LlmQueries {

  private val MinhashK = 12
  private[operators] val Bands = 4
  private[operators] val Rows = 3

  /** documents + injected duplicates: every 10th doc repeated verbatim
    * (id+100000) and every (10th+5) doc with a tail perturbation
    * (id+200000).
    */
  def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val exact = docs
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val near = docs
      .filter(col("doc_id") % 10 === 5)
      .select(
        (col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" extra tail words appended here")).as("text")
      )
    docs.union(exact).union(near)
  }

  private[operators] val CorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' extra tail words appended here' FROM documents WHERE doc_id % 10 = 5
      |)""".stripMargin

  private[operators] def normSql(x: String) =
    s"lower(trim(regexp_replace($x, '\\s+', ' ', 'g')))"

  /** The docs_quality composite score (length saturation × non-punct
    * fraction) — shared by the per-document scorer and the cross-source
    * quantile normalizer so the two cannot drift.
    */
  private[operators] def qualityExpr(t: Column): Column =
    least(size(words(t)).cast("double") / 100, lit(1.0)) *
      (lit(1.0) - length(regexp_replace(t, "[^\\p{P}]", "")).cast("double") / length(t))

  /** DuckDB mirror of `TextFunctions.languageId` — (max-hits expression,
    * CASE chain over an `mx` alias). ONE definition shared by the
    * docs_langid oracle and the confusion-matrix eval so the two SQL
    * mirrors cannot drift from each other when the heuristic changes.
    */
  private[operators] def langidPredDuck: (String, String) = langidPredDuckOn("text")

  /** [[langidPredDuck]] over an arbitrary column/expression (the
    * per-paragraph query scores exploded lines, not `text`).
    */
  private[operators] def langidPredDuckOn(colName: String): (String, String) = {
    val hits = graft.functions.TextFunctions.StopwordSets.map { case (lang, set) =>
      val arr = set.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"len(list_intersect(string_split(${normSql(colName)}, ' '), $arr))"
    }
    val maxExpr = s"greatest(${hits.map(_._2).mkString(", ")})"
    val chain = hits
      .map { case (lang, h) => s"WHEN $h = mx AND mx > 0 THEN '$lang'" }
      .mkString(" ")
    (maxExpr, chain)
  }

  /** Shingles + two-hash MinHash signature + band hashes in DuckDB. */
  private[operators] val SigSql: String = {
    val shing =
      s"CASE WHEN len(ws) >= 3 THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')) ELSE [norm] END"
    val hashed =
      "list_transform(shingles, s -> struct_pack(" +
        "h1 := ('0x' || substr(md5(s), 1, 12))::bigint, " +
        "h2 := ('0x' || substr(md5(s), 13, 12))::bigint))"
    val sig = (0 until MinhashK)
      .map(j =>
        s"list_aggregate(list_transform(hashed, p -> (p.h1 + $j * p.h2) % 281474976710655), 'min')"
      )
      .mkString("[", ", ", "]")
    val bands = (0 until Bands)
      .map { b =>
        val parts = (0 until Rows)
          .map(r => s"cast(sig[${b * Rows + r + 1}] as varchar)")
          .mkString(" || '|' || ")
        s"md5($parts)"
      }
      .mkString("[", ", ", "]")
    s"""n AS (SELECT doc_id, ${normSql("text")} AS norm FROM corpus),
       |w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM n),
       |sh AS (SELECT doc_id, $shing AS shingles FROM w),
       |hx AS (SELECT doc_id, $hashed AS hashed FROM sh),
       |sg AS (SELECT doc_id, $sig AS sig FROM hx),
       |bd AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_id, $bands AS bands FROM sg),
       |bh AS (SELECT doc_id, band_id, bands[band_id + 1] AS band_hash FROM bd),
       |pairs AS (
       |  SELECT b1.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bh b1 JOIN bh b2
       |    ON b1.band_id = b2.band_id AND b1.band_hash = b2.band_hash AND b1.doc_id < b2.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  /** MinHash-LSH candidate pairs as a DataFrame (shared by two queries).
    * The shingle array is materialized once per document (a projection
    * boundary — without it each of the k minhash expressions re-shingles
    * the text), and the exploded band table is persisted so the self-join
    * reads it once instead of recomputing k md5 passes per side.
    */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsOf(corpus(s, d))

  /** Bucket-population cap for every LSH candidate family member (MinHash
    * bands, sign-LSH embeddings, SimHash segments) — same role as
    * [[Dedup.MaxBlockSize]] plays for record-dedup blocking keys. A
    * within-bucket self-join is quadratic in bucket size; on a
    * duplicate-heavy web corpus one boilerplate page can place 10⁵⁺
    * near-identical copies in the same bucket, and nothing else bounds
    * bucket size. Buckets above the cap are excluded from pairwise
    * candidate generation (a recall trade, surfaced by the
    * `docs_minhash_heavy_buckets` diagnostic); clustering instead keeps
    * heavy buckets via star edges (see [[LlmQueries8.neardupClusters]]),
    * which preserve connected components at O(bucket) edges.
    */
  val MaxBucketSize = 1000

  /** Exploded (doc_id, band_id, band_hash) LSH band table. With
    * `persist = true` (default) it is EAGERLY checkpointed through
    * [[graft.Lineage.checkpoint]] — it feeds both self-join sides plus
    * the heavy-bucket count, so it is computed once, and the checkpoint
    * JOB RUNS INSIDE THIS CALL (not lazily at the caller's first action).
    * Release contract: `spark.catalog.clearCache()` does NOT free
    * checkpoint storage — the consumer must call
    * `graft.Lineage.releaseHeld()` after its action (Verify/Bench/
    * Profile do, per query); long-lived callers outside that loop (e.g.
    * the incremental corpus side) hold it until someone releases.
    * Pass `persist = false` for single-use band tables (e.g. the delta
    * side of incremental matching inside a long-running stream, where a
    * per-batch checkpoint would leak blocks).
    */
  def bandTableOf(docs: DataFrame, persist: Boolean = true): DataFrame = {
    // Native single-pass signature kernel (MinHashSigExpr) — semantically
    // identical to signatureFromHashes(shingleHashes(shingles(text, 3)), k)
    // (asserted by MinHashSigSpec); one digest per shingle, no
    // intermediate shingle/struct arrays.
    import org.apache.spark.sql.GraftColumn
    import graft.plans.MinHashSigExpr
    val sig = docs.select(
      col("doc_id"),
      GraftColumn
        .of(MinHashSigExpr(GraftColumn.exprOf(col("text")), MinhashK, 3))
        .as("sig")
    )
    val bands = sig
      .select(col("doc_id"), posexplode(lshBands(col("sig"), Bands, Rows)))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))
    // Eager checkpoint, not lazy persist (round-13 profiling): the heavy
    // census broadcast AND both self-join map sides each re-ran the full
    // MinHash signature pass from parquet — three identical ~14 s
    // 96-task stages at sf0.1 — because the lazily-persisted frame was
    // consumed by concurrently-materialized query stages before any of
    // them populated the cache. One eager materialization; consumers
    // read blocks. Released via Lineage.releaseHeld (Verify/Bench per
    // query), same contract as the other checkpointing operators.
    if (persist)
      graft.Lineage.checkpoint(bands).df
    else bands
  }

  /** (band_id, band_hash, n, rep) for buckets with more than `cap`
    * members; `rep` is the bucket's min doc_id (the star-edge hub for
    * clustering). Heavy buckets are rare by definition (at most
    * corpus/cap of them), so the map-side-combinable groupBy on the
    * narrow key produces a broadcastable frame. Only callers that need
    * the heavy buckets themselves use it (star edges, the diagnostic);
    * a plain cap is [[Skew.capHeavy]].
    */
  def heavyBandBuckets(bandTable: DataFrame, cap: Int): DataFrame =
    bandTable
      .groupBy("band_id", "band_hash")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
      .filter(col("n") > cap)

  /** The LSH candidate pipeline over any (doc_id, text) frame — shared by
    * the registered query and ScaleProbe. Buckets larger than
    * `maxBucketSize` are dropped from pair generation via a broadcast
    * anti-join (quadratic-fanout guard; recall trade surfaced by the
    * heavy-bucket diagnostic). The cap never fires on the test corpus, so
    * the oracle needs no mirror of it.
    */
  /** Multi-probe candidate pairs: the drop-one-row partial-band keys of
    * [[graft.functions.TextFunctions.lshProbeBands]] instead of the full
    * band hashes. A full-band collision implies collision on every
    * partial key, so (heavy-bucket caps aside) this candidate set is a
    * SUPERSET of [[minhashPairsOf]]'s — the recall-vs-precision trade is
    * certified by `docs_dedup_eval_multiprobe`. Same scale shape: one
    * persisted exploded key table, broadcast heavy-bucket cap (partial
    * keys are shorter, so the cap matters MORE here), one equi-self-join.
    */
  def minhashProbePairsOf(docs: DataFrame, maxBucketSize: Int = MaxBucketSize): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    import graft.plans.MinHashSigExpr
    val sig = docs.select(
      col("doc_id"),
      GraftColumn
        .of(MinHashSigExpr(GraftColumn.exprOf(col("text")), MinhashK, 3))
        .as("sig")
    )
    // Eager checkpoint for the same reason as [[bandTableOf]]: census +
    // two join sides would otherwise each replay the signature pass.
    val pt = graft.Lineage.checkpoint(
      sig
        .select(col("doc_id"), explode(lshProbeBands(col("sig"), Bands, Rows)).as("e"))
        .select(col("doc_id"), col("e.band_id"), col("e.drop_pos"), col("e.p_hash"))
    ).df
    val capped = Skew.capHeavy(pt, Seq("band_id", "drop_pos", "p_hash"), maxBucketSize)
    val b1 = capped.select(col("doc_id").as("doc_a"), col("band_id"), col("drop_pos"), col("p_hash"))
    val b2 = capped.select(col("doc_id").as("doc_b"), col("band_id"), col("drop_pos"), col("p_hash"))
    b1.join(b2, Seq("band_id", "drop_pos", "p_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  def minhashPairsOf(docs: DataFrame, maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val capped = Skew.capHeavy(bandTableOf(docs), Seq("band_id", "band_hash"), maxBucketSize)
    val b1 = capped.select(col("doc_id").as("doc_a"), col("band_id"), col("band_hash"))
    val b2 = capped.select(col("doc_id").as("doc_b"), col("band_id"), col("band_hash"))
    b1.join(b2, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  val all: Seq[Q] = Seq(
    Q(
      "docs_exact_dedup",
      (s, d) => {
        val hashed = corpus(s, d)
          .select(col("doc_id"), md5(normalizeText(col("text"))).as("text_hash"))
        import org.apache.spark.sql.expressions.Window
        hashed.select(
          col("doc_id"),
          min(col("doc_id")).over(Window.partitionBy("text_hash")).as("keep_id"),
          col("text_hash")
        )
      },
      Some(
        s"""WITH $CorpusSql
           |SELECT doc_id,
           |  min(doc_id) OVER (PARTITION BY md5(${normSql("text")})) AS keep_id,
           |  md5(${normSql("text")}) AS text_hash
           |FROM corpus""".stripMargin
      ),
      bench = true
    ),
    Q(
      "docs_minhash_pairs",
      (s, d) => minhashPairs(s, d),
      Some(s"WITH $CorpusSql, $SigSql SELECT doc_a, doc_b FROM pairs"),
      bench = true
    ),
    Q(
      // Heavy-bucket diagnostic: the buckets the MaxBucketSize cap would
      // sacrifice recall on. Run with cap=1 here so the operator has real
      // output on the test corpus (every injected exact duplicate makes a
      // ≥2-member bucket); production runs it at the pairing cap to audit
      // exactly which boilerplate clusters were excluded from pairwise
      // candidates (they still cluster via star edges).
      "docs_minhash_heavy_buckets",
      (s, d) =>
        heavyBandBuckets(bandTableOf(corpus(s, d)), 1)
          .select(col("band_id"), col("band_hash"), col("n"), col("rep")),
      Some(
        s"""WITH $CorpusSql, $SigSql
           |SELECT cast(band_id as int) AS band_id, band_hash,
           |  count(*) AS n, min(doc_id) AS rep
           |FROM bh GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin
      )
    ),
    Q(
      "docs_jaccard_pairs",
      (s, d) => {
        val wordSets = corpus(s, d)
          .select(col("doc_id"), array_distinct(words(col("text"))).as("wset"))
        minhashPairs(s, d)
          .join(wordSets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("wset", "wa"), Seq("doc_a"))
          .join(wordSets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("wset", "wb"), Seq("doc_b"))
          .select(
            col("doc_a"),
            col("doc_b"),
            round(
              size(array_intersect(col("wa"), col("wb"))).cast("double") /
                size(array_distinct(concat(col("wa"), col("wb")))),
              4
            ).as("jaccard")
          )
      },
      Some(
        s"""WITH $CorpusSql, $SigSql,
           |wsets AS (SELECT doc_id, list_distinct(string_split(${normSql("text")}, ' ')) AS wset FROM corpus)
           |SELECT p.doc_a, p.doc_b,
           |  round(cast(len(list_intersect(a.wset, b.wset)) as double) /
           |        len(list_distinct(list_concat(a.wset, b.wset))), 4) AS jaccard
           |FROM pairs p
           |JOIN wsets a ON p.doc_a = a.doc_id
           |JOIN wsets b ON p.doc_b = b.doc_id""".stripMargin
      )
    ),
    Q(
      "docs_simhash",
      (s, d) =>
        Tables
          .documents(s, d)
          .select(col("doc_id"), simhash(col("text"), 32).as("simhash_bits")),
      Some {
        val bit =
          "cast(floor((strpos('0123456789abcdef', substr(md5(w), cast((b - (b % 4)) / 4 as int) + 1, 1)) - 1) / ([8,4,2,1])[(b % 4) + 1]) as int) % 2"
        s"""WITH n AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws FROM documents)
           |SELECT doc_id,
           |  array_to_string(list_transform(range(0, 32), b ->
           |    CASE WHEN list_sum(list_transform(ws, w -> ($bit) * 2 - 1)) >= 0
           |         THEN '1' ELSE '0' END), '') AS simhash_bits
           |FROM n""".stripMargin
      }
    ),
    Q(
      "docs_langid",
      (s, d) =>
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            col("lang"),
            languageId(col("text")).as("pred_lang")
          ),
      Some {
        val (maxExpr, chain) = langidPredDuck
        s"""WITH t AS (SELECT doc_id, lang, text, $maxExpr AS mx FROM documents)
           |SELECT doc_id, lang, (CASE $chain ELSE 'und' END) AS pred_lang FROM t""".stripMargin
      }
    ),
    Q(
      // Per-paragraph language ID + per-document majority rollup (the
      // CCNet shape — Wenzek et al. 2020 segment at newline level, score
      // each segment, and route/flag mixed-language documents): explode
      // non-empty lines, languageId each, majority by (count desc, lang
      // asc) with the dominant fraction in exact per-mille; is_mixed
      // flags documents whose majority covers under 700 permille of
      // paragraphs. Scale shape: line explode then a (doc_id, lang)
      // aggregation — bounded keys, map-side combinable — and two
      // per-doc windows over the tiny counts table.
      "docs_langid_paragraphs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, d)
        val lines =
          filter(split(coalesce(col("text"), lit("")), "\n"), l => trim(l) =!= "")
        val counts = base
          .select(col("doc_id"), explode(lines).as("para"))
          .select(col("doc_id"), languageId(col("para")).as("lang"))
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n"))
        val byDoc = Window.partitionBy("doc_id")
        val rank = Window.partitionBy("doc_id").orderBy(col("n").desc, col("lang").asc)
        val m = counts
          .withColumn("rn", row_number().over(rank))
          .withColumn("n_paras", sum("n").over(byDoc))
          .withColumn("n_langs", count(lit(1)).over(byDoc))
          .filter(col("rn") === 1)
          .select(
            col("doc_id"),
            col("lang").as("majority_lang"),
            col("n_paras"),
            col("n_langs"),
            expr("(n * 1000) div n_paras").as("majority_permille")
          )
        base
          .select("doc_id")
          .join(m, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("majority_lang"), lit("und")).as("majority_lang"),
            coalesce(col("n_paras"), lit(0L)).as("n_paras"),
            coalesce(col("n_langs"), lit(0L)).as("n_langs"),
            coalesce(col("majority_permille"), lit(0L)).as("majority_permille")
          )
          .withColumn("is_mixed", col("n_paras") > 0 && col("majority_permille") < 700)
      },
      Some {
        val (maxExpr, chain) = langidPredDuckOn("para")
        s"""WITH lx AS (
           |  SELECT doc_id,
           |    unnest(list_filter(string_split(coalesce(text, ''), chr(10)), l -> trim(l) != '')) AS para
           |  FROM documents),
           |sc AS (SELECT doc_id, para, $maxExpr AS mx FROM lx),
           |lng AS (SELECT doc_id, (CASE $chain ELSE 'und' END) AS lang FROM sc),
           |counts AS (SELECT doc_id, lang, count(*) AS n FROM lng GROUP BY 1, 2),
           |agg AS (
           |  SELECT doc_id, lang, n,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lang ASC) AS rn,
           |    sum(n) OVER (PARTITION BY doc_id) AS n_paras,
           |    count(*) OVER (PARTITION BY doc_id) AS n_langs
           |  FROM counts),
           |m AS (
           |  SELECT doc_id, lang AS majority_lang, n_paras, n_langs,
           |    (n * 1000) // n_paras AS majority_permille
           |  FROM agg WHERE rn = 1)
           |SELECT d.doc_id,
           |  coalesce(m.majority_lang, 'und') AS majority_lang,
           |  cast(coalesce(m.n_paras, 0) as bigint) AS n_paras,
           |  cast(coalesce(m.n_langs, 0) as bigint) AS n_langs,
           |  cast(coalesce(m.majority_permille, 0) as bigint) AS majority_permille,
           |  (coalesce(m.n_paras, 0) > 0 AND coalesce(m.majority_permille, 0) < 700) AS is_mixed
           |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin
      }
    ),
    Q(
      "docs_quality",
      (s, d) => {
        val t = col("text")
        val ws = words(t)
        val nWords = size(ws)
        val punct = length(regexp_replace(t, "[^\\p{P}]", ""))
        val digits = length(regexp_replace(t, "[^0-9]", ""))
        val stops = stopwordHits(ws, StopwordSets.head._2)
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            length(t).as("n_chars"),
            nWords.as("n_words"),
            round(punct.cast("double") / length(t), 4).as("punct_ratio"),
            round(digits.cast("double") / length(t), 4).as("digit_ratio"),
            round(stops.cast("double") / nWords, 4).as("stop_ratio"),
            round(qualityExpr(t), 4).as("quality")
          )
      },
      Some {
        val en = StopwordSets.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
        val ws = s"string_split(${normSql("text")}, ' ')"
        s"""SELECT doc_id, length(text) AS n_chars, len($ws) AS n_words,
           |  round(cast(length(regexp_replace(text, '[^\\p{P}]', '', 'g')) as double) / length(text), 4) AS punct_ratio,
           |  round(cast(length(regexp_replace(text, '[^0-9]', '', 'g')) as double) / length(text), 4) AS digit_ratio,
           |  round(cast(len(list_intersect($ws, $en)) as double) / len($ws), 4) AS stop_ratio,
           |  round(least(cast(len($ws) as double) / 100, 1.0) *
           |        (1.0 - cast(length(regexp_replace(text, '[^\\p{P}]', '', 'g')) as double) / length(text)), 4) AS quality
           |FROM documents""".stripMargin
      }
    ),
    Q(
      // Cross-source quantile normalization of the quality score — the
      // step that makes per-source thresholds comparable when sources
      // were scored by heterogeneous signals (the FineWeb-style mix):
      // each document gets its within-source percentile. The naive form
      // is `percent_rank() OVER (PARTITION BY source)` — a per-source
      // TOTAL order that sorts the dominant source on one task at
      // 100 TB. Here the score is integerized (×10⁴, the docs_quality
      // rounding), so percentiles come from a BOUNDED (source, cell)
      // histogram: cumulative counts over ≤ sources×10⁴ rows, broadcast,
      // then a map-only join. Permyriad = (below·10⁴) div n — pure
      // integer arithmetic, no float rank to disagree across engines.
      // The oracle keeps the naive window form (the TopK contrast).
      "docs_quality_qnorm",
      (s, d) => {
        val base = Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            col("source"),
            round(qualityExpr(col("text")) * 10000).cast("long").as("q4")
          )
        val hist = base.groupBy("source", "q4").agg(count(lit(1)).as("c"))
        val bySrc = Window.partitionBy("source").orderBy(col("q4").asc)
        val cells = hist
          .withColumn(
            "below",
            coalesce(
              sum(col("c")).over(bySrc.rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)
            )
          )
          .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
          .select("source", "q4", "below", "n")
        base
          .join(broadcast(cells), Seq("source", "q4"))
          .select(
            col("doc_id"),
            col("source"),
            col("q4"),
            expr("(below * 10000) div n").as("pct_permyriad")
          )
      },
      Some {
        val q =
          s"""round((least(cast(len(string_split(${normSql("text")}, ' ')) as double) / 100, 1.0) *
             |    (1.0 - cast(length(regexp_replace(text, '[^\\p{P}]', '', 'g')) as double) / length(text))) * 10000)""".stripMargin
        s"""WITH b AS (
           |  SELECT doc_id, source, cast($q as bigint) AS q4 FROM documents),
           |r AS (
           |  SELECT doc_id, source, q4,
           |    count(*) OVER (PARTITION BY source ORDER BY q4
           |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below,
           |    count(*) OVER (PARTITION BY source) AS n
           |  FROM b)
           |SELECT doc_id, source, q4, (below * 10000) // n AS pct_permyriad FROM r""".stripMargin
      }
    ),
    Q(
      "docs_token_stats",
      (s, d) => {
        val t = col("text")
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            size(split(trim(t), "\\s+")).as("ws_tokens"),
            tokenCount(t).as("bpe_tokens"),
            round(length(t).cast("double") / tokenCount(t), 4).as("chars_per_token")
          )
      },
      Some(
        """SELECT doc_id,
          |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
          |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_tokens,
          |  round(cast(length(text) as double) / len(regexp_extract_all(text, '\w+|[^\w\s]')), 4) AS chars_per_token
          |FROM documents""".stripMargin
      )
    ),
    Q(
      "docs_fingerprint",
      (s, d) => {
        val fp = fingerprintHashes(col("text"), 8)
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            array_min(fp).as("fp_min"),
            array_join(
              transform(slice(array_sort(fp), 1, 3), _.cast("string")),
              ","
            ).as("fp_sketch")
          )
      },
      Some {
        val fp = fingerprintHashesSql(normSql("text"))
        s"""SELECT doc_id,
           |  list_aggregate($fp, 'min') AS fp_min,
           |  array_to_string(list_sort($fp)[1:3], ',') AS fp_sketch
           |FROM documents""".stripMargin
      }
    ),
    Q(
      "knn_cosine",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // Brute-force cosine against every query vector is a per-row
        // kernel on the scan — fan the single-row-group input out
        // (measured 0.61 → 0.40 s at sf0.1; no-op at cluster scale).
        val emb = Tables.fanOutForCpu(Tables.embeddings(s, d))
        val queries = emb
          .filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val scored = emb
          .join(broadcast(queries), col("vec_id") =!= col("query_id"))
          .select(
            col("query_id"),
            col("vec_id").as("neighbor_id"),
            round(cosine(col("qvec"), col("embedding")), 6).as("score")
          )
        val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
        scored
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
      },
      Some(
        """WITH q AS (SELECT vec_id AS query_id, cast(embedding AS double[]) AS qvec
          |           FROM embeddings WHERE vec_id < 5),
          |scored AS (
          |  SELECT q.query_id, e.vec_id AS neighbor_id,
          |    round(list_dot_product(q.qvec, cast(e.embedding as double[])) /
          |          (sqrt(list_dot_product(q.qvec, q.qvec)) *
          |           sqrt(list_dot_product(cast(e.embedding as double[]), cast(e.embedding as double[])))), 6) AS score
          |  FROM embeddings e JOIN q ON e.vec_id != q.query_id
          |),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          |  FROM scored
          |)
          |SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 10""".stripMargin
      ),
      bench = true
    ),
    Q(
      "ann_lsh",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables
          .embeddings(s, d)
          .select(
            col("vec_id"),
            col("embedding"),
            signLshBucket(col("embedding"), 8).as("bucket")
          )
        val queries = emb
          .filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("bucket"))
        val cand = emb
          .join(queries, Seq("bucket"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(
            col("query_id"),
            col("vec_id").as("neighbor_id"),
            round(cosine(col("qvec"), col("embedding")), 6).as("score")
          )
        val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
        cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      },
      Some {
        val weight =
          "(strpos('0123456789abcdef', substr(md5(cast(p as varchar) || ':' || cast(dd - 1 as varchar)), 1, 1)) - 1 - 7.5)"
        val bucket =
          s"array_to_string(list_transform(range(0, 8), p -> CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), dd -> (cast(embedding as double[]))[dd] * $weight)) >= 0 THEN '1' ELSE '0' END), '')"
        s"""WITH b AS (SELECT vec_id, cast(embedding as double[]) AS vec, $bucket AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, vec AS qvec, bucket FROM b WHERE vec_id < 5),
           |cand AS (
           |  SELECT q.query_id, e.vec_id AS neighbor_id,
           |    round(list_dot_product(q.qvec, e.vec) /
           |          (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(e.vec, e.vec))), 6) AS score
           |  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id != q.query_id
           |),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM cand)
           |SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5""".stripMargin
      }
    ),
    Q(
      "parse_json_records",
      (s, d) =>
        Tables
          .events(s, d)
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("int").as("k_value")
          ),
      Some(
        """SELECT event_id, cast(json_extract_string(props, '$.k') as int) AS k_value
          |FROM events""".stripMargin
      )
    )
  )
}
