package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions.words
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond the reference's record surface: the
  * named Gopher quality-rule set (Rae et al. 2021, "Scaling Language
  * Models", Appendix A), exact duplicated-substring span detection
  * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  * Better" — the ExactSubstr dedup), CCNet-style per-language
  * perplexity bucketing (Wenzek et al. 2020), and a composed
  * filter-chain attrition funnel (the per-stage kept/dropped report
  * every production curation run emits).
  *
  * Scale shapes:
  *  - Gopher rules are map-only (zero shuffles): every rule is an
  *    integer comparison over per-document token statistics. All
  *    thresholds are evaluated in INTEGER arithmetic (e.g. mean word
  *    length in [3,10] is `3*n <= chars && chars <= 10*n`), so no
  *    float boundary can flip a flag between engines — and at scale no
  *    division sits in the hot loop.
  *  - Duplicate-span detection explodes fixed-length character grams
  *    (G=40, stride 1 here; production at 100 TB uses stride S anchors,
  *    which detect every duplicated span of length >= G+S-1 at 1/S the
  *    row count). The gram aggregate keys on gram content (bounded by
  *    distinct content, map-side combined); the join back to positions
  *    is fact-to-unique-dimension (never quadratic — a boilerplate gram
  *    with 10^6 occurrences contributes 10^6 rows, not 10^12). Interval
  *    merging is a per-document gaps-and-islands window — partitioned
  *    on doc_id, bounded by document length, never a global sort.
  *  - Perplexity bucketing is the docs_lm_score unigram shape (two
  *    vocab-bounded aggregates + a 1-row broadcast total) plus one
  *    per-language window; scores are rounded BEFORE ranking and ties
  *    break on doc_id, so head/middle/tail cuts (integer-arithmetic
  *    3/7/10 deciles) are deterministic across engines and partitions.
  *  - The filter chain is one map-only conditional aggregation for the
  *    predicate stages plus one content-hash aggregate for the exact
  *    -dedup stage; output is O(stages) rows.
  */
object CurationQueries {

  private[graft] val G = 40

  /** Gopher stopword list (Rae et al. 2021 rule 8). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-rule boolean flags of the Gopher quality heuristics. A
    * production filter keeps rows where `pass`; emitting the flags
    * instead makes per-rule attrition observable (and testable).
    */
  private val gopherRules = Q(
    "docs_gopher_rules",
    (s, d) => {
      val t = coalesce(col("text"), lit(""))
      val ws = words(t)
      val nw = size(ws)
      // Sum of word lengths = normalized length minus separators.
      val wl = length(array_join(ws, ""))
      val lines = split(t, "\n")
      val nl = size(lines)
      val bulletLines = size(
        filter(
          lines,
          l => l.startsWith("•") || l.startsWith("- ") || l.startsWith("* ")
        )
      )
      val ellLines = size(filter(lines, l => l.endsWith("...")))
      val alphaWords = size(filter(ws, w => w.rlike("\\p{L}")))
      val hashes = length(t) - length(regexp_replace(t, "#", ""))
      val ellipses = (length(t) - length(replace(t, lit("..."), lit("")))) / 3
      val stops = size(array_intersect(ws, array(GopherStops.map(lit): _*)))
      Tables
        .documents(s, d)
        .select(
          col("doc_id"),
          nw.cast("long").as("n_words"),
          (nw >= 50 && nw <= 100000).as("word_count_ok"),
          (wl >= nw * 3 && wl <= nw * 10).as("mean_word_len_ok"),
          ((hashes + ellipses) * 10 < nw).as("symbol_ratio_ok"),
          (bulletLines * 10 <= nl * 9).as("bullet_ok"),
          (ellLines * 10 <= nl * 3).as("ellipsis_ok"),
          (alphaWords * 5 >= nw * 4).as("alpha_ok"),
          (stops >= 2).as("stopwords_ok")
        )
        .withColumn(
          "pass",
          col("word_count_ok") && col("mean_word_len_ok") &&
            col("symbol_ratio_ok") && col("bullet_ok") && col("ellipsis_ok") &&
            col("alpha_ok") && col("stopwords_ok")
        )
    },
    Some {
      val ws = "string_split(lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))), ' ')"
      val stops = GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id, coalesce(text, '') AS t, $ws AS ws,
         |    string_split(coalesce(text, ''), chr(10)) AS lines
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len(ws) AS nw,
         |    length(array_to_string(ws, '')) AS wl,
         |    len(lines) AS nl,
         |    len(list_filter(lines, l -> starts_with(l, chr(8226)) OR starts_with(l, '- ') OR starts_with(l, '* '))) AS bl,
         |    len(list_filter(lines, l -> ends_with(l, '...'))) AS el,
         |    len(list_filter(ws, w -> regexp_matches(w, '\\p{L}'))) AS aw,
         |    length(t) - length(regexp_replace(t, '#', '', 'g')) AS hashes,
         |    (length(t) - length(replace(t, '...', ''))) // 3 AS ellipses,
         |    len(list_intersect(ws, $stops)) AS stops
         |  FROM base)
         |SELECT doc_id, cast(nw AS bigint) AS n_words,
         |  nw >= 50 AND nw <= 100000 AS word_count_ok,
         |  wl >= nw * 3 AND wl <= nw * 10 AS mean_word_len_ok,
         |  (hashes + ellipses) * 10 < nw AS symbol_ratio_ok,
         |  bl * 10 <= nl * 9 AS bullet_ok,
         |  el * 10 <= nl * 3 AS ellipsis_ok,
         |  aw * 5 >= nw * 4 AS alpha_ok,
         |  stops >= 2 AS stopwords_ok,
         |  (nw >= 50 AND nw <= 100000) AND (wl >= nw * 3 AND wl <= nw * 10)
         |    AND ((hashes + ellipses) * 10 < nw) AND (bl * 10 <= nl * 9)
         |    AND (el * 10 <= nl * 3) AND (aw * 5 >= nw * 4) AND (stops >= 2) AS pass
         |FROM m""".stripMargin
    }
  )

  /** Merged spans of every character gram (length G) that occurs more
    * than once anywhere in the corpus — the regions ExactSubstr dedup
    * would cut. Runs over the duplicate-planted corpus so exact copies
    * surface as whole-document spans and near-copies as shared
    * prefixes.
    */
  private val duplicateSpans = Q(
    "docs_duplicate_spans",
    (s, d) => {
      val corpus = LlmQueries.corpus(s, d)
      // Docs shorter than G contribute no grams; filtering up front also
      // dodges the descending-sequence(1,0) trap on short texts.
      val grams = corpus
        .filter(length(col("text")) >= G)
        .select(
          col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - (G - 1))).as("pos"),
          col("text")
        )
        .select(col("doc_id"), col("pos"), col("text").substr(col("pos"), lit(G)).as("g"))
      val dup = grams.groupBy("g").agg(count(lit(1)).as("c")).filter(col("c") > 1).select("g")
      val occ = grams
        .join(dup, Seq("g"))
        .select(col("doc_id"), col("pos"), (col("pos") + (G - 1)).as("e"))
      val byPos = Window.partitionBy("doc_id").orderBy("pos")
      val prevMax =
        max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1))
      val isl = occ
        .withColumn(
          "ni",
          when(prevMax.isNull || col("pos") > prevMax + 1, 1L).otherwise(0L)
        )
        .withColumn(
          "island",
          sum(col("ni")).over(byPos.rowsBetween(Window.unboundedPreceding, 0))
        )
      isl
        .groupBy("doc_id", "island")
        .agg(min(col("pos")).as("span_start"), max(col("e")).as("span_end"))
        .select(
          col("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"),
          (col("span_end") - col("span_start") + 1).cast("long").as("span_len")
        )
    },
    Some {
      s"""WITH ${LlmQueries.CorpusSql},
         |grams AS (
         |  SELECT doc_id, pos, substr(text, pos, $G) AS g
         |  FROM (
         |    SELECT doc_id, text, unnest(range(1, length(text) - ${G - 2})) AS pos
         |    FROM corpus WHERE length(text) >= $G) _g),
         |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
         |occ AS (
         |  SELECT doc_id, pos, pos + ${G - 1} AS e FROM grams JOIN dup USING (g)),
         |isl AS (
         |  SELECT doc_id, pos, e,
         |    CASE WHEN max(e) OVER wprev IS NULL OR pos > max(e) OVER wprev + 1
         |      THEN 1 ELSE 0 END AS ni
         |  FROM occ
         |  WINDOW wprev AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |isl2 AS (
         |  SELECT doc_id, pos, e,
         |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM isl)
         |SELECT doc_id,
         |  cast(min(pos) AS bigint) AS span_start,
         |  cast(max(e) AS bigint) AS span_end,
         |  cast(max(e) - min(pos) + 1 AS bigint) AS span_len
         |FROM isl2 GROUP BY doc_id, island""".stripMargin
    }
  )

  /** Winnowing stride for the anchor-selected span variant. */
  private[graft] val SpanStride = 8

  /** Strided-anchor variant of `docs_duplicate_spans` — the 100-TB
    * shape its stride-1 scaladoc promises: instead of indexing EVERY
    * gram position, select content-defined ANCHOR grams by robust
    * winnowing (window = stride S over the per-position gram-hash
    * sequence, [[WinnowingQueries.winnowPositionsW]]), cutting the
    * exploded row count to the winnowing density ~2/(S+1) while keeping
    * a HARD guarantee: a duplicated region of length ≥ G+S−1 contains at
    * least one winnowing window FULLY inside it in both copies, and
    * selection within a fully-contained window depends only on content
    * (the rightmost-min tie-break is window-relative) — so both copies
    * select at least one identical anchor gram and the region is
    * detected (Schleimer, Wilkerson & Aiken 2003 §3, the MOSS guarantee
    * applied to dedup). Anchor intervals [pos, pos+G−1] then merge by
    * the same gaps-and-islands window as stride 1; consecutive anchors
    * inside a duplicated region are ≤ S < G apart, so they merge into
    * one island. Output spans are the anchor-supported
    * UNDER-approximation of the stride-1 spans: ~1/S the shuffled rows,
    * identical detection set for spans ≥ G+S−1 (certified by the
    * `stridedspans` probe's planted spans of exactly that length).
    */
  private val duplicateSpansStrided = Q(
    "docs_duplicate_spans_strided",
    (s, d) => stridedSpansOf(LlmQueries.corpus(s, d)),
    Some {
      s"""WITH ${LlmQueries.CorpusSql},
         |h AS (
         |  SELECT doc_id, text,
         |    list_transform(range(1, length(text) - ${G - 2}),
         |      p -> ('0x' || substr(md5(substr(text, p, $G)), 1, 12))::bigint) AS hs
         |  FROM corpus WHERE length(text) >= $G),
         |anch AS (
         |  SELECT doc_id, pos, substr(text, pos, $G) AS g
         |  FROM (SELECT doc_id, text,
         |          unnest(${WinnowingQueries.winnowPositionsSql("hs", SpanStride)}) AS pos
         |        FROM h) _a),
         |dup AS (SELECT g FROM anch GROUP BY g HAVING count(*) > 1),
         |occ AS (SELECT doc_id, pos, pos + ${G - 1} AS e FROM anch JOIN dup USING (g)),
         |isl AS (
         |  SELECT doc_id, pos, e,
         |    CASE WHEN max(e) OVER wprev IS NULL OR pos > max(e) OVER wprev + 1
         |      THEN 1 ELSE 0 END AS ni
         |  FROM occ
         |  WINDOW wprev AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |isl2 AS (
         |  SELECT doc_id, pos, e,
         |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM isl)
         |SELECT doc_id,
         |  cast(min(pos) AS bigint) AS span_start,
         |  cast(max(e) AS bigint) AS span_end,
         |  cast(max(e) - min(pos) + 1 AS bigint) AS span_len,
         |  cast(count(*) AS bigint) AS n_anchors
         |FROM isl2 GROUP BY doc_id, island""".stripMargin
    },
    bench2 = true
  )

  /** Winnowed anchor grams (doc_id, pos, g) of a (doc_id, text) frame —
    * the strided pipeline's exploded row set; exposed so the
    * `stridedspans` probe can report the anchor-vs-gram row-cost ratio.
    */
  private[graft] def anchorsOf(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    // Native one-pass kernel (r10): the composed HOF form below is the
    // specification, but it evaluates interpreted — one Catalyst tree
    // walk per gram position — and dominated the registry's bench; the
    // compiled expression is ~10× the throughput with identical output
    // (spec-asserted, and the unchanged oracle replays the composed
    // form, so the hash gate certifies the kernel every round).
    corpus
      .filter(length(col("text")) >= G)
      .select(
        col("doc_id"),
        col("text"),
        explode(
          GraftColumn.of(
            graft.plans.WinnowAnchorsExpr(GraftColumn.exprOf(col("text")), G, SpanStride)
          )
        ).as("pos")
      )
      .select(col("doc_id"), col("pos"), col("text").substr(col("pos"), lit(G)).as("g"))
  }

  /** The composed-builtin anchor selection — the cross-checkable
    * specification of [[graft.plans.WinnowAnchorsExpr]] (RoundTenOpsSpec
    * asserts set equality on the corpus) and the form the DuckDB oracle
    * replays.
    */
  private[graft] def anchorsOfComposed(corpus: DataFrame): DataFrame = {
    import graft.functions.MetadataFunctions.bindOnce
    val hashOf = (g: Column) => conv(substring(md5(g), 1, 12), 16, 10).cast("long")
    corpus
      .filter(length(col("text")) >= G)
      .select(
        col("doc_id"),
        col("text"),
        explode(
          // bindOnce: the hash array must evaluate once per row, not
          // once per winnowing window (the docs_winnowing O(n²) trap).
          bindOnce(
            transform(
              sequence(lit(1), length(col("text")) - (G - 1)),
              p => hashOf(col("text").substr(p, lit(G)))
            )
          )(hs => WinnowingQueries.winnowPositionsW(hs, SpanStride))
        ).as("pos")
      )
      .select(col("doc_id"), col("pos"), col("text").substr(col("pos"), lit(G)).as("g"))
  }

  /** The strided-span pipeline over any (doc_id, text) frame — exposed
    * for the `stridedspans` probe and specs.
    */
  def stridedSpansOf(corpus: DataFrame): DataFrame = {
    // Checkpoint the anchor frame ONCE (the Bpe.train discipline):
    // the winnow kernel (an md5 per gram position over the whole
    // corpus) is the pipeline's dominant cost, and both the
    // duplicated-gram census and the position side below read it.
    // (A compact per-doc (text, positions-array) cache was measured
    // too: ~1/9 the cached bytes, but each branch re-explodes and
    // re-substrs — ~25% slower at sf0.1 local[32]; on a RAM-tight
    // cluster the compact form is the fallback.)
    // This keeps the r11 one-anchor-pass win WITHOUT the r11
    // count-over-window on `g`, which was a skew trap: this operator's
    // target corpus is mass-duplicated text, so a license block repeated
    // in 10^8 docs is ONE gram whose whole partition lands on a single
    // WindowExec task (non-AQE-splittable, and sorted). The aggregate
    // below combines map-side (a mega-gram costs one partial per task),
    // and the fact-to-unique-dimension join back is AQE-skew-splittable
    // (and broadcast when the dup-gram dimension is small).
    // PlanSpec's corpus-window guard pins this shape.
    // The checkpoint outlives clearCache; the consumer frees it via
    // Lineage.releaseHeld() after its action.
    // The winnow kernel (an md5 per gram position) is a heavy per-row
    // kernel directly on the scan, and the corpus union's branches are
    // size-skewed (the full-docs branch is 10× its siblings) — fan out
    // to the session's cores before the kernel (measured 4.0 → 2.5 s at
    // sf0.1 with the dominant branch's 2.3 s single task gone; no-op at
    // cluster scale, see Tables.fanOutForCpu).
    // Census key = the 16-byte md5 DIGEST of the 40-char gram, not the
    // gram string (round-14, guide §2.3 "shuffle fewer bytes" / narrower
    // types): the gram only ever feeds the duplicate census groupBy and
    // the join back — never the output — so a collision-free hash is an
    // equivalent key at 40% of the bytes through the checkpoint, both
    // shuffles and the agg hash table. Collision bound: distinct grams
    // n ≤ corpus bytes; at n = 10¹² the md5 birthday bound is
    // n²/2¹²⁹ ≈ 1.5·10⁻¹⁵ — far below any real corpus's bit-flip rate.
    // RoundTenOpsSpec pins digest-vs-string census equality; the DuckDB
    // oracle (exact strings) certifies the output every sweep.
    val anchors =
      graft.Lineage.checkpoint(
        anchorsOf(graft.Tables.fanOutForCpu(corpus))
          .select(col("doc_id"), col("pos"), unhex(md5(col("g"))).as("g"))
      ).df
    val dup = anchors
      .groupBy("g")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select("g")
    val occ = anchors
      .join(dup, Seq("g"))
      .select(col("doc_id"), col("pos"), (col("pos") + (G - 1)).as("e"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val prevMax = max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    occ
      .withColumn(
        "ni",
        when(prevMax.isNull || col("pos") > prevMax + 1, 1L).otherwise(0L)
      )
      .withColumn(
        "island",
        sum(col("ni")).over(byPos.rowsBetween(Window.unboundedPreceding, 0))
      )
      .groupBy("doc_id", "island")
      .agg(
        min(col("pos")).as("s0"),
        max(col("e")).as("e0"),
        count(lit(1)).as("na")
      )
      .select(
        col("doc_id"),
        col("s0").cast("long").as("span_start"),
        col("e0").cast("long").as("span_end"),
        (col("e0") - col("s0") + 1).cast("long").as("span_len"),
        col("na").cast("long").as("n_anchors")
      )
  }

  /** CCNet head/middle/tail buckets per language: rank documents by a
    * corpus-trained unigram log-probability (higher = more typical) and
    * cut at the 30th/70th percentile WITHIN each language, so no
    * language's distribution dominates another's cutoffs. Cuts use
    * integer arithmetic (`10*rn <= 3*n`) over a pre-rounded score with
    * doc_id tie-breaks — deterministic across engines.
    *
    * Scale shape (round-8 rewrite): the naive form — `row_number() OVER
    * (PARTITION BY lang ORDER BY score)` — is a per-language TOTAL order,
    * so at 100 TB the dominant language's entire (doc_id, score) set
    * sorts on ONE task. Instead the percentile cuts are derived from a
    * BOUNDED histogram: scores are pre-rounded to 4 decimals, so the
    * distinct (lang, score) key space is capped by the score range ×
    * 10⁴ (log-probs land in roughly [-20, 0] → ≤ 2·10⁵ cells per
    * language) regardless of corpus size. The per-(lang, score) counts
    * plus a cumulative sum over that bounded frame classify every score
    * cell as wholly head / middle / tail; documents then bucket MAP-ONLY
    * through a broadcast join on (lang, score-cell). Only the ≤ 2 cells
    * per language that STRADDLE a cut need per-document doc_id
    * tie-ranking, and that window partitions by (lang, cell) — the tie
    * group, not the language. Output is bit-identical to the total-order
    * form (same oracle).
    */
  def pplBucketsOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("cu"))
    val ntot = uni.agg(sum(col("cu")).as("nt"))
    val scored = toks
      .join(uni, Seq("w"))
      .withColumn("j", (col("cu") - col("cu") + 1).cast("int"))
      .join(
        broadcast(ntot.select((col("nt") - col("nt") + 1).cast("int").as("j"), col("nt"))),
        Seq("j")
      )
      .groupBy("doc_id", "lang")
      .agg(
        round(avg(log(col("cu").cast("double") / col("nt").cast("double"))), 4)
          .as("score")
      )
      // 4-dp-rounded doubles ↔ integers under ×10⁴ is a bijection (the
      // nearest-double error is ≪ 0.5 ulp of the integer), so grouping
      // and ordering by s4 is exactly grouping/ordering by score.
      .withColumn("s4", round(col("score") * 10000).cast("long"))
      // `lk` is the JOIN/GROUP form of lang: the windowed original
      // partitioned null lang into its own group, but an equi-join on a
      // null key matches nothing — null-lang documents would silently
      // vanish (round-8 review). Coalesce to a sentinel no real language
      // code uses; `lang` itself is carried through for the output.
      .withColumn("lk", coalesce(col("lang"), lit("\u0000")))
      // Three consumers (the histogram, the uniform branch, the straddle
      // branch) read the scored frame; persisted so the corpus-scoring
      // join+aggregate runs once, not per branch (callers release via
      // spark.catalog.clearCache() — the bandTableOf convention).
      .persist()
    // Bounded histogram: one row per (lang, score cell). Map-side
    // combinable; output size is score-resolution-bounded, not
    // corpus-bounded — broadcastable at any corpus size.
    val hist = scored.groupBy("lk", "s4").agg(count(lit(1)).as("c"))
    val byLangDesc = Window.partitionBy("lk").orderBy(col("s4").desc)
    val cells = hist
      .withColumn(
        "cum_before",
        coalesce(
          sum(col("c")).over(byLangDesc.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)
        )
      )
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lk")))
      // rn ∈ [cum_before+1, cum_before+c] for this cell's documents; a
      // cell is uniform when that whole interval lands in one bucket of
      // the `10*rn <= 3*n` / `<= 7*n` rule.
      .withColumn(
        "cell_bucket",
        when((col("cum_before") + col("c")) * 10 <= col("n") * 3, "head")
          .when(
            (col("cum_before") + 1) * 10 > col("n") * 3 &&
              (col("cum_before") + col("c")) * 10 <= col("n") * 7,
            "middle"
          )
          .when((col("cum_before") + 1) * 10 > col("n") * 7, "tail")
          .otherwise("straddle")
      )
      .select("lk", "s4", "cum_before", "n", "cell_bucket")
    val tagged = scored.join(broadcast(cells), Seq("lk", "s4"))
    val uniform = tagged
      .filter(col("cell_bucket") =!= "straddle")
      .select(col("doc_id"), col("lang"), col("score"), col("cell_bucket").as("bucket"))
    // Straddling cells (≤ 2 per language): per-document rank WITHIN the
    // tie cell only — the window partitions on (lang, s4).
    val tieRank = row_number().over(
      Window.partitionBy(col("lk"), col("s4")).orderBy(col("doc_id").asc)
    )
    val straddle = tagged
      .filter(col("cell_bucket") === "straddle")
      .withColumn("rn", col("cum_before") + tieRank)
      .select(
        col("doc_id"),
        col("lang"),
        col("score"),
        when(col("rn") * 10 <= col("n") * 3, "head")
          .when(col("rn") * 10 <= col("n") * 7, "middle")
          .otherwise("tail")
          .as("bucket")
      )
    uniform.unionByName(straddle)
  }

  private val pplBuckets = Q(
    "docs_ppl_buckets",
    (s, d) => pplBucketsOf(Tables.documents(s, d)),
    Some {
      val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest(string_split($norm, ' ')) AS w FROM documents),
         |u AS (SELECT w, count(*) AS cu FROM toks GROUP BY w),
         |nt AS (SELECT sum(cu) AS nt FROM u),
         |scored AS (
         |  SELECT doc_id, lang,
         |    round(avg(ln(cast(cu AS double) / cast(nt.nt AS double))), 4) AS score
         |  FROM toks JOIN u USING (w) CROSS JOIN nt
         |  GROUP BY doc_id, lang),
         |ranked AS (
         |  SELECT doc_id, lang, score,
         |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM scored)
         |SELECT doc_id, lang, score,
         |  CASE WHEN rn * 10 <= n * 3 THEN 'head'
         |       WHEN rn * 10 <= n * 7 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM ranked""".stripMargin
    }
  )

  /** HELD-OUT perplexity evaluation — the train/eval separation the
    * in-corpus scorers (docs_lm_score, docs_ppl_buckets) deliberately
    * skip: the unigram LM trains on the 90% TRAIN split (doc_id % 10 ≠
    * 7) and scores only the held-out 10%, with add-one smoothing over
    * the train vocabulary so out-of-vocabulary tokens get the +1 OOV
    * mass instead of −∞ (p(w) = (c(w)+1)/(NT+V+1)). This is the
    * number a data pipeline trusts for corpus-quality drift: in-corpus
    * perplexity rewards memorizing the very duplicates dedup removes.
    *
    * Scale shape: train counts are a vocab-bounded groupBy; the (NT, V)
    * pair broadcasts as one row; scoring is a vocab-keyed equi-join +
    * map pass; per-doc rollup is map-side combinable. Engine
    * determinism: per-token scores quantize to round(1e6·ln(exact
    * integer ratio)) BEFORE summing, so the per-doc mean is an integer
    * div — order-independent, unlike an avg-of-doubles.
    */
  private val pplHoldout = Q(
    "docs_ppl_holdout",
    (s, d) => {
      val toks = Tables
        .documents(s, d)
        .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
      val isTest = col("doc_id") % 10 === 7
      val cu = toks.filter(!isTest).groupBy("w").agg(count(lit(1)).as("cu"))
      val stats = cu.agg(sum("cu").as("nt"), count(lit(1)).as("v"))
      toks
        .filter(isTest)
        .join(cu, Seq("w"), "left")
        .withColumn("j", (col("doc_id") - col("doc_id") + 1).cast("int"))
        .join(
          broadcast(stats.select((col("nt") - col("nt") + 1).cast("int").as("j"), col("nt"), col("v"))),
          Seq("j")
        )
        .withColumn(
          "t_mu",
          round(
            log(
              (coalesce(col("cu"), lit(0L)) + 1).cast("double") /
                (col("nt") + col("v") + 1).cast("double")
            ) * 1e6
          ).cast("long")
        )
        .groupBy("doc_id", "lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("cu").isNull, 1L).otherwise(0L)).as("n_oov"),
          expr("sum(t_mu) div count(1)").as("avg_lp_mu")
        )
    },
    Some {
      val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
      s"""WITH toks AS (
         |  SELECT doc_id, lang, w
         |  FROM (SELECT doc_id, lang, unnest(string_split($norm, ' ')) AS w FROM documents) _t
         |  WHERE length(w) > 0),
         |cu AS (SELECT w, count(*) AS cu FROM toks WHERE doc_id % 10 != 7 GROUP BY w),
         |st AS (SELECT sum(cu) AS nt, count(*) AS v FROM cu),
         |sc AS (
         |  SELECT t.doc_id, t.lang,
         |    CAST(round(ln(CAST(coalesce(cu.cu, 0) + 1 AS double) /
         |                  CAST(st.nt + st.v + 1 AS double)) * 1e6) AS BIGINT) AS t_mu,
         |    CASE WHEN cu.cu IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM toks t LEFT JOIN cu ON cu.w = t.w CROSS JOIN st
         |  WHERE t.doc_id % 10 = 7)
         |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  CAST(sum(t_mu) // count(*) AS BIGINT) AS avg_lp_mu
         |FROM sc GROUP BY doc_id, lang""".stripMargin
    }
  )

  /** Attrition funnel over the duplicate-planted corpus: document count
    * surviving each cumulative stage (word count, mean word length,
    * stopword presence, exact dedup). The report every curation run
    * logs; stages reuse the integer-arithmetic rule forms above.
    */
  private val filterChain = Q(
    "docs_filter_chain",
    (s, d) => {
      val corpus = LlmQueries.corpus(s, d)
      val ws = words(col("text"))
      val nw = size(ws)
      val wl = length(array_join(ws, ""))
      val base = corpus.select(
        col("doc_id"),
        col("text"),
        (nw >= 50 && nw <= 100000).as("f2"),
        (wl >= nw * 3 && wl <= nw * 10).as("f3"),
        (size(array_intersect(ws, array(GopherStops.map(lit): _*))) >= 1).as("f4")
      )
      val counts = base.agg(
        count(lit(1)).as("c1"),
        sum(when(col("f2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("f2") && col("f3"), 1L).otherwise(0L)).as("c3"),
        sum(when(col("f2") && col("f3") && col("f4"), 1L).otherwise(0L)).as("c4")
      )
      val uniq = base
        .filter(col("f2") && col("f3") && col("f4"))
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep"))
        .agg(count(lit(1)).as("c5"))
      counts
        .selectExpr(
          "stack(4, 1L, 'input', c1, 2L, 'word_count', c2, " +
            "3L, 'mean_word_len', c3, 4L, 'stopwords', c4) AS (stage_idx, stage, n_docs)"
        )
        .unionAll(
          uniq.select(lit(5L).as("stage_idx"), lit("exact_unique").as("stage"), col("c5").as("n_docs"))
        )
    },
    Some {
      val ws = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
      val stops = GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH ${LlmQueries.CorpusSql},
         |base AS (
         |  SELECT doc_id, text,
         |    len($ws) >= 50 AND len($ws) <= 100000 AS f2,
         |    length(array_to_string($ws, '')) >= len($ws) * 3
         |      AND length(array_to_string($ws, '')) <= len($ws) * 10 AS f3,
         |    len(list_intersect($ws, $stops)) >= 1 AS f4
         |  FROM corpus),
         |c AS (
         |  SELECT count(*) AS c1,
         |    sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS c2,
         |    sum(CASE WHEN f2 AND f3 THEN 1 ELSE 0 END) AS c3,
         |    sum(CASE WHEN f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS c4
         |  FROM base),
         |d AS (
         |  SELECT count(DISTINCT md5(text)) AS c5 FROM base WHERE f2 AND f3 AND f4)
         |SELECT cast(stage_idx AS bigint) AS stage_idx, stage, cast(n_docs AS bigint) AS n_docs FROM (
         |  SELECT 1 AS stage_idx, 'input' AS stage, c1 AS n_docs FROM c
         |  UNION ALL SELECT 2, 'word_count', c2 FROM c
         |  UNION ALL SELECT 3, 'mean_word_len', c3 FROM c
         |  UNION ALL SELECT 4, 'stopwords', c4 FROM c
         |  UNION ALL SELECT 5, 'exact_unique', c5 FROM d) _s""".stripMargin
    }
  )

  val all: Seq[Q] =
    Seq(gopherRules, duplicateSpans, duplicateSpansStrided, pplBuckets, pplHoldout, filterChain)
}
