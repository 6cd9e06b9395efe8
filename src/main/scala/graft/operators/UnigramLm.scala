package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenization (Kudo 2018, "Subword Regularization" — the
  * SentencePiece unigram model): mine a substring piece vocabulary
  * from corpus statistics, then VITERBI-segment every distinct word —
  * the other real-world subword algorithm next to the registry's BPE
  * train/encode pair ([[Bpe]]). Where BPE greedily merges, unigram-LM
  * scores every segmentation by Σ log p(piece) and takes the argmax;
  * this operator certifies exactly that E-step (the inner loop of
  * Kudo's EM and of SentencePiece inference).
  *
  * Scale shapes:
  *  - piece mining: word-frequency table (vocab-bounded) → substring
  *    occurrences (≤ MaxPieceLen per position — bounded fanout) →
  *    piece counts keyed on piece content, map-side combined. Single
  *    characters are ALWAYS kept (the SentencePiece segmentability
  *    invariant); multi-char pieces need corpus count ≥ MinCount.
  *  - Viterbi runs per DISTINCT word (never per token — the word
  *    frequency carries the corpus mass), and the whole DP is ONE
  *    in-row fold over the word's piece edges: state = the 17-slot
  *    best-score array, edges sorted by (end, start) so every
  *    predecessor slot is final before use. No join, no window, no
  *    driver loop — a 100-TB corpus segments in one vocab-keyed join
  *    plus one map pass.
  *
  * Engine determinism: piece log-probs are round(1e6·ln(c/total)) of
  * exact integer ratios; the DP state packs (score, n_pieces) into ONE
  * int64 — packed = score·64 + (63 − n_pieces), so max() simultaneously
  * maximizes score and tie-breaks to FEWER pieces — and every DP
  * transition is integer addition (cand = best[j] + lp·64 − 1), so the
  * fold is exact in both engines; DuckDB replays it with list_reduce
  * over the same sorted edge list, seeded by prepending the init state.
  */
object UnigramLm {

  private[operators] val MaxWordLen = 16
  private val MaxPieceLen = 4
  private val MinCount = 5

  /** Unreachable-slot sentinel (any candidate through it stays far
    * below Guard).
    */
  private val Sent = -(1L << 60)
  private val Guard = -(1L << 59)

  /** Packed init: slot 0 = score 0, 0 pieces → 0·64 + 63. */
  private val Init0 = 63L

  private[operators] def wordsOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(Retrieval.tokens).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")).between(1, MaxWordLen))

  /** Substring occurrences of each distinct word: one row per (word,
    * end i, piece length pl), with the 0-based start j = i − pl.
    */
  private[operators] def occurrencesOf(wf: DataFrame): DataFrame =
    wf.select(
        col("word"),
        col("cnt"),
        explode(
          flatten(
            transform(
              sequence(lit(1), length(col("word"))),
              i =>
                transform(
                  sequence(lit(1), least(lit(MaxPieceLen), i)),
                  pl => struct(i.as("i"), pl.as("pl"))
                )
            )
          )
        ).as("o")
      )
      .select(
        col("word"),
        col("cnt"),
        col("o.i").as("i"),
        col("o.pl").as("pl"),
        expr("substr(word, o.i - o.pl + 1, o.pl)").as("piece"),
        (col("o.i") - col("o.pl")).as("j")
      )

  /** Mined vocabulary: piece, corpus count, integer micro log-prob. */
  def vocabOf(docs: DataFrame): DataFrame = vocabOfWf(wordsOf(docs))

  private[operators] def vocabOfWf(wf: DataFrame): DataFrame = {
    val occ = occurrencesOf(wf)
    val pc = occ.groupBy("piece").agg(sum("cnt").as("pc"))
    val kept = pc.filter(length(col("piece")) === 1 || col("pc") >= MinCount)
    val tot = kept.agg(sum("pc").as("tp"))
    kept
      .withColumn("j", (col("pc") - col("pc") + 1).cast("int"))
      .join(
        broadcast(tot.select((col("tp") - col("tp") + 1).cast("int").as("j"), col("tp"))),
        Seq("j")
      )
      .select(
        col("piece"),
        col("pc"),
        round(log(col("pc").cast("double") / col("tp").cast("double")) * 1e6)
          .cast("long")
          .as("lp_mu")
      )
  }

  /** Packed-DP seed: slot 0 reachable at score 0 / 0 pieces. */
  private def dpInit: Column = typedLit(Init0 +: Seq.fill(MaxWordLen)(Sent))

  /** One DP transition of the packed Viterbi fold (shared by the
    * E-step inference and the EM trainer).
    */
  private def dpStep(best: Column, e: Column): Column =
    transform(
      sequence(lit(0), lit(MaxWordLen)),
      k => {
        val cur = element_at(best, k + 1)
        val prev = element_at(best, e.getField("j") + 1)
        val cand = when(prev > Guard, prev + e.getField("lp") * 64 - 1).otherwise(lit(Sent))
        when(k === e.getField("i"), greatest(cur, cand)).otherwise(cur)
      }
    )

  /** Viterbi-segment every distinct word under the mined vocab. */
  def viterbiOf(docs: DataFrame): DataFrame = {
    // Checkpoint (vocab-bounded frame), not persist: both the edge and
    // the vocab branch of the ONE returned plan read it; the consumer's
    // Lineage.releaseHeld() frees it after the action, and no cache
    // entry outlives the query.
    val wf = graft.Lineage.checkpoint(wordsOf(docs)).df
    viterbiWithVocab(wf, vocabOfWf(wf).select("piece", "lp_mu"))
  }

  /** The Viterbi segmentation pass over an EXPLICIT (piece, lp_mu)
    * vocabulary frame — [[viterbiOf]] mines it in-plan; the
    * persisted-model twin (`docs_unigram_viterbi_stored`,
    * [[ModelStore]]) loads it from a parquet model table.
    */
  private[operators] def viterbiWithVocab(wf: DataFrame, vocab: DataFrame): DataFrame = {
    val occ = occurrencesOf(wf)
    val edges = occ
      .join(vocab, Seq("piece"))
      .select(col("word"), col("cnt"), col("i"), col("j"), col("lp_mu").as("lp"))
    edges
      .groupBy("word", "cnt")
      .agg(sort_array(collect_list(struct(col("i"), col("j"), col("lp")))).as("es"))
      .withColumn("best", aggregate(col("es"), dpInit, dpStep))
      .select(
        col("word"),
        col("cnt"),
        length(col("word")).cast("long").as("wlen"),
        element_at(col("best"), length(col("word")) + 1).as("fin")
      )
      .filter(col("fin") > Guard)
      .withColumn("r", pmod(col("fin"), lit(64L)))
      .select(
        col("word"),
        col("cnt"),
        col("wlen"),
        (lit(63L) - col("r")).as("n_pieces"),
        expr("(fin - r) div 64").as("score_mu")
      )
  }

  /** EM iterations of the trainer (hard EM: Viterbi E-step + count
    * re-estimation M-step — Kudo 2018 §3.2 with the argmax in place of
    * the marginal, the variant every engine can certify exactly).
    */
  private val EmIters = 3

  /** FULL unigram-LM TRAINING loop (the M-step the r9 E-step row left
    * open): K hard-EM iterations over the mined seed vocabulary —
    *
    *  1. E-step: Viterbi-segment every distinct word under vocab_{k−1}
    *     (the [[viterbiOf]] packed fold), then RECOVER the argmax path
    *     with a second in-row fold: walk the edge list in (i desc,
    *     j desc) order keeping a cursor p (seeded at wlen); an edge
    *     (i, j, lp) is ON the path iff i = p and best[j] + 64·lp − 1 =
    *     best[i] (packed-exact, so the tie-break — largest j first —
    *     is integer-deterministic in both engines); taking it moves p
    *     to j. State is ONE array<long> [p, i₁, j₁, i₂, j₂, …].
    *  2. M-step: hard counts c(piece) = Σ_word cnt · uses; pieces keep
    *     their SentencePiece roles — multi-char pieces survive only
    *     with c ≥ 1, single-char pieces are immortal (count
    *     max(c, 1)) so every word stays segmentable — and log-probs
    *     re-quantize to round(1e6·ln(c/total)).
    *
    * Scale shape: per iteration ONE vocab-keyed equi-join + one map
    * pass (two in-row folds) + vocab-bounded aggregates — the model
    * never leaves the cluster (contrast [[Bpe.train]]'s driver-side
    * merge list: here the M-step is itself a distributed aggregate).
    * Iterations follow Bpe.train's checkpoint discipline: each vocab_k
    * is eagerly checkpointed and the previous checkpoint
    * released, so plan depth and resident state stay flat in K.
    * The oracle replays ALL K iterations as unrolled CTE rounds.
    */
  def trainOf(docs: DataFrame): DataFrame = {
    val wf = graft.Lineage.checkpoint(wordsOf(docs)).df
    val occ = occurrencesOf(wf)
    var vocab = graft.Lineage.checkpoint(vocabOfWf(wf))
    // The immortal single-char alphabet — checkpointed on its own so
    // releasing a vocab round can never orphan its lineage.
    val singles =
      graft.Lineage.checkpoint(vocab.df.filter(length(col("piece")) === 1).select("piece")).df
    for (_ <- 1 to EmIters) {
      val next = graft.Lineage.checkpoint(emStep(occ, vocab.df.select("piece", "lp_mu"), singles))
      vocab.release()
      vocab = next
    }
    vocab.df
  }

  /** One hard-EM iteration: vocab_{k-1}(piece, lp_mu) → vocab_k(piece,
    * pc, lp_mu).
    */
  private def emStep(occ: DataFrame, vocabK: DataFrame, singles: DataFrame): DataFrame = {
    val edges = occ
      .join(vocabK, Seq("piece"))
      .select(col("word"), col("cnt"), col("i"), col("j"), col("lp_mu").as("lp"))
    val folded = edges
      .groupBy("word", "cnt")
      .agg(sort_array(collect_list(struct(col("i"), col("j"), col("lp")))).as("es"))
      .withColumn("best", aggregate(col("es"), dpInit, dpStep))
      .filter(element_at(col("best"), length(col("word")) + 1) > Guard)
    val backtrack = (acc: Column, e: Column) => {
      val onPath = e.getField("i").cast("long") === element_at(acc, 1) &&
        element_at(col("best"), e.getField("j") + 1) + e.getField("lp") * 64 - 1 ===
        element_at(col("best"), e.getField("i") + 1)
      when(
        onPath,
        concat(
          array(e.getField("j").cast("long")),
          slice(acc, lit(2), size(acc) - 1),
          array(e.getField("i").cast("long"), e.getField("j").cast("long"))
        )
      ).otherwise(acc)
    }
    val picks = folded
      .withColumn(
        "bt",
        aggregate(reverse(col("es")), array(length(col("word")).cast("long")), backtrack)
      )
      .filter(size(col("bt")) >= 3)
      .select(
        col("word"),
        col("cnt"),
        explode(
          expr("transform(sequence(1, (size(bt) - 1) div 2), t -> struct(bt[2*t-1] AS pi, bt[2*t] AS pj))")
        ).as("pk")
      )
    val used = picks
      .select(
        expr("substr(word, cast(pk.pj as int) + 1, cast(pk.pi - pk.pj as int))").as("piece"),
        col("cnt")
      )
      .groupBy("piece")
      .agg(sum("cnt").as("c"))
    val merged = used
      .join(singles.withColumn("is1", lit(1)), Seq("piece"), "full_outer")
      .select(
        col("piece"),
        when(col("is1").isNotNull, greatest(coalesce(col("c"), lit(0L)), lit(1L)))
          .otherwise(col("c"))
          .as("pc")
      )
    val tot = merged.agg(sum("pc").as("tp"))
    merged
      .withColumn("j", (col("pc") - col("pc") + 1).cast("int"))
      .join(
        broadcast(tot.select((col("tp") - col("tp") + 1).cast("int").as("j"), col("tp"))),
        Seq("j")
      )
      .select(
        col("piece"),
        col("pc"),
        round(log(col("pc").cast("double") / col("tp").cast("double")) * 1e6)
          .cast("long")
          .as("lp_mu")
      )
  }

  /** Shared oracle CTEs up to the vocabulary. */
  private[operators] def vocabCtes: String =
    s"""base AS (SELECT ${Retrieval.NormSql} AS ws FROM documents),
       |wf AS (
       |  SELECT word, count(*) AS cnt
       |  FROM (SELECT unnest(ws) AS word FROM base) _t
       |  WHERE length(word) BETWEEN 1 AND $MaxWordLen GROUP BY 1),
       |o1 AS (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i FROM wf),
       |o2 AS (SELECT word, cnt, i, unnest(range(1, least($MaxPieceLen, i) + 1)) AS pl FROM o1),
       |occ AS (
       |  SELECT word, cnt, i, pl, substr(word, i - pl + 1, pl) AS piece, i - pl AS j
       |  FROM o2),
       |pcnt AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS pc FROM occ GROUP BY 1),
       |kept AS (SELECT * FROM pcnt WHERE length(piece) = 1 OR pc >= $MinCount),
       |tp AS (SELECT CAST(sum(pc) AS BIGINT) AS tp FROM kept),
       |vocab AS (
       |  SELECT piece, pc,
       |    CAST(round(ln(CAST(pc AS double) / CAST(tp AS double)) * 1e6) AS BIGINT) AS lp_mu
       |  FROM kept, tp)""".stripMargin

  private val vocabQ = Q(
    "docs_unigram_vocab",
    (s, d) => vocabOf(Tables.documents(s, d)),
    Some(s"""WITH $vocabCtes
            |SELECT piece, pc, lp_mu FROM vocab""".stripMargin)
  )

  private val viterbiQ = Q(
    "docs_unigram_viterbi",
    (s, d) => viterbiOf(Tables.documents(s, d)),
    bench2 = true,
    oracle = Some {
      val n = MaxWordLen + 1
      val initList =
        (Init0 +: Seq.fill(MaxWordLen)(Sent)).map(v => s"CAST($v AS BIGINT)").mkString("[", ", ", "]")
      s"""WITH $vocabCtes,
         |edges AS (
         |  SELECT o.word, o.cnt, o.i, o.j, v.lp_mu AS lp
         |  FROM occ o JOIN vocab v USING (piece)),
         |ew AS (
         |  SELECT word, any_value(cnt) AS cnt,
         |    list([CAST(i AS BIGINT), CAST(j AS BIGINT), lp] ORDER BY i, j) AS es
         |  FROM edges GROUP BY word),
         |folded AS (
         |  SELECT word, cnt, length(word) AS wlen,
         |    list_reduce(
         |      list_prepend($initList, es),
         |      (acc, e) -> list_transform(range(0, $n),
         |        k -> CASE WHEN k = e[1]
         |          THEN greatest(acc[k + 1],
         |            CASE WHEN acc[e[2] + 1] > $Guard
         |              THEN acc[e[2] + 1] + e[3] * 64 - 1 ELSE $Sent END)
         |          ELSE acc[k + 1] END)) AS best
         |  FROM ew),
         |fin AS (
         |  SELECT word, cnt, CAST(wlen AS BIGINT) AS wlen, best[wlen + 1] AS fin
         |  FROM folded WHERE best[wlen + 1] > $Guard)
         |SELECT word, cnt, wlen,
         |  63 - ((fin % 64) + 64) % 64 AS n_pieces,
         |  (fin - (((fin % 64) + 64) % 64)) // 64 AS score_mu
         |FROM fin""".stripMargin
    }
  )

  private val trainQ = Q(
    "docs_unigram_train",
    (s, d) => trainOf(Tables.documents(s, d)),
    Some {
      val n = MaxWordLen + 1
      val initList =
        (Init0 +: Seq.fill(MaxWordLen)(Sent)).map(v => s"CAST($v AS BIGINT)").mkString("[", ", ", "]")
      // One unrolled hard-EM round: Viterbi DP fold, backtrack fold
      // (cursor + picks packed in ONE bigint list — list_reduce's
      // accumulator must share the element type, both are
      // LIST(BIGINT)), pick explode, count aggregate, single-char
      // union, re-quantized log-probs.
      //
      // ENGINE QUIRK (bisected on real data): DuckDB 1.0.0's
      // list_reduce row-misaligns a list accumulator that a CASE
      // returns IDENTICALLY (`ELSE acc` handed other rows' state once
      // the vector carries many variable-length rows), so the
      // backtrack step rebuilds the accumulator UNCONDITIONALLY —
      // head CASE + unconditional acc[2:] slice + CASE-empty tail —
      // which the same bisect showed is handled correctly. The
      // Spark-side fold keeps the plain conditional form. The
      // reachability filter is omitted: single-char pieces are
      // immortal across M-steps, so every word stays segmentable and
      // the filter is provably a no-op (Spark keeps it — also a
      // no-op — as cheap insurance).
      def iter(k: Int): String = {
        val hit = s"e[1] = acc[1] AND best[e[2] + 1] + e[3] * 64 - 1 = best[e[1] + 1]"
        s"""edg$k AS (
           |  SELECT o.word, o.cnt, o.i, o.j, v.lp_mu AS lp
           |  FROM occ o JOIN vocab${k - 1} v USING (piece)),
           |ew$k AS (
           |  SELECT word, any_value(cnt) AS cnt,
           |    list([CAST(i AS BIGINT), CAST(j AS BIGINT), lp] ORDER BY i, j) AS es
           |  FROM edg$k GROUP BY word),
           |fd$k AS MATERIALIZED (
           |  SELECT word, cnt, length(word) AS wlen, es,
           |    list_reduce(
           |      list_prepend($initList, es),
           |      (acc, e) -> list_transform(range(0, $n),
           |        x -> CASE WHEN x = e[1]
           |          THEN greatest(acc[x + 1],
           |            CASE WHEN acc[e[2] + 1] > $Guard
           |              THEN acc[e[2] + 1] + e[3] * 64 - 1 ELSE $Sent END)
           |          ELSE acc[x + 1] END)) AS best
           |  FROM ew$k),
           |bt$k AS (
           |  SELECT word, cnt,
           |    list_reduce(
           |      list_prepend([CAST(wlen AS BIGINT)], list_reverse(es)),
           |      (acc, e) -> list_concat(list_concat(
           |        [CASE WHEN $hit THEN e[2] ELSE acc[1] END],
           |        acc[2:]),
           |        CASE WHEN $hit THEN [e[1], e[2]] ELSE [] END)) AS bt
           |  FROM fd$k),
           |pk$k AS (
           |  SELECT word, cnt,
           |    unnest(list_transform(range(1, (len(bt) - 1) // 2 + 1),
           |      t -> [bt[2 * t], bt[2 * t + 1]])) AS pk
           |  FROM bt$k),
           |us$k AS (
           |  SELECT substr(word, CAST(pk[2] AS INT) + 1, CAST(pk[1] - pk[2] AS INT)) AS piece,
           |    CAST(sum(cnt) AS BIGINT) AS c
           |  FROM pk$k GROUP BY 1),
           |nv$k AS (
           |  SELECT coalesce(u.piece, s.piece) AS piece,
           |    CASE WHEN s.piece IS NOT NULL THEN greatest(coalesce(u.c, 0), 1) ELSE u.c END AS pc
           |  FROM us$k u FULL OUTER JOIN sing s ON s.piece = u.piece),
           |tp$k AS (SELECT CAST(sum(pc) AS BIGINT) AS tp FROM nv$k),
           |vocab$k AS MATERIALIZED (
           |  SELECT piece, CAST(pc AS BIGINT) AS pc,
           |    CAST(round(ln(CAST(pc AS double) / CAST(tp AS double)) * 1e6) AS BIGINT) AS lp_mu
           |  FROM nv$k, tp$k)""".stripMargin
      }
      s"""WITH $vocabCtes,
         |vocab0 AS (SELECT piece, lp_mu FROM vocab),
         |sing AS MATERIALIZED (SELECT piece FROM vocab WHERE length(piece) = 1),
         |${(1 to EmIters).map(iter).mkString(",\n")}
         |SELECT piece, pc, lp_mu FROM vocab$EmIters""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(vocabQ, viterbiQ, trainQ)
}
