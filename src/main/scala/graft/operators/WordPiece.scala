package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece-style greedy longest-match-first tokenization (MaxMatch —
  * the BERT tokenizer's inference rule, Devlin 2019 §A / Song 2021
  * "Fast WordPiece Tokenization"): at each cursor take the LONGEST
  * vocabulary piece prefixing the remaining suffix and advance. The
  * third tokenizer family in the registry, completing the standard
  * trio — BPE (merge-rank order), unigram-LM (Viterbi argmax), and
  * WordPiece (greedy) — over the SAME mined vocabulary, so
  * `docs_wordpiece_encode` vs `docs_unigram_viterbi` isolates the
  * SEGMENTATION RULE with the model held fixed.
  *
  * Scale shape (the [[UnigramLm]] chassis): tokenize → distinct-word
  * frequency frame (vocab-bounded), substring-candidate explode
  * (≤ MaxPieceLen per position), ONE vocab equi-join, then the greedy
  * walk as ONE in-row fold over a per-word max-match-length array —
  * corpus-scale work never exceeds one map pass + bounded-key
  * aggregates. Single-character pieces are always in the vocabulary,
  * so every word segments (no UNK row needed) and the fold always
  * terminates within MaxWordLen steps.
  *
  * Engine determinism: the fold state is pure integers/strings — no
  * arithmetic beyond cursor adds — and the oracle replays it with a
  * list_reduce that rebuilds its accumulator UNCONDITIONALLY (the
  * DuckDB 1.0.0 identity-CASE misalignment found in round 10's EM
  * trainer; see UnigramLm's trainQ scaladoc).
  */
object WordPiece {

  /** Greedy-segment every distinct word under the mined vocabulary:
    * (word, cnt, wlen, wp_pieces, seg) with seg the space-joined piece
    * sequence — hashed by the oracle, so the certification covers the
    * actual segmentation, not just its length.
    */
  def encodeOf(docs: DataFrame): DataFrame = {
    val wf = graft.Lineage.checkpoint(UnigramLm.wordsOf(docs)).df
    val occ = UnigramLm.occurrencesOf(wf)
    val vocab = UnigramLm.vocabOfWf(wf).select("piece")
    // Longest vocabulary match at each 0-based start j (≥ 1 everywhere:
    // single chars are immortal in the vocab).
    val ml = occ
      .join(vocab, Seq("piece"), "left_semi")
      .groupBy("word", "cnt", "j")
      .agg(max("pl").as("ml"))
    val mla = ml
      .groupBy("word", "cnt")
      .agg(sort_array(collect_list(struct(col("j"), col("ml")))).as("ms"))
      .withColumn("mls", expr("transform(ms, m -> m.ml)"))
    // Greedy fold: MaxWordLen fixed steps over acc = [cursor, seg];
    // each step rebuilds the accumulator unconditionally (mirroring the
    // oracle's workaround so both folds share one shape).
    mla
      .withColumn(
        "acc",
        expr(
          s"""aggregate(
             |  sequence(1, ${UnigramLm.MaxWordLen}),
             |  array('0', ''),
             |  (acc, s) -> array(
             |    CASE WHEN cast(acc[0] as int) < length(word)
             |      THEN cast(cast(acc[0] as int) + element_at(mls, cast(acc[0] as int) + 1) as string)
             |      ELSE acc[0] END,
             |    CASE WHEN cast(acc[0] as int) < length(word)
             |      THEN concat(acc[1], ' ',
             |        substr(word, cast(acc[0] as int) + 1, element_at(mls, cast(acc[0] as int) + 1)))
             |      ELSE acc[1] END))""".stripMargin
        )
      )
      .select(
        col("word"),
        col("cnt"),
        length(col("word")).cast("long").as("wlen"),
        expr("cast(size(split(ltrim(acc[1]), ' ')) as bigint)").as("wp_pieces"),
        expr("ltrim(acc[1])").as("seg")
      )
  }

  private val encodeQ = Q(
    "docs_wordpiece_encode",
    (s, d) => encodeOf(Tables.documents(s, d)),
    Some {
      s"""WITH ${UnigramLm.vocabCtes},
         |ml AS (
         |  SELECT o.word, o.cnt, o.j, max(o.pl) AS ml
         |  FROM occ o SEMI JOIN vocab v USING (piece)
         |  GROUP BY 1, 2, 3),
         |mla AS (
         |  SELECT word, any_value(cnt) AS cnt,
         |    list(ml ORDER BY j) AS mls
         |  FROM ml GROUP BY word),
         |folded AS (
         |  SELECT word, cnt, length(word) AS wlen,
         |    list_reduce(
         |      list_prepend(['0', ''], list_transform(range(1, ${UnigramLm.MaxWordLen} + 1), x -> ['', ''])),
         |      (acc, e) -> [
         |        CASE WHEN CAST(acc[1] AS INT) < length(word)
         |          THEN CAST(CAST(acc[1] AS INT) + mls[CAST(acc[1] AS INT) + 1] AS VARCHAR)
         |          ELSE acc[1] END,
         |        CASE WHEN CAST(acc[1] AS INT) < length(word)
         |          THEN concat(acc[2], ' ',
         |            substr(word, CAST(acc[1] AS INT) + 1, CAST(mls[CAST(acc[1] AS INT) + 1] AS INT)))
         |          ELSE acc[2] END]) AS acc
         |  FROM mla)
         |SELECT word, cnt, CAST(wlen AS BIGINT) AS wlen,
         |  CAST(len(string_split(ltrim(acc[2]), ' ')) AS BIGINT) AS wp_pieces,
         |  ltrim(acc[2]) AS seg
         |FROM folded""".stripMargin
    }
  )

  /** Head-to-head tokenizer comparison under the SAME vocabulary: one
    * row per segmentation rule with corpus-weighted piece counts — the
    * eval a tokenizer decision actually reads (greedy is cheaper per
    * token at scale; Viterbi is likelihood-optimal — what does the rule
    * choice cost in pieces-per-word on THIS corpus?). `agree_words`
    * counts distinct words where both rules emit the same piece count.
    *
    * Scale shape: both per-word frames are the certified vocab-bounded
    * pipelines; the comparison is one word-keyed equi-join + one
    * two-row rollup.
    */
  def compareOf(docs: DataFrame): DataFrame = {
    val v = UnigramLm
      .viterbiOf(docs)
      .select(col("word"), col("cnt"), col("n_pieces").as("p_v"))
    val w = encodeOf(docs).select(col("word"), col("wp_pieces").as("p_w"))
    val j = v.join(w, Seq("word"))
    Seq(("unigram_viterbi", "p_v"), ("wordpiece_greedy", "p_w"))
      .map { case (name, c) =>
        j.agg(
            count(lit(1)).as("n_words"),
            sum("cnt").as("w_words"),
            sum(expr(s"cnt * $c")).as("w_pieces"),
            sum(when(col("p_v") === col("p_w"), 1L).otherwise(0L)).as("agree_words")
          )
          .select(
            lit(name).as("tokenizer"),
            col("n_words"),
            col("w_words"),
            col("w_pieces"),
            expr("(w_pieces * 100) div w_words").as("mean_pieces_c"),
            col("agree_words")
          )
      }
      .reduce(_.unionByName(_))
  }

  private val compareQ = Q(
    "docs_tokenizer_compare",
    (s, d) => compareOf(Tables.documents(s, d)),
    Some {
      val n = UnigramLm.MaxWordLen + 1
      // The Viterbi packed-DP constants (UnigramLm.viterbiQ's oracle).
      val Sent = -(1L << 60)
      val Guard = -(1L << 59)
      val initList =
        (63L +: Seq.fill(UnigramLm.MaxWordLen)(Sent)).map(v => s"CAST($v AS BIGINT)").mkString("[", ", ", "]")
      def arm(name: String, c: String) =
        s"""SELECT '$name' AS tokenizer,
           |  CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(cnt) AS BIGINT) AS w_words,
           |  CAST(sum(cnt * $c) AS BIGINT) AS w_pieces,
           |  CAST((sum(cnt * $c) * 100) // sum(cnt) AS BIGINT) AS mean_pieces_c,
           |  CAST(sum(CASE WHEN p_v = p_w THEN 1 ELSE 0 END) AS BIGINT) AS agree_words
           |FROM j""".stripMargin
      s"""WITH ${UnigramLm.vocabCtes},
         |edges AS (
         |  SELECT o.word, o.cnt, o.i, o.j, v.lp_mu AS lp
         |  FROM occ o JOIN vocab v USING (piece)),
         |ew AS (
         |  SELECT word, any_value(cnt) AS cnt,
         |    list([CAST(i AS BIGINT), CAST(j AS BIGINT), lp] ORDER BY i, j) AS es
         |  FROM edges GROUP BY word),
         |vfold AS (
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
         |vit AS (
         |  SELECT word, cnt, 63 - ((best[wlen + 1] % 64) + 64) % 64 AS p_v
         |  FROM vfold WHERE best[wlen + 1] > $Guard),
         |ml AS (
         |  SELECT o.word, o.j, max(o.pl) AS ml
         |  FROM occ o SEMI JOIN vocab v USING (piece)
         |  GROUP BY 1, 2),
         |mla AS (
         |  SELECT word, list(ml ORDER BY j) AS mls
         |  FROM ml GROUP BY word),
         |wfold AS (
         |  SELECT word,
         |    list_reduce(
         |      list_prepend(['0', ''], list_transform(range(1, ${UnigramLm.MaxWordLen} + 1), x -> ['', ''])),
         |      (acc, e) -> [
         |        CASE WHEN CAST(acc[1] AS INT) < length(word)
         |          THEN CAST(CAST(acc[1] AS INT) + mls[CAST(acc[1] AS INT) + 1] AS VARCHAR)
         |          ELSE acc[1] END,
         |        CASE WHEN CAST(acc[1] AS INT) < length(word)
         |          THEN concat(acc[2], ' ',
         |            substr(word, CAST(acc[1] AS INT) + 1, CAST(mls[CAST(acc[1] AS INT) + 1] AS INT)))
         |          ELSE acc[2] END]) AS acc
         |  FROM mla),
         |wp AS (
         |  SELECT word, CAST(len(string_split(ltrim(acc[2]), ' ')) AS BIGINT) AS p_w
         |  FROM wfold),
         |j AS (SELECT vit.word, vit.cnt, vit.p_v, wp.p_w FROM vit JOIN wp USING (word))
         |${arm("unigram_viterbi", "p_v")}
         |UNION ALL
         |${arm("wordpiece_greedy", "p_w")}""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(encodeQ, compareQ)
}
