package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions.words
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units" — the public
  * algorithm behind GPT-2/RoBERTa-style tokenizers). No counterpart in
  * the reference; part of the LLM-pipeline surface.
  *
  * Shape per merge step: one map-side-combinable pair-count aggregation
  * over the (vocab-bounded, NOT corpus-bounded) word table, a 1-row
  * argmax, and a map-only greedy-left merge of that pair in every
  * word's symbol array. The corpus is touched once (word counting);
  * every iteration after that runs on the distinct-word table — the
  * property that makes BPE trainable at 100 TB (vocab grows ~log with
  * corpus size). The learned merge list is the model and lives on the
  * driver, exactly like `KMeans.centroids`.
  *
  * `docs_bpe_merge_step` certifies ONE merge step against the DuckDB
  * oracle (the `embed_kmeans_step` pattern); the full training loop is
  * `train`, spec-covered (BpeSpec) since K chained argmaxes are not
  * SQL-expressible without K unrolled CTE stages.
  */
object Bpe {

  /** Greedy-left merge of the pair (a, b) in a symbol array — one
    * `aggregate` fold, O(n) per word, codegen'd: append each symbol,
    * collapsing it into `a||b` when the accumulator's last element is
    * `a` and the incoming one is `b`. Left-to-right non-overlapping by
    * construction (after a merge the last element is `a||b`, which only
    * re-merges if it equals `a` itself — the run-parity behavior the
    * oracle mirrors arithmetically).
    */
  def mergePair(symbols: Column, a: Column, b: Column): Column =
    aggregate(
      symbols,
      lit(Array.empty[String]),
      (acc, x) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(a, b)))
        ).otherwise(concat(acc, array(x)))
    )

  /** Distinct-word table with counts and initial character symbols. */
  def vocabOf(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w")
      .agg(count(lit(1)).as("f"))
      .withColumn(
        "syms",
        transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1)))
      )

  /** Corpus-weighted adjacent-pair counts over the current symbols
    * (overlapping positions, the standard BPE count).
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(
        col("f"),
        explode(
          zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (x, y) => struct(x.as("a"), y.as("b"))
          )
        ).as("p")
      )
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("f").as("n"))

  /** K merge steps; returns the learned merge list (the model). Ties
    * break deterministically (count desc, then pair lexicographic).
    * Each step's argmax is a 1-row collect — the model is driver-side
    * by design.
    *
    * Lineage discipline: without truncation, iteration k's
    * `pairCounts(v)` action re-executes all k−1 prior merge folds from
    * the base vocab — O(K²) total work and a K-deep Catalyst plan. So
    * every `checkpointEvery` merges the vocab frame is eagerly
    * checkpointed (materialized symbols, lineage cut) and the
    * PREVIOUS checkpoint is released, keeping at most one
    * vocab-sized copy resident and per-merge cost flat in K (ScaleProbe
    * `bpe` mode certifies the flat curve at K=192).
    */
  def train(vocab: DataFrame, k: Int, checkpointEvery: Int = 10): Seq[(String, String)] = {
    var v = vocab
    // The live checkpoint, released once the next eager checkpoint has
    // materialized past it.
    var ckpt: Option[graft.Checkpointed] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    for (_ <- 1 to k if !done) {
      val best = pairCounts(v)
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        v = v.withColumn("syms", mergePair(col("syms"), lit(a), lit(b)))
        if (merges.size % checkpointEvery == 0) {
          // (Lineage cut: see graft.Lineage for the executor-loss
          // caveat and the reliable mode.)
          val ck = graft.Lineage.checkpoint(v)
          ckpt.foreach(_.release())
          ckpt = Some(ck)
          v = ck.df
        }
      }
    }
    ckpt.foreach(_.release())
    merges.toSeq
  }

  /** Fixed merge table used by `docs_bpe_encode` — the shipped tokenizer
    * model, exactly as a production pipeline ships the artifact `train`
    * produced offline. Order is merge priority (Sennrich et al. apply
    * merges in learned order at encode time); chained entries ((t,h) then
    * (th,e)) exercise multi-char symbols.
    */
  val EncodeMerges: Seq[(String, String)] = Seq(
    "t" -> "h",
    "th" -> "e",
    "i" -> "n",
    "a" -> "n",
    "e" -> "r",
    "o" -> "r",
    "s" -> "t",
    "a" -> "t",
    "o" -> "n",
    "e" -> "n",
    "in" -> "d",
    "an" -> "d",
    "u" -> "e"
  )

  /** Fixed BYTE-level merge table for `docs_bpe_byte_encode` — the
    * shipped byte tokenizer model. ASCII merges behave as at char level;
    * the Ã-prefixed rows are genuine MULTIBYTE merges ('Ã' is the symbol
    * of UTF-8 lead byte 0xC3, '©'/'¤'/'¶' of continuations 0xA9/0xA4/
    * 0xB6 — é, ä, ö reassemble from their byte pairs).
    */
  val ByteEncodeMerges: Seq[(String, String)] = Seq(
    "t" -> "h",
    "th" -> "e",
    "i" -> "n",
    "a" -> "n",
    "e" -> "r",
    "o" -> "r",
    "Ã" -> "©", // 0xC3 0xA9 = é
    "Ã" -> "¤", // 0xC3 0xA4 = ä
    "Ã" -> "¶", // 0xC3 0xB6 = ö
    "in" -> "g",
    "an" -> "d"
  )

  /** Byte-level encode of one word: byte symbols through the sentinel
    * replace chain — [[encodeWord]] with the alphabet swapped.
    */
  def encodeByteWord(w: Column, merges: Seq[(String, String)] = ByteEncodeMerges): Column = {
    val wrapped = array_join(
      transform(byteSymbols(w), s => concat(lit(S), s, lit(S))),
      ""
    )
    val merged = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      replace(acc, lit(S + a + S + S + b + S), lit(S + a + b + S))
    }
    split(merged.substr(lit(2), length(merged) - 2), S + S)
  }

  /** The byte-level tokenizer-inference projection (the [[encodeDf]]
    * twin over the byte alphabet).
    */
  def encodeByteDf(s: SparkSession, d: String, merges: Seq[(String, String)]): DataFrame = {
    val clean = regexp_replace(coalesce(col("text"), lit("")), S, "")
    val ws = filter(words(clean), w => length(w) > 0)
    val toks = flatten(transform(ws, w => encodeByteWord(w, merges)))
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        array_join(toks, " ").as("tokens_str")
      )
  }

  /** GPT-2 byte↔unicode table (Radford et al. 2019 `bytes_to_unicode`,
    * the public gpt-2 `encoder.py` law): the 188 printable/latin bytes
    * ('!'..'~', '¡'..'¬', '®'..'ÿ') map to their own codepoint; the
    * remaining 68 bytes map to 256+n in byte order. Every byte gets a
    * VISIBLE single-char symbol, so byte-level BPE runs on plain
    * strings with no escaping — the industry-standard tokenizer
    * alphabet (GPT-2/RoBERTa/Llama). A plan-time literal; the inverse
    * map makes detokenization lossless for arbitrary UTF-8.
    */
  private[graft] val ByteSyms: IndexedSeq[String] = {
    val keep =
      (('!'.toInt to '~'.toInt) ++ (0xa1 to 0xac) ++ (0xae to 0xff)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (keep(b)) b.toChar.toString
      else {
        val s = (256 + n).toChar.toString; n += 1; s
      }
    }
  }
  private[graft] val ByteSymInv: Map[String, Int] =
    ByteSyms.zipWithIndex.map { case (s, b) => s -> b }.toMap

  /** JVM mirror of [[byteSymbols]] for specs and the losslessness law. */
  private[graft] def byteSymsOf(w: String): Seq[String] =
    w.getBytes("UTF-8").toSeq.map(b => ByteSyms(b & 0xff))

  /** Inverse of the symbol mapping: token concatenation → UTF-8 bytes →
    * the original string (bijective per byte, so lossless).
    */
  private[graft] def detokenize(tokens: Seq[String]): String = {
    val bytes = tokens.flatMap(_.map(c => ByteSymInv(c.toString).toByte))
    new String(bytes.toArray, "UTF-8")
  }

  /** Byte-level symbol array of a word: UTF-8 bytes through the GPT-2
    * table. Hex-pair extraction over ONE bound encode (bindOnce — the
    * shingles discipline) keeps it a map-only column expression.
    */
  def byteSymbols(w: Column): Column =
    graft.functions.MetadataFunctions.bindOnce(hex(encode(w, "UTF-8"))) { hx =>
      transform(
        sequence(lit(1), (length(hx) / lit(2)).cast("int")),
        i =>
          element_at(
            typedLit(ByteSyms),
            conv(hx.substr(i * 2 - 1, lit(2)), 16, 10).cast("int") + 1
          )
      )
    }

  /** Distinct-word table with byte symbols — the byte-level `vocabOf`.
    * The ≥2 filter moves from chars to BYTES (a 1-char multibyte word
    * still has mergeable symbols).
    */
  def byteVocabOf(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(explode(words(col("text"))).as("w"))
      .filter(octet_length(encode(col("w"), "UTF-8")) >= 2)
      .groupBy("w")
      .agg(count(lit(1)).as("f"))
      .withColumn("syms", byteSymbols(col("w")))

  /** Sentinel wrapping each symbol on both sides. With every symbol slot
    * rendered as `S sym S`, the pair (a,b) occurs iff the string contains
    * `SaSSbS`, and one left-to-right non-overlapping literal replace of
    * that pattern is EXACTLY the greedy-left merge pass — including run
    * parity for a = b ("aaa" merges once) — because consecutive
    * occurrences don't share sentinel characters. A single pass is also
    * exhaustive: a replacement can't create a fresh (a,b) adjacency since
    * `a+b` differs from both `a` and `b` (symbols are non-empty).
    */
  private val S = "\u0001"

  /** BPE-encode one word with the fixed merge table: wrap initial
    * characters in sentinels, apply each merge as one codegen'd string
    * replace, split the survivors back out. Pure column expression — the
    * encode cost is per-word and the whole query below is map-only (zero
    * shuffles), the shape that tokenizes 100 TB embarrassingly parallel.
    */
  def encodeWord(w: Column, merges: Seq[(String, String)] = EncodeMerges): Column = {
    val wrapped = array_join(
      transform(
        sequence(lit(1), length(w)),
        i => concat(lit(S), w.substr(i, lit(1)), lit(S))
      ),
      ""
    )
    val merged = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      replace(acc, lit(S + a + S + S + b + S), lit(S + a + b + S))
    }
    split(merged.substr(lit(2), length(merged) - 2), S + S)
  }

  /** The tokenizer-inference projection over an EXPLICIT merge table —
    * the literal registered query passes [[EncodeMerges]]; the
    * persisted-model twin (`docs_bpe_encode_stored`, [[ModelStore]])
    * passes the same table round-tripped through a parquet model file.
    */
  def encodeDf(s: SparkSession, d: String, merges: Seq[(String, String)]): DataFrame = {
    val clean = regexp_replace(coalesce(col("text"), lit("")), S, "")
    val ws = filter(words(clean), w => length(w) > 0)
    val toks = flatten(transform(ws, w => encodeWord(w, merges)))
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        array_join(toks, " ").as("tokens_str")
      )
  }

  private def encodeMergeSql(wrapped: String, merges: Seq[(String, String)] = EncodeMerges): String =
    merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, chr(1)||'$a'||chr(1)||chr(1)||'$b'||chr(1), chr(1)||'$a$b'||chr(1))"
    }

  /** The k unrolled argmax/merge oracle stages over a `v0(w, f, syms)`
    * CTE — symbol-alphabet agnostic, shared by the char-level and
    * byte-level training oracles.
    */
  private def trainStagesSql(k: Int): String =
    (0 until k)
      .map { i =>
        s"""pc$i AS (
           |  SELECT syms[p] AS a, syms[p + 1] AS b, sum(f) AS n
           |  FROM (SELECT f, syms, unnest(range(1, len(syms))) AS p FROM v$i) _p$i
           |  GROUP BY 1, 2),
           |best$i AS (SELECT a, b FROM pc$i ORDER BY n DESC, a, b LIMIT 1),
           |m$i AS (
           |  SELECT w, f, a, b, syms,
           |    list_transform(range(1, len(syms)), p ->
           |      syms[p] = a AND syms[p + 1] = b AND
           |      (a != b OR
           |       (p - 1 - coalesce(list_max(list_filter(range(1, p), j -> syms[j] != a)), 0)) % 2 = 0)
           |    ) AS mask
           |  FROM v$i CROSS JOIN best$i),
           |v${i + 1} AS (
           |  SELECT w, f,
           |    list_filter(
           |      list_transform(range(1, len(syms) + 1), p ->
           |        CASE WHEN p <= len(mask) AND mask[p] THEN a || b
           |             WHEN p > 1 AND mask[p - 1] THEN NULL
           |             ELSE syms[p] END),
           |      x -> x IS NOT NULL) AS syms
           |  FROM m$i)""".stripMargin
      }
      .mkString(",\n")

  private def trainOutSql(k: Int): String =
    (0 until k)
      .map(i => s"SELECT ${i + 1} AS step, a, b FROM best$i")
      .mkString(" UNION ALL ")

  /** DuckDB literal list of the 256 byte symbols, index = byte + 1. */
  private def byteSymsSqlList: String =
    "[" + ByteSyms.map(s => "'" + s.replace("'", "''") + "'").mkString(",") + "]"

  /** DuckDB byte-symbol array of `w` (hex-pair walk over encode(w)). */
  private def byteSymsSql(w: String): String =
    s"list_transform(range(0, octet_length(encode($w))), i -> " +
      s"($byteSymsSqlList)[('0x' || substr(to_hex(encode($w)), CAST(2*i+1 AS BIGINT), 2))::bigint + 1])"

  val all: Seq[Q] = Seq(
    Q(
      // The FULL training loop under the oracle gate: 8 merges over the
      // corpus vocabulary with checkpointEvery=3 so the lineage-truncation
      // path itself runs under the driver's hash check. The oracle unrolls
      // the 8 chained argmax/merge stages as generated CTEs, each
      // replaying the greedy-left fold arithmetically (the
      // docs_bpe_merge_step mask generalized from characters to the
      // evolving multi-char symbol arrays). Certifies order, tie-breaks,
      // and the checkpointed Spark loop end-to-end.
      "docs_bpe_train",
      (s, d) => {
        val merges = train(vocabOf(s, d), 8, checkpointEvery = 3)
        import s.implicits._
        merges.zipWithIndex
          .map { case ((a, b), i) => (i + 1, a, b) }
          .toDF("step", "a", "b")
      },
      Some {
        val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
        val k = 8
        s"""WITH wf AS (
           |  SELECT w, count(*) AS f
           |  FROM (SELECT unnest(string_split($norm, ' ')) AS w FROM documents) _t
           |  WHERE length(w) >= 2 GROUP BY w),
           |v0 AS (
           |  SELECT w, f, list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
           |  FROM wf),
           |${trainStagesSql(k)}
           |SELECT cast(step as int) AS step, a, b FROM (${trainOutSql(k)}) _u""".stripMargin
      }
    ),
    Q(
      // BYTE-level BPE training (r12): the GPT-2/Llama-family variant —
      // the word table's initial symbols are UTF-8 BYTES through the
      // bytes_to_unicode alphabet instead of characters, so the trained
      // merges cross multibyte boundaries and no byte sequence is ever
      // OOV. Same certified merge machinery (train/mergePair/pairCounts,
      // checkpointEvery=3 exercises the lineage discipline under the
      // hash gate); the oracle shares the unrolled stage CTEs and swaps
      // only v0 (hex-pair walk through the same 256-entry literal).
      "docs_bpe_byte_train",
      (s, d) => {
        val merges = train(byteVocabOf(s, d), 8, checkpointEvery = 3)
        import s.implicits._
        merges.zipWithIndex
          .map { case ((a, b), i) => (i + 1, a, b) }
          .toDF("step", "a", "b")
      },
      Some {
        val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
        val k = 8
        s"""WITH wf AS (
           |  SELECT w, count(*) AS f
           |  FROM (SELECT unnest(string_split($norm, ' ')) AS w FROM documents) _t
           |  WHERE octet_length(encode(w)) >= 2 GROUP BY w),
           |v0 AS (
           |  SELECT w, f, ${byteSymsSql("w")} AS syms
           |  FROM wf),
           |${trainStagesSql(k)}
           |SELECT cast(step as int) AS step, a, b FROM (${trainOutSql(k)}) _u""".stripMargin
      }
    ),
    Q(
      // BYTE-level BPE encode: the shipped byte-merge table applied in
      // learned order over byte symbols — including genuinely multibyte
      // merges (Ã+© is U+00E9 'é''s UTF-8 pair, Ã+¤ is 'ä''s). Map-only
      // like the char-level encode; losslessness (detokenize ∘ encode =
      // id on arbitrary UTF-8) is property-tested in BpeSpec.
      "docs_bpe_byte_encode",
      (s, d) => encodeByteDf(s, d, ByteEncodeMerges),
      Some {
        val norm =
          "lower(trim(regexp_replace(replace(coalesce(text, ''), chr(1), ''), '\\s+', ' ', 'g')))"
        val wrapped =
          s"array_to_string(list_transform(${byteSymsSql("w")}, s -> chr(1) || s || chr(1)), '')"
        s"""WITH base AS (SELECT doc_id, $norm AS t FROM documents),
           |wx AS (
           |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
           |  FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM base) _b),
           |w AS (SELECT doc_id, i, ws[i] AS w FROM wx WHERE length(ws[i]) > 0),
           |enc AS (SELECT doc_id, i, ${encodeMergeSql(wrapped, ByteEncodeMerges)} AS m FROM w),
           |tok AS (SELECT doc_id, i,
           |  string_split(substr(m, 2, length(m) - 2), chr(1) || chr(1)) AS toks FROM enc),
           |agg AS (
           |  SELECT doc_id, cast(sum(len(toks)) AS bigint) AS n_tokens,
           |    string_agg(array_to_string(toks, ' '), ' ' ORDER BY i) AS tokens_str
           |  FROM tok GROUP BY doc_id)
           |SELECT b.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
           |  coalesce(a.tokens_str, '') AS tokens_str
           |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin
      }
    ),
    Q(
      // Tokenizer inference: apply the shipped merge table to every word
      // of every document (Sennrich encode = merges in learned order,
      // each one greedy-left pass, realized as sentinel-delimited string
      // replaces). Map-only: per-doc token sequence + count with no
      // shuffle at all. The DuckDB oracle replays the identical replace
      // chain, so the greedy-left semantics are certified end-to-end.
      "docs_bpe_encode",
      (s, d) => encodeDf(s, d, EncodeMerges),
      Some {
        val norm =
          "lower(trim(regexp_replace(replace(coalesce(text, ''), chr(1), ''), '\\s+', ' ', 'g')))"
        val wrapped =
          "array_to_string(list_transform(range(1, length(w) + 1), c -> chr(1) || substr(w, c, 1) || chr(1)), '')"
        s"""WITH base AS (SELECT doc_id, $norm AS t FROM documents),
           |wx AS (
           |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
           |  FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM base) _b),
           |w AS (SELECT doc_id, i, ws[i] AS w FROM wx WHERE length(ws[i]) > 0),
           |enc AS (SELECT doc_id, i, ${encodeMergeSql(wrapped)} AS m FROM w),
           |tok AS (SELECT doc_id, i,
           |  string_split(substr(m, 2, length(m) - 2), chr(1) || chr(1)) AS toks FROM enc),
           |agg AS (
           |  SELECT doc_id, cast(sum(len(toks)) AS bigint) AS n_tokens,
           |    string_agg(array_to_string(toks, ' '), ' ' ORDER BY i) AS tokens_str
           |  FROM tok GROUP BY doc_id)
           |SELECT b.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
           |  coalesce(a.tokens_str, '') AS tokens_str
           |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin
      }
    ),
    Q(
      // One certified BPE merge step: count weighted adjacent pairs over
      // the initial character symbols, pick the argmax (ties → smallest
      // pair), merge it greedy-left in every word. The best pair rides a
      // non-foldable constant-key broadcast equi-join (never a
      // nested-loop). The oracle reproduces the greedy-left fold
      // arithmetically: a merge position must match the pair AND — only
      // when a = b, the one self-overlapping case — sit at an even
      // offset within its run of `a`s.
      "docs_bpe_merge_step",
      (s, d) => {
        val vocab = vocabOf(s, d)
        val best = pairCounts(vocab)
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(1)
          // n - n + 1 on THIS side too: a lit(1) key would fold into the
          // join condition and degrade the plan to a nested-loop join.
          .select(
            col("a").as("best_a"),
            col("b").as("best_b"),
            (col("n") - col("n") + 1).cast("int").as("__k")
          )
        vocab
          // f - f + 1: stays non-foldable, so the join plans as a
          // broadcast HASH join on the constant key (KMeans idiom).
          .withColumn("__k", (col("f") - col("f") + 1).cast("int"))
          .join(broadcast(best), "__k")
          .select(
            col("w"),
            col("f"),
            concat(col("best_a"), lit("+"), col("best_b")).as("best_pair"),
            array_join(
              mergePair(col("syms"), col("best_a"), col("best_b")),
              " "
            ).as("merged")
          )
      },
      Some {
        val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
        s"""WITH wf AS (
           |  SELECT w, count(*) AS f
           |  FROM (SELECT unnest(string_split($norm, ' ')) AS w FROM documents) _t
           |  WHERE length(w) >= 2 GROUP BY w),
           |pc AS (
           |  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, sum(f) AS n
           |  FROM (SELECT w, f, unnest(range(1, length(w))) AS i FROM wf) _p
           |  GROUP BY 1, 2),
           |best AS (SELECT a, b FROM pc ORDER BY n DESC, a, b LIMIT 1),
           |m AS (
           |  SELECT w, f, a, b,
           |    list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS chars
           |  FROM wf CROSS JOIN best),
           |k AS (
           |  SELECT w, f, a, b, chars,
           |    list_transform(range(1, len(chars)), i ->
           |      chars[i] = a AND chars[i + 1] = b AND
           |      (a != b OR
           |       (i - 1 - coalesce(list_max(list_filter(range(1, i), j -> chars[j] != a)), 0)) % 2 = 0)
           |    ) AS mask
           |  FROM m)
           |SELECT w, f, a || '+' || b AS best_pair,
           |  array_to_string(
           |    list_filter(
           |      list_transform(range(1, len(chars) + 1), i ->
           |        CASE WHEN i <= len(mask) AND mask[i] THEN a || b
           |             WHEN i > 1 AND mask[i - 1] THEN NULL
           |             ELSE chars[i] END),
           |      x -> x IS NOT NULL),
           |    ' ') AS merged
           |FROM k""".stripMargin
      }
    )
  )
}
