package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Blocking-quality evaluation for the dedup pipeline — the record-
  * linkage literature's standard diagnostics (reduction ratio and
  * per-blocking-key precision; Christen 2012's survey of indexing
  * techniques) computed over the SAME blocking and match predicate the
  * production dedup runs (reference DedupHandler.php's title-key + ISBN
  * blocks). Per block kind:
  *
  *   - `n_keys` — distinct usable (non-empty, non-heavy) blocking keys;
  *   - `n_candidates` — cross-source candidate pairs the kind generates,
  *     computed WITHOUT materializing a single pair: Σ over keys of
  *     Σ_{s<t} n_s·n_t from the bounded (kind, key, source) count table
  *     — the statistic every blocking tuner needs at 100 TB, where
  *     counting by pair enumeration would be the very quadratic the
  *     blocks exist to avoid;
  *   - `n_matches` — candidates that pass the full matchRecords veto
  *     chain (pair-materialized, but only within capped blocks — the
  *     production edge derivation's own cost envelope);
  *   - `precision_pm` — matches per candidate, exact integer permyriad;
  *   - `reduction_pm` — 10000·(1 − candidates/total cross-source pairs):
  *     how much of the all-pairs quadratic the blocking avoids, with the
  *     total likewise computed from per-source record counts only.
  *
  * The heavy-block cap (MaxBlockSize, broadcast anti-join) is applied
  * before BOTH counts, so the eval describes exactly the candidate set
  * the production path scores.
  */
object BlockingEval {

  /** Eval rows of any keyed record frame (withKeys output) — factored
    * for specs.
    */
  def evalOf(keyed: DataFrame): DataFrame = {
    val capped = Skew.capHeavy(Dedup.explodeBlockKeys(keyed), Dedup.BlockKeys, Dedup.MaxBlockSize).persist()

    // Candidate counts from the bounded (kind, key, source) table.
    val perSrc = capped
      .groupBy("__block_kind", "__block_key", "source_id")
      .agg(count(lit(1)).as("n"))
    val cand = perSrc
      .select(col("__block_kind"), col("__block_key"), col("source_id").as("s1"), col("n").as("n1"))
      .join(
        perSrc.select(
          col("__block_kind"),
          col("__block_key"),
          col("source_id").as("s2"),
          col("n").as("n2")
        ),
        Seq("__block_kind", "__block_key")
      )
      .filter(col("s1") < col("s2"))
      .groupBy("__block_kind")
      .agg(sum(col("n1") * col("n2")).as("n_candidates"))
    val nkeys = capped
      .select(col("__block_kind"), col("__block_key"))
      .distinct()
      .groupBy("__block_kind")
      .agg(count(lit(1)).as("n_keys"))

    // Matched pairs per kind: the production pair join + veto chain,
    // kind retained (each record carries ONE key per kind, so a pair
    // appears at most once per kind — no distinct needed).
    val matches = Dedup.suffixed(capped, "_1")
      .join(
        Dedup.suffixed(capped, "_2"),
        col("__block_kind_1") === col("__block_kind_2") &&
          col("__block_key_1") === col("__block_key_2") &&
          col("source_id_1") =!= col("source_id_2") &&
          col("id_1") < col("id_2")
      )
      .filter(Dedup.matchPredicate)
      .groupBy(col("__block_kind_1").as("__block_kind"))
      .agg(count(lit(1)).as("n_matches"))

    // Total cross-source pairs from per-source record counts alone.
    // Bounded pair join through a non-foldable hash key (a bare
    // inequality join would plan the BroadcastNestedLoopJoin the plan
    // suite reserves for knn).
    val bySrc = keyed.groupBy("source_id").agg(count(lit(1)).as("n"))
    val total = bySrc
      .select(col("source_id").as("s1"), col("n").as("n1"), (col("n") - col("n") + 1).cast("int").as("j"))
      .join(
        bySrc.select(col("source_id").as("s2"), col("n").as("n2"), (col("n") - col("n") + 1).cast("int").as("j")),
        Seq("j")
      )
      .filter(col("s1") < col("s2"))
      .agg(sum(col("n1") * col("n2")).as("total_pairs"))

    cand
      .join(nkeys, Seq("__block_kind"))
      .join(matches, Seq("__block_kind"), "left")
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
      .withColumn("j", (col("n_keys") - col("n_keys") + 1).cast("int"))
      .join(
        broadcast(
          total.select((col("total_pairs") - col("total_pairs") + 1).cast("int").as("j"), col("total_pairs"))
        ),
        Seq("j")
      )
      .select(
        col("__block_kind").as("kind"),
        col("n_keys"),
        col("n_candidates"),
        col("n_matches"),
        expr("n_matches * 10000 div n_candidates").as("precision_pm"),
        expr("10000 - n_candidates * 10000 div total_pairs").as("reduction_pm")
      )
  }

  /** Fellegi-Sunter field weights (Fellegi & Sunter 1969; Winkler's
    * survey): per-field agreement probabilities among matched vs
    * non-matched candidate pairs — m = P(agree | match),
    * u = P(agree | non-match) — and the log-odds field weight
    * ln(m/u) that a probabilistic linker scores with. Here the
    * matchRecords veto chain provides the match labels (the supervised
    * variant; an EM fit drops into the same frame), so the output
    * quantifies HOW MUCH each field contributes to the deterministic
    * decision — the first step of migrating a rule chain to
    * probabilistic scoring. Candidate pairs are the production capped
    * blocks, de-duplicated across block kinds; m/u cross the oracle as
    * exact integer permyriad and the weight as ln of a ratio of exact
    * integer products, so both engines compute the identical double.
    */
  /** The candidate-pair agreement frame both Fellegi-Sunter queries
    * score: capped production blocks, deduplicated across kinds, one
    * boolean agreement flag per field plus the veto-chain match label.
    */
  private def agreementFlags(keyed: DataFrame): DataFrame = {
    val capped = Skew.capHeavy(Dedup.explodeBlockKeys(keyed), Dedup.BlockKeys, Dedup.MaxBlockSize)
    Dedup.suffixed(capped, "_1")
      .join(
        Dedup.suffixed(capped, "_2"),
        col("__block_kind_1") === col("__block_kind_2") &&
          col("__block_key_1") === col("__block_key_2") &&
          col("source_id_1") =!= col("source_id_2") &&
          col("id_1") < col("id_2")
      )
      // A pair blocked by BOTH kinds carries identical field values —
      // keep it once.
      .dropDuplicates("id_1", "id_2")
      .select(
        Dedup.matchPredicate.as("m"),
        (col("norm_title_1") === col("norm_title_2") && col("norm_title_1") =!= "").as("f_title"),
        (col("norm_author_1") === col("norm_author_2") && col("norm_author_1") =!= "").as("f_author"),
        (col("year_1").isNotNull && col("year_2").isNotNull && col("year_1") === col("year_2")).as("f_year"),
        (col("pages_1").isNotNull && col("pages_2").isNotNull &&
          abs(col("pages_1") - col("pages_2")) <= 10).as("f_pages"),
        (col("isbn_key_1") === col("isbn_key_2") && col("isbn_key_1") =!= "").as("f_isbn")
      )
  }

  def fsWeightsOf(keyed: DataFrame): DataFrame = {
    val pairs = agreementFlags(keyed)
    val fields = Seq("title", "author", "year", "pages", "isbn")
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val aggCols = Seq(cnt(col("m")).as("nm"), cnt(!col("m")).as("nn")) ++
      fields.flatMap { f =>
        Seq(
          cnt(col(s"f_$f") && col("m")).as(s"am_$f"),
          cnt(col(s"f_$f") && !col("m")).as(s"an_$f")
        )
      }
    val one = pairs.agg(aggCols.head, aggCols.tail: _*)
    val rows = explode(
      array(
        fields.map(f =>
          struct(lit(f).as("field"), col(s"am_$f").as("am"), col(s"an_$f").as("an"))
        ): _*
      )
    )
    one
      .select(col("nm"), col("nn"), rows.as("r"))
      .select(
        col("r.field").as("field"),
        col("nm").as("n_match"),
        col("nn").as("n_nonmatch"),
        col("r.am").as("agree_match"),
        col("r.an").as("agree_nonmatch"),
        expr("r.am * 10000 div nm").as("m_pm"),
        expr("r.an * 10000 div nn").as("u_pm"),
        // ln of a ratio of exact integer products — bit-identical in
        // both engines; null when a zero count makes it undefined.
        // `+ 0.0` kills IEEE −0.0: a ratio just below 1 (|ln| < 5e-5)
        // rounds to −0.0 in DuckDB but 0.0 in Spark (see zipf_slope).
        when(
          col("r.am") > 0 && col("r.an") > 0,
          round(log((col("r.am") * col("nn")).cast("double") / (col("r.an") * col("nm"))), 4) +
            lit(0.0)
        ).as("weight")
      )
  }

  // ---------------------------------------------------------------------
  // Unsupervised Fellegi-Sunter EM (round 9)
  // ---------------------------------------------------------------------

  /** Param quantum: probabilities live as integers in [1, FsQ−1]. 1e8
    * keeps 8 significant digits; int64 M-step sums then bound the
    * candidate-pair count at 2^63/FsQ ≈ 9.2·10¹⁰ (a 100-TB deployment
    * that blocks into more pairs drops FsQ to 1e6 for 9.2·10¹² — same
    * code, one constant).
    */
  private val FsQuantum = 100000000L
  private val FsIters = 5
  private val FsFields = Seq("title", "author", "year", "pages", "isbn")

  /** EM parameter state: match proportion p and per-field m/u, all in
    * FsQuantum units.
    */
  private final case class FsParams(p: Long, m: Array[Long], u: Array[Long])

  /** Driver-side EM over the 32-row agreement-pattern census (the
    * [[Classifier]] bounded-model discipline: the census is MODEL
    * configuration — ≤ 2⁵ rows regardless of corpus size — so iterating
    * over it in the driver is O(32·K) flops, not a data pass).
    *
    * Engine determinism: every E-step likelihood is a fixed-order
    * product of exact small integers in IEEE doubles (correctly-rounded
    * ops, identical in the oracle's CTE replay); per-pattern weights
    * re-quantize to FsQuantum units immediately, so all M-step sums are
    * int64 and order-independent. Parameters clamp to [1, FsQ−1] —
    * EM's usual zero-probability absorbing states cannot occur.
    */
  private def emFit(census: Seq[(Array[Boolean], Long)]): FsParams = {
    val nf = FsFields.size
    var par = FsParams(
      FsQuantum / 10,
      Array.fill(nf)(FsQuantum / 10 * 9),
      Array.fill(nf)(FsQuantum / 10)
    )
    val n = census.map(_._2).sum
    // Degenerate corpora with no candidate pairs keep the init params
    // (the oracle's n-guard mirrors this) — without the guard the
    // p-update rounds NaN and the engines diverge.
    if (n == 0) return par
    for (_ <- 1 to FsIters) {
      var sw = 0L
      val swf = Array.fill(nf)(0L)
      val suf = Array.fill(nf)(0L)
      for ((g, c) <- census) {
        var a = par.p.toDouble
        var b = (FsQuantum - par.p).toDouble
        var i = 0
        while (i < nf) {
          a = a * (if (g(i)) par.m(i) else FsQuantum - par.m(i)).toDouble
          b = b * (if (g(i)) par.u(i) else FsQuantum - par.u(i)).toDouble
          i += 1
        }
        val wq = math.round(FsQuantum.toDouble * a / (a + b))
        sw += c * wq
        var j = 0
        while (j < nf) {
          if (g(j)) { swf(j) += c * wq; suf(j) += c * (FsQuantum - wq) }
          j += 1
        }
      }
      val su = FsQuantum * n - sw
      def clamp(x: Long): Long = math.max(1L, math.min(FsQuantum - 1, x))
      par = FsParams(
        clamp(math.round(sw.toDouble / n.toDouble)),
        Array.tabulate(nf) { j =>
          if (sw > 0) clamp(math.round(FsQuantum.toDouble * swf(j).toDouble / sw.toDouble))
          else par.m(j)
        },
        Array.tabulate(nf) { j =>
          if (su > 0) clamp(math.round(FsQuantum.toDouble * suf(j).toDouble / su.toDouble))
          else par.u(j)
        }
      )
    }
    par
  }

  /** Unsupervised Fellegi-Sunter fit (F-S 1969 §5's EM replacement for
    * the reference's deterministic DedupHandler.php:742 rule chain —
    * the supervised `dedup_fs_weights` uses the chain as labels; this
    * estimates p, m_f, u_f from the agreement patterns ALONE). Under
    * conditional independence the pattern census is a sufficient
    * statistic, so the corpus-scale work is ONE ≤ 2⁵-key map-side-
    * combinable aggregate over the capped candidate pairs; EM then runs
    * on the census (see [[emFit]]). The oracle replays the identical
    * quantized iterations as chained CTEs, certifying TRAINING, not
    * just the final projection.
    */
  def fsEmOf(keyed: DataFrame): DataFrame = {
    val flags = agreementFlags(keyed)
    val patCols = FsFields.map(f => coalesce(col(s"f_$f"), lit(false)).as(s"f_$f"))
    val census = flags
      .groupBy(patCols: _*)
      .agg(count(lit(1)).as("c"))
      .collect()
      .toSeq
      .map { r =>
        (FsFields.map(f => r.getAs[Boolean](s"f_$f")).toArray, r.getAs[Long]("c"))
      }
    val par = emFit(census)
    val s = keyed.sparkSession
    import s.implicits._
    FsFields.zipWithIndex
      .map { case (f, i) => (f, par.m(i), par.u(i)) }
      .toDF("field", "m_mu", "u_mu")
      .withColumn("p_mu", lit(par.p))
      .withColumn(
        "weight",
        round(log(col("m_mu").cast("double") / col("u_mu").cast("double")), 4) + lit(0.0)
      )
  }

  /** FS-EM scoring from STORED parameters — the inference face of the
    * unsupervised fit, and the sixth persisted-model family
    * ([[ModelStore]]): the fitted (p, m_f, u_f) round-trip through a
    * parquet model table and candidate pairs are scored from the
    * LOADED state only. Output is per agreement PATTERN (≤ 2⁵ rows —
    * under conditional independence the pattern determines the score):
    * pair count, the Fellegi-Sunter total log-likelihood-ratio weight
    * (integer 1e-4 units, fixed field order), and the quantized
    * posterior match probability (the E-step law under the stored
    * params). Scale shape: ONE ≤2⁵-key map-side-combinable aggregate
    * over the capped pairs plus an 11-number literal-embedded model —
    * no join, no window.
    */
  def fsScoreStoredOf(s: SparkSession, d: String, path: String): DataFrame = {
    val keyed = Dedup.withKeys(DedupQueries.records(s, d))
    fsEmOf(keyed).coalesce(1).write.mode("overwrite").parquet(path)
    val st = s.read.parquet(path).collect()
    val mm = st.map(r => r.getAs[String]("field") -> r.getAs[Long]("m_mu")).toMap
    val uu = st.map(r => r.getAs[String]("field") -> r.getAs[Long]("u_mu")).toMap
    val p = st.head.getAs[Long]("p_mu")
    val q = FsQuantum
    val patCols = FsFields.map(f => coalesce(col(s"f_$f"), lit(false)).as(s"f_$f"))
    val pat = agreementFlags(keyed).groupBy(patCols: _*).agg(count(lit(1)).as("n_pairs"))
    val a = FsFields.foldLeft(lit(p.toDouble)) { (acc, f) =>
      acc * when(col(s"f_$f"), lit(mm(f).toDouble)).otherwise(lit((q - mm(f)).toDouble))
    }
    val b = FsFields.foldLeft(lit((q - p).toDouble)) { (acc, f) =>
      acc * when(col(s"f_$f"), lit(uu(f).toDouble)).otherwise(lit((q - uu(f)).toDouble))
    }
    // Cross-engine ln guard (r11 advice): weight_mu bakes driver-side
    // math.log while the oracle computes DuckDB ln — two libm
    // implementations that agree to ~1 ulp but are not guaranteed
    // identically rounded. A silent hash flip needs 1e4·ln(num/den) to
    // sit within ~1 ulp (≈2e-12 at this magnitude) of a .5 rounding
    // boundary; require a margin 10⁶× wider and fail LOUDLY at model
    // time instead of diverging silently. (Multiplication/division in
    // the posterior are IEEE-exact-rounded from identical integers in
    // both engines — ln is the only libm call in the law.)
    def lnMu(num: Long, den: Long): Long = {
      val x = 1e4 * math.log(num.toDouble / den.toDouble)
      val frac = x - math.floor(x)
      require(
        num == den || math.abs(frac - 0.5) > 1e-6,
        s"FS weight 1e4*ln($num/$den)=$x is within 1e-6 of a rounding boundary; " +
          "cross-engine libm rounding is not certifiable here"
      )
      math.round(x)
    }
    val w = FsFields
      .map { f =>
        when(col(s"f_$f"), lit(lnMu(mm(f), uu(f))))
          .otherwise(lit(lnMu(q - mm(f), q - uu(f))))
      }
      .reduce(_ + _)
    pat.select(
      FsFields.map(f => col(s"f_$f")) ++ Seq(
        col("n_pairs"),
        w.as("weight_mu"),
        round(lit(q.toDouble) * a / (a + b)).cast("long").as("post_mu")
      ): _*
    )
  }

  /** Stored-params scoring oracle: the EM CTE chain re-derives the
    * identical parameters (certifying the parquet round trip carries
    * exactly the trained state), then one pattern-level projection
    * replays the weight and posterior laws.
    */
  private[operators] def fsScoreOracleSql: String = {
    val q = FsQuantum
    val aTerms = FsFields
      .map(f => s"(CASE WHEN pat.f_$f THEN par.m_$f ELSE $q - par.m_$f END)")
      .mkString(" * ")
    val bTerms = FsFields
      .map(f => s"(CASE WHEN pat.f_$f THEN par.u_$f ELSE $q - par.u_$f END)")
      .mkString(" * ")
    val w = FsFields
      .map(f =>
        s"(CASE WHEN pat.f_$f THEN CAST(round(1e4 * ln(CAST(par.m_$f AS double) / CAST(par.u_$f AS double))) AS BIGINT) " +
          s"ELSE CAST(round(1e4 * ln(CAST($q - par.m_$f AS double) / CAST($q - par.u_$f AS double))) AS BIGINT) END)"
      )
      .mkString(" + ")
    s"""WITH $fsEmCtesSql
       |SELECT ${FsFields.map(f => s"pat.f_$f").mkString(", ")},
       |  CAST(pat.c AS BIGINT) AS n_pairs,
       |  $w AS weight_mu,
       |  CAST(round(($q.0 * (CAST(par.p_q AS double) * $aTerms)) /
       |    ((CAST(par.p_q AS double) * $aTerms) + (CAST($q - par.p_q AS double) * $bTerms))) AS BIGINT) AS post_mu
       |FROM pat CROSS JOIN par$FsIters par""".stripMargin
  }

  /** Oracle CTE prefix shared by the Fellegi-Sunter oracles: records →
    * capped block pairs → per-pair agreement flags (+ the veto-chain
    * label `m`, used only by the supervised query).
    */
  private def flagsCtesSql: String = {
    val flagConds = Seq(
      "title" -> "(r1.norm_title = r2.norm_title AND r1.norm_title != '')",
      "author" -> "(r1.norm_author = r2.norm_author AND r1.norm_author != '')",
      "year" -> "(r1.year IS NOT NULL AND r2.year IS NOT NULL AND r1.year = r2.year)",
      "pages" -> "(r1.pages IS NOT NULL AND r2.pages IS NOT NULL AND abs(r1.pages - r2.pages) <= 10)",
      "isbn" -> "(r1.isbn_key = r2.isbn_key AND r1.isbn_key != '')"
    )
    val flagCols = flagConds.map { case (f, cond) => s"$cond AS f_$f" }.mkString(",\n    ")
    s"""${DedupQueries.recordsSql},
       |ex AS (
       |  SELECT id, source_id, 't' AS kind, title_key AS key FROM recs WHERE title_key != ''
       |  UNION ALL
       |  SELECT id, source_id, 'i' AS kind, isbn_key AS key FROM recs WHERE isbn_key != ''),
       |heavy AS (SELECT kind, key FROM ex GROUP BY 1, 2 HAVING count(*) > ${Dedup.MaxBlockSize}),
       |capped AS (SELECT ex.* FROM ex ANTI JOIN heavy USING (kind, key)),
       |cpairs AS (
       |  SELECT DISTINCT e1.id AS id1, e2.id AS id2
       |  FROM capped e1 JOIN capped e2 ON e1.kind = e2.kind AND e1.key = e2.key
       |    AND e1.source_id != e2.source_id AND e1.id < e2.id),
       |flags AS (
       |  SELECT ${DedupQueries.matchSql} AS m,
       |    $flagCols
       |  FROM cpairs JOIN recs r1 ON r1.id = cpairs.id1 JOIN recs r2 ON r2.id = cpairs.id2)""".stripMargin
  }

  /** The EM oracle: census CTE + FsIters unrolled E/M CTE pairs, each
    * mirroring [[emFit]]'s quantized arithmetic expression for
    * expression.
    */
  private def fsEmOracleSql: String = {
    val unions = FsFields
      .map(f => s"SELECT '$f' AS field, m_$f AS m_mu, u_$f AS u_mu, p_q AS p_mu FROM par$FsIters")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $fsEmCtesSql,
       |u AS (
       |  $unions)
       |SELECT field, m_mu, u_mu, p_mu,
       |  round(ln(CAST(m_mu AS double) / CAST(u_mu AS double)), 4) + 0.0 AS weight
       |FROM u""".stripMargin
  }

  // E-step CTE: per pattern likelihoods a/b as fixed-order double
  // products, then the quantized weight.
  private def eStepSql(parPrev: String, out: String): String = {
    val q = FsQuantum
    val fields = FsFields
    locally {
      val aTerms = fields
        .map(f => s"(CASE WHEN f_$f THEN par.m_$f ELSE $q - par.m_$f END)")
        .mkString(" * ")
      val bTerms = fields
        .map(f => s"(CASE WHEN f_$f THEN par.u_$f ELSE $q - par.u_$f END)")
        .mkString(" * ")
      s"""$out AS MATERIALIZED (
         |  SELECT c, ${fields.map(f => s"f_$f").mkString(", ")},
         |    CAST(round(($q.0 * a) / (a + b)) AS BIGINT) AS w_q
         |  FROM (
         |    SELECT pat.*,
         |      (CAST(par.p_q AS double) * $aTerms) AS a,
         |      (CAST($q - par.p_q AS double) * $bTerms) AS b
         |    FROM pat CROSS JOIN $parPrev par) _e)""".stripMargin
    }
  }

  // M-step CTE: int64 sums over the E-step rows, clamped quantized
  // updates; zero-mass guards fall back to the previous parameter.
  private def mStepSql(parPrev: String, eCte: String, out: String): String = {
    val q = FsQuantum
    val fields = FsFields
    locally {
      val sums = fields
        .map(f =>
          s"CAST(sum(CASE WHEN f_$f THEN c * w_q ELSE 0 END) AS BIGINT) AS sw_$f,\n      " +
            s"CAST(sum(CASE WHEN f_$f THEN c * ($q - w_q) ELSE 0 END) AS BIGINT) AS su_$f"
        )
        .mkString(",\n      ")
      val ms = fields
        .map(f =>
          s"CASE WHEN sw > 0 THEN greatest(1, least(${q - 1}, " +
            s"CAST(round(($q.0 * CAST(sw_$f AS double)) / CAST(sw AS double)) AS BIGINT))) " +
            s"ELSE (SELECT m_$f FROM $parPrev) END AS m_$f"
        )
        .mkString(",\n    ")
      val us = fields
        .map(f =>
          s"CASE WHEN su > 0 THEN greatest(1, least(${q - 1}, " +
            s"CAST(round(($q.0 * CAST(su_$f AS double)) / CAST(su AS double)) AS BIGINT))) " +
            s"ELSE (SELECT u_$f FROM $parPrev) END AS u_$f"
        )
        .mkString(",\n    ")
      s"""$out AS MATERIALIZED (
         |  SELECT
         |    CASE WHEN n > 0 THEN greatest(1, least(${q - 1},
         |      CAST(round(CAST(sw AS double) / CAST(n AS double)) AS BIGINT)))
         |    ELSE (SELECT p_q FROM $parPrev) END AS p_q,
         |    $ms,
         |    $us
         |  FROM (
         |    SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
         |      CAST(coalesce(sum(c * w_q), 0) AS BIGINT) AS sw,
         |      CAST(coalesce(sum(c), 0) AS BIGINT) * $q - CAST(coalesce(sum(c * w_q), 0) AS BIGINT) AS su,
         |      $sums
         |    FROM $eCte) _m)""".stripMargin
    }
  }

  /** The EM training CTE chain (flags → pattern census → FsIters
    * unrolled E/M rounds) without a final SELECT — `par$FsIters` holds
    * the fitted parameters. Shared by the EM oracle and the
    * stored-params scoring oracle.
    */
  private def fsEmCtesSql: String = {
    val fields = FsFields
    val init = s"SELECT CAST(${FsQuantum / 10} AS BIGINT) AS p_q, " +
      fields.map(f => s"CAST(${FsQuantum / 10 * 9} AS BIGINT) AS m_$f").mkString(", ") + ", " +
      fields.map(f => s"CAST(${FsQuantum / 10} AS BIGINT) AS u_$f").mkString(", ")
    val iters = (1 to FsIters)
      .map(k => Seq(eStepSql(s"par${k - 1}", s"e$k"), mStepSql(s"par${k - 1}", s"e$k", s"par$k")).mkString(",\n"))
      .mkString(",\n")
    s"""$flagsCtesSql,
       |pat AS MATERIALIZED (
       |  SELECT ${fields.map(f => s"coalesce(f_$f, false) AS f_$f").mkString(", ")}, count(*) AS c
       |  FROM flags GROUP BY ${fields.indices.map(_ + 1).mkString(", ")}),
       |par0 AS MATERIALIZED ($init),
       |$iters""".stripMargin
  }

  private val fsEmQ = Q(
    "dedup_fs_em",
    (s, d) => fsEmOf(Dedup.withKeys(DedupQueries.records(s, d))),
    Some(fsEmOracleSql)
  )

  private val fsQ = Q(
    "dedup_fs_weights",
    (s, d) => fsWeightsOf(Dedup.withKeys(DedupQueries.records(s, d))),
    Some {
      val aggCols = FsFields
        .map { f =>
          s"sum(CASE WHEN f_$f AND m THEN 1 ELSE 0 END) AS am_$f, " +
            s"sum(CASE WHEN f_$f AND NOT m THEN 1 ELSE 0 END) AS an_$f"
        }
        .mkString(",\n    ")
      val unions = FsFields
        .map { f =>
          s"SELECT '$f' AS field, cast(am_$f AS bigint) AS am, cast(an_$f AS bigint) AS an, nm, nn FROM agg"
        }
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $flagsCtesSql,
         |agg AS (
         |  SELECT cast(sum(CASE WHEN m THEN 1 ELSE 0 END) AS bigint) AS nm,
         |    cast(sum(CASE WHEN NOT m THEN 1 ELSE 0 END) AS bigint) AS nn,
         |    $aggCols
         |  FROM flags),
         |u AS (
         |  $unions)
         |SELECT field, nm AS n_match, nn AS n_nonmatch,
         |  am AS agree_match, an AS agree_nonmatch,
         |  am * 10000 // nm AS m_pm,
         |  an * 10000 // nn AS u_pm,
         |  (CASE WHEN am > 0 AND an > 0
         |        THEN round(ln(cast(am * nn AS double) / (an * nm)), 4) + 0.0 END) AS weight
         |FROM u""".stripMargin
    }
  )

  private val evalQ = Q(
    "dedup_blocking_eval",
    (s, d) => evalOf(Dedup.withKeys(DedupQueries.records(s, d))),
    Some {
      s"""WITH ${DedupQueries.recordsSql},
         |ex AS (
         |  SELECT id, source_id, 't' AS kind, title_key AS key FROM recs WHERE title_key != ''
         |  UNION ALL
         |  SELECT id, source_id, 'i' AS kind, isbn_key AS key FROM recs WHERE isbn_key != ''),
         |heavy AS (SELECT kind, key FROM ex GROUP BY 1, 2 HAVING count(*) > ${Dedup.MaxBlockSize}),
         |capped AS (SELECT ex.* FROM ex ANTI JOIN heavy USING (kind, key)),
         |persrc AS (SELECT kind, key, source_id, count(*) AS n FROM capped GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT c1.kind, cast(sum(c1.n * c2.n) AS bigint) AS n_candidates
         |  FROM persrc c1 JOIN persrc c2
         |    ON c1.kind = c2.kind AND c1.key = c2.key AND c1.source_id < c2.source_id
         |  GROUP BY 1),
         |nkeys AS (SELECT kind, count(DISTINCT key) AS n_keys FROM capped GROUP BY 1),
         |m AS (
         |  SELECT e1.kind, count(*) AS n_matches
         |  FROM capped e1
         |  JOIN capped e2 ON e1.kind = e2.kind AND e1.key = e2.key
         |    AND e1.source_id != e2.source_id AND e1.id < e2.id
         |  JOIN recs r1 ON r1.id = e1.id
         |  JOIN recs r2 ON r2.id = e2.id
         |  WHERE ${DedupQueries.matchSql}
         |  GROUP BY 1),
         |tot AS (
         |  SELECT cast(sum(s1.n * s2.n) AS bigint) AS total_pairs FROM
         |    (SELECT source_id, count(*) AS n FROM recs GROUP BY 1) s1
         |    JOIN (SELECT source_id, count(*) AS n FROM recs GROUP BY 1) s2
         |    ON s1.source_id < s2.source_id)
         |SELECT cand.kind, cast(n_keys AS bigint) AS n_keys, n_candidates,
         |  cast(coalesce(n_matches, 0) AS bigint) AS n_matches,
         |  coalesce(n_matches, 0) * 10000 // n_candidates AS precision_pm,
         |  10000 - n_candidates * 10000 // total_pairs AS reduction_pm
         |FROM cand
         |JOIN nkeys ON cand.kind = nkeys.kind
         |LEFT JOIN m ON cand.kind = m.kind
         |CROSS JOIN tot""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(evalQ, fsQ, fsEmQ)
}
