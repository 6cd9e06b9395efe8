package graft.operators

import graft.functions.MetadataFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record deduplication pipeline.
  *
  * Spark-native re-expression of RecordManager's dedup semantics
  * (reference: src/RecordManager/Base/Deduplication/DedupHandler.php:380
  * `dedupRecord`, :742 `matchRecords`). The reference walks records one at a
  * time against a MongoDB index of dedup keys; at 100 TB that per-record
  * loop becomes a set-oriented plan instead:
  *
  *  1. key generation (title key / ISBN / ids) — pure column expressions;
  *  2. candidate generation — equi-joins on blocking keys (hash-partitioned
  *     shuffles, never a cross join; bucket sizes are bounded by the key
  *     cardinality, mirroring the reference's 101-candidate cap);
  *  3. pairwise `matchRecords` predicate — a column expression;
  *  4. cluster assignment — iterative min-label propagation (connected
  *     components), each iteration one shuffle on the edge key.
  *
  * Expected input columns: id, source_id, title, author, year, isbn.
  */
object Dedup {

  /** Add dedup key columns (reference: DedupHandler.php getTitleKeys /
    * getIsbnKeys via MetadataUtils createTitleKey / normalizeISBN).
    * Uses the fused native normalization (NormalizeKeyExpr — same
    * semantics as MetadataFunctions.normalizeKey, single char pass) for
    * the two full-string keys on the hot path.
    *
    * `folding` is the deployment's key-folding table
    * (MetadataUtils.php:416-433: configured deployments — e.g. the
    * NatLibFi production setup — fold Scandinavian characters so that
    * accent variants land in the same dedup block and survive the title
    * Levenshtein bound; pass
    * `MetadataFunctions.DefaultFoldingTable` optionally filtered by
    * `folding_ignore_characters`). The default (no folding) matches the
    * reference with an empty table.
    */
  def withKeys(
      records: DataFrame,
      folding: Seq[(Char, String)] = Nil
  ): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    import graft.plans.{NormalizeKeyExpr, TitleKeyExpr}
    def fusedNorm(c: org.apache.spark.sql.Column) =
      GraftColumn.of(NormalizeKeyExpr(GraftColumn.exprOf(c), folding))
    def fusedTitleKey(c: org.apache.spark.sql.Column) =
      GraftColumn.of(TitleKeyExpr(GraftColumn.exprOf(c), folding))
    // Optional matchRecords inputs default to "unknown" when the record
    // model doesn't carry them (pages null, series fields empty, format
    // empty, no record-level ISSNs).
    val optional = Seq(
      "pages" -> lit(null).cast("int"),
      "series_issn" -> lit(""),
      "series_numbering" -> lit(""),
      "format" -> lit(""),
      "issns" -> lit(null).cast("array<string>"),
      "unique_ids" -> lit(null).cast("array<string>"),
      "hidden" -> lit(false),
      "access_restrictions" -> lit("")
    ).filterNot { case (c, _) => records.columns.contains(c) }
    // Null titles/authors/isbns normalize to "" (not null): matchPredicate
    // compares with === and SQL three-valued logic would silently drop any
    // pair where both sides are null instead of treating them as equal.
    val keys = Seq(
      "title_key" -> coalesce(fusedTitleKey(col("title")), lit("")),
      "norm_title" -> coalesce(fusedNorm(col("title")), lit("")),
      "norm_author" -> coalesce(fusedNorm(col("author")), lit("")),
      "isbn_key" -> coalesce(normalizeIsbn(col("isbn")), lit(""))
    )
    // One projection (a withColumn per column re-analyzes the plan per
    // column); an existing key column is replaced in place, as withColumn
    // would.
    records.withColumns(scala.collection.immutable.ListMap(optional ++ keys: _*))
  }

  /** `df` with every column renamed to its name plus `suffix`, in one
    * projection — the two sides of a candidate self-join.
    */
  private[operators] def suffixed(df: DataFrame, suffix: String): DataFrame =
    df.select(df.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`").as(c + suffix)): _*)

  /** The reference's matchRecords predicate over a joined candidate pair
    * (columns suffixed _1 / _2), in the reference's veto order
    * (DedupHandler.php:742): formats must agree FIRST (a format mismatch
    * vetoes even a shared ISBN, DedupHandler.php:786-808); then a shared
    * ISBN is an immediate match; otherwise record-level ISSN sets must not
    * be disjoint when both known (DedupHandler.php:857-884), publication
    * years must not conflict, titles must be within 10% Levenshtein
    * distance, and authors must agree (authorMatch or within 20% distance).
    *
    * `format` and `issns` default to unknown via [[withKeys]] when the
    * record model doesn't carry them; unknown-vs-unknown passes, but — as
    * in the reference, where an empty format array != a non-empty one — a
    * known format never matches an unknown one. The remaining reference
    * vetoes are carried the same way: `hidden` (both component-part hidden
    * or neither) and `access_restrictions` (must be identical) apply ahead
    * of everything, and a shared entry in `unique_ids` (NBN-style) is an
    * immediate match alongside the shared-ISBN short circuit.
    */
  def matchPredicate: Column = {
    // Both hidden component parts or neither (DedupHandler.php:753-775),
    // and identical access restrictions (:778-784) — the two vetoes the
    // reference applies before anything else.
    val hiddenOk =
      coalesce(col("hidden_1"), lit(false)) === coalesce(col("hidden_2"), lit(false))
    val accessOk =
      coalesce(col("access_restrictions_1"), lit("")) ===
        coalesce(col("access_restrictions_2"), lit(""))
    val f1 = coalesce(col("format_1"), lit(""))
    val f2 = coalesce(col("format_2"), lit(""))
    val formatOk = f1 === f2
    // Shared non-ISBN unique id (e.g. NBN) is an immediate match, same as
    // a shared ISBN (DedupHandler.php:836-855).
    val u1 = coalesce(col("unique_ids_1"), array())
    val u2 = coalesce(col("unique_ids_2"), array())
    val uniqueIdMatch = size(array_intersect(u1, u2)) > 0
    val i1 = coalesce(col("issns_1"), array())
    val i2 = coalesce(col("issns_2"), array())
    val issnOk = size(i1) === 0 || size(i2) === 0 ||
      size(array_intersect(i1, i2)) > 0
    val isbnMatch = col("isbn_key_1") =!= "" && col("isbn_key_1") === col("isbn_key_2")
    val yearOk = col("year_1") === col("year_2") ||
      col("year_1").isNull || col("year_2").isNull
    // The reference normalizes the distance by the *current* record's
    // length and over a full corpus pass each record takes a turn as the
    // current one — the set-oriented equivalent accepts the pair if either
    // direction is within the threshold. The bound can only be met when
    // dist <= max(len)/denominator, so the banded 3-arg levenshtein
    // (O(n·k) instead of O(n²), returns -1 past the threshold) computes
    // the same decision at a fraction of the cost — candidate pairs are
    // near-identical long strings, the worst case for the full DP.
    def boundedLev(l: Column, r: Column, pctBound: Int): Column = {
      import org.apache.spark.sql.GraftColumn
      import org.apache.spark.sql.catalyst.expressions.Levenshtein
      // The per-row threshold needs the expression form — the public
      // 3-arg levenshtein only takes a constant.
      val th = (greatest(length(l), length(r)) * pctBound / 100 + 1).cast("int")
      GraftColumn.of(
        Levenshtein(
          GraftColumn.exprOf(substring(l, 1, 255)),
          GraftColumn.exprOf(substring(r, 1, 255)),
          Some(GraftColumn.exprOf(th))
        )
      )
    }
    // Length pre-gate: the edit distance can never undercut the length
    // difference of the (255-truncated) strings the DP actually sees, and
    // the pct bound is met only when dist*100 </<= pct * max(full length)
    // (the larger denominator gives the smaller quotient). So a pair
    // whose truncated length gap already exceeds the bound cannot pass —
    // the conjunction short-circuits and the banded DP (the dominant
    // per-pair cost) is never entered. ISBN-blocked candidates with
    // unrelated titles are the common kill.
    def lenGate(l: Column, r: Column, pct: Int, strict: Boolean): Column = {
      val gap = abs(least(length(l), lit(255)) - least(length(r), lit(255))) * 100
      val bound = greatest(length(l), length(r)) * pct
      if (strict) gap < bound else gap <= bound
    }
    val titleLev = boundedLev(col("norm_title_1"), col("norm_title_2"), 10) * 100.0
    // Equality short-circuit ahead of the DP: title-blocked candidates
    // share a truncated budget key, and the most common case is the full
    // normalized titles being identical too (distance 0 trivially passes
    // the 10% bound) — one string compare instead of a banded DP.
    val titleOk = col("norm_title_1") =!= "" && col("norm_title_2") =!= "" &&
      (col("norm_title_1") === col("norm_title_2") ||
        (lenGate(col("norm_title_1"), col("norm_title_2"), 10, strict = true) &&
          titleLev >= 0 &&
          (titleLev / length(col("norm_title_1")) < 10 ||
            titleLev / length(col("norm_title_2")) < 10)))
    val a1 = col("norm_author_1")
    val a2 = col("norm_author_2")
    val authorLev = boundedLev(a1, a2, 20) * 100.0
    val authorOk = (a1 === "" && a2 === "") ||
      (a1 =!= "" && a2 =!= "" &&
        (authorMatch(a1, a2) ||
          (lenGate(a1, a2, 20, strict = false) &&
            authorLev >= 0 &&
            (authorLev / length(a1) <= 20 || authorLev / length(a2) <= 20))))
    // Page counts within 10 when both known; series ISSN/numbering must
    // agree exactly (DedupHandler.php:888-900).
    val pagesOk = col("pages_1").isNull || col("pages_2").isNull ||
      abs(col("pages_1") - col("pages_2")) <= 10
    // null series means "none" — same as the reference's '' (null-hostile
    // equality would veto every pair with a null series value).
    val seriesOk =
      coalesce(col("series_issn_1"), lit("")) === coalesce(col("series_issn_2"), lit("")) &&
        coalesce(col("series_numbering_1"), lit("")) === coalesce(col("series_numbering_2"), lit(""))
    hiddenOk && accessOk && formatOk &&
      (isbnMatch || uniqueIdMatch ||
        (issnOk && yearOk && pagesOk && seriesOk && titleOk && authorOk))
  }

  /** Reference bail-out threshold: DedupHandler.php stops processing a key
    * once it has seen 1000 candidates ("Too many candidates ... give up").
    */
  val MaxBlockSize = 1000

  /** Matched edges from title-key and ISBN blocking, via ONE self-join:
    * each record explodes to its usable blocking keys (non-empty, block
    * within MaxBlockSize) tagged with the key kind, and the join runs on
    * (kind, key). Same candidate set as two per-key self-joins, one
    * shuffle + one codegen pass instead of two of each. `keyed` should be
    * persisted by the caller — it feeds both join sides and the heavy-key
    * count of [[Skew.capHeavy]].
    */
  def matchedEdges(keyed: DataFrame): DataFrame =
    edgesFromExploded(Skew.capHeavy(explodeBlockKeys(keyed), BlockKeys, MaxBlockSize))

  /** One row per (record, usable blocking key), tagged with the key kind
    * — the frame both sides of the candidate self-join read. At cluster
    * scale this is the frame worth persisting BUCKETED by
    * (`__block_kind`, `__block_key`), already capped: the self-join then
    * consumes the stored bucketing and runs with zero Exchange — see
    * [[dedupRecordsBucketed]].
    */
  def explodeBlockKeys(keyed: DataFrame): DataFrame = {
    val blockKeys = filter(
      array(
        struct(lit("t").as("kind"), col("title_key").as("key")),
        struct(lit("i").as("kind"), col("isbn_key").as("key"))
      ),
      s => s.getField("key") =!= ""
    )
    keyed
      .withColumn("__bk", explode(blockKeys))
      .withColumn("__block_kind", col("__bk.kind"))
      .withColumn("__block_key", col("__bk.key"))
      .drop("__bk")
  }

  /** The columns of an [[explodeBlockKeys]] frame that name its block:
    * the candidate join key, the [[Skew.capHeavy]] key and the bucketed
    * layout's bucket key.
    */
  private[graft] val BlockKeys = Seq("__block_kind", "__block_key")

  /** The match predicate, optionally behind [[graft.plans.OpaquePredicateExpr]]
    * — a structural optimizer barrier — so Catalyst cannot lift its
    * equality conjuncts (format / hidden / access veto) into the join
    * keys. With extraction, the self-join clusters on a 5-part compound
    * key — fine when shuffling anyway, but it defeats a (kind,
    * key)-bucketed stored layout (the requirement no longer matches the
    * bucketing and both sides re-shuffle). The bucketed paths trade
    * slightly more per-pair predicate work inside each capped block for
    * ZERO Exchange on the corpus. A custom node, unlike a `CASE WHEN p
    * THEN true ELSE false END` wrapper, does not depend on which
    * simplifications a Catalyst version applies; BucketingSpec asserts
    * the plan.
    */
  private def matchFilter(opaque: Boolean): Column =
    if (opaque)
      org.apache.spark.sql.GraftColumn.of(
        graft.plans.OpaquePredicateExpr(org.apache.spark.sql.GraftColumn.exprOf(matchPredicate))
      )
    else matchPredicate

  /** Candidate edges from a [[Skew.capHeavy]]-capped [[explodeBlockKeys]]
    * frame: one (kind, key) self-join, then the match predicate (opaque
    * for a bucketed input, see [[matchFilter]]). It does not cap: an
    * uncapped frame would pair its heavy blocks quadratically, so it is
    * not public — callers are [[matchedEdges]], [[dedupRecordsBucketed]]
    * (whose stored layout is capped at write time) and the plan tests.
    */
  private[graft] def edgesFromExploded(
      capped: DataFrame,
      opaquePredicate: Boolean = false
  ): DataFrame =
    suffixed(capped, "_1")
      .join(
        suffixed(capped, "_2"),
        col("__block_kind_1") === col("__block_kind_2") &&
          col("__block_key_1") === col("__block_key_2") &&
          col("source_id_1") =!= col("source_id_2") &&
          col("id_1") < col("id_2")
      )
      .filter(matchFilter(opaquePredicate))
      .select(col("id_1"), col("id_2"))
      .distinct()

  /** Connected-component labels by iterative min-label propagation: every
    * node takes the min label among itself and its neighbors, for up to
    * `iters` rounds (a label moves one hop per round, so this converges
    * once `iters` exceeds the component diameter). Each round is one
    * aggregation shuffle — no driver-side graph. Returns (id, dedup_id)
    * for nodes that appear in an edge; throws `IllegalStateException` if
    * a label still decreased in round `iters`.
    */
  def assignClusters(edges: DataFrame, iters: Int = 10): DataFrame = {
    // Edge sets are tiny relative to the corpus (only blocked+matched
    // pairs) — materialize them ONCE, eagerly, before the propagation
    // loop forks consumers. A lazy persist here was the round-13 perf
    // bug: the first action's DAG reads `sym` from TWO subtrees (the
    // initial labels aggregate and the loop join), and AQE materializes
    // those shuffle stages concurrently — both found the cache cold and
    // re-derived the whole candidate-join + match-predicate lineage
    // (measured: 33 s of duplicated task time at sf0.1 on dedup_records
    // alone; eager checkpoint cuts the pipeline's task time 47 → 6.6 s,
    // wall 5.4 → 3.9 s). The eager checkpoint also truncates the
    // lineage so each propagation round re-reads edge BLOCKS, never the
    // join plan. Released at function exit (labels is itself
    // checkpoint-backed by then, so nothing downstream re-reads sym).
    val symCk = graft.Lineage.checkpoint(
      edges
        .select(col("id_1").as("id"), col("id_2").as("peer"))
        .union(edges.select(col("id_2").as("id"), col("id_1").as("peer")))
    )
    val sym = symCk.df
    // The decrease flag rides along INSIDE the propagation projection, so
    // ONE action per round both materializes the new labels and decides
    // convergence — no separate checksum scan. Labels only ever decrease,
    // so a round in which no label decreased is a fixpoint; most dedup
    // corpora are pair/star-heavy and stop after a single round.
    //
    // Each round references the previous labels frame TWICE (peer join +
    // id join), so a persist-only loop doubles the LOGICAL plan per round
    // — fine at dedup's diameter ≤ 2-3, but a diameter-d graph grows a
    // 2^d-node plan whose SQL-event description alone OOMs the driver.
    // A lazy checkpoint truncates the plan to a LogicalRDD per round
    // while the convergence count stays the single materializing action
    // (the Bpe.train / ConnectedComponents discipline, incl. the
    // executor-loss caveat documented on graft.Lineage).
    val labels0 = sym
      .groupBy("id")
      .agg(min(col("peer")).as("min_peer"))
      .select(
        col("id"),
        least(col("min_peer"), col("id")).as("dedup_id"),
        lit(true).as("__decreased")
      )
    var labels = graft.Lineage.checkpoint(labels0, eager = false)
    var nDecreased = -1L
    for (_ <- 1 to iters if nDecreased != 0) {
      val next0 = sym
        .join(
          labels.df
            .select(col("id").as("peer"), col("dedup_id").as("peer_label")),
          Seq("peer")
        )
        .groupBy("id")
        .agg(min(col("peer_label")).as("peer_min"))
        .join(labels.df.select("id", "dedup_id"), Seq("id"))
        .select(
          col("id"),
          least(col("peer_min"), col("dedup_id")).as("dedup_id"),
          (col("peer_min") < col("dedup_id")).as("__decreased")
        )
      val next = graft.Lineage.checkpoint(next0, eager = false)
      nDecreased = next.df.filter(col("__decreased")).count()
      labels.release()
      labels = next
    }
    // The returned frame reads the last label checkpoint, so the edge
    // checkpoint can go now; the label checkpoint stays registered until
    // the consumer's Lineage.releaseHeld().
    symCk.release()
    if (nDecreased != 0)
      throw new IllegalStateException(
        s"assignClusters did not converge in $iters rounds: $nDecreased labels still decreasing"
      )
    labels.df.drop("__decreased")
  }

  /** Incremental mode (the reference's per-record dedupRecord loop over
    * newly updated records, DedupHandler.php:380): match a new batch
    * against an already-clustered corpus and adopt the existing cluster id
    * on match (earliest-id cluster wins on multiple matches, mirroring the
    * reference's created-order candidate sort); unmatched records stay
    * unassigned. The corpus side joins on the same blocking keys — an
    * incremental run shuffles only corpus+batch, no recluster of history.
    * The corpus side is keyed, exploded and capped on every call and not
    * persisted here; [[dedupIncrementalBucketed]] stores that frame once.
    *
    * `clustered` columns: the record columns plus `dedup_id`.
    */
  def dedupIncremental(batch: DataFrame, clustered: DataFrame): DataFrame =
    matchIncremental(
      batch,
      Skew.capHeavy(explodeBlockKeys(withKeys(clustered)), BlockKeys, MaxBlockSize),
      opaquePredicate = false
    )

  /** [[dedupIncremental]] over a BUCKETED stored corpus — the production
    * daily-delta shape at 100 TB: the clustered corpus's capped,
    * exploded blocking-key frame (including `dedup_id`) is written once
    * bucketed by (kind, key); each incremental run shuffles ONLY the
    * delta to the corpus's stored partitioning and reads the corpus
    * once, as stored: the candidate join plans with zero Exchange and no
    * aggregate on the corpus side (BucketingSpec asserts the plan). Same
    * candidate set and output as [[dedupIncremental]], so the same
    * oracle certifies it.
    *
    * STALENESS CONTRACT: as [[dedupRecordsBucketed]] — an existing
    * `table` is reused verbatim, so pass `refresh = true` (or a new
    * table) when `clustered` changes. The stored layout holds the capped
    * frame, so a table written by an earlier version (uncapped, capped on
    * every read) must be rewritten with `refresh = true` as well.
    *
    * `clustered` is by-name: it is evaluated only when the layout is
    * written, so a call against an existing table never builds it.
    */
  def dedupIncrementalBucketed(
      batch: DataFrame,
      clustered: => DataFrame,
      table: String,
      path: String,
      refresh: Boolean = false
  ): DataFrame = {
    val spark = batch.sparkSession
    writeLayoutUnlessPresent(spark, table, path, refresh)(explodeBlockKeys(withKeys(clustered)))
    matchIncremental(
      batch,
      graft.sources.Bucketing.readBucketed(spark, table),
      opaquePredicate = true
    )
  }

  /** The incremental probe both entry points share: the batch's exploded
    * blocking keys joined on (kind, key) to `corpus`, an already capped
    * [[explodeBlockKeys]] frame of the clustered records. Only the corpus
    * side is capped — a batch record in a heavy corpus block has no
    * candidates there — and each batch record takes the least `dedup_id`
    * among its matches.
    */
  private def matchIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      opaquePredicate: Boolean
  ): DataFrame = {
    val matched = suffixed(explodeBlockKeys(withKeys(batch)), "_1")
      .join(
        suffixed(corpus, "_2"),
        col("__block_kind_1") === col("__block_kind_2") &&
          col("__block_key_1") === col("__block_key_2") &&
          col("source_id_1") =!= col("source_id_2")
      )
      .filter(matchFilter(opaquePredicate))
      .groupBy(col("id_1").as("id"))
      .agg(min(col("dedup_id_2")).as("dedup_id"))
    batch.select("id").join(matched, Seq("id"), "left")
  }

  /** Write `exploded`, capped by [[Skew.capHeavy]], as the bucketed layout
    * `table` at `path` unless the catalog already holds `table` (or
    * `refresh` drops it first). Bucketed by (kind, key) at the session's
    * `spark.sql.shuffle.partitions`. For the incremental probe that is
    * the partition count its batch side shuffles to anyway. For the
    * self-join of [[dedupRecordsBucketed]] both sides are stored, so the
    * bucket count is the join's task count, and AQE cannot split a
    * skewed bucket; the cap bounds each block, not each bucket. The
    * writing session sizes the layout for every later read, so write it
    * from a session configured like the ones that read it.
    */
  private def writeLayoutUnlessPresent(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      path: String,
      refresh: Boolean
  )(exploded: => DataFrame): Unit = {
    if (refresh) spark.sql(s"DROP TABLE IF EXISTS $table")
    if (!spark.catalog.tableExists(table))
      graft.sources.Bucketing.writeBucketed(
        Skew.capHeavy(exploded, BlockKeys, MaxBlockSize),
        BlockKeys,
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        table,
        path
      )
  }

  /** Deletion maintenance of a clustered corpus (reference:
    * DedupHandler.php removeFromDedupRecord:139): deleted records leave
    * their dedup group; a group left with fewer than two members
    * dissolves, so the lone survivor loses its `dedup_id` (the reference
    * clears the field and marks the record update_needed). The reference
    * does NOT re-run matching on deletion — group membership of the
    * survivors is preserved as-is, and so is the (now historical) group
    * label.
    *
    * Scale shape: corpus-side work is two broadcast joins (the deleted-id
    * anti-join and the dissolved-group label fixup) plus a count restricted
    * to the clusters the delta actually touched — never a recluster of
    * history, and the survivor count aggregates only the affected subset.
    *
    * `clustered` columns: at least (`id`, `dedup_id` nullable);
    * `deletedIds`: (`id`). Returns the remaining corpus with updated
    * `dedup_id`.
    */
  def dedupRetract(clustered: DataFrame, deletedIds: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // Cluster ids touched by the deletion — proportional to the delta.
    val affected = clustered
      .join(broadcast(deletedIds), Seq("id"), "left_semi")
      .filter(col("dedup_id").isNotNull)
      .select("dedup_id")
      .distinct()
    val remaining = clustered.join(broadcast(deletedIds), Seq("id"), "left_anti")
    // Survivor counts within affected clusters only.
    val dissolved = remaining
      .join(broadcast(affected), Seq("dedup_id"), "left_semi")
      .groupBy("dedup_id")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < 2)
      .select(col("dedup_id"), lit(true).as("dissolve"))
    remaining
      .join(broadcast(dissolved), Seq("dedup_id"), "left")
      .withColumn(
        "dedup_id",
        when(col("dissolve"), lit(null).cast("string")).otherwise(col("dedup_id"))
      )
      .drop("dissolve")
  }

  /** Full pipeline: records → (id, dedup_id nullable). `folding` is the
    * deployment key-folding table (see [[withKeys]]).
    */
  def dedupRecords(
      records: DataFrame,
      iters: Int = 10,
      folding: Seq[(Char, String)] = Nil
  ): DataFrame = {
    // keyed feeds both join sides (×2 key kinds), the heavy-key counts,
    // and the final left join — EAGERLY checkpointed (round 14), not
    // lazily persisted: all of those consumers are independent shuffle
    // stages that AQE materializes CONCURRENTLY inside the sym
    // checkpoint job, and the r14 profile showed the cold lazy cache
    // being replayed EIGHT times (eight 2-task ~480 ms stages each
    // re-reading the parquet and re-running the normalization
    // expressions — the same replay class r13 fixed for sym itself).
    // One materialization job; consumers read blocks; released per
    // query by the consumer's Lineage.releaseHeld.
    // (A fan-out of `records` to the session cores was measured here in
    // round 13 and REVERTED: unlike the ingest/knn/winnow kernels, the
    // added exchange + wider stages did not pay for themselves —
    // dedup_records benched 4.3 s without vs 5.2 s with.)
    val keyed = graft.Lineage.checkpoint(withKeys(records, folding)).df
    val clusters = assignClusters(matchedEdges(keyed), iters)
    keyed
      .select("id")
      .join(clusters, Seq("id"), "left")
  }

  /** [[dedupRecords]] over a BUCKETED stored layout — the write-once /
    * join-forever shape for the dominant query at 100 TB. The exploded
    * blocking-key frame, with its heavy blocks already removed by
    * [[Skew.capHeavy]], is written once, bucketed (and sorted) by
    * (`__block_kind`, `__block_key`) at the session's
    * `spark.sql.shuffle.partitions`; every subsequent run reads the
    * bucketed table and the candidate self-join consumes the stored hash
    * partitioning with ZERO Exchange and no aggregate (BucketingSpec
    * asserts the plan). On a cluster the write amortizes across the daily
    * runs that read it; here the first call (the bench warmup) pays it and
    * the timed passes measure the amortized path. Output is identical to
    * [[dedupRecords]] — same oracle certifies it.
    *
    * STALENESS CONTRACT: an existing catalog `table` is trusted verbatim
    * — the layout is write-once by design, so a second call with
    * DIFFERENT `records` or `folding` but the same `table` would reuse
    * the stale key layout. Pass `refresh = true` (drops and rewrites) or
    * a new `table`/`path` whenever the corpus or the folding config
    * changes; steady-state daily runs over the same corpus keep the
    * default and pay zero write cost. The stored layout holds the capped
    * frame, so a table written by an earlier version that stored the
    * uncapped frame (and capped on every read) must be rewritten with
    * `refresh = true` before this reads it — in a persistent metastore it
    * would otherwise silently skip the cap.
    */
  def dedupRecordsBucketed(
      records: DataFrame,
      table: String,
      path: String,
      iters: Int = 10,
      folding: Seq[(Char, String)] = Nil,
      refresh: Boolean = false
  ): DataFrame = {
    val spark = records.sparkSession
    writeLayoutUnlessPresent(spark, table, path, refresh)(explodeBlockKeys(withKeys(records, folding)))
    val exploded = graft.sources.Bucketing.readBucketed(spark, table)
    val clusters = assignClusters(edgesFromExploded(exploded, opaquePredicate = true), iters)
    records
      .select("id")
      .join(clusters, Seq("id"), "left")
  }
}
