package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the "concatenate then split every N tokens" step
  * that turns a cleaned corpus into fixed-length pretraining sequences.
  *
  * Documents are deterministically sharded by (lang, md5 bucket), ordered
  * by doc_id within a shard, and assigned to sequence bins by cumulative
  * token offset: seq_id = floor(tokens_before / 2048). This is the
  * standard concatenation-packing used by LLM data pipelines (every token
  * lands in exactly one sequence; a document may straddle two bins) and —
  * unlike stateful first-fit bin packing — it is a pure window cumsum, so
  * it stays one shuffle at any scale.
  *
  * Scale shape: the window partitions on (lang, bucket); the bucket
  * count (md5-derived so the DuckDB oracle computes the identical shard)
  * is the parallelism knob — it is a PARAMETER, sized to the corpus so
  * each writer bucket's cumsum fits one task, which keeps partitions
  * balanced regardless of language skew (buckets are independent
  * writers, so packing quality is unaffected by the count). The
  * registry pins 4 for the bench corpus and certifies a second bucket
  * count (16) against its own generated oracle, so the knob is proven,
  * not asserted. The aggregate reuses the same (lang, bucket) exchange
  * prefix.
  */
object LlmQueries8 {

  private val SeqLen = 2048

  /** Writer-bucket count for a corpus of `rows` documents: the next
    * power of two above rows/1M, clamped to [4, 65536]. At 100 TB
    * (~10¹⁰ docs) this yields ~2¹⁴ buckets — each cumsum window holds
    * ~1M rows, comfortably one task — while small corpora keep the
    * bench-stable 4. Powers of two divide the 16⁴ hash range exactly,
    * so bucket sizes stay uniform (a non-divisor count would skew
    * writers by up to ceil/floor of range/n).
    */
  def packingBuckets(rows: Long): Int = {
    val want = math.min(65536L, math.max(4L, rows / 1000000L))
    var p = 4
    while (p < want) p <<= 1
    p
  }

  /** Greedy sequential packing assignment: docs keyed to (lang, bucket,
    * seq_id) by the cumulative-token prefix within their writer bucket.
    * Shared by docs_pack_sequences (sequence rollup) and
    * docs_shard_manifest (shard rollup); keeps `text` so downstream
    * rollups can fingerprint content. The bucket is derived from the
    * last FOUR md5 hex digits mod `nBuckets` — a 65536-value range, so
    * the count scales to [[packingBuckets]]'s full clamp (a two-digit
    * hash would silently cap real parallelism at 256; round-8 review).
    * For any power-of-two `nBuckets` ≤ 65536 the modulus only reads the
    * value's low bits, so 4/16/64 produce the identical buckets as the
    * earlier one- and two-digit forms (oracle-certified unchanged).
    */
  private[graft] def packedDocs(docs: DataFrame, nBuckets: Int = 4): DataFrame = {
    val nTokens = size(split(coalesce(col("text"), lit("")), " ")).cast("bigint")
    val bucket = expr(
      s"cast(conv(substr(md5(cast(doc_id as string)), 29, 4), 16, 10) % $nBuckets as bigint)"
    )
    val w = Window
      .partitionBy(col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("text"), col("lang"), nTokens.as("n_tokens"), bucket.as("bucket"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("cum_before") / SeqLen))
  }

  /** Probe entry: pack `docs` at `nBuckets` writer buckets and return the
    * total packed token count (bucket-count-invariant — only the sharding
    * changes). Used by the ScaleProbe bucket sweep.
    */
  def packedSequencesProbe(docs: DataFrame, nBuckets: Int): Long =
    packedDocs(docs, nBuckets)
      .groupBy(col("lang"), col("bucket"), col("seq_id"))
      .agg(sum(col("n_tokens")).as("seq_tokens"))
      .agg(sum(col("seq_tokens")))
      .collect()(0)
      .getLong(0)

  /** DuckDB twin of [[packedDocs]]'s (n_tokens, bucket, cum_before,
    * seq_id) derivation, shared by the packing/manifest oracles at any
    * bucket count.
    */
  private def packedSql(nBuckets: Int, extraCols: String = ""): String =
    s"""t AS (SELECT doc_id, lang,$extraCols
       |  cast(len(string_split(coalesce(text, ''), ' ')) as bigint) AS n_tokens,
       |  cast(('0x' || substr(md5(cast(doc_id as varchar)), 29, 4))::bigint % $nBuckets as bigint) AS bucket
       |  FROM documents),
       |c AS (SELECT *, coalesce(sum(n_tokens) OVER (
       |    PARTITION BY lang, bucket ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t),
       |x AS (SELECT *, cast(floor(cum_before / $SeqLen.0) as bigint) AS seq_id FROM c)""".stripMargin

  private def packSequencesQ(name: String, nBuckets: Int, isBench: Boolean): Q = Q(
    name,
    (s, d) =>
      packedDocs(Tables.documents(s, d), nBuckets)
        .groupBy(col("lang"), col("bucket"), col("seq_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc")
        ),
    Some {
      s"""WITH ${packedSql(nBuckets)}
         |SELECT lang, bucket, seq_id,
         |  count(*) AS n_docs,
         |  cast(sum(n_tokens) as bigint) AS seq_tokens,
         |  min(doc_id) AS first_doc,
         |  max(doc_id) AS last_doc
         |FROM x GROUP BY 1, 2, 3""".stripMargin
    },
    bench = isBench
  )

  /** LSH-candidate near-dup edges, Jaccard-verified at `minJaccard`:
    * the shared edge derivation under both clustering kernels.
    *
    * Scale shape: light buckets (≤ `maxBucketSize` members) generate
    * all within-bucket pairs — the bounded band-bucket equi-join, never
    * all-pairs. Heavy buckets (a boilerplate page with 10⁵⁺ copies lands
    * every copy in one bucket) would be quadratic there, so they instead
    * contribute STAR edges — each member to the bucket's min doc_id —
    * which yield the identical connected components at O(bucket) edges.
    * Star edges pass through the same Jaccard verification (the only
    * recall caveat: in a heavy bucket, connectivity is witnessed through
    * the hub rather than every pair).
    */
  def verifiedNeardupEdges(
      docs: DataFrame,
      minJaccard: Double,
      maxBucketSize: Int = LlmQueries.MaxBucketSize
  ): DataFrame = {
    // The band-table and word-set checkpoints are INDEPENDENT eager jobs
    // over the same input; run them concurrently so the second does not
    // wait for the first's tail (optimization guide §2.6 "overlap
    // independent jobs" — Spark's scheduler runs both and back-fills
    // idle cores). Await both before composing the lazy tail.
    //
    // A DEDICATED two-thread pool, created in-call, not the global
    // implicit pool (r13 ADVICE): pool threads are created on first
    // submit, i.e. HERE, so they inherit THIS thread's job group /
    // description inheritable-locals and both checkpoint jobs attribute
    // to the enclosing query (the global pool's threads inherit from
    // whichever thread first touched it, session-wide). Failure of
    // either future propagates after BOTH settle (no orphaned in-flight
    // job); any held blocks from the surviving side are freed by the
    // consumer's per-query Lineage.releaseHeld, which Bench/Verify run
    // on the failure path too.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val bandsF = Future(LlmQueries.bandTableOf(docs))
      val wsF = Future(wordSetsOf(docs))
      val bands = Await.ready(bandsF, Duration.Inf)
      val ws = Await.ready(wsF, Duration.Inf)
      edgesFromBandTable(
        bands.value.get.get,
        ws.value.get.get,
        minJaccard,
        maxBucketSize
      )
    } finally pool.shutdown()
  }

  /** The candidate-generation + verification tail over an EXPLICIT band
    * table — shared by the in-memory path ([[verifiedNeardupEdges]],
    * band table computed and persisted per run) and the bucketed stored
    * layout ([[neardupClustersBucketed]], band table read back from a
    * (band_id, band_hash)-bucketed parquet table with zero exchange on
    * the band join).
    */
  /** Tokenized word sets, eagerly checkpointed — NOT a lazy persist: the
    * two verify-join sides reading this are INDEPENDENT shuffle stages,
    * and AQE materializes them concurrently — with a cold lazy cache
    * both would re-run the tokenization over the whole corpus (the
    * assignClusters round-13 lesson). Blocks are released by the
    * consumer via Lineage (Verify/Bench call releaseHeld per query).
    */
  private def wordSetsOf(docs: DataFrame): DataFrame =
    graft.Lineage.checkpoint(
      docs.select(col("doc_id"), array_distinct(TextFunctions.words(col("text"))).as("wset"))
    ).df

  private def edgesFromBandTable(
      bandTable: DataFrame,
      wordSets: DataFrame,
      minJaccard: Double,
      maxBucketSize: Int
  ): DataFrame = {
    bandPairs(bandTable, maxBucketSize)
      .distinct()
      .join(wordSets.select(col("doc_id").as("doc_a"), col("wset").as("wa")), Seq("doc_a"))
      .join(wordSets.select(col("doc_id").as("doc_b"), col("wset").as("wb")), Seq("doc_b"))
      .filter(
        size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_distinct(concat(col("wa"), col("wb")))) >= minJaccard
      )
      .select("doc_a", "doc_b")
  }

  /** Candidate pair generation over a band table (light-bucket pairs ∪
    * heavy-bucket star edges), BEFORE the pair distinct — the subplan
    * whose exchanges the bucketed layout eliminates (BucketingSpec
    * asserts zero non-broadcast exchanges over the stored table).
    */
  private[graft] def bandPairs(bandTable: DataFrame, maxBucketSize: Int): DataFrame = {
    val heavy = LlmQueries.heavyBandBuckets(bandTable, maxBucketSize)
    val light = bandTable.join(
      broadcast(heavy.select("band_id", "band_hash")),
      Seq("band_id", "band_hash"),
      "left_anti"
    )
    val lightPairs = light
      .select(col("doc_id").as("doc_a"), col("band_id"), col("band_hash"))
      .join(
        light.select(col("doc_id").as("doc_b"), col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash")
      )
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // rep = min(doc_id) of the heavy bucket, so rep < doc_id for every
    // other member and the star edge is already (min, max)-oriented.
    val starEdges = bandTable
      .join(broadcast(heavy.select(col("band_id"), col("band_hash"), col("rep"))),
        Seq("band_id", "band_hash"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    lightPairs.union(starEdges)
  }

  /** Every-document labeling from a (id, component_id) assignment over
    * the matched subset: singletons become their own cluster. */
  private def labelAllDocs(docs: DataFrame, labels: DataFrame): DataFrame =
    docs
      .select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")).as("is_canonical")
      )

  /** Near-duplicate CLUSTERS: the composition the per-pair operators
    * build toward — [[verifiedNeardupEdges]], then connected components
    * via the same min-label propagation the record-dedup pipeline uses
    * ([[Dedup.assignClusters]]). Returns (doc_id, cluster_id,
    * is_canonical): every document appears, singletons are their own
    * cluster, the representative is the min doc_id of the component.
    * Each propagation round is one aggregation shuffle over the (tiny)
    * edge set — the same plan at 60k docs and at 100 TB. Components are
    * multi-hop (A≈B≈C chains), which pairwise queries cannot express;
    * the oracle expresses the propagation as a recursive CTE.
    */
  def neardupClusters(
      docs: DataFrame,
      minJaccard: Double,
      maxBucketSize: Int = LlmQueries.MaxBucketSize
  ): DataFrame = {
    val edges = verifiedNeardupEdges(docs, minJaccard, maxBucketSize)
      .select(col("doc_a").as("id_1"), col("doc_b").as("id_2"))
    val clusters = Dedup.assignClusters(edges)
    labelAllDocs(
      docs,
      clusters.select(col("id").as("doc_id"), col("dedup_id").as("cluster_id"))
    )
  }

  /** Bucket count of [[neardupClustersBucketed]]'s band layout. Fixed,
    * unlike the Dedup layouts, which bucket at the session's shuffle
    * partitions (ROADMAP carries the A/B that would move it).
    */
  private val BandLayoutBuckets = 32

  /** [[neardupClusters]] over a BUCKETED stored band table — the
    * write-once / join-forever shape for the document family's dominant
    * recurring cost at 100 TB ([[Dedup.dedupRecordsBucketed]]'s
    * discipline applied to the LSH band frame): the exploded
    * (doc_id, band_id, band_hash) table is written once, bucketed and
    * sorted by (band_id, band_hash); every subsequent clustering run —
    * and the daily incremental assignment reading the same layout —
    * consumes the stored hash partitioning, so the heavy-bucket census
    * AND both candidate self-join sides plan with ZERO shuffle exchange
    * (BucketingSpec asserts the plan; the only exchanges left are the
    * pair distinct and the verify/label stages, which are
    * candidate-sized, not corpus-sized). Output is identical to
    * [[neardupClusters]] — the same oracle certifies it.
    *
    * STALENESS CONTRACT (as [[Dedup.dedupRecordsBucketed]]): an
    * existing catalog `table` is trusted verbatim; pass `refresh =
    * true` or a new `table`/`path` when `docs` changes.
    */
  def neardupClustersBucketed(
      docs: DataFrame,
      minJaccard: Double,
      table: String,
      path: String,
      maxBucketSize: Int = LlmQueries.MaxBucketSize,
      refresh: Boolean = false
  ): DataFrame = {
    val spark = docs.sparkSession
    if (refresh) spark.sql(s"DROP TABLE IF EXISTS $table")
    if (!spark.catalog.tableExists(table)) {
      graft.sources.Bucketing.writeBucketed(
        LlmQueries.bandTableOf(docs, persist = false),
        Seq("band_id", "band_hash"),
        BandLayoutBuckets,
        table,
        path
      )
    }
    val bands = graft.sources.Bucketing.readBucketed(spark, table)
    val edges = edgesFromBandTable(bands, wordSetsOf(docs), minJaccard, maxBucketSize)
      .select(col("doc_a").as("id_1"), col("doc_b").as("id_2"))
    val clusters = Dedup.assignClusters(edges)
    labelAllDocs(
      docs,
      clusters.select(col("id").as("doc_id"), col("dedup_id").as("cluster_id"))
    )
  }

  /** Near-dup clustering through the star-contraction kernel
    * ([[ConnectedComponents]]) instead of min-label propagation: the
    * variant to pick when the duplicate graph has LONG CHAINS — a
    * template page evolving revision by revision links A≈B≈C≈…≈Z where
    * only adjacent revisions clear the Jaccard bar, and propagation
    * then costs one shuffle round per hop while star contraction stays
    * logarithmic. Run at a lower threshold than [[neardupClusters]]'s
    * bench setting precisely because lower thresholds are what create
    * those chains. Identical output contract (and, on any given edge
    * set, identical components — Llm8Spec asserts the two kernels agree
    * on the corpus).
    */
  def neardupComponents(
      docs: DataFrame,
      minJaccard: Double,
      maxBucketSize: Int = LlmQueries.MaxBucketSize
  ): DataFrame = {
    val edges = verifiedNeardupEdges(docs, minJaccard, maxBucketSize)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = ConnectedComponents.connectedComponents(edges)
    labelAllDocs(
      docs,
      comps.select(col("id").as("doc_id"), col("component_id").as("cluster_id"))
    )
  }

  /** Incremental near-dup assignment — the daily-delta shape for the
    * document family, mirroring [[Dedup.dedupIncremental]]: each new
    * document generates its LSH bands, candidates come from an equi-join
    * against the CLUSTERED corpus's band table (batch×corpus candidates
    * only — history is never reclustered), heavy corpus buckets are
    * excluded via the broadcast cap, Jaccard verifies, and a matching
    * document adopts the EARLIEST (min) matching cluster id; novel
    * documents start their own cluster. Batch-internal duplicates are
    * intentionally not paired (same contract as record-side incremental
    * dedup: the batch lands in the corpus before the next delta).
    *
    * `corpus` columns: (doc_id, text, cluster_id).
    * Returns (doc_id, cluster_id, is_new) for every batch document.
    */
  def neardupIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      minJaccard: Double = 0.8,
      maxBucketSize: Int = LlmQueries.MaxBucketSize
  ): DataFrame =
    neardupIncrementalIndexed(batch, neardupIndexOf(corpus, maxBucketSize), minJaccard)

  /** Precomputed, persisted corpus-side index for incremental matching:
    * the capped band table and the (word-set, cluster_id) table. A
    * long-running stream builds this ONCE and matches every micro-batch
    * against it ([[graft.streaming.NeardupStream]]) — recomputing (and
    * re-persisting) the corpus MinHash signatures per delta would leak
    * cache and repeat the corpus-sized work each batch.
    */
  case class NeardupIndex(cappedBands: DataFrame, corpusSets: DataFrame) {
    def unpersist(): Unit = {
      cappedBands.unpersist()
      corpusSets.unpersist()
    }
  }

  def neardupIndexOf(
      corpus: DataFrame,
      maxBucketSize: Int = LlmQueries.MaxBucketSize
  ): NeardupIndex = {
    val corpusBands = LlmQueries.bandTableOf(corpus.select("doc_id", "text"))
    val cappedCorpus = Skew
      .capHeavy(corpusBands, Seq("band_id", "band_hash"), maxBucketSize)
      .select(col("doc_id").as("c_doc_id"), col("band_id"), col("band_hash"))
      .persist()
    val corpusSets = corpus
      .select(
        col("doc_id").as("c_doc_id"),
        array_distinct(TextFunctions.words(col("text"))).as("wc"),
        col("cluster_id")
      )
      .persist()
    NeardupIndex(cappedCorpus, corpusSets)
  }

  /** Match one delta against a prebuilt corpus index (see
    * [[neardupIncremental]] for semantics). The batch-side band table is
    * single-use and deliberately NOT persisted.
    */
  def neardupIncrementalIndexed(
      batch: DataFrame,
      index: NeardupIndex,
      minJaccard: Double = 0.8
  ): DataFrame = {
    val batchBands = LlmQueries
      .bandTableOf(batch.select("doc_id", "text"), persist = false)
      .select(col("doc_id").as("b_doc_id"), col("band_id"), col("band_hash"))
    val candidates = batchBands
      .join(index.cappedBands, Seq("band_id", "band_hash"))
      .select("b_doc_id", "c_doc_id")
      .distinct()
    val batchSets = batch
      .select(col("doc_id").as("b_doc_id"), array_distinct(TextFunctions.words(col("text"))).as("wb"))
    val matched = candidates
      .join(batchSets, Seq("b_doc_id"))
      .join(index.corpusSets, Seq("c_doc_id"))
      .filter(
        size(array_intersect(col("wb"), col("wc"))).cast("double") /
          size(array_distinct(concat(col("wb"), col("wc")))) >= minJaccard
      )
      .groupBy(col("b_doc_id").as("doc_id"))
      .agg(min(col("cluster_id")).as("matched_cluster"))
    batch
      .select("doc_id")
      .join(matched, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("matched_cluster"), col("doc_id")).as("cluster_id"),
        col("matched_cluster").isNull.as("is_new")
      )
  }

  /** Shared fixture for the incremental-assignment rows (and their
    * streaming replay twin): the duplicate-injected dedup corpus with
    * NON-MONOTONE cluster ids (doc_id % 97), so min(cluster_id) over the
    * matched set is observably different from the cluster of the min
    * matching doc — the oracle certifies real earliest-CLUSTER-wins
    * semantics, not a coincidence of the fixture.
    */
  private[operators] def incrementalCorpusFixture(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): DataFrame =
    LlmQueries.corpus(s, d).withColumn("cluster_id", col("doc_id") % 97)

  /** The delta: near-copies of every 10th document (match BOTH the
    * original and its verbatim +100000 duplicate) plus novel documents
    * (+600000) that start their own clusters.
    */
  private[operators] def incrementalBatchFixture(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val near = docs
      .filter(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + 500000000000L).as("doc_id"),
        concat(col("text"), lit(" another small suffix here")).as("text")
      )
    val novel = docs
      .filter(col("doc_id") % 10 === 5)
      .select(
        (col("doc_id") + 600000000000L).as("doc_id"),
        concat(
          lit("nv"), col("doc_id").cast("string"),
          lit(" xq"), col("doc_id").cast("string"),
          lit(" qq"), col("doc_id").cast("string")
        ).as("text")
      )
    near.union(novel)
  }

  /** One-shot oracle over the incremental fixture — shared by
    * docs_neardup_incremental and the streaming two-micro-batch replay
    * (stream_neardup_replay): per-batch assignment against a STATIC
    * corpus index unions to exactly the one-shot result, which is the
    * batch-equivalence contract of [[graft.streaming.DedupStream]].
    */
  private[operators] val NeardupIncrementalOracleSql: String = {
    // `corpus` here is corpus docs ∪ batch docs so one SigSql band
    // table covers both sides (ids ≥ 5·10¹¹ are the batch — far above any
    // replica-shifted corpus id: the sf1 sweep caught the old 500000
    // threshold misclassifying shifted replicas as batch rows).
    val corpusSql =
      """corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' extra tail words appended here' FROM documents WHERE doc_id % 10 = 5
        |  UNION ALL
        |  SELECT doc_id + 500000000000, text || ' another small suffix here' FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000000000,
        |    'nv' || cast(doc_id as varchar) || ' xq' || cast(doc_id as varchar) || ' qq' || cast(doc_id as varchar)
        |  FROM documents WHERE doc_id % 10 = 5
        |)""".stripMargin
    val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    s"""WITH $corpusSql, ${LlmQueries.SigSql},
       |cand AS (
       |  SELECT b.doc_id AS b_id, c.doc_id AS c_id
       |  FROM bh b JOIN bh c
       |    ON b.band_id = c.band_id AND b.band_hash = c.band_hash
       |   AND b.doc_id >= 500000000000 AND c.doc_id < 500000000000
       |  GROUP BY 1, 2),
       |wsets AS (SELECT doc_id, list_distinct(string_split($norm, ' ')) AS ws FROM corpus),
       |m AS (
       |  SELECT cand.b_id AS doc_id, min(cand.c_id % 97) AS matched_cluster
       |  FROM cand
       |  JOIN wsets a ON a.doc_id = cand.b_id
       |  JOIN wsets c ON c.doc_id = cand.c_id
       |  WHERE cast(len(list_intersect(a.ws, c.ws)) as double) /
       |        len(list_distinct(list_concat(a.ws, c.ws))) >= 0.8
       |  GROUP BY 1),
       |batch AS (SELECT doc_id FROM corpus WHERE doc_id >= 500000000000)
       |SELECT b.doc_id,
       |  coalesce(m.matched_cluster, b.doc_id) AS cluster_id,
       |  m.matched_cluster IS NULL AS is_new
       |FROM batch b LEFT JOIN m ON m.doc_id = b.doc_id""".stripMargin
  }

  /** Transitive closure + component-min as a recursive CTE, shared by
    * both near-dup clustering kernels (threshold is the only knob). */
  private def neardupClusterOracle(thr: String): String = {
    val jac =
      """cast(len(list_intersect(a.wset, b.wset)) as double) /
        |        len(list_distinct(list_concat(a.wset, b.wset)))""".stripMargin
    s"""WITH RECURSIVE ${LlmQueries.CorpusSql}, ${LlmQueries.SigSql},
       |wsets AS (SELECT doc_id, list_distinct(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS wset FROM corpus),
       |vpairs AS (
       |  SELECT p.doc_a, p.doc_b FROM pairs p
       |  JOIN wsets a ON p.doc_a = a.doc_id
       |  JOIN wsets b ON p.doc_b = b.doc_id
       |  WHERE $jac >= $thr
       |),
       |sym AS (SELECT doc_a AS id, doc_b AS peer FROM vpairs
       |        UNION ALL SELECT doc_b, doc_a FROM vpairs),
       |reach AS (
       |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM sym)
       |  UNION
       |  SELECT reach.id, sym.peer FROM reach JOIN sym ON sym.id = reach.r
       |),
       |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT c.doc_id,
       |  coalesce(l.cluster_id, c.doc_id) AS cluster_id,
       |  coalesce(l.cluster_id, c.doc_id) = c.doc_id AS is_canonical
       |FROM corpus c LEFT JOIN labels l ON c.doc_id = l.id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    packSequencesQ("docs_pack_sequences", 4, isBench = true),
    // The same packing at a NON-DEFAULT writer-bucket count, certified
    // against its own generated oracle — proof the parallelism knob
    // changes only the sharding, never the packing semantics.
    packSequencesQ("docs_pack_sequences_b16", 16, isBench = false),
    Q(
      // The dataloader-facing artifact: packed sequences grouped into
      // 16-sequence shards with doc/token totals and an ORDER-INDEPENDENT
      // content fingerprint (sum of 48-bit text hashes — commutative long
      // addition, so the checksum is reproducible under any partitioning;
      // ≤ a few thousand docs/shard keeps the sum far from overflow).
      // Re-running the manifest after a reindex and diffing checksums is
      // the corpus-drift check; at 100 TB the rollup rides the same
      // bounded writer-bucket windows as the packing itself.
      "docs_shard_manifest",
      (s, d) =>
        packedDocs(Tables.documents(s, d))
          .withColumn("shard_id", expr("seq_id div 16"))
          .groupBy(col("lang"), col("bucket"), col("shard_id"))
          .agg(
            countDistinct(col("seq_id")).as("n_seqs"),
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
            sum(
              conv(substring(md5(coalesce(col("text"), lit(""))), 1, 12), 16, 10).cast("long")
            ).as("content_sum")
          ),
      Some {
        s"""WITH ${packedSql(4, " text,")}
           |SELECT lang, bucket, seq_id // 16 AS shard_id,
           |  cast(count(DISTINCT seq_id) as bigint) AS n_seqs,
           |  count(*) AS n_docs,
           |  cast(sum(n_tokens) as bigint) AS n_tokens,
           |  min(doc_id) AS first_doc,
           |  max(doc_id) AS last_doc,
           |  cast(sum(('0x' || substr(md5(coalesce(text, '')), 1, 12))::bigint) as bigint) AS content_sum
           |FROM x GROUP BY 1, 2, 3""".stripMargin
      }
    ),
    Q(
      // Incremental assignment fixture: the corpus is the
      // duplicate-injected dedup corpus (a batch near-copy of doc k
      // matches BOTH k and its verbatim duplicate k+100000) with
      // NON-MONOTONE cluster ids (doc_id % 97), so min(cluster_id) over
      // the matched set is observably different from the cluster of the
      // min matching doc — the oracle certifies real
      // earliest-CLUSTER-wins semantics, not a coincidence of the
      // fixture. Novel docs (+600000) start new clusters.
      "docs_neardup_incremental",
      (s, d) => neardupIncremental(incrementalBatchFixture(s, d), incrementalCorpusFixture(s, d)),
      Some(NeardupIncrementalOracleSql)
    ),
    Q(
      "docs_neardup_clusters",
      (s, d) => neardupClusters(LlmQueries.corpus(s, d), 0.8),
      // The min-label propagation's fixpoint is exactly "min doc_id
      // reachable in the component", which a recursive CTE expresses as
      // transitive closure + min. Heavy-bucket star edges never fire on
      // the test corpus (cap 1000), so the oracle mirrors the light-pair
      // path only; multi-hop chain semantics are additionally asserted by
      // Llm8Spec.
      Some(neardupClusterOracle("0.8")),
      bench2 = true
    ),
    Q(
      // The same clustering over the bucketed stored band layout: the
      // exploded band frame is written ONCE bucketed by (band_id,
      // band_hash) — on the first call, i.e. the bench's untimed warmup
      // — and the timed passes read it back with the heavy census and
      // the candidate self-join consuming the stored hash partitioning
      // (zero exchange, BucketingSpec-asserted). Identical output to
      // docs_neardup_clusters, same oracle; the bench delta vs the
      // unbucketed row IS the band-frame shuffle + signature recompute
      // the layout amortizes into the write.
      "docs_neardup_clusters_bucketed",
      (s, d) => {
        val tag = d.replaceAll("[^A-Za-z0-9]", "_")
        neardupClustersBucketed(
          LlmQueries.corpus(s, d),
          0.8,
          table = s"graft_neardup_bands$tag",
          path = s"/tmp/graft_bucketed$tag/neardup_bands"
        )
      },
      Some(neardupClusterOracle("0.8")),
      bench2 = true
    ),
    Q(
      // The SAME transitive-closure oracle certifies the star-contraction
      // kernel: component semantics are kernel-independent, so one CTE
      // oracles both; the threshold (0.5) is the chain-forming regime
      // that motivates the logarithmic-round kernel.
      "docs_neardup_components",
      (s, d) => neardupComponents(LlmQueries.corpus(s, d), 0.5),
      Some(neardupClusterOracle("0.5"))
    ),
    Q(
      // Snapshot diff — the incremental-ingest audit: classify every
      // doc_id across two corpus snapshots as added / removed / changed
      // / unchanged by content hash. Synthesized snapshot B: every 7th
      // document dropped, every 5th mutated (tail append), documents
      // shifted in above 90000 added. One full-outer equi-join on the
      // id, md5 content compare — co-partitionable on a cluster, and
      // at 100 TB the hash compare reads ONLY (id, hash) manifests
      // when both sides persist docs_shard_manifest-style rollups.
      "docs_corpus_diff",
      (s, d) => {
        val a = Tables.documents(s, d).select(col("doc_id"), md5(col("text")).as("h_a"))
        val bBase = Tables
          .documents(s, d)
          .filter(col("doc_id") % 7 =!= 0)
          .select(
            col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")
          )
        val bNew = Tables
          .documents(s, d)
          .filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 90000).as("doc_id"), col("text"))
        val b = bBase.unionByName(bNew).select(col("doc_id"), md5(col("text")).as("h_b"))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(
            col("doc_id"),
            when(col("h_a").isNull, lit("added"))
              .when(col("h_b").isNull, lit("removed"))
              .when(col("h_a") === col("h_b"), lit("unchanged"))
              .otherwise(lit("changed"))
              .as("status")
          )
      },
      Some(
        """WITH a AS (SELECT doc_id, md5(text) AS h_a FROM documents),
          |b0 AS (
          |  SELECT doc_id,
          |    (CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS text
          |  FROM documents WHERE doc_id % 7 != 0
          |  UNION ALL
          |  SELECT doc_id + 90000, text FROM documents WHERE doc_id % 3 = 0),
          |b AS (SELECT doc_id, md5(text) AS h_b FROM b0)
          |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
          |  (CASE WHEN a.doc_id IS NULL THEN 'added'
          |        WHEN b.doc_id IS NULL THEN 'removed'
          |        WHEN a.h_a = b.h_b THEN 'unchanged'
          |        ELSE 'changed' END) AS status
          |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin
      )
    )
  )
}
