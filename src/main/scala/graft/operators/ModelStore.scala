package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted-model production shape for the certified training
  * families. Every trainer in the registry keeps its model in-plan (a
  * literal merge list, a broadcast centroid row, a 257-long weight
  * array); a real deployment trains ONCE, writes the model to a table,
  * and loads it forever after. These twin queries certify exactly that
  * boundary: train → write the model to a parquet MODEL TABLE → read it
  * back → run inference from the LOADED state only — and each twin
  * shares its literal sibling's DuckDB oracle verbatim, so a hash match
  * proves the stored path bit-identical to the in-plan path (the
  * stream-replay certification pattern applied to model persistence).
  *
  * Families covered and what the round trip certifies:
  *  - BPE merge table (`docs_bpe_encode_stored`): ordered (rank, a, b)
  *    rows — order survives storage, the encode replays in learned
  *    order.
  *  - Logistic-regression quality classifier
  *    (`docs_classifier_score_stored`): bias + 256 weights AND the
  *    bucket-mass centering statistics — the feature-scaler half of the
  *    model that a weights-only dump silently loses.
  *  - Unigram-LM vocabulary (`docs_unigram_viterbi_stored`): the
  *    (piece, lp_mu) table; integer micro-unit log-probs are exact
  *    under parquet.
  *  - IVF-PQ quantizers (`embed_ivfpq_search_stored`): the Lloyd
  *    coarse centroids (array<double> column) and the PQ sufficient
  *    statistics — BOTH trained model frames reload before search.
  *
  * Reference anchor: the reference persists its state via the record
  * database (the `Database` directory's Mongo/PDO stores); model
  * tables are that idea applied to the training operators this engine
  * adds.
  *
  * Scale note: model tables are KB-scale parquet whatever the corpus
  * size (vocab-bounded / K×D-bounded), so the write adds no shuffle
  * and the read is a broadcast-sized scan — the twins' plans are the
  * literal plans plus one tiny scan.
  */
object ModelStore {

  /** Per-SF, per-JVM model directory. Keyed by the data path (tests and
    * Verify run concurrently over different SF dirs) AND by a per-process
    * token: two JVMs over the SAME SF (parallel CI next to a Verify run)
    * must not race overwrite-writes against reads, or a stored-twin query
    * could load a partially written or foreign model and diverge from its
    * literal sibling. A deployment would key this by model version; here
    * the process id plus JVM start time is the version.
    */
  private val runToken: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    s"${rt.getName.takeWhile(_ != '@')}_${rt.getStartTime}"
  }

  /** Registered once, at the first model write: a shutdown hook deletes
    * THIS run's model dirs, and siblings whose JVM died without firing
    * theirs (crash/kill) are pruned when older than a day — so repeated
    * CI/Verify runs no longer accumulate unbounded parquet under tmp.
    * Live concurrent runs are safe: a sibling younger than the prune
    * horizon is never touched, and the runToken keying already prevents
    * cross-process reads of a pruned dir.
    */
  private lazy val cleanupRegistered: Unit = {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_models")
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(c => deleteRec(c))
        finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
      ()
    }
    try {
      if (java.nio.file.Files.isDirectory(root)) {
        val horizon = System.currentTimeMillis() - 24L * 3600 * 1000
        val s = java.nio.file.Files.list(root)
        try s.forEach { sib =>
          if (sib.getFileName.toString != runToken &&
            java.nio.file.Files.getLastModifiedTime(sib).toMillis < horizon)
            try deleteRec(sib)
            catch { case scala.util.control.NonFatal(_) => () }
        } finally s.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRec(root.resolve(runToken))
      catch { case scala.util.control.NonFatal(_) => () }
    ))
  }

  private def modelDir(d: String): String = {
    cleanupRegistered
    s"${System.getProperty("java.io.tmpdir")}/graft_models/$runToken/${d.replaceAll("[^A-Za-z0-9]", "_")}"
  }

  private def oracleOf(qs: Seq[Q], name: String): Option[String] =
    qs.find(_.name == name).flatMap(_.oracle)

  private def bpeStored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = s"${modelDir(d)}/bpe_merges"
    Bpe.EncodeMerges.zipWithIndex
      .map { case ((a, b), r) => (r.toLong, a, b) }
      .toDF("rank", "a", "b")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(path)
    val merges = s.read
      .parquet(path)
      .orderBy("rank")
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
      .toSeq
    Bpe.encodeDf(s, d, merges)
  }

  private def unigramStored(s: SparkSession, d: String): DataFrame = {
    val wf = graft.Lineage.checkpoint(UnigramLm.wordsOf(Tables.documents(s, d))).df
    val path = s"${modelDir(d)}/unigram_vocab"
    UnigramLm.vocabOfWf(wf).select("piece", "lp_mu").write.mode("overwrite").parquet(path)
    UnigramLm.viterbiWithVocab(wf, s.read.parquet(path))
  }

  val all: Seq[Q] = Seq(
    Q(
      "docs_bpe_encode_stored",
      (s, d) => bpeStored(s, d),
      oracleOf(Bpe.all, "docs_bpe_encode")
    ),
    Q(
      "docs_classifier_score_stored",
      (s, d) => Classifier.scoreStoredOf(s, d, s"${modelDir(d)}/classifier"),
      oracleOf(Classifier.all, "docs_classifier_score")
    ),
    Q(
      "docs_unigram_viterbi_stored",
      (s, d) => unigramStored(s, d),
      oracleOf(UnigramLm.all, "docs_unigram_viterbi")
    ),
    Q(
      "embed_ivfpq_search_stored",
      (s, d) => IvfPq.searchStoredOf(s, d, modelDir(d)),
      oracleOf(IvfPq.all, "embed_ivfpq_search_trained")
    ),
    Q(
      "dedup_fs_score_stored",
      (s, d) => BlockingEval.fsScoreStoredOf(s, d, s"${modelDir(d)}/fs_params"),
      Some(BlockingEval.fsScoreOracleSql)
    ),
    Q(
      "embed_ivfpq_incremental",
      (s, d) => IvfPq.ivfpqIncrementalOf(s, d, modelDir(d)),
      Some(IvfPq.IncrementalOracleSql)
    ),
    // r12: the remaining trained-state families get the same
    // train-once / load-forever face (each twin shares its literal
    // sibling's oracle verbatim, so the hash gate proves the stored
    // path bit-identical to the in-plan path).
    Q(
      "docs_kn_score_stored",
      (s, d) => SmoothedLm.knScoreStoredOf(s, d, s"${modelDir(d)}/kn_bigrams"),
      Some(SmoothedLm.knOracleSqlShared)
    ),
    Q(
      "docs_stupid_backoff_stored",
      (s, d) => StupidBackoff.scoresStoredOf(s, d, s"${modelDir(d)}/sb_ngrams"),
      Some(StupidBackoff.backoffOracleSqlShared)
    ),
    Q(
      "docs_dsir_weight_stored",
      (s, d) => Retrieval.dsirStoredOf(s, d, s"${modelDir(d)}/dsir_llr"),
      Some(Retrieval.DsirOracleSql)
    ),
    Q(
      "embed_pca_stored",
      (s, d) => PcaPower.pcaStoredOf(s, d, s"${modelDir(d)}/pca_model"),
      Some(PcaPower.pcaOracleSqlShared)
    ),
    Q(
      "embed_centroid_classify_stored",
      (s, d) => CentroidClassify.confusionStoredOf(s, d, s"${modelDir(d)}/rocchio_centroids"),
      Some(CentroidClassify.confusionOracleSqlShared)
    )
  )
}
