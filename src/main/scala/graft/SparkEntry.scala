package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered operator queries, one per SURVEY.md §2 row. */
  def registry: Seq[Q] =
    operators.MetadataQueries.all ++
      operators.MetadataQueries2.all ++
      operators.DedupQueries.all ++
      operators.MappingQueries.all ++
      operators.AnalyticsQueries.all ++
      operators.LlmQueries.all ++
      operators.RecordQueries.all ++
      operators.Multimodal.all ++
      operators.SourceQueries.all ++
      operators.CallNumberQueries.all ++
      operators.PipelineQueries.all ++
      operators.LlmQueries2.all ++
      operators.ExportQueries.all ++
      operators.LlmQueries3.all ++
      operators.MarcFormatQueries.all ++
      operators.MarcRecordQueries.all ++
      operators.LlmQueries4.all ++
      operators.DcQueries.all ++
      operators.EadQueries.all ++
      operators.LlmQueries5.all ++
      operators.LidoQueries.all ++
      operators.LidoQueries2.all ++
      operators.AuthorityQueries.all ++
      operators.LlmQueries6.all ++
      operators.ProfileQueries.all ++
      operators.ProfileQueries2.all ++
      operators.Ead3Queries.all ++
      operators.MarcSubjectQueries.all ++
      operators.LlmQueries7.all ++
      operators.LlmQueries8.all ++
      operators.LlmQueries9.all ++
      operators.MarcHostQueries.all ++
      operators.MergePolicyQueries.all ++
      operators.MarcSolrQueries.all ++
      operators.MarcToSolrQueries.all ++
      operators.ForwardToSolrQueries.all ++
      operators.LidoToSolrQueries.all ++
      operators.MarcSolrQueries2.all ++
      operators.MarcEditQueries.all ++
      operators.EnrichQueries.all ++
      operators.XslTransform.all ++
      operators.IvfPq.all ++
      operators.PreviewQueries.all ++
      operators.MaintenanceQueries.all ++
      operators.RdfQueries.all ++
      operators.BloomQueries.all ++
      operators.OaiQueries.all ++
      operators.SolrUpdateQueries.all ++
      operators.Bpe.all ++
      operators.Retrieval.all ++
      operators.Rerank.all ++
      operators.PqTrain.all ++
      operators.TableProfile.all ++
      operators.PcaPower.all ++
      operators.CentroidClassify.all ++
      operators.Readability.all ++
      operators.QueryExpansion.all ++
      operators.TrendQueries.all ++
      operators.GraphMetrics.all ++
      operators.CalibrationQueries.all ++
      operators.IngestAudit.all ++
      operators.TransitionQueries.all ++
      operators.UnigramLm.all ++
      operators.CurationQueries.all ++
      operators.RepetitionQueries.all ++
      operators.CurationQueries2.all ++
      operators.MixtureQueries.all ++
      operators.MixtureQueries2.all ++
      operators.MixtureQueries3.all ++
      operators.JoinQueries.all ++
      operators.LayoutQueries.all ++
      operators.Classifier.all ++
      operators.SequenceQueries.all ++
      operators.SketchQueries.all ++
      operators.GraphQueries.all ++
      operators.IncrementalQueries.all ++
      operators.ClusterTopics.all ++
      operators.MultiProbe.all ++
      operators.AnomalyQueries.all ++
      operators.SourceOverlap.all ++
      operators.QualitySampling.all ++
      operators.ContainmentQueries.all ++
      operators.EvalQueries.all ++
      operators.PivotQueries.all ++
      operators.DimAblation.all ++
      operators.StreamReplayQueries.all ++
      operators.TopK.all ++
      operators.DoReMi.all ++
      operators.SmoothedLm.all ++
      operators.WinnowingQueries.all ++
      operators.SketchOverlap.all ++
      operators.LineDedup.all ++
      operators.RandomProjection.all ++
      operators.InfoTheory.all ++
      operators.BlockingEval.all ++
      operators.PrioritySampling.all ++
      operators.TriangleQueries.all ++
      operators.AllPairsJoin.all ++
      operators.AmsSketch.all ++
      operators.HybridFusion.all ++
      operators.DeflateMedia.all ++
      operators.WordPiece.all ++
      operators.PrivacyQueries.all ++
      operators.GifCodec.all ++
      operators.JpegCodec.all ++
      operators.AdpcmCodec.all ++
      operators.CompressedIngest.all ++
      operators.NoveltyQueries.all ++
      operators.NprobeRecall.all ++
      operators.ModelStore.all ++
      operators.StupidBackoff.all ++
      operators.Mp4Meta.all ++
      operators.Mjpeg.all ++
      operators.ImageFeatures.all ++
      operators.AudioFeatures.all ++
      operators.VideoShots.all ++
      operators.AudioFingerprint.all ++
      operators.MediaAudit.all

  /** Flagship: the full dedup pipeline (blocking, matchRecords predicate,
    * cluster assignment) on /root/testdata/sf0.001; driver smoke-checks
    * rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("dedup_records")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
