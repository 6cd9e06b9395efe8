package perfbench

import graft.operators._
import graft.sources.{Bucketing, Iso2709, MarcInJson, MarcXml}
import graft.functions.{MetadataFunctions, TextFunctions}
import org.apache.spark.sql.{DataFrame, GraftColumn}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The traced run's per-layer probes: each operator, kernel and codec call
  * is made on its own, inside a span, on the workload's generated inputs.
  * Returns metric name -> value.
  */
final class Probes(ctx: Ctx) {
  import ctx._

  private val out = mutable.LinkedHashMap.empty[String, Double]

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def cached(df: DataFrame): DataFrame = {
    val c = df.repartition(spark.sparkContext.defaultParallelism).persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }

  /** Time one operator call (build plus action) and count its jobs and stages. */
  private def operator(metric: String)(body: => Unit): Unit = {
    val (_, s) = tracer.spanned(metric, "operator") { body }
    tracer.drain()
    val (jobs, stages) = tracer.jobsAndStages(s.id)
    out(s"operators.${metric}_s") = (s.endUs - s.startUs) / 1e6
    out(s"operators.$metric.jobs") = jobs
    out(s"operators.$metric.stages") = stages
  }

  /** Rows per second of a projection over a cached input, median of three. */
  private def kernel(metric: String, input: DataFrame, rows: Long)(f: DataFrame => DataFrame): Unit = {
    noop(f(input)) // code generation
    val times = (1 to 3).map { _ =>
      val (_, s) = tracer.spanned(metric, "kernel") { noop(f(input)) }
      (s.endUs - s.startUs) / 1e6
    }
    out(s"$metric.rows_per_s") = rows / times.sorted.apply(1)
  }

  /** Records per second of a single-threaded codec call over a fixed batch. */
  private def codec[A](metric: String, batch: IndexedSeq[A])(f: A => Any): Unit = {
    def loop(minS: Double): Double = {
      val t0 = System.nanoTime()
      var n = 0L
      while ((System.nanoTime() - t0) < minS * 1e9) { batch.foreach(f); n += batch.size }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    loop(0.3) // JIT
    val rates = (1 to 3).map(_ => tracer.spanned(metric, "codec")(loop(0.2))._1)
    out(s"${metric}_per_s") = rates.sorted.apply(1)
  }

  def run(): Map[String, Double] = {
    dedup()
    kernels()
    codecs()
    out.toMap
  }

  private def dedup(): Unit = {
    val recs = DedupQueries.records(spark, data)
    val batch = DedupQueries.batchRecords(spark, data)
    operator("dedup.with_keys")(noop(Dedup.withKeys(recs)))
    val keyed = cached(Dedup.withKeys(recs))
    operator("dedup.matched_edges")(noop(Dedup.matchedEdges(keyed)))
    val edges = cached(Dedup.matchedEdges(keyed))
    operator("dedup.assign_clusters")(noop(Dedup.assignClusters(edges)))
    Harness.release(spark)
    val corpus = cached(Dedup.dedupRecords(recs).join(recs, Seq("id")))
    graft.Lineage.releaseHeld()
    val clustered = corpus.filter(col("dedup_id").isNotNull)
    operator("dedup.incremental")(noop(Dedup.dedupIncremental(batch, clustered)))
    val p = graft.Tables.part(spark, data)
    val k = col("p_partkey")
    val deleted = p.filter(k % 9 === 0).select(concat(lit("b."), k.cast("string")).as("id"))
    operator("dedup.retract")(noop(Dedup.dedupRetract(corpus.select("id", "dedup_id"), deleted)))
    Harness.release(spark)
    val exploded = Dedup.explodeBlockKeys(Dedup.withKeys(recs))
    operator("dedup.bucketed_write") {
      Bucketing.writeBucketed(exploded, Seq("__block_kind", "__block_key"), 32,
        "perfbench_probe_keys", s"$work/bucketed/probe_keys")
    }
    Harness.release(spark)
  }

  private def kernels(): Unit = {
    val docs = graft.Tables.documents(spark, data).select("doc_id", "text")
    val nDocs = docs.count()
    val textReps = math.max(1L, (1000L + nDocs - 1) / nDocs)
    val text = cached(docs.crossJoin(spark.range(textReps).toDF("rep"))
      .select((col("doc_id") * textReps + col("rep")).as("doc_id"), col("text")))
    val textRows = nDocs * textReps
    kernel("plans.kernel.minhash_sig", text, textRows)(_.select(TextFunctions.minhashSignature(col("text"))))
    kernel("plans.kernel.winnow_anchors", text, textRows)(WinnowingQueries.winnowOf)
    kernel("functions.normalize_text", text, textRows)(_.select(TextFunctions.normalizeText(col("text"))))
    val titles0 = DedupQueries.records(spark, data).select("title")
    val nTitles = titles0.count()
    val titleReps = math.max(1L, (200000L + nTitles - 1) / nTitles)
    val titles = cached(titles0.crossJoin(spark.range(titleReps).toDF("rep"))
      .select(concat(col("title"), col("rep").cast("string")).as("title")))
    val titleRows = nTitles * titleReps
    kernel("plans.kernel.normalize_key", titles, titleRows)(
      _.select(MetadataFunctions.normalizeKey(col("title"))))
    kernel("plans.kernel.title_key", titles, titleRows)(_.select(
      GraftColumn.of(graft.plans.TitleKeyExpr(GraftColumn.exprOf(col("title"))))))
    Harness.release(spark)
  }

  private def codecs(): Unit = {
    val parts = graft.Tables.part(spark, data).orderBy("p_partkey").limit(1000)
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size").collect().toIndexedSeq
    val records = parts.map { r =>
      Seq(
        Iso2709.Subfield("001", "", s"rec${r.getLong(0)}"),
        Iso2709.Subfield("008", "", "140327s1999    fi            fin d"),
        Iso2709.Subfield("100", "a", r.getString(2)),
        Iso2709.Subfield("245", "a", s"${r.getString(1)} & <${r.getString(3)}>"),
        Iso2709.Subfield("300", "a", s"${r.getInt(4)} p."),
        Iso2709.Subfield("650", "a", r.getString(1).split(' ').last)
      )
    }
    val jsonFields = records.map(_.map { sf =>
      if (sf.tag < "010") MarcInJson.Field(sf.tag, "", "", sf.value, Nil)
      else MarcInJson.Field(sf.tag, " ", " ", "", Seq(sf.code -> sf.value))
    })
    val leader = "00000cam a22000004i 4500"
    codec("sources.iso2709.build", records)(Iso2709.build)
    codec("sources.iso2709.parse", records.map(Iso2709.build))(Iso2709.parse)
    codec("sources.marcxml.build", records)(MarcXml.build)
    codec("sources.marcxml.parse", records.map(MarcXml.build))(MarcXml.parse)
    codec("sources.marcinjson.build", jsonFields)(f => MarcInJson.build(leader, f))
    codec("sources.marcinjson.parse", jsonFields.map(f => MarcInJson.build(leader, f)))(MarcInJson.parse)
  }
}
