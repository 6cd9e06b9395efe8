package perfbench

import graft.operators.{Dedup, DedupQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One query or micro-batch: `build` returns the frame (running whatever
  * jobs the operator runs while building it) and the harness materializes
  * it. `check` names the oracle the step's output is compared against;
  * steps sharing a check are compared as the union of their outputs.
  */
final case class Step(name: String, check: String, build: () => DataFrame)

final case class Ctx(spark: SparkSession, data: String, work: String, tracer: Tracer)

/** A named workload: untimed set-up, then the steps of one pass. */
trait Workload {
  def setup(): Unit
  def steps: Seq[Step]
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "catalog" => new Catalog(ctx)
    case "delta" => new Delta(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def registered(name: String) =
    graft.SparkEntry.registry.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"query $name is not registered"))

  /** Oracle SQL of a registered query. */
  def oracle(name: String): String =
    registered(name).oracle.getOrElse(throw new NoSuchElementException(s"query $name has no oracle"))

  /** RecordManager's batch job: ingest and normalize, round-trip the
    * record codecs, deduplicate, merge components, sessionize events.
    */
  final class Catalog(ctx: Ctx) extends Workload {
    import ctx._

    def setup(): Unit = ()

    val steps: Seq[Step] = Seq(
      "ingest_pipeline", "iso2709_roundtrip", "marcxml_roundtrip", "marcinjson_roundtrip",
      "dedup_records", "merge_components", "events_sessionize"
    ).map(q => Step(q, q, () => registered(q).fn(spark, data)))
  }

  /** Daily maintenance against a stored clustered corpus: micro-batches of
    * new records assigned incrementally, over the plain and the bucketed
    * corpus, then a deletion set retracted.
    */
  final class Delta(ctx: Ctx) extends Workload {
    import ctx._
    val batches = 2
    private val table = "perfbench_dedup_corpus"
    private val path = s"$work/bucketed/dedup_corpus"
    private val corpusPath = s"$work/delta/corpus"
    private lazy val corpus = spark.read.parquet(corpusPath)
    private lazy val clustered = corpus.filter(col("dedup_id").isNotNull)

    /** batchRecords split by hash(id), as stream_dedup_replay splits it. */
    private def batch(i: Int): DataFrame =
      DedupQueries.batchRecords(spark, data).filter(abs(hash(col("id"))) % batches === i)

    /** dedup_retract's deletion set: every 9th source-b and 18th source-a record. */
    private def deleted: DataFrame = {
      val k = col("p_partkey")
      val p = graft.Tables.part(spark, data)
      p.filter(k % 9 === 0).select(concat(lit("b."), k.cast("string")).as("id"))
        .union(p.filter(k % 18 === 0).select(concat(lit("a."), k.cast("string")).as("id")))
    }

    private def bucketed(i: Int, refresh: Boolean): DataFrame =
      Dedup.dedupIncrementalBucketed(batch(i), clustered, table, path, refresh = refresh)

    def setup(): Unit = {
      tracer.span("setup.cluster_corpus", "setup") {
        val recs = DedupQueries.records(spark, data)
        Dedup.dedupRecords(recs).join(recs, Seq("id")).write.mode("overwrite").parquet(corpusPath)
        Harness.release(spark)
      }
      tracer.span("setup.bucketed_layout", "setup") {
        bucketed(0, refresh = true)
        Harness.release(spark)
      }
    }

    val steps: Seq[Step] =
      (0 until batches).flatMap { i =>
        Seq(
          Step(s"incremental_$i", "dedup_incremental", () => Dedup.dedupIncremental(batch(i), clustered)),
          Step(s"incremental_bucketed_$i", "dedup_incremental_bucketed", () => bucketed(i, refresh = false))
        )
      } :+ Step("retract", "dedup_retract",
        () => Dedup.dedupRetract(corpus.select("id", "dedup_id"), deleted).select("id", "dedup_id"))
  }
}
