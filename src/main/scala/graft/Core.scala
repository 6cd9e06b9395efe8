package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  * Queries with `oracle = None` are validated by ScalaTest specs instead
  * (the driver records a weaker rows-only check for them).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Included in the Bench headline set when true. */
    bench: Boolean = false,
    /** Included in the Bench SECOND group (round-5+ hot families) when
      * true. Group 1 is frozen since r4 so its per-query numbers stay
      * comparable round-over-round; group 2 makes perf regressions in
      * the newer operators visible. The reported headline total stays
      * group-1-only for the same reason.
      */
    bench2: Boolean = false
)

/** A checkpointed frame and the storage behind it, from
  * [[Lineage.checkpoint]]. `df` reads the checkpoint; [[release]] frees
  * its blocks (and, for a reliable checkpoint, its `rdd-N` directory).
  * `Dataset.unpersist` and `clearCache` free neither: checkpoint storage
  * lives outside the CacheManager, so this handle is the only release.
  */
final class Checkpointed private[graft] (val df: DataFrame, rdd: org.apache.spark.rdd.RDD[_]) {
  private val released = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Frees the blocks and checkpoint files and unregisters the handle.
    * Idempotent. After it, `df` must not be executed again.
    */
  def release(): Unit =
    if (released.compareAndSet(false, true)) {
      Lineage.held.remove(this)
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(path, true)
      }
    }
}

/** The one checkpoint API. [[checkpoint]] cuts a frame's lineage to a
  * `LogicalRDD` and returns a [[Checkpointed]] handle.
  *
  * Mode: with `spark.graft.checkpointDir` (session conf) or
  * `SPARK_GRAFT_CHECKPOINT_DIR` set, the checkpoint is reliable
  * (`Dataset.checkpoint`, written to that directory, so a lost executor
  * does not lose it); unset, it is `localCheckpoint` (blocks on the
  * executors: the right trade in local mode, but on a cluster a lost
  * executor fails the job instead of recomputing).
  *
  * Release contract: an iterative operator releases each round's handle
  * once the next round has materialized past it. Every handle is also
  * registered here, and [[releaseHeld]] frees whatever is still
  * registered; [[Harness.run]] (behind Verify, Bench, Profile and
  * Explain), ScaleProbe's probes, PlanSpec and the benchmark harness
  * call it after each query's action, so storage is freed on every
  * path, a query that threw mid-loop included. A frame
  * returned before a `releaseHeld()` must not be re-executed after it:
  * its checkpoint is gone, so re-derive it instead.
  */
object Lineage {
  private[graft] val held = java.util.concurrent.ConcurrentHashMap.newKeySet[Checkpointed]()

  private def dirOf(spark: SparkSession): Option[String] =
    spark.conf
      .getOption("spark.graft.checkpointDir")
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
      .filter(_.nonEmpty)

  /** Checkpoint `df`, eagerly by default (like `Dataset.checkpoint`). A
    * lazy checkpoint materializes at the first action on `df`. Throws if
    * the checkpoint does not plan as `LogicalRDD`, since its storage
    * could then not be released.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): Checkpointed = {
    val reliable = dirOf(df.sparkSession)
    val cp = reliable match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir creates a unique subdir per context; set once.
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
    val rdd = cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case other =>
        throw new IllegalStateException(
          s"checkpoint planned as ${other.getClass.getSimpleName}, not LogicalRDD: its storage could not be released"
        )
    }
    // A lazy reliable checkpoint writes its files in a second job after
    // the first action; persisted, that job reads the first one's blocks
    // instead of computing the frame again.
    if (reliable.nonEmpty && !eager) rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val h = new Checkpointed(cp, rdd)
    held.add(h)
    h
  }

  /** Release every registered checkpoint (see the contract above). */
  def releaseHeld(): Unit = held.forEach(_.release())
}

/** Testdata star-schema loaders. All operators read these tables; at
  * production scale the same code runs over partitioned cloud storage —
  * `spark.read.parquet` keeps partition pruning + column pruning intact.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Input-parallelism floor for CPU-dense per-row kernels (optimization
    * guide §2.5 "input skew: one huge unsplittable file ... otherwise
    * repartition immediately after the read"): the testdata parquet
    * ships ONE row group per file, so a scan plans at file granularity —
    * 1-3 tasks regardless of cores — and a heavy per-row kernel placed
    * directly on the scan (ISO2709 round-trip map, winnowing anchor
    * selection, brute-force cosine) inherits that ceiling (measured:
    * the strided-span winnow ran as one 2.3 s task vs a 272 ms median
    * sibling at sf0.1 local[32]).
    *
    * APPLIED SELECTIVELY, not at every table read: a round-13
    * interleaved A/B (4 bench runs) showed a blanket floor on all scans
    * LOSES ~4 s on group 1 / ~5 s on group 2 — unioned reads multiply
    * to 64-96 partitions whose per-stage scheduling overhead, plus the
    * extra round-robin exchange under queries that immediately
    * hash-shuffle anyway (aggregates, windows, joins), swamps the
    * gains — while exactly the per-row-kernel sites win consistently
    * (ingest_pipeline 0.93→0.43 s, knn_cosine 0.61→0.40 s,
    * docs_duplicate_spans_strided 4.0→2.5 s).
    *
    * Conditional on the input actually planning below the session's
    * parallelism: a production table (many files / row groups) already
    * exceeds `defaultParallelism`, so this is a no-op at cluster scale —
    * it scales with the configured core count, never a constant.
    * Row-to-partition assignment is deterministic (Spark sorts before
    * round-robin repartition, SPARK-23207) and the consumers feed
    * partition-order-independent aggregates; the full oracle sweep
    * certifies output equality.
    */
  def fanOutForCpu(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Scan-side parallelism probe via the FILE COUNT of the plan's leaf
    // relations (`inputFiles` walks the logical plan; no job, no plan
    // conversion) — NOT `df.rdd.getNumPartitions`, which under AQE
    // forces getFinalPhysicalPlan and would EXECUTE any upstream
    // exchange at probe time (r13 ADVICE). This helper is for per-row
    // kernels placed directly on a scan/union-of-scans; with one row
    // group per testdata file, partitions ≈ files. When file packing
    // makes partitions < files the probe only errs toward NOT adding an
    // exchange — the conservative side. Non-file inputs (0 files)
    // skip the fan-out.
    val files = df.inputFiles.length
    if (files > 0 && files * 2 <= par) df.repartition(par)
    else df
  }

  /** The events table carries nanosecond parquet timestamps, which Spark's
    * vectorized reader rejects by default. We read them as raw nanos
    * (`spark.sql.legacy.parquet.nanosAsLong`, set by [[Harness.session]])
    * and convert to microsecond TimestampType here — the same truncation
    * DuckDB applies, keeping the oracle comparable. When a session reads
    * them as timestamps natively, this is a no-op.
    */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` (integral division) — a double division would round epoch
        // nanos (values >> 2^53) by up to ±128 ns and land on the wrong
        // microsecond near boundaries.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Parquet micros with isAdjustedToUTC=false read as TIMESTAMP_NTZ,
        // which time-arithmetic functions (unix_micros, window) reject.
        // The session timezone is pinned to UTC, so the cast reinterprets
        // the same wall-clock instant — identical to DuckDB's naive read.
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
