package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way the entry points (Verify, Bench, Profile, Explain,
  * ScaleProbe) and the specs build a session, run a registered query and
  * collect its stage metrics.
  */
object Harness {

  /** Cores for `local[cpus]`: `SPARK_GRAFT_CPUS` when set, else the
    * processors this JVM can see.
    */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on `cpus` cores with one shuffle partition per core,
    * the graft Catalyst extensions, the UTC session zone and no UI.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries ns timestamps; read as raw longs and let
      // Tables.events convert (Spark's reader rejects NANOS otherwise).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // Planner INFO lines print whole expression trees: a fixture-synthesis
    // column turns each into a MB-scale line.
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materializes every output column through the `noop` datasource, so
    * column pruning cannot skip measured work the way `count()` could.
    */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Builds `q` on `sfDir` and hands it to `sink`; then, on every path,
    * drops cached frames and releases every checkpoint still held (queries
    * persist intermediates, and `clearCache` cannot free checkpoint
    * storage). Returns the wall seconds of build plus sink, or the
    * non-fatal failure for the caller to report; fatal errors propagate.
    */
  def run(spark: SparkSession, q: Q, sfDir: String)(sink: DataFrame => Unit): Try[Double] =
    try
      Try {
        val t0 = System.nanoTime()
        sink(q.fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
    finally {
      spark.catalog.clearCache()
      Lineage.releaseHeld()
    }

  /** Task metrics of one stage, summed over its finished tasks. */
  final class Stage(val id: Int, val query: String) {
    var name = "?"
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var shuffleReadB, shuffleWriteB, inputB, spillB, diskSpillB, peakExecB = 0L
    def taskTimeMs: Long = taskMs.sum
    def maxTaskMs: Long = if (taskMs.isEmpty) 0L else taskMs.max
    def medianTaskMs: Long = if (taskMs.isEmpty) 0L else taskMs.sorted.apply(taskMs.size / 2)
  }

  /** The stage-metrics listener, see [[stages]]. */
  final class Stages private[Harness] (spark: SparkSession) extends SparkListener {
    private val byId = mutable.LinkedHashMap.empty[Int, Stage]
    @volatile private var current = ""

    /** Runs `body` with its jobs attributed to `query`. A stage is
      * attributed by the job description it was SUBMITTED with, not by a
      * flag read when its tasks end: the listener bus lags the driver, so
      * tasks ending after the flag moved on would land on the next query.
      * Jobs submitted from threads that did not inherit the description
      * fall back to the query running when the stage was submitted.
      */
    def attribute[A](query: String)(body: => A): A = {
      current = query
      spark.sparkContext.setJobDescription(query)
      try body
      finally {
        spark.sparkContext.setJobDescription(null)
        current = ""
      }
    }

    /** Every stage seen so far, in submission order, once the listener bus
      * has delivered the events already posted.
      */
    def all: Seq[Stage] = {
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      byId.synchronized(byId.values.toVector)
    }

    /** The stages attributed to `query`. */
    def of(query: String): Seq[Stage] = all.filter(_.query == query)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      byId.synchronized {
        byId.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId, desc.getOrElse(current)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) byId.synchronized {
        val s = byId.getOrElseUpdate(e.stageId, new Stage(e.stageId, current))
        s.taskMs += m.executorRunTime
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.inputB += m.inputMetrics.bytesRead
        s.spillB += m.memoryBytesSpilled
        s.diskSpillB += m.diskBytesSpilled
        s.peakExecB = math.max(s.peakExecB, m.peakExecutionMemory)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      byId.synchronized {
        byId.get(e.stageInfo.stageId).foreach(_.name = e.stageInfo.name.linesIterator.next())
      }
  }

  /** Registers a [[Stages]] listener on `spark`: per-stage task time (sum,
    * max, median), shuffle read/write, input, memory and disk spill, and
    * peak task execution memory.
    */
  def stages(spark: SparkSession): Stages = {
    val s = new Stages(spark)
    spark.sparkContext.addSparkListener(s)
    s
  }
}
