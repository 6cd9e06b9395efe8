package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval. Spans of one pass share `pass`; `parent` is the span
  * that caused this one (0 for a root). Times are epoch microseconds.
  */
final case class Span(
    id: Long,
    parent: Long,
    pass: String,
    name: String,
    kind: String,
    startUs: Long,
    endUs: Long
)

/** Per-stage aggregate of the task metrics the listener saw. */
final class StageAgg(val pass: String, val span: Long) {
  var submittedMs = 0L
  var completedMs = 0L
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var peakExecB = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Span recorder plus the Spark listeners that feed it.
  *
  * The harness thread runs one step at a time, so the open span is a stack.
  * Every Spark job inherits the harness thread's local properties, which
  * carry the open span's id and pass ([[Tracer.SpanProp]]); the listener
  * files each job and stage under that span, so a short query's stages
  * never land on the next one. Spans stay in memory until [[write]].
  *
  * Nothing is attached to the session until [[attach]]: untraced runs
  * measure the program without listeners.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 0L
  private val open = mutable.Stack.empty[(Long, String)]
  val spans = mutable.ArrayBuffer.empty[Span]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  /** (pass, span) of every job, by job id. */
  val jobs = mutable.LinkedHashMap.empty[Int, (String, Long)]
  /** (start ms, analysis + optimization + planning ms) of every query execution. */
  val executions = mutable.ArrayBuffer.empty[(Long, Long)]
  private var attached = false

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  private def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Run `body` inside a span named `name`; the span is recorded even when
    * `body` throws.
    */
  def span[T](name: String, kind: String, pass: String = null)(body: => T): T =
    if (attached) spanned(name, kind, pass)(body)._1 else body

  /** [[span]] that also returns the recorded span (always recorded). */
  def spanned[T](name: String, kind: String, pass: String = null)(body: => T): (T, Span) = {
    val p = Option(pass).orElse(open.headOption.map(_._2)).getOrElse("setup")
    val id = synchronized { nextId += 1; nextId }
    val parent = open.headOption.map(_._1).getOrElse(0L)
    val prevProp = sc.getLocalProperty(SpanProp)
    open.push(id -> p)
    sc.setLocalProperty(SpanProp, s"$p|$id")
    val start = nowUs
    var result: Option[T] = None
    try result = Some(body)
    finally {
      open.pop()
      sc.setLocalProperty(SpanProp, prevProp)
    }
    val s = Span(id, parent, p, name, kind, start, nowUs)
    synchronized(spans += s)
    (result.get, s)
  }

  private def tagOf(props: java.util.Properties): (String, Long) =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))) match {
      case Some(t) =>
        val Array(pass, id) = t.split('|')
        (pass, id.toLong)
      case None => ("untagged", 0L)
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = tagOf(e.properties)
      val id = { nextId += 1; nextId }
      jobSpan(e.jobId) = (id, e.time)
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for ((pass, parent) <- jobs.get(e.jobId); (id, start) <- jobSpan.get(e.jobId))
        spans += Span(id, parent, pass, s"job ${e.jobId}", "spark.job", start * 1000L, e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val (pass, parent) = tagOf(e.properties)
      val agg = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg(pass, parent))
      agg.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach { agg =>
        agg.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        val id = { nextId += 1; nextId }
        val info = e.stageInfo
        spans += Span(id, stageJob.getOrElse(info.stageId, agg.span), agg.pass,
          s"stage ${info.stageId} ${info.name}", "spark.stage", agg.submittedMs * 1000L, agg.completedMs * 1000L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val agg = stages.getOrElseUpdate(e.stageId, new StageAgg("untagged", 0L))
      agg.tasks += 1
      if (e.reason != org.apache.spark.Success) agg.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        agg.runMs += m.executorRunTime
        agg.taskMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        agg.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        agg.spillB += m.memoryBytesSpilled
        agg.inputB += m.inputMetrics.bytesRead
        agg.peakExecB = math.max(agg.peakExecB, m.peakExecutionMemory)
      }
    }
  }
  /** (span id, start ms) of every job, and the job span each stage runs under. */
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Long]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get)
        .map(p => p.endTimeMs - p.startTimeMs)
        .sum
      val start = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
      Tracer.this.synchronized(executions += ((start, planMs)))
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.GraftListenerBus.drain(sc)

  /** Bytes of RDD blocks (cache and checkpoint storage) held right now. */
  def storedBytes(): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Stored bytes once asynchronous block removal has settled: polls until
    * the figure stops falling or one second has passed.
    */
  def settledStoredBytes(): Long = {
    val deadline = System.nanoTime() + 1000000000L
    var prev = storedBytes()
    var stable = false
    while (prev > 0 && !stable && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val cur = storedBytes()
      stable = cur == prev
      prev = cur
    }
    prev
  }

  /** Ids of `root` and of every span whose chain of parents reaches it. */
  def descendants(root: Long): Set[Long] = synchronized {
    val children = spans.groupBy(_.parent)
    val out = mutable.Set(root)
    val todo = mutable.Stack(root)
    while (todo.nonEmpty) children.getOrElse(todo.pop(), Nil).foreach { s =>
      if (out.add(s.id)) todo.push(s.id)
    }
    out.toSet
  }

  /** Jobs and stages launched under the span `root` or its children. */
  def jobsAndStages(root: Long): (Int, Int) = synchronized {
    val under = descendants(root)
    (jobs.values.count(j => under(j._2)), stages.values.count(s => under(s.span)))
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.sortBy(_.startUs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"pass":"${Json.esc(s.pass)}",""" +
        s""""name":"${Json.esc(s.name)}","kind":"${s.kind}","start_us":${s.startUs},"end_us":${s.endUs}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
