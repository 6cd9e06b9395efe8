package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark JVM: one workload, one client, one step at a time.
  *
  * Set-up (untimed): session, the workload's stored layouts, and one pass
  * that writes every step's output as parquet for the oracle check and
  * warms code generation and the JIT. Then timed passes, each step
  * materialized through the `noop` sink, until `--seconds` have passed and
  * at least `MinPasses` have run.
  * With `--trace 1` passes alternate untraced / traced, and the per-layer
  * probes run at the end. Everything measured goes to `--result` as JSON;
  * the caller turns it into metrics.
  *
  * Usage: Harness --workload catalog|delta --data DIR --work DIR
  *   --result FILE --seconds N --trace 0|1 --cores N
  */
object Harness {

  /** The JIT is still compiling for minutes, so each pass runs faster than
    * the one before. A fixed least number of passes keeps the per-step
    * medians at the same point of that warming when the host is slow.
    */
  val MinPasses = 3

  /** What every step does after its action: drop cached frames and the
    * checkpoint blocks operators hold for their consumers.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.Lineage.releaseHeld()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val MiB = 1024.0 * 1024.0

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark)
    if (trace) tracer.attach()
    val ctx = Ctx(spark, opt("data"), work, tracer)
    val wl = Workloads(opt("workload"), ctx)
    val attempts = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val failures = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val errors = mutable.ArrayBuffer.empty[String]

    def fail(step: String, e: Throwable): Unit = {
      failures(step) += 1
      errors += s"$step: ${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)
      System.err.println(s"[perfbench] $step FAILED")
      e.printStackTrace()
    }

    val setupS = mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime()
      body
      setupS(name) = (System.nanoTime() - t) / 1e9
    }
    setupS("session") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    timed("workload")(wl.setup())
    // Warm-up pass; its outputs are what the oracle check reads.
    tracer.span("warmup", "pass", "warmup") {
      wl.steps.foreach { st =>
        attempts(st.name) += 1
        timed(st.name) {
          try tracer.span(st.name, "query") {
            st.build().write.mode("overwrite").parquet(s"$work/outputs/${st.name}")
          } catch { case e: Throwable => fail(st.name, e) }
          release(spark)
        }
      }
    }
    val setupEndMs = System.currentTimeMillis()

    val passes = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // A traced run ends on an untraced pass, so untraced passes bracket each
    // traced one and the JIT's warming over passes does not bias the overhead.
    while (i < MinPasses || elapsed < seconds || (trace && i % 2 == 0)) {
      val traced = trace && i % 2 == 1
      if (trace) { if (traced) tracer.attach() else tracer.detach() }
      passes += runPass(spark, tracer, wl, s"pass$i", traced, cores, attempts, fail)
      i += 1
    }

    val probes =
      if (!trace) Map.empty[String, Double]
      else {
        tracer.attach()
        try tracer.span("probes", "pass", "probes")(new Probes(ctx).run())
        catch {
          case e: Throwable =>
            fail("probes", e)
            Map.empty[String, Double]
        } finally release(spark)
      }
    if (trace) {
      tracer.drain()
      tracer.write(Paths.get(work, "spans.jsonl"))
    }

    val config = Json.obj(Seq(
      "nproc" -> cores.toString,
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / MiB),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "SPARK_GRAFT_FANOUT" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_FANOUT", "")),
      "SPARK_GRAFT_CHECKPOINT_DIR" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_DIR", "")),
      "SPARK_GRAFT_CPUS" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", ""))
    ))
    val steps = wl.steps.map { st =>
      Json.obj(Seq("name" -> Json.str(st.name), "check" -> Json.str(st.check),
        "attempts" -> attempts(st.name).toString, "failures" -> failures(st.name).toString))
    }
    val oracles = wl.steps.map(_.check).distinct.map(c => c -> Json.str(Workloads.oracle(c)))
    val result = Json.obj(Seq(
      "config" -> config,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "setup_end_ms" -> setupEndMs.toString,
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "setup_s" -> Json.obj(setupS.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "steps" -> steps.mkString("[", ",", "]"),
      "oracles" -> Json.obj(oracles),
      "passes" -> passes.mkString("[", ",", "]"),
      "probes" -> Json.obj(probes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "probe_failures" -> failures("probes").toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]")
    ))
    Files.write(Paths.get(opt("result")), result.getBytes(UTF_8))
    spark.stop()
  }

  /** One timed pass; returns its JSON record. */
  private def runPass(
      spark: SparkSession,
      tracer: Tracer,
      wl: Workload,
      pass: String,
      traced: Boolean,
      cores: Int,
      attempts: mutable.Map[String, Int],
      fail: (String, Throwable) => Unit
  ): String = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ArrayBuffer.empty[String]
    var buildS, actionS = 0.0
    var heldB, leakedB = 0L
    val startMs = System.currentTimeMillis()
    val cpu0 = cpuSeconds()
    val (_, passSpan) = tracer.spanned(pass, "pass", pass) {
      wl.steps.foreach { st =>
        attempts(st.name) += 1
        val s0 = System.nanoTime()
        var s1, s2 = s0
        val ok =
          try {
            tracer.span(st.name, "query") {
              val df = tracer.span("build", "build")(st.build())
              s1 = System.nanoTime()
              tracer.span("action", "action")(noop(df))
            }
            true
          } catch { case e: Throwable => fail(st.name, e); false }
        s2 = System.nanoTime()
        // Storage reads are measurement, kept out of the step's time.
        if (traced) heldB = math.max(heldB, tracer.storedBytes())
        val r0 = System.nanoTime()
        release(spark)
        val r1 = System.nanoTime()
        if (traced) leakedB = math.max(leakedB, tracer.settledStoredBytes())
        // The caller charges failed steps, so a crash never reads faster.
        times(st.name) = ((s2 - s0) + (r1 - r0)) / 1e9
        if (!ok) failed += st.name
        else {
          buildS += (s1 - s0) / 1e9
          actionS += (s2 - s1) / 1e9
        }
      }
    }
    val cpu = cpuSeconds() - cpu0
    val endMs = System.currentTimeMillis()
    val wall = times.values.sum
    val fields = mutable.ArrayBuffer(
      "pass" -> Json.str(pass),
      "traced" -> traced.toString,
      "cpu_s" -> Json.num(cpu),
      "steps" -> Json.obj(times.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "failed" -> failed.map(Json.str).mkString("[", ",", "]")
    )
    if (traced) {
      tracer.drain()
      fields += "layers" -> Json.obj(layers(tracer, passSpan, pass, startMs, endMs, wall, cores,
        buildS, actionS, heldB, leakedB).toSeq.map { case (k, v) => k -> Json.num(v) })
    }
    Json.obj(fields)
  }

  /** The pass's per-layer figures from the listener and span records. */
  private def layers(
      tracer: Tracer,
      passSpan: Span,
      pass: String,
      startMs: Long,
      endMs: Long,
      wall: Double,
      cores: Int,
      buildS: Double,
      actionS: Double,
      heldB: Long,
      leakedB: Long
  ): Map[String, Double] = tracer.synchronized {
    val stages = tracer.stages.values.filter(_.pass == pass).toSeq
    val buildSpans = tracer.spans.filter(s => s.pass == pass && s.kind == "build").map(_.id).toSet
    val jobs = tracer.jobs.values.filter(_._1 == pass).toSeq
    // Union of the intervals in which at least one stage was running.
    var busyMs = 0L
    var reach = Long.MinValue
    stages.map(s => (s.submittedMs, math.max(s.submittedMs, s.completedMs))).sortBy(_._1).foreach {
      case (a, b) =>
        if (b > reach) { busyMs += b - math.max(a, reach); reach = b }
    }
    val busy = busyMs / 1000.0
    val runS = stages.map(_.runMs).sum / 1000.0
    val skew = stages.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }.foldLeft(1.0)(math.max)
    val planMs = tracer.executions.collect { case (st, ms) if st >= startMs && st <= endMs => ms }.sum
    Map(
      "graft.build_s" -> buildS,
      "graft.action_s" -> actionS,
      "graft.checkpoint_jobs" -> jobs.count(j => buildSpans(j._2)).toDouble,
      "graft.checkpoint_held_mb" -> heldB / MiB,
      "graft.checkpoint_leaked_mb" -> leakedB / MiB,
      "plans.plan_ms" -> planMs.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.stage_busy_s" -> busy,
      "spark.driver_gap_s" -> (wall - busy),
      "spark.slot_util" -> (if (busy > 0) runS / (cores * busy) else 0.0),
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "spark.task_skew" -> skew,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleReadB).sum / MiB,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / MiB,
      "spark.spill_mb" -> stages.map(_.spillB).sum / MiB,
      "spark.peak_exec_mem_mb" -> stages.map(_.peakExecB).foldLeft(0L)(math.max) / MiB,
      "spark.input_mb" -> stages.map(_.inputB).sum / MiB,
      "spark.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble
    )
  }
}
