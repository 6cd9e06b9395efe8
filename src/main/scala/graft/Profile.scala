package graft

/** Stage-level profiler for the registered queries — the measurement tool
  * behind the optimization rounds (spark_optimization_guide §1: decide
  * where the time goes BEFORE changing anything).
  *
  * For each named query (default: the bench groups) it runs one untimed
  * warmup pass (codegen/JIT), then one measured pass through the noop
  * sink, and prints a per-stage breakdown: summed task time, max/median
  * task skew, shuffle read/write bytes, input bytes, spill, and the
  * stage's call site. Stages are attributed to the query via the
  * job-description set around each run (queries run sequentially).
  *
  * Usage: runMain graft.Profile [sfDir] [queryName ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = Harness.session(Harness.cpus)
    val stages = Harness.stages(spark)
    val chosen = SparkEntry.registry.filter(q =>
      if (names.isEmpty) q.bench || q.bench2 else names.contains(q.name)
    )
    chosen.foreach { q =>
      // Warmup (codegen + any write-once bucketed layout).
      Harness.run(spark, q, sfDir)(Harness.noop).failed.foreach { e =>
        System.err.println(s"[profile] warmup ${q.name} failed: ${e.getMessage}")
      }
      val wall = stages.attribute(q.name)(Harness.run(spark, q, sfDir)(Harness.noop)).recover { case e =>
        System.err.println(s"[profile] ${q.name} FAILED: ${e.getMessage}")
        -1.0
      }.get
      val mine = stages.of(q.name).filter(_.taskMs.nonEmpty)
      println(f"==== ${q.name} wall=$wall%.3f s ====")
      val totalTask = mine.map(_.taskTimeMs).sum
      println(f"  total task time ${totalTask / 1e3}%.2f s across ${mine.size} stages")
      mine.sortBy(-_.taskTimeMs).take(12).foreach { a =>
        println(
          f"  stage ${a.id}%4d ${a.taskTimeMs / 1e3}%7.2fs tasks=${a.taskMs.size}%3d max=${a.maxTaskMs}%5dms med=${a.medianTaskMs}%5dms " +
            f"sr=${a.shuffleReadB / 1e6}%8.1fMB sw=${a.shuffleWriteB / 1e6}%8.1fMB in=${a.inputB / 1e6}%8.1fMB spill=${a.spillB / 1e6}%6.1fMB  ${a.name}"
        )
      }
    }
    spark.stop()
  }
}
