package graft

/** Dumps `explain("formatted")` for the headline queries — the plan-audit
  * tool used to keep shuffle/broadcast/pushdown shapes honest.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = Harness.session(Harness.cpus)
    SparkEntry.registry
      .filter(q => if (names.isEmpty) q.bench else names.contains(q.name))
      .foreach { q =>
        println(s"==== ${q.name} ====")
        Harness.run(spark, q, sfDir)(_.explain("formatted")).failed.foreach { e =>
          System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
