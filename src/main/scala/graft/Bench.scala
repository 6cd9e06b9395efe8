package graft

/** Benchmark main: runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query seconds.
  *
  * Results are materialized through the `noop` datasource (not `count()`)
  * so column pruning cannot optimize away the measured work — every output
  * column is actually computed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    // Group 1: the headline set, FROZEN since r4 so per-query numbers
    // and the reported total compare round-over-round. Group 2 (r10):
    // the newer hot families (BM25, bounded top-k, strided spans,
    // unigram Viterbi, k-core, near-dup clustering) — measured and
    // reported per-query + as total_g2, but kept OUT of the headline
    // total so the trajectory stays one metric.
    val headline = SparkEntry.registry.filter(_.bench)
    val group2 = SparkEntry.registry.filter(_.bench2)
    val chosen =
      if (headline.nonEmpty) headline ++ group2 else SparkEntry.registry
    // Untimed warmup pass over every measured query so the timed pass
    // measures steady-state execution, not JVM/janino/JIT compilation of
    // each query's generated code (at bench scale codegen latency rivals
    // the actual work; on a real cluster it is amortized to noise).
    chosen.foreach { q =>
      Harness.run(spark, q, sfDir)(Harness.noop).failed.foreach { e =>
        System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}")
      }
    }
    // Timed passes, per-query minimum: a single pass is hostage to
    // transient machine load (round-3 recorded a 2× "regression" on
    // events_sessionize that was contention, not the plan — the same build
    // measured 0.67 s idle vs 2.09 s under load). The min over passes is
    // the steady-state cost of the plan, which is the quantity that
    // extrapolates to cluster scale.
    // Three passes (was two): this host carries an intermittent external
    // ~2-core load that uniformly inflates short parallel queries ~40%;
    // the min over three passes recovers the steady-state plan cost more
    // often than over two (the quantity that extrapolates to a cluster).
    val timings = (1 to 3).map { _ =>
      chosen.map { q =>
        // A failed query must not read as a (fast) success: report -1.
        q.name -> Harness.run(spark, q, sfDir)(Harness.noop).recover { case e =>
          System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
          -1.0
        }.get
      }
    }
    val results = chosen.map(_.name).map { name =>
      val ts = timings.map(_.toMap.apply(name))
      // Any failed pass poisons the query: -1 wins over a fast success.
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val g1Names = headline.map(_.name).toSet
    val total = results
      .filter { case (n, _) => g1Names.isEmpty || g1Names(n) }
      .map(_._2)
      .filter(_ >= 0)
      .sum
    val totalG2 = results
      .filter { case (n, _) => !g1Names(n) }
      .map(_._2)
      .filter(_ >= 0)
      .sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","total_g2":$totalG2,"queries":$qs,"sf":"$sfDir"}"""
    // Persist the result where log interleaving can't clobber it, then stop
    // Spark BEFORE the final stdout print: every prior round's driver record
    // came back `parsed: null` because sbt/Spark shutdown noise landed after
    // (or interleaved with) the JSON line. The last thing on stdout must be
    // the bare JSON.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "bench.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    spark.stop()
    System.out.flush()
    println(line)
    System.out.flush()
  }
}
