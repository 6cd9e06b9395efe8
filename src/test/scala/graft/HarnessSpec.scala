package graft

import org.apache.spark.sql.functions.col

class HarnessSpec extends SparkSuite {

  test("run reports a failing query and still releases what it held") {
    val q = Q(
      "fails_after_checkpoint",
      (s, _) => {
        Lineage.checkpoint(s.range(10).toDF())
        throw new IllegalArgumentException("boom")
      },
      None
    )
    val got = Harness.run(spark, q, "unused")(Harness.noop)
    assert(got.failed.get.getMessage == "boom")
    assert(Lineage.held.isEmpty)
  }

  test("stages attributes a query's stages to it and to nothing else") {
    val stages = Harness.stages(spark)
    try {
      spark.range(100).groupBy(col("id") % 2).count().collect()
      stages.attribute("probe")(spark.range(1000).groupBy(col("id") % 3).count().collect())
      val mine = stages.of("probe")
      assert(mine.nonEmpty)
      assert(mine.forall(s => s.taskMs.nonEmpty && s.name != "?"))
      assert(stages.all.exists(_.query == ""))
    } finally spark.sparkContext.removeSparkListener(stages)
  }
}
