package graft

import graft.operators.Skew

class SkewSpec extends SparkSuite {
  import spark.implicits._

  private def keysLeft(df: org.apache.spark.sql.DataFrame, keys: Seq[String], cap: Long): Seq[String] =
    Skew.capHeavy(df, keys, cap).select("id").as[String].collect().toSeq.sorted

  test("a key with exactly cap rows is kept") {
    val df = Seq(("a1", "a"), ("a2", "a"), ("a3", "a"), ("b1", "b")).toDF("id", "k")
    assert(keysLeft(df, Seq("k"), 3) == Seq("a1", "a2", "a3", "b1"))
  }

  test("a key with cap + 1 rows is dropped") {
    val df = Seq(("a1", "a"), ("a2", "a"), ("a3", "a"), ("a4", "a"), ("b1", "b")).toDF("id", "k")
    assert(keysLeft(df, Seq("k"), 3) == Seq("b1"))
  }

  test("null-key rows are kept, however many share the null") {
    val df = Seq(("n1", null), ("n2", null), ("n3", null), ("a1", "a")).toDF("id", "k")
    assert(keysLeft(df, Seq("k"), 1) == Seq("a1", "n1", "n2", "n3"))
  }

  test("a composite key is capped on the tuple, not per column") {
    // k1 = 1 and k2 = "x" each occur 3 times, above the cap of 2, but no
    // (k1, k2) tuple does except (3, "z").
    val df = Seq(
      ("r1", 1, "x"),
      ("r2", 1, "x"),
      ("r3", 1, "y"),
      ("r4", 2, "x"),
      ("z1", 3, "z"),
      ("z2", 3, "z"),
      ("z3", 3, "z")
    ).toDF("id", "k1", "k2")
    assert(keysLeft(df, Seq("k1", "k2"), 2) == Seq("r1", "r2", "r3", "r4"))
  }
}
