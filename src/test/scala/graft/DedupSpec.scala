package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Dedup pipeline semantics on hand-built fixtures, including multi-hop
  * components that the oracle query (pair components only) cannot cover.
  */
class DedupSpec extends SparkSuite {

  private val schema = StructType(
    Seq(
      StructField("id", StringType),
      StructField("source_id", StringType),
      StructField("title", StringType),
      StructField("author", StringType),
      StructField("year", IntegerType),
      StructField("isbn", StringType)
    )
  )

  private def df(rows: (String, String, String, String, Integer, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6))),
      schema
    )

  test("transitive chain clusters to one component (min label wins)") {
    // a1-b1 share a title; b1-c1 share an ISBN; a1 and c1 share nothing
    // directly -> all three must still land in one cluster via propagation.
    val records = df(
      ("a.1", "a", "Common Title Here", "smith john", 1999, ""),
      ("b.1", "b", "COMMON TITLE HERE /", "smith john", 1999, "0306406152"),
      ("c.1", "c", "Entirely Different Name", "jones bob", 1980, "0-306-40615-2")
    )
    val out = Dedup.dedupRecords(records).collect()
    val labels = out.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels("a.1") == "a.1")
    assert(labels("b.1") == "a.1")
    assert(labels("c.1") == "a.1")
  }

  test("year conflict blocks title match but not isbn match") {
    val records = df(
      ("a.1", "a", "Same Title Words", "smith john", 1999, ""),
      ("b.1", "b", "Same Title Words", "smith john", 2001, ""),
      ("a.2", "a", "Other Title Words", "smith john", 1999, "0306406152"),
      ("b.2", "b", "Unrelated Name Totally", "doe jane", 2001, "0306406152")
    )
    val out = Dedup.dedupRecords(records).collect()
    val labels = out.map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(labels("a.1").isEmpty && labels("b.1").isEmpty)
    assert(labels("a.2").contains("a.2") && labels("b.2").contains("a.2"))
  }

  test("same-source records never match") {
    val records = df(
      ("a.1", "a", "Twin Title", "smith john", 1999, ""),
      ("a.2", "a", "Twin Title", "smith john", 1999, "")
    )
    val out = Dedup.dedupRecords(records).collect()
    assert(out.forall(_.isNullAt(1)))
  }

  test("oversized blocks are skipped (reference's candidate cap)") {
    // One title block across two sources, one record over the cap: no
    // path may pair inside it — not the full self-join, and not an
    // incremental probe against it as the stored corpus, plain or
    // bucketed. One record fewer and the same block pairs on every path.
    def block(n: Int) = df((1 to n).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      (s"$src.$i", src, "Hot Placeholder Title", "smith john", Integer.valueOf(1999), "")
    }: _*)
    val probe = df(("c.1", "c", "Hot Placeholder Title", "smith john", 1999, ""))
    val dir = "/tmp/graft_dedup_cap_" + System.nanoTime()
    val table = "graft_dedup_cap_spec"
    def matches(n: Int): (Long, Set[Option[String]], Set[Option[String]]) = {
      val recs = block(n).persist()
      val clustered = recs.withColumn("dedup_id", lit("a.2"))
      val pairs = Dedup.dedupRecords(recs).filter(col("dedup_id").isNotNull).count()
      def ids(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => Option(r.getAs[String]("dedup_id"))).toSet
      val plain = ids(Dedup.dedupIncremental(probe, clustered))
      val bucketed = ids(Dedup.dedupIncrementalBucketed(probe, clustered, table, dir, refresh = true))
      recs.unpersist()
      (pairs, plain, bucketed)
    }
    try {
      assert(matches(Dedup.MaxBlockSize + 1) == ((0L, Set(None), Set(None))))
      assert(matches(Dedup.MaxBlockSize) == ((Dedup.MaxBlockSize.toLong, Set(Some("a.2")), Set(Some("a.2")))))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("withKeys over keyed input recomputes the key in place") {
    val records = df(("a.1", "a", "Some Title", "smith john", 1999, ""))
    val stale = records.withColumn("title_key", lit("stale"))
    val keyed = Dedup.withKeys(stale)
    assert(keyed.columns.count(_ == "title_key") == 1)
    assert(keyed.columns.indexOf("title_key") == stale.columns.indexOf("title_key"))
    val want = Dedup.withKeys(records).select("title_key").head().getString(0)
    assert(want != "stale" && want.nonEmpty)
    assert(keyed.select("title_key").head().getString(0) == want)
  }

  test("retraction dissolves groups below two members, keeps larger groups as-is") {
    import spark.implicits._
    // Three clusters: g1 has 3 members (loses one -> survivors KEEP the
    // group, no re-match per the reference), g2 is a pair (loses one ->
    // survivor's dedup_id clears), g3 untouched.
    val clustered = Seq(
      ("a.1", "g1"), ("b.1", "g1"), ("c.1", "g1"),
      ("a.2", "g2"), ("b.2", "g2"),
      ("a.3", "g3"), ("b.3", "g3"),
      ("a.4", null.asInstanceOf[String]) // unclustered record passes through
    ).toDF("id", "dedup_id")
    val deleted = Seq("c.1", "b.2").toDF("id")
    val out = Dedup.dedupRetract(clustered, deleted).collect()
      .map(r => r.getAs[String]("id") -> Option(r.getAs[String]("dedup_id"))).toMap
    assert(out.size == 6)
    assert(out("a.1").contains("g1") && out("b.1").contains("g1"))
    assert(out("a.2").isEmpty) // lone survivor of g2
    assert(out("a.3").contains("g3") && out("b.3").contains("g3"))
    assert(out("a.4").isEmpty)
  }

  test("configured folding table merges accent variants; default keeps them apart") {
    // 'Tähtien sota' vs 'Tahtien sota': without folding the title keys
    // differ (different blocks — no candidate pair is ever generated) and
    // even as a pair the 1-char title distance is 7.7% but the block never
    // forms; with the reference's default folding table both fold to the
    // same key, block together, and Levenshtein distance drops to 0.
    val records = df(
      ("a.1", "a", "Tähtien sota", "lucas george", 1977, ""),
      ("b.1", "b", "Tahtien sota", "lucas george", 1977, "")
    )
    val plain = Dedup.dedupRecords(records).collect()
    assert(plain.forall(_.isNullAt(1)))
    val folded = Dedup
      .dedupRecords(
        records,
        folding = graft.functions.MetadataFunctions.DefaultFoldingTable
      )
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(folded == Map("a.1" -> "a.1", "b.1" -> "a.1"))
  }

  test("dedup plan contains no cartesian product") {
    val records = df(
      ("a.1", "a", "Some Title", "smith john", 1999, ""),
      ("b.1", "b", "Some Title", "smith john", 1999, "")
    )
    val plan = Dedup
      .dedupRecords(records)
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }
}
