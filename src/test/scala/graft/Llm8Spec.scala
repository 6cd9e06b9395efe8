package graft

import graft.operators.LlmQueries8
import org.apache.spark.sql.functions._

/** Near-dup clustering and sequence-packing semantics the oracle cannot
  * express (multi-hop components) or does not pin down (packing
  * invariants).
  */
class Llm8Spec extends SparkSuite {

  test("neardup clusters are transitive across chains; singletons keep their id") {
    import spark.implicits._
    // a≈b and b≈c overlap heavily pairwise, a and c less so — the chain
    // must still land in ONE cluster via propagation; d shares nothing.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base + " tail one"),
      (2L, base + " tail two"),
      (3L, base + " tail two more words here"),
      (4L, (100 to 140).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = LlmQueries8
      .neardupClusters(docs, 0.5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(1) == ((1L, true)))
    assert(out(2)._1 == 1L && !out(2)._2)
    assert(out(3)._1 == 1L && !out(3)._2)
    assert(out(4) == ((4L, true)))
  }

  test("heavy buckets are dropped from pairs but still cluster via star edges") {
    import spark.implicits._
    import graft.operators.LlmQueries
    // 30 verbatim copies of one text: every copy shares all 4 band
    // buckets, so with cap=5 the bucket is heavy. Pair generation must
    // drop it entirely (quadratic-fanout guard), the diagnostic must
    // surface it, and clustering must still form ONE full cluster via
    // star edges to the min doc_id.
    val text = (1 to 50).map(i => s"w$i").mkString(" ")
    val other = (100 to 150).map(i => s"z$i").mkString(" ")
    val docs = ((1L to 30L).map(i => (i, text)) :+ (99L, other)).toDF("doc_id", "text")

    val pairs = LlmQueries.minhashPairsOf(docs, maxBucketSize = 5).collect()
    assert(pairs.isEmpty)

    val heavy = LlmQueries
      .heavyBandBuckets(LlmQueries.bandTableOf(docs), 5)
      .collect()
    assert(heavy.length == 4) // all 4 bands of the mega-bucket
    assert(heavy.forall(r => r.getAs[Long]("n") == 30L && r.getAs[Long]("rep") == 1L))

    val out = LlmQueries8
      .neardupClusters(docs, 0.8, maxBucketSize = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    (1L to 30L).foreach(i => assert(out(i)._1 == 1L))
    assert(out(1L)._2 && (2L to 30L).forall(i => !out(i)._2))
    assert(out(99L) == ((99L, true)))
    // Star shape: edge count is linear in the bucket, not quadratic —
    // with cap=5 no light pairs exist, so exactly 29 hub edges drive the
    // component.
    spark.catalog.clearCache()
  }

  test("uncapped and capped clustering agree when no bucket is heavy") {
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.operators.LlmQueries.corpus(spark, sfDir)
    val capped = LlmQueries8.neardupClusters(docs, 0.8).collect().toSet
    val uncapped =
      LlmQueries8.neardupClusters(docs, 0.8, maxBucketSize = Int.MaxValue).collect().toSet
    assert(capped == uncapped)
    spark.catalog.clearCache()
  }

  test("neardup components cluster a long adjacent-revision chain") {
    import spark.implicits._
    // Revision chain: doc i is words w_i … w_(i+39), so docs k revisions
    // apart share 40 − k of a 40 + k word union. At 0.7, doc 1 and doc 12
    // (29/51 ≈ 0.57) connect only through intermediate revisions; at 0.93
    // only adjacent revisions match (39/41 ≈ 0.951; two apart 38/42 ≈
    // 0.905), so 16 revisions form a path of diameter 15.
    Seq((12L, 0.7), (16L, 0.93)).foreach { case (n, thr) =>
      val docs = (1L to n).map { i =>
        val words = (i to i + 39).map(j => s"w$j")
        (i, words.mkString(" "))
      }.toDF("doc_id", "text")
      val out = LlmQueries8
        .neardupClusters(docs, thr)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(out.keySet == (1L to n).toSet)
      assert(out.values.toSet == Set(1L), s"$n-revision chain at $thr split into ${out.values.toSet}")
      spark.catalog.clearCache()
    }
  }

  test("sequence packing accounts for every token exactly once") {
    val sfDir = "/root/testdata/sf0.001"
    val packed = SparkEntry.queries("docs_pack_sequences")(spark, sfDir)
    val totalPacked =
      packed.agg(sum(col("seq_tokens"))).head().getLong(0)
    val totalTokens = Tables
      .documents(spark, sfDir)
      .select(size(split(coalesce(col("text"), lit("")), " ")).cast("bigint").as("n"))
      .agg(sum(col("n")))
      .head()
      .getLong(0)
    assert(totalPacked == totalTokens)
    // One row per (shard, bin) and no empty bins in the output.
    assert(packed.count() == packed.select("lang", "bucket", "seq_id").distinct().count())
    assert(packed.filter(col("n_docs") < 1 || col("seq_tokens") < 1).count() == 0)
  }

  test("packing writer buckets scale past 256 and packingBuckets returns powers of two") {
    // The bucket hash reads four md5 hex digits: counts above 256 must
    // actually materialize more than 256 buckets (a two-digit hash
    // silently capped parallelism at 256 — round-8 review), and the
    // sizing helper returns powers of two so the modulus stays uniform.
    val sfDir = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sfDir)
    val nBuckets = operators.LlmQueries8
      .packedDocs(docs, 1024)
      .select("bucket")
      .distinct()
      .count()
    assert(nBuckets > 256, s"only $nBuckets distinct buckets at nBuckets=1024")
    assert(operators.LlmQueries8.packingBuckets(1L) == 4)
    assert(operators.LlmQueries8.packingBuckets(10000000000L) == 16384)
    assert(operators.LlmQueries8.packingBuckets(Long.MaxValue) == 65536)
    val ps = Seq(5L, 300L, 999L, 100000L).map(m =>
      operators.LlmQueries8.packingBuckets(m * 1000000L)
    )
    assert(ps.forall(p => (p & (p - 1)) == 0), s"non-power-of-two bucket count: $ps")
  }
}
