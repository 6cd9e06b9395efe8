package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The local-fast / cluster-safe checkpoint seam ([[graft.Lineage]]).
  * With no configured directory every operator checkpoint is a
  * `localCheckpoint` (the whole suite exercises that path); these tests
  * flip the `spark.graft.checkpointDir` session conf and assert the
  * RELIABLE-checkpoint path produces identical results through a
  * representative composed operator (dedup → clusters, which routes sym
  * + per-round label checkpoints through the seam) and the near-dup edge
  * derivation (band-table + word-set checkpoints), computes a lazy
  * checkpoint once, and leaves no storage behind after `releaseHeld()`.
  */
class CheckpointSeamSpec extends SparkSuite {

  private def withReliableDir[T](f: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try f
    finally {
      spark.conf.unset("spark.graft.checkpointDir")
      spark.catalog.clearCache()
      Lineage.releaseHeld()
    }
  }

  test("dedup clusters are identical under reliable checkpointing") {
    import spark.implicits._
    val records = Seq(
      ("a.1", "a", "Alpha Title Words", "smith john", 1999, ""),
      ("b.1", "b", "ALPHA TITLE WORDS /", "smith john", 1999, "0306406152"),
      ("c.1", "c", "Entirely Different Name", "jones bob", 1980, "0-306-40615-2"),
      ("d.1", "d", "Loner Record Title", "doe jane", 2001, "")
    ).toDF("id", "source_id", "title", "author", "year", "isbn")
    def run(): Set[(String, String)] = {
      val out = operators.Dedup
        .dedupRecords(records, iters = 3)
        .select(col("id"), coalesce(col("dedup_id"), col("id")).as("d"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)))
        .toSet
      spark.catalog.clearCache()
      Lineage.releaseHeld()
      out
    }
    val local = run()
    val reliable = withReliableDir { run() }
    assert(local == reliable)
    assert(spark.sparkContext.getCheckpointDir.nonEmpty) // seam really set it
  }

  test("near-dup edges are identical under reliable checkpointing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about winter weather patterns")
    ).toDF("doc_id", "text")
    def run(): Set[(Long, Long)] = {
      val out = operators.LlmQueries8
        .verifiedNeardupEdges(docs, 0.8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      spark.catalog.clearCache()
      Lineage.releaseHeld()
      out
    }
    val local = run()
    val reliable = withReliableDir { run() }
    assert(local.nonEmpty)
    assert(local == reliable)
  }

  test("releaseHeld leaves no reliable checkpoint files or persisted RDDs behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    val records = Seq(
      ("a.1", "a", "Alpha Title Words", "smith john", 1999, ""),
      ("b.1", "b", "ALPHA TITLE WORDS /", "smith john", 1999, "0306406152"),
      ("c.1", "c", "Entirely Different Name", "jones bob", 1980, "0-306-40615-2")
    ).toDF("id", "source_id", "title", "author", "year", "isbn")
    val vocab = Seq("the" -> 10L, "then" -> 5L, "they" -> 3L, "he" -> 8L)
      .toDF("w", "f")
      .withColumn("syms", transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1))))
    val edges = Seq(("1", "2"), ("2", "3"), ("4", "5")).toDF("a", "b")
    val persistedBefore = sc.getPersistentRDDs.keySet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      assert(operators.Dedup.dedupRecords(records, iters = 3).collect().length == 3)
      assert(operators.Bpe.train(vocab, 3, checkpointEvery = 1).length == 3)
      assert(operators.ConnectedComponents.connectedComponents(edges).collect().length == 5)
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      Lineage.releaseHeld()
    }
    // The context's checkpoint dir is set once, by the first reliable
    // checkpoint of the session, so it may sit under another test's dir.
    val root = java.nio.file.Paths.get(sc.getCheckpointDir.get.stripPrefix("file:"))
    val left = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-")).toList
    assert(left.isEmpty, s"checkpoint directories left: ${left.mkString(", ")}")
    val persisted = sc.getPersistentRDDs.keySet -- persistedBefore
    assert(persisted.isEmpty, s"persisted RDDs left: ${persisted.mkString(", ")}")
  }

  test("a lazy reliable checkpoint computes its frame once") {
    val calls = spark.sparkContext.longAccumulator("lazy-checkpoint-calls")
    val tick = udf { (x: Long) => calls.add(1); x }
    val df = spark.range(1000).select(tick(col("id")).as("id"))
    withReliableDir {
      val ck = Lineage.checkpoint(df, eager = false)
      assert(ck.df.count() == 1000)
      assert(ck.df.agg(sum("id")).head().getLong(0) == 499500L)
    }
    assert(calls.value == 1000L)
  }
}
