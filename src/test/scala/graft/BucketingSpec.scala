package graft

import graft.operators.{Dedup, DedupQueries}
import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** The bucketed-layout scale path: a corpus bucketed by its join key
  * self-joins with ZERO shuffle exchanges — the plan shape a 100 TB
  * dedup corpus relies on (shuffle paid once at write time).
  */
class BucketingSpec extends SparkSuite {

  private def deleteRecursively(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete(): Unit
    }
    go(new java.io.File(path))
  }

  test("hive-partitioned corpus prunes partitions at the scan") {
    val dir = "/tmp/graft_partitioned_" + System.nanoTime()
    try {
      Tables
        .documents(spark, "/root/testdata/sf0.001")
        .write
        .mode("overwrite")
        .partitionBy("lang")
        .parquet(dir)
      val read = spark.read.parquet(dir).filter(col("lang") === "en")
      val physical = read.queryExecution.executedPlan.toString
      // The lang predicate must land in PartitionFilters (pruned
      // directories), not PushedFilters/post-scan filter over all data.
      assert(physical.contains("PartitionFilters: [isnotnull(lang"), physical)
      val expected = Tables
        .documents(spark, "/root/testdata/sf0.001")
        .filter(col("lang") === "en")
        .count()
      assert(read.count() == expected && expected > 0)
    } finally deleteRecursively(dir)
  }

  test("bucketed-by-key corpus self-join plans no shuffle exchange") {
    val dir = "/tmp/graft_bucketed_" + System.nanoTime()
    val keyed = Dedup
      .withKeys(DedupQueries.records(spark, "/root/testdata/sf0.001"))
      .filter(col("title_key") =!= "")
      .select("id", "source_id", "title_key", "norm_title")
    Bucketing.writeBucketed(keyed, Seq("title_key"), 8, "graft_bucketed_recs", dir)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Force a non-broadcast join so the test exercises the shuffle
      // requirement a 100 TB self-join would actually face.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = Bucketing.readBucketed(spark, "graft_bucketed_recs")
      val joined = t.as("a")
        .join(t.as("b"), "title_key")
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"), col("title_key"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"), s"unexpected exchange in:\n$physical")
      // Row-level result equality with the unbucketed join (the layout
      // must change nothing — count equality alone would pass a
      // value-mangling write-path bug).
      val plain = keyed.as("a")
        .join(keyed.as("b"), "title_key")
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"), col("title_key"))
      val got = joined.collect().map(_.toSeq).toSet
      val want = plain.collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_recs")
      deleteRecursively(dir)
    }
  }

  test("dedupRecordsBucketed: exchange-free candidate join, identical output") {
    val dir = "/tmp/graft_bucketed_dedup_" + System.nanoTime()
    val table = "graft_bucketed_dedup_spec"
    val records = DedupQueries.records(spark, "/root/testdata/sf0.001")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // First call writes the bucketed exploded-key layout...
      val bucketed = Dedup
        .dedupRecordsBucketed(records, table, dir)
        .select("id", "dedup_id")
      // ...and the candidate-edge subplan over the stored table must plan
      // with NO shuffle exchange anywhere before the final pair distinct:
      // both self-join sides consume the stored (kind, key) bucketing, and
      // the layout is stored already capped, so no heavy-key aggregate
      // runs on the read side.
      val edges =
        Dedup.edgesFromExploded(Bucketing.readBucketed(spark, table), opaquePredicate = true)
      val physical = edges.queryExecution.executedPlan.toString
      assert(
        !physical.linesIterator.exists(l => l.contains("Aggregate") && l.contains("__block_")),
        s"heavy-key aggregate on the read side:\n$physical"
      )
      val exchanges = physical.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")
      )
      assert(exchanges == 1, s"want only the pair-distinct exchange, got $exchanges:\n$physical")
      // The single shuffle sits at the top of the printed tree (the
      // distinct over result pairs), ABOVE the first scan — i.e. no
      // Exchange anywhere below the self-join.
      val scanIdx = physical.indexOf("Scan")
      val exchangeIdx = physical.indexOf("Exchange hashpartitioning")
      assert(exchangeIdx >= 0 && scanIdx > exchangeIdx, physical)
      // The structural reason the bucketing keeps matching: the match
      // predicate is behind the graft_opaque barrier, so Catalyst never
      // lifts its veto equalities (format/hidden/access) into the join
      // keys. Assert BOTH the barrier's presence and that every join
      // key is a blocking-key attribute — a Spark upgrade that starts
      // decomposing the predicate fails here, not silently in prod
      // (ADVICE r7: the old CASE wrapper was rule-version-coupled).
      assert(physical.contains("graft_opaque"), physical)
      // collect() does not descend through the AQE wrapper's inner plan;
      // unwrap to the initial physical plan (the one the string above
      // rendered).
      val innerPlan = edges.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val joinKeys = innerPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys ++ j.rightKeys
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.leftKeys ++ j.rightKeys
      }.flatten
      assert(joinKeys.nonEmpty)
      val keyNames = joinKeys.flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
      })
      assert(
        keyNames.forall(_.startsWith("__block_")),
        s"veto equalities leaked into join keys: ${keyNames.mkString(", ")}"
      )
      // Identical output to the unbucketed pipeline.
      val plain = Dedup.dedupRecords(records).select("id", "dedup_id")
      val got = bucketed.collect().map(_.toSeq).toSet
      val want = plain.collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      deleteRecursively(dir)
    }
  }

  test("dedupIncrementalBucketed: only the delta shuffles, identical output") {
    val dir = "/tmp/graft_bucketed_incr_" + System.nanoTime()
    val table = "graft_bucketed_incr_spec"
    val records = DedupQueries.records(spark, "/root/testdata/sf0.001")
    val clustered = Dedup
      .dedupRecords(records)
      .filter(col("dedup_id").isNotNull)
      .join(records, Seq("id"))
      .persist()
    val batch = records.limit(500)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = Dedup.dedupIncrementalBucketed(batch, clustered, table, dir)
      val physical = bucketed.queryExecution.executedPlan.toString
      // The corpus scan must come back bucketed...
      assert(physical.contains("Bucketed: true"), physical)
      // ...and the candidate join + aggregate region must carry exactly
      // two shuffles: the DELTA side aligning to the corpus bucketing
      // and the per-id aggregate. (The final left join against batch ids
      // adds its own id-key exchanges; scope the count to the subplan.)
      val matchedRegion = physical.substring(0, physical.indexOf("Bucketed: true"))
      val exchanges = matchedRegion.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("__block_")
      )
      assert(exchanges == 1, s"want exactly the delta-side key exchange, got $exchanges:\n$physical")
      // The stored corpus is read once, as stored: the layout is capped at
      // write time, so no per-call heavy-key aggregate re-scans it.
      val corpusScans = physical.linesIterator.count(l => l.contains("Scan") && l.contains(table))
      assert(corpusScans == 1, s"want one scan of $table, got $corpusScans:\n$physical")
      assert(
        !physical.linesIterator.exists(l => l.contains("Aggregate") && l.contains("__block_")),
        s"aggregate over the blocking keys:\n$physical"
      )
      // Identical output to the unbucketed incremental path.
      val got = bucketed.collect().map(_.toSeq).toSet
      val want = Dedup.dedupIncremental(batch, clustered).collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      clustered.unpersist()
      deleteRecursively(dir)
    }
  }

  test("a freshly written dedup layout has one bucket per session shuffle partition") {
    import spark.implicits._
    val dir = "/tmp/graft_bucketed_count_" + System.nanoTime()
    val records = Seq(
      ("a.1", "a", "Some Title", "smith john", 1999, "0306406152"),
      ("b.1", "b", "Some Title", "smith john", 1999, "")
    ).toDF("id", "source_id", "title", "author", "year", "isbn")
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    def numBuckets(table: String): Int =
      spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .find(_.getString(0) == "Num Buckets")
        .map(_.getString(1).trim.toInt)
        .getOrElse(fail(s"$table is not bucketed"))
    try {
      // A count no other spec uses, so the layout cannot come from a default.
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      Dedup.dedupRecordsBucketed(records, "graft_bucket_count_recs", s"$dir/recs", refresh = true)
      Dedup.dedupIncrementalBucketed(
        records, records.withColumn("dedup_id", col("id")),
        "graft_bucket_count_incr", s"$dir/incr", refresh = true
      )
      assert(numBuckets("graft_bucket_count_recs") == 3)
      assert(numBuckets("graft_bucket_count_incr") == 3)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_count_recs")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_count_incr")
      Lineage.releaseHeld()
      deleteRecursively(dir)
    }
  }

  test("dedupIncrementalBucketed never builds the clustered corpus when the layout exists") {
    import spark.implicits._
    val dir = "/tmp/graft_bucketed_byname_" + System.nanoTime()
    val table = "graft_bucketed_byname_spec"
    val records = Seq(
      ("a.1", "a", "Some Title", "smith john", 1999, "0306406152"),
      ("b.1", "b", "Some Title", "smith john", 1999, "")
    ).toDF("id", "source_id", "title", "author", "year", "isbn")
    try {
      Dedup.dedupIncrementalBucketed(
        records, records.withColumn("dedup_id", col("id")), table, dir, refresh = true
      )
      def unbuilt: org.apache.spark.sql.DataFrame = throw new AssertionError("clustered was evaluated")
      val got = Dedup.dedupIncrementalBucketed(records, unbuilt, table, dir).collect()
      assert(got.length == 2)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      Lineage.releaseHeld()
      deleteRecursively(dir)
    }
  }

  test("neardupClustersBucketed: exchange-free band join, identical output") {
    val dir = "/tmp/graft_bucketed_bands_" + System.nanoTime()
    val table = "graft_bucketed_bands_spec"
    val docs = graft.operators.LlmQueries.corpus(spark, "/root/testdata/sf0.001")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // First call writes the bucketed band layout...
      val bucketed = graft.operators.LlmQueries8
        .neardupClustersBucketed(docs, 0.8, table, dir)
      // ...and candidate generation over the stored table must plan
      // with NO shuffle exchange at all: the heavy-bucket census and
      // both self-join sides consume the stored (band_id, band_hash)
      // bucketing (only the heavy frame's BroadcastExchange remains).
      val pairs = graft.operators.LlmQueries8
        .bandPairs(Bucketing.readBucketed(spark, table), 1000)
      val physical = pairs.queryExecution.executedPlan.toString
      assert(physical.contains("Bucketed: true"), physical)
      val exchanges = physical.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")
      )
      assert(exchanges == 0, s"want zero shuffle exchanges, got $exchanges:\n$physical")
      // Identical output to the unbucketed pipeline.
      val got = bucketed.collect().map(_.toSeq).toSet
      val want = graft.operators.LlmQueries8
        .neardupClusters(docs, 0.8)
        .collect()
        .map(_.toSeq)
        .toSet
      assert(got.nonEmpty && got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.catalog.clearCache()
      deleteRecursively(dir)
    }
  }
}
