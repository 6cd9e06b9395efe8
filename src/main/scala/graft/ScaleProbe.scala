package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupQueries, LlmQueries, LlmQueries6}

/** Scaling probe: replicates a corpus N× (disjoint key spaces) and times
  * the full pipeline, to check the operator scales linearly rather than
  * quadratically before it ever meets a cluster.
  *
  * Modes: `dedup` (record dedup pipeline), `minhash` (LSH candidate
  * generation), `segdedup` (segment-level dedup), `cluster` (near-dup
  * clustering), `kmeans`, `incr` (incremental dedup), `bpe` (full
  * training loop, mult = K — lineage-truncation flatness), and the
  * true-skew pair `skewpairs`/`skewcluster` (shared-text mega-duplicate
  * corpus — probes bucket skew rather than distinct-content growth).
  * Every run appends a `SCALE-MEM` line (cumulative shuffle spill +
  * peak per-task execution memory) — the memory axis of the probe.
  * Usage: `runMain graft.ScaleProbe [mode] [mult]`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filterNot(_.forall(_.isDigit)).getOrElse("dedup")
    val mult = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.1"

    // Memory axis of the scale probe: cumulative shuffle spill and the
    // per-task execution-memory peak across the whole run, so the N×
    // sweeps report whether memory pressure grows with the corpus (it
    // must NOT for the bounded-state operators) alongside wall time.
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          peakTaskMem.updateAndGet(v => math.max(v, m.peakExecutionMemory))
        }
      }
    })

    /** Documents replicated with every replica's shingles/segments made
      * disjoint: a per-replica suffix on EVERY word renames the whole
      * vocabulary (a bijection — within-replica similarity structure is
      * preserved exactly), so LSH buckets and segment hashes never merge
      * across replicas — corpus growth is measured with constant block
      * sizes, the true scaling dimension. (Inserting separator tokens
      * instead would create low-information shingles shared by everything
      * in the replica and inflate similarity — the wrong experiment.)
      */
    def docsReplicated: DataFrame = {
      val base = Tables.documents(spark, sfDir).select("doc_id", "text")
      (0 until mult).map { i =>
        if (i == 0) base
        else
          base.select(
            (col("doc_id") + i * 1000000L).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"$$1zz$i").as("text")
          )
      }.reduce(_ union _)
    }

    /** TRUE-duplicate skew: the base corpus plus mult×2000 verbatim
      * copies of one document (distinct doc_ids, SHARED text — no
      * vocabulary rename). All copies land in the same 4 band buckets,
      * exactly the boilerplate-page shape of a web corpus: uncapped, the
      * within-bucket self-join is (mult×2000)² pairs; with the
      * MaxBucketSize guard, pair generation drops the mega-bucket
      * (surfaced by the heavy-bucket diagnostic) and clustering connects
      * it via O(n) star edges. The bijective-rename probes above measure
      * growth of DISTINCT content; this one measures bucket skew.
      */
    def docsSkewed: DataFrame = {
      val base = Tables.documents(spark, sfDir).select("doc_id", "text")
      val mega = base
        .filter(col("doc_id") === 7)
        .select(
          explode(sequence(lit(0L), lit(mult * 2000L - 1))).as("r"),
          col("text")
        )
        .select((col("r") + 900000000L).as("doc_id"), col("text"))
      base.union(mega)
    }

    mode match {
      case "skewpairs" =>
        val big = docsSkewed
        val total = big.count()
        val t0 = System.nanoTime()
        val n = LlmQueries.minhashPairsOf(big).count()
        println(f"SCALE mode=skewpairs mult=$mult docs=$total pairs=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "skewcluster" =>
        val big = docsSkewed
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.LlmQueries8
          .neardupClusters(big, 0.8)
          .filter(!col("is_canonical"))
          .count()
        println(f"SCALE mode=skewcluster mult=$mult docs=$total merged=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "minhash" =>
        val big = docsReplicated
        val total = big.count()
        val t0 = System.nanoTime()
        val n = LlmQueries.minhashPairsOf(big).count()
        println(f"SCALE mode=minhash mult=$mult docs=$total pairs=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "segdedup" =>
        val big = docsReplicated
        val total = big.count()
        val t0 = System.nanoTime()
        val n = LlmQueries6.segmentStatsOf(big).filter(col("n_common") > 0).count()
        println(f"SCALE mode=segdedup mult=$mult docs=$total common_docs=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "cc" =>
        // Star-contraction connected components over a synthesized
        // permuted-chain graph of mult×100k nodes in 64-node chains
        // (diameter 63 — the regime min-label propagation cannot touch).
        // Round count is log-bounded and INDEPENDENT of n, per-round
        // work is one min-aggregate + one equi-join over the edge set,
        // so time must track n·rounds ≈ linearly; memory is the
        // per-round checkpointed edge set only.
        val n = mult * 100000L
        val edges = operators.ConnectedComponents.chainEdges(
          spark.range(n).select(col("id").as("p_partkey")),
          chainLen = 64
        )
        val t0 = System.nanoTime()
        val labeled = operators.ConnectedComponents.connectedComponents(edges)
        val comps = labeled.select("component_id").distinct().count()
        val total = labeled.count()
        // 64-node chains over n nodes → ceil(n/64) components (the tail
        // chain counts); a mismatch means contraction merged or split
        // chains.
        assert(comps == (n + 63) / 64, s"expected ${(n + 63) / 64} components, got $comps")
        println(f"SCALE mode=cc mult=$mult nodes=$total components=$comps time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "cluster" =>
        val big = docsReplicated
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.LlmQueries8
          .neardupClusters(big, 0.8)
          .filter(!col("is_canonical"))
          .count()
        println(f"SCALE mode=cluster mult=$mult docs=$total merged=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "semskew" =>
        // TRUE-duplicate skew for SemDeDup: base embeddings plus
        // mult×2000 verbatim copies of one vector (distinct ids, same
        // direction) — all copies land in ONE IVF cell at cosine 1.
        // Uncapped, the within-cell join is (mult×2000)² pairs; the
        // MaxBucketSize guard drops the mega-cell from pair generation,
        // so time must stay linear in mult.
        val base = Tables
          .embeddings(spark, sfDir)
          .select(
            col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("vec")
          )
        val mega = base
          .filter(col("vec_id") === 7)
          .select(
            explode(sequence(lit(0L), lit(mult * 2000L - 1))).as("r"),
            col("vec")
          )
          .select((col("r") + 900000000L).as("vec_id"), col("vec"))
        val big = base.union(mega)
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.LlmQueries5.semdedupOf(big).filter(!col("kept")).count()
        println(f"SCALE mode=semskew mult=$mult vectors=$total dropped=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "kmeans" =>
        // One Lloyd step over an N×-replicated embedding corpus: the
        // aggregate key space stays K×D no matter the corpus size, so
        // time should track the scan+assign (linear), with the shuffle a
        // constant 16×64 partial-sum exchange.
        val base = Tables
          .embeddings(spark, sfDir)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val big = base
          .select(explode(sequence(lit(0), lit(mult - 1))).as("r"), col("id"), col("vec"))
          .select((col("id") + col("r") * 10000000L).as("id"), col("vec"))
        val seeds = base.filter(col("id") < 16).select(col("id").as("cell"), col("vec").as("cv"))
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.KMeans.step(big, seeds).count()
        println(f"SCALE mode=kmeans mult=$mult vectors=$total cells_x_dims=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "joins" =>
        // Temporal joins over an N×-replicated events table with DISJOINT
        // user spaces per replica: window partitions and (user, bucket)
        // join blocks keep their base size, so time must track the scan
        // (linear). A superlinear curve would mean the shuffle or sort is
        // global rather than per-key.
        val base = operators.JoinQueries
          .evts(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("us"))
        val big = (0 until mult)
          .map { i =>
            if (i == 0) base
            else base.withColumn("user_id", col("user_id") + i * 1000000L)
          }
          .reduce(_ union _)
        val total = big.count()
        val t0 = System.nanoTime()
        val nA = operators.JoinQueries.asofOf(big).count()
        val t1 = System.nanoTime()
        val nI = operators.JoinQueries.intervalOf(big).count()
        val t2 = System.nanoTime()
        println(
          f"SCALE mode=joins mult=$mult events=$total asof=$nA (${(t1 - t0) / 1e9}%.1f s) interval=$nI (${(t2 - t1) / 1e9}%.1f s)"
        )
      case "classifier" =>
        // Full K-iteration training + scoring over an N×-replicated
        // corpus (disjoint doc ids, same text/labels): gradients key on
        // 256 buckets regardless of corpus size, the feature frame is
        // map-only to score — time must track the scan, linearly.
        val base = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
        val big = (0 until mult)
          .map { i =>
            if (i == 0) base
            else base.withColumn("doc_id", col("doc_id") + i * 10000000L)
          }
          .reduce(_ union _)
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.Classifier.scoreOf(big).filter(col("p_mu") > 500000L).count()
        println(f"SCALE mode=classifier mult=$mult docs=$total high=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "incr" =>
        // Incremental mode: a FIXED batch against an N×-growing clustered
        // corpus — the production shape (daily delta vs full history).
        // Time should grow only with the corpus-side key scan (linear),
        // never with batch×corpus.
        val base = DedupQueries.records(spark, sfDir)
        val batch = base.limit(2000)
        val corpus = (0 until mult)
          .map { i =>
            if (i == 0) base
            else
              base
                .withColumn("id", concat(lit(s"x$i."), col("id")))
                .withColumn("title", concat(lit(s"x$i"), col("title")))
                .withColumn("isbn", lit(""))
          }
          .reduce(_ union _)
          .withColumn("dedup_id", col("id"))
        val total = corpus.count()
        val t0 = System.nanoTime()
        val n = Dedup
          .dedupIncremental(batch, corpus)
          .filter(col("dedup_id").isNotNull)
          .count()
        println(f"SCALE mode=incr mult=$mult corpus=$total batch=2000 matched=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "skewjoin" =>
        // AQE skew-join demonstration: a fact table where ~60% of rows
        // share ONE join key (the boilerplate-host shape), sort-merge
        // joined to its key dimension. With AQE skew handling the hot
        // partition is split into parallel sub-joins; without it, one
        // task carries the whole hot key. Thresholds are lowered so the
        // sf0.1 hot partition qualifies (production defaults are sized
        // for real-cluster partitions).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        val li = Tables
          .lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val factBase = li.withColumn(
          "k",
          when(col("l_orderkey") % 10 < 6, lit(0L)).otherwise(col("l_orderkey"))
        )
        // mult replicates fact ROWS at the SAME keys — the hot partition
        // grows mult×, the dim stays fixed.
        val fact = (0 until mult).map(_ => factBase).reduce(_ unionByName _)
        // Dim construction matters twice over: (a) deriving it from
        // `fact` makes the k-Exchange canonically identical on both
        // sides, and a ReusedExchange consumer suppresses
        // OptimizeSkewedJoin (splitting would change the partitioning
        // the other consumer depends on); (b) a distinct()/aggregate
        // sitting between the join and the dim's shuffle ALSO defeats
        // the rule — its pattern matches only Sort-over-shuffle-stage
        // children. So: a different source table, already key-unique
        // (cold orderkeys + one literal hot row), no aggregate.
        val dim = Tables
          .orders(spark, sfDir)
          .filter(col("o_orderkey") % 10 >= 6)
          .select(col("o_orderkey").as("k"))
          .unionByName(spark.range(1).select(lit(0L).as("k")))
          .withColumn("info", md5(col("k").cast("string")))
        def skewJoined(f: DataFrame, dm: DataFrame): DataFrame =
          f.join(dm, Seq("k"))
            .groupBy(col("k") % 1000)
            .agg(sum(col("l_quantity")).cast("double").as("s"), count(lit(1)).as("n"))
        def runJoin(): (Double, String) = {
          val joined = skewJoined(fact, dim)
          val t0 = System.nanoTime()
          // collect (tiny post-agg result) through THIS Dataset's
          // queryExecution so the inspected plan is the FINAL adaptive
          // plan (a separate write re-plans from scratch and reports the
          // pre-execution skeleton without AQEShuffleRead nodes).
          joined.collect()
          val t = (System.nanoTime() - t0) / 1e9
          val plan = joined.queryExecution.executedPlan.toString
          val mark =
            plan.linesIterator
              .filter(_.contains("AQEShuffleRead"))
              .take(2)
              .mkString("; ")
              .trim match {
              case "" => "no-aqe-read"
              case m  => m
            }
          (t, mark)
        }
        if (sys.env.contains("SKEW_DEBUG")) {
          val dbg = skewJoined(fact, dim)
          dbg.collect()
          println(dbg.queryExecution.executedPlan.toString)
        }
        // Count the replicated fact ONCE, before the timed A/B — a count
        // in the println would append another full mult-way scan.
        val factRows = fact.count()
        runJoin() // untimed warmup (JVM/codegen) so the A/B is plan-only
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        val (tOff, _) = runJoin()
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        val (tOn, mark) = runJoin()
        println(
          f"SCALE mode=skewjoin mult=$mult rows=$factRows aqe_off=$tOff%.1f s aqe_on=$tOn%.1f s ($mark)"
        )
      case "bpe" =>
        // Full BPE training-loop probe: `mult` IS the merge count K here.
        // Per-merge cost must be flat in K (total time linear): without
        // the checkpoint discipline in Bpe.train, iteration k
        // re-executes all k−1 prior merge folds, so doubling K would
        // ~quadruple the time. Sweep K = 48 / 96 / 192 and compare.
        // The synthetic corpus's own vocabulary is ~30 words (too small
        // to carry per-merge scan cost), so the probe trains on a
        // 100k-word md5-derived vocabulary: 20 distinct 8-hex "words"
        // per document — real fold work every iteration, and enough
        // pair diversity that merges never exhaust below K=192.
        val k = math.max(mult, 8)
        val vocab = graft.Lineage.checkpoint(
          Tables
            .documents(spark, sfDir)
            .select(explode(sequence(lit(0), lit(19))).as("i"), col("doc_id"))
            .select(
              substring(
                md5(concat(col("doc_id").cast("string"), lit(":"), col("i").cast("string"))),
                1,
                8
              ).as("w")
            )
            .groupBy("w")
            .agg(count(lit(1)).as("f"))
            .withColumn(
              "syms",
              transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1)))
            )
        ).df
        val nWords = vocab.count()
        val t0 = System.nanoTime()
        val merges = operators.Bpe.train(vocab, k)
        val t = (System.nanoTime() - t0) / 1e9
        println(
          f"SCALE mode=bpe k=$k vocab_words=$nWords merges=${merges.size} time=$t%.1f s per_merge=${t / math.max(merges.size, 1)}%.3f s"
        )
      case "ead3" =>
        // EAD3 split over N× replicas with DISJOINT archive keys: every
        // window and join keys on archive_key, so time must track the
        // archive count linearly (the pointer-doubling rounds stay 4
        // regardless of corpus size — depth, not volume, sets them).
        val (archives0, components0) = operators.EadQueries.ead3Frames(spark, sfDir)
        def rep(df: DataFrame): DataFrame =
          (0 until mult).map { i =>
            if (i == 0) df
            else df.withColumn("archive_key", concat(lit(s"r$i."), col("archive_key")))
          }.reduce(_ unionByName _)
        val archives = rep(archives0)
        val components = rep(components0)
        val t0 = System.nanoTime()
        val n = operators.Ead3Splitter
          .splitArchive(
            archives,
            components,
            unitIdLabel = Some("main"),
            prependParentTitleWithUnitId = true
          )
          .count()
        println(f"SCALE mode=ead3 mult=$mult records=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "repetition" =>
        // Gopher repetition metrics over N× disjoint-vocabulary replicas:
        // all three explode→groupBy passes key on (doc_id, token), so
        // time must track the corpus linearly with flat memory.
        val big = docsReplicated
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.RepetitionQueries.metricsOf(big).filter(!col("pass")).count()
        println(f"SCALE mode=repetition mult=$mult docs=$total flagged=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "textstats" =>
        // Round-8 text-statistics family over N× disjoint-vocabulary
        // replicas: winnowing is map-only (must be embarrassingly
        // linear), entropy keys one shuffle by (doc_id, word), and the
        // KN scorer adds the bounded bigram-model rollups — all three
        // must track the corpus linearly with flat memory.
        val big = docsReplicated.persist()
        val total = big.count()
        val t0 = System.nanoTime()
        val nw = operators.WinnowingQueries.winnowOf(big).agg(sum(col("n_fp"))).collect()(0).getLong(0)
        val t1 = System.nanoTime()
        val toks = big.select(col("doc_id"), explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
        val ne = toks
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
          .count()
        val t2 = System.nanoTime()
        val nk = operators.SmoothedLm.knScoreOf(big).count()
        val t3 = System.nanoTime()
        println(
          f"SCALE mode=textstats mult=$mult docs=$total fp_total=$nw " +
            f"winnow=${(t1 - t0) / 1e9}%.1f s entropy_docs=$ne entropy=${(t2 - t1) / 1e9}%.1f s " +
            f"kn_docs=$nk kn=${(t3 - t2) / 1e9}%.1f s"
        )
      case "bucketdedup" =>
        // The bucketed-layout A/B at replicated scale: first call pays
        // the one-time bucketed write of the exploded blocking-key
        // frame (the ingest-time shuffle a cluster amortizes), second
        // call is the pure read-side run every subsequent day pays.
        // Compare against mode=dedup at the same mult for the
        // unbucketed cost.
        val base = DedupQueries.records(spark, sfDir)
        val big = (0 until mult)
          .map { i =>
            if (i == 0) base
            else
              base
                .withColumn("id", concat(lit(s"x$i."), col("id")))
                .withColumn("title", concat(lit(s"x$i"), col("title")))
                .withColumn("isbn", lit(""))
          }
          .reduce(_ union _)
        val total = big.count()
        val table = s"graft_probe_dedup_m$mult"
        val path = s"/tmp/graft_probe_bucketed/m$mult"
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val t0 = System.nanoTime()
        val n1 = Dedup
          .dedupRecordsBucketed(big, table, path)
          .filter(col("dedup_id").isNotNull)
          .count()
        val t1 = System.nanoTime()
        spark.catalog.clearCache()
        val n2 = Dedup
          .dedupRecordsBucketed(big, table, path)
          .filter(col("dedup_id").isNotNull)
          .count()
        val t2 = System.nanoTime()
        assert(n1 == n2)
        println(
          f"SCALE mode=bucketdedup mult=$mult records=$total clustered=$n1 " +
            f"write_plus_read=${(t1 - t0) / 1e9}%.1f s read_only=${(t2 - t1) / 1e9}%.1f s"
        )
      case "pplskew" =>
        // Language-skew probe for the round-8 docs_ppl_buckets rewrite:
        // mult× disjoint-vocabulary replicas with 90% of documents forced
        // into ONE language. Under the old per-language row_number the
        // dominant language's whole (doc_id, score) set sorts on one
        // task and time bends superlinear; with histogram-derived cuts
        // the only per-document passes are the bounded-broadcast join
        // and (lang, tie-cell) windows, so time must track the corpus.
        val big = docsReplicated
          .withColumn(
            "lang",
            when(col("doc_id") % 10 < 9, lit("xx"))
              .otherwise(concat(lit("l"), (col("doc_id") % 7).cast("string")))
          )
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.CurationQueries
          .pplBucketsOf(big)
          .groupBy("bucket")
          .count()
          .count()
        println(f"SCALE mode=pplskew mult=$mult docs=$total buckets=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "balskew" =>
        // Mega-cell probe for the round-8 embed_sample_balanced rewrite:
        // base embeddings plus mult×2000 copies of one vector — all in
        // ONE IVF cell (the semskew shape). The salted rank splits the
        // mega-cell into 256 md5-uniform subgroups, so time must stay
        // linear in mult instead of sorting the cell on one task.
        val base = Tables
          .embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        val mega = base
          .filter(col("vec_id") === 7)
          .select(
            explode(sequence(lit(0L), lit(mult * 2000L - 1))).as("r"),
            col("embedding")
          )
          .select((col("r") + 900000000L).as("vec_id"), col("embedding"))
        val big = base.union(mega)
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.MixtureQueries2
          .balancedSampleOf(big)
          .filter(col("kept"))
          .count()
        println(f"SCALE mode=balskew mult=$mult vectors=$total kept=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "canonskew" =>
        // Shared-prefix mega-group probe for the round-8 docs_canonical
        // rewrite: base docs plus mult×2000 documents sharing ONE 8-token
        // prefix (the boilerplate-web shape). The groupBy+join form keeps
        // the mega-cluster map-side-combinable (and AQE-splittable);
        // time must stay linear in mult.
        val baseDocs = Tables.documents(spark, sfDir).select("doc_id", "text", "n_chars")
        val mega = baseDocs
          .filter(col("doc_id") === 7)
          .select(
            explode(sequence(lit(0L), lit(mult * 2000L - 1))).as("r"),
            col("text")
          )
          .select(
            (col("r") + 900000000L).as("doc_id"),
            // Shared 8-token prefix (one cluster), distinct tails.
            concat(col("text"), lit(" tail"), col("r").cast("string")).as("text")
          )
          .withColumn("n_chars", length(col("text")).cast("bigint"))
        val big = baseDocs
          .withColumn("n_chars", col("n_chars").cast("bigint"))
          .unionByName(mega)
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.LlmQueries7.canonicalOf(big).filter(col("canonical")).count()
        println(f"SCALE mode=canonskew mult=$mult docs=$total canonical=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "retrieval" =>
        // BM25 search over replicas with SHARED vocabulary (disjoint
        // doc_ids, same text): the query terms' posting lists grow
        // linearly with the corpus — the exact stress for the round-8
        // bounded top-k cut that replaced the per-query rank window.
        // Time must track the corpus; the top-k itself ranks only the
        // (≤10-row) kept cells plus one boundary tie cell per query.
        val base = Tables.documents(spark, sfDir).select("doc_id", "text")
        val big = (0 until mult)
          .map(i => base.select((col("doc_id") + i * 1000000L).as("doc_id"), col("text")))
          .reduce(_ union _)
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.Retrieval.bm25Of(big).count()
        println(f"SCALE mode=retrieval mult=$mult docs=$total hits=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "topkskew" =>
        // Dominant-group probe for the histogram-cut top-k: 90% of
        // documents in ONE language. The naive per-group rank window
        // sorts that language on one task; the bounded-histogram cut
        // must stay linear (outside cells never rank; only cells
        // touching the top k do, and those are ≤ k rows or the one
        // boundary tie cell).
        val big = docsReplicated
          .withColumn(
            "lang",
            when(col("doc_id") % 10 < 9, lit("xx"))
              .otherwise(concat(lit("l"), (col("doc_id") % 7).cast("string")))
          )
          .withColumn("q4", (col("doc_id") % 100000).cast("long"))
        val total = big.count()
        val t0 = System.nanoTime()
        val n = operators.TopK
          .topkPerGroup(big.select("doc_id", "lang", "q4"), "lang", "q4", "doc_id", 100)
          .count()
        println(f"SCALE mode=topkskew mult=$mult docs=$total kept=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "topktie" =>
        // Straddling-TIE-CELL probe: 90% of documents share ONE
        // (group, score) cell at the TOP score, so that cell straddles
        // the k=100 cutoff with before=0 and the r8 form would
        // total-order 90% of the corpus on a single task. The salted
        // edge pre-filter must keep the per-task sort at cell/256 and
        // the probe linear in mult.
        val big = docsReplicated
          .withColumn("lang", lit("xx"))
          .withColumn(
            "q4",
            when(col("doc_id") % 10 < 9, lit(1000000L)).otherwise((col("doc_id") % 1000).cast("long"))
          )
        val total = big.count()
        val t0 = System.nanoTime()
        val kept = operators.TopK
          .topkPerGroup(big.select("doc_id", "lang", "q4"), "lang", "q4", "doc_id", 100)
          .count()
        println(f"SCALE mode=topktie mult=$mult docs=$total kept=$kept time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "unigram" =>
        // Tokenizer-scale probe: replica word-renaming grows the DISTINCT
        // vocabulary linearly while document structure stays constant, so
        // piece mining, the vocab join, and the per-word DP must all
        // scale with vocabulary — the dimension that actually grows at
        // 100 TB (the DP itself is O(len·S) per word, corpus-independent).
        val corpus = docsReplicated
        val t0 = System.nanoTime()
        val words = operators.UnigramLm.viterbiOf(corpus).count()
        val t1 = System.nanoTime()
        val pieces = operators.UnigramLm.vocabOf(corpus).count()
        println(
          f"SCALE mode=unigram mult=$mult words=$words pieces=$pieces " +
            f"viterbi=${(t1 - t0) / 1e9}%.1f s vocab=${(System.nanoTime() - t1) / 1e9}%.1f s"
        )
      case "stridedspans" =>
        // Strided duplicate-span guarantee probe: every doc_id % 10 == 3
        // doc gets a 47-char payload (exactly G+S−1) shared within its
        // (doc_id % 50) group, inserted at a per-doc offset so copies
        // are UNALIGNED — the case stride-1 trivially handles and naive
        // positional striding would miss. The winnowing guarantee says
        // detection must be exhaustive (missed=0) while the exploded
        // anchor rows run at the ~2/(S+1) winnowing density of the
        // stride-1 gram count.
        val G = operators.CurationQueries.G
        val S = operators.CurationQueries.SpanStride
        val payload = concat(
          lit("PLANTED"),
          lpad((col("doc_id") % 50).cast("string"), 4, "0"),
          lit("SPAN"),
          rpad(lpad((col("doc_id") % 50).cast("string"), 4, "0"), G + S - 1 - 15, "x")
        )
        val corpus = docsReplicated
          .withColumn("off", (col("doc_id") % 7 * 13).cast("int"))
          .withColumn(
            "text",
            when(
              col("doc_id") % 10 === 3,
              concat(expr("substr(text, 1, off)"), payload, expr("substr(text, off + 1)"))
            ).otherwise(col("text"))
          )
          .select("doc_id", "text")
          .persist()
        val total = corpus.count()
        val grams = corpus
          .agg(sum(greatest(length(col("text")) - (G - 1), lit(0))))
          .collect()(0)
          .getLong(0)
        val t0 = System.nanoTime()
        val anchors = operators.CurationQueries.anchorsOf(corpus).count()
        val spans = operators.CurationQueries.stridedSpansOf(corpus).persist()
        val nSpans = spans.count()
        val tSec = (System.nanoTime() - t0) / 1e9
        val plantedPos = corpus
          .filter(col("doc_id") % 10 === 3)
          .select(col("doc_id"), expr("locate(concat('PLANTED', lpad(cast(doc_id % 50 as string), 4, '0')), text)").as("ppos"))
        val missed = plantedPos
          .join(spans, Seq("doc_id"), "left")
          .groupBy("doc_id", "ppos")
          .agg(
            max(
              when(
                col("span_start") <= col("ppos") + (G + S - 2) &&
                  col("span_end") >= col("ppos"),
                1
              ).otherwise(0)
            ).as("hit")
          )
          .filter(col("hit") =!= 1 || col("hit").isNull)
          .count()
        println(
          f"SCALE mode=stridedspans mult=$mult docs=$total grams=$grams anchors=$anchors " +
            f"density_pm=${anchors * 1000 / math.max(grams, 1)} spans=$nSpans missed=$missed time=$tSec%.1f s"
        )
      case "imgfeat" =>
        // Image feature pipeline at REAL image sizes: 200·mult BMPs of
        // 256×192 (the registry fixtures are thumbnail-scale; this
        // drives the per-cell byte folds over ~147 KB payloads and the
        // banded near-dup join at growing image counts). Every 7th
        // image also appears as a brightness-shifted copy. Expect
        // linear time in image count, zero spill, flat task memory
        // (the O(grid) fold claim).
        val n = 200L * mult
        val ids = spark.range(n).select(col("id").as("doc_id"))
        // The OPERATOR's own channel law (not a re-typed copy): if
        // ImageFeatures.chanLaw's slopes ever change, the probe keeps
        // measuring the fixture the operator actually ships.
        def law(src: org.apache.spark.sql.Column, delta: Long)(
            x: org.apache.spark.sql.Column,
            y: org.apache.spark.sql.Column
        ) = operators.ImageFeatures.chanLaw(src, lit(delta))(x, y)
        val base = ids.select(
          col("doc_id").as("media_id"),
          unhex(operators.Multimodal.bmpFullHexWith(lit(256L), lit(192L), law(col("doc_id"), 0L)))
            .as("payload")
        )
        val dups = ids
          .filter(col("doc_id") % 7 === 3)
          .select(
            (col("doc_id") + 10000000L).as("media_id"),
            unhex(operators.Multimodal.bmpFullHexWith(lit(256L), lit(192L), law(col("doc_id"), 5L)))
              .as("payload")
          )
        // Materialize fixtures FIRST: hex-string image synthesis is
        // probe scaffolding (real corpora read parquet binaries), and
        // folding it into the hash timing would misattribute ~all the
        // wall time.
        val tg0 = System.nanoTime()
        val media = base.unionByName(dups).persist()
        val nImgs = media.count()
        val tGen = (System.nanoTime() - tg0) / 1e9
        val t0 = System.nanoTime()
        val hashes = operators.ImageFeatures.dhashOf(media).persist()
        val nh = hashes.count()
        val t1 = System.nanoTime()
        val pairs = operators.ImageFeatures.nearDupOf(hashes).persist()
        val np = pairs.count()
        val planted = pairs.filter(col("media_b") - col("media_a") === 10000000L).count()
        val t2 = System.nanoTime()
        println(
          f"SCALE mode=imgfeat mult=$mult imgs=$nh/$nImgs bytes_per_img=${256 * 192 * 3} " +
            f"gen=$tGen%.1f s hash=${(t1 - t0) / 1e9}%.1f s pairs=$np planted=$planted " +
            f"neardup=${(t2 - t1) / 1e9}%.1f s"
        )
      case "avfeat" =>
        // Audio/video content-identity pipelines at REAL clip sizes
        // (the registry fixtures are miniature): 500·mult video clips
        // of 2..5 shots × 3..6 frames at 16×16 (4 JPEG blocks/frame,
        // ~10-30 entropy-decoded frames/clip) and 500·mult audio clips
        // of 64 windows (2048 PCM16 samples). Every 7th video clip
        // also appears re-timed. Expect linear time in clip count,
        // zero spill, flat task memory (per-clip state is O(grid) /
        // one bounded sample array).
        import spark.implicits._
        val n = 500L * mult
        def clip(id: Long, retimed: Boolean): Array[Byte] = {
          val shots = 2 + (id % 4).toInt
          val frames = (0 until shots).flatMap { j =>
            val len = 3 + ((id + j + (if (retimed) 1 else 0)) % 4).toInt
            (0 until len).map(f =>
              operators.JpegCodec.encodeJpeg(id * 8 + j, 16, 16, if (f % 2 == 1) 2 else 0)
            )
          }
          operators.Mjpeg.buildAvi(id, frames, 16, 16, truncate = false)
        }
        val video = spark
          .range(n)
          .as[Long]
          .mapPartitions(_.flatMap { id =>
            val base = operators.DeflateMedia.MediaRow(id, clip(id, retimed = false))
            if (id % 7 == 3)
              Iterator(base, operators.DeflateMedia.MediaRow(id + 10000000L, clip(id, retimed = true)))
            else Iterator(base)
          })
          .persist()
        val tg0 = System.nanoTime()
        val nClips = video.count()
        val tGen = (System.nanoTime() - tg0) / 1e9
        val t0 = System.nanoTime()
        val shots = operators.VideoShots.shotTable(video).toDF().persist()
        val nShots = shots.count()
        val t1 = System.nanoTime()
        val vp = operators.VideoShots.nearDupOf(shots).persist()
        val nvp = vp.count()
        val planted = vp.filter(col("media_b") - col("media_a") === 10000000L).count()
        val t2 = System.nanoTime()
        val aBase = spark
          .range(n)
          .select(
            col("id").as("media_id"),
            unhex(
              operators.AudioFingerprint.pcm16WavHex(
                lit(2048L),
                operators.AudioFingerprint.sampleLaw(col("id"), 0L)
              )
            ).as("payload")
          )
        // hop-shifted plants: the 64-window clip minus its first window
        val aDups = spark
          .range(n)
          .filter(col("id") % 7 === 3)
          .select(
            (col("id") + 10000000L).as("media_id"),
            unhex(
              operators.AudioFingerprint.pcm16WavHex(
                lit(2016L),
                operators.AudioFingerprint.sampleLaw(col("id"), 32L)
              )
            ).as("payload")
          )
        val audio = aBase.unionByName(aDups).persist()
        val nAudio = audio.count()
        val t3 = System.nanoTime()
        val lm = operators.AudioFingerprint
          .landmarkTable(operators.AudioFingerprint.windowTable(audio))
        val ap = operators.AudioFingerprint.nearDupOf(lm).persist()
        val nap = ap.count()
        val aPlanted = ap
          .filter(col("media_b") - col("media_a") === 10000000L && col("dt") === 1)
          .count()
        val t4 = System.nanoTime()
        println(
          f"SCALE mode=avfeat mult=$mult clips=$nClips shots=$nShots " +
            f"vdecode=${(t1 - t0) / 1e9}%.1f s vpairs=$nvp planted=$planted vneardup=${(t2 - t1) / 1e9}%.1f s " +
            f"gen=$tGen%.1f s audio=$nAudio apairs=$nap aplanted=$aPlanted afingerprint=${(t4 - t3) / 1e9}%.1f s"
        )
        graft.Lineage.releaseHeld()

      case "stridedskew" =>
        // Boilerplate MEGA-GRAM probe (r12): ≥90% of docs get ONE shared
        // 64-char block (think license header / scraper chrome), so a
        // single gram value `g` concentrates ~0.9 × docs × mult anchor
        // occurrences. The r11 count-over-window on `g` put that whole
        // partition on one non-splittable sorted WindowExec task; the
        // restored map-side-combinable census + AQE-splittable join must
        // stay LINEAR in mult with zero spill. (The shared block is
        // offset-jittered so copies are unaligned, and the winnowing
        // tie-break still selects identical anchors inside it.)
        val G = operators.CurationQueries.G
        val boiler = "BOILERPLATELICENSEHEADERSHAREDBYALMOSTEVERYDOCUMENTINTHECORPUS!"
        require(boiler.length >= G + operators.CurationQueries.SpanStride - 1)
        val corpus = docsReplicated
          .withColumn("off", (col("doc_id") % 7 * 11).cast("int"))
          .withColumn(
            "text",
            when(
              col("doc_id") % 10 =!= 3, // 90% of docs share the block
              concat(expr("substr(text, 1, off)"), lit(boiler), expr("substr(text, off + 1)"))
            ).otherwise(col("text"))
          )
          .select("doc_id", "text")
          .persist()
        val total = corpus.count()
        val t0 = System.nanoTime()
        val spans = operators.CurationQueries.stridedSpansOf(corpus).persist()
        val nSpans = spans.count()
        val tSec = (System.nanoTime() - t0) / 1e9
        // Every block-carrying doc must report a span covering its block.
        val covered = corpus
          .filter(col("doc_id") % 10 =!= 3)
          .select(col("doc_id"), expr(s"locate('${boiler.substring(0, 16)}', text)").as("ppos"))
          .join(spans, Seq("doc_id"), "left")
          .groupBy("doc_id", "ppos")
          .agg(
            max(
              when(
                col("span_start") <= col("ppos") + (boiler.length - 1) &&
                  col("span_end") >= col("ppos"),
                1
              ).otherwise(0)
            ).as("hit")
          )
          .filter(col("hit") === 1)
          .count()
        println(
          f"SCALE mode=stridedskew mult=$mult docs=$total hot_docs=${total * 9 / 10} " +
            f"spans=$nSpans covered=$covered time=$tSec%.1f s"
        )
      case "packing" =>
        // Writer-bucket sweep for the parameterized packing cumsum: a
        // mult× corpus packed at 4 / 16 / 64 buckets. More buckets →
        // smaller per-window work; totals must agree (buckets are
        // independent writers, so only the sharding changes).
        val big = docsReplicated.withColumn("lang", lit("xx"))
        val total = big.count()
        val times = Seq(4, 16, 64).map { b =>
          val t0 = System.nanoTime()
          val toks = operators.LlmQueries8
            .packedSequencesProbe(big, b)
          f"b$b=${toks}tok/${(System.nanoTime() - t0) / 1e9}%.1f s"
        }
        println(s"SCALE mode=packing mult=$mult docs=$total ${times.mkString(" ")}")
      case "pagerank" =>
        // Edge growth with constant degree structure: each replica is a
        // disjoint copy of the trade graph (node-id prefix bijection), so
        // iteration joins grow linearly in edges and the rank table grows
        // linearly in nodes — no component ever spans replicas.
        val raw = Tables
          .lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(
            Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey")
          )
          .groupBy(
            concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst")
          )
          .agg(count(lit(1)).as("w"))
        val sym = raw.unionByName(
          raw.select(col("dst").as("src"), col("src").as("dst"), col("w"))
        )
        val big = (0 until mult)
          .map { i =>
            if (i == 0) sym
            else
              sym.select(
                concat(lit(s"x$i."), col("src")).as("src"),
                concat(lit(s"x$i."), col("dst")).as("dst"),
                col("w")
              )
          }
          .reduce(_ union _)
        val edges = big.count()
        val t0 = System.nanoTime()
        val n = operators.GraphQueries.pagerank(big).count()
        println(f"SCALE mode=pagerank mult=$mult edges=$edges nodes=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "trihub" =>
        // Hub skew for triangle counting: the verified near-dup edge set
        // of the base corpus plus a STAR of mult×2000 distinct leaves on
        // one hub — the boilerplate-page shape. Degree-ordered
        // orientation points every star edge leaf→hub (the hub is the
        // max-degree endpoint), so each leaf's out-neighborhood is {hub}
        // and the star contributes ZERO wedges: time must stay flat in
        // the star size. An unoriented wedge join would blow up as
        // (mult×2000)² here.
        val baseEdges = operators.LlmQueries8
          .verifiedNeardupEdges(LlmQueries.corpus(spark, sfDir), 0.5)
          .persist()
        val nBase = baseEdges.count()
        val star = spark
          .range(mult * 2000L)
          .select(lit(888888888L).as("doc_a"), (col("id") + 900000000L).as("doc_b"))
        val t0 = System.nanoTime()
        val tri = operators.TriangleQueries
          .triangleCounts(baseEdges.unionByName(star))
          .agg(sum(col("n_tri")).as("s"))
          .collect()(0)
          .getLong(0)
        println(
          f"SCALE mode=trihub mult=$mult baseEdges=$nBase star=${mult * 2000} triCorners=$tri time=${(System.nanoTime() - t0) / 1e9}%.1f s"
        )
      case "allpairs" =>
        // Exact-join growth with constant clone-family sizes: replicas
        // are vocabulary-disjoint (id shift is a multiple of 4, so the
        // 1-in-4 sample keeps whole families), pair volume grows
        // linearly in replicas, and the prefix-filter candidate join
        // must track it — a filterless n² join would grow as mult².
        val docs = docsReplicated.filter(col("doc_id") % 4 === 1)
        val total = docs.count()
        val t0 = System.nanoTime()
        val n = operators.AllPairsJoin.allPairs(docs).count()
        println(
          f"SCALE mode=allpairs mult=$mult docs=$total pairs=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s"
        )
      case "transskew" =>
        // Hot-user skew for the transition matrix: the events corpus
        // replicated mult× with 90% of all events reassigned to ONE bot
        // user (timestamps keep their spread, so the bot's history
        // covers the full day range). The r9 per-user lag window would
        // sort the bot's whole history on one task — the day-salted
        // segment window + boundary stitch must keep per-task work at
        // one user-day and total time linear in mult.
        val base = operators.JoinQueries
          .evts(spark, sfDir)
          .select("event_id", "user_id", "us", "event_type")
        val big = (0 until mult)
          .map { i =>
            if (i == 0) base
            else
              base.select(
                (col("event_id") + i * 1000000000L).as("event_id"),
                col("user_id"),
                (col("us") + i).as("us"),
                col("event_type")
              )
          }
          .reduce(_ union _)
          .withColumn(
            "user_id",
            when(col("event_id") % 10 < 9, lit(999999999L)).otherwise(col("user_id"))
          )
        val total = big.count()
        val t0 = System.nanoTime()
        val steps = operators.TransitionQueries
          .transitionsOf(big)
          .agg(sum("n"))
          .collect()(0)
          .getLong(0)
        val t1 = System.nanoTime()
        // The de-skewed as-of join shares the day-salt shape; `big`
        // carries ts only implicitly, so rebuild it for asofOf's
        // (event_id, ts, user_id, event_type, us) contract.
        val asofIn = big.withColumn("ts", timestamp_micros(col("us")))
        val matched = operators.JoinQueries
          .asofOf(asofIn)
          .agg(count(col("click_event_id")))
          .collect()(0)
          .getLong(0)
        val t2 = System.nanoTime()
        // The de-skewed sessionize shares the shape; feed it through a
        // temp view dir-free by writing nothing — call the registered
        // query body on a parquet round-trip of the skewed frame.
        val dir = java.nio.file.Files.createTempDirectory("transskew").toString
        asofIn
          .withColumn("value", lit(1.0))
          .select("event_id", "ts", "user_id", "event_type", "value")
          .write
          .mode("overwrite")
          .parquet(s"$dir/events.parquet")
        val sessions = SparkEntry
          .queries("events_sessionize")(spark, dir)
          .count()
        println(
          f"SCALE mode=transskew mult=$mult events=$total steps=$steps trans_t=${(t1 - t0) / 1e9}%.1f s " +
            f"asof_matched=$matched asof_t=${(System.nanoTime() - t1) / 1e9}%.1f s " +
            f"sessions=$sessions sess_t=${(System.nanoTime() - t2) / 1e9}%.1f s"
        )
      case "media" =>
        // MB-scale payload probe for the chunked BMP/WAV decoders: 8
        // BMPs of (128·mult)² pixels (~48·mult² KB payload each) and 8
        // WAVs of 500k·mult samples (~1 MB·mult each). The r9 fold
        // allocated one long PER pixel/sample plus a 2× hex copy of the
        // whole payload (O(payload) transient per row — a 12-MP photo
        // would have needed ~300 MB inside one expression evaluation);
        // the r10 two-level fold is O(w+h) / O(chunk), so time must
        // grow linearly with the payload while SCALE-MEM stays flat.
        // Payloads are materialized (persist + count) BEFORE timing so
        // the probe measures decode, not synthesis.
        val ids = spark.range(1, 9).select((col("id") + 100L).as("media_id"))
        val dim = lit(128L * mult)
        val bmp = ids
          .select(
            col("media_id"),
            unhex(operators.Multimodal.bmpFullHex(col("media_id"), dim, dim)).as("payload")
          )
          .persist()
        val wav = ids
          .select(
            col("media_id"),
            unhex(operators.Multimodal.wavFullHex(col("media_id"), lit(500000L * mult))).as("payload")
          )
          .persist()
        val bmpBytes = bmp.agg(sum(length(col("payload")))).collect()(0).getLong(0)
        val wavBytes = wav.agg(sum(length(col("payload")))).collect()(0).getLong(0)
        val t0 = System.nanoTime()
        val px = operators.Multimodal
          .bmpPixelStats(bmp)
          .agg(sum("n_pixels"))
          .collect()(0)
          .getLong(0)
        val t1 = System.nanoTime()
        val sm = operators.Multimodal
          .wavSampleStats(wav)
          .agg(sum("n_samples"))
          .collect()(0)
          .getLong(0)
        println(
          f"SCALE mode=media mult=$mult bmp_mb=${bmpBytes / 1048576.0}%.1f pixels=$px bmp_t=${(t1 - t0) / 1e9}%.1f s " +
            f"wav_mb=${wavBytes / 1048576.0}%.1f samples=$sm wav_t=${(System.nanoTime() - t1) / 1e9}%.1f s"
        )
        bmp.unpersist(false)
        wav.unpersist(false)
      case "png" =>
        // MB-scale probe for the DEFLATE codec tier: 8 PNGs of
        // (256·mult)² RGB pixels, real Deflater streams with filter
        // types cycling y%5. The decoder claims O(scanline) transient
        // memory (three row buffers + an 8 KiB inflate buffer reused
        // per partition), so decode time must grow linearly in pixels
        // while SCALE-MEM stays flat. Synthesis (also per-partition
        // JVM work) is timed separately so encode cost never pollutes
        // the decode measurement.
        import spark.implicits._
        val t0 = System.nanoTime()
        val png = spark
          .range(1, 9)
          .select((col("id") + 100L).as("media_id"))
          .as[Long]
          .mapPartitions(_.map { id =>
            operators.DeflateMedia.MediaRow(
              id,
              operators.DeflateMedia.encodePng(id, 256 * mult, 256 * mult)
            )
          })
          .persist()
        val pngBytes = png.agg(sum(length(col("payload")))).collect()(0).getLong(0)
        val t1 = System.nanoTime()
        val decoded = operators.DeflateMedia
          .pngPixelStats(png)
          .agg(sum("n_pixels"), sum("filter_mask"))
          .collect()(0)
        println(
          f"SCALE mode=png mult=$mult png_mb=${pngBytes / 1048576.0}%.1f " +
            f"encode_t=${(t1 - t0) / 1e9}%.1f s pixels=${decoded.getLong(0)} " +
            f"masksum=${decoded.getLong(1)} decode_t=${(System.nanoTime() - t1) / 1e9}%.1f s"
        )
        png.unpersist(false)
      case "gif" =>
        // LZW-decode probe: 8 GIFs of (256·mult)² pixels. The decoder
        // claims O(dictionary) = 4096 entries of transient state
        // regardless of image size (pixels stream through the palette
        // into sums, never stored) — time linear, SCALE-MEM flat.
        import spark.implicits._
        val t0 = System.nanoTime()
        val gif = spark
          .range(1, 9)
          .select((col("id") + 100L).as("media_id"))
          .as[Long]
          .mapPartitions(_.map { id =>
            operators.DeflateMedia.MediaRow(
              id,
              operators.GifCodec.encodeGif(id, 256 * mult, 256 * mult)
            )
          })
          .persist()
        val gifBytes = gif.agg(sum(length(col("payload")))).collect()(0).getLong(0)
        val t1 = System.nanoTime()
        val px = operators.GifCodec
          .gifPixelStats(gif)
          .agg(sum("n_pixels"))
          .collect()(0)
          .getLong(0)
        println(
          f"SCALE mode=gif mult=$mult gif_mb=${gifBytes / 1048576.0}%.1f " +
            f"encode_t=${(t1 - t0) / 1e9}%.1f s pixels=$px decode_t=${(System.nanoTime() - t1) / 1e9}%.1f s"
        )
        gif.unpersist(false)
      case "backoff" =>
        // Stupid-Backoff n-gram probe: the documents corpus replicated
        // mult× (ids remapped so the 90/10 train/eval split holds).
        // The n-gram tables are vocab-bounded count aggregates and the
        // scoring side five vocab-keyed equi-joins — time must grow
        // linearly in mult with flat task memory (the tables themselves
        // grow sub-linearly: replicated text adds counts, not keys).
        import spark.implicits._
        val base = Tables.documents(spark, sfDir).select("doc_id", "text")
        val big = (0 until mult)
          .map { i =>
            if (i == 0) base
            else base.select((col("doc_id") + i * 10000000L).as("doc_id"), col("text"))
          }
          .reduce(_ union _)
        val t0 = System.nanoTime()
        val r = operators.StupidBackoff
          .scoresOf(big)
          .agg(sum("n_trigrams"), sum("n_bi_back"), sum("n_uni_back"))
          .collect()(0)
        println(
          f"SCALE mode=backoff mult=$mult docs=${base.count() * mult} positions=${r.getLong(0)} " +
            f"bi_back=${r.getLong(1)} uni_back=${r.getLong(2)} time=${(System.nanoTime() - t0) / 1e9}%.1f s"
        )
      case "jpeg" =>
        // Huffman+IDCT probe: 8 JPEGs of (256·mult)² pixels (multiples
        // of 8 always). The decoder claims O(1) transient state — three
        // 64-int MCU buffers, no raster — so decode time must grow
        // linearly in pixels while SCALE-MEM stays flat. The direct
        // IDCT is O(64·nonzero) per block, constant per pixel for the
        // fixture's coefficient density.
        import spark.implicits._
        val t0 = System.nanoTime()
        val jpg = spark
          .range(1, 9)
          .select((col("id") + 100L).as("media_id"))
          .as[Long]
          .mapPartitions(_.map { id =>
            operators.DeflateMedia.MediaRow(
              id,
              operators.JpegCodec.encodeJpeg(id, 256 * mult, 256 * mult)
            )
          })
          .persist()
        val jpgBytes = jpg.agg(sum(length(col("payload")))).collect()(0).getLong(0)
        val t1 = System.nanoTime()
        val px = operators.JpegCodec
          .jpegPixelStats(jpg)
          .agg(sum("n_pixels"))
          .collect()(0)
          .getLong(0)
        println(
          f"SCALE mode=jpeg mult=$mult jpeg_mb=${jpgBytes / 1048576.0}%.1f " +
            f"encode_t=${(t1 - t0) / 1e9}%.1f s pixels=$px decode_t=${(System.nanoTime() - t1) / 1e9}%.1f s"
        )
        jpg.unpersist(false)
      case "priority" =>
        // One-group skew for priority sampling: every replicated doc in
        // a single group, k=100. The bit-length histogram cut must keep
        // the exact-rank window's input at O(k) whatever the group size
        // — the per-group total order this operator exists to avoid
        // would sort the whole corpus on one task here.
        val docs = docsReplicated
          .select(
            col("doc_id"),
            lit("onelang").as("lang"),
            (length(col("text")) % 9999 + 1).cast("long").as("w")
          )
        val total = docs.count()
        val t0 = System.nanoTime()
        val n = operators.PrioritySampling
          .prioritySample(docs, "lang", "doc_id", "w", 100)
          .count()
        println(
          f"SCALE mode=priority mult=$mult docs=$total selected=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s"
        )
      case _ =>
        val base = DedupQueries.records(spark, sfDir)
        // Replicas must be disjoint in ALL dedup keys (title + isbn), not
        // just ids — otherwise blocks merge across replicas and candidate
        // pairs grow quadratically in `mult`, measuring block growth
        // rather than corpus growth. Prefixing the title perturbs its
        // title_key; clearing the isbn on replicas keeps isbn blocks
        // constant-size.
        val big = (0 until mult)
          .map { i =>
            if (i == 0) base
            else
              base
                .withColumn("id", concat(lit(s"x$i."), col("id")))
                .withColumn("title", concat(lit(s"x$i"), col("title")))
                .withColumn("isbn", lit(""))
          }
          .reduce(_ union _)
        val total = big.count()
        val t0 = System.nanoTime()
        val n = Dedup.dedupRecords(big).filter(col("dedup_id").isNotNull).count()
        println(f"SCALE mode=dedup mult=$mult records=$total clustered=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // Listener events are delivered async; a short drain keeps the
    // telemetry line complete without touching private bus APIs.
    Thread.sleep(500)
    println(
      f"SCALE-MEM mode=$mode mult=$mult spill_mem_mb=${spillMem.get / 1048576}%d spill_disk_mb=${spillDisk.get / 1048576}%d peak_task_exec_mb=${peakTaskMem.get / 1048576}%d"
    )
    spark.stop()
  }
}
