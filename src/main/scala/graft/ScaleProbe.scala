package graft

import org.apache.spark.sql.{DataFrame, Dataset}
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
  * peak per-task execution memory, from [[Harness.stages]]) — the memory
  * axis of the probe. Checkpoints an operator held are released after
  * each timed count and at the end of every mode.
  * Usage: `runMain graft.ScaleProbe [mode] [mult]` (cores: [[Harness.cpus]]).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filterNot(_.forall(_.isDigit)).getOrElse("dedup")
    val mult = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val spark = Harness.session(Harness.cpus)
    val sfDir = "/root/testdata/sf0.1"
    // Memory axis of the scale probe: cumulative shuffle spill and the
    // per-task execution-memory peak across the whole run, so the N×
    // sweeps report whether memory pressure grows with the corpus (it
    // must NOT for the bounded-state operators) alongside wall time.
    val stages = Harness.stages(spark)

    /** `body`'s result and the wall seconds it took. */
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    /** The common probe: counts `input`, times the count of `op(input)`,
      * releases the checkpoints the operator held, and prints
      * `SCALE mode=… mult=… <inLabel>=<input rows><extra> <outLabel>=<output rows> time=… s`.
      */
    def timedCount(inLabel: String, input: DataFrame, outLabel: String, extra: String = "")(
        op: DataFrame => DataFrame
    ): Unit = {
      val total = input.count()
      val (n, t) = try timed(op(input).count()) finally Lineage.releaseHeld()
      println(f"SCALE mode=$mode mult=$mult $inLabel=$total$extra $outLabel=$n time=$t%.1f s")
    }

    /** `base` unioned with `replica(i)` for i in 1 until mult. */
    def replicate(base: DataFrame)(replica: Int => DataFrame): DataFrame =
      (1 until mult).map(replica).foldLeft(base)(_ union _)

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
      replicate(base)(i =>
        base.select(
          (col("doc_id") + i * 1000000L).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1zz$i").as("text")
        )
      )
    }

    /** Dedup records replicated with replicas disjoint in ALL dedup keys
      * (title + isbn), not just ids — otherwise blocks merge across
      * replicas and candidate pairs grow quadratically in `mult`,
      * measuring block growth rather than corpus growth. Prefixing the
      * title perturbs its title_key; clearing the isbn on replicas keeps
      * isbn blocks constant-size.
      */
    def recordsReplicated: DataFrame = {
      val base = DedupQueries.records(spark, sfDir)
      replicate(base)(i =>
        base
          .withColumn("id", concat(lit(s"x$i."), col("id")))
          .withColumn("title", concat(lit(s"x$i"), col("title")))
          .withColumn("isbn", lit(""))
      )
    }

    /** TRUE-duplicate skew: `base` plus mult×2000 verbatim copies of row
      * 7's `value` under distinct ids (900000000 + r). For documents all
      * copies land in the same 4 band buckets, exactly the
      * boilerplate-page shape of a web corpus: uncapped, the within-bucket
      * self-join is (mult×2000)² pairs; with the MaxBucketSize guard,
      * pair generation drops the mega-bucket (surfaced by the heavy-bucket
      * diagnostic) and clustering connects it via O(n) star edges. The
      * bijective-rename probes above measure growth of DISTINCT content;
      * this one measures bucket skew.
      */
    def withMegaCopies(base: DataFrame, id: String, value: String): DataFrame =
      base.union(
        base
          .filter(col(id) === 7)
          .select(explode(sequence(lit(0L), lit(mult * 2000L - 1))).as("r"), col(value))
          .select((col("r") + 900000000L).as(id), col(value))
      )
    def docsSkewed: DataFrame =
      withMegaCopies(Tables.documents(spark, sfDir).select("doc_id", "text"), "doc_id", "text")

    /** 90% of documents in ONE language ("xx"), the rest spread over 7. */
    val mostlyOneLang =
      when(col("doc_id") % 10 < 9, lit("xx"))
        .otherwise(concat(lit("l"), (col("doc_id") % 7).cast("string")))

    /** The codec probes' input: 8 images of (256·mult)² pixels made by
      * `encode(id, w, h)`, persisted, with their payload MiB and the
      * seconds synthesis took. Synthesis (per-partition JVM work) is timed
      * apart so encode cost never pollutes the decode measurement.
      */
    def encodedImages(
        encode: (Long, Int, Int) => Array[Byte]
    ): (Dataset[operators.DeflateMedia.MediaRow], Double, Double) = {
      import spark.implicits._
      val side = 256 * mult
      val ((imgs, bytes), t) = timed {
        val imgs = spark
          .range(1, 9)
          .select((col("id") + 100L).as("media_id"))
          .as[Long]
          .mapPartitions(_.map(id => operators.DeflateMedia.MediaRow(id, encode(id, side, side))))
          .persist()
        (imgs, imgs.agg(sum(length(col("payload")))).collect()(0).getLong(0))
      }
      (imgs, bytes / 1048576.0, t)
    }

    mode match {
      case "skewpairs" =>
        timedCount("docs", docsSkewed, "pairs")(LlmQueries.minhashPairsOf(_))
      case "skewcluster" =>
        timedCount("docs", docsSkewed, "merged")(d =>
          operators.LlmQueries8.neardupClusters(d, 0.8).filter(!col("is_canonical"))
        )
      case "minhash" =>
        timedCount("docs", docsReplicated, "pairs")(LlmQueries.minhashPairsOf(_))
      case "segdedup" =>
        timedCount("docs", docsReplicated, "common_docs")(d =>
          LlmQueries6.segmentStatsOf(d).filter(col("n_common") > 0)
        )
      case "cluster" =>
        timedCount("docs", docsReplicated, "merged")(d =>
          operators.LlmQueries8.neardupClusters(d, 0.8).filter(!col("is_canonical"))
        )
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
        timedCount("vectors", withMegaCopies(base, "vec_id", "vec"), "dropped")(d =>
          operators.LlmQueries5.semdedupOf(d).filter(!col("kept"))
        )
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
        timedCount("vectors", big, "cells_x_dims")(operators.KMeans.step(_, seeds))
      case "joins" =>
        // Temporal joins over an N×-replicated events table with DISJOINT
        // user spaces per replica: window partitions and (user, bucket)
        // join blocks keep their base size, so time must track the scan
        // (linear). A superlinear curve would mean the shuffle or sort is
        // global rather than per-key.
        val base = operators.JoinQueries
          .evts(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("us"))
        val big = replicate(base)(i => base.withColumn("user_id", col("user_id") + i * 1000000L))
        val total = big.count()
        val (nA, tA) = timed(operators.JoinQueries.asofOf(big).count())
        val (nI, tI) = timed(operators.JoinQueries.intervalOf(big).count())
        println(f"SCALE mode=joins mult=$mult events=$total asof=$nA ($tA%.1f s) interval=$nI ($tI%.1f s)")
      case "classifier" =>
        // Full K-iteration training + scoring over an N×-replicated
        // corpus (disjoint doc ids, same text/labels): gradients key on
        // 256 buckets regardless of corpus size, the feature frame is
        // map-only to score — time must track the scan, linearly.
        val base = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
        val big = replicate(base)(i => base.withColumn("doc_id", col("doc_id") + i * 10000000L))
        timedCount("docs", big, "high")(d => operators.Classifier.scoreOf(d).filter(col("p_mu") > 500000L))
      case "incr" =>
        // Incremental mode: a FIXED batch against an N×-growing clustered
        // corpus — the production shape (daily delta vs full history).
        // Time should grow only with the corpus-side key scan (linear),
        // never with batch×corpus.
        val batch = DedupQueries.records(spark, sfDir).limit(2000)
        val corpus = recordsReplicated.withColumn("dedup_id", col("id"))
        timedCount("corpus", corpus, "matched", " batch=2000")(c =>
          Dedup.dedupIncremental(batch, c).filter(col("dedup_id").isNotNull)
        )
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
        val fact = replicate(factBase)(_ => factBase)
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
          // collect (tiny post-agg result) through THIS Dataset's
          // queryExecution so the inspected plan is the FINAL adaptive
          // plan (a separate write re-plans from scratch and reports the
          // pre-execution skeleton without AQEShuffleRead nodes).
          val (_, t) = timed(joined.collect())
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
        val (merges, t) = timed(operators.Bpe.train(vocab, k))
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
          replicate(df)(i => df.withColumn("archive_key", concat(lit(s"r$i."), col("archive_key"))))
        val archives = rep(archives0)
        val components = rep(components0)
        val (n, t) = timed(operators.Ead3Splitter
          .splitArchive(
            archives,
            components,
            unitIdLabel = Some("main"),
            prependParentTitleWithUnitId = true
          )
          .count())
        println(f"SCALE mode=ead3 mult=$mult records=$n time=$t%.1f s")
      case "repetition" =>
        // Gopher repetition metrics over N× disjoint-vocabulary replicas:
        // all three explode→groupBy passes key on (doc_id, token), so
        // time must track the corpus linearly with flat memory.
        timedCount("docs", docsReplicated, "flagged")(d =>
          operators.RepetitionQueries.metricsOf(d).filter(!col("pass"))
        )
      case "textstats" =>
        // Round-8 text-statistics family over N× disjoint-vocabulary
        // replicas: winnowing is map-only (must be embarrassingly
        // linear), entropy keys one shuffle by (doc_id, word), and the
        // KN scorer adds the bounded bigram-model rollups — all three
        // must track the corpus linearly with flat memory.
        val big = docsReplicated.persist()
        val total = big.count()
        val (nw, tw) =
          timed(operators.WinnowingQueries.winnowOf(big).agg(sum(col("n_fp"))).collect()(0).getLong(0))
        val toks = big.select(col("doc_id"), explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
        val (ne, te) = timed(
          toks
            .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
            .groupBy("doc_id")
            .agg(sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
            .count()
        )
        val (nk, tk) = timed(operators.SmoothedLm.knScoreOf(big).count())
        println(
          f"SCALE mode=textstats mult=$mult docs=$total fp_total=$nw " +
            f"winnow=$tw%.1f s entropy_docs=$ne entropy=$te%.1f s " +
            f"kn_docs=$nk kn=$tk%.1f s"
        )
      case "bucketdedup" =>
        // The bucketed-layout A/B at replicated scale: first call pays
        // the one-time bucketed write of the exploded blocking-key
        // frame (the ingest-time shuffle a cluster amortizes), second
        // call is the pure read-side run every subsequent day pays.
        // Compare against mode=dedup at the same mult for the
        // unbucketed cost.
        val big = recordsReplicated
        val total = big.count()
        val table = s"graft_probe_dedup_m$mult"
        val path = s"/tmp/graft_probe_bucketed/m$mult"
        spark.sql(s"DROP TABLE IF EXISTS $table")
        def clustered(): Long =
          Dedup.dedupRecordsBucketed(big, table, path).filter(col("dedup_id").isNotNull).count()
        val (n1, tWrite) = timed(clustered())
        spark.catalog.clearCache()
        val (n2, tRead) = timed(clustered())
        assert(n1 == n2)
        println(
          f"SCALE mode=bucketdedup mult=$mult records=$total clustered=$n1 " +
            f"write_plus_read=$tWrite%.1f s read_only=$tRead%.1f s"
        )
      case "pplskew" =>
        // Language-skew probe for the round-8 docs_ppl_buckets rewrite:
        // mult× disjoint-vocabulary replicas with 90% of documents forced
        // into ONE language. Under the old per-language row_number the
        // dominant language's whole (doc_id, score) set sorts on one
        // task and time bends superlinear; with histogram-derived cuts
        // the only per-document passes are the bounded-broadcast join
        // and (lang, tie-cell) windows, so time must track the corpus.
        timedCount("docs", docsReplicated.withColumn("lang", mostlyOneLang), "buckets")(d =>
          operators.CurationQueries.pplBucketsOf(d).groupBy("bucket").count()
        )
      case "balskew" =>
        // Mega-cell probe for the round-8 embed_sample_balanced rewrite:
        // base embeddings plus mult×2000 copies of one vector — all in
        // ONE IVF cell (the semskew shape). The salted rank splits the
        // mega-cell into 256 md5-uniform subgroups, so time must stay
        // linear in mult instead of sorting the cell on one task.
        val base = Tables
          .embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        timedCount("vectors", withMegaCopies(base, "vec_id", "embedding"), "kept")(d =>
          operators.MixtureQueries2.balancedSampleOf(d).filter(col("kept"))
        )
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
        timedCount("docs", big, "canonical")(d => operators.LlmQueries7.canonicalOf(d).filter(col("canonical")))
      case "retrieval" =>
        // BM25 search over replicas with SHARED vocabulary (disjoint
        // doc_ids, same text): the query terms' posting lists grow
        // linearly with the corpus — the exact stress for the round-8
        // bounded top-k cut that replaced the per-query rank window.
        // Time must track the corpus; the top-k itself ranks only the
        // (≤10-row) kept cells plus one boundary tie cell per query.
        val base = Tables.documents(spark, sfDir).select("doc_id", "text")
        val big = replicate(base)(i => base.select((col("doc_id") + i * 1000000L).as("doc_id"), col("text")))
        timedCount("docs", big, "hits")(operators.Retrieval.bm25Of(_))
      case "topkskew" =>
        // Dominant-group probe for the histogram-cut top-k: 90% of
        // documents in ONE language. The naive per-group rank window
        // sorts that language on one task; the bounded-histogram cut
        // must stay linear (outside cells never rank; only cells
        // touching the top k do, and those are ≤ k rows or the one
        // boundary tie cell).
        val big = docsReplicated
          .withColumn("lang", mostlyOneLang)
          .withColumn("q4", (col("doc_id") % 100000).cast("long"))
        timedCount("docs", big, "kept")(d =>
          operators.TopK.topkPerGroup(d.select("doc_id", "lang", "q4"), "lang", "q4", "doc_id", 100)
        )
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
        timedCount("docs", big, "kept")(d =>
          operators.TopK.topkPerGroup(d.select("doc_id", "lang", "q4"), "lang", "q4", "doc_id", 100)
        )
      case "unigram" =>
        // Tokenizer-scale probe: replica word-renaming grows the DISTINCT
        // vocabulary linearly while document structure stays constant, so
        // piece mining, the vocab join, and the per-word DP must all
        // scale with vocabulary — the dimension that actually grows at
        // 100 TB (the DP itself is O(len·S) per word, corpus-independent).
        val corpus = docsReplicated
        val (words, tViterbi) = timed(operators.UnigramLm.viterbiOf(corpus).count())
        val (pieces, tVocab) = timed(operators.UnigramLm.vocabOf(corpus).count())
        println(
          f"SCALE mode=unigram mult=$mult words=$words pieces=$pieces " +
            f"viterbi=$tViterbi%.1f s vocab=$tVocab%.1f s"
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
        val ((anchors, spans, nSpans), tSec) = timed {
          val anchors = operators.CurationQueries.anchorsOf(corpus).count()
          val spans = operators.CurationQueries.stridedSpansOf(corpus).persist()
          (anchors, spans, spans.count())
        }
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
        val media = base.unionByName(dups).persist()
        val (nImgs, tGen) = timed(media.count())
        val ((hashes, nh), tHash) = timed {
          val hashes = operators.ImageFeatures.dhashOf(media).persist()
          (hashes, hashes.count())
        }
        val ((np, planted), tPairs) = timed {
          val pairs = operators.ImageFeatures.nearDupOf(hashes).persist()
          (pairs.count(), pairs.filter(col("media_b") - col("media_a") === 10000000L).count())
        }
        println(
          f"SCALE mode=imgfeat mult=$mult imgs=$nh/$nImgs bytes_per_img=${256 * 192 * 3} " +
            f"gen=$tGen%.1f s hash=$tHash%.1f s pairs=$np planted=$planted " +
            f"neardup=$tPairs%.1f s"
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
        val (nClips, tGen) = timed(video.count())
        val ((shots, nShots), tDecode) = timed {
          val shots = operators.VideoShots.shotTable(video).toDF().persist()
          (shots, shots.count())
        }
        val ((nvp, planted), tPairs) = timed {
          val vp = operators.VideoShots.nearDupOf(shots).persist()
          (vp.count(), vp.filter(col("media_b") - col("media_a") === 10000000L).count())
        }
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
        val ((nap, aPlanted), tAudio) = timed {
          val lm = operators.AudioFingerprint
            .landmarkTable(operators.AudioFingerprint.windowTable(audio))
          val ap = operators.AudioFingerprint.nearDupOf(lm).persist()
          (ap.count(), ap.filter(col("media_b") - col("media_a") === 10000000L && col("dt") === 1).count())
        }
        println(
          f"SCALE mode=avfeat mult=$mult clips=$nClips shots=$nShots " +
            f"vdecode=$tDecode%.1f s vpairs=$nvp planted=$planted vneardup=$tPairs%.1f s " +
            f"gen=$tGen%.1f s audio=$nAudio apairs=$nap aplanted=$aPlanted afingerprint=$tAudio%.1f s"
        )

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
        val ((spans, nSpans), tSec) = timed {
          val spans = operators.CurationQueries.stridedSpansOf(corpus).persist()
          (spans, spans.count())
        }
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
          val (toks, t) = timed(operators.LlmQueries8.packedSequencesProbe(big, b))
          f"b$b=${toks}tok/$t%.1f s"
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
        val big = replicate(sym)(i =>
          sym.select(
            concat(lit(s"x$i."), col("src")).as("src"),
            concat(lit(s"x$i."), col("dst")).as("dst"),
            col("w")
          )
        )
        timedCount("edges", big, "nodes")(operators.GraphQueries.pagerank(_))
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
        val (tri, t) = timed(
          operators.TriangleQueries
            .triangleCounts(baseEdges.unionByName(star))
            .agg(sum(col("n_tri")).as("s"))
            .collect()(0)
            .getLong(0)
        )
        println(f"SCALE mode=trihub mult=$mult baseEdges=$nBase star=${mult * 2000} triCorners=$tri time=$t%.1f s")
      case "allpairs" =>
        // Exact-join growth with constant clone-family sizes: replicas
        // are vocabulary-disjoint (id shift is a multiple of 4, so the
        // 1-in-4 sample keeps whole families), pair volume grows
        // linearly in replicas, and the prefix-filter candidate join
        // must track it — a filterless n² join would grow as mult².
        timedCount("docs", docsReplicated.filter(col("doc_id") % 4 === 1), "pairs")(operators.AllPairsJoin.allPairs(_))
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
        val replicas = replicate(base)(i =>
          base.select(
            (col("event_id") + i * 1000000000L).as("event_id"),
            col("user_id"),
            (col("us") + i).as("us"),
            col("event_type")
          )
        )
        val big = replicas.withColumn(
          "user_id",
          when(col("event_id") % 10 < 9, lit(999999999L)).otherwise(col("user_id"))
        )
        val total = big.count()
        val (steps, tTrans) =
          timed(operators.TransitionQueries.transitionsOf(big).agg(sum("n")).collect()(0).getLong(0))
        // The de-skewed as-of join shares the day-salt shape; `big`
        // carries ts only implicitly, so rebuild it for asofOf's
        // (event_id, ts, user_id, event_type, us) contract.
        val asofIn = big.withColumn("ts", timestamp_micros(col("us")))
        val (matched, tAsof) =
          timed(operators.JoinQueries.asofOf(asofIn).agg(count(col("click_event_id"))).collect()(0).getLong(0))
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
        val (sessions, tSess) = timed(SparkEntry.queries("events_sessionize")(spark, dir).count())
        println(
          f"SCALE mode=transskew mult=$mult events=$total steps=$steps trans_t=$tTrans%.1f s " +
            f"asof_matched=$matched asof_t=$tAsof%.1f s " +
            f"sessions=$sessions sess_t=$tSess%.1f s"
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
        val (px, tBmp) =
          timed(operators.Multimodal.bmpPixelStats(bmp).agg(sum("n_pixels")).collect()(0).getLong(0))
        val (sm, tWav) =
          timed(operators.Multimodal.wavSampleStats(wav).agg(sum("n_samples")).collect()(0).getLong(0))
        println(
          f"SCALE mode=media mult=$mult bmp_mb=${bmpBytes / 1048576.0}%.1f pixels=$px bmp_t=$tBmp%.1f s " +
            f"wav_mb=${wavBytes / 1048576.0}%.1f samples=$sm wav_t=$tWav%.1f s"
        )
      case "png" =>
        // MB-scale probe for the DEFLATE codec tier: 8 PNGs of
        // (256·mult)² RGB pixels, real Deflater streams with filter
        // types cycling y%5. The decoder claims O(scanline) transient
        // memory (three row buffers + an 8 KiB inflate buffer reused
        // per partition), so decode time must grow linearly in pixels
        // while SCALE-MEM stays flat. Synthesis (also per-partition
        // JVM work) is timed separately so encode cost never pollutes
        // the decode measurement.
        val (png, mb, tEncode) = encodedImages(operators.DeflateMedia.encodePng(_, _, _))
        val (decoded, tDecode) = timed(
          operators.DeflateMedia.pngPixelStats(png).agg(sum("n_pixels"), sum("filter_mask")).collect()(0)
        )
        println(
          f"SCALE mode=png mult=$mult png_mb=$mb%.1f " +
            f"encode_t=$tEncode%.1f s pixels=${decoded.getLong(0)} " +
            f"masksum=${decoded.getLong(1)} decode_t=$tDecode%.1f s"
        )
      case "gif" =>
        // LZW-decode probe: 8 GIFs of (256·mult)² pixels. The decoder
        // claims O(dictionary) = 4096 entries of transient state
        // regardless of image size (pixels stream through the palette
        // into sums, never stored) — time linear, SCALE-MEM flat.
        val (gif, mb, tEncode) = encodedImages(operators.GifCodec.encodeGif)
        val (px, tDecode) =
          timed(operators.GifCodec.gifPixelStats(gif).agg(sum("n_pixels")).collect()(0).getLong(0))
        println(
          f"SCALE mode=gif mult=$mult gif_mb=$mb%.1f " +
            f"encode_t=$tEncode%.1f s pixels=$px decode_t=$tDecode%.1f s"
        )
      case "backoff" =>
        // Stupid-Backoff n-gram probe: the documents corpus replicated
        // mult× (ids remapped so the 90/10 train/eval split holds).
        // The n-gram tables are vocab-bounded count aggregates and the
        // scoring side five vocab-keyed equi-joins — time must grow
        // linearly in mult with flat task memory (the tables themselves
        // grow sub-linearly: replicated text adds counts, not keys).
        val base = Tables.documents(spark, sfDir).select("doc_id", "text")
        val big = replicate(base)(i => base.select((col("doc_id") + i * 10000000L).as("doc_id"), col("text")))
        val (r, t) = timed(
          operators.StupidBackoff
            .scoresOf(big)
            .agg(sum("n_trigrams"), sum("n_bi_back"), sum("n_uni_back"))
            .collect()(0)
        )
        println(
          f"SCALE mode=backoff mult=$mult docs=${base.count() * mult} positions=${r.getLong(0)} " +
            f"bi_back=${r.getLong(1)} uni_back=${r.getLong(2)} time=$t%.1f s"
        )
      case "jpeg" =>
        // Huffman+IDCT probe: 8 JPEGs of (256·mult)² pixels (multiples
        // of 8 always). The decoder claims O(1) transient state — three
        // 64-int MCU buffers, no raster — so decode time must grow
        // linearly in pixels while SCALE-MEM stays flat. The direct
        // IDCT is O(64·nonzero) per block, constant per pixel for the
        // fixture's coefficient density.
        val (jpg, mb, tEncode) = encodedImages(operators.JpegCodec.encodeJpeg(_, _, _))
        val (px, tDecode) =
          timed(operators.JpegCodec.jpegPixelStats(jpg).agg(sum("n_pixels")).collect()(0).getLong(0))
        println(
          f"SCALE mode=jpeg mult=$mult jpeg_mb=$mb%.1f " +
            f"encode_t=$tEncode%.1f s pixels=$px decode_t=$tDecode%.1f s"
        )
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
        timedCount("docs", docs, "selected")(d =>
          operators.PrioritySampling.prioritySample(d, "lang", "doc_id", "w", 100)
        )
      case _ =>
        timedCount("records", recordsReplicated, "clustered")(d =>
          Dedup.dedupRecords(d).filter(col("dedup_id").isNotNull)
        )
    }
    spark.catalog.clearCache()
    Lineage.releaseHeld()
    val all = stages.all
    println(
      f"SCALE-MEM mode=$mode mult=$mult spill_mem_mb=${all.map(_.spillB).sum / 1048576}%d " +
        f"spill_disk_mb=${all.map(_.diskSpillB).sum / 1048576}%d " +
        f"peak_task_exec_mb=${all.map(_.peakExecB).foldLeft(0L)(math.max) / 1048576}%d"
    )
    spark.stop()
  }
}
