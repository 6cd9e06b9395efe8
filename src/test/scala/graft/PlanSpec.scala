package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions over the registered queries at sf0.001: filters
  * reach the parquet scan, small dimensions broadcast, and no operator
  * degenerates into a cartesian product. These guard the 100 TB properties
  * that row-count correctness cannot see.
  */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("registry names are unique") {
    // A duplicate name silently SHADOWS the earlier query in the
    // `queries` map — Verify then certifies only the survivor while the
    // shadowed operator's coverage vanishes without any red signal
    // (caught live in round 7 when a second solr_field_rules landed).
    val names = SparkEntry.registry.map(_.name)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate registry names: ${dupes.mkString(", ")}")
  }

  /** What the registry-wide tests check, per query, from ONE build of its
    * plan: building a query runs its eager checkpoints, so each test
    * building all of them again would triple that cost.
    */
  private case class Shape(name: String, cartesian: Boolean, nestedLoop: Boolean, exprNodes: Int)

  private lazy val shapes: Seq[Shape] = SparkEntry.registry.map { q =>
    try {
      val qe = q.fn(spark, sf).queryExecution
      val exec = qe.executedPlan.toString
      val nodes = qe.optimizedPlan.map(p => p.expressions.map(e => e.collect { case x => x }.size).sum).sum
      Shape(q.name, exec.contains("CartesianProduct"), exec.contains("BroadcastNestedLoopJoin"), nodes)
    } finally Lineage.releaseHeld()
  }

  test("no registered query plans a cartesian product") {
    shapes.foreach { q =>
      assert(
        !q.cartesian,
        s"${q.name} plans a cartesian product"
      )
    }
  }

  test("brute-force knn is the only nested-loop join (by design)") {
    val offenders = shapes.filter(_.nestedLoop)
    // knn_cosine IS the documented brute-force baseline; the two recall
    // evals compute brute-force ground truth over the deliberately small
    // eval query sample (the corpus side of their approximate paths stays
    // a bucketed equi-join).
    assert(
      offenders
        .map(_.name)
        .toSet
        .subsetOf(
          Set(
            "knn_cosine",
            "ann_recall_residual",
            "ann_recall_eval",
            "ann_recall_multiprobe",
            "ann_recall_dims",
            "ann_recall_hybrid",
            "ann_recall_ivfpq",
            "ann_recall_ivfpq_trained",
            "ann_recall_rerank",
            "ann_recall_nprobe"
          )
        ),
      offenders.map(_.name).mkString(",")
    )
  }

  test("no registered query serializes a multi-MiB expression tree") {
    // Column combinators that re-reference their operands (when-chains
    // like stripTrailingPunctuation / createSortTitle) inline a
    // non-trivial input tree multiplicatively; marc_subjects_880 once
    // shipped a 42 MiB task binary this way. Staged selects / bindOnce
    // keep trees linear; this guards the discipline. The proxy is the
    // optimized plan's total expression-node count — large enough to
    // allow the ~300-node strip chains over cheap attributes, small
    // enough to catch a big tree multiplied through one.
    // No per-query exceptions: the round-7 stage-binding of the strip
    // combinators (stripTrailingPunctuation / stripLeadingArticle /
    // stripPunctuation / createSortTitle now bind each internal stage)
    // took the largest plan — marc_tosolr_assembly, the full toSolrArray
    // surface — from ~78k nodes to ~30k, so the global cap holds
    // everywhere.
    val limit = 60000
    shapes.foreach { q =>
      assert(q.exprNodes <= limit, s"${q.name} optimized plan has ${q.exprNodes} expression nodes (> $limit)")
    }
  }

  test("filter pushdown reaches the parquet scan") {
    val df = Tables
      .lineitem(spark, sf)
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"), plan)
  }

  test("column pruning reaches the parquet scan") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("q3_join broadcasts the customer dimension") {
    val plan = planOf("q3_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("whole-stage codegen covers the normalization queries") {
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage.
    val plan = planOf("norm_key")
    assert(plan.contains("*(1)"), plan)
  }

  test("no constant-group window sorts the corpus (ppl buckets / packing / balanced sampling)") {
    // The round-7 verdict's one structural scale risk: a window whose
    // partition key takes a SMALL CONSTANT number of values (lang alone,
    // a hard-coded bucket count, 8 IVF cells) total-orders the dominant
    // group on one task at 100×. The rewrites keep windows only in two
    // safe forms: (a) partitioned by ≥ 2 expressions (tie cells, salted
    // subgroups, writer buckets), or (b) single-key but computed OVER AN
    // AGGREGATED bounded frame (score histograms, salt censuses) — never
    // single-key directly over the corpus. This guards the shape.
    // collect() on the AQE wrapper sees only the wrapper (a leaf); the
    // guard must unwrap to the initial physical plan or every assertion
    // below is vacuously skipped (round-8 review finding — empirically
    // the wrapped docs_ppl_buckets plan reports 0 WindowExec while the
    // inner plan has 5).
    def innerPlanOf(name: String): org.apache.spark.sql.execution.SparkPlan =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    def idGrouped(a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec): Boolean =
      a.groupingExpressions.exists(_.collectFirst {
        case att: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if Set("doc_id", "vec_id", "id")(att.name) =>
          att
      }.nonEmpty)
    val guarded =
      Seq(
        "docs_ppl_buckets",
        "embed_sample_balanced",
        "docs_pack_sequences",
        "docs_canonical",
        "docs_topk_quality",
        "docs_bm25_search",
        // r12: the duplicated-gram census must stay a map-side-combinable
        // aggregate + AQE-splittable join — the r11 count-over-window on
        // the gram put a boilerplate mega-gram's whole partition on one
        // non-splittable WindowExec task. Its doc_id islands windows are
        // single-key but sit above the g-census aggregate (anchors are
        // checkpointed, so the only aggregate below them IS the census);
        // a regression to the window-on-g shape has NO aggregate below
        // and fails the nearestAgg assertion.
        "docs_duplicate_spans_strided"
      )
    guarded.foreach { name =>
      val plan = innerPlanOf(name)
      val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      windows.foreach { w =>
        // Rank-family windows (row_number etc.) order EVERY row of their
        // partition — they must never partition on a single constant-ish
        // key (the old per-lang / per-cell / per-cluster rank shapes).
        val hasRank = w.windowExpression.exists(_.collectFirst {
          case _: org.apache.spark.sql.catalyst.expressions.RowNumber => ()
          case _: org.apache.spark.sql.catalyst.expressions.Rank      => ()
          case _: org.apache.spark.sql.catalyst.expressions.DenseRank => ()
        }.nonEmpty)
        assert(
          !hasRank || w.partitionSpec.size >= 2,
          s"$name has a single-key RANK window: ${w.partitionSpec}"
        )
        // Single-key running-aggregate windows are allowed only over a
        // bounded AGGREGATED frame — and the nearest aggregate below
        // must not be per-document (a groupBy carrying doc_id/vec_id/id
        // is corpus-sized even though it is an Aggregate node, which is
        // exactly the old docs_ppl_buckets shape).
        if (w.partitionSpec.size < 2) {
          val nearestAgg = w.child.collectFirst {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
          }
          assert(
            nearestAgg.exists(!idGrouped(_)),
            s"$name has a single-key window over a corpus-sized frame: ${w.partitionSpec}"
          )
        }
      }
      // The guard must actually be LOOKING at windows where they exist.
      if (name != "docs_canonical")
        assert(windows.nonEmpty, s"$name: expected windows in the unwrapped plan, found none")
    }
    // docs_canonical needs no window at all: argmax via groupBy + join.
    assert(
      innerPlanOf("docs_canonical").collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty,
      "docs_canonical should be window-free"
    )
  }

  test("round-8 additions keep their scale shapes (map-only / bounded windows)") {
    def innerPlanOf(name: String): org.apache.spark.sql.execution.SparkPlan =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    // Winnowing and the JL projection are per-row array arithmetic: ONE
    // scan, zero shuffle, zero window — the whole point of their design.
    Seq("docs_winnowing", "embed_random_projection").foreach { name =>
      val plan = innerPlanOf(name)
      assert(
        plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty,
        s"$name should be shuffle-free (map-only)"
      )
      assert(
        plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        s"$name should be window-free"
      )
    }
    // The KS CDF windows and the Zipf top-k cut partition on one key,
    // which is legal ONLY over bounded aggregated frames (the dense
    // source×64 scaffold / the (group, score) histogram) — never with a
    // per-document grouping below (the retired ppl-buckets shape).
    Seq("docs_ks_drift", "corpus_zipf").foreach { name =>
      val plan = innerPlanOf(name)
      val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected bounded-frame windows, found none")
      windows.filter(_.partitionSpec.size < 2).foreach { w =>
        val nearestAgg = w.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        val idGrouped = nearestAgg.exists(_.groupingExpressions.exists(_.collectFirst {
          case att: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if Set("doc_id", "vec_id", "id")(att.name) =>
            att
        }.nonEmpty))
        assert(
          nearestAgg.nonEmpty && !idGrouped,
          s"$name has a single-key window over a corpus-sized frame: ${w.partitionSpec}"
        )
      }
    }
    // Triangle counting is pure equi-join + bounded aggregate: the
    // degree-ordered orientation exists precisely so NO window and NO
    // nested-loop join ever appears, whatever the degree distribution.
    locally {
      val plan = innerPlanOf("graph_triangles")
      assert(
        plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        "graph_triangles should be window-free"
      )
      assert(
        plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }.isEmpty,
        "graph_triangles should contain only equi-joins"
      )
    }
    // The exact all-pairs join sorts only per-document token ARRAYS and
    // the AMS sketch is pure bounded aggregation: neither may plan a
    // window (a corpus-rank prefix assignment would be the wrong shape)
    // or a non-equi join.
    Seq("docs_allpairs_join", "corpus_f2_ams").foreach { name =>
      val plan = innerPlanOf(name)
      assert(
        plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        s"$name should be window-free"
      )
      assert(
        plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }.isEmpty,
        s"$name should contain only equi-joins"
      )
    }
    // Priority sampling's windows are legal only because their inputs
    // are bounded: the bit-length histogram (≤62 rows/group) and the
    // broadcast-gated survivor frame. Every window must be partitioned
    // (no global sort) and the corpus side must reach them only through
    // a broadcast join or an aggregate.
    locally {
      val plan = innerPlanOf("docs_sample_priority")
      val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, "docs_sample_priority: expected bounded-frame windows")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty, "docs_sample_priority has a global (unpartitioned) window")
        val gated = w.child.collectFirst {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(gated.nonEmpty, "docs_sample_priority window reads an ungated corpus-sized frame")
      }
    }
  }

  test("round-9 additions keep their scale shapes") {
    def innerPlanOf(name: String): org.apache.spark.sql.execution.SparkPlan =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    // Map-only operators: ONE scan, zero shuffle, zero window. The
    // unigram Viterbi DP and the pixel/sample decoders are per-row
    // folds; readability and the UTF-8 audit are per-row regexp counts.
    Seq("docs_readability", "docs_utf8_audit", "multimodal_bmp_pixels", "multimodal_wav_samples")
      .foreach { name =>
        val plan = innerPlanOf(name)
        assert(
          plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty,
          s"$name should be shuffle-free (map-only)"
        )
        assert(
          plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
          s"$name should be window-free"
        )
      }
    // Viterbi segmentation: the DP is an in-row fold — joins and
    // aggregates yes, windows never (a per-word rank would be the wrong
    // shape), and only equi-joins.
    Seq(
      "docs_unigram_viterbi",
      "docs_unigram_train",
      "dedup_fs_em",
      "graph_kcore",
      "graph_transitivity"
    ).foreach {
      name =>
        val plan = innerPlanOf(name)
        assert(
          plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
          s"$name should be window-free"
        )
        assert(
          plan.collect {
            case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
            case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
          }.isEmpty,
          s"$name should contain only equi-joins"
        )
    }
    // The rerank window may partition ONLY on the query id and ONLY
    // over the TopK-cut shortlist (bounded by construction): its child
    // must reach an aggregate or broadcast gate, never a raw scan.
    locally {
      val plan = innerPlanOf("docs_rerank")
      val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, "docs_rerank: expected the bounded shortlist window")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty, "docs_rerank has a global (unpartitioned) window")
        val gated = w.child.collectFirst {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(gated.nonEmpty, "docs_rerank window reads an ungated corpus-sized frame")
      }
    }
    // The Gini window is global BY DESIGN but runs over the bounded
    // count-of-counts histogram: the window child must contain an
    // aggregate whose grouping is the count value, not a per-user or
    // per-document key.
    locally {
      val plan = innerPlanOf("events_user_gini")
      val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, "events_user_gini: expected the histogram window")
      windows.foreach { w =>
        val nearestAgg = w.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        val idGrouped = nearestAgg.exists(_.groupingExpressions.exists(_.collectFirst {
          case att: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if Set("user_id", "event_id")(att.name) =>
            att
        }.nonEmpty))
        assert(
          nearestAgg.nonEmpty && !idGrouped,
          s"events_user_gini window must read the bounded histogram, got ${w.partitionSpec}"
        )
      }
    }
  }

  test("round-10 additions keep their scale shapes") {
    def innerPlanOf(name: String): org.apache.spark.sql.execution.SparkPlan =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    // PQ training, modularity, the EM trainer and held-out perplexity
    // are joins + bounded aggregates: window-free, equi-joins only
    // (broadcast codebooks/labels — never a nested loop).
    Seq("embed_pq_train", "graph_modularity", "docs_ppl_holdout").foreach { name =>
      val plan = innerPlanOf(name)
      assert(
        plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        s"$name should be window-free"
      )
      assert(
        plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }.isEmpty,
        s"$name should contain only equi-joins"
      )
    }
    // De-skewed sessionize: every event-sized window (ordered by more
    // than the day key) must carry the (user, day) salt.
    locally {
      val plan = innerPlanOf("events_sessionize")
      val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, "events_sessionize: expected the day-salted windows")
      windows.foreach { w =>
        if (w.orderSpec.size > 1)
          assert(
            w.partitionSpec.size >= 2,
            s"events_sessionize event-sized window missing the day salt: $w"
          )
      }
    }
    // Codec-tier decoders and the structural audits are map-only: one
    // scan, zero shuffle, zero window (the codec work is mapPartitions;
    // the µ-law/gzip/PNG/GIF payload never leaves its partition).
    Seq(
      "multimodal_png_pixels",
      "multimodal_gif_pixels",
      "multimodal_mulaw_samples",
      "multimodal_adpcm_samples",
      "docs_gzip_ingest",
      "docs_zstd_ingest",
      "docs_lz4_ingest",
      "docs_snappy_ingest"
    ).foreach { name =>
      val plan = innerPlanOf(name)
      assert(
        plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty,
        s"$name should be shuffle-free (map-only codec tier)"
      )
      assert(
        plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        s"$name should be window-free"
      )
    }
    // The second-session analytics rows are bounded aggregates + equi-
    // joins: window-free, no nested loops (the stationary chain, the
    // planner, the audits, the divergence, the ACF lag join included).
    Seq(
      "graph_assortativity",
      "events_acf",
      "docs_js_divergence",
      "docs_ess_weights",
      "events_k_anonymity",
      "events_bot_score",
      "embed_variance_profile",
      "dedup_lsh_plan",
      "docs_wordpiece_encode",
      "docs_tokenizer_compare"
    ).foreach { name =>
      val plan = innerPlanOf(name)
      assert(
        plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        s"$name should be window-free"
      )
      assert(
        plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }.isEmpty,
        s"$name should contain only equi-joins"
      )
    }
    // Attribution and the stationary chain ride the de-skewed step
    // extraction: every event-sized window (ordered by more than the
    // day key) must carry the (user, day) salt, exactly like
    // sessionize; the day-summary stitch windows (ordered by the day
    // alone, ≤ days-per-user rows) are the accepted bounded shape.
    Seq("events_attribution", "stream_attribution_replay", "events_stationary").foreach { name =>
      val plan = innerPlanOf(name)
      val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected the day-salted carry windows")
      windows.foreach { w =>
        if (w.orderSpec.size > 1)
          assert(
            w.partitionSpec.size >= 2,
            s"$name event-sized window missing the day salt: $w"
          )
      }
    }
  }
}
