package graft.operators

import graft.SparkSpec
import graft.SparkEntry

/** Physical-plan audits: the properties that make these plans survive a
  * 100× scale-up, pinned as assertions so a refactor can't silently lose
  * them (SURVEY.md §4 — the optimizations Catalyst must deliver).
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01: shipdate predicate reaches the parquet scan") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"))
    // partial+final hash aggregation, not a naive single-phase agg
    assert(p.contains("HashAggregate"))
  }

  test("q02: fixed-size dims join as broadcast, facts shuffle") {
    val p = planOf("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    // nation/region broadcast; the lineitem⋈orders fact join must NOT
    // be a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q03: top-k plans as TakeOrderedAndProject, no global sort") {
    val p = planOf("q03_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q07: semi-join stays a join (no row explosion)") {
    val p = planOf("q07_semi_join")
    assert(p.contains("LeftSemi"))
  }

  test("q30: unpivot reads only the projected columns") {
    val p = planOf("q30_eav_unpivot")
    // c_acctbal/c_name/... are needed; verify column pruning kept ReadSchema
    // narrow (no full-row scan marker of other tables' columns)
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_address")) // never existed — guard is schema-driven:
    assert(p.contains("c_custkey"))
  }

  test("q40: dedup shuffles hashes, not text") {
    val p = planOf("q40_dedup_exact")
    // the exchange key is the 64-bit hash; text must not appear above scan
    assert(p.contains("xxhash64"))
  }

  test("q64: benchmark gram set broadcasts against the streaming corpus scan") {
    val p = planOf("q64_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the bench join")
  }

  test("q65: packing plans no global window; result arrives materialized") {
    val p = planOf("q65_pack_sequences")
    assert(!p.contains("Window"), "global-order window would single-partition the corpus")
    // the prefix-sum result is checkpointed (corpus-sized sort cache
    // released eagerly) — downstream reads a materialized scan
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"))
  }

  test("q71: BM25 final top-k is a TakeOrderedAndProject over one token pass") {
    val p = planOf("q71_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"))
    // the df table joins broadcast (≤|terms| rows), never shuffles the hits
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q76: heap top-k partial-aggregates map-side (ObjectHashAggregate)") {
    val p = planOf("q76_topk_agg")
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window")) // the whole point: no window sort
  }

  test("q79: bucketed range join plans equi, not nested-loop") {
    val p = planOf("q79_bucketed_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q83: custom as-of merge — each side shuffles once, filters pushed, no BNLJ") {
    val p = planOf("q83_asof_custom")
    assert(p.contains("AsOfJoin"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Window"))
    // event_type filters reach both parquet scans
    assert("PushedFilters: \\[[^\\]]*event_type".r.findAllIn(p).size >= 2, p.take(900))
  }

  test("q84: snapshot diff shuffles hashes, not text") {
    val p = planOf("q84_corpus_diff")
    assert(p.contains("xxhash64"))
    assert(p.contains("FullOuter"))
  }

  test("q85: heavy hitters plans as partial+final ObjectHashAggregate") {
    val p = planOf("q85_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("partial_heavy_hitters") || p.contains("heavy_hitters"))
  }

  test("q86/q87/q93: keyed window ops shuffle ONCE on the entity key") {
    for (q <- Seq("q86_scd2_history", "q87_cdc_apply", "q93_islands")) {
      val p = planOf(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx == 1, s"$q: expected 1 hash exchange, got $hashEx")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: window ops must not plan joins")
    }
  }

  test("q88: tolerance attribution goes through the custom as-of merge") {
    val p = planOf("q88_attribution")
    assert(p.contains("AsOfJoin"), p.take(500))
    assert(!p.contains("Window") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q89: hierarchy rounds are equi-joins over checkpointed frontiers") {
    val p = planOf("q89_hierarchy")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // localCheckpoint per round: levels arrive as materialized RDD scans,
    // not re-executed lineage
    assert(p.contains("Scan ExistingRDD"))
  }

  test("q91: profiler reads the table ONCE (Expand, single scan)") {
    val p = planOf("q91_profile")
    assert(p.contains("Expand"))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected 1 scan:\n${p.take(800)}")
  }

  test("q92: incremental merge is pure aggregation — no joins, no windows") {
    val p = planOf("q92_incremental_agg")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("q105: mixture allocation — one grouping exchange, broadcast total") {
    val p = planOf("q105_temperature_mix")
    assert(p.contains("HashAggregate"))
    // the normalization total joins as a 1-row broadcast, never a window
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("Window"))
  }

  test("q106/q107: global positions via prefix sum — no global-order window") {
    for (q <- Seq("q106_epoch_shuffle", "q107_curriculum")) {
      val p = planOf(q)
      assert(!p.contains("Window"),
        s"$q: a global-order window would single-partition the corpus")
      assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), q)
    }
  }

  test("q108: cross-corpus dedup shuffles band hashes, never text") {
    val p = planOf("q108_cross_corpus_dups")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation must stay a bucketed equi-join")
  }

  test("q109: grouped packing — per-bucket offsets without per-bucket windows") {
    val p = planOf("q109_length_buckets")
    assert(!p.contains("Window"),
      "a giant-group window would single-task each length bucket")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"))
  }

  test("q110: outlier stats broadcast back — no corpus re-shuffle for the flag") {
    val p = planOf("q110_embed_outliers")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q111: bigram joins stay equi-joins; explode pass shared via checkpoint") {
    val p = planOf("q111_bigram_nll")
    // no hint in the operator: Catalyst may broadcast the (tiny, test-scale)
    // count tables, but must never degrade to a nested loop; the bigram
    // explode materializes once (checkpoint) for all three consumers
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Scan ExistingRDD"))
  }

  test("q113: BPE pair top-20 is a TakeOrdered, not a global sort") {
    val p = planOf("q113_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q102: in-row pair expansion — set-agg exchange + pair-count exchange, no join") {
    val p = planOf("q102_copurchase")
    assert(!p.contains("Join"), "pairs must come from collect_set, not a self-join")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges (sets, pair counts), got $hashEx")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q118: first-occurrence choice is a hash aggregate, not a window sort") {
    val p = planOf("q118_intradoc_dedup")
    assert(!p.contains("Window"), "min(pos) must partial-aggregate, not row_number")
    assert(p.contains("HashAggregate"))
  }

  test("q119: quantization audit is a pure projection — zero exchanges") {
    val p = planOf("q119_int8_quant")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-vector audit must ride the scan without any shuffle")
  }

  test("q121: df band decided before postings; term text shuffles, never doc text") {
    val p = planOf("q121_inverted_index")
    assert(p.contains("LeftSemi"), "postings gated by the indexable-term semi join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q124: PageRank rounds probe the checkpointed adjacency INDEX " +
      "(V-row join + in-task explode), never re-join per-edge rows") {
    val p = planOf("q124_pagerank")
    assert(p.contains("Scan ExistingRDD"), "adjacency index must be materialized")
    assert(!p.contains("CartesianProduct"))
    // the index probe explodes matched ns[] lists in-task — every round
    // must show a Generate; an edge-table re-join form has none
    assert(p.contains("Generate explode"),
      "rounds must explode adjacency lists, not join an E-row edge table")
  }

  test("q133: the exact all-pairs Jaro-Winkler join is gated by a " +
      "vocab-size cap that names the blocked scale path") {
    spark.conf.set("graft.editdist.maxVocab", "10")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("q133_jaro_winkler")(spark, sfDir)
      }
      assert(e.getMessage.contains("graft.editdist.maxVocab") &&
        e.getMessage.contains("q97"), e.getMessage)
    } finally spark.conf.unset("graft.editdist.maxVocab")
    // default cap admits the fixture
    assert(SparkEntry.queries("q133_jaro_winkler")(spark, sfDir).count() > 0)
  }

  test("q126: histogram quantiles = bin agg + one keyed window, no join") {
    val p = planOf("q126_hist_quantiles")
    assert(!p.contains("Join"), "the scale-path percentile must not join")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges (bins, per-type window), got $hashEx")
  }

  test("q127: skew report ends in a TakeOrdered; stats ride a 1-row broadcast") {
    val p = planOf("q127_skew_report")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"), "1-row stats must broadcast, not cartesian")
  }

  test("q130: PMI top-k is a TakeOrdered; bigram pass materializes once") {
    val p = planOf("q130_pmi_pairs")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q143: presence dedupe is in-row; class sizes broadcast back") {
    val p = planOf("q143_chisq_terms")
    // the (class, term) count frame materializes once (checkpoint) — the
    // in-row array_distinct dedupe lives below it and is pinned in
    // StatsSpec; above it everything joins aggregate frames
    assert(p.contains("Scan ExistingRDD"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q144: z-test is one aggregation pass — no join, no window") {
    val p = planOf("q144_ab_ztest")
    assert(!p.contains("Join") && !p.contains("Window"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange (group counts), got $hashEx")
  }

  test("q145: time-weighted avg shares one keyed exchange (window + agg)") {
    val p = planOf("q145_time_weighted")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"window and aggregation are keyed identically — expected 1 exchange, got $hashEx")
  }

  test("q146: JSD joins only aggregate frames; category sum is integer") {
    val p = planOf("q146_js_drift")
    assert(p.contains("HashAggregate"))
    assert(p.contains("Scan ExistingRDD"), "count frame materializes once")
    assert(!p.contains("CartesianProduct"),
      "group×category expansion must ride broadcasts of aggregate frames")
  }

  test("q147/q148: audit reports are agg + keyed window — no join") {
    for (q <- Seq("q147_benford", "q148_behavior_entropy")) {
      val p = planOf(q)
      assert(!p.contains("Join"), q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx == 2, s"$q: expected 2 hash exchanges (counts, group window), got $hashEx")
    }
  }

  test("q149: Gini ranks are keyed windows; nation joins broadcast") {
    val p = planOf("q149_gini")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q150: label-noise probes broadcast; corpus streams once") {
    val p = planOf("q150_knn_label_noise")
    assert(!p.contains("CartesianProduct"),
      "probe×corpus scoring must stay a broadcast mapPartitions kernel")
    assert(p.contains("BroadcastHashJoin"), "probe labels join as broadcast")
  }

  test("q151/q154/q162: audit aggregations never join or window") {
    for (q <- Seq("q151_k_anonymity", "q154_welch_ttest")) {
      val p = planOf(q)
      assert(!p.contains("Join") && !p.contains("Window"), q)
    }
    val p162 = planOf("q162_fd_audit")
    assert(!p162.contains("Window"), "FD audit is pure aggregation")
    assert(!p162.contains("CartesianProduct"))
  }

  test("q153/q163: rank-picked medians/quantiles broadcast back to the data") {
    for (q <- Seq("q153_mad_outliers", "q163_winsorize")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), q)
      assert(!p.contains("SortMergeJoin"),
        s"$q: group-level bound frames must broadcast, not shuffle the data side")
    }
  }

  test("q157: ANOVA is two partial-aggregating passes, no join") {
    val p = planOf("q157_anova_dims")
    assert(!p.contains("Join"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges (class stats, unit), got $hashEx")
  }

  test("q160: reconciliation joins pre-aggregated line sums — no cartesian") {
    val p = planOf("q160_order_recon")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"))
  }

  test("q158: k-core rounds consume checkpointed edge frames") {
    val p = planOf("q158_kcore")
    assert(p.contains("Scan ExistingRDD"),
      "per-round checkpoint barrier must cut lineage (3^rounds re-derivation)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q166: Heaps buckets — bucket width broadcasts, no cartesian blowup") {
    val p = planOf("q166_heaps_curve")
    assert(!p.contains("CartesianProduct"))
  }

  test("q170/q171: AUC sorts per group; calibration is agg-only (no sort)") {
    val auc = planOf("q170_classifier_auc")
    assert(auc.contains("Window") && auc.contains("HashAggregate"))
    val cal = planOf("q171_calibration")
    assert(!cal.contains("Window"),
      "calibration must stay the no-sort scale path")
    assert(cal.contains("HashAggregate"))
  }

  test("q172: gap-fill reads the materialized series; grid bounds broadcast") {
    val p = planOf("q172_gap_fill")
    // the 1-row bounds frame must join broadcast, never cartesian-shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // the observed series materializes ONCE (checkpoint) and all three
    // consumers (bounds, key universe, grid join) read the scan — the
    // custkey pushdown now lives in the checkpoint job, not this plan
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("Scan parquet"),
      "re-aggregating the series per consumer means the checkpoint was lost")
  }

  test("q173: join-size estimate aggregates per-key counts — " +
      "count frames join, raw rows never do (except the actual-check)") {
    val p = planOf("q173_join_size_audit")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q175/q177: experiment readouts are one aggregation pass " +
      "plus broadcast 1-row frames") {
    for (q <- Seq("q175_cuped", "q177_diff_in_diff")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not shuffle-join aggregate frames")
    }
  }

  test("q178: item cosine expands pairs in-row (Generate) and " +
      "finishes with TakeOrdered, never a global sort") {
    val p = planOf("q178_item_cosine")
    assert(p.contains("Generate"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q183/q184: BFS state re-reads checkpoints; ACF joins the slim " +
      "day-grain series, never the fact table") {
    val pb = planOf("q183_bfs_hops")
    // per-round localCheckpoint: rounds consume materialized scans, not
    // a 2^rounds re-derivation of earlier frontiers
    assert(pb.contains("Scan ExistingRDD"))
    // round count pinned: the result is the union of the materialized
    // layer frames — one ExistingRDD scan per layer, so the scan count
    // is bounded by rounds+1 (fewer when the frontier empties early and
    // the driver short-circuits; never a re-derived layer)
    val layerScans = "Scan ExistingRDD".r.findAllIn(pb).length
    assert(layerScans >= 2 && layerScans <= 5, s"layer scans: $layerScans")
    // the adjacency index replaced per-round edge-table re-scans: the
    // final plan unions slim layer checkpoints only — no Generate
    // (explode) and no join may appear above them
    assert(!pb.contains("SortMergeJoin"))
    val pa = planOf("q184_revenue_acf")
    // the lag self-join happens ABOVE the day-grain aggregate: each join
    // side is a HashAggregate/checkpoint, so the orders scan feeds one
    // aggregation, not three self-joined scans
    assert(pa.contains("Scan ExistingRDD") || pa.contains("HashAggregate"))
    assert(!pa.contains("BroadcastNestedLoopJoin"))
  }

  test("q185/q186: MI margins and audience sizes broadcast; " +
      "no audience self-join wider than the cell/set frames") {
    val pm = planOf("q185_mutual_info")
    assert(pm.contains("BroadcastHashJoin"))
    val po = planOf("q186_audience_overlap")
    // intersections come from an in-row pair expansion (Generate), not a
    // per-user audience self-join
    assert(po.contains("Generate"))
    assert(!po.contains("SortMergeJoin"),
      "pair counts and sizes are slim — everything above the distinct " +
        "exchange should broadcast")
  }

  test("q189/q190: ranking eval fuses top-k control frames — the ideal " +
      "ranking is TakeOrdered (per-partition heaps), never a global sort " +
      "or single-partition window over the corpus") {
    val pf = planOf("q189_rrf_fusion")
    assert(pf.contains("TakeOrderedAndProject"),
      "both input rankings end in top-k operators")
    val pn = planOf("q190_ndcg_curve")
    assert(pn.contains("TakeOrderedAndProject"),
      "the ideal ranking must come from a top-k, not Sort+Window over rel")
  }

  test("q192: JL projection is Generate + broadcast sign matrix + " +
      "partial hash aggregation — no HOF lambda in the row-multiplying path") {
    val p = planOf("q192_jl_distortion")
    assert(p.contains("Generate"))
    assert(p.contains("BroadcastHashJoin"), "sign matrix must broadcast")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q193/q194: backtest and Markov scoring join slim aggregates — " +
      "the day-grain/model frames, never the raw event facts twice") {
    val pb = planOf("q193_forecast_backtest")
    // daily series is checkpointed once; the lag joins read the
    // materialized slim frame, not three scans of events
    assert(pb.contains("Scan ExistingRDD"))
    val pm = planOf("q194_markov_accuracy")
    assert(pm.contains("BroadcastHashJoin"),
      "the |types|^2 model must broadcast against the transition stream")
  }

  test("q199: per-kind top-20 comes from TakeOrdered heaps, not a " +
      "kind-partitioned window sorting full node frames in one task") {
    val p = planOf("q199_hits")
    assert(p.contains("TakeOrderedAndProject"))
    // (HITS' per-round index-probe shape is invisible here — every round
    // state is checkpointed — so it is pinned by GraphSpec's plan test
    // on an uncheckpointed round instead.)
  }

  test("q201/q203/q204: bounded-axis statistics aggregate facts to the " +
      "axis BEFORE any quadratic/window work — no cartesian, the pair " +
      "join reads the checkpointed slim series") {
    for (q <- Seq("q201_theil_sen", "q203_kendall_tau", "q204_spearman")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      assert(p.contains("Scan ExistingRDD"),
        s"$q must read the materialized day/week-grain series")
    }
  }

  test("q202/q206: one-pass shapes — OLS sufficient statistics in a " +
      "single aggregation, readability a pure projection on the scan") {
    val po = planOf("q202_ols2")
    assert(!po.contains("CartesianProduct"))
    val pr = planOf("q206_readability")
    assert(!pr.contains("Exchange") || pr.contains("TakeOrdered") ||
      pr.contains("Sort"), "q206 needs no aggregation exchange")
    assert(!pr.contains("HashAggregate"), "q206 is a projection, not an agg")
  }

  test("q205/q136: survival estimators materialize the risk table — the " +
      "final plan reads ONLY checkpointed frames (the per-entity lifetimes " +
      "aggregation over events runs once, below the checkpoints)") {
    for (q <- Seq("q205_nelson_aalen", "q136_kaplan_meier")) {
      val p = planOf(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q: the fan-out must read materialized scans")
      assert(!p.contains("Scan parquet"),
        s"$q: a parquet scan above the checkpoints means the risk-table " +
          "DAG re-derives per consumer")
    }
  }

  test("q207: weighted quantiles materialize the (group, distinct-value) " +
      "axis — lineitem scans+aggregates once; prefix sum and totals both " +
      "read the checkpointed axis") {
    val p = planOf("q207_weighted_quantiles")
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("Scan parquet"),
      "q207: the base axis frame must be checkpointed before its dual " +
        "consumption (packed + totals)")
  }

  test("q214/q215/q220: round-4 bounded-axis statistics — no nested-loop " +
      "joins; pair/grid work runs above hash aggregates of the facts") {
    for (q <- Seq("q214_mann_kendall", "q215_cramers_v",
        "q220_transition_entropy")) {
      val p = planOf(q)
      assert(p.contains("HashAggregate"), s"$q: facts must pre-aggregate")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian products")
    }
  }

  test("q219/q221/q225/q226/q231: shared slim frames are materialized — " +
      "the fan-out reads checkpointed scans, never a second parquet pass") {
    for (q <- Seq("q219_silhouette", "q221_vocab_jaccard",
        "q225_lorenz_curve", "q226_ks_test", "q231_langid_confusion")) {
      val p = planOf(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q: expected materialized (localCheckpoint) scans")
      assert(!p.contains("Scan parquet"),
        s"$q: a parquet scan above the checkpoint means the shared " +
          "frame re-derives per consumer")
    }
  }

  test("q229/q233: ANN probe queries scan the corpus parquet exactly " +
      "once — the probe panel is pre-collected, not re-joined") {
    for (q <- Seq("q229_hard_negatives", "q233_intrinsic_dim")) {
      val p = planOf(q)
      val scans = "Scan parquet".r.findAllIn(p).length
      // q233 checkpoints the nn frame (dual consumption) → 0 scans in
      // the final plan; q229's single consumption reads the corpus once
      assert(scans <= 1, s"$q: expected ≤1 corpus scan, found $scans")
    }
  }

  test("q230: span planner is a single-scan projection + bounded Generate " +
      "(no shuffle below the output sort)") {
    val p = planOf("q230_span_corruption")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, found $scans")
    assert(p.contains("Generate"))
  }

  test("q236: suffix-array spans — one documents scan, one shard " +
      "exchange, spans emitted by the kernel (no gram explode/shuffle)") {
    val p = planOf("q236_suffix_spans")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, found $scans")
    // the per-shard SA kernel is a typed group-map over the shard key
    assert(p.contains("MapGroups") || p.contains("FlatMapGroups"), p.take(400))
    // position-grained work never crosses an exchange: no gram Generate
    assert(!p.contains("Generate"))
  }

  test("q234: ImageIO round-trip — encode and decode both live in " +
      "mapPartitions seams over one documents scan") {
    val p = planOf("q234_imageio_roundtrip")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, found $scans")
    assert("MapPartitions".r.findAllIn(p).length >= 2, p.take(400))
  }

  test("q242: SSSP rounds chain LAZILY over the checkpointed weighted " +
      "adjacency — all four relaxations in ONE plan, each a Generate, " +
      "no per-round barrier, no cartesian") {
    val p = planOf("q242_sssp_weighted")
    assert(p.contains("Scan ExistingRDD"), "adjacency index must be materialized")
    val gens = "Generate".r.findAllIn(p).length
    assert(gens >= 4,
      s"4 bounded rounds must chain into one lazy plan (found $gens Generate nodes" +
        " — a per-round checkpoint would hide them behind ExistingRDD scans)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q243: personalized PageRank keeps the q124 shape — index probe " +
      "explodes in-task, rounds chain lazily, no E-row edge re-join") {
    val p = planOf("q243_personalized_pagerank")
    assert(p.contains("Scan ExistingRDD"))
    val gens = "Generate explode".r.findAllIn(p).length
    assert(gens >= 4, s"expected ≥4 in-task adjacency explodes, found $gens")
    assert(!p.contains("CartesianProduct"))
  }

  test("q249: weighted PageRank folds out-weight sums into the index " +
      "build — rounds explode in-task with no per-round weight aggregation " +
      "or E-row re-join") {
    val p = planOf("q249_pagerank_weighted")
    assert(p.contains("Scan ExistingRDD"))
    val gens = "Generate explode".r.findAllIn(p).length
    assert(gens >= 4, s"expected ≥4 in-task adjacency explodes, found $gens")
    assert(!p.contains("CartesianProduct"))
  }

  test("q244: label propagation argmax is a struct-min AGGREGATE, not a " +
      "per-node window; symmetric rounds chain lazily into one plan") {
    // the distributed loop, forced on q244's own edge frame
    val p = graft.ops.GraphSpec.loopLabelPropagation(
      EntityQueries.q244Edges(spark, sfDir), 3, true).orderBy("node")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "the (count, label) argmax must not plan as a window sort")
    val gens = "Generate explode".r.findAllIn(p).length
    assert(gens >= 3, s"expected ≥3 in-task adjacency explodes, found $gens")
    assert(p.contains("Scan ExistingRDD"))
    // the registered query at test scale: no round left in its plan
    assert(!planOf("q244_label_propagation").contains("Generate explode"))
  }

  test("q245: perceptron confusion readout is one aggregate over the " +
      "checkpointed feature frame — no re-derivation from text, no joins") {
    val p = planOf("q245_perceptron_langfilter")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0,
      s"features must come from the checkpoint, found $scans parquet scans")
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("Join"), "scoring is a projection + aggregate, no joins")
  }

  test("flagship entry() runs and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
