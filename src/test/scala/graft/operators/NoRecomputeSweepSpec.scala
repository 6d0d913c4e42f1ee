package graft.operators

import graft.SparkSpec
import graft.SparkEntry

/** Registry-wide no-recompute audit, TWO tiers:
  *
  *  - The default bound is ONE parquet scan per table per query. 198 of
  *    the 233 registered queries already hold it; asserting it stops
  *    silent second-scan creep (a shared sub-aggregate quietly fanning
  *    out without materialization — the defect class that made q205/q207
  *    the two slowest round-3 queries).
  *  - A query may scan a table TWICE only with a written reason in
  *    [[twoScanAllow]] — legitimate two-pass/self-join shapes (set ops,
  *    as-of/interval/fuzzy self-joins, cuts-then-apply, state+delta).
  *  - Three or more scans need [[allow]], reserved for disjoint
  *    pushed-filter slices where merging passes would lose the pushdown.
  *
  * Scans that Spark itself deduplicates (ReusedExchange/ReuseSubquery)
  * still print one Location per node, so the count is conservative.
  * `PlanDump` (Test/runMain, no query names) reprints the current inventory.
  */
class NoRecomputeSweepSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** (query, table) pairs allowed to exceed 2 scans, with justification. */
  private val allow: Map[String, Set[String]] = Map(
    // Survivorship merges three measures read under DISJOINT pushed
    // event_type filters (full base agg + latest-click + latest-view):
    // each scan reads a different slice straight off the parquet scan —
    // merging them into one pass would lose the pushdown and read the
    // union of columns/rows for every measure.
    "q123_survivorship" -> Set("events"),
    // The ANN recall audits compare TWO independent retrieval pipelines
    // over the same corpus — the brute-force pass and the IVF/PQ pass —
    // then join on the pinned probe slice (third scan, filter-pushed to
    // 10 rows). The two full passes ARE the measurement; materializing
    // the corpus to merge them would perturb exactly what the audit
    // measures (the ANN pass's narrower read is the point of PQ).
    "q238_ivf_recall" -> Set("embeddings"),
    "q239_pq_recall" -> Set("embeddings"),
    // the persisted-index twins of q238/q239: the brute-force reference
    // pass and the pinned probe slice still read the corpus (the audit),
    // while the approximate pass reads the PARQUET INDEX instead — and
    // q278's exact rerank re-reads the semi-join-pruned candidate
    // vectors BY DESIGN (storing vectors in the index would defeat the
    // PQ compression; the narrow codes scan is the point).
    "q277_ivf_index_persist" -> Set("embeddings"),
    "q278_pq_index_persist" -> Set("embeddings"),
    // q196's corpus-sized basket frame is a LAZY DISK_ONLY persist (a
    // memory pin OOM'd the 100× collect_set; an eager checkpoint costs
    // a separate materialization job — 52.7 vs 27.5 s warm at 100×).
    // The counter sees the parquet location printed under every
    // InMemoryTableScan use site, but the runtime scan happens ONCE,
    // at cache materialization inside the first consumer's pass.
    "q196_assoc_rules" -> Set("lineitem")
  )

  /** (query, table) pairs allowed exactly TWO scans, each with the
    * two-pass/self-join shape that justifies it. A second scan of a
    * pruned parquet slice is routinely cheaper than materializing the
    * wider shared frame both branches would otherwise read. */
  private val twoScanAllow: Map[String, Set[String]] = Map(
    "q13_intersect" -> Set("orders"), // set op: two branches by definition
    "q14_except" -> Set("orders"), // set op: two branches by definition
    "q26_correlated_avg" -> Set("orders"), // decorrelation: facts + per-key avg
    "q35_dictionary_upsert" -> Set("part"), // current vs incoming slices
    "q42_ngram_jaccard" -> Set("documents"), // pair self-join, both sides
    "q54_repetition" -> Set("documents"), // per-doc signal + corpus gram stats
    "q63_tfidf_terms" -> Set("documents"), // tf and df branches prune differently
    // same rationale as q238/q239 (two independent retrieval pipelines ARE
    // the measurement) but one scan fewer: sq8TopK checkpoints its corpus
    // internally, so only the brute pass + the pushed probe slice read parquet
    "q256_sq8_recall" -> Set("embeddings"),
    "q64_decontaminate" -> Set("documents"), // corpus + benchmark-gram build
    // (q281 needs no entry: its benchmark slice collects at construction
    // time, so the returned plan scans embeddings exactly once)
    "q78_source_overlap" -> Set("documents"), // per-source set self-join
    "q83_asof_custom" -> Set("events"), // as-of self-join, two pushed slices
    "q84_corpus_diff" -> Set("documents"), // old/new halves, disjoint filters
    "q88_attribution" -> Set("events"), // conversions join touches
    "q92_incremental_agg" -> Set("lineitem"), // state + delta date slices
    "q95_retention" -> Set("events"), // cohort base + return visits
    "q99_interval_overlap" -> Set("orders"), // interval self-join
    "q105_temperature_mix" -> Set("documents"), // source weights applied back
    "q108_cross_corpus_dups" -> Set("documents"), // two corpus halves
    "q110_embed_outliers" -> Set("embeddings"), // stats pass + scoring pass
    "q112_salted_join" -> Set("events"), // skewed fact + salted replica
    "q116_accent_fold" -> Set("documents"), // raw vs folded views compared
    "q120_split_leakage" -> Set("documents"), // train vs heldout slices
    "q125_editdist_join" -> Set("part"), // fuzzy self-join over blocks
    "q127_skew_report" -> Set("orders"), // key histogram + fact shares
    "q128_incremental_dedup" -> Set("documents"), // signature store + batch
    "q131_linear_attribution" -> Set("events"), // conversions join touches
    // (q133's former two-scan entry is gone: its vocab now materializes
    // once at construction — guard count + both join sides read the
    // checkpoint, so the final plan holds zero parquet scans)
    // (q139's former two-scan entry is gone: the GramHashes kernel packs
    // per-doc hash arrays — 8 B/position, cheap to checkpoint — so the
    // text scans once and both consumers explode the packed frame)
    "q143_chisq_terms" -> Set("documents"), // per-term counts + class totals
    "q163_winsorize" -> Set("events"), // percentile cuts + clamp pass
    "q166_heaps_curve" -> Set("documents"), // prefix vocab: two token passes
    "q173_join_size_audit" -> Set("orders"), // estimate vs actual sides
    "q179_woe_iv" -> Set("documents"), // per-bin counts + class totals
    "q180_rfm_segments" -> Set("orders"), // quantile cuts + application
    "q192_jl_distortion" -> Set("embeddings"), // original vs projected spaces
    "q212_ngram_novelty" -> Set("documents"), // gram df build + scoring pass
    // vocab build + occurrence join-back: the corpus-sized word frame is
    // cheaper to re-derive (codegen explode) than to materialize (q200)
    "q241_bpe_segment" -> Set("documents"),
    // rotated suffix-array dedup: each rotation is an independent kernel
    // pass whose groupByKey moves the full text under a DIFFERENT shard
    // key — the only shareable frame is the corpus text itself, and
    // re-reading the 2-column pruned parquet slice per rotation is
    // strictly cheaper than materializing the corpus to block storage
    // (the same scan-vs-materialize call as q241's word frame)
    "q284_sa_rotated" -> Set("documents"))

  test("every registered query scans each parquet table at most once, " +
      "unless its two-pass shape is allowlisted with a reason") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        tables.flatMap { t =>
          val n = s"$t\\.parquet".r.findAllIn(plan).size
          val ok =
            if (n <= 1) true
            else if (n == 2) twoScanAllow.getOrElse(name, Set.empty).contains(t) ||
              allow.getOrElse(name, Set.empty).contains(t)
            else allow.getOrElse(name, Set.empty).contains(t)
          if (ok) None else Some(s"$name scans $t $n times")
        }
      }
    assert(offenders.isEmpty,
      "scan-count creep (materialize the shared frame, or allowlist " +
        "with a reason in the right tier):\n" + offenders.mkString("\n"))
  }

  test("the two-scan allowlist carries no stale entries — every listed " +
      "pair still scans exactly twice") {
    val stale = twoScanAllow.toSeq.sortBy(_._1).flatMap { case (name, ts) =>
      SparkEntry.queries.get(name) match {
        case None => Seq(s"$name is not a registered query")
        case Some(fn) =>
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          ts.flatMap { t =>
            val n = s"$t\\.parquet".r.findAllIn(plan).size
            if (n == 2) None
            else Some(s"$name now scans $t $n times — move or drop the entry")
          }
      }
    }
    assert(stale.isEmpty, "stale allowlist entries:\n" + stale.mkString("\n"))
  }
}
