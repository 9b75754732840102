package graft

/** The 100×-scale plan-shape contract, executable (r12 verdict #2):
  * the cartesian / nested-loop / single-partition / codegen flags of
  * the former PlanAudit dev tool were checks no spec ran, so a
  * regression (an accidental un-broadcast crossJoin, a global window
  * sneaking into a hot path) would only surface at the next bench. Here every gate's physical
  * plan is built at sf0.001 and checked against declared allowlists —
  * one entry, one reason. Direction of each check: flagged ⊆ allowlist
  * (a query LEAVING an allowlist is an improvement, never a failure).
  *
  * What the pre-execution plan string can and cannot show: eager gates
  * (streaming drains, ML fits, layout rewrites, memo families) return a
  * read of their materialized output, so this audits their final
  * fragment only — their internal shapes are pinned by their own specs
  * and the bench receipts. AQE-wrapped plans render WholeStageCodegen
  * spans only at execution, so the WSCG check HERE asserts the
  * shuffle-free single-stage plans that render `*(n)` pre-execution;
  * the executed-plan form of the same check — all 218 gates, post-AQE —
  * is ExecutedPlanContractSpec (r14, closing the r13 watch-item #1
  * blind spot). */
class PlanContractSpec extends SparkTestBase {

  /** CartesianProduct: allowed only inside Spark's own MLlib code. */
  private val cartesianOk: Map[String, String] = Map(
    "q_als_recommend" -> ("MLlib recommendForAllUsers: blockified factor-" +
      "matrix cross of bounded (userBlock x itemBlock) tiles inside " +
      "org.apache.spark.ml.recommendation — factor blocks, not data-scale rows"))

  /** BroadcastNestedLoopJoin: every entry is a crossJoin(broadcast(tiny))
    * — a 1-row scalar/threshold frame or a fixed bounded probe set — or a
    * similarity-inequality join that HAS no equi-key. The build side never
    * scales with the corpus. */
  private val bnljOk: Map[String, String] = Map(
    "q_profile_sketch"    -> "1-row exact-aggregate x 1-row broadcast sketch-aggregate (the r14 Expand/HLL split)",
    // ANN / similarity family: broadcast of the fixed probe/query set,
    // joined on a cosine/Hamming inequality (no equi-key exists); build
    // side bounded by the probe count (<= 100 rows)
    "q_ann_binary"        -> "broadcast probe set vs Hamming inequality",
    "q_ann_index_append"  -> "broadcast probe set vs IVF buckets",
    "q_ann_index_io"      -> "broadcast probe set vs reloaded IVF index",
    "q_ann_ivf"           -> "broadcast probe set vs IVF buckets",
    "q_ann_recall"        -> "broadcast probe set, recall join vs brute force",
    "q_ivf_pq_recall"     -> "broadcast probe set, PQ recall readout",
    "q_ivf_pq_recall_res" -> "broadcast probe set, residual-PQ recall readout",
    "q_cosine_topk"       -> "broadcast query rows vs corpus cosine (no equi-key)",
    "q_maxsim_ivf"        -> "broadcast multi-vector query set vs IVF buckets",
    // the centroid cross-join that ranks probe buckets: build side is
    // the ≤4096-row centroid frame (the r16 rescore twin's probes stage,
    // same shape as q_maxsim_ivf's)
    "q_maxsim_rescore"    -> "broadcast centroid set vs query probe ranking",
    "q_maxsim_rescore_adc" -> "broadcast centroid set vs query probe ranking (same ≤4096-row build side as the rescore twin)",
    "q_mrl_recall"        -> "broadcast probe set, truncated-dim recall readout",
    "q_hard_negatives"    -> "broadcast anchor rows vs near-miss band (inequality)",
    "q_simhash_recall"    -> "broadcast probe fingerprints vs band blocks",
    // 1-row scalar-threshold pattern: crossJoin(broadcast(1-row aggregate))
    "q_ab_test"           -> "1-row Welch moment frame",
    "q_ks_test"           -> "1-row KS statistic threshold",
    "q_psi"               -> "1-row bin-total frame",
    "q_chi_square"        -> "1-row grand-total frame",
    "q_bm25"              -> "1-row corpus length/avgdl constants",
    "q_unigram_logprob"   -> "1-row total-token count",
    "q_countmin"          -> "1-row stream total for the phi threshold",
    "q_heavy_hitters"     -> "1-row total for the phi = 1/k threshold",
    "q_heavy_hitters_sketch" -> "1-row total for the phi threshold",
    "q_stream_heavy_hitters" -> "1-row total in the exact recount",
    "q_vocab_growth"      -> "1-row corpus totals for the growth curve",
    "q_mix_temperature"   -> "1-row weight-sum normalizer",
    // r17: the gate returns the lazy PMI plan over the memoized count
    // tables (the pre-r17 eager localCheckpoint hid this node behind a
    // checkpoint scan); the build side is the 1-row N/M totals frame
    "q_collocations"      -> "1-row corpus-totals frame (N tokens × M bigrams)",
    "q_lang_sample"       -> "per-lang quota frame (#langs rows, broadcast)",
    "q_quality_prune"     -> "1-row score-quantile threshold",
    "q_quality_prune_sketch" -> "1-row sketch-quantile threshold",
    "q_merge_upsert"      -> "1-row snapshot watermark",
    "q_retention"         -> "1-row max-day anchor",
    "q_forget_audit"      -> "1-row deletion-manifest digest",
    "q_corpus_drift"      -> "1-row per-window totals for drift shares",
    "q_hybrid_rrf"        -> "broadcast top-k lists in the rank fusion",
    // streaming gates: 1-row settled-frontier probe after the drain
    "q_stream_join_outer" -> "1-row settled-watermark frontier (crossJoin broadcast)",
    "q_stream_sessionize" -> "1-row settled-watermark frontier (crossJoin broadcast)")

  /** Exchange SinglePartition: every entry reduces to <= a bounded row
    * count BEFORE the exchange (partial aggregation / top-k upstream),
    * or is one of the two documented bounded global-window gates. */
  private val singlePartitionOk: Map[String, String] = Map(
    "q_lead_global"       -> "documented W1 bounded day-level global window (~30 rows)",
    "q_seasonal_decompose" -> "day-level decomposition, global window over ~30 rows",
    "q_bm25"              -> "1-row corpus-constant aggregate",
    "q_chi_square"        -> "1-row grand total",
    // r17: the lazy PMI plan exposes the N/M totals aggregates (the
    // pre-r17 eager localCheckpoint hid them behind a checkpoint scan);
    // both reduce vocab-/vocab²-sized partials to 1 row
    "q_collocations"      -> "1-row corpus totals (N tokens, M bigrams)",
    "q_corpus_drift"      -> "window-total aggregates (2 rows)",
    "q_countmin"          -> "1-row stream total",
    "q_dq_checks"         -> "single-row per-check rollup",
    "q_forget_audit"      -> "2-row audit verdict",
    "q_heavy_hitters"     -> "1-row total",
    "q_heavy_hitters_sketch" -> "1-row total",
    "q_hybrid_rrf"        -> "fused top-k (<= 50 rows) final sort",
    "q_key_skew"          -> "2-row skew readout",
    "q_ks_test"           -> "1-row statistic",
    "q_lang_sample"       -> "per-lang quotas (#langs rows)",
    "q_merge_upsert"      -> "1-row watermark",
    "q_mix_temperature"   -> "1-row normalizer",
    "q_profile"           -> "per-column 1-row moment aggregates",
    "q_profile_sketch"    -> "per-column 1-row sketch merges",
    "q_psi"               -> "1-row bin totals",
    "q_quality_prune"     -> "1-row threshold",
    "q_quality_prune_sketch" -> "1-row threshold",
    "q_retention"         -> "1-row anchor",
    "q_simhash_recall"    -> "cumulative recall curve over <= 13 hamming rows",
    "q_stream_heavy_hitters" -> "1-row recount total",
    "q_stream_join_outer" -> "1-row settled-frontier global aggregate",
    "q_stream_sessionize" -> "1-row settled-frontier global aggregate",
    "q_train_order"       -> "<= 256-row bucket-offset running-sum window (the documented two-level permutation device)",
    "q_unigram_logprob"   -> "1-row total",
    "q_vocab_growth"      -> "cumulative curve over 10 checkpoint rows")

  /** Shuffle-free single-stage plans that render WholeStageCodegen
    * (`*(n)`) pre-execution: a codegen break (a non-codegen Expression
    * landing in a hot scan path) fails here at test time. AQE-wrapped
    * multi-stage plans render codegen only at execution and are
    * asserted by their own gates/bench instead. */
  private val wscgExpected: Set[String] = Set(
    // q_collocations left r17: the gate now returns the lazy PMI plan
    // over the memoized count tables — a multi-stage AQE plan whose
    // codegen renders at execution (ExecutedPlanContractSpec asserts it
    // post-AQE); the pre-r17 single-stage *(1) was just the scan of its
    // eager localCheckpoint.
    "q_aqe_skew", "q_array_hof", "q_bloom_join", "q_cast_date_unix",
    "q_chunk", "q_corpus_clean", "q_corpus_mix",
    "q_dedup_clusters", "q_dedup_clusters_ls", "q_embed_clusters",
    "q_embed_neardup", "q_filter_conj", "q_fingerprint", "q_freq_itemsets",
    "q_fuzzy_join", "q_isin", "q_lang_id", "q_media_features",
    // q_ml_classification left r14: its verdict re-gate returns a
    // bounded driver-result LocalTableScan (ExecutedPlanContractSpec
    // allowlists it with the other seeded-fit verdict frames)
    "q_media_phash_neardup", "q_media_resize",
    "q_normalize_redact", "q_orderby_topk", "q_quantize_int8",
    "q_scan_project", "q_simhash", "q_simhash_neardup", "q_stream_anomaly",
    "q_stream_dedup", "q_stream_dedup_agg", "q_stream_late",
    "q_stream_resample", "q_stream_sink", "q_stream_static_join",
    "q_stream_stream_join", "q_stream_upsert", "q_text_stats",
    "q_token_count", "q_when_otherwise", "q_zorder")

  test("no gate plan regresses to a scale-hostile shape (cartesian/BNLJ/single-partition/WSCG)") {
    val wscgRe = """\*\(\d+\)""".r
    val plans: Map[String, String] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> fn(spark, sf).queryExecution.executedPlan.toString
      }.toMap

    def flagged(node: String): Set[String] =
      plans.collect { case (n, p) if p.contains(node) => n }.toSet

    val extraCart = flagged("CartesianProduct") -- cartesianOk.keySet
    assert(extraCart.isEmpty,
      s"CartesianProduct outside the allowlist — an un-broadcast cross " +
        s"joined into a gate plan: ${extraCart.toSeq.sorted}")

    val extraBnlj = flagged("BroadcastNestedLoopJoin") -- bnljOk.keySet
    assert(extraBnlj.isEmpty,
      s"BroadcastNestedLoopJoin outside the allowlist — check the build " +
        s"side is a bounded broadcast: ${extraBnlj.toSeq.sorted}")

    val extraSingle = plans.collect {
      case (n, p) if p.contains("Exchange SinglePartition") => n
    }.toSet -- singlePartitionOk.keySet
    assert(extraSingle.isEmpty,
      s"SinglePartition exchange outside the allowlist — a global " +
        s"sort/window over unbounded rows: ${extraSingle.toSeq.sorted}")

    val missingWscg = wscgExpected.filter(n =>
      plans.get(n).exists(p => wscgRe.findFirstIn(p).isEmpty))
    assert(missingWscg.isEmpty,
      s"WholeStageCodegen vanished from single-stage plans that had it: " +
        s"${missingWscg.toSeq.sorted}")
  }
}
