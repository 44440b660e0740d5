"""Registry-level contracts: lazy construction and driver-window order.

The external driver (a) smoke-constructs every ``queries()`` entry and
(b) value-hash-verifies only the FIRST 50 registry entries against the
DuckDB oracles (CORRECTNESS_r*.json has exactly 50 rows each round).
Two things must therefore never regress silently:

1. constructing a query DAG must not launch Spark jobs — construction
   happens on the driver's critical path for all 135 entries, and an
   eager collect hidden in a builder turns the registry into a
   serialized job queue (round-4 verdict #5);
2. the q01–q50 window must keep covering the SURVEY §2 operator surface
   — a re-ordering could move an operator out of driver verification
   without any test noticing (round-4 verdict #8).
"""

from __future__ import annotations

from sparkdiff.oracles import ORACLES
from sparkdiff.queries import QUERIES

from .conftest import SF_DIR_SMALL

#: Queries whose CONSTRUCTION is deliberately eager, each with a reason
#: the eagerness is intrinsic (not a lazy-convention leak):
#: - q52/q53: adaptive two-phase refinement — a bounded (≤ n_buckets)
#:   dirty-bucket collect decides what the second phase scans; skipping
#:   the full-table pass IS the operator (operators/diff.py:419).
#: - q65/q68/q90/q113: iterative convergence loops (connected
#:   components' large-star/small-star, PageRank) — each round is an
#:   eagerly-checkpointed job and the stop condition is a driver-side
#:   fixpoint test (operators/cluster.py, operators/graph.py).
#: - q134: the Aho-Corasick automaton is compiled from a bounded
#:   pattern-suite collect and broadcast once (operators/contamination).
#: - q136: the k ∝ n semdedup default derives k from one corpus count
#:   (operators/similarity.semdedup's scale-safe auto-k path).
#: - q138: BPE training is inherently sequential — round r's merge rule
#:   is the 1-row argmax of round r-1's rewritten vocabulary, collected
#:   and applied as a literal (operators/bpe.py:bpe_merges; rounds-sized
#:   bounded collect, one job per round).
EAGER_BY_DESIGN = {
    "q52_refined_diff",
    "q53_refined_metrics",
    "q65_dedup_clusters",
    "q68_curated_corpus",
    "q90_pagerank",
    "q113_dup_families",
    "q134_exact_contamination",
    "q136_semdedup_auto",
    "q138_bpe_vocab",
    # q145: rescan=1 fixpoint — one bounded 1-row action at
    # construction decides whether pass 2 is scheduled (and pins the
    # pass-1 persist the second detection pass reads)
    "q145_selfdedup_fixpoint",
    # q146: tokenizer fit->apply — training collects 1 row x 8 rounds
    # at construction (q138's documented convention); the collected
    # rules become the literal replace chain the apply side runs
    "q146_bpe_compression",
    # q148: batched BPE — one bounded want*4-row collect per job at
    # construction (the batch argmax; q138's documented convention)
    "q148_bpe_batched",
    # q149: family labels come from the connected-components fixpoint
    # (same eager loop as q65/q113)
    "q149_leakage_safe_split",
    # q156: keep-best dedup shares q149's family labeler (same eager
    # CC fixpoint)
    "q156_keep_best_dedup",
    # q165: the runtime-filter gate collects the configuration-sized
    # (1024-word) Bloom table at construction so the probe is a pure
    # scan-side expression (the decontamination automaton's convention)
    "q165_bloom_semijoin",
    # q181: pointer-doubling closure — ceil(log2 depth) bounded rounds
    # at construction, each one isEmpty/count on the node-sized ancestor
    # map (the q65/q90 iterative-fixpoint convention); all per-round
    # persists are dropped before the closure is returned
    "q181_hierarchy_closure",
}

#: The driver-verified window, verbatim (CORRECTNESS checks the first 50
#: registry entries in insertion order).  Any edit here is a conscious
#: decision to move an operator in or out of driver verification.
DRIVER_WINDOW = [
    "q01_pricing_summary", "q02_presence_diff", "q03_cell_diff",
    "q04_metrics_summary", "q05_rownum_dedup", "q06_union_dedup_workload",
    "q07_expr_join", "q08_argmax", "q09_conditional_agg", "q10_histogram",
    "q11_argmax_histogram", "q12_topk_per_group", "q13_minmax_rollup",
    "q14_distinct_agg", "q15_keyword_score", "q16_jaccard_pairs",
    "q17_token_stats", "q18_quality_score", "q19_exact_dedup",
    "q20_fingerprint_dedup", "q21_relevance_blend", "q22_snippet_window",
    "q23_lang_id", "q24_cosine_topk", "q25_minhash_neardup",
    "q26_ngram_jaccard_dups", "q27_simhash", "q28_time_buckets",
    "q29_sessionize", "q30_keepmax_dedup", "q31_json_props",
    "q32_date_arithmetic", "q33_macro_workload", "q34_script_pair_diff",
    "q35_entity_extraction", "q36_word_boundary_classify",
    "q37_source_insights", "q38_metrics_discovery", "q39_function_surface",
    "q40_change_detection", "q41_rollup", "q42_set_ops", "q43_window_suite",
    "q44_asof_join", "q45_pivot", "q46_lineitem_diff",
    "q47_shipping_priority", "q48_local_supplier_volume", "q49_chunking",
    "q50_quantiles",
]


def test_driver_window_order_pinned():
    assert list(QUERIES)[:50] == DRIVER_WINDOW


def test_every_query_has_oracle_or_is_documented():
    # 135/135 have full value-hash oracles as of round 4; keep it that way
    missing = sorted(set(QUERIES) - set(ORACLES))
    assert missing == [], f"queries without oracle SQL: {missing}"


def test_registry_construction_is_lazy(spark):
    """Constructing every registry DAG launches ZERO Spark jobs, except
    the documented EAGER_BY_DESIGN set — and that set must not grow."""
    from sparkdiff.session import TESTDATA_TABLES, load_table

    for t in TESTDATA_TABLES:  # warm the one-time schema cache
        load_table(spark, SF_DIR_SMALL, t)
    tracker = spark.sparkContext.statusTracker()
    eager = set()
    for name, fn in QUERIES.items():
        before = set(tracker.getJobIdsForGroup())
        fn(spark, SF_DIR_SMALL)
        if set(tracker.getJobIdsForGroup()) - before:
            eager.add(name)
    assert eager == EAGER_BY_DESIGN, (
        f"unexpectedly eager: {sorted(eager - EAGER_BY_DESIGN)}; "
        f"newly lazy (remove from EAGER_BY_DESIGN): "
        f"{sorted(EAGER_BY_DESIGN - eager)}"
    )


#: Queries that deliberately leave persisted intermediates behind after
#: materialization, each with the reason the persist outlives the job
#: (round-6 verdict #4: the convention must be auditable, not folklore).
#: The shared justification: the persisted frame feeds MULTIPLE consumers
#: inside the RETURNED lazy DAG (or an eager loop's survivors), so the
#: query function cannot unpersist before handing the DAG back — the
#: release path is the session owner's (`spark.catalog.clearCache()`,
#: which bench.py runs between queries and this test runs per entry).
#: Everything else must leave the session cache EMPTY — the bench GC
#: masks leaks locally, but a long-lived session accumulating storage
#: with no release path is a memory hazard at scale.
PERSISTS_BY_DESIGN: dict[str, str] = {
    "q25_minhash_neardup": "signature table feeds band keys AND verify join",
    "q26_ngram_jaccard_dups": "shingle table feeds bucket join AND verify",
    "q46_lineitem_diff": "canonical pair base feeds presence AND cell diff",
    "q50_quantiles": "quantiles._range_prefix_sum persists the "
    "distinct-value table (the range-boundary sampler AND the range "
    "shuffle execute it) and its one _pid bucket assignment",
    "q51_embedding_neardup": "SRP band-key table feeds both self-join "
    "sides (one ArrowEvalPython pass instead of two)",
    "q63_rare_tokens": "exploded token table feeds the frequency "
    "aggregate AND the join-back side",
    "q64_distinctive_terms": "per-doc tf table feeds the document-"
    "frequency aggregate AND the join-back side",
    "q65_dedup_clusters": "CC loop survivors (eager fixpoint checkpoints)",
    "q76_bm25_rank": "tf/dl projection feeds corpus stats AND scoring "
    "(retrieval.bm25_rank)",
    "q79_posting_lists": "distinct bigram rows feed the df aggregate "
    "AND the semi-join side (posting_lists)",
    "q80_boilerplate": "bigram rows feed the top-50 aggregate AND the "
    "membership-join side",
    "q82_cross_source_overlap": "distinct (source, passage-hash) table "
    "feeds spread AND both pair-join sides",
    "q68_curated_corpus": "one tokenized projection feeds the whole funnel",
    "q72_incremental_neardup": "batch signatures feed gate AND admit append",
    "q74_winnow_fingerprints": "winnow window table feeds pairs AND counts",
    "q85_dsir_weights": "exploded token table feeds the vocabulary "
    "aggregate AND the join-back side (the q63 shape)",
    "q88_semdedup": "cell assignments feed centroid AND refine passes",
    "q90_pagerank": "rank iterate persists the live frontier per round",
    "q93_rrf_fusion": "one (id, dl, tf0..tf2) projection feeds BM25 "
    "stats, BM25 scoring AND the lexical leg",
    "q95_lm_score": "bigram rows feed both count aggregates AND the "
    "join-back side",
    "q102_triangle_count": "degree-ordered edge list is joined to itself 3x",
    "q103_mad_outliers": "tiny per-type median/MAD tables persisted — "
    "`dev` embeds the median chain and feeds the MAD pass AND final join",
    "q105_rfm_segments": "quantiles._range_prefix_sum persists the "
    "distinct-value table and its _pid assignment (q50 machinery)",
    "q109_equidepth_histogram": "one distinct-(value, count) table feeds "
    "the quantile rail (count_col) AND the binning pass; "
    "quantiles._range_prefix_sum's persists ride along (q50 machinery)",
    "q104_skyline": "scored (id, x, y) projection feeds bucket maxima, "
    "candidate filter and both dominance sides (one quality_score pass)",
    "q107_profile_drift": "profile base feeds both drift sides",
    "q113_dup_families": "CC loop survivors (large-star/small-star rounds)",
    "q117_revenue_concentration": "quantiles._range_prefix_sum persists "
    "the per-customer spend table (boundary sampler + range shuffle) and "
    "its _pid assignment; the ntile denominator is the rail's total",
    "q128_customer_gini": "quantiles._range_prefix_sum persists the "
    "per-customer spend table (boundary sampler + range shuffle) and its "
    "_pid assignment",
    "q176_equifreq_binning": "quantiles._range_prefix_sum persists the "
    "labeled balance table (boundary sampler + range shuffle) and its "
    "_pid assignment; the bin denominator is the rail's total",
    "q121_ivf_ann": "final IVF centroid table feeds corpus assignment "
    "AND query probe (k×d rows, retrieval.ivf_topk_deterministic)",
    "q125_setsim_prefix_join": "dup-group membership table feeds core "
    "pipeline, both expansion joins and both within-group sides; prefix "
    "table feeds both candidate self-join sides (dedup.setsim_join)",
    "q126_ann_recall": "IVF centroid persist (q121 machinery) + the "
    "15-row exact top-3 feeds hit semi-join AND denominator",
    "q124_dist_drift": "histogram base feeds both snapshot sides",
    "q135_pps_sample": "quantiles._range_prefix_sum persists the "
    "variate-tagged input and its _pid assignment — local prefix sums "
    "AND bucket totals must read ONE materialization",
    "q136_semdedup_auto": "auto-k cells feed centroid AND refine passes",
    "q141_repeated_substrings": "suffix-window table feeds span AND rollup",
    "q142_substring_selfdedup": "span table feeds excision AND digest",
    "q143_zorder_skipping": "quantiles._range_prefix_sum persists the "
    "zkey projection once for both layout rails, plus one _pid "
    "assignment per layout",
    "q144_quantile_calibration": "quantiles._range_prefix_sum persists "
    "the scored projection, which the corpus count and the per-source "
    "rank window then read too (one quality_score pass — the q104 "
    "class), and its _pid assignment",
    "q145_selfdedup_fixpoint": "pass-1 persist is read by pass-2 detection",
    "q147_source_overlap": "ONE distinct (source, shingle) table feeds "
    "sizes, pair fan-out AND the MinHash 64-min-agg (round 10); the "
    "per-source signature table feeds both pair-join sides",
    "q149_leakage_safe_split": "near-dup shingle table feeds bands AND verify",
    "q152_pq_adc_recall": "per-subspace final PQ codebook feeds codes "
    "AND ADC lookup (k×sub_dim rows, retrieval.kmeans_assign)",
    "q156_keep_best_dedup": "near-dup shingle table feeds bands AND verify",
    "q158_edit_distance_join": "deletion-variant table feeds both "
    "candidate self-join sides (editdist.edit_distance_join)",
    "q159_sorted_neighborhood": "ranked table feeds probe fan-out AND "
    "rank-keyed right side (blocking.sorted_neighborhood_pairs); "
    "quantiles._range_prefix_sum persists its input and _pid assignment",
    "q160_record_linkage": "deletion-variant table feeds both candidate "
    "sides (q158 machinery)",
    "q161_blocking_recall": "LSH branch is q25 machinery (shingle table "
    "feeds bands AND verify); SNM branch persists its ranked table; the "
    "verify shingle table feeds both Jaccard join sides; "
    "quantiles._range_prefix_sum persists the SNM input and _pid "
    "assignment",
    "q162_containment_join": "containment_join persists the distinct-set "
    "table (feeds freq, prefix, index and both verify sides)",
    "q163_skew_report": "melted (key_col, key) group-size table feeds "
    "sizes AND totals (operators/profile.skew_report one-scan form)",
    "q164_kmv_set_ops": "distinct (source, shingle) table feeds exact "
    "sizes AND the pair fan-out; the KMV sample feeds group enumeration "
    "AND the broadcast overlap fan-out",
    "q166_association_rules": "basket-array table feeds basket total, "
    "item counts AND pair fan-out (itemsets.pair_association_rules)",
    "q169_sample_quantiles": "exact side rides the q50 quantile rail "
    "(quantiles._range_prefix_sum persists the distinct-value table and "
    "its _pid assignment)",
    "q170_ingest_novelty": "distinct (batch, shingle) table feeds the "
    "first-arrival MIN AND the per-batch size rollup",
    "q172_packing_tradeoff": "tokenized doc projection feeds the pack "
    "rail AND the shard/pad aggregates for every candidate capacity",
    "q186_weighted_quantiles": "quantiles._range_prefix_sum persists the "
    "distinct-(value, weight-sum) table and its _pid assignment "
    "(quantiles.weighted_quantile_cuts)",
    "q196_hits_link_analysis": "distinct edge table feeds all three "
    "power-iteration consumers (a1, h1 join, a2 join)",
    "q197_decile_mobility": "quantiles._range_prefix_sum persists each "
    "per-year spend table (range-boundary sampler + shuffle) and its "
    "_pid assignment; the decile denominator is the rail's total",
    "q198_touch_attribution": "attributed purchases feed both model "
    "rollups — one per-user window pass instead of two",
    "q189_conversion_lag": "quantiles._range_prefix_sum persists the "
    "distinct-value table and its _pid assignment (q50 machinery)",
}


def test_registry_persist_lifecycle(spark):
    """Materialize every registry query and assert the session-level
    cache ends EMPTY — except the enumerated PERSISTS_BY_DESIGN set
    (multi-consumer intermediates whose reuse spans the returned DAG,
    so unpersisting at construction would recompute them per consumer).
    Uses the CacheManager directly: DataFrame.persist registers there
    at call time, so this catches lazy-marked persists too."""
    from sparkdiff.session import TESTDATA_TABLES, load_table

    for t in TESTDATA_TABLES:
        load_table(spark, SF_DIR_SMALL, t)
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    leaks = set()
    for name, fn in QUERIES.items():
        fn(spark, SF_DIR_SMALL).write.format("noop").mode("overwrite").save()
        if not cm.isEmpty():
            leaks.add(name)
        spark.catalog.clearCache()
    assert leaks == set(PERSISTS_BY_DESIGN), (
        f"undocumented persist leaks: {sorted(leaks - set(PERSISTS_BY_DESIGN))}; "
        f"newly clean (remove from PERSISTS_BY_DESIGN): "
        f"{sorted(set(PERSISTS_BY_DESIGN) - leaks)}"
    )
