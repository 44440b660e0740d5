"""Whole-registry plan-shape pinning: every query's physical-plan
signature (join strategies, shuffle/broadcast exchange counts, Python
boundaries) must match ``plan_snapshots.json``.

A failure here means the PLAN changed, not the values — if the change is
intentional (e.g. an operator got a cheaper strategy), regenerate with:

    SPARKDIFF_REGEN_PLANS=1 python -m pytest tests/test_plan_snapshots.py
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from sparkdiff.plans.signature import plan_signature
from sparkdiff.queries import QUERIES

from .conftest import SF_DIR_SMALL

SNAPSHOT_PATH = Path(__file__).parent / "plan_snapshots.json"
REGEN = os.environ.get("SPARKDIFF_REGEN_PLANS") == "1"


def test_plan_signatures_match_snapshots(spark):
    # plan shapes are pinned against a COLD cache: InMemoryRelations
    # left behind by earlier tests (or by another query's internal
    # persist) swallow exchanges and make signatures order-dependent
    spark.catalog.clearCache()
    got = {name: plan_signature(fn(spark, SF_DIR_SMALL)) for name, fn in QUERIES.items()}
    if REGEN or not SNAPSHOT_PATH.exists():
        SNAPSHOT_PATH.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
        pytest.skip(f"regenerated {SNAPSHOT_PATH.name} for {len(got)} queries")
    want = json.loads(SNAPSHOT_PATH.read_text())
    assert set(got) == set(want), (
        f"query registry changed: +{set(got) - set(want)} -{set(want) - set(got)}"
        " — regenerate snapshots"
    )
    diffs = {
        n: {"got": got[n], "want": want[n]} for n in got if got[n] != want[n]
    }
    assert not diffs, (
        "plan shapes changed (intentional? SPARKDIFF_REGEN_PLANS=1):\n"
        + json.dumps(diffs, indent=1, sort_keys=True)
    )


# Queries where a broadcast cross join is the DESIGN, not a regression:
# q24's exact top-k broadcasts the (small) query set against the corpus
# — the corpus is scanned once with no shuffle, which is the right plan;
# the scale path for corpus×corpus is the LSH/IVF variants.  q75's Lloyd
# assignment broadcasts the k×d centroid table (tiny regardless of
# corpus size) against the vectors; q76 broadcasts a ONE-ROW corpus-
# stats aggregate back over the scan — both are the scalable fan-out,
# not an accidental quadratic join.
_INTENTIONAL_NLJ = {
    "q24_cosine_topk",
    # q150 replays q24's exact ranking (one 10-row query-set broadcast
    # NLJ) plus the SAME shape on the int8 side; scale path is the
    # LSH/IVF candidate generators feeding the quantized scorer.
    "q150_quantized_ann",
    # q155 is two q24 rankings (full-dim + JL-projected), each a 10-row
    # query-set broadcast.
    "q155_jl_projection_recall",
    "q75_kmeans_embed",
    "q76_bm25_rank",
    # q81 broadcasts the 10-row query set with a label-inequality join
    # condition — same q24 shape; scale path is the LSH/IVF candidate
    # generators.
    "q81_hard_negatives",
    # q88's SemDeDup runs the q75 Lloyd assignment (k×d centroid
    # broadcast); its pair stage is a plain cluster-id equi-join.
    # q136 is the same pipeline with the auto-k heuristic.
    "q88_semdedup",
    "q136_semdedup_auto",
    # q152's per-subspace Lloyd broadcasts k×sub_dim centroid tables
    # (the q75 shape, ×m subspaces); the ADC lookup is a query-set ×
    # (m·k)-row codebook broadcast and the exact baseline is q24's
    # query-set broadcast. All bounded small sides.
    "q152_pq_adc_recall",
    # q90 broadcasts a ONE-ROW node-count aggregate over the rank table
    # (the q76 stats shape) so N stays in-plan without a driver collect.
    "q90_pagerank",
    # q93 embeds q76's BM25 scorer (one-row stats broadcast).
    "q93_rrf_fusion",
    # q102's summary row cross-joins four ONE-ROW aggregates
    # (n_nodes × n_edges × n_wedges × n_triangles) — bounded 1×1 NLJs;
    # the graph work itself (edges, wedges, closing check) is all
    # equi-joins.
    "q102_triangle_count",
    # q104's exact dominance refine is a non-equi anti-join over the
    # PRUNED candidate set (frontier-sized by the bucket bound), plus
    # the one-row quantile-cut broadcast; the corpus-sized pass is the
    # bucketed prune, all equi/aggregate shapes.
    "q104_skyline",
    # q105 broadcasts two ONE-ROW tables (anchor date, quantile cuts)
    # over the per-user RFM table — the q76 stats-broadcast shape.
    "q105_rfm_segments",
    # q190/q191 cross-join ONE-ROW totals over a domain-bounded bucket
    # table (≤23 price bins / ≤11 deciles) — the q102 shape.
    "q190_psi_drift",
    "q191_gini_split_audit",
    # q192's report row cross-joins three ONE-ROW step counts — the
    # q102 summary-row shape; the per-user funnel work is all keyed
    # MIN aggregates + equi-joins.
    "q192_event_funnel",
    # q147's estimate stage pairs the per-SOURCE signature table with a
    # source_a < source_b inequality join — the table is one row per
    # source (constant-size regardless of corpus bytes), so the NLJ is
    # bounded by construction; the corpus-sized work (shingles, exact
    # pair intersections) is all equi-joins and aggregates.
    "q147_source_overlap",
    # q172 products its per-capacity ONE-ROW aggregates (pad stats x
    # concat windows x split count) — bounded 1x1x1 (q102's summary-row
    # shape); the corpus work is one scan + the q57 prefix-sum rail.
    "q172_packing_tradeoff",
    # q169 joins its two ONE-ROW quantile aggregates (population cuts x
    # sample cuts) on a literal group key that constant-folds away —
    # a bounded 1x1 product (q102's summary-row shape).
    "q169_sample_quantiles",
    # q164's KMV pair stage cross-pairs the per-SOURCE group list and
    # fans each pair out over the k-bounded sample broadcast (an OR
    # membership condition) — groups² × k rows of longs, constant in
    # corpus bytes (q147's signature-pair argument); the corpus-sized
    # work (shingles, distinct hashes, exact intersections) is all
    # equi-joins and aggregates.
    "q164_kmv_set_ops",
    # q106 broadcasts the ONE-ROW total-token-count aggregate over the
    # bigram table (q76/q90 stats shape); word-key joins are unhinted.
    "q106_collocations",
    # q166 broadcasts the ONE-ROW basket-count aggregate over the rule
    # table (q76/q90 stats shape); pair generation and item-count
    # lookups are equi-joins on basket/item keys.
    "q166_association_rules",
    # q109 broadcasts the ONE-ROW decile-cut table over the scan; q110's
    # 3-row report cross-joins one-row count aggregates (q102 shape).
    # The orphan checks themselves are left_anti equi-joins.
    "q109_equidepth_histogram",
    "q110_fk_integrity",
    # q117 ranks on the scalable_row_number rail and broadcasts the
    # ONE-ROW revenue total (q76/q90 stats shape).
    "q117_revenue_concentration",
    # q186's cut selection is a 9-row broadcast >= join over the
    # prefix-summed distinct-value table (q109's cut-table shape).
    "q186_weighted_quantiles",
    # q121 broadcasts the k×d centroid table for Lloyd assignment and
    # query probing (the q75 shape); list membership and candidate
    # ranking are equi-joins/windows.
    "q121_ivf_ann",
    # q123 broadcasts the labels×d centroid table over the vectors
    # (q75 shape) for the per-vector silhouette distances.
    "q123_label_silhouette",
    # q126 embeds q121's centroid broadcasts and adds the exact side's
    # 5-query broadcast over one corpus scan (q24 shape).
    "q126_ann_recall",
    # q127 broadcasts a FIXED 256-query eval sample (TakeOrdered by
    # md5 hash — corpus-size-independent) over one corpus scan
    # (q24 shape) for the leave-one-out neighbor search.
    "q127_knn_accuracy",
    # q133 broadcasts the ONE-ROW date-span aggregate over the daily
    # report table (q76/q90 stats shape).
    "q133_stickiness",
    # q139 broadcasts the ONE-ROW (total tokens, Σ√n) aggregate over
    # the 20-row per-source table (q76/q90 stats shape).
    "q139_temperature_mix",
    # q143 broadcasts the ONE-ROW min/max range aggregate into the
    # Morton-key table for the integer scaling (q76/q90 stats shape);
    # the plan text repeats that join under each cached copy.
    "q143_zorder_skipping",
    # q160's u-probability table is ONE ROW (n + four exact freq^2
    # sums) crossJoin-broadcast over the candidate pairs — the q76/q90
    # stats shape; candidates come from q158's FastSS equi-join and the
    # attribute joins are equi-joins.
    "q160_record_linkage",
    # q161 broadcasts the ONE-ROW truth count over its output;
    # candidate generation itself is the q25 band equi-join and the
    # sorted-neighborhood rank equi-join.
    "q161_blocking_recall",
    # q163's per-column stats rows are ONE-ROW aggregates (totals,
    # p99) cross-joined back over each other — bounded 1x1 broadcasts
    # (q102/q110 shape); the only corpus-sized work is the per-column
    # map-side-combined groupBy.
    "q163_skew_report",
    # q144 broadcasts the ONE-ROW corpus count (q76/q90 stats shape);
    # the midpoint-index lookup itself is a data-sized equi-join.
    "q144_quantile_calibration",
}


def test_no_query_plans_a_cartesian_or_nlj(spark):
    """Registry-wide hard invariant, independent of snapshots."""
    spark.catalog.clearCache()
    bad = {}
    for name, fn in QUERIES.items():
        if name in _INTENTIONAL_NLJ:
            continue
        sig = plan_signature(fn(spark, SF_DIR_SMALL))
        for j in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if sig["joins"].get(j):
                bad[name] = sig["joins"]
    assert not bad, f"cartesian/NLJ in: {bad}"
