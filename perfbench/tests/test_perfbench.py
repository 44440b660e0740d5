"""Tests of the benchmark's own logic; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys
import time

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, stats  # noqa: E402
from perfbench.run import OpContext, OpRecord, failed_ops, registry_tables_dir  # noqa: E402
from perfbench.trace import Span, layer_self_times, self_times  # noqa: E402


# -- the percentile rule -----------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(10, None), (11, 9), (12, 16), (20, 50), (39, 74), (40, 75), (100, 90), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        rank = -(-p * n // 100)  # nearest rank, ceil(p*n/100)
        assert n - rank >= 10
        # one percentile higher would leave fewer than ten beyond
        assert n - -(-(p + 1) * n // 100) < 10 or p == 99


def test_tail_value_and_fallback():
    values = [float(i) for i in range(1, 101)]
    v, p = stats.tail(values)
    assert p == 90 and v == pytest.approx(90.5, abs=0.01)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None)


def test_tail_percentile_fixed_by_guaranteed_count():
    # 7 op steps x 4 guaranteed passes: p64 however many samples the run got
    values = [float(i) for i in range(1, 101)]
    assert stats.tail(values, n=28)[1] == 64
    assert stats.tail(values[:35], n=28)[1] == 64


# -- op steps ------------------------------------------------------------------


def test_op_steps_end_at_actions_and_sum_to_wall():
    op = OpRecord("day_1", "revalidate")
    ctx = OpContext(None, "", op, None)
    for _ in range(3):  # three construct + action steps, like a revalidation day
        with ctx.construct():
            time.sleep(0.01)
        with ctx.action():
            time.sleep(0.02)
    time.sleep(0.01)  # clean-up after the last action
    ctx.finish()
    assert len(op.steps) == 3
    assert all(s >= 0.03 for s in op.steps)
    assert op.steps[-1] >= 0.04
    assert sum(op.steps) == pytest.approx(op.wall_s)
    assert op.construct_s + op.action_s <= op.wall_s


def test_op_without_action_is_one_step():
    op = OpRecord("noop", "query")
    ctx = OpContext(None, "", op, None)
    with ctx.construct():
        time.sleep(0.01)
    ctx.finish()
    assert op.steps == [op.wall_s]


def test_quantile_moves_smoothly_across_a_gap():
    assert stats.quantile([2.5] * 7, 0.5) == pytest.approx(2.5)
    assert stats.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    # one sample crossing the gap moves a nearest-rank median from 1 to 2
    below = stats.quantile([1.0] * 20 + [2.0] * 19, 0.5)
    above = stats.quantile([1.0] * 19 + [2.0] * 20, 0.5)
    assert 1.0 < below < above < 2.0
    assert above - below < 0.25


# -- self time of nested spans -----------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span("queries.construct", 0.0, 10.0),
        Span("operators.diff.cell_diff", 1.0, 4.0, parent=0),
        Span("operators.diff.bucket_summary", 2.0, 3.0, parent=1),
        Span("plans.parity.run_script_pair", 5.0, 8.0, parent=0),
        Span("plans.macro.expand", 6.0, 7.5, parent=3),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 1.0, 1.5, 1.5])
    layers = layer_self_times(spans)
    assert layers["queries"] == pytest.approx(4.0)
    assert layers["operators.diff"] == pytest.approx(3.0)
    assert layers["plans.parity"] == pytest.approx(1.5)
    assert layers["plans.macro"] == pytest.approx(1.5)
    assert sum(layers.values()) == pytest.approx(10.0)


def test_self_time_clips_overlapping_children():
    spans = [
        Span("a.x", 0.0, 10.0),
        Span("b.y", 2.0, 6.0, parent=0),
        Span("b.z", 5.0, 12.0, parent=0),  # overlaps its sibling, outlives the parent
    ]
    assert self_times(spans)[0] == pytest.approx(2.0)


# -- generator determinism ---------------------------------------------------

SMALL_DAY2 = dict(
    days=2,
    edits_per_day=5,
    excluded_edits_per_day=3,
    corpus_docs=100,
    batches=2,
    batch_docs=20,
    dups_per_batch=4,
)
TABLES = registry_tables_dir()


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_day2_inputs_same_seed_byte_identical(tmp_path):
    t1 = gen.day2_inputs(str(tmp_path / "a"), TABLES, 7, **SMALL_DAY2)
    t2 = gen.day2_inputs(str(tmp_path / "b"), TABLES, 7, **SMALL_DAY2)
    assert t1 == t2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_day2_inputs_other_seed_changes_planted_sets(tmp_path):
    t1 = gen.day2_inputs(str(tmp_path / "a"), TABLES, 7, **SMALL_DAY2)
    t2 = gen.day2_inputs(str(tmp_path / "b"), TABLES, 8, **SMALL_DAY2)
    assert t1["days"] != t2["days"]
    assert t1["batches"] != t2["batches"]


def test_day2_truth_matches_inputs(tmp_path):
    d = str(tmp_path / "a")
    truth = gen.day2_inputs(d, TABLES, 3, **SMALL_DAY2)
    prev = pd.read_parquet(os.path.join(d, "snapshot_0.parquet")).set_index(gen.SNAP_PK)
    for day, t in enumerate(truth["days"], start=1):
        cur = pd.read_parquet(os.path.join(d, f"snapshot_{day}.parquet")).set_index(gen.SNAP_PK)
        cells = sorted(
            [int(pk), c]
            for c in gen.SNAP_COMPARED
            for pk in cur.index[(cur[c] != prev[c]).to_numpy()]
        )
        assert cells == t["cells"] and cells
        assert t["excluded_only"]
        for pk in t["excluded_only"]:
            assert (cur.loc[pk, list(gen.SNAP_EXCLUDED)] != prev.loc[pk, list(gen.SNAP_EXCLUDED)]).any()
        prev = cur
    texts = checks.doc_texts(d)
    for t in truth["batches"]:
        assert len(t["pairs"]) == SMALL_DAY2["dups_per_batch"]
        for src, dup in t["pairs"]:
            assert checks.shingle_jaccard(texts[src], texts[dup]) >= 0.85


# -- an injected wrong answer is counted -------------------------------------


class _FixedOracles:
    def __init__(self, want):
        self._want = want

    def expected(self, name):
        return self._want


def test_injected_wrong_answer_raises_failed_frac():
    right = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    wrong = right.assign(v=[0.5, 1.5, 2.6])
    oracles = _FixedOracles(checks.answer(right))
    ops = [OpRecord("q1", "query"), OpRecord("q1", "query"), OpRecord("q1", "query")]
    outputs = [right, wrong, right.iloc[::-1]]  # row order does not matter
    for op, out in zip(ops, outputs):
        op.error = checks.check_registry("q1", checks.answer(out), oracles)
    failed = failed_ops(ops)
    assert [ops.index(o) for o in failed] == [1]
    assert len(failed) / len(ops) == pytest.approx(1 / 3)


def test_day2_checks_detect_planted_mismatches():
    day = {"cells": [[5, "l_quantity"], [9, "l_shipdate"]], "excluded_only": [7]}
    assert checks.check_day([("5", "l_quantity"), ("9", "l_shipdate")], day) is None
    assert checks.check_day([("5", "l_quantity")], day) is not None
    assert checks.check_day([("5", "l_quantity"), ("9", "l_shipdate"), ("7", "l_tax")], day)
    texts = {
        1: "a b c d e f g h i j",
        100: "a b c d e f g h i j",  # Jaccard 1
        2: "a b c d e f g h i j k l m n o p q r s t",
        101: "a b c d e f g h i j k l m n o p q r s x",  # Jaccard 17/19
        3: "k l m n o",
        102: "v w x y z",  # Jaccard 0
    }
    batch = {"pairs": [[1, 100], [2, 101]]}
    good = [(1, 100, 1.0), (2, 101, 17 / 19)]
    assert checks.check_gate(good, batch, 0.7, texts) is None
    assert checks.check_gate(good[:1], batch, 0.7, texts) is not None  # planted pair missed
    assert checks.check_gate(good + [(3, 102, 0.75)], batch, 0.7, texts) is not None  # spurious pair
    assert checks.check_gate([(1, 100, 1.0), (2, 101, 0.9)], batch, 0.7, texts) is not None  # wrong Jaccard
    assert checks.check_gate(good, batch, 0.95, texts) is not None  # below threshold
