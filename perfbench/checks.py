"""Output checks.  They run outside every timed region and every metric;
each mismatch counts as a failed op.

Registry ops are compared with their DuckDB oracle (``sparkdiff.oracles``)
through the canonical value hash of ``tests/oracle_harness.py``, the same
comparison the repository's oracle tests make.  Oracle answers depend only
on the test tables and the oracle SQL, so they are cached on disk under a
key of both.  Day-2 ops are compared with the planted truth, and the
Jaccard of every near-duplicate pair the gate reports is recomputed here
from the input texts.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pandas as pd

from perfbench.gen import SNAP_EXCLUDED


def answer(pdf: pd.DataFrame) -> dict:
    """Columns, row count and the order-insensitive canonical value hash."""
    from tests.oracle_harness import _keyed

    digest = hashlib.sha256(repr(_keyed(pdf)).encode()).hexdigest()
    return {"columns": sorted(map(str, pdf.columns)), "rows": len(pdf), "hash": digest}


class OracleCache:
    """DuckDB oracle answers for one data set, cached as JSON."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, name: str) -> dict:
        from sparkdiff.oracles import ORACLES
        from tests.oracle_harness import run_oracle

        sql = ORACLES[name]
        key = hashlib.sha256(f"{self.data_dir}\0{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        ans = answer(run_oracle(sql, self.data_dir))
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(ans, fh)
        os.replace(tmp, path)
        return ans


def check_registry(name: str, got: dict, oracles: OracleCache) -> str | None:
    """``None`` when ``got`` matches the oracle, else what differs."""
    want = oracles.expected(name)
    for k in ("columns", "rows", "hash"):
        if got[k] != want[k]:
            return f"{name}: {k} differs (got {got[k]!r}, want {want[k]!r})"
    return None


def check_day(cells: list[tuple], truth: dict) -> str | None:
    """A revalidation day: the cell diff over the dirty buckets must be
    exactly the planted compared-column edits, so every planted drift lies
    in a dirty bucket, and no excluded column may appear."""
    got = sorted([int(pk), col] for pk, col in cells)
    bad = [c for _, c in got if c in SNAP_EXCLUDED]
    if bad:
        return f"excluded column reported: {bad[:3]}"
    if got != truth["cells"]:
        missing = [c for c in truth["cells"] if c not in got]
        extra = [c for c in got if c not in truth["cells"]]
        return f"cell diff differs: missing {missing[:3]}, extra {extra[:3]}"
    return None


def doc_texts(day2_dir: str) -> dict[int, str]:
    """``doc_id -> text`` of the generated corpus and ingest batches."""
    import pyarrow.parquet as pq

    out: dict[int, str] = {}
    for name in sorted(os.listdir(day2_dir)):
        if name == "corpus.parquet" or name.startswith("batch_"):
            t = pq.read_table(os.path.join(day2_dir, name), columns=["doc_id", "text"])
            out.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    return out


def shingle_jaccard(a: str, b: str, k: int = 3) -> float:
    """Word ``k``-shingle Jaccard of two texts, tokenized the way the
    dedup operator documents it: lower-cased runs of ``[a-z0-9]``; a text
    shorter than ``k`` tokens is one whole-text shingle."""

    def shingles(text: str) -> set[str]:
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        if len(toks) < k:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def check_appended(index_dir: str, doc_ids: list[int]) -> str | None:
    """After a gate, the persisted index must hold every batch document."""
    import pyarrow.parquet as pq

    ids = set(pq.read_table(os.path.join(index_dir, "shingles"), columns=["_id"]).column("_id").to_pylist())
    missing = [i for i in doc_ids if i not in ids]
    return f"batch documents missing from the appended index: {missing[:3]}" if missing else None


def check_gate(pairs: list[tuple], truth: dict, threshold: float, texts: dict[int, str]) -> str | None:
    """An ingest gate: every planted near-duplicate pair found, and every
    reported pair's Jaccard, recomputed here from the input texts, equal
    to the reported one and at or above the threshold."""
    found = {(int(c), int(b)) for c, b, _ in pairs}
    missing = [p for p in truth["pairs"] if tuple(p) not in found]
    if missing:
        return f"planted near-dup pairs missed: {missing[:3]}"
    for c, b, j in pairs:
        want = shingle_jaccard(texts[int(c)], texts[int(b)])
        if abs(float(j) - want) > 1e-9 or want < threshold:
            return f"pair ({c}, {b}): reported Jaccard {j}, recomputed {want}, threshold {threshold}"
    return None
