"""Seeded input generator for the day-2 write-plus-read loop.

The registry queries read the repository's own deterministic test tables
as they are.  The day-2 loop needs inputs that change from day to day, so
``day2_inputs`` derives them from two of those tables and writes them as
parquet; the program reads them only through those files:

* ``snapshot_0.parquet`` is the ``lineitem`` table with a row-number
  primary key; ``snapshot_<d>.parquet`` is the snapshot of day ``d``,
  with a few planted cell edits in compared columns and a few in the
  excluded column.
* ``corpus.parquet`` is a seeded sample of the ``documents`` table;
  ``batch_<b>.parquet`` is an ingest batch of planted near-duplicates of
  corpus (or earlier batch) documents plus held-out documents of the
  table the corpus does not contain.

The planted truth is returned and written as ``truth.json``.  Everything
is drawn from one ``numpy.random.Generator`` seeded by the caller, and the
parquet writer settings are fixed, so the same seed gives byte-identical
files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Columns of the revalidated lineitem snapshot.  ``l_id`` is the primary
#: key and ``l_tax`` is the column the revalidation excludes from comparison.
SNAP_PK = "l_id"
SNAP_EXCLUDED = ("l_tax",)
SNAP_COMPARED = (
    "l_orderkey",
    "l_partkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_shipdate",
)
#: Planted near-duplicates copy a document of at least this many words and
#: change one word in this many, so their 3-shingle Jaccard stays at or
#: above about 0.85: well above the gate's threshold and where 16 LSH bands
#: of 4 rows miss a pair with probability below 1e-5.
DUP_MIN_WORDS = 40


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _edit(rng: np.random.Generator, cols: dict[str, np.ndarray], row: int, col: str) -> None:
    """Change one cell by an amount the canonical comparison resolves."""
    v = cols[col]
    if col == "l_returnflag":
        v[row] = {"A": "N", "N": "R", "R": "A"}[v[row]]
    elif col == "l_shipdate":
        v[row] = v[row] + np.timedelta64(int(rng.integers(1, 30)), "D")
    elif col in ("l_discount", "l_tax"):
        v[row] = round(v[row] + 0.01 * int(rng.integers(1, 5)), 2)
    elif col in ("l_quantity", "l_extendedprice"):
        v[row] = round(v[row] + float(rng.integers(1, 500)), 2)
    else:
        v[row] = v[row] + int(rng.integers(1, 1000))


def _snapshot_table(cols: dict[str, np.ndarray]) -> pa.Table:
    types = {"l_returnflag": pa.string(), "l_shipdate": pa.timestamp("us")}
    return pa.table(
        {k: pa.array(v, types.get(k, pa.int64() if v.dtype.kind == "i" else pa.float64())) for k, v in cols.items()}
    )


def _doc_table(ids: list[int], texts: list[str]) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def day2_inputs(
    out_dir: str,
    tables_dir: str,
    seed: int,
    days: int,
    edits_per_day: int,
    excluded_edits_per_day: int,
    corpus_docs: int,
    batches: int,
    batch_docs: int,
    dups_per_batch: int,
) -> dict:
    """Write the day-2 loop's inputs into ``out_dir``, derived from the
    ``lineitem`` and ``documents`` tables under ``tables_dir``, and return
    (and write as ``truth.json``) the planted truth.

    Truth per day: the ``(pk, column)`` cells edited in compared columns
    (exactly the rows ``cell_diff`` must return) and the pks edited only in
    the excluded column (which must not show).  Truth per batch: the
    ``(source_id, dup_id)`` near-duplicate pairs that were planted, and
    the batch's document ids.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    li = pq.read_table(os.path.join(tables_dir, "lineitem.parquet"))
    n = li.num_rows
    cols = {SNAP_PK: np.arange(n, dtype=np.int64)}
    for c in SNAP_COMPARED + SNAP_EXCLUDED:
        cols[c] = li.column(c).to_numpy(zero_copy_only=False).copy()
    _write(_snapshot_table(cols), os.path.join(out_dir, "snapshot_0.parquet"))

    truth: dict = {"days": [], "batches": []}
    for d in range(1, days + 1):
        prev = {k: v.copy() for k, v in cols.items()}
        for row in rng.choice(n, edits_per_day, replace=False):
            k = int(rng.integers(1, 3))
            for col in rng.choice(SNAP_COMPARED, k, replace=False):
                _edit(rng, cols, int(row), str(col))
        for row in rng.choice(n, excluded_edits_per_day, replace=False):
            _edit(rng, cols, int(row), SNAP_EXCLUDED[0])
        cells = sorted(
            [int(cols[SNAP_PK][r]), c]
            for c in SNAP_COMPARED
            for r in np.flatnonzero(cols[c] != prev[c])
        )
        changed = {pk for pk, _ in cells}
        excluded_only = sorted(
            int(cols[SNAP_PK][r])
            for c in SNAP_EXCLUDED
            for r in np.flatnonzero(cols[c] != prev[c])
            if int(cols[SNAP_PK][r]) not in changed
        )
        truth["days"].append({"cells": cells, "excluded_only": excluded_only})
        _write(_snapshot_table(cols), os.path.join(out_dir, f"snapshot_{d}.parquet"))

    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"), columns=["doc_id", "text"])
    all_ids = docs.column("doc_id").to_pylist()
    all_texts = docs.column("text").to_pylist()
    vocab = sorted({w for t in all_texts for w in t.split()})
    order = rng.permutation(len(all_ids))
    ids = [all_ids[i] for i in order[:corpus_docs]]
    texts = [all_texts[i] for i in order[:corpus_docs]]
    held_out = [int(i) for i in order[corpus_docs:]]
    novel = batch_docs - dups_per_batch
    if novel * batches > len(held_out):
        raise ValueError("not enough held-out documents for the ingest batches")
    _write(_doc_table(ids, texts), os.path.join(out_dir, "corpus.parquet"))

    next_id = max(all_ids) + 1
    for b in range(batches):
        b_ids, b_texts, pairs = [], [], []
        long_docs = [i for i, t in enumerate(texts) if len(t.split()) >= DUP_MIN_WORDS]
        for src in rng.choice(long_docs, dups_per_batch, replace=False):
            words = texts[src].split()
            for w in rng.choice(len(words), len(words) // DUP_MIN_WORDS, replace=False):
                words[w] = vocab[(vocab.index(words[w]) + 1) % len(vocab)]
            b_ids.append(next_id)
            b_texts.append(" ".join(words))
            pairs.append([ids[src], next_id])
            next_id += 1
        for i in held_out[b * novel : (b + 1) * novel]:
            b_ids.append(all_ids[i])
            b_texts.append(all_texts[i])
        _write(_doc_table(b_ids, b_texts), os.path.join(out_dir, f"batch_{b}.parquet"))
        truth["batches"].append({"pairs": sorted(pairs), "doc_ids": b_ids})
        # later batches may near-duplicate documents appended by this one
        ids += b_ids
        texts += b_texts
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth
