"""The benchmark's workloads: which ops make up one pass of each, and the
op bodies.

An op is one timed unit of work.  Its time covers plan construction plus
the action, and it starts from a cold Spark cache.  The op body marks
which of its parts construct plans and which run actions through the
``ctx.construct()`` / ``ctx.action()`` context managers of the runner.

Each pass mixes registry queries (``sparkdiff.queries.QUERIES``) with one
chain of the day-2 write-plus-read loop, which starts from an empty work
directory every pass:

* ``parity`` runs the revalidation chain: write the bucket store of the
  base lineitem snapshot, then each revalidation day runs
  ``dirty_vs_store``, ``cell_diff`` on the dirty buckets and
  ``write_bucket_store`` to advance the store.
* ``corpus`` runs the ingest chain: ``corpus_dedup_index`` saved with
  ``save_corpus_dedup_index``, then each ingest batch runs
  ``load_corpus_dedup_index``, ``incremental_near_dup_pairs`` and
  ``append_corpus_dedup_index``; a later batch is gated against the
  grown index.

The revalidation chain picks the rows of the dirty buckets with the bucket
formula of ``sparkdiff.operators.diff`` (``pmod(xxhash64(cast(pk as
string)), n_buckets)``, as in ``refine_pair``); a change of that formula
fails the chain's check.

The seed sets the order of the ops within a pass (a chain keeps its own
order) and, through ``gen.day2_inputs``, the chain's inputs.
"""

from __future__ import annotations

import os
import random
import shutil

#: Registry queries per workload, as prefixes of ``QUERIES`` keys.
REGISTRY_OPS = {
    # table parity, read side: macro expansion, dialect rewrite, the script
    # pair and its cell diff (q34), the profile skew report (q163), the
    # expectation suite (q168); scan/join/shuffle work, no tokenizer
    "parity": ("q34", "q163", "q168"),
    # corpus curation: a scan whose filter tokenizes text inside the
    # parquet scan (q63 rare tokens), the 8-gram decontamination screen
    # (q66), the mapInPandas automaton scan of exact decontamination
    # (q134, the Python boundary), count-min sketch heavy hitters over
    # document tokens (q154)
    "corpus": ("q63", "q66", "q134", "q154"),
}
WORKLOADS = tuple(REGISTRY_OPS)

#: Shape of the generated day-2 inputs.  Drift is kept low (about 1
#: changed row in 4600 of lineitem's 60,000), so few of the 4096 buckets
#: are dirty: the regime the bucket store exists for.  The corpus is 400 of
#: the 500 test documents; the other 100 supply the batches' novel ones.
DAY2 = {
    "days": 1,
    "edits_per_day": 13,
    "excluded_edits_per_day": 5,
    "corpus_docs": 400,
    "batches": 1,
    "batch_docs": 40,
    "dups_per_batch": 8,
}
N_BUCKETS = 4096
GATE_THRESHOLD = 0.7


def _registry_ops(prefixes: tuple[str, ...]) -> list[tuple]:
    from sparkdiff.queries import QUERIES

    by_prefix = {k.split("_", 1)[0]: k for k in QUERIES}

    def body(ctx, name):
        with ctx.construct():
            df = QUERIES[name](ctx.spark, ctx.data_dir)
        with ctx.action():
            return df.toPandas()

    return [
        (by_prefix[p], "query", lambda ctx, n=by_prefix[p]: body(ctx, n)) for p in prefixes
    ]


def _revalidation_chain(day2_dir: str, work_dir: str) -> list[tuple]:
    from pyspark.sql import functions as F

    from perfbench.gen import SNAP_COMPARED, SNAP_EXCLUDED, SNAP_PK
    from sparkdiff.operators.diff import cell_diff, dirty_vs_store, write_bucket_store

    compared = list(SNAP_COMPARED)

    def snap(ctx, d):
        return ctx.spark.read.parquet(os.path.join(day2_dir, f"snapshot_{d}.parquet"))

    def store(d):
        return os.path.join(work_dir, f"store_{d}")

    def store_write(ctx):
        with ctx.construct():
            base = snap(ctx, 0)
        with ctx.action():
            write_bucket_store(base, SNAP_PK, compared, store(0), N_BUCKETS)

    def revalidate(ctx, d):
        with ctx.construct():
            prev, today = snap(ctx, d - 1), snap(ctx, d)
            dirty_df = dirty_vs_store(today, store(d - 1), SNAP_PK, compared, N_BUCKETS)
        with ctx.action():
            dirty = [r[0] for r in dirty_df.collect()]
        with ctx.construct():
            bucket = F.pmod(F.xxhash64(F.col(SNAP_PK).cast("string")), F.lit(N_BUCKETS))
            cells = cell_diff(
                prev.filter(bucket.isin(dirty)),
                today.filter(bucket.isin(dirty)),
                SNAP_PK,
                exclude_cols=SNAP_EXCLUDED,
            ).select("pk_value", "column_name")
        with ctx.action():
            found = [(r[0], r[1]) for r in cells.collect()]
        with ctx.action():
            write_bucket_store(today, SNAP_PK, compared, store(d), N_BUCKETS)
        shutil.rmtree(store(d - 1), ignore_errors=True)
        return found

    chain = [("store_write", "store_write", store_write)]
    for d in range(1, DAY2["days"] + 1):
        chain.append((f"day_{d}", "revalidate", lambda ctx, d=d: revalidate(ctx, d)))
    return chain


def _ingest_chain(day2_dir: str, work_dir: str) -> list[tuple]:
    from sparkdiff.operators.dedup import (
        append_corpus_dedup_index,
        corpus_dedup_index,
        incremental_near_dup_pairs,
        load_corpus_dedup_index,
        save_corpus_dedup_index,
    )

    index = os.path.join(work_dir, "index")

    def docs(ctx, name):
        return ctx.spark.read.parquet(os.path.join(day2_dir, f"{name}.parquet"))

    def index_build(ctx):
        with ctx.construct():
            idx = corpus_dedup_index(docs(ctx, "corpus"), "doc_id", "text")
        with ctx.action():
            save_corpus_dedup_index(idx, index)

    def gate(ctx, b):
        with ctx.construct():
            batch = docs(ctx, f"batch_{b}")
            idx = load_corpus_dedup_index(ctx.spark, index)
            pairs = incremental_near_dup_pairs(
                None, batch, "doc_id", "text",
                threshold=GATE_THRESHOLD, corpus_index=idx,
            )
        with ctx.action():
            found = [(r[0], r[1], r[2]) for r in pairs.collect()]
        with ctx.construct():
            delta = corpus_dedup_index(batch, "doc_id", "text")
        with ctx.action():
            append_corpus_dedup_index(delta, index)
        return found, index

    chain = [("index_build", "index_build", index_build)]
    for b in range(DAY2["batches"]):
        chain.append((f"gate_{b}", "gate", lambda ctx, b=b: gate(ctx, b)))
    return chain


def pass_ops(workload: str, day2_dir: str, work_dir: str, seed: int, pass_no: int) -> list[tuple]:
    """One pass of ``workload`` as ``(op_name, kind, body)`` triples.  The
    work dir is emptied here, before the pass is timed.  A body returns
    what its check needs."""
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    rng = random.Random(seed * 1_000_003 + pass_no)
    ops = _registry_ops(REGISTRY_OPS[workload])
    rng.shuffle(ops)
    chain_of = _revalidation_chain if workload == "parity" else _ingest_chain
    chain = chain_of(day2_dir, work_dir)
    slots = set(rng.sample(range(len(ops) + len(chain)), len(chain)))
    reg, ch = iter(ops), iter(chain)
    return [next(ch) if i in slots else next(reg) for i in range(len(ops) + len(chain))]
