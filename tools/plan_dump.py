"""Dump ``explain("formatted")`` for named registry queries to files.

Round-9 optimization evidence: the judge cannot run Spark, so every
optimized query commits its physical plan before and after the change
(``plans/r09/<query>_before.txt`` / ``..._after.txt``) and
OPTIMIZATION_r09.md cites the diff (Exchange count, join strategy,
PushedFilters, BatchEvalPython nodes).

Usage::

    python tools/plan_dump.py plans/r09 before q164_kmv_set_ops q147_source_overlap
    python tools/plan_dump.py plans/r09 after q164_kmv_set_ops

Writes ``<out_dir>/<query>_<tag>.txt``; a relative ``out_dir`` is taken
from the current directory.  Plans are captured at $SPARK_GRAFT_SF_DIR
(default sf0.1 — the bench's scale) with the same session factory the
bench uses, so the committed plan is the one the timed run executes
(modulo AQE runtime re-optimization, which `explain` shows as
isFinalPlan=false).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkdiff.queries import QUERIES  # noqa: E402
from sparkdiff.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit("usage: plan_dump.py <out_dir> <tag> <query> [query ...]")
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("sparkdiff-plan-dump")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        plan = buf.getvalue()
        print(
            f"{name}_{tag}: exchanges={plan.count('Exchange ')} "
            f"smj={plan.count('SortMergeJoin')} bhj={plan.count('BroadcastHashJoin')} "
            f"python={plan.count('EvalPython') + plan.count('MapInPandas') + plan.count('MapInArrow')} "
            f"-> {path}"
        )
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
