"""Physical-plan shape signatures for regression pinning.

A query can stay value-correct while its plan silently degrades — a
broadcast flipping to sort-merge, a new exchange, a filter no longer
reaching the scan.  ``plan_signature`` reduces a DataFrame's physical
plan to the shape facts that matter at 100 TB:

- join strategy counts (broadcast / sort-merge / shuffled-hash / NLJ /
  cartesian),
- shuffle exchange count (``Exchange *partitioning``) vs broadcast
  exchange count,
- Python-boundary operator count (Arrow/pandas evals — the JVM-exit
  points that must stay out of hot paths).

``tests/test_plan_snapshots.py`` pins one signature per registered
query against ``tests/plan_snapshots.json``; regenerate with
``SPARKDIFF_REGEN_PLANS=1 pytest tests/test_plan_snapshots.py``.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

_JOIN_RE = re.compile(
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)\b"
)
_SHUFFLE_RE = re.compile(
    # Spark prints the four partitionings as `hashpartitioning(...)`,
    # `rangepartitioning(...)`, `SinglePartition` and
    # `RoundRobinPartitioning(n)`.  The last two are what a keyless
    # repartition (session.widen) and a global aggregate or window add,
    # so they must be pinned like any other exchange.
    r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition|"
    r"RoundRobinPartitioning)\b"
)
_BROADCAST_X_RE = re.compile(r"\bBroadcastExchange\b")
_PYTHON_RE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|"
    r"FlatMapGroupsInPandas|AggregateInPandas)\b"
)


def plan_signature(df: DataFrame) -> dict:
    """Shape signature of the (pre-AQE) physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "joins": dict(sorted(Counter(_JOIN_RE.findall(plan)).items())),
        "shuffles": len(_SHUFFLE_RE.findall(plan)),
        "broadcasts": len(_BROADCAST_X_RE.findall(plan)),
        "python_evals": len(_PYTHON_RE.findall(plan)),
    }
