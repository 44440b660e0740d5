"""Benchmark harness: times every registry query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test tables) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line:

    {"metric", "value", "unit", "sf", "queries", "n_queries",
     "n_errors", "n_runs", "steal_pct", "detail", "n_queries_in_line"}

``value`` is the sum of the per-query medians in seconds.  ``queries``
holds the largest medians that keep the line within
``COMPACT_LINE_BUDGET`` bytes, because the bench recorder keeps only a
bounded tail of stdout; the complete map is in BENCH_DETAIL.json.

Measurement model, per query:

- one UNTIMED warm-up evaluation (codegen/JIT, parquet footer and page
  cache, broadcast builds), never part of any reported number, because
  first-run and GC effects otherwise decide the median;
- $SPARK_GRAFT_BENCH_N cold-cache timed runs (default 3).  Each run
  calls ``spark.catalog.clearCache()`` and rebuilds the plan, so every
  run pays its persists' materialization once and reuses it within the
  run.  The rebuild matters: after clearCache alone the old plan has no
  cache registrations and recomputes shared subtrees per consumer.
  The noop-sink action is what ``runs`` and the headline measure; plan
  construction (eager probes included) is timed separately
  (``_timed_cold_runs``);
- ``runs``, ``median``, ``min``, ``construct_sec`` (median plan
  construction), ``rows``, ``rows_per_sec`` and ``steal_pct`` (the CPU
  steal of that query's own measurement window) in BENCH_DETAIL.json
  ``queries_detail``.

The run-level ``host_health`` block records /proc/stat steal, iowait and
busy percentages across the whole sweep: steal_pct above ~1% means the
hypervisor took CPU away mid-run and the medians are not comparable
with a run on a quiet host.  This harness does not judge regressions
itself; comparing two versions is the job of ``perfbench/``, which runs
parent and change in interleaved pairs against fixed bounds.

``SPARK_GRAFT_BENCH_ONLY`` (comma-separated substrings) restricts the
sweep to matching query names; ``SPARKDIFF_BENCH_DIR`` redirects
BENCH_DETAIL.json away from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkdiff.queries import QUERIES  # noqa: E402
from sparkdiff.session import get_spark  # noqa: E402

#: Upper bound for the one-line stdout JSON.  The driver keeps only the
#: LAST ~2000 bytes of output (BENCH_r02/r03 were lost to an 18 KB
#: line whose head — metric/value — fell outside the captured tail), so
#: the per-query map is truncated to the LARGEST medians until the line
#: fits; the full map is always in BENCH_DETAIL.json.
COMPACT_LINE_BUDGET = 1900


def _timed_cold_runs(
    spark, fn, sf_dir: str, n_runs: int
) -> tuple[list[float], list[float]]:
    """The round-10 timed region: per run, drop every cached table and
    rebuild the plan (re-registering its persists), then time one noop
    save.  Returns ``(runs, constructs)``: the action times, which are
    the reported runs, and the plan-construction times (eager probes
    included), which are recorded beside them."""
    runs: list[float] = []
    constructs: list[float] = []
    for _ in range(n_runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t1, 4))
        constructs.append(round(t1 - t0, 4))
    return runs, constructs


def _cpu_jiffies() -> dict[str, int] | None:
    """The aggregate cpu line of /proc/stat as named jiffie counters
    (user nice system idle iowait irq softirq steal ...)."""
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
    except OSError:
        return None
    if not first or first[0] != "cpu":
        return None
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    vals = [int(v) for v in first[1:]]
    return {n: (vals[i] if i < len(vals) else 0) for i, n in enumerate(names)}


def _host_health(before: dict[str, int] | None, after: dict[str, int] | None, wall: float) -> dict:
    """steal/iowait as % of total CPU jiffies burned during the run —
    the signature that distinguishes 'code got slower' from 'the host
    was degraded' (round 6: five same-binary runs spanned 71.7–116.2 s
    purely on steal)."""
    if not before or not after:
        return {"available": False, "wall_sec": round(wall, 1)}
    delta = {k: after[k] - before[k] for k in before}
    total = sum(delta.values()) or 1
    return {
        "available": True,
        "wall_sec": round(wall, 1),
        "steal_pct": round(100.0 * delta["steal"] / total, 3),
        "iowait_pct": round(100.0 * delta["iowait"] / total, 3),
        "busy_pct": round(
            100.0 * (total - delta["idle"] - delta["iowait"]) / total, 1
        ),
        "total_jiffies": total,
    }


def compact_line(head: dict, timings: dict[str, float | None]) -> str:
    """The one stdout JSON line: ``head`` plus the per-query medians
    (``queries``) and how many of them made it into the line
    (``n_queries_in_line``).  The bench recorder's per-query comparator
    reads ``queries``, but the full 202-entry map serializes to ~6 KB,
    over the recorder's ~2000-byte tail capture, so the smallest medians
    are dropped until the line fits ``COMPACT_LINE_BUDGET`` bytes.
    Failed queries (None) are left out."""
    qmap = {n: round(t, 3) for n, t in timings.items() if t is not None}
    line = {**head, "queries": qmap, "n_queries_in_line": len(qmap)}
    for n in sorted(qmap, key=qmap.get):
        if len(json.dumps(line)) <= COMPACT_LINE_BUDGET:
            break
        del qmap[n]
    line["n_queries_in_line"] = len(qmap)
    return json.dumps(line)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("sparkdiff-bench")
    # warm the JVM + parquet footer caches so per-query numbers measure
    # the queries, not session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).count()

    jiffies_before = _cpu_jiffies()
    wall_t0 = time.perf_counter()

    timings: dict[str, float | None] = {}
    detail: dict[str, dict] = {}
    errors: dict[str, str] = {}
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    selected = sorted(QUERIES.items())
    if only:
        pats = [p.strip() for p in only.split(",") if p.strip()]
        selected = [(n, f) for n, f in selected if any(p in n for p in pats)]
    for name, fn in selected:
        # One broken query must cost ONE null entry, never the whole
        # bench: round 2 lost all 68 timings to a single failing scan.
        # per-query host-state watchdog (round-9: a degradation window
        # that opens MID-RUN inflates a contiguous block of officials
        # while the start-of-run probes read healthy — /proc/stat costs
        # microseconds, so each query records the steal%% of its own
        # measurement window and the artifact shows exactly which
        # officials ran degraded)
        q_jiffies = _cpu_jiffies()
        # guide §1.5: label every job with its query so any attached UI /
        # event-log reader maps stages back to queries (set OUTSIDE the
        # timed region; ~one py4j call per query)
        spark.sparkContext.setJobDescription(f"bench:{name}")
        try:
            df = fn(spark, sf_dir)
            # untimed warm-up: absorbs codegen/JIT, parquet footer and
            # page-cache state, and broadcast builds (see module doc)
            df.write.format("noop").mode("overwrite").save()
            # cold-cache timed runs (round-9 verdict #1): each run pays
            # its persists' materialization; noop sink forces full
            # evaluation without driver collect cost (guide §1.4)
            runs, constructs = _timed_cold_runs(spark, fn, sf_dir, n_runs)
            med = round(statistics.median(runs), 4)
            rows = df.count()
        except Exception as exc:  # noqa: BLE001 — harness must survive
            timings[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
            continue
        q_health = _host_health(q_jiffies, _cpu_jiffies(), 0.0)
        timings[name] = med
        detail[name] = {
            "runs": runs,
            "median": med,
            "construct_sec": round(statistics.median(constructs), 4),
            "min": round(min(runs), 4),
            "rows": rows,
            "rows_per_sec": round(rows / med, 1) if med > 0 else None,
            "steal_pct": q_health.get("steal_pct"),
        }
        # several queries persist() bounded intermediates; drop them so
        # cached tables don't accumulate across the 133-query run
        spark.catalog.clearCache()
        # ContextCleaner frees broadcast/shuffle blocks only after a
        # DRIVER GC; with a 16g heap that never happens inside one
        # bench, so late queries run against dozens of queries' worth
        # of accumulated blocks (measured: isolated runs ~1.5-2x faster
        # than the same query 100 queries into the session).  A forced
        # GC every 20 queries keeps the session state flat.
        if len(timings) % 20 == 0:
            spark.sparkContext._jvm.System.gc()
    spark.sparkContext.setJobDescription(None)

    total = round(sum(t for t in timings.values() if t is not None), 4)
    host_health = _host_health(
        jiffies_before, _cpu_jiffies(), time.perf_counter() - wall_t0
    )
    full = {
        "metric": "sparkdiff_total_query_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_runs": n_runs,
        "queries_detail": detail,
        "sf": sf,
        "host_health": host_health,
    }
    if errors:
        full["errors"] = errors
    # artifact directory override: lets tests (and local experiments)
    # write BENCH_DETAIL.json somewhere other than the repo root
    here = os.environ.get("SPARKDIFF_BENCH_DIR") or os.path.dirname(
        os.path.abspath(__file__)
    )
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    # stdout gets a compact line only (the driver's tail capture is small);
    # everything else lives in BENCH_DETAIL.json.
    head = {
        "metric": "sparkdiff_total_query_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_runs": n_runs,
        "steal_pct": host_health.get("steal_pct"),
        "detail": "BENCH_DETAIL.json",
    }
    print(compact_line(head, timings))
    spark.stop()


if __name__ == "__main__":
    main()
