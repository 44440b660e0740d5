"""The bench contract: host health captured around the run, the one
compact stdout line trimmed to the recorder's tail budget, an
end-to-end run that writes BENCH_DETAIL.json and nothing else, and a
run started outside the repository root."""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    COMPACT_LINE_BUDGET,
    _cpu_jiffies,
    _host_health,
    compact_line,
)


def test_cpu_jiffies_reads_proc_stat():
    j = _cpu_jiffies()
    assert j is not None, "/proc/stat must be readable on linux"
    assert set(j) == {
        "user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal",
    }
    assert all(v >= 0 for v in j.values())


def test_host_health_delta_percentages():
    before = {"user": 100, "nice": 0, "system": 50, "idle": 800,
              "iowait": 20, "irq": 0, "softirq": 0, "steal": 30}
    after = {"user": 200, "nice": 0, "system": 100, "idle": 1500,
             "iowait": 70, "irq": 0, "softirq": 0, "steal": 130}
    h = _host_health(before, after, 12.34)
    assert h["available"] is True
    # deltas: total=1000, steal=100, iowait=50, idle=700
    assert h["steal_pct"] == 10.0
    assert h["iowait_pct"] == 5.0
    assert h["busy_pct"] == 25.0
    assert h["wall_sec"] == 12.3


def test_host_health_degrades_gracefully_without_proc():
    h = _host_health(None, None, 1.0)
    assert h == {"available": False, "wall_sec": 1.0}


def test_compact_line_queries_map_fits_tail_budget():
    """The bench recorder's per-query comparator reads the ``queries``
    map from the ONE stdout JSON line, but its tail capture keeps only
    ~2000 bytes — the map must be trimmed to the largest medians until
    the line fits (the full map lives in BENCH_DETAIL)."""
    timings = {f"q{i:03d}_some_operator_name": 0.05 + i * 0.01
               for i in range(202)}
    timings["q999_failed"] = None
    head = {"metric": "sparkdiff_total_query_time", "value": 123.4,
            "unit": "sec", "sf": 0.1, "n_queries": 203, "n_errors": 1,
            "n_runs": 3, "steal_pct": 0.1, "detail": "BENCH_DETAIL.json"}
    # the untrimmed fleet overflows the budget, so trimming must happen
    assert len(json.dumps({**head, "queries": timings})) > COMPACT_LINE_BUDGET

    line = compact_line(head, timings)
    assert len(line) <= COMPACT_LINE_BUDGET
    parsed = json.loads(line)
    qmap = parsed["queries"]
    assert len(qmap) >= 40, "budget should fit at least the heavy tier"
    assert parsed["n_queries_in_line"] == len(qmap)
    assert "q999_failed" not in qmap
    # the kept entries are exactly the largest medians
    kept_min = min(qmap.values())
    dropped_max = max(
        round(t, 3) for n, t in timings.items()
        if t is not None and n not in qmap
    )
    assert kept_min >= dropped_max
    # and the headline survives the trimming intact
    assert {k: parsed[k] for k in head} == head


def test_bench_contract_end_to_end(tmp_path):
    """A two-query bench in a sandboxed artifact dir: one stdout JSON
    line within the tail budget carrying the fields the recorder parses,
    host health in BENCH_DETAIL.json, ``SPARK_GRAFT_BENCH_N`` timed runs
    per query, and no per-round archive file."""
    n_runs = 2
    names = ["q01_pricing_summary", "q46_lineitem_diff"]
    env = dict(
        os.environ,
        SPARKDIFF_BENCH_DIR=str(tmp_path),
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_N=str(n_runs),
        SPARK_GRAFT_BENCH_ONLY=",".join(names),
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, proc.stdout[-2000:]
    assert len(lines[0]) <= COMPACT_LINE_BUDGET
    compact = json.loads(lines[0])
    assert {"metric", "value", "unit", "sf", "queries", "n_queries",
            "n_errors"} <= set(compact)
    assert compact["sf"] == 0.001
    assert compact["n_queries"] == 2 and compact["n_errors"] == 0
    assert set(compact["queries"]) == set(names)

    assert os.listdir(tmp_path) == ["BENCH_DETAIL.json"]
    with open(tmp_path / "BENCH_DETAIL.json") as fh:
        detail = json.load(fh)
    assert detail["host_health"]["available"] is True
    assert set(detail["queries_detail"]) == set(names)
    for d in detail["queries_detail"].values():
        assert len(d["runs"]) == n_runs
        assert d["min"] <= d["median"]
        # plan construction is recorded beside, not inside, the runs
        assert isinstance(d["construct_sec"], float) and d["construct_sec"] > 0


def test_bench_python_workers_import_package_outside_repo_root(tmp_path):
    """Started from a directory outside the repository, the Python
    workers must still import ``sparkdiff``: q134 unpickles a broadcast
    automaton whose class lives in the package."""
    from .conftest import SF_DIR_SMALL

    env = dict(
        os.environ,
        SPARKDIFF_BENCH_DIR=str(tmp_path),
        SPARK_GRAFT_SF_DIR=SF_DIR_SMALL,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_N="1",
        SPARK_GRAFT_BENCH_ONLY="q134_exact_contamination",
    )
    env.pop("PYTHONPATH", None)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    compact = json.loads(proc.stdout.strip().splitlines()[-1])
    assert compact["n_queries"] == 1
    assert compact["n_errors"] == 0, proc.stderr[-2000:]
