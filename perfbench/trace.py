"""Tracing for the per-layer run: spans recorded around calls into the
program, and a reader for Spark's status store.

Spans are recorded only from the benchmark's own code.  ``instrument``
wraps the public functions of ``sparkdiff.sources``, ``sparkdiff.plans``
and ``sparkdiff.operators`` by rebinding every name under which a
``sparkdiff`` module holds them (the defining module's attribute and the
copies other modules, ``sparkdiff.queries`` first of all, bound at import),
and returns a function that restores the originals.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Packages whose public functions are traced; the layer of a span is the
#: defining module's path below ``sparkdiff`` (``operators.diff``).
TRACED_PACKAGES = ("sparkdiff.sources", "sparkdiff.plans", "sparkdiff.operators")

#: Scan-filter expressions that make a FileScan re-tokenize or hash text
#: per row; counted per executed plan.
HEAVY_FILTER = re.compile(r"lambdafunction|split\(|md5\(")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,\x01]*),(\d+),")
_SQL_METRICS = {
    "time to run Python workers": "python_exec_s",
    "number of files read": "files_read",
}
# the node text truncates long filter lists with "...", so match up to
# the next key rather than the closing bracket
_DATA_FILTERS = re.compile(r"DataFilters: (.*?), Format: ", re.S)

_EPOCH_OFFSET = time.time() - time.perf_counter()


def epoch(t: float) -> float:
    """A ``perf_counter`` reading as seconds since the Unix epoch."""
    return t + _EPOCH_OFFSET


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: str | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        i = len(self.spans) - 1
        self._stack.append(i)
        try:
            yield self.spans[i]
        finally:
            self._stack.pop()
            self.spans[i].end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start)
        - _union([(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])])
        for i, s in enumerate(spans)
    ]


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] = out.get(s.layer, 0.0) + t
    return out


def innermost(spans: list[Span], t: float, op: str) -> Span | None:
    """The deepest span of ``op`` open at ``perf_counter`` time ``t``."""
    best = None
    for s in spans:
        if s.op == op and s.start <= t <= s.end:
            if best is None or s.start >= best.start:
                best = s
    return best


def _traced_functions() -> dict[int, tuple[str, object]]:
    found: dict[int, tuple[str, object]] = {}
    for pkg_name in TRACED_PACKAGES:
        pkg = importlib.import_module(pkg_name)
        names = [pkg_name] + [
            m.name for m in pkgutil.iter_modules(pkg.__path__, pkg_name + ".")
        ]
        for mod_name in names:
            mod = importlib.import_module(mod_name)
            layer = mod_name.removeprefix("sparkdiff.")
            for attr, obj in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod_name
                ):
                    found[id(obj)] = (f"{layer}.{attr}", obj)
    return found


def instrument(tracer: Tracer):
    """Wrap every public function of the traced packages in a span and
    return a callable that undoes it."""
    funcs = _traced_functions()
    wrappers = {k: tracer.wrap(name, fn) for k, (name, fn) in funcs.items()}
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == "sparkdiff" or mod_name.startswith("sparkdiff.")):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrappers.get(id(obj))
            if w is not None and funcs[id(obj)][1] is obj:
                setattr(mod, attr, w)
                patched.append((mod, attr, obj))

    def restore() -> None:
        for mod, attr, obj in patched:
            setattr(mod, attr, obj)

    return restore


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    covered, cur = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, cur)
        if b > a:
            covered += b - a
            cur = b
    return covered


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _metric_value(text: str) -> float:
    """The total of a formatted SQL metric, in seconds for timings,
    MiB for sizes and as a plain number otherwise."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([a-zA-Z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    scale = {
        "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
        "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10,
    }
    return v * scale.get(m.group(2), 1.0)


@dataclass
class OpSpark:
    """Spark numbers for one op.  A job submitted outside the op's actions
    is eager: it ran during plan construction."""

    jobs: int = 0
    eager_jobs: int = 0
    eager_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    single_task_stage_s: float = 0.0
    hot_stage_s: float = 0.0
    hot_stage_tasks: int = 0
    sched_gap_s: float = 0.0
    python_exec_s: float = 0.0
    heavy_scan_filters: int = 0
    files_read: int = 0
    eager_submits: list[float] = field(default_factory=list)


class StatusReader:
    """Reads per-op numbers from Spark's status stores (works with the UI
    disabled).  The stores are filled asynchronously and keep a bounded
    history, so ``read`` drains the listener bus and must run after every
    op."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._bus.waitUntilEmpty()
        self._sql_seen = int(self._sql.executionsCount())

    def sync(self) -> None:
        """Skip SQL executions recorded so far (those of untraced work)."""
        self._bus.waitUntilEmpty()
        self._sql_seen = int(self._sql.executionsCount())

    def read(self, group: str, actions: list[tuple[float, float]]) -> OpSpark:
        """Numbers for the jobs of ``group``.  ``actions`` are the op's
        action intervals in epoch seconds; a job submitted outside them
        ran during plan construction."""
        self._bus.waitUntilEmpty()
        out = OpSpark()
        covered: list[tuple[float, float]] = []
        for job_id in sorted(self._tracker.getJobIdsForGroup(group)):
            job = self._store.job(job_id)
            sub, done = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            out.jobs += 1
            if sub is not None and not any(a <= sub <= b for a, b in actions):
                out.eager_jobs += 1
                out.eager_submits.append(sub)
                if done is not None:
                    out.eager_s += done - sub
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never submitted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                n = int(st.numTasks())
                out.stages += 1
                out.tasks += n
                out.exec_run_s += st.executorRunTime() / 1e3
                out.exec_cpu_s += st.executorCpuTime() / 1e9
                out.input_mb += st.inputBytes() / 2**20
                out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
                out.shuffle_read_mb += st.shuffleReadBytes() / 2**20
                out.spill_mb += st.diskBytesSpilled() / 2**20
                if s0 is None or s1 is None:
                    continue
                wall = s1 - s0
                if n == 1:
                    out.single_task_stage_s += wall
                if wall > out.hot_stage_s:
                    out.hot_stage_s, out.hot_stage_tasks = wall, n
                covered += [(max(s0, a), min(s1, b)) for a, b in actions if s1 > a and s0 < b]
        out.sched_gap_s = max(sum(b - a for a, b in actions) - _union(covered), 0.0)
        self._read_sql(out)
        return out

    def _read_sql(self, out: OpSpark) -> None:
        count = int(self._sql.executionsCount())
        if count <= self._sql_seen:
            return
        it = self._sql.executionsList(self._sql_seen, count - self._sql_seen).iterator()
        self._sql_seen = count
        while it.hasNext():
            ex = it.next()
            nodes = self._sql.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if str(node.name()).startswith("Scan"):
                    m = _DATA_FILTERS.search(str(node.desc()))
                    if m and HEAVY_FILTER.search(m.group(1)):
                        out.heavy_scan_filters += 1
            # one py4j call per collection: the Scala case classes render
            # as "SQLPlanMetric(name,accumulatorId,type)" and "id -> value"
            wanted = {}
            for m in _PLAN_METRIC.finditer(str(ex.metrics().mkString("\x01"))):
                if m.group(1) in _SQL_METRICS:
                    wanted[m.group(2)] = _SQL_METRICS[m.group(1)]
            if not wanted:
                continue
            values = str(self._sql.executionMetrics(ex.executionId()).mkString("\x01"))
            for entry in values.split("\x01"):
                acc, _, text = entry.partition(" -> ")
                key = wanted.get(acc.strip())
                if key is not None:
                    v = _metric_value(text)
                    setattr(out, key, getattr(out, key) + (int(v) if key == "files_read" else v))
