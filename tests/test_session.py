"""Session-level rules: the one single-split widening rule, and the
closed set of environment variables the package reads."""

from __future__ import annotations

import ast
from pathlib import Path

from sparkdiff.session import load_table, widen

from .conftest import SF_DIR_ORACLE

PACKAGE = Path(__file__).resolve().parent.parent / "sparkdiff"

#: Deployment settings only (where the data lives, how many cores, how
#: much driver heap).  Parallelism and other tuning are decided from the
#: input, never from an environment knob.
DEPLOYMENT_ENV_VARS = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARKDIFF_DRIVER_MEM"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_widen_repartitions_only_a_single_split_table(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    spark.range(40).repartition(2).write.parquet(str(tmp_path / "two.parquet"))
    assert len(list((tmp_path / "two.parquet").glob("*.parquet"))) == 2
    # warm the schema cache: inference is a job, widen must not be
    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    two = load_table(spark, str(tmp_path), "two")

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    wide_docs = widen(docs, SF_DIR_ORACLE, "documents")
    same_two = widen(two, str(tmp_path), "two")
    docs_plan, two_plan = _plan(wide_docs), _plan(same_two)
    assert set(tracker.getJobIdsForGroup()) == before

    assert docs_plan.count("Exchange ") == 1, docs_plan
    assert f"Exchange RoundRobinPartitioning({n})" in docs_plan, docs_plan
    assert same_two is two
    assert "Exchange" not in two_plan, two_plan


def _env_reads(tree: ast.AST) -> list[str]:
    """Names read through ``os.environ[...]``, ``os.environ.get(...)``,
    ``os.getenv(...)`` or ``... in os.environ``; a non-literal name reads
    as ``<dynamic>``."""

    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    def name_of(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and is_environ(node.value):
            names.append(name_of(node.slice))
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_get = f.attr in ("get", "setdefault") and is_environ(f.value)
            getenv = f.attr == "getenv"
            if (env_get or getenv) and node.args:
                names.append(name_of(node.args[0]))
        elif isinstance(node, ast.Compare) and any(
            is_environ(c) for c in node.comparators
        ):
            names.append(name_of(node.left))
    return names


def test_package_reads_only_deployment_env_vars():
    reads = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _env_reads(ast.parse(path.read_text(), str(path))):
            reads.setdefault(name, []).append(str(path.relative_to(PACKAGE)))
    assert set(reads) == DEPLOYMENT_ENV_VARS, reads
