"""Declarative data-quality expectations — the Deequ/Great-Expectations
nightly-audit primitive (Schelter et al. 2018, VLDB, "Automating
large-scale data quality verification"): a suite of column-level checks
evaluated in ONE scan, reported one row per check with exact violation
counts.

Scale shape: every row-level check (not-null, range, accepted values,
regex) folds to a SUM of 0/1 flags inside a single aggregation over one
pass of the table — map-side combined, no per-check jobs; uniqueness
checks ride the same aggregate as ``count(*) - count(distinct ...)``.
The report is #checks rows regardless of table size, and the whole
thing is plain conditional aggregation — exactly replayable in ANSI SQL
(q168).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(col: str) -> tuple[str, str, Column]:
    """Violation flag: NULL value."""
    return (f"not_null({col})", col, F.col(col).isNull())


def in_range(col: str, lo, hi) -> tuple[str, str, Column]:
    """Violation flag: value outside [lo, hi] (NULLs pass — compose
    with :func:`not_null` to forbid them)."""
    c = F.col(col)
    return (
        f"in_range({col},{lo},{hi})",
        col,
        c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))),
    )


def accepted_values(col: str, values: list) -> tuple[str, str, Column]:
    """Violation flag: non-NULL value outside the accepted set."""
    c = F.col(col)
    return (
        f"accepted_values({col})",
        col,
        c.isNotNull() & ~c.isin(values),
    )


def matches_regex(col: str, pattern: str) -> tuple[str, str, Column]:
    """Violation flag: non-NULL value not fully matching ``pattern``."""
    c = F.col(col)
    return (
        f"matches_regex({col})",
        col,
        c.isNotNull() & ~c.rlike(pattern),
    )


def unique(cols: list[str]) -> tuple[str, str, None]:
    """Uniqueness check over a column tuple: violations = number of
    surplus rows (``count(*) - count(distinct tuple)``)."""
    return (f"unique({','.join(cols)})", ",".join(cols), None)


def expectation_report(df: DataFrame, checks: list[tuple]) -> DataFrame:
    """Evaluate all checks in one aggregation pass: ``(check, column,
    n_rows, n_violations, ok)`` — one row per check, insertion order
    irrelevant (the report is a set).  Row-level checks sum their
    violation flags; ``unique`` checks count surplus rows via distinct
    counts in the SAME aggregate."""
    if not checks:
        raise ValueError("expectation_report needs at least one check")
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, (_name, target, flag) in enumerate(checks):
        if flag is None:
            cols = [F.col(c) for c in target.split(",")]
            aggs.append(
                (F.count(F.lit(1)) - F.countDistinct(*cols))
                .cast("long")
                .alias(f"_v{i}")
            )
        else:
            aggs.append(
                F.sum(flag.cast("long")).cast("long").alias(f"_v{i}")
            )
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check"),
                F.lit(target).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_v{i}").alias("n_violations"),
                (F.col(f"_v{i}") == 0).alias("ok"),
            )
            for i, (name, target, _flag) in enumerate(checks)
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


class ExpectationGateError(RuntimeError):
    """A fail-fast expectation gate found violations — the pipeline
    fronted by the gate must not run any downstream stage."""

    def __init__(self, failed: list[str]):
        super().__init__(f"expectation gate failed: {failed}")
        self.failed = failed


def expectation_gate(
    df: DataFrame, checks: list[tuple], report_sink: str | None = None
) -> list:
    """Fail-fast front of a curation pipeline: evaluate ``checks`` in
    the usual one scan, optionally persist the report (durable evidence
    of WHY a run aborted), and raise :class:`ExpectationGateError`
    naming every failed check — callers sequence this BEFORE any
    curation stage so malformed input costs one audit scan, never a
    poisoned multi-stage run (tools/curation_16x_probe.py stage 0).
    Returns the collected report rows on success."""
    report = expectation_report(df, checks)
    if report_sink is not None:
        report.write.mode("overwrite").parquet(report_sink)
        rows = df.sparkSession.read.parquet(report_sink).collect()
    else:
        rows = report.collect()
    failed = sorted(r["check"] for r in rows if not r["ok"])
    if failed:
        raise ExpectationGateError(failed)
    return rows
