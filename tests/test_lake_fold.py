"""The in-driver compaction fold (``lake/fold.py``) against the Spark
fold it stands in for.

Each case builds the same history twice, with the same instants, and
compacts both copies: one through the kernel, one with the driver gate
shut (``driver_probe_max_bytes = 0``), which sends ``_fold`` down the
Spark route. The compacted files are read back through Spark under the
stored schema, and their rows and manifest entries (all but the file
name and size) must be equal."""

from __future__ import annotations

import datetime
import decimal
import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from emr_hudi_example_spark.lake import LakeTable
from tests.harness import count_jobs

#: every column type the kernel serves; a double precombine, for NaN
SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("ver", T.DoubleType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("sh", T.ShortType()),
    T.StructField("b", T.ByteType()),
    T.StructField("bo", T.BooleanType()),
    T.StructField("f", T.FloatType()),
    T.StructField("dt", T.DateType()),
    T.StructField("tm", T.TimestampType()),
    T.StructField("dec", T.DecimalType(10, 2)),
    T.StructField("bin", T.BinaryType()),
])
STATS = ["i", "sh", "f", "dt", "tm", "dec", "bo"]


def _rows(keys, ver, tag):
    """One row per key; ``ver`` is a number, None or a per-key function.
    Dates and timestamps reach before the Gregorian switch and 1900,
    where a file without Spark's version key would need rebasing."""
    out = []
    for n in keys:
        v = ver(n) if callable(ver) else ver
        out.append((
            f"k{n:02d}", v, n * tag, n % 7, -n, n % 2 == 0, n / 4,
            datetime.date(1400 + 20 * n, 1 + n % 12, 1),
            datetime.datetime(1800 + 7 * n, 1, 1, 0, 0, n, 250_000 * tag),
            decimal.Decimal(n * tag) / 4, bytes([n, tag]),
        ))
    return out


def _twin(spark, tmp, name, tt, history, fold):
    """Run ``history(t)`` on two copies of one table, then ``fold(t)``
    on each, the second with the gate shut. Returns both tables and the
    jobs each fold issued."""
    out = []
    for route in ("kernel", "spark"):
        t = LakeTable(spark, str(tmp), route, name, ["k"], "ver",
                      table_type=tt, stats_columns=STATS)
        history(t)
        if route == "spark":
            t.driver_probe_max_bytes = 0
        jobs, inst = count_jobs(spark, lambda: fold(t))
        assert inst is not None
        out.append((t, inst, jobs))
    return out


def _compacted(t, inst):
    """(rows of the files ``inst`` added, read through Spark under the
    stored schema; those files' manifest entries without name and size)."""
    with open(os.path.join(t.tl.commits_dir, inst + ".json")) as fh:
        added = json.load(fh)["added"]
    schema = t._stored_schema(t.last_instant())
    rows = sorted(map(repr, t._read_files([f["path"] for f in added], schema).collect()))
    entries = [
        {k: v for k, v in f.items() if k not in ("path", "bytes")}
        for f in added
    ]
    return rows, entries


def _assert_same(pair):
    (tk, ik, jk), (ts, is_, js) = pair
    assert jk == 0 and js > 0, (jk, js)
    rows_k, entries_k = _compacted(tk, ik)
    rows_s, entries_s = _compacted(ts, is_)
    assert rows_k == rows_s
    assert entries_k == entries_s
    return rows_k


def test_mor_fold_matches_spark_route(spark, tmp_path):
    """Deletes then re-inserts, null and NaN precombines, precombine
    ties broken by commit time, a widened column and an added one."""

    def history(t):
        df = lambda rows: spark.createDataFrame(rows, SCHEMA)  # noqa: E731
        t.write(df(_rows(range(12), 1.0, 1)), op="upsert", instant="001")
        # 0-3 tie on ver: the later commit wins; 4-5 lose (ver 0.5);
        # 6 goes null (loses to 1.0), 7 NaN (beats every number)
        t.write(df(_rows(range(4), 1.0, 2) + _rows([4, 5], 0.5, 2)
                   + _rows([6], None, 2) + _rows([7], float("nan"), 2)),
                op="upsert", instant="002")
        t.write(spark.createDataFrame([("k08",), ("k09",), ("k10",)], "k string"),
                op="delete", instant="003")
        # k08 re-inserted after its delete, at a LOWER ver than the
        # dead row; k12 is new with a null ver; i widens to long and
        # a column is added (older files read them as upcast / null)
        late = df(_rows([8, 12], lambda n: None if n == 12 else 0.25, 3))
        late = late.withColumn("i", F.col("i").cast("long")).withColumn(
            "extra", F.col("k")
        )
        t.write(late, op="upsert", instant="004")

    rows = _assert_same(_twin(spark, tmp_path, "mor", "MERGE_ON_READ",
                              history, lambda t: t.compact(instant="005")))
    keys = [r.split("k='")[1][:3] for r in rows]
    assert sorted(keys) == [f"k{n:02d}" for n in range(13) if n not in (9, 10)]
    assert all("_deleted=False" in r for r in rows)


def test_cow_fold_keeps_insert_duplicates(spark, tmp_path):
    def history(t):
        df = lambda rows: spark.createDataFrame(rows, SCHEMA)  # noqa: E731
        t.write(df(_rows(range(6), 1.0, 1)), op="insert", instant="001")
        t.write(df(_rows([1, 2], 2.0, 2)), op="insert", instant="002")
        t.write(df(_rows([3], None, 3)), op="upsert", instant="003")

    rows = _assert_same(_twin(spark, tmp_path, "cow", "COPY_ON_WRITE",
                              history, lambda t: t.compact(instant="004")))
    assert len(rows) == 8


def test_run_compaction_fold_of_pinned_subset(spark, tmp_path):
    """A scheduled plan folds only its pinned files; a delta committed
    after the schedule stays live and merges on top at read."""

    def history(t):
        df = lambda rows: spark.createDataFrame(rows, SCHEMA)  # noqa: E731
        t.write(df(_rows(range(8), 1.0, 1)), op="upsert", instant="001")
        t.write(df(_rows([1, 2], 2.0, 2)), op="upsert", instant="002")
        t.write(spark.createDataFrame([("k03",)], "k string"), op="delete",
                instant="003")
        assert t.schedule_compaction() is not None
        t.write(df(_rows([2, 3], 3.0, 3)), op="upsert", instant="004")

    pair = _twin(spark, tmp_path, "plan", "MERGE_ON_READ", history,
                 lambda t: t.run_compaction())
    rows = _assert_same(pair)
    assert len(rows) == 7
    for t, _inst, _jobs in pair:
        got = {r["k"]: r["ver"] for r in t.snapshot().collect()}
        assert got["k02"] == 3.0 and got["k03"] == 3.0 and len(got) == 8


def test_declined_shapes_fold_through_spark(spark, tmp_path):
    """``sort_by`` clustering, and a NaN in a float stats column (Arrow's
    footer stats would leave it out of the max), take the Spark route."""
    t = LakeTable(spark, str(tmp_path), "d", "t", ["k"], "ver",
                  table_type="MERGE_ON_READ", stats_columns=["f"])
    t.write(spark.createDataFrame(_rows(range(6), 1.0, 1), SCHEMA),
            op="upsert", instant="001")
    t.write(spark.createDataFrame(_rows([1], 2.0, 2), SCHEMA),
            op="upsert", instant="002")
    jobs, _ = count_jobs(spark, lambda: t.compact(sort_by=["i"]))
    assert jobs > 0
    t.write(spark.createDataFrame(_rows([2], 3.0, 3), SCHEMA).withColumn(
        "f", F.lit(float("nan")).cast("float")), op="upsert")
    jobs, _ = count_jobs(spark, t.compact)
    assert jobs > 0
    got = {r["k"]: r["ver"] for r in t.snapshot().collect()}
    assert len(got) == 6 and got["k01"] == 2.0 and got["k02"] == 3.0
