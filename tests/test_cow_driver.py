"""The in-driver copy-on-write keyed rewrite (``lake/fold.py``:
``collect`` and ``rewrite``) against the Spark route it stands in for.

Each case builds the same history twice, with the same instants, and
runs one keyed write on both copies: one through the driver route, one
with the driver gate shut (``driver_probe_max_bytes = 0``), which sends
``_keyed_rewrite`` down the Spark route. The table's rows, read back
through Spark, the commit's manifest (schema; the added files' rows,
key range and column stats; the replaced files) and the write's
:class:`ScanReport` must be equal. A Spark write leaves
a ``_SUCCESS`` marker in the commit's data dir and the kernel does not,
which tells the routes apart."""

from __future__ import annotations

import datetime
import json
import os
import re
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pa_pq
import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable
from emr_hudi_example_spark.lake import fold, index
from emr_hudi_example_spark.lake.index import (
    DRIVER_BUILD_MAX_FILES,
    DRIVER_BUILD_MAX_ROWS,
    driver_buildable,
)
from tests.harness import count_jobs
from tests.test_lake_fold import SCHEMA, STATS, _rows

_UUID = re.compile(r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _twin(spark, tmp, name, history, op, **kw):
    """Run ``history(t)`` on two copies of one COW table, then ``op(t)``
    on each, the second with the driver gate shut. Returns one
    ``(table, op result, jobs, scan report)`` per route."""
    out = []
    for route in ("driver", "spark"):
        t = LakeTable(spark, str(tmp), route, name, ["k"], "ver",
                      stats_columns=STATS, **kw)
        history(t)
        if route == "spark":
            t.driver_probe_max_bytes = 0
        jobs, inst = count_jobs(spark, lambda: op(t))
        out.append((t, inst, jobs, t.last_scan))
    return out


def _one_file(added):
    """The manifest entry of ``added`` as one file: the kernel writes
    one, where a Spark rewrite with no shuffle (a delete) writes one
    per affected file."""
    stats = {}
    for f in added:
        for c, (lo, hi) in f.get("col_stats", {}).items():
            have = stats.setdefault(c, [lo, hi])
            have[:] = [min(have[0], lo), max(have[1], hi)]
    keys = [f for f in added if f["key_min"] is not None]
    return {
        "kind": sorted({f["kind"] for f in added}),
        "partition": sorted({json.dumps(f["partition"]) for f in added}),
        "rows": sum(f["rows"] for f in added),
        "key_min": min((f["key_min"] for f in keys), default=None),
        "key_max": max((f["key_max"] for f in keys), default=None),
        "col_stats": stats,
    }


def _state(t, inst):
    """(rows of the snapshot, the manifest of ``inst``: its schema, its
    added files as one, its replaced files but for their names' random
    part; None when ``inst`` published nothing)."""
    rows = sorted(map(repr, t.snapshot().collect()))
    if inst is None:
        return rows, None
    with open(os.path.join(t.tl.commits_dir, inst + ".json")) as fh:
        m = json.load(fh)
    return rows, {
        "schema": m["schema"],
        "added": _one_file(m["added"]),
        "replaced": [_UUID.sub("", p) for p in m["replaced"]],
    }


def _spark_wrote(t, inst) -> bool:
    return os.path.exists(os.path.join(t.data_dir, inst, "_SUCCESS"))


def _assert_same(pair, driver_route=True):
    """The two routes' results are equal; the first ran the driver
    route (with ``driver_route``) and the second the Spark route."""
    (td, id_, jd, sd), (ts, is_, js, ss) = pair
    assert id_ == is_
    assert _state(td, id_) == _state(ts, is_)
    assert sd == ss
    if id_ is not None:
        assert _spark_wrote(td, id_) is not driver_route
        assert _spark_wrote(ts, is_)
    return td, id_, sd


def _base(spark):
    """Twelve keys in four files of three, every column type the
    kernel serves."""

    def history(t):
        t.write(_df(spark, _rows(range(12), 1.0, 1)).repartition(4, "i"),
                op="insert", instant="001")

    return history


@pytest.mark.parametrize("index", [{}, {"bloom_index": True},
                                   {"record_index": True}])
def test_upsert_duplicates_null_nan_and_pruning(spark, tmp_path, index):
    """In-batch duplicate keys (the larger precombine wins), a null
    precombine (loses to any value), NaN (beats every value), new keys,
    and a multi-file table where the key range and the key scan (or
    the bloom / record index) prune."""

    def op(t):
        rows = (
            _rows([1], 2.0, 2) + _rows([1], 3.0, 3)  # duplicate: 3.0 wins
            + _rows([2], None, 2)  # null loses to the stored 1.0
            + _rows([3], None, 2) + _rows([3], 5.0, 3)
            + _rows([4], float("nan"), 2)  # NaN beats the stored 1.0
            + _rows([20], None, 2) + _rows([21], float("nan"), 2)
        )
        # a key inside a file's key range that no file holds
        rows.append(("k01a",) + rows[0][1:])
        return t.write(_df(spark, rows), op="upsert", instant="002")

    _t, inst, scan = _assert_same(
        _twin(spark, tmp_path, "up", _base(spark), op, **index)
    )
    assert inst == "002"
    assert scan.considered == 4 and scan.kept < 4


def test_batch_over_probe_key_cap(spark, tmp_path):
    """A batch with more keys than ``driver_probe_max_keys`` plans
    through the Spark layers on both routes (the driver route with the
    collected key range) and still merges in-driver."""

    def history(t):
        _base(spark)(t)
        t.driver_probe_max_keys = 2

    _t, _inst, scan = _assert_same(_twin(
        spark, tmp_path, "keys", history,
        lambda t: t.write(_df(spark, _rows([1, 2, 10], 2.0, 2)),
                          op="upsert", instant="002"),
    ))
    assert scan["key_range"] + scan["key_scan"] > 0


def test_delete_and_delete_everything(spark, tmp_path):
    """A delete of present and absent keys; then one that empties the
    only file it touches."""

    def history(t):
        _base(spark)(t)
        t.write(_df(spark, _rows([5, 6], 2.0, 2)), op="upsert",
                instant="002")

    def op(t):
        keys = spark.createDataFrame(
            [("k00",), ("k05",), ("k07",), ("k99",)], "k string"
        )
        return t.write(keys, op="delete", instant="003")

    t, _inst, _scan = _assert_same(
        _twin(spark, tmp_path, "del", history, op)
    )
    gone = {r.k for r in t.snapshot().collect()}
    assert not gone & {"k00", "k05", "k07"} and len(gone) == 9

    def wipe(t):
        t.write(_df(spark, _rows([30, 31], 1.0, 1)).coalesce(1),
                op="insert", instant="001")
        t.write(_df(spark, _rows([32], 1.0, 1)), op="insert",
                instant="002")

    def op2(t):
        keys = spark.createDataFrame([("k30",), ("k31",)], "k string")
        return t.write(keys, op="delete", instant="003")

    t, inst, _scan = _assert_same(
        _twin(spark, tmp_path, "wipe", wipe, op2)
    )
    assert [r.k for r in t.snapshot().collect()] == ["k32"]


def test_merge_into(spark, tmp_path):
    """The COW leg of ``merge_into``: matched rows update or delete,
    unmatched ones insert, in one rewrite."""

    def op(t):
        s = _df(spark, _rows([1, 2, 40], 5.0, 3)).withColumn(
            "act", F.when(F.col("k") == "k02", "d").otherwise("u")
        )
        return t.merge_into(
            s,
            update_set={"ver": "s.ver", "i": "s.i"},
            delete_condition="s.act = 'd'",
            instant="002",
        )

    t, _inst, _scan = _assert_same(
        _twin(spark, tmp_path, "merge", _base(spark), op)
    )
    got = {r.k: r.ver for r in t.snapshot().collect()}
    assert got["k01"] == 5.0 and "k02" not in got and got["k40"] == 5.0


def test_added_column_and_widening(spark, tmp_path):
    """A batch with a new column and ``i`` widened int→long: the old
    rows read the new column as null and ``i`` upcast."""

    def op(t):
        b = _df(spark, _rows([2, 50], 2.0, 2))
        b = b.withColumn("i", F.col("i").cast("long")).withColumn(
            "extra", F.concat(F.col("k"), F.lit("!"))
        )
        return t.write(b, op="upsert", instant="002")

    t, inst, _scan = _assert_same(
        _twin(spark, tmp_path, "evolve", _base(spark), op)
    )
    schema = t._stored_schema(inst)
    assert schema["i"].dataType.simpleString() == "bigint"
    assert schema.fieldNames()[-1] == "extra"


def test_empty_batches(spark, tmp_path):
    """An empty upsert on an existing table publishes nothing on both
    routes (the driver route writes nothing); a checkpointed one
    publishes, rewriting the file its planning kept."""
    empty = lambda: _df(spark, []).limit(0)  # noqa: E731

    def one_file(t):
        t.write(_df(spark, _rows(range(4), 1.0, 1)).coalesce(1),
                op="insert", instant="001")

    pair = _twin(spark, tmp_path, "none", one_file,
                 lambda t: t.write(empty(), op="upsert", instant="002"))
    _assert_same(pair)
    for t, inst, _jobs, _scan in pair:
        assert inst is None and t.timeline() == ["001"]
        assert not os.path.exists(os.path.join(t.data_dir, "002"))

    cp = {"source_id": "s", "batch_id": 1}
    _t, inst, _scan = _assert_same(_twin(
        spark, tmp_path, "cp", one_file,
        lambda t: t.write(empty(), op="upsert", instant="002",
                          checkpoint=cp),
    ))
    assert inst == "002"


@pytest.mark.parametrize("keys", [[1, 2, 3], [1, 2, 3, 4]])
def test_over_cap_batch_falls_back(spark, tmp_path, monkeypatch, keys):
    """A batch under the row cap whose rows with the table's exceed it
    (the rows the rewrite would hold) takes the Spark route, with the
    same result; at the cap it takes the driver route."""
    monkeypatch.setattr(index, "DRIVER_BUILD_MAX_ROWS", 5)

    def history(t):
        t.write(_df(spark, _rows([1, 2], 1.0, 1)).coalesce(1),
                op="insert", instant="001")

    _assert_same(_twin(
        spark, tmp_path, "cap", history,
        lambda t: t.write(_df(spark, _rows(keys, 2.0, 2)),
                          op="upsert", instant="002"),
    ), driver_route=len(keys) + 2 <= 5)


def test_live_set_over_gate_skips_the_collect(spark, tmp_path, monkeypatch):
    """A small batch into a table whose live files exceed the driver
    gate takes the Spark route without collecting the batch, even when
    the files it touches would fit: the gate is checked on the head's
    live set before the collect."""

    def history(t):
        _base(spark)(t)
        live = t.tl.live_files()
        t.driver_probe_max_bytes = sum(f["bytes"] for f in live) - 1
        assert driver_buildable(t, live[:1])

    collects = []
    monkeypatch.setattr(fold, "_collected", lambda *a: collects.append(a))
    _assert_same(_twin(
        spark, tmp_path, "gate", history,
        lambda t: t.write(_df(spark, _rows([1], 2.0, 2)),
                          op="upsert", instant="002"),
    ), driver_route=False)
    assert not collects


def test_decline_after_collect_merges_the_collected_rows(
    spark, tmp_path, monkeypatch
):
    """When the kernel declines after the collect (here: a NaN in a
    float stats column), the Spark route merges the collected rows, not
    a second read of the source. The source file changes under the
    write between the collect and the merge: a merge of the second read
    would upsert a key the planning never saw, next to its old row."""
    src = tmp_path / "src.json"
    src.write_text('{"k": "k01", "ver": 2.0}\n')
    t = LakeTable(spark, str(tmp_path), "t", "nd", ["k"], "ver",
                  stats_columns=STATS)
    _base(spark)(t)
    batch = (
        spark.read.schema("k string, ver double").json(str(src))
        .join(_df(spark, _rows([1, 5], 1.0, 1)).drop("ver"), "k")
        .withColumn("f", F.lit(float("nan")).cast("float"))
        .select(*_df(spark, []).columns)
    )
    rewrite = fold.rewrite

    def changed_source(*args):
        src.write_text('{"k": "k05", "ver": 2.0}\n')  # same length
        return rewrite(*args)

    monkeypatch.setattr(fold, "rewrite", changed_source)
    inst = t.write(batch, op="upsert", instant="002")
    assert _spark_wrote(t, inst)
    got = sorted((r.k, r.ver) for r in t.snapshot().collect())
    assert len(got) == 12 and ("k01", 2.0) in got and ("k05", 1.0) in got


def test_nan_stats_column_declines(spark, tmp_path):
    """A NaN in a float ``stats_columns`` column of the result takes the
    Spark route: Arrow's footer max would leave the NaN out."""

    def op(t):
        b = _df(spark, _rows([3], 2.0, 2)).withColumn(
            "f", F.lit(float("nan")).cast("float")
        )
        return t.write(b, op="upsert", instant="002")

    _assert_same(_twin(spark, tmp_path, "nan", _base(spark), op),
                 driver_route=False)


def test_dm_shaped_upsert_is_one_collect(spark, tmp_path):
    """A mart-shaped upsert (a small batch into a one-file table) runs
    one Spark job, the batch collect, and writes one file: no ``.crc``,
    no ``_SUCCESS``."""
    t = LakeTable(spark, str(tmp_path), "d", "dm", ["k"], "ver")
    t.write(_df(spark, _rows(range(8), 1.0, 1)).coalesce(1), op="upsert")
    jobs, inst = count_jobs(spark, lambda: t.write(
        _df(spark, _rows([1, 9], 2.0, 2)), op="upsert"))
    assert jobs == 1, jobs
    (name,) = os.listdir(os.path.join(t.data_dir, inst))
    assert name.endswith(".parquet")
    assert t.snapshot().count() == 9


def _gate_table(budget=32 << 20):
    return SimpleNamespace(driver_io_local=True, driver_probe_max_bytes=budget)


def test_driver_gate_caps_rows():
    """The shared driver gate caps the manifest rows of the files it
    admits at ``DRIVER_BUILD_MAX_ROWS``; a file with no recorded row
    count declines, and a zero byte budget turns the gate off."""
    half = DRIVER_BUILD_MAX_ROWS // 2
    files = [{"path": "a", "bytes": 10, "rows": half},
             {"path": "b", "bytes": 10, "rows": DRIVER_BUILD_MAX_ROWS - half}]
    t = _gate_table()
    assert driver_buildable(t, files)
    files[1]["rows"] += 1
    assert not driver_buildable(t, files)
    assert not driver_buildable(t, [{"path": "a", "bytes": 10}])
    assert not driver_buildable(
        t, [{"path": str(i), "bytes": 1, "rows": 1}
            for i in range(DRIVER_BUILD_MAX_FILES + 1)]
    )
    assert driver_buildable(t, [])
    assert not driver_buildable(_gate_table(0), [])


def test_pyarrow_int96_declines(tmp_path):
    """pyarrow writes a pre-1970 INT96 timestamp with a negative
    nanos-of-day that its own microsecond read takes as unsigned
    (584 years late); the kernels write INT64 micros and decline such a
    file, which Spark reads right."""
    ts = pa.array([datetime.datetime(1821, 1, 1, 0, 0, 3, 250000)],
                  pa.timestamp("us", tz="UTC"))
    want = pa.schema([("tm", pa.timestamp("us", tz="UTC"))])
    pa_pq.write_table(pa.table({"tm": ts}), str(tmp_path / "old.parquet"),
                      use_deprecated_int96_timestamps=True)
    t = SimpleNamespace(path=str(tmp_path))
    assert fold._read(t, [{"path": "old.parquet"}], want) is None
    pa_pq.write_table(pa.table({"tm": ts}), str(tmp_path / "new.parquet"))
    got = fold._read(t, [{"path": "new.parquet"}], want)
    assert got.column("tm").to_pylist() == ts.to_pylist()
