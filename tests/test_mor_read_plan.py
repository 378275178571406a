"""The merge-on-read read plan: the ``commit_time`` layer of
``LakeTable.incremental`` and the merge skip of ``_merged_read``,
against the full merge.

Each case builds the same history twice, with the same instants, and
then takes the plan's inputs out of every manifest entry of the second
copy (no ``ct_range``, no ``unique``: a table written before they
existed), so that each read of that copy opens every in-range file and
merges them. Every read must return the same rows on both copies. A
read of one ``unique`` file without tombstones plans no aggregate;
every other MOR read still does."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable
from tests.test_cow_driver import _df
from tests.test_lake_fold import STATS, _rows

MOR = "MERGE_ON_READ"


def _table(spark, tmp, name, plan, **kw):
    return LakeTable(spark, str(tmp), plan, name, ["k"], "ver",
                     table_type=MOR, stats_columns=STATS, **kw)


def _twin(spark, tmp, name, history, **kw):
    """``history(t)`` on two copies of one table: (planned, merged),
    the second with its manifests stripped (:func:`_stripped`)."""
    out = []
    for plan in ("planned", "merged"):
        t = _table(spark, tmp, name, plan, **kw)
        history(t)
        out.append(t)
    return out[0], _stripped(out[1])


def _stripped(t):
    """A fresh handle on ``t`` after every file entry of its commit log
    (manifests and live-file checkpoints) lost ``ct_range`` and
    ``unique``."""
    for root, _dirs, names in os.walk(t.tl.commits_dir):
        for n in names:
            if not n.endswith(".json"):
                continue
            with open(os.path.join(root, n)) as fh:
                m = json.load(fh)
            for f in m.get("added", []) + m.get("live_files", []):
                f.pop("ct_range", None)
                f.pop("unique", None)
            with open(os.path.join(root, n), "w") as fh:
                json.dump(m, fh)
    return _table(t.spark, os.path.dirname(os.path.dirname(t.path)),
                  t.table, "merged", payload=t.payload)


def _merges(df) -> bool:
    return LakeTable._plan_has_node(
        df._jdf.queryExecution().optimizedPlan(), ("Aggregate",)
    )


def _reads(t):
    """Every read the cases compare: the snapshot, the read-optimized
    view, and the incremental reads from the start, of each commit and
    from each commit on to the head."""
    tl = t.timeline()
    reads = {"snapshot": lambda: t.snapshot(),
             "read_optimized": lambda: t.read_optimized(),
             "incremental(None)": lambda: t.incremental(None)}
    for i, inst in enumerate(tl[1:]):
        reads[f"incremental({tl[i]}, {inst})"] = (
            lambda b=tl[i], e=inst: t.incremental(b, e)
        )
        reads[f"incremental({tl[i]})"] = lambda b=tl[i]: t.incremental(b)
    return reads


def _assert_same(pair):
    """The two copies read the same rows; the merged copy merges on
    every MOR read. Returns, per read of the planned copy, whether it
    merged."""
    planned, merged = pair
    got, want = _reads(planned), _reads(merged)
    assert got.keys() == want.keys()
    out = {}
    for name in got:
        a, b = got[name](), want[name]()
        assert sorted(map(repr, a.collect())) == sorted(
            map(repr, b.collect())
        ), name
        if name != "read_optimized":
            assert _merges(b), name
        out[name] = _merges(a)
    return out


def test_unique_delta_skips_the_merge(spark, tmp_path):
    """Two kernel deltas, each key once in each: the read of either
    commit alone returns its rows as scanned; a read of both merges."""

    def history(t):
        t.write(_df(spark, _rows(range(12), 1.0, 1)), op="upsert",
                instant="001")
        t.write(_df(spark, _rows([1, 2, 20], 2.0, 2) + _rows([3], None, 2)),
                op="upsert", instant="002")

    pair = _twin(spark, tmp_path, "uniq", history)
    t = pair[0]
    assert [f.get("unique") for f in t.tl.live_files()] == [True, True]
    merged = _assert_same(pair)
    assert not merged["incremental(001, 002)"]
    assert not merged["incremental(001)"]
    assert merged["incremental(None)"] and merged["snapshot"]
    assert t.incremental("001").count() == 4


def test_in_batch_duplicate_key_merges(spark, tmp_path):
    """A delta holding a key twice gets no marker: its read merges and
    the larger precombine wins."""

    def history(t):
        t.write(_df(spark, _rows(range(4), 1.0, 1)), op="upsert",
                instant="001")
        t.write(_df(spark, _rows([1], 3.0, 2) + _rows([1, 2], 2.0, 3)),
                op="upsert", instant="002")

    pair = _twin(spark, tmp_path, "dup", history)
    t = pair[0]
    assert "unique" not in t.tl.manifest("002")["added"][0]
    merged = _assert_same(pair)
    assert merged["incremental(001)"]
    assert {r.k: r.ver for r in t.incremental("001").collect()} == {
        "k01": 3.0, "k02": 2.0,
    }


def test_tombstone_delta_merges(spark, tmp_path):
    """A tombstone delta holds each key once, but its read still plans
    the tombstone join and the merge."""

    def history(t):
        t.write(_df(spark, _rows(range(6), 1.0, 1)), op="upsert",
                instant="001")
        t.write(spark.createDataFrame([("k02",), ("k09",)], "k string"),
                op="delete", instant="002")

    pair = _twin(spark, tmp_path, "tomb", history)
    t = pair[0]
    (f,) = t.tl.manifest("002")["added"]
    assert f["tombstones"] is True
    merged = _assert_same(pair)
    assert merged["incremental(001)"] and merged["snapshot"]
    assert t.snapshot().filter("k = 'k02'").count() == 0


def test_partial_update_compaction_skips(spark, tmp_path):
    """``partial_update`` writes and folds through Spark. The compaction
    output holds each key once, so a snapshot of it alone skips the
    merge; a later Spark-written delta has no marker and merges, and an
    incremental read from before the compaction still folds the sparse
    patches."""

    def history(t):
        t.write(_df(spark, _rows(range(6), 1.0, 1)), op="upsert",
                instant="001")
        patch = _df(spark, _rows([1, 2], 2.0, 2)).withColumn(
            "i", F.lit(None).cast("int")
        )
        t.write(patch, op="upsert", instant="002")
        t.compact(instant="003")

    pair = _twin(spark, tmp_path, "pu", history,
                 payload="partial_update")
    t = pair[0]
    (f,) = t.tl.live_files()
    assert f["unique"] is True
    merged = _assert_same(pair)
    assert not merged["snapshot"]
    # the patch left i as it was: the fold filled it from version 1
    assert {r.k: r.i for r in t.snapshot().collect()}["k01"] == 1
    for u in pair:
        u.write(_df(spark, _rows([4], 3.0, 3)), op="upsert", instant="004")
    assert "unique" not in t.tl.manifest("004")["added"][0]
    merged = _assert_same((t, _stripped(pair[1])))
    assert merged["incremental(003)"] and merged["snapshot"]


def test_incremental_prunes_compaction_base(spark, tmp_path):
    """An incremental range that spans a compaction: the compaction's
    base file is added in range, but its rows keep commit times at or
    before ``begin``, so the ``commit_time`` layer drops it, and the one
    delta left is read with no merge. A range that starts earlier keeps
    the base file and merges."""

    def history(t):
        t.write(_df(spark, _rows(range(8), 1.0, 1)), op="upsert",
                instant="001")
        t.write(_df(spark, _rows([1, 2], 2.0, 2)), op="upsert",
                instant="002")
        t.compact(instant="003")
        t.write(_df(spark, _rows([2, 3], 3.0, 3)), op="upsert",
                instant="004")

    pair = _twin(spark, tmp_path, "span", history)
    t, m = pair
    base = t.tl.manifest("003")["added"][0]
    assert base["ct_range"] == ["001", "002"] and base["unique"] is True
    df = t.incremental("002")
    assert t.last_scan.considered == 2 and t.last_scan["commit_time"] == 1
    assert len(df.inputFiles()) == 1
    assert len(m.incremental("002").inputFiles()) == 2
    merged = _assert_same(pair)
    assert not merged["incremental(002)"]
    assert not merged["incremental(003, 004)"]
    assert merged["incremental(001)"]
    # a range that ends before any row of a file's commits keeps none
    t.incremental("002", "003").collect()
    assert t.last_scan["commit_time"] == 1
    assert sorted(r.k for r in t.incremental("002").collect()) == [
        "k02", "k03",
    ]
