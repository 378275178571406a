"""The commit log (``lake/timeline.py``): its on-disk layout, its one
cache reset, and the Spark-free probes that drive it directly."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import AsyncCompactor, LakeTable

SF = "/root/testdata/sf0.001"
SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)

BASE_KEYS = [
    "instant", "action", "schema", "added", "replaced", "key_summary",
    "fence_token",
]


def _cust(spark, ver=1):
    return spark.read.parquet(f"{SF}/customer.parquet").withColumn(
        "ver", F.lit(ver).cast("long")
    )


def _layout(root: str, subdirs: list[str]) -> list[str]:
    """Relative paths of every file under ``root``'s ``subdirs``."""
    out = []
    for sub in subdirs:
        for d, _dirs, files in os.walk(os.path.join(root, sub)):
            out.extend(
                os.path.relpath(os.path.join(d, f), root) for f in files
            )
    return sorted(out)


def _keys(path: str) -> list[str]:
    with open(path) as fh:
        return list(json.load(fh))


def test_layout_pin(spark, tmp_path):
    """Every timeline file one small table's life writes, by relative
    path, and the key list of each, in order — the bytes the commit
    log puts on disk. Tables written by older builds must keep
    reading, so a change here is a format change."""
    t = LakeTable(
        spark, str(tmp_path), "db", "pin", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"],
    )
    t.write(_cust(spark), op="insert", instant="001")
    t.record_stream_offsets("q 1", 0, [{"endOffset": 7}])
    t.write(
        _cust(spark, 2).filter(F.col("c_custkey") % 7 == 0),
        op="upsert", instant="002",
        checkpoint={"source_id": "s", "batch_id": 1},
    )
    assert t.delete_partitions([{"c_mktsegment": "BUILDING"}], "003") > 0
    assert t.compact(instant="004") == "004"
    assert t.schedule_compaction(plan_id="p1") == "p1"
    x = t.run_compaction("p1")  # lands at a wall-clock instant
    assert x is not None and x > "004"
    assert t.schedule_compaction(plan_id="p2") == "p2"
    AsyncCompactor(t)._abandon("p2", RuntimeError("given up"))
    t.savepoint(x)
    assert t.archive_timeline(keep_commits=1) == ["001", "002", "003", "004"]
    assert t.timeline() == [x]

    got = [p.replace(x, "X") for p in
           _layout(t.path, ["_commits", "_savepoints", "_external"])]
    assert got == [
        "_commits/X.json",
        "_commits/_archived/001.json",
        "_commits/_archived/002.json",
        "_commits/_archived/003.json",
        "_commits/_archived/004.json",
        "_commits/_ckpt/004.json",
        "_commits/_compaction/_abandoned/p2.json",
        "_commits/_offsets/q_1.json",
        "_savepoints/X.json",
    ]
    c = os.path.join(t.path, "_commits")
    for inst in ("001", "003", "004"):
        assert _keys(os.path.join(c, "_archived", inst + ".json")) == BASE_KEYS
    assert _keys(os.path.join(c, "_archived", "002.json")) == BASE_KEYS + [
        "checkpoint", "stream_offsets",
    ]
    assert _keys(os.path.join(c, x + ".json")) == BASE_KEYS
    assert _keys(os.path.join(c, "_ckpt", "004.json")) == [
        "instant", "live_files",
    ]
    assert _keys(os.path.join(c, "_compaction", "_abandoned", "p2.json")) == [
        "plan_id", "scheduled_after", "strategy", "files",
        "abandoned_error", "abandoned_attempts",
    ]
    assert _keys(os.path.join(c, "_offsets", "q_1.json")) == [
        "query", "batch_id", "sources",
    ]
    assert _keys(os.path.join(t.path, "_savepoints", x + ".json")) == [
        "instant",
    ]

    # the metadata-only bootstrap registry is the other JSON a table root
    # holds outside the data and index dirs
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": ["a", "b"], "ver": [1, 1]}).to_parquet(
        src / "part-0.parquet"
    )
    b = LakeTable(spark, str(tmp_path), "db", "boot", ["k"], "ver")
    assert b.bootstrap_metadata_only(str(src), instant="001") == "001"
    assert _layout(b.path, ["_commits", "_savepoints", "_external"]) == [
        "_commits/001.json",
        "_external/bases.json",
    ]
    assert _keys(os.path.join(b.path, "_external", "bases.json")) == ["bases"]
    assert _keys(os.path.join(b.path, "_commits", "001.json")) == BASE_KEYS


def test_restore_forgets_fence_verdicts(spark, tmp_path):
    """A restore can free an instant id a fenced writer later renames
    a manifest into. The handle that judged the old holder of that id
    clean must judge the new manifest afresh, exactly as a fresh
    handle does."""

    def handle():
        return LakeTable(
            spark, str(tmp_path), "db", "rf", ["c_custkey"], "ver"
        )

    t = handle()
    t.write(_cust(spark), op="insert", instant="001")
    lease = os.path.join(t.path, "_lease")
    os.makedirs(lease)
    with open(os.path.join(lease, f"fence-{5:020d}.json"), "w") as fh:
        json.dump({"token": 5, "holder": "b", "timeline_head": "001"}, fh)
    # written under the file lock: no fencing token, so judged clean
    t.write(_cust(spark, 2).limit(3), op="upsert", instant="002")
    assert t.timeline() == ["001", "002"]
    assert t.restore("001") == ["002"]
    # a superseded lease holder (token 1 < fence 5) renames its late
    # manifest into the freed name
    commits = os.path.join(t.path, "_commits")
    with open(os.path.join(commits, "001.json")) as fh:
        zombie = dict(json.load(fh), instant="002", fence_token=1)
    with open(os.path.join(commits, "002.json"), "w") as fh:
        json.dump(zombie, fh)
    assert handle().timeline() == ["001"]
    assert t.timeline() == ["001"]


@pytest.fixture
def scripts_path():
    sys.path.insert(0, SCRIPTS)
    yield
    sys.path.remove(SCRIPTS)


def test_fence_probe_runs(scripts_path, capsys):
    """The fence probe drives a bare ``Timeline``: no Spark session."""
    import fence_probe

    fence_probe.probe(200)
    assert "fenced" in capsys.readouterr().out


def test_conflict_probe_check(scripts_path):
    """The conflict probe's fabricated window: a disjoint and an
    envelope-overlapping but file-disjoint publish pass; a real key
    overlap with one concurrent file aborts."""
    import conflict_probe

    from emr_hudi_example_spark.lake import ConcurrentWriteConflict
    from emr_hudi_example_spark.lake.timeline import Timeline

    d = conflict_probe.build(5, with_summary=True)
    try:
        t = Timeline(d)
        conflict_probe.check(t, conflict_probe._ours("disjoint"))
        conflict_probe.check(t, conflict_probe._ours("interleaved"))
        clash = [{
            "path": "ours/x.parquet", "partition_path": "p=a",
            "key_min": "k000000001", "key_max": "k000000003",
        }]
        with pytest.raises(ConcurrentWriteConflict, match="overlap"):
            conflict_probe.check(t, clash)
    finally:
        shutil.rmtree(d)
