"""Footer-planned index probes (r10): shards are sorted runs in small
row groups; `planned_probe_read` must (a) return exact hits, (b) read
only the stats-matched row groups and gate on MATCHED bytes (not file
bytes) — the property that keeps point reads flat at 100× — and
(c) stay exact on legacy unsorted shards (no stats advantage, whole
file read)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from emr_hudi_example_spark.lake import LakeTable
from emr_hudi_example_spark.lake.index import planned_probe_read


def _table(spark, tmp_path, **kw):
    return LakeTable(
        spark, str(tmp_path), "t", "p", ["k"], "ver", **kw
    )


def _sorted_shard(path: str, n: int = 200_000, rg_rows: int = 10_000):
    keys = [f"{i:012d}" for i in range(n)]  # already sorted
    fps = [f"data/001/f{i % 16}" for i in range(n)]
    pq.write_table(
        pa.table({"key": keys, "fp": fps}), path, row_group_size=rg_rows
    )
    return keys, fps


def test_planned_probe_exact_and_row_group_bounded(spark, tmp_path):
    t = _table(spark, tmp_path)
    shard = str(tmp_path / "s.parquet")
    keys, fps = _sorted_shard(shard)
    md = pq.ParquetFile(shard).metadata
    assert md.num_row_groups >= 10  # multi-group file or the test is vacuous

    # exact single-key hit
    got = planned_probe_read(
        [shard], "key", {keys[123_456]}, "fp", t.driver_probe_max_bytes
    )
    assert got == {fps[123_456]}
    # absent key: empty is a REAL answer
    assert planned_probe_read(
        [shard], "key", {"zzz"}, "fp", t.driver_probe_max_bytes
    ) == set()
    # multi-operand across distant row groups
    ops = {keys[5], keys[99_999], keys[199_999]}
    assert planned_probe_read(
        [shard], "key", ops, "fp", t.driver_probe_max_bytes
    ) == {
        fps[5], fps[99_999], fps[199_999]
    }

    # the gate compares MATCHED bytes: shrink the gate below the FILE
    # size but above one row group — a point probe must still be
    # served driver-side (this is the flat-at-100x property)
    one_rg = md.row_group(0).total_byte_size
    t.driver_probe_max_bytes = max(one_rg * 3, 1)
    assert os.path.getsize(shard) > t.driver_probe_max_bytes
    got = planned_probe_read(
        [shard], "key", {keys[42]}, "fp", t.driver_probe_max_bytes
    )
    assert got == {fps[42]}
    # ... while a full-range operand set trips it -> Spark path (None)
    every_20th = set(keys[::20_000])
    assert len(every_20th) >= 10
    assert (
        planned_probe_read(
            [shard], "key", every_20th, "fp", t.driver_probe_max_bytes
        )
        is None
    )


def test_planned_probe_legacy_unsorted_shard_still_exact(spark, tmp_path):
    """Pre-r10 sidecars are unsorted single-row-group files: stats span
    the full range, every group matches, and the read degrades to the
    old whole-file scan — exact either way."""
    t = _table(spark, tmp_path)
    shard = str(tmp_path / "u.parquet")
    n = 50_000
    keys = [f"{(i * 7919) % n:012d}" for i in range(n)]  # scrambled
    fps = [f"data/001/f{i % 4}" for i in range(n)]
    pq.write_table(pa.table({"key": keys, "fp": fps}), shard)
    want = {fps[i] for i, k in enumerate(keys) if k == f"{777:012d}"}
    assert want
    got = planned_probe_read(
        [shard], "key", {f"{777:012d}"}, "fp", t.driver_probe_max_bytes
    )
    assert got == want


def test_planned_probe_file_count_bound(spark, tmp_path):
    t = _table(spark, tmp_path)
    fake = [str(tmp_path / f"f{i}.parquet") for i in range(4097)]
    assert (
        planned_probe_read(fake, "key", {"x"}, "fp", t.driver_probe_max_bytes)
        is None
    )


def test_spark_built_index_is_sorted_runs(spark, tmp_path):
    """The Spark sidecar build (record index, >64-file commits force
    the distributed path) must produce key-sorted shard files so the
    footer plan can prune row groups."""
    from pyspark.sql import functions as F

    t = _table(spark, tmp_path, record_index=True, index_shards=4)
    df = (
        spark.range(20_000)
        .select(
            F.col("id").cast("int").alias("k"),
            F.lit(1).cast("long").alias("ver"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        .repartition(80)  # >64 files: Spark build path
    )
    t.write(df, op="insert", instant="001")
    idx_root = os.path.join(t.index_dir, t.timeline()[-1])
    checked = 0
    for root, _dirs, fns in os.walk(idx_root):
        for fn in fns:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            tbl = pq.read_table(os.path.join(root, fn), columns=["key"])
            col = tbl.column("key").to_pylist()
            assert col == sorted(col), "shard file not a sorted run"
            checked += 1
    assert checked >= 4
    # and the point read still works end-to-end through the plan
    out = t.snapshot(predicate=[("_record_key", "=", "12345")])
    assert out.count() == 1

def test_affected_files_fused_planning_large_batch(spark, tmp_path):
    """r14 fusion, pinned r15 (verdict #6): for a batch past
    ``driver_probe_max_keys`` landing in MULTI-FILE partitions —
    the at-scale ingest shape — partition discovery and the batch key
    range ride ONE aggregate: ``_key_hit_files`` receives the
    pre-fused minmax (no second full-batch min/max pass), and total
    planning jobs stay bounded (the pre-r14 shape paid one extra
    batch-wide aggregation job here)."""
    from pyspark.sql import functions as F

    t = LakeTable(
        spark, str(tmp_path), "t", "fuse", ["k"], "ver",
        partition_keys=["p"],
    )

    def rows(lo, hi, ver=1):
        return spark.range(lo, hi).select(
            F.col("id").cast("string").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"),
            F.lit(ver).cast("long").alias("ver"),
        )

    t.write(rows(0, 1500).coalesce(2), op="insert", instant="001")
    t.write(rows(1500, 3000).coalesce(2), op="insert", instant="002")
    assert t.driver_probe_max_keys == 1024  # the shape under test
    batch = t._stamp(rows(500, 2000, ver=2), "003")

    captured = {}
    orig = t._key_hit_files

    def spy(c, b, minmax=None):
        captured["minmax"] = minmax
        return orig(c, b, minmax=minmax)

    t._key_hit_files = spy
    st = spark.sparkContext.statusTracker()

    def last_job_id() -> int:
        # job ids are sequential; the NUMBER of retained jobs drops by
        # 100 whenever the status store evicts past
        # spark.ui.retainedJobs (1000), which a long session crosses
        return max(st.getJobIdsForGroup(None), default=-1)

    j0 = last_job_id()
    affected, _old = t._affected_files(batch)
    jobs_fused = last_job_id() - j0
    # the fusion itself: the key range arrived pre-fused
    assert captured.get("minmax") is not None
    assert captured["minmax"][0] is not None
    assert affected  # 1024+ keys hit files in both partitions

    # self-calibrating regression pin: force the pre-fusion shape
    # (minmax dropped, _key_hit_files re-derives it with its own
    # batch-wide aggregation) and require the fused path to plan in
    # strictly fewer Spark jobs on the identical batch
    t._key_hit_files = lambda c, b, minmax=None: orig(c, b, minmax=None)
    j1 = last_job_id()
    affected2, _old2 = t._affected_files(batch)
    jobs_unfused = last_job_id() - j1
    assert [f["path"] for f in affected2] == [f["path"] for f in affected]
    assert jobs_fused < jobs_unfused, (jobs_fused, jobs_unfused)
