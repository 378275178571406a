"""Metadata-only bootstrap (Hudi METADATA_ONLY analog): adopt an
existing parquet directory as the initial commit WITHOUT rewriting
data — reads synthesize the meta columns, upserts copy-on-write only
the key-hit files (incremental migration), and the maintenance jobs
(clean / restore / compact) never delete the user-owned source files.
Full-rewrite cousin: ``pipelines/bootstrap.py`` (SRC/Hive2Hudi.scala).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable

from .conftest import SF_SMOKE


def _count_parquet(root: str) -> int:
    if not os.path.isdir(root):
        return 0
    return sum(
        1
        for _r, _d, fns in os.walk(root)
        for f in fns
        if f.endswith(".parquet")
    )


def _customer(spark):
    return spark.read.parquet(
        os.path.join(SF_SMOKE, "customer.parquet")
    ).withColumn("ver", F.lit(1).cast("long"))


@pytest.fixture()
def src_partitioned(spark, tmp_path):
    src = str(tmp_path / "src")
    _customer(spark).write.partitionBy("c_mktsegment").parquet(src)
    return src


def _table(spark, tmp_path, **kw):
    return LakeTable(
        spark,
        str(tmp_path),
        "q",
        "boot",
        ["c_custkey"],
        "ver",
        **kw,
    )


def test_bootstrap_is_zero_rewrite_and_snapshot_correct(
    spark, tmp_path, src_partitioned
):
    t = _table(spark, tmp_path, partition_keys=["c_mktsegment"])
    inst = t.bootstrap_metadata_only(src_partitioned, instant="001")
    assert inst == "001"
    # the defining property: not one data file written by the engine
    assert _count_parquet(t.data_dir) == 0
    assert all(f["external"] for f in t.tl.live_files())
    snap = t.snapshot()
    expect = _customer(spark)
    assert snap.count() == expect.count()
    # meta columns synthesized: commit time, record key, partition path
    row = snap.filter(F.col("c_custkey") == 1).collect()[0]
    assert row["_commit_time"] == "001"
    assert row["_record_key"] == "1"
    assert row["_partition_path"] == f"c_mktsegment={row['c_mktsegment']}"
    # values survive byte-for-byte (spot-check an aggregate)
    got = snap.agg(F.sum("c_custkey")).collect()[0][0]
    want = expect.agg(F.sum("c_custkey")).collect()[0][0]
    assert got == want


def test_bootstrap_partition_filter_prunes_driver_side(
    spark, tmp_path, src_partitioned
):
    t = _table(spark, tmp_path, partition_keys=["c_mktsegment"])
    t.bootstrap_metadata_only(src_partitioned, instant="001")
    want = (
        _customer(spark)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .count()
    )
    assert (
        t.snapshot(partition_filter={"c_mktsegment": "BUILDING"}).count()
        == want
    )


def test_bootstrap_column_stats_skip_files(spark, tmp_path):
    # range-partitioned layout => tight per-file c_custkey footer ranges
    src = str(tmp_path / "src")
    (
        _customer(spark)
        .repartitionByRange(4, "c_custkey")
        .write.parquet(src)
    )
    t = _table(spark, tmp_path, stats_columns=["c_custkey"])
    t.bootstrap_metadata_only(src, instant="001")
    live = t.tl.live_files()
    assert len(live) == 4
    assert all("c_custkey" in f.get("col_stats", {}) for f in live)
    got = t.snapshot(predicate=[("c_custkey", "<", 5)])
    assert got.count() == 5  # keys 0..4
    assert t.last_scan.dropped >= 2  # upper-range files never scanned


def test_upsert_migrates_only_key_hit_files(
    spark, tmp_path, src_partitioned
):
    t = _table(spark, tmp_path, partition_keys=["c_mktsegment"])
    t.bootstrap_metadata_only(src_partitioned, instant="001")
    n_ext0 = len(t.tl.live_files())
    delta = (
        _customer(spark)
        .filter(
            (F.col("c_custkey") % 10 == 0)
            & (F.col("c_mktsegment") == "BUILDING")
        )
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
    )
    t.write(delta, op="upsert", instant="002")
    live = t.tl.live_files()
    ext = [f for f in live if f.get("external")]
    internal = [f for f in live if not f.get("external")]
    # only the BUILDING file was rewritten; every other partition is
    # still served from the adopted source file
    assert len(ext) == n_ext0 - 1
    assert len(internal) >= 1
    assert all(f["partition_path"] != "c_mktsegment=BUILDING" for f in ext)
    merged = t.snapshot()
    assert merged.count() == _customer(spark).count()
    assert (
        merged.filter(F.col("ver") == 2).count() == delta.count()
    )
    # and the replaced source file itself is untouched on disk
    replaced = t.tl.manifest("002")["replaced"]
    assert all(os.path.isabs(p) and os.path.exists(p) for p in replaced)


def test_key_scan_handles_mixed_internal_external_candidates(
    spark, tmp_path
):
    """>1 candidate forces the (_fp, key) scan — the union path where
    _metadata must be captured per branch. Unpartitioned table with 3
    adopted files + 1 engine file, upsert touching keys in only two."""
    src = str(tmp_path / "src")
    (
        _customer(spark)
        .repartitionByRange(3, "c_custkey")
        .write.parquet(src)
    )
    t = _table(spark, tmp_path)
    t.bootstrap_metadata_only(src, instant="001")
    # engine-written file joins the pool
    extra = (
        _customer(spark)
        .filter(F.col("c_custkey") < 0)  # empty: schema-align only
    )
    t.write(
        _customer(spark)
        .filter(F.col("c_custkey") == 0)
        .withColumn("ver", F.lit(2).cast("long")),
        op="upsert",
        instant="002",
    )
    assert extra.count() == 0
    live = t.tl.live_files()
    assert any(not f.get("external") for f in live)
    # now hit ONE adopted file (high keys) + the internal file (key 0)
    hi = (
        _customer(spark)
        .orderBy(F.col("c_custkey").desc())
        .limit(1)
        .withColumn("ver", F.lit(3).cast("long"))
    )
    delta = hi.unionByName(
        _customer(spark)
        .filter(F.col("c_custkey") == 0)
        .withColumn("ver", F.lit(3).cast("long"))
    )
    t.write(delta, op="upsert", instant="003")
    m = t.tl.manifest("003")
    # exactly two files rewritten: the internal key-0 file and the
    # adopted top-range file — the other adopted files carried over
    assert len(m["replaced"]) == 2
    snap = t.snapshot()
    assert snap.filter(F.col("ver") == 3).count() == 2
    assert snap.count() == _customer(spark).count()


def test_bootstrap_mor_appends_delta_without_touching_source(
    spark, tmp_path, src_partitioned
):
    t = _table(
        spark,
        tmp_path,
        partition_keys=["c_mktsegment"],
        table_type="MERGE_ON_READ",
    )
    t.bootstrap_metadata_only(src_partitioned, instant="001")
    delta = (
        _customer(spark)
        .filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t.write(delta, op="upsert", instant="002")
    # MOR: no adopted file replaced, delta appended engine-side
    assert t.tl.manifest("002")["replaced"] == []
    snap = t.snapshot()
    assert snap.count() == _customer(spark).count()
    assert snap.filter(F.col("ver") == 2).count() == delta.count()
    # delete via tombstone, then compact migrates everything inward
    t.write(
        _customer(spark).filter(F.col("c_custkey") == 0),
        op="delete",
        instant="003",
    )
    t.compact(instant="004")
    live = t.tl.live_files()
    assert all(not f.get("external") for f in live)
    assert t.snapshot().count() == _customer(spark).count() - 1
    # compaction replaced the adopted files in the manifest but never
    # deleted them from disk
    assert _count_parquet(str(tmp_path / "src")) > 0


def test_changes_cdc_over_bootstrap_commit(spark, tmp_path):
    src = str(tmp_path / "src")
    _customer(spark).write.parquet(src)
    t = _table(spark, tmp_path)
    t.bootstrap_metadata_only(src, instant="001")
    delta = (
        _customer(spark)
        .filter(F.col("c_custkey") == 7)
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t.write(delta, op="upsert", instant="002")
    ch = t.changes("001").collect()
    assert len(ch) == 1
    assert ch[0]["op"] == "update"


def test_clean_and_restore_never_delete_adopted_files(
    spark, tmp_path, src_partitioned
):
    t = _table(spark, tmp_path, partition_keys=["c_mktsegment"])
    t.bootstrap_metadata_only(src_partitioned, instant="001")
    before = _count_parquet(src_partitioned)
    t.write(
        _customer(spark).withColumn("ver", F.lit(2).cast("long")),
        op="upsert",
        instant="002",
    )
    t.write(
        _customer(spark).withColumn("ver", F.lit(3).cast("long")),
        op="upsert",
        instant="003",
    )
    t.clean(retain_commits=1)
    assert _count_parquet(src_partitioned) == before
    t.restore("001")
    assert _count_parquet(src_partitioned) == before
    # restored table still reads entirely from the adopted files
    assert t.snapshot().count() == _customer(spark).count()


def test_bootstrap_validations(spark, tmp_path, src_partitioned):
    t = _table(spark, tmp_path, partition_keys=["c_mktsegment"])
    with pytest.raises(ValueError, match="no parquet files"):
        t.bootstrap_metadata_only(str(tmp_path / "empty"))
    # layout mismatch: partitioned table, flat source
    flat = str(tmp_path / "flat")
    _customer(spark).write.parquet(flat)
    with pytest.raises(ValueError, match="partition dirs"):
        t.bootstrap_metadata_only(flat)
    t.bootstrap_metadata_only(src_partitioned, instant="001")
    with pytest.raises(ValueError, match="empty table"):
        t.bootstrap_metadata_only(src_partitioned)
    # missing precombine column
    t2 = LakeTable(
        spark, str(tmp_path), "q", "boot2", ["c_custkey"], "no_such_col"
    )
    with pytest.raises(ValueError, match="required columns"):
        t2.bootstrap_metadata_only(flat)


def test_bootstrap_string_key_ranges_prune_upsert_planning(
    spark, tmp_path
):
    """String single-key tables keep footer key ranges — upsert
    planning range-prunes adopted files driver-side with no I/O."""
    src = str(tmp_path / "src")
    (
        _customer(spark)
        .withColumn("c_name_key", F.col("c_name"))
        .repartitionByRange(4, "c_name_key")
        .write.parquet(src)
    )
    t = LakeTable(
        spark, str(tmp_path), "q", "bootsk", ["c_name_key"], "ver"
    )
    t.bootstrap_metadata_only(src, instant="001")
    live = t.tl.live_files()
    assert all(f["key_min"] is not None for f in live)
    one = (
        spark.read.parquet(src)
        .orderBy("c_name_key")
        .limit(1)
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t.write(one, op="upsert", instant="002")
    assert t.last_scan["key_range"] >= 2  # only the low-range file scanned
    assert len(t.tl.manifest("002")["replaced"]) == 1
