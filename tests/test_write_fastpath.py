"""Write-planning driver fast path ⟷ Spark-path equivalence.

``_key_hit_files`` serves point-sized batches driver-side (one capped
collect, then bucket/index/range/bloom probes and the exact key scan as
Python/pyarrow). Selecting too MANY files only costs; selecting too FEW
silently drops merges. These tests pin A/B equality of the *selected
file set* between the fast path and the unchanged Spark path
(``driver_probe_max_keys = 0`` forces the fallback) across every index
regime, on the same table state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable

SF = "/root/testdata/sf0.001"


def cust(spark, ver=1):
    return (
        spark.read.parquet(f"{SF}/customer.parquet")
        .withColumn("ver", F.lit(ver).cast("long"))
    )


def build(spark, tmp, **kw):
    t = LakeTable(
        spark,
        str(tmp),
        "testdb",
        "t",
        record_keys=["c_custkey"],
        precombine="ver",
        partition_keys=kw.pop("partition_keys", ["c_mktsegment"]),
        **kw,
    )
    # two commits so several files exist per partition
    t.write(cust(spark).filter("c_custkey % 2 = 0"), op="insert", instant="001")
    t.write(cust(spark).filter("c_custkey % 2 = 1"), op="insert", instant="002")
    return t


def selected(t, batch) -> set[str]:
    live = t._live_files()
    return {f["path"] for f in t._key_hit_files(live, batch)}


REGIMES = [
    {},
    {"bloom_index": True},
    {"bucket_index": 8},
    {"record_index": True},
    {"global_index": True, "partition_keys": []},
]


@pytest.mark.parametrize("regime", REGIMES, ids=lambda r: "+".join(r) or "plain")
def test_fastpath_selects_same_files(spark, tmp_path, regime):
    t = build(spark, tmp_path, **dict(regime))
    batch = t._stamp(
        cust(spark, ver=2).filter(F.col("c_custkey").isin(3, 77, 1401)),
        "003",
    )
    fast = selected(t, batch)
    t.driver_probe_max_keys = 0  # force every probe down the Spark path
    slow = selected(t, batch)
    assert fast == slow
    assert fast  # the point batch genuinely hits files


def test_fastpath_empty_batch_hits_nothing(spark, tmp_path):
    t = build(spark, tmp_path)
    batch = t._stamp(cust(spark, ver=2).filter("c_custkey < 0"), "003")
    assert selected(t, batch) == set()


def test_fastpath_upsert_data_equivalence(spark, tmp_path):
    """End-to-end: a point upsert through the fast path lands the same
    snapshot as the same upsert with the fast path disabled."""
    a = build(spark, tmp_path / "a", bloom_index=True)
    b = build(spark, tmp_path / "b", bloom_index=True)
    b.driver_probe_max_keys = 0
    upd = cust(spark, ver=2).filter(F.col("c_custkey").isin(3, 77, 1401))
    a.write(upd, op="upsert", instant="003")
    b.write(upd, op="upsert", instant="003")
    cols = [c for c in a.logical().columns]
    assert (
        a.snapshot().select(cols).exceptAll(b.snapshot().select(cols)).isEmpty()
        and b.snapshot().select(cols).exceptAll(a.snapshot().select(cols)).isEmpty()
    )


def test_nonlocal_base_path_disables_driver_fastpaths(spark, tmp_path):
    """r9 verdict watch item: the driver fast paths assume a
    POSIX-local ``base_path`` for pyarrow seeks — an object-store URI
    must route every probe/build through Spark. Pin the gate itself
    (flag + probe refusal); end-to-end equality on a local path is the
    A/B suite above."""
    remote = LakeTable(
        spark, "s3://bucket/warehouse", "testdb", "t",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    assert remote.driver_io_local is False
    # Spark route only
    assert remote._record_idx.driver_read([], {"42"}) is None
    for scheme_path in ("s3a://b/w", "hdfs://nn:8020/w", "gs://b/w"):
        assert (
            LakeTable(
                spark, scheme_path, "testdb", "t",
                record_keys=["c_custkey"], precombine="ver",
            ).driver_io_local
            is False
        )
    local = LakeTable(
        spark, str(tmp_path), "testdb", "t",
        record_keys=["c_custkey"], precombine="ver",
    )
    assert local.driver_io_local is True
    # file:// is local but the scheme must be STRIPPED — os-path
    # operations on a literal "file://…" string resolve a relative
    # "file:/…" path and silently see an empty table
    via_uri = LakeTable(
        spark, f"file://{tmp_path}", "testdb", "t",
        record_keys=["c_custkey"], precombine="ver",
    )
    assert via_uri.driver_io_local is True
    assert via_uri.path == local.path
    # and the table actually WORKS end-to-end through the URI handle
    via_uri.write(
        cust(spark).limit(5).coalesce(1), op="insert", instant="001"
    )
    assert via_uri.snapshot().count() == 5
    assert local.snapshot().count() == 5  # same physical table
    # file://SERVER/share names a REMOTE share: stripping the scheme
    # would silently point driver IO at local "/share" (r10 ADVICE),
    # and the Spark route can't address it either (Hadoop LocalFS drops
    # the authority or throws mid-job) — reject at construction
    with pytest.raises(ValueError, match="remote authority"):
        LakeTable(
            spark, "file://fileserver/share/warehouse", "testdb", "t",
            record_keys=["c_custkey"], precombine="ver",
        )
    # …while the RFC-8089 localhost spelling is still local
    via_localhost = LakeTable(
        spark, f"file://localhost{tmp_path}", "testdb", "t",
        record_keys=["c_custkey"], precombine="ver",
    )
    assert via_localhost.driver_io_local is True
    assert via_localhost.path == local.path


def test_plan_has_node_pins_nodenames_on_running_spark(spark):
    """r10 ADVICE: the point-probe gate classifies plans by Catalyst
    ``nodeName()``. Pin that the running Spark still names its
    optimized-plan operators Filter/Join/Aggregate — if a Spark
    upgrade renames them, THIS fails loudly instead of the gate
    silently re-enabling the extra collect pass."""
    df = spark.range(100).withColumnRenamed("id", "k")
    other = spark.range(10).withColumnRenamed("id", "k")
    cases = [
        (df.filter(F.col("k") > 5), True),          # Filter
        (df.join(other, "k"), True),                # Join
        (df.groupBy("k").count(), True),            # Aggregate
        (spark.range(7), False),                    # bare Range: none
    ]
    for frame, expect in cases:
        plan = frame._jdf.queryExecution().optimizedPlan()
        assert (
            LakeTable._plan_has_node(plan, ("Filter", "Join", "Aggregate"))
            is expect
        ), frame._jdf.queryExecution().optimizedPlan().toString()
    # over-cap walks distrust the estimate (safe direction: probe on)
    plan = df.filter(F.col("k") > 5)._jdf.queryExecution().optimizedPlan()
    assert LakeTable._plan_has_node(plan, ("NoSuchNode",), cap=0) is True
