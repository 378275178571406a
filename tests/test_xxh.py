"""Parity and path-equivalence gates for the driver-side index probe.

The index point-probe fast path (``lake/index.py ValueIndex.probe``)
recomputes Spark's ``pmod(xxhash64(key), n)`` shard assignment in pure
Python (``lake/xxh.py``) and seeks the matched shard files with
pyarrow. A hash mismatch would silently probe the WRONG shard dirs and
falsely prune live files — so parity with the JVM expression is pinned
here over boundary lengths and random content, and the fast path is
pinned row-identical (data AND prune counter) to the Spark join path
it short-circuits.
"""
from __future__ import annotations

import random
import string

from pyspark.sql import functions as F


def test_xxh64_matches_spark_expression(spark):
    from emr_hudi_example_spark.lake.xxh import xxh64

    rng = random.Random(0)
    cases = [
        "", "a", "abc", "abcd", "abcdefg", "abcdefgh", "abcdefghi",
        "x" * 31, "x" * 32, "x" * 33, "x" * 100, "café", "日本語テキスト",
        "8", "c_custkey=8|part=1",
    ]
    # every tail-length class of the algorithm (0-31 mod-32 remainders)
    cases += ["y" * n for n in range(64)]
    alphabet = string.ascii_letters + string.digits + "|=/_-§µ✓"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120)))
        for _ in range(400)
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert xxh64(r["s"].encode("utf-8")) == r["h"], repr(r["s"])


def test_driver_probe_matches_spark_join_path(spark, tmp_path):
    from emr_hudi_example_spark.lake import LakeTable

    base = spark.range(0, 400).select(
        F.col("id").cast("int").alias("k"),
        F.lit(1).cast("long").alias("ver"),
        (F.col("id") * 7).cast("int").alias("payload"),
    )
    t = LakeTable(
        spark, str(tmp_path), "x", "t", ["k"], "ver",
        record_index=True, index_shards=8,
    )
    for i in range(4):
        t.write(
            base.filter(F.col("k") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )

    def pointread(key):
        rows = sorted(
            t.snapshot(predicate=[("_record_key", "=", key)]).collect()
        )
        return rows, t.last_scan["record_index"]

    # default gates: driver-side pyarrow probe
    fast_rows, fast_pruned = pointread("7")
    assert len(fast_rows) == 1 and fast_rows[0]["k"] == 7
    assert fast_pruned == 3  # exactly one of the four files kept

    # force the Spark join path and require identical rows + counter
    t.driver_probe_max_bytes = -1
    slow_rows, slow_pruned = pointread("7")
    assert (slow_rows, slow_pruned) == (fast_rows, fast_pruned)
    t.driver_probe_max_bytes = LakeTable.driver_probe_max_bytes

    # a provably-absent key: the fast path prunes EVERY file (exact —
    # full coverage checked), and the scan returns zero rows
    rows, pruned = pointread("99999")
    assert rows == [] and pruned == 4

    # upsert planning also rides the fast path: a stale-version row
    # must still lose after an index-planned merge
    t.write(
        base.filter(F.col("k") == 7).withColumn(
            "ver", F.lit(2).cast("long")
        ),
        op="upsert", instant="005",
    )
    rows, _ = pointread("7")
    assert rows[0]["ver"] == 2

    # and with the write-side fast path disabled the result is the same
    t.driver_probe_max_keys = 0
    t.driver_probe_max_bytes = -1
    t.write(
        base.filter(F.col("k") == 7).withColumn(
            "ver", F.lit(3).cast("long")
        ),
        op="upsert", instant="006",
    )
    t.driver_probe_max_keys = LakeTable.driver_probe_max_keys
    t.driver_probe_max_bytes = LakeTable.driver_probe_max_bytes
    rows, _ = pointread("7")
    assert rows[0]["ver"] == 3


def test_driver_bloom_sidecar_bit_identical(spark, tmp_path):
    """The driver-side bloom build must emit the SAME bitsets the
    distributed Arrow-kernel build does, for the key bloom and for a
    column bloom over a string column with NULLs (both routes call
    lake/bloom.py's blake2b double hashing — this pins the pyarrow
    read, NULL drop and canonicalization path end to end)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from emr_hudi_example_spark.lake import LakeTable

    base = spark.range(0, 300).select(
        F.col("id").cast("int").alias("k"),
        F.lit(1).cast("long").alias("ver"),
        F.when(F.col("id") % 7 != 0, F.md5(F.col("id").cast("string")))
        .alias("s"),
    )
    for sidecar_dir, col in (("bloom_dir", "_record_key"), ("col_bloom_dir", "s")):
        blooms = {}
        for mode, gate in (("driver", None), ("spark", -1)):
            t = LakeTable(
                spark, str(tmp_path / sidecar_dir / mode), "x", "b", ["k"],
                "ver", bloom_index=True, bloom_columns=["s"],
            )
            if gate is not None:
                t.driver_probe_max_bytes = gate
            t.write(base.coalesce(1), op="insert", instant="001")
            with open(os.path.join(getattr(t, sidecar_dir), "001.json")) as fh:
                files = _json.load(fh)["files"]
            vals = sorted(per[col] for per in files.values())
            assert len(vals) == 1
            blooms[mode] = vals[0]
        assert blooms["driver"] == blooms["spark"]
