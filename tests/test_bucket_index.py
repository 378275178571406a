"""Bucket index (Hudi ``hoodie.index.type=BUCKET`` simple-bucket
analog): data files are laid out per ``pmod(xxhash64(record_key), n)``
and upsert/delete planning + record-key point reads locate candidates
by bucket arithmetic — zero index storage, no probe I/O, no key scans.

Invariants pinned here:
- one file per bucket per commit; bucket/bucket_n stamped in manifest
- planning candidates shrink to the batch's hit buckets; results exact
- point-lookup reads prune by bucket, MOR-merge safe
- files written under a DIFFERENT bucket count are always candidates
  (resizing degrades to conservative, never corrupts)
- compaction rewrites preserve the bucket layout
"""

from __future__ import annotations

from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable
from emr_hudi_example_spark.lake.table import RECORD_KEY_COL

SF = "/root/testdata/sf0.001"


def cust(spark, ver=1):
    return (
        spark.read.parquet(f"{SF}/customer.parquet")
        .withColumn("ver", F.lit(ver).cast("long"))
    )


def bucket_table(spark, tmp, name="bk", n=8, **kw):
    return LakeTable(
        spark, str(tmp), "testdb", name,
        record_keys=["c_custkey"], precombine="ver",
        bucket_index=n, **kw,
    )


def test_bucket_layout_one_file_per_bucket(spark, tmp_path):
    t = bucket_table(spark, tmp_path)
    base = cust(spark)
    t.write(base, op="insert", instant="001")
    added = t.tl.manifest("001")["added"]
    assert len(added) == 8  # one file per bucket (150 keys fill all 8)
    assert sorted(f["bucket"] for f in added) == list(range(8))
    assert all(f["bucket_n"] == 8 for f in added)
    assert t.snapshot().count() == base.count()


def test_bucket_upsert_targets_hit_buckets(spark, tmp_path):
    """A single-key upsert must rewrite exactly ONE file, located by
    bucket arithmetic alone — 7 of 8 candidates dropped before any
    range stat, bloom, or key scan."""
    t = bucket_table(spark, tmp_path, name="up")
    t.write(cust(spark), op="insert", instant="001")
    point = cust(spark, ver=2).filter(F.col("c_custkey") == 8)
    t.write(point, op="upsert", instant="002")
    assert t.last_scan["bucket"] == 7
    assert len(t.tl.manifest("002")["replaced"]) == 1
    snap = t.snapshot()
    assert snap.filter(F.col("ver") == 2).count() == 1
    assert snap.count() == cust(spark).count()
    # the rewritten file keeps its bucket stamp
    [new_f] = t.tl.manifest("002")["added"]
    [old_p] = t.tl.manifest("002")["replaced"]
    old_f = next(
        f for f in t.tl.manifest("001")["added"] if f["path"] == old_p
    )
    assert new_f["bucket"] == old_f["bucket"]


def test_bucket_point_lookup_read_prune(spark, tmp_path):
    t = bucket_table(spark, tmp_path, name="pr")
    t.write(cust(spark), op="insert", instant="001")
    out = t.snapshot(predicate=[(RECORD_KEY_COL, "=", "8")])
    assert t.last_scan["bucket"] == 7
    assert [r["c_custkey"] for r in out.collect()] == [8]
    # `in` across keys of (possibly) different buckets
    out = t.snapshot(predicate=[(RECORD_KEY_COL, "in", ("8", "9"))])
    assert sorted(r["c_custkey"] for r in out.collect()) == [8, 9]
    assert t.last_scan["bucket"] >= 6
    # a non-string operand is unprobeable: no pruning, exact result
    out = t.snapshot(predicate=[("c_custkey", "=", 8)])
    assert t.last_scan["bucket"] == 0
    assert [r["c_custkey"] for r in out.collect()] == [8]


def test_bucket_read_prune_mor_safe(spark, tmp_path):
    """MOR: the winning base row and the stale delta row of a key live
    in the SAME bucket by construction, so bucket pruning can never
    separate a merge pair — the point read returns the merged winner."""
    t = bucket_table(
        spark, tmp_path, name="mor", table_type="MERGE_ON_READ"
    )
    t.write(cust(spark, ver=2), op="insert", instant="001")
    stale = cust(spark, ver=1).filter(F.col("c_custkey") == 8)
    t.write(stale, op="upsert", instant="002")  # appends a delta file
    out = t.snapshot(predicate=[(RECORD_KEY_COL, "=", "8")])
    rows = out.collect()
    assert [(r["c_custkey"], r["ver"]) for r in rows] == [(8, 2)]
    assert t.last_scan["bucket"] == 7  # 7 other-bucket bases


def test_bucket_read_prune_mor_supersession_and_out_of_order(
    spark, tmp_path
):
    """r7 verdict #4: a bucket-pruned read on a MOR table with RETAINED
    delta files can never drop a key whose newer version lives in an
    unpruned delta — deltas are bucket-stamped by the same Spark-side
    hash as bases, so every version of a key (base, superseding delta,
    late out-of-order delta) lives in ONE bucket and the merge set is
    pruned or kept as a unit.

    Sequence: base ver=1 → delta ver=3 (supersession) → delta ver=2
    (out-of-order arrival, must LOSE to the already-landed ver=3)."""
    t = bucket_table(
        spark, tmp_path, name="morseq", table_type="MERGE_ON_READ"
    )
    t.write(cust(spark, ver=1), op="insert", instant="001")
    t.write(
        cust(spark, ver=3).filter(F.col("c_custkey") == 8),
        op="upsert", instant="002",
    )
    t.write(
        cust(spark, ver=2).filter(F.col("c_custkey") == 8),
        op="upsert", instant="003",
    )
    # both deltas carry key 8's bucket stamp under the same modulus
    d2 = t.tl.manifest("002")["added"]
    d3 = t.tl.manifest("003")["added"]
    assert len(d2) == 1 and len(d3) == 1
    assert d2[0]["kind"] == "delta" and d3[0]["kind"] == "delta"
    assert d2[0]["bucket"] == d3[0]["bucket"]
    assert d2[0]["bucket_n"] == 8 and d3[0]["bucket_n"] == 8
    # point read: precombine winner ver=3, NOT the late-arriving ver=2
    out = t.snapshot(predicate=[(RECORD_KEY_COL, "=", "8")])
    assert [(r["c_custkey"], r["ver"]) for r in out.collect()] == [(8, 3)]
    assert t.last_scan["bucket"] == 7  # other buckets' bases only
    # an untouched key still reads its base version through the prune
    out = t.snapshot(predicate=[(RECORD_KEY_COL, "=", "9")])
    assert [(r["c_custkey"], r["ver"]) for r in out.collect()] == [(9, 1)]
    # full-table merge agrees (pruning is an I/O optimization only)
    snap = t.snapshot()
    assert snap.count() == cust(spark).count()
    assert snap.filter(F.col("ver") == 3).count() == 1
    assert snap.filter(F.col("ver") == 2).count() == 0


def test_bucket_resize_is_conservative(spark, tmp_path):
    """Files stamped under n=4 are ALWAYS candidates for an n=8
    handle: planning never trusts a bucket id computed under a
    different modulus — wrong-modulus pruning would silently duplicate
    keys."""
    t4 = bucket_table(spark, tmp_path, name="rs", n=4)
    t4.write(cust(spark), op="insert", instant="001")
    t8 = bucket_table(spark, tmp_path, name="rs", n=8)
    point = cust(spark, ver=2).filter(F.col("c_custkey") == 8)
    t8.write(point, op="upsert", instant="002")
    assert t8.last_scan["bucket"] == 0  # old stamps: all conservative
    snap = t8.snapshot()
    assert snap.count() == cust(spark).count()  # no duplicated key
    assert snap.filter(F.col("ver") == 2).count() == 1
    # the COW rewrite re-spreads the hit file's rows under the NEW
    # modulus: every added file is stamped n=8
    added = t8.tl.manifest("002")["added"]
    assert added and all(f["bucket_n"] == 8 for f in added)


def test_bucket_compact_preserves_layout(spark, tmp_path):
    t = bucket_table(
        spark, tmp_path, name="cp", table_type="MERGE_ON_READ"
    )
    t.write(cust(spark), op="insert", instant="001")
    t.write(cust(spark, ver=2), op="upsert", instant="002")
    t.compact(instant="003")
    added = t.tl.manifest("003")["added"]
    assert sorted(f["bucket"] for f in added) == list(range(8))
    out = t.snapshot(predicate=[(RECORD_KEY_COL, "=", "8")])
    assert t.last_scan["bucket"] == 7
    assert [(r["c_custkey"], r["ver"]) for r in out.collect()] == [(8, 2)]
