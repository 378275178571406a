"""Secondary (non-key-column) bloom index: per-file blooms over
declared ``bloom_columns`` prune ``=``/``in`` predicate reads on
high-cardinality columns where min/max stats are useless (every file
spans the full value range). The Hudi metadata-table bloom-filter
partition generalized beyond the record key.

Safety invariants pinned here:
- pruning never changes results (exact vs ``df.filter``)
- MOR: a bloom-failing base file key-overlapping a retained file is
  never pruned (same stale-winner-leak guard as stats pruning)
- unprobeable operands (floats, timestamps) disable pruning, never
  corrupt it
- geometry is per-sidecar: changing the build geometry never
  invalidates existing blooms
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable
from tests.harness import count_jobs

SF = "/root/testdata/sf0.001"


def tagged_cust(spark, ver=1):
    """Customer rows with a high-cardinality DATA column ``tag`` =
    md5(custkey): interleaved writes give every file full-range
    min/max on it — stats prune nothing, only a bloom can."""
    return (
        spark.read.parquet(f"{SF}/customer.parquet")
        .withColumn("tag", F.md5(F.col("c_custkey").cast("string")))
        .withColumn("ver", F.lit(ver).cast("long"))
    )


def col_bloom_table(spark, tmp, name="cb", **kw):
    kw.setdefault("bloom_columns", ["tag"])
    return LakeTable(
        spark, str(tmp), "testdb", name,
        record_keys=["c_custkey"], precombine="ver", **kw,
    )


def write_four_interleaved(t, spark):
    base = tagged_cust(spark)
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    return base


def tag_of(spark, custkey: int) -> str:
    return (
        tagged_cust(spark)
        .filter(F.col("c_custkey") == custkey)
        .select("tag")
        .collect()[0][0]
    )


def test_col_bloom_prunes_equality_read(spark, tmp_path):
    """Four interleaved files; ``tag = <one value>`` must read ONE
    file (3 pruned by the column bloom, 0 by stats — the column has
    no min/max stats at all) and return exactly the filtered row."""
    t = col_bloom_table(spark, tmp_path)
    base = write_four_interleaved(t, spark)
    v = tag_of(spark, 8)  # custkey 8 lives in file 001 (8 % 4 == 0)
    out = t.snapshot(predicate=[("tag", "=", v)])
    rows = out.select("c_custkey", "tag", "ver").collect()
    assert [(r["c_custkey"], r["tag"]) for r in rows] == [(8, v)]
    assert t.last_scan["col_bloom"] == 3
    assert t.last_scan.dropped == 3
    # a miss value prunes everything
    out = t.snapshot(predicate=[("tag", "=", "no-such-hash")])
    assert out.count() == 0
    assert t.last_scan["col_bloom"] == 4
    # and a predicate-free read resets the counter
    assert t.snapshot().count() == base.count()
    assert t.last_scan["col_bloom"] == 0


def test_col_bloom_in_predicate_prunes_union(spark, tmp_path):
    """``in`` keeps a file iff ANY operand might be present: values
    from files 001 and 002 prune exactly the other two files."""
    t = col_bloom_table(spark, tmp_path, name="inq")
    write_four_interleaved(t, spark)
    v0, v1 = tag_of(spark, 4), tag_of(spark, 5)  # files 001 and 002
    out = t.snapshot(predicate=[("tag", "in", (v0, v1))])
    assert sorted(r["c_custkey"] for r in out.collect()) == [4, 5]
    assert t.last_scan["col_bloom"] == 2


def test_col_bloom_unprobeable_operand_keeps_files(spark, tmp_path):
    """Operands whose Spark ``cast("string")`` form the probe cannot
    reproduce exactly (floats here) must disable pruning for that
    condition — never guess a canonical form and falsely prune."""
    t = col_bloom_table(
        spark, tmp_path, name="unpr", bloom_columns=["c_acctbal"]
    )
    write_four_interleaved(t, spark)
    some = (
        tagged_cust(spark)
        .filter(F.col("c_custkey") == 8)
        .select("c_acctbal")
        .collect()[0][0]
    )
    out = t.snapshot(predicate=[("c_acctbal", "=", float(some))])
    assert out.count() >= 1  # exact result, no false prune
    assert t.last_scan["col_bloom"] == 0  # float operand: unprobeable
    # ints ARE probeable: c_custkey cast to string is canonical
    t2 = col_bloom_table(
        spark, tmp_path, name="unpr2", bloom_columns=["c_nationkey"]
    )
    write_four_interleaved(t2, spark)
    nk = (
        tagged_cust(spark)
        .filter(F.col("c_custkey") == 8)
        .select("c_nationkey")
        .collect()[0][0]
    )
    out = t2.snapshot(predicate=[("c_nationkey", "=", int(nk))])
    expect = (
        tagged_cust(spark).filter(F.col("c_nationkey") == int(nk)).count()
    )
    assert out.count() == expect


def test_col_bloom_type_mismatch_operand_keeps_files(spark, tmp_path):
    """r7 advisory (high): the probe must gate on the STORED column
    type, not the operand's Python type. An int operand against a
    double column (stored cast ``"1000.0"``) or a numeric-string
    operand against an integral column hashes a different canonical
    form than the build side — yet the row filter's type coercion
    WOULD match, so pruning on it silently drops rows."""
    # double column, whole-number values: int operand must NOT prune
    t = col_bloom_table(
        spark, tmp_path, name="tym", bloom_columns=["bal"]
    )
    rows = tagged_cust(spark).withColumn(
        "bal", F.col("c_custkey").cast("double")
    )
    for i in range(2):
        t.write(
            rows.filter(F.col("c_custkey") % 2 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    out = t.snapshot(predicate=[("bal", "=", 8)])  # int vs double col
    assert [r["c_custkey"] for r in out.collect()] == [8]  # coerced hit
    assert t.last_scan["col_bloom"] == 0  # mismatched pairing: keep all
    # numeric-string operand vs integral column: also unprobeable
    t2 = col_bloom_table(
        spark, tmp_path, name="tym2", bloom_columns=["c_nationkey"]
    )
    write_four_interleaved(t2, spark)
    nk = int(
        tagged_cust(spark)
        .filter(F.col("c_custkey") == 8)
        .select("c_nationkey")
        .collect()[0][0]
    )
    out = t2.snapshot(predicate=[("c_nationkey", "=", str(nk))])
    assert t2.last_scan["col_bloom"] == 0
    assert out.count() == tagged_cust(spark).filter(
        F.col("c_nationkey") == nk
    ).count()
    # the MATCHED pairing still prunes: int operand, integral column
    out = t2.snapshot(predicate=[("c_nationkey", "=", nk)])
    assert out.count() >= 1 and t2.last_scan.dropped >= 0
    # bool operand vs boolean column: the one bool pairing that IS
    # probeable (int-vs-boolean never reaches the probe: Spark's row
    # filter rejects boolean=int at analysis, loudly not silently)
    t3 = col_bloom_table(
        spark, tmp_path, name="tym3", bloom_columns=["flag"]
    )
    brows = tagged_cust(spark).withColumn(
        "flag", F.col("c_custkey") % 2 == 0
    )
    for i in range(2):
        t3.write(
            brows.filter(F.col("c_custkey") % 2 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    out = t3.snapshot(predicate=[("flag", "=", True)])
    assert t3.last_scan["col_bloom"] == 1  # bool vs boolean: prunes
    assert out.count() == brows.filter("flag").count()


def test_col_bloom_mor_stale_winner_guard(spark, tmp_path):
    """MOR: the merged winner for a key lives in the BASE file; a
    predicate matching only the LOSING delta row's value makes the
    base file bloom-fail — but pruning it would let the stale delta
    row win the merge unopposed and leak through the filter. The
    key-overlap guard must keep the base file and return 0 rows."""
    t = col_bloom_table(
        spark, tmp_path, name="mor", table_type="MERGE_ON_READ"
    )
    base = tagged_cust(spark, ver=2).withColumn(
        "tag", F.lit("winner-value")
    )
    t.write(base.coalesce(1), op="insert", instant="001")
    stale = (
        tagged_cust(spark, ver=1)
        .filter(F.col("c_custkey") == 8)
        .withColumn("tag", F.lit("stale-value"))
    )
    t.write(stale, op="upsert", instant="002")  # MOR: appends a delta
    out = t.snapshot(predicate=[("tag", "=", "stale-value")])
    assert out.count() == 0  # ver=2 base row wins; filter drops it
    assert t.last_scan["col_bloom"] == 0  # base kept: key-overlaps delta
    # read-optimized (base-only, no merge follows): pruning is free
    ro = t.read_optimized(predicate=[("tag", "=", "stale-value")])
    assert ro.count() == 0
    assert t.last_scan["col_bloom"] == 1


def test_col_bloom_kernel_matches_module(spark, tmp_path):
    """The self-contained Spark build kernel must produce byte-
    identical blooms to the unit-tested lake/bloom.py reference over
    the column's distinct non-null string casts."""
    from emr_hudi_example_spark.lake import bloom as B

    t = col_bloom_table(spark, tmp_path, name="par")
    t.driver_probe_max_bytes = -1  # the Spark route: the worker kernel
    rows = tagged_cust(spark).filter(F.col("c_custkey") < 40)
    t.write(rows.coalesce(1), op="insert", instant="001")
    sc = t._col_bloom._sidecars["001"]
    assert sc["nbits"] == B.COL_NBITS
    assert sc["k"] == B.COL_HASHES
    [(path, per)] = list(sc["files"].items())
    tags = [r["tag"] for r in rows.select("tag").distinct().collect()]
    assert per["tag"] == B.bloom_to_b64(
        B.build_bloom(tags, sc["nbits"], sc["k"])
    )


def test_col_bloom_geometry_is_per_sidecar(spark, tmp_path, monkeypatch):
    """A table handle on a DIFFERENT column-bloom geometry must still
    probe old sidecars correctly: geometry comes from the sidecar
    JSON, not the live config."""
    from emr_hudi_example_spark.lake import bloom as B

    monkeypatch.setattr(B, "COL_NBITS", 1 << 14)
    t = col_bloom_table(spark, tmp_path, name="geo")
    write_four_interleaved(t, spark)
    monkeypatch.undo()
    t2 = col_bloom_table(spark, tmp_path, name="geo")  # default 1<<17
    v = tag_of(spark, 8)
    out = t2.snapshot(predicate=[("tag", "=", v)])
    assert [r["c_custkey"] for r in out.collect()] == [8]
    assert t2.last_scan["col_bloom"] == 3


def test_col_bloom_pre_index_and_missing_column(spark, tmp_path):
    """Files written before bloom_columns was configured are kept
    unconditionally; a later commit whose schema LACKS the bloom
    column gets an explicit empty bloom — provably no value, prunable
    for any ``=``."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "mix",
        record_keys=["c_custkey"], precombine="ver",
    )
    old = tagged_cust(spark).filter(F.col("c_custkey") % 2 == 0)
    plain.write(old.coalesce(1), op="insert", instant="001")
    t = col_bloom_table(spark, tmp_path, name="mix")
    new = tagged_cust(spark).filter(F.col("c_custkey") % 2 == 1)
    t.write(new.coalesce(1), op="insert", instant="002")
    # value living only in the PRE-INDEX file: file 001 kept (no
    # bloom), file 002 pruned (bloom miss)
    v = tag_of(spark, 8)
    out = t.snapshot(predicate=[("tag", "=", v)])
    assert [r["c_custkey"] for r in out.collect()] == [8]
    assert t.last_scan["col_bloom"] == 1
    # schema evolution: a commit WITHOUT the tag column
    t3 = LakeTable(
        spark, str(tmp_path), "testdb", "evo",
        record_keys=["c_custkey"], precombine="ver",
        bloom_columns=["tag"],
    )
    t3.write(
        tagged_cust(spark).filter(F.col("c_custkey") % 2 == 1).coalesce(1),
        op="insert", instant="001",
    )
    t3.write(
        tagged_cust(spark)
        .filter(F.col("c_custkey") % 2 == 0)
        .drop("tag")
        .coalesce(1),
        op="insert", instant="002",
    )
    out = t3.snapshot(predicate=[("tag", "=", v)])  # custkey 8: even,
    assert out.count() == 0  # but its row was written WITHOUT tag
    assert t3.last_scan["col_bloom"] == 2  # both files pruned


def test_col_bloom_sidecar_cleanup(spark, tmp_path):
    """clean() removes _bloom_cols sidecars of instants with no
    surviving file, alongside the key-bloom sidecars."""
    t = col_bloom_table(spark, tmp_path, name="cl")
    base = tagged_cust(spark)
    t.write(base.coalesce(1), op="insert", instant="001")
    t.write(tagged_cust(spark, ver=2), op="upsert", instant="002")
    t.write(tagged_cust(spark, ver=3), op="upsert", instant="003")
    t.clean(retain_commits=1)
    assert sorted(os.listdir(t.col_bloom_dir)) == ["003.json"]
    v = tag_of(spark, 8)
    out = t.snapshot(predicate=[("tag", "=", v)])
    assert [r["ver"] for r in out.collect()] == [3]


def _commit_jobs(spark, tmp, **kw) -> tuple[int, int]:
    """Spark jobs for a 3-row insert, then a 3-key upsert, on a table
    holding one 75-row file."""
    t = col_bloom_table(spark, tmp, name="jobs", **kw)
    base = tagged_cust(spark)
    t.write(
        base.filter(F.col("c_custkey") % 2 == 0).coalesce(1),
        op="insert", instant="001",
    )
    ins, _ = count_jobs(spark, lambda: t.write(
        base.filter(F.col("c_custkey").isin(1, 3, 5)),
        op="insert", instant="002",
    ))
    ups, _ = count_jobs(spark, lambda: t.write(
        tagged_cust(spark, ver=2).filter(F.col("c_custkey").isin(2, 4, 6)),
        op="upsert", instant="003",
    ))
    return ins, ups


def test_col_bloom_commit_job_budget(spark, tmp_path):
    """A point commit on a table blooming a string column issues as
    many Spark jobs as on a table with no bloom: the column bloom
    builds driver-side (measured (insert, upsert) = (3, 8) vs (1, 6)
    jobs while only the key bloom had that route)."""
    bloomed = _commit_jobs(spark, tmp_path / "cb")
    plain = _commit_jobs(spark, tmp_path / "pl", bloom_columns=[])
    assert bloomed == plain, (bloomed, plain)
