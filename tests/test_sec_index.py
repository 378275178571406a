"""Exact secondary index on non-key columns (Hudi 1.0's metadata-table
secondary index, RFC-52 analog; the exact sibling of the column blooms).

Safety invariants pinned here:
- pruning never changes results (exact vs ``df.filter``)
- MOR: an index-missing base file key-overlapping a retained file is
  never pruned (same stale-winner-leak guard as stats/bloom pruning)
- unprobeable operand/type pairings disable pruning, never corrupt it
- coverage is per (file, column): files written before the column was
  indexed — or before the index existed at all — are always kept
- the driver-side build (all-string point commits) and the Spark build
  serve identical probe verdicts
- cleaner removes dead instants' index dirs
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable

SF = "/root/testdata/sf0.001"


def tagged_cust(spark, ver=1):
    """Customer rows with a high-cardinality string column ``tag`` =
    md5(custkey) and a long column ``num``: interleaved writes give
    every file full-range min/max — stats prune nothing."""
    return (
        spark.read.parquet(f"{SF}/customer.parquet")
        .withColumn("tag", F.md5(F.col("c_custkey").cast("string")))
        .withColumn("num", (F.col("c_custkey") * 7).cast("long"))
        .withColumn("ver", F.lit(ver).cast("long"))
    )


def sec_table(spark, tmp, name="sx", **kw):
    kw.setdefault("secondary_index_columns", ["tag"])
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


def test_sec_index_prunes_equality_read(spark, tmp_path):
    """Four interleaved files; ``tag = <one value>`` reads ONE file
    (3 pruned by the exact index) and returns exactly the filtered
    row; a needle-free value prunes everything — EXACTLY (the bloom
    can only do this probabilistically)."""
    t = sec_table(spark, tmp_path)
    base = write_four_interleaved(t, spark)
    v = tag_of(spark, 8)  # custkey 8 lives in file 001 (8 % 4 == 0)
    out = t.snapshot(predicate=[("tag", "=", v)])
    rows = out.select("c_custkey", "tag").collect()
    assert [(r["c_custkey"], r["tag"]) for r in rows] == [(8, v)]
    assert t.last_sec_index_pruned == 3
    assert t.last_files_skipped == 3
    out = t.snapshot(predicate=[("tag", "=", "no-such-hash")])
    assert out.count() == 0
    assert t.last_sec_index_pruned == 4
    assert t.snapshot().count() == base.count()
    assert t.last_sec_index_pruned == 0  # predicate-free read resets


def test_sec_index_in_predicate_prunes_union(spark, tmp_path):
    t = sec_table(spark, tmp_path, name="inq")
    write_four_interleaved(t, spark)
    v0, v1 = tag_of(spark, 4), tag_of(spark, 5)  # files 001 and 002
    out = t.snapshot(predicate=[("tag", "in", (v0, v1))])
    assert sorted(r["c_custkey"] for r in out.collect()) == [4, 5]
    assert t.last_sec_index_pruned == 2


def test_sec_index_spark_build_matches_driver_build(spark, tmp_path):
    """A long column forces the Spark build (driver build is
    string-only); verdicts must match a same-data string-column probe
    and results stay exact."""
    t = sec_table(
        spark, tmp_path, name="spk",
        secondary_index_columns=["num"],
    )
    write_four_interleaved(t, spark)
    # int operand on a bigint column: canonical form is reproducible
    out = t.snapshot(predicate=[("num", "=", 8 * 7)])
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [8]
    assert t.last_sec_index_pruned == 3
    # Spark (not driver) build artifacts exist
    inst_dir = os.path.join(t.sec_index_dir, "001", "col=num")
    assert os.path.isdir(inst_dir)
    assert not any(
        "part-driver" in fn
        for _r, _d, fns in os.walk(inst_dir)
        for fn in fns
    )


def test_sec_index_unprobeable_operand_keeps_files(spark, tmp_path):
    """A float operand has no reproducible canonical form against any
    column type: pruning must disable (keep all), results stay exact
    via the row filter."""
    t = sec_table(
        spark, tmp_path, name="unp",
        secondary_index_columns=["num"],
    )
    write_four_interleaved(t, spark)
    out = t.snapshot(predicate=[("num", "=", float(8 * 7))])
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [8]
    assert t.last_sec_index_pruned == 0
    # str operand on a numeric column: same conservative keep
    t.snapshot(predicate=[("num", "=", "56")]).count()
    assert t.last_sec_index_pruned == 0


def test_sec_index_mor_stale_winner_guard(spark, tmp_path):
    """MOR: the merged winner for a key lives in the BASE file; a
    predicate matching only the LOSING delta row's value makes the
    base file index-miss — but pruning it would let the stale delta
    row win the merge unopposed. The key-overlap guard must keep it."""
    t = sec_table(
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
    assert t.last_sec_index_pruned == 0  # base kept: key-overlaps delta
    # read-optimized (base-only, no merge follows): pruning is free
    ro = t.read_optimized(predicate=[("tag", "=", "stale-value")])
    assert ro.count() == 0
    assert t.last_sec_index_pruned == 1


def test_sec_index_pre_index_files_kept(spark, tmp_path):
    """Files written before the index was configured lack the
    ``sec_cols`` stamp: reads keep them unconditionally and stay
    exact."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "pre",
        record_keys=["c_custkey"], precombine="ver",
    )
    base = tagged_cust(spark)
    plain.write(
        base.filter("c_custkey % 2 = 0").coalesce(1),
        op="insert", instant="001",
    )
    t = sec_table(spark, tmp_path, name="pre")  # same dir, index ON
    t.write(
        base.filter("c_custkey % 2 = 1").coalesce(1),
        op="insert", instant="002",
    )
    v = tag_of(spark, 8)  # lives in the UN-indexed file 001
    out = t.snapshot(predicate=[("tag", "=", v)])
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [8]
    # only the indexed file 002 was prunable
    assert t.last_sec_index_pruned == 1


def test_sec_index_config_growth_no_misprune(spark, tmp_path):
    """Growing the indexed column list must not prune old files by the
    NEW column (their stamp lists only the old columns)."""
    t1 = sec_table(spark, tmp_path, name="grow")
    base = tagged_cust(spark)
    t1.write(
        base.filter("c_custkey % 2 = 0").coalesce(1),
        op="insert", instant="001",
    )
    t2 = sec_table(
        spark, tmp_path, name="grow",
        secondary_index_columns=["tag", "num"],
    )
    t2.write(
        base.filter("c_custkey % 2 = 1").coalesce(1),
        op="insert", instant="002",
    )
    out = t2.snapshot(predicate=[("num", "=", 8 * 7)])  # even key: file 001
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [8]
    # file 001 is NOT covered for num (kept); file 002 is and misses
    assert t2.last_sec_index_pruned == 1
    # the old column stays fully covered: both files probeable
    v = tag_of(spark, 8)
    out = t2.snapshot(predicate=[("tag", "=", v)])
    assert out.count() == 1
    assert t2.last_sec_index_pruned == 1


def test_sec_index_absent_column_is_definite_miss(spark, tmp_path):
    """A commit whose schema lacks the indexed column holds only NULL
    for it under additive evolution — the index prunes those files
    without any probe I/O, and the result is exact."""
    t = sec_table(spark, tmp_path, name="abs")
    plain = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t.write(
        plain.filter("c_custkey % 2 = 0").coalesce(1),
        op="insert", instant="001",  # no ``tag`` column at all
    )
    t.write(
        tagged_cust(spark).filter("c_custkey % 2 = 1")
        .drop("num").coalesce(1),
        op="insert", instant="002",
    )
    v = tag_of(spark, 9)
    out = t.snapshot(predicate=[("tag", "=", v)])
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [9]
    assert t.last_sec_index_pruned == 1  # the tag-less file 001


def test_sec_index_survives_compaction_and_clean(spark, tmp_path):
    """Compaction outputs are indexed through the same publish path;
    the cleaner removes dead instants' index dirs and live reads stay
    exact afterwards."""
    t = sec_table(spark, tmp_path, name="cln")
    base = write_four_interleaved(t, spark)
    t.compact()  # folds the four files into one
    upd = tagged_cust(spark, ver=2).filter(F.col("c_custkey") <= 4)
    t.write(upd, op="upsert")
    # a second live file with disjoint tags, so the point read below
    # has something to prune (post-compact the table is one file)
    extra = tagged_cust(spark).withColumn(
        "c_custkey", F.col("c_custkey") + 100000
    ).withColumn("tag", F.md5(F.col("c_custkey").cast("string")))
    t.write(extra.coalesce(1), op="insert")
    t.clean(retain_commits=1)
    live_instants = {
        f["path"].split(os.sep)[1].split("/")[0]
        for f in t._live_files()
    }
    for d in os.listdir(t.sec_index_dir):
        assert d in live_instants  # dead index dirs reclaimed
    v = tag_of(spark, 8)
    out = t.snapshot(predicate=[("tag", "=", v)])
    assert out.count() == 1
    assert t.last_sec_index_pruned >= 1


def test_sec_index_equivalence_sweep(spark, tmp_path):
    """Pruned reads equal plain filters for a sweep of predicates on
    both table types."""
    for ttype in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = sec_table(
            spark, tmp_path / ttype, name="eq",
            secondary_index_columns=["tag", "num"],
            table_type=ttype,
        )
        base = write_four_interleaved(t, spark)
        t.write(
            tagged_cust(spark, ver=2).filter("c_custkey <= 6"),
            op="upsert", instant="005",
        )
        merged = t.snapshot()
        for pred, cond in [
            ([("tag", "=", tag_of(spark, 8))], F.col("tag") == tag_of(spark, 8)),
            ([("num", "=", 21)], F.col("num") == 21),
            (
                [("tag", "in", (tag_of(spark, 4), tag_of(spark, 7)))],
                F.col("tag").isin(tag_of(spark, 4), tag_of(spark, 7)),
            ),
        ]:
            got = {
                tuple(r)
                for r in t.snapshot(predicate=pred)
                .select("c_custkey", "tag", "num", "ver").collect()
            }
            want = {
                tuple(r)
                for r in merged.filter(cond)
                .select("c_custkey", "tag", "num", "ver").collect()
            }
            assert got == want, (ttype, pred)


def test_backfill_enables_pruning_without_rewrites(spark, tmp_path):
    """Files written before the index existed become covered by one
    metadata-only backfill commit: no data file is rewritten, pruning
    turns on, results stay exact, and the call is idempotent."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "bf",
        record_keys=["c_custkey"], precombine="ver",
    )
    base = tagged_cust(spark)
    for i in range(4):
        plain.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    data_files = {f["path"] for f in plain._live_files()}
    t = sec_table(spark, tmp_path, name="bf")
    v = tag_of(spark, 8)
    t.snapshot(predicate=[("tag", "=", v)]).count()
    assert t.last_sec_index_pruned == 0  # nothing covered yet
    inst = t.backfill_secondary_index()
    assert inst is not None
    assert {f["path"] for f in t._live_files()} == data_files  # no rewrite
    out = t.snapshot(predicate=[("tag", "=", v)])
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [8]
    assert t.last_sec_index_pruned == 3
    assert t.backfill_secondary_index() is None  # idempotent
    assert t.snapshot().count() == base.count()


def test_backfill_config_growth_honors_existing_shards(spark, tmp_path):
    """Backfilling a NEWLY-listed column appends into instant dirs that
    already index the old column, under THEIR recorded ``.nshards``."""
    t1 = sec_table(spark, tmp_path, name="bfg")
    base = tagged_cust(spark)
    for i in range(2):
        t1.write(
            base.filter(F.col("c_custkey") % 2 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t2 = sec_table(
        spark, tmp_path, name="bfg",
        secondary_index_columns=["tag", "num"],
    )
    assert t2.backfill_secondary_index() is not None
    out = t2.snapshot(predicate=[("num", "=", 8 * 7)])
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [8]
    assert t2.last_sec_index_pruned == 1
    # the old column's coverage is intact too
    out = t2.snapshot(predicate=[("tag", "=", tag_of(spark, 9))])
    assert out.count() == 1
    assert t2.last_sec_index_pruned == 1


def test_backfill_timeline_semantics(spark, tmp_path):
    """The backfill commit must be invisible to row-level consumers:
    time travel to a pre-backfill instant still serves, incremental
    across the backfill yields zero rows, and restore across it leaves
    the data intact (re-added paths are protected)."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "bft",
        record_keys=["c_custkey"], precombine="ver",
    )
    base = tagged_cust(spark)
    plain.write(base.coalesce(2), op="insert", instant="001")
    t = sec_table(spark, tmp_path, name="bft")
    inst = t.backfill_secondary_index()
    assert t.snapshot(as_of="001").count() == base.count()
    assert t.incremental("001", inst).count() == 0
    t.restore("001")
    assert t.snapshot().count() == base.count()  # data files survive
    # post-restore the files are un-covered again: conservative keep
    t.snapshot(predicate=[("tag", "=", tag_of(spark, 8))]).count()
    assert t.last_sec_index_pruned == 0


def test_backfill_mor_with_deltas(spark, tmp_path):
    """MOR backfill covers base AND delta files; the stale-winner
    key-overlap guard still applies after coverage lands."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "bfm",
        record_keys=["c_custkey"], precombine="ver",
        table_type="MERGE_ON_READ",
    )
    base = tagged_cust(spark, ver=2).withColumn("tag", F.lit("winner"))
    plain.write(base.coalesce(1), op="insert", instant="001")
    stale = (
        tagged_cust(spark, ver=1)
        .filter(F.col("c_custkey") == 8)
        .withColumn("tag", F.lit("stale"))
    )
    plain.write(stale, op="upsert", instant="002")  # delta
    t = sec_table(
        spark, tmp_path, name="bfm", table_type="MERGE_ON_READ"
    )
    assert t.backfill_secondary_index() is not None
    out = t.snapshot(predicate=[("tag", "=", "stale")])
    assert out.count() == 0  # ver=2 base wins; guard kept the base file
    assert t.last_sec_index_pruned == 0
    ro = t.read_optimized(predicate=[("tag", "=", "stale")])
    assert ro.count() == 0
    assert t.last_sec_index_pruned == 1


def test_backfill_record_index_enables_point_planning(spark, tmp_path):
    """The record index needs FULL coverage to probe; files written
    before it existed strand it on the scan path. One metadata-only
    backfill commit covers them: write planning probes the index, the
    read-side point lookup prunes, and upsert results stay exact."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "bri",
        record_keys=["c_custkey"], precombine="ver",
    )
    base = tagged_cust(spark)
    for i in range(4):
        plain.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t = LakeTable(
        spark, str(tmp_path), "testdb", "bri",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    probed = []
    orig = t._index_hit_files
    t._index_hit_files = lambda c, b, **kw: (probed.append(1), orig(c, b, **kw))[1]
    upd = base.filter(F.col("c_custkey") == 8).withColumn(
        "ver", F.lit(2).cast("long")
    )
    t.write(upd, op="upsert", instant="005")
    assert not probed  # un-covered files: scan-path fallback
    assert t.backfill_record_index() is not None
    # NOTE: instant 005's own file was index-built at write; the four
    # pre-index files were backfilled; coverage is now full
    t.write(
        base.filter(F.col("c_custkey") == 9).withColumn(
            "ver", F.lit(2).cast("long")
        ),
        op="upsert",
    )
    assert probed  # planning now probes the persistent index
    assert t.backfill_record_index() is None  # idempotent
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    assert [r["ver"] for r in out.select("ver").collect()] == [2]
    assert t.last_record_read_pruned >= 3
    # every row still present exactly once
    assert t.snapshot().count() == base.count()


def test_incremental_not_duplicated_by_backfill(spark, tmp_path):
    """r10 ADVICE (high): an ``index_backfill`` commit re-lists existing
    file paths in its ``added``; an incremental range containing BOTH a
    file's creating commit and the backfill must not scan the file
    twice. COW surfaces exact duplicates (the MOR merge masks them)."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "incdup",
        record_keys=["c_custkey"], precombine="ver",
    )
    base = tagged_cust(spark)
    plain.write(base.coalesce(2), op="insert", instant="001")
    t = sec_table(spark, tmp_path, name="incdup")
    assert t.backfill_secondary_index() is not None
    n = base.count()
    assert t.incremental(None, None).count() == n  # was 2n pre-fix
    assert t.snapshot().count() == n
    # record-index backfill publishes the same action — same guard
    t2 = LakeTable(
        spark, str(tmp_path), "testdb", "incdup",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    assert t2.backfill_record_index() is not None
    assert t2.incremental(None, None).count() == n
    # and the range beginning at the creating commit still yields zero
    assert t2.incremental("001", None).count() == 0
    # changes() must also skip the metadata-only commits: a range
    # containing only backfills is a no-op feed, NOT a full-corpus
    # key scan of every re-listed file
    assert t2.changes("001", None).count() == 0


def test_secondary_index_rejects_unsafe_column_names(spark, tmp_path):
    """r10 ADVICE (medium): the sidecar layout stores the column NAME
    as a hive partition value; Spark's writer escapes special chars
    while the probe joins the raw name — so names outside
    ``[A-Za-z0-9_]+`` are rejected at construction instead of silently
    marking every covered file a definite miss."""
    import pytest

    for bad in ("a:b", "a=b", "a#b", "a%b", "", "col name", "naïve"):
        with pytest.raises(ValueError, match="secondary_index_columns"):
            LakeTable(
                spark, str(tmp_path), "testdb", f"badsec",
                record_keys=["c_custkey"], precombine="ver",
                secondary_index_columns=[bad],
            )
    # safe names still construct
    sec_table(spark, tmp_path, name="oksec")


def test_point_probe_gate(spark, tmp_path):
    """r10 ADVICE (low): the capped distinct-keys collect in write
    planning is (a) disabled outright by ``driver_probe_max_keys=0``
    and (b) skipped when Catalyst's size estimate proves the batch is
    far beyond point-sized; unknown estimates keep the probe."""
    t = sec_table(spark, tmp_path, name="gate")
    # (b) plan-size evidence: spark.range gives an exact estimate
    huge = spark.range(200_000_000).selectExpr(
        "cast(id as string) as c_custkey"
    )
    assert not t._point_probe_plausible(huge)
    small = spark.createDataFrame([("1",)], "c_custkey string")
    assert t._point_probe_plausible(small)
    # (a) the kill switch, end-to-end: results stay exact on the
    # Spark-only planning path
    base = write_four_interleaved(t, spark)
    t.driver_probe_max_keys = 0
    upd = (
        tagged_cust(spark, ver=2)
        .filter(F.col("c_custkey") == 8)
    )
    t.write(upd, op="upsert", instant="005")
    out = t.snapshot().filter(F.col("c_custkey") == 8).collect()
    assert [r["ver"] for r in out] == [2]
    assert t.snapshot().count() == base.count()


def test_backfill_record_index_spark_path_batched(spark, tmp_path):
    """r14: the Spark fallback of ``backfill_record_index`` builds ALL
    uncovered instants in ONE staged job (was one job per creating
    instant). Force it by zeroing the driver-build byte budget, include
    a pre-sized instant dir with a NON-DEFAULT ``.nshards`` marker, and
    assert the planner probes the index to the same exact results the
    driver path produces."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "bfb",
        record_keys=["c_custkey"], precombine="ver",
    )
    base = tagged_cust(spark)
    for i in range(3):
        plain.write(
            base.filter(F.col("c_custkey") % 3 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    # simulate a table resized between commits: instant 002's dir was
    # pre-sized with a different modulus — the batched build must shard
    # 002's rows with 7 and the rest with the table default
    pre = tmp_path / "testdb" / "bfb" / "_index" / "002"
    pre.mkdir(parents=True)
    (pre / ".nshards").write_text("7")
    t = LakeTable(
        spark, str(tmp_path), "testdb", "bfb",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    t.driver_probe_max_bytes = 0  # force the Spark batched path
    assert t.backfill_record_index() is not None
    assert t.backfill_record_index() is None  # idempotent
    # per-instant layout: markers honored, shard dirs under each instant
    idx = tmp_path / "testdb" / "bfb" / "_index"
    assert (idx / "002" / ".nshards").read_text() == "7"
    assert len([d for d in (idx / "002").iterdir() if d.is_dir()]) <= 7
    assert (idx / "001" / ".nshards").read_text() == str(t.index_shards)
    assert not [d for d in idx.iterdir() if d.name.startswith("_bf_stage")]
    # planning probes the index (full coverage) and results stay exact
    probed = []
    orig = t._index_hit_files
    t._index_hit_files = (
        lambda c, b, **kw: (probed.append(1), orig(c, b, **kw))[1]
    )
    t.write(
        base.filter(F.col("c_custkey") == 9).withColumn(
            "ver", F.lit(2).cast("long")
        ),
        op="upsert",
    )
    assert probed
    out = t.snapshot(predicate=[("_record_key", "=", "9")])
    assert [r["ver"] for r in out.select("ver").collect()] == [2]
    assert t.snapshot().count() == base.count()

def test_backfill_sec_index_spark_path_batched_by_schema_group(
    spark, tmp_path
):
    """r15 (verdict #7): the Spark fallback of
    ``backfill_secondary_index`` builds ALL uncovered instants of one
    SCHEMA GROUP (same indexed-column read schema + shard modulus) in
    ONE staged job — it was one job per (instant, missing-cols) group.
    Three instants missing the same long column must backfill in a
    single staged write (job count bounded well below 3 per-instant
    builds), serve exact probes for both columns, stay idempotent, and
    leak no stage dirs."""
    t1 = sec_table(spark, tmp_path, name="bfsg")
    base = tagged_cust(spark)
    for i in range(3):
        t1.write(
            base.filter(F.col("c_custkey") % 3 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t2 = sec_table(
        spark, tmp_path, name="bfsg",
        secondary_index_columns=["tag", "num"],
    )
    st = spark.sparkContext.statusTracker()
    j0 = len(st.getJobIdsForGroup(None))
    assert t2.backfill_secondary_index() is not None
    jobs = len(st.getJobIdsForGroup(None)) - j0
    # one staged scan+shuffle+write for the whole schema group: the
    # per-instant path paid >= 3 write jobs (plus their scans); allow
    # AQE stage-job slack but pin "does not scale with instant count"
    assert jobs <= 6, jobs
    assert t2.backfill_secondary_index() is None  # idempotent
    sec = tmp_path / "testdb" / "bfsg" / "_index_sec"
    assert not [
        d for d in sec.iterdir() if d.name.startswith("_bf_stage")
    ]
    # exact probes on the backfilled long column AND the original tag
    out = t2.snapshot(predicate=[("num", "=", 8 * 7)])
    assert [r["c_custkey"] for r in out.select("c_custkey").collect()] == [8]
    assert t2.last_sec_index_pruned == 2
    out = t2.snapshot(predicate=[("tag", "=", tag_of(spark, 9))])
    assert out.count() == 1
    assert t2.snapshot().count() == base.count()


def _indexed_upsert_jobs(spark, tmp, spark_route: bool) -> int:
    t = LakeTable(
        spark, str(tmp), "testdb", "jobs",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True, secondary_index_columns=["tag"],
    )
    t.write(tagged_cust(spark).coalesce(2), op="insert", instant="001")
    if spark_route:
        t.driver_probe_max_bytes = 0
    upd = tagged_cust(spark, ver=2).filter(F.col("c_custkey") == 8)
    st = spark.sparkContext.statusTracker()
    # count by the sequential job id: the number of RETAINED jobs drops
    # whenever the status store evicts past spark.ui.retainedJobs
    j0 = max(st.getJobIdsForGroup(None), default=-1)
    t.write(upd, op="upsert", instant="002")
    return max(st.getJobIdsForGroup(None), default=-1) - j0


def test_indexed_commit_spark_job_budget(spark, tmp_path):
    """Spark jobs for one COW point upsert on a table with the record
    index AND a string secondary index: the driver route (point-sized
    probe and builds) and the Spark route (``driver_probe_max_bytes =
    0``) each stay within the counts measured before the two indexes
    shared one implementation (3 and 8 jobs)."""
    assert _indexed_upsert_jobs(spark, tmp_path / "drv", False) <= 3
    assert _indexed_upsert_jobs(spark, tmp_path / "spk", True) <= 8


def test_backfill_retry_after_crash_appends_no_duplicates(spark, tmp_path):
    """A backfill that built its rows but crashed before its
    ``index_backfill`` commit landed must not leave them behind for
    the retry to duplicate: on the driver and the Spark route, after
    one failed and one successful run of each backfill, no shard dir
    holds a ``(value, fp)`` row twice and both probes stay exact."""
    import pyarrow.parquet as pq
    import pytest

    base = tagged_cust(spark)
    for route in ("driver", "spark"):
        root = str(tmp_path / route)
        plain = LakeTable(
            spark, root, "testdb", "rt",
            record_keys=["c_custkey"], precombine="ver",
        )
        for i in range(3):
            plain.write(
                base.filter(F.col("c_custkey") % 3 == i).coalesce(1),
                op="insert", instant=f"00{i + 1}",
            )
        t = LakeTable(
            spark, root, "testdb", "rt",
            record_keys=["c_custkey"], precombine="ver",
            record_index=True, secondary_index_columns=["tag"],
        )
        if route == "spark":
            t.driver_probe_max_bytes = 0
        orig = t._write_manifest
        crashed: list[int] = []

        def flaky(instant, action, *a, **kw):
            if action == "index_backfill" and not crashed:
                crashed.append(1)
                raise RuntimeError("simulated crash before publish")
            return orig(instant, action, *a, **kw)

        t._write_manifest = flaky
        for backfill in (t.backfill_record_index, t.backfill_secondary_index):
            crashed.clear()
            with pytest.raises(RuntimeError, match="simulated crash"):
                backfill()
            assert backfill() is not None
        for idx_root, col in ((t.index_dir, "key"), (t.sec_index_dir, "val")):
            for d, _sub, fns in os.walk(idx_root):
                rows = []
                for fn in fns:
                    if fn.endswith(".parquet"):
                        tbl = pq.read_table(
                            os.path.join(d, fn), columns=[col, "fp"]
                        )
                        rows += zip(
                            tbl.column(col).to_pylist(),
                            tbl.column("fp").to_pylist(),
                        )
                assert len(rows) == len(set(rows)), (route, d)
        out = t.snapshot(predicate=[("_record_key", "=", "8")])
        assert [r["c_custkey"] for r in out.collect()] == [8]
        assert t.last_record_read_pruned == 2
        out = t.snapshot(predicate=[("tag", "=", tag_of(spark, 8))])
        assert [r["c_custkey"] for r in out.collect()] == [8]
        assert t.last_sec_index_pruned == 2


def test_leaked_stage_dir_is_not_probed(spark, tmp_path):
    """A ``_bf_stage-*`` dir leaked by a killed backfill holds no
    ``shard=`` children and is no instant dir: probes must not read it
    (it maps key ``8`` to a live file that does not hold it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = LakeTable(
        spark, str(tmp_path), "testdb", "stg",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    write_four_interleaved(t, spark)
    t.snapshot(predicate=[("_record_key", "=", "8")]).count()
    want = t.last_record_read_pruned
    assert want == 3
    wrong = next(
        f["path"] for f in t._live_files() if f["path"].startswith("data/002/")
    )
    leak = os.path.join(t.index_dir, "_bf_stage-x", "inst=001", "shard=0")
    os.makedirs(leak)
    pq.write_table(
        pa.table({"key": ["8"], "fp": [wrong]}),
        os.path.join(leak, "part-0.parquet"),
    )
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    assert [r["c_custkey"] for r in out.collect()] == [8]
    assert t.last_record_read_pruned == want
