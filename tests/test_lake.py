"""Lakehouse-kernel semantics tests (SURVEY.md §7 phase 2 hard bits):
precombine tie-breaks, delete-vs-late-upsert, replay idempotence,
partition-move under global index, incremental ranges, cleaner."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import (
    COMMIT_TIME_COL,
    META_COLS,
    RECORD_KEY_COL,
    LakeTable,
)
from emr_hudi_example_spark.lake import timeline as timeline_mod
from tests.harness import count_jobs

SF = "/root/testdata/sf0.001"


def make_table(
    spark, tmp, name="t1", partition_keys=None, global_index=False, **kw
):
    return LakeTable(
        spark,
        str(tmp),
        "testdb",
        name,
        record_keys=["c_custkey"],
        precombine="ver",
        partition_keys=partition_keys or [],
        global_index=global_index,
        **kw,
    )


def cust(spark, ver=1):
    return (
        spark.read.parquet(f"{SF}/customer.parquet")
        .withColumn("ver", F.lit(ver).cast("long"))
    )


def test_insert_then_snapshot(spark, tmp_path):
    t = make_table(spark, tmp_path)
    n = cust(spark).count()
    t.write(cust(spark), op="insert", instant="001")
    assert t.snapshot().count() == n
    assert t.timeline() == ["001"]
    assert set(META_COLS) <= set(t.snapshot().columns)
    assert t.logical().columns == cust(spark).columns


def test_insert_allows_duplicate_keys(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.write(cust(spark), op="insert", instant="001")
    t.write(cust(spark), op="insert", instant="002")
    assert t.snapshot().count() == 2 * cust(spark).count()


def test_insert_duplicate_key_contract(spark, tmp_path):
    """The duplicate-key insert contract (see ``_commit_insert``):
    insert never checks the key (Hudi-faithful append fast path), and
    what a reader sees is table-type-dependent but DETERMINISTIC —
    COW snapshots surface both physical rows (merge-free reads) until
    the key's next upsert collapses them through the standard
    max-precombine merge; MOR's global per-key read fold collapses
    them immediately with the SAME rule, so post-upsert both table
    types converge on the identical row (Hudi leaves cross-file-group
    duplicate behavior undefined; this engine defines it)."""
    from emr_hudi_example_spark.lake import LakeTable

    sch = "k string, ver long, v long"
    ends = {}
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = LakeTable(
            spark, str(tmp_path), "d", f"ins_{tt}", ["k"], "ver",
            table_type=tt,
        )
        t.write(
            spark.createDataFrame([("k1", 5, 10)], sch),
            op="insert", instant="001",
        )
        t.write(
            spark.createDataFrame([("k1", 2, 11)], sch),
            op="insert", instant="002",
        )
        dup_view = sorted(
            tuple(r)
            for r in t.snapshot().select("k", "ver", "v").collect()
        )
        if tt == "COPY_ON_WRITE":
            assert dup_view == [("k1", 2, 11), ("k1", 5, 10)]
        else:
            # MOR read fold: max precombine wins immediately
            assert dup_view == [("k1", 5, 10)]
        # a STALE upsert still collapses the duplicates, and the
        # max-precombine row (not the upsert's) survives — the same
        # merge rule on both table types
        t.write(
            spark.createDataFrame([("k1", 3, 12)], sch),
            op="upsert", instant="003",
        )
        ends[tt] = sorted(
            tuple(r)
            for r in t.snapshot().select("k", "ver", "v").collect()
        )
        assert ends[tt] == [("k1", 5, 10)], ends[tt]
    assert ends["COPY_ON_WRITE"] == ends["MERGE_ON_READ"]


def test_partial_update_duplicate_keys_in_batch(spark, tmp_path):
    """Within-batch duplicate keys under ``payload='partial_update'``
    (the r12 ADVICE divergence): every write path pre-combines the
    batch pairwise (``_precombine_batch`` — Hudi's
    combine-before-write), so COW and MOR read IDENTICAL folds.
    Legs: (1) the ADVICE example — stored ``(ver=5, c=null)``, one
    upsert batch ``{(3,B),(4,C)}`` → the batch pre-merges to the unit
    ``(4,C)`` and the stale unit FILLS the null column: both types
    read ``(5, C)`` (the un-pre-combined MOR replay filled ``B``);
    (2) the fill-through case — stored ``(5, X)``, batch
    ``{(3,B),(6,null),(4,C)}`` pre-merges to ``(6, C)`` (the fresh
    null field takes the losing record's value) which OVERWRITES:
    both read ``(6, C)`` (the raw COW union fold kept ``X``);
    (3) duplicate-key INSERT pre-combines too (the documented
    partial_update carve-out from the insert duplicate contract):
    one physical row on both table types."""
    sch = "k string, ver long, c string"
    ends: dict[int, dict] = {1: {}, 3: {}}
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = LakeTable(
            spark, str(tmp_path), "d", f"pudup_{tt}", ["k"], "ver",
            table_type=tt, payload="partial_update",
        )
        t.write(
            spark.createDataFrame(
                [("k1", 5, None), ("k2", 5, "X")], sch
            ),
            op="upsert", instant="001",
        )
        t.write(
            spark.createDataFrame(
                [
                    ("k1", 3, "B"), ("k1", 4, "C"),
                    ("k2", 3, "B"), ("k2", 6, None), ("k2", 4, "C"),
                ],
                sch,
            ),
            op="upsert", instant="002",
        )
        rows = sorted(
            tuple(r) for r in t.snapshot().select("k", "ver", "c").collect()
        )
        assert rows == [("k1", 5, "C"), ("k2", 6, "C")], (tt, rows)
        ends[1][tt] = rows
        # leg 3: insert with duplicates pre-combines to ONE row
        t2 = LakeTable(
            spark, str(tmp_path), "d", f"pudup_ins_{tt}", ["k"], "ver",
            table_type=tt, payload="partial_update",
        )
        t2.write(
            spark.createDataFrame(
                [("k1", 2, "old"), ("k1", 7, None)], sch
            ),
            op="insert", instant="001",
        )
        ins = sorted(
            tuple(r)
            for r in t2.snapshot().select("k", "ver", "c").collect()
        )
        assert ins == [("k1", 7, "old")], (tt, ins)
        ends[3][tt] = ins
        # the fold must survive compaction on MOR unchanged
        if tt == "MERGE_ON_READ":
            t.compact()
            assert sorted(
                tuple(r)
                for r in t.snapshot().select("k", "ver", "c").collect()
            ) == rows
    assert ends[1]["COPY_ON_WRITE"] == ends[1]["MERGE_ON_READ"]
    assert ends[3]["COPY_ON_WRITE"] == ends[3]["MERGE_ON_READ"]


def test_partial_update_keys_only_delete(spark, tmp_path):
    """Keys-only delete batches on ``payload='partial_update'`` tables
    (the r13 ADVICE high finding): ``_commit_delete``'s documented
    contract — 'the delete batch only needs the key columns' — must
    hold on BOTH table types. The r12 within-batch preCombine ran on
    every write path including MOR tombstones, so a keys-only frame
    (no precombine column) raised UNRESOLVED_COLUMN before anything
    committed. Delete batches now skip the combine (Hudi's
    combine-before-write applies to insert/upsert payload merging,
    not delete keys). Also pins: duplicate keys in a delete batch are
    harmless (identical tombstones fold to one), and a delete batch
    that DOES carry extra columns still works."""
    sch = "k string, ver long, c string"
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = LakeTable(
            spark, str(tmp_path), "d", f"pudel_{tt}", ["k"], "ver",
            table_type=tt, payload="partial_update",
        )
        t.write(
            spark.createDataFrame(
                [("k1", 5, "A"), ("k2", 3, "B"), ("k3", 1, "C")], sch
            ),
            op="upsert", instant="001",
        )
        # keys-only frame — no precombine, no data columns; with a
        # duplicate key to pin that tombstones need no combine
        t.write(
            spark.createDataFrame([("k1",), ("k1",), ("k3",)], "k string"),
            op="delete", instant="002",
        )
        rows = sorted(
            tuple(r) for r in t.snapshot().select("k", "ver", "c").collect()
        )
        assert rows == [("k2", 3, "B")], (tt, rows)
        # full-schema delete frame still works too
        t.write(
            spark.createDataFrame([("k2", 99, None)], sch),
            op="delete", instant="003",
        )
        assert t.snapshot().count() == 0, tt
        # and on MOR the tombstones survive compaction
        if tt == "MERGE_ON_READ":
            t.compact()
            assert t.snapshot().count() == 0


def test_partial_update_keys_only_delete_optimistic(spark, tmp_path):
    """The THIRD delete leg: ``write_optimistic`` must honor the same
    keys-only delete contract as ``write``/``merge_into`` (found by the
    r13 review — the MOR optimistic tombstone path still ran the
    within-batch preCombine, raising UNRESOLVED_COLUMN on the missing
    precombine column before anything committed)."""
    sch = "k string, ver long, c string"
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = LakeTable(
            spark, str(tmp_path), "d", f"puopt_{tt}", ["k"], "ver",
            table_type=tt, payload="partial_update",
        )
        t.write_optimistic(
            spark.createDataFrame([("k1", 5, "A"), ("k2", 3, "B")], sch),
            op="upsert",
        )
        t.write_optimistic(
            spark.createDataFrame([("k1",)], "k string"), op="delete"
        )
        rows = sorted(
            tuple(r) for r in t.snapshot().select("k", "ver", "c").collect()
        )
        assert rows == [("k2", 3, "B")], (tt, rows)
        if tt == "MERGE_ON_READ":
            t.compact()
            assert t.snapshot().count() == 1


def test_upsert_larger_precombine_wins(spark, tmp_path):
    t = make_table(spark, tmp_path)
    base = cust(spark, ver=1)
    t.write(base, op="upsert", instant="001")
    # bump 10 keys with ver=2 and changed balance
    upd = base.filter(F.col("c_custkey") <= 10).withColumn(
        "ver", F.lit(2).cast("long")
    ).withColumn("c_acctbal", F.lit(9999.0))
    t.write(upd, op="upsert", instant="002")
    snap = t.snapshot()
    assert snap.count() == base.count()  # no duplicates
    changed = snap.filter(F.col("c_acctbal") == 9999.0).count()
    assert changed == upd.count()
    # stale write with ver=0 must NOT overwrite
    stale = base.filter(F.col("c_custkey") <= 10).withColumn(
        "ver", F.lit(0).cast("long")
    ).withColumn("c_acctbal", F.lit(-1.0))
    t.write(stale, op="upsert", instant="003")
    assert t.snapshot().filter(F.col("c_acctbal") == -1.0).count() == 0


def test_upsert_tie_incoming_wins(spark, tmp_path):
    t = make_table(spark, tmp_path)
    base = cust(spark, ver=5)
    t.write(base, op="upsert", instant="001")
    same_ver = base.filter(F.col("c_custkey") == 1).withColumn(
        "c_name", F.lit("TIEBREAK")
    )
    t.write(same_ver, op="upsert", instant="002")
    row = t.snapshot().filter(F.col("c_custkey") == 1).collect()[0]
    assert row["c_name"] == "TIEBREAK"  # equal precombine → incoming wins


def test_upsert_intra_batch_dedup(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1).limit(5)
    doubled = b.union(b.withColumn("ver", F.lit(7).cast("long")).withColumn(
        "c_name", F.lit("V7")
    ))
    t.write(doubled, op="upsert", instant="001")
    snap = t.snapshot()
    assert snap.count() == 5
    assert snap.filter(F.col("c_name") == "V7").count() == 5


def test_upsert_replay_idempotent(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=3)
    t.write(b, op="upsert", instant="001")
    first = sorted(t.logical().collect())
    t.write(b, op="upsert", instant="002")  # checkpoint replay
    assert sorted(t.logical().collect()) == first


def test_delete(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1)
    t.write(b, op="upsert", instant="001")
    victims = b.filter(F.col("c_custkey") <= 20)
    t.write(victims, op="delete", instant="002")
    snap = t.snapshot()
    assert snap.filter(F.col("c_custkey") <= 20).count() == 0
    assert snap.count() == b.count() - victims.count()
    # late upsert with higher ver resurrects the row
    late = victims.withColumn("ver", F.lit(9).cast("long"))
    t.write(late, op="upsert", instant="003")
    assert t.snapshot().filter(F.col("c_custkey") <= 20).count() == victims.count()


def test_incremental_range(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1)
    t.write(b, op="upsert", instant="001")
    upd = b.filter(F.col("c_custkey") <= 7).withColumn("ver", F.lit(2).cast("long"))
    t.write(upd, op="upsert", instant="002")
    inc = t.incremental("001", "002")
    assert inc.count() == upd.count()
    assert set(r[COMMIT_TIME_COL] for r in inc.collect()) == {"002"}
    # full-range incremental = snapshot row count
    assert t.incremental(None, None).count() == t.snapshot().count()
    # empty range
    assert t.incremental("002", "002").count() == 0


def test_partitioned_cow_rewrites_only_affected(spark, tmp_path):
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"])
    b = cust(spark, ver=1)
    t.write(b, op="upsert", instant="001")
    seg = b.filter(F.col("c_mktsegment") == "BUILDING")
    upd = seg.withColumn("ver", F.lit(2).cast("long")).withColumn(
        "c_acctbal", F.lit(1.5)
    )
    t.write(upd, op="upsert", instant="002")
    m = t.tl.manifest("002")
    # only the BUILDING partition was rewritten
    assert all(f["partition"] == {"c_mktsegment": "BUILDING"} for f in m["added"])
    assert t.snapshot().count() == b.count()
    assert t.snapshot().filter(F.col("c_acctbal") == 1.5).count() == seg.count()
    # manifest-driven partition pruning
    pruned = t.snapshot(partition_filter={"c_mktsegment": "BUILDING"})
    assert pruned.count() == seg.count()


def test_global_index_moves_partition(spark, tmp_path):
    t = make_table(
        spark, tmp_path, partition_keys=["c_mktsegment"], global_index=True
    )
    b = cust(spark, ver=1)
    t.write(b, op="upsert", instant="001")
    mover = b.filter(F.col("c_custkey") == 1).withColumn(
        "c_mktsegment", F.lit("NEWSEG")
    ).withColumn("ver", F.lit(2).cast("long"))
    old_seg = b.filter(F.col("c_custkey") == 1).collect()[0]["c_mktsegment"]
    t.write(mover, op="upsert", instant="002")
    snap = t.snapshot()
    assert snap.count() == b.count()  # moved, not duplicated
    got = snap.filter(F.col("c_custkey") == 1).collect()
    assert len(got) == 1 and got[0]["c_mktsegment"] == "NEWSEG"
    assert (
        snap.filter(
            (F.col("c_custkey") == 1) & (F.col("c_mktsegment") == old_seg)
        ).count()
        == 0
    )


def test_non_global_index_duplicates_across_partitions(spark, tmp_path):
    # plain bloom index: key uniqueness is partition-scoped — a key
    # arriving in a new partition creates a second row (Hudi default).
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"])
    b = cust(spark, ver=1)
    t.write(b, op="upsert", instant="001")
    mover = b.filter(F.col("c_custkey") == 1).withColumn(
        "c_mktsegment", F.lit("NEWSEG")
    ).withColumn("ver", F.lit(2).cast("long"))
    t.write(mover, op="upsert", instant="002")
    assert t.snapshot().filter(F.col("c_custkey") == 1).count() == 2


def test_cleaner_and_archival(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1)
    for i in range(1, 6):
        t.write(
            b.withColumn("ver", F.lit(i).cast("long")), op="upsert",
            instant=f"00{i}",
        )
    before = t.snapshot().count()
    deleted = t.clean(retain_commits=2)
    assert deleted  # old rewrites removed
    assert t.snapshot().count() == before  # latest snapshot intact
    archived = t.archive_timeline(keep_commits=4)
    assert archived == ["001"]
    assert t.timeline() == ["002", "003", "004", "005"]


def test_history_reads_past_archival_horizon_raise(spark, tmp_path):
    """The archival-horizon rule `incremental()` always had now covers
    the WHOLE history-read surface: `changes()` with an archived begin
    silently misclassified updates as inserts (its before-image
    `snapshot(as_of=begin)` resolved to an empty view) and on MOR would
    drop archived commits' changes outright; `snapshot(as_of=<archived
    instant>)` silently returned an EMPTY table, indistinguishable from
    'predates the table'. All three now raise the horizon error;
    in-horizon ranges and true pre-table as_of (no archive) keep their
    semantics."""
    t = make_table(spark, tmp_path, name="arch")
    for i in range(1, 7):
        t.write(
            cust(spark, ver=i).filter(F.col("c_custkey") <= 3),
            op="upsert", instant=f"00{i}",
        )
    # pre-archive: as_of before the table is an empty view by contract
    assert t.snapshot(as_of="000").count() == 0
    pre = t.changes("001", "006")
    assert {r["op"] for r in pre.collect()} == {"update"}
    assert t.archive_timeline(keep_commits=2) == [
        "001", "002", "003", "004"
    ]
    for bad in (
        lambda: t.changes("001", "006"),
        lambda: t.changes(None, None),
        lambda: t.incremental("001", "006"),
        lambda: t.snapshot(as_of="003"),
    ):
        with pytest.raises(ValueError, match="archived horizon"):
            bad()
    # in-horizon reads unaffected
    assert t.changes("005", "006").count() > 0
    assert t.incremental("005", "006").count() > 0
    assert t.snapshot(as_of="005").count() > 0
    # an as_of that predates the EARLIEST ARCHIVED commit is genuinely
    # pre-table: the empty-view contract survives archival (r14 review /
    # r13 ADVICE — previously this raised the horizon error)
    assert t.snapshot(as_of="000").count() == 0
    with pytest.raises(ValueError, match="archived horizon"):
        t.snapshot(as_of="001")  # exactly the first archived instant
    # a RANGE starting pre-table still includes every archived commit —
    # it must keep raising
    with pytest.raises(ValueError, match="archived horizon"):
        t.incremental("000", "006")
    with pytest.raises(ValueError, match="archived horizon"):
        t.changes("000", "006")


def test_restore_over_backfill_keeps_archived_commit_files(spark, tmp_path):
    """Data-loss regression (r13): restore()'s keep-set was built from
    ACTIVE manifests only, but a doomed metadata-only index_backfill
    commit re-lists LIVE files from arbitrarily old creating commits —
    when those commits had been archived, restore physically deleted
    their live data files (the snapshot then died with PATH_NOT_FOUND
    and the rows were gone). The keep-set now unions the restore-point
    live set (checkpoint-replayed through the archival horizon) and
    archived manifests."""
    t = LakeTable(
        spark, str(tmp_path), "testdb", "rb", record_keys=["k"],
        precombine="ver", partition_keys=["part"],
    )
    sch = "k string, ver long, part string, v long"
    for i in range(1, 7):
        t.write(
            spark.createDataFrame([(f"k{i}", 1, f"p{i}", i * 10)], sch),
            op="upsert", instant=f"00{i}",
        )
    assert t.archive_timeline(keep_commits=4) == ["001", "002"]
    # enable the record index mid-life; backfill re-lists every live
    # file — including data/001, data/002 whose manifests are archived
    t2 = LakeTable(
        spark, str(tmp_path), "testdb", "rb", record_keys=["k"],
        precombine="ver", partition_keys=["part"], record_index=True,
    )
    backfill = t2.backfill_record_index()
    assert backfill is not None
    assert t2.restore("006") == [backfill]
    rows = sorted(
        tuple(r) for r in t2.snapshot().select("k", "ver", "v").collect()
    )
    assert rows == [(f"k{i}", 1, i * 10) for i in range(1, 7)]
    # index point reads stay sane after the backfill commit was undone
    assert [
        r["v"] for r in t2.snapshot(predicate=[("k", "=", "k2")]).collect()
    ] == [20]


def test_archival_stops_at_earliest_savepoint(spark, tmp_path):
    """Hudi's rule: archival cannot proceed past a savepointed commit —
    the savepoint's reproducible `as_of` read must keep working, not
    collapse into the archived-horizon error while its pinned files
    still exist."""
    t = make_table(spark, tmp_path, name="archsp")
    for i in range(1, 7):
        t.write(
            cust(spark, ver=i).filter(F.col("c_custkey") <= 3),
            op="upsert", instant=f"00{i}",
        )
    t.savepoint("003")
    assert t.archive_timeline(keep_commits=2) == ["001", "002"]
    assert t.timeline() == ["003", "004", "005", "006"]
    assert t.clean(retain_commits=1)
    # the savepointed read survives both archival and an aggressive clean
    assert {
        r["ver"] for r in t.snapshot(as_of="003").collect()
    } == {3}
    t.release_savepoint("003")
    assert t.archive_timeline(keep_commits=2) == ["003", "004"]


def test_schema_align_missing_and_extra(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1)
    t.write(b, op="upsert", instant="001")
    # missing column → null
    partial = b.drop("c_name").filter(F.col("c_custkey") <= 3).withColumn(
        "ver", F.lit(2).cast("long")
    )
    t.write(partial, op="upsert", instant="002")
    rows = t.snapshot().filter(F.col("c_custkey") <= 3).collect()
    assert all(r["c_name"] is None for r in rows)


def test_align_schema_noop_returns_batch(spark, tmp_path):
    """A batch that already has the stored columns at their types comes
    back as the same frame, with no projection built; a narrower stored
    type met by a wider batch column still widens, and a missing column
    still fills with typed nulls."""
    t = LakeTable(spark, str(tmp_path), "d", "t", ["k"], "ver")
    t.write(spark.createDataFrame([("a", 1, 7)], "k string, ver long, v int"),
            op="insert", instant="001")
    stored = t._stored_schema(t.last_instant())
    same = spark.createDataFrame([("b", 2, 8, "002", "b", "")], stored)
    assert t._align_schema(same, t.timeline()) is same
    wide = same.withColumn("v", F.col("v").cast("long"))
    aligned = t._align_schema(wide, t.timeline())
    assert aligned is not wide
    assert dict(aligned.dtypes)["v"] == "bigint"
    missing = same.drop("v")
    aligned = t._align_schema(missing, t.timeline())
    assert dict(aligned.dtypes)["v"] == "int"
    assert aligned.columns == stored.fieldNames()
    assert aligned.collect()[0]["v"] is None


def test_schema_evolution_additive(spark, tmp_path):
    """New batch columns widen the table (Hudi-style additive evolution):
    appended after stored fields, null for pre-evolution rows/files."""
    t = make_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    evolved = (
        cust(spark, ver=2)
        .filter(F.col("c_custkey") <= 3)
        .withColumn("brand_new", F.col("c_custkey") * 10)
    )
    t.write(evolved, op="upsert", instant="002")
    snap = t.snapshot()
    assert snap.columns[-len(META_COLS) - 1] != "brand_new"  # meta stamped after
    assert "brand_new" in snap.columns
    got = {r["c_custkey"]: r["brand_new"] for r in snap.collect()}
    assert got[0] == 0 and got[1] == 10 and got[3] == 30
    assert all(v is None for k, v in got.items() if k > 3)
    # untouched old files (carried by manifest reference) also read as null
    inc = t.incremental("001", "002")
    assert {r["c_custkey"] for r in inc.collect()} == {0, 1, 2, 3}
    # a later batch WITHOUT the column → null (missing-column path)
    t.write(
        cust(spark, ver=3).filter(F.col("c_custkey") == 1),
        op="upsert", instant="003",
    )
    r1 = t.snapshot().filter(F.col("c_custkey") == 1).collect()[0]
    assert r1["brand_new"] is None and r1["ver"] == 3


def test_stream_commit_log(spark, tmp_path):
    """T5 re-platformed: Structured Streaming over the commit log; a
    cursor filter inside foreachBatch recovers exact increments."""
    t = make_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")

    seen: list[tuple] = []

    def sink(batch, _id):
        rows = batch.filter(F.col(COMMIT_TIME_COL) > "001").collect()
        seen.extend((r["c_custkey"], r["ver"], r[COMMIT_TIME_COL]) for r in rows)

    q = (
        t.stream()
        .writeStream.option(
            "checkpointLocation", str(tmp_path / "_ckpt")
        )
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
        n_initial = len(seen)
        assert n_initial == 0  # everything so far is commit 001
        t.write(
            cust(spark, ver=2).filter(F.col("c_custkey") <= 2),
            op="upsert", instant="002",
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert sorted(seen) == [(0, 2, "002"), (1, 2, "002"), (2, 2, "002")]


def test_upsert_file_level_targeting(spark, tmp_path):
    """COW rewrites only the FILES containing a batch key; other files in
    the same partition survive by manifest reference (bloom-index analog)."""
    t = make_table(spark, tmp_path)
    lo = cust(spark, ver=1).filter(F.col("c_custkey") < 10)
    hi = cust(spark, ver=1).filter(F.col("c_custkey") >= 100)
    t.write(lo, op="insert", instant="001")
    t.write(hi, op="insert", instant="002")
    lo_files = {f["path"] for f in t.tl.manifest("001")["added"]}
    hi_files = {f["path"] for f in t.tl.manifest("002")["added"]}

    one = cust(spark, ver=2).filter(F.col("c_custkey") == 5)
    t.write(one, op="upsert", instant="003")
    m = t.tl.manifest("003")
    assert set(m["replaced"]) <= lo_files  # only key-hit files rewritten
    assert hi_files <= {f["path"] for f in t.tl.live_files("003")}  # carried over
    snap = t.snapshot()
    assert snap.filter(F.col("c_custkey") == 5).collect()[0]["ver"] == 2
    assert snap.count() == lo.count() + hi.count()

    # delete targets files the same way
    t.write(cust(spark, ver=3).filter(F.col("c_custkey") == 101),
            op="delete", instant="004")
    m4 = t.tl.manifest("004")
    assert set(m4["replaced"]) <= hi_files  # lo-side files untouched
    assert t.snapshot().count() == lo.count() + hi.count() - 1


def test_pk_null_rows_filtered(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1).withColumn(
        "c_custkey",
        F.when(F.col("c_custkey") <= 5, F.lit(None)).otherwise(F.col("c_custkey")),
    )
    t.write(b, op="upsert", instant="001")
    n_nulled = cust(spark).filter(F.col("c_custkey") <= 5).count()
    assert t.snapshot().count() == cust(spark).count() - n_nulled


def test_instant_monotonicity(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.write(cust(spark), op="insert", instant="005")
    with pytest.raises(ValueError, match="not after last commit"):
        t.write(cust(spark), op="insert", instant="004")
    auto = t.write(cust(spark), op="insert")  # wall-clock instant is fine
    assert auto > "005"


def test_commit_point_is_manifest(spark, tmp_path):
    """Orphan data files from a crashed write are invisible and cleaned."""
    t = make_table(spark, tmp_path)
    t.write(cust(spark), op="insert", instant="001")
    # simulate crash: data files written, manifest never committed
    orphan_dir = os.path.join(t.data_dir, "999")
    cust(spark).limit(3).write.parquet(orphan_dir)
    assert t.snapshot().count() == cust(spark).count()  # orphans invisible
    t.clean(retain_commits=2)
    assert not any(
        f.endswith(".parquet") for _r, _d, fs in os.walk(orphan_dir) for f in fs
    )


def test_compact_squashes_files_preserving_semantics(spark, tmp_path):
    """Compaction rewrites live files into fewer; snapshot identical,
    incremental ranges still exact (rows keep their _commit_time)."""
    t = make_table(spark, tmp_path)
    for i, inst in enumerate(["001", "002", "003"]):
        t.write(
            cust(spark, ver=i + 1).filter(F.col("c_custkey") % 3 == i),
            op="insert", instant=inst,
        )
    before = {(r["c_custkey"], r["ver"]) for r in t.snapshot().collect()}
    n_files_before = len(t.tl.live_files())
    t.compact(instant="004")
    assert len(t.tl.live_files()) < n_files_before
    assert {(r["c_custkey"], r["ver"]) for r in t.snapshot().collect()} == before
    # incremental over a range spanning the compaction: exactly commit 002+003 rows
    inc = t.incremental("001", "004")
    assert {r["ver"] for r in inc.collect()} == {2, 3}
    assert inc.count() == len([1 for k, v in before if v in (2, 3)])
    # compaction + cleaner: old files become unreferenced and removable
    deleted = t.clean(retain_commits=1)
    assert deleted
    assert {(r["c_custkey"], r["ver"]) for r in t.snapshot().collect()} == before


def test_writer_lock_blocks_second_writer(spark, tmp_path):
    """OCC-lite: a held writer lock fails the second writer after the
    bounded wait (ZK-lock analog, SRC/package.scala:38-47)."""
    t = make_table(spark, tmp_path)
    t.lock_wait_seconds = 0.2  # stale lock never frees — don't wait 30s
    t.write(cust(spark, ver=1), op="insert", instant="001")
    lock = os.path.join(t.path, "_writer.lock")
    open(lock, "w").close()  # simulate a concurrent writer holding it
    with pytest.raises(RuntimeError, match="concurrent writer"):
        t.write(cust(spark, ver=2), op="upsert", instant="002")
    os.unlink(lock)
    t.write(cust(spark, ver=2), op="upsert", instant="002")  # now fine
    assert t.timeline() == ["001", "002"]


def test_time_travel_snapshot(spark, tmp_path):
    """snapshot(as_of=...) serves the view at any past commit (Hudi
    as.of.instant), including the pre-evolution schema."""
    t = make_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(
        cust(spark, ver=2)
        .filter(F.col("c_custkey") <= 5)
        .withColumn("extra", F.lit("x")),
        op="upsert", instant="002",
    )
    old = t.snapshot(as_of="001")
    assert "extra" not in old.columns  # as-of schema, pre-evolution
    assert old.filter(F.col("ver") == 2).count() == 0
    assert old.count() == cust(spark).count()
    # between commits resolves to the newest ≤ instant; before → empty
    assert t.snapshot(as_of="0015").count() == cust(spark).count()
    assert t.snapshot(as_of="000").count() == 0
    now = t.snapshot()
    assert now.filter(F.col("ver") == 2).count() == 6  # keys 0..5


def test_restore_rolls_back_commits(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(
        cust(spark, ver=2).filter(F.col("c_custkey") <= 5),
        op="upsert", instant="002",
    )
    t.write(cust(spark, ver=3).filter(F.col("c_custkey") == 0),
            op="delete", instant="003")
    doomed = t.restore("001")
    assert doomed == ["002", "003"]
    assert t.timeline() == ["001"]
    snap = t.snapshot()
    assert snap.count() == cust(spark).count()
    assert snap.filter(F.col("ver") != 1).count() == 0
    # table stays writable after restore
    t.write(cust(spark, ver=4).filter(F.col("c_custkey") == 1),
            op="upsert", instant="004")
    assert t.snapshot().filter(F.col("ver") == 4).count() == 1


def test_compact_sort_by_clusters_rows(spark, tmp_path):
    """compact(sort_by=...) and the scheduled route
    (schedule_compaction(sort_spec=...) + run_compaction) run the same
    fold: the compacted file stays ordered by the sort key, never
    re-sorted by record key."""
    import pyarrow.parquet as pq

    routes = {
        "compact": lambda t: t.compact(instant="003", sort_by=["c_custkey"]),
        "schedule_run": lambda t: t.run_compaction(
            t.schedule_compaction(sort_spec=["c_custkey"])
        ),
    }
    for name, fold in routes.items():
        t = make_table(spark, tmp_path, name=name)
        t.write(cust(spark, ver=1), op="insert", instant="001")
        t.write(cust(spark, ver=2), op="insert", instant="002")
        assert fold(t) is not None
        # rows inside the (single) compacted file are key-ordered
        path = [f["path"] for f in t.tl.live_files()]
        assert len(path) == 1
        keys = pq.read_table(
            os.path.join(t.path, path[0]), columns=["c_custkey"]
        )["c_custkey"].to_pylist()
        assert keys == sorted(keys), name


def mor_table(spark, tmp, **kw):
    return LakeTable(
        spark, str(tmp), "testdb", "mor", record_keys=["c_custkey"],
        precombine="ver", table_type="MERGE_ON_READ", **kw,
    )


def test_mor_upsert_matches_cow_semantics(spark, tmp_path):
    """MOR delta-append upsert: snapshot merge gives the same end-state
    as COW (larger precombine wins, later commit breaks ties)."""
    t = mor_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    upd = cust(spark, ver=2).filter(F.col("c_custkey") <= 10).withColumn(
        "c_acctbal", F.lit(9999.0)
    )
    t.write(upd, op="upsert", instant="002")
    stale = cust(spark, ver=0).filter(F.col("c_custkey") <= 10).withColumn(
        "c_acctbal", F.lit(-1.0)
    )
    t.write(stale, op="upsert", instant="003")
    snap = t.snapshot()
    assert snap.count() == cust(spark).count()
    assert snap.filter(F.col("c_acctbal") == 9999.0).count() == 11
    assert snap.filter(F.col("c_acctbal") == -1.0).count() == 0
    assert "_deleted" not in snap.columns
    # no rewrite happened: every commit only ADDED files
    for i in t.timeline():
        assert t.tl.manifest(i)["replaced"] == []


def test_mor_delete_tombstone_and_resurrect(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.write(cust(spark, ver=5), op="upsert", instant="001")
    victims = cust(spark, ver=5).filter(F.col("c_custkey") <= 20)
    t.write(victims, op="delete", instant="002")
    snap = t.snapshot()
    assert snap.filter(F.col("c_custkey") <= 20).count() == 0
    assert snap.count() == cust(spark).count() - victims.count()
    # late re-insert after the tombstone resurrects (even with lower ver)
    t.write(
        cust(spark, ver=1).filter(F.col("c_custkey") <= 3),
        op="upsert", instant="003",
    )
    back = t.snapshot().filter(F.col("c_custkey") <= 3)
    assert back.count() == 4 and {r["ver"] for r in back.collect()} == {1}
    # incremental never surfaces tombstones
    inc = t.incremental("001", "002")
    assert inc.count() == 0


def test_mor_read_optimized_vs_snapshot_and_compaction(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="insert", instant="001")  # base files
    upd = cust(spark, ver=2).filter(F.col("c_custkey") <= 10).withColumn(
        "c_name", F.lit("UPDATED")
    )
    t.write(upd, op="upsert", instant="002")  # delta
    ro = t.read_optimized()
    assert ro.filter(F.col("c_name") == "UPDATED").count() == 0  # stale base
    assert t.snapshot().filter(F.col("c_name") == "UPDATED").count() == 11
    t.compact(instant="003")
    ro2 = t.read_optimized()
    assert ro2.filter(F.col("c_name") == "UPDATED").count() == 11
    assert sorted(map(tuple, ro2.collect())) == sorted(
        map(tuple, t.snapshot().collect())
    )


def test_mor_inline_compaction_trigger(spark, tmp_path):
    t = mor_table(spark, tmp_path, inline_compact_deltas=3)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(cust(spark, ver=2).filter(F.col("c_custkey") <= 5),
            op="upsert", instant="002")
    assert not any(
        t.tl.manifest(i)["action"] == "compact" for i in t.timeline()
    )
    t.write(cust(spark, ver=3).filter(F.col("c_custkey") <= 2),
            op="upsert", instant="003")
    assert any(t.tl.manifest(i)["action"] == "compact" for i in t.timeline())
    live = t.tl.live_files()
    assert all(f["kind"] == "base" for f in live)
    snap = t.snapshot()
    assert snap.count() == cust(spark).count()
    assert snap.filter(F.col("ver") == 3).count() == 3


def test_key_range_stats_prune_candidates(spark, tmp_path):
    """Manifest key-range stats (from parquet footers) prune candidate
    files driver-side before the key-hit scan."""
    t = make_table(spark, tmp_path)
    lo = cust(spark, ver=1).filter(F.col("c_custkey") < 10)
    hi = cust(spark, ver=1).filter(F.col("c_custkey") >= 100)
    t.write(lo, op="insert", instant="001")
    t.write(hi, op="insert", instant="002")
    for f in t.tl.live_files():
        assert f["key_min"] is not None and f["key_max"] >= f["key_min"]
    # record key is the STRING form — probe keys 400..499 sort inside
    # "100".."99" lexicographically? use 5 (< "10") to stay disjoint
    t.write(cust(spark, ver=2).filter(F.col("c_custkey") == 0),
            op="upsert", instant="003")
    assert t.last_scan["key_range"] >= 1  # the hi-range file never scanned
    m = t.tl.manifest("003")
    lo_files = {f["path"] for f in t.tl.manifest("001")["added"]}
    assert set(m["replaced"]) <= lo_files
    assert t.snapshot().filter(F.col("c_custkey") == 0).collect()[0]["ver"] == 2


def test_mor_schema_evolution_and_incremental(spark, tmp_path):
    """MOR × additive evolution × incremental reads compose."""
    t = mor_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    evolved = (
        cust(spark, ver=2).filter(F.col("c_custkey") <= 3)
        .withColumn("tag", F.lit("NEW"))
    )
    t.write(evolved, op="upsert", instant="002")
    snap = t.snapshot()
    assert "tag" in snap.columns
    got = {r["c_custkey"]: r["tag"] for r in snap.collect()}
    assert got[0] == "NEW" and all(
        v is None for k, v in got.items() if k > 3
    )
    inc = t.incremental("001", "002")
    assert inc.count() == 4 and {r["tag"] for r in inc.collect()} == {"NEW"}
    # compaction folds deltas, evolution survives
    t.compact(instant="003")
    snap2 = t.snapshot()
    assert {r["c_custkey"]: r["tag"] for r in snap2.collect()} == got
    assert all(f["kind"] == "base" for f in t.tl.live_files())


def test_restore_after_compact(spark, tmp_path):
    """Restore to a pre-compaction instant resurrects the delta layout."""
    t = mor_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(cust(spark, ver=2).filter(F.col("c_custkey") <= 5),
            op="upsert", instant="002")
    before = sorted(map(tuple, t.snapshot().collect()))
    t.compact(instant="003")
    assert t.restore("002") == ["003"]
    assert sorted(map(tuple, t.snapshot().collect())) == before
    # cleaner keeps everything still referenced
    t.clean(retain_commits=2)
    assert sorted(map(tuple, t.snapshot().collect())) == before


def test_null_partition_value_upsert(spark, tmp_path):
    """Null partition values stamp __HIVE_DEFAULT_PARTITION__ (matching
    the on-disk dir), so COW pruning still finds and rewrites them."""
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"])
    b = cust(spark, ver=1).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ),
    )
    t.write(b, op="upsert", instant="001")
    upd = b.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "ver", F.lit(2).cast("long")
    )
    t.write(upd, op="upsert", instant="002")
    snap = t.snapshot()
    assert snap.count() == b.count()  # rewritten, not duplicated
    nulls = snap.filter(F.col("c_mktsegment").isNull())
    assert nulls.count() == upd.count()
    assert {r["ver"] for r in nulls.collect()} == {2}


def test_global_index_delete_with_key_only_batch(spark, tmp_path):
    """Docstring contract: under the global index a delete batch needs
    ONLY the record key columns."""
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"],
                   global_index=True)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    victims = cust(spark, ver=1).filter(F.col("c_custkey") <= 5).select(
        "c_custkey"
    )
    t.write(victims, op="delete", instant="002")
    snap = t.snapshot()
    assert snap.filter(F.col("c_custkey") <= 5).count() == 0
    assert snap.count() == cust(spark).count() - 6


def test_mor_incremental_merges_within_range(spark, tmp_path):
    """MOR incremental returns ONE row per key (newest in-range version),
    matching the COW rewrite behavior."""
    t = mor_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(cust(spark, ver=2).filter(F.col("c_custkey") == 1),
            op="upsert", instant="002")
    t.write(cust(spark, ver=3).filter(F.col("c_custkey") == 1),
            op="upsert", instant="003")
    inc = t.incremental("001", "003")
    rows = inc.collect()
    assert len(rows) == 1 and rows[0]["ver"] == 3


def test_mor_inline_compaction_ignores_base_inserts(spark, tmp_path):
    """Base-file insert commits must not count toward the delta
    threshold."""
    t = mor_table(spark, tmp_path, inline_compact_deltas=2)
    for i, inst in enumerate(["001", "002", "003", "004"]):
        t.write(
            cust(spark, ver=1).filter(F.col("c_custkey") % 4 == i)
            .withColumn("c_custkey", F.col("c_custkey") + 10000 * i),
            op="insert", instant=inst,
        )
    assert not any(
        t.tl.manifest(i)["action"] == "compact" for i in t.timeline()
    )
    t.write(cust(spark, ver=2).filter(F.col("c_custkey") == 1),
            op="upsert", instant="005")
    assert not any(
        t.tl.manifest(i)["action"] == "compact" for i in t.timeline()
    )
    t.write(cust(spark, ver=3).filter(F.col("c_custkey") == 2),
            op="upsert", instant="006")
    assert any(t.tl.manifest(i)["action"] == "compact" for i in t.timeline())


def test_incremental_refuses_archived_range(spark, tmp_path):
    t = make_table(spark, tmp_path)
    for i in range(1, 7):
        t.write(cust(spark, ver=i).filter(F.col("c_custkey") == 1),
                op="upsert", instant=f"00{i}")
    t.archive_timeline(keep_commits=4)
    with pytest.raises(ValueError, match="archived horizon"):
        t.incremental(None, None)
    with pytest.raises(ValueError, match="archived horizon"):
        t.incremental("001", "006")
    assert t.incremental("003", "006").count() >= 1  # active range fine


def test_checkpoint_guard_exactly_once_replay(spark, tmp_path):
    """A replayed micro-batch (same source batch_id) is skipped — insert
    stays exactly-once across foreachBatch crash replays."""
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1).limit(10)
    cp = {"source_id": "ingest", "batch_id": 7}
    assert t.write(b, op="insert", checkpoint=dict(cp)) is not None
    n = t.snapshot().count()
    assert t.write(b, op="insert", checkpoint=dict(cp)) is None  # replay
    assert t.snapshot().count() == n  # no duplicates
    # an older batch id is also a replay
    assert t.write(b, op="insert",
                   checkpoint={"source_id": "ingest", "batch_id": 3}) is None
    # the next batch applies; an unrelated source has its own cursor
    assert t.write(b, op="insert",
                   checkpoint={"source_id": "ingest", "batch_id": 8}) is not None
    assert t.write(b, op="insert",
                   checkpoint={"source_id": "other", "batch_id": 0}) is not None
    assert t.last_checkpoint("ingest") == 8
    assert t.last_checkpoint("other") == 0


def test_failed_commit_does_not_leak_checkpoint(spark, tmp_path):
    """A write that raises after arming its checkpoint must NOT leave it
    attached to the next successful commit — otherwise the failed batch
    looks committed and its replay is silently skipped (data loss)."""
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1).limit(5)
    cp = {"source_id": "ingest", "batch_id": 1}
    with pytest.raises(ValueError, match="unknown write op"):
        t.write(b, op="bogus", checkpoint=dict(cp))
    # an unrelated commit later must not pick up the stale checkpoint
    t.write(b, op="insert", instant="010")
    assert t.last_checkpoint("ingest") is None
    # and the failed batch's replay still applies
    assert t.write(b, op="insert", checkpoint=dict(cp)) is not None
    assert t.last_checkpoint("ingest") == 1


def test_checkpoint_survives_timeline_archival(spark, tmp_path):
    """archive_timeline moving the checkpoint-bearing manifest out of
    the active timeline must not disable the replay guard."""
    t = make_table(spark, tmp_path)
    b = cust(spark, ver=1).limit(5)
    t.write(b, op="insert", instant="001",
            checkpoint={"source_id": "ingest", "batch_id": 5})
    for i in range(2, 8):
        t.write(cust(spark, ver=i).limit(3), op="upsert", instant=f"00{i}")
    archived = t.archive_timeline(keep_commits=2)
    assert "001" in archived
    assert t.last_checkpoint("ingest") == 5
    n = t.snapshot().count()
    assert t.write(b, op="insert",
                   checkpoint={"source_id": "ingest", "batch_id": 5}) is None
    assert t.snapshot().count() == n


def test_sync_table_visible_from_fresh_session(spark, tmp_path):
    """Persistent catalog sync (SRC/util/HudiConfig.scala:38-44 analog):
    saveAsTable-backed sync must be queryable from a *new* session that
    shares only the catalog — no LakeTable handle, no temp views."""
    t = make_table(spark, tmp_path, name="synct")
    t.write(cust(spark, ver=1), op="insert", instant="001")
    t.write(cust(spark, ver=2).limit(10), op="upsert", instant="002")
    ident = t.sync_table()
    try:
        fresh = spark.newSession()
        got = fresh.sql(f"SELECT count(*) AS n FROM {ident}").collect()[0]["n"]
        assert got == t.snapshot().count()
        # temp views do NOT cross sessions — proves this is catalog-persistent
        t.sync_view("synct_view")
        assert not fresh.catalog.tableExists("synct_view")
        # re-sync after a new commit refreshes the snapshot copy
        t.write(cust(spark, ver=3).limit(7), op="upsert", instant="003")
        t.sync_table()
        fresh.catalog.refreshTable(ident)
        assert (
            fresh.table(ident).where("ver = 3").count() == 7
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ident}")


def test_sync_table_registers_partitions(spark, tmp_path):
    """Partition-granular catalog sync (r5 verdict #6 — the
    ALTER TABLE ADD PARTITION loop of SRC/util/HudiConfig.scala:38-44):
    syncing a partitioned lake table registers each partition in the
    session catalog, SHOW PARTITIONS lists the lake's layout, and a
    partition-filtered catalog query prunes to one partition's rows."""
    t = make_table(
        spark, tmp_path, name="syncp", partition_keys=["c_mktsegment"]
    )
    t.write(cust(spark, ver=1), op="insert", instant="001")
    segs = sorted(
        r["c_mktsegment"]
        for r in cust(spark).select("c_mktsegment").distinct().collect()
    )
    assert len(segs) >= 2  # the fixture genuinely spans partitions
    ident = t.sync_table()
    try:
        parts = t.synced_partitions(ident)
        assert parts == [f"c_mktsegment={s}" for s in segs]
        fresh = spark.newSession()
        seg = segs[0]
        got = fresh.sql(
            f"SELECT count(*) AS n FROM {ident} "
            f"WHERE c_mktsegment = '{seg}'"
        ).collect()[0]["n"]
        assert got == cust(spark).where(
            F.col("c_mktsegment") == seg
        ).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ident}")


# ------------------------------------------------ async (scheduled) compaction


def _mor_table(spark, tmp, name):
    return LakeTable(
        spark, str(tmp), "testdb", name,
        record_keys=["c_custkey"], precombine="ver",
        table_type="MERGE_ON_READ",
    )


def test_async_compaction_snapshot_unchanged(spark, tmp_path):
    """schedule → (more writes land) → execute: folds only the pinned
    files; snapshot equals an uncompacted twin's at every point."""
    t = _mor_table(spark, tmp_path, "ac1")
    twin = _mor_table(spark, tmp_path, "ac1_twin")
    b1 = cust(spark, ver=1)
    b2 = cust(spark, ver=2).limit(40)
    b3 = cust(spark, ver=3).limit(12)
    victims = cust(spark, ver=9).limit(5)
    for x in (t, twin):
        x.write(b1, op="upsert", instant="001")
        x.write(b2, op="upsert", instant="002")
    pid = t.schedule_compaction()
    assert pid is not None and t.pending_compactions() == [pid]
    # post-schedule traffic: an upsert AND a tombstone delete
    for x in (t, twin):
        x.write(b3, op="upsert", instant="003")
        x.write(victims, op="delete", instant="004")
    pre = {f["path"] for f in t.tl.live_files()}
    inst = t.run_compaction(pid)
    assert inst is not None and t.pending_compactions() == []
    post = {f["path"] for f in t.tl.live_files()}
    # the post-schedule delta files survived the fold untouched
    later = {
        f["path"] for i in ("003", "004") for f in t.tl.manifest(i)["added"]
    }
    assert later <= pre and later <= post
    a = sorted(map(tuple, t.snapshot().select("c_custkey", "ver").collect()))
    b = sorted(map(tuple, twin.snapshot().select("c_custkey", "ver").collect()))
    assert a == b


def test_async_compaction_incremental_exact(spark, tmp_path):
    """Incremental reads spanning the compaction commit return each row
    exactly once (rows keep their original _commit_time)."""
    t = _mor_table(spark, tmp_path, "ac2")
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(cust(spark, ver=2).limit(30), op="upsert", instant="002")
    pid = t.schedule_compaction()
    t.write(cust(spark, ver=3).limit(10), op="upsert", instant="003")
    t.run_compaction(pid)
    inc = t.incremental("001", None)
    got = sorted(
        map(tuple, inc.select("c_custkey", "ver").collect())
    )
    # (001, latest]: the 30 ver=2 rows, 10 of them superseded by ver=3
    want = sorted(
        [(k, 3) for k in range(1, 11)] + [(k, 2) for k in range(11, 31)]
    )
    assert [g[1] for g in got].count(3) == 10 and len(got) == 30
    assert sorted(g[1] for g in got) == sorted(w[1] for w in want)


def test_async_compaction_stale_plan_discarded(spark, tmp_path):
    """A plan whose pinned files were already replaced (inline/full
    compaction ran in between) must abort, not double-fold."""
    t = _mor_table(spark, tmp_path, "ac3")
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(cust(spark, ver=2).limit(5), op="upsert", instant="002")
    pid = t.schedule_compaction()
    t.compact()  # full inline compaction replaces the pinned files
    n = t.snapshot().count()
    assert t.run_compaction(pid) is None
    assert t.pending_compactions() == []
    assert t.snapshot().count() == n


def test_schedule_compaction_noop_without_deltas(spark, tmp_path):
    t = _mor_table(spark, tmp_path, "ac4")
    t.write(cust(spark, ver=1), op="insert", instant="001")  # base files only
    assert t.schedule_compaction() is None


def test_async_compactor_concurrent_with_ingest(spark, tmp_path):
    """The daemon executor folds scheduled plans WHILE keyed upserts keep
    committing on the ingest thread; bounded lock waits arbitrate."""
    from emr_hudi_example_spark.lake import AsyncCompactor

    t = _mor_table(spark, tmp_path, "ac5")
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    comp = AsyncCompactor(t, poll_seconds=0.05).start()
    try:
        for i in range(2, 8):
            t.write(cust(spark, ver=i).limit(50), op="upsert")
            if i % 2 == 0:
                t.schedule_compaction()
    finally:
        comp.stop()
    assert comp.executed  # at least one plan ran in the background
    assert t.pending_compactions() == []
    assert any(t.tl.manifest(i)["action"] == "compact" for i in t.timeline())
    snap = t.snapshot()
    assert snap.count() == cust(spark).count()
    assert snap.filter((F.col("ver") == 7)).count() == 50
    assert snap.filter((F.col("c_custkey") > 50) & (F.col("ver") != 1)).count() == 0


# ------------------------------------------------------- record-level index


def test_record_index_equals_key_scan_and_is_used(spark, tmp_path):
    """Persistent key→file index: planning probes the index (not the
    data files' key columns) and targets exactly the files the scan
    path would — end state identical to an unindexed twin."""
    mk = lambda name, ri: LakeTable(
        spark, str(tmp_path), "testdb", name,
        record_keys=["c_custkey"], precombine="ver",
        partition_keys=["c_mktsegment"], global_index=True,
        record_index=ri,
    )
    t, twin = mk("ri", True), mk("ri_twin", False)
    b1 = cust(spark, ver=1)
    movers = (
        b1.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_mktsegment", F.lit("MOVED"))
        .withColumn("ver", F.lit(2).cast("long"))
    )
    victims = b1.filter(F.col("c_custkey") % 25 == 0).select(
        "c_custkey", "ver"
    )
    used = []
    orig = t._index_hit_files
    t._index_hit_files = lambda c, b, **kw: (used.append(1), orig(c, b, **kw))[1]
    for x in (t, twin):
        x.write(b1, op="upsert", instant="001")
        x.write(movers, op="upsert", instant="002")
        x.write(victims, op="delete", instant="003")
    assert used  # the index path really planned the writes
    a = sorted(map(tuple, t.snapshot()
                   .select("c_custkey", "c_mktsegment", "ver").collect()))
    b = sorted(map(tuple, twin.snapshot()
                   .select("c_custkey", "c_mktsegment", "ver").collect()))
    assert a == b
    # moved key exists once, in the new partition; victims gone
    assert t.snapshot().filter(F.col("c_custkey") % 25 == 0).count() == 0


def test_record_index_falls_back_without_coverage(spark, tmp_path):
    """Files committed before the index existed force the scan path —
    never a silent wrong answer."""
    t0 = LakeTable(
        spark, str(tmp_path), "testdb", "rifb", ["c_custkey"], "ver",
        global_index=True,
    )
    t0.write(cust(spark, ver=1), op="upsert", instant="001")
    # same table reopened WITH the index flag: live files lack coverage
    t1 = LakeTable(
        spark, str(tmp_path), "testdb", "rifb", ["c_custkey"], "ver",
        global_index=True, record_index=True,
    )
    probed = []
    orig = t1._index_hit_files
    t1._index_hit_files = lambda c, b, **kw: (probed.append(1), orig(c, b, **kw))[1]
    upd = cust(spark, ver=2).limit(7)
    t1.write(upd, op="upsert", instant="002")
    assert not probed  # un-covered live files → scan fallback
    assert t1.snapshot().filter(F.col("ver") == 2).count() == 7


# --------------------------------------------------------------- CDC changes


def test_changes_before_after_images(spark, tmp_path):
    """CDC read: inserts/updates/deletes with before+after images;
    carried-over unchanged rows excluded."""
    t = make_table(spark, tmp_path, name="cdc1")
    b1 = cust(spark, ver=1)
    t.write(b1, op="upsert", instant="001")
    upd = (
        b1.filter(F.col("c_custkey") <= 5)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )
    t.write(upd, op="upsert", instant="002")
    t.write(b1.filter(F.col("c_custkey") == 50), op="delete", instant="003")
    fresh = b1.filter(F.col("c_custkey") == 1).withColumn(
        "c_custkey", F.lit(99999).cast("long")
    )
    t.write(fresh, op="upsert", instant="004")

    ch = t.changes("001", None).collect()
    by_op = {}
    for r in ch:
        by_op.setdefault(r["op"], []).append(r)
    assert len(by_op["update"]) == 6  # keys 0..5
    for r in by_op["update"]:
        assert r["after"]["c_acctbal"] == r["before"]["c_acctbal"] + 100.0
        assert r["before"]["ver"] == 1 and r["after"]["ver"] == 2
    assert [r["before"]["c_custkey"] for r in by_op["delete"]] == [50]
    assert by_op["delete"][0]["after"] is None
    assert [r["after"]["c_custkey"] for r in by_op["insert"]] == [99999]
    assert by_op["insert"][0]["before"] is None
    # exactly these changes — unchanged carried-over rows are silent
    assert len(ch) == 8


def test_changes_full_range_equals_inserts(spark, tmp_path):
    t = make_table(spark, tmp_path, name="cdc2")
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    ch = t.changes(None, None)
    assert ch.count() == cust(spark).count()
    assert ch.select("op").distinct().collect()[0]["op"] == "insert"


def test_changes_across_compaction_stays_silent(spark, tmp_path):
    """A compaction commit re-adds every live file; the CDC feed must
    still report only genuine row changes across that range."""
    t = make_table(spark, tmp_path, name="cdc3")
    b1 = cust(spark, ver=1)
    t.write(b1, op="upsert", instant="001")
    upd = (
        b1.filter(F.col("c_custkey") == 3)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_name", F.lit("CHANGED"))
    )
    t.write(upd, op="upsert", instant="002")
    t.compact(instant="003")
    ch = t.changes("001", None).collect()
    assert len(ch) == 1
    assert ch[0]["op"] == "update"
    assert ch[0]["after"]["c_name"] == "CHANGED"


# ---------------------------------------------------- locks & relocation


def _hold_lock(table_path, hold_seconds, acquired_evt, release_evt):
    """Child-process body: grab the table writer lock, signal, hold."""
    from emr_hudi_example_spark.lake.locks import FileLockProvider

    p = FileLockProvider(table_path)
    p.acquire(wait_seconds=5.0)
    acquired_evt.set()
    release_evt.wait(hold_seconds)
    p.release()


def test_writer_lock_two_process_contention(spark, tmp_path):
    """OCC across real OS processes (the reference's ZK-lock role,
    SRC/package.scala:38-47): while a second PROCESS holds the lock the
    writer fails fast with LockContention at a short wait, then blocks
    and commits once the holder releases — timeline stays linear."""
    import multiprocessing as mp

    from emr_hudi_example_spark.lake import LockContention

    t = make_table(spark, tmp_path, name="occ")
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    ctx = mp.get_context("spawn")  # no JVM/fork interaction
    acquired, release = ctx.Event(), ctx.Event()
    holder = ctx.Process(
        target=_hold_lock, args=(t.path, 30.0, acquired, release)
    )
    holder.start()
    try:
        assert acquired.wait(10.0)
        t.lock_wait_seconds = 0.2
        with pytest.raises(LockContention):
            t.write(cust(spark, ver=2), op="upsert", instant="002")
        # holder releases while the writer waits → write goes through
        t.lock_wait_seconds = 15.0
        import threading

        threading.Timer(0.5, release.set).start()
        t.write(cust(spark, ver=2), op="upsert", instant="002")
    finally:
        release.set()
        holder.join(10.0)
    assert t.timeline() == ["001", "002"]
    assert t.snapshot().filter(F.col("ver") == 2).count() == cust(spark).count()


def test_ingest_retries_on_lock_contention(spark, tmp_path):
    """The streaming-ingest guard: a write that meets a briefly-held
    lock retries and commits instead of raising (round-2 advice — async
    compaction longer than the lock wait must not crash the stream)."""
    import threading

    from emr_hudi_example_spark.lake import (
        FileLockProvider,
        retry_on_contention,
    )

    t = make_table(spark, tmp_path, name="retry")
    t.lock_wait_seconds = 0.1
    holder = FileLockProvider(t.path)
    holder.acquire(wait_seconds=1.0)
    threading.Timer(0.6, holder.release).start()
    retry_on_contention(
        lambda: t.write(cust(spark, ver=1), op="upsert", instant="001"),
        attempts=10,
        backoff_seconds=0.2,
    )
    assert t.timeline() == ["001"]


def test_async_compactor_abandons_corrupt_plan(spark, tmp_path):
    """A plan that fails for a NON-lock reason (corrupt JSON) gets a
    BOUNDED number of retries (a transient executor loss must not
    discard the intent on first sight — r14 review) and is then parked
    in the durable ``_abandoned/`` sidecar with the error recorded: the
    daemon neither spins forever nor blocks stop(drain=True), a restart
    doesn't re-spin the dead plan, and the dropped intent stays
    observable after the process dies."""
    import json as _json
    import time as _time

    from emr_hudi_example_spark.lake import AsyncCompactor

    t = make_table(spark, tmp_path, name="badplan")
    b = cust(spark, ver=1)
    # two inserts → two live base files, so there IS something to compact
    t.write(b.filter(F.col("c_custkey") % 2 == 0), op="insert", instant="001")
    t.write(b.filter(F.col("c_custkey") % 2 == 1), op="insert", instant="002")
    pid = t.schedule_compaction()
    assert pid is not None
    pfile = os.path.join(t.tl.commits_dir, "_compaction", pid + ".json")
    with open(pfile, "w") as fh:
        fh.write("{not valid json")
    c = AsyncCompactor(t, lock_backoff_seconds=0.01, max_generic_attempts=2)
    assert c._drain_once() is False  # attempt 1: retried, not abandoned
    assert not c.failed and os.path.exists(pfile)
    assert c._drain_once() is True  # attempt 2 hits the cap: abandoned
    assert [p for (p, _) in c.failed] == [pid]
    # the plan FILE moves to the durable sidecar (r14 review): out of
    # pending_compactions() so a restart doesn't re-spin the dead plan,
    # but the dropped intent + error survive the process
    assert not os.path.exists(pfile)
    assert pid not in t.pending_compactions()
    sidecar = os.path.join(
        t.tl.commits_dir, "_compaction", "_abandoned", pid + ".json"
    )
    tomb = _json.load(open(sidecar))
    assert "abandoned_error" in tomb and tomb["abandoned_attempts"] == 2
    start = _time.monotonic()
    assert c.stop(drain=True, timeout=30.0) is True
    assert _time.monotonic() - start < 5.0  # no timeout burn
    assert not c.executed
    # sanity: a VALID later schedule still executes
    t.write(
        cust(spark, ver=3).filter(F.col("c_custkey") <= 5),
        op="insert", instant="003",
    )
    _json.load(open(os.path.join(t.tl.commits_dir, "003.json")))
    pid2 = t.schedule_compaction()
    assert t.run_compaction(pid2) is not None


def test_async_compactor_stop_never_drains_beside_live_daemon():
    """``stop()`` with a daemon still mid-fold (a fold is minutes of
    uninterruptible I/O at scale) must return False WITHOUT draining on
    the caller thread — two unsynchronized executors on the same plan
    would discard one whole fold at publish and mutate the result lists
    from two threads (r13 review). Once the fold finishes, a second
    stop() completes the drain."""
    import threading as _th

    from emr_hudi_example_spark.lake.compactor import AsyncCompactor

    folding = _th.Event()
    release = _th.Event()
    runs: list[str] = []

    class StubTable:
        table = "stub"
        commits_dir = "/nonexistent"

        def pending_compactions(self):
            return ["p1"] if not runs else []

        def run_compaction(self, plan_id):
            folding.set()
            assert release.wait(30.0)
            runs.append(plan_id)
            return "inst1"

    c = AsyncCompactor(StubTable(), poll_seconds=0.05)
    c.start()
    assert folding.wait(10.0)  # daemon is mid-fold
    assert c.stop(drain=True, timeout=0.3) is False
    assert runs == []  # and stop() did NOT run the plan concurrently
    release.set()
    assert c.stop(drain=True, timeout=30.0) is True
    assert runs == ["p1"] and c.executed == ["inst1"]


def _hold_lease(table_path, lease_seconds, acquired_evt, release_evt, crash):
    """Child-process body: take the lease, signal, then release or
    'crash' (exit without releasing) per ``crash``."""
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    p = LeaseLockProvider(
        table_path, lease_seconds=lease_seconds, holder="child"
    )
    p.acquire(wait_seconds=5.0)
    acquired_evt.set()
    release_evt.wait(30.0)
    if not crash:
        p.release()


def test_lease_lock_two_process_contention(tmp_path):
    """LeaseLockProvider across real OS processes: while the child holds
    a live lease the parent fails fast with LockContention, then
    acquires after the child's clean release — with a STRICTLY HIGHER
    fencing token (monotonicity across holders)."""
    import multiprocessing as mp

    from emr_hudi_example_spark.lake.locks import (
        LeaseLockProvider,
        LockContention,
    )

    root = str(tmp_path / "lease-tbl")
    ctx = mp.get_context("spawn")
    acquired, release = ctx.Event(), ctx.Event()
    holder = ctx.Process(
        target=_hold_lease, args=(root, 60.0, acquired, release, False)
    )
    holder.start()
    try:
        assert acquired.wait(10.0)
        p = LeaseLockProvider(root, holder="parent")
        with pytest.raises(LockContention):
            p.acquire(wait_seconds=0.3)
        release.set()
        p.acquire(wait_seconds=10.0)
        assert p.token == 2  # child held 1, parent fenced above it
        p.validate()  # newest claim is ours
        p.release()
    finally:
        release.set()
        holder.join(10.0)


def test_lease_stale_takeover_after_crash(tmp_path):
    """A CRASHED holder (exits without releasing) blocks nobody for
    longer than its lease: takeover happens automatically once the
    lease expires — no operator lock removal, unlike FileLockProvider —
    and the taker's fencing token supersedes the dead one's."""
    import multiprocessing as mp

    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    root = str(tmp_path / "lease-tbl")
    ctx = mp.get_context("spawn")
    acquired, release = ctx.Event(), ctx.Event()
    holder = ctx.Process(
        target=_hold_lease, args=(root, 1.0, acquired, release, True)
    )
    holder.start()
    try:
        assert acquired.wait(10.0)
        release.set()  # child exits WITHOUT releasing (simulated crash)
        holder.join(10.0)
        p = LeaseLockProvider(root, holder="taker")
        p.acquire(wait_seconds=10.0)  # blocks ~1 s until expiry, then CAS
        assert p.token == 2
        p.validate()
        p.release()
    finally:
        release.set()
        if holder.is_alive():
            holder.join(10.0)


def test_lease_fencing_detects_supersession(tmp_path):
    """The zombie-writer story fencing tokens exist for: holder A's
    lease expires mid-work, B takes over, A wakes and tries to commit —
    A's validate()/renew() must raise LockFenced; B's must pass; A's
    late release must not disturb B's claim."""
    import time as _t

    from emr_hudi_example_spark.lake.locks import (
        LeaseLockProvider,
        LockFenced,
    )

    root = str(tmp_path / "lease-tbl")
    a = LeaseLockProvider(root, lease_seconds=0.3, holder="a")
    a.acquire(wait_seconds=1.0)
    _t.sleep(0.4)  # a's lease expires (paused/partitioned writer)
    b = LeaseLockProvider(root, lease_seconds=60.0, holder="b")
    b.acquire(wait_seconds=5.0)
    assert (a.token, b.token) == (1, 2)
    with pytest.raises(LockFenced):
        a.validate()
    with pytest.raises(LockFenced):
        a.renew()
    b.validate()
    a.release()  # late zombie release: rewrites only its OWN claim file
    b.validate()  # b's lease untouched
    b.release()


def test_lease_fenced_commit_publishes_nothing(spark, tmp_path):
    """End-to-end zombie-commit protection: a writer whose lease is
    stolen between acquire and manifest publish raises LockFenced at
    the commit point and the timeline gains NO instant (orphan data
    files are the cleaner's job — LAZY failed-write cleaning)."""
    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.locks import (
        LeaseLockProvider,
        LockFenced,
    )

    root = tmp_path / "fence-tbl"
    p = LeaseLockProvider(str(root / "testdb" / "fenced"), holder="writer")
    orig_acquire = p.acquire

    def acquire_then_lose(wait_seconds):
        orig_acquire(wait_seconds)
        thief = LeaseLockProvider(p.lease_dir.rsplit("/_lease", 1)[0],
                                  holder="thief")
        assert thief._try_claim(p.token + 1)  # simulated takeover

    p.acquire = acquire_then_lose
    t = LakeTable(
        spark, str(root), "testdb", "fenced",
        record_keys=["c_custkey"], precombine="ver", lock_provider=p,
    )
    with pytest.raises(LockFenced):
        t.write(cust(spark, ver=1), op="upsert", instant="001")
    assert t.timeline() == []


def test_lease_release_after_prune_is_noop(tmp_path):
    """release() after the holder's lease file was pruned from the
    history log must NOT recreate it from a fallback dict (r4 advice:
    _rewrite_own repolluted the pruned log). State on disk stays
    exactly as the pruner left it."""
    import os as _os

    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    root = str(tmp_path / "prune-tbl")
    p = LeaseLockProvider(root, holder="w")
    p.acquire(wait_seconds=1.0)
    own = p._path(p.token)
    _os.unlink(own)  # simulate a later holder's history prune
    p.release()  # must not resurrect the pruned file
    assert not _os.path.exists(own)
    assert p.token is None


def test_zombie_publish_after_takeover_is_rolled_back(spark, tmp_path):
    """The narrower r4 residual window: a writer that passes the
    pre-publish validate(), stalls, loses its lease to a takeover, then
    completes the rename — the post-publish re-validate must unlink the
    just-published manifest and raise, leaving the timeline clean."""
    import os as _os

    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.locks import (
        LeaseLockProvider,
        LockFenced,
    )

    root = tmp_path / "zombie-tbl"
    p = LeaseLockProvider(str(root / "testdb" / "z"), holder="writer")
    real_validate = p.validate
    calls = {"n": 0}

    def validate_with_midair_theft():
        calls["n"] += 1
        real_validate()
        if calls["n"] == 1:  # theft lands between pre-check and rename
            thief = LeaseLockProvider(
                p.lease_dir.rsplit("/_lease", 1)[0], holder="thief"
            )
            assert thief._try_claim(p.token + 1)

    p.validate = validate_with_midair_theft
    t = LakeTable(
        spark, str(root), "testdb", "z",
        record_keys=["c_custkey"], precombine="ver", lock_provider=p,
    )
    with pytest.raises(LockFenced):
        t.write(cust(spark, ver=1), op="upsert", instant="001")
    assert calls["n"] == 2  # both commit-point checks ran
    assert t.timeline() == []
    assert not _os.path.exists(_os.path.join(t.tl.commits_dir, "001.json"))


def test_zombie_crash_after_publish_is_fenced_at_read_planning(
    spark, tmp_path
):
    """The LAST residual OCC window (r5 verdict #2): a writer passes the
    pre-publish validate(), stalls long enough to lose its lease to a
    takeover, completes the manifest rename, then CRASHES before the
    post-publish re-validate can roll it back. The zombie manifest file
    stays on disk — but the takeover recorded a fence
    (``_lease/fences.json``: token + timeline head at takeover), every
    manifest carries its writer's token, and read planning discards the
    old-token instant that was not in the fence snapshot. Timeline,
    snapshot, and a fresh reader session all ignore the zombie."""
    import os as _os
    import time as _t

    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    class Crash(BaseException):
        """Simulated process death — must NOT be caught by the publish
        rollback's ``except Exception``."""

    root = tmp_path / "fence2-tbl"
    tpath = str(root / "testdb" / "f2")
    a = LeaseLockProvider(tpath, lease_seconds=60.0, holder="a")
    t_a = LakeTable(
        spark, str(root), "testdb", "f2",
        record_keys=["c_custkey"], precombine="ver", lock_provider=a,
    )
    t_a.write(cust(spark, ver=1), op="upsert", instant="001")

    b = LeaseLockProvider(tpath, lease_seconds=60.0, holder="b")
    real_validate = a.validate
    calls = {"n": 0}

    def stall_then_crash():
        calls["n"] += 1
        if calls["n"] == 1:
            real_validate()  # pre-rename check passes: still newest
            # GC/SIGSTOP pause during which a's lease runs out —
            # simulated by back-dating the claim's expiry...
            a._rewrite_own(a.token, expires_at=_t.time() - 1.0)
            b.acquire(wait_seconds=5.0)  # ...b takes over, records fence
            calls["b_token"] = b.token
            b.release()  # b's tick ends; the fence record persists
            # a now resumes and the os.replace publishes the zombie
        else:
            raise Crash  # dies between rename and the re-validate

    a.validate = stall_then_crash
    with pytest.raises(Crash):
        t_a.write(cust(spark, ver=2), op="upsert", instant="002")

    # the late rename DID land — the manifest file exists on disk...
    assert _os.path.exists(_os.path.join(t_a.tl.commits_dir, "002.json"))
    assert calls["b_token"] == 3  # a used 1 (commit 001) and 2 (the stall)
    fences = t_a.tl.fences()
    assert [(f["token"], f["timeline_head"]) for f in fences] == [(3, "001")]

    # ...but read planning ignores it, and the next writer builds on 001
    t_b = LakeTable(
        spark, str(root), "testdb", "f2",
        record_keys=["c_custkey"], precombine="ver",
        lock_provider=LeaseLockProvider(tpath, holder="b2"),
    )
    assert t_b.timeline() == ["001"]
    t_b.write(
        cust(spark, ver=3).filter(F.col("c_custkey") % 2 == 0),
        op="upsert", instant="003",
    )
    assert t_b.timeline() == ["001", "003"]
    snap = t_b.snapshot()
    assert snap.filter(F.col("ver") == 2).count() == 0  # zombie invisible
    assert (
        snap.filter(F.col("ver") == 3).count()
        == cust(spark).filter(F.col("c_custkey") % 2 == 0).count()
    )
    # a brand-new reader session (no caches) agrees
    t_r = LakeTable(
        spark, str(root), "testdb", "f2",
        record_keys=["c_custkey"], precombine="ver",
    )
    assert t_r.timeline() == ["001", "003"]
    assert t_r.snapshot().count() == snap.count()


def test_optimistic_disjoint_partition_writers_both_commit(spark, tmp_path):
    """write_optimistic: two writers upserting DISJOINT partitions
    interleave compute — writer B publishes while writer A is between
    its merge and its publish — and BOTH commits land (Hudi's
    optimistic multi-writer model; the lock serializes only the short
    conflict-check + publish)."""
    from emr_hudi_example_spark.lake import LakeTable

    root = tmp_path / "occ-tbl"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "occ",
            record_keys=["c_custkey"], precombine="ver",
            partition_keys=["c_mktsegment"],
        )

    t_seed = handle()
    t_seed.write(cust(spark, ver=1), op="insert", instant="001")
    segs = sorted(
        r[0] for r in cust(spark).select("c_mktsegment").distinct().collect()
    )
    s1, s2 = segs[0], segs[1]
    t_a, t_b = handle(), handle()
    b1 = cust(spark, ver=2).filter(F.col("c_mktsegment") == s1)
    b2 = cust(spark, ver=2).filter(F.col("c_mktsegment") == s2)

    orig = t_a._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_commit():
        if fired["n"] == 0:
            fired["n"] = 1
            # B's whole commit lands while A holds NO lock (A has
            # already merged and written its data files)
            t_b.write_optimistic(b2, op="upsert", instant="002")
        return orig()

    t_a._writer_lock = lock_after_concurrent_commit
    inst_a = t_a.write_optimistic(b1, op="upsert", instant="003")
    assert inst_a == "003" and fired["n"] == 1

    reader = handle()
    assert reader.timeline() == ["001", "002", "003"]
    snap = reader.snapshot()
    for seg in (s1, s2):
        assert (
            snap.filter(
                (F.col("c_mktsegment") == seg) & (F.col("ver") == 2)
            ).count()
            == cust(spark).filter(F.col("c_mktsegment") == seg).count()
        )
    assert snap.count() == cust(spark).count()


def test_publish_conflict_key_summaries(spark, tmp_path):
    """The per-commit key-summary envelope (r8 verdict #5): manifests
    record a per-partition [min,max] key envelope; the conflict check
    prunes disjoint envelopes with one dict probe and only descends to
    the per-file proof where envelopes intersect; legacy manifests
    (no key_summary) derive the identical summary from their added
    list, memoized. Pruning is exact — an envelope-overlapping but
    file-disjoint publish still succeeds; a real overlap still
    raises."""
    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.table import ConcurrentWriteConflict

    # key_summary unit shape: per-partition fold, None = missing stats
    s = timeline_mod.key_summary([
        {"partition_path": "p=a", "key_min": "5", "key_max": "7"},
        {"partition_path": "p=a", "key_min": "1", "key_max": "3"},
        {"partition_path": "p=b", "key_min": "2", "key_max": "4"},
        {"partition_path": "p=c", "key_min": None, "key_max": "9"},
    ])
    assert s == {"p=a": ["1", "7"], "p=b": ["2", "4"], "p=c": None}

    def handle():
        return LakeTable(
            spark, str(tmp_path), "testdb", "ksum",
            record_keys=["c_custkey"], precombine="ver",
        )

    t = handle()
    t.write(cust(spark, ver=1), op="insert", instant="001")
    lo = cust(spark, ver=2).filter(F.col("c_custkey") <= 40)
    t.write_optimistic(lo, op="upsert", instant="002")
    # the published manifest carries the envelope
    m = handle().tl.manifest("002")
    assert m["key_summary"] and all(
        e["env"] is None or e["env"][0] <= e["env"][1]
        for e in m["key_summary"]
    )
    # summary path and legacy-derivation path agree exactly
    fresh = handle()
    from_summary = fresh.tl._commit_summary("002", m)
    legacy = dict(m)
    legacy.pop("key_summary")
    fresh.tl.reset()
    assert fresh.tl._commit_summary("002", legacy) == from_summary
    # drive the check directly against commit 002's REAL summary:
    # disjoint envelope (keys above every stored max) passes with no
    # per-file walk possible to object; identical envelope forces the
    # per-file fallback, whose real file ranges overlap -> conflict
    pp, env = next(iter(from_summary.items()))
    above = env[1] + "~"  # '~' sorts above every digit
    t4 = handle()
    t4.tl.check_conflicts(
        "001", "zzz",
        [{"path": "x.parquet", "partition_path": pp,
          "key_min": above, "key_max": above + "9"}],
        [], check_keys=True, tl=t4.timeline(),
    )
    with pytest.raises(ConcurrentWriteConflict, match="overlap"):
        t4.tl.check_conflicts(
            "001", "zzz",
            [{"path": "y.parquet", "partition_path": pp,
              "key_min": env[0], "key_max": env[1]}],
            [], check_keys=True, tl=t4.timeline(),
        )


def test_optimistic_conflicting_writer_aborts_and_retries(spark, tmp_path):
    """write_optimistic: a concurrent commit that rewrote part of this
    writer's read set aborts the publish with ConcurrentWriteConflict —
    nothing lands, the orphaned data files are unlinked best-effort —
    and a retry against fresh state produces the serialized result."""
    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.table import ConcurrentWriteConflict

    root = tmp_path / "occ2-tbl"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "occ2",
            record_keys=["c_custkey"], precombine="ver",
        )

    t_seed = handle()
    t_seed.write(cust(spark, ver=1), op="insert", instant="001")
    t_a, t_b = handle(), handle()
    b_a = cust(spark, ver=2).filter(F.col("c_custkey") <= 50)
    b_b = (
        cust(spark, ver=3)
        .filter((F.col("c_custkey") >= 25) & (F.col("c_custkey") <= 75))
    )

    orig = t_a._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_commit():
        if fired["n"] == 0:
            fired["n"] = 1
            t_b.write_optimistic(b_b, op="upsert", instant="002")
        return orig()

    t_a._writer_lock = lock_after_concurrent_commit
    with pytest.raises(ConcurrentWriteConflict):
        t_a.write_optimistic(b_a, op="upsert", instant="003")
    reader = handle()
    assert reader.timeline() == ["001", "002"]  # A published nothing
    # retry from fresh state serializes after B: keys 25-50 keep B's
    # ver=3 (higher precombine), 1-24 take A's ver=2
    t_a2 = handle()
    t_a2.write_optimistic(b_a, op="upsert", instant="004")
    snap = handle().snapshot()
    n_a_only = cust(spark).filter(F.col("c_custkey") < 25).filter(
        F.col("c_custkey") <= 50
    ).count()
    assert snap.filter(F.col("ver") == 2).count() == n_a_only
    n_b = cust(spark).filter(
        (F.col("c_custkey") >= 25) & (F.col("c_custkey") <= 75)
    ).count()
    assert snap.filter(F.col("ver") == 3).count() == n_b
    assert snap.count() == cust(spark).count()


def test_optimistic_writers_real_threads_converge(spark, tmp_path):
    """UNSTAGED concurrency: four real threads write_optimistic four
    disjoint partitions simultaneously (Spark sessions are thread-safe
    for job submission). Whatever interleaving the scheduler produces,
    every thread converges with bounded conflict-retries and the final
    snapshot holds all four partitions' ver=2 rows — the multi-writer
    liveness + safety property staged tests can't prove."""
    import threading

    from emr_hudi_example_spark.lake import (
        ConcurrentWriteConflict, LakeTable,
    )

    root = tmp_path / "occ-threads"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "occt",
            record_keys=["c_custkey"], precombine="ver",
            partition_keys=["c_mktsegment"],
        )

    handle().write(cust(spark, ver=1), op="insert", instant="001")
    segs = sorted(
        r[0] for r in cust(spark).select("c_mktsegment").distinct().collect()
    )[:4]
    errors: list[Exception] = []

    def writer(seg: str) -> None:
        t = handle()
        batch = cust(spark, ver=2).filter(F.col("c_mktsegment") == seg)
        for _ in range(8):  # bounded retry on instant-order collisions
            try:
                t.write_optimistic(batch, op="upsert")
                return
            except ConcurrentWriteConflict:
                t = handle()  # fresh snapshot, retry
            except Exception as exc:  # pragma: no cover - surface it
                errors.append(exc)
                return
        errors.append(RuntimeError(f"writer {seg} never converged"))

    threads = [threading.Thread(target=writer, args=(s,)) for s in segs]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errors, errors
    snap = handle().snapshot()
    for seg in segs:
        assert (
            snap.filter(
                (F.col("c_mktsegment") == seg) & (F.col("ver") == 2)
            ).count()
            == cust(spark).filter(F.col("c_mktsegment") == seg).count()
        )
    assert snap.count() == cust(spark).count()


def test_optimistic_instant_overrun_aborts(spark, tmp_path):
    """A planned instant out-run by a concurrent publish must abort
    (the instant is baked into the written data files' _commit_time)."""
    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.table import ConcurrentWriteConflict

    root = tmp_path / "occ3-tbl"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "occ3",
            record_keys=["c_custkey"], precombine="ver",
        )

    t_seed = handle()
    t_seed.write(cust(spark, ver=1), op="insert", instant="001")
    t_a, t_b = handle(), handle()
    orig = t_a._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_commit():
        if fired["n"] == 0:
            fired["n"] = 1
            # B adds new keys and replaces no file, so nothing but the
            # instant order stands between A and a clean publish (an
            # empty batch would publish nothing and out-run nobody).
            # Record keys compare as strings: 99001.. sort above A's
            # "99", so the key ranges are disjoint too.
            t_b.write_optimistic(
                cust(spark, ver=3)
                .filter(F.col("c_custkey") <= 5)
                .withColumn("c_custkey", F.col("c_custkey") + 99000),
                op="insert", instant="005",  # out-runs A's planned 002
            )
            assert t_b.tl.manifest("005")["replaced"] == []
        return orig()

    t_a._writer_lock = lock_after_concurrent_commit
    with pytest.raises(ConcurrentWriteConflict, match="instant order"):
        t_a.write_optimistic(
            cust(spark, ver=2).filter(F.col("c_custkey") <= 5),
            op="upsert", instant="002",
        )
    assert handle().timeline() == ["001", "005"]


def test_clean_keeps_commit_published_while_waiting(spark, tmp_path):
    """A lock-free commit that publishes while clean() waits for the
    writer lock keeps its files: its inflight marker is gone by the
    time the cleaner holds the lock, so only a timeline read under the
    lock protects them."""
    n = cust(spark).count()
    make_table(spark, tmp_path, name="cl").write(
        cust(spark), op="insert", instant="001"
    )
    cleaner = make_table(spark, tmp_path, name="cl")
    writer = make_table(spark, tmp_path, name="cl")
    orig = cleaner._writer_lock
    upd = cust(spark, ver=2).filter(F.col("c_custkey") <= 5)

    def lock_after_concurrent_publish():
        writer.write_optimistic(upd, op="upsert", instant="002")
        return orig()

    cleaner._writer_lock = lock_after_concurrent_publish
    cleaner.clean(retain_commits=1)
    snap = make_table(spark, tmp_path, name="cl").snapshot()
    assert snap.count() == n
    assert snap.filter(F.col("ver") == 2).count() == upd.count()


def test_optimistic_mor_overlapping_appends_commute(spark, tmp_path):
    """On MERGE_ON_READ, optimistic writers appending OVERLAPPING keys
    both commit — appends commute under the precombine read merge, so
    no data conflict exists (the reason the reference routes its
    partitioned streaming tables to MOR). The snapshot equals the
    serialized two-upsert result: higher precombine wins per key.
    A tombstone delta published the same way deletes through."""
    from emr_hudi_example_spark.lake import LakeTable

    root = tmp_path / "occ-mor"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "occm",
            record_keys=["c_custkey"], precombine="ver",
            table_type="MERGE_ON_READ",
        )

    t_seed = handle()
    t_seed.write(cust(spark, ver=1), op="insert", instant="001")
    t_a, t_b = handle(), handle()
    overlap_a = cust(spark, ver=2).filter(F.col("c_custkey") <= 50)
    overlap_b = cust(spark, ver=3).filter(F.col("c_custkey") <= 30)

    orig = t_a._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_commit():
        if fired["n"] == 0:
            fired["n"] = 1
            t_b.write_optimistic(overlap_b, op="upsert", instant="002")
        return orig()

    t_a._writer_lock = lock_after_concurrent_commit
    t_a.write_optimistic(overlap_a, op="upsert", instant="003")
    assert fired["n"] == 1

    reader = handle()
    assert reader.timeline() == ["001", "002", "003"]
    snap = reader.snapshot()
    n30 = cust(spark).filter(F.col("c_custkey") <= 30).count()
    n50 = cust(spark).filter(F.col("c_custkey") <= 50).count()
    assert snap.filter(F.col("ver") == 3).count() == n30  # B wins overlap
    assert snap.filter(F.col("ver") == 2).count() == n50 - n30
    assert snap.count() == cust(spark).count()
    # optimistic tombstone append deletes through the same path
    t_c = handle()
    t_c.write_optimistic(
        cust(spark, ver=9).filter(F.col("c_custkey") <= 10),
        op="delete", instant="004",
    )
    n10 = cust(spark).filter(F.col("c_custkey") <= 10).count()
    assert handle().snapshot().count() == cust(spark).count() - n10


def test_two_successive_takeovers_fence_both_zombies(spark, tmp_path):
    """Fences ACCUMULATE: writer A's zombie survives takeover 1, writer
    B's zombie survives takeover 2 — read planning must discard both
    (each against its own fence snapshot) while keeping every commit
    published by a then-current holder."""
    import os as _os
    import time as _t

    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    class Crash(BaseException):
        pass

    root = tmp_path / "fence3-tbl"
    tpath = str(root / "testdb" / "f3")

    def make_writer(holder):
        p = LeaseLockProvider(tpath, lease_seconds=60.0, holder=holder)
        t = LakeTable(
            spark, str(root), "testdb", "f3",
            record_keys=["c_custkey"], precombine="ver", lock_provider=p,
        )
        return p, t

    def stage_zombie(p, t, ver, instant, successor):
        """Drive writer (p, t) into the publish-then-crash window while
        ``successor`` takes over mid-stall."""
        real = p.validate
        calls = {"n": 0}

        def hook():
            calls["n"] += 1
            if calls["n"] == 1:
                real()
                p._rewrite_own(p.token, expires_at=_t.time() - 1.0)
                successor.acquire(wait_seconds=5.0)
                successor.release()
            else:
                raise Crash

        p.validate = hook
        with pytest.raises(Crash):
            t.write(cust(spark, ver=ver), op="upsert", instant=instant)
        p.validate = real

    a, t_a = make_writer("a")
    t_a.write(cust(spark, ver=1), op="upsert", instant="001")
    b, t_b = make_writer("b")
    stage_zombie(a, t_a, ver=2, instant="002", successor=b)  # zombie 1
    t_b.write(
        cust(spark, ver=3).filter(F.col("c_custkey") <= 20),
        op="upsert", instant="003",
    )
    c, t_c = make_writer("c")
    stage_zombie(b, t_b, ver=4, instant="004", successor=c)  # zombie 2
    t_c.write(
        cust(spark, ver=5).filter(F.col("c_custkey") <= 5),
        op="upsert", instant="005",
    )

    reader = LakeTable(
        spark, str(root), "testdb", "f3",
        record_keys=["c_custkey"], precombine="ver",
    )
    assert len(reader.tl.fences()) == 2
    # both zombie manifests exist on disk, neither is readable state
    for z in ("002", "004"):
        assert _os.path.exists(_os.path.join(reader.tl.commits_dir, z + ".json"))
    assert reader.timeline() == ["001", "003", "005"]
    snap = reader.snapshot()
    assert snap.filter(F.col("ver").isin(2, 4)).count() == 0
    n20 = cust(spark).filter(F.col("c_custkey") <= 20).count()
    n5 = cust(spark).filter(F.col("c_custkey") <= 5).count()
    assert snap.filter(F.col("ver") == 5).count() == n5
    assert snap.filter(F.col("ver") == 3).count() == n20 - n5
    assert snap.count() == cust(spark).count()


def test_lease_provider_drives_lake_table(spark, tmp_path):
    """LakeTable runs unchanged on the lease provider: two commits,
    linear timeline, correct snapshot (the provider seam is real)."""
    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    root = tmp_path / "lease-tbl"
    p = LeaseLockProvider(str(root / "testdb" / "lt"), holder="w")
    t = LakeTable(
        spark, str(root), "testdb", "lt",
        record_keys=["c_custkey"], precombine="ver", lock_provider=p,
    )
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(
        cust(spark, ver=2).filter(F.col("c_custkey") % 10 == 0),
        op="upsert", instant="002",
    )
    assert t.timeline() == ["001", "002"]
    assert (
        t.snapshot().filter(F.col("ver") == 2).count()
        == cust(spark).filter(F.col("c_custkey") % 10 == 0).count()
    )


def test_record_index_survives_table_move(spark, tmp_path):
    """The persistent record index stores table-root-RELATIVE paths, so
    after the table directory is relocated the index still targets
    existing files — an upsert updates in place instead of silently
    writing duplicate keys (round-2 advice, medium)."""
    import shutil

    src_base, dst_base = tmp_path / "a", tmp_path / "b"
    t = LakeTable(
        spark, str(src_base), "testdb", "mv", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"], global_index=True,
        record_index=True,
    )
    b1 = cust(spark, ver=1)
    t.write(b1, op="upsert", instant="001")
    shutil.move(str(src_base), str(dst_base))
    t2 = LakeTable(
        spark, str(dst_base), "testdb", "mv", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"], global_index=True,
        record_index=True,
    )
    probed = []
    orig = t2._index_hit_files
    t2._index_hit_files = lambda c, b, **kw: (probed.append(1), orig(c, b, **kw))[1]
    upd = (
        b1.filter(F.col("c_custkey") <= 10)
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t2.write(upd, op="upsert", instant="002")
    assert probed  # index path used after the move
    snap = t2.snapshot()
    assert snap.count() == b1.count()  # NO duplicate keys
    assert snap.filter(F.col("ver") == 2).count() == upd.count()


# -------------------------------------------- manifest log + checkpoint


def test_manifest_checkpoint_bounds_replay(spark, tmp_path):
    """A 200-commit table materializes its live set from the newest
    checkpoint + <= interval manifest deltas — never by reading 200
    manifests (round-2 verdict #4). Commits are fabricated through the
    real _write_manifest path (no Spark jobs needed: the manifest layer
    is pure metadata)."""
    from pyspark.sql import types as T

    t = make_table(spark, tmp_path, name="many")
    schema = T.StructType([T.StructField("c_custkey", T.LongType())])
    for n in range(1, 201):
        inst = f"{n:03d}"
        added = [{
            "path": f"data/{inst}/part-0.parquet", "partition": {},
            "partition_path": "", "kind": "base",
            "key_min": None, "key_max": None,
        }]
        # every 4th commit also replaces the previous commit's file, so
        # the replay must apply real deltas, not just concatenate
        replaced = (
            [f"data/{n - 1:03d}/part-0.parquet"] if n % 4 == 0 and n > 1 else []
        )
        t._write_manifest(inst, "insert", schema, added, replaced, t.timeline())
    assert t.tl.checkpoints(), "periodic checkpoints were never written"

    # fresh handle = cold cache, like a new session opening the table
    t2 = make_table(spark, tmp_path, name="many")
    reads = []
    orig = timeline_mod.Timeline.manifest_any
    t2.tl.manifest_any = lambda inst: (reads.append(inst), orig(t2.tl, inst))[1]
    live = {f["path"] for f in t2.tl.live_files()}
    interval = timeline_mod.MANIFEST_CHECKPOINT_INTERVAL
    assert len(reads) <= interval + 1, (
        f"cold live-set read parsed {len(reads)} manifests; "
        f"expected <= interval ({interval}) + the target probe"
    )
    expect = {
        f"data/{n:03d}/part-0.parquet"
        for n in range(1, 201)
        if not (n < 200 and (n + 1) % 4 == 0)
    }
    assert live == expect

    # historical materialization (time travel) is also checkpoint-bounded
    reads.clear()
    live_150 = {f["path"] for f in t2.tl.live_files("150")}
    assert len(reads) <= interval + 1
    assert f"data/150/part-0.parquet" in live_150


def test_checkpoint_snapshot_correct_after_many_commits(spark, tmp_path):
    """Real writes: once past the checkpoint interval, snapshot,
    incremental and time-travel reads all serve from checkpoint+delta
    and stay exact."""
    t = make_table(spark, tmp_path, name="ck")
    base = cust(spark, ver=1)
    t.write(base, op="upsert", instant="001")
    for n in range(2, 14):  # 13 commits: past MANIFEST_CHECKPOINT_INTERVAL
        upd = base.filter(F.col("c_custkey") % 13 == n % 13).withColumn(
            "ver", F.lit(n).cast("long")
        )
        t.write(upd, op="upsert", instant=f"{n:03d}")
    assert t.tl.checkpoints()
    t2 = make_table(spark, tmp_path, name="ck")  # cold cache
    snap = t2.snapshot()
    assert snap.count() == base.count()
    assert snap.groupBy().max("ver").collect()[0][0] == 13
    # time-travel to a pre-checkpoint instant still reconstructs
    assert t2.snapshot(as_of="003").filter(F.col("ver") == 3).count() > 0
    inc = t2.incremental("011", "013")
    assert inc.select(F.min(COMMIT_TIME_COL)).collect()[0][0] > "011"


def test_archival_pins_checkpoint_at_horizon(spark, tmp_path, monkeypatch):
    """archive_timeline leaves a checkpoint at the archival horizon so
    active-window replays never read archived manifests."""
    # force: no periodic checkpoints
    monkeypatch.setattr(timeline_mod, "MANIFEST_CHECKPOINT_INTERVAL", 0)
    t = make_table(spark, tmp_path, name="arch", partition_keys=None)
    base = cust(spark, ver=1)
    t.write(base, op="insert", instant="001")
    for n in range(2, 8):
        t.write(
            base.limit(3).withColumn("ver", F.lit(n).cast("long")),
            op="upsert", instant=f"{n:03d}",
        )
    archived = t.archive_timeline(keep_commits=4)
    assert archived == ["001", "002", "003"]
    assert any(c >= "003" for c in t.tl.checkpoints())
    t2 = make_table(spark, tmp_path, name="arch")
    reads = []
    orig = timeline_mod.Timeline.manifest_any
    t2.tl.manifest_any = lambda inst: (reads.append(inst), orig(t2.tl, inst))[1]
    assert t2.snapshot().count() == base.count()
    assert all(i > "003" for i in reads), "replay touched archived manifests"


# ---------------------------------------------- column-stats data skipping


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "ver", F.lit(1).cast("long")
    )


def _orders_table(spark, tmp, name, **kw):
    return LakeTable(
        spark, str(tmp), "testdb", name,
        record_keys=["o_orderkey"], precombine="ver", **kw,
    )


def test_stats_skipping_cow_snapshot(spark, tmp_path):
    """snapshot(predicate=...) skips files whose manifest column stats
    (parquet-footer min/max, harvested at write) prove no row matches —
    and returns exactly the filtered result (r4 verdict task 5)."""
    o = _orders(spark)
    t = _orders_table(
        spark, tmp_path, "skip",
        stats_columns=["o_orderdate", "o_totalprice"],
    )
    spans = [  # fixture dates span 1995..2001
        ("1900-01-01", "1997-01-01"), ("1997-01-01", "1999-01-01"),
        ("1999-01-01", "2000-01-01"), ("2000-01-01", "2100-01-01"),
    ]
    for i, (lo, hi) in enumerate(spans):
        b = o.filter(
            (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
        ).coalesce(1)
        t.write(b, op="insert", instant=f"00{i + 1}")
    assert all("col_stats" in f for f in t.tl.live_files())

    pred = [("o_orderdate", "between", ("1999-03-01", "1999-06-30"))]
    got = t.snapshot(predicate=pred)
    skipped = t.last_scan.dropped  # set at plan time; later reads reset it
    want = t.snapshot().filter(
        (F.col("o_orderdate") >= "1999-03-01")
        & (F.col("o_orderdate") <= "1999-06-30")
    )
    assert skipped == 3  # only the 1999 file survives
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # numeric predicate on an unsorted column: stats exist but ranges
    # overlap, so 0 skips — still exact results, never wrong results
    hi_price = t.snapshot(predicate=[("o_totalprice", ">", 400000.0)])
    assert hi_price.count() == t.snapshot().filter(
        F.col("o_totalprice") > 400000.0
    ).count()


def _mor_price_table(spark, tmp, name):
    return LakeTable(
        spark, str(tmp), "testdb", name,
        record_keys=["k"], precombine="ver",
        table_type="MERGE_ON_READ", stats_columns=["price"],
    )


def test_stats_skipping_mor_keeps_deltas(spark, tmp_path):
    """MOR predicate reads skip BASE files only when no retained delta's
    key range intersects theirs: overlapping deltas may move a key's
    value into or out of the predicate range (or lose the merge to the
    base row — see the lower-precombine test), so the base must reach
    the merge; key-disjoint bases are provably unaffected and skip."""
    t = _mor_price_table(spark, tmp_path, "skipmor")
    base = spark.createDataFrame(
        [(f"a{i}", 500.0 + i, 1) for i in range(1, 10)],
        "k STRING, price DOUBLE, ver LONG",
    ).coalesce(1)
    t.write(base, op="insert", instant="001")
    # delta with DISJOINT keys (b* vs a*): base is skippable
    delta = spark.createDataFrame(
        [(f"b{i}", 999999.0, 2) for i in range(1, 6)],
        "k STRING, price DOUBLE, ver LONG",
    ).coalesce(1)
    t.write(delta, op="upsert", instant="002")
    got = t.snapshot(predicate=[("price", "=", 999999.0)])
    skipped = t.last_scan.dropped
    assert got.count() == 5
    assert skipped == 1  # the a* base: fails stats AND key-disjoint
    # now an OVERLAPPING delta (key a5 moved out of range): the base may
    # no longer skip — merge must see it so the stale value cannot win
    t.write(
        spark.createDataFrame(
            [("a5", 0.01, 2)], "k STRING, price DOUBLE, ver LONG"
        ).coalesce(1),
        op="upsert", instant="003",
    )
    stale = t.snapshot(predicate=[("price", "=", 505.0)])  # a5's old price
    skipped = t.last_scan.dropped
    assert stale.count() == 0  # newest version (0.01) fails the filter
    assert skipped == 0  # overlap forces the base through the merge


def test_stats_skipping_mor_lower_precombine_delta(spark, tmp_path):
    """Round-5 review regression: the merge is max_by(precombine), so a
    LATE-ARRIVING delta with a LOWER precombine than the base row loses
    only while the base row is present. Skipping the base on stats
    would let the stale delta version win unopposed and leak through
    the predicate filter — the key-overlap rule must keep the base."""
    t = _mor_price_table(spark, tmp_path, "skipmorlow")
    t.write(
        spark.createDataFrame(
            [("a1", 500.0, 2)], "k STRING, price DOUBLE, ver LONG"
        ).coalesce(1),
        op="insert", instant="001",
    )
    # out-of-order arrival: same key, OLDER version, different price
    t.write(
        spark.createDataFrame(
            [("a1", 100.0, 1)], "k STRING, price DOUBLE, ver LONG"
        ).coalesce(1),
        op="upsert", instant="002",
    )
    # exact semantics: merge winner is ver=2 (price 500) -> 0 rows match
    assert t.snapshot().filter(F.col("price") == 100.0).count() == 0
    got = t.snapshot(predicate=[("price", "=", 100.0)])
    assert got.count() == 0, "stale lower-precombine delta resurfaced"
    assert t.last_scan.dropped == 0


def test_stats_skipping_incremental(spark, tmp_path):
    """incremental(predicate=...) prunes in-range files by column stats
    and still returns exactly the commit-time-filtered + predicate-
    filtered rows."""
    o = _orders(spark)
    t = _orders_table(
        spark, tmp_path, "skipinc", stats_columns=["o_orderdate"],
    )
    lo_half = o.filter(F.col("o_orderdate") < "1998-01-01").coalesce(1)
    hi_half = o.filter(F.col("o_orderdate") >= "1998-01-01").coalesce(1)
    t.write(lo_half, op="insert", instant="001")
    t.write(hi_half, op="insert", instant="002")
    pred = [("o_orderdate", ">=", "2000-06-01")]
    got = t.incremental(None, "002", predicate=pred)
    assert t.last_scan.dropped == 1  # the pre-1998 file
    assert got.count() == o.filter(
        F.col("o_orderdate") >= "2000-06-01"
    ).count()


def test_zorder_compact_improves_skipping(spark, tmp_path):
    """compact(sort_by=[zorder_key(...)]) range-clusters output files so
    per-file stats tighten: before the compact every file spans the full
    key range (0 skips possible); after it, predicates on EITHER z-order
    dimension skip files, at identical content (r4 verdict task 6)."""
    from emr_hudi_example_spark.operators.corpus import zorder_key

    o = _orders(spark)
    t = _orders_table(
        spark, tmp_path, "zorder",
        stats_columns=["o_custkey", "o_orderkey"],
    )
    # 3 interleaved commits: every file spans ~the full custkey range
    for i in range(3):
        t.write(
            o.filter(F.col("o_orderkey") % 3 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    cust_lo, cust_max, okey_lo, okey_hi = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).collect()[0]
    pred = [("o_custkey", "<=", int(cust_max) // 8)]
    before = t.snapshot(predicate=pred)
    skipped_before = t.last_scan.dropped
    n_match = before.count()
    assert skipped_before == 0  # interleaved: nothing prunable

    t.compact(
        instant="004", target_files_per_partition=8,
        # ranges scale-normalize both dims onto the full bit register —
        # without them the wider o_orderkey dominates the curve and
        # o_custkey predicates never prune
        sort_by=[zorder_key(
            ["o_custkey", "o_orderkey"], bits=16,
            ranges=[(cust_lo, cust_max), (okey_lo, okey_hi)],
        )],
    )
    after = t.snapshot(predicate=pred)
    assert after.count() == n_match
    assert after.exceptAll(before).count() == 0
    skipped_cust = t.last_scan.dropped
    assert skipped_cust > 0, "z-order clustering must enable file skips"
    # the SECOND z-order dimension prunes too (the point of interleaving
    # bits instead of lexicographic (custkey, orderkey) sort)
    t.snapshot(predicate=[("o_orderkey", "<=", int(okey_hi) // 8)])
    assert t.last_scan.dropped > 0


def test_stats_skipping_iso_t_separator_predicate(spark, tmp_path):
    """Round-5 review regression: timestamp stats serialize with a ' '
    separator; an ISO-'T' predicate operand must still order
    chronologically against them (normalized at compare time), not
    lexicographically prune files whose rows match."""
    o = _orders(spark)
    t = _orders_table(
        spark, tmp_path, "skipiso", stats_columns=["o_orderdate"],
    )
    t.write(
        o.filter(F.col("o_orderdate") < "1998-01-01").coalesce(1),
        op="insert", instant="001",
    )
    t.write(
        o.filter(F.col("o_orderdate") >= "1998-01-01").coalesce(1),
        op="insert", instant="002",
    )
    want = o.filter(F.col("o_orderdate") > "1999-06-01 12:00:00").count()
    got = t.snapshot(predicate=[("o_orderdate", ">", "1999-06-01T12:00:00")])
    n = got.count()
    skipped = t.last_scan.dropped
    # the 'T' operand must not lexicographically out-rank every stat
    # (' ' < 'T') and prune BOTH files to zero rows
    assert n == want > 0
    assert skipped == 1  # pre-1998 file still prunes


def test_read_optimized_predicate_validation_and_counter(spark, tmp_path):
    """read_optimized shares _stats_prune: unknown ops raise (not
    silently ignored) and a predicate-less read resets the skip
    counter instead of leaving the previous read's count."""
    t = _mor_price_table(spark, tmp_path, "roval")
    t.write(
        spark.createDataFrame(
            [(f"a{i}", float(i), 1) for i in range(1, 6)],
            "k STRING, price DOUBLE, ver LONG",
        ).coalesce(1),
        op="insert", instant="001",
    )
    with pytest.raises(ValueError, match="unknown predicate op"):
        t.read_optimized(predicate=[("price", "!=", 3.0)])
    t.snapshot(predicate=[("price", "=", 99999.0)])
    assert t.last_scan.dropped == 1
    t.read_optimized()  # no predicate: counter must reset
    assert t.last_scan.dropped == 0


def test_stats_skipping_mor_base_base_duplicate_keys(spark, tmp_path):
    """Second review pass: the no-merge insert op can land the same key
    in TWO base files; the snapshot merge dedupes them, so pruning the
    winning base file must not let the losing copy win unopposed —
    base candidates are checked against retained BASES too, not just
    deltas."""
    t = _mor_price_table(spark, tmp_path, "basebase")
    t.write(
        spark.createDataFrame(
            [("a1", 100.0, 5)], "k STRING, price DOUBLE, ver LONG"
        ).coalesce(1),
        op="insert", instant="001",
    )
    t.write(  # duplicate key, OLDER version, different price
        spark.createDataFrame(
            [("a1", 1.0, 3)], "k STRING, price DOUBLE, ver LONG"
        ).coalesce(1),
        op="insert", instant="002",
    )
    # exact semantics: merge winner is ver=5/price=100 -> price=1 empty
    assert t.snapshot().filter(F.col("price") == 1.0).count() == 0
    got = t.snapshot(predicate=[("price", "=", 1.0)])
    assert got.count() == 0, "stale base-base duplicate resurfaced"
    assert t.last_scan.dropped == 0  # key overlap keeps both bases


def test_stats_skipping_string_stats_stay_raw(spark, tmp_path):
    """Second review pass: operand separator normalization applies only
    when the stored stats are ' '-separated datetime strings — a
    genuine STRING column whose values use the ISO 'T' form keeps raw
    lexicographic semantics (matching Spark's row filter), so files
    with matching rows are not pruned."""
    t = LakeTable(
        spark, str(tmp_path), "testdb", "rawstr",
        record_keys=["k"], precombine="ver", stats_columns=["s"],
    )
    t.write(
        spark.createDataFrame(
            [("a1", "2026-01-01T00:00:00", 1),
             ("a2", "2026-01-01T10:00:00", 1)],
            "k STRING, s STRING, ver LONG",
        ).coalesce(1),
        op="insert", instant="001",
    )
    # raw string semantics: 'T' (0x54) > 'A' (0x41) -> both rows match
    pred = [("s", ">=", "2026-01-01A")]
    got = t.snapshot(predicate=pred)
    assert got.count() == 2, "string-column file wrongly pruned"
    assert t.last_scan.dropped == 0


# ------------------------------------------------------ bloom key index


def _bloom_table(spark, tmp, name="bl", **kw):
    return LakeTable(
        spark, str(tmp), "testdb", name,
        record_keys=["k"], precombine="ver", bloom_index=True, **kw,
    )


def _hashed_cust(spark, ver=1):
    """Customer rows keyed on md5(custkey) — RANDOM keys: every file
    spans the full key space, so min/max range stats prune nothing.
    The exact workload Hudi's bloom index exists for."""
    return (
        cust(spark, ver=ver)
        .withColumn("k", F.md5(F.col("c_custkey").cast("string")))
    )


def test_bloom_prunes_random_key_files(spark, tmp_path):
    """Four single-file insert commits with interleaved hashed keys:
    range stats keep all four candidates (overlapping min/max), the
    bloom probe must drop the three files holding no batch key, and the
    upsert must rewrite exactly the remaining one."""
    t = _bloom_table(spark, tmp_path)
    base = _hashed_cust(spark, ver=1)
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    batch = (
        _hashed_cust(spark, ver=2).filter(F.col("c_custkey") % 4 == 0)
    )
    t.write(batch, op="upsert", instant="005")
    assert t.last_scan["key_range"] == 0  # random keys: ranges overlap
    assert t.last_scan["key_bloom"] == 3  # blooms prune the other files
    only_file_1 = {f["path"] for f in t.tl.manifest("001")["added"]}
    assert set(t.tl.manifest("005")["replaced"]) == only_file_1
    snap = t.snapshot()
    assert snap.count() == base.count()
    assert (
        snap.filter(F.col("ver") == 2).count() == batch.count()
    )


def test_bloom_fallback_for_pre_index_files(spark, tmp_path):
    """Files written before the index was enabled have no bloom and
    must be kept unconditionally (conservative), while bloomed files
    still prune — mixed-vintage tables stay exact."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "mix",
        record_keys=["k"], precombine="ver",
    )
    a = _hashed_cust(spark, ver=1).filter(F.col("c_custkey") % 2 == 0)
    plain.write(a.coalesce(1), op="insert", instant="001")
    t = _bloom_table(spark, tmp_path, name="mix")
    b = _hashed_cust(spark, ver=1).filter(F.col("c_custkey") % 2 == 1)
    t.write(b.coalesce(1), op="insert", instant="002")
    # update keys living ONLY in the pre-index file: its lack of a
    # bloom keeps it; file 002's bloom excludes every batch key
    upd = _hashed_cust(spark, ver=2).filter(F.col("c_custkey") % 2 == 0)
    t.write(upd, op="upsert", instant="003")
    assert t.last_scan["key_bloom"] == 1
    snap = t.snapshot()
    assert snap.filter(F.col("ver") == 2).count() == upd.count()
    assert snap.count() == a.count() + b.count()


def test_bloom_sidecar_cleanup_and_counter_reset(spark, tmp_path):
    """clean() removes sidecars of instants with no surviving file;
    a planning pass that never reaches the bloom probe resets the
    observability counter."""
    t = _bloom_table(spark, tmp_path, name="cl")
    base = _hashed_cust(spark, ver=1)
    t.write(base.coalesce(1), op="insert", instant="001")
    t.write(_hashed_cust(spark, ver=2), op="upsert", instant="002")
    t.write(_hashed_cust(spark, ver=3), op="upsert", instant="003")
    assert t.last_scan["key_bloom"] == 0  # single candidate: probe skipped
    t.clean(retain_commits=1)
    assert sorted(os.listdir(t.bloom_dir)) == ["003.json"]
    snap = t.snapshot()
    assert snap.count() == base.count()
    assert snap.filter(F.col("ver") != 3).count() == 0


def test_scan_report_not_left_over_from_previous_write(spark, tmp_path):
    """Every write installs its own report. An upsert whose bloom probe
    pruned three files is followed by an ``insert_overwrite`` to one
    file and a one-key upsert: that upsert has a single candidate, so
    no key layer runs, and its report must not carry the earlier
    pass's bloom count."""
    t = _bloom_table(spark, tmp_path, name="stale")
    base = _hashed_cust(spark, ver=1)
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t.write(
        _hashed_cust(spark, ver=2).filter(F.col("c_custkey") % 4 == 0),
        op="upsert", instant="005",
    )
    assert t.last_scan["key_bloom"] == 3
    t.write(base.coalesce(1), op="insert_overwrite", instant="006")
    assert t.last_scan.considered == 0  # no keyed planning
    assert len(t.tl.live_files()) == 1
    t.write(
        _hashed_cust(spark, ver=3).filter(F.col("c_custkey") == 8),
        op="upsert", instant="007",
    )
    assert t.last_scan.considered == 1
    assert t.last_scan["key_bloom"] == 0
    assert t.last_scan.kept == len(t.tl.manifest("007")["replaced"]) == 1


def test_bloom_module_determinism():
    """Blooms are process-independent: positions derive from blake2b,
    not PYTHONHASHSEED — a bloom built anywhere is valid everywhere."""
    from emr_hudi_example_spark.lake import bloom as B

    keys = [f"key-{i}" for i in range(1000)]
    b1 = B.build_bloom(keys, nbits=1 << 16, k=5)
    b2 = B.build_bloom(list(keys), nbits=1 << 16, k=5)
    assert b1 == b2
    bits = B.bloom_from_b64(B.bloom_to_b64(b1))
    pos = B.key_positions(keys, 1 << 16, 5)
    assert B.might_contain(bits, pos).all()  # zero false negatives
    other = B.key_positions([f"other-{i}" for i in range(1000)], 1 << 16, 5)
    # at 1k keys in 64Kbit/k=5 the FPR is ~2e-5 — and deterministic
    assert B.might_contain(bits, other).sum() <= 2
    # the packed-bit test agrees with a lookup in the unpacked bitset
    import numpy as np

    unpacked = np.unpackbits(bits, bitorder="little")
    for p in (pos, other):
        assert (B.might_contain(bits, p) == unpacked[p].all(axis=1)).all()


def test_bloom_kernel_matches_module(spark, tmp_path):
    """The self-contained Spark kernels (shipped by value to workers
    that cannot import this repo) must produce byte-identical blooms to
    the unit-tested lake/bloom.py reference implementation."""
    from emr_hudi_example_spark.lake import bloom as B

    t = _bloom_table(spark, tmp_path, name="par")
    rows = _hashed_cust(spark, ver=1).filter(F.col("c_custkey") < 40)
    t.write(rows.coalesce(1), op="insert", instant="001")
    [(path, b64)] = [
        (p, per[RECORD_KEY_COL])
        for p, per in t._key_bloom._sidecars["001"]["files"].items()
    ]
    keys = [r["k"] for r in t.snapshot().select("k").collect()]
    assert b64 == B.bloom_to_b64(
        B.build_bloom(keys, B.KEY_NBITS, B.KEY_HASHES)
    )


def test_bloom_geometry_comes_from_sidecar(spark, tmp_path, monkeypatch):
    """Probes read the geometry recorded in each sidecar, never the
    handle's: four single-file commits bloomed at 2^14 bits, upserted
    through a handle on the default geometry, must prune exactly the
    three files holding no batch key and land an exact snapshot.
    Probing with the handle's geometry instead mis-pruned the file
    holding the keys (duplicate rows) or indexed past the bitset."""
    from emr_hudi_example_spark.lake import bloom as B

    rows = spark.range(0, 200).select(
        F.md5(F.col("id").cast("string")).alias("k"),
        F.col("id"),
        F.lit(1).cast("long").alias("ver"),
    )
    monkeypatch.setattr(B, "KEY_NBITS", 1 << 14)
    t = _bloom_table(spark, tmp_path, name="geo")
    for i in range(4):
        t.write(
            rows.filter((F.col("id") >= 50 * i) & (F.col("id") < 50 * i + 50))
            .coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    monkeypatch.undo()
    t2 = _bloom_table(spark, tmp_path, name="geo")
    upd = rows.filter(F.col("id") < 50).withColumn("ver", F.lit(2).cast("long"))
    t2.write(upd, op="upsert", instant="005")
    assert t2.last_scan["key_bloom"] == 3
    snap = t2.snapshot()
    assert snap.count() == 200
    assert snap.filter(F.col("ver") == 2).count() == 50


def test_bloom_legacy_flat_sidecar_keeps_files(spark, tmp_path):
    """A key sidecar in the legacy flat format (``{fp: b64}``, no
    recorded geometry) counts as no bloom: its file is kept even when
    the bitset it holds excludes every key, and the upsert is exact."""
    import json

    from emr_hudi_example_spark.lake import bloom as B

    t = _bloom_table(spark, tmp_path, name="leg")
    base = _hashed_cust(spark, ver=1)
    for i in range(2):
        t.write(
            base.filter(F.col("c_custkey") % 2 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    legacy = [f["path"] for f in t.tl.manifest("001")["added"]]
    empty = B.bloom_to_b64(B.build_bloom([], 1 << 20, 7))
    with open(os.path.join(t.bloom_dir, "001.json"), "w") as fh:
        json.dump({p: empty for p in legacy}, fh)
    t2 = _bloom_table(spark, tmp_path, name="leg")
    upd = _hashed_cust(spark, ver=2).filter(F.col("c_custkey") % 2 == 0)
    t2.write(upd, op="upsert", instant="003")
    assert t2.last_scan["key_bloom"] == 1  # file 002's bloom; 001 kept
    assert set(t2.tl.manifest("003")["replaced"]) == set(legacy)
    snap = t2.snapshot()
    assert snap.count() == base.count()
    assert snap.filter(F.col("ver") == 2).count() == upd.count()


# ------------------------------------------- delete_partition / savepoint


def test_delete_partition_manifest_only(spark, tmp_path):
    """Dropping a partition is a manifest-only commit: zero data I/O,
    files dereferenced for the cleaner, snapshot excludes the partition,
    time travel before the drop still sees it."""
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"])
    t.write(cust(spark, ver=1), op="insert", instant="001")
    segs = [r[0] for r in t.snapshot().select("c_mktsegment").distinct().collect()]
    victim = sorted(segs)[0]
    n_before = t.snapshot().count()
    n_victim = t.snapshot().filter(F.col("c_mktsegment") == victim).count()
    removed = t.delete_partitions([{"c_mktsegment": victim}], instant="002")
    assert removed > 0
    m = t.tl.manifest("002")
    assert m["action"] == "delete_partition" and m["added"] == []
    snap = t.snapshot()
    assert snap.count() == n_before - n_victim
    assert snap.filter(F.col("c_mktsegment") == victim).count() == 0
    # data files still on disk (lazy) until the cleaner runs
    assert t.snapshot(as_of="001").count() == n_before
    deleted = t.clean(retain_commits=1)
    assert len(deleted) == removed
    with pytest.raises(ValueError, match="unpartitioned"):
        make_table(spark, tmp_path, name="nopart").delete_partitions(
            [{"x": "1"}]
        )


def test_delete_partition_missing_key_rejected(spark, tmp_path):
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"])
    t.write(cust(spark, ver=1), op="insert", instant="001")
    with pytest.raises(ValueError, match="missing keys"):
        t.delete_partitions([{}])


def test_savepoint_pins_files_against_cleaner(spark, tmp_path):
    """Files live at a savepointed instant survive clean() past the
    retention horizon; releasing the savepoint frees them."""
    t = make_table(spark, tmp_path, name="sp")
    t.write(cust(spark, ver=1), op="insert", instant="001")
    t.savepoint("001")
    t.write(cust(spark, ver=2), op="upsert", instant="002")
    t.write(cust(spark, ver=3), op="upsert", instant="003")
    # pinned = live@001 plus retained live@003; 002's replaced output is
    # fair game — but nothing of 001 may be reaped
    deleted = t.clean(retain_commits=1)
    assert not any(p.startswith("data/001/") for p in deleted)
    assert t.snapshot(as_of="001").filter(F.col("ver") == 1).count() > 0
    t.release_savepoint("001")
    deleted = t.clean(retain_commits=1)
    assert deleted  # 001's (and 002's) files now reapable
    assert t.snapshot().filter(F.col("ver") == 3).count() == t.snapshot().count()
    with pytest.raises(ValueError, match="unknown instant"):
        t.savepoint("999")


def test_history_reads_past_cleaner_horizon_raise_clearly(spark, tmp_path):
    """Time travel / incremental / CDC changes over files the cleaner
    reaped raise the engine's contract error (naming the cleaner and
    the savepoint/retain_commits remedy) BEFORE any scan — not Spark's
    PATH_NOT_FOUND mid-analysis. The latest view and savepoint-pinned
    history stay readable; the guard never runs on the latest-view
    serving path."""
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = make_table(
            spark, tmp_path, name=f"hist_{tt[:3]}", table_type=tt
        )
        t.write(cust(spark, ver=1), op="insert", instant="001")
        t.write(cust(spark, ver=2), op="upsert", instant="002")
        t.write(cust(spark, ver=3), op="upsert", instant="003")
        if tt == "MERGE_ON_READ":
            t.compact()  # fold deltas so 001/002 output is reapable
        assert t.clean(retain_commits=1), "cleaner reaped nothing"
        with pytest.raises(ValueError, match="cleaned.*savepoint"):
            t.snapshot(as_of="001").collect()
        with pytest.raises(ValueError, match="cleaned.*retain_commits"):
            t.incremental("001", "002").collect()
        with pytest.raises(ValueError, match="cleaned"):
            t.changes("001", "002").collect()
        # latest view unaffected; full-range incremental from the last
        # retained commit still serves
        assert t.snapshot().filter(F.col("ver") == 3).count() > 0
    # savepoint pins → the SAME as_of read passes the guard
    s = make_table(spark, tmp_path, name="hist_sp")
    s.write(cust(spark, ver=1), op="insert", instant="001")
    s.savepoint("001")
    s.write(cust(spark, ver=2), op="upsert", instant="002")
    s.write(cust(spark, ver=3), op="upsert", instant="003")
    s.clean(retain_commits=1)
    assert s.snapshot(as_of="001").filter(F.col("ver") == 1).count() > 0


def test_insert_overwrite_partitioned_and_whole_table(spark, tmp_path):
    """insert_overwrite replaces exactly the touched partitions (whole
    table when unpartitioned); untouched partitions carry over."""
    t = make_table(spark, tmp_path, name="iow", partition_keys=["c_mktsegment"])
    t.write(cust(spark, ver=1), op="insert", instant="001")
    segs = sorted(
        r[0] for r in t.snapshot().select("c_mktsegment").distinct().collect()
    )
    victim = segs[0]
    refresh = (
        cust(spark, ver=2)
        .filter(F.col("c_mktsegment") == victim)
        .filter(F.col("c_custkey") % 2 == 0)  # smaller content: true replace
    )
    t.write(refresh, op="insert_overwrite", instant="002")
    snap = t.snapshot()
    in_victim = snap.filter(F.col("c_mktsegment") == victim)
    assert in_victim.count() == refresh.count()
    assert in_victim.filter(F.col("ver") != 2).count() == 0
    others = snap.filter(F.col("c_mktsegment") != victim)
    assert others.filter(F.col("ver") != 1).count() == 0
    assert (
        others.count()
        == cust(spark).filter(F.col("c_mktsegment") != victim).count()
    )
    m = t.tl.manifest("002")
    assert m["action"] == "insert_overwrite" and m["replaced"]
    # unpartitioned: whole-table replace
    u = make_table(spark, tmp_path, name="iow_flat")
    u.write(cust(spark, ver=1), op="insert", instant="001")
    u.write(
        cust(spark, ver=5).filter(F.col("c_custkey") < 10),
        op="insert_overwrite",
        instant="002",
    )
    assert u.snapshot().count() == cust(spark).filter(F.col("c_custkey") < 10).count()
    assert u.snapshot(as_of="001").count() == cust(spark).count()


def test_merge_into_cow_mor_parity(spark, tmp_path):
    """MERGE INTO lands all three clauses in one commit, and the COW and
    MOR end states are identical (updates resolve through the same
    precombine discipline on both storage types)."""
    import pyspark.sql.functions as F

    base = cust(spark, ver=1).select("c_custkey", "c_name", "c_acctbal", "ver")
    src = (
        base.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("ver", F.lit(9).cast("long"))
        .unionByName(
            base.filter(F.col("c_custkey") % 5 == 0)
            .withColumn("c_custkey", F.col("c_custkey") + 1000000)
            .withColumn("ver", F.lit(5).cast("long"))
        )
    )
    ends = {}
    for kind in ("cow", "mor"):
        kw = {"table_type": "MERGE_ON_READ"} if kind == "mor" else {}
        t = LakeTable(
            spark, str(tmp_path / kind), "m", kind,
            record_keys=["c_custkey"], precombine="ver", **kw,
        )
        t.write(base, op="insert", instant="001")
        t.merge_into(
            src,
            update_set={
                "c_acctbal": "t.c_acctbal + 500.0",
                "ver": "t.ver + 1",
            },
            delete_condition="t.c_acctbal < 0",
            instant="002",
        )
        assert t.timeline()[-1] == "002"  # single commit for all clauses
        ends[kind] = {
            tuple(r)
            for r in t.snapshot()
            .select("c_custkey", "c_acctbal", "ver", "_commit_time")
            .collect()
        }
    assert ends["cow"] == ends["mor"]
    # deleted: matched negative-balance keys are gone
    deleted = {
        r[0]
        for r in base.filter(
            (F.col("c_custkey") % 3 == 0) & (F.col("c_acctbal") < 0)
        ).select("c_custkey").collect()
    }
    surviving_keys = {k for (k, _, _, _) in ends["cow"]}
    assert deleted and deleted.isdisjoint(surviving_keys)
    # inserted: synthetic keys present with source precombine
    assert any(k > 1000000 and v == 5 for (k, _, v, _) in ends["cow"])


def test_merge_into_duplicate_match_raises(spark, tmp_path):
    """Ambiguous MERGE matches raise (ANSI MERGE / Delta semantics, the
    r12 review finding): a duplicate-key source routing one row to the
    delete clause and another to the update clause would otherwise
    commit a same-instant tombstone + data row whose visibility is
    table-type-dependent — verified divergence before the gate: COW
    kept the update, MOR's read merge killed it. Both table types must
    refuse identically, and a duplicate TARGET row (legal via the
    insert duplicate contract) hit by one source row must refuse
    too."""
    sch = "k string, ver long, c string"
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = LakeTable(
            spark, str(tmp_path), "m", f"dupmerge_{tt}", ["k"], "ver",
            table_type=tt,
        )
        t.write(
            spark.createDataFrame([("k1", 1, "orig")], sch),
            op="insert", instant="001",
        )
        dup_src = spark.createDataFrame(
            [("k1", 2, "DELME"), ("k1", 3, "updated")], sch
        )
        with pytest.raises(ValueError, match="multiple rows matched"):
            t.merge_into(
                dup_src,
                update_set={"c": "s.c", "ver": "s.ver"},
                delete_condition="s.c = 'DELME'",
            )
        # nothing committed; the table still reads its pre-merge state
        assert t.timeline() == ["001"]
        assert [tuple(r) for r in t.snapshot().select(
            "k", "ver", "c").collect()] == [("k1", 1, "orig")]
        # duplicate TARGET rows (insert contract) hit by ONE source row
        t.write(
            spark.createDataFrame([("k1", 2, "dup")], sch),
            op="insert", instant="002",
        )
        one_src = spark.createDataFrame([("k1", 9, "upd")], sch)
        if tt == "COPY_ON_WRITE":
            # COW physically stores both duplicates -> ambiguous
            with pytest.raises(ValueError, match="multiple rows matched"):
                t.merge_into(one_src, update_set={"c": "s.c"})
        else:
            # MOR's read fold collapses duplicates before the join, so
            # exactly one row matches and the merge proceeds
            t.merge_into(
                one_src, update_set={"c": "s.c", "ver": "s.ver"}
            )
            assert [tuple(r) for r in t.snapshot().select(
                "k", "ver", "c").collect()] == [("k1", 9, "upd")]


def test_merge_into_concurrent_duplicate_writer_trips_gate(spark, tmp_path):
    """The r13 TOCTOU window, closed in r14: the ambiguity gate ran
    against a snapshot taken BEFORE the writer lock, so a concurrent
    writer landing duplicate target rows between the gate passing and
    the merge committing evaded the raise. merge_into now captures the
    planning-time instant and RE-DERIVES the whole plan (classification
    + gate) under the lock when the table advanced — the race trips the
    gate instead of committing a silently ambiguous merge. Simulated
    deterministically by shadowing _writer_lock on the instance: the
    wrapper lands the conflicting duplicate insert via a second handle
    BEFORE delegating to the real lock."""
    sch = "k string, ver long, c string"
    t = LakeTable(spark, str(tmp_path), "m", "toctou", ["k"], "ver")
    t.write(
        spark.createDataFrame([("k1", 1, "orig")], sch),
        op="insert", instant="001",
    )
    t2 = LakeTable(spark, str(tmp_path), "m", "toctou", ["k"], "ver")
    real_lock = t._writer_lock
    fired = []

    def racing_lock():
        if not fired:
            fired.append(True)
            # concurrent writer lands a DUPLICATE target row for k1
            # (legal via the insert duplicate contract) in the window
            # between the optimistic gate and the lock
            t2.write(
                spark.createDataFrame([("k1", 2, "dup")], sch),
                op="insert", instant="002",
            )
        return real_lock()

    t._writer_lock = racing_lock
    one_src = spark.createDataFrame([("k1", 9, "upd")], sch)
    with pytest.raises(ValueError, match="multiple rows matched"):
        t.merge_into(one_src, update_set={"c": "s.c", "ver": "s.ver"})
    # the ambiguous merge must NOT have committed
    assert t2.timeline() == ["001", "002"]
    # same race on an UNAMBIGUOUS merge: the re-derived plan sees the
    # concurrent single-row update and still commits correctly
    t3 = LakeTable(spark, str(tmp_path), "m", "toctou2", ["k"], "ver")
    t3.write(
        spark.createDataFrame([("k1", 1, "orig")], sch),
        op="insert", instant="001",
    )
    t4 = LakeTable(spark, str(tmp_path), "m", "toctou2", ["k"], "ver")
    real3 = t3._writer_lock
    fired3 = []

    def racing3():
        if not fired3:
            fired3.append(True)
            t4.write(  # concurrent UPSERT (no duplicate): ver bumps to 5
                spark.createDataFrame([("k1", 5, "conc")], sch),
                op="upsert", instant="002",
            )
        return real3()

    t3._writer_lock = racing3
    t3.merge_into(one_src, update_set={"c": "s.c", "ver": "s.ver"})
    assert [tuple(r) for r in t4.snapshot().select(
        "k", "ver", "c").collect()] == [("k1", 9, "upd")]


def test_partial_update_null_precombine(spark, tmp_path):
    """NULL precombine through the partial_update write fold (r12
    review pin): max_by over a BARE column order skips null-ordered
    rows, which would fold a null-precombine-only key to a ghost row
    of all-null columns — the struct-wrapped order must instead rank
    null lowest (loses to any non-null), matching _merge's discipline.
    Legs: a key whose ONLY row has null precombine survives intact; a
    mixed null/non-null duplicate pair in ONE batch keeps the non-null
    version's precombine while the null twin's field fills; identical
    on both table types."""
    sch = "k string, ver long, c string, d string"
    ends = {}
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = LakeTable(
            spark, str(tmp_path), "d", f"punull_{tt}", ["k"], "ver",
            table_type=tt, payload="partial_update",
        )
        t.write(
            spark.createDataFrame(
                [("solo", None, "A", None),
                 ("mix", 5, None, "D5"),
                 ("mix", None, "B", None)],
                sch,
            ),
            op="upsert", instant="001",
        )
        rows = sorted(
            tuple(r)
            for r in t.snapshot().select("k", "ver", "c", "d").collect()
        )
        # solo: the null-precombine row IS the unit, fully intact;
        # mix: unit precombine = 5 (non-null beats null), c fills from
        # the null twin, d carried by the winner
        assert rows == [
            ("mix", 5, "B", "D5"),
            ("solo", None, "A", None),
        ], (tt, rows)
        ends[tt] = rows

        # CROSS-COMMIT null precombines (r12 review find, live COW/MOR
        # divergence before the null-safe eligibility fix): null ties
        # null -> the NEWER commit overwrites (exactly _merge's
        # ties-to-incoming); a later null loses to a stored non-null
        # (fills only); a later non-null beats a stored null
        t2 = LakeTable(
            spark, str(tmp_path), "d", f"punullx_{tt}", ["k"], "ver",
            table_type=tt, payload="partial_update",
        )
        t2.write(
            spark.createDataFrame(
                [("nn", None, "B", None),
                 ("up", None, "B", None),
                 ("dn", 5, "X", None)],
                sch,
            ),
            op="upsert", instant="001",
        )
        t2.write(
            spark.createDataFrame(
                [("nn", None, "C", None),   # null ties null: overwrite
                 ("up", 3, "C", None),      # non-null beats null
                 ("dn", None, None, "D")],  # null loses: fill only
                sch,
            ),
            op="upsert", instant="002",
        )
        rows2 = sorted(
            tuple(r)
            for r in t2.snapshot().select("k", "ver", "c", "d").collect()
        )
        assert rows2 == [
            ("dn", 5, "X", "D"),
            ("nn", None, "C", None),
            ("up", 3, "C", None),
        ], (tt, rows2)
        if tt == "MERGE_ON_READ":
            t2.compact()
            assert sorted(
                tuple(r)
                for r in t2.snapshot()
                .select("k", "ver", "c", "d").collect()
            ) == rows2
        ends[("x", tt)] = rows2
    assert ends["COPY_ON_WRITE"] == ends["MERGE_ON_READ"]
    assert ends[("x", "COPY_ON_WRITE")] == ends[("x", "MERGE_ON_READ")]


def test_merge_into_insert_only_skips_ambiguity_gate(spark, tmp_path):
    """An INSERT-ONLY merge (no update_set, no delete_condition)
    ignores matched rows entirely, so duplicate matches modify nothing
    and must NOT raise (ANSI's cardinality rule applies only to
    update/delete clauses — r12 review pin): the unmatched rows insert,
    the matched duplicates are dropped."""
    sch = "k string, ver long, c string"
    t = LakeTable(spark, str(tmp_path), "m", "insonly", ["k"], "ver")
    t.write(
        spark.createDataFrame([("k1", 1, "orig")], sch),
        op="insert", instant="001",
    )
    src = spark.createDataFrame(
        [("k1", 2, "dupA"), ("k1", 3, "dupB"), ("k2", 1, "new")], sch
    )
    t.merge_into(src)  # insert-only: must not raise on the k1 dups
    assert sorted(
        tuple(r) for r in t.snapshot().select("k", "ver", "c").collect()
    ) == [("k1", 1, "orig"), ("k2", 1, "new")]


def test_merge_into_partial_update_parity(spark, tmp_path):
    """MERGE INTO on a ``payload='partial_update'`` table: the update
    leg is a PATCH — an explicit NULL in ``update_set`` keeps the
    stored value (PartialUpdateAvroPayload semantics; on the default
    payload it would overwrite with NULL), a stale-precombine update
    loses wholesale, matched deletes and unmatched inserts behave as
    on the default payload, and COW == MOR."""
    sch = "k long, ver long, a long, b long"
    base = spark.createDataFrame(
        [(1, 1, 10, 100), (2, 1, 20, 200), (3, 1, 30, 300)], sch
    )
    src = spark.createDataFrame(
        [
            (1, 5, 77, None),    # fresh patch: a updates, b KEEPS 100
            (2, 0, 99, 999),     # stale (ver 0 < 1): no effect
            (3, 5, -1, None),    # routes to the delete clause
            (9, 5, 90, None),    # unmatched: inserts with b NULL
        ],
        sch,
    )
    ends = {}
    for kind in ("cow", "mor"):
        kw = {"table_type": "MERGE_ON_READ"} if kind == "mor" else {}
        t = LakeTable(
            spark, str(tmp_path / kind), "m", f"pu_{kind}", ["k"],
            "ver", payload="partial_update", **kw,
        )
        t.write(base, op="insert", instant="001")
        t.merge_into(
            src,
            update_set={"ver": "s.ver", "a": "s.a", "b": "s.b"},
            delete_condition="s.a < 0",
            instant="002",
        )
        assert t.timeline()[-1] == "002"
        ends[kind] = sorted(
            tuple(r)
            for r in t.snapshot().select("k", "ver", "a", "b").collect()
        )
        if kind == "mor":
            # the patch must survive the fold materializing, too
            t.compact()
            assert sorted(
                tuple(r)
                for r in t.snapshot().select("k", "ver", "a", "b").collect()
            ) == ends[kind]
    assert ends["cow"] == ends["mor"]
    assert ends["cow"] == [
        (1, 5, 77, 100),   # patched a, kept b
        (2, 1, 20, 200),   # stale update lost wholesale
        (9, 5, 90, None),  # inserted; no prior to fill the NULL
    ]


def test_merge_into_requires_existing_table(spark, tmp_path):
    t = make_table(spark, tmp_path)
    with pytest.raises(ValueError, match="non-existent"):
        t.merge_into(cust(spark))


# ---------------------------------------------------------------- inflight
# clean() vs lock-free writers (r6 advice, high): an optimistic writer's
# data files exist before its manifest — the .inflight marker must keep a
# concurrent cleaner's hands off them, and a writer whose marker expired
# must ABORT at publish rather than commit a manifest to deleted files.


def test_clean_during_optimistic_compute_keeps_inflight_files(
    spark, tmp_path
):
    """A clean() firing while an optimistic writer is between its data
    write and its publish must NOT reap the in-flight files: the marker
    protects them, the publish lands, and the snapshot is correct."""
    root = tmp_path / "occ-clean"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "occ",
            record_keys=["c_custkey"], precombine="ver",
        )

    t_seed = handle()
    t_seed.write(cust(spark, ver=1), op="insert", instant="001")
    t_seed.write(
        cust(spark, ver=1).limit(10), op="upsert", instant="002"
    )  # second commit so retain_commits=1 has something to reap

    t_a, t_c = handle(), handle()
    orig = t_a._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_clean():
        if fired["n"] == 0:
            fired["n"] = 1
            # cleaner fires while A holds NO lock: A's data files are on
            # disk, its manifest is not
            t_c.clean(retain_commits=1)
        return orig()

    t_a._writer_lock = lock_after_concurrent_clean
    inst = t_a.write_optimistic(cust(spark, ver=2), op="upsert")
    assert fired["n"] == 1

    reader = handle()
    assert reader.timeline()[-1] == inst
    snap = reader.snapshot()
    assert snap.count() == cust(spark).count()
    assert snap.filter(F.col("ver") == 2).count() == cust(spark).count()
    # marker cleared after publish
    assert reader.tl.inflight_split() == (set(), set())


def test_expired_inflight_marker_aborts_publish_not_corrupts(
    spark, tmp_path
):
    """If the cleaner's TTL judges the writer crashed (marker stale) and
    reaps its files, the still-alive writer must abort with
    ConcurrentWriteConflict at publish — never commit a manifest that
    references deleted files."""
    from emr_hudi_example_spark.lake import ConcurrentWriteConflict

    root = tmp_path / "occ-stale"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "occ",
            record_keys=["c_custkey"], precombine="ver",
        )

    t_seed = handle()
    t_seed.write(cust(spark, ver=1), op="insert", instant="001")

    t_a, t_c = handle(), handle()
    t_c.tl.inflight_ttl_seconds = 0.0  # every marker counts as crashed
    orig = t_a._writer_lock
    fired = {"n": 0}

    def lock_after_hostile_clean():
        if fired["n"] == 0:
            fired["n"] = 1
            t_c.clean(retain_commits=1)
        return orig()

    t_a._writer_lock = lock_after_hostile_clean
    with pytest.raises(ConcurrentWriteConflict, match="reaped"):
        t_a.write_optimistic(cust(spark, ver=2), op="upsert")

    reader = handle()
    assert reader.timeline() == ["001"]  # nothing published
    assert reader.snapshot().filter(F.col("ver") == 2).count() == 0
    # the hostile clean also removed the stale marker
    assert reader.tl.inflight_split() == (set(), set())


def test_inflight_heartbeat_outlives_ttl(spark, tmp_path):
    """r7 advisory (low): a live writer's marker must NOT go stale even
    when its compute phase out-lives the TTL — the heartbeat thread
    refreshes ``at`` every ttl/3, so only a CRASHED writer (heartbeat
    died with its process) ever crosses the horizon. Without this a
    periodic cleaner livelocks every fold longer than the TTL."""
    import time as _time

    t = make_table(spark, tmp_path)
    t.tl.inflight_ttl_seconds = 2.0  # heartbeat interval = max(1, 2/3) = 1s
    t.tl.mark_inflight("009hbhb")
    _time.sleep(3.2)  # well past the TTL; 3 heartbeats have fired
    live, stale = t.tl.inflight_split()
    assert live == {"009hbhb"} and stale == set()
    t.tl.clear_inflight("009hbhb")
    assert t.tl.inflight_split() == (set(), set())
    _time.sleep(1.5)  # a stopped heartbeat must not resurrect the marker
    assert t.tl.inflight_split() == (set(), set())


def test_clean_removes_stale_inflight_markers(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="insert", instant="001")
    t.tl.mark_inflight("002zzzz")
    live, stale = t.tl.inflight_split()
    assert live == {"002zzzz"} and stale == set()
    t.tl.inflight_ttl_seconds = 0.0
    live, stale = t.tl.inflight_split()
    assert live == set() and stale == {"002zzzz"}
    t.clean(retain_commits=2)
    assert t.tl.inflight_split() == (set(), set())


def test_file_lock_commits_survive_on_fenced_table(spark, tmp_path):
    """A table that once recorded a lease-takeover fence must keep
    accepting commits from the default FileLockProvider (which stamps
    fence_token: None): only lease-provider zombies — which always
    carry a token — are condemned by fences. Treating None as token 0
    silently erased every later file-lock commit (r6 advice, medium)."""
    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    root = tmp_path / "mixed-prov"
    tpath = str(root / "testdb" / "mx")
    a = LeaseLockProvider(tpath, lease_seconds=60.0, holder="a")
    t_a = LakeTable(
        spark, str(root), "testdb", "mx",
        record_keys=["c_custkey"], precombine="ver", lock_provider=a,
    )
    t_a.write(cust(spark, ver=1), op="insert", instant="001")

    # force a takeover fence: back-date a's lease, let b take over
    import time as _t

    a.acquire(5.0)
    a._rewrite_own(a.token, expires_at=_t.time() - 1.0)
    b = LeaseLockProvider(tpath, lease_seconds=60.0, holder="b")
    b.acquire(5.0)
    b.release()
    assert t_a.tl.fences()  # fence recorded

    # later operator writes via the DEFAULT provider (O_EXCL file lock)
    t_file = LakeTable(
        spark, str(root), "testdb", "mx",
        record_keys=["c_custkey"], precombine="ver",
    )
    t_file.write(cust(spark, ver=2), op="upsert", instant="002")
    assert t_file.timeline() == ["001", "002"]

    # a FRESH reader (no _fence_ok cache) still sees the commit
    t_r = LakeTable(
        spark, str(root), "testdb", "mx",
        record_keys=["c_custkey"], precombine="ver",
    )
    assert t_r.timeline() == ["001", "002"]
    assert (
        t_r.snapshot().filter(F.col("ver") == 2).count()
        == cust(spark).count()
    )


def test_fence_records_are_immutable_per_token_files(spark, tmp_path):
    """_record_fence writes one O_EXCL-linked fence-<token>.json per
    takeover (r6 advice: the shared fences.json read-modify-replace
    could lose a record to a paused taker racing the next takeover).
    A legacy fences.json is still honored alongside."""
    import json as _json
    import os as _os

    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    root = tmp_path / "fence-files"
    tpath = str(root / "testdb" / "ff")
    _os.makedirs(_os.path.join(tpath, "_commits"))
    p = LeaseLockProvider(tpath, holder="w")
    p._record_fence(5)
    p._record_fence(7)
    p._record_fence(5)  # duplicate recorder: harmless no-op
    names = sorted(
        n for n in _os.listdir(p.lease_dir) if n.startswith("fence-")
    )
    assert len(names) == 2 and not any(n.endswith(".tmp") for n in names)

    # legacy shared-file fences merge in, ascending by token
    with open(_os.path.join(p.lease_dir, "fences.json"), "w") as fh:
        _json.dump(
            {"fences": [{"token": 3, "holder": "old", "timeline_head": ""}]},
            fh,
        )
    t = LakeTable(
        spark, str(root), "testdb", "ff",
        record_keys=["c_custkey"], precombine="ver",
    )
    assert [f["token"] for f in t.tl.fences()] == [3, 5, 7]


def test_async_compaction_fold_does_not_block_concurrent_append(
    spark, tmp_path
):
    """r6 verdict #1: run_compaction's heavy fold holds NO lock — a
    concurrent write_optimistic MOR append lands DURING the fold, both
    commits publish, and the merged read reflects both (the fold only
    covers the pinned files; the new delta keeps merging on top)."""
    root = tmp_path

    def handle(name="acx"):
        return LakeTable(
            spark, str(root), "testdb", name,
            record_keys=["c_custkey"], precombine="ver",
            table_type="MERGE_ON_READ",
        )

    t = handle()
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(cust(spark, ver=2).limit(40), op="upsert", instant="002")
    pid = t.schedule_compaction()
    assert pid is not None

    t_b = handle()
    delta = cust(spark, ver=3).limit(10)
    orig = t._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_append():
        # first (and only) lock call inside run_compaction is the
        # publish — i.e. the fold has fully completed, lock-free
        if fired["n"] == 0:
            fired["n"] = 1
            fired["inst_b"] = t_b.write_optimistic(delta, op="upsert")
        return orig()

    t._writer_lock = lock_after_concurrent_append
    inst = t.run_compaction(pid)
    assert inst is not None and fired["n"] == 1
    assert t.pending_compactions() == []

    reader = handle()
    tl = reader.timeline()
    assert fired["inst_b"] in tl and inst in tl  # BOTH commits landed
    assert reader.tl.manifest(inst)["action"] == "compact"
    snap = reader.snapshot()
    assert snap.count() == cust(spark).count()
    # the concurrent delta's rows win their keys (newest precombine)
    assert snap.filter(F.col("ver") == 3).count() == 10
    assert snap.filter(F.col("ver") == 2).count() == 30
    # no leftover inflight markers
    assert reader.tl.inflight_split() == (set(), set())


def test_async_compaction_plan_goes_stale_during_fold(spark, tmp_path):
    """A commit that REPLACES a pinned file while the fold is running
    (lock-free) invalidates the plan: the publish detects it, abandons
    the fold's output files, and discards the plan — snapshot
    unchanged."""
    import os as _os

    root = tmp_path

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "acy",
            record_keys=["c_custkey"], precombine="ver",
            table_type="MERGE_ON_READ",
        )

    t = handle()
    t.write(cust(spark, ver=1), op="upsert", instant="001")
    t.write(cust(spark, ver=2).limit(5), op="upsert", instant="002")
    pid = t.schedule_compaction()

    t_b = handle()
    orig = t._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_full_compaction():
        if fired["n"] == 0:
            fired["n"] = 1
            t_b.compact()  # replaces every pinned file mid-fold
        return orig()

    t._writer_lock = lock_after_concurrent_full_compaction
    before = t_b.snapshot().count()
    assert t.run_compaction(pid) is None
    assert t.pending_compactions() == []  # stale plan discarded

    reader = handle()
    assert reader.snapshot().count() == before
    # the abandoned fold's provisional data files were unlinked
    prov_dirs = [
        d for d in _os.listdir(reader.data_dir) if "c" in d and "w" not in d
        and d not in reader.timeline()
    ]
    for d in prov_dirs:
        files = [
            fn
            for _r, _ds, fns in _os.walk(_os.path.join(reader.data_dir, d))
            for fn in fns
            if fn.endswith(".parquet")
        ]
        assert files == []
    assert reader.tl.inflight_split() == (set(), set())


def test_thread_stress_writers_compactor_cleaner(spark, tmp_path):
    """UNSTAGED whole-kernel concurrency (r7): three optimistic MOR
    writers, an async schedule+run compactor, and a cleaner all run on
    real threads against one table. Whatever interleaving the scheduler
    produces: every writer converges with bounded retries, at least one
    compaction commits, the cleaner never eats an in-flight commit
    (in-flight markers), and the final merged read is exactly the
    newest version per key."""
    import threading
    import time as _time

    from emr_hudi_example_spark.lake import (
        ConcurrentWriteConflict, LakeTable, LockContention,
    )

    root = tmp_path / "kernel-stress"

    def handle():
        return LakeTable(
            spark, str(root), "testdb", "ks",
            record_keys=["c_custkey"], precombine="ver",
            table_type="MERGE_ON_READ",
        )

    base = cust(spark, ver=1)
    n_total = base.count()
    handle().write(base, op="insert", instant="001")
    errors: list[Exception] = []
    ROUNDS = 3

    def writer(i: int) -> None:
        for rnd in range(2, 2 + ROUNDS):
            t = handle()
            batch = cust(spark, ver=rnd).filter(F.col("c_custkey") % 3 == i)
            for _ in range(10):
                try:
                    t.write_optimistic(batch, op="upsert")
                    break
                except ConcurrentWriteConflict:
                    t = handle()
                except LockContention:
                    _time.sleep(0.2)
                except Exception as exc:  # pragma: no cover
                    errors.append(exc)
                    return
            else:
                errors.append(RuntimeError(f"writer {i} r{rnd} starved"))
                return

    compacted: list[str] = []
    scheduled: list[str] = []

    def compactor() -> None:
        # ≥4 ticks, then keep ticking (bounded) until one compaction
        # lands — on a loaded box a fixed 4 tries can miss every
        # window between slow writer publishes (observed full-suite
        # flake), which is scheduler noise, not a kernel property
        t = handle()
        for tick in range(12):
            if tick >= 4 and compacted:
                return
            try:
                pid = t.schedule_compaction()
                if pid:
                    scheduled.append(pid)
                    inst = t.run_compaction(pid)
                    if inst:
                        compacted.append(inst)
            except LockContention:
                pass  # a writer's publish window; next tick retries
            except Exception as exc:  # pragma: no cover
                errors.append(exc)
                return
            _time.sleep(0.3)

    def cleaner() -> None:
        t = handle()
        for _ in range(4):
            try:
                t.clean(retain_commits=4)
            except LockContention:
                pass
            except Exception as exc:  # pragma: no cover
                errors.append(exc)
                return
            _time.sleep(0.4)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    threads.append(threading.Thread(target=compactor))
    threads.append(threading.Thread(target=cleaner))
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
    assert not errors, errors
    assert not any(th.is_alive() for th in threads)

    reader = handle()
    snap = reader.snapshot()
    # every key carries the NEWEST version its writer landed
    final_ver = 2 + ROUNDS - 1
    assert snap.count() == n_total
    assert snap.filter(F.col("ver") == final_ver).count() == n_total
    # the compactor made real progress: deltas existed from the first
    # writer commit on, so at least one plan was pinned, and every
    # executed fold committed a "compact" action (MOR appends can
    # never stale a plan — nothing replaces base files but compaction)
    assert scheduled
    tl_actions = [reader.tl.manifest(i)["action"] for i in reader.timeline()]
    assert len(compacted) >= 1 and "compact" in tl_actions
    # no dangling inflight markers; a fresh reader replays the same state
    assert reader.tl.inflight_split() == (set(), set())
    fresh = handle().snapshot()
    assert fresh.filter(F.col("ver") == final_ver).count() == n_total


# ------------------------------------------------------- compaction strategy


def test_small_files_strategy_cow_pins_only_small(spark, tmp_path):
    """small_files on COW (Hudi CompactionStrategy analog): the plan
    pins exactly the files under the size limit — selected from the
    manifest's write-time byte stats, no stat storm — the fold squashes
    them, and the big file is untouched."""
    t = make_table(spark, tmp_path)
    t.write(cust(spark, ver=1), op="insert", instant="001")
    t.write(cust(spark, ver=1).limit(5), op="insert", instant="002")
    t.write(cust(spark, ver=1).limit(5), op="insert", instant="003")
    live = t.tl.live_files()
    assert all(isinstance(f.get("bytes"), int) for f in live)
    sizes = sorted(t._file_bytes(f) for f in live)
    big = max(sizes)
    small_paths = {f["path"] for f in live if t._file_bytes(f) < big}
    assert len(small_paths) >= 2

    pid = t.schedule_compaction(strategy="small_files",
                                small_file_limit_bytes=big)
    assert pid is not None
    import json as _json
    import os as _os

    plan = _json.load(open(_os.path.join(
        t.tl.commits_dir, "_compaction", pid + ".json")))
    assert plan["strategy"] == "small_files"
    assert set(plan["files"]) == small_paths  # the big file is NOT pinned

    n = t.snapshot().count()
    inst = t.run_compaction(pid)
    assert inst is not None
    after = t.tl.live_files()
    assert t.snapshot().count() == n  # data unchanged
    big_paths = {f["path"] for f in live if t._file_bytes(f) >= big}
    assert big_paths <= {f["path"] for f in after}  # big file survived
    assert len(after) < len(live)  # small files squashed


def test_small_files_strategy_mor_is_partition_granular(spark, tmp_path):
    """small_files on MOR pins WHOLE partitions (the tombstone-safety
    boundary): only the partition with a delta is selected, its
    tombstone does not resurrect the key after the fold, and untouched
    partitions' files are not pinned."""
    t = LakeTable(
        spark, str(tmp_path), "testdb", "sfm",
        record_keys=["c_custkey"], precombine="ver",
        partition_keys=["c_mktsegment"], table_type="MERGE_ON_READ",
    )
    t.write(cust(spark, ver=1), op="insert", instant="001")
    victim = cust(spark, ver=2).limit(1)
    seg = victim.collect()[0]["c_mktsegment"]
    key = victim.collect()[0]["c_custkey"]
    t.write(victim, op="delete", instant="002")

    pid = t.schedule_compaction(strategy="small_files",
                                small_file_limit_bytes=1)  # nothing is
    # "small": selection rides ONLY on the delta-bearing partition
    assert pid is not None
    import json as _json
    import os as _os

    plan = _json.load(open(_os.path.join(
        t.tl.commits_dir, "_compaction", pid + ".json")))
    pinned = [f for f in t.tl.live_files() if f["path"] in set(plan["files"])]
    assert pinned and all(
        f["partition_path"] == f"c_mktsegment={seg}" for f in pinned
    )
    # the WHOLE partition: its base file AND its tombstone delta
    kinds = {f.get("kind") for f in pinned}
    assert kinds == {"base", "delta"}

    n_before = t.snapshot().count()
    inst = t.run_compaction(pid)
    assert inst is not None
    snap = t.snapshot()
    assert snap.count() == n_before
    assert snap.filter(F.col("c_custkey") == key).count() == 0  # no
    # resurrection: the fold dropped the tombstone AND the old row
    # other partitions' files untouched
    untouched = {
        f["path"] for f in t.tl.live_files()
        if f["partition_path"] != f"c_mktsegment={seg}"
    }
    orig_untouched = {
        f["path"] for f in t.tl.manifest("001")["added"]
        if f["partition_path"] != f"c_mktsegment={seg}"
    }
    assert orig_untouched <= untouched


def test_small_files_strategy_guards(spark, tmp_path):
    t = LakeTable(
        spark, str(tmp_path), "testdb", "sfg",
        record_keys=["c_custkey"], precombine="ver",
        partition_keys=["c_mktsegment"], table_type="MERGE_ON_READ",
        global_index=True,
    )
    t.write(cust(spark, ver=1), op="insert", instant="001")
    with pytest.raises(ValueError, match="global-index"):
        t.schedule_compaction(strategy="small_files")
    with pytest.raises(ValueError, match="unknown compaction strategy"):
        t.schedule_compaction(strategy="biggest_first")
    # a selection that picks nothing schedules nothing
    cow = make_table(spark, tmp_path, name="sfg2")
    cow.write(cust(spark, ver=1), op="insert", instant="001")
    assert cow.schedule_compaction(
        strategy="small_files", small_file_limit_bytes=1
    ) is None


def test_async_clustering_through_schedule_run_split(spark, tmp_path):
    """r7 verdict #5: clustering intent rides the compaction PLAN.
    ``schedule_compaction(sort_spec=[{"zorder": ...}], target_files...)``
    pins a JSON-declarative z-order spec; a FRESH handle (cross-process
    shape) executes it with ``run_compaction(pid)`` and NO per-call
    arguments; a concurrent optimistic append lands mid-fold; the
    clustered layout must skip files on a 2-D predicate read AND the
    append must survive."""
    orders = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumn("ver", F.lit(1).cast("long"))
    )

    def handle():
        return LakeTable(
            spark, str(tmp_path), "testdb", "zcl",
            record_keys=["o_orderkey"], precombine="ver",
            stats_columns=["o_custkey", "o_orderkey"],
        )

    t = handle()
    for i in range(3):  # interleaved: every file spans the full range
        t.write(
            orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    lo_c, hi_c, lo_k, hi_k = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).collect()[0]
    pid = t.schedule_compaction(
        sort_spec=[{
            "zorder": {
                "cols": ["o_custkey", "o_orderkey"],
                "bits": 16,
                "ranges": [[int(lo_c), int(hi_c)], [int(lo_k), int(hi_k)]],
            }
        }],
        target_files_per_partition=8,
    )
    assert pid is not None
    # a bad spec fails at SCHEDULE time, not inside a daemon later
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.schedule_compaction(sort_spec=[{"nope": 1}])
    with _pytest.raises(ValueError):  # zorder geometry overflow
        t.schedule_compaction(
            sort_spec=[{"zorder": {"cols": ["a", "b"], "bits": 40}}]
        )

    # fresh handle: the spec must round-trip through the plan JSON
    t2 = handle()
    appended = orders.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    ).limit(20)
    orig = t2._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_append():
        if fired["n"] == 0:
            fired["n"] = 1
            fired["inst_b"] = handle().write_optimistic(
                appended, op="insert"
            )
        return orig()

    t2._writer_lock = lock_after_concurrent_append
    inst = t2.run_compaction(pid)  # no sort args: plan carries them
    assert inst is not None and fired["n"] == 1
    assert t2.pending_compactions() == []

    reader = handle()
    assert fired["inst_b"] in reader.timeline()  # append survived
    snap = reader.snapshot()
    assert snap.count() == orders.count() + 20
    # clustered layout: 2-D predicate read skips file(s), exact rows
    cut = int(hi_c) // 8
    out = reader.snapshot(predicate=[("o_custkey", "<=", cut)])
    expect = (
        orders.filter(F.col("o_custkey") <= cut).count()
        + appended.filter(F.col("o_custkey") <= cut).count()
    )
    assert out.count() == expect
    assert reader.last_scan.dropped > 0


def test_clustering_auto_ranges_from_manifest_stats(spark, tmp_path):
    """``sort_spec=[{"zorder": {..., "ranges": "auto"}}]`` resolves the
    Morton-curve bounds from the manifest's per-file column stats at
    schedule time — driver-side, no data job — and the executed plan
    still yields a skipping layout. A column without stats fails LOUDLY
    at schedule time (guessed ranges would silently mis-shape the
    curve)."""
    orders = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, str(tmp_path), "testdb", "zauto",
        record_keys=["o_orderkey"], precombine="ver",
        stats_columns=["o_custkey", "o_orderkey"],
    )
    for i in range(3):
        t.write(
            orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    pid = t.schedule_compaction(
        sort_spec=[{"zorder": {"cols": ["o_custkey", "o_orderkey"],
                               "bits": 16, "ranges": "auto"}}],
        target_files_per_partition=8,
    )
    assert pid is not None
    # the plan pins CONCRETE resolved ranges (exact manifest bounds)
    import json as _json
    import os as _os

    with open(
        _os.path.join(t.tl.commits_dir, "_compaction", pid + ".json")
    ) as fh:
        plan = _json.load(fh)
    lo_c, hi_c, lo_k, hi_k = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).collect()[0]
    assert plan["sort_spec"][0]["zorder"]["ranges"] == [
        [lo_c, hi_c], [lo_k, hi_k]
    ]
    assert t.run_compaction(pid) is not None
    cut = int(hi_c) // 8
    out = t.snapshot(predicate=[("o_custkey", "<=", cut)])
    assert out.count() == orders.filter(F.col("o_custkey") <= cut).count()
    assert t.last_scan.dropped > 0  # clustered layout skips
    # un-tracked column: loud schedule-time failure, not a daemon crash
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stats"):
        t.schedule_compaction(
            sort_spec=[{"zorder": {"cols": ["o_totalprice_missing"],
                                   "bits": 16, "ranges": "auto"}}]
        )


def test_record_index_read_prune_exact_and_mor_safe(spark, tmp_path):
    """Read-side record-index point-lookup pruning: an indexed table's
    key-equality read scans only the files the index maps the key to —
    EXACT (a no-hit file provably holds no operand key), sharded probe
    I/O, and unconditionally MOR-safe including tombstones and
    out-of-order deltas."""
    t = LakeTable(
        spark, str(tmp_path), "testdb", "rrp",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    base = cust(spark, ver=1)
    # 4 interleaved inserts: key-range stats are useless (full span)
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    assert [(r["c_custkey"], r["ver"]) for r in out.collect()] == [(8, 1)]
    assert t.last_scan["record_index"] == 3  # exactly one containing file
    # `in` across two files keeps both, prunes the other two
    out = t.snapshot(predicate=[("_record_key", "in", ("8", "9"))])
    assert sorted(r["c_custkey"] for r in out.collect()) == [8, 9]
    assert t.last_scan["record_index"] == 2
    # absent key: every file pruned, empty exact result
    out = t.snapshot(predicate=[("_record_key", "=", "no-such-key")])
    assert out.count() == 0
    assert t.last_scan["record_index"] == 4
    # sharded layout on disk: commit dirs hold shard=N subdirs
    import os as _os

    d = _os.path.join(t.index_dir, "001")
    assert any(x.startswith("shard=") for x in _os.listdir(d))

    # MOR: supersession + tombstone both live in indexed delta files
    m = LakeTable(
        spark, str(tmp_path), "testdb", "rrpm",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True, table_type="MERGE_ON_READ",
    )
    m.write(base, op="insert", instant="001")
    m.write(
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(3).cast("long")),
        op="upsert", instant="002",
    )
    m.write(
        base.filter(F.col("c_custkey") == 12).select("c_custkey", "ver"),
        op="delete", instant="003",
    )
    out = m.snapshot(predicate=[("_record_key", "=", "8")])
    assert [(r["c_custkey"], r["ver"]) for r in out.collect()] == [(8, 3)]
    assert m.last_scan["record_index"] >= 1
    out = m.snapshot(predicate=[("_record_key", "=", "12")])
    assert out.count() == 0  # tombstone delta kept by its index entry
    # full snapshot unaffected by any of this
    assert m.snapshot().count() == base.count() - 1


def test_record_index_read_prune_coverage_and_cleaner(spark, tmp_path):
    """Partial index coverage keeps every file (pre-index commits force
    the unpruned read); clean() reaps index dirs of instants with no
    surviving file and the probe still answers exactly afterwards."""
    plain = LakeTable(
        spark, str(tmp_path), "testdb", "rrc",
        record_keys=["c_custkey"], precombine="ver",
    )
    plain.write(
        cust(spark, ver=1).filter(F.col("c_custkey") % 2 == 0),
        op="insert", instant="001",
    )
    t = LakeTable(
        spark, str(tmp_path), "testdb", "rrc",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    t.write(
        cust(spark, ver=1).filter(F.col("c_custkey") % 2 == 1),
        op="insert", instant="002",
    )
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    assert [r["c_custkey"] for r in out.collect()] == [8]
    assert t.last_scan["record_index"] == 0  # 001 unindexed: keep all

    # fully-indexed table: upserts then clean() — dead instants' index
    # dirs are reaped, live mappings keep answering
    import os as _os

    u = LakeTable(
        spark, str(tmp_path), "testdb", "rrcu",
        record_keys=["c_custkey"], precombine="ver",
        record_index=True,
    )
    u.write(cust(spark, ver=1), op="upsert", instant="001")
    u.write(cust(spark, ver=2), op="upsert", instant="002")
    u.write(cust(spark, ver=3), op="upsert", instant="003")
    u.clean(retain_commits=1)
    assert sorted(_os.listdir(u.index_dir)) == ["003"]
    out = u.snapshot(predicate=[("_record_key", "=", "8")])
    assert [(r["c_custkey"], r["ver"]) for r in out.collect()] == [(8, 3)]


def test_record_index_shard_resize_probes_per_instant_modulus(
    spark, tmp_path
):
    """A table resized between commits mixes shard moduli across
    instant dirs; each dir's .nshards marker drives its own probe —
    probing instant A's dirs with instant B's modulus would falsely
    prune. Both vintages (and a marker-less dir) must answer exactly."""
    import os as _os

    base = cust(spark, ver=1)

    def handle(n):
        return LakeTable(
            spark, str(tmp_path), "testdb", "rsz",
            record_keys=["c_custkey"], precombine="ver",
            record_index=True, index_shards=n,
        )

    handle(4).write(
        base.filter(F.col("c_custkey") % 2 == 0).coalesce(1),
        op="insert", instant="001",
    )
    t = handle(16)  # resized: commit 002 shards under a new modulus
    t.write(
        base.filter(F.col("c_custkey") % 2 == 1).coalesce(1),
        op="insert", instant="002",
    )
    for inst, n in (("001", "4"), ("002", "16")):
        with open(_os.path.join(t.index_dir, inst, ".nshards")) as fh:
            assert fh.read() == n
    # keys from BOTH vintages resolve exactly, each pruning the other
    for k in ("8", "9"):
        out = t.snapshot(predicate=[("_record_key", "=", k)])
        assert [r["c_custkey"] for r in out.collect()] == [int(k)]
        assert t.last_scan["record_index"] == 1
    # marker-less sharded dir: unpruned-but-exact fallback
    _os.remove(_os.path.join(t.index_dir, "001", ".nshards"))
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    assert [r["c_custkey"] for r in out.collect()] == [8]


def test_partial_update_payload_column_inheritance(spark, tmp_path):
    """payload='partial_update' (Hudi PartialUpdateAvroPayload analog):
    per column the newest non-null version wins, so sparse column
    patches inherit stored values; the default payload is unchanged;
    deletes reset history. (MOR accepts the payload since r9 — the MOR
    matrix is test_partial_update_mor_matrix.)"""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="payload"):
        LakeTable(
            spark, str(tmp_path), "testdb", "puy",
            record_keys=["c_custkey"], precombine="ver",
            payload="nope",
        )

    t = LakeTable(
        spark, str(tmp_path), "testdb", "pu",
        record_keys=["c_custkey"], precombine="ver",
        payload="partial_update",
    )
    base = cust(spark, ver=1)
    t.write(base, op="insert", instant="001")
    # sparse patch: new balance, NULL name (inherit), ver=2
    patch = (
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.lit(999.5))
        .withColumn("c_name", F.lit(None).cast("string"))
    )
    t.write(patch, op="upsert", instant="002")
    row = t.snapshot().filter(F.col("c_custkey") == 8).collect()[0]
    orig = base.filter(F.col("c_custkey") == 8).collect()[0]
    assert row["c_acctbal"] == 999.5        # patched
    assert row["c_name"] == orig["c_name"]  # inherited from ver 1
    assert row["ver"] == 2                  # winner's precombine
    # out-of-order patch: older ver with a non-null name variant loses
    # per-column to the NEWER non-null... (newest non-null wins)
    late = (
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(1).cast("long"))
        .withColumn("c_name", F.lit("stale-name"))
        .withColumn("c_acctbal", F.lit(None).cast("double"))
    )
    t.write(late, op="upsert", instant="003")
    row = t.snapshot().filter(F.col("c_custkey") == 8).collect()[0]
    assert row["c_acctbal"] == 999.5  # ver-2 non-null beats ver-1
    assert row["ver"] == 2            # overall winner unchanged
    # COW materializes the merged row, so the stored ver-2 row already
    # CARRIES the inherited non-null name — the late ver-1 patch loses
    # the per-column order to it ("newest non-null wins" composes
    # across commits through materialization)
    assert row["c_name"] == orig["c_name"]
    # delete resets history: re-insert starts fresh, nothing inherited
    t.write(
        base.filter(F.col("c_custkey") == 8).select("c_custkey", "ver"),
        op="delete", instant="004",
    )
    fresh = (
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(5).cast("long"))
        .withColumn("c_name", F.lit(None).cast("string"))
    )
    t.write(fresh, op="upsert", instant="005")
    row = t.snapshot().filter(F.col("c_custkey") == 8).collect()[0]
    assert row["c_name"] is None  # tombstone wiped the inheritance
    assert row["ver"] == 5
    # untouched keys identical to the default-payload table end state
    assert t.snapshot().count() == base.count()


def test_type_widening_schema_evolution(spark, tmp_path):
    """A batch column arriving WIDER than the stored primitive widens
    the table schema in place (int→long, float→double) — metadata-only
    (old narrow parquet serves under the widened schema at scan), with
    values a down-cast would have destroyed (or ANSI-thrown on)
    surviving intact. Narrower batches still cast UP to the stored
    type; time travel to a pre-widening instant keeps the old schema."""
    t = LakeTable(
        spark, str(tmp_path), "testdb", "widen",
        record_keys=["k"], precombine="ver",
    )
    b1 = spark.createDataFrame(
        [(1, 10, 1.5, 1), (2, 20, 2.5, 1)],
        "k int, n int, x float, ver long",
    )
    t.write(b1, op="insert", instant="001")
    assert dict(t.snapshot().dtypes)["n"] == "int"
    big = 2**40  # does not fit int32: the down-cast this feature kills
    b2 = spark.createDataFrame(
        [(2, big, 9.25, 2), (3, big + 1, 3.5, 2)],
        "k int, n long, x double, ver long",
    )
    t.write(b2, op="upsert", instant="002")
    snap = t.snapshot()
    assert dict(snap.dtypes)["n"] == "bigint"
    assert dict(snap.dtypes)["x"] == "double"
    rows = {r["k"]: (r["n"], r["x"], r["ver"]) for r in snap.collect()}
    assert rows[1] == (10, 1.5, 1)          # old narrow file intact
    assert rows[2] == (big, 9.25, 2)        # merged winner, wide value
    assert rows[3] == (big + 1, 3.5, 2)     # insert with wide value
    # manifest records the widened schema
    import json as _json

    m = t.tl.manifest("002")
    names = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    assert names["n"] == "long" and names["x"] == "double"
    # a narrower batch after widening casts UP, never narrows back
    b3 = spark.createDataFrame([(4, 40, 4.5, 3)], "k int, n int, x float, ver long")
    t.write(b3, op="upsert", instant="003")
    assert dict(t.snapshot().dtypes)["n"] == "bigint"
    assert t.snapshot().count() == 4
    # time travel: the pre-widening view keeps the narrow schema
    old = t.snapshot(as_of="001")
    assert dict(old.dtypes)["n"] == "int"
    assert old.count() == 2
    # incremental read over the widening commit returns wide values
    inc = t.incremental("001", "002")
    assert dict(inc.dtypes)["n"] == "bigint"
    assert {r["k"] for r in inc.collect()} == {2, 3}


def test_partial_update_mor_matrix(spark, tmp_path):
    """payload='partial_update' on MERGE_ON_READ (r8 verdict #6): the
    read/compact-time fold must produce END STATES IDENTICAL to the
    COW write-time fold for the same write sequence — including the
    out-of-order-patch case, where eligibility is the running max of
    the precombine in commit order (Hudi's log-merge order), and the
    delete case, where the tombstone filter precedes the fold so
    nothing inherits through a delete. Compaction mid-stream
    materializes the fold and later patches compose against it."""
    seq = [
        # (instant, op, build): the shared write program
        ("001", "insert", lambda b: b),
        ("002", "upsert", lambda b: (  # sparse patch: bal set, name null
            b.filter(F.col("c_custkey") == 8)
            .withColumn("ver", F.lit(2).cast("long"))
            .withColumn("c_acctbal", F.lit(999.5))
            .withColumn("c_name", F.lit(None).cast("string"))
        )),
        ("003", "upsert", lambda b: (  # out-of-order: older ver patch
            b.filter(F.col("c_custkey") == 8)
            .withColumn("ver", F.lit(1).cast("long"))
            .withColumn("c_name", F.lit("stale-name"))
            .withColumn("c_acctbal", F.lit(None).cast("double"))
        )),
    ]
    base = cust(spark, ver=1)
    ends = {}
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = LakeTable(
            spark, str(tmp_path), "testdb", f"pum_{tt[:3].lower()}",
            record_keys=["c_custkey"], precombine="ver",
            table_type=tt, payload="partial_update",
        )
        for inst, op, build in seq:
            t.write(build(base), op=op, instant=inst)
        row = t.snapshot().filter(F.col("c_custkey") == 8).collect()[0]
        ends[tt] = (row["c_name"], row["c_acctbal"], row["ver"])
        assert t.snapshot().count() == base.count()
    orig_name = base.filter(F.col("c_custkey") == 8).collect()[0]["c_name"]
    # COW materialization re-attributes the inherited name to ver 2, so
    # the late ver-1 "stale-name" loses; MOR must agree READ-TIME
    assert ends["COPY_ON_WRITE"] == (orig_name, 999.5, 2)
    assert ends["MERGE_ON_READ"] == ends["COPY_ON_WRITE"]

    # MOR continuation: compact (materializes the fold), patch again,
    # delete, re-insert — inheritance resets at the tombstone
    t = LakeTable(
        spark, str(tmp_path), "testdb", "pum_mer",
        record_keys=["c_custkey"], precombine="ver",
        table_type="MERGE_ON_READ", payload="partial_update",
    )
    t.compact(instant="004")
    row = t.snapshot().filter(F.col("c_custkey") == 8).collect()[0]
    assert (row["c_name"], row["c_acctbal"], row["ver"]) == (
        orig_name, 999.5, 2,
    )
    # read-optimized view (base files only) serves the compacted fold
    ro = t.read_optimized().filter(F.col("c_custkey") == 8).collect()[0]
    assert (ro["c_name"], ro["c_acctbal"]) == (orig_name, 999.5)
    t.write(  # post-compact sparse patch folds against materialized row
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(3).cast("long"))
        .withColumn("c_acctbal", F.lit(111.25))
        .withColumn("c_name", F.lit(None).cast("string")),
        op="upsert", instant="005",
    )
    row = t.snapshot().filter(F.col("c_custkey") == 8).collect()[0]
    assert (row["c_name"], row["c_acctbal"], row["ver"]) == (
        orig_name, 111.25, 3,
    )
    t.write(
        base.filter(F.col("c_custkey") == 8).select("c_custkey", "ver"),
        op="delete", instant="006",
    )
    assert t.snapshot().filter(F.col("c_custkey") == 8).count() == 0
    t.write(
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(9).cast("long"))
        .withColumn("c_name", F.lit(None).cast("string")),
        op="upsert", instant="007",
    )
    row = t.snapshot().filter(F.col("c_custkey") == 8).collect()[0]
    assert row["c_name"] is None  # tombstone wiped the inheritance
    assert row["c_acctbal"] is not None  # re-insert's own non-null value
    assert row["ver"] == 9


def test_partial_update_mor_fold_matches_sequential_model(spark, tmp_path):
    """Property pin for the MOR partial-update fold: against randomized
    version histories (out-of-order precombines, sparse null patches,
    same-commit multi-key batches), the fold in ``_merged_read`` must
    equal an INDEPENDENT pure-Python sequential model of COW
    materialization — process versions in (commit, precombine) order;
    a version OVERWRITES a column iff its precombine ties-or-beats the
    running row max and the value is non-null, and FILLS a still-null
    column with any non-null value regardless of staleness (Hudi's
    PartialUpdateAvroPayload takes the losing record's field when the
    winner's is null — the fill leg the pre-r11 fold missed); the
    row's precombine becomes the running max. Seeded random (not
    hypothesis) so the suite stays deterministic and fast."""
    import random

    from emr_hudi_example_spark.lake.table import (
        COMMIT_TIME_COL, PARTITION_PATH_COL, RECORD_KEY_COL,
    )

    t = LakeTable(
        spark, str(tmp_path), "testdb", "pufold",
        record_keys=["k"], precombine="ver",
        table_type="MERGE_ON_READ", payload="partial_update",
    )
    rng = random.Random(20260815)
    for example in range(8):
        keys = [f"k{i}" for i in range(rng.randint(1, 4))]
        rows = []
        for ct in [f"{c:03d}" for c in range(1, rng.randint(3, 7))]:
            for k in rng.sample(keys, rng.randint(1, len(keys))):
                rows.append(
                    {
                        COMMIT_TIME_COL: ct,
                        RECORD_KEY_COL: k,
                        PARTITION_PATH_COL: "",
                        "k": k,
                        "ver": rng.randint(1, 4),
                        "a": rng.choice([None, rng.randint(0, 9)]),
                        "b": rng.choice([None, rng.randint(0, 9)]),
                    }
                )
        # reference: sequential COW-materialization fold per key
        expected = {}
        for r in sorted(
            rows, key=lambda r: (r[COMMIT_TIME_COL], r["ver"])
        ):
            st = expected.get(r["k"])
            if st is None:
                expected[r["k"]] = dict(r)
                continue
            if r["ver"] >= st["ver"]:  # ties -> newer version wins
                for c in ("a", "b"):
                    if r[c] is not None:
                        st[c] = r[c]
                st["ver"] = r["ver"]
            else:
                # stale patch: fills still-null columns, never
                # overwrites (the COW fold's max_by sees no stored
                # candidate for a null column, so any non-null wins)
                for c in ("a", "b"):
                    if st[c] is None and r[c] is not None:
                        st[c] = r[c]
        df = spark.createDataFrame(
            [
                (
                    r[COMMIT_TIME_COL], r["k"], r[PARTITION_PATH_COL],
                    r["k"], r["ver"], r["a"], r["b"],
                )
                for r in rows
            ],
            f"{COMMIT_TIME_COL} string, {RECORD_KEY_COL} string, "
            f"{PARTITION_PATH_COL} string, k string, ver long, "
            "a long, b long",
        )
        got = {
            r["k"]: (r["ver"], r["a"], r["b"])
            for r in t._merged_read(df).collect()
        }
        want = {
            k: (st["ver"], st["a"], st["b"]) for k, st in expected.items()
        }
        assert got == want, (example, rows, got, want)


def test_type_widening_mor_compaction(spark, tmp_path):
    """Type widening mid-stream on MERGE_ON_READ (r8 verdict #6): a
    delta commit arriving with a wider column type widens the stored
    schema while narrow base/delta parquet keeps serving (scan-time
    upcast); compaction then folds mixed-width files into wide base
    files; post-compact reads, read-optimized reads, and further
    narrow batches all see the widened schema with values intact."""
    t = LakeTable(
        spark, str(tmp_path), "testdb", "widen_mor",
        record_keys=["k"], precombine="ver",
        table_type="MERGE_ON_READ",
    )
    b1 = spark.createDataFrame(
        [(1, 10, 1.5, 1), (2, 20, 2.5, 1)],
        "k int, n int, x float, ver long",
    )
    t.write(b1, op="insert", instant="001")
    big = 2**40
    b2 = spark.createDataFrame(  # widening DELTA commit (MOR append)
        [(2, big, 9.25, 2), (3, big + 1, 3.5, 2)],
        "k int, n long, x double, ver long",
    )
    t.write(b2, op="upsert", instant="002")
    snap = t.snapshot()
    assert dict(snap.dtypes)["n"] == "bigint"
    assert dict(snap.dtypes)["x"] == "double"
    rows = {r["k"]: (r["n"], r["x"], r["ver"]) for r in snap.collect()}
    assert rows == {
        1: (10, 1.5, 1), 2: (big, 9.25, 2), 3: (big + 1, 3.5, 2),
    }
    # compaction folds the narrow base + wide delta into wide bases
    t.compact(instant="003")
    assert not any(
        f.get("kind") == "delta" for f in t.tl.live_files()
    )
    snap = t.snapshot()
    assert dict(snap.dtypes)["n"] == "bigint"
    assert {
        r["k"]: (r["n"], r["x"], r["ver"]) for r in snap.collect()
    } == rows
    ro = t.read_optimized()
    assert dict(ro.dtypes)["n"] == "bigint"
    assert ro.count() == 3
    # a narrower post-compact delta casts UP, never narrows back
    b3 = spark.createDataFrame([(4, 40, 4.5, 3)], "k int, n int, x float, ver long")
    t.write(b3, op="upsert", instant="004")
    assert dict(t.snapshot().dtypes)["n"] == "bigint"
    assert t.snapshot().count() == 4


def test_concurrent_index_builds_all_land_and_probe(spark, tmp_path):
    """A table with ALL THREE index kinds enabled exercises the
    thread-parallel sidecar-build path in ``_write_manifest`` (the
    builders are submitted concurrently when more than one applies):
    every commit must land its record-index shards, key bloom, AND
    column blooms, and each index must still prune/probe correctly."""
    t = LakeTable(
        spark,
        str(tmp_path),
        "testdb",
        "t_allidx",
        record_keys=["c_custkey"],
        precombine="ver",
        record_index=True,
        index_shards=8,
        bloom_index=True,
        bloom_columns=["c_name"],
    )
    t.write(cust(spark), op="insert", instant="001")
    t.write(
        cust(spark, ver=2).filter(F.col("c_custkey") <= 5),
        op="upsert",
        instant="002",
    )
    for inst in ("001", "002"):
        assert os.path.isdir(os.path.join(t.index_dir, inst))
        assert os.path.exists(os.path.join(t.bloom_dir, inst + ".json"))
        assert os.path.exists(os.path.join(t.col_bloom_dir, inst + ".json"))
    live = t.tl.live_files()
    assert all(
        f.get("indexed") and f.get("bloom") and f.get("col_bloom")
        for f in live
    )
    # snapshot correctness: 1500 distinct keys, upserted rows at ver=2
    snap = t.snapshot()
    assert snap.count() == cust(spark).count()
    assert (
        snap.filter(F.col("c_custkey") <= 5)
        .agg(F.min("ver"), F.max("ver"))
        .collect()[0][:]
        == (2, 2)
    )
    # a point read under all three indexes returns the merged row
    one = snap.filter(F.col("c_custkey") == 3).collect()
    assert len(one) == 1 and one[0]["ver"] == 2


def _pstats_table(spark, tmp, name, **kw):
    return LakeTable(
        spark, str(tmp), "testdb", name,
        record_keys=["k"], precombine="ver",
        partition_keys=["p"], stats_columns=["price"], **kw,
    )


def _pstats_rows(spark, rows):
    return spark.createDataFrame(
        rows, "k STRING, p STRING, price DOUBLE, ver LONG"
    )


def test_partition_stats_index_prunes_whole_partitions(spark, tmp_path):
    """The per-partition aggregate of file stats (the engine's analog
    of Hudi 1.0's partition_stats metadata index) wholesale-prunes a
    partition whose aggregate range disproves the predicate — every
    file in it skips without a per-file stats/bloom probe — and the
    result equals the exact row filter. Repeat reads at the same
    instant hit the per-instant aggregate cache."""
    t = _pstats_table(spark, tmp_path, "pstats1")
    a = _pstats_rows(
        spark, [(f"a{i}", "A", 10.0 + i, 1) for i in range(20)]
    ).repartition(3)
    b = _pstats_rows(
        spark, [(f"b{i}", "B", 1000.0 + i, 1) for i in range(20)]
    ).repartition(3)
    t.write(a.unionByName(b), op="insert", instant="001")
    t.write(
        _pstats_rows(spark, [("a99", "A", 50.0, 1), ("b99", "B", 1050.0, 1)]),
        op="insert",
        instant="002",
    )
    n_a_files = len(
        [f for f in t.tl.live_files() if f["partition"] == {"p": "A"}]
    )
    assert n_a_files >= 2  # the point: MANY files die with one check
    got = t.snapshot(predicate=[("price", ">=", 1000.0)])
    assert t.last_scan.partitions_pruned == 1  # partition A, wholesale
    assert t.last_scan.dropped == n_a_files
    assert got.count() == 21
    assert {r["p"] for r in got.collect()} == {"B"}
    assert "002" in t._pstats_cache  # aggregate cached per instant
    # cached plan, same verdicts
    again = t.snapshot(predicate=[("price", ">=", 1000.0)])
    assert t.last_scan.partitions_pruned == 1 and again.count() == 21


def test_partition_stats_statless_file_vetoes_wholesale_prune(spark, tmp_path):
    """A file with no usable stats for the predicate column (all-NULL
    price: parquet footers record no min/max) would survive the
    per-file check, so its PARTITION must never wholesale-fail — the
    aggregate drops the column and the partition stays; per-file
    pruning still skips the provably-dead files and results stay
    exact (NULL never satisfies a comparison)."""
    t = _pstats_table(spark, tmp_path, "pstats2")
    t.write(
        _pstats_rows(spark, [(f"a{i}", "A", 10.0 + i, 1) for i in range(5)])
        .coalesce(1),
        op="insert",
        instant="001",
    )
    t.write(
        _pstats_rows(spark, [("anull", "A", None, 1)]).coalesce(1),
        op="insert",
        instant="002",
    )
    got = t.snapshot(predicate=[("price", ">=", 1000.0)])
    assert t.last_scan.partitions_pruned == 0  # stat-less file vetoed it
    assert t.last_scan.dropped == 1  # the 001 file still dies per-file
    assert got.count() == 0
    agg = t._partition_stats_at("002", t.timeline())["p=A"]
    assert "price" not in agg.get("col_stats", {})


def test_partition_stats_mor_dead_partition_keeps_merge_exact(spark, tmp_path):
    """MOR: a wholesale-dead partition marks only BASE files as skip
    candidates — deltas are retained before the partition check runs,
    and key-overlapping bases are rescued by the key-disjointness rule
    — so the merge stays exact even when the whole partition fails."""
    t = _pstats_table(
        spark, tmp_path, "pstats3", table_type="MERGE_ON_READ"
    )
    t.write(
        _pstats_rows(spark, [(f"a{i}", "A", 5.0, 1) for i in range(5)]
                     + [(f"b{i}", "B", 999999.0, 1) for i in range(5)])
        .coalesce(1),
        op="insert",
        instant="001",
    )
    # delta rewrites a0 within partition A, still failing the predicate
    t.write(
        _pstats_rows(spark, [("a0", "A", 7.0, 2)]).coalesce(1),
        op="upsert",
        instant="002",
    )
    got = t.snapshot(predicate=[("price", "=", 999999.0)])
    assert t.last_scan.partitions_pruned == 1  # A: agg [5..7] disproves =
    assert got.count() == 5 and {r["p"] for r in got.collect()} == {"B"}
    # and the merged view (no predicate) still reflects the delta
    assert t.snapshot().filter(F.col("k") == "a0").collect()[0]["ver"] == 2


def test_partition_stats_as_of_keys_cache_per_instant(spark, tmp_path):
    """Time-travel predicate reads resolve the partition aggregates AT
    the as-of instant: a partition dead historically can be alive at
    the latest view, and both reads are exact."""
    t = _pstats_table(spark, tmp_path, "pstats4")
    t.write(
        _pstats_rows(spark, [(f"a{i}", "A", 10.0, 1) for i in range(3)]
                     + [(f"b{i}", "B", 2000.0, 1) for i in range(3)])
        .coalesce(1),
        op="insert",
        instant="001",
    )
    t.write(  # COW rewrite moves partition A's range above the bar
        _pstats_rows(spark, [("a0", "A", 5000.0, 2)]).coalesce(1),
        op="upsert",
        instant="002",
    )
    pred = [("price", ">=", 1000.0)]
    old = t.snapshot(predicate=pred, as_of="001")
    assert t.last_scan.partitions_pruned == 1  # A dead as of 001
    assert old.count() == 3 and {r["p"] for r in old.collect()} == {"B"}
    new = t.snapshot(predicate=pred)
    assert t.last_scan.partitions_pruned == 0  # A alive now (5000.0)
    assert new.count() == 4
    assert {"001", "002"} <= set(t._pstats_cache)


def test_stats_prune_date_only_operand_midnight_boundary(spark, tmp_path):
    """A date-only predicate operand against TIMESTAMP stats coerces to
    MIDNIGHT in the row filter, but the bare date string sorts BEFORE
    '<date> 00:00:00' — without normalization a file whose min is
    exactly midnight of the upper-bound day would be pruned while the
    filter keeps its rows (silent missing rows)."""
    import datetime as dt

    t = LakeTable(
        spark, str(tmp_path), "testdb", "dateonly",
        record_keys=["k"], precombine="ver", stats_columns=["ts"],
    )
    rows = spark.createDataFrame(
        [("x1", dt.datetime(1997, 9, 30, 0, 0, 0), 1),
         ("x2", dt.datetime(1997, 10, 2, 0, 0, 0), 1)],
        "k STRING, ts TIMESTAMP_NTZ, ver LONG",
    ).coalesce(1)
    early = spark.createDataFrame(
        [("y1", dt.datetime(1995, 1, 1, 0, 0, 0), 1)],
        "k STRING, ts TIMESTAMP_NTZ, ver LONG",
    ).coalesce(1)
    t.write(rows, op="insert", instant="001")
    t.write(early, op="insert", instant="002")
    got = t.snapshot(
        predicate=[("ts", "between", ("1997-03-01", "1997-09-30"))]
    )
    # row filter keeps the exact-midnight 09-30 row: its file must
    # survive pruning (upper bound normalizes to '1997-09-30 00:00:00')
    assert [r["k"] for r in got.collect()] == ["x1"]
    assert t.last_scan.dropped == 1  # the 1995 file still prunes
    # single-sided ops get the same normalization
    ge = t.snapshot(predicate=[("ts", ">=", "1997-10-02")])
    assert [r["k"] for r in ge.collect()] == ["x2"]


def test_bulk_insert_global_sort_disjoint_key_ranges(spark, tmp_path):
    """GLOBAL_SORT bulk insert range-shuffles on the record key: every
    output file owns a disjoint key range, so a point read scans
    exactly ONE file via manifest key-range pruning alone."""
    t = make_table(spark, tmp_path)
    t.write(
        cust(spark), op="bulk_insert", instant="001",
        sort_mode="GLOBAL_SORT", sort_files=6,
    )
    files = t.tl.live_files()
    assert len(files) >= 4
    ranges = sorted((f["key_min"], f["key_max"]) for f in files)
    assert all(r[0] is not None and r[1] >= r[0] for r in ranges)
    for (_l1, h1), (l2, _h2) in zip(ranges, ranges[1:]):
        assert h1 <= l2  # disjoint in record-key (string) order
    assert t.snapshot().count() == cust(spark).count()
    got = t.snapshot(predicate=[("_record_key", "=", "75")])
    assert got.count() == 1 and got.collect()[0]["c_custkey"] == 75
    assert t.last_scan.dropped == len(files) - 1  # ONE file scanned


def test_bulk_insert_partition_sort_and_validation(spark, tmp_path):
    """PARTITION_SORT orders within tasks without a shuffle and
    preserves content; sort_mode outside bulk_insert (or an unknown
    mode) fails fast."""
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"])
    t.write(
        cust(spark).repartition(4), op="bulk_insert", instant="001",
        sort_mode="PARTITION_SORT",
    )
    assert t.snapshot().count() == cust(spark).count()
    with pytest.raises(ValueError, match="only to bulk_insert"):
        t.write(cust(spark, ver=2), op="upsert", sort_mode="GLOBAL_SORT")
    with pytest.raises(ValueError, match="unknown sort_mode"):
        t.write(cust(spark, ver=2), op="bulk_insert", sort_mode="ZORDER")


def test_bulk_insert_global_sort_partitioned(spark, tmp_path):
    """Partitioned GLOBAL_SORT leads the sort key with the partition
    path: files in each partition dir still carry tight disjoint key
    ranges, and later upserts plan against them normally."""
    t = make_table(spark, tmp_path, partition_keys=["c_mktsegment"])
    t.write(
        cust(spark), op="bulk_insert", instant="001",
        sort_mode="GLOBAL_SORT", sort_files=10,
    )
    by_pp: dict = {}
    for f in t.tl.live_files():
        by_pp.setdefault(f["partition_path"], []).append(
            (f["key_min"], f["key_max"])
        )
    overlaps = 0
    for rs in by_pp.values():
        rs.sort()
        for (_l1, h1), (l2, _h2) in zip(rs, rs[1:]):
            if h1 > l2:
                overlaps += 1
    assert overlaps == 0  # disjoint within every partition dir
    # the sorted layout composes with normal upserts
    t.write(
        cust(spark, ver=2).filter(F.col("c_custkey") <= 5),
        op="upsert", instant="002",
    )
    assert t.snapshot().filter(F.col("c_custkey") <= 5).agg(
        F.min("ver")
    ).collect()[0][0] == 2


def test_functional_index_year_and_date_pruning(spark, tmp_path):
    """``year(col)`` / ``date(col)`` predicates prune on the TRANSFORM
    of the stored column stats (monotone ⇒ exact bounds, zero
    write-side cost — the Hudi 1.0 functional-index capability) and
    the row filter applies the same expression, so results are exact."""
    import datetime as dt

    t = LakeTable(
        spark, str(tmp_path), "testdb", "fnidx",
        record_keys=["k"], precombine="ver", stats_columns=["ts"],
    )
    def batch(year, tag):
        return spark.createDataFrame(
            [(f"{tag}{i}", dt.datetime(year, 3 + i, 15, 12, 30), 1)
             for i in range(3)],
            "k STRING, ts TIMESTAMP_NTZ, ver LONG",
        ).coalesce(1)
    t.write(batch(1995, "a"), op="insert", instant="001")
    t.write(batch(1997, "b"), op="insert", instant="002")
    t.write(batch(1999, "c"), op="insert", instant="003")

    got = t.snapshot(predicate=[("year(ts)", "=", 1997)])
    assert t.last_scan.dropped == 2
    assert sorted(r["k"] for r in got.collect()) == ["b0", "b1", "b2"]

    got = t.snapshot(
        predicate=[("date(ts)", "between", ("1999-04-01", "1999-12-31"))]
    )
    assert t.last_scan.dropped == 2
    assert sorted(r["k"] for r in got.collect()) == ["c1", "c2"]

    # >= / < shapes work through the transform too
    got = t.snapshot(predicate=[("year(ts)", ">=", 1999)])
    assert t.last_scan.dropped == 2
    assert {r["k"][0] for r in got.collect()} == {"c"}


def test_functional_index_statless_and_partition_stats(spark, tmp_path):
    """A file without stats for the inner column never prunes on the
    functional predicate, and the partition-stats index composes: a
    whole partition wholesale-prunes on ``year(col)``."""
    import datetime as dt

    t = LakeTable(
        spark, str(tmp_path), "testdb", "fnidx2",
        record_keys=["k"], precombine="ver",
        partition_keys=["p"], stats_columns=["ts"],
    )
    def pbatch(year, p, tag, n=2):
        return spark.createDataFrame(
            [(f"{tag}{i}", p, dt.datetime(year, 5, 1 + i), 1)
             for i in range(n)],
            "k STRING, p STRING, ts TIMESTAMP_NTZ, ver LONG",
        )
    t.write(
        pbatch(1995, "old", "a").repartition(2)
        .unionByName(pbatch(1999, "new", "b").repartition(2)),
        op="insert", instant="001",
    )
    got = t.snapshot(predicate=[("year(ts)", "=", 1999)])
    assert t.last_scan.partitions_pruned == 1  # p=old dies wholesale
    assert {r["k"][0] for r in got.collect()} == {"b"}
    # stat-less inner column (all-NULL ts) vetoes pruning, rows exact
    t.write(
        spark.createDataFrame(
            [("x0", "old", None, 1)],
            "k STRING, p STRING, ts TIMESTAMP_NTZ, ver LONG",
        ).coalesce(1),
        op="insert", instant="002",
    )
    got = t.snapshot(predicate=[("year(ts)", "=", 1999)])
    assert t.last_scan.partitions_pruned == 0
    assert {r["k"][0] for r in got.collect()} == {"b"}


@pytest.mark.parametrize(
    "tt,kw,spark_route",
    [
        ("COPY_ON_WRITE", {}, False),
        ("MERGE_ON_READ", {}, False),
        ("MERGE_ON_READ", {"bucket_index": 4}, False),
        ("COPY_ON_WRITE", {"partition_keys": ["c_mktsegment"]}, False),
        ("MERGE_ON_READ", {"partition_keys": ["c_mktsegment"]}, False),
        # the unpartitioned tables off the in-driver kernel: a MOR
        # delta write of one 0-row file, a COW rewrite of one live file
        ("COPY_ON_WRITE", {}, True),
        ("MERGE_ON_READ", {}, True),
    ],
    ids=[
        "COPY_ON_WRITE-kw0", "MERGE_ON_READ-kw1", "MERGE_ON_READ-kw2",
        "COPY_ON_WRITE-partitioned", "MERGE_ON_READ-partitioned",
        "COPY_ON_WRITE-spark", "MERGE_ON_READ-spark",
    ],
)
def test_empty_upsert_publishes_nothing(
    spark, tmp_path, monkeypatch, tt, kw, spark_route
):
    """An empty upsert on an existing table returns None, leaves the
    timeline unchanged and leaves no ``data/<inst>/`` directory; the
    next non-empty upsert lands exactly. A creating commit and a
    checkpointed write still publish when empty (the table must come
    into being; the cursor must land). The kernel routes see the empty
    batch in their collect; the Spark routes (partitioned, bucket, or
    the kernel shut) in the footers of the files they wrote. On the
    forced COW route the table is one live file: the empty batch
    touches no key, so it rewrites none of the file's rows, and a 2-key
    upsert still takes 3 jobs, its key check filling the batch's
    cache."""
    from emr_hudi_example_spark.lake import fold

    if spark_route:
        monkeypatch.setattr(fold, "serves", lambda *a, **k: False)
    written = []
    describe = LakeTable._describe_data_files

    def spy(self, out_dir, kind):
        added = describe(self, out_dir, kind)
        written.extend(f["rows"] for f in added)
        return added

    monkeypatch.setattr(LakeTable, "_describe_data_files", spy)
    t = make_table(spark, tmp_path, table_type=tt, **kw)
    n = cust(spark).count()
    empty = cust(spark, ver=2).filter("c_custkey < 0")
    assert t.write(empty, op="upsert", instant="000") == "000"
    t.write(cust(spark), op="upsert", instant="001")
    written.clear()
    assert t.write(empty, op="upsert", instant="002") is None
    assert t.timeline() == ["000", "001"]
    assert not os.path.exists(os.path.join(t.data_dir, "002"))
    assert sum(written) == 0

    upd = cust(spark, ver=3).filter(F.col("c_custkey").isin(1, 2))
    if spark_route and tt == "COPY_ON_WRITE":
        assert len(t.tl.live_files()) == 1
        jobs, inst = count_jobs(
            spark, lambda: t.write(upd, op="upsert", instant="003")
        )
        assert inst == "003" and jobs <= 3
    else:
        assert t.write(upd, op="upsert", instant="003") == "003"
    assert t.timeline() == ["000", "001", "003"]
    snap = t.snapshot()
    assert snap.count() == n
    assert sorted(
        r["c_custkey"] for r in snap.filter("ver = 3").collect()
    ) == [1, 2]

    ckpt = {"source_id": "src", "batch_id": 7}
    assert t.write(empty, op="upsert", instant="004", checkpoint=ckpt) == "004"
    assert t.timeline()[-1] == "004"
    assert t.last_checkpoint("src") == 7
    assert t.snapshot().count() == n

    # the optimistic route runs the same compute step: no commit either
    written.clear()
    assert t.write_optimistic(empty, op="upsert", instant="005") is None
    assert t.timeline()[-1] == "004"
    assert not os.path.exists(os.path.join(t.data_dir, "005"))
    assert sum(written) == 0
    assert t.write_optimistic(upd, op="upsert", instant="006") == "006"
    assert t.snapshot().count() == n


@pytest.mark.parametrize("tt", ["COPY_ON_WRITE", "MERGE_ON_READ"])
@pytest.mark.parametrize(
    "route",
    [
        f"{api}-{op}"
        for api in ("write", "write_optimistic")
        for op in ("insert", "upsert", "delete")
    ]
    + ["merge_into"],
)
def test_write_routes_leave_cache_empty(spark, tmp_path, tt, route):
    """Every write route unpersists what it persisted: after the call
    the session's cache holds nothing."""
    t = make_table(
        spark, tmp_path, table_type=tt, partition_keys=["c_mktsegment"]
    )
    t.write(cust(spark), op="upsert", instant="001")
    batch = cust(spark, ver=2).filter("c_custkey % 7 = 0")
    spark.catalog.clearCache()
    if route == "merge_into":
        t.merge_into(
            batch,
            update_set={"ver": "s.ver"},
            delete_condition="s.c_custkey % 2 = 0",
        )
    else:
        api, op = route.split("-")
        getattr(t, api)(batch, op=op)
    assert len(t.timeline()) == 2
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()


def _has_join(df) -> bool:
    return LakeTable._plan_has_node(
        df._jdf.queryExecution().analyzed(), ("Join",)
    )


def test_mor_tombstone_gate(spark, tmp_path, monkeypatch):
    """The MOR read merge plans its tombstone join only when a scanned
    file may hold a tombstone. Upsert-only: no Join in the snapshot or
    incremental plan. After a serialized delete, an optimistic delete,
    or a merge with a delete leg, the join is back and the deleted key
    is gone. Entries without the ``tombstones`` flag keep the join;
    compaction output and 0-row deltas carry ``tombstones: false``."""
    import json

    from emr_hudi_example_spark.lake import fold

    n = cust(spark).count()
    tables = {}
    for name in ("ser", "opt", "mrg"):
        t = make_table(spark, tmp_path, name=name, table_type="MERGE_ON_READ")
        t.write(cust(spark), op="upsert", instant="001")
        t.write(
            cust(spark, ver=2).filter("c_custkey <= 5"),
            op="upsert", instant="002",
        )
        assert [f["tombstones"] for f in t.tl.live_files()] == [False] * len(
            t.tl.live_files()
        )
        for df in (t.snapshot(), t.incremental(None), t.incremental("001")):
            assert not _has_join(df)
        assert t.snapshot().count() == n
        assert t.incremental("001").count() == (
            cust(spark).filter("c_custkey <= 5").count()
        )
        tables[name] = t

    gone = cust(spark).filter("c_custkey = 3")
    tables["ser"].write(gone, op="delete", instant="003")
    tables["opt"].write_optimistic(gone, op="delete", instant="003")
    tables["mrg"].merge_into(
        gone.withColumn("ver", F.lit(9).cast("long")),
        update_set={"ver": "s.ver"},
        delete_condition="t.c_custkey = 3",
        instant="003",
    )
    for t in tables.values():
        assert [f["tombstones"] for f in t.tl.manifest("003")["added"]] == [
            True
        ] * len(t.tl.manifest("003")["added"])
        for df in (t.snapshot(), t.incremental(None), t.incremental("002")):
            assert _has_join(df)
            assert df.filter("c_custkey = 3").count() == 0
        assert t.snapshot().count() == n - 1

    # manifests written before the flag existed: the join stays
    legacy = make_table(spark, tmp_path, name="legacy", table_type="MERGE_ON_READ")
    legacy.write(cust(spark), op="upsert", instant="001")
    mpath = os.path.join(legacy.tl.commits_dir, "001.json")
    with open(mpath) as fh:
        m = json.load(fh)
    for f in m["added"]:
        del f["tombstones"]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    legacy = make_table(spark, tmp_path, name="legacy", table_type="MERGE_ON_READ")
    assert all("tombstones" not in f for f in legacy.tl.live_files())
    assert _has_join(legacy.snapshot())
    assert legacy.snapshot().count() == n

    # compaction folds the tombstones away: its base files carry none
    t = tables["ser"]
    inst = t.compact()
    assert [f["tombstones"] for f in t.tl.manifest(inst)["added"]] == [
        False
    ] * len(t.tl.manifest(inst)["added"])
    assert not _has_join(t.snapshot())
    assert t.snapshot().count() == n - 1
    assert t.snapshot().filter("c_custkey = 3").count() == 0

    # an empty checkpointed upsert off the kernel publishes one 0-row
    # delta: its footer has no _deleted statistic, and no rows either
    monkeypatch.setattr(fold, "serves", lambda *a, **k: False)
    t = make_table(spark, tmp_path, name="zero", table_type="MERGE_ON_READ")
    t.write(cust(spark), op="upsert", instant="001")
    t.write(
        cust(spark).filter("c_custkey < 0"), op="upsert", instant="002",
        checkpoint={"source_id": "src", "batch_id": 0},
    )
    assert [
        (f["rows"], f["tombstones"]) for f in t.tl.manifest("002")["added"]
    ] == [(0, False)]
    assert not _has_join(t.snapshot())
    assert t.snapshot().count() == n


# ------------------------------------------------------ scan reports


def _report_rows(spark, ver=1):
    """Four commits × partitions A/B × ten keys ``<p><commit><i>``: the
    two partitions hold disjoint key and price ranges (A: 0..39, B:
    1000 + 100·commit + i), so every read layer has files it can prove
    dead, also under the MOR key-overlap guard."""
    rows = []
    for c in range(4):
        for p in ("A", "B"):
            for i in range(10):
                k = f"{p}{c}{i:02d}"
                price = float(c * 10 + i) if p == "A" else 1000.0 + 100 * c + i
                tag = hashlib.md5(k.encode()).hexdigest()
                rows.append((k, p, price, tag, "t" + k, c, ver))
    return spark.createDataFrame(
        rows, "k STRING, p STRING, price DOUBLE, tag STRING, tag2 STRING, "
        "c INT, ver LONG",
    )


def _report_table(spark, tmp, name, **kw):
    kw.setdefault("partition_keys", ["p"])
    t = LakeTable(
        spark, str(tmp), "testdb", name, record_keys=["k"],
        precombine="ver", **kw,
    )
    rows = _report_rows(spark)
    for c in range(4):
        t.write(
            rows.filter(F.col("c") == c).coalesce(1),
            op="insert", instant=f"00{c + 1}",
        )
    return t


_LAYER_PREDICATES = {
    "bucket": [(RECORD_KEY_COL, "=", "A008")],
    "record_index": [(RECORD_KEY_COL, "in", ("A008", "B309"))],
    "partition_stats": [("price", ">=", 1000.0)],
    "col_stats": [("price", "between", (1000.0, 1050.0))],
    "sec_index": [("tag", "=", hashlib.md5(b"A008").hexdigest())],
    "col_bloom": [("tag2", "=", "tA008")],
}


@pytest.fixture(scope="module")
def report_tables(spark, tmp_path_factory):
    """One table per type with every read layer configured, shared by
    the read-accounting cases (they only read)."""
    built = {}

    def get(table_type):
        if table_type not in built:
            built[table_type] = _report_table(
                spark, tmp_path_factory.mktemp("rep"), "rep",
                table_type=table_type, stats_columns=["price"],
                bucket_index=2, record_index=True,
                secondary_index_columns=["tag"], bloom_columns=["tag2"],
            )
        return built[table_type]

    return get


@pytest.mark.parametrize("layer", sorted(_LAYER_PREDICATES))
@pytest.mark.parametrize("table_type", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_scan_report_accounts_for_every_read(report_tables, table_type, layer):
    """Each read layer prunes, and for every read the report accounts
    for exactly the files the scan opens: considered − Σ pruned ==
    ``len(df.inputFiles())``."""
    t = report_tables(table_type)
    pred = _LAYER_PREDICATES[layer]
    reads = [
        lambda: t.snapshot(predicate=pred),
        lambda: t.read_optimized(predicate=pred),
        lambda: t.incremental(None, predicate=pred),
        lambda: t.incremental("001", predicate=pred),
        lambda: t.snapshot(as_of="002", predicate=pred),
        lambda: t.snapshot(partition_filter={"p": "A"}, predicate=pred),
        lambda: t.snapshot(),
    ]
    for read in reads:
        df = read()
        scan = t.last_scan
        assert scan.considered - scan.dropped == len(df.inputFiles()), (
            scan
        )
    t.snapshot(predicate=pred)
    assert t.last_scan.considered == len(t.tl.live_files())
    assert t.last_scan[layer] > 0, t.last_scan


@pytest.mark.parametrize(
    "config",
    [
        {},
        {"partition_keys": [], "bloom_index": True},
        {"bucket_index": 2, "record_index": True},
    ],
    ids=["partition+range+scan", "bloom", "bucket+record_index"],
)
def test_scan_report_accounts_for_every_cow_keyed_write(
    spark, tmp_path, config
):
    """For every COW keyed write the report's survivors are exactly the
    commit's replaced files, out of every live file considered."""
    t = _report_table(spark, tmp_path, "wrep", **config)
    rows = _report_rows(spark, ver=2)
    writes = [
        lambda: t.write(rows.filter("k in ('A008', 'B109')"), op="upsert"),
        lambda: t.write(rows.filter("k = 'B305'").select("k", "p"),
                        op="delete"),
        lambda: t.write_optimistic(rows.filter("k = 'A209'"), op="upsert"),
        lambda: t.merge_into(
            rows.filter("k = 'A008'"), update_set={"ver": "t.ver + 1"}
        ),
    ]
    for write in writes:
        live = len(t.tl.live_files())
        inst = write()
        scan = t.last_scan
        assert scan.considered == live
        assert scan.kept == len(t.tl.manifest(inst)["replaced"]) > 0, scan
