"""One commit-log listing per ``LakeTable`` op (``lake/timeline.py``):
every op reads and writes the one table state its listing names, so a
commit landing mid-op cannot tear a read, and the listing budget of
each op is pinned."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable
from emr_hudi_example_spark.lake.timeline import ConcurrentWriteConflict, Timeline
from emr_hudi_example_spark.pipelines import dm_increment, dm_init, dwd_increment
from tests.conftest import SF_SMOKE as SF
from tests.harness import count_listings

TYPES = ("COPY_ON_WRITE", "MERGE_ON_READ")
#: commit A: p=1 holds v in 10..50, p=2 holds v in 60..70
A = [("0", 1, 10), ("1", 1, 30), ("2", 1, 50), ("3", 2, 60), ("4", 2, 70)]
#: commit B: v=100 into both partitions
B = [("500", 1, 100), ("600", 2, 100)]
PRED = [("v", "in", [10, 100])]


def _rows(spark, rows, ver=1, extra=False):
    df = spark.createDataFrame(
        [(k, p, v, ver) for k, p, v in rows], "k string, p int, v int, ver long"
    )
    return df.withColumn("w", F.lit("b")) if extra else df


def _table(spark, root, tt, name="t"):
    return LakeTable(
        spark, root, "d", name, ["k"], "ver", partition_keys=["p"],
        table_type=tt, stats_columns=["v"],
    )


def _commit_after_first_listing(monkeypatch, t, commit) -> list:
    """Run ``commit`` right after the first ``Timeline.instants`` call
    on ``t``'s commit log returns; the returned list records that it
    ran."""
    orig = Timeline.instants
    fired: list = []

    def listing(self):
        out = orig(self)
        if self is t.tl and not fired:
            fired.append(True)
            commit()
        return out

    monkeypatch.setattr(Timeline, "instants", listing)
    return fired


@pytest.mark.parametrize("tt", TYPES)
@pytest.mark.parametrize("read", ["snapshot", "read_optimized", "incremental"])
def test_read_sees_one_table_state(spark, tmp_path, monkeypatch, read, tt):
    """Commit B lands right after the read's listing: the read returns
    the A-view or the B-view, never a mix. B adds rows to both
    partitions and a column ``w``; a mix is B's files pruned by A's
    partition stats (keys ``[0, 500]``) or A's files read under B's
    schema (column ``w``)."""
    root = str(tmp_path)
    t = _table(spark, root, tt)
    t.write(_rows(spark, A), op="insert", instant="001")
    other = _table(spark, root, tt)
    fired = _commit_after_first_listing(
        monkeypatch, t,
        lambda: other.write(
            _rows(spark, B, ver=2, extra=True), op="insert", instant="002"
        ),
    )
    if read == "incremental":
        df = t.incremental(None, predicate=PRED)
    else:
        df = getattr(t, read)(predicate=PRED)
    got = (df.columns, sorted(r.k for r in df.select("k").collect()))
    assert fired and other.timeline() == ["001", "002"]
    cols_b = (
        t.incremental(None, predicate=PRED).columns
        if read == "incremental"
        else getattr(t, read)(predicate=PRED).columns
    )
    cols_a = [c for c in cols_b if c != "w"]
    assert got in ((cols_a, ["0"]), (cols_b, ["0", "500", "600"])), got


def test_optimistic_write_plans_against_its_base(spark, tmp_path, monkeypatch):
    """``write_optimistic`` merges against the snapshot its conflict
    check compares with: a commit that rewrote the file the upsert
    reads, landing right after the writer's listing, is a read-set
    conflict, since publishing the merge would resurrect the rewritten
    file's old rows."""
    root = str(tmp_path)
    t = LakeTable(spark, root, "d", "occ", ["k"], "ver")
    t.write(_rows(spark, A).coalesce(1), op="insert", instant="001")
    other = LakeTable(spark, root, "d", "occ", ["k"], "ver")
    _commit_after_first_listing(
        monkeypatch, t,
        lambda: other.write(_rows(spark, [A[1]], ver=2), instant="002"),
    )
    with pytest.raises(ConcurrentWriteConflict, match="read-set overlap"):
        t.write_optimistic(_rows(spark, [A[0]], ver=2), instant="003")
    monkeypatch.undo()
    assert t.timeline() == ["001", "002"]


@pytest.mark.parametrize("tt", TYPES)
def test_listing_budgets(spark, tmp_path, tt):
    """Commit-log listings per op: one for every op the writer lock or
    a read serves; two where the lock-free compute step plans on one
    listing and the publish check takes another under the lock."""
    root = str(tmp_path)
    t = _table(spark, root, tt)
    t.write(_rows(spark, A), op="insert", instant="001")
    first = "001"
    budgets = {
        "upsert": (1, lambda: t.write(_rows(spark, [A[0]], ver=2))),
        "delete": (1, lambda: t.write(_rows(spark, [A[1]]), op="delete")),
        "insert": (1, lambda: t.write(_rows(spark, [("7", 1, 7)]), op="insert")),
        "bulk_insert": (
            1, lambda: t.write(_rows(spark, [("8", 1, 8)]), op="bulk_insert")
        ),
        "insert_overwrite": (
            1,
            lambda: t.write(_rows(spark, [("9", 2, 9)]), op="insert_overwrite"),
        ),
        "checkpoint": (
            1,
            lambda: t.write(
                _rows(spark, [A[2]], ver=3),
                checkpoint={"source_id": "s", "batch_id": 1},
            ),
        ),
        "checkpoint replay": (
            1,
            lambda: t.write(
                _rows(spark, [A[2]], ver=3),
                checkpoint={"source_id": "s", "batch_id": 1},
            ),
        ),
        "write_optimistic": (
            2, lambda: t.write_optimistic(_rows(spark, [A[2]], ver=4))
        ),
        "merge_into": (
            2,
            lambda: t.merge_into(
                _rows(spark, [A[2]], ver=5),
                update_set={"v": "s.v", "ver": "s.ver"},
            ),
        ),
        "snapshot": (1, lambda: t.snapshot()),
        "snapshot(predicate)": (1, lambda: t.snapshot(predicate=PRED)),
        "snapshot(as_of)": (1, lambda: t.snapshot(as_of=first)),
        "snapshot(partition_filter)": (
            1, lambda: t.snapshot(partition_filter={"p": 1})
        ),
        "read_optimized": (1, lambda: t.read_optimized(predicate=PRED)),
        "incremental": (1, lambda: t.incremental(first, predicate=PRED)),
        "changes": (1, lambda: t.changes(first)),
        "metadata_count": (1, lambda: t.metadata_count()),
        "metadata_min_max": (1, lambda: t.metadata_min_max("v")),
        "delete_partitions": (1, lambda: t.delete_partitions([{"p": 2}])),
        "compact": (1, lambda: t.compact()),
        # a delta to fold (MOR), a second file to squash (COW)
        "upsert before schedule": (
            1, lambda: t.write(_rows(spark, [A[0]], ver=6))
        ),
        "insert before schedule": (
            1, lambda: t.write(_rows(spark, [("5", 1, 5)]), op="insert")
        ),
        "schedule_compaction": (1, lambda: t.schedule_compaction()),
        "run_compaction": (2, lambda: t.run_compaction()),
        "clean": (1, lambda: t.clean()),
    }
    got = {}
    for op, (_budget, fn) in budgets.items():
        got[op], _ = count_listings(fn)
    assert got == {op: b for op, (b, _fn) in budgets.items()}, got
    assert t.tl.pending_plans() == []  # the scheduled plan ran
    assert sorted(r.k for r in t.snapshot().collect()) == ["0", "2", "5", "7", "8"]


def test_medallion_tick_listing_budget(spark, tmp_path):
    """A medallion-shaped tick — ``ods.write`` + ``dwd_increment`` +
    ``dm_increment``, the shape ``test_medallion_tick_job_budget``
    counts jobs on — lists commit logs at most 8 times: once per op.
    ``dm_increment`` lists the DWD log once (its slice read) and the DM
    log twice (its snapshot, then its write under the lock); the tick
    took 10 while two ``exists()`` guards listed again."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_returnflag",
    )
    part = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_partkey", "p_brand"
    )

    def mk(name, keys, tt):
        return LakeTable(spark, str(tmp_path), "b", name, keys,
                         "created_ts", table_type=tt)

    ods = mk("ods", ["l_orderkey", "l_linenumber"], "MERGE_ON_READ")
    dwd = mk("dwd", ["l_orderkey", "l_linenumber", "p_brand"],
             "MERGE_ON_READ")
    dm = mk("dm", ["p_brand", "l_returnflag"], "COPY_ON_WRITE")
    agg = (["p_brand", "l_returnflag"], "l_quantity", "qty_sum")

    def sl(t):
        return li.filter(F.col("l_orderkey") % 4 == t).withColumn(
            "created_ts", F.lit(t).cast("long")
        )

    ods.write(sl(0), op="upsert")
    cur = dwd_increment(ods, part, dwd, None, created_ts_millis=1)
    dm_init(dwd, dm, *agg, created_ts_millis=1)
    dm_cur = dwd.last_instant()
    for t in (1, 2):
        def tick():
            ods.write(sl(t), op="upsert")
            dwd_increment(ods, part, dwd, cur, created_ts_millis=t + 1)
            return dm_increment(dwd, dm, dm_cur, dwd.last_instant(), *agg,
                                created_ts_millis=t + 1)

        n, inst = count_listings(tick)
        assert inst is not None
        assert n <= 8, n
        cur, dm_cur = ods.last_instant(), dwd.last_instant()
    n, _ = count_listings(lambda: (ods.compact(), dwd.compact()))
    assert n == 2, n


def test_retention_below_one_raises(spark, tmp_path):
    """A retention below 1 raises: ``tl[-0:]`` is the whole list, so
    ``clean(retain_commits=0)`` would keep every commit's files, and
    ``archive_timeline(keep_commits=0)`` would archive nothing."""
    t = _table(spark, str(tmp_path), "COPY_ON_WRITE")
    t.write(_rows(spark, A), op="insert", instant="001")
    t.write(_rows(spark, [A[0]], ver=2), instant="002")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="retain_commits"):
            t.clean(retain_commits=bad)
        with pytest.raises(ValueError, match="keep_commits"):
            t.archive_timeline(keep_commits=bad)
    assert t.timeline() == ["001", "002"] and t.tl.archived() == []
    assert t.clean(retain_commits=1)  # the replaced file goes
