"""Lakehouse-kernel catalog entries — upsert / incremental / delete /
global-index semantics exposed as SQL-expressible END-STATES so the
driver's DuckDB oracle can verify them (SURVEY.md §5, FIXTURES.md §6).

Each query seeds a throwaway ``LakeTable`` under /tmp with deterministic
batches derived from the ``customer`` fixture, then returns the resulting
table state; the oracle reproduces the same state with window SQL over the
unioned batches (``QUALIFY row_number() ... = 1`` = larger-precombine-wins).
Commit instants are fixed strings, so even ``_commit_time`` is comparable.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_hudi_example_spark.catalog import ORACLE, Q, load, query
from emr_hudi_example_spark.lake import LakeTable

__all__ = ["Q", "ORACLE"]


_TMP_DIRS: list[str] = []


def _cleanup_tmp_dirs() -> None:
    import shutil

    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_tmp_dirs)


def _tmp_base() -> str:
    d = tempfile.mkdtemp(prefix=f"lakeq-{uuid.uuid4().hex[:8]}-", dir="/tmp")
    _TMP_DIRS.append(d)  # reaped at process exit — bench reruns don't
    return d             # accumulate table copies in /tmp


def _batch1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )


def _batch2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys divisible by 10 get ver=2 and a bumped balance."""
    return (
        _batch1(spark, sf_dir)
        .filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
    )


_B1_SQL = """
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         CAST(1 AS BIGINT) AS ver, '001' AS _commit_time
  FROM customer
"""
_B2_SQL = """
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
         c_mktsegment, CAST(2 AS BIGINT) AS ver, '002' AS _commit_time
  FROM customer WHERE c_custkey % 10 = 0
"""


@query(
    "lake_upsert_snapshot",
    oracle=f"""
    WITH u AS ({_B1_SQL} UNION ALL {_B2_SQL})
    SELECT c_custkey, c_name, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A5/K1 — keyed upsert end-state: snapshot after two commits,
    larger precombine wins (DefaultHoodieRecordPayload,
    reference SRC/package.scala:25,35)."""
    t = LakeTable(spark, _tmp_base(), "q", "upsert", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    return t.snapshot().select(
        "c_custkey", "c_name", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_incremental_read",
    oracle=f"""
    SELECT c_custkey, c_acctbal, ver, _commit_time FROM ({_B2_SQL})
    """,
)
def lake_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — incremental read of ``(001, 002]`` returns exactly the rows
    changed by commit 002 (SRC/ODS2DWD.scala:51-56 semantics)."""
    t = LakeTable(spark, _tmp_base(), "q", "incr", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    return t.incremental("001", "002").select(
        "c_custkey", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_delete",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 100 <> 0
    """,
)
def lake_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 delete op — anti-join on record key (CDC DELETE routing,
    SRC/cdc/CanalParser.scala:13)."""
    t = LakeTable(spark, _tmp_base(), "q", "del", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    victims = _batch1(spark, sf_dir).filter(F.col("c_custkey") % 100 == 0)
    t.write(victims, op="delete", instant="002")
    return t.snapshot().select("c_custkey", "c_name", "c_acctbal")


@query(
    "lake_global_index_move",
    oracle="""
    WITH b1 AS (
      SELECT c_custkey, c_mktsegment, CAST(1 AS BIGINT) AS ver FROM customer
    ), b2 AS (
      SELECT c_custkey, 'MOVED' AS c_mktsegment, CAST(2 AS BIGINT) AS ver
      FROM customer WHERE c_custkey % 10 = 0
    ), u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT c_custkey, c_mktsegment, ver FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_global_index_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-index upsert (GLOBAL_BLOOM + partition-path update,
    SRC/Log2Hudi.scala:78-79): a key arriving with a new partition value
    MOVES the record instead of duplicating it."""
    t = LakeTable(
        spark, _tmp_base(), "q", "gidx", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"], global_index=True,
    )
    b1 = _batch1(spark, sf_dir).select("c_custkey", "c_mktsegment", "ver")
    t.write(b1, op="upsert", instant="001")
    movers = (
        b1.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_mktsegment", F.lit("MOVED"))
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t.write(movers, op="upsert", instant="002")
    return t.snapshot().select("c_custkey", "c_mktsegment", "ver")


@query(
    "lake_mor_upsert_snapshot",
    oracle=f"""
    WITH u AS ({_B1_SQL} UNION ALL {_B2_SQL})
    SELECT c_custkey, c_name, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_mor_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE_ON_READ upsert end-state (the reference's table type for
    partitioned tables, SRC/package.scala:176): delta-append writes +
    merge-at-read resolve to the SAME state as COW — verified against
    the identical oracle as ``lake_upsert_snapshot``."""
    t = LakeTable(
        spark, _tmp_base(), "q", "morup", ["c_custkey"], "ver",
        table_type="MERGE_ON_READ",
    )
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    return t.snapshot().select(
        "c_custkey", "c_name", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_compact_endstate",
    oracle=f"""
    WITH u AS ({_B1_SQL} UNION ALL {_B2_SQL}),
    merged AS (
      SELECT c_custkey, c_name, c_acctbal, ver, _commit_time
      FROM u
      QUALIFY row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY ver DESC) = 1
    )
    SELECT * FROM merged WHERE c_custkey % 100 <> 0
    """,
)
def lake_compact_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR compaction equivalence (r3 verdict task 3): seed, upsert
    delta, delete delta, then ``compact()`` — folding delta files and
    tombstones into fresh base files (the reference's inline/async
    compaction knobs, SRC/util/HudiConfig.scala:21-23). The
    post-compaction snapshot must equal the precombine-dedup oracle
    minus deletions: compaction changes LAYOUT, never CONTENT. A
    layout assertion (base files only, no deltas) guards the query
    from silently degrading into the no-compaction path."""
    t = LakeTable(
        spark, _tmp_base(), "q", "cmpct", ["c_custkey"], "ver",
        table_type="MERGE_ON_READ",
    )
    b1 = _batch1(spark, sf_dir)
    t.write(b1, op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    t.write(
        b1.filter(F.col("c_custkey") % 100 == 0), op="delete", instant="003"
    )
    t.compact(instant="004")
    live = t.tl.live_files()
    if not (live and all(f.get("kind", "base") == "base" for f in live)):
        # RuntimeError, not assert: the gate must survive python -O
        raise RuntimeError("compaction must leave only base files live")
    return t.snapshot().select(
        "c_custkey", "c_name", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_small_file_compact_endstate",
    oracle=f"""
    WITH b2b AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 1000.0 AS c_acctbal, c_mktsegment,
             CAST(2 AS BIGINT) AS ver, '002' AS _commit_time
      FROM customer
      WHERE c_custkey % 10 = 0 AND c_mktsegment = 'BUILDING'
    ),
    u AS ({_B1_SQL} UNION ALL SELECT * FROM b2b),
    merged AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment, ver, _commit_time
      FROM u
      QUALIFY row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY ver DESC) = 1
    )
    SELECT * FROM merged
    WHERE NOT (c_custkey % 100 = 0 AND c_mktsegment = 'BUILDING')
    """,
)
def lake_small_file_compact_endstate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strategy-driven PARTIAL compaction end-state (r7): on a
    partitioned MOR table only the 'BUILDING' partition receives a
    delta (upsert) and a tombstone (delete); a ``small_files``-strategy
    plan therefore pins exactly that partition's files — partition-
    granular selection, Hudi's CompactionStrategy analog — and the fold
    must (a) change LAYOUT only in the selected partition, (b) drop the
    tombstoned key without resurrecting its older row, and (c) leave
    every other partition's files byte-untouched. Snapshot equals the
    precombine-merge oracle minus the deletion, like the full-fold
    twin ``lake_compact_endstate``."""
    t = LakeTable(
        spark, _tmp_base(), "q", "sfcmpct", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"], table_type="MERGE_ON_READ",
    )
    b1 = _batch1(spark, sf_dir)
    # seed as INSERT: MOR routes inserts to BASE files, so only the
    # partitions later commits touch carry deltas — the selection signal
    t.write(b1, op="insert", instant="001")
    t.write(
        _batch2(spark, sf_dir).filter(F.col("c_mktsegment") == "BUILDING"),
        op="upsert", instant="002",
    )
    t.write(
        b1.filter(
            (F.col("c_custkey") % 100 == 0)
            & (F.col("c_mktsegment") == "BUILDING")
        ),
        op="delete", instant="003",
    )
    pid = t.schedule_compaction(
        strategy="small_files", small_file_limit_bytes=1
    )
    if pid is None:
        raise RuntimeError("small_files strategy selected nothing")
    inst = t.run_compaction(pid)
    if inst is None:
        raise RuntimeError("partial compaction did not commit")
    folded = t.tl.manifest(inst)["replaced"]
    live = {f["path"]: f for f in t.tl.live_files()}
    # layout gates (RuntimeError, not assert: must survive python -O):
    # only BUILDING files were folded, BUILDING is now delta-free, and
    # commit 001's other-partition files are still live verbatim
    pinned_pp = {live_pp(p) for p in folded}
    if pinned_pp != {"c_mktsegment=BUILDING"}:
        raise RuntimeError(f"plan escaped the delta partition: {pinned_pp}")
    for f in live.values():
        if (
            f["partition_path"] == "c_mktsegment=BUILDING"
            and f.get("kind") == "delta"
        ):
            raise RuntimeError("BUILDING still carries delta files")
    for f in t.tl.manifest("001")["added"]:
        if f["partition_path"] != "c_mktsegment=BUILDING" and f[
            "path"
        ] not in live:
            raise RuntimeError("an unselected partition's file was folded")
    return t.snapshot().select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment", "ver",
        "_commit_time",
    )


def live_pp(path: str) -> str:
    """partition_path segment of a ``data/<instant>/<pp...>/file`` path
    (hive-style dirs use the ``__pt_`` prefix on disk)."""
    segs = [
        s.replace("__pt_", "", 1)
        for s in path.split("/")
        if s.startswith("__pt_")
    ]
    return "/".join(segs)


@query(
    "lake_schema_evolution",
    oracle="""
    WITH b1 AS (
      SELECT c_custkey, c_name, CAST(1 AS BIGINT) AS ver,
             CAST(NULL AS VARCHAR) AS loyalty_tier
      FROM customer
    ), b2 AS (
      SELECT c_custkey, c_name, CAST(2 AS BIGINT) AS ver,
             'GOLD' AS loyalty_tier
      FROM customer WHERE c_custkey % 10 = 0
    ), u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT c_custkey, c_name, ver, loyalty_tier FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution as an END-STATE: commit 002 arrives
    with a NEW column; the stored schema widens (metadata-only — old
    files are never rewritten, their rows read the new column as null)
    and the merged snapshot carries the column for updated keys only."""
    t = LakeTable(spark, _tmp_base(), "q", "evo", ["c_custkey"], "ver")
    b1 = _batch1(spark, sf_dir).select("c_custkey", "c_name", "ver")
    t.write(b1, op="upsert", instant="001")
    b2 = (
        b1.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("loyalty_tier", F.lit("GOLD"))
    )
    t.write(b2, op="upsert", instant="002")
    return t.snapshot().select("c_custkey", "c_name", "ver", "loyalty_tier")


@query(
    "lake_time_travel",
    oracle=f"""
    SELECT c_custkey, c_acctbal, ver FROM ({_B1_SQL})
    """,
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: after two upsert commits, ``snapshot(as_of='001')``
    reads the table exactly as commit 001 left it — the 002 updates are
    invisible (Hudi ``as.of.instant`` / savepoint-read analog)."""
    t = LakeTable(spark, _tmp_base(), "q", "tt", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    return t.snapshot(as_of="001").select("c_custkey", "c_acctbal", "ver")


@query(
    "lake_restore_endstate",
    oracle=f"""
    SELECT c_custkey, c_acctbal, ver FROM ({_B1_SQL})
    """,
)
def lake_restore_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restore/rollback (Hudi savepoint+restore analog): after commits
    001/002, ``restore('001')`` REMOVES commit 002 from the timeline
    and deletes its files — the live snapshot (not a time-travel read)
    equals commit 001's state, and the discarded instant list names
    exactly 002."""
    t = LakeTable(spark, _tmp_base(), "q", "rst", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    dropped = t.restore("001")
    if dropped != ["002"] or t.timeline() != ["001"]:
        # RuntimeError, not assert: the gate must survive python -O
        raise RuntimeError(
            f"restore left timeline {t.timeline()!r}, dropped {dropped!r}"
        )
    return t.snapshot().select("c_custkey", "c_acctbal", "ver")


@query(
    "lake_savepoint_endstate",
    oracle=f"""
    SELECT c_custkey, c_acctbal, ver FROM ({_B1_SQL})
    """,
)
def lake_savepoint_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savepoint vs cleaner (Hudi savepoint semantics — the audit /
    reproducibility pin behind ``hoodie savepoint create``; the
    reference delegates it to Hudi's timeline services alongside the
    cleaner policy it does set, ``SRC/package.scala:28-30``): commit
    001 is savepointed, commits 002/003 rewrite the same key set, then
    an aggressive ``clean(retain_commits=1)`` runs. The cleaner MUST
    reclaim commit 002's files (replaced at 003, pinned by nothing) —
    gated below — while the savepointed time-travel read of 001 keeps
    serving bit-exactly even though 001 is far behind the retention
    horizon. Without the savepoint pin this read would lose every file
    the 002/003 rewrites replaced."""
    t = LakeTable(spark, _tmp_base(), "q", "sp", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    b3 = _batch2(spark, sf_dir).withColumn("ver", F.lit(3).cast("long"))
    t.write(b3, op="upsert", instant="003")
    t.savepoint("001")
    deleted = t.clean(retain_commits=1)
    # the clean must have TEETH for the savepoint pin to prove anything:
    # 002's rewrite files are live at neither 003 nor savepointed 001
    if not any(p.replace(os.sep, "/").startswith("data/002/") for p in deleted):
        raise RuntimeError(
            f"cleaner reclaimed nothing from commit 002: {deleted!r}"
        )
    return t.snapshot(as_of="001").select("c_custkey", "c_acctbal", "ver")


@query(
    "lake_insert_append",
    oracle="""
    WITH u AS (
      SELECT c_custkey, c_name FROM customer
      UNION ALL
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 = 0
    ) SELECT c_custkey, c_name, count(*) AS n FROM u GROUP BY 1, 2
    """,
)
def lake_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 insert fast path — no key merge, duplicates allowed
    (insert-vs-upsert op switch, SRC/util/HudiConfig.scala:28)."""
    t = LakeTable(spark, _tmp_base(), "q", "ins", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="insert", instant="001")
    t.write(
        _batch1(spark, sf_dir).filter(F.col("c_custkey") % 10 == 0),
        op="insert",
        instant="002",
    )
    return (
        t.snapshot()
        .groupBy("c_custkey", "c_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "lake_record_index_move",
    oracle="""
    WITH b1 AS (
      SELECT c_custkey, c_mktsegment, CAST(1 AS BIGINT) AS ver FROM customer
    ), b2 AS (
      SELECT c_custkey, 'MOVED' AS c_mktsegment, CAST(2 AS BIGINT) AS ver
      FROM customer WHERE c_custkey % 10 = 0
    ), u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT c_custkey, c_mktsegment, ver FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_record_index_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-index partition move planned through the PERSISTENT
    record-level index (Hudi metadata-table record-index analog): the
    key→file probe replaces scanning every live file's key column —
    the 100 TB evolution of ``lake_global_index_move``, verified against
    the identical oracle."""
    t = LakeTable(
        spark, _tmp_base(), "q", "ridx", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"], global_index=True,
        record_index=True,
    )
    b1 = _batch1(spark, sf_dir).select("c_custkey", "c_mktsegment", "ver")
    t.write(b1, op="upsert", instant="001")
    movers = (
        b1.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_mktsegment", F.lit("MOVED"))
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t.write(movers, op="upsert", instant="002")
    return t.snapshot().select("c_custkey", "c_mktsegment", "ver")


@query(
    "lake_cdc_changes",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS _record_key,
           CASE WHEN c_custkey % 100 = 0 THEN 'delete' ELSE 'update' END
             AS op,
           c_acctbal AS before_bal,
           CASE WHEN c_custkey % 100 = 0 THEN NULL
                ELSE c_acctbal + 1000.0 END AS after_bal
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def lake_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC incremental read with before/after images (Hudi cdc query
    type): seed, bump keys %10 (update), delete keys %100 — the change
    feed of (001, 003] carries exactly those keys with op + both
    images; untouched keys never appear."""
    t = LakeTable(spark, _tmp_base(), "q", "cdc", ["c_custkey"], "ver")
    b1 = _batch1(spark, sf_dir)
    t.write(b1, op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    t.write(
        b1.filter(F.col("c_custkey") % 100 == 0), op="delete", instant="003"
    )
    ch = t.changes("001", "003")
    return ch.select(
        "_record_key",
        "op",
        F.col("before.c_acctbal").alias("before_bal"),
        F.col("after.c_acctbal").alias("after_bal"),
    )


@query(
    "lake_skipping_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(3 AS INT) AS files_skipped
    FROM orders WHERE o_custkey BETWEEN 1250 AND 1350
    """,
)
def lake_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats data skipping (r4 verdict task 5 — the Hudi 0.11
    metadata-table column-stats analog, the reference's engine
    dependency pom.xml:104-109): parquet-footer min/max for declared
    ``stats_columns`` are harvested into the manifest at write time,
    and ``snapshot(predicate=...)`` skips whole files driver-side
    before any scan. Four insert commits land disjoint ``o_custkey``
    ranges in four files; a selective BETWEEN predicate must read ONE
    file and return exactly the filtered rows — the graded
    ``files_skipped`` column pins the skip count (3 of 4) so a silent
    regression to scan-everything fails the oracle, not just a perf
    check."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "skipread", ["o_orderkey"], "ver",
        stats_columns=["o_custkey"],
    )
    bounds = [(None, 400), (400, 800), (800, 1200), (1200, None)]
    for i, (lo, hi) in enumerate(bounds):
        b = orders
        if lo is not None:
            b = b.filter(F.col("o_custkey") >= lo)
        if hi is not None:
            b = b.filter(F.col("o_custkey") < hi)
        t.write(b.coalesce(1), op="insert", instant=f"00{i + 1}")
    out = t.snapshot(predicate=[("o_custkey", "between", (1250, 1350))])
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(t.last_scan.dropped).cast("int").alias("files_skipped"),
    )


@query(
    "lake_metadata_aggregates",
    oracle="""
    SELECT count(*) AS cnt,
           CAST(min(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(max(c_acctbal) AS DOUBLE) AS max_bal,
           CAST(1 AS INT) AS from_metadata
    FROM customer
    """,
)
def lake_metadata_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates (the Iceberg/Hudi metadata-table
    ``count(*)``/``min``/``max`` path): exact row count and column
    extremes served from MANIFEST stats alone — zero scan, zero Spark
    jobs, O(live files) driver-side arithmetic. At 100 TB this is
    milliseconds instead of a full-corpus scan. Three insert commits
    split customer by key band (multiple files, multiple commits —
    the fold must aggregate ACROSS manifests); the graded
    ``from_metadata`` column pins that BOTH fast paths actually served
    from metadata (a fallback to a scan would still be value-correct,
    so only the pinned flag catches a silent regression of the
    shortcut itself). Parquet footer min/max exclude NULLs = SQL
    aggregate semantics, and COW reads apply no merge that could drop
    a file's extreme row."""
    cust = load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "metaagg", ["c_custkey"], "ver",
        stats_columns=["c_acctbal"],
    )
    t.write(
        cust.filter(F.col("c_custkey") % 3 == 0), op="insert", instant="001"
    )
    t.write(
        cust.filter(F.col("c_custkey") % 3 == 1), op="insert", instant="002"
    )
    t.write(
        cust.filter(F.col("c_custkey") % 3 == 2), op="insert", instant="003"
    )
    cnt, cnt_meta = t.metadata_count()
    lo, hi, mm_meta = t.metadata_min_max("c_acctbal")
    return spark.createDataFrame(
        [(cnt, float(lo), float(hi), int(cnt_meta and mm_meta))],
        "cnt BIGINT, min_bal DOUBLE, max_bal DOUBLE, from_metadata INT",
    )


@query(
    "lake_functional_index_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(3 AS INT) AS files_skipped
    FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def lake_functional_index_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-index pruning (the Hudi 1.0 functional-index
    capability, zero write-side cost): a ``year(col)`` predicate
    prunes files on the TRANSFORM of their stored column stats —
    year()/date() are monotone, so the expression's exact bounds
    derive from the column bounds at plan time; no expression stats
    are ever persisted. Four insert commits land disjoint date spans;
    ``year(o_orderdate) = 1997`` must skip the three files whose
    year-transformed ranges exclude 1997 (pinned by the graded
    ``files_skipped`` column) and return exactly the expression
    filter's rows."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "fnidxread", ["o_orderkey"], "ver",
        stats_columns=["o_orderdate"],
    )
    spans = [
        ("1900-01-01", "1997-01-01"), ("1997-01-01", "1999-01-01"),
        ("1999-01-01", "2000-01-01"), ("2000-01-01", "2100-01-01"),
    ]
    for i, (lo, hi) in enumerate(spans):
        b = orders.filter(
            (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
        ).coalesce(1)
        t.write(b, op="insert", instant=f"00{i + 1}")
    out = t.snapshot(predicate=[("year(o_orderdate)", "=", 1997)])
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(t.last_scan.dropped).cast("int").alias("files_skipped"),
    )


@query(
    "lake_bulk_insert_sorted",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(1 AS INT) AS files_scanned
    FROM orders
    WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
    """,
)
def lake_bulk_insert_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk insert with GLOBAL_SORT (Hudi's
    ``hoodie.bulkinsert.sort.mode`` — the 100 TB initial-load path,
    reference op surface ``SRC/package.scala:15-81``'s bulk_insert):
    one range shuffle on the record key at load time gives every file
    a tight DISJOINT key range, so a point read afterwards scans
    exactly ONE file on manifest key ranges alone — no bloom, bucket,
    or record index needed. The graded ``files_scanned`` column pins
    that (live files − skipped = 1); an unsorted load would scan
    every file containing the key's hash-arbitrary neighborhood."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "bulksorted", ["o_orderkey"], "ver",
    )
    t.write(
        orders, op="bulk_insert", instant="001",
        sort_mode="GLOBAL_SORT", sort_files=8,
    )
    probe = str(orders.agg(F.max("o_orderkey")).collect()[0][0])
    out = t.snapshot(predicate=[("_record_key", "=", probe)])
    scanned = t.last_scan.kept
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(scanned).cast("int").alias("files_scanned"),
    )


@query(
    "lake_partition_stats_prune",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST((SELECT COUNT(DISTINCT substr(CAST(o_orderdate AS VARCHAR), 1, 4)) - 1
                 FROM orders) AS INT) AS partitions_pruned
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1997-03-01 00:00:00'
                          AND TIMESTAMP '1997-09-30 00:00:00'
    """,
)
def lake_partition_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-stats index (the Hudi 1.0 ``partition_stats`` metadata
    index analog): per-partition aggregates of the manifest's file
    stats let a predicate read prune WHOLE partitions in O(partitions)
    before any per-file stats/bloom probe — at 100 TB, planning over
    thousands of partitions instead of millions of file entries. The
    table partitions orders by derived year (the canonical
    time-correlated layout, ``SRC/util/SparkHelper.scala`` logday
    derivation family); two interleaved insert commits land ≥2 files
    per partition; a 1997 date-window predicate must wholesale-prune
    every other year — the graded ``partitions_pruned`` column pins
    the count (distinct years − 1) so a regression to per-file-only
    planning fails the oracle."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "ver", F.lit(1).cast("long")
    ).withColumn(
        "logyear", F.substring(F.col("o_orderdate").cast("string"), 1, 4)
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "pstatsprune", ["o_orderkey"], "ver",
        partition_keys=["logyear"], stats_columns=["o_orderdate"],
    )
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        op="insert", instant="001",
    )
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 1),
        op="insert", instant="002",
    )
    out = t.snapshot(
        predicate=[
            ("o_orderdate", "between", ("1997-03-01", "1997-09-30"))
        ]
    )
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(t.last_scan.partitions_pruned).cast("int").alias(
            "partitions_pruned"
        ),
    )


@query(
    "lake_zorder_compact",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(1 AS INT) AS skipped_any
    FROM orders WHERE o_custkey <= (SELECT max(o_custkey) // 8 FROM orders)
    """,
)
def lake_zorder_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering wired into compaction (r4 verdict task 6):
    three interleaved insert commits leave every file spanning the full
    key range (nothing skippable), then ``compact(sort_by=
    [zorder_key([...], ranges=...)])`` range-partitions the rewrite on
    the scale-normalized Morton key so each output file owns a tight
    multi-dimensional cell. The post-compact predicate read must (a)
    skip at least one file — pinned by the graded ``skipped_any``
    column — and (b) return exactly the
    filtered rows: clustering changes LAYOUT, never CONTENT."""
    from emr_hudi_example_spark.operators.corpus import zorder_key

    orders = load(spark, sf_dir, "orders").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "zorder", ["o_orderkey"], "ver",
        stats_columns=["o_custkey", "o_orderkey"],
    )
    for i in range(3):
        t.write(
            orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    lo_c, hi_c, lo_k, hi_k = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).collect()[0]
    t.compact(
        instant="004", target_files_per_partition=8,
        sort_by=[zorder_key(
            ["o_custkey", "o_orderkey"], bits=16,
            ranges=[(lo_c, hi_c), (lo_k, hi_k)],
        )],
    )
    out = t.snapshot(predicate=[("o_custkey", "<=", int(hi_c) // 8)])
    # skip evidence is part of the GRADED output (a bare assert would
    # vanish under python -O): the exact count depends on range-
    # partitioner sampling, but clustered stats must prune >= 1 file
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(1 if t.last_scan.dropped > 0 else 0)
        .cast("int")
        .alias("skipped_any"),
    )


@query(
    "lake_read_optimized",
    oracle=f"""
    SELECT c_custkey, c_name, c_acctbal, ver, _commit_time
    FROM ({_B1_SQL})
    """,
)
def lake_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — MOR read-optimized view (``SRC/MSK2Hudi.scala:5``): after a
    base insert and a delta upsert, ``read_optimized()`` scans BASE
    files only — the faster, possibly-stale view is exactly batch 1,
    while ``snapshot()`` (graded by ``lake_mor_upsert_snapshot``) merges
    the delta. This pins the STALENESS contract: the real Hudi trade is
    that RO must NOT see unmerged deltas."""
    t = LakeTable(
        spark, _tmp_base(), "q", "ro", ["c_custkey"], "ver",
        table_type="MERGE_ON_READ",
    )
    t.write(_batch1(spark, sf_dir), op="insert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    return t.read_optimized().select(
        "c_custkey", "c_name", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_bloom_index_prune",
    oracle="""
    SELECT md5(CAST(c_custkey AS VARCHAR)) AS k,
           c_custkey, c_name, c_acctbal,
           CAST(CASE WHEN c_custkey % 4 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS ver,
           CAST(0 AS INT) AS range_pruned,
           CAST(3 AS INT) AS bloom_pruned
    FROM customer
    """,
)
def lake_bloom_index_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file bloom-filter key index — the engine's analog of Hudi's
    default BLOOM index, the index family the reference configures
    (``hoodie.index.type=GLOBAL_BLOOM``, ``SRC/Log2Hudi.scala:78-79``).

    The workload range stats cannot touch: record keys are
    ``md5(custkey)`` — RANDOM, so four interleaved single-file insert
    commits each span the full key space and min/max pruning keeps all
    four upsert candidates (pinned: ``range_pruned = 0``). The per-file
    blooms (built distributively at write time, ~128 KiB/file,
    ``lake/bloom.py``) then prune the three files holding no batch key
    (pinned: ``bloom_pruned = 3``), so the upsert rewrites exactly one
    file. Graded rows are the merged end state — pruning changes I/O,
    never results. At 100 TB this is the difference between key-scanning
    every candidate file of a partition and touching the one file a
    random key actually lives in."""
    base = (
        load(spark, sf_dir, "customer")
        .withColumn("k", F.md5(F.col("c_custkey").cast("string")))
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "bloomidx", ["k"], "ver",
        bloom_index=True,
    )
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t.write(
        base.filter(F.col("c_custkey") % 4 == 0)
        .withColumn("ver", F.lit(2).cast("long")),
        op="upsert", instant="005",
    )
    scan = t.last_scan
    return t.snapshot().select(
        "k", "c_custkey", "c_name", "c_acctbal", "ver",
        F.lit(scan["key_range"]).cast("int").alias("range_pruned"),
        F.lit(scan["key_bloom"]).cast("int").alias("bloom_pruned"),
    )


@query(
    "lake_col_bloom_skipping",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           md5(CAST(c_custkey AS VARCHAR)) AS tag,
           CAST(3 AS INT) AS col_bloom_pruned
    FROM customer
    WHERE md5(CAST(c_custkey AS VARCHAR)) = md5('8')
    """,
)
def lake_col_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary bloom index on a NON-KEY column (the Hudi
    metadata-table bloom-filter partition generalized beyond the
    record key; the reference's index family is
    ``hoodie.index.type=GLOBAL_BLOOM``, ``SRC/Log2Hudi.scala:78-79``).

    The workload neither min/max stats nor the KEY bloom can touch:
    point lookups on a high-cardinality DATA column (``tag`` =
    md5(custkey) — request ids, session keys, content hashes). Four
    interleaved insert commits give every file full-range values, so
    stats would keep all four; the per-file column blooms (built
    distributively at write time into the self-describing
    ``_bloom_cols`` sidecar, 16 KiB/file/column) prune the three files
    that provably lack the probed value — pinned by the graded
    ``col_bloom_pruned = 3`` column so a silent regression to
    scan-everything fails the oracle. Rows are the exact filter
    result: ``=`` never matches NULL, so bloom pruning is exact and a
    false positive only costs reading a file the row filter then
    empties. At 100 TB this turns "scan the partition for one request
    id" into "read the one file that can hold it"."""
    import hashlib

    base = (
        load(spark, sf_dir, "customer")
        .withColumn("tag", F.md5(F.col("c_custkey").cast("string")))
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "colbloom", ["c_custkey"], "ver",
        bloom_columns=["tag"],
    )
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    probe = hashlib.md5(b"8").hexdigest()  # custkey 8 -> file 001
    out = t.snapshot(predicate=[("tag", "=", probe)])
    return out.select(
        "c_custkey", "c_name", "c_acctbal", "tag",
        F.lit(t.last_scan["col_bloom"]).cast("int").alias(
            "col_bloom_pruned"
        ),
    )


@query(
    "lake_secondary_index_read",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           md5(CAST(c_custkey AS VARCHAR)) AS tag,
           CAST(3 AS INT) AS sec_pruned,
           CAST(4 AS INT) AS miss_pruned
    FROM customer
    WHERE md5(CAST(c_custkey AS VARCHAR)) = md5('8')
    """,
)
def lake_secondary_index_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT secondary index on a NON-KEY column — Hudi 1.0's
    metadata-table secondary index (RFC-52), the exact sibling of
    ``lake_col_bloom_skipping``'s blooms (the reference's index family
    is key-side ``hoodie.index.type=GLOBAL_BLOOM``,
    ``SRC/Log2Hudi.scala:78-79``; this is the non-key generalization).

    Same bloom-proof workload — point lookups on a high-cardinality
    DATA column (``tag`` = md5(custkey)) across four interleaved
    commits where every file spans the full value range — but the
    index stores the DISTINCT (value → file) pairs per commit, sharded
    by ``pmod(xxhash64(val), 64)``, so the probe touches ~1/64 of one
    column's index and its verdict is exact: the hit probe prunes the
    three files that provably lack the value (pinned ``sec_pruned =
    3``), and a needle-free probe prunes ALL FOUR (pinned
    ``miss_pruned = 4``) — zero data I/O for absent values, which a
    bloom can only promise modulo its false-positive rate. Rows are
    the exact filter result (``=`` never matches NULL). At 100 TB this
    serves "find the document with this content hash" at point cost
    regardless of corpus size."""
    import hashlib

    base = (
        load(spark, sf_dir, "customer")
        .withColumn("tag", F.md5(F.col("c_custkey").cast("string")))
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "secidx", ["c_custkey"], "ver",
        secondary_index_columns=["tag"],
    )
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t.snapshot(predicate=[("tag", "=", "no-such-value")]).count()
    miss_pruned = t.last_scan["sec_index"]
    probe = hashlib.md5(b"8").hexdigest()  # custkey 8 -> file 001
    out = t.snapshot(predicate=[("tag", "=", probe)])
    return out.select(
        "c_custkey", "c_name", "c_acctbal", "tag",
        F.lit(t.last_scan["sec_index"]).cast("int").alias("sec_pruned"),
        F.lit(miss_pruned).cast("int").alias("miss_pruned"),
    )


@query(
    "lake_secondary_index_churn",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 20 = 0
                THEN md5(CAST(c_custkey AS VARCHAR) || 'y')
                WHEN c_custkey % 10 = 0
                THEN md5(CAST(c_custkey AS VARCHAR) || 'x')
                ELSE md5(CAST(c_custkey AS VARCHAR)) END AS tag,
           CAST(CASE WHEN c_custkey % 20 = 0 THEN 3
                     WHEN c_custkey % 10 = 0 THEN 2
                     ELSE 1 END AS BIGINT) AS ver,
           CAST(0 AS INT) AS stale_rows,
           TRUE AS all_pruned_on_miss
    FROM customer WHERE c_custkey IN (7, 10, 20)
    """,
)
def lake_secondary_index_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary index under UPDATE CHURN on MERGE_ON_READ (r9 verdict
    #4 — the insert-only ``lake_secondary_index_read`` never changes an
    indexed value): the indexed column ``tag`` CHANGES for existing
    keys across two delta upserts, then compaction.

    The hazards this grades, in commit order:

    - pre-compaction, the OLD value's (value → base-file) index pair is
      stale while key-overlapping deltas hold the new value — the MOR
      stale-winner guard must keep the deltas, so probing the
      superseded value returns ZERO rows (``stale_rows``; a mis-prune
      of the deltas would resurrect the ver-1 row);
    - post-compaction, the compacted file's rebuilt index holds only
      live values: both superseded generations (original and the
      intermediate ``…x``) match nothing, and a guaranteed-absent
      needle prunes EVERY live file at zero data I/O
      (``all_pruned_on_miss``);
    - the three current-value point probes return exactly the newest
      fold per key (never-churned / churned-once / churned-twice).

    At 100 TB this is the "content hash changed on re-crawl" shape:
    the index must keep serving point reads mid-churn without either
    resurrecting stale documents or scanning the corpus."""
    import hashlib

    base = (
        load(spark, sf_dir, "customer")
        .withColumn("tag", F.md5(F.col("c_custkey").cast("string")))
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "secchurn", ["c_custkey"], "ver",
        table_type="MERGE_ON_READ",
        secondary_index_columns=["tag"],
    )
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t.write(
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn(
            "tag",
            F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("x"))),
        )
        .withColumn("ver", F.lit(2).cast("long"))
        .coalesce(1),
        op="upsert", instant="005",
    )
    t.write(
        base.filter(F.col("c_custkey") % 20 == 0)
        .withColumn(
            "tag",
            F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("y"))),
        )
        .withColumn("ver", F.lit(3).cast("long"))
        .coalesce(1),
        op="upsert", instant="006",
    )
    old20 = hashlib.md5(b"20").hexdigest()
    mid20 = hashlib.md5(b"20x").hexdigest()
    pre_stale = t.snapshot(predicate=[("tag", "=", old20)]).count()
    t.compact(instant="007")
    post_stale = t.snapshot(
        predicate=[("tag", "in", [old20, mid20])]
    ).count()
    # hex-shaped absent needle: stays inside the column's min/max so
    # the SEC INDEX (not range stats) must be the decider
    t.snapshot(
        predicate=[("tag", "=", hashlib.md5(b"absent-needle").hexdigest())]
    ).count()
    all_pruned = t.last_scan["sec_index"] == len(t.tl.live_files())
    probes = [
        hashlib.md5(b"7").hexdigest(),
        hashlib.md5(b"10x").hexdigest(),
        hashlib.md5(b"20y").hexdigest(),
    ]
    out = t.snapshot(predicate=[("tag", "in", probes)])
    return out.select(
        "c_custkey", "c_name", "tag", "ver",
        F.lit(pre_stale + post_stale).cast("int").alias("stale_rows"),
        F.lit(all_pruned).alias("all_pruned_on_miss"),
    )


@query(
    "lake_index_backfill_endstate",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           md5(CAST(c_custkey AS VARCHAR)) AS tag,
           CAST(0 AS INT) AS pre_pruned,
           CAST(3 AS INT) AS post_pruned
    FROM customer
    WHERE md5(CAST(c_custkey AS VARCHAR)) = md5('8')
    """,
)
def lake_index_backfill_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async metadata indexing (Hudi's async indexer /
    ``hoodie.metadata.index.async`` analog): four commits land BEFORE
    the secondary index exists; re-opening the table with
    ``secondary_index_columns`` and calling
    ``backfill_secondary_index()`` builds coverage with one metadata-
    only commit — index rows appended into each file's creating-instant
    dir, coverage stamped by re-adding the same file records with
    upgraded ``sec_cols`` (NO data file rewritten; at 100 TB this is
    one column-pruned index scan instead of rewriting the table).

    Graded pins: the same point probe prunes 0 files before the
    backfill (un-covered files are conservatively kept) and 3 of 4
    after (``pre_pruned = 0``, ``post_pruned = 3``); rows are the exact
    filter result either way — the backfill changes I/O, never
    answers."""
    import hashlib

    base = (
        load(spark, sf_dir, "customer")
        .withColumn("tag", F.md5(F.col("c_custkey").cast("string")))
        .withColumn("ver", F.lit(1).cast("long"))
    )
    root = _tmp_base()
    plain = LakeTable(
        spark, root, "q", "backfill", ["c_custkey"], "ver",
    )
    for i in range(4):
        plain.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t = LakeTable(
        spark, root, "q", "backfill", ["c_custkey"], "ver",
        secondary_index_columns=["tag"],
    )
    probe = hashlib.md5(b"8").hexdigest()  # custkey 8 -> file 001
    t.snapshot(predicate=[("tag", "=", probe)]).count()
    pre_pruned = t.last_scan["sec_index"]
    t.backfill_secondary_index()
    out = t.snapshot(predicate=[("tag", "=", probe)])
    return out.select(
        "c_custkey", "c_name", "c_acctbal", "tag",
        F.lit(pre_pruned).cast("int").alias("pre_pruned"),
        F.lit(t.last_scan["sec_index"]).cast("int").alias("post_pruned"),
    )


@query(
    "lake_bucket_index_pointread",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           CAST(2 AS BIGINT) AS ver,
           CAST(7 AS INT) AS bucket_pruned,
           CAST(7 AS INT) AS read_pruned
    FROM customer WHERE c_custkey = 8
    """,
)
def lake_bucket_index_pointread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket index — Hudi's ``hoodie.index.type=BUCKET`` simple-bucket
    engine (the zero-storage alternative to the reference's
    GLOBAL_BLOOM, ``SRC/Log2Hudi.scala:78-79``): files are laid out per
    ``pmod(xxhash64(record_key), 8)`` and BOTH write planning and point
    reads locate candidates by bucket arithmetic alone — no index
    table, no bloom I/O, no key scan, O(1) metadata at any table size.

    One insert commit lands eight bucket files; a single-key upsert
    must rewrite exactly one of them (pinned ``bucket_pruned = 7`` —
    seven candidates dropped before any scan), and the record-key point
    read touches one file (pinned ``read_pruned = 7``). Rows are the
    merged end state: pruning changes I/O, never results. At 100 TB
    this is the fixed-cost ingest path — candidate location stays
    constant-time while bloom sidecars and record indexes grow with the
    table."""
    base = load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "bucketidx", ["c_custkey"], "ver",
        bucket_index=8,
    )
    t.write(base, op="insert", instant="001")
    t.write(
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(2).cast("long")),
        op="upsert", instant="002",
    )
    bucket_pruned = t.last_scan["bucket"]
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    return out.select(
        "c_custkey", "c_name", "c_acctbal", "ver",
        F.lit(bucket_pruned).cast("int").alias("bucket_pruned"),
        F.lit(t.last_scan["bucket"]).cast("int").alias("read_pruned"),
    )


@query(
    "lake_type_widening",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 0
                THEN CAST(c_nationkey AS BIGINT) + 1099511627776
                ELSE CAST(c_nationkey AS BIGINT) END AS n,
           CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS ver
    FROM customer
    """,
)
def lake_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution (Hudi/Iceberg promotion rules):
    an upsert whose ``n`` column arrives as LONG with values past the
    int32 range widens the stored INT column in place — metadata-only
    (old narrow parquet files serve under the widened schema at scan;
    Spark 4 upcasts int32→long natively), where the previous
    cast-to-stored behavior would have overflowed (ANSI: thrown).
    End state: widened values on patched keys, intact narrow-file
    values elsewhere, one schema for all of it."""
    base = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey", "c_name",
            F.col("c_nationkey").cast("int").alias("n"),
        )
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "widen", ["c_custkey"], "ver",
    )
    t.write(base, op="insert", instant="001")
    wide = (
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn(
            "n", F.col("n").cast("long") + F.lit(1099511627776)
        )
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t.write(wide, op="upsert", instant="002")
    return t.snapshot().select("c_custkey", "c_name", "n", "ver")


@query(
    "lake_partial_update",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment,
           CASE WHEN c_custkey % 10 = 0
                THEN round(c_acctbal + 500.0, 2) ELSE round(c_acctbal, 2)
           END AS bal,
           CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS ver
    FROM customer
    """,
)
def lake_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update merge payload — Hudi's
    ``PartialUpdateAvroPayload``: per COLUMN the newest non-null
    version wins, so a producer upserts a SPARSE patch (here: a new
    balance with NULL name/segment) and the untouched columns inherit
    the stored values instead of being nulled out. The fold is still
    one hash aggregation (a ``max_by`` per column, map-side combined)
    — the same single-shuffle shape as the default whole-row payload
    at any scale. The end state must show patched balances, inherited
    names/segments, and the winner's precombine."""
    base = load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "partial", ["c_custkey"], "ver",
        payload="partial_update",
    )
    t.write(base, op="insert", instant="001")
    patch = (
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 500.0)
        .withColumn("c_name", F.lit(None).cast("string"))
        .withColumn("c_mktsegment", F.lit(None).cast("string"))
    )
    t.write(patch, op="upsert", instant="002")
    return t.snapshot().select(
        "c_custkey", "c_name", "c_mktsegment",
        F.round("c_acctbal", 2).alias("bal"), "ver",
    )


@query(
    "lake_partial_update_mor",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 5 = 0 AND c_custkey % 10 <> 0
                THEN 'STALE' ELSE c_mktsegment END AS seg,
           CASE WHEN c_custkey % 10 = 0
                THEN round(c_acctbal + 600.0, 2) ELSE round(c_acctbal, 2)
           END AS bal,
           CAST(CASE WHEN c_custkey % 10 = 0 THEN 3 ELSE 1 END AS BIGINT)
             AS ver
    FROM customer
    """,
)
def lake_partial_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update payload on MERGE_ON_READ across delta merges and
    a compaction (r8 verdict #6 — the reference's streaming tables are
    MOR, ``SRC/package.scala:176``, so a real producer hits THIS
    combination first). The fold runs at READ/COMPACT time over the
    appended deltas; eligibility is the running max of the precombine
    in commit order (Hudi's log-merge order), making the end state
    IDENTICAL to the COW write-time fold:

    - 002 delta patches %10 keys to ver 2 (new balance, null
      name/segment → inherit);
    - 003 delta is an OUT-OF-ORDER ver-1 patch of %5 keys setting the
      segment: it must land on stored-ver-1 keys (%5 minus %10) and be
      INELIGIBLE on ver-2 keys (%10) — a flat newest-non-null fold
      without the eligibility rule would wrongly apply it there;
    - 004 compacts (materializes the fold into base files);
    - 005 patches %10 keys to ver 3 post-compact, composing against
      the materialized rows (name/segment stay inherited).
    """
    base = load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "partial_mor", ["c_custkey"], "ver",
        table_type="MERGE_ON_READ", payload="partial_update",
    )
    t.write(base, op="insert", instant="001")
    t.write(
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 500.0)
        .withColumn("c_name", F.lit(None).cast("string"))
        .withColumn("c_mktsegment", F.lit(None).cast("string")),
        op="upsert", instant="002",
    )
    t.write(
        base.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("c_mktsegment", F.lit("STALE"))
        .withColumn("c_acctbal", F.lit(None).cast("double"))
        .withColumn("c_name", F.lit(None).cast("string")),
        op="upsert", instant="003",
    )
    t.compact(instant="004")
    t.write(
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(3).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 600.0)
        .withColumn("c_name", F.lit(None).cast("string"))
        .withColumn("c_mktsegment", F.lit(None).cast("string")),
        op="upsert", instant="005",
    )
    return t.snapshot().select(
        "c_custkey", "c_name",
        F.col("c_mktsegment").alias("seg"),
        F.round("c_acctbal", 2).alias("bal"), "ver",
    )


@query(
    "lake_partial_update_dupbatch",
    oracle="""
    SELECT tt, c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 0
                THEN 'PATCHED' ELSE c_mktsegment END AS seg,
           CASE WHEN c_custkey % 10 = 0
                THEN round(c_acctbal + 500.0, 2) ELSE round(c_acctbal, 2)
           END AS bal,
           CAST(CASE WHEN c_custkey % 10 = 0 THEN 3 ELSE 1 END AS BIGINT)
             AS ver
    FROM customer
    CROSS JOIN (VALUES ('COW'), ('MOR')) AS t(tt)
    """,
)
def lake_partial_update_dupbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-batch duplicate keys under ``payload='partial_update'``
    (the r12 write-time preCombine, ``lake/table.py
    _precombine_batch`` — Hudi's combine-before-write): ONE upsert
    batch carries TWO versions of each %10 key — a fresh sparse patch
    (ver 3: new balance, null name/segment) and a STALE twin (ver 2:
    only the segment, null balance/name). The batch pre-merges
    pairwise per key before hitting either table type, so the stale
    twin's segment rides inside the fresh unit (the losing record's
    field fills the winner's null — ``PartialUpdateAvroPayload``
    semantics), the unit overwrites the stored row's balance/segment,
    and the untouched name inherits. Both table types run the SAME
    history and are graded in ONE row (``tt`` column): before the r12
    fix the MOR read fold replayed the duplicates row-wise and COW's
    union fold could resurrect stored values over in-batch winners —
    the ADVICE divergence this row keeps driver-graded."""
    base = load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )
    fresh = (
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(3).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 500.0)
        .withColumn("c_name", F.lit(None).cast("string"))
        .withColumn("c_mktsegment", F.lit(None).cast("string"))
    )
    stale_twin = (
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.lit(None).cast("double"))
        .withColumn("c_name", F.lit(None).cast("string"))
        .withColumn("c_mktsegment", F.lit("PATCHED"))
    )
    dup_batch = fresh.unionByName(stale_twin)
    outs = []
    for tt in ("COW", "MOR"):
        t = LakeTable(
            spark, _tmp_base(), "q", f"pud_{tt}", ["c_custkey"], "ver",
            table_type=(
                "MERGE_ON_READ" if tt == "MOR" else "COPY_ON_WRITE"
            ),
            payload="partial_update",
        )
        t.write(base, op="insert", instant="001")
        t.write(dup_batch, op="upsert", instant="002")
        outs.append(
            t.snapshot().select(
                F.lit(tt).alias("tt"),
                "c_custkey", "c_name",
                F.col("c_mktsegment").alias("seg"),
                F.round("c_acctbal", 2).alias("bal"), "ver",
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "lake_record_index_pointread",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           CAST(2 AS BIGINT) AS ver,
           CAST(3 AS INT) AS read_pruned
    FROM customer WHERE c_custkey = 8
    """,
)
def lake_record_index_pointread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-level index on the READ path (r8 — the read twin of the
    write-planning probe that ``lake_record_index_move`` grades):
    Hudi's ``RECORD_INDEX`` analog, an exact persistent key→file
    mapping sharded by key hash (``_index/<instant>/shard=<k>/``). A
    key-equality read probes only the operand key's shard dirs (~1/64
    of index bytes at any table size), keeps exactly the files the
    index maps the key to — dead mappings drop out against the live
    set — and scans nothing else. Four interleaved inserts leave every
    file spanning the full key range (range stats prune nothing); the
    upsert moves key 8's winning row to a new file; the point read must
    find exactly that file (pinned ``read_pruned = 3``) and return the
    ver=2 row. Exactness beats the bloom index here (no false-positive
    scans) and needs no bucket modulus; cost is one tiny sharded index
    join per read. ``index_shards=8`` sizes the shard fan-out to the
    fixture (each commit's modulus is pinned in its ``.nshards``
    marker — an operator runs 64+ at scale and may resize freely
    between commits)."""
    base = load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "recidx", ["c_custkey"], "ver",
        record_index=True, index_shards=8,
    )
    for i in range(4):
        t.write(
            base.filter(F.col("c_custkey") % 4 == i).coalesce(1),
            op="insert", instant=f"00{i + 1}",
        )
    t.write(
        base.filter(F.col("c_custkey") == 8)
        .withColumn("ver", F.lit(2).cast("long")),
        op="upsert", instant="005",
    )
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    return out.select(
        "c_custkey", "c_name", "c_acctbal", "ver",
        F.lit(t.last_scan["record_index"]).cast("int").alias("read_pruned"),
    )


@query(
    "lake_bucket_mor_pointread",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           CAST(3 AS BIGINT) AS ver,
           CAST(7 AS INT) AS read_pruned,
           CAST(2 AS INT) AS delta_files
    FROM customer WHERE c_custkey = 8
    """,
)
def lake_bucket_mor_pointread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-index point read over MERGE_ON_READ with retained delta
    files (r7 verdict #4 — the delta-safety twin of
    ``lake_bucket_index_pointread``'s COW case): deltas are
    bucket-stamped by the same Spark-side ``pmod(xxhash64(key), n)``
    as bases, so EVERY version of a key — base, superseding delta,
    late out-of-order delta — shares one bucket and the merge set is
    pruned or kept as a unit; bucket pruning can never separate a
    stale row from the newer version that beats it.

    Sequence: bucketed insert (8 base files) → delta ver=3 for key 8
    (supersession) → delta ver=2 for key 8 (OUT-OF-ORDER arrival; must
    lose the precombine merge to the already-landed ver=3). The point
    read keeps key 8's bucket (1 base + 2 deltas, pinned
    ``delta_files = 2``), prunes the seven other-bucket bases (pinned
    ``read_pruned = 7``), and returns the ver=3 winner — proving the
    prune composes with the MOR merge, not just the COW scan."""
    base = load(spark, sf_dir, "customer").withColumn(
        "ver", F.lit(1).cast("long")
    )
    t = LakeTable(
        spark, _tmp_base(), "q", "bucketmor", ["c_custkey"], "ver",
        bucket_index=8, table_type="MERGE_ON_READ",
    )
    t.write(base, op="insert", instant="001")
    key8 = base.filter(F.col("c_custkey") == 8)
    t.write(
        key8.withColumn("ver", F.lit(3).cast("long")),
        op="upsert", instant="002",
    )
    t.write(
        key8.withColumn("ver", F.lit(2).cast("long")),
        op="upsert", instant="003",
    )
    out = t.snapshot(predicate=[("_record_key", "=", "8")])
    deltas = sum(
        1
        for inst in ("002", "003")
        for f in t.tl.manifest(inst)["added"]
        if f["kind"] == "delta"
    )
    return out.select(
        "c_custkey", "c_name", "c_acctbal", "ver",
        F.lit(t.last_scan["bucket"]).cast("int").alias("read_pruned"),
        F.lit(deltas).cast("int").alias("delta_files"),
    )


@query(
    "lake_delete_partition",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
           CAST(1 AS BIGINT) AS ver,
           CAST(1 AS INT) AS removed_any
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    """,
)
def lake_delete_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi's ``delete_partition`` write operation: dropping a whole
    partition is a MANIFEST-ONLY commit (``added=[]``, ``replaced`` =
    the partition's live files) — at 100 TB a day/tenant/source expires
    for the cost of one small JSON write, with the cleaner reaping the
    dereferenced files lazily. Graded: the post-drop snapshot equals the
    other partitions exactly; ``removed_any`` pins that files were
    actually dereferenced (a regression to a no-op drop fails values,
    not just timing)."""
    t = LakeTable(
        spark, _tmp_base(), "q", "delpart", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"],
    )
    t.write(_batch1(spark, sf_dir), op="insert", instant="001")
    n = t.delete_partitions(
        [{"c_mktsegment": "BUILDING"}], instant="002"
    )
    return t.snapshot().select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal", "ver",
        F.lit(1 if n > 0 else 0).cast("int").alias("removed_any"),
    )


@query(
    "lake_insert_overwrite",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
           CAST(CASE WHEN c_mktsegment = 'MACHINERY'
                     THEN 2 ELSE 1 END AS BIGINT) AS ver
    FROM customer
    WHERE c_mktsegment <> 'MACHINERY' OR c_custkey % 2 = 0
    """,
)
def lake_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi's ``insert_overwrite`` op: the batch REPLACES the touched
    partitions' contents wholesale (no key merge) — the idempotent
    backfill/dimension-reload primitive. One partition is refreshed
    with a strict subset at ver=2; every other partition must carry
    over by manifest reference untouched — the graded end state proves
    both the replacement and the carry-over."""
    t = LakeTable(
        spark, _tmp_base(), "q", "iow", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"],
    )
    t.write(_batch1(spark, sf_dir), op="insert", instant="001")
    refresh = (
        _batch1(spark, sf_dir)
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .filter(F.col("c_custkey") % 2 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
    )
    t.write(refresh, op="insert_overwrite", instant="002")
    return t.snapshot().select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal", "ver"
    )


@query(
    "lake_merge_endstate",
    oracle="""
    WITH b1 AS (
      SELECT c_custkey, c_name, c_acctbal, CAST(1 AS BIGINT) AS ver,
             '001' AS _commit_time
      FROM customer),
    survivors AS (
      -- WHEN MATCHED AND t.c_acctbal < 0 THEN DELETE; matched keys are
      -- custkey % 3 = 0 (the source's update slice)
      SELECT * FROM b1
      WHERE NOT (c_custkey % 3 = 0 AND c_acctbal < 0)
        -- updated keys' base rows lose to the ver-2 update row
        AND NOT (c_custkey % 3 = 0 AND c_acctbal >= 0)),
    upd AS (
      SELECT c_custkey, c_name, c_acctbal + 500.0 AS c_acctbal,
             CAST(2 AS BIGINT) AS ver, '002' AS _commit_time
      FROM b1 WHERE c_custkey % 3 = 0 AND c_acctbal >= 0),
    ins AS (
      SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
             CAST(5 AS BIGINT) AS ver, '002' AS _commit_time
      FROM customer WHERE c_custkey % 5 = 0)
    SELECT * FROM survivors
    UNION ALL SELECT * FROM upd
    UNION ALL SELECT * FROM ins
    """,
)
def lake_merge_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE INTO in one commit — matched-and-negative-balance rows
    DELETE, other matched rows UPDATE (balance +500, precombine bumped
    so the update deterministically wins), unmatched source rows
    INSERT. The graded end state proves all three clauses landed
    atomically in instant 002 (``lake/table.py merge_into``)."""
    base = _batch1(spark, sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "ver"
    )
    t = LakeTable(spark, _tmp_base(), "q", "mrg", ["c_custkey"], "ver")
    t.write(base, op="insert", instant="001")
    src_upd = base.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "ver", F.lit(9).cast("long")
    )
    src_ins = (
        base.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("ver", F.lit(5).cast("long"))
    )
    t.merge_into(
        src_upd.unionByName(src_ins),
        update_set={"c_acctbal": "t.c_acctbal + 500.0", "ver": "t.ver + 1"},
        delete_condition="t.c_acctbal < 0",
        instant="002",
    )
    return t.snapshot().select(
        "c_custkey", "c_name", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_merge_ambiguity_contract",
    oracle="""
    SELECT tt, c_custkey, c_name, round(bal, 2) AS bal, ver,
           CAST(1 AS INT) AS ambiguous_raises
    FROM (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS bal,
             CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END
                  AS BIGINT) AS ver
      FROM customer WHERE c_custkey % 20 <> 0)
    CROSS JOIN (VALUES ('COW'), ('MOR')) AS t(tt)
    """,
)
def lake_merge_ambiguity_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE cardinality contract under the driver's value gate (the
    r12 review fix, ``lake/table.py merge_into``): a valid dup-free
    MERGE (update + delete clauses, one source row per key) commits on
    BOTH table types, then the AMBIGUOUS variant — a duplicate-key
    source whose rows would route one version to update and another to
    a second update of the same matched key — must raise BEFORE
    committing (ANSI MERGE / Delta cardinality-violation semantics;
    silent resolution is a COW/MOR seam — a same-instant tombstone +
    data row reads differently through the MOR fold than through COW's
    eager delete). Graded as VALUES: ``ambiguous_raises`` is 1 only if
    the engine raised, and the row set itself proves the failed merge
    left the committed end state untouched (raise-before-commit).
    Duplicate UNMATCHED source keys (the deleted %20 slice re-offered
    twice) are NOT ambiguous and flow through the upsert path's
    precombine — the gate is scoped exactly to ANSI's matched-row
    rule."""
    base = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .withColumn("ver", F.lit(1).cast("long"))
    )
    outs = []
    for tt in ("COW", "MOR"):
        t = LakeTable(
            spark, _tmp_base(), "q", f"mrgamb_{tt}", ["c_custkey"], "ver",
            table_type=(
                "MERGE_ON_READ" if tt == "MOR" else "COPY_ON_WRITE"
            ),
        )
        t.write(base, op="insert", instant="001")
        src = base.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "ver", F.lit(2).cast("long")
        )
        t.merge_into(
            src,
            update_set={"c_acctbal": "t.c_acctbal + 100.0", "ver": "s.ver"},
            delete_condition="s.c_custkey % 20 = 0",
            instant="002",
        )
        dup_src = src.unionByName(
            src.withColumn("ver", F.lit(3).cast("long"))
        )
        raised = 0
        try:
            t.merge_into(dup_src, update_set={"ver": "s.ver"}, instant="003")
        except ValueError:
            raised = 1
        outs.append(
            t.snapshot().select(
                F.lit(tt).alias("tt"),
                "c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("bal"), "ver",
                F.lit(raised).cast("int").alias("ambiguous_raises"),
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "lake_cleaner_endstate",
    oracle=f"""
    WITH u AS ({_B1_SQL} UNION ALL {_B2_SQL}
               UNION ALL
               SELECT c_custkey, c_name, c_nationkey,
                      c_acctbal + 2000.0 AS c_acctbal, c_mktsegment,
                      CAST(3 AS BIGINT) AS ver, '003' AS _commit_time
               FROM customer WHERE c_custkey % 10 = 0)
    SELECT c_custkey, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_cleaner_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaner through the VALUE gate: three commits, then
    ``clean(retain_commits=2)`` physically deletes files superseded
    before the retention horizon — and the snapshot must be unchanged
    (the cleaner may only remove files no retained commit references).
    The query asserts files were actually deleted (the graded rows are
    wrong if cleaning touched a live file; the assert guards the
    'cleaned nothing' degenerate pass). Reference policy:
    hoodie.cleaner.commits.retained (SRC/package.scala:30)."""
    t = LakeTable(spark, _tmp_base(), "q", "cleaner", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    b3 = (
        _batch1(spark, sf_dir)
        .filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(3).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 2000.0)
    )
    t.write(b3, op="upsert", instant="003")
    deleted = t.clean(retain_commits=2)
    if not deleted:
        # RuntimeError, not assert: the degenerate nothing-cleaned pass
        # must fail even under python -O (r5 advice)
        raise RuntimeError("cleaner deleted no files — nothing was exercised")
    return t.snapshot().select(
        "c_custkey", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_locked_writers_endstate",
    oracle=f"""
    WITH u AS ({_B1_SQL} UNION ALL {_B2_SQL})
    SELECT c_custkey, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_locked_writers_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-writer OCC through the VALUE gate: two INDEPENDENT
    LakeTable handles (as two processes would hold) write to the same
    table path under the fencing ``LeaseLockProvider`` — the multi-host
    lock the reference delegates to ZooKeeper
    (SRC/package.scala:38-47). Each commit acquires the lease, validates
    its fencing token at the manifest publish, and releases; the graded
    end-state proves the serialized commits compose into exactly the
    single-writer upsert semantics (writer 2's handle must re-plan
    against writer 1's published manifest, not its own stale view)."""
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    base = _tmp_base()
    w1 = LakeTable(
        spark, base, "q", "occ", ["c_custkey"], "ver",
        lock_provider=LeaseLockProvider(
            f"{base}/q/occ", holder="writer-1", lease_seconds=30
        ),
    )
    w1.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    w2 = LakeTable(
        spark, base, "q", "occ", ["c_custkey"], "ver",
        lock_provider=LeaseLockProvider(
            f"{base}/q/occ", holder="writer-2", lease_seconds=30
        ),
    )
    w2.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    return w2.snapshot().select(
        "c_custkey", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_archive_endstate",
    oracle=f"""
    WITH u AS ({_B1_SQL} UNION ALL {_B2_SQL}
               UNION ALL
               SELECT c_custkey, c_name, c_nationkey,
                      c_acctbal + 2000.0 AS c_acctbal, c_mktsegment,
                      CAST(3 AS BIGINT) AS ver, '003' AS _commit_time
               FROM customer WHERE c_custkey % 100 = 0
               UNION ALL
               SELECT c_custkey, c_name, c_nationkey,
                      c_acctbal + 3000.0 AS c_acctbal, c_mktsegment,
                      CAST(4 AS BIGINT) AS ver, '004' AS _commit_time
               FROM customer WHERE c_custkey % 100 = 0)
    SELECT c_custkey, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_archive_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeline ARCHIVAL through the value gate: after four commits the
    active timeline is trimmed to the newest two (older instants move
    to the archived timeline — as in Hudi, which bounds active-
    timeline listing cost at high commit counts), and the snapshot must
    be byte-identical — archival moves timeline METADATA only, never
    data files. The assert guards the degenerate nothing-archived
    pass."""
    t = LakeTable(spark, _tmp_base(), "q", "arch", ["c_custkey"], "ver")
    t.write(_batch1(spark, sf_dir), op="upsert", instant="001")
    t.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    for ver, bump, instant in ((3, 2000.0, "003"), (4, 3000.0, "004")):
        b = (
            _batch1(spark, sf_dir)
            .filter(F.col("c_custkey") % 100 == 0)
            .withColumn("ver", F.lit(ver).cast("long"))
            .withColumn("c_acctbal", F.col("c_acctbal") + bump)
        )
        t.write(b, op="upsert", instant=instant)
    archived = t.archive_timeline(keep_commits=2)
    if not archived:
        # RuntimeError, not assert: the degenerate nothing-archived pass
        # must fail even under python -O (r5 advice)
        raise RuntimeError(
            "archival moved no instants — nothing was exercised"
        )
    return t.snapshot().select(
        "c_custkey", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_restore_backfill_contract",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(CASE c_mktsegment
                WHEN 'AUTOMOBILE' THEN 1 WHEN 'BUILDING' THEN 2
                WHEN 'FURNITURE' THEN 3 WHEN 'HOUSEHOLD' THEN 4
                WHEN 'MACHINERY' THEN 5 END AS BIGINT) AS ver,
           concat('00', CASE c_mktsegment
                WHEN 'AUTOMOBILE' THEN 1 WHEN 'BUILDING' THEN 2
                WHEN 'FURNITURE' THEN 3 WHEN 'HOUSEHOLD' THEN 4
                WHEN 'MACHINERY' THEN 5 END) AS _commit_time
    FROM customer
    """,
)
def lake_restore_backfill_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill × archive × restore triple — the exact shape that
    physically DESTROYED live data before the r13 fix (dd42d14, pinned
    in pytest by ``test_restore_over_backfill_keeps_archived_commit_
    files``; graded here per the r13 verdict): five per-segment commits
    leave each partition's files live from their CREATING commit;
    archival moves commits 001/002's manifests out of the active
    timeline (their data files remain live — no later commit touched
    those partitions); a mid-life record-index enable triggers a
    metadata-only ``index_backfill`` commit that re-lists every live
    file including the archived-era ones; then ``restore`` to the
    savepointed pre-backfill instant drops ONLY the backfill commit.
    Before the fix, restore's keep-set (active manifests only) missed
    data/001 and data/002 and deleted them — the oracle's full-table
    equality over ALL five segments (values + creating commit stamps)
    proves every archived-era row survived and still serves."""
    base = _tmp_base()
    t = LakeTable(
        spark, base, "q", "rbf", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"],
    )
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    cust_df = load(spark, sf_dir, "customer")
    for i, seg in enumerate(segs, start=1):
        t.write(
            cust_df.filter(F.col("c_mktsegment") == seg).withColumn(
                "ver", F.lit(i).cast("long")
            ),
            op="upsert", instant=f"00{i}",
        )
    t.savepoint("005")  # the restore point, pinned Hudi-style
    archived = t.archive_timeline(keep_commits=3)
    if archived != ["001", "002"]:
        # RuntimeError, not assert: the gate must survive python -O
        raise RuntimeError(f"archival moved {archived!r}, not 001/002")
    t2 = LakeTable(
        spark, base, "q", "rbf", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"], record_index=True,
    )
    backfill = t2.backfill_record_index()
    if backfill is None:
        raise RuntimeError("record-index backfill committed nothing")
    dropped = t2.restore("005")
    if dropped != [backfill]:
        raise RuntimeError(
            f"restore dropped {dropped!r}, expected only {backfill!r}"
        )
    return t2.snapshot().select(
        "c_custkey", "c_mktsegment", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_fenced_writer_endstate",
    oracle=f"""
    WITH u AS ({_B1_SQL}
               UNION ALL
               SELECT c_custkey, c_name, c_nationkey,
                      c_acctbal + 500.0 AS c_acctbal, c_mktsegment,
                      CAST(3 AS BIGINT) AS ver, '003' AS _commit_time
               FROM customer WHERE c_custkey % 3 = 0)
    SELECT c_custkey, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_fenced_writer_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zombie-writer fencing through the VALUE gate (r5 verdict #2,
    ``SRC/package.scala:38-47`` ZK-OCC intent): writer A passes the
    pre-publish validate, stalls until its lease expires, writer B
    takes over (recording the fence snapshot in its
    ``_lease/fence-<token>.json`` record),
    then A's delayed ``os.replace`` lands its manifest AND A crashes
    before the post-publish re-validate can roll it back — the worst
    case the two in-line checks cannot catch. The graded end-state is
    batch1 ⊎ batch3 ONLY: the zombie's '002' manifest exists on disk
    but read planning discards it (older fence token, instant not in
    the takeover snapshot), so its ver=2 rows never surface. Exercises
    ``locks.py:_record_fence`` + ``timeline.py:Timeline._zombies``."""
    import time as _time

    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    base = _tmp_base()
    tpath = f"{base}/q/fenced"

    class _Crash(BaseException):
        """Simulated writer death after publish, before re-validate."""

    a = LeaseLockProvider(tpath, holder="writer-a", lease_seconds=60)
    w_a = LakeTable(
        spark, base, "q", "fenced", ["c_custkey"], "ver", lock_provider=a
    )
    w_a.write(_batch1(spark, sf_dir), op="upsert", instant="001")

    b = LeaseLockProvider(tpath, holder="writer-b", lease_seconds=60)
    real_validate = a.validate
    state = {"calls": 0}

    def stall_then_crash() -> None:
        state["calls"] += 1
        if state["calls"] == 1:
            real_validate()  # pre-publish check passes (still newest)
            # the stall: back-date a's lease so it is expired, as a
            # GC/SIGSTOP pause past the lease would leave it
            a._rewrite_own(a.token, expires_at=_time.time() - 1.0)
            b.acquire(wait_seconds=5.0)  # fenced takeover, snapshot=001
            b.release()
        else:
            raise _Crash()  # dies between rename and re-validate

    a.validate = stall_then_crash
    try:
        w_a.write(_batch2(spark, sf_dir), op="upsert", instant="002")
    except _Crash:
        pass  # the zombie manifest '002' is now on disk, unprotected
    b3 = (
        _batch1(spark, sf_dir)
        .filter(F.col("c_custkey") % 3 == 0)
        .withColumn("ver", F.lit(3).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 500.0)
    )
    w_b = LakeTable(
        spark, base, "q", "fenced", ["c_custkey"], "ver",
        lock_provider=LeaseLockProvider(
            tpath, holder="writer-b2", lease_seconds=30
        ),
    )
    w_b.write(b3, op="upsert", instant="003")
    if os.path.exists(
        os.path.join(w_b.tl.commits_dir, "002.json")
    ) is False:
        # the scenario must genuinely leave the zombie file behind —
        # otherwise this query silently degrades to plain OCC
        raise RuntimeError("zombie manifest missing — fence not exercised")
    if w_b.timeline() != ["001", "003"]:
        raise RuntimeError(f"fence failed: timeline {w_b.timeline()!r}")
    return w_b.snapshot().select(
        "c_custkey", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_partition_sync_endstate",
    oracle="""
    SELECT c_mktsegment,
           count(*)::BIGINT AS n,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,4))), 2) AS DOUBLE)
             AS sum_bal,
           TRUE AS is_registered
    FROM customer GROUP BY c_mktsegment
    """,
)
def lake_partition_sync_endstate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-granular catalog sync through the VALUE gate (r5
    verdict #6 — ``SRC/util/HudiConfig.scala:38-44``'s per-partition
    metastore registration): a c_mktsegment-partitioned lake table is
    synced into the session catalog; the graded aggregate is computed
    BY SQL OVER THE SYNCED CATALOG TABLE (not the LakeTable handle),
    and each segment's ``is_registered`` flag comes from
    ``SHOW PARTITIONS`` — if sync failed to register a partition the
    flag goes false/NULL and the row hash breaks. Per-partition sums
    accumulate in DECIMAL(38,4) exactly (float policy)."""
    t = LakeTable(
        spark, _tmp_base(), "q", "psync", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"],
    )
    t.write(_batch1(spark, sf_dir), op="insert", instant="001")
    # self-heal an orphaned warehouse location (a previous PROCESS's
    # synced copy whose catalog entry died with its session): drop any
    # registered table, then clear the leftover directory — otherwise
    # saveAsTable refuses with LOCATION_ALREADY_EXISTS
    spark.sql("DROP TABLE IF EXISTS q_psync_synced")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "q_psync_synced"), ignore_errors=True)
    ident = t.sync_table("q_psync_synced")
    parts = t.synced_partitions(ident)  # catalog metadata, M3-sized
    segs = [p.split("=", 1)[1] for p in parts]
    reg = spark.createDataFrame(
        [(s, True) for s in segs], "c_mktsegment string, is_registered boolean"
    )
    agg = spark.sql(
        f"""
        SELECT c_mktsegment,
               count(*) AS n,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,4))), 2)
                    AS DOUBLE) AS sum_bal
        FROM {ident} GROUP BY c_mktsegment
        """
    )
    return agg.join(F.broadcast(reg), "c_mktsegment", "left").select(
        "c_mktsegment", "n", "sum_bal",
        F.coalesce("is_registered", F.lit(False)).alias("is_registered"),
    )


@query(
    "lake_optimistic_writers_endstate",
    oracle=f"""
    WITH segs AS (SELECT DISTINCT c_mktsegment AS s FROM customer
                  ORDER BY 1 LIMIT 2),
    u AS ({_B1_SQL}
          UNION ALL
          SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0,
                 c_mktsegment, CAST(2 AS BIGINT) AS ver,
                 CASE WHEN c_mktsegment = (SELECT min(s) FROM segs)
                      THEN '003' ELSE '002' END AS _commit_time
          FROM customer WHERE c_mktsegment IN (SELECT s FROM segs))
    SELECT c_custkey, c_mktsegment, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_optimistic_writers_endstate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Optimistic multi-writer commits through the VALUE gate (Hudi's
    lock-arbitrated concurrent-writer model, ``SRC/package.scala:
    38-47``): writer A merges and writes its data files with NO lock
    held; writer B's entire commit (a different partition) lands in
    that window; A's publish passes the conflict check (disjoint
    replaced files, disjoint (partition, key-range) additions) and BOTH
    commits survive — the end-state equals the serialized two-commit
    upsert. Exercises ``LakeTable.write_optimistic`` +
    ``Timeline.check_conflicts``."""
    t_seed = LakeTable(
        spark, _tmp_base(), "q", "optw", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"],
    )
    base = t_seed.path.rsplit("/q/optw", 1)[0]
    t_seed.write(_batch1(spark, sf_dir), op="insert", instant="001")
    segs = sorted(
        r[0]
        for r in load(spark, sf_dir, "customer")
        .select("c_mktsegment").distinct().collect()
    )[:2]
    s1, s2 = segs

    def handle() -> LakeTable:
        return LakeTable(
            spark, base, "q", "optw", ["c_custkey"], "ver",
            partition_keys=["c_mktsegment"],
        )

    t_a, t_b = handle(), handle()
    bump = (
        _batch1(spark, sf_dir)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )
    orig = t_a._writer_lock
    fired = {"n": 0}

    def lock_after_concurrent_commit():
        if fired["n"] == 0:
            fired["n"] = 1
            t_b.write_optimistic(
                bump.filter(F.col("c_mktsegment") == s2),
                op="upsert", instant="002",
            )
        return orig()

    t_a._writer_lock = lock_after_concurrent_commit
    t_a.write_optimistic(
        bump.filter(F.col("c_mktsegment") == s1), op="upsert", instant="003"
    )
    if fired["n"] != 1:
        raise RuntimeError("concurrent commit did not interleave")
    reader = handle()
    if reader.timeline() != ["001", "002", "003"]:
        raise RuntimeError(f"bad timeline {reader.timeline()!r}")
    return reader.snapshot().select(
        "c_custkey", "c_mktsegment", "c_acctbal", "ver", "_commit_time"
    )


@query(
    "lake_bootstrap_adopt",
    oracle=f"""
    WITH u AS (
      {_B1_SQL}
      UNION ALL
      SELECT * FROM ({_B2_SQL}) WHERE c_mktsegment = 'BUILDING'
    )
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal, ver, _commit_time
    FROM u
    QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1
    """,
)
def lake_bootstrap_adopt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only bootstrap end-state (Hudi METADATA_ONLY analog;
    full-rewrite cousin: ``bootstrap_parquet`` / SRC/Hive2Hudi.scala):
    an existing hive-partitioned parquet directory is adopted as commit
    001 with ZERO data rewrite (gated: no engine-written file exists
    after bootstrap), then an ordinary upsert (002) copy-on-writes ONLY
    the key-hit adopted files — the snapshot below is served from a MIX
    of adopted source files (meta columns synthesized at read time) and
    engine-written files, and equals the plain upsert oracle. At 100 TB
    this is the onboarding path: a metadata pass instead of rewriting
    the corpus, then incremental migration."""
    base = _tmp_base()
    src = os.path.join(base, "source")
    _batch1(spark, sf_dir).write.partitionBy("c_mktsegment").parquet(src)
    t = LakeTable(
        spark, base, "q", "adopt", ["c_custkey"], "ver",
        partition_keys=["c_mktsegment"],
    )
    t.bootstrap_metadata_only(src, instant="001")
    n_engine = sum(
        1
        for _r, _d, fns in os.walk(t.data_dir)
        for fn in fns
        if fn.endswith(".parquet")
    ) if os.path.isdir(t.data_dir) else 0
    if n_engine != 0 or not all(
        f.get("external") for f in t.tl.live_files()
    ):
        raise RuntimeError("bootstrap rewrote data")
    t.write(
        _batch2(spark, sf_dir).filter(F.col("c_mktsegment") == "BUILDING"),
        op="upsert",
        instant="002",
    )
    live = t.tl.live_files()
    if not any(f.get("external") for f in live) or not any(
        not f.get("external") for f in live
    ):
        raise RuntimeError("snapshot is not served from mixed files")
    replaced = t.tl.manifest("002")["replaced"]
    if not all(os.path.isabs(p) and os.path.exists(p) for p in replaced):
        raise RuntimeError("upsert deleted or relocated adopted files")
    return t.snapshot().select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal", "ver",
        "_commit_time",
    )
