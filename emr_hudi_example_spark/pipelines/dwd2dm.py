"""DWD → DM: incremental aggregation with delta-merge.

Port of ``DWD2DM`` (``SRC/DWD2DM.scala:18-86``):

1. ``dm_init`` — full-table GROUP BY SUM seeds the mart (:28-41);
2. ``dm_increment`` — one tick: aggregate ONLY the incremental DWD slice,
   left-join the current mart snapshot, add running sums
   (``i.sum + nvl(s.sum, 0)``, :75-79), upsert back.

The reference's double-add hazard (SURVEY.md §3.3: replaying a slice
re-adds it — correctness rests on the cursor, not idempotence) is
preserved and covered by a test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from emr_hudi_example_spark.functions.core import created_ts_expr
from emr_hudi_example_spark.lake import LakeTable, TableNotFound
from emr_hudi_example_spark.lake.table import _empty_df
from emr_hudi_example_spark.operators.relational import delta_merge_running_agg


def dm_init(
    dwd: LakeTable,
    dm: LakeTable,
    group_cols: list[str],
    value_col: str,
    sum_alias: str,
    created_ts_millis: int | None = None,
) -> str:
    """Seed the mart from the full DWD snapshot (SRC/DWD2DM.scala:28-41)."""
    agg = (
        dwd.logical()
        .groupBy(*group_cols)
        .agg(F.sum(value_col).alias(sum_alias))
        .withColumn("created_ts", created_ts_expr(created_ts_millis))
    )
    return dm.write(agg, op="upsert")


def dm_increment(
    dwd: LakeTable,
    dm: LakeTable,
    begin: str | None,
    end: str | None,
    group_cols: list[str],
    value_col: str,
    sum_alias: str,
    created_ts_millis: int | None = None,
) -> str | None:
    """One tick (SRC/DWD2DM.scala:54-85). Returns the committed instant
    (None when the slice was empty).

    No ``persist``/``isEmpty`` guard: the merged frame goes straight to
    ``dm.write``, and an upsert into an existing mart publishes nothing
    for an empty slice (``LakeTable._commit_upsert``). An unseeded
    mart is created by the first tick, empty slice or not: a creating
    commit always publishes.

    Each table's commit log is listed once per op: the slice read and
    the mart snapshot raise :class:`TableNotFound` on a table with no
    commit, which is the cold start (no source yet: nothing to do) and
    the unseeded mart (no running sums yet)."""
    try:
        inc = dwd.incremental(begin, end)
    except TableNotFound:  # cold start: source not yet seeded
        return None
    inc_agg = inc.groupBy(*group_cols).agg(F.sum(value_col).alias(sum_alias))
    try:
        snapshot = dm.logical().select(*group_cols, sum_alias)
    except TableNotFound:
        # unseeded mart: the increment IS the seed (fresh empty LOCAL
        # relation, not a derived one — a self-join would be ambiguous,
        # and createDataFrame([], schema) is a LogicalRDD that costs a
        # round of empty tasks per action)
        sel = inc_agg.select(*group_cols, sum_alias)
        snapshot = _empty_df(inc_agg.sparkSession, sel.schema)
    merged = delta_merge_running_agg(
        inc_agg, snapshot, keys=group_cols, sum_col=sum_alias
    ).withColumn("created_ts", created_ts_expr(created_ts_millis))
    return dm.write(merged, op="upsert")


def run_dwd2dm_loop(
    dwd: LakeTable,
    dm: LakeTable,
    group_cols: list[str],
    value_col: str,
    sum_alias: str,
    interval_seconds: float = 30.0,
    max_ticks: int | None = None,
    created_ts_millis: int | None = None,
    cursor_file: str | None = None,
) -> str | None:
    """The DWD2DM poll loop (SRC/DWD2DM.scala:54-85): cursor from the
    DM table, per tick aggregate the DWD delta and delta-merge into the
    mart. NOTE the reference's own hazards (SURVEY.md §3.3): a replayed
    slice double-adds, and the sink-derived restart cursor can skip
    source commits landed between slice end and sink commit — pass
    ``cursor_file`` to persist the true slice-end cursor and close both
    (for the delta-merge, skipping is data loss AND replaying is
    double-add, so the durable cursor matters here most).

    Slice end = the source's newest PUBLISHED instant, never the wall
    clock (r13 review): a DWD commit allocates its instant before its
    (possibly minutes-long) write job publishes, so a wall-clock end
    taken inside that window would exclude the commit from this slice
    AND from every later one (``begin`` moves past it) — for a running
    SUM that skip is a permanent silent undercount. ``last_instant()``
    is closed under the publish-order invariant (see
    ``ods2dwd.dwd_increment``), making each slice final when read."""
    import time as _time

    from emr_hudi_example_spark.pipelines.ods2dwd import (
        _read_cursor,
        _write_cursor,
        init_cursor,
    )

    begin = _read_cursor(cursor_file) or init_cursor(dm)
    ticks = 0
    while max_ticks is None or ticks < max_ticks:
        if interval_seconds:
            _time.sleep(interval_seconds)
        end = dwd.last_instant()
        if end is None or (begin is not None and end <= begin):
            ticks += 1  # nothing published since the cursor — idle
            continue
        dm_increment(
            dwd, dm, begin, end, group_cols, value_col, sum_alias,
            created_ts_millis=created_ts_millis,
        )
        begin = end
        _write_cursor(cursor_file, begin)
        ticks += 1
    return begin
