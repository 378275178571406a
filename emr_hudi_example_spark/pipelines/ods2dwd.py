"""ODS → DWD: poll-based incremental read + dimension enrichment.

Port of ``ODS2DWD`` (``SRC/ODS2DWD.scala:18-70``): cursor initialised
from ``max(_commit_time)`` of the DWD table; each tick incrementally
reads the ODS fact slice in ``(begin, end]``, left-joins the dimension
snapshot with ``nvl`` defaults, stamps ``created_ts``, upserts into DWD,
and advances the cursor. The loop body is exposed as ``dwd_increment``
(one tick) so tests and schedulers drive it without ``while True``.

Restart safety is the reference's own argument (SURVEY.md §3.2): the
cursor re-derives from DWD's ``max(_commit_time)``, and replaying a slice
is harmless because the upsert is idempotent on the record key.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from emr_hudi_example_spark.functions.core import created_ts_expr
from emr_hudi_example_spark.lake import COMMIT_TIME_COL, LakeTable
from emr_hudi_example_spark.operators.relational import dim_enrich_left_join


def init_cursor(table: LakeTable) -> str | None:
    """``select max(_hoodie_commit_time)`` cursor bootstrap
    (SRC/ODS2DWD.scala:30-36). None when the table is empty/new.

    Answered from the commit timeline (driver-side, no table scan):
    ``last_instant() >= max(_commit_time)`` always, and no row can carry
    a commit time in ``(max(_commit_time), last_instant()]`` — commits in
    that gap added no newer-stamped rows (deletes/compactions re-emit
    survivors with their ORIGINAL stamps) — so the two cursors make the
    next incremental read return the identical slice. At scale this
    replaces a full snapshot scan per restart with one directory
    listing."""
    return table.last_instant()


def dwd_increment(
    ods: LakeTable,
    dim_df,
    dwd: LakeTable,
    begin: str | None,
    end: str | None = None,
    fact_key: str = "l_partkey",
    dim_key: str = "p_partkey",
    enrich_cols: dict[str, object] | None = None,
    created_ts_millis: int | None = None,
) -> str | None:
    """One poll tick (SRC/ODS2DWD.scala:43-69). Returns the new cursor.

    The enriched slice goes straight to ``dwd.write``: no ``persist``,
    no ``isEmpty`` pass. An empty slice on an existing DWD publishes
    no commit (``LakeTable._commit_upsert``), and the cursor still
    advances.

    Column mapping note: the reference enriches TPC-DS ``inventory`` with
    ``item`` (nvl(i_brand,'N/A')); the driver fixtures map this to
    ``lineitem`` enriched with ``part`` (FIXTURES.md §2) — keys are
    parameters so both shapes run.

    ``end`` defaults to the source's newest PUBLISHED instant, not the
    wall clock (r13 review): a source commit allocates its instant at
    write start and publishes the manifest only after the whole write
    job, so a wall-clock ``end`` can land inside that window — the
    slice misses the still-unpublished commit, and the next tick's
    ``begin = end`` skips it FOREVER. ``last_instant()`` is closed
    under the engine's publish-order invariant (no instant ≤ an
    already-published one can publish later — the locked path holds
    the lock from allocation to publish, and the optimistic path
    aborts on instant-order violation), so the slice (begin, end] is
    final the moment it is read.
    """
    head = ods.last_instant()
    if head is None:  # cold start: source not yet seeded — idle tick
        # Return ``begin`` UNCHANGED (possibly None) rather than seeding
        # the cursor from the wall clock (r14 review): a first creating
        # commit allocates its instant before publishing, so a
        # now_instant() cursor taken during that window would exceed the
        # commit's instant and exclude its rows from every later slice —
        # the same skip-forever class the published-instant ``end``
        # default closes. The cursor stays unset until the source
        # actually publishes.
        return begin
    end = end or head
    if begin is not None and end <= begin:
        return begin  # nothing published since the cursor — idle tick
    inc = ods.incremental(begin, end)
    defaults = enrich_cols or {"p_brand": "N/A"}
    enriched = dim_enrich_left_join(
        inc.drop(*[c for c in inc.columns if c.startswith("_")]),
        dim_df,
        on=F.col(fact_key) == F.col(dim_key),
        defaults=defaults,
    ).drop(dim_key)
    enriched = enriched.withColumn("created_ts", created_ts_expr(created_ts_millis))
    # the reference's `if (df.count > 0)` guard (SRC/ODS2DWD.scala:64)
    # lives in the upsert: an empty slice publishes nothing
    dwd.write(enriched, op="upsert")
    return end


def run_ods2dwd_loop(
    ods: LakeTable,
    dim_df,
    dwd: LakeTable,
    fact_key: str,
    dim_key: str,
    enrich_cols: dict[str, object] | None = None,
    interval_seconds: float = 30.0,
    max_ticks: int | None = None,
    created_ts_millis: int | None = None,
    cursor_file: str | None = None,
) -> str | None:
    """The reference's poll loop itself (``while(true) { sleep; read
    incremental; enrich; upsert; advance }``, SRC/ODS2DWD.scala:43-69).

    Cursor bootstrap: ``cursor_file`` (if given and present) beats the
    reference's ``max(_commit_time)``-of-the-sink trick. The sink-derived
    bootstrap can SKIP source commits that landed between the last slice
    end and the sink's own commit instant — a restart hazard the
    reference carries (SRC/ODS2DWD.scala:30-36); persisting the slice-end
    cursor closes it. Replays stay harmless (idempotent keyed upsert).
    ``max_ticks`` bounds the loop for tests/schedulers (None = run
    forever, the reference's behavior); returns the final cursor."""
    import time as _time

    begin = _read_cursor(cursor_file) or init_cursor(dwd)
    ticks = 0
    while max_ticks is None or ticks < max_ticks:
        if interval_seconds:
            _time.sleep(interval_seconds)
        begin = dwd_increment(
            ods, dim_df, dwd, begin=begin,  # end: newest published
            fact_key=fact_key, dim_key=dim_key, enrich_cols=enrich_cols,
            created_ts_millis=created_ts_millis,
        )
        _write_cursor(cursor_file, begin)
        ticks += 1
    return begin


def _read_cursor(path: str | None) -> str | None:
    if path is None or not os.path.exists(path):
        return None
    with open(path) as fh:
        v = fh.read().strip()
    return v or None


def _write_cursor(path: str | None, value: str | None) -> None:
    if path is None or value is None:
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(value)
    os.replace(tmp, path)


def run_ods2dwd_streaming(
    ods: LakeTable,
    dim_df,
    dwd: LakeTable,
    fact_key: str,
    dim_key: str,
    checkpoint_dir: str,
    enrich_cols: dict[str, object] | None = None,
    created_ts_millis: int | None = None,
):
    """T5 fully re-platformed: Structured Streaming over the ODS commit
    log (``LakeTable.stream``) replaces the sleep-poll loop — new ODS
    commits arrive as micro-batches, each applies the same enrichment
    tick. A session cursor (advanced per batch) drops rows a COW
    rewrite re-emitted, and the keyed upsert keeps replays idempotent.
    Returns the StreamingQuery.

    Restart safety (r13 review): the cursor RIDES IN the DWD commit's
    checkpoint metadata (``write(checkpoint={..., "cursor": mx})``) and
    is recovered from ``last_checkpoint_entry`` on restart — atomic
    with the data it describes. The previous bootstrap (DWD's own last
    instant) could exceed the last PROCESSED source commit — a source
    commit that landed during the DWD write and crashed before its
    micro-batch ran would be filtered out of its checkpoint replay and
    lost. The sink-instant bootstrap survives only as the legacy
    fallback for tables written before cursors rode the manifest."""
    from emr_hudi_example_spark.streaming.sources import start_foreach_batch

    query_name = "ODS2DWDStream"
    cp = dwd.last_checkpoint_entry(query_name)
    state = {"cur": (cp or {}).get("cursor") or init_cursor(dwd)}
    defaults = enrich_cols or {}

    def tick(batch_df, batch_id):
        cur = state["cur"]
        rows = (
            batch_df
            if cur is None
            else batch_df.filter(F.col(COMMIT_TIME_COL) > cur)
        )
        # one aggregate yields the cursor AND the emptiness check. No
        # persist: the first action on a persisted frame runs its own
        # cache-materialization job, which costs more than the second
        # scan of a micro-batch's files
        mx, n = rows.agg(
            F.max(COMMIT_TIME_COL), F.count(F.lit(1))
        ).collect()[0]
        if n == 0:
            return
        new_cur = mx if cur is None else max(cur, mx)
        enriched = dim_enrich_left_join(
            rows.drop(*[c for c in rows.columns if c.startswith("_")]),
            dim_df,
            on=F.col(fact_key) == F.col(dim_key),
            defaults=defaults,
        ).drop(dim_key).withColumn(
            "created_ts", created_ts_expr(created_ts_millis)
        )
        # cursor + replay guard ride the commit manifest (a replayed
        # batch returns None — already committed WITH its cursor, so
        # advancing the session cursor stays correct)
        dwd.write(
            enriched, op="upsert",
            checkpoint={
                "source_id": query_name,
                "batch_id": batch_id,
                "cursor": new_cur,
            },
        )
        state["cur"] = new_cur

    return start_foreach_batch(
        ods.stream(), tick, checkpoint_dir, query_name=query_name
    )
