"""Relational operator surface — SURVEY.md §2.3–2.8 as named library
functions over the DataFrame API. Every function is a thin, declarative
composition of built-ins so Catalyst performs pushdown / pruning /
broadcast selection; nothing here forces a physical strategy except the
explicit ``broadcast`` hints on dimension joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from emr_hudi_example_spark.functions.core import nvl, pk_not_null_condition


# ---------------------------------------------------------------- projections

def pack_to_json(df: DataFrame, cols: list[str] | None = None,
                 out: str = "value") -> DataFrame:
    """P4 — struct-pack + JSON-serialize every row
    (SRC/Hudi2MSK.scala:43 ``to_json(struct(cols...))``)."""
    cols = cols or df.columns
    return df.select(F.to_json(F.struct(*[F.col(c) for c in cols])).alias(out))


# -------------------------------------------------------------------- filters

def filter_pk_not_null(df: DataFrame, keys: list[str]) -> DataFrame:
    """F2 — generated PK-not-null conjunction (SRC/package.scala:185-188,
    applied at SRC/MSK2Hudi.scala:53, SRC/Hive2Hudi.scala:27)."""
    return df.filter(pk_not_null_condition(keys))


def filter_eq(df: DataFrame, col: str, value) -> DataFrame:
    """F3 — equality predicate, the topic-routing filter shape
    (SRC/package.scala:158 ``batchDF.filter("topic = '...'")``)."""
    return df.filter(F.col(col) == value)


# ---------------------------------------------------------------------- joins

def dim_enrich_left_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column,
    defaults: dict[str, object] | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1 — fact→dimension left-outer equi-join with ``nvl`` defaults
    (SRC/ODS2DWD.scala:58-62). ``broadcast_dim`` pins the physical
    strategy for small dimensions; at 100 TB the fact side streams through
    without a shuffle."""
    d = F.broadcast(dim) if broadcast_dim else dim
    out = fact.join(d, on, "left")
    for col_name, default in (defaults or {}).items():
        out = out.withColumn(col_name, nvl(col_name, default))
    return out


def delta_merge_running_agg(
    inc: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    sum_col: str = "sum",
) -> DataFrame:
    """J2 — merge an incremental aggregate into a running mart:
    ``new_sum = inc.sum + nvl(snap.sum, 0)`` over a composite-key
    left join (SRC/DWD2DM.scala:75-79).

    Both sides are explicitly aliased so the join condition resolves
    against distinct relations — ``inc[k] == snap[k]`` on frames that
    share a lineage makes Catalyst warn about a trivially-true predicate
    and is fragile under self-joins."""
    inc_a = inc.alias("_dm_inc")
    snap_a = snapshot.select(
        *keys, F.col(sum_col).alias("_prev_sum")
    ).alias("_dm_snap")
    cond = [
        F.col(f"_dm_inc.{k}") == F.col(f"_dm_snap.{k}") for k in keys
    ]
    joined = inc_a.join(snap_a, cond, "left")
    return joined.select(
        *[F.col(f"_dm_inc.{k}") for k in keys],
        (F.col(f"_dm_inc.{sum_col}") + nvl(F.col("_prev_sum"), F.lit(0))).alias(sum_col),
    )


def join_asof(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_time: str,
    right_time: str,
    right_vals: list[str],
) -> DataFrame:
    """Point-in-time (as-of) left join: for each left row, attach the
    right row with the same key and the greatest ``right_time`` ≤
    ``left_time`` (nulls when no such row) — the CDC-snapshot /
    feature-store lookup Spark has no built-in for.

    Distributed plan (not a per-key loop and not a range cross-join):
    tag and UNION the two inputs, one shuffle on the key, per-key sort
    on (time, side) with right-before-left at equal times, then a
    running ``last(right_row, ignoreNulls)`` window carries the newest
    right state forward onto every left row. Cost: one shuffle + one
    sort — the same shape as a sort-merge join, at any scale.

    Right rows should be unique per (key, right_time); with duplicates
    the carried row is the ordering-last one (deterministic but
    arbitrary) — pre-aggregate the right side if that matters.
    """
    rrow_t = right.select(
        F.struct(*[F.col(c) for c in right_vals]).alias("_r")
    ).schema["_r"].dataType
    lrow_t = left.select(
        F.struct(*[F.col(c) for c in left.columns]).alias("_l")
    ).schema["_l"].dataType
    l = left.select(
        *[F.col(c) for c in key_cols],
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(rrow_t).alias("_rrow"),
    )
    r = right.select(
        *[F.col(c) for c in key_cols],
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lrow_t).alias("_lrow"),
        F.struct(*[F.col(c) for c in right_vals]).alias("_rrow"),
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_rrow").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = l.unionByName(r).withColumn(
        "_asof", F.last("_rrow", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_lrow.{c}").alias(c) for c in left.columns],
        *[F.col(f"_asof.{c}").alias(c) for c in right_vals],
    )


def join_range(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
) -> DataFrame:
    """Interval (range) join with NO key equality: pair every point row
    with every interval row satisfying ``lo ≤ point < hi`` — the
    sessionize/incident-attribution join engines with IEJoin run
    natively and Spark would otherwise plan as a cross join with a
    theta filter.

    Bucket decomposition: each interval explodes to the fixed-width
    buckets it covers (``floor(lo/w) .. floor((hi-1)/w)``), each point
    maps to its single bucket, and the pair match becomes an EQUI-join
    on the bucket id followed by the exact range filter. Each matching
    pair materializes exactly once — in the point's bucket — so no
    dedup pass is needed.

    Scale shape: one hash-shuffle on the bucket id (both sides),
    interval replication bounded by ``span/bucket_width`` (pick
    ``bucket_width`` near the typical interval span so replication is
    O(1) per interval), and the skew knob is the bucket width itself —
    this is the standard distributed range-join strategy. Columns from
    both inputs are preserved; name collisions must be resolved by the
    caller beforehand.
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    p = points.withColumn(
        "_rb", F.floor(F.col(point_col) / F.lit(bucket_width))
    )
    # Inverted intervals (hi <= lo, corrupt data) must be dropped BEFORE
    # the explode: F.sequence auto-steps -1 when end < start, so one bad
    # row would generate a descending bucket array spanning the whole
    # gap — a memory blowup that happens before the exact filter could
    # discard the (matchless) pairs (r4 advice). hi <= lo matches zero
    # points under lo <= p < hi, so dropping is semantics-preserving.
    i = intervals.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "_rb",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)),
                F.floor((F.col(hi_col) - 1) / F.lit(bucket_width)),
            )
        ),
    )
    return (
        p.join(i, "_rb")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) < F.col(hi_col))
        )
        .drop("_rb")
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered conversion funnel: for every user, the earliest step-1
    event, then the earliest step-2 event STRICTLY AFTER it, and so on
    — the sequential-pattern query behind conversion/retention reports.
    Returns ``(user_col, t_1..t_n, depth)`` where ``t_i`` is null once
    the funnel breaks and ``depth`` counts completed steps; users who
    never reach step 1 appear with depth 0.

    Scale shape: one conditional-min hash aggregation per step, each
    shuffling on the SAME user key (n_steps small — 3-5 — and every agg
    is map-side partial). A null ``t_{i-1}`` propagates through the
    comparison so broken funnels need no special-casing.
    """
    cur = events.groupBy(user_col).agg(
        F.min(
            F.when(F.col(type_col) == steps[0], F.col(ts_col))
        ).alias("t_1")
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            events.join(cur.select(user_col, f"t_{i-1}"), user_col)
            .groupBy(user_col)
            .agg(
                F.min(
                    F.when(
                        (F.col(type_col) == step)
                        & (F.col(ts_col) > F.col(f"t_{i-1}")),
                        F.col(ts_col),
                    )
                ).alias(f"t_{i}")
            )
        )
        cur = cur.join(nxt, user_col, "left")
    depth = F.lit(0)
    for i in range(1, len(steps) + 1):
        depth = F.when(F.col(f"t_{i}").isNotNull(), i).otherwise(depth)
    return cur.select(
        user_col,
        *[f"t_{i}" for i in range(1, len(steps) + 1)],
        depth.cast("int").alias("depth"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-seen day
    (the cohort), counted on each later activity day as an offset —
    ``(cohort_day, offset_days, n_users)``, the table every retention
    curve is drawn from.

    Scale shape: activity dedupes to distinct (user, day) first — the
    smallest possible working set — then one aggregation for first-seen
    per user and one join back on the user key (both shuffle on the
    same key), and a final hash agg on (cohort, offset). No windows, no
    per-user driver loops.
    """
    day = F.date_trunc("day", F.col(ts_col))
    act = events.select(
        F.col(user_col).alias("u"), day.alias("day")
    ).distinct()
    first = act.groupBy("u").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(first, "u")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias(
                "offset_days"
            ),
        )
        .agg(F.countDistinct("u").alias("n_users"))
    )


# --------------------------------------------------------------- aggregations

def group_sum(df: DataFrame, group_cols: list[str], value_col: str,
              alias: str = "sum") -> DataFrame:
    """A1 — GROUP BY + SUM (SRC/DWD2DM.scala:32-34). Catalyst plans this
    as partial (map-side) + final hash aggregate — no work needed."""
    return df.groupBy(*group_cols).agg(F.sum(value_col).alias(alias))


def scalar_max(df: DataFrame, col: str, alias: str = "max_val") -> DataFrame:
    """A2 — ungrouped MAX, the commit-cursor read
    (``max(_hoodie_commit_time)`` SRC/ODS2DWD.scala:34)."""
    return df.agg(F.max(col).alias(alias))


def distinct_values(df: DataFrame, cols: list[str]) -> DataFrame:
    """A3 — DISTINCT projection (SRC/package.scala:148)."""
    return df.select(*cols).distinct()


def precombine_dedup(
    df: DataFrame,
    keys: list[str],
    precombine: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """A5 — max-by-precombine dedup per key: the payload semantics of
    Hudi's ``DefaultHoodieRecordPayload`` (SRC/package.scala:25,35 —
    larger precombine wins). ``tiebreak`` columns make the result
    deterministic when precombine values collide.

    Hash aggregation (``max_by`` over the ``(precombine, *tiebreak)``
    ordering struct), not a sort-window: partial map-side combine
    collapses duplicates before the shuffle and no per-partition sort is
    needed. With tiebreak columns the ordering struct is a total order,
    so the result is exactly the window ``row_number``'s.
    """
    order = F.struct(
        F.col(precombine), *[F.col(c) for c in (tiebreak or [])]
    )
    winner = F.max_by(F.struct(*df.columns), order).alias("_r")
    return df.groupBy(*keys).agg(winner).select("_r.*")


# ------------------------------------------------------------ limits / topk

def limited(df: DataFrame, n: int, order_by: list[str] | None = None) -> DataFrame:
    """§2.7 — LIMIT (SRC/Hive2Hudi.scala:25 ``limit(20)``). An optional
    sort makes the selection deterministic (the reference's bare limit is
    nondeterministic under parallel scan)."""
    if order_by:
        df = df.orderBy(*order_by)
    return df.limit(n)


# ------------------------------------------------------- scale strategies

def salted_equi_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join (manual salting; SURVEY.md §4 scale
    notes). Left (skewed, large) rows get a uniform salt in ``[0,
    n_salt)``; the right side is replicated once per salt; the join key
    becomes ``(key, _salt)``, splitting each hot key's rows across
    ``n_salt`` shuffle partitions. The result set is identical to the
    unsalted join — only the physical distribution changes. AQE's
    skew-join split handles most cases automatically; this is the
    explicit strategy for when a single key exceeds what one task can
    hold even post-split, at the cost of an ``n_salt``× replication of
    the (small) right side.
    """
    if how not in ("inner", "left", "left_semi", "leftsemi", "left_outer"):
        # replicating the right side breaks right/full-outer semantics
        # (unmatched right rows would appear n_salt times)
        raise ValueError(
            f"salted_equi_join supports inner/left joins, not {how!r}"
        )
    salts = F.array(*[F.lit(i) for i in range(n_salt)])
    left_s = left.withColumn(
        "_salt", (F.rand(seed=7) * n_salt).cast("int")
    )
    right_s = right.withColumn("_salt", F.explode(salts))
    out = left_s.join(right_s, [key, "_salt"], how)
    return out.drop("_salt")


def join_salted(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_on: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-salted equi-join: the manual mitigation for a HOT join key
    when the dim side is too big to broadcast and runtime skew
    splitting (AQE skew join) is unavailable — e.g. the join feeds a
    downstream operator AQE cannot re-plan, or the engine runs with
    AQE off.

    The fact side gains a deterministic salt (``xxhash64(salt_on) %
    n_salts`` — derived from a fact column, so replays salt
    identically); the dim side is REPLICATED once per salt value. The
    join key becomes ``(on, _salt)``, so one hot key's rows spread
    over ``n_salts`` reducers instead of one. Exactness: every fact
    row still meets every matching dim row exactly once (its salt's
    replica), so the result equals the unsalted join row-for-row.

    Cost model (when to use): replicating the dim costs ``n_salts ×
    |dim|`` shuffle volume; worth it when the hottest key's row count
    divided by ``n_salts`` still exceeds the average reducer load.
    Prefer ``broadcast(dim)`` when the dim fits in memory, and AQE's
    ``skewJoin`` when the join is terminal — this operator is the
    explicit fallback for the big-dim hot-key regime.
    """
    salted_fact = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(salt_on)), F.lit(n_salts)).cast("int"),
    )
    salted_dim = dim.withColumn(
        "_salt",
        F.explode(
            F.sequence(
                F.lit(0).cast("int"), F.lit(n_salts - 1).cast("int")
            )
        ),
    )
    # hint("merge"): pin the shuffled sort-merge join so the salted
    # partitioning is actually exercised (the fixture dim is tiny and
    # would otherwise be broadcast — defeating the demonstration and
    # the plan-hygiene test that asserts the salt reaches the
    # partitioning key)
    return salted_fact.join(
        salted_dim.hint("merge"), [on, "_salt"]
    ).drop("_salt")


def referential_audit(
    checks: list[tuple],
) -> DataFrame:
    """Referential-integrity audit: for each ``(name, child, child_key,
    parent, parent_key)`` tuple, count child rows whose key has no
    parent (orphans) — the FK check a warehouse runs before publishing
    a snapshot. Returns one row per check: (check_name, n_orphans,
    n_rows).

    Scale shape: each check is ONE left-anti join — broadcast when the
    parent is a dimension, shuffle-hash on the key otherwise (left to
    AQE/stats) — feeding a count agg; checks union into a single plan so
    the scheduler runs them concurrently. No driver-side row transfer.
    """
    outs = []
    for name, child, child_key, parent, parent_key in checks:
        orphans = child.join(
            parent.select(F.col(parent_key).alias("_pk")).distinct(),
            child[child_key] == F.col("_pk"),
            "left_anti",
        )
        outs.append(
            orphans.agg(F.count(F.lit(1)).alias("n_orphans")).crossJoin(
                child.agg(F.count(F.lit(1)).alias("n_rows"))
            ).select(
                F.lit(name).alias("check_name"),
                F.col("n_orphans").cast("long").alias("n_orphans"),
                F.col("n_rows").cast("long").alias("n_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def uniqueness_audit(
    tables: list[tuple],
) -> DataFrame:
    """Primary-key uniqueness audit: for each ``(name, df, key_cols)``,
    total rows vs distinct key combinations — one row per table:
    (table_name, n_rows, n_keys, n_dup_rows).

    Scale shape: per table one count agg + one distinct-count (two-phase
    hash agg with map-side partials); tables union into one plan.
    """
    outs = []
    for name, df, key_cols in tables:
        # composite keys count as ROW VALUES (a struct with a NULL
        # member still counts), matching SQL's count(DISTINCT (a,b));
        # multi-arg count_distinct would SKIP any row with a NULL key
        # part — exactly the dirty rows a DQ audit exists to surface
        key = (
            F.col(key_cols[0])
            if len(key_cols) == 1
            else F.struct(*[F.col(c) for c in key_cols])
        )
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count_distinct(key).cast("long").alias("n_keys"),
            ).select(
                F.lit(name).alias("table_name"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
