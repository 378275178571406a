"""Graph operators for corpus curation at scale.

Web-scale training corpora rank and filter by link-graph centrality
(CommonCrawl publishes harmonic-centrality / PageRank host rankings;
OpenWebText-style pipelines weight by inbound-link karma). These
operators provide that layer as iterative DataFrame programs: an edge
derivation from an event stream plus a fixed-iteration PageRank.

Scale notes (100 TB): above ``LOCAL_MAX_EDGES`` edge rows, PageRank's
per-iteration cost is ONE shuffle of the edge list joined to the
current rank vector plus a hash-agg on the destination key — the
textbook Pregel-as-join-agg mapping. Ranks and edges stay partitioned
by node id so AQE reuses the exchange; the driver holds at most the
capped probe collect (``LOCAL_MAX_EDGES + 1`` rows, dropped before the
first round), never the graph. Convergence-free fixed iterations keep
the plan a static DAG — no per-round planning cost growth (lineage is
truncated with localCheckpoint like operators/dedup.py
connected_components). At or below the gate the edge list IS
collected once and the iterations run on the driver
(``_local_pagerank``): a small graph is bound by Spark's fixed
per-stage cost, not by compute, and the in-driver kernel replays the
Spark route's arithmetic bit for bit. The gate caps the driver's copy
of the graph below the size where the single-threaded kernel stops
beating the parallel Spark route.

All rank arithmetic accumulates in DECIMAL so cross-partition summation
order cannot perturb low bits (same policy as operators/similarity.py
k-means refine): each double contribution is rounded to a fixed scale,
summed exactly, and only then returned to double for the next
iteration's single-op combine.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["sequential_interaction_edges", "pagerank"]

# Edge rows at or below which pagerank() collects the edge list once and
# iterates on the driver; above it, one Spark round per iteration. It
# caps the driver's copy of the graph, and sits below the size where the
# single-threaded kernel stops beating the parallel Spark route
# (measured in ROADMAP item 2).
LOCAL_MAX_EDGES = 1 << 18

_INTEGRAL = (ByteType(), ShortType(), IntegerType(), LongType())
# node types whose Python equality is Spark's grouping/join equality
# (binary-collated strings, integers; not floats: NaN, -0.0)
_KERNEL_NODE_TYPES = _INTEGRAL + (StringType(),)


def sequential_interaction_edges(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    bucket: str | None = "7 days",
) -> DataFrame:
    """Derive a deterministic user-interaction digraph from an event
    stream: within each event type's timeline, draw an edge from the
    acting user to the next acting user (the "handoff" graph used for
    session-flow and influence analysis). Self-loops dropped, parallel
    edges collapsed to weight = occurrence count.

    Scale shape: a window partitioned by ``type_col`` ALONE would be a
    scale bug — event-type cardinality is tiny, so each partition's
    entire multi-billion-row timeline would sort in ONE task. Instead
    the lead is computed per (type, time-``bucket``) sub-window —
    bounded partitions that parallelize — and the single cross-bucket
    hop per boundary is stitched from each bucket's first/last rows
    via a second window over the (small, bucket-count-sized) boundary
    table. The stitched result is IDENTICAL to the global-order window
    (rows with equal timestamps share a bucket, so the total
    (ts, tiebreak) order is preserved); the oracle verifies that
    equivalence on every run. ``bucket=None`` falls back to the naive
    single-window shape for tiny inputs — it is also REQUIRED when
    ``time_col`` is not a TIMESTAMP (the bucketed path goes through
    ``F.window``, which rejects numeric time axes the plain orderBy
    accepted).
    """
    ts, tb = F.col(time_col), F.col(tiebreak_col)
    # NULL timestamps would break the bucketed==global-window
    # equivalence (F.window yields a NULL bucket that never stitches,
    # while the bucket=None orderBy sorts NULLs first) — drop them up
    # front so both paths agree on dirty inputs (r5 advice). An event
    # without a time cannot sit on a timeline anyway.
    events = events.filter(ts.isNotNull())
    if bucket is None:
        w = Window.partitionBy(type_col).orderBy(time_col, tiebreak_col)
        hops = events.select(
            F.col(user_col).alias("src"),
            F.lead(user_col).over(w).alias("dst"),
        )
    else:
        bucketed = events.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("t"),
            ts.alias("_ts"),
            tb.alias("_tb"),
            F.window(ts, bucket)["start"].alias("b"),
        )
        wb = Window.partitionBy("t", "b").orderBy("_ts", "_tb")
        inner = bucketed.select(
            F.col("u").alias("src"),
            F.lead("u").over(wb).alias("dst"),
            "t",
            "b",
            "_ts",
            "_tb",
        )
        # boundary stitch: each bucket's LAST user hands off to the next
        # non-empty bucket's FIRST user (per type). The boundary table is
        # one row per (type, bucket) — days/weeks count, not row count.
        bounds = (
            bucketed.groupBy("t", "b")
            .agg(
                F.min_by("u", F.struct("_ts", "_tb")).alias("first_u"),
                F.max_by("u", F.struct("_ts", "_tb")).alias("last_u"),
            )
        )
        wstitch = Window.partitionBy("t").orderBy("b")
        stitch = bounds.select(
            F.col("last_u").alias("src"),
            F.lead("first_u").over(wstitch).alias("dst"),
        )
        hops = inner.select("src", "dst").unionByName(stitch)
    return (
        hops.filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
    use_weights: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over an (src, dst) edge list, returning
    ``(node, rank)`` for every node that appears as source or sink.

    Classic formulation with uniform teleport and dangling-mass
    redistribution:

        r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/deg(u)  +  D/N )

    where ``D`` is the total rank parked on dangling nodes (sinks with
    no out-edges). Each per-edge contribution and the dangling mass are
    rounded to ``scale`` decimal places and summed as ``DECIMAL(38,
    scale)`` — exact, order-independent — so two engines (or two
    cluster runs with different partitionings) produce bit-identical
    ranks. The remaining double ops per iteration are single
    multiplies/adds in a fixed order.

    Scale shape per iteration (r15 — two per-iteration joins removed,
    guide §2.4): ONE broadcast-free join of the rank vector to the
    edge list on ``src``, then ONE hash-agg on the destination key
    over the contributions UNIONED with a zero-contribution row per
    node. The union replaces the old ``nodes LEFT JOIN inflow``
    completion join (its exchange + sort per round), and the dangling
    DEGREE lookup rides INSIDE the rank vector (``_dg``, stamped once
    at setup) instead of re-joining ``deg`` every round — summing one
    exact decimal zero per node and max-ing the single non-null
    ``_dg`` per group are value-identity operations, so the ranks are
    bit-identical to the join formulation (the DuckDB oracle pins
    this). Fixed ``iterations`` keeps the whole program a static
    3-stage-deep DAG; ``localCheckpoint`` between rounds truncates
    lineage so planning cost stays flat (measured r15: 8-10 AQE stage
    jobs per round → 5-7).

    By default any ``weight`` column (e.g. the collapsed parallel-edge
    multiplicity :func:`sequential_interaction_edges` emits) is
    IGNORED — every distinct edge counts once, the unweighted classic.
    ``use_weights=True`` switches to weighted PageRank: out-"degree"
    becomes ``Σ weight`` per source and each contribution is scaled by
    its edge's weight share, ``r(u) * w(u→v) / Σ_u w``, same DECIMAL
    accumulation (r5 advice: the silent-ignore was an API foot-gun).
    A NULL weight coalesces to 1 (that edge counts once, like the
    unweighted classic) rather than being silently dropped.

    Route: the edge list is checkpointed, then collected once, capped
    at ``LOCAL_MAX_EDGES + 1`` rows. If it fits, :func:`_local_pagerank`
    runs the iterations on the driver and the result is a local
    DataFrame — the same ranks, bit for bit, without a Spark round per
    iteration. Inputs over the gate, node types other than integers and
    binary-collated strings, and non-integral weights (Spark's double
    ``Σ`` is order-dependent) take the Spark route below.
    """
    if use_weights and "weight" not in edges.columns:
        raise ValueError("use_weights=True requires a 'weight' column")
    # checkpoint the EDGE LIST itself first: the capped collect reads
    # it, and above the gate nodes scans it twice and deg/edged once
    # each, so an expensive upstream derivation (e.g. the session-window
    # edge builder) runs once, not 5× during setup. Lazily: the first
    # job over it (the collect, else deg) fills the checkpoint, so the
    # kernel route pays no extra job for it.
    edges = edges.localCheckpoint(eager=False)
    node_type = edges.schema["src"].dataType
    if (
        node_type == edges.schema["dst"].dataType
        and node_type in _KERNEL_NODE_TYPES
        and (not use_weights or edges.schema["weight"].dataType in _INTEGRAL)
    ):
        cols = ["src", "dst"] + (["weight"] if use_weights else [])
        # Arrow both ways: a 98k-edge collect takes 0.07 s, as Rows 0.4 s+
        tbl = edges.select(*cols).limit(LOCAL_MAX_EDGES + 1).toArrow()
        if tbl.num_rows <= LOCAL_MAX_EDGES:
            ranks = _local_pagerank(
                *(tbl.column(c).to_pylist() for c in cols),
                iterations=iterations, damping=damping, scale=scale,
            )
            out = pa.table({
                "node": pa.array(list(ranks), tbl.schema.field("src").type),
                "rank": pa.array(list(ranks.values()), pa.float64()),
            })
            schema = StructType([
                StructField("node", node_type),
                StructField("rank", DoubleType()),
            ])
            return edges.sparkSession.createDataFrame(out, schema)
    dec = f"decimal(38,{scale})"
    # NULL weight = unweighted edge (counts once), NOT silently dropped:
    # F.sum skips NULLs, which would leak that edge's rank mass entirely
    # — diverging from the unweighted path (r6 advice)
    wcol = (
        F.coalesce(F.col("weight"), F.lit(1)) if use_weights else F.lit(1)
    )
    # deg <= 0 (every out-edge weighted 0) would divide the share by
    # zero — ANSI raises, non-ANSI NULLs the contribution and silently
    # LEAKS that source's rank mass (r13 review). Dropping the row
    # makes such a source DANGLING: its edges contribute nothing (the
    # 0-weight semantics) and its mass redistributes globally, exactly
    # like a node with no out-edges.
    deg = (
        edges.groupBy("src")
        .agg(F.sum(wcol).alias("deg"))
        .filter(F.col("deg") > 0)
        .localCheckpoint()
    )
    # nodes carry their out-degree flag (``_dg`` — NULL = dangling),
    # stamped ONCE here: the old shape re-joined ``deg`` onto the rank
    # vector EVERY iteration just to find the dangling rows (r15,
    # guide §2.4 — two exchanges per round for a loop-invariant fact)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(deg, F.col("node") == F.col("src"), "left")
        .select("node", F.col("deg").alias("_dg"))
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # driver-side scalar: loop constant, M3-style
    if n_nodes == 0:  # empty graph (e.g. all hops were self-loops)
        return nodes.select("node").withColumn("rank", F.lit(0.0))
    # out-degree (weighted: Σ weight) joined once onto the edge list —
    # reused every iteration; w/deg is each edge's contribution share
    edged = (
        edges.withColumn("_w", wcol)
        .join(deg, "src")
        .select("src", "dst", "deg", "_w")
        .localCheckpoint()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    teleport = (1.0 - damping) / n_nodes
    for _ in range(iterations):
        # dangling mass as a 1-row broadcast instead of a driver collect:
        # the whole iteration stays ONE job (the localCheckpoint action);
        # arithmetic is identical — decimal-exact sum, then the same
        # double ops in the same order as the oracle's SQL. The dangling
        # rows come straight off the rank vector's ``_dg`` flag — no
        # per-round join against ``deg``.
        dangling = ranks.filter(F.col("_dg").isNull()).agg(
            F.coalesce(
                F.sum(F.round(F.col("rank"), scale).cast(dec)),
                F.lit(0).cast(dec),
            ).alias("dm")
        )
        contrib = edged.join(
            ranks.select("node", "rank"), edged["src"] == F.col("node")
        ).select(
            F.col("dst").alias("node"),
            F.round(F.col("rank") * F.col("_w") / F.col("deg"), scale)
            .cast(dec)
            .alias("c"),
            F.lit(None).cast("long").alias("_dg"),
        )
        # completion WITHOUT a join (r15): one exact-zero contribution
        # row per node rides into the SAME aggregation the inflow sum
        # needs anyway — Σc + 0 ≡ Σc (decimal-exact), a no-inflow node
        # sums to exactly 0 (= the old LEFT-join NULL coalesced to
        # 0.0), and max(_dg) recovers the single non-null flag per
        # group. Replaces the old nodes⋈inflow SortMergeJoin and its
        # nodes-side exchange + sorts every round.
        zero_leg = ranks.select(
            "node", F.lit(0).cast(dec).alias("c"), "_dg"
        )
        inflow = (
            contrib.unionByName(zero_leg)
            .groupBy("node")
            .agg(F.sum("c").alias("s"), F.max("_dg").alias("_dg"))
        )
        ranks = (
            inflow.crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "_dg",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.col("s").cast("double")
                    + F.lit(damping)
                    * (F.col("dm").cast("double") / F.lit(float(n_nodes)))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", "rank")


def _local_pagerank(
    src: list,
    dst: list,
    weight: list | None = None,
    *,
    iterations: int,
    damping: float,
    scale: int,
) -> dict:
    """The Spark route of :func:`pagerank` replayed on the collected
    edge columns (``weight=None``: unweighted); returns ``{node: rank}``.

    Each step mirrors the Spark plan's arithmetic exactly:

    - out-degree is ``Σ w`` per source (a NULL weight counts 1), and a
      source whose degree is ≤ 0 is dropped, so it is dangling;
    - a NULL endpoint never joins: a NULL source emits nothing and the
      NULL node is always dangling, but a NULL sink still receives
      inflow (``groupBy`` groups NULLs);
    - every contribution and the dangling mass are HALF_UP-rounded at
      ``scale`` places from the double's shortest decimal string
      (Spark's double ``round`` goes through ``Double.toString``) and
      summed exactly as integers of ``10**-scale`` units — the
      ``DECIMAL(38, scale)`` sums;
    - ``int / 10**scale`` is the correctly rounded decimal→double cast,
      and the combine is the same double ops in the same order.

    A contribution depends only on ``(src, w)``, so it is computed once
    per distinct pair per iteration.
    """
    def fixed(x: float) -> int:
        return int(
            Decimal(repr(x)).scaleb(scale).quantize(1, ROUND_HALF_UP)
        )

    nodes: set = set()
    deg: dict = {}
    out: dict = {}  # src -> {w -> [dst, ...]}, one dst per edge row
    for u, v, w in zip(src, dst, weight or [1] * len(src)):
        w = 1 if w is None else w
        nodes.add(u)
        nodes.add(v)
        if u is not None:
            deg[u] = deg.get(u, 0) + w
            out.setdefault(u, {}).setdefault(w, []).append(v)
    deg = {u: d for u, d in deg.items() if d > 0}
    n = len(nodes)
    if n == 0:
        return {}
    dangling = [v for v in nodes if v not in deg]
    unit = 10 ** scale
    teleport = (1.0 - damping) / n
    ranks = dict.fromkeys(nodes, 1.0 / n)
    for _ in range(iterations):
        dm = sum(fixed(ranks[v]) for v in dangling)
        s = dict.fromkeys(nodes, 0)
        for u, dg in deg.items():
            r = ranks[u]
            for w, vs in out[u].items():
                c = fixed(r * w / dg)
                for v in vs:
                    s[v] += c
        tail = damping * ((dm / unit) / float(n))
        ranks = {
            v: teleport + damping * (sv / unit) + tail for v, sv in s.items()
        }
    return ranks
