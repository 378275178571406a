"""Data-volume scaling probe (r3 verdict task 5): build N×-scaled
inputs from the sf0.1 fixtures by key-shifted unions and re-run the
headline operators at each multiplier, timing wall-clock.

The point is the GROWTH CURVE, not the absolute numbers: plans whose
wall grows ≲ O(n) with data volume on a fixed local[32] box are the
plans whose work is partition-local / key-pruned (upserts rewrite only
key-hit files, incremental reads scan only in-range commits, LSH work
is bucket-local) — the property that carries to a 1000-executor
cluster. Documents are key-shifted WITHOUT text perturbation, matching
the round-1 probe: the resulting clone clusters are a worst-case
duplicate-heavy corpus and exercise the LSH skew caps for real.

Usage: python scripts/scale_probe.py [--lake-only|--ext-only|--pipe-only|
--compact-only|--cow-upsert-only|--mor-append-only] [mult ...]
(default mults: 1 5 25;
``--lake-only`` runs just the lake-kernel legs — point reads,
index/sidecar builds, bucket MOR — for the deep 100× runs where the
corpus operators would dominate wall-clock; ``--ext-only`` the dedup/ANN extension legs;
``--pipe-only`` the streaming-state + medallion legs, r13;
``--compact-only`` the in-driver compaction fold against the Spark fold
on a medallion-shaped ODS table, e.g. ``--compact-only 1 10 100``;
``--cow-upsert-only`` the in-driver copy-on-write upsert against the
Spark rewrite on a mart-shaped table, e.g. ``--cow-upsert-only 1 10
100``; ``--mor-append-only`` the in-driver delta append against the
Spark delta write on a medallion ODS table, e.g. ``--mor-append-only 1
10 25 50 600``, where 600× is past the row cap)
Writes scaled parquet under /tmp/scale_probe/ and prints one JSON line
per (multiplier, operator) plus a summary table; results are recorded
in BASELINE.md.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.1"
WORK = "/tmp/scale_probe"


def scaled(df: DataFrame, key: str, mult: int, shift: int) -> DataFrame:
    """mult key-shifted copies of df (copy i shifts key by i*shift)."""
    out = df
    for i in range(1, mult):
        out = out.unionByName(
            df.withColumn(key, F.col(key) + F.lit(i * shift))
        )
    return out


#: (table, shift key) for every scalable input — ONE source of truth
#: for the key-shifted cloning scheme, shared by the main probe and the
#: --ext-only legs so they can never measure differently-built inputs
_SCALABLE = {
    "orders": "o_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def build_inputs(
    spark: SparkSession,
    mult: int,
    lake_only: bool = False,
    tables: tuple[str, ...] | None = None,
) -> dict[str, str]:
    paths = {}
    wanted = tables if tables is not None else (
        ("orders",) if lake_only
        else ("orders", "documents", "embeddings")
    )
    for tbl in wanted:
        dst = f"{WORK}/x{mult}/{tbl}"
        df = spark.read.parquet(f"{SF_DIR}/{tbl}.parquet")
        scaled(df, _SCALABLE[tbl], mult, 10_000_000).write.mode(
            "overwrite"
        ).parquet(dst)
        paths[tbl] = dst
    if lake_only or tables is not None:
        return paths
    dst = f"{WORK}/x{mult}/events"
    _clone_events(spark, mult).write.mode("overwrite").parquet(dst)
    paths["events"] = dst
    return paths


def _clone_events(spark: SparkSession, mult: int):
    """Key-shifted events clones — the ONE construction both probe
    families measure (build_inputs for the operator legs,
    run_pipe_probe for the streaming/medallion legs): shift BOTH
    user_id (graph nodes) and event_id (the window tiebreak must stay
    unique); copies share timestamps, so per-type timelines interleave
    across copies — a DENSER handoff graph, the adversarial case for
    PageRank's join+agg iterations."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":  # TIMESTAMP(NANOS) fixture
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    out = ev
    for i in range(1, mult):
        out = out.unionByName(
            ev.withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
            .withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        )
    return out


def timed(label: str, mult: int, fn) -> dict:
    t0 = time.perf_counter()
    out = fn()
    extra = out if isinstance(out, dict) else {}
    wall = round(time.perf_counter() - t0, 2)
    rec = {"op": label, "mult": mult, "wall_sec": wall, **extra}
    print(json.dumps(rec), flush=True)
    return rec


def run_probe(
    spark: SparkSession, mult: int, lake_only: bool = False
) -> list[dict]:
    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.operators import dedup as D
    from emr_hudi_example_spark.operators import similarity as S

    paths = build_inputs(spark, mult, lake_only=lake_only)
    orders = spark.read.parquet(paths["orders"]).withColumn(
        "ver", F.lit(1).cast("long")
    )
    if not lake_only:
        docs = spark.read.parquet(paths["documents"])
        emb = spark.read.parquet(paths["embeddings"])
    recs = []

    troot = f"{WORK}/x{mult}/lake"
    shutil.rmtree(troot, ignore_errors=True)
    t = LakeTable(
        spark, troot, "probe", "orders", ["o_orderkey"], "ver"
    )
    recs.append(
        timed(
            "cow_initial_upsert", mult,
            lambda: t.write(orders, op="upsert", instant="001"),
        )
    )
    delta = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    recs.append(
        timed(
            "one_pct_upsert", mult,
            lambda: t.write(delta, op="upsert", instant="002"),
        )
    )
    recs.append(
        timed(
            "incremental_read", mult,
            lambda: {"rows": t.incremental("001", "002").count()},
        )
    )

    # --- r9: the r8 planner-index paths at scale (r8 verdict #4) ---
    # (a) sidecar builds under REAL file counts: one commit of 1024
    # files with record index + key bloom + column bloom enabled — the
    # thread-pooled footer harvesting and concurrent index builds, and
    # the per-instant .nshards modulus, under a 1000+-file commit.
    iroot = f"{WORK}/x{mult}/lake_idx"
    shutil.rmtree(iroot, ignore_errors=True)
    ti = LakeTable(
        spark, iroot, "probe", "orders_idx", ["o_orderkey"], "ver",
        record_index=True, index_shards=64,
        bloom_index=True, bloom_columns=["o_custkey"],
        stats_columns=["o_orderdate"],
    )
    recs.append(
        timed(
            "sidecar_build_1024files", mult,
            lambda: ti.write(
                orders.repartition(1024), op="insert", instant="001"
            ),
        )
    )
    probe_key = str(
        orders.agg(F.max("o_orderkey")).collect()[0][0]
    )

    def _point_read():
        out = ti.snapshot(predicate=[("_record_key", "=", probe_key)])
        pruned = ti.last_scan["record_index"]
        return {"rows": out.count(), "read_pruned": pruned}

    recs.append(timed("record_index_pointread_1024", mult, _point_read))

    # (a2) r10: 4096-files-per-commit sidecar build — 4× the r9 leg,
    # driving the per-instant ``.nshards`` modulus, the thread-pooled
    # footer harvest and the concurrent index builds at metadata-table
    # file counts a 100 TB commit actually produces; the point read
    # must stay flat regardless.
    i4root = f"{WORK}/x{mult}/lake_idx4k"
    shutil.rmtree(i4root, ignore_errors=True)
    ti4 = LakeTable(
        spark, i4root, "probe", "orders_idx4k", ["o_orderkey"], "ver",
        record_index=True, index_shards=64,
        bloom_index=True, bloom_columns=["o_custkey"],
        stats_columns=["o_orderdate"],
    )
    recs.append(
        timed(
            "sidecar_build_4096files", mult,
            lambda: ti4.write(
                orders.repartition(4096), op="insert", instant="001"
            ),
        )
    )

    def _point_read_4k():
        out = ti4.snapshot(predicate=[("_record_key", "=", probe_key)])
        return {
            "rows": out.count(),
            "read_pruned": ti4.last_scan["record_index"],
        }

    recs.append(timed("record_index_pointread_4096", mult, _point_read_4k))

    # (a3) r10: bucket-index MOR point read at scale — 64 buckets,
    # one superseding + one out-of-order delta on the probed key; the
    # read keeps exactly the key's bucket (base + its deltas merge as
    # a unit) and prunes the other 63 at any data size.
    buroot = f"{WORK}/x{mult}/lake_bmor"
    shutil.rmtree(buroot, ignore_errors=True)
    tb = LakeTable(
        spark, buroot, "probe", "orders_bmor", ["o_orderkey"], "ver",
        bucket_index=64, table_type="MERGE_ON_READ",
    )
    recs.append(
        timed(
            "bucket_mor_insert_64buckets", mult,
            lambda: tb.write(orders, op="insert", instant="001"),
        )
    )
    key_df = orders.filter(F.col("o_orderkey") == int(probe_key))
    tb.write(
        key_df.withColumn("ver", F.lit(3).cast("long")),
        op="upsert", instant="002",
    )
    tb.write(
        key_df.withColumn("ver", F.lit(2).cast("long")),
        op="upsert", instant="003",
    )

    def _bucket_point():
        out = tb.snapshot(predicate=[("_record_key", "=", probe_key)])
        return {
            "rows": out.count(),
            "bucket_pruned": tb.last_scan["bucket"],
        }

    recs.append(timed("bucket_mor_pointread", mult, _bucket_point))

    # (b) partition-stats wholesale pruning: orders partitioned by
    # derived year, two interleaved commits, a 1997 window predicate —
    # planning is O(partitions); partition count is FIXED across
    # multipliers, so the read curve isolates the scan of one year.
    proot = f"{WORK}/x{mult}/lake_pstats"
    shutil.rmtree(proot, ignore_errors=True)
    by_year = orders.withColumn(
        "logyear", F.substring(F.col("o_orderdate").cast("string"), 1, 4)
    )
    tp = LakeTable(
        spark, proot, "probe", "orders_py", ["o_orderkey"], "ver",
        partition_keys=["logyear"], stats_columns=["o_orderdate"],
    )
    tp.write(
        by_year.filter(F.col("o_orderkey") % 2 == 0),
        op="insert", instant="001",
    )
    tp.write(
        by_year.filter(F.col("o_orderkey") % 2 == 1),
        op="insert", instant="002",
    )

    def _pstats_read():
        out = tp.snapshot(
            predicate=[
                ("o_orderdate", "between", ("1997-03-01", "1997-09-30"))
            ]
        )
        return {
            "rows": out.count(),
            "partitions_pruned": tp.last_scan.partitions_pruned,
        }

    recs.append(timed("partition_stats_prune_read", mult, _pstats_read))

    # (c) functional-index pruning: year() predicate over stored
    # column stats — four disjoint date-span commits, read one year.
    froot = f"{WORK}/x{mult}/lake_fn"
    shutil.rmtree(froot, ignore_errors=True)
    tf = LakeTable(
        spark, froot, "probe", "orders_fn", ["o_orderkey"], "ver",
        stats_columns=["o_orderdate"],
    )
    spans = [
        ("1900-01-01", "1997-01-01"), ("1997-01-01", "1999-01-01"),
        ("1999-01-01", "2000-01-01"), ("2000-01-01", "2100-01-01"),
    ]
    for i, (lo, hi) in enumerate(spans):
        tf.write(
            orders.filter(
                (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
            ).coalesce(4),
            op="insert", instant=f"00{i + 1}",
        )

    def _fn_read():
        out = tf.snapshot(predicate=[("year(o_orderdate)", "=", 1997)])
        return {"rows": out.count(), "files_skipped": tf.last_scan.dropped}

    recs.append(timed("functional_index_read", mult, _fn_read))

    # (d) r9: exact secondary index at scale — the content-hash
    # point-lookup workload (``tag`` = md5(orderkey), one row per
    # value, index cardinality scales WITH the multiplier). A 128-file
    # commit takes the Spark build (distinct (val, fp) pairs
    # hash-shuffled on (col, shard)); the hit probe then reads exactly
    # ONE file (127 pruned) and the needle-free probe prunes ALL 128
    # at zero data I/O — probe cost is the matched shard dirs,
    # ~1/64 of one column's index, at any table size.
    sroot = f"{WORK}/x{mult}/lake_sec"
    shutil.rmtree(sroot, ignore_errors=True)
    tagged = orders.withColumn(
        "tag", F.md5(F.col("o_orderkey").cast("string"))
    )
    ts = LakeTable(
        spark, sroot, "probe", "orders_sec", ["o_orderkey"], "ver",
        secondary_index_columns=["tag"],
    )
    recs.append(
        timed(
            "sec_index_build_128files", mult,
            lambda: ts.write(
                tagged.repartition(128), op="insert", instant="001"
            ),
        )
    )
    one_tag = tagged.select("tag").first()[0]

    def _sec_miss():
        out = ts.snapshot(predicate=[("tag", "=", "no-such-hash")])
        return {"rows": out.count(), "sec_pruned": ts.last_scan["sec_index"]}

    recs.append(timed("sec_index_missing_read", mult, _sec_miss))

    def _sec_hit():
        out = ts.snapshot(predicate=[("tag", "=", one_tag)])
        return {"rows": out.count(), "sec_pruned": ts.last_scan["sec_index"]}

    recs.append(timed("sec_index_hit_read", mult, _sec_hit))

    if lake_only:
        return recs

    # materialization (checkpoint) INSIDE the timed block so pair-gen
    # cost lands in minhash_lsh_pairs, and cluster_groups below times
    # only label propagation over the already-materialized pairs
    state: dict = {}

    def _gen_pairs():
        state["pairs"] = D.minhash_lsh_dedup(docs).localCheckpoint()
        return {"rows": state["pairs"].count()}

    recs.append(timed("minhash_lsh_pairs", mult, _gen_pairs))
    pairs = state["pairs"]
    recs.append(
        timed(
            "cluster_groups", mult,
            lambda: {
                "rows": D.connected_components_star(
                    pairs.selectExpr("id_a", "id_b"),
                    docs.select("doc_id"),
                ).count()
            },
        )
    )
    from emr_hudi_example_spark.operators import graph as G

    events = spark.read.parquet(paths["events"])
    recs.append(
        timed(
            "pagerank_3iter", mult,
            lambda: {
                "rows": G.pagerank(
                    G.sequential_interaction_edges(events), iterations=3
                ).count()
            },
        )
    )
    recs.append(
        timed(
            "kmeans_refine", mult,
            lambda: {
                # centroids from the BASE copy only (vec_id below the
                # first shift): k stays fixed across multipliers so the
                # curve isolates data growth, not k growth
                "rows": S.kmeans_refine(
                    emb,
                    emb.filter(
                        (F.col("vec_id") % 37 == 0)
                        & (F.col("vec_id") < 10_000_000)
                    ),
                ).count()
            },
        )
    )
    return recs


def run_ext_probe(spark: SparkSession, mult: int) -> list[dict]:
    """The r12 extension-family deep-scale legs (verdict #3): the
    dedup and sampled-ANN shapes whose curves previously stopped at
    10–25×, run standalone so the lake legs don't dominate wall-clock
    at 100×. Key-shifted cloning means every distinct document gains
    ``mult`` exact clones — a worst-case boilerplate-saturated corpus:

    - ``minhash_lsh_pairs_guarded``: the graded end-to-end near-dup
      pipeline with ``max_bucket_size=64`` (< the 100× clone density),
      so the 100× leg exercises the skew guard actually DROPPING the
      clone mega-buckets — the at-scale configuration of item #4.
    - ``minhash_lsh_pairs_long_x16``: the default pipeline over the
      same documents with each text repeated 16 times (~870 tokens per
      document, same document count): its wall shows whether shingling
      stays linear in document length.
    - ``cluster_groups_star``: star contraction over the UNGUARDED
      candidate pairs (cap 256 keeps the 100-clone cliques intact —
      ~C(mult,2)·n_docs edges), recording LAST_STAR_ROUNDS to pin the
      O(log n) round-count claim against the edge blow-up.
    - the two graded sampled-ANN recipes' operator bodies with their
      fixed panels/nlist (panel ids live in the base copy, so the
      panel is IDENTICAL across multipliers — the curve isolates the
      corpus-size term: encode + probe fan-out).
    """
    from emr_hudi_example_spark.operators import dedup as D
    from emr_hudi_example_spark.operators import similarity as S

    recs: list[dict] = []
    paths = build_inputs(
        spark, mult, tables=("documents", "embeddings")
    )
    docs = spark.read.parquet(paths["documents"])
    emb = spark.read.parquet(paths["embeddings"])

    recs.append(
        timed(
            "minhash_lsh_pairs_guarded", mult,
            lambda: {
                "rows": D.minhash_lsh_dedup(
                    docs, max_bucket_size=64
                ).count()
            },
        )
    )

    long_docs = docs.withColumn(
        "text", F.concat_ws(" ", F.array_repeat("text", 16))
    )
    recs.append(
        timed(
            "minhash_lsh_pairs_long_x16", mult,
            lambda: {"rows": D.minhash_lsh_dedup(long_docs).count()},
        )
    )

    state: dict = {}

    def _cand_pairs():
        sig = D.minhash_signatures(docs)
        state["pairs"] = D.lsh_candidate_pairs(
            sig, max_bucket_size=256
        ).localCheckpoint()
        return {"rows": state["pairs"].count()}

    recs.append(timed("lsh_candidate_pairs_cap256", mult, _cand_pairs))

    def _cc():
        out = D.connected_components_star(
            state["pairs"], docs.select("doc_id")
        )
        return {"rows": out.count(), "rounds": D.LAST_STAR_ROUNDS}

    recs.append(timed("cluster_groups_star", mult, _cc))

    # the graded recipes' own panel constructor — a probe measuring a
    # different panel would not measure the graded shapes
    from emr_hudi_example_spark.catalog_ext import _ann_panel

    def _panel():
        return _ann_panel(emb)

    recs.append(
        timed(
            "opq_topk_sampled", mult,
            lambda: {
                "rows": S.opq_adc_topk(
                    emb, _panel(), k=5, dim=64, stats_sample_frac=0.25
                ).count()
            },
        )
    )

    def _rivf():
        cen = S.local_bounded(
            emb.filter(F.col("vec_id") % 37 == 0)
            .orderBy("vec_id")
            .limit(32),
            32,
        )
        return {
            "rows": S.ivfpq_residual_topk(
                emb, _panel(), cen, k=5, nprobe=3
            ).count()
        }

    recs.append(timed("rivf_topk_sampled", mult, _rivf))
    return recs


def run_pipe_probe(spark: SparkSession, mult: int) -> list[dict]:
    """r13 deep-scale legs (r12 verdict #4) for the streaming-state and
    medallion families, whose curves previously stopped at 10x. Builds
    a ``<table>.parquet``-shaped scaled directory so the GRADED catalog
    bodies run completely unmodified — the probe measures the graded
    shapes, not probe-local rewrites. Clone construction matches the
    other probes (key-shifted copies; event clones shift user_id too,
    so per-user timelines — and therefore stream-join state per key —
    stay fixture-dense while the KEY COUNT scales ×mult: exactly the
    "state rows ∝ keys" claim under test)."""
    import os

    from emr_hudi_example_spark import all_queries as catalog
    from emr_hudi_example_spark import catalog_pipelines as _cp

    pdir = f"{WORK}/pipe_x{mult}"
    shutil.rmtree(pdir, ignore_errors=True)
    os.makedirs(pdir, exist_ok=True)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    scaled(docs, "doc_id", mult, 10_000_000).write.mode(
        "overwrite"
    ).parquet(f"{pdir}/documents.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    scaled(orders, "o_orderkey", mult, 10_000_000).write.mode(
        "overwrite"
    ).parquet(f"{pdir}/orders.parquet")
    _clone_events(spark, mult).write.mode("overwrite").parquet(
        f"{pdir}/events.parquet"
    )
    # dims verbatim: the medallion's customer join fan-out per order is
    # scale-invariant (clones reuse the fixture custkeys)
    spark.read.parquet(f"{SF_DIR}/customer.parquet").write.mode(
        "overwrite"
    ).parquet(f"{pdir}/customer.parquet")

    recs = []
    for name in (
        "pipe_stream_dedup_endstate",
        "pipe_stream_join_endstate",
        "pipe_dwd2dm_endstate",
    ):
        # min-of-2: the first leg of a fresh session otherwise carries
        # JVM/codegen warmup (measured 13 s vs 5.5 s warm at 1x)
        best = None
        for _ in range(2):
            _cp._MEDALLION_CACHE.clear()
            t0 = time.perf_counter()
            rows = catalog.Q[name](spark, pdir).count()
            wall = round(time.perf_counter() - t0, 2)
            best = wall if best is None or wall < best else best
        rec = {"op": name, "mult": mult, "wall_sec": best, "rows": rows}
        print(json.dumps(rec), flush=True)
        recs.append(rec)
    return recs


def run_ann_probe(spark: SparkSession, mult: int) -> list[dict]:
    """r14 serving-envelope legs (r13 verdict #2): the GRADED
    ``sim_ivfpq_topk`` body — fixed query panel + ADAPTIVE sqrt-n
    coarse quantizer — run completely unmodified against a
    ``<table>.parquet``-shaped scaled directory, so the probe measures
    the graded recipe including its parquet-footer nlist computation
    (nlist = 44 / 141 / 447 at 1x/10x/100x of the sf0.1 corpus).

    Expected shape, pinned in BASELINE.md: the assign pass is
    n x nlist = n^1.5 dots (FAISS's own IVF assign cost), so the
    per-decade wall ratio RISES toward 31.6x asymptotically as the
    assign term overtakes the fixture-scale plan overhead; the LINEAR
    ``sim_pq_adc_topk`` (fixed panel, full-scan ADC) runs beside it as
    the reference curve that separates overhead from data terms."""
    import os

    from emr_hudi_example_spark import all_queries as catalog

    pdir = f"{WORK}/ann_x{mult}"
    shutil.rmtree(pdir, ignore_errors=True)
    os.makedirs(pdir, exist_ok=True)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    scaled(emb, "vec_id", mult, 10_000_000).write.mode(
        "overwrite"
    ).parquet(f"{pdir}/embeddings.parquet")

    from emr_hudi_example_spark.catalog_ext import _ann_adaptive_nlist

    nlist = _ann_adaptive_nlist(pdir)
    recs = []
    for name in ("sim_pq_adc_topk", "sim_ivfpq_topk"):
        best = None
        for _ in range(2):  # min-of-2: shed JVM/codegen warmup
            t0 = time.perf_counter()
            rows = catalog.Q[name](spark, pdir).count()
            wall = round(time.perf_counter() - t0, 2)
            best = wall if best is None or wall < best else best
        rec = {
            "op": name, "mult": mult, "wall_sec": best, "rows": rows,
            "nlist": nlist,
        }
        print(json.dumps(rec), flush=True)
        recs.append(rec)
    return recs


class _PeakRss:
    """Peak resident-set growth of some processes over a ``with`` block,
    sampled every 10 ms from ``/proc/<pid>/statm`` (Linux)."""

    def __init__(self, pids: dict[str, int]) -> None:
        self.pids = pids
        self.growth_mb: dict[str, float] = {}

    @staticmethod
    def _rss_mb(pid: int) -> float:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20

    def _sample(self) -> None:
        while not self._stop.is_set():
            for k, pid in self.pids.items():
                self._peak[k] = max(self._peak[k], self._rss_mb(pid))
            self._stop.wait(0.01)

    def __enter__(self) -> "_PeakRss":
        import threading

        self._base = {k: self._rss_mb(p) for k, p in self.pids.items()}
        self._peak = dict(self._base)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.growth_mb = {
            k: round(self._peak[k] - self._base[k], 1) for k in self.pids
        }


#: the routes the compaction and copy-on-write probes time, as
#: ``(name, driver_probe_max_bytes, DRIVER_BUILD_MAX_ROWS)`` (None: the
#: default): the in-driver kernel with the shared gate forced open, row
#: cap included (the collect's ``limit()`` takes a Java int), the Spark
#: route with it shut, and the defaults, which pick one of the two
_ROUTES = (
    ("kernel", 1 << 62, (1 << 31) - 2),
    ("spark", 0, None),
    ("default", None, None),
)


@contextlib.contextmanager
def _gate(t, budget: int | None, rows_cap: int | None):
    """Set ``t``'s driver byte budget and the shared row cap for one
    timed run; the cap is put back after it."""
    from emr_hudi_example_spark.lake import index

    cap = index.DRIVER_BUILD_MAX_ROWS
    if budget is not None:
        t.driver_probe_max_bytes = budget
    if rows_cap is not None:
        index.DRIVER_BUILD_MAX_ROWS = rows_cap
    try:
        yield
    finally:
        index.DRIVER_BUILD_MAX_ROWS = cap


def run_compact_probe(spark: SparkSession, mult: int) -> list[dict]:
    """The compaction fold at ``mult``× the medallion ODS table after
    10 ticks (1× = 6,000 first rows, then 1,900-2,100 rows a tick with
    a fifth re-emitted; two files a commit, as ``local[2]`` writes
    them) on each of :data:`_ROUTES` (the in-driver kernel,
    ``lake/fold.py``; the Spark fold; the defaults), min of 2 over
    fresh copies of one table. Each record says whether the files sit
    under the shared driver gate (``index.driver_buildable``), and
    gives the fold's wall time and the peak RSS growth of the Python
    driver and of the JVM during it — the measurement that shows
    whether the gate sits below the speed crossover."""
    import pandas as pd

    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.lake.index import driver_buildable
    from lakebench.gen import medallion_plan

    plan = medallion_plan(
        1, 11, first_rows=6_000 * mult,
        tick_rows=(1_900 * mult, 2_100 * mult),
    )
    src = f"{WORK}/compact_x{mult}"
    shutil.rmtree(src, ignore_errors=True)

    def table(base: str) -> LakeTable:
        return LakeTable(
            spark, base, "bench", "ods", ["l_orderkey", "l_linenumber"],
            "created_ts", table_type="MERGE_ON_READ",
        )

    ods = table(src)
    for sl in plan["slices"]:
        ods.write(
            spark.createDataFrame(pd.DataFrame(sl)).coalesce(2), op="upsert"
        )
    files = ods.tl.live_files()
    pids = {
        "py": os.getpid(),
        "jvm": spark.sparkContext._jvm.ProcessHandle.current().pid(),
    }
    recs = []
    for route, budget, rows_cap in _ROUTES:
        best = None
        for _ in range(2):
            dst = f"{WORK}/compact_x{mult}_{route}"
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
            t = table(dst)
            with _gate(t, budget, rows_cap), _PeakRss(pids) as rss:
                t0 = time.perf_counter()
                t.compact()
                wall = round(time.perf_counter() - t0, 3)
            if best is None or wall < best[0]:
                best = (wall, rss.growth_mb)
        rec = {
            "op": f"compact_{route}", "mult": mult, "wall_sec": best[0],
            "rows": t.snapshot().count(), "files": len(files),
            "in_mb": round(sum(f["bytes"] for f in files) / 2**20, 2),
            "under_gate": driver_buildable(ods, files),
            "rss_growth_mb": best[1],
        }
        print(json.dumps(rec), flush=True)
        recs.append(rec)
    return recs


def run_cow_upsert_probe(spark: SparkSession, mult: int) -> list[dict]:
    """A copy-on-write upsert at ``mult``× a mart-shaped table (the
    medallion DM: two string keys, a double sum and a long precombine,
    written by one creating upsert; 1× = 20,000 rows) with a batch of a
    tenth of that, half updates and half new keys) on each of
    :data:`_ROUTES` (the in-driver route, ``lake/fold.py``; the Spark
    rewrite; the defaults), min of 2 over fresh copies of one table. Each
    record says whether the table sits under the shared driver gate and
    its rows with the batch's under the row cap, and gives the upsert's wall time and the
    peak RSS growth of the Python driver and of the JVM during it."""
    from emr_hudi_example_spark.lake import LakeTable, index

    n, b = 20_000 * mult, 2_000 * mult

    def rows(lo: int, hi: int, ts: int) -> DataFrame:
        return spark.range(lo, hi).select(
            F.concat(F.lit("Brand#"), (F.col("id") / 3).cast("long"))
            .cast("string").alias("p_brand"),
            F.element_at(
                F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("l_returnflag"),
            (F.col("id") * 1.25).alias("qty_sum"),
            F.lit(ts).cast("long").alias("created_ts"),
        )

    def table(base: str) -> LakeTable:
        return LakeTable(
            spark, base, "bench", "dm", ["p_brand", "l_returnflag"],
            "created_ts",
        )

    src = f"{WORK}/cow_upsert_x{mult}"
    shutil.rmtree(src, ignore_errors=True)
    dm = table(src)
    dm.write(rows(0, n, 1), op="upsert")
    files = dm.tl.live_files()
    batch = rows(n - b // 2, n + b // 2, 2).cache()
    batch.count()
    pids = {
        "py": os.getpid(),
        "jvm": spark.sparkContext._jvm.ProcessHandle.current().pid(),
    }
    recs = []
    for route, budget, rows_cap in _ROUTES:
        best = None
        for _ in range(2):
            dst = f"{WORK}/cow_upsert_x{mult}_{route}"
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
            t = table(dst)
            with _gate(t, budget, rows_cap), _PeakRss(pids) as rss:
                t0 = time.perf_counter()
                t.write(batch, op="upsert")
                wall = round(time.perf_counter() - t0, 3)
            if best is None or wall < best[0]:
                best = (wall, rss.growth_mb)
        rec = {
            "op": f"cow_upsert_{route}", "mult": mult, "wall_sec": best[0],
            "rows": t.snapshot().count(), "batch_rows": b,
            "in_mb": round(sum(f["bytes"] for f in files) / 2**20, 2),
            "under_gate": (
                index.driver_buildable(dm, files)
                and n + b <= index.DRIVER_BUILD_MAX_ROWS
            ),
            "rss_growth_mb": best[1],
        }
        print(json.dumps(rec), flush=True)
        recs.append(rec)
    batch.unpersist()
    return recs


def run_mor_append_probe(spark: SparkSession, mult: int) -> list[dict]:
    """A merge-on-read delta append at ``mult``× a medallion ODS tick
    (1× = 1,900-2,100 new rows, plus up to 1,200 re-emitted keys, into
    an ODS table created with 6,000 rows) on each of :data:`_ROUTES`
    (the in-driver append, ``lake/fold.py``; the Spark delta write; the
    defaults), min of 2 over fresh copies of one table. Each record says
    whether the batch is within the row cap, and gives the append's
    wall time, the bytes per row of the delta files it added and the
    peak RSS growth of the Python driver and of the JVM during it. Past
    the cap the default route collects ``DRIVER_BUILD_MAX_ROWS + 1``
    rows before it declines to the Spark write."""
    import pandas as pd

    from emr_hudi_example_spark.lake import LakeTable, index
    from lakebench.gen import medallion_plan

    plan = medallion_plan(
        1, 2, first_rows=6_000, tick_rows=(1_900 * mult, 2_100 * mult)
    )

    def table(base: str) -> LakeTable:
        return LakeTable(
            spark, base, "bench", "ods", ["l_orderkey", "l_linenumber"],
            "created_ts", table_type="MERGE_ON_READ",
        )

    src = f"{WORK}/mor_append_x{mult}"
    shutil.rmtree(src, ignore_errors=True)
    table(src).write(
        spark.createDataFrame(pd.DataFrame(plan["slices"][0])), op="upsert"
    )
    batch = spark.createDataFrame(pd.DataFrame(plan["slices"][1]))
    n = len(plan["slices"][1]["l_orderkey"])
    pids = {
        "py": os.getpid(),
        "jvm": spark.sparkContext._jvm.ProcessHandle.current().pid(),
    }
    recs = []
    for route, budget, rows_cap in _ROUTES:
        best = None
        for _ in range(2):
            dst = f"{WORK}/mor_append_x{mult}_{route}"
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
            t = table(dst)
            with _gate(t, budget, rows_cap), _PeakRss(pids) as rss:
                t0 = time.perf_counter()
                inst = t.write(batch, op="upsert")
                wall = round(time.perf_counter() - t0, 3)
            if best is None or wall < best[0]:
                best = (wall, rss.growth_mb)
        added = t.tl.manifest(inst)["added"]
        rec = {
            "op": f"mor_append_{route}", "mult": mult, "wall_sec": best[0],
            "rows": n, "files": len(added),
            "bytes_per_row": round(sum(f["bytes"] for f in added) / n, 1),
            "under_cap": n <= index.DRIVER_BUILD_MAX_ROWS,
            "rss_growth_mb": best[1],
        }
        print(json.dumps(rec), flush=True)
        recs.append(rec)
    return recs


def main() -> None:
    args = sys.argv[1:]
    lake_only = "--lake-only" in args
    ext_only = "--ext-only" in args
    pipe_only = "--pipe-only" in args
    ann_only = "--ann-only" in args
    compact_only = "--compact-only" in args
    cow_upsert_only = "--cow-upsert-only" in args
    mor_append_only = "--mor-append-only" in args
    flags = (
        "--lake-only", "--ext-only", "--pipe-only", "--ann-only",
        "--compact-only", "--cow-upsert-only", "--mor-append-only",
    )
    mults = [int(a) for a in args if a not in flags] or [1, 5, 25]
    sys.path.insert(0, ROOT)
    from emr_hudi_example_spark.session import get_spark_session

    # cores and shuffle partitions from $SPARK_GRAFT_CPUS; the heap is
    # half of physical RAM, at most 48g
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    heap_gb = max(1, min(48, ram_gb // 2))
    spark = get_spark_session(
        app_name="scale-probe",
        extra_conf={"spark.driver.memory": f"{heap_gb}g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    all_recs = []
    for m in mults:
        if compact_only:
            all_recs.extend(run_compact_probe(spark, m))
        elif cow_upsert_only:
            all_recs.extend(run_cow_upsert_probe(spark, m))
        elif mor_append_only:
            all_recs.extend(run_mor_append_probe(spark, m))
        elif ann_only:
            all_recs.extend(run_ann_probe(spark, m))
        elif pipe_only:
            all_recs.extend(run_pipe_probe(spark, m))
        elif ext_only:
            all_recs.extend(run_ext_probe(spark, m))
        else:
            all_recs.extend(run_probe(spark, m, lake_only=lake_only))
    by_op: dict[str, dict[int, dict]] = {}
    for r in all_recs:
        by_op.setdefault(r["op"], {})[r["mult"]] = r
    print("\n| Operator | " + " | ".join(f"{m}x" for m in mults) + " |")
    print("|---" * (len(mults) + 1) + "|")
    for op, row in by_op.items():
        cells = []
        for m in mults:
            r = row.get(m)
            cells.append(
                f"{r['wall_sec']} s"
                + (f" / {r['rows']} rows" if r and "rows" in r else "")
                if r
                else "-"
            )
        print(f"| {op} | " + " | ".join(cells) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
