"""Unit tests for the benchmark's own pieces (no Spark needed):

    python -m pytest lakebench -q
"""

from __future__ import annotations

import json
import os

import numpy as np

from lakebench import gen, procstat
from lakebench.run import op_count
from lakebench.spans import (
    Span,
    Tracer,
    driver_time,
    layer_metrics,
    op_residuals,
    self_time,
    unit_of,
)


def _same(a, b) -> bool:
    """Deep equality over the dict/list/ndarray trees gen returns."""
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, np.ndarray):
        return a.shape == b.shape and bool(np.all(a == b))
    return a == b


PLANS = {
    "ingest": lambda s: gen.ingest_plan(s, 20_000, 12),
    "medallion": lambda s: gen.medallion_plan(s, 6, 500, (100, 200)),
    "reads": lambda s: gen.reads_plan(s, 2_000, 3, 5, 30),
    "llm_ops": lambda s: gen.llm_plan(s, 60, 40, 8, 300, 10),
}


def test_same_seed_same_inputs_other_seed_other_inputs():
    for name, plan in PLANS.items():
        assert _same(plan(7), plan(7)), name
        assert not _same(plan(7), plan(8)), name


def test_ingest_plan_shape():
    plan = gen.ingest_plan(3, 20_000, 20)
    kinds = [op["kind"] for op in plan["ops"]]
    assert kinds == [gen.INGEST_PATTERN[i % 10] for i in range(20)]
    deleted: set[int] = set()
    for op in plan["ops"]:
        if op["kind"] == "delete":
            assert gen.POINT_KEYS[0] <= len(op["keys"]) <= gen.POINT_KEYS[1]
            deleted.update(op["keys"].tolist())
            continue
        keys = op["rows"]["o_orderkey"]
        lo, hi = gen.BULK_KEYS if op["kind"] == "bulk" else gen.POINT_KEYS
        assert lo <= len(keys) <= hi
        assert len(set(keys.tolist())) == len(keys)
        assert not deleted & set(keys.tolist())  # deleted keys stay deleted


def test_medallion_slices_reemit_with_unique_keys():
    plan = gen.medallion_plan(5, 5, 500, (100, 200))
    seen: set[tuple[int, int]] = set()
    for t, s in enumerate(plan["slices"]):
        keys = list(zip(s["l_orderkey"].tolist(), s["l_linenumber"].tolist()))
        assert len(set(keys)) == len(keys)
        assert (s["created_ts"] == t + 1).all()
        if t:
            assert seen & set(keys)  # a share of earlier keys comes back
        seen.update(keys)


def test_tail_rule():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert procstat.tail(xs, 5) == (90.0, 90.0, 100)  # 10 samples above 90
    assert procstat.tail(xs[:20], 5) == (10.0, 50.0, 20)
    # under 2 * 10 samples the rule's percentile would sit below the
    # median: the median over rounds of each round's slowest op instead
    assert procstat.tail(xs[:19], 19) == (19.0, 100.0 * 18 / 19, 19)
    rounds = [1.0, 1.2, 5.0, 1.1, 1.0, 6.0, 0.9, 1.3, 9.0]
    assert procstat.tail(rounds, 3) == (6.0, 100.0 * 2 / 3, 9)
    assert procstat.median([3.0, 1.0, 2.0]) == 2.0
    assert procstat.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_op_count_is_whole_rounds_fixed_by_seconds():
    class Wl:
        ROUND, ROUND_S = 5, 20.0

    assert op_count(Wl, 20, 0) == 5
    assert op_count(Wl, 45, 0) == 10
    assert op_count(Wl, 1, 0) == 5  # at least one round
    assert op_count(Wl, 1, 1) == 10  # a traced and an untraced round


def _spans():
    """op 0: root [0, 10] > a [1, 6] > b [2, 4]; root > c [7, 9]."""
    sp = [
        Span(0, "op", None, 0, 0.0, 10.0),
        Span(1, "pipelines.x", 0, 0, 1.0, 6.0),
        Span(2, "lake.write", 1, 0, 2.0, 4.0),
        Span(3, "exec", 0, 0, 7.0, 9.0),
    ]
    tr = Tracer()
    tr.spans = sp
    return tr, sp


def test_self_time_on_nested_spans():
    tr, sp = _spans()
    kids = tr.children()
    assert self_time(sp[0], kids[0]) == 10.0 - 5.0 - 2.0
    assert self_time(sp[1], kids[1]) == 5.0 - 2.0
    assert self_time(sp[2], []) == 2.0
    # self times plus the root's untraced gaps sum to the op's wall
    assert op_residuals(tr) == [0.0]


def test_driver_time_excludes_children_and_own_jobs():
    tr, sp = _spans()
    sp[1].jobs = [(1.5, 2.5), (4.5, 5.0)]
    # self segments of span 1: [1, 2] and [4, 6]; own jobs cover 0.5 + 0.5
    assert driver_time(sp[1], tr.children()[1]) == 3.0 - 1.0


def test_interval_helpers():
    assert procstat.interval_total([(0, 2), (1, 3), (5, 6)]) == 4
    assert procstat.interval_minus((0, 10), [(2, 3), (2.5, 4), (9, 12)]) == [
        (0, 2), (4, 9)
    ]


def test_tracer_disabled_records_nothing():
    tr = Tracer()
    with tr.span("op") as sp:
        assert sp is None
    tr.enabled = True
    tr.op = 4
    with tr.span("op"):
        with tr.span("lake.write"):
            assert tr.inside("lake.")
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("op", None, 4), ("lake.write", 0, 4)
    ]


def test_proc_readers_on_this_process(tmp_path):
    pid = os.getpid()
    assert procstat.peak_rss_mb(pid) > 1.0
    r0, w0 = procstat.io_bytes(pid)
    path = tmp_path / "blob"
    path.write_bytes(b"x" * 100_000)
    assert path.read_bytes()
    r1, w1 = procstat.io_bytes(pid)
    assert w1 - w0 >= 100_000 and r1 - r0 >= 100_000
    assert procstat.dir_bytes(str(tmp_path)) == 100_000
    assert procstat.cpu_seconds(pid) > 0.0
    steal, total = procstat.steal_ticks()
    assert 0 <= steal <= total
    assert 0.0 < procstat.reference_s() < 1.0


def test_layer_metrics_match_benchmark_json():
    """The traced run prints exactly the per-layer metrics BENCHMARK.json
    declares, with the declared units, even when no span was recorded."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = layer_metrics(Tracer(), lambda span: None)
    assert list(got) == list(declared)
    assert {k: unit_of(k) for k in got} == declared
