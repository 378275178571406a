"""Driver-side cost probe for optimistic-publish conflict checking
over a DEEP publish window (r8 verdict #5).

``Timeline.check_conflicts`` must prove a publish computed at an old
base snapshot serializes against every commit that landed since. Before
r9 that proof was a per-file pairwise key-range walk — O(commits ×
their_files × our_files) driver-side comparisons per publish, the spot
where a pathological publish backlog would surface. Since r9 each
manifest records a per-partition ``key_summary`` envelope, and the
check descends to the per-file proof ONLY for (commit, partition) pairs
whose envelopes intersect — for disjoint-key writers (the normal OCC
workload) that is none of them, so a 50-commit backlog costs ~50 dict
probes regardless of file counts.

This probe times both paths on fabricated manifests (filesystem-only,
no Spark — the check is pure driver code):

- ``summary-pruned``: our keys are disjoint from every commit → the
  envelope test prunes everything. Expected FLAT in files/commit.
- ``fallback-pairwise``: our files interleave every commit's per-file
  key gaps, so every envelope intersects and the exact per-file proof
  runs for every commit (no conflict exists — the walk completes).
  This is exactly the pre-r9 cost. Expected linear in files/commit.
- ``legacy-manifest``: summaries stripped (pre-r9 manifests) on the
  disjoint workload — first check derives each commit's summary from
  its ``added`` list once (O(files), memoized), then prunes.

Run: python scripts/conflict_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_hudi_example_spark.lake.timeline import (  # noqa: E402
    Timeline,
    key_summary,
)

WINDOW = 50  # commits between our base snapshot and the publish
OUR_FILES = 100


def _files(commit: int, n: int) -> list[dict]:
    """n file records with per-file key ranges [..0, ..4] leaving a
    [..5, ..9] gap after each — gaps shared across commits so an
    interleaved writer overlaps every ENVELOPE but no FILE range."""
    out = []
    for j in range(n):
        lo = j * 10
        out.append(
            {
                "path": f"data/{commit:06d}/f{j}.parquet",
                "partition_path": "p=a",
                "key_min": f"k{lo:09d}",
                "key_max": f"k{lo + 4:09d}",
            }
        )
    return out


def build(files_per_commit: int, with_summary: bool) -> str:
    d = tempfile.mkdtemp(prefix="conflict-probe-")
    cdir = Timeline(d).commits_dir
    os.makedirs(cdir)
    for i in range(WINDOW + 1):  # +1: instant 0 is our base snapshot
        added = _files(i, files_per_commit) if i > 0 else []
        m = {
            "instant": f"{i:06d}",
            "action": "upsert",
            "added": added,
            "replaced": [],
            "fence_token": None,
        }
        if with_summary:
            m["key_summary"] = [
                {"pp": pp, "env": env}
                for pp, env in key_summary(added).items()
            ]
        with open(os.path.join(cdir, f"{i:06d}.json"), "w") as fh:
            json.dump(m, fh)
    return d


def _ours(kind: str) -> list[dict]:
    if kind == "disjoint":  # beyond every commit's range
        return [
            {
                "path": f"ours/f{j}.parquet",
                "partition_path": "p=a",
                "key_min": f"z{j:09d}0",
                "key_max": f"z{j:09d}4",
            }
            for j in range(OUR_FILES)
        ]
    # interleaved: inside the shared per-file gaps → envelope overlap
    # with every commit, zero file-range overlaps
    return [
        {
            "path": f"ours/f{j}.parquet",
            "partition_path": "p=a",
            "key_min": f"k{j * 10 + 5:09d}",
            "key_max": f"k{j * 10 + 9:09d}",
        }
        for j in range(OUR_FILES)
    ]


def check(t: Timeline, ours: list[dict]) -> None:
    """The upsert publish check of ``ours`` against every commit after
    the base snapshot ``000000``."""
    t.check_conflicts("000000", "999999", ours, [], True, t.instants())


def _time_check(t: Timeline, ours: list[dict], runs: int = 5) -> float:
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        check(t, ours)
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return best


def main() -> None:
    print(f"window = {WINDOW} commits, ours = {OUR_FILES} files, min-of-5")
    for fpc in (100, 1000, 5000):
        rows = {}
        d = build(fpc, with_summary=True)
        t = Timeline(d)
        rows["summary-pruned"] = _time_check(t, _ours("disjoint"))
        rows["fallback-pairwise"] = _time_check(t, _ours("interleaved"))
        shutil.rmtree(d)
        d = build(fpc, with_summary=False)
        t = Timeline(d)
        t0 = time.perf_counter()
        check(t, _ours("disjoint"))
        rows["legacy-cold"] = time.perf_counter() - t0
        rows["legacy-warm"] = _time_check(t, _ours("disjoint"))
        shutil.rmtree(d)
        print(
            f"  {fpc:>5} files/commit: "
            + ", ".join(f"{k} {v * 1e3:8.1f} ms" for k, v in rows.items())
        )


if __name__ == "__main__":
    main()
