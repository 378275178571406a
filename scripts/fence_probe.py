"""Driver-side cost probe for the zombie-fence read filter.

``Timeline.instants()`` reads the takeover fences on every listing —
one immutable ``_lease/fence-<token>.json`` record per lease takeover
(``locks.py::read_fences``) — and, when fences exist, checks each
not-yet-cleared instant newer than a fence's snapshot head against its
manifest's fencing token (``timeline.py::Timeline._zombies``). This
probe times the listing at high commit counts with and without a
fence, plus the warmed re-listing (clean verdicts are cached), to show
the planning overhead of the fencing closure is negligible: with no
takeover the filter costs one failed open and one failed listing, and
only suspects (instants after the newest takeover) pay a manifest
open, once. Filesystem only: no Spark session starts.

Run: python scripts/fence_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_hudi_example_spark.lake.locks import LocalFSStore  # noqa: E402
from emr_hudi_example_spark.lake.timeline import Timeline  # noqa: E402


def build(n_commits: int, fenced: bool) -> str:
    d = tempfile.mkdtemp(prefix="fence-probe-")
    tl = Timeline(d)
    os.makedirs(tl.commits_dir)
    for i in range(n_commits):
        with open(os.path.join(tl.commits_dir, f"{i:06d}.json"), "w") as fh:
            json.dump(
                {"instant": f"{i:06d}", "action": "upsert", "added": [],
                 "replaced": [], "fence_token": 1}, fh)
    if fenced:
        # one takeover at 90% of the timeline: the newest 10% of
        # instants are suspects on the first listing
        head = f"{int(n_commits * 0.9):06d}"
        store = LocalFSStore(tl.lease_dir)
        store.ensure()
        store.put_if_absent(
            f"fence-{1:020d}.json",
            json.dumps({"token": 1, "timeline_head": head}),
        )
    return d


def probe(n: int) -> None:
    for label, fenced in (("no-fence", False), ("fenced", True)):
        d = build(n, fenced)
        try:
            t = Timeline(d)
            t0 = time.perf_counter()
            tl = t.instants()
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            t.instants()
            warm = time.perf_counter() - t0
            assert len(tl) == n
            assert len(t.fences()) == int(fenced)
        finally:
            shutil.rmtree(d)
        print(f"  {n:>7} commits {label:>9}: cold {cold*1e3:7.1f} ms, "
              f"warm {warm*1e3:7.1f} ms")


if __name__ == "__main__":
    for n in (1_000, 10_000, 100_000):
        probe(n)
