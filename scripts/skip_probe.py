"""Driver-side cost probe for column-stats file skipping.

Predicate reads prune files by evaluating the predicate against per-file
min/max already resident in the manifest (the read planner,
``FilePlanner._plan_read`` in ``lake/prune.py``) — pure Python over JSON
dicts, no Spark job, no I/O. This probe times that
planning loop at 1k / 10k / 100k live files (100k files ≈ a 100 TB table
at 1 GB per file) to show the 100 TB planning cost is milliseconds on
the driver.

Run: python scripts/skip_probe.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_hudi_example_spark.lake import LakeTable  # noqa: E402


def synth_files(n: int) -> list[dict]:
    """n base files, each owning a disjoint 10-wide range of column c —
    the post-clustering best case (every selective predicate skips
    almost everything)."""
    return [
        {
            "path": f"data/00{i}/part-{i}.parquet",
            "partition": {},
            "partition_path": "",
            "kind": "base",
            "key_min": "0",
            "key_max": "9",
            "rows": 1000,
            "col_stats": {"c": [i * 10, i * 10 + 9]},
        }
        for i in range(n)
    ]


def main() -> None:
    t = LakeTable(
        None,  # spark unused by the planning path under probe
        tempfile.mkdtemp(),
        "probe",
        "t",
        record_keys=["k"],
        precombine="v",
        stats_columns=["c"],
    )
    pred = [("c", "between", (100, 199))]  # matches 10 files exactly
    print("| live files | plan wall | skipped |")
    print("|---|---|---|")
    for n in (1_000, 10_000, 100_000):
        files = synth_files(n)
        t._plan_read(files, pred)  # warm
        t0 = time.perf_counter()
        kept = t._plan_read(files, pred)
        ms = (time.perf_counter() - t0) * 1000
        assert len(kept) == 10
        print(f"| {n:,} | {ms:.1f} ms | {kept.report.dropped:,} |")


if __name__ == "__main__":
    main()
