"""r15 optimization-round tooling: isolated per-query timing, plan
capture, and build/count Spark-job profiling over the REAL catalog
entries (plans land in plans/r15/).

Usage:
  python scripts/r15_tools.py time <query> [...] [--runs N]
  python scripts/r15_tools.py plan <query> [...] [--tag TAG]
  python scripts/r15_tools.py all-times [--runs N] [--tag TAG]
  python scripts/r15_tools.py jobs <query> [...]
      For each query: jobs + wall for the BUILD phase (calling the
      catalog fn) and the COUNT phase (the timed action) separately —
      job counts are deterministic and host-independent, the primary
      optimization signal on this ambient-loaded host.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def _reset_caches():
    from emr_hudi_example_spark import catalog_pipelines as _cp

    _cp._MEDALLION_CACHE.clear()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a.split("=")[0]: (a.split("=", 1)[1] if "=" in a else True)
             for a in sys.argv[1:] if a.startswith("--")}
    mode, names = args[0], args[1:]
    runs = int(flags.get("--runs", 3))
    tag = flags.get("--tag", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from emr_hudi_example_spark import all_queries as catalog
    from emr_hudi_example_spark.session import get_spark_session

    spark = get_spark_session(app_name=f"r15-{mode}")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    if mode == "plan":
        for name in names:
            df = catalog.Q[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = f"/root/repo/plans/r15/{name}_{tag}.txt"
            with open(out, "w") as fh:
                fh.write(plan)
            print(f"wrote {out} ({plan.count('Exchange')} Exchange refs)")
        spark.stop()
        return

    # warm the lake write path once (mirrors bench.py)
    import bench as _b

    _b._warm_lake(spark, sf_dir)

    if mode == "jobs":
        st = spark.sparkContext.statusTracker()

        def newest() -> int:
            # count by the sequential job id: the number of RETAINED
            # jobs drops by 100 whenever the status store passes
            # spark.ui.retainedJobs, so a len() difference undercounts
            # or goes negative over a multi-query run
            return max(st.getJobIdsForGroup(None), default=-1)

        for name in names:
            _reset_caches()
            fn = catalog.Q[name]
            spark.sparkContext.setJobDescription(f"r15:{name}")
            j0 = newest()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            j1 = newest()
            n = df.count()
            t2 = time.perf_counter()
            j2 = newest()
            print(json.dumps({
                "q": name, "rows": n,
                "build_jobs": j1 - j0, "build_sec": round(t1 - t0, 3),
                "count_jobs": j2 - j1, "count_sec": round(t2 - t1, 3),
            }), flush=True)
        spark.stop()
        return

    if mode == "all-times":
        names = sorted(catalog.Q)

    timings: dict[str, float] = {}
    for _run in range(runs):
        _reset_caches()
        for name in names:
            fn = catalog.Q[name]
            spark.sparkContext.setJobDescription(f"r15:{name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            el = round(time.perf_counter() - t0, 4)
            assert n >= 0
            prev = timings.get(name)
            timings[name] = el if prev is None else min(prev, el)
            if mode == "time":
                print(json.dumps({"q": name, "run": _run, "sec": el}),
                      flush=True)
    if mode == "all-times":
        out = f"/tmp/r15_times_{tag}.json"
        with open(out, "w") as fh:
            json.dump(timings, fh, indent=1, sort_keys=True)
        print(f"wrote {out} total={round(sum(timings.values()), 2)}")
    else:
        print(json.dumps({"mins": timings,
                          "total": round(sum(timings.values()), 4)}))
    spark.stop()


if __name__ == "__main__":
    main()
