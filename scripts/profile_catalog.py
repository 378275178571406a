"""Per-query profiling over the real catalog entries: isolated timing,
plan capture, and Spark jobs/stages/tasks per phase.

Usage:
  python scripts/profile_catalog.py time <query> [...] [--runs=N]
  python scripts/profile_catalog.py plan <query> [...] [--tag=TAG]
      writes each formatted plan to plans/<TAG>/<query>.txt
  python scripts/profile_catalog.py all-times [--runs=N] [--tag=TAG]
      min-of-N wall per query, written to plans/<TAG>/times.json
  python scripts/profile_catalog.py jobs <query> [...]
      For each query, the BUILD phase (calling the catalog function)
      and the COUNT phase (the timed action) separately: jobs, stages
      and tasks (read through the status tracker) and wall seconds.
      Job, stage and task counts are deterministic and host-independent;
      cite stages and tasks next to jobs, since jobs alone are a proxy.

The fixtures come from $SPARK_GRAFT_SF_DIR; the session takes its cores
from $SPARK_GRAFT_CPUS (``session.get_spark_session``).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _reset_caches():
    from emr_hudi_example_spark import catalog_pipelines as _cp

    _cp._MEDALLION_CACHE.clear()


def _phase_cost(st, first_job: int, last_job: int) -> dict:
    """Jobs, stages and tasks of the job ids in ``(first_job,
    last_job]``. A stage counts when it ran a task: a stage skipped
    because its shuffle output was reused is listed by its job but
    costs nothing."""
    stages: set[int] = set()
    for j in range(first_job + 1, last_job + 1):
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks, ran = 0, 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": last_job - first_job, "stages": ran, "tasks": tasks}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a.split("=")[0]: (a.split("=", 1)[1] if "=" in a else True)
             for a in sys.argv[1:] if a.startswith("--")}
    mode, names = args[0], args[1:]
    runs = int(flags.get("--runs", 3))
    tag = flags.get("--tag", "current")
    out_dir = os.path.join(ROOT, "plans", tag)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from emr_hudi_example_spark import all_queries as catalog
    from emr_hudi_example_spark.session import get_spark_session

    spark = get_spark_session(app_name=f"profile-{mode}")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    if mode == "plan":
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = catalog.Q[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(out_dir, f"{name}.txt")
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
            spark.sparkContext.setJobDescription(f"profile:{name}")
            j0 = newest()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            j1 = newest()
            n = df.count()
            t2 = time.perf_counter()
            j2 = newest()
            build, count = _phase_cost(st, j0, j1), _phase_cost(st, j1, j2)
            print(json.dumps({
                "q": name, "rows": n,
                **{f"build_{k}": v for k, v in build.items()},
                "build_sec": round(t1 - t0, 3),
                **{f"count_{k}": v for k, v in count.items()},
                "count_sec": round(t2 - t1, 3),
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
            spark.sparkContext.setJobDescription(f"profile:{name}")
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
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, "times.json")
        with open(out, "w") as fh:
            json.dump(timings, fh, indent=1, sort_keys=True)
        print(f"wrote {out} total={round(sum(timings.values()), 2)}")
    else:
        print(json.dumps({"mins": timings,
                          "total": round(sum(timings.values()), 4)}))
    spark.stop()


if __name__ == "__main__":
    main()
