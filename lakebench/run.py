"""Lakehouse benchmark: one workload, one closed-loop client.

    python3 lakebench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints one run-record JSON line, then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See ``lakebench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the ops are driver-bound on small inputs: two task threads leave the
# other cores of a small host to the JIT, the collector and Python
MAX_CORES = 2
MB = float(1 << 20)
# procstat.reference_s() on a quiet 4-vCPU host. Times in the bounded
# metrics are scaled by REF_S / (the run's fastest reference), i.e. given
# in seconds of a machine running at that speed
REF_S = 0.0063


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    n_ops: int  # timed ops; the workload sizes its plan to this


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    from emr_hudi_example_spark.session import get_spark_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark_session(
        app_name="lakebench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            # a fixed young generation keeps the JVM's peak RSS from
            # following the collector's adaptive sizing run to run; the
            # serial collector runs no concurrent GC threads. C1 alone
            # (TieredStopAtLevel=1): with C2 the JIT kept ~1.5 cores busy
            # through a whole run, on a schedule that varied run to run
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                "-Xmn192m -XX:+UseSerialGC -XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
    }


def op_count(wl_cls, seconds: int, trace: int) -> int:
    """Timed ops of a run: the whole rounds that fill ``seconds`` at the
    workload's nominal round length, at least one (two when traced, so a
    traced run holds a traced and an untraced round). The count does not
    depend on how fast this run goes, so every run times the same ops
    at the same positions on the JVM's warm-up curve."""
    rounds = max(1 + trace, round(seconds / wl_cls.ROUND_S))
    return rounds * wl_cls.ROUND


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[0] = ROOT  # not lakebench/: its module names stay private
    # the package under test: outside a full checkout this import fails
    # and the run ends with an error before any result is printed
    from lakebench import procstat
    from lakebench.spans import Tracer, layer_metrics, op_residuals, unit_of
    from lakebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".lakebench", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    nproc = os.cpu_count() or 1
    cores = min(nproc, MAX_CORES)
    load_before = os.getloadavg()[0]

    t0 = time.perf_counter()
    cpu0 = procstat.cpu_seconds(os.getpid())
    spark = start_spark(work, cores)
    try:  # on every path out, stop the JVM and wait for it to exit
        sc = spark.sparkContext
        jvm_pid = sc._jvm.ProcessHandle.current().pid()
        tracer = Tracer(sc)
        n_ops = op_count(WORKLOADS[args.workload], args.seconds, args.trace)
        ctx = Ctx(spark, tracer, work, args.seed, n_ops)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        pids = (os.getpid(), jvm_pid)
        setup_cpu_s = sum(map(procstat.cpu_seconds, pids)) - cpu0
        table_b = sum(procstat.dir_bytes(d) for d in wl.table_dirs())

        if args.trace:
            from emr_hudi_example_spark.lake import LakeTable

            tracer.wrap_lake(LakeTable, procstat.dir_bytes)
        io0 = [procstat.io_bytes(p) for p in pids]
        lat, cpu, ref, traced, rows, failed_ops = [], [], [], [], 0, 0
        steal0 = procstat.steal_ticks()
        # closed loop, one client: the next op starts when the previous ends
        for i in range(n_ops):
            # traced runs alternate traced and untraced rounds, so the
            # tracing overhead is measured on the same op mix
            tracer.enabled = bool(args.trace) and (i // wl.ROUND) % 2 == 0
            tracer.op = i
            wl.prepare(i)  # untimed: builds the op's input DataFrame
            ref.append(procstat.reference_s())
            c = sum(map(procstat.cpu_seconds, pids))
            a = time.perf_counter()
            try:
                with tracer.span("op"):
                    rows += wl.op(i)
            except Exception as exc:  # an op that raises counts as failed
                failed_ops += 1
                print(f"op {i} failed: {exc!r}", file=sys.stderr)
            lat.append(time.perf_counter() - a)
            cpu.append(sum(map(procstat.cpu_seconds, pids)) - c)
            traced.append(tracer.enabled)
        busy = sum(lat)
        steal1 = procstat.steal_ticks()
        tracer.enabled = False
        io1 = [procstat.io_bytes(p) for p in pids]
        attempted = len(lat)
        correct = wl.check()
        if not correct:
            failed_ops = max(failed_ops, getattr(wl, "failed_ops", attempted))
        rss = procstat.peak_rss_mb(os.getpid()) + procstat.peak_rss_mb(jvm_pid)

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "cores": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            **versions(spark),
            "load1_before": load_before, "setup_cpu_s": setup_cpu_s,
            "ops": attempted, "failed_ratio": failed_ops / max(attempted, 1),
            "table_mb_end": sum(procstat.dir_bytes(d) for d in wl.table_dirs()) / MB,
            "steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "latency_s": [round(x, 6) for x in lat],
            "cpu_s": [round(x, 3) for x in cpu],
            "ref_s": [round(x, 6) for x in ref],
        }
        # the host's speed swings with its neighbours' load: scale wall
        # times to the reference speed (the raw figures go in the record).
        # The run's fastest reference is its least disturbed estimate of
        # the machine's speed; per-op references added their own noise
        scale = REF_S / min(ref)
        norm = [x * scale for x in lat]
        tail_v, tail_p, tail_n = procstat.tail(norm, wl.ROUND)
        record.update(op_tail_percentile=tail_p, op_tail_n=tail_n)
        record["wall"] = {k: {"value": v, "unit": u} for k, (v, u) in {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (procstat.median(lat), "s"),
            "op_tail_s": (procstat.tail(lat, wl.ROUND)[0], "s"),
            "ops_per_s": (attempted / busy, "1/s"),
            "rows_per_s": (rows / busy, "rows/s"),
        }.items()}
        if args.trace:
            tracer.harvest()
            un = [x for x, t in zip(lat, traced) if not t]
            tr = [x for x, t in zip(lat, traced) if t]
            record["tracing_overhead_s"] = (
                procstat.median(tr) - procstat.median(un) if un and tr else None
            )
            res = op_residuals(tracer)
            record["span_residual_max_s"] = max(map(abs, res)) if res else 0.0
            metrics = layer_metrics(tracer, read_files_of(wl))
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
            os.makedirs(os.path.join(ROOT, ".lakebench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".lakebench", "traces", f"{args.workload}-{args.seed}.json"
            ))
        else:
            per_op = MB * max(attempted, 1)
            out = {
                "setup_s": (setup_s * scale, "s"),
                "op_p50_s": (procstat.median(norm), "s"),
                "op_tail_s": (tail_v, "s"),
                "ops_per_s": (attempted / sum(norm), "1/s"),
                "rows_per_s": (rows / sum(norm), "rows/s"),
                "peak_rss_mb": (rss, "MB"),
                "written_mb_per_op": (
                    sum(b[1] - a[1] for a, b in zip(io0, io1)) / per_op, "MB"),
                "read_mb_per_op": (
                    sum(b[0] - a[0] for a, b in zip(io0, io1)) / per_op, "MB"),
                "table_mb": (table_b / MB, "MB"),
            }
            out = {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["load1_after"] = os.getloadavg()[0]
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted,
        "failed": failed_ops, "metrics": out,
    }))
    return 0


def read_files_of(wl):
    """``(files read, files of the unpredicated latest snapshot)`` for a
    lake.read span; the unpredicated count is cached per table path."""
    cache: dict[str, int] = {}

    def count(span):
        df, table = span.extra.get("df"), span.extra.get("table")
        if df is None:
            return None
        if table.path not in cache:
            cache[table.path] = len(table.snapshot().inputFiles())
        return len(df.inputFiles()), cache[table.path]

    return count


if __name__ == "__main__":
    sys.exit(main())
