"""Multi-PROCESS optimistic-concurrency probe (r9 verdict #3).

Every lock/OCC stress before r10 ran in ONE process (thread-stress in
``tests/test_lock_providers.py``, in-process interleaving in
``lake_optimistic_writers_endstate``). This spawns two real OS
processes — each with its own JVM-backed SparkSession — writing the
SAME table path through the lease + key-summary publish path
(``LakeTable.write_optimistic``), which is the reference's ZooKeeper-
arbitrated multi-writer story end-to-end (``SRC/util/HudiConfig.scala:
50-56``) minus only the broker: the FileLockProvider's O_EXCL lock file
and the manifest key-summary envelopes are both plain-filesystem
artifacts, so cross-process arbitration exercises exactly the code a
multi-driver cluster deployment would.

Phases:

- **disjoint**: A upserts partition 0, B upserts partition 1, three
  optimistic commits each, simultaneously (filesystem barrier).
  Instant-order aborts are EXPECTED under collision (the loser
  retries); every commit must eventually land and the end state must
  equal the serialized model (all keys at the final version).
- **adversarial**: both writers upsert the SAME key range in the same
  partition, compute phases deliberately overlapped via a second
  barrier. The overlapping (partition, key-range) addition rule must
  abort at least one publish with ``ConcurrentWriteConflict`` (no
  retry in this phase). Values are identical on both sides, so the
  end state is deterministic regardless of which writer wins.
- **mor-commute**: same adversarial shape on a MERGE_ON_READ table —
  optimistic MOR writes are APPENDS and appends commute (the read
  merge resolves overlapping keys identically in either publish
  order), so BOTH writers must succeed with zero data aborts
  (instant-order collisions may still retry), and the merged end
  state must show each hot key's precombine winner exactly once.
- **compact-race** (r10 verdict #4): process A ingests MOR delta
  commits on a third table while process B loops
  ``schedule_compaction`` → ``run_compaction`` → ``clean`` — the
  reference's ASYNC compaction story (``SRC/KDS2Hudi.scala:131,133``)
  as a real cross-process writer/compactor/cleaner race. The fold
  holds no lock (appends never invalidate a plan; only replacements
  do) and the cleaner honors live cross-process inflight markers,
  so every ingest commit must land, at least one mid-ingest fold must
  commit, and after B's final drain the snapshot, the read-optimized
  view, and the full-range incremental read must all equal the
  serialized model.

- **kill9** (r14, r13 verdict #6): a holder PROCESS takes the lease
  and is SIGKILLed mid-hold (never releasing — the ZK session-expiry
  analog); a fresh contender process must complete a FENCED takeover
  within ~lease_seconds. A second leg fabricates the torn claim a
  holder dying between the O_EXCL create and the body write leaves
  (empty newest lease file, no expires_at) and asserts the r13
  per-observer grace window resolves it in the same bound.

Run: python scripts/occ_multiprocess_probe.py
Worker mode (internal): python scripts/occ_multiprocess_probe.py \
    --worker <role> <base> <barrier_dir>  (also --victim / --contender)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KEYS = 200  # keys 0..199, partition = k % 2
DISJOINT_COMMITS = 3
RACE_COMMITS = 6  # ingester commits racing the compactor/cleaner
SCHEMA = "k INT, ver INT, payload INT, part INT"


def _session(role: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName(f"occ-probe-{role}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _table(spark, base: str):
    from emr_hudi_example_spark.lake import LakeTable

    return LakeTable(
        spark, base, "occ", "t", ["k"], "ver", partition_keys=["part"]
    )


def _mor_table(spark, base: str):
    from emr_hudi_example_spark.lake import LakeTable

    return LakeTable(
        spark, base, "occ", "m", ["k"], "ver",
        partition_keys=["part"], table_type="MERGE_ON_READ",
    )


def _race_table(spark, base: str):
    from emr_hudi_example_spark.lake import LakeTable

    # inline compaction OFF: the ASYNC compactor process is the only
    # folder, so every fold in the race is B's schedule/run pair
    return LakeTable(
        spark, base, "occ", "c", ["k"], "ver",
        partition_keys=["part"], table_type="MERGE_ON_READ",
        inline_compact_deltas=None,
    )


def _rows(part: int, ver: int, keys=None):
    ks = keys if keys is not None else [k for k in range(KEYS) if k % 2 == part]
    return [(k, ver, ver * 1000 + k, k % 2) for k in ks]


def _barrier(barrier_dir: str, name: str, role: str, timeout: float = 120.0):
    """Both processes block here until each has announced arrival."""
    mine = os.path.join(barrier_dir, f"{name}.{role}")
    other = os.path.join(
        barrier_dir, f"{name}.{'b' if role == 'a' else 'a'}"
    )
    with open(mine, "w") as fh:
        fh.write(str(os.getpid()))
    deadline = time.monotonic() + timeout
    while not os.path.exists(other):
        if time.monotonic() > deadline:
            raise TimeoutError(f"barrier {name}: peer never arrived")
        time.sleep(0.02)


def worker(role: str, base: str, barrier_dir: str) -> None:
    from emr_hudi_example_spark.lake import ConcurrentWriteConflict

    spark = _session(role)
    spark.sparkContext.setLogLevel("ERROR")
    t = _table(spark, base)
    part = 0 if role == "a" else 1
    out = {"role": role, "disjoint_retries": 0, "adversarial_conflict": 0}

    _barrier(barrier_dir, "disjoint", role)
    t0 = time.monotonic()
    for ver in range(2, 2 + DISJOINT_COMMITS):
        df = spark.createDataFrame(_rows(part, ver), SCHEMA)
        for _attempt in range(25):
            try:
                t.write_optimistic(df, op="upsert")
                break
            except ConcurrentWriteConflict:
                # expected under publish collision: instant out-run by
                # the other process — refresh base and retry
                out["disjoint_retries"] += 1
                time.sleep(0.05)
        else:
            raise RuntimeError(f"{role}: disjoint commit never landed")
    out["disjoint_sec"] = round(time.monotonic() - t0, 3)

    # adversarial: SAME keys (0..19, all in partition 0), same values —
    # compute windows overlapped by the barrier, publishes must
    # serialize with at least one abort
    hot = [k for k in range(40) if k % 2 == 0][:20]
    df = spark.createDataFrame(
        _rows(0, 9, keys=hot), SCHEMA
    )
    # guarantee a TRUE overlap (not just aligned starts, which can
    # still serialize cleanly under unlucky scheduling): each writer's
    # publish blocks at the lock until the PEER has finished computing
    # — then both read sets provably predate both commits, and exactly
    # one publish must abort.
    orig_lock = t._writer_lock

    def _lock_after_peer_computed():
        _barrier(barrier_dir, "adv_computed", role)
        return orig_lock()

    t._writer_lock = _lock_after_peer_computed
    _barrier(barrier_dir, "adversarial", role)
    try:
        t.write_optimistic(df, op="upsert")
    except ConcurrentWriteConflict:
        out["adversarial_conflict"] = 1
    finally:
        t._writer_lock = orig_lock

    # mor-commute: SAME hot keys, MOR appends — data conflicts are
    # impossible (appends commute under the read merge); only
    # instant-order collisions may retry. Writer a stamps ver 20,
    # writer b ver 21 — the merged winner must be ver 21 everywhere.
    tm = _mor_table(spark, base)
    my_ver = 20 if role == "a" else 21
    dfm = spark.createDataFrame(
        [(k, my_ver, my_ver * 1000 + k, k % 2) for k in hot], SCHEMA
    )
    out["mor_retries"] = 0
    _barrier(barrier_dir, "mor", role)
    for _attempt in range(25):
        try:
            tm.write_optimistic(dfm, op="upsert")
            break
        except ConcurrentWriteConflict:
            out["mor_retries"] += 1
            time.sleep(0.05)
    else:
        raise RuntimeError(f"{role}: MOR commute commit never landed")

    # compact-race: A ingests RACE_COMMITS optimistic MOR deltas while
    # B loops schedule → run → clean against the same table. A's
    # appends never invalidate B's plans (only replacements do); B's
    # fold/clean commits may out-run A's instants, so A retries.
    tc = _race_table(spark, base)
    done_flag = os.path.join(barrier_dir, "race_done.a")
    _barrier(barrier_dir, "compact_race", role)
    if role == "a":
        # race_warm: B finishes one warm-up scheduler pass before A's
        # first commit, so B provably LOOPS while A commits — without
        # it a slow B start could see ingest_done on its first
        # iteration and the "mid-ingest fold" evidence would really be
        # the guaranteed post-ingest drain (r11 self-review).
        _barrier(barrier_dir, "race_warm", role)
        out["race_ingest_retries"] = 0
        for ver in range(2, 2 + RACE_COMMITS):
            dfc = spark.createDataFrame(
                [(k, ver, ver * 1000 + k, k % 2) for k in hot], SCHEMA
            )
            for _attempt in range(50):
                try:
                    tc.write_optimistic(dfc, op="upsert")
                    break
                except ConcurrentWriteConflict:
                    out["race_ingest_retries"] += 1
                    time.sleep(0.05)
            else:
                raise RuntimeError("a: race ingest commit never landed")
        with open(done_flag, "w") as fh:
            fh.write("done")
    else:
        # warm-up pass against the seed commit (no deltas: schedule is
        # a no-op) so the scheduler codepath is JIT-warm, then sync
        tc.schedule_compaction()
        tc.clean(retain_commits=2)
        _barrier(barrier_dir, "race_warm", role)
        folds = folds_mid = stale = 0
        cleaned = 0
        while True:
            ingest_done = os.path.exists(done_flag)
            pid = tc.schedule_compaction()
            if pid is not None:
                inst = tc.run_compaction(pid)
                if inst is None:
                    stale += 1
                else:
                    folds += 1
                    if not ingest_done:
                        # the flag was absent when this plan was cut:
                        # the fold raced a still-active writer
                        folds_mid += 1
            cleaned += len(tc.clean(retain_commits=2))
            if ingest_done:
                # one full drain pass ran AFTER the last ingest commit:
                # every delta is folded, the table is fully compacted
                break
            time.sleep(0.02)
        out["race_folds"] = folds
        out["race_folds_during_ingest"] = folds_mid
        out["race_stale_plans"] = stale
        out["race_cleaned_files"] = cleaned
    print("WORKER_RESULT " + json.dumps(out), flush=True)
    spark.stop()


KILL9_LEASE_SECONDS = 3.0


def victim(base: str, flag: str) -> None:
    """Child body for the kill -9 phase: take the lease, announce the
    token, then hold it until killed (never releasing) — the single-host
    analog of a ZooKeeper session whose client dies without closing
    (``SRC/util/HudiConfig.scala:50-56``)."""
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    p = LeaseLockProvider(
        base, lease_seconds=KILL9_LEASE_SECONDS, holder="victim"
    )
    p.acquire(wait_seconds=10.0)
    with open(flag + ".tmp", "w") as fh:
        fh.write(str(p.token))
    os.replace(flag + ".tmp", flag)
    time.sleep(120.0)  # killed -9 long before this returns


def contender(base: str) -> None:
    """Child body: time a fresh process's takeover of the dead holder's
    lease and report whether the takeover was FENCED (fence record
    published for the won token)."""
    from emr_hudi_example_spark.lake.locks import LeaseLockProvider

    p = LeaseLockProvider(
        base, lease_seconds=KILL9_LEASE_SECONDS, holder="contender"
    )
    t0 = time.monotonic()
    p.acquire(wait_seconds=30.0)
    latency = round(time.monotonic() - t0, 3)
    print("CONTENDER_RESULT " + json.dumps({
        "latency_sec": latency,
        "token": p.token,
        "fence_recorded": any(f["token"] == p.token for f in p.fences()),
    }), flush=True)
    p.release()


def _run_contender(base: str, env: dict) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--contender", base],
        capture_output=True, text=True, env=env, timeout=120,
        cwd=tempfile.gettempdir(),
    )
    if out.returncode != 0:
        raise RuntimeError(f"contender failed:\n{out.stdout}\n{out.stderr}")
    line = next(
        ln for ln in out.stdout.splitlines()
        if ln.startswith("CONTENDER_RESULT ")
    )
    return json.loads(line[len("CONTENDER_RESULT "):])


def kill9_phase(env: dict) -> dict:
    """r14 (r13 verdict #6): kill -9 a lease holder mid-hold and assert
    BOUNDED, FENCED takeover from a fresh contender PROCESS — then the
    torn-claim variant (holder died between the O_EXCL create and the
    body write, leaving an unreadable claim), which the r13 per-observer
    grace window must also resolve within ~lease_seconds."""
    base = tempfile.mkdtemp(prefix="occ-kill9-")
    try:
        flag = os.path.join(base, "victim_ready")
        v = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--victim",
             base, flag],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            env=env, cwd=tempfile.gettempdir(),
        )
        deadline = time.monotonic() + 30.0
        while not os.path.exists(flag):
            if time.monotonic() > deadline:
                v.kill()
                raise TimeoutError("victim never acquired the lease")
            time.sleep(0.02)
        victim_token = int(open(flag).read())
        v.send_signal(9)  # SIGKILL: no release, no cleanup
        v.wait(10.0)
        res_kill = _run_contender(base, env)

        # torn-claim leg: fabricate exactly the artifact a holder dying
        # between O_EXCL create and body write leaves — an EMPTY newest
        # claim file (no expires_at to expire)
        torn_token = res_kill["token"] + 1
        torn = os.path.join(base, "_lease", f"lease-{torn_token:020d}")
        fd = os.open(torn, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
        res_torn = _run_contender(base, env)

        margin = 3.0  # interpreter boot + poll quantum
        return {
            "lease_seconds": KILL9_LEASE_SECONDS,
            "kill9_takeover_sec": res_kill["latency_sec"],
            "kill9_token_advanced": res_kill["token"] == victim_token + 1,
            "kill9_fence_recorded": res_kill["fence_recorded"],
            "torn_takeover_sec": res_torn["latency_sec"],
            "torn_token_advanced": res_torn["token"] == torn_token + 1,
            "torn_fence_recorded": res_torn["fence_recorded"],
            "ok": bool(
                res_kill["latency_sec"] <= KILL9_LEASE_SECONDS + margin
                and res_kill["token"] == victim_token + 1
                and res_kill["fence_recorded"]
                and res_torn["latency_sec"] <= KILL9_LEASE_SECONDS + margin
                and res_torn["token"] == torn_token + 1
                and res_torn["fence_recorded"]
            ),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    base = tempfile.mkdtemp(prefix="occ-probe-")
    barrier_dir = tempfile.mkdtemp(prefix="occ-barrier-")
    try:
        env = dict(os.environ, PYTHONPATH=REPO)
        kill9 = kill9_phase(env)
        # seed the creating commit from a short-lived parent session
        spark = _session("seed")
        spark.sparkContext.setLogLevel("ERROR")
        t = _table(spark, base)
        t.write(
            spark.createDataFrame(
                _rows(0, 1) + _rows(1, 1), SCHEMA
            ),
            op="insert",
            instant="001",
        )
        hot_seed = [k for k in range(40) if k % 2 == 0][:20]
        _mor_table(spark, base).write(
            spark.createDataFrame(
                [(k, 1, 1000 + k, k % 2) for k in hot_seed], SCHEMA
            ),
            op="insert",
            instant="001",
        )
        _race_table(spark, base).write(
            spark.createDataFrame(
                [(k, 1, 1000 + k, k % 2) for k in hot_seed], SCHEMA
            ),
            op="insert",
            instant="001",
        )
        spark.stop()

        procs = {
            role: subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--worker",
                 role, base, barrier_dir],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, env=env, cwd=tempfile.gettempdir(),
            )
            for role in ("a", "b")
        }
        results = {}
        for role, p in procs.items():
            stdout, _ = p.communicate(timeout=600)
            if p.returncode != 0:
                raise RuntimeError(f"worker {role} failed:\n{stdout}")
            line = next(
                ln for ln in stdout.splitlines()
                if ln.startswith("WORKER_RESULT ")
            )
            results[role] = json.loads(line[len("WORKER_RESULT "):])

        conflicts = sum(r["adversarial_conflict"] for r in results.values())
        # verify the end state against the sequential model
        spark = _session("verify")
        spark.sparkContext.setLogLevel("ERROR")
        t = _table(spark, base)
        snap = {
            (r["k"], r["ver"]) for r in t.snapshot().select("k", "ver").collect()
        }
        final_ver = 2 + DISJOINT_COMMITS - 1
        hot = set([k for k in range(40) if k % 2 == 0][:20])
        model = set()
        for k in range(KEYS):
            if k in hot:
                model.add((k, 9))  # at least one adversarial write won
            else:
                model.add((k, final_ver))
        ok_state = snap == model
        ok_commits = len(t.timeline()) == (
            1 + 2 * DISJOINT_COMMITS + (2 - conflicts)
        )
        # MOR commute: BOTH writers' appends landed (3 commits total)
        # and the merged view shows ver 21 (the larger precombine)
        # exactly once per hot key, whatever the publish order was
        tm = _mor_table(spark, base)
        mor_snap = {
            (r["k"], r["ver"])
            for r in tm.snapshot().select("k", "ver").collect()
        }
        ok_mor_state = mor_snap == {(k, 21) for k in hot}
        ok_mor_commits = len(tm.timeline()) == 3

        # compact-race: all RACE_COMMITS ingest commits landed under
        # the racing compactor/cleaner; after B's final drain the
        # snapshot, the base-files-only read-optimized view, and the
        # full-range incremental read all equal the serialized model
        tc = _race_table(spark, base)
        race_model = {(k, 2 + RACE_COMMITS - 1) for k in hot}
        race_snap = {
            (r["k"], r["ver"])
            for r in tc.snapshot().select("k", "ver").collect()
        }
        ok_race_state = race_snap == race_model
        race_ro = {
            (r["k"], r["ver"])
            for r in tc.read_optimized().select("k", "ver").collect()
        }
        ok_race_ro = race_ro == race_model
        race_inc = {
            (r["k"], r["ver"])
            for r in tc.incremental(None, tc.last_instant())
            .select("k", "ver")
            .collect()
        }
        ok_race_inc = race_inc == race_model
        race_folds = results["b"].get("race_folds", 0)
        race_folds_mid = results["b"].get("race_folds_during_ingest", 0)
        # the evidence claim is a fold that RACED an active writer —
        # the post-ingest drain fold alone doesn't count
        ok_race_folds = race_folds_mid >= 1
        spark.stop()
        print(json.dumps({
            "probe": "occ_multiprocess",
            "kill9": kill9,
            "disjoint_commits_per_writer": DISJOINT_COMMITS,
            "disjoint_retries": {
                r: results[r]["disjoint_retries"] for r in results
            },
            "disjoint_sec": {r: results[r]["disjoint_sec"] for r in results},
            "adversarial_aborts": conflicts,
            "adversarial_abort_expected": conflicts >= 1,
            "end_state_matches_model": ok_state,
            "timeline_length_consistent": ok_commits,
            "mor_commute_retries": {
                r: results[r].get("mor_retries") for r in results
            },
            "mor_both_writers_landed": ok_mor_commits,
            "mor_merged_state_exact": ok_mor_state,
            "race_ingest_commits": RACE_COMMITS,
            "race_ingest_retries": results["a"].get("race_ingest_retries"),
            "race_folds_committed": race_folds,
            "race_folds_during_ingest": race_folds_mid,
            "race_stale_plans": results["b"].get("race_stale_plans"),
            "race_cleaned_files": results["b"].get("race_cleaned_files"),
            "race_mid_ingest_fold": ok_race_folds,
            "race_snapshot_matches_model": ok_race_state,
            "race_read_optimized_matches_model": ok_race_ro,
            "race_incremental_matches_model": ok_race_inc,
            "ok": bool(
                kill9["ok"]
                and ok_state and ok_commits and conflicts >= 1
                and ok_mor_commits and ok_mor_state
                and ok_race_folds and ok_race_state
                and ok_race_ro and ok_race_inc
            ),
        }, indent=2))
        if not (
            kill9["ok"]
            and ok_state and ok_commits and conflicts >= 1
            and ok_mor_commits and ok_mor_state
            and ok_race_folds and ok_race_state
            and ok_race_ro and ok_race_inc
        ):
            sys.exit(1)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(barrier_dir, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3], sys.argv[4])
    elif len(sys.argv) > 1 and sys.argv[1] == "--victim":
        victim(sys.argv[2], sys.argv[3])
    elif len(sys.argv) > 1 and sys.argv[1] == "--contender":
        contender(sys.argv[2])
    else:
        main()
