"""Lock-provider contract tests, parametrized over the POSIX lease
provider and the conditional-put provider on a non-filesystem store
(r6 verdict #4): the lease/fence/validate protocol must hold over ANY
backend offering put-if-absent — filesystem hard-link, in-memory CAS,
or (documented, stubbed) S3 conditional PUT."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import (
    ConditionalPutLockProvider,
    LakeTable,
    LeaseLockProvider,
    LockContention,
    LockFenced,
    MemoryStore,
    S3ConditionalPutStore,
)

SF = "/root/testdata/sf0.001"


def _factories(tmp_path):
    """provider factories keyed by backend; each returns a NEW provider
    for the same logical lock (same dir / same shared store)."""
    tpath = str(tmp_path / "tbl")
    shared = MemoryStore()
    return {
        "localfs": lambda holder: LeaseLockProvider(tpath, holder=holder),
        "memory-cas": lambda holder: ConditionalPutLockProvider(
            tpath, store=shared, holder=holder
        ),
    }


@pytest.mark.parametrize("backend", ["localfs", "memory-cas"])
def test_acquire_release_and_contention(tmp_path, backend):
    make = _factories(tmp_path)[backend]
    a, b = make("a"), make("b")
    a.acquire(1.0)
    assert a.token == 1
    with pytest.raises(LockContention):
        b.acquire(0.1)
    a.release()
    b.acquire(1.0)
    assert b.token == 2
    b.release()


@pytest.mark.parametrize("backend", ["localfs", "memory-cas"])
def test_expired_lease_takeover_records_fence(tmp_path, backend):
    make = _factories(tmp_path)[backend]
    a, b = make("a"), make("b")
    a.acquire(1.0)
    a._rewrite_own(a.token, expires_at=time.time() - 1.0)  # a crashes/stalls
    b.acquire(1.0)  # takeover of an unreleased lease: fenced
    assert b.token == 2
    fences = b.fences()
    assert [f["token"] for f in fences] == [2]
    assert fences[0]["holder"] == "b"
    # the superseded holder's commit-point check must now fail
    with pytest.raises(LockFenced):
        a.validate()
    b.release()


@pytest.mark.parametrize("backend", ["localfs", "memory-cas"])
def test_released_lease_handover_is_not_fenced(tmp_path, backend):
    make = _factories(tmp_path)[backend]
    a, b = make("a"), make("b")
    a.acquire(1.0)
    a.release()
    b.acquire(1.0)
    assert b.fences() == []  # clean handover: no takeover, no fence
    b.release()


@pytest.mark.parametrize("backend", ["localfs", "memory-cas"])
def test_cas_race_single_winner(tmp_path, backend):
    """N threads race the same token CAS; exactly one wins."""
    import threading

    make = _factories(tmp_path)[backend]
    provs = [make(f"h{i}") for i in range(8)]
    provs[0].store.ensure()
    wins = []

    def go(p):
        if p._try_claim(1):
            wins.append(p.holder)

    ts = [threading.Thread(target=go, args=(p,)) for p in provs]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1


def test_zombie_fenced_at_read_planning_over_memory_store(spark, tmp_path):
    """End-to-end over the NON-filesystem store: a superseded writer's
    late manifest rename is discarded by read planning, because
    Timeline.fences() merges the provider store's fence records —
    the fencing design transfers to object-store backends as-is."""

    class Crash(BaseException):
        pass

    root = tmp_path / "cp-tbl"
    tpath = str(root / "testdb" / "cp")
    shared = MemoryStore()

    def table(holder):
        return LakeTable(
            spark, str(root), "testdb", "cp",
            record_keys=["c_custkey"], precombine="ver",
            lock_provider=ConditionalPutLockProvider(
                tpath, store=shared, holder=holder
            ),
        )

    cust = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t_a = table("a")
    t_a.write(cust, op="upsert", instant="001")

    a = t_a.lock_provider
    b = ConditionalPutLockProvider(tpath, store=shared, holder="b")
    real_validate = a.validate
    calls = {"n": 0}

    def stall_then_crash():
        calls["n"] += 1
        if calls["n"] == 1:
            real_validate()
            a._rewrite_own(a.token, expires_at=time.time() - 1.0)
            b.acquire(5.0)  # takeover records the fence in the store
            b.release()
        else:
            raise Crash  # dies between rename and post-publish check

    a.validate = stall_then_crash
    with pytest.raises(Crash):
        t_a.write(
            cust.withColumn("ver", F.lit(2).cast("long")),
            op="upsert", instant="002",
        )

    # the zombie manifest landed on disk, but a fresh reader sharing
    # the deployment's store ignores it
    t_r = table("reader")
    assert t_r.timeline() == ["001"]
    assert t_r.snapshot().filter(F.col("ver") == 2).count() == 0


def test_localfs_put_if_absent_falls_back_without_link(tmp_path, monkeypatch):
    """r7 advisory (low): link(2)-less filesystems (s3fs and most FUSE
    mounts raise EPERM/ENOTSUP) must fall back to O_EXCL create+write —
    exclusivity still holds, lease acquisition keeps working instead of
    dying with a hard OSError."""
    import errno
    import os as _os

    from emr_hudi_example_spark.lake.locks import LocalFSStore

    store = LocalFSStore(str(tmp_path / "locks"))
    store.ensure()

    real_link = _os.link

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(_os, "link", no_link)
    assert store.put_if_absent("lease", "body-1") is True
    assert store.get("lease") == "body-1"
    assert store.put_if_absent("lease", "body-2") is False  # loser
    assert store.get("lease") == "body-1"
    # no temp litter left behind
    assert [n for n in _os.listdir(store.root) if n.startswith(".")] == []
    monkeypatch.setattr(_os, "link", real_link)
    # the full lease dance still works over the fallback store
    monkeypatch.setattr(_os, "link", no_link)
    p = LeaseLockProvider(str(tmp_path / "tbl2"), holder="x")
    p.acquire(1.0)
    p.release()


def test_s3_store_documents_the_calls():
    s = S3ConditionalPutStore("bkt", "tables/t1/_lease")
    with pytest.raises(NotImplementedError, match="IfNoneMatch"):
        s.put_if_absent("lease-1", "{}")
    with pytest.raises(NotImplementedError, match="list_objects_v2"):
        s.list()


def test_unreadable_lease_body_expires_after_grace(tmp_path):
    """A lease file whose body NEVER becomes readable (writer died
    between the O_EXCL create and the write on the no-hardlink
    fallback, torn write at ENOSPC) carries no expires_at — before r13
    it was treated live FOREVER and every acquire() on every host
    livelocked to its deadline. Liveness of an unreadable newest claim
    is now bounded by lease_seconds from first observation; the
    takeover is fenced like any crash takeover."""
    import os as _os

    from emr_hudi_example_spark.lake.locks import (
        LeaseLockProvider,
        LockContention,
    )

    p = LeaseLockProvider(
        str(tmp_path / "tbl"), lease_seconds=0.4, holder="taker"
    )
    p.store.ensure()
    # simulate the torn claim: lease-1 exists with an EMPTY body
    open(_os.path.join(p.lease_dir, p._key(1)), "w").close()
    # within the grace window the claim is conservatively live
    with pytest.raises(LockContention):
        p.acquire(wait_seconds=0.15)
    # past the grace the takeover must succeed without manual deletion
    p.acquire(wait_seconds=5.0)
    assert p.token == 2
    # the takeover was fenced (unreleased prior claim)
    assert any(f["token"] == 2 for f in p.fences())
    p.release()


def test_retry_on_contention_no_trailing_sleep():
    """The terminal failure surfaces immediately — no pointless backoff
    sleep AFTER the last attempt (r13 review); attempts<=0 degrades to
    running fn once with no wrapper."""
    import time as _time

    from emr_hudi_example_spark.lake.locks import (
        LockContention,
        retry_on_contention,
    )

    def always():
        raise LockContention("held")

    t0 = _time.monotonic()
    with pytest.raises(LockContention):
        retry_on_contention(always, attempts=1, backoff_seconds=5.0)
    assert _time.monotonic() - t0 < 1.0  # no 5 s sleep before the raise
    with pytest.raises(LockContention):
        retry_on_contention(always, attempts=0)
    assert retry_on_contention(lambda: 42, attempts=0) == 42


@pytest.mark.slow
def test_occ_multiprocess_probe():
    """The multi-process check of the lock-free publish path:
    ``scripts/occ_multiprocess_probe.py`` runs two JVM-backed writer
    processes (disjoint, adversarial, MOR-commute, compaction-race and
    kill -9 lease phases) and must report ``"ok": true``."""
    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "occ_multiprocess_probe.py",
    )
    proc = subprocess.run(
        [sys.executable, script], capture_output=True, text=True,
        timeout=1200,
    )
    tail = proc.stdout[-3000:] + proc.stderr[-3000:]
    assert proc.returncode == 0, tail
    report = json.loads(proc.stdout[proc.stdout.rindex('{\n  "probe"'):])
    assert report["ok"] is True, tail
