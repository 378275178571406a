"""Async compaction executor — the engine's analog of the reference's
async compaction on the KDS ingest path (``SRC/KDS2Hudi.scala:131-133``,
``hoodie.datasource.compaction.async.enable``).

The ingest thread only *schedules* plans (cheap, driver-side pin of the
live-file set); this daemon thread *executes* them off the ingest
critical path. Writer-lock contention with an in-flight micro-batch is
expected — the executor retries after a short backoff, exactly the role
Hudi's lock provider plays between its ingest and compactor.
"""

from __future__ import annotations

import threading
import time

from emr_hudi_example_spark.lake.locks import LockContention
from emr_hudi_example_spark.lake.table import LakeTable


class AsyncCompactor:
    """Background executor for scheduled compaction plans.

    Usage::

        compactor = AsyncCompactor(table).start()
        ...  # ingest keeps calling table.schedule_compaction()
        compactor.stop()   # drains pending plans, then joins

    ``executed`` collects the committed compaction instants, ``failed``
    the (plan_id, error) pairs of plans abandoned after repeated
    failures or too many lock-contention rounds (for tests /
    observability). :class:`LockContention` is retried up to
    ``max_attempts_per_plan`` rounds; any other exception is retried up
    to ``max_generic_attempts`` times (a transient executor loss / OOM
    must not discard the compaction intent on first sight — r14 review)
    before the plan is abandoned. Abandonment MOVES the plan file to a
    durable abandoned-plan sidecar (``Timeline.abandon_plan``, with the
    error recorded in the JSON) rather than unlinking it: the in-process ``failed``
    list dies with the daemon, and a silently-vanished plan would leave
    MOR read amplification growing with nothing flagging the drop. An
    operator inspects the sidecar and re-schedules if the intent still
    matters; fresh compactors never pick sidecar plans up (not listed by
    ``pending_compactions``), so restarts don't re-spin dead plans.
    """

    def __init__(
        self,
        table: LakeTable,
        poll_seconds: float = 0.2,
        lock_backoff_seconds: float = 0.2,
        max_attempts_per_plan: int = 300,
        max_generic_attempts: int = 3,
    ) -> None:
        self.table = table
        self.poll_seconds = poll_seconds
        self.lock_backoff_seconds = lock_backoff_seconds
        self.max_attempts_per_plan = max_attempts_per_plan
        self.max_generic_attempts = max_generic_attempts
        self.executed: list[str] = []
        self.failed: list[tuple[str, Exception]] = []
        self._attempts: dict[str, int] = {}
        self._abandoned: set[str] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> "AsyncCompactor":
        self._thread = threading.Thread(
            target=self._loop, name=f"compactor-{self.table.table}",
            daemon=True,
        )
        self._thread.start()
        return self

    def _abandon(self, plan_id: str, exc: Exception) -> None:
        """Park the plan in the abandoned-plan sidecar: it leaves
        ``pending_compactions()`` (no restart re-spin) while a durable
        record of the dropped intent survives the process."""
        self._abandoned.add(plan_id)
        self.failed.append((plan_id, exc))
        self.table.tl.abandon_plan(
            plan_id,
            {
                "abandoned_error": repr(exc),
                "abandoned_attempts": self._attempts.get(plan_id, 0),
            },
        )

    def _drain_once(self) -> bool:
        """Execute one pending plan; True if progress was made (executed,
        discarded-as-stale, or abandoned)."""
        pending = [
            p
            for p in self.table.pending_compactions()
            if p not in self._abandoned
        ]
        if not pending:
            return False
        plan_id = pending[0]
        self._attempts[plan_id] = self._attempts.get(plan_id, 0) + 1
        try:
            inst = self.table.run_compaction(plan_id)
        except LockContention as exc:
            # writer lock held by an in-flight micro-batch — back off;
            # but a lock that NEVER frees (stale from a crashed writer)
            # must not spin forever: cap the rounds, then abandon
            if self._attempts[plan_id] >= self.max_attempts_per_plan:
                self._abandon(plan_id, exc)
                return True
            time.sleep(self.lock_backoff_seconds)
            return False
        except Exception as exc:  # noqa: BLE001 — bounded retry, then abandon
            # transient failures (executor loss, OOM) get a few rounds
            # before the intent is parked in the sidecar (r14 review);
            # lock-contention attempts share the same counter so a plan
            # alternating between contention and failure still terminates
            if self._attempts[plan_id] >= self.max_generic_attempts:
                self._abandon(plan_id, exc)
                return True
            time.sleep(self.lock_backoff_seconds)
            return False
        if inst is not None:
            self.executed.append(inst)
        self._attempts.pop(plan_id, None)
        return True

    def _loop(self) -> None:
        while not self._stop.is_set():
            if not self._drain_once():
                self._stop.wait(self.poll_seconds)

    def stop(self, drain: bool = True, timeout: float = 60.0) -> bool:
        """Stop the executor; with ``drain`` (default), finish any
        still-pending plans first so shutdown leaves no orphan plans.

        Returns True when the daemon exited and the drain completed
        within ``timeout``. If the daemon is still mid-fold when the
        join times out (a fold is minutes of I/O at scale and cannot
        be interrupted), stop() returns False WITHOUT draining on the
        caller thread — two unsynchronized executors folding the same
        pinned plan would waste one whole fold at publish and mutate
        the attempt/result lists from two threads (r13 review). The
        daemon re-checks ``_stop`` after its in-flight plan and exits;
        call stop() again to finish the drain."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                return False
        if drain:
            deadline = time.monotonic() + timeout
            while (
                any(
                    p not in self._abandoned
                    for p in self.table.pending_compactions()
                )
                and time.monotonic() < deadline
            ):
                self._drain_once()
        return True
