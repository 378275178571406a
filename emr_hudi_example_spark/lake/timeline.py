"""``Timeline`` — the commit log of one lake table (Hudi's
``HoodieTimeline`` and meta client: instants, commit metadata,
archival). It is the only code that reads or writes commit,
checkpoint, inflight, compaction-plan, stream-offset and savepoint
files; ``LakeTable`` holds one and writes the data files and index
sidecars the manifests name. It needs no Spark session.

Storage layout::

    base_path/db/table/
      _commits/<instant>.json        # manifest (log entry: added/replaced
                                     # DELTAS only); writing it IS the commit
      _commits/_ckpt/<instant>.json  # periodic full live-file checkpoint
      _commits/_archived/<instant>.json  # manifests moved out by archival
      _commits/.inflight/<instant>.json  # lock-free writer heartbeat
      _commits/_compaction/<plan>.json   # scheduled compaction plan
      _commits/_compaction/_abandoned/<plan>.json  # plans given up on
      _commits/_offsets/<query>.json     # newest streaming offsets
      _savepoints/<instant>.json     # instants pinned against the cleaner
      _lease/fence-<token>.json      # takeover fences (lake/locks.py)
      data/<instant>/__pt_<col>=<val>/part-*.parquet   # LakeTable

Design notes (100 TB):

- The *manifest log is the file index* (Iceberg-style log + checkpoint):
  each commit's manifest records only its ``added``/``replaced`` delta;
  every ``MANIFEST_CHECKPOINT_INTERVAL`` commits the full live-file list
  is checkpointed under ``_commits/_ckpt/``. Readers materialize the
  live set from the newest checkpoint plus the ≤ interval manifests
  after it — O(delta), never O(commits) — and an in-session cache rolls
  forward incrementally across commits. Partition / commit-range pruning
  happens driver-side on that file index before any scan — the analog of
  Hudi's timeline+file-index.
- The commit point is the atomic rename of one small JSON manifest
  (:meth:`Timeline.publish`); a crashed write leaves invisible orphan
  data files that the cleaner removes. Every JSON file here is written
  the same way (:func:`write_json`), so a reader never sees a torn one.
- *One listing per op; helpers take the head.* Each ``LakeTable`` op
  lists the log once (:meth:`Timeline.instants`, after acquiring the
  writer lock when it takes one) and passes that listing, or its head
  (:func:`newest`), to every helper — ``next_instant``, ``live_files``,
  ``publish``, ``check_conflicts`` and ``last_checkpoint_entry`` take it
  as an argument. So the live set, schema, partition stats, conflict
  base and next instant of an op describe one table state. The listing
  is never state on the Timeline: one handle may serve two threads.
"""

from __future__ import annotations

import json
import os
import threading
import time

from emr_hudi_example_spark.functions.core import now_instant
from emr_hudi_example_spark.lake.locks import (
    LocalFSStore,
    LockProvider,
    read_fences,
)

#: full live-file checkpoint every N commits; 0 disables it — the live
#: set then replays the whole manifest log
MANIFEST_CHECKPOINT_INTERVAL = 10


class ConcurrentWriteConflict(RuntimeError):
    """Optimistic commit aborted: a concurrent commit invalidated this
    writer's read set, or out-ran its instant. The write published
    NOTHING; retry re-runs the merge against fresh table state (the
    data files it did write are orphans for the lazy cleaner, exactly
    like any failed write)."""


def json_stems(d: str) -> list[str]:
    """Names of the ``*.json`` files in directory ``d`` without the
    suffix, ascending; [] when ``d`` does not exist."""
    if not os.path.isdir(d):
        return []
    return sorted(
        f[: -len(".json")] for f in os.listdir(d) if f.endswith(".json")
    )


def newest(tl: list[str]) -> str | None:
    """The head of listing ``tl``: its newest instant, None when the
    table has no commit."""
    return tl[-1] if tl else None


def write_json(path: str, obj, check=None) -> None:
    """Write ``obj`` to ``path`` atomically: a hidden temp file in the
    same directory, then ``os.replace`` — a reader sees the old file or
    the whole new one, never a torn one. ``check`` runs between the two
    and may raise to abort before anything is visible."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    if check is not None:
        check()
    os.replace(tmp, path)


def key_summary(files: list[dict]) -> dict:
    """Per-partition ``[key_min, key_max]`` envelope over file records;
    a ``None`` envelope means at least one file in that partition lacks
    key stats (the envelope is unknowable and any check must fall back
    to the per-file proof)."""
    out: dict = {}
    for f in files:
        pp = f.get("partition_path")
        if pp in out and out[pp] is None:
            continue
        kmin, kmax = f.get("key_min"), f.get("key_max")
        if kmin is None or kmax is None:
            out[pp] = None
        elif pp not in out:
            out[pp] = [kmin, kmax]
        else:
            e = out[pp]
            if kmin < e[0]:
                e[0] = kmin
            if kmax > e[1]:
                e[1] = kmax
    return out


class Timeline:
    """The commit log under ``path``. ``lock_provider`` is the table's
    writer lock: publish validates its claim at the commit point and
    stamps its fencing token, and its store's takeover fences filter
    the listing. The Timeline never takes the lock itself — callers
    that change the log hold it. ``caches`` are the owner's other
    instant-keyed caches (anything with ``clear()``); :meth:`reset`
    clears them with the Timeline's own."""

    def __init__(
        self,
        path: str,
        lock_provider: LockProvider | None = None,
        caches: tuple = (),
    ) -> None:
        self.path = path
        self.lock_provider = lock_provider or LockProvider()
        self.commits_dir = os.path.join(path, "_commits")
        self.ckpt_dir = os.path.join(self.commits_dir, "_ckpt")
        self.archived_dir = os.path.join(self.commits_dir, "_archived")
        self.inflight_dir = os.path.join(self.commits_dir, ".inflight")
        self.plan_dir = os.path.join(self.commits_dir, "_compaction")
        self.offsets_dir = os.path.join(self.commits_dir, "_offsets")
        self.savepoint_dir = os.path.join(path, "_savepoints")
        self.lease_dir = os.path.join(path, "_lease")
        #: inflight markers older than this belong to crashed writers:
        #: clean() removes them and reclaims the files (a writer that
        #: out-lives its marker still aborts safely at publish)
        self.inflight_ttl_seconds: float = 900.0
        self._caches = tuple(caches)
        self._manifests: dict[str, dict] = {}
        #: instant → per-partition key envelope (:meth:`_commit_summary`)
        self._summaries: dict[str, dict] = {}
        #: instants cleared against the zombie fences — clean verdicts
        #: are immutable until a restore frees the id (:meth:`reset`)
        self._fence_ok: set[str] = set()
        #: (instant, live files), rolled forward per commit
        self._live: tuple[str, list[dict]] | None = None
        #: offsets the listener thread armed for the next manifest; the
        #: lock makes publish's read-and-clear atomic against it
        self._pending_offsets: dict | None = None
        self._offsets_lock = threading.Lock()
        #: instant → (stop Event, Thread) of its marker's heartbeat
        self._heartbeats: dict[str, tuple] = {}

    # ------------------------------------------------------------ listing

    def instants(self) -> list[str]:
        """Committed instants, ascending, without the manifests a
        fenced (superseded) lease holder renamed in (:meth:`_zombies`)."""
        names = json_stems(self.commits_dir)
        zombies = self._zombies(names)
        if zombies:
            names = [i for i in names if i not in zombies]
        return names

    def last(self) -> str | None:
        tl = self.instants()
        return tl[-1] if tl else None

    def head(self) -> str:
        """Newest manifest name on disk, fenced ones included ("" when
        none): the snapshot a lease takeover records as its fence."""
        return (json_stems(self.commits_dir) or [""])[-1]

    def archived(self) -> list[str]:
        return json_stems(self.archived_dir)

    def checkpoints(self) -> list[str]:
        """Instants with a full live-file checkpoint, ascending."""
        return json_stems(self.ckpt_dir)

    def next_instant(self, requested: str | None, tl: list[str]) -> str:
        """Monotone instant allocation after the head of listing
        ``tl``; explicit instants (tests, deterministic replays) must
        still advance the timeline."""
        inst = requested or now_instant()
        last = newest(tl)
        if last is not None and inst <= last:
            if requested is not None:
                raise ValueError(
                    f"instant {inst!r} not after last commit {last!r}"
                )
            # same-millisecond wall clock: extend to preserve total order
            inst = last + "0"
        return inst

    # ------------------------------------------------------------- fences

    def _zombies(self, instants: list[str]) -> set[str]:
        """Instants published by a fenced (superseded) lease holder.

        A lease takeover records a fence ``{token, timeline_head}``
        (``locks.py:_record_fence``). A manifest whose ``fence_token``
        is older than a fence's token AND whose instant sorts after
        that fence's head can only be the superseded writer's late
        rename (paused between its commit-point ``validate()`` and the
        ``os.replace``): mutual exclusion means the old holder was the
        only writer up to the takeover. A manifest with no token was
        written under a non-lease provider, which cannot be a
        superseded lease holder, so it is kept. Without a takeover the
        check costs one failed open and listing; clean verdicts are
        cached, zombie verdicts re-checked (a later legitimate writer
        may reuse the name)."""
        fences = self.fences()
        if not fences:
            return set()
        zombies: set[str] = set()
        for inst in instants:
            if inst in self._fence_ok:
                continue
            suspect = [f for f in fences if inst > f["timeline_head"]]
            if not suspect:
                self._fence_ok.add(inst)
                continue
            try:
                token = self.manifest(inst).get("fence_token")
            except (FileNotFoundError, ValueError):
                continue  # mid-rename/torn read: keep, re-check later
            if token is not None and any(token < f["token"] for f in suspect):
                zombies.add(inst)
            else:
                self._fence_ok.add(inst)
        return zombies

    def fences(self) -> list[dict]:
        """Takeover fence records, ascending by token: the on-disk
        ``_lease/`` records, merged with the lock provider's own store
        so a reader configured with the deployment's provider (ZK/S3
        conditional-put) sees takeovers from either backend. A provider
        whose store IS the on-disk ``_lease/`` dir is not read twice."""
        fences = read_fences(LocalFSStore(self.lease_dir))
        store = getattr(self.lock_provider, "store", None)
        if store is not None and not (
            isinstance(store, LocalFSStore) and store.root == self.lease_dir
        ):
            seen = {f["token"] for f in fences}
            fences.extend(
                f for f in read_fences(store) if f["token"] not in seen
            )
        return sorted(fences, key=lambda f: f["token"])

    # ---------------------------------------------------------- manifests

    def manifest(self, instant: str) -> dict:
        """Commit manifest by instant, cached: manifests are IMMUTABLE
        once published, so a hit is never stale. Bounded by a wholesale
        eviction past 4096 entries.

        Callers MUST treat the returned dict (and every nested
        ``added`` record) as frozen: the same objects are shared by
        later calls and by the live sets :meth:`live_files` builds. The
        one in-place mutation (``f[flag] = True`` in
        ``LakeTable._write_manifest``) happens on pre-publish records
        that have never entered this cache."""
        cached = self._manifests.get(instant)
        if cached is not None:
            return cached
        with open(os.path.join(self.commits_dir, instant + ".json")) as fh:
            m = json.load(fh)
        if len(self._manifests) >= 4096:
            self._manifests.clear()
        self._manifests[instant] = m
        return m

    def manifest_any(self, instant: str) -> dict:
        """Manifest by instant, falling back to the archived timeline."""
        try:
            return self.manifest(instant)
        except FileNotFoundError:
            with open(os.path.join(self.archived_dir, instant + ".json")) as fh:
                return json.load(fh)

    def live_files(
        self, instant: str | None = None, tl: list[str] | None = None
    ) -> list[dict]:
        """Live file records as of ``instant``: the newest full
        checkpoint ≤ instant (or the session cache when newer) plus a
        forward replay of the manifest deltas after it. Legacy manifests
        that embed a full ``live_files`` list act as materialized points
        too. The records are shared with the manifest cache: read-only.

        ``tl`` is the caller's listing, which holds ``instant``; the
        replay walks it instead of listing again (without one, this
        lists). ``instant`` defaults to the newest commit; [] on a table
        with none. The session cache rolls forward to the newest
        instant asked for."""
        if tl is None:
            tl = self.instants()
        if instant is None:
            instant = newest(tl)
            if instant is None:
                return []
        cached = self._live
        if cached is not None and cached[0] == instant:
            return cached[1]
        target = self.manifest_any(instant)
        if "live_files" in target:  # legacy full-list manifest: direct
            # copy: the manifest dict is cache-backed and immutable
            return list(target["live_files"])
        live: list[dict] = []
        start: str | None = None
        cks = [c for c in self.checkpoints() if c <= instant]
        if cks:
            start = cks[-1]
            with open(os.path.join(self.ckpt_dir, start + ".json")) as fh:
                live = json.load(fh)["live_files"]
        if (
            cached is not None
            and cached[0] <= instant
            and (start is None or cached[0] > start)
        ):
            start, live = cached[0], list(cached[1])
        # archival moves a prefix: a replay from inside the active
        # window never needs the archived manifests
        history = (
            tl
            if tl and start is not None and start >= tl[0]
            else self.archived() + tl
        )
        for i in history:
            if (start is not None and i <= start) or i > instant:
                continue
            m = self.manifest_any(i)
            if "live_files" in m:  # legacy full-list manifest
                live = m["live_files"]
                continue
            replaced = set(m["replaced"])
            live = [f for f in live if f["path"] not in replaced] + m["added"]
        if cached is None or cached[0] <= instant:
            self._live = (instant, live)
        return live

    def last_checkpoint_entry(
        self, source_id: str, tl: list[str]
    ) -> dict | None:
        """Newest committed streaming checkpoint dict for
        ``source_id`` in listing ``tl``, scanning back through the
        archived manifests too: losing sight of an archived one would
        silently re-apply a replayed batch."""
        for i in reversed(self.archived() + tl):
            cp = self.manifest_any(i).get("checkpoint")
            if cp and cp.get("source_id") == source_id:
                return cp
        return None

    # ------------------------------------------------------------ publish

    def publish(
        self,
        instant: str,
        action: str,
        schema: dict,
        added: list[dict],
        replaced: list[str],
        tl: list[str],
        checkpoint: dict | None = None,
    ) -> None:
        """Writing the manifest IS the commit (writer lock held). The
        manifest records this commit's ``added``/``replaced`` delta,
        the streaming ``checkpoint`` the write carries (data and cursor
        commit atomically, as Hudi keeps checkpoints in commit
        metadata) and any stream offsets the listener armed; the live
        set rolls forward from the head of ``tl``, the listing taken
        under the lock, in the session cache and is checkpointed every
        ``MANIFEST_CHECKPOINT_INTERVAL`` commits."""
        prev = self.live_files(newest(tl), tl)
        replaced_set = set(replaced)
        live = [f for f in prev if f["path"] not in replaced_set] + added
        manifest = {
            "instant": instant,
            "action": action,
            "schema": schema,
            "added": added,
            "replaced": replaced,
            # lets a later optimistic publish prove disjointness against
            # this commit with one dict probe (check_conflicts)
            "key_summary": [
                {"pp": pp, "env": env}
                for pp, env in key_summary(added).items()
            ],
            # None for the O_EXCL file lock; read planning discards a
            # lease zombie's manifest by it (_zombies)
            "fence_token": getattr(self.lock_provider, "token", None),
        }
        if checkpoint is not None:
            manifest["checkpoint"] = checkpoint
        # a payload the listener writes between read and clear stays
        # armed for the NEXT manifest instead of being discarded
        with self._offsets_lock:
            pending_offsets, self._pending_offsets = (
                self._pending_offsets, None
            )
        if pending_offsets is not None:
            manifest["stream_offsets"] = pending_offsets
        final = os.path.join(self.commits_dir, instant + ".json")
        # a lease provider raises LockFenced here if this writer was
        # superseded: the zombie publishes nothing
        write_json(final, manifest, check=self.lock_provider.validate)
        # validate() is not atomic with the rename: a writer paused
        # between the two can still publish after a takeover. Re-validate
        # and roll back, shrinking the window to the microseconds between
        # rename and this check; a zombie that crashes inside it is what
        # the takeover fence then hides.
        try:
            self.lock_provider.validate()
        except Exception:
            try:
                os.unlink(final)
            except FileNotFoundError:
                pass
            raise
        self._live = (instant, live)
        if MANIFEST_CHECKPOINT_INTERVAL:
            ckpt = (self.checkpoints() or [None])[-1]
            # this commit plus the listed ones after the checkpoint
            n_since = 1 + sum(1 for i in tl if ckpt is None or i > ckpt)
            if n_since >= MANIFEST_CHECKPOINT_INTERVAL:
                self._write_checkpoint(instant, live)

    def _write_checkpoint(self, instant: str, live: list[dict]) -> None:
        """Losing one is harmless: readers replay a longer suffix."""
        write_json(
            os.path.join(self.ckpt_dir, instant + ".json"),
            {"instant": instant, "live_files": live},
        )

    # ------------------------------------------------- publish conflicts

    def _commit_summary(self, instant: str, m: dict) -> dict:
        """A commit's per-partition key envelope, from its manifest's
        ``key_summary`` or derived once from ``added`` for legacy
        manifests; memoized per instant."""
        cached = self._summaries.get(instant)
        if cached is not None:
            return cached
        raw = m.get("key_summary")
        s = (
            {e["pp"]: e["env"] for e in raw}
            if raw is not None
            else key_summary(m["added"])
        )
        self._summaries[instant] = s
        return s

    def check_conflicts(
        self,
        base: str | None,
        inst: str,
        added: list[dict],
        replaced: list[str],
        check_keys: bool,
        tl: list[str],
    ) -> None:
        """Raise :class:`ConcurrentWriteConflict` unless publishing a
        commit computed at snapshot ``base`` after the commits of
        listing ``tl`` (taken under the writer lock) is equivalent to
        SOME serial order (``LakeTable.write_optimistic`` states the
        rules). ``check_keys`` asks for the added-vs-added key-overlap
        proof that key-unique COW ops need.

        Cost: one SUMMARY lookup per commit since base — per-partition
        envelopes are compared first, and only (commit, partition)
        pairs whose envelopes intersect descend to the exact per-file
        proof. Disjoint envelopes imply no file pair can overlap, so
        the pruning is exact."""
        if tl and tl[-1] >= inst:
            raise ConcurrentWriteConflict(
                f"instant order: published {tl[-1]!r} >= planned {inst!r}"
            )
        newer = [i for i in tl if base is None or i > base]
        if not newer:
            return
        ours_replaced = set(replaced)
        ours = key_summary(added) if check_keys else {}
        our_by_pp: dict = {}
        if check_keys:
            for f in added:
                our_by_pp.setdefault(f.get("partition_path"), []).append(f)
        for i in newer:
            m = self.manifest(i)
            clash = ours_replaced.intersection(m["replaced"])
            if clash:
                raise ConcurrentWriteConflict(
                    f"read-set overlap on {sorted(clash)[:3]} with "
                    f"concurrent commit {i}"
                )
            if not check_keys:
                continue
            theirs = self._commit_summary(i, m)
            their_by_pp: dict | None = None
            for pp, env in ours.items():
                if pp not in theirs:
                    continue  # commit i touched no files in pp
                tenv = theirs[pp]
                if (
                    env is not None
                    and tenv is not None
                    and (env[1] < tenv[0] or tenv[1] < env[0])
                ):
                    continue  # disjoint envelopes: no pair can overlap
                # envelopes intersect (or stats incomplete): exact
                # per-file proof for THIS (commit, partition) only
                if their_by_pp is None:
                    their_by_pp = {}
                    for g in m["added"]:
                        their_by_pp.setdefault(
                            g.get("partition_path"), []
                        ).append(g)
                for f in our_by_pp[pp]:
                    for g in their_by_pp.get(pp, []):
                        fmin, fmax = f.get("key_min"), f.get("key_max")
                        gmin, gmax = g.get("key_min"), g.get("key_max")
                        if None in (fmin, fmax, gmin, gmax):
                            # missing key stats: cannot prove disjoint —
                            # abort (conservative, never unsound)
                            raise ConcurrentWriteConflict(
                                f"no key stats to prove {f['path']} "
                                f"disjoint from concurrent {g['path']}"
                            )
                        if not (fmax < gmin or gmax < fmin):
                            raise ConcurrentWriteConflict(
                                f"key-range overlap: {f['path']} "
                                f"[{fmin},{fmax}] vs concurrent "
                                f"{g['path']} [{gmin},{gmax}]"
                            )

    # --------------------------------------------------- inflight markers

    def mark_inflight(self, instant: str) -> None:
        """Announce a LOCK-FREE write in progress (optimistic writer,
        async-compaction fold), so a concurrent ``clean()`` does not
        reap ``data/<instant>/`` as a crashed writer's orphans. The
        serialized ``write()`` needs none: ``clean()`` takes its lock.

        A daemon thread rewrites the marker's ``at`` every ``ttl/3``
        until :meth:`clear_inflight`, so a fold that out-lives the TTL
        is not reaped and retried forever; a crashed writer's heartbeat
        dies with it, and its marker goes stale."""
        self._write_marker(instant)
        stop = threading.Event()
        interval = max(1.0, self.inflight_ttl_seconds / 3.0)

        def beat() -> None:
            while not stop.wait(interval):
                try:
                    self._write_marker(instant)
                except OSError:
                    pass  # dir vanished (table dropped mid-write): moot

        th = threading.Thread(
            target=beat, daemon=True, name=f"inflight-hb-{instant}"
        )
        self._heartbeats[instant] = (stop, th)
        th.start()

    def _write_marker(self, instant: str) -> None:
        write_json(
            os.path.join(self.inflight_dir, instant + ".json"),
            {"instant": instant, "pid": os.getpid(), "at": time.time()},
        )

    def clear_inflight(self, instant: str) -> None:
        hb = self._heartbeats.pop(instant, None)
        if hb is not None:
            stop, th = hb
            stop.set()
            # JOIN before unlinking: a beat past its stop check could
            # otherwise resurrect the marker after the unlink (the
            # timeout only guards a wedged filesystem)
            th.join(timeout=10.0)
        try:
            os.unlink(os.path.join(self.inflight_dir, instant + ".json"))
        except OSError:
            pass  # already reaped as stale, or never created

    def inflight_split(self) -> tuple[set[str], set[str]]:
        """(live, stale) in-flight instants: markers younger than
        ``inflight_ttl_seconds`` protect their data dir from the
        cleaner; older ones are crashed writers whose files are fair
        game (and whose marker clean() removes)."""
        live: set[str] = set()
        stale: set[str] = set()
        try:
            names = os.listdir(self.inflight_dir)
        except FileNotFoundError:
            return live, stale
        horizon = time.time() - self.inflight_ttl_seconds
        for n in names:
            if not n.endswith(".json") or n.startswith("."):
                continue
            inst = n[: -len(".json")]
            try:
                with open(os.path.join(self.inflight_dir, n)) as fh:
                    at = json.load(fh).get("at", 0.0)
            except (FileNotFoundError, ValueError):
                live.add(inst)  # torn read / mid-replace: assume live
                continue
            (live if at > horizon else stale).add(inst)
        return live, stale

    # ----------------------------------------------------- stream offsets

    def _offsets_file(self, query_name: str) -> str:
        safe = "".join(
            c if c.isalnum() or c in "-_." else "_" for c in query_name
        ) or "query"
        return os.path.join(self.offsets_dir, f"{safe}.json")

    def record_stream_offsets(
        self, query_name: str, batch_id: int, sources: list[dict]
    ) -> None:
        """Write the query's offsets file now and arm the payload for
        the next manifest :meth:`publish` writes."""
        payload = {
            "query": query_name,
            "batch_id": batch_id,
            "sources": sources,
        }
        write_json(self._offsets_file(query_name), payload)
        with self._offsets_lock:
            self._pending_offsets = payload

    def stream_offsets(self, query_name: str) -> dict | None:
        try:
            with open(self._offsets_file(query_name)) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    # --------------------------------------------------------- savepoints

    def savepoint(self, instant: str) -> None:
        if instant not in self.archived() + self.instants():
            raise ValueError(f"unknown instant {instant!r}")
        write_json(
            os.path.join(self.savepoint_dir, instant + ".json"),
            {"instant": instant},
        )

    def release_savepoint(self, instant: str) -> None:
        try:
            os.remove(os.path.join(self.savepoint_dir, instant + ".json"))
        except FileNotFoundError:
            pass

    def savepoints(self) -> list[str]:
        return json_stems(self.savepoint_dir)

    # --------------------------------------------------- compaction plans

    def _plan_file(self, plan_id: str) -> str:
        return os.path.join(self.plan_dir, plan_id + ".json")

    def write_plan(self, plan: dict) -> str:
        write_json(self._plan_file(plan["plan_id"]), plan)
        return plan["plan_id"]

    def read_plan(self, plan_id: str) -> dict | None:
        """A scheduled plan, or None once it ran or was discarded."""
        try:
            with open(self._plan_file(plan_id)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def pending_plans(self) -> list[str]:
        return json_stems(self.plan_dir)

    def discard_plan(self, plan_id: str) -> None:
        try:
            os.remove(self._plan_file(plan_id))
        except FileNotFoundError:
            pass  # concurrent executor discarded it first

    def abandon_plan(self, plan_id: str, note: dict) -> None:
        """Move a plan to ``_compaction/_abandoned/`` with ``note``
        merged in: it leaves :meth:`pending_plans`, and a durable record
        of the dropped intent survives the process."""
        try:
            with open(self._plan_file(plan_id)) as fh:
                plan = json.load(fh)
        except (OSError, ValueError):
            plan = {}  # unreadable/corrupt plan: the note still lands
        plan.update(note)
        write_json(
            os.path.join(self.plan_dir, "_abandoned", plan_id + ".json"),
            plan,
        )
        self.discard_plan(plan_id)

    # ------------------------------------------------- archive / restore

    def archive(self, keep_commits: int) -> list[str]:
        """Move manifests older than the last ``keep_commits`` into
        ``_archived/``, stopping at the earliest savepoint. Returns the
        archived instants. ``keep_commits`` must be at least 1."""
        if keep_commits < 1:
            raise ValueError(f"keep_commits must be >= 1, got {keep_commits}")
        tl = self.instants()
        to_archive = tl[:-keep_commits] if len(tl) > keep_commits else []
        sps = self.savepoints()
        if sps:
            first_sp = min(sps)
            to_archive = [i for i in to_archive if i < first_sp]
        if not to_archive:
            return []
        # pin a checkpoint at the archival horizon so live-set replays of
        # the active window never need to read archived manifests (the
        # manifest_any fallback still covers a lost checkpoint)
        horizon = to_archive[-1]
        if not any(c >= horizon for c in self.checkpoints()):
            self._write_checkpoint(horizon, self.live_files(horizon, tl))
        os.makedirs(self.archived_dir, exist_ok=True)
        for inst in to_archive:
            os.replace(
                os.path.join(self.commits_dir, inst + ".json"),
                os.path.join(self.archived_dir, inst + ".json"),
            )
        return to_archive

    def restore(self, instant: str) -> list[str]:
        """Roll the log back to ``instant`` (writer lock held): remove
        every later commit's manifest and the data files only it added,
        the checkpoints and savepoints after ``instant``, then
        :meth:`reset`. Returns the discarded instants."""
        tl = self.instants()
        if instant not in tl:
            raise ValueError(f"unknown instant {instant!r}")
        doomed = [i for i in tl if i > instant]
        # a doomed METADATA-ONLY commit (index_backfill) re-lists live
        # files of arbitrarily old creating commits, so the keep-set
        # covers the whole pre-restore history: the restore point's
        # live set (checkpoint-replayed, so it sees through archival)
        # plus every active and archived pre-restore manifest
        keep_files = {
            f["path"]
            for i in tl
            if i <= instant
            for f in self.manifest(i)["added"]
        }
        keep_files |= {f["path"] for f in self.live_files(instant, tl)}
        for i in self.archived():
            keep_files |= {f["path"] for f in self.manifest_any(i)["added"]}
        for i in doomed:
            for f in self.manifest(i)["added"]:
                if f["path"] in keep_files or f.get("external"):
                    continue  # adopted source files are user-owned
                full = os.path.join(self.path, f["path"])
                if os.path.exists(full):
                    os.remove(full)
            os.remove(os.path.join(self.commits_dir, i + ".json"))
        for c in self.checkpoints():
            if c > instant:  # describes a live set that no longer exists
                os.remove(os.path.join(self.ckpt_dir, c + ".json"))
        for sp in self.savepoints():
            if sp > instant:  # pins a removed instant
                self.release_savepoint(sp)
        self.reset()
        return doomed

    def reset(self) -> None:
        """Forget every instant-keyed cache — the Timeline's and the
        owner's ``caches``. A restore frees instant ids a later write
        can re-allocate, so a cached manifest, envelope or fence verdict
        for one would describe a different commit."""
        self._live = None
        self._manifests.clear()
        self._summaries.clear()
        self._fence_ok.clear()
        for c in self._caches:
            c.clear()
