"""One stateless file planner for reads and writes.

The engine's analog of the index layer the reference leaves to Hudi
(bloom, bucket and record-index tagging, metadata-table column stats;
``SRC/Log2Hudi.scala:78-79``, Hudi 0.11 in ``pom.xml:104``). A
planning pass returns the manifest file entries it kept as a
:class:`Kept`, carrying a frozen :class:`ScanReport` of what each layer
dropped. :class:`FilePlanner` is mixed into ``LakeTable``: it reads the
table's configuration, commit log (``tl``, ``lake/timeline.py``) and
indexes and keeps no per-call state; its two caches are keyed by
immutable instants, and the commit log's reset clears them.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pa_pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from emr_hudi_example_spark.lake.columns import PARTITION_PATH_COL, RECORD_KEY_COL
from emr_hudi_example_spark.lake.timeline import newest
from emr_hudi_example_spark.lake.xxh import shard_of as xxh_shard

if TYPE_CHECKING:
    from emr_hudi_example_spark.lake.bloom import Bloom
    from emr_hudi_example_spark.lake.index import ValueIndex


@dataclass(frozen=True)
class ScanReport:
    """What one planning pass did: the files it considered and, in
    pipeline order, how many files each layer that ran dropped.

    Read layers: ``commit_time`` (incremental reads) → ``bucket`` →
    ``record_index`` → ``partition_stats`` → ``col_stats`` →
    ``sec_index`` → ``col_bloom``. Write layers:
    ``partition`` → ``bucket`` → ``record_index`` → ``key_range`` →
    ``key_bloom`` → ``key_scan``. ``partitions_pruned`` counts the
    whole partitions the partition-stats layer proved dead."""

    considered: int = 0
    pruned: tuple[tuple[str, int], ...] = ()
    partitions_pruned: int = 0

    def __getitem__(self, layer: str) -> int:
        """Files ``layer`` dropped (0 when it did not run)."""
        return sum(n for name, n in self.pruned if name == layer)

    @property
    def dropped(self) -> int:
        return sum(n for _, n in self.pruned)

    @property
    def kept(self) -> int:
        return self.considered - self.dropped


class Kept(list):
    """The file entries a planning pass kept, carrying its
    :class:`ScanReport` — a list, so callers iterate the survivors.
    ``no_key``: a write planning pass proved its batch holds no key."""

    def __init__(
        self, files, report: ScanReport, no_key: bool = False
    ) -> None:
        super().__init__(files)
        self.report = report
        self.no_key = no_key


#: datetime-shaped strings for predicate-vs-stat comparisons: ISO 'T'
#: operand form vs the ' '-separated form _stat_json serializes
_ISO_T = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}")
_DT_SPACE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}")
_DATE_ONLY = re.compile(r"^\d{4}-\d{2}-\d{2}$")
#: functional-index predicate columns — ``year(col)`` / ``date(col)``
#: over a temporal column. Both are MONOTONE, so a file's expression
#: bounds derive EXACTLY from its stored column stats at plan time:
#: the Hudi 1.0 functional-index capability with zero write-side cost
#: (no expression stats are ever persisted or maintained).
_FN_COL = re.compile(r"^(year|date)\((\w+)\)$")
_DATE_PREFIX = re.compile(r"^\d{4}-\d{2}-\d{2}")
#: column types whose Spark cast("string") rendering a same-typed
#: Python operand reproduces verbatim (the only pairings the bloom
#: probe may prune on)
_BLOOM_INTEGRAL_TYPES = frozenset(
    ("byte", "tinyint", "short", "smallint", "integer", "int", "long", "bigint")
)


class FilePlanner:
    """Read and write file pruning, mixed into ``LakeTable`` (see the
    module docstring)."""

    def __init__(self) -> None:
        #: instant -> {col: simple type} of the commit's schema (the
        #: schema the index builds' cast("string") ran under), None when
        #: unreadable; instant-keyed ⇒ cleared on restore
        self._col_type_cache: dict[str, dict | None] = {}
        #: instant → per-partition stats aggregate (see
        #: :meth:`_partition_stats_at`); live sets are immutable per
        #: instant so entries never go stale — only :meth:`restore`
        #: (which re-allocates instant ids) clears it
        self._pstats_cache: dict[str, dict[str, dict]] = {}

    # -------------------------------------------- column-stats data skipping

    #: predicate ops accepted by snapshot()/incremental()/read_optimized();
    #: a predicate is a CONJUNCTION of (column, op, operand) conditions
    _PRED_OPS = ("=", "<", "<=", ">", ">=", "between", "in")

    def _stats_may_match(self, f: dict, predicate: list[tuple]) -> bool:
        """Can ANY row of file ``f`` satisfy every predicate condition,
        judging only by the manifest's per-file min/max? Missing stats
        for a column ⇒ conservatively yes. Null rows never satisfy a
        comparison predicate (SQL three-valued logic), and footer
        min/max exclude nulls, so pruning on them is exact."""
        if f.get("rows") == 0:
            return False  # empty part file: no row can match anything
        for col, op, val in predicate:
            fncol = _FN_COL.match(col)
            src = fncol.group(2) if fncol else col
            stats = (
                (f.get("key_min"), f.get("key_max"))
                if src == RECORD_KEY_COL
                else tuple(f.get("col_stats", {}).get(src) or (None, None))
            )
            lo, hi = stats
            if lo is None or hi is None:
                continue  # no stats for this column in this file
            if fncol:
                # functional index: year()/date() are monotone, so the
                # expression's exact bounds are the transform of the
                # column bounds — but only when the stored stats are
                # temporal-shaped strings (_stat_json's serialization);
                # anything else (a string column with arbitrary
                # content) stays unprunable
                if not (
                    isinstance(lo, str)
                    and isinstance(hi, str)
                    and _DATE_PREFIX.match(lo)
                    and _DATE_PREFIX.match(hi)
                ):
                    continue
                if fncol.group(1) == "year":
                    lo, hi = int(lo[:4]), int(hi[:4])
                else:  # date(): truncate to the day prefix
                    lo, hi = lo[:10], hi[:10]

            def norm(v, lo=lo, hi=hi):
                # an ISO-'T' predicate operand against TIMESTAMP stats
                # (always serialized ' '-separated by _stat_json) would
                # order lexicographically ('T' 0x54 vs ' ' 0x20) and
                # wrongly prune matching files — normalize the OPERAND
                # only, and only when both stat bounds are
                # ' '-separated datetime-shaped (a genuine string
                # column's raw 'T'-form stats compare raw, matching
                # Spark's string comparison in the row filter).
                if (
                    isinstance(v, str)
                    and isinstance(lo, str)
                    and isinstance(hi, str)
                    and _DT_SPACE.match(lo)
                    and _DT_SPACE.match(hi)
                ):
                    if _ISO_T.match(v):
                        return v[:10] + " " + v[11:]
                    if _DATE_ONLY.match(v):
                        # date-only operand vs timestamp stats: the row
                        # filter coerces the string to MIDNIGHT of that
                        # day, but lexicographically the bare date sorts
                        # BEFORE "<date> 00:00:00" — an exact-midnight
                        # file min would wrongly prune rows the filter
                        # keeps. Normalize to the coerced instant.
                        return v + " 00:00:00"
                return v

            try:
                if op == "between":
                    a, b = norm(self._stat_json(val[0])), norm(
                        self._stat_json(val[1])
                    )
                    if a is None or b is None:
                        continue
                    if hi < a or lo > b:
                        return False
                elif op == "in":
                    vals = [norm(self._stat_json(v)) for v in val]
                    if any(v is None for v in vals):
                        continue
                    if all(v < lo or v > hi for v in vals):
                        return False
                else:
                    v = norm(self._stat_json(val))
                    if v is None:
                        continue
                    if (
                        (op == "=" and (v < lo or v > hi))
                        or (op == "<" and not lo < v)
                        or (op == "<=" and not lo <= v)
                        or (op == ">" and not hi > v)
                        or (op == ">=" and not hi >= v)
                    ):
                        return False
            except TypeError:
                continue  # operand/stat type mismatch: keep the file
        return True

    def _partition_stats_at(
        self, instant: str, tl: list[str]
    ) -> dict[str, dict]:
        """Per-partition aggregate of the live files' footer stats as of
        ``instant`` of listing ``tl`` — the engine's PARTITION-STATS
        INDEX (the analog of Hudi 1.0's ``partition_stats`` metadata
        index): one pseudo-file
        per partition whose [min, max] covers every live file in it, so
        a predicate that fails the aggregate provably fails every file
        and :meth:`_plan_read` drops the whole partition in
        O(partitions) without touching its files' stats or bloom
        sidecars. At 100 TB this is the difference between planning
        over millions of file entries and thousands of partitions for
        selective predicates.

        Conservative by construction: a column (or the key range)
        enters a partition's aggregate only when EVERY live non-empty
        file in that partition carries usable stats for it — a
        stat-less file would survive the per-file check, so its
        partition must never wholesale-fail. Aggregating over a
        SUPERSET of any later-subset view (partition_filter, bucket or
        record-index pruning) only widens ranges, so a partition dead
        under the full live set is dead for every subset. Cached per
        instant (live sets are immutable per instant; :meth:`restore`
        clears the cache along with the manifests it invalidates)."""
        hit = self._pstats_cache.get(instant)
        if hit is not None:
            return hit
        groups: dict[str, list[dict]] = {}
        for f in self.tl.live_files(instant, tl):
            if f.get("rows") == 0:
                continue  # rowless files can't match; don't let their
                # stat-less footers veto the partition aggregate
            groups.setdefault(f.get("partition_path") or "", []).append(f)
        out: dict[str, dict] = {}
        for pp, fs in groups.items():
            agg: dict = {}
            kmins = [f.get("key_min") for f in fs]
            kmaxs = [f.get("key_max") for f in fs]
            if all(v is not None for v in kmins) and all(
                v is not None for v in kmaxs
            ):
                try:
                    agg["key_min"], agg["key_max"] = min(kmins), max(kmaxs)
                except TypeError:
                    pass  # mixed-type stats: leave unknown (unprunable)
            cols: set[str] = set()
            for f in fs:
                cols.update(f.get("col_stats") or {})
            col_stats: dict[str, list] = {}
            for c in cols:
                los: list = []
                his: list = []
                for f in fs:
                    st = (f.get("col_stats") or {}).get(c) or (None, None)
                    if st[0] is None or st[1] is None:
                        los = []
                        break
                    los.append(st[0])
                    his.append(st[1])
                if los:
                    try:
                        col_stats[c] = [min(los), max(his)]
                    except TypeError:
                        pass
            if col_stats:
                agg["col_stats"] = col_stats
            out[pp] = agg
        if len(self._pstats_cache) >= 8:  # bound: as-of reads can name
            # arbitrary instants; planning only ever needs a handful
            self._pstats_cache.pop(next(iter(self._pstats_cache)))
        self._pstats_cache[instant] = out
        return out

    def _plan_read(
        self,
        files: list[dict],
        predicate: list[tuple] | None,
        tl: list[str] | None = None,
        instant: str | None = None,
        all_base: bool = False,
        span: tuple[str | None, str | None] | None = None,
    ) -> Kept:
        """Driver-side file skipping for a read, layer by layer: an
        incremental read's commit range ``span`` (``(begin, end]``,
        None bounds open) against each file's ``ct_range``, then, for a
        predicate, record-key point lookups (bucket, then record index),
        the manifest's stats (partition aggregates, per-file min/max)
        and the secondary index and column bloom verdicts.
        Returns the kept files with the pass's :class:`ScanReport`.
        The partition aggregates are ``instant``'s, of the op's listing
        ``tl``; without an instant that layer does not run.

        The ``commit_time`` layer drops only files whose every row the
        read's ``_commit_time`` row filter would drop, and that filter
        runs before the MOR merge: no dropped row could have won it.

        The key layers are unconditionally MOR-safe: a file they drop
        provably holds no operand key, and any row the merge could
        surface from it would fail the key-equality row filter anyway.

        MOR rule for the other layers (unless ``all_base`` — the
        read-optimized view, where no merge follows): delta files are
        never skipped — a delta row may rewrite a key's column values
        in either direction — and a stats-failing BASE file is
        skippable only when its KEY RANGE intersects no RETAINED
        file's key range (deltas AND surviving bases). The
        key-disjointness clause matters because the merge is
        ``max_by((precombine, commit_time))`` across ALL live files:
        a retained row with a LOWER precombine for a shared key loses
        the merge only while the pruned file's winning row is present —
        prune it and the stale version wins unopposed and leaks through
        the predicate filter. Duplicate keys can live base-vs-delta
        (late-arriving upserts) or base-vs-base (the no-merge ``insert``
        op), so both are guarded (round-5 review findings). Two pruned
        files MAY share keys: every row of both provably fails the
        predicate, so whichever would win the merge is filtered out
        either way. Empty files (rows == 0) skip unconditionally — no
        row of theirs can win any merge."""
        considered = len(files)
        pruned: list[tuple[str, int]] = []

        def drop(layer: str, before: list[dict], kept: list[dict]):
            pruned.append((layer, len(before) - len(kept)))
            return kept

        if span is not None:
            begin, end = span
            files = drop("commit_time", files, [
                f for f in files
                if not (ct := f.get("ct_range"))
                or ((begin is None or ct[1] > begin)
                    and (end is None or ct[0] <= end))
            ])
        if not predicate:
            return Kept(files, ScanReport(considered, tuple(pruned)))
        for col, op, _val in predicate:
            if op not in self._PRED_OPS:
                raise ValueError(
                    f"unknown predicate op {op!r}; use one of {self._PRED_OPS}"
                )

        # record-key point lookups: the first ``=``/``in`` conjunct on
        # the key whose operands are all strings
        keys: list | None = None
        for col, op, val in predicate:
            if col == RECORD_KEY_COL and op in ("=", "in"):
                ops = list(val) if op == "in" else [val]
                if all(isinstance(v, str) for v in ops):
                    keys = ops
                    break
        if keys and self.bucket_index:
            files = drop("bucket", files, self._bucket_hit_files(files, keys))
        if (
            keys
            and self.record_index
            and len(files) > 1
            and all(f.get("indexed") for f in files)
        ):
            files = drop(
                "record_index", files, self._index_hit_files(files, keys)
            )
        # partition-stats index pass: wholesale-dead partitions (their
        # aggregate stats prove no row can match) short-circuit the
        # per-file checks below — identical verdicts, O(partitions)
        # instead of O(files) work for selective predicates
        dead_parts: set[str] = set()
        if instant is not None:
            dead_parts = {
                pp
                for pp, pf in self._partition_stats_at(instant, tl).items()
                if not self._stats_may_match(pf, predicate)
            }

        def verdict(f: dict) -> str | None:
            """The stats layer that drops ``f``, or None."""
            if dead_parts and (f.get("partition_path") or "") in dead_parts:
                return "partition_stats"
            if not self._stats_may_match(f, predicate):
                return "col_stats"
            return None
        # index verdicts, computed ONCE per read (the per-file checks
        # below are set probes): the exact secondary index over every
        # covered file, the column bloom over the stats survivors it
        # leaves; the MOR key-disjointness guard applies before any skip
        sec_miss = self._index_misses(
            self._sec_idx, self.secondary_index_columns, files, predicate,
            lambda f, c: c in (f.get("sec_cols") or ()), [],
        )
        bloom_miss = self._index_misses(
            self._col_bloom, self.bloom_columns, files, predicate,
            lambda f, c: f["path"] not in sec_miss and verdict(f) is None,
            None,
        )

        def layer_of(f: dict) -> str | None:
            v = verdict(f)
            if v is None and f["path"] in sec_miss:
                v = "sec_index"  # stats passed, exact index decided
            elif v is None and f["path"] in bloom_miss:
                v = "col_bloom"  # stats passed, column bloom decided
            return v

        # pass 1: a verdict per file. Under the MOR merge, deltas are
        # always retained and rowless files skip (they cannot win it).
        mor = self.is_mor and not all_base
        skipped = dict.fromkeys(
            ("partition_stats", "col_stats", "sec_index", "col_bloom"), 0
        )
        candidates: list[tuple[dict, str]] = []
        retained: list[dict] = []
        for f in files:
            if mor and f.get("rows") == 0:
                skipped["col_stats"] += 1
            elif mor and f.get("kind", "base") != "base":
                retained.append(f)
            elif (v := layer_of(f)) is not None:
                candidates.append((f, v))
            else:
                retained.append(f)
        # pass 2: without the merge every candidate skips; under it a
        # candidate skips only if key-disjoint from every retained file
        # (unknown ranges are treated as overlapping)
        retained_ranges = [
            (f.get("key_min"), f.get("key_max")) for f in retained
        ]

        def overlaps_retained(f: dict) -> bool:
            kmin, kmax = f.get("key_min"), f.get("key_max")
            if kmin is None or kmax is None:
                return True  # unknown candidate key range: conservative
            for rmin, rmax in retained_ranges:
                if rmin is None or rmax is None:
                    return True  # unknown retained key range
                if not (rmax < kmin or rmin > kmax):
                    return True
            return False

        kept_paths = {f["path"] for f in retained}
        for f, v in candidates:
            if mor and overlaps_retained(f):
                kept_paths.add(f["path"])
            else:
                skipped[v] += 1
        # preserve input order (manifest order) for deterministic scans
        keep = [f for f in files if f["path"] in kept_paths]
        report = ScanReport(
            considered, tuple(pruned) + tuple(skipped.items()), len(dead_parts)
        )
        return Kept(keep, report)

    @staticmethod
    def _predicate_condition(predicate: list[tuple]):
        """The exact row filter for a predicate — applied after the scan
        (and after the MOR merge), so a predicate read returns precisely
        ``df.filter(...)`` semantics; file skipping is only ever an
        optimization on top."""
        cond = F.lit(True)
        for col, op, val in predicate:
            fn = _FN_COL.match(col)
            if fn:  # functional predicate: year(col) / date(col)
                inner = F.col(fn.group(2))
                c = F.year(inner) if fn.group(1) == "year" else F.to_date(
                    inner
                )
            else:
                c = F.col(col)
            if op == "between":
                cond = cond & (c >= F.lit(val[0])) & (c <= F.lit(val[1]))
            elif op == "in":
                cond = cond & c.isin(list(val))
            elif op == "=":
                cond = cond & (c == F.lit(val))
            elif op == "<":
                cond = cond & (c < F.lit(val))
            elif op == "<=":
                cond = cond & (c <= F.lit(val))
            elif op == ">":
                cond = cond & (c > F.lit(val))
            elif op == ">=":
                cond = cond & (c >= F.lit(val))
            else:  # unreachable after _plan_read validation; belt+braces
                raise ValueError(f"unknown predicate op {op!r}")
        return cond

    def _view_files(
        self,
        tl: list[str],
        partition_filter: dict[str, object] | None,
        as_of: str | None,
    ) -> tuple[list[dict] | None, str | None]:
        """The (files, resolved instant) a snapshot-style view of listing
        ``tl`` reads: time-travel resolution + driver-side partition
        pruning, shared by :meth:`snapshot` and the metadata-only
        aggregates. ``(None, None)`` means the as_of predates the table
        (empty view). The resolved instant names the view's schema and
        keys the partition-stats index lookup in :meth:`_plan_read`."""
        if as_of is not None:
            past = [i for i in tl if i <= as_of]
            if not past:
                # distinguish "predates the table" (empty view, by
                # contract) from "predates the ARCHIVAL horizon" (the
                # view existed — silently serving empty would corrupt
                # any consumer diffing against it)
                self._require_active_horizon(
                    as_of, tl, f"as_of {as_of!r}", point=True
                )
                return None, None
            inst = past[-1]
        else:
            inst = newest(tl)
        files = self.tl.live_files(inst, tl)
        if partition_filter:
            want = {k: str(v) for k, v in partition_filter.items()}
            files = [
                f
                for f in files
                if all(f["partition"].get(k) == v for k, v in want.items())
            ]
        return files, inst

    # ------------------------------------------------------ write planning

    def _affected_files(
        self,
        batch: DataFrame,
        tl: list[str],
        pairs: list[tuple] | None = None,
    ) -> Kept:
        """Files live at the head of listing ``tl`` that must be
        rewritten for this batch, with the planning pass's
        :class:`ScanReport`. ``pairs``: the batch's distinct non-null
        :meth:`_key_cols` tuples when the caller already collected them
        (see :meth:`_key_hit_files`).

        Two-level pruning — the engine's bloom-index analog
        (``SRC/Log2Hudi.scala:78-79``):

        1. **Partition pruning** (driver-side, manifest-only): candidate
           files are those in partitions present in the batch; under the
           global index every live file is a candidate (a key may move
           from any partition).
        2. **File targeting** (column-pruned key scan): among candidates,
           only files actually CONTAINING a batch key are rewritten — a
           semi-join of ``(_metadata.file_path, key)`` against the
           batch's distinct keys. Candidate files with no key hit are
           carried over by manifest reference, so COW write
           amplification scales with keys touched, not partition size.
           A lone candidate skips the scan layers, not every key check
           (:meth:`_lone_file_missed`).

        The result's ``no_key`` is set when the batch's key range,
        from the fused aggregate or the lone file's least-key job, is
        null: the batch is empty.
        """
        head = newest(tl)
        live = self.tl.live_files(head, tl)
        minmax = None
        if self.partition_keys and not self.global_index:
            # ONE fused aggregate (r14): partition discovery AND the
            # batch's key range in the same job — the key min/max used
            # to cost _key_hit_files a second full pass over the
            # (persisted) batch. collect_set is exact here: the stamped
            # partition path is never null (_stamp coalesces null
            # partition values to __HIVE_DEFAULT_PARTITION__).
            row = batch.agg(
                F.collect_set(F.col(PARTITION_PATH_COL)).alias("pps"),
                F.min(RECORD_KEY_COL).alias("lo"),
                F.max(RECORD_KEY_COL).alias("hi"),
            ).collect()[0]
            batch_pps = set(row["pps"])
            minmax = (row["lo"], row["hi"])
            candidates = [f for f in live if f["partition_path"] in batch_pps]
            pruned = (("partition", len(live) - len(candidates)),)
        else:
            # unpartitioned table (single "" partition) or global index
            candidates, pruned = live, ()
        if len(candidates) == 1 and pairs is None and minmax is None:
            # the batch's least key, for the lone file's check: one
            # top-1 job that also fills the persisted batch's cache (an
            # aggregate costs two jobs more)
            row = (
                batch.select(RECORD_KEY_COL)
                .orderBy(F.col(RECORD_KEY_COL).asc_nulls_last())
                .first()
            )
            minmax = (row[0] if row else None, None)
        if len(candidates) > 1:
            hits = self._key_hit_files(
                candidates, batch, minmax=minmax, pairs=pairs
            )
        elif candidates and self._lone_file_missed(
            candidates[0], minmax, pairs
        ):
            hits = Kept([], ScanReport(1, (("key_range", 1),)))
        else:
            hits = Kept(candidates, ScanReport(len(candidates)))
        return Kept(
            hits,
            ScanReport(len(live), pruned + hits.report.pruned),
            no_key=minmax is not None and minmax[0] is None,
        )

    @staticmethod
    def _lone_file_missed(f: dict, minmax, pairs) -> bool:
        """True when the batch provably holds none of ``f``'s keys, ``f``
        being the one candidate file. Collected ``pairs`` prove only an
        empty batch (the in-driver kernel rewrites a lone file its keys
        miss). Otherwise the batch's key range ``minmax`` (``hi`` None
        when only the least key is known) must meet ``f``'s."""
        if pairs is not None:
            return not pairs
        lo, hi = minmax
        if lo is None:  # no key: an empty batch
            return True
        return f.get("key_min") is not None and (
            f["key_max"] < lo or (hi is not None and f["key_min"] > hi)
        )

    @staticmethod
    def _plan_has_node(plan, names: tuple[str, ...], cap: int = 512) -> bool:
        """Walk a Catalyst logical plan (py4j TreeNode) for a node whose
        ``nodeName()`` contains any of ``names`` — e.g. "Join" matches
        both ``Join`` and any version-renamed ``*Join`` variant.
        ``cap`` bounds the walk; an over-cap plan counts as a match
        (size-estimate distrust is the SAFE direction: the probe stays
        on and the key cap still bounds its cost)."""
        queue = [plan]
        seen = 0
        while queue:
            node = queue.pop()
            seen += 1
            if seen > cap:
                return True
            nn = str(node.nodeName())
            if any(t in nn for t in names):
                return True
            kids = node.children()
            queue.extend(kids.apply(i) for i in range(kids.size()))
        return False

    def _point_probe_plausible(self, batch: DataFrame) -> bool:
        """Cheap driver-side pre-check for the capped distinct-keys
        collect below: skip the probe when ``batch``'s plan is clearly
        huge (:func:`clearly_huge`), so large batches (which would
        overflow the key cap and fall back to the Spark path anyway) no
        longer pay an extra pass per commit. Unknown or
        default-inflated estimates keep the probe — only confident
        evidence disables a fast path, so point batches from any source
        keep their r9 planning wins. ``driver_probe_max_keys=0``
        disables the probe outright."""
        if self.driver_probe_max_keys <= 0:
            return False
        try:
            plan = batch._jdf.queryExecution().optimizedPlan()
        except Exception:
            return True
        return not clearly_huge(plan, self.driver_probe_max_bytes)

    def _key_hit_files(
        self,
        candidates: list[dict],
        batch: DataFrame,
        minmax: tuple | None = None,
        pairs: list[tuple] | None = None,
    ) -> Kept:
        """File targeting: range-prune candidates against the manifest's
        per-file key stats (driver-side, no I/O), then scan the
        survivors' key columns and keep files holding a batch key.
        Returns the hit files with the pass's :class:`ScanReport`.
        ``pairs``, the batch's distinct non-null join pairs a caller
        already collected, stand in for the capped collect below; more
        than ``driver_probe_max_keys`` of them plan as a batch too large
        to collect does, with their key range as ``minmax``.

        With ``bloom_index``, range-prune survivors are additionally
        probed against their per-file key blooms (lake/bloom.py) —
        the pruning path for RANDOM keys where min/max covers the whole
        key space. With ``record_index`` and full index coverage of the
        candidates, the persistent key→file index is probed instead —
        the candidate set comes from a join against the (narrow) index
        table, and no data file's key column is scanned at all."""
        considered, pruned = len(candidates), []

        def drop(layer: str, before: list[dict], kept: list[dict]) -> Kept:
            pruned.append((layer, len(before) - len(kept)))
            return Kept(kept, ScanReport(considered, tuple(pruned)))

        join_cols = self._key_cols()
        key_schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in join_cols]
        )
        # ONE capped collect of the batch's distinct join pairs turns
        # every probe below into driver-side arithmetic for point-sized
        # batches (bucket ids and index shards via the XXH64 twin,
        # min/max and bloom positions in Python, the exact key scan as
        # pyarrow seeks) — the planning analog of the read-side fast
        # path. Oversized batches leave ``pairs`` None and take the
        # original Spark jobs; the collect then cost one extra
        # partial-agg pass over the (persisted) batch. Null-key pairs
        # are dropped to match join semantics (null matches nothing).
        if pairs is not None and len(pairs) > self.driver_probe_max_keys:
            # the Spark layers below, but the key range is in hand
            minmax = min(p[-1] for p in pairs), max(p[-1] for p in pairs)
            pairs = None
        elif pairs is None and self._point_probe_plausible(batch):
            rows = (
                batch.select(*join_cols)
                .distinct()
                .limit(self.driver_probe_max_keys + 1)
                .collect()
            )
            if len(rows) <= self.driver_probe_max_keys:
                pairs = [
                    t
                    for r in rows
                    if None not in (t := tuple(r[c] for c in join_cols))
                ]
        keys = sorted({p[-1] for p in pairs}) if pairs is not None else None
        # the batch's keys for the key layers: the collected list, else
        # the key column of the batch frame
        key_src = keys if keys is not None else batch.select(RECORD_KEY_COL)
        if self.bucket_index and len(candidates) > 1:
            candidates = drop(
                "bucket", candidates,
                self._bucket_hit_files(candidates, key_src),
            )
            if not candidates:
                return candidates
        if self.record_index and candidates and all(
            f.get("indexed") for f in candidates
        ):
            return drop(
                "record_index", candidates,
                self._index_hit_files(candidates, key_src),
            )
        if keys is not None:
            lo, hi = (keys[0], keys[-1]) if keys else (None, None)
        elif minmax is not None:
            # pre-fused by _affected_files' partition-discovery agg —
            # no second pass over the batch
            lo, hi = minmax
        else:
            lo, hi = (
                batch.agg(
                    F.min(RECORD_KEY_COL), F.max(RECORD_KEY_COL)
                ).collect()[0]
            )
        if lo is not None:
            candidates = drop("key_range", candidates, [
                f
                for f in candidates
                if f.get("key_min") is None
                or not (f["key_max"] < lo or f["key_min"] > hi)
            ])
            if not candidates:
                return candidates
        if self.bloom_index and len(candidates) > 1:
            hit = self._key_bloom.probe(candidates, key_src)
            candidates = drop(
                "key_bloom", candidates,
                [f for f in candidates if f["path"] in hit],
            )
            if not candidates:
                return candidates
        internal_c = [f for f in candidates if not os.path.isabs(f["path"])]
        external_c = [f for f in candidates if os.path.isabs(f["path"])]
        if pairs is not None and not external_c and self.driver_io_local:
            sizes = [f.get("bytes") for f in internal_c]
            if all(isinstance(s, int) for s in sizes) and sum(
                sizes
            ) <= self.driver_probe_max_bytes:
                # exact scan as pyarrow seeks: small survivors × small
                # batch — read only the join columns of each candidate.
                # Vectorized per-column is_in narrows first (Arrow C++,
                # no per-row Python); the exact tuple check then runs
                # only on the surviving rows (composite keys: the
                # per-column masks are a superset of the tuple match).
                import pyarrow as pa
                import pyarrow.compute as pc

                if not pairs:
                    # no non-null batch keys ⇒ no key hits
                    return drop("key_scan", candidates, [])
                want = set(pairs)
                per_col = [
                    pa.array(sorted({p[i] for p in pairs}))
                    for i in range(len(join_cols))
                ]
                kept = []
                for f in internal_c:
                    tbl = pa_pq.read_table(
                        os.path.join(self.path, f["path"]),
                        columns=join_cols,
                    )
                    mask = None
                    for c, vs in zip(join_cols, per_col):
                        m = pc.is_in(tbl.column(c), value_set=vs)
                        mask = m if mask is None else pc.and_(mask, m)
                    sub = tbl.filter(mask)
                    if sub.num_rows and (
                        len(join_cols) == 1
                        or any(
                            t in want
                            for t in zip(
                                *[
                                    sub.column(c).to_pylist()
                                    for c in join_cols
                                ]
                            )
                        )
                    ):
                        kept.append(f)
                return drop("key_scan", candidates, kept)
        scans = []
        if internal_c:
            scans.append(
                self._read_files(
                    [f["path"] for f in internal_c], key_schema
                ).select(
                    F.col("_metadata.file_path").alias("_fp"), *join_cols
                )
            )
        if external_c:
            # adopted files: _metadata captured inside the branch (it
            # does not resolve through the stamp union — see
            # _read_external)
            scans.append(
                self._read_external(
                    [f["path"] for f in external_c],
                    key_schema,
                    join_cols=join_cols,
                )
            )
        scan = scans[0]
        for s in scans[1:]:
            scan = scan.unionByName(s)
        if pairs is not None:
            # pairs already collected: broadcast them back instead of
            # re-shuffling the batch's distinct (externals / big files)
            probe = F.broadcast(
                self.spark.createDataFrame(
                    pairs, ", ".join(f"{c} string" for c in join_cols)
                )
            )
        else:
            probe = batch.select(*join_cols).distinct()
        hits = (
            scan.join(probe, join_cols, "left_semi")
            .select("_fp")
            .distinct()
            .collect()
        )
        # _metadata.file_path is an absolute, percent-encoded URI;
        # manifest paths are table-relative — unquote and compare on the
        # filesystem path
        hit_paths = {
            unquote(urlparse(r[0]).path)
            if "://" in r[0] or r[0].startswith("file:")
            else r[0]
            for r in hits
        }
        return drop("key_scan", candidates, [
            f
            for f in candidates
            if os.path.abspath(os.path.join(self.path, f["path"])) in hit_paths
        ])

    def _bucket_hit_files(
        self, files: list[dict], keys: list[str] | DataFrame
    ) -> list[dict]:
        """The bucket-index layer, shared by predicate reads and write
        planning: ``keys`` (literal keys, or a frame with the record
        key column) map to bucket ids and ``files`` shrink to the hit
        buckets' files — no index table, no bloom I/O, no key scan.
        Literal keys take the Python XXH64 twin (parity pinned,
        tests/test_xxh.py); a key frame costs one tiny agg job (≤ n
        ints to the driver). Files with no bucket stamp, or stamped
        under a DIFFERENT bucket count (pre-bucketing vintage, adopted
        externals, a resized table), are kept unconditionally: a key
        can only be guaranteed absent from a file that was provably
        written under the CURRENT modulus."""
        n = self.bucket_index
        if not any(
            f.get("bucket") is not None and f.get("bucket_n") == n
            for f in files
        ):
            return files
        if isinstance(keys, DataFrame):
            buckets = {
                r[0]
                for r in keys.select(self._bucket_expr().alias("b"))
                .distinct()
                .collect()
            }
        else:
            buckets = {xxh_shard(k, n) for k in set(keys)}
        return [
            f
            for f in files
            if f.get("bucket") is None
            or f.get("bucket_n") != n
            or f["bucket"] in buckets
        ]

    #: driver-probe gates: a probe whose DISTINCT operand keys fit
    #: under ``max_keys`` AND whose matched shard files total under
    #: ``max_bytes`` is served driver-side (pure pyarrow seeks, zero
    #: Spark jobs — the Hudi HFile-seek analog for point lookups);
    #: anything bigger takes the Spark path (``lake/index.py``). Class
    #: attrs so tests can force either path.
    driver_probe_max_keys = 1024
    driver_probe_max_bytes = 32 << 20

    def _index_hit_files(
        self, files: list[dict], keys: list[str] | DataFrame
    ) -> list[dict]:
        """The record-index layer, shared by predicate reads and write
        planning: probe the persistent key→file index for ``keys``
        (literal keys, or a frame with the record key column) and keep
        exactly the files it maps a key to. Exact: every indexed file's
        keys were written to its commit's index shard at publish, so a
        no-hit file provably holds no key, and stale entries (replaced
        files) drop out because the result is intersected with
        ``files``. Callers require full coverage (every file
        ``indexed``). Only the keys' shard dirs of each file's creating
        instant are read, so I/O scales with keys, not index size:
        literal keys probe driver-side with zero Spark jobs while the
        matched shard bytes fit the gate; a key frame joins its
        distinct keys in one Spark scan."""
        hit = self._record_idx.probe(
            files,
            keys.distinct() if isinstance(keys, DataFrame)
            else sorted(set(keys)),
        )
        return [f for f in files if f["path"] in hit]

    @staticmethod
    def _bloom_operand(v, col_type: str | None) -> str | None:
        """Canonical string form of a predicate operand, EXACTLY as
        Spark's ``cast("string")`` rendered the COLUMN's values at
        index-build time — or None when that form can't be reproduced
        with certainty, in which case the probe keeps the file.

        The gate is the pairing of (stored column type, operand type),
        not the operand type alone: an ``int`` operand ``1000`` probed
        against a ``double`` column (stored as ``"1000.0"``) or a
        ``str`` operand against a numeric column hashes a different
        canonical form than the build side, and the row filter
        (``F.col == F.lit`` with type coercion) WOULD match — pruning
        there silently drops rows. Only pairings that provably render
        identically pass: str↔string, int↔integral, bool↔boolean.
        Unknown/absent column type ⇒ None (conservative keep)."""
        if v is None or col_type is None:
            return None
        if isinstance(v, bool):  # before int: bool is an int subclass
            return ("true" if v else "false") if col_type == "boolean" else None
        if isinstance(v, str):
            return v if col_type == "string" else None
        if isinstance(v, int):
            return str(v) if col_type in _BLOOM_INTEGRAL_TYPES else None
        return None

    # ------------------------------- exact secondary index (non-key cols)

    def _col_types(self, instant: str) -> dict | None:
        """{col: simple type name} of ``instant``'s schema — the schema
        the index builds' ``cast("string")`` ran under — lazily cached;
        None when the manifest is unreadable."""
        if instant not in self._col_type_cache:
            try:
                schema = self.tl.manifest_any(instant)["schema"]
                self._col_type_cache[instant] = {
                    fld.name: fld.dataType.simpleString()
                    for fld in T.StructType.fromJson(schema).fields
                }
            except (FileNotFoundError, KeyError, ValueError):
                self._col_type_cache[instant] = None
        return self._col_type_cache[instant]

    def _index_misses(
        self,
        idx: ValueIndex | Bloom,
        cols: list[str],
        files: list[dict],
        predicate: list[tuple],
        covered: Callable[[dict, str], bool],
        absent: list | None,
    ) -> set[str]:
        """Paths of ``files`` that ``idx`` (the secondary index or the
        column bloom) PROVES hold no operand value for some ``=``/``in``
        conjunct on one of ``cols`` — the definite-miss sets
        :meth:`_plan_read` feeds into one verdict pipeline (so the MOR
        key-disjointness guard applies before any skip).

        Per conjunct, the ``covered`` files are probed with each
        instant's operands canonicalized under ITS stored column type
        (:meth:`_bloom_operand`); an unknown schema or an
        un-reproducible pairing keeps the instant's files, and a column
        absent from the instant's schema probes ``absent`` (``[]``: its
        files hold only NULL, a definite miss; None: keep)."""
        misses: set[str] = set()
        for col, op, val in predicate:
            if op not in ("=", "in") or col not in cols:
                continue
            fl = [f for f in files if covered(f, col)]
            if not fl:
                continue
            operands = list(val) if op == "in" else [val]

            def canon(inst: str, col=col, operands=operands):
                types = self._col_types(inst)
                if types is None:
                    return None
                if col not in types:
                    return absent
                forms = [self._bloom_operand(v, types[col]) for v in operands]
                return None if None in forms else forms

            kept = idx.probe(fl, operands, col=col, canon=canon)
            misses |= {f["path"] for f in fl if f["path"] not in kept}
        return misses


def clearly_huge(plan, max_bytes: int) -> bool:
    """The one "clearly huge" rule of the driver collects (the
    distinct-keys probe, :meth:`FilePlanner._point_probe_plausible`, and
    the kernel collect, ``lake/fold.py``): optimized Catalyst ``plan``
    (py4j) has a sane, known size estimate above ``8 * max_bytes``
    that no node could have shrunk. Without CBO, Filter/Join/Aggregate
    nodes pass the CHILD's size through unchanged — a 1-row point batch
    filtered out of a 300 MB source estimates 300 MB — so such an
    estimate is an upper bound, not evidence (r10 self-review finding).
    Detection walks the tree's ``nodeName()`` (derived from the
    operator CLASS name, stable across Spark's string-rendering
    changes; ``tests/test_write_fastpath.py`` pins the names against
    the running Spark). ``1 << 61`` guards the Long.MaxValue "unknown"
    default and inflated garbage. A plan whose estimate cannot be read
    is not clearly huge."""
    try:
        size = int(str(plan.stats().sizeInBytes()))
        shrinkable = FilePlanner._plan_has_node(
            plan, ("Filter", "Join", "Aggregate")
        )
    except Exception:
        return False
    return not shrinkable and 0 < size < (1 << 61) and size > 8 * max_bytes
