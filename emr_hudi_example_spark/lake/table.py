"""``LakeTable`` — the engine's lakehouse kernel.

Re-implements, PySpark-first with zero Hudi dependency, the table-format
semantics the reference delegates to Apache Hudi (SURVEY.md §1.1, §2.2 K1):

- **Keyed rows**: composite record key (``ComplexKeyGenerator``,
  reference ``SRC/package.scala:52``), precombine/version column where the
  larger value wins (``DefaultHoodieRecordPayload``,
  ``SRC/package.scala:25,35``), hive-style partition path
  (``SRC/package.scala:51-56``).
- **Write ops** (``SRC/package.scala:15-81`` option map): ``insert``
  (append, no key merge — Hudi's insert op, ``SRC/util/HudiConfig.scala:28``),
  ``upsert`` (copy-on-write rewrite of affected partitions with
  larger-precombine-wins merge), ``delete`` (anti-join on key).
- **Meta columns**: ``_commit_time`` / ``_record_key`` /
  ``_partition_path`` — the engine's analog of the five ``_hoodie_*``
  columns the reference reads (``SRC/ODS2DWD.scala:34``) and strips
  (``SRC/package.scala:166-168``).
- **Commit timeline**: totally ordered ``yyyyMMddHHmmssSSS`` instants
  (format at ``SRC/ODS2DWD.scala:16``); **snapshot**, **incremental**
  (``(begin, end]`` by commit time — ``SRC/ODS2DWD.scala:51-56``) and
  **read-optimized** (= snapshot for a COW table, ``SRC/MSK2Hudi.scala:5``)
  reads.
- **Global index mode** (``GLOBAL_BLOOM`` +
  ``bloom.index.update.partition.path=true``, ``SRC/Log2Hudi.scala:78-79``):
  a key arriving with a new partition value MOVES the record; default mode
  scopes key uniqueness per partition (plain bloom index).
- **Cleaner / archival**: retain the files of the last N commits
  (``SRC/package.scala:26-30``).

Storage layout::

    base_path/db/table/
      _commits/<instant>.json      # manifest (log entry: added/replaced
                                   # DELTAS only); writing it IS the commit
      _commits/_ckpt/<instant>.json  # periodic full live-file checkpoint
      data/<instant>/__pt_<col>=<val>/part-*.parquet

Design notes (100 TB):

- The *manifest log is the file index* (Iceberg-style log + checkpoint):
  each commit's manifest records only its ``added``/``replaced`` delta;
  every ``manifest_checkpoint_interval`` commits the full live-file list
  is checkpointed under ``_commits/_ckpt/``. Readers materialize the
  live set from the newest checkpoint plus the ≤ interval manifests
  after it — O(delta), never O(commits) — and an in-session cache rolls
  forward incrementally across commits. Partition / commit-range pruning
  happens driver-side on that file index before any scan — the analog of
  Hudi's timeline+file-index. Parquet row-group stats then prune further
  inside files.
- Partition values are **duplicated** into ``__pt_<col>`` directory
  columns purely for layout; the real columns stay in the data files, so
  readers never depend on directory-schema inference and explicit
  file-list reads keep full column/filter pushdown.
- COW upsert reads and rewrites **only the partitions present in the
  batch** (or, under the global index, partitions holding matching keys —
  found with a key-column-only scan, i.e. a column-pruned semi-join, the
  engine's bloom-index analog). Untouched partitions are carried over by
  manifest reference — zero data movement.
- The commit point is the atomic rename-free write of one small JSON
  manifest; a crashed write leaves invisible orphan data files that the
  cleaner removes. Single-writer by design (the reference's ZK-lock OCC
  is out of scope, SURVEY.md §4).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pyarrow.parquet as pa_pq

from emr_hudi_example_spark.functions.core import now_instant, pk_not_null_condition
from emr_hudi_example_spark.lake import bloom as bloom_mod
from emr_hudi_example_spark.lake.index import (
    ValueIndex,
    creating_instant,
    driver_buildable,
)
from emr_hudi_example_spark.lake.locks import FileLockProvider, LockProvider
from emr_hudi_example_spark.lake.xxh import shard_of as xxh_shard

COMMIT_TIME_COL = "_commit_time"
RECORD_KEY_COL = "_record_key"
PARTITION_PATH_COL = "_partition_path"
#: MOR tombstone marker (delete delta records); never present in COW files
DELETED_COL = "_deleted"
META_COLS = [COMMIT_TIME_COL, RECORD_KEY_COL, PARTITION_PATH_COL]
#: explicit key-only read schema for the key sidecar builds: the creating
#: commit indexes before its own manifest exists, so the stored schema
#: isn't readable yet — and those builds never need more than the key
_KEY_SCHEMA = T.StructType([T.StructField(RECORD_KEY_COL, T.StringType())])

_PT_PREFIX = "__pt_"


def _empty_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Schema-typed EMPTY DataFrame as a LOCAL relation: Catalyst's
    empty-relation propagation folds it, so downstream actions cost no
    real job. ``createDataFrame([], schema)`` instead builds a
    LogicalRDD whose every action schedules a full round of empty
    parallelize tasks (~0.4 s per count on local[32]) — the
    fully-index-pruned point-read shape paid that on every miss (r10
    100× legs). Columns come back nullable; no engine path depends on
    nullability."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


class ConcurrentWriteConflict(RuntimeError):
    """Optimistic commit aborted: a concurrent commit invalidated this
    writer's read set, or out-ran its instant. The write published
    NOTHING; retry re-runs the merge against fresh table state (the
    data files it did write are orphans for the lazy cleaner, exactly
    like any failed write)."""

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


def reference_table_type(partition_keys: list[str] | None) -> str:
    """The reference's dynamic storage-type rule
    (``SRC/package.scala:176``, ``SRC/MSK2Hudi.scala:42``,
    ``SRC/Hive2Hudi.scala:32``): COPY_ON_WRITE when unpartitioned,
    MERGE_ON_READ when partitioned."""
    return "MERGE_ON_READ" if partition_keys else "COPY_ON_WRITE"


class LakeTable:
    """One lakehouse table. See module docstring for semantics.

    Parameters mirror the reference's writer options
    (``SRC/package.scala:49-56``): ``record_keys`` = recordkey.field,
    ``precombine`` = precombine.field, ``partition_keys`` =
    partitionpath.field, ``global_index`` = GLOBAL_BLOOM with
    partition-path update.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        db: str,
        table: str,
        record_keys: list[str],
        precombine: str,
        partition_keys: list[str] | None = None,
        global_index: bool = False,
        table_type: str = "COPY_ON_WRITE",
        inline_compact_deltas: int | None = None,
        record_index: bool = False,
        index_shards: int = 64,
        lock_provider: LockProvider | None = None,
        manifest_checkpoint_interval: int | None = 10,
        stats_columns: list[str] | None = None,
        bloom_index: bool = False,
        bloom_bits: int = bloom_mod.DEFAULT_NBITS,
        bloom_hashes: int = bloom_mod.DEFAULT_HASHES,
        bloom_columns: list[str] | None = None,
        col_bloom_bits: int = 1 << 17,
        col_bloom_hashes: int = 5,
        bucket_index: int | None = None,
        payload: str = "default",
        secondary_index_columns: list[str] | None = None,
    ) -> None:
        if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise ValueError(f"unknown table type: {table_type}")
        if payload not in ("default", "partial_update"):
            raise ValueError(f"unknown payload: {payload}")
        # partial_update works on BOTH table types (r8 verdict #6): COW
        # folds at write (:meth:`_merge`), MOR folds at read/compact
        # (:meth:`_merged_read`) — the read-time tombstone filter gives
        # MOR the same can't-inherit-through-a-delete guarantee COW
        # gets from eager delete materialization.
        self.spark = spark
        #: the driver fast paths (pyarrow seeks into data/index files,
        #: driver-side sidecar builds) assume ``base_path`` is a
        #: POSIX-local directory. On an object-store/remote URI
        #: (s3://, s3a://, hdfs://, …) they must disable themselves so
        #: the Spark route — which resolves the scheme through Hadoop
        #: FileSystem — remains the only path (r9 verdict watch item).
        #: A one-char scheme is a Windows drive letter, still local.
        #: ``file://`` IS local — but the scheme must be STRIPPED, or
        #: every os-path operation (manifest open, os.walk) would
        #: resolve a relative "file:/…" path and silently see an empty
        #: table (r10 self-review finding). Only strip when the netloc
        #: is empty or localhost: ``file://server/share`` names a REMOTE
        #: share that NO route can serve — the driver paths would read
        #: local "/share", and Hadoop's LocalFileSystem either drops the
        #: authority (same silent wrong-directory read) or throws
        #: "Wrong FS" mid-job — so it is rejected at construction
        #: instead of merely de-gated (r10 ADVICE + r11 self-review).
        _parsed = urlparse(str(base_path))
        _scheme = _parsed.scheme
        if _scheme == "file":
            if _parsed.netloc not in ("", "localhost"):
                raise ValueError(
                    f"file:// base_path with remote authority "
                    f"{_parsed.netloc!r} is unsupported: neither the "
                    "driver fast paths nor Hadoop's local filesystem "
                    "can address a remote file share — mount it and "
                    "pass the mount point, or use a real remote scheme"
                )
            base_path = unquote(_parsed.path)
            _scheme = ""
        self.driver_io_local = _scheme == "" or len(_scheme) == 1
        self.path = os.path.join(base_path, db, table)
        self.db = db
        self.table = table
        self.record_keys = list(record_keys)
        self.precombine = precombine
        self.partition_keys = list(partition_keys or [])
        self.global_index = global_index
        #: merge payload class (Hudi analog): "default" =
        #: DefaultHoodieRecordPayload (larger precombine wins the whole
        #: row); "partial_update" = PartialUpdateAvroPayload (per
        #: COLUMN, the newest non-null version wins — null incoming
        #: fields inherit stored values, so producers can send sparse
        #: column patches). COW folds at write (:meth:`_merge`), MOR at
        #: read/compact (:meth:`_merged_read`).
        self.payload = payload
        #: COW rewrites key-hit files per upsert; MOR appends delta files
        #: and merges at read (the reference picks MOR for partitioned
        #: tables, SRC/package.scala:176, SRC/MSK2Hudi.scala:42).
        self.table_type = table_type
        #: MOR inline compaction every N delta commits — the reference's
        #: ``inlineMax`` knob (default 20, SRC/conf/Config.scala:24).
        self.inline_compact_deltas = inline_compact_deltas
        self.commits_dir = os.path.join(self.path, "_commits")
        self.data_dir = os.path.join(self.path, "data")
        #: observability: candidates dropped by key-range pruning in the
        #: most recent upsert/delete planning pass
        self.last_range_pruned = 0
        #: column-stats data skipping (Hudi 0.11 metadata-table column
        #: stats analog, the reference's engine dependency pom.xml:104):
        #: per-file parquet-FOOTER min/max are harvested for these
        #: columns at write time and stored in the manifest, so
        #: snapshot()/incremental()/read_optimized() with a `predicate`
        #: can skip whole files driver-side — at 100 TB the difference
        #: between touching one file and scanning a partition. Supported
        #: stat types: int/float/string/date/timestamp (Decimal columns
        #: are skipped — lossless JSON round-trip isn't guaranteed).
        self.stats_columns = list(stats_columns or [])
        #: observability: files skipped by column-stats pruning in the
        #: most recent predicate read
        self.last_files_skipped = 0
        #: observability: partitions wholesale-pruned by the
        #: partition-stats index in the most recent predicate read
        self.last_partitions_pruned = 0
        #: how long a writer waits on a held lock before failing (0 =
        #: fail fast); live contention (async compactor vs ingest) waits,
        #: stale locks from crashed writers still surface as errors
        self.lock_wait_seconds: float = 30.0
        #: persistent record-level index (the Hudi metadata-table
        #: record-index analog): each commit also writes a
        #: (_record_key → file) parquet under _index/, and global-index
        #: write planning probes IT instead of scanning the key column
        #: of every live file — the 100 TB path, where "every live file
        #: is a candidate" stops being scannable. Enable from table
        #: creation; planning falls back to the key scan automatically
        #: whenever any live file predates the index.
        self.record_index = record_index
        #: key-hash shards per record-index commit dir (Hudi's
        #: ``record.index.*`` file-group sharding analog): probes touch
        #: only the operand keys' shard dirs, so point-lookup index I/O
        #: is ~1/shards of the index regardless of table size. Probes
        #: read each commit dir's ACTUAL layout, so resizing between
        #: commits is safe (mixed shard counts coexist per instant).
        self.index_shards = index_shards
        self.index_dir = os.path.join(self.path, "_index")
        self._record_idx = ValueIndex(self, self.index_dir, "key", False)
        #: per-file bloom-filter key index (Hudi's default BLOOM index
        #: analog — the index family the reference configures,
        #: ``SRC/Log2Hudi.scala:78-79``). Prunes upsert/delete candidate
        #: files whose bloom definitely excludes every batch key — the
        #: RANDOM-key workload (UUIDs, content hashes) where min/max
        #: range stats prune nothing. Cheaper than the record index
        #: (fixed bytes per FILE, not a row per RECORD); false positives
        #: only cost a redundant exact key scan, never a wrong result.
        #: Geometry is table-wide — see lake/bloom.py for sizing.
        self.bloom_index = bloom_index
        self.bloom_bits = bloom_bits
        self.bloom_hashes = bloom_hashes
        self.bloom_dir = os.path.join(self.path, "_bloom")
        #: observability: candidates dropped by the bloom probe in the
        #: most recent upsert/delete planning pass
        self.last_bloom_pruned = 0
        #: lazy per-instant sidecar cache: instant -> {rel_path: b64}
        self._bloom_sidecars: dict[str, dict] = {}
        #: SECONDARY bloom index on non-key columns (the Hudi
        #: metadata-table bloom-filter partition generalized beyond the
        #: record key): per added file, one bloom over each listed
        #: column's distinct non-null values (canonical STRING forms),
        #: persisted in a self-describing sidecar
        #: ``_bloom_cols/<instant>.json``. Predicate reads
        #: (``snapshot(predicate=...)`` etc.) probe it for ``=``/``in``
        #: conditions — the high-cardinality-column workload (request
        #: ids, session keys, emails) where every file spans the full
        #: value range and min/max stats prune NOTHING. ``=`` / ``in``
        #: never match NULL rows, so bloom pruning is exact; false
        #: positives only cost reading a file the filter then empties.
        #: Geometry is per-SIDECAR (stored in the JSON), so resizing
        #: the config never invalidates already-written blooms. Default
        #: 2^17 bits (16 KiB/file/column) / 5 hashes: FPR ~2% at 16k
        #: distinct values per file.
        self.bloom_columns = list(bloom_columns or [])
        self.col_bloom_bits = col_bloom_bits
        self.col_bloom_hashes = col_bloom_hashes
        self.col_bloom_dir = os.path.join(self.path, "_bloom_cols")
        #: observability: files skipped in the most recent predicate
        #: read where the COLUMN bloom (not min/max stats) was the
        #: decider — a subset of ``last_files_skipped``
        self.last_col_bloom_pruned = 0
        #: lazy per-instant sidecar cache:
        #: instant -> {"nbits", "k", "files": {rel_path: {col: bloom}}}
        #: (bloom values decoded lazily from b64 to unpacked bit arrays)
        self._col_bloom_sidecars: dict[str, dict] = {}
        self._col_bloom_type_cache: dict[str, dict] = {}
        #: EXACT secondary index on non-key columns (Hudi 1.0's
        #: secondary index, RFC-52 analog — the exact sibling of the
        #: column blooms above): per commit, the DISTINCT (canonical
        #: string value, file) pairs of each listed column land under
        #: ``_index_sec/<instant>/col=<c>/shard=<pmod(xxhash64(val),
        #: index_shards)>/``. Predicate reads probe it for ``=``/``in``
        #: conditions and drop covered files the index maps NO operand
        #: value to — exact (zero false positives), so unlike the bloom
        #: it also serves needle-free scans at zero data I/O. Coverage
        #: is per (file, column): the indexed column LIST is stamped
        #: into each manifest entry (``sec_cols``, like the bucket
        #: index's ``bucket_n``), so growing the config never
        #: mis-prunes files written under the old list. Operand
        #: canonicalization shares the column-bloom gate
        #: (:meth:`_bloom_operand`): only (stored type, operand type)
        #: pairings that provably render identically probe; anything
        #: else keeps the file.
        self.secondary_index_columns = list(secondary_index_columns or [])
        # The sidecar layout uses the column NAME as a hive-style
        # partition value (``col=<name>/shard=<s>``). Spark's partition
        # writer escapes special chars (escapePathName: ':', '=', '%',
        # '#', …) while the probe joins the RAW name — a mismatch would
        # make every covered file a silent definite miss. Reject such
        # names up front instead of guessing both escapings stay in
        # sync (same character class as the driver-build gate).
        bad = [
            c
            for c in self.secondary_index_columns
            if not re.fullmatch(r"[A-Za-z0-9_]+", c or "")
        ]
        if bad:
            raise ValueError(
                "secondary_index_columns must match [A-Za-z0-9_]+ "
                f"(hive partition-dir safety); rejected: {bad!r}"
            )
        self.sec_index_dir = os.path.join(self.path, "_index_sec")
        self._sec_idx = ValueIndex(self, self.sec_index_dir, "val", True)
        #: observability: files skipped where the secondary index (not
        #: stats / blooms) was the decider in the most recent predicate
        #: read
        self.last_sec_index_pruned = 0
        #: instant -> {col: simple type} for the secondary-indexed
        #: columns (the schema the index build's cast("string") ran
        #: under); instant-keyed ⇒ cleared on restore
        self._sec_type_cache: dict[str, dict] = {}
        #: immutable-manifest cache (see :meth:`_manifest`); cleared on
        #: :meth:`restore`, the one operation that can re-allocate an
        #: instant id
        self._manifest_mem: dict[str, dict] = {}
        #: instant → per-partition key envelope for publish conflict
        #: checks (see :meth:`_commit_summary`); instant-keyed, so
        #: cleared on restore with the other caches
        self._commit_summary_cache: dict[str, dict] = {}
        #: BUCKET index (Hudi's ``hoodie.index.type=BUCKET`` simple
        #: bucket engine): data files are written per
        #: ``pmod(xxhash64(record_key), n)`` bucket (one shuffle task →
        #: one file per bucket per commit) and upsert/delete planning
        #: maps the batch's keys to buckets — the candidate set is the
        #: hit buckets' files, located with ZERO index storage, no
        #: probe I/O and no per-record state, at any table size. The
        #: trade (exactly Hudi's): bucket count is fixed per file — it
        #: is stamped into each manifest entry (``bucket``/
        #: ``bucket_n``), and files written under a DIFFERENT n are
        #: always candidates (conservative), so resizing converges by
        #: rewrite instead of corrupting planning. Point-lookup reads
        #: (``predicate`` ``=``/``in`` on the record key) prune by
        #: bucket too. Size n for ~1 GB per bucket per commit: every
        #: commit (and every compaction fold) shuffles into n tasks.
        self.bucket_index = bucket_index
        #: observability: candidates dropped by bucket targeting in the
        #: most recent upsert/delete planning pass
        self.last_bucket_pruned = 0
        #: observability: files dropped by record-key bucket pruning in
        #: the most recent predicate read
        self.last_bucket_read_pruned = 0
        #: files dropped by the read-side record-index probe
        #: (:meth:`_record_prune_reads`) in the most recent predicate
        #: read
        self.last_record_read_pruned = 0
        #: OCC seam (SRC/package.scala:38-47 parity): default is the
        #: single-host O_EXCL file lock; a multi-host deployment plugs
        #: in a coordination-service provider here (see lake/locks.py)
        self.lock_provider: LockProvider = (
            lock_provider or FileLockProvider(self.path)
        )
        self._pending_checkpoint: dict | None = None
        #: streaming source offsets armed by OffsetCommitListener —
        #: embedded in the next manifest (see record_stream_offsets).
        #: The lock makes the writer's read-and-clear atomic against
        #: the LISTENER thread's writes (Spark delivers progress events
        #: on its own thread; an unguarded read→clear could discard a
        #: payload written in between — r13 review)
        self._pending_offsets: dict | None = None
        self._offsets_lock = threading.Lock()
        #: full live-file checkpoint every N commits (the Iceberg-style
        #: log+checkpoint evolution of the manifest); None/0 disables —
        #: then the live set replays the whole manifest log (legacy mode)
        self.manifest_checkpoint_interval = manifest_checkpoint_interval
        self.ckpt_dir = os.path.join(self.commits_dir, "_ckpt")
        #: in-session live-file cache: (instant, files) — rolled forward
        #: incrementally per commit so repeated planning is O(delta)
        self._live_cache: tuple[str, list[dict]] | None = None
        #: instant → per-partition stats aggregate (see
        #: :meth:`_partition_stats_at`); live sets are immutable per
        #: instant so entries never go stale — only :meth:`restore`
        #: (which re-allocates instant ids) clears it
        self._pstats_cache: dict[str, dict[str, dict]] = {}
        #: lock-free writers (optimistic publish, async compaction fold)
        #: drop a marker under ``_commits/.inflight/`` before writing
        #: data files so a concurrent ``clean()`` never reaps an
        #: in-flight commit's files as orphans (Hudi's heartbeat file
        #: analog). Markers older than this TTL are treated as crashed
        #: writers: clean() removes the marker and reclaims the files; a
        #: writer that out-lives its own marker is still SAFE because
        #: the publish critical section re-verifies every added file
        #: exists and aborts with :class:`ConcurrentWriteConflict`.
        self.inflight_ttl_seconds: float = 900.0
        self.inflight_dir = os.path.join(self.commits_dir, ".inflight")
        #: instant → (stop-Event, Thread) of its live heartbeat (see
        #: :meth:`_mark_inflight`; the Thread is joined at clear so a
        #: last beat can't resurrect the marker after the unlink);
        #: crashed writers leave no entry — their markers go stale
        #: exactly as before
        self._inflight_heartbeats: dict[str, tuple] = {}
        #: instants cleared against the zombie fences (see
        #: :meth:`_zombie_instants`) — clean verdicts are immutable
        self._fence_ok: set[str] = set()
        #: lazy cache of ``_external/bases.json`` (metadata-only
        #: bootstrap registry; see :meth:`bootstrap_metadata_only`)
        self._external_cache: list[dict] | None = None

    @property
    def is_mor(self) -> bool:
        return self.table_type == "MERGE_ON_READ"

    # ------------------------------------------------------------ timeline

    def timeline(self) -> list[str]:
        """Committed instants, ascending (the commit timeline). On a
        table that has seen a lease takeover, manifests published by a
        superseded (fenced) writer are excluded — see
        :meth:`_zombie_instants`."""
        if not os.path.isdir(self.commits_dir):
            return []
        names = sorted(
            f[: -len(".json")]
            for f in os.listdir(self.commits_dir)
            if f.endswith(".json")
        )
        zombies = self._zombie_instants(names)
        if zombies:
            names = [i for i in names if i not in zombies]
        return names

    def _zombie_instants(self, instants: list[str]) -> set[str]:
        """Instants published by a fenced (superseded) lease holder.

        ``LeaseLockProvider`` records a fence ``{token, timeline_head}``
        as ``_lease/fence-<token>.json`` when it takes over an expired lease
        (``locks.py:_record_fence``). A manifest whose ``fence_token``
        is older than a fence's token AND whose instant was not in that
        fence's timeline snapshot can only be the superseded writer's
        late rename (paused between its commit-point ``validate()`` and
        the ``os.replace``): mutual exclusion means the old holder was
        the only writer up to the takeover, so every legitimate
        old-token instant is ≤ the snapshot head. Zero cost on tables
        that never had a takeover (one negative ``open`` per listing);
        instants once judged clean are cached, zombie verdicts are
        re-checked so a later legitimate writer reusing the instant
        name (millisecond collision after the zombie was excluded from
        ``_next_instant``'s view) is picked up."""
        fences = self._fences()
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
                token = self._manifest(inst).get("fence_token")
            except (FileNotFoundError, ValueError):
                continue  # mid-rename/torn read: keep, re-check later
            if token is None:
                # no fencing token = written under a non-lease provider
                # (FileLockProvider stamps None). Such a writer cannot
                # be a superseded LEASE holder — only lease zombies are
                # what fences condemn, and they always carry a token —
                # so condemning None would silently drop real commits in
                # mixed-lock-provider use (r6 advice, medium). Keep.
                self._fence_ok.add(inst)
                continue
            if any(token < f["token"] for f in suspect):
                zombies.add(inst)
            else:
                self._fence_ok.add(inst)
        return zombies

    def _fences(self) -> list[dict]:
        """Takeover fence records, ascending by token. One immutable
        ``_lease/fence-<token>.json`` per takeover (written atomically
        by the CAS winner, ``locks.py:_record_fence``); the legacy
        shared ``fences.json`` list is still read for tables fenced by
        older builds."""
        lease_dir = os.path.join(self.path, "_lease")
        fences: list[dict] = []
        try:
            with open(os.path.join(lease_dir, "fences.json")) as fh:
                fences.extend(json.load(fh).get("fences", []))
        except (FileNotFoundError, ValueError):
            pass
        try:
            names = sorted(
                n
                for n in os.listdir(lease_dir)
                if n.startswith("fence-") and n.endswith(".json")
            )
        except FileNotFoundError:
            names = []  # no on-disk fences; provider store may have some
        for n in names:
            try:
                with open(os.path.join(lease_dir, n)) as fh:
                    fences.append(json.load(fh))
            except (FileNotFoundError, ValueError):
                continue  # mid-link torn read: picked up next listing
        # a non-filesystem lock store (ZK/S3 conditional-put) records
        # fences in ITS store; merge them so readers configured with the
        # deployment's provider see takeovers from either backend
        provider_fences = getattr(self.lock_provider, "fences", None)
        if callable(provider_fences):
            seen = {f["token"] for f in fences}
            fences.extend(
                f for f in provider_fences() if f["token"] not in seen
            )
        return sorted(fences, key=lambda f: f["token"])

    def last_instant(self) -> str | None:
        tl = self.timeline()
        return tl[-1] if tl else None

    def _manifest(self, instant: str) -> dict:
        """Commit manifest by instant, cached in-memory: manifests are
        IMMUTABLE once published (writers os.replace a fully-written
        temp file; nothing ever rewrites one), so a cache hit can never
        be stale — it turns the O(commits-since-base × files) manifest
        re-reads of optimistic publish conflict checks (r7 verdict
        watch item) and repeated planning walks into dict lookups.
        Bounded: evicted wholesale past 4096 entries (a table handle
        outliving that many commits is a long-lived daemon; correctness
        is unaffected, the next read re-warms).

        INVARIANT — callers MUST treat the returned dict (and every
        nested ``added`` file record) as frozen: the same objects are
        shared by every later call AND by the live sets
        ``_live_files_at`` assembles from ``m["added"]``. The only
        in-place file-dict mutation in the codebase (``f[flag] = True``
        during write assembly) happens on pre-publish records that have
        never entered this cache; any new mutation site must copy
        first."""
        cached = self._manifest_mem.get(instant)
        if cached is not None:
            return cached
        with open(os.path.join(self.commits_dir, instant + ".json")) as fh:
            m = json.load(fh)
        if len(self._manifest_mem) >= 4096:
            self._manifest_mem.clear()
        self._manifest_mem[instant] = m
        return m

    def _manifest_any(self, instant: str) -> dict:
        """Manifest by instant, falling back to the archived timeline."""
        try:
            return self._manifest(instant)
        except FileNotFoundError:
            arch = os.path.join(self.commits_dir, "_archived", instant + ".json")
            with open(arch) as fh:
                return json.load(fh)

    def _full_timeline(self) -> list[str]:
        """Archived + active instants, ascending (archived always sort
        before the active window — archival moves a prefix)."""
        arch = os.path.join(self.commits_dir, "_archived")
        archived = (
            sorted(
                f[: -len(".json")]
                for f in os.listdir(arch)
                if f.endswith(".json")
            )
            if os.path.isdir(arch)
            else []
        )
        return archived + self.timeline()

    def _checkpoints(self) -> list[str]:
        """Instants with a full live-file checkpoint, ascending."""
        if not os.path.isdir(self.ckpt_dir):
            return []
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self.ckpt_dir)
            if f.endswith(".json")
        )

    def _live_files(self) -> list[dict]:
        last = self.last_instant()
        if last is None:
            return []
        return self._live_files_at(last)

    def _live_files_at(self, instant: str) -> list[dict]:
        """Live file records as of ``instant`` — materialized from the
        newest full checkpoint ≤ instant (falling back to the in-session
        cache when that is newer) plus a forward replay of the ≤
        ``manifest_checkpoint_interval`` manifest deltas after it. Never
        O(commits) once a checkpoint exists. Legacy manifests that embed
        a full ``live_files`` list act as materialized points too.

        The returned list's dict entries are SHARED with the in-memory
        manifest cache (``_manifest``) — read-only by contract; mutate a
        copy, never in place (see the invariant note on ``_manifest``)."""
        if self._live_cache is not None and self._live_cache[0] == instant:
            return self._live_cache[1]
        target = self._manifest_any(instant)
        if "live_files" in target:  # legacy full-list manifest: direct
            # copy: the manifest dict is cache-backed and immutable
            return list(target["live_files"])
        live: list[dict] = []
        start: str | None = None
        cks = [c for c in self._checkpoints() if c <= instant]
        if cks:
            start = cks[-1]
            with open(os.path.join(self.ckpt_dir, start + ".json")) as fh:
                live = json.load(fh)["live_files"]
        if (
            self._live_cache is not None
            and self._live_cache[0] <= instant
            and (start is None or self._live_cache[0] > start)
        ):
            start, live = self._live_cache[0], list(self._live_cache[1])
        for i in self._full_timeline():
            if (start is not None and i <= start) or i > instant:
                continue
            m = self._manifest_any(i)
            if "live_files" in m:  # legacy full-list manifest
                live = m["live_files"]
                continue
            replaced = set(m["replaced"])
            live = [f for f in live if f["path"] not in replaced] + m["added"]
        if instant == self.last_instant():
            self._live_cache = (instant, live)
        return live

    def _next_instant(self, requested: str | None) -> str:
        """Monotone instant allocation; explicit instants (tests,
        deterministic replays) must still advance the timeline."""
        inst = requested or now_instant()
        last = self.last_instant()
        if last is not None and inst <= last:
            if requested is not None:
                raise ValueError(
                    f"instant {inst!r} not after last commit {last!r}"
                )
            # same-millisecond wall clock: extend to preserve total order
            inst = last + "0"
        return inst

    def exists(self) -> bool:
        return self.last_instant() is not None

    # ------------------------------------------------------------- stamping

    def _stamp(self, df: DataFrame, instant: str) -> DataFrame:
        """Add the meta columns (analog of Hudi's _hoodie_* injection)."""
        key_expr = F.concat_ws(
            ",", *[F.col(k).cast("string") for k in self.record_keys]
        )
        present = set(df.columns)
        if self.partition_keys and not (
            self.global_index
            and any(k not in present for k in self.partition_keys)
        ):
            # null partition values must stamp the same segment Spark's
            # partitionBy writes on disk (__HIVE_DEFAULT_PARTITION__), or
            # partition pruning would never match those files
            pp_expr = F.concat_ws(
                "/",
                *[
                    F.concat(
                        F.lit(k + "="),
                        F.coalesce(
                            F.col(k).cast("string"),
                            F.lit("__HIVE_DEFAULT_PARTITION__"),
                        ),
                    )
                    for k in self.partition_keys
                ],
            )
        else:
            # unpartitioned, or a global-index key-only batch (deletes
            # need just the record key — the merge ignores partitions)
            pp_expr = F.lit("")
        return (
            df.withColumn(COMMIT_TIME_COL, F.lit(instant))
            .withColumn(RECORD_KEY_COL, key_expr)
            .withColumn(PARTITION_PATH_COL, pp_expr)
        )

    # --------------------------------------------------------------- reads

    def _read_files(
        self, files: list[str], schema: T.StructType | None = None
    ) -> DataFrame:
        """Scan manifest file paths. Table-relative paths are the normal
        engine-written files; ABSOLUTE paths are externally-adopted
        files (:meth:`bootstrap_metadata_only`) whose meta columns are
        synthesized at read time from the bootstrap registry."""
        schema = schema or self._stored_schema()
        if not files:
            return _empty_df(self.spark, schema)
        internal = [f for f in files if not os.path.isabs(f)]
        external = [f for f in files if os.path.isabs(f)]
        parts: list[DataFrame] = []
        if internal:
            paths = [os.path.join(self.path, f) for f in internal]
            parts.append(self.spark.read.schema(schema).parquet(*paths))
        if external:
            parts.append(self._read_external(external, schema))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _require_active_horizon(
        self, begin: str | None, tl: list[str], what: str,
        point: bool = False,
    ) -> None:
        """Archival-horizon gate shared by the history reads: once
        :meth:`archive_timeline` moved manifests out of the active
        timeline, a range starting before the first active instant can
        no longer enumerate the archived commits' files — serving it
        would silently drop rows (``incremental``) or misclassify
        updates as inserts against an empty before-image (``changes``,
        whose ``snapshot(as_of=begin)`` resolves to nothing). Fail like
        Hudi does and point at the remedy.

        ``point=True`` marks a POINT-IN-TIME lookup (``as_of``) rather
        than a range start. For a point, an instant that predates the
        EARLIEST ARCHIVED commit predates the table itself (r14 review /
        r13 ADVICE): the view it names never existed, so it keeps the
        pre-archival contract (empty view) — only ``first_archived <=
        as_of < first_active`` falls in the archived era. A RANGE whose
        start predates the first archived commit still INCLUDES every
        archived commit, so ranges raise regardless (and ``begin is
        None`` — "from the beginning of time" — always overlaps the
        archived era)."""
        arch = os.path.join(self.commits_dir, "_archived")
        archived = (
            sorted(
                f[: -len(".json")]
                for f in os.listdir(arch)
                if f.endswith(".json")
            )
            if os.path.isdir(arch)
            else []
        )
        if point and begin is not None and archived and begin < archived[0]:
            return  # pre-table point lookup: contractual empty view
        if (
            archived
            and tl
            and (begin is None or begin < tl[0])
        ):
            raise ValueError(
                f"{what} starts before the archived horizon "
                f"(first active instant {tl[0]!r}); use snapshot() or a "
                f"begin >= {tl[0]!r}"
            )

    def _require_live_paths(self, paths: list[str], what: str) -> None:
        """Existence gate for HISTORY reads (time travel, incremental,
        CDC changes): a path a retained manifest lists but the cleaner
        physically removed would otherwise surface as Spark's
        ``PATH_NOT_FOUND`` mid-analysis — raise the engine's contract
        error with the remedy instead (Hudi likewise refuses history
        reads past its retention/archival horizon). Driver-side and
        metadata-sized: one existence probe per candidate file, on
        history reads ONLY — the latest-view serving path never pays it
        (its files are live by the cleaner's keep-set invariant)."""
        gone = [
            p for p in paths
            if not os.path.exists(
                p if os.path.isabs(p) else os.path.join(self.path, p)
            )
        ]
        if gone:
            raise ValueError(
                f"{what} references {len(gone)} cleaned data file(s) "
                f"(e.g. {gone[0]!r}): the cleaner's retention horizon "
                f"has passed this range — pin instants with savepoint() "
                f"before clean(), or raise clean(retain_commits=...)"
            )

    def _stored_schema(self) -> T.StructType:
        last = self.last_instant()
        if last is None:
            raise ValueError(f"table {self.db}.{self.table} does not exist")
        return T.StructType.fromJson(self._manifest(last)["schema"])

    # ---------------------------------- externally-adopted file reads
    # (metadata-only bootstrap; see bootstrap_metadata_only below)

    def _external_bases(self) -> list[dict]:
        """Bootstrap registry: ``[{"base": <abs dir>, "instant": i}]``.
        Written once by :meth:`bootstrap_metadata_only`; immutable."""
        if self._external_cache is None:
            reg = os.path.join(self.path, "_external", "bases.json")
            try:
                with open(reg) as fh:
                    self._external_cache = json.load(fh)["bases"]
            except FileNotFoundError:
                self._external_cache = []
        return self._external_cache

    def _external_raw(self, base: str, paths: list[str]) -> DataFrame:
        """Scan adopted files. Partitioned tables recover partition
        columns from the hive-style dir names via ``basePath``;
        partition TYPE inference is pinned off for the read so values
        round-trip verbatim as strings (``"01"`` must not become ``1``
        — the stamped partition path has to equal the dir segment the
        manifest recorded)."""
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = self.spark.conf.get(key, "true")
        self.spark.conf.set(key, "false")
        try:
            r = self.spark.read
            if self.partition_keys:
                r = r.option("basePath", base)
            return r.parquet(*paths)
        finally:
            self.spark.conf.set(key, prev)

    def _stamp_external(
        self, raw: DataFrame, instant: str, schema: T.StructType
    ) -> DataFrame:
        """Adopted files carry no engine meta columns — synthesize them
        (commit time = the bootstrap instant, key/partition-path from
        the data columns, exactly :meth:`_stamp`) and project to the
        requested schema. A schema column the file lacks reads as null,
        the same additive-evolution behavior internal files get from
        ``spark.read.schema`` (``_deleted`` reads as False: an adopted
        row is never a tombstone)."""
        stamped = self._stamp(raw, instant)
        have = set(stamped.columns)
        cols = []
        for f in schema.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            elif f.name == DELETED_COL:
                cols.append(F.lit(False).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return stamped.select(*cols)

    def _read_external(
        self,
        paths: list[str],
        schema: T.StructType,
        join_cols: list[str] | None = None,
    ) -> DataFrame:
        """Read adopted files, grouped by their bootstrap base (one scan
        per base — never per file or per partition, so the plan stays
        O(bases) at any table size). With ``join_cols`` the result is
        the key-scan shape ``(_fp, *join_cols)`` — ``_metadata`` is
        captured INSIDE each branch because Spark's hidden metadata
        column does not resolve through a Union."""
        groups: dict[tuple[str, str], list[str]] = {}
        for p in paths:
            owner = None
            for b in self._external_bases():
                if p.startswith(b["base"].rstrip(os.sep) + os.sep):
                    owner = b
                    break
            if owner is None:
                raise ValueError(
                    f"external file {p!r} matches no adopted base"
                )
            groups.setdefault((owner["base"], owner["instant"]), []).append(p)
        parts = []
        for (base, instant), ps in sorted(groups.items()):
            df = self._stamp_external(
                self._external_raw(base, sorted(ps)), instant, schema
            )
            if join_cols is not None:
                df = df.select(
                    F.col("_metadata.file_path").alias("_fp"), *join_cols
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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

    def _partition_stats_at(self, instant: str) -> dict[str, dict]:
        """Per-partition aggregate of the live files' footer stats as of
        ``instant`` — the engine's PARTITION-STATS INDEX (the analog of
        Hudi 1.0's ``partition_stats`` metadata index): one pseudo-file
        per partition whose [min, max] covers every live file in it, so
        a predicate that fails the aggregate provably fails every file
        and :meth:`_stats_prune` drops the whole partition in
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
        for f in self._live_files_at(instant):
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

    def _stats_prune(
        self,
        files: list[dict],
        predicate: list[tuple] | None,
        all_base: bool = False,
        instant: str | None = None,
    ) -> list[dict]:
        """Driver-side file skipping on the manifest's column stats (the
        read-path analog of upsert planning's key-range prune). Updates
        ``last_files_skipped``.

        MOR rule (unless ``all_base`` — the read-optimized view, where
        no merge follows): delta files are never skipped — a delta row
        may rewrite a key's column values in either direction — and a
        stats-failing BASE file is skippable only when its KEY RANGE
        intersects no RETAINED file's key range (deltas AND surviving
        bases). The key-disjointness clause matters because the merge
        is ``max_by((precombine, commit_time))`` across ALL live files:
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
        if not predicate:
            self.last_files_skipped = 0
            self.last_col_bloom_pruned = 0
            self.last_bucket_read_pruned = 0
            self.last_record_read_pruned = 0
            self.last_partitions_pruned = 0
            self.last_sec_index_pruned = 0
            return files
        for col, op, _val in predicate:
            if op not in self._PRED_OPS:
                raise ValueError(
                    f"unknown predicate op {op!r}; use one of {self._PRED_OPS}"
                )
        files = self._bucket_prune_reads(files, predicate)
        files = self._record_prune_reads(files, predicate)
        # partition-stats index pass: wholesale-dead partitions (their
        # aggregate stats prove no row can match) short-circuit the
        # per-file checks below — identical verdicts, O(partitions)
        # instead of O(files) work for selective predicates
        dead_parts: set[str] = set()
        if instant is not None:
            dead_parts = {
                pp
                for pp, pf in self._partition_stats_at(instant).items()
                if not self._stats_may_match(pf, predicate)
            }
        self.last_partitions_pruned = len(dead_parts)

        def _may_match(f: dict) -> bool:
            if dead_parts and (f.get("partition_path") or "") in dead_parts:
                return False
            return self._stats_may_match(f, predicate)
        # exact secondary-index verdicts, computed ONCE per read (the
        # per-file check below is a set probe); feeds the same pipeline
        # as the bloom verdicts, so the MOR key-disjointness guard
        # applies before any skip
        sec_miss = self._sec_miss_paths(files, predicate)
        self.last_sec_index_pruned = 0
        mor_merge = self.is_mor and not all_base
        if not mor_merge:
            keep, skipped, bloom_skipped, sec_skipped = [], 0, 0, 0
            for f in files:
                if not _may_match(f):
                    skipped += 1
                elif f["path"] in sec_miss:
                    skipped += 1  # stats passed, exact index decided
                    sec_skipped += 1
                elif not self._col_bloom_may_match(f, predicate):
                    skipped += 1  # stats passed, column bloom decided
                    bloom_skipped += 1
                else:
                    keep.append(f)
            self.last_files_skipped = skipped
            self.last_col_bloom_pruned = bloom_skipped
            self.last_sec_index_pruned = sec_skipped
            return keep

        # pass 1: stats verdict per file; deltas are always retained
        candidates: list[dict] = []  # stats-failing, non-empty base files
        bloom_decided: set[int] = set()  # candidates the col bloom failed
        sec_decided: set[int] = set()  # candidates the exact index failed
        retained: list[dict] = []
        empty_skipped = 0
        for f in files:
            if f.get("rows") == 0:
                empty_skipped += 1  # rowless: cannot win any merge
            elif f.get("kind", "base") != "base":
                retained.append(f)
            elif not _may_match(f):
                candidates.append(f)
            elif f["path"] in sec_miss:
                candidates.append(f)
                sec_decided.add(id(f))
            elif not self._col_bloom_may_match(f, predicate):
                candidates.append(f)
                bloom_decided.add(id(f))
            else:
                retained.append(f)
        # pass 2: a candidate skips only if key-disjoint from every
        # retained file (unknown ranges are treated as overlapping)
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

        keep, skipped, bloom_skipped, sec_skipped = (
            list(retained), empty_skipped, 0, 0,
        )
        for f in candidates:
            if overlaps_retained(f):
                keep.append(f)
            else:
                skipped += 1
                if id(f) in bloom_decided:
                    bloom_skipped += 1
                if id(f) in sec_decided:
                    sec_skipped += 1
        self.last_files_skipped = skipped
        self.last_col_bloom_pruned = bloom_skipped
        self.last_sec_index_pruned = sec_skipped
        # preserve input order (manifest order) for deterministic scans
        kept_paths = {f["path"] for f in keep}
        return [f for f in files if f["path"] in kept_paths]

    def _bucket_prune_reads(
        self, files: list[dict], predicate: list[tuple]
    ) -> list[dict]:
        """Point-lookup pruning on a bucket-indexed table: an ``=`` /
        ``in`` condition on the RECORD KEY confines matching rows to
        the operands' buckets, so files of other buckets are dropped
        before any scan — one tiny probe job (operands → bucket ids),
        no data I/O. Unconditionally safe, even under the MOR merge:
        a pruned file provably holds NO row with an operand key, and
        every row the merge could surface from it would fail the
        key-equality row filter anyway (unlike non-key column pruning,
        which needs the key-overlap guard). Unstamped files and files
        written under a different bucket count are kept."""
        self.last_bucket_read_pruned = 0
        n = self.bucket_index
        if not n:
            return files
        vals: list | None = None
        for col, op, val in predicate:
            if col != RECORD_KEY_COL or op not in ("=", "in"):
                continue
            ops = list(val) if op == "in" else [val]
            if all(isinstance(v, str) for v in ops):
                vals = ops  # first probeable key condition suffices
                break
        if not vals or not any(
            f.get("bucket") is not None and f.get("bucket_n") == n
            for f in files
        ):
            return files
        # literal operand keys: bucket ids are pure arithmetic — the
        # Python XXH64 twin (parity pinned, tests/test_xxh.py) replaces
        # the createDataFrame+agg Spark job a point read paid here
        op_buckets = {xxh_shard(v, n) for v in set(vals)}
        kept = [
            f
            for f in files
            if f.get("bucket") is None
            or f.get("bucket_n") != n
            or f["bucket"] in op_buckets
        ]
        self.last_bucket_read_pruned = len(files) - len(kept)
        return kept

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
            else:  # unreachable after _stats_prune validation; belt+braces
                raise ValueError(f"unknown predicate op {op!r}")
        return cond

    def _view_files(
        self,
        partition_filter: dict[str, object] | None,
        as_of: str | None,
    ) -> tuple[list[dict] | None, T.StructType | None, str | None]:
        """The (files, as-of schema, resolved instant) a snapshot-style
        view reads: time-travel resolution + driver-side partition
        pruning, shared by :meth:`snapshot` and the metadata-only
        aggregates. ``(None, None, None)`` means the as_of predates the
        table (empty view); schema is None for the latest view (stored
        schema). The resolved instant keys the partition-stats index
        lookup in :meth:`_stats_prune`."""
        schema = None
        if as_of is not None:
            past = [i for i in self.timeline() if i <= as_of]
            if not past:
                # distinguish "predates the table" (empty view, by
                # contract) from "predates the ARCHIVAL horizon" (the
                # view existed — silently serving empty would corrupt
                # any consumer diffing against it)
                self._require_active_horizon(
                    as_of, self.timeline(), f"as_of {as_of!r}", point=True
                )
                return None, None, None
            inst = past[-1]
            m = self._manifest(inst)
            files = self._live_files_at(inst)
            schema = T.StructType.fromJson(m["schema"])  # as-of schema
        else:
            inst = self.last_instant()
            files = self._live_files()
        if partition_filter:
            want = {k: str(v) for k, v in partition_filter.items()}
            files = [
                f
                for f in files
                if all(f["partition"].get(k) == v for k, v in want.items())
            ]
        return files, schema, inst

    def metadata_count(
        self,
        partition_filter: dict[str, object] | None = None,
        as_of: str | None = None,
    ) -> tuple[int, bool]:
        """Exact row count of the snapshot view served from MANIFEST
        stats alone — O(live file count) driver-side arithmetic, zero
        scan, zero Spark jobs (the Iceberg/Hudi metadata-table
        ``count(*)`` path; at 100 TB: milliseconds instead of a
        full-corpus scan). Returns ``(count, from_metadata)``.

        The fast path is EXACT only when no read-time merge can change
        cardinality: COW tables qualify always (upserts merge and
        deletes materialize at write — :meth:`_commit_delete`
        anti-joins, so live COW files hold no tombstones); MOR does
        not (the precombine merge collapses duplicate keys and
        tombstone deltas kill rows at READ time), nor do files missing
        a ``rows`` stat. Those fall back to an exact
        ``snapshot().count()`` scan and report
        ``from_metadata=False`` — correctness never depends on the
        shortcut.

        Retention interplay (deliberate): the metadata fast path needs
        only the MANIFEST, so a COW ``as_of`` count keeps serving even
        after the cleaner reaped that view's files; the scan fallback
        (MOR / missing stats) inherits :meth:`snapshot`'s cleaned-files
        contract error, and an as_of past the ARCHIVAL horizon raises
        in :meth:`_view_files` like every history read."""
        files, _, _ = self._view_files(partition_filter, as_of)
        if files is None:
            return 0, True
        if not self.is_mor and all(
            f.get("rows") is not None for f in files
        ):
            return sum(f["rows"] for f in files), True
        return (
            self.snapshot(
                partition_filter=partition_filter, as_of=as_of
            ).count(),
            False,
        )

    def metadata_min_max(
        self,
        col: str,
        partition_filter: dict[str, object] | None = None,
        as_of: str | None = None,
    ):
        """SQL ``MIN(col)``/``MAX(col)`` of the snapshot view folded
        from the manifest's per-file footer stats — no scan, no jobs.
        Returns ``(min, max, from_metadata)``; values come back in the
        manifest's JSON-normalized form (numbers as numbers,
        timestamps as ``' '``-separated strings).

        Exact on the fast path because parquet footer min/max exclude
        NULLs — exactly SQL aggregate semantics — and COW reads apply
        no merge that could drop a file's extreme row. Falls back to
        an exact scan (``from_metadata=False``) for MOR (a merge LOSER
        may hold the footer extreme), for any file missing stats for
        ``col`` (including all-NULL files — indistinguishable from
        stat-less), and for record-key stats absence. Empty files
        (``rows == 0``) are skipped, not a fallback trigger."""
        files, _, _ = self._view_files(partition_filter, as_of)
        if files is None:
            return None, None, True
        if not self.is_mor:
            los, his, ok = [], [], True
            for f in files:
                if f.get("rows") == 0:
                    continue
                lo, hi = (
                    (f.get("key_min"), f.get("key_max"))
                    if col == RECORD_KEY_COL
                    else tuple(
                        f.get("col_stats", {}).get(col) or (None, None)
                    )
                )
                if lo is None or hi is None:
                    ok = False
                    break
                los.append(lo)
                his.append(hi)
            if ok:
                if not los:
                    return None, None, True  # view holds no rows
                return min(los), max(his), True
        row = (
            self.snapshot(partition_filter=partition_filter, as_of=as_of)
            .agg(F.min(col), F.max(col))
            .collect()[0]
        )
        return row[0], row[1], False

    def snapshot(
        self,
        partition_filter: dict[str, object] | None = None,
        as_of: str | None = None,
        predicate: list[tuple] | None = None,
    ) -> DataFrame:
        """Latest-committed view (S3 semantics, ``SRC/ODS2DWD.scala:30-32``).

        ``partition_filter`` prunes files driver-side via the manifest
        before any scan (the 100 TB path) — e.g. ``{"logday": "20260813"}``.
        ``as_of`` time-travels: the view as of the newest commit ≤ that
        instant (Hudi's ``as.of.instant`` read), served purely from that
        commit's manifest. Files the cleaner already reaped raise the
        contract error up front (:meth:`_require_live_paths`) — pin
        instants with :meth:`savepoint` to time-travel past the
        retention horizon.
        ``predicate`` — conjunction of ``(col, op, operand)`` with op in
        ``=, <, <=, >, >=, between, in`` — returns exactly
        ``snapshot().filter(pred)`` but first SKIPS files whose manifest
        column stats (``stats_columns``) prove no row can match (Hudi
        0.11 data skipping); ``last_files_skipped`` records the count.
        """
        files, schema, inst = self._view_files(partition_filter, as_of)
        if files is None:
            return _empty_df(self.spark, self._stored_schema())
        files = self._stats_prune(files, predicate, instant=inst)
        if as_of is not None and inst != self.last_instant():
            # time travel only — the latest view's files are live by
            # the cleaner's keep-set invariant
            self._require_live_paths(
                [f["path"] for f in files], f"snapshot(as_of={as_of!r})"
            )
        out = self._read_files([f["path"] for f in files], schema)
        if self.is_mor:
            # merge-group-stable conjuncts push BELOW the merge:
            # ``_record_key`` is constant within a merge unit, so
            # pre-filtering selects whole groups and can never surface
            # a stale version (general columns must stay post-merge —
            # a newer non-matching version must still beat an older
            # matching one). Catalyst then pushes the key filter into
            # the parquet scan, where the r10 key-sorted data files
            # serve it from row-group/page stats — the point-read
            # plan at any file size.
            stable = [
                p for p in (predicate or []) if p[0] == RECORD_KEY_COL
            ]
            if stable:
                out = out.filter(self._predicate_condition(stable))
            out = self._merged_read(out)
        if predicate:
            out = out.filter(self._predicate_condition(predicate))
        return out

    def read_optimized(
        self, predicate: list[tuple] | None = None
    ) -> DataFrame:
        """S5 — read-optimized view (``SRC/MSK2Hudi.scala:5``): for COW
        it IS the snapshot; for MOR it scans BASE files only (inserts +
        compactions) with no delta merge — faster, possibly stale, the
        real Hudi trade. ``predicate`` file-skips on column stats like
        :meth:`snapshot` (every file here is base, so all are
        skippable)."""
        if not self.is_mor:
            return self.snapshot(predicate=predicate)
        files = [f for f in self._live_files() if f.get("kind", "base") == "base"]
        # base-only read: no merge follows, so no delta can resurface a
        # skipped row — prune as if COW (all_base lifts the MOR rules
        # while keeping op validation and the skip counter consistent).
        # The partition-stats aggregate covers deltas too — a superset
        # only widens ranges, so wholesale-prunes stay conservative.
        files = self._stats_prune(
            files, predicate, all_base=True, instant=self.last_instant()
        )
        out = self._read_files([f["path"] for f in files]).drop(DELETED_COL)
        if predicate:
            out = out.filter(self._predicate_condition(predicate))
        return out

    def incremental(
        self,
        begin: str | None,
        end: str | None = None,
        predicate: list[tuple] | None = None,
    ) -> DataFrame:
        """S4 — rows changed in ``(begin, end]`` by commit time
        (``SRC/ODS2DWD.scala:51-56``). ``begin=None`` → from the start;
        ``end=None`` → up to the latest commit.

        File pruning: only files *added* by commits in range are scanned;
        the ``_commit_time`` row filter then drops carried-over older rows
        that COW rewrites copied into those files. ``predicate``
        additionally skips in-range files by manifest column stats (see
        :meth:`snapshot`) before the scan, then applies the exact row
        filter.
        """
        tl = self.timeline()
        # commits before the archival horizon are no longer in the
        # active timeline; serving a partial increment would silently
        # drop their rows — fail like Hudi does and point at snapshot
        self._require_active_horizon(begin, tl, "incremental range")
        in_range = [
            i for i in tl if (begin is None or i > begin) and (end is None or i <= end)
        ]
        added: list[dict] = []
        seen_paths: set[str] = set()
        for inst in in_range:
            m = self._manifest(inst)
            if m.get("action") == "index_backfill":
                # metadata-only commit: it re-lists EXISTING files purely
                # to upgrade their index-coverage stamps and adds no rows.
                # Including its "added" would scan a file twice whenever
                # the range also contains the file's creating commit —
                # exact duplicate rows on COW (the MOR merge masked it).
                continue
            for f in m["added"]:
                if f["path"] not in seen_paths:
                    seen_paths.add(f["path"])
                    added.append(f)
        # a file added in-range may have been replaced by a later in-range
        # commit; restrict to files still live OR added by the newest
        # in-range commit chain. Simplest correct rule: scan files added in
        # range that are live at `end`, plus row-filter.
        live_at_end = {
            f["path"]
            for f in (self._live_files_at(in_range[-1]) if in_range else [])
        }
        fds = [f for f in added if f["path"] in live_at_end]
        # in-range files are a subset of the live set at the range end,
        # so that instant's partition-stats aggregate applies (superset)
        fds = self._stats_prune(
            fds, predicate, instant=in_range[-1] if in_range else None
        )
        # an in-range file live at `end` can still be cleaned once the
        # retention horizon moves past `end` — fail with the contract
        # error, not PATH_NOT_FOUND mid-scan
        self._require_live_paths(
            [f["path"] for f in fds],
            f"incremental({begin!r}, {end!r})",
        )
        df = self._read_files([f["path"] for f in fds])
        cond = F.lit(True)
        if begin is not None:
            cond = cond & (F.col(COMMIT_TIME_COL) > begin)
        if end is not None:
            cond = cond & (F.col(COMMIT_TIME_COL) <= end)
        if self.is_mor:
            # merge within the range: one row per key (its newest
            # in-range version), matching what a COW rewrite would have
            # produced; tombstones drop out in the merge. The predicate
            # row filter applies AFTER the merge — filtering versions
            # first could surface a stale matching version whose newest
            # (non-matching) successor the filter removed. EXCEPT
            # ``_record_key`` conjuncts: constant within a merge unit,
            # they select whole groups and push below (see snapshot).
            pre = df.filter(cond)
            stable = [
                p for p in (predicate or []) if p[0] == RECORD_KEY_COL
            ]
            if stable:
                pre = pre.filter(self._predicate_condition(stable))
            out = self._merged_read(pre)
            if predicate:
                out = out.filter(self._predicate_condition(predicate))
            return out
        if predicate:
            cond = cond & self._predicate_condition(predicate)
        return df.filter(cond)

    def changes(self, begin: str | None, end: str | None = None) -> DataFrame:
        """CDC read of ``(begin, end]`` with BEFORE/AFTER images — the
        row-level change feed (op ∈ insert/update/delete) Hudi serves as
        its cdc incremental query type; the plain :meth:`incremental`
        read returns after-images only and cannot express deletes.

        Scale shape: the comparison is restricted to the keys touched by
        in-range commits (keys read from those commits' added+replaced
        files — never a scan of untouched file groups), then the
        before/after snapshots are semi-joined down to that key set and
        full-outer-joined per key. Carried-over rows that a COW rewrite
        copied unchanged compare equal and are dropped.

        Requires the replaced files to still exist (not yet cleaned) —
        the same retention contract Hudi's CDC read has.
        """
        tl = self.timeline()
        # same horizon rule as incremental(): an archived begin would
        # silently misclassify updates as inserts (empty before-image)
        # and, on MOR, drop archived commits' changes outright
        self._require_active_horizon(begin, tl, "changes range")
        in_range = [
            i for i in tl
            if (begin is None or i > begin) and (end is None or i <= end)
        ]
        touched: list[str] = []
        for inst in in_range:
            m = self._manifest(inst)
            if m.get("action") == "index_backfill":
                # metadata-only: re-lists every covered file but
                # changes no row — including it would key-scan the
                # whole table for a no-op commit (full-corpus I/O at
                # 100 TB); same skip as incremental()
                continue
            touched.extend(f["path"] for f in m["added"])
            touched.extend(m["replaced"])
        key_cols = (
            [RECORD_KEY_COL]
            if self.global_index
            else [PARTITION_PATH_COL, RECORD_KEY_COL]
        )
        key_schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in key_cols]
        )
        # replaced files must still exist (the docstring's retention
        # contract) — surface its violation as the contract error
        self._require_live_paths(
            sorted(set(touched)), f"changes({begin!r}, {end!r})"
        )
        affected = self._read_files(
            sorted(set(touched)), schema=key_schema
        ).distinct()
        data_cols = [
            f.name for f in self._stored_schema().fields
            if f.name not in META_COLS + [DELETED_COL]
        ]

        stored = self._stored_schema()

        def image(as_of: str | None) -> DataFrame:
            if as_of is None:
                snap = _empty_df(self.spark, stored)
            else:
                snap = self.snapshot(as_of=as_of)
            for c in data_cols:  # pre-evolution snapshots lack new columns
                if c not in snap.columns:
                    snap = snap.withColumn(
                        c, F.lit(None).cast(stored[c].dataType)
                    )
            return snap.join(affected, key_cols, "left_semi").select(
                *key_cols, F.struct(*data_cols).alias("_img")
            )

        before = image(begin if begin is not None else None)
        after = image(end if end is not None else (tl[-1] if tl else None))
        b = before.select(*key_cols, F.col("_img").alias("_before"))
        a = after.select(*key_cols, F.col("_img").alias("_after"))
        out = b.join(a, key_cols, "full_outer").withColumn(
            "op",
            F.when(F.col("_before").isNull(), F.lit("insert"))
            .when(F.col("_after").isNull(), F.lit("delete"))
            .otherwise(F.lit("update")),
        )
        # carried-over rows a rewrite copied unchanged are not changes;
        # null-safe struct compare so a null→value field change counts
        out = out.filter(
            (F.col("op") != "update")
            | ~F.col("_before").eqNullSafe(F.col("_after"))
        )
        return out.select(
            *key_cols, "op",
            F.col("_before").alias("before"),
            F.col("_after").alias("after"),
        )

    def stream(self) -> DataFrame:
        """Structured-Streaming view over the commit log — the Spark-first
        re-platforming of the reference's hand-rolled poll loop
        (``SRC/ODS2DWD.scala:43-69``; SURVEY.md §2.9 T5): each commit's
        data files land under ``data/<instant>/`` and arrive as new
        micro-batches via the file-stream source (``recursiveFileLookup``
        skips the hive-style layout dirs; partition values are duplicated
        into data columns by design).

        Delivery is per-FILE at-least-once: a COW rewrite re-emits the
        carried-over rows of the rewritten file, but those keep their
        ORIGINAL ``_commit_time``, so a consumer holding a commit cursor
        recovers exact increments with the same ``(begin, end]`` filter
        the incremental read uses — e.g. inside ``foreachBatch``::

            batch.filter(F.col("_commit_time") > cursor)
        """
        return (
            self.spark.readStream.schema(self._stored_schema())
            .option("recursiveFileLookup", "true")
            .parquet(self.data_dir)
        )

    def logical(self, df: DataFrame | None = None) -> DataFrame:
        """Strip meta columns — ``SRC/package.scala:166-168``."""
        return (df if df is not None else self.snapshot()).drop(*META_COLS)

    # --------------------------------------------------------------- writes

    def last_checkpoint(self, source_id: str) -> int | None:
        """Newest committed checkpoint value for ``source_id`` (the
        exactly-once replay guard's read side)."""
        cp = self.last_checkpoint_entry(source_id)
        return cp.get("batch_id") if cp else None

    def last_checkpoint_entry(self, source_id: str) -> dict | None:
        """Newest committed checkpoint DICT for ``source_id``, scanning
        the timeline backwards. Besides the replay-guard ``batch_id``,
        callers may ride extra keys in the checkpoint (e.g. the
        medallion pipelines' source-slice ``cursor`` — r13) and recover
        them here on restart, atomic with the data they describe. Falls
        back to archived manifests: ``archive_timeline`` may have moved
        the newest checkpoint-bearing commit out of the active
        timeline, and losing sight of it would silently re-apply a
        replayed batch."""
        for i in reversed(self.timeline()):
            cp = self._manifest(i).get("checkpoint")
            if cp and cp.get("source_id") == source_id:
                return cp
        arch = os.path.join(self.commits_dir, "_archived")
        if os.path.isdir(arch):
            for f in sorted(os.listdir(arch), reverse=True):
                if not f.endswith(".json"):
                    continue
                with open(os.path.join(arch, f)) as fh:
                    cp = json.load(fh).get("checkpoint")
                if cp and cp.get("source_id") == source_id:
                    return cp
        return None

    def write(
        self,
        df: DataFrame,
        op: str = "upsert",
        instant: str | None = None,
        checkpoint: dict | None = None,
        sort_mode: str = "NONE",
        sort_files: int | None = None,
    ) -> str | None:
        """The generic writer — engine analog of ``writeHudiTable``
        (``SRC/package.scala:15-81``). ``op`` ∈ {insert, bulk_insert,
        upsert, delete}. Returns the committed instant.

        ``sort_mode`` (``bulk_insert`` only — Hudi's
        ``hoodie.bulkinsert.sort.mode``): ``NONE`` writes the batch
        as-is; ``GLOBAL_SORT`` range-partitions on (partition path,
        record key) so every output file owns a TIGHT, DISJOINT key
        range — the initial-load layout that makes later key-range
        pruning, record-index builds, and upsert planning surgical at
        100 TB (one extra shuffle, paid once at load);
        ``PARTITION_SORT`` sorts within existing tasks (no shuffle,
        locally ordered files). ``sort_files`` caps the GLOBAL_SORT
        output file count (defaults to the session's shuffle
        parallelism, Hudi's behavior).

        Held under a filesystem writer lock — the local-FS analog of the
        reference's ZooKeeper OCC lock (``SRC/package.scala:38-47``,
        ``HudiConfig.scala:50-56``): a second concurrent writer fails
        fast instead of corrupting the timeline.

        ``checkpoint={"source_id": ..., "batch_id": n}`` makes the write
        an exactly-once micro-batch apply: if the newest committed
        checkpoint for that source already covers ``batch_id`` the write
        is SKIPPED (returns None) — a foreachBatch replay after a crash
        cannot double-apply, even for the non-idempotent ``insert`` op.
        The checkpoint rides in the commit manifest, so data + cursor
        commit atomically (Hudi records streaming checkpoints in commit
        metadata identically).
        """
        if sort_mode != "NONE" and op != "bulk_insert":
            raise ValueError(
                f"sort_mode={sort_mode!r} applies only to bulk_insert"
            )
        with self._writer_lock():
            if checkpoint is not None:
                last = self.last_checkpoint(checkpoint["source_id"])
                if last is not None and last >= checkpoint["batch_id"]:
                    return None  # replayed batch — already committed
                self._pending_checkpoint = dict(checkpoint)
            try:
                if op in ("insert", "bulk_insert"):
                    return self._commit_insert(
                        df, instant, sort_mode=sort_mode,
                        sort_files=sort_files,
                    )
                if op == "upsert":
                    return self._commit_upsert(df, instant)
                if op == "delete":
                    return self._commit_delete(df, instant)
                if op == "insert_overwrite":
                    return self._commit_insert_overwrite(df, instant)
                raise ValueError(f"unknown write op: {op}")
            finally:
                # a FAILED commit must not leave its checkpoint armed:
                # it would ride on the NEXT successful manifest (e.g. a
                # later compact()), falsely marking the failed batch
                # committed and silently skipping its replay
                self._pending_checkpoint = None

    def write_optimistic(
        self,
        df: DataFrame,
        op: str = "upsert",
        instant: str | None = None,
    ) -> str:
        """Hudi's OPTIMISTIC multi-writer model (the concurrency mode
        its ZooKeeper lock exists to arbitrate, ``SRC/package.scala:
        38-47``): the heavy work — reading the affected files, merging,
        writing the new data files — runs with NO table lock held; the
        lock is taken only for a short conflict-check + manifest
        publish. Concurrent writers whose commits touch DISJOINT data
        both succeed with full parallelism (the 100 TB pattern:
        per-partition backfill jobs, multi-tenant ingest); a writer
        whose read set was modified underneath it — or whose planned
        instant was out-run — raises :class:`ConcurrentWriteConflict`
        and publishes nothing (its data files are orphans for the lazy
        cleaner; the caller retries against fresh state).

        Conflict rules at publish (file/key-stat level, like Hudi's
        early conflict detection — conservative, never unsound):

        * a file this commit REPLACES was replaced by a concurrent
          commit → lost update, abort;
        * for key-merging ops, a concurrent commit ADDED a file whose
          (partition, record-key range) overlaps one of ours → both
          writers may have materialized the same key, abort
          (``insert`` skips this: Hudi's insert is not key-unique);
        * the newest published instant ≥ ours → instant-order
          violation, abort (our data files are stamped with the
          planned instant, so it cannot be reallocated).

        On a MERGE_ON_READ table every optimistic write is an APPEND
        (delta files / tombstones, or base files for insert) and
        appends COMMUTE: the read-time precombine merge resolves
        overlapping keys identically in either publish order, and a
        concurrent compaction's fold point precedes any later delta's
        instant — so MOR needs only the instant-order check, never a
        data conflict. This is exactly why the reference routes its
        partitioned streaming tables to MOR (``SRC/package.scala:176``):
        maximal writer concurrency. Inline compaction is NOT triggered
        on the optimistic path (it would stretch the critical section);
        use the async compactor.

        The creating commit serializes (no read set exists to conflict
        on). Exactly-once ``checkpoint`` batches belong to the
        serialized streaming path.
        """
        if op not in ("insert", "upsert", "delete"):
            raise ValueError(f"unsupported optimistic op: {op}")
        if not self.exists():
            return self.write(df, op=op, instant=instant)
        base = self.last_instant()
        if instant is None:
            # uniquify: concurrent writers allocating in the same
            # millisecond must not share a data directory / manifest
            # name (the suffix keeps the instant sorting after `base`)
            import uuid

            inst = self._next_instant(None) + "w" + uuid.uuid4().hex[:4]
        else:
            inst = self._next_instant(instant)

        # announce the lock-free write BEFORE any data file exists so a
        # concurrent clean() (which cannot see our not-yet-published
        # manifest) never reaps the in-flight files as orphans
        self._mark_inflight(inst)
        try:
            return self._write_optimistic_inner(base, inst, df, op)
        finally:
            self._clear_inflight(inst)

    def _write_optimistic_inner(
        self, base: str | None, inst: str, df: DataFrame, op: str
    ) -> str:
        # ---- compute phase: NO LOCK HELD (mirrors the serialized
        # twins _commit_insert/_commit_upsert_inner/_commit_delete)
        if self.is_mor and op != "insert":
            # append-only: delta (upsert) or tombstone delta (delete);
            # commutes with every concurrent append under the read merge.
            # Delete batches skip the within-batch preCombine like every
            # other delete leg (combine=False): a keys-only tombstone
            # frame carries no precombine column to combine on — the
            # same r13 contract _commit_delete and merge_into pin
            batch = self._prepare_batch(df, inst, combine=op != "delete")
            if op == "delete":
                batch = batch.withColumn(DELETED_COL, F.lit(True))
            batch = self._align_schema(batch)
            added = self._write_data_files(batch, inst, kind="delta")
            replaced: list[str] = []
            action, schema = op, batch.schema
        elif op == "delete":
            keys = df.filter(pk_not_null_condition(self.record_keys))
            keys = self._stamp(keys, inst)
            keys.persist()
            try:
                affected, old = self._affected_files(keys)
                join_cols = (
                    [RECORD_KEY_COL]
                    if self.global_index
                    else [PARTITION_PATH_COL, RECORD_KEY_COL]
                )
                survivors = old.join(
                    keys.select(*join_cols).distinct(), join_cols,
                    "left_anti",
                )
                added = self._write_data_files(survivors, inst)
            finally:
                keys.unpersist()
            replaced = sorted({f["path"] for f in affected})
            action, schema = "delete", self._stored_schema()
        else:
            batch = self._prepare_batch(df, inst)
            batch.persist()
            try:
                batch = self._align_schema(batch)
                if op == "insert":
                    added, replaced = (
                        self._write_data_files(batch, inst, kind="base"),
                        [],
                    )
                else:
                    affected, old = self._affected_files(batch)
                    merged = self._merge(old, batch)
                    added = self._write_data_files(merged, inst)
                    replaced = sorted({f["path"] for f in affected})
            finally:
                batch.unpersist()
            action, schema = op, batch.schema

        # ---- publish phase: short critical section
        with self._writer_lock():
            try:
                self._check_publish_conflicts(base, inst, op, added, replaced)
                # belt-and-braces for a compute phase that out-lived its
                # own inflight TTL: if a cleaner judged the marker stale
                # and reaped our files, abort instead of publishing a
                # manifest that references deleted data
                missing = [
                    f["path"]
                    for f in added
                    if not os.path.exists(os.path.join(self.path, f["path"]))
                ]
                if missing:
                    raise ConcurrentWriteConflict(
                        f"in-flight data files reaped by the cleaner "
                        f"(marker exceeded inflight_ttl_seconds="
                        f"{self.inflight_ttl_seconds}): {missing[:3]}"
                    )
            except ConcurrentWriteConflict:
                for f in added:  # best-effort orphan reclaim; the lazy
                    try:         # cleaner owns whatever survives
                        os.unlink(os.path.join(self.path, f["path"]))
                    except OSError:
                        pass
                raise
            self._write_manifest(inst, action, schema, added, replaced)
            return inst

    @staticmethod
    def _key_summary(files: list[dict]) -> dict:
        """Per-partition ``[key_min, key_max]`` envelope over file
        records; a ``None`` envelope means at least one file in that
        partition lacks key stats (the envelope is unknowable and any
        check must fall back to the per-file proof)."""
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

    def _commit_summary(self, instant: str, m: dict) -> dict:
        """A commit's per-partition key envelope: read from the
        manifest's ``key_summary`` (written since r9), derived once
        from ``added`` for legacy manifests; memoized per instant
        (manifests are immutable; cleared on restore with the other
        instant-keyed caches)."""
        cached = self._commit_summary_cache.get(instant)
        if cached is not None:
            return cached
        raw = m.get("key_summary")
        s = (
            {e["pp"]: e["env"] for e in raw}
            if raw is not None
            else self._key_summary(m["added"])
        )
        self._commit_summary_cache[instant] = s
        return s

    def _check_publish_conflicts(
        self,
        base: str | None,
        inst: str,
        op: str,
        added: list[dict],
        replaced: list[str],
    ) -> None:
        """Raise :class:`ConcurrentWriteConflict` unless publishing a
        commit computed at snapshot ``base`` is equivalent to SOME
        serial order (see :meth:`write_optimistic` for the rules).

        Cost (r8 verdict #5): O(commits since base) SUMMARY lookups —
        the added-vs-added key-overlap proof compares per-partition
        [min,max] envelopes recorded in each manifest (``key_summary``)
        and only descends to the exact per-file pairwise proof for the
        (commit, partition) pairs whose envelopes intersect, which for
        disjoint-key writers (the normal optimistic-concurrency
        workload) is none of them. Disjoint envelopes imply no file
        pair can overlap, so the pruning is exact, never unsound. A
        pathological 50-commit publish backlog therefore costs ~50
        dict probes, not 50 × files comparisons."""
        tl = self.timeline()
        if tl and tl[-1] >= inst:
            raise ConcurrentWriteConflict(
                f"instant order: published {tl[-1]!r} >= planned {inst!r}"
            )
        newer = [i for i in tl if base is None or i > base]
        if not newer:
            return
        ours_replaced = set(replaced)
        check_keys = not (op == "insert" or self.is_mor)
        # inserts are not key-unique (Hudi semantics); MOR appends
        # COMMUTE under the precombine read merge — neither needs
        # the added-vs-added key-overlap proof
        ours = self._key_summary(added) if check_keys else {}
        our_by_pp: dict = {}
        if check_keys:
            for f in added:
                our_by_pp.setdefault(f.get("partition_path"), []).append(f)
        for i in newer:
            m = self._manifest(i)
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

    def delete_partitions(
        self, partitions: list[dict], instant: str | None = None
    ) -> int:
        """Drop whole partitions in one commit — Hudi's
        ``delete_partition`` write operation, the retention workhorse at
        scale (expire a day/tenant/source without touching a single
        data file: the commit is MANIFEST-ONLY, ``added=[]`` and
        ``replaced`` = the partitions' live files, so a 100 TB partition
        drop costs one small JSON write). Data files become unreferenced
        and the cleaner reaps them later (lazy, like failed writes).

        ``partitions``: list of ``{partition_key: value}`` dicts (every
        partition key must be present; values compared as the string
        form the partition path stores). Returns the number of files
        dereferenced. Raises on an unpartitioned table.
        """
        if not self.partition_keys:
            raise ValueError("delete_partitions on an unpartitioned table")
        pps = set()
        for p in partitions:
            missing = [k for k in self.partition_keys if k not in p]
            if missing:
                raise ValueError(f"partition spec missing keys {missing}")
            pps.add(
                "/".join(f"{k}={p[k]}" for k in self.partition_keys)
            )
        with self._writer_lock():
            inst = self._next_instant(instant)
            doomed = [
                f["path"]
                for f in self._live_files()
                if f["partition_path"] in pps
            ]
            self._write_manifest(
                inst, "delete_partition", self._stored_schema(), [], doomed
            )
            return len(doomed)

    def merge_into(
        self,
        source: DataFrame,
        update_set: dict[str, str] | None = None,
        delete_condition: str | None = None,
        insert_condition: str | None = None,
        instant: str | None = None,
    ) -> str:
        """SQL ``MERGE INTO`` against the table — matched rows update
        (or delete), unmatched source rows insert, in ONE commit (the
        statement Hudi exposes via Spark SQL; the reference reaches the
        same end states only through separate upsert/delete jobs,
        ``SRC/package.scala:15-81``).

        Expressions are SQL strings over the aliases ``s`` (source) and
        ``t`` (target): ``update_set`` maps target column →
        expression (unlisted columns keep ``t.<col>``);
        ``delete_condition`` selects matched rows to delete (evaluated
        FIRST, like a WHEN MATCHED ... THEN DELETE clause preceding the
        update clause); ``insert_condition`` gates unmatched-source
        inserts (default: all; source must carry the full data schema).

        Resolution discipline: update-derived rows flow through the
        table's standard ``(precombine, _commit_time)`` merge on BOTH
        storage types — set the precombine in ``update_set`` (e.g.
        ``"ver": "t.ver + 1"``) so updates deterministically win,
        mirroring Hudi's payload-ordering discipline. This keeps COW and
        MOR end states identical (a MOR update delta cannot bypass
        precombine without a same-instant tombstone killing its own
        row).

        AMBIGUOUS MATCHES RAISE (ANSI MERGE / Delta semantics, pinned by
        ``tests/test_lake.py::test_merge_into_duplicate_match_raises``):
        if more than one row matches for a record key — a duplicate-key
        source hitting one target row, or one source row hitting
        duplicate target rows from prior inserts — the merge raises
        instead of committing. Silent resolution is unsound here: a
        duplicate source routing one row to the delete clause and
        another to the update clause would commit a same-instant
        tombstone + data row whose visibility is table-type-dependent
        (the MOR read merge kills same-commit data at or before a
        tombstone; COW applies delete-then-update eagerly) — a COW/MOR
        seam no precombine can arbitrate. Pre-aggregate the source to
        one row per key (e.g. the a5 precombine-dedup shape) first, as
        Delta requires. Unmatched duplicate-key INSERTS are not
        ambiguous and flow through the upsert path's standard
        precombine resolution; an INSERT-ONLY merge (no ``update_set``,
        no ``delete_condition``) skips the gate — matched rows are
        deliberately ignored there, so duplicates among them modify
        nothing (ANSI's cardinality rule likewise applies only to
        update/delete clauses).

        Concurrency (r14, closes the r13 TOCTOU): the ambiguity gate
        and the matched/unmatched classification run optimistically
        against a snapshot taken BEFORE the writer lock — but the
        snapshot's instant is captured with the plan, and if the table
        advanced by the time the lock is held, the WHOLE plan
        (classification + gate) is re-derived under the lock against
        the now-stable snapshot. A concurrent writer landing duplicate
        target rows between gate and commit therefore trips the
        re-derived gate instead of committing a silently ambiguous
        merge; the no-conflict fast path pays nothing extra. (The
        re-derive blocks other writers for one merge compute — the
        price of exact ANSI cardinality, paid only when a conflict
        actually happened.)

        Scale shape: matched/unmatched classification is ONE shuffle
        join of source against the snapshot on the record key; the
        commit then reuses the upsert path's two-level file pruning
        (partition prune + key-hit scan), so write amplification scales
        with keys touched. Deletes ride the same commit: COW anti-joins
        them out of the rewritten files; MOR appends tombstones into the
        same delta batch.
        """
        if not self.exists():
            raise ValueError("merge_into on non-existent table")

        def plan() -> tuple[DataFrame, DataFrame, list[str]]:
            """Classification + ambiguity gate against the CURRENT
            snapshot; returns (upserts, del_full, tcols). Called once
            optimistically outside the lock, and re-called under the
            lock iff the table advanced in between (the r13 TOCTOU)."""
            tcols = self.logical().columns
            t = self.logical().alias("t")
            s = source.alias("s")
            cond = None
            for k in self.record_keys:
                c = F.col(f"s.{k}") == F.col(f"t.{k}")
                cond = c if cond is None else (cond & c)
            matched = s.join(t, cond, "inner")
            # ambiguity gate (one extra agg over the matched join — the
            # price Delta pays for the same check): >1 matched row per
            # key means duplicate source keys or duplicate target rows;
            # any silent resolution is a COW/MOR seam (see docstring).
            # Scoped to merges WITH matched clauses — ANSI's cardinality
            # violation only applies when a matched row would be updated
            # or deleted, so an insert-only merge (both clauses None)
            # skips the gate and its extra action. Aggregate aliased
            # (never .count()): a record key literally named "count"
            # must not collide.
            if update_set or delete_condition:
                dup = (
                    matched.groupBy(
                        *[F.col(f"s.{k}") for k in self.record_keys]
                    )
                    .agg(F.count(F.lit(1)).alias("_match_cnt"))
                    .filter(F.col("_match_cnt") > 1)
                    .limit(1)
                    .collect()
                )
                if dup:
                    key_desc = ", ".join(
                        f"{k}={dup[0][k]!r}" for k in self.record_keys
                    )
                    raise ValueError(
                        f"merge_into: multiple rows matched for record "
                        f"key ({key_desc}) — duplicate keys in the "
                        f"source (or duplicate target rows from prior "
                        f"inserts) make MERGE ambiguous; pre-aggregate "
                        f"the source to one row per key first (ANSI "
                        f"MERGE / Delta raise here too)"
                    )
            if delete_condition:
                del_rows = matched.filter(F.expr(delete_condition))
                upd_base = matched.filter(
                    ~F.coalesce(F.expr(delete_condition), F.lit(False))
                )
            else:
                del_rows = matched.limit(0)
                upd_base = matched
            del_full = del_rows.select(
                *[F.col(f"t.{c}").alias(c) for c in tcols]
            )
            if update_set:
                updates = upd_base.select(
                    *[
                        F.expr(update_set.get(c, f"t.{c}")).alias(c)
                        for c in tcols
                    ]
                )
            else:
                updates = upd_base.limit(0).select(
                    *[F.col(f"t.{c}").alias(c) for c in tcols]
                )
            s_only = s.join(t, cond, "left_anti")
            if insert_condition:
                s_only = s_only.filter(F.expr(insert_condition))
            inserts = s_only.select(*tcols)
            return updates.unionByName(inserts), del_full, tcols

        base_inst = self.last_instant()
        upserts, del_full, tcols = plan()
        with self._writer_lock():
            if self.last_instant() != base_inst:
                # the table advanced between plan and lock: the gate and
                # the matched/unmatched split are stale. Re-derive under
                # the lock — no further commit can land, so this pass is
                # exact (a concurrent duplicate-landing writer now trips
                # the gate instead of evading it).
                upserts, del_full, tcols = plan()
            inst = self._next_instant(instant)
            up = self._prepare_batch(upserts, inst)
            # delete leg: combine=False — the ambiguity gate above
            # already guarantees one matched row per key, so a
            # preCombine over del_full is a pure no-op aggregation
            # (and delete batches never combine, see _prepare_batch)
            dl = self._prepare_batch(del_full, inst, combine=False)
            if self.is_mor:
                batch = up.unionByName(
                    dl.withColumn(DELETED_COL, F.lit(True))
                )
                return self._commit_mor_append(
                    self._align_schema(batch), inst, "merge"
                )
            up = self._align_schema(up)
            dl = self._align_schema(dl)
            up.persist()
            dl.persist()
            try:
                keyframe = up.unionByName(dl.select(*up.columns))
                affected, old = self._affected_files(keyframe)
                join_cols = (
                    [RECORD_KEY_COL]
                    if self.global_index
                    else [PARTITION_PATH_COL, RECORD_KEY_COL]
                )
                survivors = old.join(
                    dl.select(*join_cols).distinct(), join_cols, "left_anti"
                )
                merged = self._merge(survivors, up)
                added = self._write_data_files(merged, inst)
                self._write_manifest(
                    inst,
                    "merge",
                    up.schema,
                    added,
                    sorted({f["path"] for f in affected}),
                )
                return inst
            finally:
                up.unpersist()
                dl.unpersist()

    def _writer_lock(self):
        """Acquire the table's writer lock via the pluggable provider
        (``lock_provider``; default = O_EXCL lock file — see
        ``lake/locks.py``). Contention waits up to ``lock_wait_seconds``
        (Hudi lock-provider semantics — a live writer, e.g. the async
        compactor, finishes and the lock frees), then raises
        ``LockContention`` with the lock surfaced: a crashed writer
        leaves a stale lock an operator can remove (lazy failed-write
        cleaning is the cleaner's job, matching the reference's LAZY
        policy)."""
        os.makedirs(self.path, exist_ok=True)
        return self.lock_provider.held(self.lock_wait_seconds)

    def _prepare_batch(
        self, df: DataFrame, instant: str, combine: bool = True
    ) -> DataFrame:
        # PK-not-null gate, applied on every write path
        # (genPrimaryKeyFilter, SRC/package.scala:185-188).
        df = df.filter(pk_not_null_condition(self.record_keys))
        out = self._stamp(
            df.drop(*[c for c in META_COLS + [DELETED_COL] if c in df.columns]),
            instant,
        )
        # combine=False on DELETE paths: Hudi's combine-before-write
        # applies to insert/upsert payload merging, not delete-key
        # batches — a keys-only delete frame (the documented
        # _commit_delete contract) carries no precombine column to
        # fold on, and tombstones have no data columns to pairwise
        # fill (the r13 ADVICE finding: preCombining a MOR keys-only
        # delete raised UNRESOLVED_COLUMN on the precombine).
        if self.payload == "partial_update" and combine:
            out = self._precombine_batch(out)
        if self.is_mor:
            out = out.withColumn(DELETED_COL, F.lit(False))
        return out

    def _precombine_batch(self, batch: DataFrame) -> DataFrame:
        """Within-batch preCombine for ``payload='partial_update'`` —
        Hudi's combine-before-write, specialized to the partial-update
        payload's PAIRWISE merge: same-key rows in one batch collapse
        to a single unit whose precombine is the batch max and whose
        data columns each take the highest-precombine NON-NULL version
        — the closed form of reducing ``PartialUpdateAvroPayload.
        preCombine`` pairwise in ASCENDING precombine order. The
        pairwise merge is NOT associative (fold order matters when a
        higher-precombine null sits between non-null versions:
        ``[(6,null),(3,B),(4,C)]`` row-order-folds to ``B`` but
        ascending-folds to ``C``), so this engine DEFINES the
        reduction order — ascending precombine — where Hudi's
        arbitrary-order reduce is nondeterministic on such batches;
        ties on the precombine are unspecified, as in Hudi. Runs on
        EVERY partial_update insert/upsert path via
        :meth:`_prepare_batch` (delete-key batches skip it — they
        carry no payload to combine and may be keys-only frames with
        no precombine column at all), so one version per (key, commit)
        is a table invariant for data rows. That
        invariant is what keeps the COW union fold (:meth:`_merge`) and
        the MOR read fold (:meth:`_merged_read`) equal to the
        sequential pairwise model on histories with duplicate keys in
        a batch: without it the two folds disagree — e.g. stored
        ``(ver=5, c=null)`` + one batch ``{(3,B),(4,C)}`` read ``C`` on
        COW but fill-first ``B`` on MOR (the r12 ADVICE finding, pinned
        by ``tests/test_lake.py::
        test_partial_update_duplicate_keys_in_batch``). One hash
        aggregation over the batch (map-side combinable, batch-sized —
        the same shuffle Hudi's combine-before-upsert pays). The
        default payload is untouched: there the whole-row max-by folds
        already collapse in-batch duplicates identically on both table
        types, and the insert duplicate-key contract stays as
        documented on :meth:`_commit_insert`."""
        part_cols = (
            [RECORD_KEY_COL]
            if self.global_index
            else [PARTITION_PATH_COL, RECORD_KEY_COL]
        )
        # struct-wrapped order, never null: a bare column order would
        # make max_by SKIP null-precombine rows entirely — a key whose
        # only batch row has a null precombine would fold to a ghost
        # row of all-null columns. Wrapped, null precombine simply
        # ranks lowest (loses to any non-null), matching _merge's
        # discipline and the r12 review pin
        # (tests/test_lake.py::test_partial_update_null_precombine).
        return self._partial_fold(
            batch, part_cols, F.struct(F.col(self.precombine))
        )

    def _partial_fold(
        self,
        df: DataFrame,
        part_cols: list[str],
        order,
        extra_whole: tuple[str, ...] = (),
        drop: tuple[str, ...] = (),
    ) -> DataFrame:
        """The ONE per-column partial_update fold, shared by the COW
        union merge (:meth:`_merge`) and the within-batch preCombine
        (:meth:`_precombine_batch`) — r11 and r12 both fixed bugs in
        exactly this fold shape, so it must exist once. Per key
        (``part_cols`` group): whole-row columns (meta, precombine,
        tombstone flag, ``extra_whole``) follow the max-``order`` row;
        every data column takes its max-``order`` NON-NULL version,
        falling back to the winner's (all-null) value. One hash
        aggregation, map-side combinable. (:meth:`_merged_read` is the
        read-side twin with commit-time eligibility — a different
        contract, intentionally not unified.)"""
        winner = F.max_by(F.struct(*df.columns), order).alias("_r")
        # DELETED_COL is whole-row defensively: absent on today's
        # callers (tombstones never reach these folds), but a future
        # caller must not have the flag folded per-column like data
        whole_row = (
            set(META_COLS)
            | {self.precombine, DELETED_COL}
            | set(extra_whole)
        )
        fold_cols = [
            c
            for c in df.columns
            if c not in whole_row and c not in part_cols
        ]
        folds = [
            F.max_by(
                F.col(c), F.when(F.col(c).isNotNull(), order)
            ).alias(c)
            for c in fold_cols
        ]
        agged = df.groupBy(*part_cols).agg(winner, *folds)
        outs = []
        for c in df.columns:
            if c in drop:
                continue
            if c in part_cols:
                outs.append(F.col(c))
            elif c in whole_row:
                outs.append(F.col(f"_r.{c}").alias(c))
            else:
                outs.append(
                    F.coalesce(F.col(c), F.col(f"_r.{c}")).alias(c)
                )
        return agged.select(*outs)

    def _commit_insert(
        self,
        df: DataFrame,
        instant: str | None,
        sort_mode: str = "NONE",
        sort_files: int | None = None,
    ) -> str:
        """Append-only fast path (no key merge) — Hudi's ``insert`` op;
        with a ``sort_mode`` it is the ``bulk_insert`` initial-load
        path (see :meth:`write`).

        DUPLICATE-KEY CONTRACT (pinned by
        ``tests/test_lake.py::test_insert_duplicate_key_contract``):
        like Hudi, ``insert`` never checks the key — inserting an
        existing key creates a physical duplicate. What a READER then
        sees is table-type-dependent but DETERMINISTIC (stronger than
        Hudi, whose duplicate handling across file groups is
        explicitly undefined): COPY_ON_WRITE snapshots surface every
        duplicate as-is (merge-free reads are COW's contract) until
        the key's next upsert/delete collapses them via the standard
        max-precombine merge; MERGE_ON_READ snapshots fold duplicates
        immediately, because the MOR read merge is a global
        per-key fold — the same rule that collapses them, so the
        POST-upsert state is identical on both table types.

        ``payload='partial_update'`` is the one carve-out: there EVERY
        write path (insert included) pre-combines the batch
        (:meth:`_precombine_batch` — Hudi's combine-before-write, which
        partial-update payloads require), so a duplicate-key insert
        lands as ONE pairwise-merged row on both table types and the
        one-version-per-(key, commit) invariant the fold equivalence
        rests on always holds."""
        inst = self._next_instant(instant)
        batch = self._prepare_batch(df, inst)
        if self.exists():
            batch = self._align_schema(batch)
        batch = self._apply_bulk_sort(batch, sort_mode, sort_files)
        # MOR inserts land as BASE files (Hudi routes inserts to parquet
        # base, only merges/deletes to the log). sort_mode=NONE is the
        # explicit cheapest-write contract — no key sort either; the
        # sorted modes already ordered by (partition, key).
        added = self._write_data_files(
            batch, inst, kind="base", key_sort=sort_mode != "NONE"
        )
        self._write_manifest(inst, "insert", batch.schema, added, [])
        return inst

    def _apply_bulk_sort(
        self, batch: DataFrame, sort_mode: str, sort_files: int | None
    ) -> DataFrame:
        """Hudi ``hoodie.bulkinsert.sort.mode`` analog over the stamped
        batch. GLOBAL_SORT range-shuffles on (partition path, record
        key) — each task, and therefore each output file within a
        partition dir, owns a disjoint key range, so the manifest's
        ``key_min``/``key_max`` become maximally selective for every
        later read and upsert plan. PARTITION_SORT only sorts within
        the existing tasks (no shuffle). The sort key leads with the
        partition path so GLOBAL_SORT tasks rarely straddle partition
        dirs (Hudi sorts the same composite)."""
        if sort_mode == "NONE":
            return batch
        keys = (
            [PARTITION_PATH_COL, RECORD_KEY_COL]
            if self.partition_keys
            else [RECORD_KEY_COL]
        )
        if sort_mode == "GLOBAL_SORT":
            cols = [F.col(k) for k in keys]
            ranged = (
                batch.repartitionByRange(sort_files, *cols)
                if sort_files
                else batch.repartitionByRange(*cols)
            )
            return ranged.sortWithinPartitions(*keys)
        if sort_mode == "PARTITION_SORT":
            return batch.sortWithinPartitions(*keys)
        raise ValueError(
            f"unknown sort_mode {sort_mode!r}; use NONE, GLOBAL_SORT, "
            f"or PARTITION_SORT"
        )

    def _commit_insert_overwrite(
        self, df: DataFrame, instant: str | None
    ) -> str:
        """Hudi's ``insert_overwrite``: REPLACE the contents of every
        partition the batch touches (whole table when unpartitioned)
        with the batch — the idempotent full-refresh op for dimension
        reloads and backfills. No key merge: the batch IS the new
        partition content. One commit: ``added`` = the batch's files,
        ``replaced`` = the touched partitions' previous live files —
        untouched partitions carry over by manifest reference, so the
        cost scales with the REFRESHED slice, never the table."""
        inst = self._next_instant(instant)
        batch = self._prepare_batch(df, inst)
        if self.exists():
            batch = self._align_schema(batch)
        live = self._live_files() if self.exists() else []
        if self.partition_keys and live:
            batch.persist()
            try:
                pps = {
                    r[0]
                    for r in batch.select(PARTITION_PATH_COL)
                    .distinct()
                    .collect()
                }
                doomed = [
                    f["path"] for f in live if f["partition_path"] in pps
                ]
                added = self._write_data_files(batch, inst, kind="base")
            finally:
                batch.unpersist()
        else:
            doomed = [f["path"] for f in live]
            added = self._write_data_files(batch, inst, kind="base")
        self._write_manifest(
            inst, "insert_overwrite", batch.schema, added, doomed
        )
        return inst

    def _commit_upsert(self, df: DataFrame, instant: str | None) -> str:
        inst = self._next_instant(instant)
        batch = self._prepare_batch(df, inst)
        if self.is_mor:
            return self._commit_mor_append(batch, inst, "upsert")
        # M1 — persist around multi-action writes (SRC/package.scala:66,78):
        # on an existing table the batch feeds partition discovery, the
        # key-range agg, the key-hit scan AND the merge; only the
        # creating commit evaluates it once.
        reuse = self.exists() or bool(self.partition_keys)
        if reuse:
            batch.persist()
        try:
            return self._commit_upsert_inner(batch, inst)
        finally:
            if reuse:
                batch.unpersist()

    def _commit_upsert_inner(self, batch: DataFrame, inst: str) -> str:
        if not self.exists():
            # intra-batch dedup still applies on the creating commit
            deduped = self._merge(
                _empty_df(self.spark, batch.schema), batch
            )
            added = self._write_data_files(deduped, inst)
            self._write_manifest(inst, "upsert", batch.schema, added, [])
            return inst
        batch = self._align_schema(batch)

        affected, old = self._affected_files(batch)
        merged = self._merge(old, batch)
        added = self._write_data_files(merged, inst)
        affected_set = {f["path"] for f in affected}
        self._write_manifest(
            inst, "upsert", batch.schema, added, sorted(affected_set)
        )
        return inst

    def _commit_delete(self, df: DataFrame, instant: str | None) -> str:
        """Delete by key (Hudi ``delete`` op; CDC DELETE routing,
        ``SRC/cdc/CanalParser.scala:13``). Partition-scoped unless
        ``global_index``; the delete batch only needs the key columns
        (plus partition columns when scoped)."""
        if not self.exists():
            raise ValueError("delete on non-existent table")
        inst = self._next_instant(instant)
        if self.is_mor:
            # tombstone delta: stored-schema row with _deleted=true; the
            # read merge kills every data row committed before it
            tomb = self._align_schema(
                self._prepare_batch(df, inst, combine=False).withColumn(
                    DELETED_COL, F.lit(True)
                )
            )
            return self._commit_mor_append(tomb, inst, "delete")
        keys = df.filter(pk_not_null_condition(self.record_keys))
        keys = self._stamp(keys, inst)
        keys.persist()  # M1 — reused for partition discovery + anti-join

        affected, old = self._affected_files(keys)
        join_cols = [RECORD_KEY_COL] if self.global_index else [
            PARTITION_PATH_COL,
            RECORD_KEY_COL,
        ]
        survivors = old.join(
            keys.select(*join_cols).distinct(), join_cols, "left_anti"
        )
        try:
            added = self._write_data_files(survivors, inst)
            affected_set = {f["path"] for f in affected}
            self._write_manifest(
                inst, "delete", self._stored_schema(), added,
                sorted(affected_set),
            )
        finally:
            keys.unpersist()
        return inst

    def _commit_mor_append(
        self, batch: DataFrame, inst: str, action: str
    ) -> str:
        """MOR write path: append delta files, zero rewrite — write cost
        is O(batch), deferred to the read merge / compaction (the trade
        the reference buys with MERGE_ON_READ, ``SRC/MSK2Hudi.scala:42``).
        """
        if self.exists():
            batch = self._align_schema(batch)
        added = self._write_data_files(batch, inst, kind="delta")
        self._write_manifest(inst, action, batch.schema, added, [])
        if self.inline_compact_deltas is not None:
            if self._delta_commits_since_compact() >= self.inline_compact_deltas:
                self._compact_locked(None, 1)
        return inst

    def _delta_commits_since_compact(self) -> int:
        """Commits that actually ADDED delta files since the last
        compaction — base-file inserts don't need folding and must not
        trigger premature full-table rewrites (Hudi counts the same)."""
        n = 0
        for i in reversed(self.timeline()):
            m = self._manifest(i)
            if m["action"] == "compact":
                break
            if any(f.get("kind") == "delta" for f in m["added"]):
                n += 1
        return n

    def _merged_read(self, df: DataFrame) -> DataFrame:
        """MOR snapshot merge: newest surviving row per key. Data rows
        committed before a key's newest tombstone are dead (matching the
        COW delete-then-reinsert semantics exactly); among the live rows
        the ``(precombine, _commit_time)`` max wins. Hash aggregations
        with map-side partial combine — no sort.

        With ``payload='partial_update'`` the aggregation additionally
        folds each data column to its newest ELIGIBLE non-null version
        (one ``max_by`` per column plus a running-max window for
        eligibility — see the inline note) — the MOR twin of
        :meth:`_merge`'s COW fold. Soundness of column
        inheritance under deletes is the tombstone filter ABOVE the
        fold: every version at or before a key's newest tombstone is
        dropped first, so a patch can never inherit a column through a
        delete — the exact property the COW path gets from eager delete
        materialization. Note for :meth:`incremental` (which reuses
        this merge over in-range files only): the fold sees in-range
        versions, so a sparse patch surfaces with nulls for columns
        last set before the range — Hudi's partial-update payload has
        the same incremental-read caveat.

        The fold's row-level (commit, precombine) replay equals the
        commit-unit pairwise model because partial_update write paths
        pre-combine every batch (:meth:`_precombine_batch`): one
        version per (key, commit) is a table invariant. The remaining
        ways to violate it are adopting foreign files via bootstrap
        (where the fold degrades to row-level replay of the
        duplicates) and a same-commit tombstone + data row for one
        key, which only an ambiguous MERGE could produce — and
        :meth:`merge_into` raises on ambiguous matches instead of
        committing one."""
        part_cols = (
            [RECORD_KEY_COL]
            if self.global_index
            else [PARTITION_PATH_COL, RECORD_KEY_COL]
        )
        out_cols = [c for c in df.columns if c != DELETED_COL]
        if DELETED_COL in df.columns:
            is_tomb = F.coalesce(F.col(DELETED_COL), F.lit(False))
            tombs = (
                df.filter(is_tomb)
                .groupBy(*part_cols)
                .agg(F.max(COMMIT_TIME_COL).alias("_tomb_ct"))
            )
            df = (
                df.filter(~is_tomb)
                .join(tombs, part_cols, "left")
                .filter(
                    F.col("_tomb_ct").isNull()
                    | (F.col(COMMIT_TIME_COL) > F.col("_tomb_ct"))
                )
                .drop("_tomb_ct")
            )
        order = F.struct(F.col(self.precombine), F.col(COMMIT_TIME_COL))
        winner = F.max_by(F.struct(*df.columns), order).alias("_r")
        if self.payload == "partial_update":
            # Sequential-fold equivalence (matches the COW write-time
            # fold composed across commits, and Hudi's
            # PartialUpdateAvroPayload pairwise log merge): replaying
            # the versions in (commit, precombine) order against a
            # COW-materialized row — where surviving column values are
            # re-attributed the stored row's max precombine — a version
            # OVERWRITES a column iff its precombine ties-or-beats the
            # running max (eligibility below), and FILLS a still-null
            # column unconditionally (Hudi's payload takes the losing
            # record's field whenever the winner's is null — a stale
            # sparse patch still lands in columns nobody has set). The
            # closed form per column: the newest ELIGIBLE non-null
            # version if any — each eligible non-null overwrite
            # supersedes everything before it — else the FIRST non-null
            # version ever (it filled the null owner, and later
            # non-eligible versions can never overwrite a non-null).
            # Two hash aggs per column + one running-max window; the
            # window only on partial_update tables, and versions per
            # key between compactions are few by design. (The
            # fill-from-stale leg was missing before r11: MOR read
            # folds diverged from the COW write fold — and from the
            # Hudi payload — exactly on stale sparse patches;
            # tests/test_lake_fuzz.py now pins COW ≡ MOR ≡ model over
            # randomized histories.)
            from pyspark.sql.window import Window

            run_w = (
                Window.partitionBy(*part_cols)
                .orderBy(F.col(COMMIT_TIME_COL), F.col(self.precombine))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            # struct-wrapped running max + null-safe equality: a bare
            # max() ignores null precombines and bare == yields SQL
            # NULL on them, so an all-null-precombine key had NO
            # eligible version and fell through to the fill-first leg
            # — oldest non-null won on MOR while COW's ties->incoming
            # order let the newest win (r12 review find, live COW/MOR
            # divergence). Wrapped, a null precombine simply ranks
            # lowest and null ties null, so ties resolve by commit
            # order exactly like _merge's (precombine, _is_new).
            df = df.withColumn(
                "_run_max",
                F.max(F.struct(F.col(self.precombine))).over(run_w),
            )
            elig = F.struct(F.col(self.precombine)).eqNullSafe(
                F.col("_run_max")
            )
            fold_order = F.struct(
                F.col(COMMIT_TIME_COL), F.col(self.precombine)
            )
            whole_row = set(META_COLS) | {
                self.precombine, DELETED_COL, "_run_max"
            }
            fold_cols = [
                c
                for c in df.columns
                if c not in whole_row and c not in part_cols
            ]
            folds = [
                F.max_by(
                    F.col(c),
                    F.when(elig & F.col(c).isNotNull(), fold_order),
                ).alias(c)
                for c in fold_cols
            ] + [
                F.min_by(
                    F.col(c),
                    F.when(F.col(c).isNotNull(), fold_order),
                ).alias(f"_ff_{c}")
                for c in fold_cols
            ]
            agged = df.groupBy(*part_cols).agg(winner, *folds)
            outs = []
            for c in out_cols:
                if c in part_cols:
                    outs.append(F.col(c))
                elif c in whole_row:
                    outs.append(F.col(f"_r.{c}").alias(c))
                else:
                    outs.append(
                        F.coalesce(
                            F.col(c), F.col(f"_ff_{c}"), F.col(f"_r.{c}")
                        ).alias(c)
                    )
            return agged.select(*outs)
        # the tombstone join moves its key columns to the front — restore
        # the stored column order
        return df.groupBy(*part_cols).agg(winner).select(
            *[F.col(f"_r.{c}") for c in out_cols]
        )

    # ------------------------------------------------------------ internals

    #: value-preserving type promotions (Hudi/Iceberg type-widening
    #: evolution): a batch column arriving WIDER than the stored type
    #: widens the table schema instead of being cast down (a down-cast
    #: would overflow-throw under ANSI the day a producer's id column
    #: outgrows int32). Parquet reads serve OLD narrow files under the
    #: widened schema natively (Spark 4 upcasts int32→long,
    #: float→double at scan — probed, not assumed), so widening is
    #: metadata-only: no history rewrite.
    _WIDEN_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}

    @classmethod
    def _widen(cls, stored_dt, batch_dt):
        """The column type to store when a batch brings ``batch_dt``
        into a ``stored_dt`` column: the wider of the two along a safe
        promotion chain, else the stored type (existing cast-to-stored
        behavior)."""
        s, b = stored_dt.simpleString(), batch_dt.simpleString()
        if s == b:
            return stored_dt
        if s in cls._WIDEN_RANK and b in cls._WIDEN_RANK:
            return batch_dt if cls._WIDEN_RANK[b] > cls._WIDEN_RANK[s] else stored_dt
        if s == "float" and b == "double":
            return batch_dt
        return stored_dt

    def _align_schema(self, batch: DataFrame) -> DataFrame:
        """Schema evolution on write, Hudi-style semantics: batch
        columns missing from the table → null (the reference gets this
        implicitly from ``from_json`` against the target schema,
        ``SRC/cdc/CanalParser.scala:44-46``); NEW batch columns widen
        the table schema — appended after the stored fields, the
        commit's manifest records the widened schema, and older data
        files (which lack the column) read back as null; an existing
        column arriving at a WIDER primitive type (int→long,
        float→double, …) widens the column in place (see
        :meth:`_widen`). No history rewrite: evolution is
        metadata-only, exactly the COW-cheap path.
        """
        stored = self._stored_schema()
        stored_names = [f.name for f in stored.fields]
        batch_fields = {f.name: f for f in batch.schema.fields}
        cols = []
        for f in stored.fields:
            if f.name in batch_fields:
                dt = self._widen(f.dataType, batch_fields[f.name].dataType)
                cols.append(F.col(f.name).cast(dt).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        for c in batch.columns:  # additive evolution, batch order
            if c not in stored_names:
                cols.append(F.col(c))
        return batch.select(*cols)

    def _affected_files(self, batch: DataFrame) -> tuple[list[dict], DataFrame]:
        """Files that must be rewritten for this batch, plus their rows.

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
        """
        live = self._live_files()
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
        else:
            # unpartitioned table (single "" partition) or global index
            candidates = live
        if len(candidates) > 1:
            candidates = self._key_hit_files(candidates, batch, minmax=minmax)
        return candidates, self._read_files([f["path"] for f in candidates])

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
        collect below: skip the probe when Catalyst's plan-size
        estimate PROVES the batch is far beyond point-sized, so large
        batches (which would overflow the key cap and fall back to the
        Spark path anyway) no longer pay an extra pass per commit.
        Unknown or default-inflated estimates keep the probe — only
        confident evidence disables a fast path, so point batches from
        any source keep their r9 planning wins.
        ``driver_probe_max_keys=0`` disables the probe outright."""
        if self.driver_probe_max_keys <= 0:
            return False
        try:
            plan = batch._jdf.queryExecution().optimizedPlan()
            size = int(str(plan.stats().sizeInBytes()))
            # Without CBO, Filter/Join nodes pass the CHILD's size
            # through unchanged — a 1-row point batch filtered out of
            # a 300 MB source estimates 300 MB. Such estimates are an
            # upper bound, not evidence; keep the probe (r10
            # self-review finding — the gate must only fire on
            # trustworthy "clearly huge" verdicts). Detection walks the
            # tree's ``nodeName()`` (derived from the operator CLASS
            # name, stable across Spark's string-rendering changes)
            # instead of substring-matching ``plan.toString()`` (r10
            # ADVICE); ``tests/test_write_fastpath.py`` pins the names
            # against the running Spark.
            shrinkable = self._plan_has_node(
                plan, ("Filter", "Join", "Aggregate")
            )
        except Exception:
            return True
        # sane, known estimate far above point scale → clearly not a
        # point batch (1 << 61 guards the Long.MaxValue "unknown"
        # default and inflated garbage)
        return not (
            not shrinkable
            and 0 < size < (1 << 61)
            and size > 8 * self.driver_probe_max_bytes
        )

    def _key_hit_files(
        self,
        candidates: list[dict],
        batch: DataFrame,
        minmax: tuple | None = None,
    ) -> list[dict]:
        """File targeting: range-prune candidates against the manifest's
        per-file key stats (driver-side, no I/O), then scan the
        survivors' key columns and keep files holding a batch key.

        With ``bloom_index``, range-prune survivors are additionally
        probed against their per-file blooms (``_bloom_hit_files``) —
        the pruning path for RANDOM keys where min/max covers the whole
        key space. With ``record_index`` and full index coverage of the
        candidates, the persistent key→file index is probed instead —
        the candidate set comes from a join against the (narrow) index
        table, and no data file's key column is scanned at all."""
        self.last_range_pruned = 0
        self.last_bloom_pruned = 0
        self.last_bucket_pruned = 0
        join_cols = (
            [RECORD_KEY_COL]
            if self.global_index
            else [PARTITION_PATH_COL, RECORD_KEY_COL]
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
        pairs: list[tuple] | None = None
        if self._point_probe_plausible(batch):
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
        if self.bucket_index and len(candidates) > 1:
            candidates = self._bucket_hit_files(candidates, batch, keys=keys)
            if not candidates:
                return []
        if self.record_index and candidates and all(
            f.get("indexed") for f in candidates
        ):
            return self._index_hit_files(candidates, batch, keys=keys)
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
            pruned = [
                f
                for f in candidates
                if f.get("key_min") is None
                or not (f["key_max"] < lo or f["key_min"] > hi)
            ]
            self.last_range_pruned = len(candidates) - len(pruned)
            candidates = pruned
            if not candidates:
                return []
        if self.bloom_index and len(candidates) > 1:
            candidates = self._bloom_hit_files(candidates, batch, keys=keys)
            if not candidates:
                return []
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
                    return []  # no non-null batch keys ⇒ no key hits
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
                return kept
        scans = []
        if internal_c:
            scans.append(
                self._read_files([f["path"] for f in internal_c]).select(
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
                    self._stored_schema(),
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
        return [
            f
            for f in candidates
            if os.path.abspath(os.path.join(self.path, f["path"])) in hit_paths
        ]

    def _bucket_expr(self):
        """A record key's bucket id: ``pmod(xxhash64(key), n)``.
        The write layout and batch planning compute it Spark-side;
        literal-key point probes use the Python XXH64 twin
        (``lake/xxh.py`` — drift is impossible while the parity test
        pins both implementations to the same values)."""
        return F.pmod(
            F.xxhash64(F.col(RECORD_KEY_COL)), F.lit(self.bucket_index)
        ).cast("int")

    def _bucket_hit_files(
        self,
        candidates: list[dict],
        batch: DataFrame,
        keys: list[str] | None = None,
    ) -> list[dict]:
        """Bucket-index candidate targeting: one tiny agg job derives
        the batch's distinct bucket ids (≤ n ints to the driver) and
        the candidate set shrinks to the hit buckets' files — no index
        table, no bloom I/O, no key scan. Files with no bucket stamp,
        or stamped under a DIFFERENT bucket count (pre-bucketing
        vintage, adopted externals, a resized table), are kept
        unconditionally: a key can only be guaranteed absent from a
        file that was provably written under the CURRENT modulus."""
        n = self.bucket_index
        if not any(
            f.get("bucket") is not None and f.get("bucket_n") == n
            for f in candidates
        ):
            return candidates
        if keys is not None:
            # precollected point batch: bucket ids via the XXH64 twin
            batch_buckets = {xxh_shard(k, n) for k in keys}
        else:
            batch_buckets = {
                r[0]
                for r in batch.select(self._bucket_expr().alias("b"))
                .distinct()
                .collect()
            }
        kept = [
            f
            for f in candidates
            if f.get("bucket") is None
            or f.get("bucket_n") != n
            or f["bucket"] in batch_buckets
        ]
        self.last_bucket_pruned = len(candidates) - len(kept)
        return kept

    #: driver-probe gates: a probe whose DISTINCT operand keys fit
    #: under ``max_keys`` AND whose matched shard files total under
    #: ``max_bytes`` is served driver-side (pure pyarrow seeks, zero
    #: Spark jobs — the Hudi HFile-seek analog for point lookups);
    #: anything bigger takes the Spark path (``lake/index.py``). Class
    #: attrs so tests can force either path.
    driver_probe_max_keys = 1024
    driver_probe_max_bytes = 32 << 20

    def _index_hit_files(
        self,
        candidates: list[dict],
        batch: DataFrame,
        keys: list[str] | None = None,
    ) -> list[dict]:
        """Probe the persistent record index for the batch's keys: stale
        entries (replaced files) drop out because the result is
        intersected with the live candidate set, and only the keys'
        shard dirs of each candidate's instant are read, so planning
        I/O scales with keys touched, not index size. Point-sized
        batches (``keys`` precollected by :meth:`_key_hit_files`) probe
        driver-side with zero Spark jobs while the matched shard bytes
        fit the gate; larger batches join their distinct keys in one
        Spark scan."""
        operands = (
            keys
            if keys is not None
            else batch.select(RECORD_KEY_COL).distinct()
        )
        hit = self._record_idx.probe(candidates, operands)
        return [f for f in candidates if f["path"] in hit]

    def _record_prune_reads(
        self, files: list[dict], predicate: list[tuple]
    ) -> list[dict]:
        """Read-side record-index point-lookup pruning (the read twin
        of ``_index_hit_files``'s write planning): an ``=``/``in``
        condition on the RECORD KEY probes the persistent key→file
        index and keeps exactly the files the index maps an operand key
        to. EXACT, not probabilistic: every indexed file's keys were
        written to its commit's index shard at publish, so a no-hit
        file provably holds no operand key — and, as with bucket
        pruning, that makes the prune unconditionally MOR-safe (any row
        the merge could surface from a pruned file would fail the
        key-equality row filter anyway). Requires full coverage (every
        live file ``indexed``); partial coverage keeps everything.

        Operand keys are LITERALS, so the probe needs no Spark job while
        the matched shard bytes fit the driver gate: Python-side shard
        ids (XXH64 parity, tests/test_xxh.py) + pyarrow seeks into ~one
        row group per operand per instant. This is what makes an
        indexed point read point-COST: the only Spark job left is the
        single-file data scan."""
        self.last_record_read_pruned = 0
        if not self.record_index or len(files) <= 1:
            return files
        if not all(f.get("indexed") for f in files):
            return files  # partial coverage: conservative keep-all
        vals: list[str] | None = None
        for col, op, val in predicate:
            if col != RECORD_KEY_COL or op not in ("=", "in"):
                continue
            ops = list(val) if op == "in" else [val]
            if all(isinstance(v, str) for v in ops):
                vals = sorted(set(ops))
                break
        if not vals:
            return files
        hit = self._record_idx.probe(files, vals)
        kept = [f for f in files if f["path"] in hit]
        self.last_record_read_pruned = len(files) - len(kept)
        return kept

    def _rel_fp_expr(self):
        """``_metadata.file_path`` relativized against the table root.

        Index/bloom entries store fp TABLE-ROOT-RELATIVE (like manifest
        paths), so they — like the rest of the engine — survive a table
        directory move/rename/remount; absolute-path entries would
        silently stop matching after relocation (round-2 advice).
        ``_metadata.file_path`` is a percent-encoded file URI: strip
        scheme, decode, strip root."""
        root = os.path.abspath(self.path).rstrip("/") + "/"
        return F.regexp_replace(
            F.url_decode(
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
            ),
            "^" + re.escape(root),
            "",
        )

    def _write_bloom_sidecar(self, instant: str, added: list[dict]) -> None:
        """Build one bloom per added file and persist the commit's
        sidecar ``_bloom/<instant>.json`` (``{rel_path: b64_bitset}``,
        atomic rename).

        The build is DISTRIBUTED: one Arrow-batched ``applyInPandas``
        pass over the commit's files grouped by file path — each group
        hashes its own keys and emits a single (fp, bloom) row, so the
        driver only ever sees file-count rows of ~``nbits/8`` bytes.
        Matches where Hudi computes blooms: in the writer, once, at
        file-write time."""
        nbits, k = self.bloom_bits, self.bloom_hashes
        # point-sized commits build driver-side with the SAME
        # lake/bloom.py functions the Arrow kernel is parity-pinned
        # against (test_bloom_kernel_matches_module) — bit-identical
        # sidecars, no Spark job. Same gate as the index builds.
        if driver_buildable(self, added):
            sidecar = {}
            for f in added:
                tbl = pa_pq.read_table(
                    os.path.join(self.path, f["path"]),
                    columns=[RECORD_KEY_COL],
                )
                sidecar[f["path"]] = bloom_mod.bloom_to_b64(
                    bloom_mod.build_bloom(
                        tbl.column(RECORD_KEY_COL).to_pylist(), nbits, k
                    )
                )
            self._persist_bloom_sidecar(instant, sidecar)
            return
        rows = self._read_files(
            [f["path"] for f in added], schema=_KEY_SCHEMA
        ).select(
            self._rel_fp_expr().alias("fp"),
            F.col(RECORD_KEY_COL).alias("key"),
        )

        # SELF-CONTAINED kernel (imports inside, no package globals):
        # cloudpickle ships it by value, so Python workers never need
        # the repo on their import path — the same constraint every
        # Arrow kernel in operators/ honors. Logic mirrors
        # lake/bloom.py key_positions/build_bloom exactly (unit-tested
        # there; test_bloom_kernel_matches_module pins the parity).
        def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import base64 as _b64
            import hashlib as _hashlib

            import numpy as _np
            import pandas as _pd

            keys = pdf["key"].tolist()
            h = _np.empty((len(keys), 2), dtype=_np.uint64)
            for j, key in enumerate(keys):
                d = _hashlib.blake2b(
                    str(key).encode("utf-8"), digest_size=16
                ).digest()
                h[j, 0] = int.from_bytes(d[:8], "little")
                h[j, 1] = int.from_bytes(d[8:], "little") | 1
            i = _np.arange(k, dtype=_np.uint64)
            pos = (h[:, :1] + i[None, :] * h[:, 1:2]) % _np.uint64(nbits)
            bits = _np.zeros(nbits, dtype=_np.uint8)
            if len(keys):
                bits[pos.ravel()] = 1
            packed = _np.packbits(bits, bitorder="little").tobytes()
            return _pd.DataFrame(
                {
                    "fp": [pdf["fp"].iloc[0]],
                    "bloom": [_b64.b64encode(packed).decode("ascii")],
                }
            )

        built = (
            rows.groupBy("fp")
            .applyInPandas(_build, "fp string, bloom string")
            .collect()
        )
        sidecar = {r["fp"]: r["bloom"] for r in built}
        # files written empty (e.g. an all-filtered partition split)
        # produce no group — record an explicit empty bloom so the
        # probe can prune them instead of falling back to "keep"
        empty = None
        for f in added:
            if f["path"] not in sidecar:
                if empty is None:
                    empty = bloom_mod.bloom_to_b64(
                        bloom_mod.build_bloom([], nbits, k)
                    )
                sidecar[f["path"]] = empty
        self._persist_bloom_sidecar(instant, sidecar)

    def _persist_bloom_sidecar(self, instant: str, sidecar: dict) -> None:
        os.makedirs(self.bloom_dir, exist_ok=True)
        tmp = os.path.join(self.bloom_dir, f".{instant}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(sidecar, fh)
        os.replace(tmp, os.path.join(self.bloom_dir, instant + ".json"))
        self._bloom_sidecars[instant] = sidecar

    def _bloom_for(self, f: dict) -> str | None:
        """b64 bloom for a live-file entry, via the lazily-cached
        per-instant sidecar; None when the file predates the index."""
        if not f.get("bloom"):
            return None
        # manifest paths are data/<instant>/... — derive the sidecar
        parts = f["path"].replace(os.sep, "/").split("/")
        if len(parts) < 2:
            return None
        instant = parts[1]
        if instant not in self._bloom_sidecars:
            try:
                with open(
                    os.path.join(self.bloom_dir, instant + ".json")
                ) as fh:
                    self._bloom_sidecars[instant] = json.load(fh)
            except FileNotFoundError:
                self._bloom_sidecars[instant] = {}
        return self._bloom_sidecars[instant].get(f["path"])

    def _bloom_hit_files(
        self,
        candidates: list[dict],
        batch: DataFrame,
        keys: list[str] | None = None,
    ) -> list[dict]:
        """Bloom probe between range-pruning and the exact key scan:
        drop candidate files whose bloom definitely excludes EVERY
        batch key. Files without a bloom (pre-index commits) are kept
        unconditionally; bloom false positives survive to the exact
        scan — either way results are exact, pruning is best-effort.

        100 TB shape: the probe is a single narrow ``mapInPandas`` pass
        over the batch's distinct keys with the candidate blooms
        broadcast (~``nbits/8`` bytes × range-prune survivors — the
        range prune and partition prune bound the broadcast). Each key's
        k positions are hashed ONCE (table-wide geometry) and tested
        against every candidate bitset vectorized; output is hit file
        paths only, bounded by candidate count. No data-file I/O, no
        shuffle beyond the keys' ``distinct``."""
        self.last_bloom_pruned = 0
        with_bloom: list[tuple[dict, str]] = []
        without: list[dict] = []
        for f in candidates:
            b = self._bloom_for(f)
            if b is None:
                without.append(f)
            else:
                with_bloom.append((f, b))
        if not with_bloom:
            return candidates
        nbits, k = self.bloom_bits, self.bloom_hashes
        if keys is not None:
            # precollected point batch: hash the k positions once in
            # Python (same lake/bloom.py functions the kernel mirrors)
            # and test each candidate bitset vectorized — no job, no
            # broadcast
            pos = bloom_mod.key_positions(keys, nbits, k)
            hit_paths = {
                f["path"]
                for f, b in with_bloom
                if len(keys)
                and bool(
                    bloom_mod.might_contain(
                        bloom_mod.bloom_from_b64(b), pos
                    ).any()
                )
            }
            without_ids = {id(f) for f in without}
            kept = [
                f
                for f in candidates
                if id(f) in without_ids or f["path"] in hit_paths
            ]
            self.last_bloom_pruned = len(candidates) - len(kept)
            return kept
        payload = [(f["path"], b) for f, b in with_bloom]
        bc = self.spark.sparkContext.broadcast(payload)
        key_col = RECORD_KEY_COL

        # self-contained kernel (see _write_bloom_sidecar for why)
        def _probe(batches):
            import base64 as _b64
            import hashlib as _hashlib

            import numpy as _np
            import pandas as _pd

            decoded = [
                (
                    p,
                    _np.unpackbits(
                        _np.frombuffer(_b64.b64decode(s), dtype=_np.uint8),
                        bitorder="little",
                    ),
                )
                for p, s in bc.value
            ]
            for pdf in batches:
                if not len(pdf):
                    continue
                keys = pdf[key_col].tolist()
                h = _np.empty((len(keys), 2), dtype=_np.uint64)
                for j, key in enumerate(keys):
                    d = _hashlib.blake2b(
                        str(key).encode("utf-8"), digest_size=16
                    ).digest()
                    h[j, 0] = int.from_bytes(d[:8], "little")
                    h[j, 1] = int.from_bytes(d[8:], "little") | 1
                i = _np.arange(k, dtype=_np.uint64)
                pos = (h[:, :1] + i[None, :] * h[:, 1:2]) % _np.uint64(
                    nbits
                )
                hits = [
                    p
                    for p, bits in decoded
                    if bits[pos].all(axis=1).any()
                ]
                yield _pd.DataFrame({"fp": hits})

        hit_paths = {
            r[0]
            for r in (
                batch.select(RECORD_KEY_COL)
                .distinct()
                .mapInPandas(_probe, "fp string")
                .distinct()
                .collect()
            )
        }
        bc.destroy()
        without_ids = {id(f) for f in without}
        kept = [
            f
            for f in candidates
            if id(f) in without_ids or f["path"] in hit_paths
        ]
        self.last_bloom_pruned = len(candidates) - len(kept)
        return kept

    # ------------------------------- secondary (non-key-column) blooms

    def _write_col_bloom_sidecar(
        self, instant: str, added: list[dict], schema: T.StructType
    ) -> None:
        """Build one bloom per (added file, bloom column) and persist
        the commit's sidecar ``_bloom_cols/<instant>.json`` —
        ``{"nbits": n, "k": k, "files": {rel_path: {col: b64}}}``,
        atomic rename. Self-describing geometry: probes use the
        sidecar's recorded (nbits, k), so later config changes never
        corrupt existing indexes.

        Values are canonicalized by Spark's ``cast("string")`` BEFORE
        hashing; the read-side probe (:meth:`_bloom_operand`) only
        hashes operands whose canonical string form it can reproduce
        exactly (str/int/bool) and keeps the file otherwise — exactness
        over pruning. NULLs are excluded (``=``/``in`` never match
        NULL). A bloom column absent from this commit's schema gets an
        explicit EMPTY bloom: the file provably holds no value of it.

        100 TB shape: like the key bloom, the build is one distributed
        Arrow pass over the commit's files (one output row per
        file × column, ~``nbits/8`` bytes each); the probe is
        driver-side — O(operands · k) hashing + a cached 16 KiB bitset
        load per candidate file, no data I/O, no jobs."""
        names = {f.name for f in schema.fields}
        present = [c for c in self.bloom_columns if c in names]
        nbits, k = self.col_bloom_bits, self.col_bloom_hashes
        built: list = []
        if present:
            read_schema = T.StructType(
                [f for f in schema.fields if f.name in present]
            )
            rows = self._read_files(
                [f["path"] for f in added], schema=read_schema
            ).select(
                self._rel_fp_expr().alias("fp"),
                *[F.col(c).cast("string").alias(c) for c in present],
            )
            cols = list(present)

            # self-contained kernel (see _write_bloom_sidecar for why);
            # parity with lake/bloom.py pinned by
            # test_col_bloom_kernel_matches_module
            def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
                import base64 as _b64
                import hashlib as _hashlib

                import numpy as _np
                import pandas as _pd

                out_col, out_bloom = [], []
                for c in cols:
                    vals = pdf[c].dropna().unique().tolist()
                    h = _np.empty((len(vals), 2), dtype=_np.uint64)
                    for j, v in enumerate(vals):
                        d = _hashlib.blake2b(
                            str(v).encode("utf-8"), digest_size=16
                        ).digest()
                        h[j, 0] = int.from_bytes(d[:8], "little")
                        h[j, 1] = int.from_bytes(d[8:], "little") | 1
                    i = _np.arange(k, dtype=_np.uint64)
                    pos = (h[:, :1] + i[None, :] * h[:, 1:2]) % _np.uint64(
                        nbits
                    )
                    bits = _np.zeros(nbits, dtype=_np.uint8)
                    if len(vals):
                        bits[pos.ravel()] = 1
                    packed = _np.packbits(
                        bits, bitorder="little"
                    ).tobytes()
                    out_col.append(c)
                    out_bloom.append(
                        _b64.b64encode(packed).decode("ascii")
                    )
                return _pd.DataFrame(
                    {
                        "fp": [pdf["fp"].iloc[0]] * len(out_col),
                        "col": out_col,
                        "bloom": out_bloom,
                    }
                )

            built = (
                rows.groupBy("fp")
                .applyInPandas(_build, "fp string, col string, bloom string")
                .collect()
            )
        files: dict[str, dict[str, str]] = {}
        for r in built:
            files.setdefault(r["fp"], {})[r["col"]] = r["bloom"]
        # empty files produce no group; columns missing from this
        # commit's schema produce no row — both get explicit empty
        # blooms (the file provably holds no non-null value)
        empty = None
        for f in added:
            per = files.setdefault(f["path"], {})
            for c in self.bloom_columns:
                if c not in per:
                    if empty is None:
                        empty = bloom_mod.bloom_to_b64(
                            bloom_mod.build_bloom([], nbits, k)
                        )
                    per[c] = empty
        sidecar = {"nbits": nbits, "k": k, "files": files}
        os.makedirs(self.col_bloom_dir, exist_ok=True)
        tmp = os.path.join(self.col_bloom_dir, f".{instant}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(sidecar, fh)
        os.replace(
            tmp, os.path.join(self.col_bloom_dir, instant + ".json")
        )
        self._col_bloom_sidecars[instant] = sidecar

    def _col_blooms_for(self, f: dict) -> tuple[int, int, dict] | None:
        """(nbits, k, {col: b64-or-decoded}) for a live-file entry via
        the lazily-cached per-instant sidecar; None when the file
        predates the index (kept unconditionally)."""
        if not f.get("col_bloom"):
            return None
        parts = f["path"].replace(os.sep, "/").split("/")
        if len(parts) < 2:
            return None
        instant = parts[1]
        if instant not in self._col_bloom_sidecars:
            try:
                with open(
                    os.path.join(self.col_bloom_dir, instant + ".json")
                ) as fh:
                    self._col_bloom_sidecars[instant] = json.load(fh)
            except FileNotFoundError:
                self._col_bloom_sidecars[instant] = {"files": {}}
        sc = self._col_bloom_sidecars[instant]
        per = sc.get("files", {}).get(f["path"])
        if per is None:
            return None
        return sc.get("nbits", self.col_bloom_bits), sc.get(
            "k", self.col_bloom_hashes
        ), per

    # column types whose Spark cast("string") rendering a same-typed
    # Python operand reproduces verbatim (the only pairings the bloom
    # probe may prune on)
    _BLOOM_INTEGRAL_TYPES = frozenset(
        ("byte", "tinyint", "short", "smallint", "integer", "int", "long", "bigint")
    )

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
            return str(v) if col_type in LakeTable._BLOOM_INTEGRAL_TYPES else None
        return None

    def _col_bloom_types(self, f: dict) -> dict:
        """{col: simple type name} for the bloom-indexed columns as of
        the file's writing instant (the schema the index-build
        ``cast("string")`` ran under), lazily cached per instant.
        Missing manifest ⇒ empty map ⇒ every probe keeps the file."""
        instant = creating_instant(f["path"])
        cached = self._col_bloom_type_cache.get(instant)
        if cached is not None:
            return cached
        types: dict[str, str] = {}
        try:
            schema = T.StructType.fromJson(self._manifest(instant)["schema"])
            for fld in schema.fields:
                if fld.name in self.bloom_columns:
                    types[fld.name] = fld.dataType.simpleString()
        except (FileNotFoundError, KeyError):
            pass
        self._col_bloom_type_cache[instant] = types
        return types

    def _col_bloom_may_match(self, f: dict, predicate: list[tuple]) -> bool:
        """Can ANY row of file ``f`` satisfy every ``=``/``in``
        condition on a bloom-indexed column, judging by the file's
        column blooms? Definite-miss on any conjunct ⇒ False (no row
        can match). Unprobeable conditions (no bloom, non-canonical
        operand, other ops) are skipped — conservative, like missing
        min/max stats."""
        if not self.bloom_columns:
            return True
        info = self._col_blooms_for(f)
        if info is None:
            return True
        nbits, k, per = info
        col_types = self._col_bloom_types(f)
        for col, op, val in predicate:
            if op not in ("=", "in") or per.get(col) is None:
                continue
            operands = list(val) if op == "in" else [val]
            ct = col_types.get(col)
            canon = [self._bloom_operand(v, ct) for v in operands]
            if any(c is None for c in canon):
                continue  # unreproducible form: cannot safely prune
            bits = per[col]
            if isinstance(bits, str):  # decode once, cache the array
                bits = bloom_mod.bloom_from_b64(bits)
                per[col] = bits
            pos = bloom_mod.key_positions(canon, nbits, k)
            if not bloom_mod.might_contain(bits, pos).any():
                return False  # every operand definitely absent
        return True

    # ------------------------------- index backfill (async indexing)

    def _publish_backfill(
        self,
        idx: ValueIndex,
        files: list[dict],
        builds: list[tuple[list[dict], T.StructType]],
        stamp: Callable[[dict], dict],
    ) -> str | None:
        """Shared tail of the two async indexers, under the writer lock:
        sweep what a crashed predecessor left, build each ``(files,
        schema)`` batch into the files' creating-instant dirs (named
        for this backfill's instant), then record coverage with one
        metadata-only ``index_backfill`` commit re-adding ``files`` as
        ``stamp`` upgrades them."""
        if not files:
            return None
        inst = self._next_instant(None)
        idx.sweep(
            {creating_instant(f["path"]) for f in files},
            self._is_backfill_commit,
        )
        for fl, schema in builds:
            groups: dict[str, list[dict]] = {}
            for f in fl:
                groups.setdefault(creating_instant(f["path"]), []).append(f)
            idx.build(groups, schema, batch=inst)
        self._write_manifest(
            inst,
            "index_backfill",
            self._stored_schema(),
            [stamp(f) for f in files],
            [f["path"] for f in files],
        )
        return inst

    def _is_backfill_commit(self, instant: str) -> bool:
        try:
            m = self._manifest_any(instant)
        except FileNotFoundError:
            return False
        return m.get("action") == "index_backfill"

    def backfill_record_index(self) -> str | None:
        """Async metadata indexing for the RECORD index (Hudi's async
        indexer building the metadata-table ``record_index`` partition
        for an existing table): the record index only probes under FULL
        coverage, so enabling it mid-life leaves planning on the scan
        path until every pre-index file happens to be rewritten. This
        builds (key → file) rows for the un-covered live files into
        their creating-instant dirs (honoring each dir's ``.nshards``
        modulus; the cleaner protects a dir while its instant owns live
        files) and records coverage with one metadata-only
        ``index_backfill`` commit — same mechanics as
        :meth:`backfill_secondary_index`, no data file rewritten.
        Idempotent."""
        if not self.record_index:
            return None
        with self._writer_lock():
            todo = [
                f
                for f in self._live_files()
                if not f.get("external") and not f.get("indexed")
            ]
            return self._publish_backfill(
                self._record_idx,
                todo,
                [(todo, _KEY_SCHEMA)],
                lambda f: {**f, "indexed": True},
            )

    def backfill_secondary_index(self) -> str | None:
        """Async metadata indexing (Hudi's async indexer /
        ``hoodie.metadata.index.async`` analog): build secondary-index
        coverage for live files written BEFORE the index was enabled —
        or before a column joined the config — WITHOUT rewriting any
        data. At 100 TB this is the difference between "index the
        table" costing one column-pruned index scan versus a full
        rewrite of every file.

        Mechanics: index rows land in each file's CREATING-instant dir
        (where probes look — the dir the cleaner already protects while
        the file is live), honoring that dir's existing ``.nshards``
        modulus; coverage is then recorded by one metadata-only
        ``index_backfill`` commit that re-adds the same file records
        with upgraded ``sec_cols`` stamps (the ordinary replaced+added
        replay applies them — no new timeline semantics). Data files
        are untouched; incremental/CDC readers are unaffected because
        their row filters use the rows' original ``_commit_time``.
        Files whose origin manifest is unreadable are left un-covered
        (conservative keep-all, exactly as before the backfill).
        Instants whose missing columns resolve to the same (name, type)
        read schema share one build. Runs under the writer lock; a
        racing optimistic writer that touched the same files will see a
        (false but safe) publish conflict and retry. Idempotent:
        returns None when every live file is already covered."""
        if not self.secondary_index_columns:
            return None
        want = set(self.secondary_index_columns)
        with self._writer_lock():
            by_inst: dict[str, list[dict]] = {}
            for f in self._live_files():
                if not f.get("external") and not want <= set(
                    f.get("sec_cols") or ()
                ):
                    by_inst.setdefault(
                        creating_instant(f["path"]), []
                    ).append(f)
            batches: dict[tuple, list[dict]] = {}
            for inst, fl in sorted(by_inst.items()):
                try:
                    schema = T.StructType.fromJson(
                        self._manifest_any(inst)["schema"]
                    )
                except (FileNotFoundError, KeyError, ValueError):
                    continue  # unreadable origin schema: stay un-covered
                for f in fl:
                    missing = want - set(f.get("sec_cols") or ())
                    key = tuple(
                        fld.json()
                        for fld in schema.fields
                        if fld.name in missing
                    )
                    batches.setdefault(key, []).append(f)
            return self._publish_backfill(
                self._sec_idx,
                [f for fl in batches.values() for f in fl],
                [
                    (
                        fl,
                        T.StructType(
                            [
                                T.StructField.fromJson(json.loads(j))
                                for j in key
                            ]
                        ),
                    )
                    for key, fl in sorted(batches.items())
                ],
                lambda f: {
                    **f,
                    "sec_cols": sorted(set(f.get("sec_cols") or ()) | want),
                },
            )

    # ------------------------------- exact secondary index (non-key cols)

    def _sec_col_types(self, instant: str) -> dict | None:
        """{col: simple type name} for the secondary-indexed columns as
        of ``instant`` (the schema the index build's ``cast("string")``
        ran under), lazily cached. ``None`` when the manifest is
        unreadable (probe keeps the instant's files, conservative); a
        column MISSING from the returned dict was absent from the
        commit's schema — its files provably hold only NULL for it."""
        if instant in self._sec_type_cache:
            return self._sec_type_cache[instant]
        types: dict[str, str] | None = None
        try:
            schema = T.StructType.fromJson(
                self._manifest_any(instant)["schema"]
            )
            types = {
                fld.name: fld.dataType.simpleString()
                for fld in schema.fields
                if fld.name in self.secondary_index_columns
            }
        except (FileNotFoundError, KeyError, ValueError):
            pass
        self._sec_type_cache[instant] = types
        return types

    def _sec_miss_paths(
        self, files: list[dict], predicate: list[tuple]
    ) -> set[str]:
        """Paths of files the secondary index PROVES hold no operand
        value for some ``=``/``in`` conjunct on an indexed column —
        the definite-miss set :meth:`_stats_prune` feeds into the same
        verdict pipeline as the column blooms (so the MOR
        key-disjointness guard applies before any skip).

        Per conjunct, the covered files (queried column ∈ the file's
        stamped ``sec_cols``) are probed with each instant's operands
        canonicalized under ITS stored column type
        (:meth:`_bloom_operand` — un-reproducible pairings keep the
        instant's files; a column absent from the instant's schema
        makes its files definite misses without probe I/O). Covered
        files the probe does not keep are misses."""
        if not self.secondary_index_columns:
            return set()
        misses: set[str] = set()
        for col, op, val in predicate:
            if op not in ("=", "in") or col not in self.secondary_index_columns:
                continue
            covered = [
                f
                for f in files
                if isinstance(f.get("sec_cols"), list)
                and col in f["sec_cols"]
            ]
            if not covered:
                continue
            operands = list(val) if op == "in" else [val]

            def canon(inst: str, col=col, operands=operands):
                types = self._sec_col_types(inst)
                if types is None:
                    return None  # unknown schema: keep these files
                if col not in types:
                    # absent from this instant's schema: its files hold
                    # only NULL for it, and ``=``/``in`` never match NULL
                    return []
                forms = [self._bloom_operand(v, types[col]) for v in operands]
                return None if None in forms else forms

            kept = self._sec_idx.probe(covered, operands, col=col, canon=canon)
            misses |= {f["path"] for f in covered if f["path"] not in kept}
        return misses

    def _merge(self, old: DataFrame, batch: DataFrame) -> DataFrame:
        """Larger-precombine-wins merge, ties → incoming row — exactly
        ``DefaultHoodieRecordPayload`` (``SRC/package.scala:25,35``):
        ``max_by`` over the key with ordering ``(precombine, _is_new)``.
        Handles intra-batch duplicates in the same pass.

        Hash aggregation, not a sort-window: partial (map-side) combine
        collapses duplicate keys before the shuffle and no per-partition
        sort is needed — the cheaper plan at every scale, and ~25% faster
        even at fixture scale. Null precombine loses to any non-null
        (struct comparison ranks null lowest), matching the window
        ``desc``-nulls-last behavior it replaces."""
        old = old.withColumn("_is_new", F.lit(0))
        new = batch.withColumn("_is_new", F.lit(1))
        # allowMissingColumns: under additive schema evolution the stored
        # rows lack the batch's new columns — they union in as null
        union = old.unionByName(new, allowMissingColumns=True)
        part_cols = (
            [RECORD_KEY_COL]
            if self.global_index
            else [PARTITION_PATH_COL, RECORD_KEY_COL]
        )
        order = F.struct(F.col(self.precombine), F.col("_is_new"))
        winner = F.max_by(F.struct(*union.columns), order).alias("_r")
        if self.payload != "partial_update":
            return (
                union.groupBy(*part_cols)
                .agg(winner)
                .select("_r.*")
                .drop("_is_new")
            )
        # partial_update (Hudi PartialUpdateAvroPayload): per COLUMN,
        # the newest non-null version wins — a null incoming field
        # inherits the stored value, so producers can upsert sparse
        # column patches. Meta columns, the precombine and anything the
        # fold can't see a non-null value for follow the overall winner.
        # Still ONE hash aggregation (a max_by per column, all with
        # map-side partial combine): same shuffle shape as the default
        # payload at any scale. This is the COW (write-time) fold;
        # deletes materialize eagerly here, so inheritance can never
        # look through a tombstone. The MOR twin folds at read/compact
        # (:meth:`_merged_read`), where the tombstone filter precedes
        # the fold for the same guarantee.
        return self._partial_fold(
            union, part_cols, order,
            extra_whole=("_is_new",), drop=("_is_new",),
        )

    def _write_data_files(
        self,
        df: DataFrame,
        instant: str,
        kind: str = "base",
        key_sort: bool = True,
    ) -> list[dict]:
        """Write one commit's data files under ``data/<instant>/`` with
        hive-style ``__pt_<col>=<val>`` layout; returns file records
        (relative path + partition values + kind base|delta) for the
        manifest."""
        out_dir = os.path.join(self.data_dir, instant)
        writer = df
        pt_cols = []
        for k in self.partition_keys:
            pt = _PT_PREFIX + k
            writer = writer.withColumn(pt, F.col(k).cast("string"))
            pt_cols.append(pt)
        if self.bucket_index:
            # bucket layout: shuffle into n tasks keyed on the bucket id
            # (all rows of a bucket land in ONE task → one file per
            # bucket per commit, Hudi's file-group-per-bucket shape) and
            # directory-encode the id so the walker can stamp it into
            # the manifest. The hash is Spark's xxhash64 — planning
            # recomputes it Spark-side too, so writer and planner can
            # never disagree on a key's bucket.
            writer = writer.withColumn("__bk", self._bucket_expr())
            writer = writer.repartition(self.bucket_index, F.col("__bk"))
            pt_cols = pt_cols + ["__bk"]
        # KEY-SORTED data files (r10): rows sorted by record key within
        # each task — file assignment is untouched (local sort), but
        # parquet row-group/page stats on the key become selective, so
        # key-equality reads (record-index/bucket point reads, the MOR
        # merge's pushed-down key filter) skip pages instead of
        # scanning the whole file. The sort leads with the dynamic
        # partition columns, pre-satisfying the writer's required
        # ordering (it would otherwise re-sort by them anyway,
        # unstably) — same trick that halved the sidecar builds.
        # key_sort=False callers: compact(sort_by=...) — its custom
        # clustering owns the row order (a key re-sort would destroy
        # it) — and bulk-insert sort_mode=NONE (the explicit
        # cheapest-write contract). Bulk GLOBAL/PARTITION_SORT pass
        # True: they already ordered by (partition, key), Catalyst
        # elides the redundant sort, and True keeps the writer-sort
        # protection if those modes ever change their key.
        if key_sort:
            writer = writer.sortWithinPartitions(*pt_cols, RECORD_KEY_COL)
        w = writer.write.mode("overwrite")
        if pt_cols:
            w = w.partitionBy(*pt_cols)
        w.parquet(out_dir)

        walked: list[tuple[str, str, dict, int | None, str]] = []
        for root, _dirs, files in os.walk(out_dir):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                partition: dict[str, str] = {}
                bucket: int | None = None
                for seg in os.path.relpath(root, out_dir).split(os.sep):
                    if seg.startswith(_PT_PREFIX) and "=" in seg:
                        k, v = seg[len(_PT_PREFIX):].split("=", 1)
                        partition[k] = unquote(v)
                    elif seg.startswith("__bk="):
                        bucket = int(seg[len("__bk="):])
                pp = "/".join(f"{k}={partition[k]}" for k in self.partition_keys) if partition else ""
                walked.append((full, rel, partition, bucket, pp))
        stats = self._file_stats_parallel(
            [full for full, *_ in walked],
            [RECORD_KEY_COL] + self.stats_columns,
        )
        added: list[dict] = []
        for (full, rel, partition, bucket, pp), (ranges, nbytes) in zip(
            walked, stats
        ):
            nrows = ranges.pop("__rows__", None)
            kmin, kmax = ranges.get(RECORD_KEY_COL) or (None, None)
            col_stats = {
                c: [self._stat_json(r[0]), self._stat_json(r[1])]
                for c, r in ranges.items()
                if c != RECORD_KEY_COL
                and r is not None
                and self._stat_json(r[0]) is not None
                and self._stat_json(r[1]) is not None
            }
            entry = {
                "path": rel,
                "partition": partition,
                "partition_path": pp,
                "kind": kind,
                "key_min": kmin,
                "key_max": kmax,
                # driver-side size stat at write time: compaction
                # strategies select small files from the manifest
                # alone, no per-file stat storm at schedule time
                "bytes": nbytes,
            }
            if nrows is not None:
                entry["rows"] = nrows[0]
            if col_stats:
                entry["col_stats"] = col_stats
            if bucket is not None:
                entry["bucket"] = bucket
                entry["bucket_n"] = self.bucket_index
            added.append(entry)
        return sorted(added, key=lambda f: f["path"])

    def _file_stats_parallel(
        self, paths: list[str], cols: list[str]
    ) -> list[tuple[dict, int]]:
        """``[(footer_ranges, size_bytes)]`` aligned with ``paths``,
        gathered from a thread pool. Each probe is pure metadata IO
        (one parquet footer read + one stat call) — sequential probing
        serializes the commit tail when a write lands hundreds of files
        on an object-store-like mount where each round trip is tens of
        milliseconds; threads overlap those round trips the same way
        Hudi's metadata writer parallelizes its file-listing/stat RPCs."""

        def one(full: str) -> tuple[dict, int]:
            return (
                self._footer_column_ranges(full, cols),
                os.path.getsize(full),
            )

        if len(paths) <= 2:
            return [one(p) for p in paths]
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(one, paths))

    @staticmethod
    def _footer_column_ranges(
        path: str, cols: list[str]
    ) -> dict[str, tuple | None]:
        """Per-column (min, max) from the parquet FOOTER statistics of
        ONE metadata read (no data I/O) — the engine's column-stats
        index, the analog of what Hudi's metadata table stores per file.
        Stored in the manifest so upsert/delete planning AND predicate
        reads can prune files entirely driver-side. A column with any
        stats-less row group maps to None (conservative: unprunable)."""
        out: dict[str, tuple | None] = {c: None for c in cols}
        out["__rows__"] = None
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            out["__rows__"] = (md.num_rows, md.num_rows)
            if md.num_row_groups == 0:
                return out
            idx_by_name = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            for c in cols:
                i = idx_by_name.get(c)
                if i is None:
                    continue
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        mins = []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    out[c] = (min(mins), max(maxs))
        except Exception:
            pass  # stats are an optimization, never required
        return out

    @staticmethod
    def _stat_json(v):
        """Normalize a footer stat (or predicate operand) to a JSON-safe
        value whose Python comparison order matches the column's SQL
        order: numbers/strings pass through, datetimes/dates become
        isoformat strings (lexicographic == chronological), everything
        else (Decimal, bytes, …) maps to None = unprunable."""
        import datetime
        import decimal

        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float, str)):
            return v
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat(sep=" ") if isinstance(
                v, datetime.datetime
            ) else v.isoformat()
        if isinstance(v, decimal.Decimal):
            return None  # string order != numeric order; stay safe
        return None

    def _write_manifest(
        self,
        instant: str,
        action: str,
        schema: T.StructType,
        added: list[dict],
        replaced: list[str],
    ) -> None:
        """Writing the manifest IS the commit (atomic rename). The
        manifest records only this commit's ``added``/``replaced`` delta
        (the log entry); the full live set is maintained incrementally in
        the session cache and checkpointed to ``_ckpt/`` every
        ``manifest_checkpoint_interval`` commits, so neither writes nor
        reads ever serialize O(live_files) JSON per commit."""
        os.makedirs(self.commits_dir, exist_ok=True)
        # adopted (external) files are not index-built: they lack the
        # engine meta columns the builders read. Unflagged files make
        # the planners fall back conservatively (record index requires
        # full coverage; bloom keeps unflagged files unconditionally).
        # An index_backfill commit re-adds EXISTING files purely to
        # upgrade their coverage stamps — its sidecar rows were already
        # built into the files' creating-instant dirs (where probes
        # look), so the per-commit builders must not run.
        indexable = (
            []
            if action == "index_backfill"
            else [f for f in added if not f.get("external")]
        )
        # Each enabled index runs its own Spark job over the SAME added
        # files; the jobs are independent (disjoint output dirs, flag
        # application deferred until every build succeeded), so submit
        # them from concurrent threads and let the scheduler overlap
        # them — profiling shows the sidecar builds otherwise serialize
        # to roughly the cost of the data write itself per commit.
        # Hudi's metadata-table indexes are likewise built off the
        # critical write path (async metadata indexing).
        builders: list[tuple[str, Callable[[], None]]] = []
        if self.record_index and indexable:
            builders.append(
                # "indexed"/"bloom"/"col_bloom" flags: probe-time
                # markers; files that predate an index toggle lack them
                # and are kept unconditionally — conservative fallback
                (
                    "indexed",
                    lambda: self._record_idx.build(
                        {instant: indexable}, _KEY_SCHEMA
                    ),
                )
            )
        if self.bloom_index and indexable:
            builders.append(
                ("bloom", lambda: self._write_bloom_sidecar(instant, indexable))
            )
        if self.bloom_columns and indexable:
            builders.append(
                (
                    "col_bloom",
                    lambda: self._write_col_bloom_sidecar(
                        instant, indexable, schema
                    ),
                )
            )
        if self.secondary_index_columns and indexable:
            sec_schema = T.StructType(
                [
                    fld
                    for fld in schema.fields
                    if fld.name in self.secondary_index_columns
                ]
            )
            builders.append(
                (
                    "sec_cols",
                    lambda: self._sec_idx.build(
                        {instant: indexable}, sec_schema
                    ),
                )
            )
        if len(builders) == 1:
            builders[0][1]()
        elif builders:
            with ThreadPoolExecutor(max_workers=len(builders)) as ex:
                for fut in [ex.submit(fn) for _, fn in builders]:
                    fut.result()  # re-raise the first failure: the
                    # commit must not publish with a half-built index
        for flag, _fn in builders:
            # "sec_cols" stamps the column LIST indexed for the file
            # (probes require the queried column ∈ the file's list, so
            # a later config growth can't mis-prune old files); the
            # other flags are booleans
            val = (
                list(self.secondary_index_columns)
                if flag == "sec_cols"
                else True
            )
            for f in indexable:
                f[flag] = val  # same dicts enter the live set
        # roll the live set forward BEFORE the manifest lands (while
        # last_instant() still names the previous commit)
        prev = self._live_files()
        replaced_set = set(replaced)
        live = [f for f in prev if f["path"] not in replaced_set] + added
        manifest = {
            "instant": instant,
            "action": action,
            "schema": schema.jsonValue(),
            "added": added,
            "replaced": replaced,
            # per-partition key envelope (r8 verdict #5): lets a later
            # optimistic publish prove disjointness against this commit
            # with one dict probe instead of a per-file pairwise walk
            "key_summary": [
                {"pp": pp, "env": env}
                for pp, env in self._key_summary(added).items()
            ],
            # writer's fencing token (lease providers; None for the
            # O_EXCL file lock) — lets read planning discard a zombie
            # manifest renamed into the timeline after a lease takeover
            "fence_token": getattr(self.lock_provider, "token", None),
        }
        if self._pending_checkpoint is not None:
            # source checkpoint recorded IN the commit (Hudi stores the
            # streaming checkpoint in commit metadata the same way) —
            # the atomic manifest write makes data+cursor one transaction
            manifest["checkpoint"] = self._pending_checkpoint
            self._pending_checkpoint = None
        # per-source streaming offsets (OffsetCommitListener) — the
        # engine-native analog of the reference's Kafka offset
        # commit-back (SRC/Log2Hudi.scala:47-48); at least one batch
        # behind by construction (progress events fire asynchronously
        # after the batch's commit). Atomic swap-out under the lock: a
        # payload the listener writes between read and clear stays
        # armed for the NEXT manifest instead of being discarded
        with self._offsets_lock:
            pending_offsets, self._pending_offsets = (
                self._pending_offsets, None
            )
        if pending_offsets is not None:
            manifest["stream_offsets"] = pending_offsets
        tmp = os.path.join(self.commits_dir, f".{instant}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        # fencing check at the commit point: a lease-based provider
        # raises LockFenced here if this writer was superseded (lease
        # expired + taken over) — the zombie publishes nothing. No-op
        # for the O_EXCL file lock (cannot be superseded while held).
        self.lock_provider.validate()
        final = os.path.join(self.commits_dir, instant + ".json")
        os.replace(tmp, final)
        # validate() is not atomic with the rename: a writer paused
        # (GC/SIGSTOP) between the two can still publish after a lease
        # takeover (r4 advice). Re-validate AFTER publish and roll the
        # manifest back if fenced, shrinking the zombie window from
        # "unbounded pause" to the microseconds between rename and this
        # check. Residual (documented) window: a zombie that crashes
        # after the rename but before the rollback leaves its manifest
        # in the timeline; a reader racing between rename and unlink
        # can transiently observe it.
        try:
            self.lock_provider.validate()
        except Exception:
            try:
                os.unlink(final)
            except FileNotFoundError:
                pass
            raise
        self._live_cache = (instant, live)
        interval = self.manifest_checkpoint_interval
        if interval:
            newest = (self._checkpoints() or [None])[-1]
            n_since = len(
                [i for i in self.timeline() if newest is None or i > newest]
            )
            if n_since >= interval:
                self._write_files_checkpoint(instant, live)

    def _write_files_checkpoint(self, instant: str, live: list[dict]) -> None:
        """Materialize the full live-file list at ``instant`` under
        ``_ckpt/`` (atomic rename — losing one is harmless, readers just
        replay a longer manifest suffix)."""
        os.makedirs(self.ckpt_dir, exist_ok=True)
        tmp = os.path.join(self.ckpt_dir, f".{instant}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"instant": instant, "live_files": live}, fh)
        os.replace(tmp, os.path.join(self.ckpt_dir, instant + ".json"))

    # ------------------------------------------------------ stream offsets

    def record_stream_offsets(
        self, query_name: str, batch_id: int, sources: list[dict]
    ) -> None:
        """Persist a streaming batch's per-source end offsets — the
        engine-native replacement for the reference's Kafka
        consumer-group commit-back (``SRC/Log2Hudi.scala:47-48``, the
        net.heartsavior listener). Two sinks: an atomically-replaced
        ``_commits/_offsets/<query>.json`` (durable the instant the
        progress event fires — lag monitors read this without touching
        the timeline) and ``stream_offsets`` embedded in the NEXT
        commit's manifest (the same place the streaming checkpoint
        rides, so offsets and data share the timeline's atomicity).
        Called by ``streaming.sources.OffsetCommitListener``."""
        payload = {
            "query": query_name,
            "batch_id": batch_id,
            "sources": sources,
        }
        d = os.path.join(self.commits_dir, "_offsets")
        os.makedirs(d, exist_ok=True)
        safe = "".join(c if c.isalnum() or c in "-_." else "_"
                       for c in query_name) or "query"
        tmp = os.path.join(d, f".{safe}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, os.path.join(d, f"{safe}.json"))
        with self._offsets_lock:
            self._pending_offsets = payload

    def stream_offsets(self, query_name: str) -> dict | None:
        """Newest recorded offsets for ``query_name`` (durable
        sidecar), or None if the query never reported progress."""
        safe = "".join(c if c.isalnum() or c in "-_." else "_"
                       for c in query_name) or "query"
        try:
            with open(
                os.path.join(self.commits_dir, "_offsets", f"{safe}.json")
            ) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    # ------------------------------------------ metadata-only bootstrap

    def bootstrap_metadata_only(
        self, source_dir: str, instant: str | None = None
    ) -> str:
        """Adopt an existing parquet directory as this table's initial
        commit WITHOUT copying or rewriting a byte of data — the engine
        analog of Hudi's METADATA_ONLY bootstrap mode (the onboarding
        path for historical Hive/parquet tables; ``bootstrap_parquet``
        in ``pipelines/bootstrap.py`` is its full-rewrite cousin, from
        ``SRC/Hive2Hudi.scala:23-35``).

        The commit is a pure metadata pass: list the files, read ONE
        parquet footer per file for column stats, write the manifest
        referencing the files in place (absolute paths + ``external``
        flag). At 100 TB that is minutes of driver+footer I/O instead of
        rewriting the corpus. From then on the table behaves normally:

        - reads synthesize the meta columns on the fly
          (:meth:`_stamp_external`) and still file-skip on the footer
          stats harvested here;
        - upserts copy-on-write ONLY the key-hit files, so data
          migrates into engine-written files incrementally;
          :meth:`compact` migrates everything in one (lock-free) fold;
        - ``clean()``/``restore()`` never delete adopted files —
          replaced entries just leave the live set (the source
          directory stays user-owned).

        Layout contract: unpartitioned table → any ``*.parquet`` below
        ``source_dir``; partitioned → hive-style ``key=value``
        directories matching ``partition_keys`` exactly (partition
        values are read as STRINGS — type inference is pinned off so
        dir names round-trip verbatim). ``record_keys`` and the
        precombine column must exist in the files. Single-string-key
        tables keep per-file key ranges for upsert range pruning;
        other key shapes stay conservatively unpruned (a numeric
        footer min/max does not bound the stringified record key).
        """
        if self.exists():
            raise ValueError(
                "metadata-only bootstrap requires an empty table"
            )
        base = os.path.abspath(source_dir)
        found: list[str] = []
        for root, _dirs, fns in os.walk(base):
            for fn in fns:
                if fn.endswith(".parquet"):
                    found.append(os.path.join(root, fn))
        found.sort()
        if not found:
            raise ValueError(f"no parquet files under {base!r}")
        want_stats = [RECORD_KEY_COL] + self.stats_columns
        string_key = (
            self.record_keys[0] if len(self.record_keys) == 1 else None
        )
        if string_key is not None and string_key not in want_stats:
            want_stats = want_stats + [string_key]
        parts: list[tuple[str, dict, str]] = []
        for full in found:
            partition: dict[str, str] = {}
            rel_dir = os.path.relpath(os.path.dirname(full), base)
            for seg in rel_dir.split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    partition[k] = unquote(v)
            if set(partition) != set(self.partition_keys):
                raise ValueError(
                    f"{full!r}: partition dirs {sorted(partition)} do not"
                    f" match partition_keys {self.partition_keys}"
                )
            pp = (
                "/".join(
                    f"{k}={partition[k]}" for k in self.partition_keys
                )
                if partition
                else ""
            )
            parts.append((full, partition, pp))
        # adoption scans an EXTERNAL dataset — often the largest single
        # listing the table ever sees — so the footer probes especially
        # benefit from the thread pool (see _file_stats_parallel)
        stats = self._file_stats_parallel(found, want_stats)
        records: list[dict] = []
        for (full, partition, pp), (ranges, nbytes) in zip(parts, stats):
            nrows = ranges.pop("__rows__", None)
            kmin = kmax = None
            if string_key is not None:
                kr = ranges.get(string_key)
                # valid only for a STRING key: the record key is the
                # value itself, so footer order == record-key order
                if (
                    kr is not None
                    and isinstance(kr[0], str)
                    and isinstance(kr[1], str)
                ):
                    kmin, kmax = kr
            col_stats = {
                c: [self._stat_json(r[0]), self._stat_json(r[1])]
                for c, r in ranges.items()
                if c in self.stats_columns
                and r is not None
                and self._stat_json(r[0]) is not None
                and self._stat_json(r[1]) is not None
            }
            entry = {
                "path": full,
                "partition": partition,
                "partition_path": pp,
                "kind": "base",
                "key_min": kmin,
                "key_max": kmax,
                "bytes": nbytes,
                "external": True,
            }
            if nrows is not None:
                entry["rows"] = nrows[0]
            if col_stats:
                entry["col_stats"] = col_stats
            records.append(entry)
        raw = self._external_raw(base, found)
        missing = [
            c
            for c in self.record_keys + [self.precombine]
            if c not in raw.columns
        ]
        if missing:
            raise ValueError(
                f"adopted files lack required columns {missing}"
            )
        with self._writer_lock():
            if self.exists():
                raise ConcurrentWriteConflict(
                    "another writer initialized the table during bootstrap"
                )
            inst = self._next_instant(instant)
            stamped = self._stamp(raw, inst)
            if self.is_mor:
                stamped = stamped.withColumn(DELETED_COL, F.lit(False))
            ext_dir = os.path.join(self.path, "_external")
            os.makedirs(ext_dir, exist_ok=True)
            bases = [{"base": base, "instant": inst}]
            with open(os.path.join(ext_dir, "bases.json"), "w") as fh:
                json.dump({"bases": bases}, fh)
            self._external_cache = bases
            self._write_manifest(
                inst, "bootstrap", stamped.schema, records, []
            )
        return inst

    # ---------------------------------------------------------- savepoints

    @property
    def savepoint_dir(self) -> str:
        return os.path.join(self.path, "_savepoints")

    def savepoint(self, instant: str) -> None:
        """Pin ``instant`` against the cleaner (Hudi savepoint): the
        files live AT a savepointed instant are retained by ``clean()``
        regardless of its retention horizon, so ``time_travel`` to the
        savepoint keeps working forever — the mechanism behind audit /
        reproducibility pins ("the corpus exactly as trained on").
        Timeline archival is unaffected (archived manifests stay
        readable), only file retention changes."""
        if instant not in self._full_timeline():
            raise ValueError(f"unknown instant {instant!r}")
        os.makedirs(self.savepoint_dir, exist_ok=True)
        tmp = os.path.join(self.savepoint_dir, f".{instant}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"instant": instant}, fh)
        os.replace(
            tmp, os.path.join(self.savepoint_dir, instant + ".json")
        )

    def release_savepoint(self, instant: str) -> None:
        """Unpin; the next ``clean()`` may reap the instant's files."""
        try:
            os.remove(os.path.join(self.savepoint_dir, instant + ".json"))
        except FileNotFoundError:
            pass

    def savepoints(self) -> list[str]:
        if not os.path.isdir(self.savepoint_dir):
            return []
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self.savepoint_dir)
            if f.endswith(".json")
        )

    # ------------------------------------------------------------- restore

    def restore(self, instant: str) -> list[str]:
        """Roll the table back to ``instant`` (Hudi savepoint+restore
        analog): commits after it are removed from the timeline and
        their data files deleted. Single-writer operation, taken under
        the writer lock. Returns the discarded instants."""
        with self._writer_lock():
            tl = self.timeline()
            if instant not in tl:
                raise ValueError(f"unknown instant {instant!r}")
            doomed = [i for i in tl if i > instant]
            # data paths are instant-scoped (data/<instant>/...), so a
            # pre-restore commit can never reference a doomed commit's
            # files — but a doomed METADATA-ONLY commit (index_backfill)
            # re-lists LIVE files from arbitrarily old creating commits,
            # so the keep-set must cover the whole pre-restore history,
            # not just the active timeline: the restore-point LIVE SET
            # (checkpoint-replayed, so it sees through the archival
            # horizon) plus every active and ARCHIVED pre-restore
            # manifest. Active manifests alone lost data when creating
            # commits had been archived (r13: restore deleted live
            # data/001 files re-listed by a doomed backfill).
            keep_files = {
                f["path"]
                for i in tl
                if i <= instant
                for f in self._manifest(i)["added"]
            }
            keep_files |= {f["path"] for f in self._live_files_at(instant)}
            arch = os.path.join(self.commits_dir, "_archived")
            if os.path.isdir(arch):
                for fn in os.listdir(arch):
                    if fn.endswith(".json"):
                        with open(os.path.join(arch, fn)) as fh:
                            keep_files |= {
                                f["path"] for f in json.load(fh)["added"]
                            }
            for i in doomed:
                for f in self._manifest(i)["added"]:
                    if f["path"] in keep_files or f.get("external"):
                        continue  # adopted source files are user-owned
                    full = os.path.join(self.path, f["path"])
                    if os.path.exists(full):
                        os.remove(full)
                os.remove(os.path.join(self.commits_dir, i + ".json"))
            # checkpoints taken after the restore point describe a live
            # set that no longer exists — drop them, and the cache
            for c in self._checkpoints():
                if c > instant:
                    os.remove(os.path.join(self.ckpt_dir, c + ".json"))
            # savepoints pinning now-removed instants are meaningless
            for sp in self.savepoints():
                if sp > instant:
                    self.release_savepoint(sp)
            self._live_cache = None
            # a doomed instant id can be re-allocated by a later write
            # (instants are dense) — drop EVERY instant-keyed cache with
            # it: manifest, partition stats, bloom sidecars, and the
            # column-type map that authorizes bloom pruning (a stale
            # cached type for a re-allocated id could wrongly prune
            # files under a different schema)
            self._manifest_mem.clear()
            self._pstats_cache.clear()
            self._bloom_sidecars.clear()
            self._col_bloom_sidecars.clear()
            self._col_bloom_type_cache.clear()
            self._sec_type_cache.clear()
            self._commit_summary_cache.clear()
            return doomed

    # ----------------------------------------------------------- compaction

    def _cluster_for_compact(
        self,
        df: DataFrame,
        files: list[dict],
        target_files_per_partition: int,
        sort_by: list | None,
    ) -> DataFrame:
        """Shape the compaction output files. Without ``sort_by``:
        hash-repartition on the partition keys (or coalesce when
        unpartitioned). With ``sort_by`` — Hudi clustering's sort/z-order
        analog — RANGE-partition on (partition keys + sort key) so each
        output file owns a DISJOINT key range: that is what makes the
        per-file footer min/max tight enough for predicate reads to skip
        files (coalesce + sortWithinPartitions alone sorts rows within
        arbitrary splits, leaving every file spanning the full range).
        ``sort_by`` may mix column names and expressions, e.g.
        ``[zorder_key(["a", "b"])]`` clusters along both dimensions at
        once."""
        parts = max(
            1,
            target_files_per_partition
            * max(1, len({f["partition_path"] for f in files})),
        )
        if sort_by:
            keys = [F.col(k) for k in self.partition_keys] + [
                F.col(s) if isinstance(s, str) else s for s in sort_by
            ]
            return df.repartitionByRange(parts, *keys).sortWithinPartitions(
                *keys
            )
        if self.partition_keys:
            return df.repartition(
                parts, *[F.col(k) for k in self.partition_keys]
            )
        return df.coalesce(target_files_per_partition)

    def compact(
        self,
        instant: str | None = None,
        target_files_per_partition: int = 1,
        sort_by: list | None = None,
    ) -> str | None:
        """Small-file squashing as a commit — the COW engine's analog of
        the reference's MOR compaction knobs (``HudiConfig.scala:21-23``,
        ``SRC/conf/Config.scala:23-24``; SURVEY.md §4 "expose compaction
        as commit-log/file squashing").

        Rewrites ALL live files into ~``target_files_per_partition``
        files per partition. Rows keep their original ``_commit_time``,
        so snapshot results are unchanged and incremental reads stay
        exact: in-range original files are replaced (not live at the
        range end → skipped), the compacted files carry the rows, and
        the ``(begin, end]`` row filter keeps each row exactly once.
        """
        if not self.exists():
            return None
        with self._writer_lock():
            return self._compact_locked(
                instant, target_files_per_partition, sort_by
            )

    def _compact_locked(
        self,
        instant: str | None,
        target_files_per_partition: int,
        sort_by: list | None = None,
    ) -> str:
        inst = self._next_instant(instant)
        live = self._live_files()
        df = self._read_files([f["path"] for f in live])
        if self.is_mor:
            # fold deltas + tombstones into fresh base files; the rows
            # keep their _commit_time, the column set stays the stored
            # schema (all-false _deleted) so later reads are uniform
            df = self._merged_read(df).withColumn(DELETED_COL, F.lit(False))
        df = self._cluster_for_compact(
            df, live, target_files_per_partition, sort_by
        )
        # kind=base: folds deltas; sort_by clustering (when given) owns
        # the row order — default compaction keeps the key sort
        added = self._write_data_files(df, inst, key_sort=not sort_by)
        self._write_manifest(
            inst,
            "compact",
            self._stored_schema(),
            added,
            sorted(f["path"] for f in live),
        )
        return inst

    # -------------------------------------------- async (scheduled) compaction

    #: declarative clustering spec for compaction plans — JSON-safe so
    #: the schedule/run split can carry intent across processes:
    #: a list whose items are column names (plain sort dims) or
    #: ``{"zorder": {"cols": [...], "bits": 16, "ranges": [[lo,hi],..]}}``
    #: (reconstructed via ``operators.corpus.zorder_key`` at execute
    #: time). Column EXPRESSIONS can't be pinned in a plan file — they
    #: don't serialize — which is exactly why the spec is declarative.

    @staticmethod
    def _sort_by_from_spec(spec: list) -> list:
        """Materialize a plan's ``sort_spec`` into ``sort_by`` items
        (column names pass through; zorder dicts become the Morton-key
        expression)."""
        from emr_hudi_example_spark.operators.corpus import zorder_key

        out = []
        for item in spec:
            if isinstance(item, str):
                out.append(item)
            elif isinstance(item, dict) and "zorder" in item:
                z = item["zorder"]
                ranges = z.get("ranges")
                out.append(
                    zorder_key(
                        list(z["cols"]),
                        bits=int(z.get("bits", 16)),
                        ranges=[tuple(r) for r in ranges]
                        if ranges is not None
                        else None,
                    )
                )
            else:
                raise ValueError(f"bad sort_spec item: {item!r}")
        return out

    @staticmethod
    def _validate_sort_spec(spec: list) -> None:
        """Fail at SCHEDULE time, not at execute time in a daemon: the
        spec must be materializable (zorder geometry checks run here)
        and JSON-round-trippable."""
        LakeTable._sort_by_from_spec(spec)
        json.dumps(spec)

    @staticmethod
    def _resolve_auto_placeholder(spec: list) -> list:
        """Substitute a degenerate-but-valid range for ``"auto"`` so
        the pre-lock structural validation can materialize the spec;
        real resolution happens against the live set under the lock."""
        out = []
        for item in spec:
            if (
                isinstance(item, dict)
                and "zorder" in item
                and item["zorder"].get("ranges") == "auto"
            ):
                z = dict(item["zorder"])
                z["ranges"] = [[0, 1] for _ in z.get("cols", [])]
                out.append({"zorder": z})
            else:
                out.append(item)
        return out

    def _resolve_sort_spec(self, spec: list, live: list[dict]) -> list:
        """Resolve ``"ranges": "auto"`` in zorder items from the
        manifest's per-file column stats — min of file mins / max of
        file maxes over the live set, driver-side, NO data job (at
        100 TB a full-table min/max agg just to size the Morton curve
        is a scan the manifest already paid for). Loud ValueError when
        any live non-empty file lacks stats for a column (pre-index
        vintage or un-tracked column): guessed ranges would silently
        mis-shape the curve; pass explicit ranges instead."""
        out = []
        for item in spec:
            if not (
                isinstance(item, dict)
                and "zorder" in item
                and item["zorder"].get("ranges") == "auto"
            ):
                out.append(item)
                continue
            z = dict(item["zorder"])
            ranges = []
            for c in z["cols"]:
                los, his = [], []
                for f in live:
                    if f.get("rows") == 0:
                        continue  # rowless file constrains nothing
                    st = (f.get("col_stats") or {}).get(c)
                    if not st or st[0] is None or st[1] is None:
                        raise ValueError(
                            f"ranges='auto' needs column stats for "
                            f"{c!r} on every live file; file "
                            f"{f['path']!r} has none — add {c!r} to "
                            f"stats_columns or pass explicit ranges"
                        )
                    los.append(st[0])
                    his.append(st[1])
                if not los:
                    raise ValueError(
                        f"ranges='auto': no live data files to derive "
                        f"{c!r} bounds from"
                    )
                ranges.append([min(los), max(his)])
            z["ranges"] = ranges
            out.append({"zorder": z})
        return out

    def schedule_compaction(
        self,
        plan_id: str | None = None,
        strategy: str = "full",
        small_file_limit_bytes: int = 32 << 20,
        sort_spec: list | None = None,
        target_files_per_partition: int | None = None,
    ) -> str | None:
        """Async-compaction phase 1 (the reference runs compaction async
        on the KDS path, ``SRC/KDS2Hudi.scala:131-133``; Hudi's
        schedule/execute split): pin a compaction PLAN — a file set
        chosen by ``strategy`` — on the timeline sidecar, and return
        immediately. Ingest keeps committing; ``run_compaction`` later
        folds ONLY the pinned files.

        Strategies (Hudi's pluggable ``CompactionStrategy`` analog —
        at 100 TB "compact everything" is never the plan):

        * ``full`` — every live file (the default; the safe universal
          fold).
        * ``small_files`` — bounded-IO selection driven by the ``bytes``
          size stat each manifest records at write time (no per-file
          stat storm at schedule). On COW: the individual files smaller
          than ``small_file_limit_bytes`` (≥2, else nothing to gain) —
          any COW subset folds safely (no merge semantics across files,
          just a re-cluster). On MOR the unit is the PARTITION: pin ALL
          live files of every partition that has a delta file or ≥2
          small base files. Partition granularity is a CORRECTNESS
          boundary, not a heuristic: the fold drops merged-away
          tombstones, which is only sound if no OLDER row for a
          tombstoned key survives outside the pinned set — under the
          per-partition index a key lives entirely inside its
          partition, so pinning whole partitions preserves the
          invariant. A global-index MOR table (keys move between
          partitions) therefore refuses ``small_files`` with a
          ``ValueError`` — use ``full``.

        ``sort_spec`` pins CLUSTERING intent in the plan (r7 verdict
        #5 — Hudi's async *clustering* through the same schedule/run
        split as compaction): a JSON-declarative list of column names
        and/or ``{"zorder": {"cols": [...], "bits": ..., "ranges":
        [[lo, hi], ...]}}`` dicts, validated and serialized at schedule
        time and materialized into the range-partitioned rewrite by
        whichever executor (``run_compaction`` caller or an
        ``AsyncCompactor`` daemon) later runs the plan — lock-free,
        exactly like an unclustered fold. ``target_files_per_partition``
        pins the output-file fan-out the same way.

        Returns the plan id, or None when the strategy selects nothing.
        """
        if strategy not in ("full", "small_files"):
            raise ValueError(f"unknown compaction strategy: {strategy}")
        if sort_spec is not None:
            # structural pre-check; 'auto' zorder ranges resolve under
            # the lock (they need the live set), then full validation
            self._validate_sort_spec(
                self._resolve_auto_placeholder(sort_spec)
            )
        if (
            strategy == "small_files"
            and self.is_mor
            and self.global_index
        ):
            raise ValueError(
                "small_files strategy is unsound on a global-index MOR "
                "table (a tombstoned key's older row may live in an "
                "unpinned partition); use strategy='full'"
            )
        if not self.exists():
            return None
        with self._writer_lock():
            live = self._live_files()
            if strategy == "small_files":
                # the selection itself guarantees worthwhile work: a
                # delta to fold, or ≥2 small files to squash
                live = self._select_small_files(live, small_file_limit_bytes)
                if not live:
                    return None
            elif self.is_mor:
                if not any(f.get("kind") == "delta" for f in live):
                    return None
            elif len(live) <= 1:
                return None
            pid = plan_id or self._next_instant(None)
            plan = {
                "plan_id": pid,
                "scheduled_after": self.last_instant(),
                "strategy": strategy,
                "files": sorted(f["path"] for f in live),
            }
            if sort_spec is not None:
                sort_spec = self._resolve_sort_spec(sort_spec, live)
                self._validate_sort_spec(sort_spec)
                plan["sort_spec"] = sort_spec
            if target_files_per_partition is not None:
                plan["target_files"] = int(target_files_per_partition)
            pdir = os.path.join(self.commits_dir, "_compaction")
            os.makedirs(pdir, exist_ok=True)
            tmp = os.path.join(pdir, pid + ".json.tmp")
            with open(tmp, "w") as fh:
                json.dump(plan, fh)
            os.replace(tmp, os.path.join(pdir, pid + ".json"))
            return pid

    def _file_bytes(self, f: dict) -> int:
        """Manifest-recorded size; stat fallback for pre-r7 manifests
        (missing size = unknown = treated as LARGE, never selected —
        conservative: the fold only shrinks what it can prove small)."""
        b = f.get("bytes")
        if b is not None:
            return b
        try:
            return os.path.getsize(os.path.join(self.path, f["path"]))
        except OSError:
            return 1 << 62

    def _select_small_files(
        self, live: list[dict], limit: int
    ) -> list[dict]:
        """The ``small_files`` strategy's file selection (see
        :meth:`schedule_compaction` for the correctness argument)."""
        if not self.is_mor:
            small = [f for f in live if self._file_bytes(f) < limit]
            return small if len(small) >= 2 else []
        by_pp: dict[str, list[dict]] = {}
        for f in live:
            by_pp.setdefault(f.get("partition_path", ""), []).append(f)
        picked: list[dict] = []
        for pp, files in by_pp.items():
            has_delta = any(f.get("kind") == "delta" for f in files)
            small_bases = [
                f
                for f in files
                if f.get("kind") != "delta"
                and self._file_bytes(f) < limit
            ]
            if has_delta or len(small_bases) >= 2:
                picked.extend(files)  # WHOLE partition, never a subset
        return picked

    def pending_compactions(self) -> list[str]:
        """Scheduled-but-unexecuted plan ids, ascending."""
        pdir = os.path.join(self.commits_dir, "_compaction")
        if not os.path.isdir(pdir):
            return []
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(pdir)
            if f.endswith(".json")
        )

    def run_compaction(
        self,
        plan_id: str | None = None,
        target_files_per_partition: int | None = None,
        sort_by: list | None = None,
    ) -> str | None:
        """Async-compaction phase 2: execute a scheduled plan. Folds the
        plan's pinned files into fresh base files; delta files committed
        AFTER the schedule are untouched and keep merging on top at read.

        Plan-carried clustering (r7 verdict #5): when the caller leaves
        ``sort_by`` / ``target_files_per_partition`` unset, the plan's
        pinned ``sort_spec`` / ``target_files`` (from
        ``schedule_compaction``) drive the fold — so an
        ``AsyncCompactor`` daemon executes scheduled CLUSTERING
        (z-order rewrite) lock-free with no per-plan arguments, and the
        clustering intent survives process boundaries. Explicit
        arguments override the plan.

        Correctness of the partial fold: the per-key merge is a max over
        ``(precombine, _commit_time)``, so folding the pinned subset
        first and merging later deltas at read gives the same winner as
        the one-shot merge; and a pinned tombstone can be dropped after
        the fold because every post-schedule row carries a strictly
        newer ``_commit_time`` than it (commit instants are monotonic).

        The commit lands at the NEXT instant (unlike Hudi, which
        reserves the scheduled instant) — incremental reads stay exact
        either way because rows keep their original ``_commit_time``.
        Returns the committed instant, or None when the plan is stale
        (a pinned file was already replaced — e.g. an inline compaction
        ran in between; the plan is discarded, as only the file set it
        pinned could make the partial fold safe).

        Concurrency (r6 verdict #1): the HEAVY fold — reading the
        pinned files, merging, writing the new base files — holds NO
        table lock, exactly like ``write_optimistic``'s compute phase
        (an ``.inflight`` marker keeps the cleaner off the half-written
        files). The lock is taken only for a short publish: re-verify
        the plan file still exists and its pinned files are all still
        live, rename the provisional data dir to the final instant, and
        write the manifest. Concurrent APPENDS (streaming ingest, MOR
        deltas, optimistic inserts) therefore never wait on a large fold
        and never invalidate it — only a commit that REPLACED a pinned
        file does, in which case the fold's output is abandoned to the
        lazy cleaner and the plan discarded (a mid-fold replacement can
        also surface as a read error inside the Spark job: same
        situation one step earlier — the plan was doomed either way).
        """
        pending = self.pending_compactions()
        if plan_id is None:
            if not pending:
                return None
            plan_id = pending[0]
        pdir = os.path.join(self.commits_dir, "_compaction")
        pfile = os.path.join(pdir, plan_id + ".json")
        # ---- plan read + staleness pre-check: NO LOCK (plan files are
        # immutable once scheduled; a concurrent executor either
        # finished — file gone — or discarded it as stale)
        try:
            with open(pfile) as fh:
                plan = json.load(fh)
        except FileNotFoundError:
            return None
        if sort_by is None and plan.get("sort_spec") is not None:
            sort_by = self._sort_by_from_spec(plan["sort_spec"])
        if target_files_per_partition is None:
            target_files_per_partition = int(plan.get("target_files", 1))
        live_by_path = {f["path"]: f for f in self._live_files()}
        pinned_paths = set(plan["files"])
        if not pinned_paths <= set(live_by_path):
            self._discard_plan(pfile)  # a pinned file was replaced
            return None
        pinned = [live_by_path[p] for p in sorted(pinned_paths)]
        import uuid

        # provisional instant for the fold's data dir (uniquified like
        # write_optimistic's — concurrent executors must not collide);
        # the PUBLISHED instant is allocated later, under the lock, and
        # the dir renamed to it so path-derived instants (bloom sidecar
        # lookup, cleaner pruning) stay consistent
        prov = self._next_instant(None) + "c" + uuid.uuid4().hex[:4]
        self._mark_inflight(prov)
        try:
            # ---- fold: NO LOCK HELD (the expensive part — at 100 TB
            # this is a full rewrite of the pinned file set)
            df = self._read_files(sorted(pinned_paths))
            if self.is_mor:
                df = self._merged_read(df).withColumn(
                    DELETED_COL, F.lit(False)
                )
            df = self._cluster_for_compact(
                df, pinned, target_files_per_partition, sort_by
            )
            added = self._write_data_files(df, prov)

            # ---- publish: short critical section
            with self._writer_lock():
                try:
                    with open(pfile) as fh:
                        json.load(fh)
                except FileNotFoundError:
                    self._orphan(added)  # another executor won this plan
                    return None
                live_now = {f["path"] for f in self._live_files()}
                if not pinned_paths <= live_now:
                    # plan went stale DURING the fold: abandon the output
                    self._discard_plan(pfile)
                    self._orphan(added)
                    return None
                if any(
                    not os.path.exists(os.path.join(self.path, f["path"]))
                    for f in added
                ):
                    # fold out-lived its inflight TTL and a cleaner
                    # reaped the output; plan stays valid for a retry
                    self._orphan(added)
                    return None
                inst = self._next_instant(None)
                added = self._relocate_fold(prov, inst, added)
                self._write_manifest(
                    inst,
                    "compact",
                    self._stored_schema(),
                    added,
                    sorted(pinned_paths),
                )
                self._discard_plan(pfile)
                return inst
        finally:
            self._clear_inflight(prov)

    @staticmethod
    def _discard_plan(pfile: str) -> None:
        try:
            os.remove(pfile)
        except FileNotFoundError:
            pass  # concurrent executor discarded it first

    def _orphan(self, added: list[dict]) -> None:
        """Best-effort unlink of an abandoned write's files; the lazy
        cleaner owns whatever survives (same recipe as the optimistic
        conflict path)."""
        for f in added:
            try:
                os.unlink(os.path.join(self.path, f["path"]))
            except OSError:
                pass

    def _relocate_fold(
        self, prov: str, inst: str, added: list[dict]
    ) -> list[dict]:
        """Rename the provisional fold dir ``data/<prov>/`` to the
        published instant's dir (one atomic directory rename, under the
        writer lock) and rewrite the file records to match. Keeps the
        invariant that a file's path embeds its commit's instant, which
        bloom-sidecar lookup and cleaner pruning rely on."""
        os.rename(
            os.path.join(self.data_dir, prov),
            os.path.join(self.data_dir, inst),
        )
        prefix = f"data/{prov}/"
        out = []
        for f in added:
            g = dict(f)
            rel = g["path"].replace(os.sep, "/")
            if rel.startswith(prefix):
                g["path"] = f"data/{inst}/" + rel[len(prefix):]
            out.append(g)
        return out

    # ---------------------------------------------------- inflight markers

    def _mark_inflight(self, instant: str) -> None:
        """Announce a LOCK-FREE write in progress (optimistic writer /
        async-compaction fold): ``_commits/.inflight/<instant>.json``
        tells a concurrent ``clean()`` that ``data/<instant>/`` belongs
        to a live writer, not a crashed one — without it the cleaner
        would reap the half-written files and the later publish would
        reference deleted data (silent loss; r6 advice, high). The
        serialized ``write()`` path doesn't need one: it holds the same
        writer lock ``clean()`` takes.

        The marker is HEARTBEATED (r7 advice, low): a daemon thread
        rewrites its ``at`` timestamp every ``ttl/3`` until
        ``_clear_inflight``. Without it, any fold whose compute phase
        out-lives the TTL gets reaped by a periodic cleaner, aborts at
        publish, and retries just as slowly — a livelock on exactly the
        100 TB-scale compactions the marker exists to protect. A
        CRASHED writer's heartbeat dies with its process, so staleness
        detection is unchanged for the case the TTL is really for."""
        self._write_inflight_marker(instant)
        import threading

        stop = threading.Event()
        interval = max(1.0, self.inflight_ttl_seconds / 3.0)

        def beat() -> None:
            while not stop.wait(interval):
                try:
                    self._write_inflight_marker(instant)
                except OSError:
                    pass  # dir vanished (table dropped mid-write): moot

        th = threading.Thread(
            target=beat, daemon=True, name=f"inflight-hb-{instant}"
        )
        self._inflight_heartbeats[instant] = (stop, th)
        th.start()

    def _write_inflight_marker(self, instant: str) -> None:
        os.makedirs(self.inflight_dir, exist_ok=True)
        tmp = os.path.join(self.inflight_dir, f".{instant}.tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {"instant": instant, "pid": os.getpid(), "at": time.time()},
                fh,
            )
        os.replace(tmp, os.path.join(self.inflight_dir, instant + ".json"))

    def _clear_inflight(self, instant: str) -> None:
        hb = self._inflight_heartbeats.pop(instant, None)
        if hb is not None:
            stop, th = hb
            stop.set()
            # JOIN before unlinking: a beat already past its stop check
            # could os.replace the marker back after the unlink,
            # resurrecting a fresh-timestamped marker for a completed
            # commit (r8 advice). The thread spends its life in
            # Event.wait, so the join returns in at most one marker
            # write; the timeout only guards a wedged filesystem.
            th.join(timeout=10.0)
        try:
            os.unlink(os.path.join(self.inflight_dir, instant + ".json"))
        except OSError:
            pass  # already reaped as stale, or never created

    def _inflight_split(self) -> tuple[set[str], set[str]]:
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

    # -------------------------------------------------------------- cleaner

    def clean(self, retain_commits: int = 2) -> list[str]:
        """Remove data files referenced only by commits older than the
        last ``retain_commits`` — the reference's cleaner policy
        (``CLEANER_COMMITS_RETAINED=2``, ``SRC/package.scala:28-30``).
        Also removes orphan files from crashed writes. Returns deleted
        relative paths.

        Takes the writer lock: a SERIALIZED in-flight write's data files
        exist before its manifest does and would otherwise look like
        orphans — cleaning them mid-write would corrupt the commit.
        LOCK-FREE writers (``write_optimistic`` / the async-compaction
        fold) are instead protected by their ``_commits/.inflight/``
        markers: their data dirs are skipped while the marker is younger
        than ``inflight_ttl_seconds``; older markers are crashed writers
        — the marker is removed and the files reclaimed (any such writer
        still alive aborts at publish via the added-files existence
        check, never publishing a manifest to deleted data)."""
        tl = self.timeline()
        if not tl:
            return []
        with self._writer_lock():
            return self._clean_locked(tl, retain_commits)

    def _clean_locked(self, tl: list[str], retain_commits: int) -> list[str]:
        keep = set()
        for inst in tl[-retain_commits:]:
            keep |= {f["path"] for f in self._live_files_at(inst)}
        # savepointed instants pin their whole live set regardless of
        # the retention horizon (Hudi savepoint semantics)
        for sp in self.savepoints():
            keep |= {f["path"] for f in self._live_files_at(sp)}
        inflight, stale_inflight = self._inflight_split()
        for inst in stale_inflight:
            self._clear_inflight(inst)  # crashed writer: files now fair game
        deleted = []
        for root, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                parts = rel.replace(os.sep, "/").split("/")
                if len(parts) >= 2 and parts[1] in inflight:
                    continue  # live lock-free writer's in-flight files
                if rel not in keep and fn.endswith(".parquet"):
                    os.remove(full)
                    deleted.append(rel)
        # prune now-empty instant dirs (never an in-flight writer's: its
        # dir may exist before Spark materializes the first part file)
        for d in os.listdir(self.data_dir) if os.path.isdir(self.data_dir) else []:
            full = os.path.join(self.data_dir, d)
            if d not in inflight and os.path.isdir(full) and not any(
                fns for _r, _ds, fns in os.walk(full)
            ):
                shutil.rmtree(full)
        # prune bloom sidecars whose instant no longer has any live file
        live_instants = {
            p.replace(os.sep, "/").split("/")[1]
            for p in keep
            if "/" in p.replace(os.sep, "/")
        }
        for sidecar_dir, cache in (
            (self.bloom_dir, self._bloom_sidecars),
            (self.col_bloom_dir, self._col_bloom_sidecars),
        ):
            if not os.path.isdir(sidecar_dir):
                continue
            for fn in os.listdir(sidecar_dir):
                if fn.endswith(".json") and fn[: -len(".json")] not in live_instants:
                    os.remove(os.path.join(sidecar_dir, fn))
                    cache.pop(fn[: -len(".json")], None)
        # and the value→file index dirs the same way
        for idx in (self._record_idx, self._sec_idx):
            idx.prune(live_instants)
        return sorted(deleted)

    def archive_timeline(self, keep_commits: int = 4) -> list[str]:
        """Move manifests older than the last ``keep_commits`` into
        ``_commits/_archived/`` (timeline archival,
        ``SRC/package.scala:26-27``: min 3 / max 4).

        Archival stops at the earliest savepointed instant (Hudi's
        rule): a savepoint promises a reproducible ``as_of`` read, and
        archiving its manifest would turn that read into the
        archived-horizon error while the pinned files still exist."""
        tl = self.timeline()
        to_archive = tl[:-keep_commits] if len(tl) > keep_commits else []
        sps = self.savepoints()
        if sps:
            first_sp = min(sps)
            to_archive = [i for i in to_archive if i < first_sp]
        if not to_archive:
            return []
        # pin a checkpoint at the archival horizon so live-set replays of
        # the active window never need to read archived manifests (the
        # _manifest_any fallback still covers a lost checkpoint)
        horizon = to_archive[-1]
        if not any(c >= horizon for c in self._checkpoints()):
            self._write_files_checkpoint(
                horizon, self._live_files_at(horizon)
            )
        arch = os.path.join(self.commits_dir, "_archived")
        os.makedirs(arch, exist_ok=True)
        for inst in to_archive:
            os.replace(
                os.path.join(self.commits_dir, inst + ".json"),
                os.path.join(arch, inst + ".json"),
            )
        return to_archive

    # ----------------------------------------------------------- hive sync

    def sync_view(self, name: str | None = None) -> None:
        """Catalog registration — the engine's stand-in for Hive metastore
        sync (``SRC/util/HudiConfig.scala:38-44``): snapshot as a temp
        view usable from ``spark.sql``."""
        self.snapshot().createOrReplaceTempView(name or f"{self.db}_{self.table}")

    def sync_table(self, name: str | None = None) -> str:
        """Persistent catalog sync — the closer analog of Hudi's Hive
        metastore DDL sync (``SRC/util/HudiConfig.scala:38-44``,
        ``hoodie.datasource.hive_sync.*``): materialize the merged
        snapshot as a *session-catalog table* via ``saveAsTable``, so
        any session sharing the catalog (``spark.newSession()``, or a
        metastore-backed deployment) can ``spark.sql`` against it
        without holding a :class:`LakeTable` handle.

        Unlike Hudi — whose sync registers the live file layout behind
        a custom input format — this engine owns the merge logic in
        Python, so the synced table is a snapshot *copy* as of the
        latest commit; re-run after new commits to refresh (Hudi's sync
        is likewise re-invoked per commit). Returns the catalog name.

        PARTITION-GRANULAR (r5 verdict #6, the
        ``ALTER TABLE ADD PARTITION`` loop of
        ``SRC/util/HudiConfig.scala:38-44``): a partitioned lake table
        syncs as a catalog table partitioned on the same keys, each
        partition registered individually — so external engines prune
        on the partition column and ``SHOW PARTITIONS`` lists the lake
        layout. ``saveAsTable(partitionBy=...)`` registers the written
        partitions; a defensive ``MSCK REPAIR`` then reconciles any the
        write path missed (the catalog-side analog of Hudi's
        per-partition sync loop).
        """
        ident = name or f"{self.db}_{self.table}"
        writer = self.snapshot().write.mode("overwrite").format("parquet")
        if self.partition_keys:
            writer = writer.partitionBy(*self.partition_keys)
        writer.saveAsTable(ident)
        if self.partition_keys:
            # per-partition registration sweep — harmless when the write
            # already registered them, repairs drift when it didn't
            self.spark.sql(f"MSCK REPAIR TABLE {ident}")
        # the overwrite replaces the backing files; invalidate this
        # session's cached file listing (other sessions REFRESH TABLE
        # themselves, exactly as consumers of Hive-synced tables do)
        self.spark.catalog.refreshTable(ident)
        return ident

    def synced_partitions(self, ident: str) -> list[str]:
        """``SHOW PARTITIONS`` of a synced catalog table, sorted — the
        verification hook for partition-granular sync."""
        return sorted(
            r[0] for r in self.spark.sql(f"SHOW PARTITIONS {ident}").collect()
        )
