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

The commit log — manifests, checkpoints, fences, inflight markers,
compaction plans, stream offsets and savepoints — is
``lake/timeline.py`` (:class:`Timeline`); its docstring holds the
storage layout and the manifest-log design. This module writes the data
files and index sidecars the manifests name.

Design notes (100 TB):

- Partition values are **duplicated** into ``__pt_<col>`` directory
  columns purely for layout; the real columns stay in the data files, so
  readers never depend on directory-schema inference and explicit
  file-list reads keep full column/filter pushdown.
- COW upsert reads and rewrites **only the partitions present in the
  batch** (or, under the global index, partitions holding matching keys —
  found with a key-column-only scan, i.e. a column-pruned semi-join, the
  engine's bloom-index analog). Untouched partitions are carried over by
  manifest reference — zero data movement.
- A crashed write leaves invisible orphan data files that the
  cleaner removes; writers serialize on the pluggable lock
  (``lake/locks.py``), or publish optimistically
  (:meth:`LakeTable.write_optimistic`).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from emr_hudi_example_spark.functions.core import pk_not_null_condition
from emr_hudi_example_spark.lake import bloom as bloom_mod
from emr_hudi_example_spark.lake import fold as fold_mod
from emr_hudi_example_spark.lake.columns import (
    COMMIT_TIME_COL,
    DELETED_COL,
    META_COLS,
    PARTITION_PATH_COL,
    RECORD_KEY_COL,
)
from emr_hudi_example_spark.lake.index import (
    ValueIndex,
    creating_instant,
)
from emr_hudi_example_spark.lake.locks import FileLockProvider, LockProvider
from emr_hudi_example_spark.lake.prune import FilePlanner, Kept, ScanReport
from emr_hudi_example_spark.lake.timeline import (
    ConcurrentWriteConflict,
    Timeline,
    newest,
    write_json,
)

#: explicit key-only read schema for the key sidecar builds: the creating
#: commit indexes before its own manifest exists, so the stored schema
#: isn't readable yet — and those builds never need more than the key
_KEY_SCHEMA = T.StructType([T.StructField(RECORD_KEY_COL, T.StringType())])

_PT_PREFIX = "__pt_"


class TableNotFound(ValueError):
    """A read or keyed op on a table with no commit."""


def _marked_unique(added: list[dict], unique: bool) -> list[dict]:
    """``added``, each entry marked ``unique: true`` when its writer
    proved that no key occurs twice in the file (:meth:`LakeTable.
    _merged_read` skips the merge over one such file)."""
    if unique:
        for f in added:
            f["unique"] = True
    return added


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


def reference_table_type(partition_keys: list[str] | None) -> str:
    """The reference's dynamic storage-type rule
    (``SRC/package.scala:176``, ``SRC/MSK2Hudi.scala:42``,
    ``SRC/Hive2Hudi.scala:32``): COPY_ON_WRITE when unpartitioned,
    MERGE_ON_READ when partitioned."""
    return "MERGE_ON_READ" if partition_keys else "COPY_ON_WRITE"


class LakeTable(FilePlanner):
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
        stats_columns: list[str] | None = None,
        bloom_index: bool = False,
        bloom_columns: list[str] | None = None,
        bucket_index: int | None = None,
        payload: str = "default",
        secondary_index_columns: list[str] | None = None,
    ) -> None:
        if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise ValueError(f"unknown table type: {table_type}")
        if payload not in ("default", "partial_update"):
            raise ValueError(f"unknown payload: {payload}")
        super().__init__()
        self.spark = spark
        #: the driver fast paths (pyarrow reads, driver-side sidecar
        #: builds) need a POSIX-local ``base_path``; on a remote URI
        #: (s3://, hdfs://, …) they disable themselves and the Spark
        #: route (Hadoop FileSystem) is the only path. A one-char scheme
        #: is a Windows drive letter, still local. ``file://`` is local
        #: and its scheme is stripped, or every os-path call would see
        #: an empty table; ``file://server/share`` names a remote share
        #: no route can serve, so it is rejected here.
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
        #: column patches). Both table types: COW folds at write
        #: (:meth:`_merge`), MOR at read/compact (:meth:`_merged_read`).
        self.payload = payload
        #: COW rewrites key-hit files per upsert; MOR appends delta files
        #: and merges at read (the reference picks MOR for partitioned
        #: tables, SRC/package.scala:176, SRC/MSK2Hudi.scala:42).
        self.table_type = table_type
        #: MOR inline compaction every N delta commits — the reference's
        #: ``inlineMax`` knob (default 20, SRC/conf/Config.scala:24).
        self.inline_compact_deltas = inline_compact_deltas
        self.data_dir = os.path.join(self.path, "data")
        #: what the most recent snapshot / read_optimized / incremental /
        #: write / write_optimistic / merge_into call planned: files
        #: considered and files each pruning layer dropped. Replaced
        #: whole at the end of each such call; a call that planned
        #: nothing installs an empty report.
        self.last_scan = ScanReport()
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
        #: analog, ``SRC/Log2Hudi.scala:78-79``): prunes upsert/delete
        #: candidate files whose bloom excludes every batch key — the
        #: random-key workload where min/max range stats prune nothing.
        #: One instance of the per-file bloom (lake/bloom.py).
        self.bloom_index = bloom_index
        self.bloom_dir = os.path.join(self.path, "_bloom")
        self._key_bloom = bloom_mod.Bloom(
            self, self.bloom_dir, "bloom", [RECORD_KEY_COL],
            bloom_mod.KEY_NBITS, bloom_mod.KEY_HASHES,
        )
        #: column blooms on non-key columns (Hudi's metadata-table
        #: bloom-filter partition beyond the record key): the other
        #: instance, probed by ``=``/``in`` predicate reads — the
        #: high-cardinality-column workload (request ids, emails) where
        #: min/max stats prune nothing
        self.bloom_columns = list(bloom_columns or [])
        self.col_bloom_dir = os.path.join(self.path, "_bloom_cols")
        self._col_bloom = bloom_mod.Bloom(
            self, self.col_bloom_dir, "col_bloom", self.bloom_columns,
            bloom_mod.COL_NBITS, bloom_mod.COL_HASHES,
        )
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
        #: OCC seam (SRC/package.scala:38-47 parity): default is the
        #: single-host O_EXCL file lock; a multi-host deployment plugs
        #: in a coordination-service provider here (see lake/locks.py)
        self.lock_provider: LockProvider = (
            lock_provider or FileLockProvider(self.path)
        )
        #: the commit log; restore re-allocates instant ids, so its one
        #: reset also clears the planner's and the blooms' instant-keyed
        #: caches
        self.tl = Timeline(
            self.path,
            self.lock_provider,
            caches=(
                self._pstats_cache,
                self._col_type_cache,
                self._key_bloom,
                self._col_bloom,
            ),
        )
        #: lazy cache of ``_external/bases.json`` (metadata-only
        #: bootstrap registry; see :meth:`bootstrap_metadata_only`)
        self._external_cache: list[dict] | None = None

    @property
    def is_mor(self) -> bool:
        return self.table_type == "MERGE_ON_READ"

    # ------------------------------------------------------------ timeline

    def timeline(self) -> list[str]:
        """Committed instants, ascending (see :meth:`Timeline.instants`)."""
        return self.tl.instants()

    def last_instant(self) -> str | None:
        return self.tl.last()

    def last_checkpoint(self, source_id: str) -> int | None:
        """Newest committed checkpoint value for ``source_id`` (the
        exactly-once replay guard's read side)."""
        cp = self.last_checkpoint_entry(source_id)
        return cp.get("batch_id") if cp else None

    def last_checkpoint_entry(self, source_id: str) -> dict | None:
        """Newest committed checkpoint dict for ``source_id``, extra
        keys (the pipelines' source-slice ``cursor``) included."""
        return self.tl.last_checkpoint_entry(source_id, self.tl.instants())

    def record_stream_offsets(
        self, query_name: str, batch_id: int, sources: list[dict]
    ) -> None:
        """Persist a streaming batch's per-source end offsets — the
        engine-native replacement for the reference's Kafka
        consumer-group commit-back (``SRC/Log2Hudi.scala:47-48``): a
        per-query offsets file lag monitors read now, and
        ``stream_offsets`` in the next manifest. Called by
        ``streaming.sources.OffsetCommitListener``."""
        self.tl.record_stream_offsets(query_name, batch_id, sources)

    def stream_offsets(self, query_name: str) -> dict | None:
        """Newest recorded offsets for ``query_name``, or None."""
        return self.tl.stream_offsets(query_name)

    def savepoint(self, instant: str) -> None:
        """Pin ``instant`` against the cleaner (Hudi savepoint): the
        files live AT it are retained by ``clean()`` regardless of its
        retention horizon, so time travel to it keeps working — audit /
        reproducibility pins. Archival stops at the earliest
        savepoint."""
        self.tl.savepoint(instant)

    def release_savepoint(self, instant: str) -> None:
        """Unpin; the next ``clean()`` may reap the instant's files."""
        self.tl.release_savepoint(instant)

    def savepoints(self) -> list[str]:
        return self.tl.savepoints()

    def pending_compactions(self) -> list[str]:
        """Scheduled-but-unexecuted plan ids, ascending."""
        return self.tl.pending_plans()

    def archive_timeline(self, keep_commits: int = 4) -> list[str]:
        """Move manifests older than the last ``keep_commits`` to the
        archived timeline (``SRC/package.scala:26-27``: min 3 / max
        4), stopping at the earliest savepoint (Hudi's rule: archiving
        its manifest would break the pinned ``as_of`` read)."""
        return self.tl.archive(keep_commits)

    def restore(self, instant: str) -> list[str]:
        """Roll the table back to ``instant`` (Hudi savepoint+restore
        analog) under the writer lock: later commits leave the timeline
        and their data files are deleted. Returns the discarded
        instants."""
        with self._writer_lock():
            return self.tl.restore(instant)

    def exists(self) -> bool:
        return self.tl.last() is not None

    def _key_cols(self) -> list[str]:
        """The columns that identify a record: the key alone under the
        global index (a key is unique table-wide), else (partition
        path, key)."""
        return (
            [RECORD_KEY_COL]
            if self.global_index
            else [PARTITION_PATH_COL, RECORD_KEY_COL]
        )

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

    def _read_files(self, files: list[str], schema: T.StructType) -> DataFrame:
        """Scan manifest file paths under ``schema``. Table-relative
        paths are the normal engine-written files; ABSOLUTE paths are
        externally-adopted files (:meth:`bootstrap_metadata_only`) whose
        meta columns are synthesized at read time from the bootstrap
        registry."""
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
        """Archival-horizon gate shared by the history reads: a range
        starting before the first active instant of listing ``tl`` can
        no longer enumerate the archived commits' files, and serving it
        would silently drop rows (``incremental``) or misclassify
        updates as inserts (``changes``) — raise, as Hudi does.
        ``point=True`` marks an ``as_of`` lookup: one that predates the
        earliest ARCHIVED commit predates the table and keeps its empty
        view; only ``first_archived <= as_of < first_active`` raises. A
        range (``begin is None`` included) always overlaps the archived
        era."""
        archived = self.tl.archived()
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

    def _stored_schema(self, head: str | None) -> T.StructType:
        """The table schema as of ``head``, the op's listed head; a
        None head is a table with no commit."""
        if head is None:
            raise TableNotFound(f"table {self.db}.{self.table} does not exist")
        return T.StructType.fromJson(self.tl.manifest(head)["schema"])

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

    def metadata_count(
        self,
        partition_filter: dict[str, object] | None = None,
        as_of: str | None = None,
    ) -> tuple[int, bool]:
        """Exact row count of the snapshot view from MANIFEST stats
        alone — driver-side arithmetic, no scan, no Spark job (the
        metadata-table ``count(*)`` path). Returns ``(count,
        from_metadata)``. Exact only where no read-time merge can change
        cardinality: COW (deletes materialize at write) with a ``rows``
        stat on every file. MOR, or a file without the stat, falls back
        to an exact ``snapshot().count()`` scan (``from_metadata=False``).
        The fast path needs only the manifest, so a COW ``as_of`` count
        serves even after the cleaner reaped that view's files; the
        fallback keeps :meth:`snapshot`'s cleaned-files error, and an
        as_of past the archival horizon raises like every history
        read."""
        tl = self.tl.instants()
        files, _ = self._view_files(tl, partition_filter, as_of)
        if files is None:
            return 0, True
        if not self.is_mor and all(
            f.get("rows") is not None for f in files
        ):
            return sum(f["rows"] for f in files), True
        return self._snapshot(tl, partition_filter, as_of).count(), False

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
        tl = self.tl.instants()
        files, _ = self._view_files(tl, partition_filter, as_of)
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
            self._snapshot(tl, partition_filter, as_of)
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
        0.11 data skipping); ``last_scan`` reports what each layer
        pruned.
        """
        return self._snapshot(
            self.tl.instants(), partition_filter, as_of, predicate
        )

    def _snapshot(
        self,
        tl: list[str],
        partition_filter: dict[str, object] | None = None,
        as_of: str | None = None,
        predicate: list[tuple] | None = None,
    ) -> DataFrame:
        """:meth:`snapshot` of the table state listing ``tl`` names."""
        files, inst = self._view_files(tl, partition_filter, as_of)
        if files is None:
            self.last_scan = ScanReport()
            return _empty_df(self.spark, self._stored_schema(newest(tl)))
        files = self._plan_read(files, predicate, tl, inst)
        if as_of is not None and inst != newest(tl):
            # time travel only — the latest view's files are live by
            # the cleaner's keep-set invariant
            self._require_live_paths(
                [f["path"] for f in files], f"snapshot(as_of={as_of!r})"
            )
        out = self._read_files(
            [f["path"] for f in files], self._stored_schema(inst)
        )
        if self.is_mor:
            out = self._merged_read(out, files, predicate)
        elif predicate:
            out = out.filter(self._predicate_condition(predicate))
        self.last_scan = files.report
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
        tl = self.tl.instants()
        files, head = self._view_files(tl, None, None)
        files = [f for f in files if f.get("kind", "base") == "base"]
        # base-only read: no merge follows, so no delta can resurface a
        # skipped row — prune as if COW (all_base lifts the MOR rules
        # while keeping op validation and the report consistent).
        # The partition-stats aggregate covers deltas too — a superset
        # only widens ranges, so wholesale-prunes stay conservative.
        files = self._plan_read(files, predicate, tl, head, all_base=True)
        out = self._read_files(
            [f["path"] for f in files], self._stored_schema(head)
        ).drop(DELETED_COL)
        if predicate:
            out = out.filter(self._predicate_condition(predicate))
        self.last_scan = files.report
        return out

    def _range_commits(
        self, tl: list[str], begin: str | None, end: str | None, what: str
    ) -> tuple[str | None, list[dict]]:
        """The commits of listing ``tl`` in ``(begin, end]`` for
        :meth:`incremental` and :meth:`changes`: ``(newest in-range
        instant, the in-range manifests that change rows)``, after the
        archival-horizon gate. Metadata-only ``index_backfill`` commits
        re-list existing files and change no row: counting them would
        scan a file twice when the range also holds its creating commit
        (duplicate COW rows) and key-scan every covered file."""
        self._require_active_horizon(begin, tl, what)
        in_range = [
            i for i in tl
            if (begin is None or i > begin) and (end is None or i <= end)
        ]
        commits = [
            m for m in map(self.tl.manifest, in_range)
            if m.get("action") != "index_backfill"
        ]
        return newest(in_range), commits

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
        that COW rewrites copied into those files. The ``commit_time``
        layer applies that filter to whole files first: an in-range file
        whose ``ct_range`` misses ``(begin, end]`` (a compaction's base
        file, whose rows keep their older commit times) is not opened;
        a file without the statistic is. ``predicate`` additionally
        skips in-range files by manifest column stats (see
        :meth:`snapshot`) before the scan, then applies the exact row
        filter.

        On MOR the surviving files merge per key (:meth:`_merged_read`);
        a lone ``unique`` delta without tombstones, the usual tick of a
        pipeline that reads each new commit once, is returned as scanned
        and filtered, with no shuffle.
        """
        tl = self.tl.instants()
        last, commits = self._range_commits(
            tl, begin, end, "incremental range"
        )
        added: list[dict] = []
        seen_paths: set[str] = set()
        for m in commits:
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
            for f in (self.tl.live_files(last, tl) if last else [])
        }
        fds = [f for f in added if f["path"] in live_at_end]
        # in-range files are a subset of the live set at the range end,
        # so that instant's partition-stats aggregate applies (superset)
        fds = self._plan_read(fds, predicate, tl, last, span=(begin, end))
        # an in-range file live at `end` can still be cleaned once the
        # retention horizon moves past `end` — fail with the contract
        # error, not PATH_NOT_FOUND mid-scan
        self._require_live_paths(
            [f["path"] for f in fds],
            f"incremental({begin!r}, {end!r})",
        )
        df = self._read_files(
            [f["path"] for f in fds], self._stored_schema(newest(tl))
        )
        cond = F.lit(True)
        if begin is not None:
            cond = cond & (F.col(COMMIT_TIME_COL) > begin)
        if end is not None:
            cond = cond & (F.col(COMMIT_TIME_COL) <= end)
        if self.is_mor:
            # merge within the range: one row per key (its newest
            # in-range version), matching what a COW rewrite would have
            # produced; tombstones drop out in the merge
            out = self._merged_read(df.filter(cond), fds, predicate)
        else:
            if predicate:
                cond = cond & self._predicate_condition(predicate)
            out = df.filter(cond)
        self.last_scan = fds.report
        return out

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
        tl = self.tl.instants()
        _, commits = self._range_commits(tl, begin, end, "changes range")
        touched: list[str] = []
        for m in commits:
            touched.extend(f["path"] for f in m["added"])
            touched.extend(m["replaced"])
        key_cols = self._key_cols()
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
        stored = self._stored_schema(newest(tl))
        data_cols = [
            f.name for f in stored.fields
            if f.name not in META_COLS + [DELETED_COL]
        ]

        def image(as_of: str | None) -> DataFrame:
            if as_of is None:
                snap = _empty_df(self.spark, stored)
            else:
                snap = self._snapshot(tl, as_of=as_of)
            for c in data_cols:  # pre-evolution snapshots lack new columns
                if c not in snap.columns:
                    snap = snap.withColumn(
                        c, F.lit(None).cast(stored[c].dataType)
                    )
            return snap.join(affected, key_cols, "left_semi").select(
                *key_cols, F.struct(*data_cols).alias("_img")
            )

        before = image(begin)
        after = image(end if end is not None else newest(tl))
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
            self.spark.readStream.schema(self._stored_schema(self.tl.last()))
            .option("recursiveFileLookup", "true")
            .parquet(self.data_dir)
        )

    def logical(self, df: DataFrame | None = None) -> DataFrame:
        """Strip meta columns — ``SRC/package.scala:166-168``."""
        return (df if df is not None else self.snapshot()).drop(*META_COLS)

    # --------------------------------------------------------------- writes

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
        upsert, delete}. Returns the committed instant, or None when
        nothing was published (an empty upsert on an existing table —
        see :meth:`_commit_upsert` — or a replayed checkpoint).

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
            tl = self.tl.instants()
            if checkpoint is not None:
                cp = self.tl.last_checkpoint_entry(checkpoint["source_id"], tl)
                last = (cp or {}).get("batch_id")
                if last is not None and last >= checkpoint["batch_id"]:
                    self.last_scan = ScanReport()
                    return None  # replayed batch — already committed
            inst = self.tl.next_instant(instant, tl)
            out, scan = self._commit(
                op, df, inst, tl, sort_mode, sort_files, checkpoint
            )
            published = self._publish(inst, out, tl, checkpoint)
        self.last_scan = scan
        return published

    def _commit(
        self,
        op: str,
        df: DataFrame,
        inst: str,
        tl: list[str],
        sort_mode: str = "NONE",
        sort_files: int | None = None,
        checkpoint: dict | None = None,
    ) -> tuple[tuple | None, ScanReport]:
        """The compute step of every write op, shared by :meth:`write`
        and :meth:`write_optimistic`: write the op's data files under
        ``inst``, planned against the table state listing ``tl`` names.
        Returns ``(out, report)``: ``out`` is ``(action, schema, added,
        replaced)`` for the publish step, or None when there is nothing
        to publish; ``report`` is the file planning of a keyed COW
        rewrite (empty for every other op). ``checkpoint`` is the
        streaming checkpoint the publish will carry: an upsert with one
        always publishes."""
        if op in ("insert", "bulk_insert"):
            out = self._commit_insert(df, inst, tl, sort_mode, sort_files)
        elif op == "upsert":
            return self._commit_upsert(df, inst, tl, checkpoint)
        elif op == "delete":
            return self._commit_delete(df, inst, tl)
        elif op == "insert_overwrite":
            out = self._commit_insert_overwrite(df, inst, tl)
        else:
            raise ValueError(f"unknown write op: {op}")
        return out, ScanReport()

    def _publish(
        self,
        inst: str,
        out: tuple | None,
        tl: list[str],
        checkpoint: dict | None = None,
    ) -> str | None:
        """The serialized publish step (writer lock held, ``tl`` listed
        under it): the manifest write, then the MOR inline-compaction
        check after a commit that appended delta files. Lock-free
        publishers never fold inline — it would stretch their short
        critical section."""
        if out is None:
            return None
        self._write_manifest(inst, *out, tl, checkpoint=checkpoint)
        if (
            self.inline_compact_deltas is not None
            and any(f["kind"] == "delta" for f in out[2])
            and 1 + self._delta_commits_since_compact(tl)
            >= self.inline_compact_deltas
        ):
            self._compact_locked(None, 1, None, tl + [inst])
        return inst

    def write_optimistic(
        self,
        df: DataFrame,
        op: str = "upsert",
        instant: str | None = None,
    ) -> str | None:
        """Hudi's OPTIMISTIC multi-writer model (the concurrency mode
        its ZooKeeper lock arbitrates, ``SRC/package.scala:38-47``): the
        compute step of :meth:`write` — reading the affected files,
        merging, writing the new data files — runs with NO lock,
        planned against ``base``, the head of a first listing. The lock
        is taken only for the conflict check against a second listing
        and the manifest publish. Writers touching DISJOINT data both
        succeed; a writer whose read set changed underneath it, or
        whose planned instant was out-run, raises
        :class:`ConcurrentWriteConflict` and publishes nothing (its
        data files are orphaned; retry against fresh state). Returns
        the committed instant, or None for an empty upsert, as
        :meth:`write`.

        Conflict rules against each commit after ``base``
        (conservative, never unsound):

        * a file this commit REPLACES was replaced by it → lost update;
        * for key-merging ops, it ADDED a file whose (partition,
          record-key range) overlaps one of ours (``insert`` skips
          this: it is not key-unique);
        * its instant is ≥ ours → instant-order violation (our files
          are stamped with the planned instant).

        On MERGE_ON_READ every optimistic write is an APPEND, and
        appends commute under the read-time precombine merge, so MOR
        needs only the instant-order check — why the reference routes
        its partitioned streaming tables to MOR
        (``SRC/package.scala:176``). Inline compaction never runs here;
        use the async compactor. The creating commit serializes, and
        exactly-once ``checkpoint`` batches belong to :meth:`write`.
        """
        if op not in ("insert", "upsert", "delete"):
            raise ValueError(f"unsupported optimistic op: {op}")
        tl = self.tl.instants()
        base = newest(tl)
        if base is None:
            return self.write(df, op=op, instant=instant)
        if instant is None:
            # uniquify: concurrent writers allocating in the same
            # millisecond must not share a data directory / manifest
            # name (the suffix keeps the instant sorting after `base`)
            inst = self.tl.next_instant(None, tl) + "w" + uuid.uuid4().hex[:4]
        else:
            inst = self.tl.next_instant(instant, tl)

        # announce the lock-free write BEFORE any data file exists so a
        # concurrent clean() (which cannot see our not-yet-published
        # manifest) never reaps the in-flight files as orphans
        self.tl.mark_inflight(inst)
        try:
            # planned against `base`: the conflict check below compares
            # the commits published after it
            out, scan = self._commit(op, df, inst, tl)
            if out is not None:
                with self._writer_lock():
                    now = self.tl.instants()
                    self._survive_or_orphan(
                        out[2],
                        lambda: self.tl.check_conflicts(
                            base, inst, out[2], out[3],
                            not (op == "insert" or self.is_mor), now,
                        ),
                    )
                    self._write_manifest(inst, *out, now)
        finally:
            self.tl.clear_inflight(inst)
        self.last_scan = scan
        return None if out is None else inst

    def _survive_or_orphan(
        self, added: list[dict], check: Callable[[], None]
    ) -> None:
        """First step of both lock-free publishes (writer lock held):
        run the caller's ``check``, then verify every added file still
        exists — a compute phase that out-lived its inflight TTL may
        have had its files reaped by the cleaner. Either abort orphans
        ``added`` and raises :class:`ConcurrentWriteConflict`."""
        try:
            check()
            missing = [
                f["path"]
                for f in added
                if not os.path.exists(os.path.join(self.path, f["path"]))
            ]
            if missing:
                raise ConcurrentWriteConflict(
                    f"in-flight data files reaped by the cleaner "
                    f"(marker exceeded inflight_ttl_seconds="
                    f"{self.tl.inflight_ttl_seconds}): {missing[:3]}"
                )
        except ConcurrentWriteConflict:
            self._orphan(added)
            raise

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
            tl = self.tl.instants()
            head = newest(tl)
            inst = self.tl.next_instant(instant, tl)
            doomed = [
                f["path"]
                for f in self.tl.live_files(head, tl)
                if f["partition_path"] in pps
            ]
            self._write_manifest(
                inst, "delete_partition", self._stored_schema(head), [],
                doomed, tl,
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

        AMBIGUOUS MATCHES RAISE (ANSI MERGE / Delta semantics): if more
        than one row matches for a record key — a duplicate-key source,
        or duplicate target rows from prior inserts — the merge raises
        instead of committing. A duplicate source routing one row to
        the delete clause and another to the update clause would commit
        a same-instant tombstone + data row whose visibility differs
        between COW and MOR. Pre-aggregate the source to one row per key
        first, as Delta requires. An INSERT-ONLY merge (no
        ``update_set``, no ``delete_condition``) skips the gate:
        matched rows modify nothing there.

        Concurrency: the classification and the ambiguity gate run
        against the snapshot of a listing taken BEFORE the writer lock;
        if the listing under the lock differs, both are re-derived
        against it, so a concurrent writer landing duplicate target
        rows trips the gate instead of evading it.

        Scale shape: matched/unmatched classification is ONE shuffle
        join of source against the snapshot on the record key; the
        commit then reuses the upsert path's file pruning, so write
        amplification scales with keys touched. Deletes ride the same
        commit: COW anti-joins them out of the rewritten files; MOR
        appends tombstones into the same delta batch.
        """
        planned = self.tl.instants()
        if not planned:
            raise ValueError("merge_into on non-existent table")

        def plan(tl: list[str]) -> tuple[DataFrame, DataFrame, list[str]]:
            """Classification + ambiguity gate against the snapshot
            listing ``tl`` names; returns (upserts, del_full, tcols).
            Called once optimistically outside the lock, and re-called
            under the lock iff the table advanced in between."""
            t = self._snapshot(tl).drop(*META_COLS)
            tcols = t.columns
            t = t.alias("t")
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

        upserts, del_full, tcols = plan(planned)
        with self._writer_lock():
            tl = self.tl.instants()
            if tl != planned:
                # the table advanced between plan and lock: the gate and
                # the matched/unmatched split are stale. Re-derive under
                # the lock — no further commit can land, so this pass is
                # exact (a concurrent duplicate-landing writer now trips
                # the gate instead of evading it).
                upserts, del_full, tcols = plan(tl)
            inst = self.tl.next_instant(instant, tl)
            up = self._prepare_batch(upserts, inst)
            # delete leg: combine=False — the ambiguity gate above
            # already guarantees one matched row per key, so a
            # preCombine over del_full is a pure no-op aggregation
            # (and delete batches never combine, see _prepare_batch)
            dl = self._prepare_batch(del_full, inst, combine=False)
            if self.is_mor:
                tomb = dl.withColumn(DELETED_COL, F.lit(True))
                out = self._mor_append(up.unionByName(tomb), inst, "merge", tl)
                scan = ScanReport()
            else:
                up = self._align_schema(up, tl)
                dl = self._align_schema(dl, tl)
                out, scan = self._keyed_rewrite("merge", inst, tl, up, dl)
            published = self._publish(inst, out, tl)
        self.last_scan = scan
        return published

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
        test_partial_update_duplicate_keys_in_batch``). One
        aggregation over the batch (a partial aggregate before the
        shuffle, batch-sized — the same shuffle Hudi's
        combine-before-upsert pays). The
        default payload is untouched: there the whole-row max-by folds
        already collapse in-batch duplicates identically on both table
        types, and the insert duplicate-key contract stays as
        documented on :meth:`_commit_insert`."""
        part_cols = self._key_cols()
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
        falling back to the winner's (all-null) value. One
        aggregation with a partial aggregate before the shuffle; Spark
        plans it as a ``SortAggregate`` (a ``Sort`` on each side of the
        exchange), because a struct ``max_by`` buffer is not a mutable
        fixed-width one. (:meth:`_merged_read` is the
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
        inst: str,
        tl: list[str],
        sort_mode: str = "NONE",
        sort_files: int | None = None,
    ) -> tuple:
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
        batch = self._align_schema(self._prepare_batch(df, inst), tl)
        batch = self._apply_bulk_sort(batch, sort_mode, sort_files)
        # MOR inserts land as BASE files (Hudi routes inserts to parquet
        # base, only merges/deletes to the log). sort_mode=NONE is the
        # explicit cheapest-write contract — no key sort either; the
        # sorted modes already ordered by (partition, key).
        added = self._write_data_files(
            batch, inst, kind="base", key_sort=sort_mode != "NONE"
        )
        return "insert", batch.schema, added, []

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
        self, df: DataFrame, inst: str, tl: list[str]
    ) -> tuple:
        """Hudi's ``insert_overwrite``: REPLACE the contents of every
        partition the batch touches (whole table when unpartitioned)
        with the batch — the idempotent full-refresh op for dimension
        reloads and backfills. No key merge: the batch IS the new
        partition content. One commit: ``added`` = the batch's files,
        ``replaced`` = the touched partitions' previous live files —
        untouched partitions carry over by manifest reference, so the
        cost scales with the REFRESHED slice, never the table."""
        batch = self._align_schema(self._prepare_batch(df, inst), tl)
        live = self.tl.live_files(newest(tl), tl)
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
        return "insert_overwrite", batch.schema, added, doomed

    def _commit_upsert(
        self,
        df: DataFrame,
        inst: str,
        tl: list[str],
        checkpoint: dict | None = None,
    ) -> tuple[tuple | None, ScanReport]:
        """Keyed upsert. On an existing table with no ``checkpoint``
        (``skip_empty``), an EMPTY batch publishes nothing and returns
        None. A creating commit still publishes (it creates the table),
        and so does a checkpointed one (its cursor must land). The
        in-driver routes (``lake/fold.py``: the COW keyed rewrite and
        the MOR delta append) see the empty batch in their Arrow
        collect and write nothing. The Spark routes read it from the
        footers of the files they wrote (:meth:`_discard_if_empty`):
        every one holds 0 rows, or the write made none (an empty
        ``partitionBy`` or bucket write). Hudi and Delta take a
        commit's row counts from its data files the same way; a COW
        batch with no key rewrites no live file (:meth:`_affected_files`)."""
        batch = self._prepare_batch(df, inst)
        skip_empty = bool(tl) and checkpoint is None
        if self.is_mor:
            out = self._mor_append(batch, inst, "upsert", tl, skip_empty)
            return out, ScanReport()
        batch = self._align_schema(batch, tl)
        return self._keyed_rewrite(
            "upsert", inst, tl, batch, skip_empty=skip_empty
        )

    def _discard_if_empty(self, added: list[dict], inst: str) -> bool:
        """After a Spark data write: True when every file in ``added``
        holds 0 rows by its footer (also when there is none) —
        ``data/<inst>/`` is removed and the caller publishes no
        manifest. A file whose row count is unknown publishes."""
        if any(f.get("rows", 1) for f in added):
            return False
        shutil.rmtree(os.path.join(self.data_dir, inst), ignore_errors=True)
        return True

    def _commit_delete(
        self, df: DataFrame, inst: str, tl: list[str]
    ) -> tuple[tuple | None, ScanReport]:
        """Delete by key (Hudi ``delete`` op; CDC DELETE routing,
        ``SRC/cdc/CanalParser.scala:13``). Partition-scoped unless
        ``global_index``; the delete batch only needs the key columns
        (plus partition columns when scoped)."""
        if not tl:
            raise ValueError("delete on non-existent table")
        if self.is_mor:
            # tombstone delta: stored-schema row with _deleted=true; the
            # read merge kills every data row committed before it
            tomb = self._prepare_batch(df, inst, combine=False)
            out = self._mor_append(
                tomb.withColumn(DELETED_COL, F.lit(True)), inst, "delete", tl
            )
            return out, ScanReport()
        keys = df.filter(pk_not_null_condition(self.record_keys))
        return self._keyed_rewrite(
            "delete", inst, tl, deletes=self._stamp(keys, inst)
        )

    def _keyed_rewrite(
        self,
        action: str,
        inst: str,
        tl: list[str],
        upserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
        skip_empty: bool = False,
    ) -> tuple[tuple | None, ScanReport]:
        """The ONE copy-on-write keyed rewrite behind upsert, delete and
        the COW leg of :meth:`merge_into`: find the files holding a key
        of either frame (:meth:`_affected_files`), anti-join the
        ``deletes`` keys out of their rows, merge the ``upserts`` in
        (:meth:`_merge`) and write the result; the affected files are
        the commit's ``replaced``, planned against the head of ``tl``.
        A creating upsert has no files: it only dedups the batch.
        ``skip_empty`` (see :meth:`_commit_upsert`) turns an empty
        ``upserts`` into no commit, decided before any merge or write
        when the collect or the planning has counted it.

        On an existing table whose shape and live files the in-driver
        kernel serves, the frames are collected once (``lake/fold.py``:
        :func:`collect`), the planning takes the collected keys, and the
        affected files are merged and written there (:func:`rewrite`).
        From the collect on, the batch is the collected rows: the Spark
        layers that plan a batch over ``driver_probe_max_keys`` and a
        Spark merge after the kernel declines read them as frames, not
        the source again.
        Everything else takes the Spark route below.
        Returns ``(out, report)`` — see :meth:`_commit`."""
        head = newest(tl)
        schema = upserts.schema if upserts is not None else (
            self._stored_schema(head)
        )
        local = None
        if head is not None:
            local = fold_mod.collect(
                self, schema, self.tl.live_files(head, tl), upserts, deletes
            )
        # a collected batch the Spark layers plan: its rows as frames
        local_frames = (
            local is not None and len(local.pairs) > self.driver_probe_max_keys
        )
        if local_frames:
            upserts, deletes = local.frames(self.spark, schema)
        # M1 — persist around multi-action writes (SRC/package.scala:66,
        # 78): on an existing table the source frames feed partition
        # discovery, the key-range agg, the key-hit scan AND the merge;
        # only the creating commit evaluates them once.
        cached = [
            f for f in (upserts, deletes)
            if f is not None and local is None
            and (head or self.partition_keys)
        ]
        for f in cached:
            f.persist()
        try:
            if head is None:
                affected = Kept([], ScanReport())
            else:
                keys = upserts if deletes is None else deletes
                if upserts is not None and deletes is not None:
                    kc = self._key_cols()
                    keys = upserts.select(*kc).unionByName(
                        deletes.select(*kc)
                    )
                affected = self._affected_files(
                    keys, tl, None if local is None else local.pairs
                )
            if skip_empty and (
                affected.no_key
                if local is None else not local.upserts.num_rows
            ):
                # the collect counted the batch, or the planner found no
                # key in it: nothing is written
                return None, affected.report
            out_dir = os.path.join(self.data_dir, inst)
            if local is not None and fold_mod.rewrite(
                self, affected, schema, local, out_dir
            ):
                added = self._describe_data_files(out_dir, "base")
            else:
                if local is not None and not local_frames:
                    upserts, deletes = local.frames(self.spark, schema)
                rows = (
                    self._read_files(
                        [f["path"] for f in affected],
                        self._stored_schema(head),
                    )
                    if head is not None
                    else _empty_df(self.spark, upserts.schema)
                )
                if deletes is not None:
                    cols = self._key_cols()
                    rows = rows.join(
                        deletes.select(*cols).distinct(), cols, "left_anti"
                    )
                if upserts is not None:
                    rows = self._merge(rows, upserts)
                added = self._write_data_files(rows, inst)
        finally:
            for f in cached:
                f.unpersist()
        if skip_empty and self._discard_if_empty(added, inst):
            return None, affected.report
        replaced = sorted({f["path"] for f in affected})
        return (action, schema, added, replaced), affected.report

    def _mor_append(
        self,
        batch: DataFrame,
        inst: str,
        action: str,
        tl: list[str],
        skip_empty: bool = False,
    ) -> tuple | None:
        """MOR write path: append delta files, zero rewrite — write cost
        is O(batch), deferred to the read merge / compaction (the trade
        the reference buys with MERGE_ON_READ, ``SRC/MSK2Hudi.scala:42``).
        ``skip_empty`` (see :meth:`_commit_upsert`) turns an empty
        batch into no commit.

        When the in-driver kernel serves the table's shape and the
        aligned batch (``lake/fold.py``: :func:`collect_append`), the
        batch is collected once through Arrow and written as one
        key-sorted delta file (:func:`append`), marked ``unique`` when
        no key occurs twice in it. If the kernel declines
        after the collect (a NaN in a float stats column), the Spark
        writer writes the collected rows, not a second read of the
        source. A batch over ``DRIVER_BUILD_MAX_ROWS`` takes the Spark
        write after the capped collect finds so; a declined shape or a
        clearly huge plan takes it with no collect.
        """
        batch = self._align_schema(batch, tl)
        schema = batch.schema
        rows = fold_mod.collect_append(self, batch)
        if rows is not None:
            if skip_empty and not rows.num_rows:
                return None
            out_dir = os.path.join(self.data_dir, inst)
            unique = fold_mod.append(self, rows, out_dir)
            if unique is not None:
                added = self._describe_data_files(out_dir, "delta")
                return action, schema, _marked_unique(added, unique), []
            batch = self.spark.createDataFrame(rows, schema)
        added = self._write_data_files(batch, inst, kind="delta")
        if skip_empty and self._discard_if_empty(added, inst):
            return None
        return action, schema, added, []

    def _delta_commits_since_compact(self, tl: list[str]) -> int:
        """Commits of listing ``tl`` that actually ADDED delta files
        since the last compaction — base-file inserts don't need folding
        and must not trigger premature full-table rewrites (Hudi counts
        the same)."""
        n = 0
        for i in reversed(tl):
            m = self.tl.manifest(i)
            if m["action"] == "compact":
                break
            if any(f.get("kind") == "delta" for f in m["added"]):
                n += 1
        return n

    def _merged_read(
        self,
        df: DataFrame,
        files: list[dict] | None = None,
        predicate: list[tuple] | None = None,
    ) -> DataFrame:
        """MOR snapshot merge of ``df``, the scan of the manifest
        entries ``files`` (None: unknown): newest surviving row per key,
        filtered by ``predicate``. Data rows committed before a key's
        newest tombstone are dead (the COW delete-then-reinsert
        semantics); among the live rows the ``(precombine,
        _commit_time)`` max wins. The predicate's ``_record_key``
        conjuncts also filter BELOW the merge — constant within a merge
        unit, they select whole groups, and the parquet scan serves them
        from the key-sorted files' page stats; every other conjunct
        filters after it, since a newer non-matching version must still
        beat an older matching one. Spark plans the aggregations as
        ``SortAggregate``s (struct ``max_by`` buffers are not
        fixed-width).

        The tombstone sub-plan (a ``groupBy`` of the tombstones joined
        back onto the data rows: one shuffle and one broadcast job) is
        planned only when some scanned entry may hold a tombstone — its
        ``"tombstones"`` flag, from the footer's ``_deleted`` max, is not
        False — so an upsert-only table merges with one aggregation.

        With ``payload='partial_update'`` each data column also folds to
        its newest ELIGIBLE non-null version (see the inline note) — the
        MOR twin of :meth:`_merge`'s COW fold. The tombstone filter runs
        first, so a patch never inherits a column through a delete. Over
        :meth:`incremental`'s in-range files a sparse patch surfaces with
        nulls for columns last set before the range, as in Hudi. The
        row-level replay equals the pairwise payload model because
        partial_update writes pre-combine every batch
        (:meth:`_precombine_batch`): one version per (key, commit).

        When ``files`` is one entry marked ``unique`` (its writer proved
        each key occurs once: a kernel delta append, a MOR compaction)
        and ``tombstones: false``, every row is its key's only version
        and wins on every payload: the scan is returned projected and
        filtered, with no exchange, aggregate or tombstone join. Several
        unique files still merge, since a key may occur in two."""
        out_cols = [c for c in df.columns if c != DELETED_COL]
        if (
            files is not None
            and len(files) == 1
            and files[0].get("unique")
            and files[0].get("tombstones") is False
        ):
            out = df.select(*out_cols)
            if predicate:
                out = out.filter(self._predicate_condition(predicate))
            return out
        stable = [p for p in (predicate or []) if p[0] == RECORD_KEY_COL]
        if stable:
            df = df.filter(self._predicate_condition(stable))
        part_cols = self._key_cols()
        if DELETED_COL in df.columns and (
            files is None
            or any(f.get("tombstones") is not False for f in files)
        ):
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
            # Two aggregate functions per column + one running-max
            # window (its sort also orders the aggregation input); the
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
            out = agged.select(*outs)
        else:
            # the tombstone join moves its key columns to the front —
            # restore the stored column order
            out = df.groupBy(*part_cols).agg(winner).select(
                *[F.col(f"_r.{c}") for c in out_cols]
            )
        if predicate:
            out = out.filter(self._predicate_condition(predicate))
        return out

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

    def _align_schema(self, batch: DataFrame, tl: list[str]) -> DataFrame:
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
        metadata-only, exactly the COW-cheap path. A batch that already
        has the stored columns, in order and at their types, is returned
        as it is: nothing to cast, and no per-column projection to build.
        The stored schema is the head's of listing ``tl``; on a table
        with no commit the batch defines the schema and is returned as
        it is.
        """
        if not tl:
            return batch
        stored = self._stored_schema(tl[-1])
        if [(f.name, f.dataType) for f in batch.schema.fields] == [
            (f.name, f.dataType) for f in stored.fields
        ]:
            return batch
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

    def _bucket_expr(self):
        """A record key's bucket id: ``pmod(xxhash64(key), n)``.
        The write layout and batch planning compute it Spark-side;
        literal-key point probes use the Python XXH64 twin
        (``lake/xxh.py`` — drift is impossible while the parity test
        pins both implementations to the same values)."""
        return F.pmod(
            F.xxhash64(F.col(RECORD_KEY_COL)), F.lit(self.bucket_index)
        ).cast("int")

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

    # ------------------------------- index backfill (async indexing)

    def _backfill(
        self,
        idx: ValueIndex,
        cols: list[str],
        covered: Callable[[dict], set[str]],
        stamp: Callable[[dict], dict],
    ) -> str | None:
        """The one async indexer over ``cols`` behind
        :meth:`backfill_record_index` and
        :meth:`backfill_secondary_index` (Hudi's async indexer): index
        the live files written before an index was enabled — or before
        a column joined it — WITHOUT rewriting any data.

        Under the writer lock, over the live set of the listing taken
        there: find the live files whose ``covered`` columns miss one of
        ``cols``; batch them by the read schema of their missing
        columns (the creating commit's; a file whose origin manifest is
        unreadable stays un-covered); sweep what a crashed predecessor
        left; build each batch into the files' CREATING-instant dirs,
        where probes look, honoring each dir's ``.nshards`` modulus;
        then record coverage with one metadata-only ``index_backfill``
        commit that re-adds the files as ``stamp`` upgrades them. Row
        filters of incremental/CDC reads use the rows' own
        ``_commit_time``, so they are unaffected; a racing optimistic
        writer that touched the same files sees a (false but safe)
        conflict. Idempotent: returns None when every live file is
        covered."""
        want = set(cols)
        with self._writer_lock():
            tl = self.tl.instants()
            head = newest(tl)
            by_inst: dict[str, list[dict]] = {}
            for f in self.tl.live_files(head, tl):
                if not f.get("external") and not want <= covered(f):
                    by_inst.setdefault(
                        creating_instant(f["path"]), []
                    ).append(f)
            batches: dict[tuple, list[dict]] = {}
            for inst, fl in sorted(by_inst.items()):
                if want == {RECORD_KEY_COL}:
                    schema = _KEY_SCHEMA
                else:
                    try:
                        schema = T.StructType.fromJson(
                            self.tl.manifest_any(inst)["schema"]
                        )
                    except (FileNotFoundError, KeyError, ValueError):
                        continue  # unreadable origin schema: un-covered
                for f in fl:
                    missing = want - covered(f)
                    key = tuple(
                        fld.json()
                        for fld in schema.fields
                        if fld.name in missing
                    )
                    batches.setdefault(key, []).append(f)
            if not batches:
                return None
            files = [f for fl in batches.values() for f in fl]
            inst = self.tl.next_instant(None, tl)
            idx.sweep(
                {creating_instant(f["path"]) for f in files},
                self._is_backfill_commit,
            )
            for key, fl in sorted(batches.items()):
                groups: dict[str, list[dict]] = {}
                for f in fl:
                    groups.setdefault(
                        creating_instant(f["path"]), []
                    ).append(f)
                schema = T.StructType(
                    [T.StructField.fromJson(json.loads(j)) for j in key]
                )
                idx.build(groups, schema, batch=inst)
            self._write_manifest(
                inst,
                "index_backfill",
                self._stored_schema(head),
                [stamp(f) for f in files],
                [f["path"] for f in files],
                tl,
            )
            return inst

    def _is_backfill_commit(self, instant: str) -> bool:
        try:
            m = self.tl.manifest_any(instant)
        except FileNotFoundError:
            return False
        return m.get("action") == "index_backfill"

    def backfill_record_index(self) -> str | None:
        """Async metadata indexing for the RECORD index (Hudi's async
        indexer building the metadata-table ``record_index`` partition
        for an existing table): the record index only probes under FULL
        coverage, so enabling it mid-life leaves planning on the scan
        path until every pre-index file happens to be rewritten. Builds
        (key → file) rows for the un-covered live files and stamps them
        ``indexed`` — see :meth:`_backfill`. Idempotent."""
        if not self.record_index:
            return None
        return self._backfill(
            self._record_idx,
            [RECORD_KEY_COL],
            lambda f: {RECORD_KEY_COL} if f.get("indexed") else set(),
            lambda f: {**f, "indexed": True},
        )

    def backfill_secondary_index(self) -> str | None:
        """Async metadata indexing for the secondary index: builds
        (value → file) rows for every ``secondary_index_columns``
        column a live file is not yet covered for — files written
        before the index was enabled, or before a column joined the
        config — and upgrades the files' ``sec_cols`` stamps; see
        :meth:`_backfill`. Instants whose missing columns resolve to
        the same (name, type) read schema share one build.
        Idempotent."""
        if not self.secondary_index_columns:
            return None
        want = set(self.secondary_index_columns)
        return self._backfill(
            self._sec_idx,
            self.secondary_index_columns,
            lambda f: set(f.get("sec_cols") or ()),
            lambda f: {
                **f,
                "sec_cols": sorted(set(f.get("sec_cols") or ()) | want),
            },
        )

    def _merge(self, old: DataFrame, batch: DataFrame) -> DataFrame:
        """Larger-precombine-wins merge, ties → incoming row — exactly
        ``DefaultHoodieRecordPayload`` (``SRC/package.scala:25,35``):
        ``max_by`` over the key with ordering ``(precombine, _is_new)``.
        Handles intra-batch duplicates in the same pass.

        An aggregation, not a sort-window: the partial aggregate
        collapses duplicate keys before the shuffle, and the plan was
        ~25% faster than the window even at fixture scale. It is not a
        hash aggregation: Spark plans the struct ``max_by`` as a
        ``SortAggregate``, with a ``Sort`` on each side of the exchange.
        Null precombine loses to any non-null
        (struct comparison ranks null lowest), matching the window
        ``desc``-nulls-last behavior it replaces."""
        old = old.withColumn("_is_new", F.lit(0))
        new = batch.withColumn("_is_new", F.lit(1))
        # allowMissingColumns: under additive schema evolution the stored
        # rows lack the batch's new columns — they union in as null
        union = old.unionByName(new, allowMissingColumns=True)
        part_cols = self._key_cols()
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
        # Still ONE aggregation (a max_by per column, all in the same
        # partial + final SortAggregate): same shuffle shape as the
        # default payload at any scale. This is the COW (write-time) fold;
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
        return self._describe_data_files(out_dir, kind)

    def _describe_data_files(self, out_dir: str, kind: str) -> list[dict]:
        """Manifest entries for the parquet files under ``out_dir`` (one
        commit's data dir), from the layout and each file's footer:
        partition values and bucket from the ``__pt_``/``__bk=`` dirs,
        ``rows``, ``key_min``/``key_max``, ``ct_range`` (the
        ``_commit_time`` min and max), ``col_stats``, ``bytes`` and on
        MOR ``tombstones``. The one describer behind both writers, the
        Spark write and the in-driver fold (``lake/fold.py``). Hidden
        names (``.``/``_`` prefixes: checksums, markers, temp files) are
        not data files."""
        walked: list[tuple[str, str, dict, int | None, str]] = []
        for root, _dirs, files in os.walk(out_dir):
            for fn in files:
                if not fn.endswith(".parquet") or fn[0] in "._":
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
            [RECORD_KEY_COL, COMMIT_TIME_COL]
            + self.stats_columns
            + ([DELETED_COL] if self.is_mor else []),
        )
        added: list[dict] = []
        for (full, rel, partition, bucket, pp), (ranges, nbytes) in zip(
            walked, stats
        ):
            nrows = ranges.pop("__rows__", None)
            deleted = ranges.pop(DELETED_COL, None)
            kmin, kmax = ranges.get(RECORD_KEY_COL) or (None, None)
            ct = ranges.get(COMMIT_TIME_COL)
            col_stats = {
                c: [self._stat_json(r[0]), self._stat_json(r[1])]
                for c, r in ranges.items()
                if c in self.stats_columns
                and c != RECORD_KEY_COL
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
            if ct is not None:
                # incremental reads drop a file whose rows all fall
                # outside their commit range (:meth:`incremental`)
                entry["ct_range"] = list(ct)
            if self.is_mor:
                # the footer's _deleted max gates the read merge's
                # tombstone join (:meth:`_merged_read`); no statistic
                # means "may hold one", unless the file has no rows
                entry["tombstones"] = (
                    bool(deleted[1]) if deleted else entry.get("rows") != 0
                )
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
        stats-less row group, or whose stats pyarrow cannot convert
        (INT64-backed decimals, ``timestamp_ntz``), maps to None
        (conservative: unprunable) without costing the other columns
        theirs."""
        out: dict[str, tuple | None] = {c: None for c in cols}
        out["__rows__"] = None
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return out  # stats are an optimization, never required
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
            try:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        mins = []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
            except Exception:
                continue  # stats pyarrow cannot convert: unprunable
            if mins:
                out[c] = (min(mins), max(maxs))
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
        tl: list[str],
        checkpoint: dict | None = None,
    ) -> None:
        """Build the enabled index sidecars over ``added``, stamp the
        files they cover, then publish the commit after the head of
        ``tl``, the listing taken under the writer lock, through
        :meth:`Timeline.publish` (writing the manifest IS the
        commit)."""
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
                (
                    "bloom",
                    lambda: self._key_bloom.build(
                        instant, indexable, _KEY_SCHEMA
                    ),
                )
            )
        if self.bloom_columns and indexable:
            col_schema = T.StructType(
                [fld for fld in schema.fields if fld.name in self.bloom_columns]
            )
            builders.append(
                (
                    "col_bloom",
                    lambda: self._col_bloom.build(
                        instant, indexable, col_schema
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
        self.tl.publish(
            instant, action, schema.jsonValue(), added, replaced, tl,
            checkpoint,
        )

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

        The commit is a pure metadata pass, under the writer lock from
        the emptiness check on: list the files, read ONE parquet footer
        per file for column stats, write the manifest referencing the
        files in place (absolute paths + ``external`` flag). Reads then
        synthesize the meta columns (:meth:`_stamp_external`); upserts
        copy-on-write only the key-hit files, so data migrates into
        engine-written files incrementally; ``clean()``/``restore()``
        never delete adopted files (the source directory stays
        user-owned).

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
        with self._writer_lock():
            tl = self.tl.instants()
            if tl:
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
            inst = self.tl.next_instant(instant, tl)
            stamped = self._stamp(raw, inst)
            if self.is_mor:
                stamped = stamped.withColumn(DELETED_COL, F.lit(False))
            bases = [{"base": base, "instant": inst}]
            write_json(
                os.path.join(self.path, "_external", "bases.json"),
                {"bases": bases},
            )
            self._external_cache = bases
            self._write_manifest(
                inst, "bootstrap", stamped.schema, records, [], tl
            )
        return inst

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
        Returns None on a table with no commit.
        """
        with self._writer_lock():
            tl = self.tl.instants()
            if not tl:
                return None
            return self._compact_locked(
                instant, target_files_per_partition, sort_by, tl
            )

    def _compact_locked(
        self,
        instant: str | None,
        target_files_per_partition: int,
        sort_by: list | None,
        tl: list[str],
    ) -> str:
        """Fold every file live at the head of ``tl``, the listing
        taken under the writer lock, into one commit."""
        head = newest(tl)
        inst = self.tl.next_instant(instant, tl)
        live = self.tl.live_files(head, tl)
        schema = self._stored_schema(head)
        added = self._fold(
            live, inst, target_files_per_partition, sort_by, schema
        )
        self._write_manifest(
            inst, "compact", schema, added, sorted(f["path"] for f in live),
            tl,
        )
        return inst

    def _fold(
        self,
        files: list[dict],
        inst: str,
        target_files_per_partition: int,
        sort_by: list | None,
        schema: T.StructType,
    ) -> list[dict]:
        """The ONE compaction fold behind :meth:`compact`, inline MOR
        compaction and :meth:`run_compaction`: rewrite ``files``, read
        under the stored ``schema``, into fresh base files under
        ``inst``. On MOR the deltas and
        tombstones fold in; the rows keep their ``_commit_time`` and
        the column set stays the stored schema (all-false ``_deleted``)
        so later reads are uniform, and every output file is marked
        ``unique``.

        Files under the shared driver gate, of a table shape
        ``lake/fold.py`` serves, fold in-driver with pyarrow: the same
        rows, one key-sorted file, no Spark job. Everything else folds
        through Spark below."""
        out_dir = os.path.join(self.data_dir, inst)
        if fold_mod.fold(
            self, files, out_dir, target_files_per_partition, sort_by, schema
        ):
            added = self._describe_data_files(out_dir, "base")
        else:
            df = self._read_files([f["path"] for f in files], schema)
            if self.is_mor:
                df = self._merged_read(df, files).withColumn(
                    DELETED_COL, F.lit(False)
                )
            df = self._cluster_for_compact(
                df, files, target_files_per_partition, sort_by
            )
            # sort_by clustering (when given) owns the row order —
            # default compaction keeps the key sort
            added = self._write_data_files(df, inst, key_sort=not sort_by)
        # the MOR fold leaves one row per key, split across the files
        # by partition (and bucket): every file holds each key once
        return _marked_unique(added, self.is_mor)

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
        """Async-compaction phase 1 (Hudi's schedule/execute split; the
        reference compacts async on the KDS path,
        ``SRC/KDS2Hudi.scala:131-133``): pin a compaction PLAN — the
        file set ``strategy`` picks from the live set of the listing
        taken under the writer lock — and return. Ingest keeps
        committing; :meth:`run_compaction` later folds ONLY the pinned
        files.

        * ``full`` — every live file (the default).
        * ``small_files`` — picks by the ``bytes`` stat the manifests
          record. On COW: the files smaller than
          ``small_file_limit_bytes`` (at least 2); any COW subset folds
          safely. On MOR the unit is the PARTITION: all live files of
          every partition with a delta file or 2+ small base files. That
          is a correctness boundary: the fold drops merged-away
          tombstones, sound only if no older row of a tombstoned key
          survives outside the pinned set, and a key lives inside one
          partition under the per-partition index. A global-index MOR
          table therefore refuses ``small_files`` (``ValueError``).

        ``sort_spec`` pins clustering intent in the plan: a JSON list of
        column names and/or ``{"zorder": {"cols": [...], "bits": ...,
        "ranges": [[lo, hi], ...] | "auto"}}`` dicts, validated here and
        materialized by whichever executor runs the plan;
        ``target_files_per_partition`` pins the output fan-out the same
        way. Returns the plan id, or None when the strategy selects
        nothing.
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
        with self._writer_lock():
            tl = self.tl.instants()
            if not tl:
                return None
            live = self.tl.live_files(tl[-1], tl)
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
            pid = plan_id or self.tl.next_instant(None, tl)
            plan = {
                "plan_id": pid,
                "scheduled_after": tl[-1],
                "strategy": strategy,
                "files": sorted(f["path"] for f in live),
            }
            if sort_spec is not None:
                sort_spec = self._resolve_sort_spec(sort_spec, live)
                self._validate_sort_spec(sort_spec)
                plan["sort_spec"] = sort_spec
            if target_files_per_partition is not None:
                plan["target_files"] = int(target_files_per_partition)
            return self.tl.write_plan(plan)

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

    def run_compaction(
        self,
        plan_id: str | None = None,
        target_files_per_partition: int | None = None,
        sort_by: list | None = None,
    ) -> str | None:
        """Async-compaction phase 2: execute a scheduled plan. Folds the
        plan's pinned files into fresh base files; delta files committed
        AFTER the schedule are untouched and keep merging on top at read.

        When the caller leaves ``sort_by`` /
        ``target_files_per_partition`` unset, the plan's pinned
        ``sort_spec`` / ``target_files`` drive the fold, so an
        ``AsyncCompactor`` runs scheduled clustering with no arguments.

        The partial fold is exact: the per-key merge is a max over
        ``(precombine, _commit_time)``, so folding the pinned subset
        first and merging later deltas at read picks the same winner,
        and a pinned tombstone can go because every post-schedule row
        has a newer ``_commit_time``. The commit lands at the NEXT
        instant (Hudi reserves the scheduled one); rows keep their
        ``_commit_time``, so incremental reads stay exact. Returns the
        committed instant, or None when the plan is stale (a pinned
        file was replaced; the plan is discarded).

        Concurrency: the fold (:meth:`_fold`, over the pinned files of
        the first listing) holds NO lock; an inflight marker keeps the
        cleaner off its files. The publish, under the lock with a
        second listing, re-verifies through :meth:`_survive_or_orphan`
        that the plan file exists, its pinned files are live and the
        output was not reaped, renames the provisional data dir to the
        final instant and writes the manifest. Concurrent appends never
        wait on a fold or invalidate it; a commit that REPLACED a pinned
        file abandons the output to the cleaner and discards the plan.
        """
        if plan_id is None:
            pending = self.pending_compactions()
            if not pending:
                return None
            plan_id = pending[0]
        # ---- plan read + staleness pre-check: NO LOCK (plan files are
        # immutable once scheduled; a concurrent executor either
        # finished — file gone — or discarded it as stale)
        plan = self.tl.read_plan(plan_id)
        if plan is None:
            return None
        if sort_by is None and plan.get("sort_spec") is not None:
            sort_by = self._sort_by_from_spec(plan["sort_spec"])
        if target_files_per_partition is None:
            target_files_per_partition = int(plan.get("target_files", 1))
        tl = self.tl.instants()
        head = newest(tl)
        live_by_path = {f["path"]: f for f in self.tl.live_files(head, tl)}
        pinned_paths = set(plan["files"])
        if not pinned_paths <= set(live_by_path):
            self.tl.discard_plan(plan_id)  # a pinned file was replaced
            return None
        pinned = [live_by_path[p] for p in sorted(pinned_paths)]

        # provisional instant for the fold's data dir (uniquified like
        # write_optimistic's — concurrent executors must not collide);
        # the PUBLISHED instant is allocated later, under the lock, and
        # the dir renamed to it so path-derived instants (bloom sidecar
        # lookup, cleaner pruning) stay consistent
        prov = self.tl.next_instant(None, tl) + "c" + uuid.uuid4().hex[:4]
        self.tl.mark_inflight(prov)
        try:
            # ---- fold: NO LOCK HELD (the expensive part — at 100 TB
            # this is a full rewrite of the pinned file set)
            added = self._fold(
                pinned, prov, target_files_per_partition, sort_by,
                self._stored_schema(head),
            )

            def plan_holds(now: list[str]) -> None:
                if self.tl.read_plan(plan_id) is None:
                    raise ConcurrentWriteConflict(
                        f"compaction plan {plan_id} run by another executor"
                    )
                live = self.tl.live_files(newest(now), now)
                if not pinned_paths <= {f["path"] for f in live}:
                    self.tl.discard_plan(plan_id)
                    raise ConcurrentWriteConflict(
                        f"compaction plan {plan_id} went stale during the fold"
                    )

            # ---- publish: short critical section. An abort abandons
            # the output; a reaped output (the fold out-lived its
            # inflight TTL) keeps the plan for a retry
            with self._writer_lock():
                now = self.tl.instants()
                try:
                    self._survive_or_orphan(added, lambda: plan_holds(now))
                except ConcurrentWriteConflict:
                    return None
                inst = self.tl.next_instant(None, now)
                added = self._relocate_fold(prov, inst, added)
                self._write_manifest(
                    inst,
                    "compact",
                    self._stored_schema(newest(now)),
                    added,
                    sorted(pinned_paths),
                    now,
                )
                self.tl.discard_plan(plan_id)
                return inst
        finally:
            self.tl.clear_inflight(prov)

    def _orphan(self, added: list[dict]) -> None:
        """Best-effort unlink of an abandoned write's files; the lazy
        cleaner owns whatever survives."""
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

    # -------------------------------------------------------------- cleaner

    def clean(self, retain_commits: int = 2) -> list[str]:
        """Remove data files referenced only by commits older than the
        last ``retain_commits`` — the reference's cleaner policy
        (``CLEANER_COMMITS_RETAINED=2``, ``SRC/package.scala:28-30``).
        Also removes orphan files from crashed writes. Returns deleted
        relative paths. ``retain_commits`` must be at least 1.

        Takes the writer lock: a SERIALIZED in-flight write's data files
        exist before its manifest does and would otherwise look like
        orphans — cleaning them mid-write would corrupt the commit.
        LOCK-FREE writers (``write_optimistic`` / the async-compaction
        fold) are instead protected by their inflight markers
        (:meth:`Timeline.mark_inflight`): their data dirs are skipped while the marker is younger
        than ``inflight_ttl_seconds``; older markers are crashed writers
        — the marker is removed and the files reclaimed (any such writer
        still alive aborts at publish via the added-files existence
        check, never publishing a manifest to deleted data)."""
        if retain_commits < 1:
            raise ValueError(
                f"retain_commits must be >= 1, got {retain_commits}"
            )
        with self._writer_lock():
            # the timeline is read under the lock: a lock-free writer
            # that published while we waited has cleared its inflight
            # marker, so only its manifest still protects its files
            tl = self.tl.instants()
            if not tl:
                return []
            return self._clean_locked(tl, retain_commits)

    def _clean_locked(self, tl: list[str], retain_commits: int) -> list[str]:
        keep = set()
        for inst in tl[-retain_commits:]:
            keep |= {f["path"] for f in self.tl.live_files(inst, tl)}
        # savepointed instants pin their whole live set regardless of
        # the retention horizon (Hudi savepoint semantics)
        for sp in self.savepoints():
            keep |= {f["path"] for f in self.tl.live_files(sp, tl)}
        inflight, stale_inflight = self.tl.inflight_split()
        for inst in stale_inflight:
            self.tl.clear_inflight(inst)  # crashed writer: files now fair game
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
        # prune the index and bloom sidecars of instants that no longer
        # own any live file
        live_instants = {
            p.replace(os.sep, "/").split("/")[1]
            for p in keep
            if "/" in p.replace(os.sep, "/")
        }
        for idx in (
            self._record_idx, self._sec_idx, self._key_bloom, self._col_bloom
        ):
            idx.prune(live_instants)
        return sorted(deleted)

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
