"""One value→file index: the record index and the secondary index.

Hudi keeps its record index and (1.0) its secondary index in the same
metadata-table layout; so does the engine. Each instance maps string
values to the table-relative paths of the files holding them, append-
only, as sorted, xxhash-sharded parquet runs::

    <root>/<instant>/[col=<c>/]shard=<pmod(xxhash64(value), n)>/part-*.parquet
    <root>/<instant>/.nshards        # the instant's modulus n

- the RECORD index (``_index/``) indexes ``_record_key`` under value
  column ``key`` with no ``col=`` level;
- the SECONDARY index (``_index_sec/``) indexes ``cast(c as string)`` of
  each listed column under value column ``val``, one ``col=<c>`` level
  per column.

Rows land in each file's CREATING-instant dir (a file's path embeds its
commit's instant: ``data/<instant>/...``), so the write path is the
one-instant case of a backfill, and a probe groups its candidate files
by instant and reads only the operands' shard dirs under each instant's
own ``.nshards`` modulus (tables resized between commits mix moduli).
Entries of later-replaced files go stale harmlessly: every probe result
is intersected with the caller's live candidates.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid
from bisect import bisect_left
from typing import TYPE_CHECKING, Callable
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pa_pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from emr_hudi_example_spark.lake.xxh import shard_of as xxh_shard

if TYPE_CHECKING:
    from emr_hudi_example_spark.lake.table import LakeTable

#: row-group size of index parquet: shards are written as SORTED runs, so
#: a point probe footer-plans the read and touches ~one row group of this
#: size at any table scale (Hudi HFile-seek analog; see planned_probe_read)
INDEX_ROW_GROUP_BYTES = 1 << 20
#: the driver-side (pyarrow) build serves commits of at most this many
#: files whose manifest-recorded bytes fit ``driver_probe_max_bytes``
DRIVER_BUILD_MAX_FILES = 64
#: prefix of the stage dirs the Spark build writes before moving its part
#: files into the per-instant dirs
STAGE_PREFIX = "_bf_stage-"
#: backfill part files carry the instant of the ``index_backfill`` commit
#: that publishes them: ``part-bf-<instant>-<rest>``
_BATCH_PART = re.compile(r"^part-bf-([0-9]+)-")


def creating_instant(path: str) -> str:
    """The instant a table-relative data path was written under."""
    parts = path.replace(os.sep, "/").split("/")
    return parts[1] if len(parts) >= 2 else ""


def driver_buildable(table: "LakeTable", files: list[dict]) -> bool:
    """Gate for driver-side (pyarrow) sidecar builds: local FS and a
    point-sized commit (≤ ``DRIVER_BUILD_MAX_FILES`` files whose
    manifest-recorded bytes sum under the driver probe budget)."""
    sizes = [f.get("bytes") for f in files]
    return (
        table.driver_io_local
        and len(files) <= DRIVER_BUILD_MAX_FILES
        and all(isinstance(s, int) for s in sizes)
        and sum(sizes) <= table.driver_probe_max_bytes
    )


def read_nshards(inst_dir: str) -> int | None:
    """The modulus pinned in an instant dir's ``.nshards`` marker, or
    None when the marker is missing or unreadable."""
    try:
        with open(os.path.join(inst_dir, ".nshards")) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def pin_nshards(inst_dir: str, nshards: int) -> None:
    """Write the dir's ``.nshards`` marker, or — when one already exists
    — ASSERT it equals the modulus the rows were just sharded with:
    keeping a disagreeing marker would make probes recompute different
    shards than the build used and miss values."""
    os.makedirs(inst_dir, exist_ok=True)
    marker = os.path.join(inst_dir, ".nshards")
    if not os.path.exists(marker):
        with open(marker, "w") as fh:
            fh.write(str(nshards))
        return
    existing = read_nshards(inst_dir)
    if existing is not None and existing != nshards:
        raise ValueError(
            f"index dir {inst_dir} is pinned to .nshards={existing} but "
            f"rows were sharded with modulus {nshards} — probes would "
            "miss values; build with the dir's modulus or rebuild the dir"
        )


def _has_index_data(d: str) -> bool:
    """Does ``d`` hold index rows: ``shard=``/``col=`` subdirs, or the
    parquet files of a pre-sharding flat commit dir?"""
    try:
        return any(
            x.startswith(("shard=", "col=")) or x.endswith(".parquet")
            for x in os.listdir(d)
        )
    except OSError:
        return False


def planned_probe_read(
    part_files: list[str],
    col: str,
    operands: set[str],
    out_col: str,
    max_bytes: int,
) -> set[str] | None:
    """Point-probe index shard files for ``operands``: values of
    ``out_col`` in rows whose ``col`` ∈ ``operands``.

    100 TB shape: shards are written as SORTED runs in
    ``INDEX_ROW_GROUP_BYTES`` row groups, so the parquet FOOTERS (KB
    each) tell which row groups can hold an operand at all ([min, max]
    interval test against the sorted operands) — the data read is ~one
    row group per operand per instant at ANY shard size, and the gate
    compares MATCHED bytes, not file bytes. The filter itself is
    vectorized Arrow compute, never per-row Python. Row groups without
    stats count as matched — unsorted legacy sidecars degrade to a
    whole-file read, still exact. Returns None when more than 4096
    files or more than ``max_bytes`` matched bytes would be read (the
    caller runs the Spark path)."""
    if len(part_files) > 4096:
        return None  # bound driver-side footer reads
    if not operands:
        return set()
    ops = sorted(operands)
    # plans hold (path, row-group ids), never open handles: keeping up
    # to 4096 ParquetFiles open across the loop (including the gate's
    # early None return) risks fd exhaustion under low ulimits. Footers
    # are KB-sized, so the reopen in the read loop is noise next to
    # the row-group read itself.
    plans: list[tuple[str, list[int]]] = []
    matched_bytes = 0
    for p in part_files:
        with pa_pq.ParquetFile(p) as pf:
            md = pf.metadata
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        ci = col_idx.get(col)
        # gate on the COMPRESSED bytes of only the two columns the read
        # touches — the honest I/O cost; uncompressed whole-row-group
        # sizes overstate by the codec ratio × column count
        read_cols = [j for j in (ci, col_idx.get(out_col)) if j is not None]
        rgs: list[int] = []
        for ri in range(md.num_row_groups):
            rg = md.row_group(ri)
            take = True
            if ci is not None:
                st = rg.column(ci).statistics
                if st is not None and st.has_min_max:
                    # any operand inside [min, max]? (parquet UTF8 stats
                    # order == str order, and writer-side truncation
                    # keeps min/max valid BOUNDS). Odd stats types (e.g.
                    # undecoded bytes from a foreign writer) degrade to
                    # "matched" — pruning is an optimization, never a
                    # correctness dependency.
                    try:
                        j = bisect_left(ops, st.min)
                        take = j < len(ops) and ops[j] <= st.max
                    except TypeError:
                        take = True
            if take:
                rgs.append(ri)
                matched_bytes += sum(
                    rg.column(j).total_compressed_size for j in read_cols
                ) or rg.total_byte_size
        if rgs:
            plans.append((p, rgs))
    if matched_bytes > max_bytes:
        return None
    hits: set[str] = set()
    op_arr = pa.array(ops)
    for p, rgs in plans:
        try:
            with pa_pq.ParquetFile(p) as pf:
                tbl = pf.read_row_groups(rgs, columns=[col, out_col])
        except OSError:
            # a cross-process cleaner may remove a replaced shard file
            # between the footer pass and this reopen — trip the gate
            # and let the caller re-plan on the Spark path
            return None
        mask = pc.is_in(tbl.column(col), value_set=op_arr)
        hits.update(tbl.column(out_col).filter(mask).to_pylist())
    return hits


class ValueIndex:
    """One value→file index of ``table`` rooted at ``root``: rows
    ``(value_col, fp)``, with a ``col=<c>`` level per indexed column
    when ``by_col``. See the module docstring for the layout."""

    def __init__(
        self, table: "LakeTable", root: str, value_col: str, by_col: bool
    ) -> None:
        self.t = table
        self.root = root
        self.value_col = value_col
        self.by_col = by_col

    def _unit_dir(self, inst: str, col: str | None) -> str:
        d = os.path.join(self.root, inst)
        return os.path.join(d, f"col={col}") if self.by_col else d

    # ------------------------------------------------------------ build

    def build(
        self,
        groups: dict[str, list[dict]],
        schema: T.StructType,
        batch: str | None = None,
    ) -> None:
        """Index the ``schema`` columns of ``groups`` (files keyed by
        creating instant) into the per-instant dirs. NULL values are
        excluded (``=``/``in`` never match NULL); a column missing from
        ``schema`` writes no rows, which is exact: its files hold only
        NULL for it. Each instant keeps the modulus its dir already
        pins (a table resized between commits) or takes the table's
        ``index_shards``; a marker-less dir that already holds rows
        stays marker-less, so probes keep reading it whole.

        ``batch`` names the ``index_backfill`` instant that will publish
        a backfill's rows: its part files carry it (``part-bf-<batch>-``)
        so a retry after a crash can sweep what never published
        (:meth:`sweep`). The write path passes None.

        Point-sized groups over STRING columns build driver-side
        (``cast("string")`` is the identity on strings, so Python values
        match the Spark canonical form exactly; reproducing Spark's
        numeric/temporal rendering is where parity would get risky).
        Everything else takes one distributed Spark pass over every
        instant at once."""
        nshards: dict[str, int] = {}
        legacy: set[str] = set()
        for inst in groups:
            d = os.path.join(self.root, inst)
            n = read_nshards(d)
            if n is None and _has_index_data(d):
                legacy.add(inst)
            nshards[inst] = n or self.t.index_shards
        files = [f for fl in groups.values() for f in fl]
        if schema.fields:
            all_string = all(
                isinstance(fld.dataType, T.StringType) for fld in schema.fields
            )
            if all_string and driver_buildable(self.t, files):
                self._driver_build(groups, nshards, schema, batch)
            else:
                self._spark_build(files, nshards, schema, batch)
        for inst, n in nshards.items():
            if inst not in legacy:
                pin_nshards(os.path.join(self.root, inst), n)

    @staticmethod
    def _distinct(schema: T.StructType) -> bool:
        """Record keys are unique per file by construction, so only
        non-key columns pay the (value, file) distinct."""
        from emr_hudi_example_spark.lake.table import RECORD_KEY_COL

        return schema.fieldNames() != [RECORD_KEY_COL]

    def _driver_build(
        self,
        groups: dict[str, list[dict]],
        nshards: dict[str, int],
        schema: T.StructType,
        batch: str | None,
    ) -> None:
        """pyarrow build: reads the files' indexed columns driver-side
        and writes one sorted run per non-empty shard dir (the Python
        XXH64 twin of the Spark shard expression; parity pinned by
        tests/test_xxh.py)."""
        cols = schema.fieldNames()
        distinct = self._distinct(schema)
        fname = f"part-bf-{batch}-driver" if batch else "part-driver"
        for inst, fl in groups.items():
            n = nshards[inst]
            by_dir: dict[str, list[tuple[str, str]]] = {}
            for f in fl:
                tbl = pa_pq.read_table(
                    os.path.join(self.t.path, f["path"]), columns=cols
                )
                for c in cols:
                    vals = tbl.column(c).to_pylist()
                    for v in set(vals) if distinct else vals:
                        if v is None:
                            continue
                        d = os.path.join(
                            self._unit_dir(inst, c), f"shard={xxh_shard(v, n)}"
                        )
                        by_dir.setdefault(d, []).append((v, f["path"]))
            for d, rows in by_dir.items():
                rows.sort()  # sorted run, as in the Spark build
                os.makedirs(d, exist_ok=True)
                pa_pq.write_table(
                    pa.table(
                        {
                            self.value_col: [v for v, _ in rows],
                            "fp": [fp for _, fp in rows],
                        }
                    ),
                    os.path.join(d, fname + ".parquet"),
                )

    def _spark_build(
        self,
        files: list[dict],
        nshards: dict[str, int],
        schema: T.StructType,
        batch: str | None,
    ) -> None:
        """ONE distributed column-pruned pass over every instant's files:
        each row's instant derives from its file path and shards under
        that instant's modulus; the output is staged
        ``partitionBy(inst, [col,] shard)`` — hash-shuffled so each shard
        dir gets one SORTED run in small row groups — and its part files
        are moved into the per-instant dirs driver-side. Over a long
        timeline (the 100 TB backfill shape) the per-job fixed cost of
        one build per instant would serialize; this is one scan + one
        shuffle however many instants it spans."""
        vc = self.value_col
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in schema.fieldNames()
                ]
            )
        )
        rows = (
            self.t._read_files([f["path"] for f in files], schema=schema)
            .select(self.t._rel_fp_expr().alias("fp"), pairs.alias("p"))
            .select(
                F.col("p.v").alias(vc), "fp", F.col("p.col").alias("col")
            )
            .filter(F.col(vc).isNotNull())
        )
        if self._distinct(schema):
            rows = rows.distinct()
        rows = rows.withColumn(
            "inst", F.element_at(F.split(F.col("fp"), "/"), 2)
        )
        nsh = F.lit(self.t.index_shards)
        for inst, n in nshards.items():
            nsh = F.when(F.col("inst") == inst, F.lit(n)).otherwise(nsh)
        rows = rows.withColumn(
            "shard", F.pmod(F.xxhash64(F.col(vc)), nsh).cast("int")
        )
        part_cols = ["inst", "shard"]
        if self.by_col:
            part_cols.insert(1, "col")
        stage = os.path.join(self.root, STAGE_PREFIX + uuid.uuid4().hex[:8])
        try:
            (
                rows.select(vc, "fp", *part_cols)
                .repartition(max(nshards.values()), *part_cols)
                # partition cols lead the sort: the dynamic-partition
                # writer requires that ordering and would otherwise
                # re-sort (unstably), destroying the value runs
                .sortWithinPartitions(*part_cols, vc)
                .write.mode("overwrite")
                .option("parquet.block.size", str(INDEX_ROW_GROUP_BYTES))
                .partitionBy(*part_cols)
                .parquet(stage)
            )
            for dirpath, _dirs, fns in os.walk(stage):
                rel = os.path.relpath(dirpath, stage).split(os.sep)
                if not rel[0].startswith("inst="):
                    continue
                dst = os.path.join(self.root, rel[0][len("inst="):], *rel[1:])
                for fn in fns:
                    if not fn.startswith(("part-", "part_")):
                        continue
                    os.makedirs(dst, exist_ok=True)
                    shutil.move(
                        os.path.join(dirpath, fn),
                        os.path.join(
                            dst, f"part-bf-{batch}-{fn[5:]}" if batch else fn
                        ),
                    )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def sweep(
        self, insts: set[str], published: Callable[[str], bool]
    ) -> None:
        """Remove what killed or crashed builds left behind: every stage
        dir, and — in the dirs of ``insts`` — backfill part files whose
        batch instant is not a ``published`` backfill commit (a crash
        before the manifest landed, or a restore that discarded it;
        re-running the backfill would otherwise append duplicate rows).
        Callers hold the writer lock, so no build is in flight."""
        for stale in glob.glob(os.path.join(self.root, STAGE_PREFIX + "*")):
            shutil.rmtree(stale, ignore_errors=True)
        is_published: dict[str, bool] = {}
        for inst in insts:
            for dirpath, _dirs, fns in os.walk(os.path.join(self.root, inst)):
                for fn in fns:
                    m = _BATCH_PART.match(fn)
                    if not m:
                        continue
                    b = m.group(1)
                    if b not in is_published:
                        is_published[b] = published(b)
                    if not is_published[b]:
                        os.remove(os.path.join(dirpath, fn))

    def prune(self, live_instants: set[str]) -> None:
        """Drop the dirs of instants that own no live file: an instant's
        rows map values to the files ADDED at that instant, so once none
        of them is live every row is dead weight (probes intersect with
        live files either way — this bounds index GROWTH)."""
        if not os.path.isdir(self.root):
            return
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if os.path.isdir(full) and d not in live_instants:
                shutil.rmtree(full)

    # ------------------------------------------------------------ probe

    def probe(
        self,
        files: list[dict],
        operands: list[str] | DataFrame,
        col: str | None = None,
        canon: Callable[[str], list[str] | None] | None = None,
    ) -> set[str]:
        """Paths of the indexed ``files`` that may hold an operand value
        (of column ``col`` on a ``by_col`` index): the index's hits,
        plus every file of an instant the index cannot answer for.

        ``operands`` are literal values, or — for a write batch too
        large to collect — a one-column DataFrame of them. ``canon``
        maps an instant to ITS canonical operand forms (None: no
        reproducible form, keep the instant's files).

        Per instant: the ``.nshards`` modulus picks the operands' shard
        dirs; a dir holding rows but no marker (pre-sharding flat dirs,
        marker-less sharded dirs) is read whole — exact; an instant
        with no index data at all keeps its files. All matched dirs are
        read in ONE pass: the footer-planned driver read
        (:func:`planned_probe_read`) for literal operands on a local
        table while its gates hold, else one Spark scan."""
        literal = not isinstance(operands, DataFrame)
        shards_of = (
            (lambda ops, n: {xxh_shard(v, n) for v in ops})
            if literal
            else self._spark_shards(operands)
        )
        by_inst: dict[str, list[dict]] = {}
        for f in files:
            by_inst.setdefault(creating_instant(f["path"]), []).append(f)
        kept: set[str] = set()
        probed: list[dict] = []
        targets: list[str] = []
        values: set[str] = set()
        for inst, fl in sorted(by_inst.items()):
            ops = canon(inst) if canon is not None else operands
            if ops is None:
                kept.update(f["path"] for f in fl)
                continue
            if literal and not ops:
                probed.extend(fl)  # no operand: nothing can match
                continue
            d = self._unit_dir(inst, col)
            n = read_nshards(os.path.join(self.root, inst))
            if n is None and not _has_index_data(d):
                kept.update(f["path"] for f in fl)
                continue
            probed.extend(fl)
            if n is None:
                targets.append(d)
            else:
                targets.extend(
                    p
                    for s in sorted(shards_of(ops, n))
                    if os.path.isdir(p := os.path.join(d, f"shard={s}"))
                )
            if literal:
                values.update(ops)
        hits = self._read_hits(targets, values if literal else operands)
        kept.update(f["path"] for f in probed if f["path"] in hits)
        return kept

    def _spark_shards(self, operands: DataFrame):
        """``fn(_, n) -> {shard ids of operands under modulus n}``: one
        tiny Spark agg per DISTINCT modulus encountered, cached."""
        cache: dict[int, set[int]] = {}
        c = F.col(operands.columns[0])

        def shards(_ops, n: int) -> set[int]:
            if n not in cache:
                cache[n] = {
                    r[0]
                    for r in operands.select(
                        F.pmod(F.xxhash64(c), F.lit(n)).cast("int")
                    )
                    .distinct()
                    .collect()
                }
            return cache[n]

        return shards

    def driver_read(
        self, targets: list[str], values: set[str]
    ) -> set[str] | None:
        """fps of the rows under ``targets`` whose value ∈ ``values``,
        read driver-side; None when the table is not driver-local or
        the footer-planned read's gates trip."""
        if not self.t.driver_io_local:
            return None  # object-store base_path: Spark route only
        part_files = [
            os.path.join(root, fn)
            for p in targets
            for root, _dirs, fns in os.walk(p)
            for fn in fns
            if fn.endswith(".parquet")
        ]
        return planned_probe_read(
            part_files, self.value_col, values, "fp",
            self.t.driver_probe_max_bytes,
        )

    def _read_hits(
        self, targets: list[str], operands: set[str] | DataFrame
    ) -> set[str]:
        if not targets:
            return set()
        literal = not isinstance(operands, DataFrame)
        if literal:
            fast = self.driver_read(targets, operands)
            if fast is not None:
                return self._normalize(fast)
        idx = self.t.spark.read.option("recursiveFileLookup", "true").parquet(
            *targets
        )
        if literal:
            idx = idx.filter(F.col(self.value_col).isin(*sorted(operands)))
        else:
            idx = idx.join(operands.toDF(self.value_col), self.value_col)
        return self._normalize(
            fp for (fp,) in idx.select("fp").distinct().collect()
        )

    def _normalize(self, fps) -> set[str]:
        """Rows store fps table-root-relative (manifest-style) so they
        match after a table move; legacy absolute/URI entries are
        relativized against the CURRENT root."""
        root = os.path.abspath(self.t.path)
        out = set()
        for fp in fps:
            if "://" in fp or fp.startswith("file:"):
                fp = unquote(urlparse(fp).path)
            if os.path.isabs(fp):
                fp = os.path.relpath(fp, root)
            out.add(fp)
        return out
