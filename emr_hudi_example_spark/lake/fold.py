"""The in-driver kernel: pyarrow reads, merges and writes small files.

Three of the engine's writes are a few Spark jobs whose fixed cost
dwarfs the work when the files are small, and this module serves all
three below one shared gate
(:func:`~emr_hudi_example_spark.lake.index.driver_buildable`: local FS,
at most 64 files, manifest bytes within ``driver_probe_max_bytes`` and
manifest rows within ``DRIVER_BUILD_MAX_ROWS``), with one shape
predicate (:func:`serves`), one collect (:func:`_collected`), one merge
ranking (:func:`_winners`) and one writer (:func:`_write`). Each writes
one key-sorted file whose rows, read back through Spark under the
stored schema, equal the Spark route's.

- **Compaction fold** (:func:`fold`, behind :meth:`LakeTable._fold`:
  ``compact()``, inline MOR compaction and ``run_compaction``; the
  reference leaves it to Hudi, ``SRC/util/HudiConfig.scala:21-23``).
  MOR: a data row committed at or before its key's newest tombstone is
  dead; per key (:meth:`LakeTable._key_cols`) the max ``(precombine,
  _commit_time)`` wins; rows keep their ``_commit_time`` and
  ``_deleted`` is written false. COW: no dedup; insert duplicates
  survive, as on the Spark route. No Spark job.
- **Copy-on-write keyed rewrite** (:func:`collect` and :func:`rewrite`,
  behind :meth:`LakeTable._keyed_rewrite`: COW upsert, delete and the
  COW leg of ``merge_into``; the reference's delta-merge into its mart,
  ``SRC/DWD2DM.scala:54-85``). When the head's live files pass the
  gate, the batch and the delete keys are collected, capped so that
  they and the live files' rows stay within ``DRIVER_BUILD_MAX_ROWS``;
  the file planning takes the collected keys; rows of the affected
  files whose key is deleted drop out, then per key the max
  ``(precombine, _is_new)`` wins, as in :meth:`LakeTable._merge`. Once
  collected, the batch is those rows on either route: a Spark route
  after a decline below plans and merges them (:meth:`Batch.frames`).
- **Merge-on-read delta append** (:func:`collect_append` and
  :func:`append`, behind :meth:`LakeTable._mor_append`: MOR upsert,
  tombstone delete and the MOR leg of ``merge_into``; the reference
  makes ODS and DWD MERGE_ON_READ so that a tick only appends,
  ``SRC/MSK2Hudi.scala:42``). An append reads no files, so the gate
  sees none; the stamped, aligned batch is collected, capped at
  ``DRIVER_BUILD_MAX_ROWS``, and written key-sorted as one delta file,
  every row kept (the read merge and the fold rank them). After a
  decline below, the Spark writer writes the collected rows.

The one collect plans its frame once: it builds ``df.limit(cap + 1)``,
applies the shared "clearly huge" rule
(:func:`~emr_hudi_example_spark.lake.prune.clearly_huge`, which the
write planner's distinct-keys probe uses too) to the optimized node
under its limit nodes, and runs that same Dataset, its Arrow batches
zstd-compressed (:func:`_to_arrow`). A clearly huge frame is not
collected; a frame over the cap is, up to ``cap + 1`` rows, and then
declines. The collect is the rewrite's and the append's one Spark
action.

In both rankings a null precombine ranks lowest and NaN highest
(Spark's struct order). Exact ties (one key and precombine twice on
the same side: an in-batch or insert duplicate) are unspecified on
both routes; here the row read last wins.

Shapes it declines, so the Spark route runs: ``partial_update``,
partition keys, a bucket index, adopted (absolute-path) files, and any
column type outside :data:`_ARROW_TYPES` (plus decimals); for the fold
also ``sort_by`` or more than one output file, for the rewrite a
creating commit or live files over the gate, and for the rewrite and
the append a clearly huge frame or a batch over the cap.
Files are declined when a column cannot be read as the written type by
one of Spark's own upcasts, and a result is declined when a float
``stats_columns`` column holds a NaN.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pa_pq
from pyspark.sql import types as T

from emr_hudi_example_spark.lake import index as index_mod
from emr_hudi_example_spark.lake.columns import (
    COMMIT_TIME_COL,
    DELETED_COL,
    RECORD_KEY_COL,
)
from emr_hudi_example_spark.lake.prune import clearly_huge

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

    from emr_hudi_example_spark.lake.table import LakeTable

#: held while a collect sets the session's Arrow codec (:func:`_to_arrow`)
_CODEC_LOCK = threading.Lock()

#: stored column types the kernels serve: each reads from a Spark-written
#: file and writes back so that Spark reads the same values under the
#: stored schema. Timestamps are written as UTC-adjusted INT64 micros
#: without footer stats (Spark's INT96 carries none); ``timestamp_ntz``
#: is left out. Nanosecond timestamps never arise: INT96 reads in
#: microseconds.
_ARROW_TYPES = {
    T.BooleanType(): pa.bool_(),
    T.ByteType(): pa.int8(),
    T.ShortType(): pa.int16(),
    T.IntegerType(): pa.int32(),
    T.LongType(): pa.int64(),
    T.FloatType(): pa.float32(),
    T.DoubleType(): pa.float64(),
    T.StringType(): pa.string(),
    T.BinaryType(): pa.binary(),
    T.DateType(): pa.date32(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}
#: the upcasts Spark's parquet reader applies to an older, narrower file
#: column under a widened stored type (see ``LakeTable._widen``)
_UPCASTS = {
    (pa.int8(), pa.int16()), (pa.int8(), pa.int32()), (pa.int8(), pa.int64()),
    (pa.int16(), pa.int32()), (pa.int16(), pa.int64()),
    (pa.int32(), pa.int64()),
    (pa.float32(), pa.float64()),
}


def _arrow_type(dt: T.DataType) -> pa.DataType | None:
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    return _ARROW_TYPES.get(dt)


def serves(
    t: LakeTable, schema: T.StructType, files: list[dict] = ()
) -> bool:
    """The one shape predicate of both kernels: ``t``'s shape, the
    ``schema`` the result is written under and ``files``, the files
    read, are served here."""
    return (
        t.payload == "default"
        and not t.partition_keys
        and not t.bucket_index
        and not any(os.path.isabs(f["path"]) for f in files)
        and all(_arrow_type(f.dataType) is not None for f in schema.fields)
        and index_mod.driver_buildable(t, files)
    )


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        [(f.name, _arrow_type(f.dataType)) for f in schema.fields]
    )


def fold(
    t: LakeTable,
    files: list[dict],
    out_dir: str,
    target_files_per_partition: int,
    sort_by: list | None,
    schema: T.StructType,
) -> bool:
    """Fold ``files`` of ``t``, read under its stored ``schema``, into
    one key-sorted base file under ``out_dir`` and return True; or
    return False, having written nothing, when the gate, the table's
    shape or a file's columns are not served here."""
    if sort_by or target_files_per_partition != 1 or not serves(
        t, schema, files
    ):
        return False
    tbl = _read(t, files, _arrow_schema(schema))
    if tbl is None:
        return False
    # the fold picks row indices; the rows are copied once, in key order
    rows = _fold_mor(tbl, t._key_cols(), t.precombine) if t.is_mor else None
    out = _key_sorted(tbl, rows)
    if t.is_mor:
        # the Spark route moves _deleted last (the merge drops it, the
        # fold appends it back)
        out = out.drop_columns([DELETED_COL]).append_column(
            pa.field(DELETED_COL, pa.bool_()),
            pa.array(np.zeros(out.num_rows, bool)),
        )
    if _nan_in_stats(t, out):
        return False
    _write(t, out, schema, out_dir)
    return True


@dataclass(frozen=True)
class Batch:
    """A keyed rewrite's batch, collected: the upsert rows under the
    written schema's types, the delete keys, and the distinct non-null
    key tuples of both (the planner's ``pairs``)."""

    upserts: pa.Table | None
    deletes: pa.Table | None
    pairs: list[tuple]

    def frames(
        self, spark: SparkSession, schema: T.StructType
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """The collected rows as Spark frames (the upserts under
        ``schema``), for the Spark layers after a collect: they plan and
        merge the rows the collect saw, not a second read of a source
        that need not agree with the first."""
        return (
            None if self.upserts is None
            else spark.createDataFrame(self.upserts, schema),
            None if self.deletes is None
            else spark.createDataFrame(self.deletes),
        )


def collect(
    t: LakeTable,
    schema: T.StructType,
    live: list[dict],
    upserts: DataFrame | None,
    deletes: DataFrame | None,
) -> Batch | None:
    """Collect a keyed rewrite's batch when ``t``'s shape, the written
    ``schema`` and ``live``, the head's live files, are served (so the
    gate cannot turn down any subset of them the planner picks), no
    frame's plan is clearly huge, and the frames' rows (``deletes``:
    its key columns only) with the live files' manifest rows sum to at
    most ``DRIVER_BUILD_MAX_ROWS``, the rows the rewrite may hold; else
    None. One capped Arrow collect per frame (:func:`_collected`)."""
    if not serves(t, schema, live):
        return None
    room = index_mod.DRIVER_BUILD_MAX_ROWS - sum(f["rows"] for f in live)
    keys = t._key_cols()
    up = dl = None
    if upserts is not None:
        if (up := _collected(t, upserts, room)) is None:
            return None
        room -= up.num_rows
    if deletes is not None and (
        dl := _collected(t, deletes.select(*keys), room)
    ) is None:
        return None
    distinct = (
        pa.concat_tables([f.select(keys) for f in (up, dl) if f is not None])
        .group_by(keys)
        .aggregate([])
        .drop_null()
    )
    pairs = list(zip(*(distinct.column(k).to_pylist() for k in keys)))
    return Batch(up, dl, pairs)


def collect_append(t: LakeTable, batch: DataFrame) -> pa.Table | None:
    """A delta append's stamped, aligned ``batch``, collected when
    ``t``'s shape and the batch's schema are served (an append reads no
    files, so the gate sees none), its plan is not clearly huge and it
    holds at most ``DRIVER_BUILD_MAX_ROWS`` rows; else None, and
    nothing was collected or, over the cap, nothing kept."""
    if not serves(t, batch.schema):
        return None
    return _collected(t, batch, index_mod.DRIVER_BUILD_MAX_ROWS)


def _collected(t: LakeTable, df: DataFrame, cap: int) -> pa.Table | None:
    """``df``'s rows under the Arrow types of its Spark schema, or None
    when its plan is clearly huge (:func:`prune.clearly_huge` under
    ``t``'s driver byte budget; then nothing is collected) or it holds
    more than ``cap``. Catalyst plans the frame once: the rule reads
    the optimized node under ``df.limit(cap + 1)``'s limit nodes, and
    the collect runs that same Dataset, whose optimized plan is
    cached."""
    lim = df.limit(cap + 1)
    node = lim._jdf.queryExecution().optimizedPlan()
    while str(node.nodeName()) in ("GlobalLimit", "LocalLimit"):
        node = node.children().apply(0)
    if clearly_huge(node, t.driver_probe_max_bytes):
        return None
    tbl = _to_arrow(lim)
    if tbl.num_rows > cap:
        return None
    want = _arrow_schema(df.schema)
    return pa.Table.from_arrays(
        [c.cast(w.type) for c, w in zip(tbl.columns, want)], schema=want
    )


def _to_arrow(df: DataFrame) -> pa.Table:
    """``df.toArrow()`` with the Arrow batches zstd-compressed on their
    way from the JVM. Uncompressed, the socket carried about 4× the bytes
    of the parquet the rows make (252 KB against 57 KB for a 2,400-row
    medallion ODS batch), more than the Spark write the collect replaces
    wrote; compressed, 65 KB. The codec is a session setting that the
    inputs of Python UDFs read too, so it is set for this collect alone,
    under a lock: two collects in one process could otherwise restore
    each other's setting."""
    key = "spark.sql.execution.arrow.compression.codec"
    conf = df.sparkSession.conf
    with _CODEC_LOCK:
        old = conf.get(key, None)
        conf.set(key, "zstd")
        try:
            return df.toArrow()
        finally:
            if old is None:
                conf.unset(key)
            else:
                conf.set(key, old)


def append(
    t: LakeTable, rows: pa.Table, schema: T.StructType, out_dir: str
) -> bool:
    """Write the collected delta ``rows`` (see :func:`collect_append`)
    as one key-sorted delta file under ``out_dir`` and return True; or
    return False, having written nothing, when a float
    ``stats_columns`` column holds a NaN."""
    out = _key_sorted(rows, None)
    if _nan_in_stats(t, out):
        return False
    _write(t, out, schema, out_dir)
    return True


def rewrite(
    t: LakeTable,
    files: list[dict],
    schema: T.StructType,
    batch: Batch,
    out_dir: str,
) -> bool:
    """The keyed rewrite of ``files``, the affected files, with the
    collected ``batch``: write their rows with the deleted keys dropped
    and the upserts merged in, as one key-sorted base file under
    ``out_dir``, and return True; or return False, having written
    nothing, when the gate, a file's columns or the result are not
    served here."""
    if not serves(t, schema, files):
        return False
    old = _read(t, files, _arrow_schema(schema))
    if old is None:
        return False
    keys = t._key_cols()
    if batch.deletes is not None and old.num_rows:
        # the Spark route's left anti-join; in read order, so that an
        # exact tie still keeps the row read last
        live = (
            old.select(keys)
            .append_column("_i", pa.array(np.arange(old.num_rows)))
            .join(batch.deletes, keys, join_type="left anti")
        )
        old = old.take(np.sort(live.column("_i").to_numpy()))
    rows = None
    if batch.upserts is not None:
        old = pa.concat_tables([old, batch.upserts])
        n_new = batch.upserts.num_rows
        is_new = np.zeros(old.num_rows, np.int8)
        is_new[old.num_rows - n_new:] = 1
        rows = _winners(
            old.select(keys), old.column(t.precombine), pa.array(is_new)
        )
    out = _key_sorted(old, rows)
    if _nan_in_stats(t, out):
        return False
    _write(t, out, schema, out_dir)
    return True


def _key_sorted(tbl: pa.Table, rows: np.ndarray | None) -> pa.Table:
    """Rows ``rows`` of ``tbl`` (None: all), copied once, in key order."""
    keys = tbl.column(RECORD_KEY_COL)
    if rows is not None:
        keys = keys.take(rows)
    order = pc.sort_indices(keys, null_placement="at_start").to_numpy()
    return tbl.take(order if rows is None else rows[order])


def _nan_in_stats(t: LakeTable, out: pa.Table) -> bool:
    """A float ``stats_columns`` column of ``out`` holds a NaN:
    parquet-mr counts NaN as the max; Arrow's footer stats skip it, and
    a NaN-free max would let a predicate read prune a file whose NaN
    rows match (NaN sorts above every number)."""
    return any(
        pa.types.is_floating(out.schema.field(c).type)
        and pc.any(pc.is_nan(out.column(c))).as_py()
        for c in t.stats_columns
        if c in out.column_names
    )


def _read(
    t: LakeTable, files: list[dict], want: pa.Schema
) -> pa.Table | None:
    """The files' rows under the stored schema, as Spark reads them:
    missing columns are null, narrower ones upcast. None when a file
    column would need anything else."""
    parts = []
    for f in files:
        pf = pa_pq.ParquetFile(
            os.path.join(t.path, f["path"]), coerce_int96_timestamp_unit="us"
        )
        have = pf.schema_arrow
        names = [n for n in want.names if n in have.names]
        lower = {n.lower() for n in have.names}
        if any(n not in names and n.lower() in lower for n in want.names):
            return None  # Spark would match this column case-insensitively
        got = pf.read(columns=names)
        cols = []
        for fld in want:
            if fld.name not in names:
                cols.append(pa.nulls(got.num_rows, fld.type))
                continue
            col = got.column(fld.name)
            if col.type != fld.type:
                int96 = (
                    col.type == pa.timestamp("us")
                    and pf.schema.column(
                        have.get_field_index(fld.name)
                    ).physical_type == "INT96"
                )
                if int96 and pf.metadata.created_by.startswith(
                    "parquet-cpp-arrow"
                ):
                    # pyarrow writes a pre-1970 INT96 with a negative
                    # nanos-of-day, which its own microsecond read
                    # takes as unsigned (+584 years); Spark reads it
                    return None
                if not int96 and (col.type, fld.type) not in _UPCASTS:
                    return None
                col = col.cast(fld.type)
            cols.append(col)
        parts.append(pa.Table.from_arrays(cols, schema=want))
    if not parts:
        return want.empty_table()
    return pa.concat_tables(parts)


def _fold_mor(tbl: pa.Table, keys: list[str], precombine: str) -> np.ndarray:
    """The MOR fold (``_merged_read``'s default payload), as the indices
    of the surviving rows of ``tbl``: tombstones kill the rows committed
    at or before them, then the max ``(precombine, _commit_time)`` row
    of each key survives."""
    is_tomb = pc.fill_null(tbl.column(DELETED_COL), False)
    rows = np.flatnonzero(~is_tomb.to_numpy())
    if len(rows) < tbl.num_rows:
        stamps = tbl.select(keys + [COMMIT_TIME_COL])
        newest = (
            stamps.filter(is_tomb)
            .group_by(keys)
            .aggregate([(COMMIT_TIME_COL, "max")])
        )
        hit = (
            stamps.take(rows)
            .append_column("_i", pa.array(rows))
            .join(newest, keys, join_type="left outer")
        )
        tomb_ct = hit.column(COMMIT_TIME_COL + "_max")
        live = pc.or_kleene(
            pc.is_null(tomb_ct),
            pc.greater(hit.column(COMMIT_TIME_COL), tomb_ct),
        )
        # in read order, so that an exact tie keeps the row read last
        rows = np.sort(hit.filter(live).column("_i").to_numpy())
    return rows[
        _winners(
            tbl.select(keys).take(rows),
            tbl.column(precombine).take(rows),
            tbl.column(COMMIT_TIME_COL).take(rows),
        )
    ]


def _winners(
    keys: pa.Table, pre: pa.ChunkedArray, tie: pa.Array
) -> np.ndarray:
    """The merge ranking of both kernels: per distinct row of ``keys``,
    the index of its max ``(pre, tie)`` row. The sort places nulls and
    NaN together, so a validity column in front ranks a null ``pre``
    lowest and leaves NaN above +inf, as Spark's struct order does; of
    exact ties the row with the higher index wins."""
    order = pc.sort_indices(
        pa.table({"v": pc.is_valid(pre), "p": pre, "c": tie}),
        [("v", "ascending"), ("p", "ascending"), ("c", "ascending")],
        null_placement="at_end",
    ).to_numpy()
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    best = (
        keys.append_column("_rank", pa.array(rank))
        .group_by(keys.column_names)
        .aggregate([("_rank", "max")])
        .column("_rank_max")
        .to_numpy()
    )
    return order[best]


def _write(
    t: LakeTable, tbl: pa.Table, schema: T.StructType, out_dir: str
) -> None:
    """Write ``tbl`` as one Spark-style part file. The dictionary is
    kept only on columns with at most rows/2 distinct values, as
    parquet-mr falls back to plain encoding (a dictionary on every
    column made a compacted medallion file 21% larger), and a page
    index is written, as parquet-mr writes one. The Spark version key
    makes Spark read timestamps and dates without calendar rebasing.
    Timestamp columns get no footer stats, as Spark's INT96 ones have
    none, so the manifest's ``col_stats`` equal the Spark route's."""
    n = tbl.num_rows
    dictionary = [
        c for c in tbl.column_names
        if 2 * pc.count_distinct(tbl.column(c)).as_py() <= n
    ]
    by_name = {f.name: f for f in schema.fields}
    row_schema = T.StructType([by_name[c] for c in tbl.column_names])
    tbl = tbl.replace_schema_metadata({
        "org.apache.spark.version": t.spark.version,
        "org.apache.spark.sql.parquet.row.metadata": json.dumps(
            row_schema.jsonValue()
        ),
    })
    # a fold over the same instant replaces what an earlier, failed
    # attempt left, as the Spark route's overwrite does
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(out_dir, "." + name)
    pa_pq.write_table(
        tbl,
        tmp,
        compression="snappy",
        use_dictionary=dictionary,
        write_page_index=True,
        write_statistics=[
            c for c in tbl.column_names
            if not pa.types.is_timestamp(tbl.schema.field(c).type)
        ],
        store_schema=False,
    )
    os.replace(tmp, os.path.join(out_dir, name))
