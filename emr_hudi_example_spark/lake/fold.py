"""One in-driver compaction fold: pyarrow reads, folds and writes.

The reference leaves MOR compaction to Hudi, which folds log files into
base files inline (``SRC/util/HudiConfig.scala:21-23``). The engine's
fold (:meth:`LakeTable._fold`, behind ``compact()``, inline MOR
compaction and ``run_compaction``) is a Spark read, a ``max_by``
aggregation and a Spark write: two jobs whose fixed cost dwarfs the
work when the files are small. A medallion-sized compaction rewrites
under 1 MB. So below the shared driver gate
(:func:`~emr_hudi_example_spark.lake.index.driver_buildable`: local FS,
at most 64 files, manifest bytes within ``driver_probe_max_bytes``) the
fold runs here, with no Spark job, and writes one key-sorted base file
whose rows, read back through Spark under the stored schema, equal the
Spark route's:

- MOR: a data row committed at or before its key's newest tombstone is
  dead; per key (:meth:`LakeTable._key_cols`) the max
  ``(precombine, _commit_time)`` wins, a null precombine ranking lowest
  and NaN highest (Spark's struct order); rows keep their
  ``_commit_time`` and ``_deleted`` is written false. Exact ties (one
  key, precombine and commit twice: an in-batch duplicate) are
  unspecified on both routes; here the row read last wins.
- COW: no dedup; insert duplicates survive, as on the Spark route.

Shapes it declines, so the Spark route runs: ``partial_update``,
``sort_by`` or more than one output file, partition keys, a bucket
index, adopted (absolute-path) files, and any stored column type
outside :data:`_ARROW_TYPES` (plus decimals). Files are declined too
when a column cannot be read as the stored type by one of Spark's own
upcasts, or when a float ``stats_columns`` column of the result holds a
NaN.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pa_pq
from pyspark.sql import types as T

from emr_hudi_example_spark.lake.columns import (
    COMMIT_TIME_COL,
    DELETED_COL,
    RECORD_KEY_COL,
)
from emr_hudi_example_spark.lake.index import driver_buildable

if TYPE_CHECKING:
    from emr_hudi_example_spark.lake.table import LakeTable

#: stored column types the fold serves: each reads from a Spark-written
#: file and writes back so that Spark reads the same values under the
#: stored schema. Timestamps are written as INT96, as Spark writes them
#: (and so without footer stats, as Spark's); that is also why
#: ``timestamp_ntz`` is left out: pyarrow's INT96 switch would take it
#: too. Nanosecond timestamps never arise: INT96 reads in microseconds.
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
    if (
        t.payload != "default"
        or sort_by
        or target_files_per_partition != 1
        or t.partition_keys
        or t.bucket_index
        or any(os.path.isabs(f["path"]) for f in files)
        or not driver_buildable(t, files)
    ):
        return False
    want = [_arrow_type(f.dataType) for f in schema.fields]
    if any(w is None for w in want):
        return False
    tbl = _read(t, files, pa.schema(zip(schema.fieldNames(), want)))
    if tbl is None:
        return False
    # the fold picks row indices; the rows are copied once, in key order
    rows = _fold_mor(tbl, t._key_cols(), t.precombine) if t.is_mor else None
    keys = tbl.column(RECORD_KEY_COL)
    if rows is not None:
        keys = keys.take(rows)
    order = pc.sort_indices(keys, null_placement="at_start").to_numpy()
    out = tbl.take(order if rows is None else rows[order])
    if t.is_mor:
        # the Spark route moves _deleted last (the merge drops it, the
        # fold appends it back)
        out = out.drop_columns([DELETED_COL]).append_column(
            pa.field(DELETED_COL, pa.bool_()),
            pa.array(np.zeros(out.num_rows, bool)),
        )
    if any(
        pa.types.is_floating(out.schema.field(c).type)
        and pc.any(pc.is_nan(out.column(c))).as_py()
        for c in t.stats_columns
        if c in out.column_names
    ):
        # parquet-mr counts NaN as the max; Arrow's footer stats skip
        # it, and a NaN-free max would let a predicate read prune a
        # file whose NaN rows match (NaN sorts above every number)
        return False
    _write(t, out, schema, out_dir)
    return True


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
    # rank every row by (precombine, _commit_time); the sort places
    # nulls and NaN together, so a validity column in front ranks null
    # lowest and leaves NaN above +inf, as Spark's struct order does
    pre = tbl.column(precombine).take(rows)
    order = pc.sort_indices(
        pa.table({
            "v": pc.is_valid(pre),
            "p": pre,
            "c": tbl.column(COMMIT_TIME_COL).take(rows),
        }),
        [("v", "ascending"), ("p", "ascending"), ("c", "ascending")],
        null_placement="at_end",
    ).to_numpy()
    rank = np.empty(len(rows), np.int64)
    rank[order] = np.arange(len(rows))
    best = (
        tbl.select(keys)
        .take(rows)
        .append_column("_rank", pa.array(rank))
        .group_by(keys)
        .aggregate([("_rank", "max")])
        .column("_rank_max")
        .to_numpy()
    )
    return rows[order[best]]


def _write(
    t: LakeTable, tbl: pa.Table, schema: T.StructType, out_dir: str
) -> None:
    """Write ``tbl`` as one Spark-style part file. The dictionary is
    kept only on columns with at most rows/2 distinct values, as
    parquet-mr falls back to plain encoding (a dictionary on every
    column made a compacted medallion file 21% larger), and a page
    index is written, as parquet-mr writes one. The Spark version key
    makes Spark read INT96 and dates without calendar rebasing."""
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
        use_deprecated_int96_timestamps=True,
        store_schema=False,
    )
    os.replace(tmp, os.path.join(out_dir, name))
