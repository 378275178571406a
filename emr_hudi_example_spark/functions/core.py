"""Scalar/column helpers — the reference's entire scalar-function surface
(SURVEY.md §2.8 C1–C10) re-expressed as PySpark built-ins.

Everything here stays JVM-side (whole-stage codegen); no Python UDFs.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Commit-instant format used across the reference
#: (SRC/ODS2DWD.scala:16, SRC/DWD2DM.scala:16): yyyyMMddHHmmssSSS.
INSTANT_FORMAT = "%Y%m%d%H%M%S%f"


def nvl(col: Column | str, default) -> Column:
    """``nvl(x, default)`` — SRC/ODS2DWD.scala:59-60, SRC/DWD2DM.scala:77.

    Spark SQL supports ``nvl`` natively; this is the DataFrame-side twin.
    """
    c = F.col(col) if isinstance(col, str) else col
    d = default if isinstance(default, Column) else F.lit(default)
    return F.coalesce(c, d)


def logday(ts: Column | str) -> Column:
    """Event-day partition value ``yyyyMMdd`` (SRC/Log2Hudi.scala:63,70-71).

    The reference computes this driver-side per micro-batch from the wall
    clock; we compute it from an event-time column so the value is
    deterministic and testable (the driver-side-constant variant is
    ``F.lit(datetime.now().strftime('%Y%m%d'))``, used by the ingest
    pipeline when no event-time column exists).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyyMMdd")


def hm_bucket(ts: Column | str) -> Column:
    """10-minute bucket ``HHm0`` (SRC/Log2Hudi.scala:64,72-75).

    The reference formats ``HHmm`` then replaces the last digit with '0'
    (a substring trick) — i.e. floor-to-10-minutes. Same semantics here:
    ``concat(HH, floor(minute/10), '0')``.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.concat(
        F.date_format(c, "HH"),
        F.floor(F.minute(c) / 10).cast("string"),
        F.lit("0"),
    )


def now_epoch_millis() -> int:
    """Driver-side epoch millis, the reference's ``(new Date()).getTime``
    (SRC/ODS2DWD.scala:61, SRC/MSK2Hudi.scala:52). All rows of a batch
    share one value — interpolated via ``F.lit``."""
    return int(time.time() * 1000)


def created_ts_expr(millis: int | None = None) -> Column:
    """The stamped ``created_ts`` precombine column
    (SRC/MSK2Hudi.scala:52, SRC/Hive2Hudi.scala:29)."""
    return F.lit(millis if millis is not None else now_epoch_millis()).cast("long")


def now_instant() -> str:
    """Commit instant ``yyyyMMddHHmmssSSS`` (SRC/ODS2DWD.scala:16,46)."""
    return datetime.now(timezone.utc).strftime(INSTANT_FORMAT)[:-3]


def pk_not_null_condition(keys: list[str]) -> Column:
    """Conjunctive primary-key-not-null predicate — the generated
    ``genPrimaryKeyFilter`` of SRC/package.scala:185-188
    (``"k1 is not null and k2 is not null"``), as a Column."""
    return reduce(lambda a, b: a & b, (F.col(k).isNotNull() for k in keys))


def ensure_parallelism(df, min_partitions: int | None = None):
    """Widen a too-narrow input to the session's parallelism.

    Small/single-file inputs (the sf-fixture case) plan ONE scan
    partition, serializing every downstream map — the explode +
    hash-family work of the dedup operators would run on one core. A
    corpus-scale scan already yields many partitions, so this is a no-op
    (no shuffle) exactly when shuffling would be expensive.
    """
    try:
        sc = df.sparkSession.sparkContext
        want = min_partitions or sc.defaultParallelism
        narrow = df.rdd.getNumPartitions() < want
    except Exception:
        # Spark Connect has no RDD API — repartition unconditionally
        # (still a small narrow-input shuffle in the fixture regime)
        return df.repartition(min_partitions or 32)
    return df.repartition(want) if narrow else df
