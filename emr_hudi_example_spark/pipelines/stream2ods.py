"""Kafka(-shaped) stream → ODS lake table, schema-on-target.

Port of ``MSK2Hudi`` (``SRC/MSK2Hudi.scala:20-66``): the parse schema is
read from the TARGET table (meta columns stripped —
``SRC/MSK2Hudi.scala:40-41``), each batch gets an epoch-millis
``created_ts`` precombine stamp (``:52``) and the PK-not-null filter
(``:53``) before upsert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from emr_hudi_example_spark.functions.core import created_ts_expr
from emr_hudi_example_spark.lake import LakeTable
from emr_hudi_example_spark.streaming.sources import start_foreach_batch


def target_schema(table: LakeTable):
    """Logical schema of the target (drops engine meta cols) minus the
    write-time ``created_ts`` stamp — the schema used for ``from_json``.

    Read from the newest commit manifest (one small JSON), NOT by
    building a snapshot read plan: this runs once per micro-batch, and
    ``logical()``'s timeline walk + manifest prune + DataFrame build
    is per-batch driver I/O that grows with the table's commit count
    (r13 review)."""
    from emr_hudi_example_spark.lake.table import DELETED_COL, META_COLS

    drop = set(META_COLS) | {DELETED_COL, "created_ts"}
    schema = table._stored_schema(table.last_instant())
    return type(schema)([f for f in schema.fields if f.name not in drop])


def stream2ods_batch(
    batch_df: DataFrame,
    table: LakeTable,
    created_ts_millis: int | None = None,
    batch_id: int | None = None,
) -> None:
    """One micro-batch (SRC/MSK2Hudi.scala:46-58)."""
    if batch_df.isEmpty():
        return
    schema = target_schema(table)
    rows = (
        batch_df.select(F.col("value").cast("string").alias("value"))
        .select(F.from_json("value", schema).alias("d"))
        .select("d.*")
        .withColumn("created_ts", created_ts_expr(created_ts_millis))
    )
    checkpoint = (
        {"source_id": "stream2ods", "batch_id": batch_id}
        if batch_id is not None
        else None
    )
    table.write(rows, op="upsert", checkpoint=checkpoint)  # PK filter inside


def run_stream2ods(
    stream_df: DataFrame,
    table: LakeTable,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    return start_foreach_batch(
        stream_df,
        lambda bdf, bid: stream2ods_batch(bdf, table, batch_id=bid),
        checkpoint_dir,
        query_name="Stream2ODS",
        trigger_seconds=trigger_seconds,
    )
