"""End-to-end pipeline tests: streaming ingest, medallion ETL ticks,
CDC fan-out, export — the reference's seven entry points on fixtures."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable
from emr_hudi_example_spark.pipelines import (
    TableRegistry,
    bootstrap_parquet,
    dm_increment,
    dm_init,
    dwd_increment,
    fanout_batch,
    init_cursor,
    lake_to_json_lines,
    run_log2lake,
)
from emr_hudi_example_spark.pipelines.multitable import TableSpec
from emr_hudi_example_spark.pipelines.stream2ods import stream2ods_batch
from emr_hudi_example_spark.streaming.sources import drain, json_lines_stream
from tests.harness import count_jobs

SF = "/root/testdata/sf0.001"


def test_bootstrap_parquet(spark, tmp_path):
    t = LakeTable(
        spark, str(tmp_path), "db", "cust", ["c_custkey"], "created_ts",
        partition_keys=["c_mktsegment"],
    )
    bootstrap_parquet(
        spark, f"{SF}/customer.parquet", t, created_ts_millis=1000
    )
    snap = t.snapshot()
    n = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert snap.count() == n
    # partition column cast to string (SRC/Hive2Hudi.scala:28)
    assert dict(snap.dtypes)["c_mktsegment"] == "string"
    assert snap.filter(F.col("created_ts") == 1000).count() == n


def test_log2lake_streaming_end_to_end(spark, tmp_path):
    """File-stream of JSON events → foreachBatch → global-index lake
    upsert with logday/hm partitions (Log2Hudi parity)."""
    events = (
        spark.read.parquet(f"{SF}/events.parquet").limit(50)
        .withColumn("ts", F.col("ts").cast("string"))
    )
    src_dir = tmp_path / "stream_in"
    os.makedirs(src_dir)
    rows = [json.dumps(r.asDict()) for r in events.collect()]
    (src_dir / "batch1.json").write_text("\n".join(rows))

    sample = rows[0]
    table = LakeTable(
        spark, str(tmp_path / "lake"), "db", "events",
        record_keys=["event_id"], precombine="user_id",
        partition_keys=["logday", "hm"], global_index=True,
    )
    stream = json_lines_stream(spark, str(src_dir), repartition=2)
    q = run_log2lake(
        spark, stream, sample, table, str(tmp_path / "ckpt")
    )
    drain(q)
    snap = table.snapshot()
    assert snap.count() == 50
    assert {"logday", "hm"} <= set(snap.columns)
    # all rows of the batch share one processing-time partition stamp
    assert snap.select("logday").distinct().count() == 1
    hm = snap.select("hm").distinct().collect()[0][0]
    assert hm.endswith("0") and len(hm) == 4

    # second file with overlapping keys -> upsert, not duplicate
    (src_dir / "batch2.json").write_text("\n".join(rows[:10]))
    q2 = run_log2lake(
        spark, json_lines_stream(spark, str(src_dir)), sample, table,
        str(tmp_path / "ckpt"),
    )
    drain(q2)
    assert table.snapshot().count() == 50  # keys moved/merged, not added


def test_stream2ods_schema_on_target(spark, tmp_path):
    """MSK2Hudi parity: parse with the TARGET table's schema."""
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    t = LakeTable(
        spark, str(tmp_path), "db", "nation", ["n_nationkey"], "created_ts"
    )
    t.write(
        nation.withColumn("created_ts", F.lit(1).cast("long")), op="upsert",
        instant="001",
    )
    # batch carries an unknown field -> nulled by from_json; missing
    # n_regionkey -> null (implicit schema evolution)
    msgs = [
        json.dumps({"n_nationkey": 0, "n_name": "PATCHED", "bogus": 1}),
        json.dumps({"n_nationkey": 99, "n_name": "NEW", "n_regionkey": 4}),
    ]
    bdf = spark.createDataFrame([(m,) for m in msgs], "value STRING")
    stream2ods_batch(bdf, t, created_ts_millis=2)
    snap = t.snapshot()
    assert snap.count() == nation.count() + 1
    patched = snap.filter(F.col("n_nationkey") == 0).collect()[0]
    assert patched["n_name"] == "PATCHED" and patched["n_regionkey"] is None


def test_medallion_ods2dwd2dm_incremental(spark, tmp_path):
    """Full ODS→DWD→DM chain with two incremental ticks + the
    double-add hazard check (SURVEY.md §3.3)."""
    from pyspark.sql.window import Window

    # fixture lineitem has no unique natural key (dup composites exist);
    # stamp a surrogate uid so the keyed upsert keeps every row
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .withColumn(
            "uid",
            F.row_number().over(
                Window.orderBy("l_orderkey", "l_partkey", "l_suppkey",
                               "l_linenumber")
            ),
        )
        .withColumn("created_ts", F.lit(1).cast("long"))
    )
    part = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    ods = LakeTable(spark, str(tmp_path), "db", "ods", ["uid"], "created_ts")
    dwd = LakeTable(
        spark, str(tmp_path), "db", "dwd", ["uid", "p_brand"], "created_ts"
    )
    dm = LakeTable(spark, str(tmp_path), "db", "dm", ["p_brand"], "created_ts")

    # seed ODS with 2/3 of data, then DWD catch-up tick
    first = li.filter(F.col("l_orderkey") % 3 != 0)
    ods.write(first, op="upsert", instant="100")
    assert init_cursor(dwd) is None
    cur = dwd_increment(ods, part, dwd, begin=None, end="100")
    assert cur == "100"
    assert dwd.snapshot().count() == first.count()
    assert "p_brand" in dwd.snapshot().columns

    # DM init from full DWD
    dm_init(dwd, dm, ["p_brand"], "l_quantity", "qty_sum", created_ts_millis=10)
    expect1 = (
        first.join(part, first.l_partkey == part.p_partkey, "left")
        .groupBy("p_brand").agg(F.sum("l_quantity").alias("qty_sum"))
    )
    got1 = dm.logical().select("p_brand", "qty_sum")
    assert sorted(map(tuple, got1.collect())) == sorted(
        map(tuple, expect1.collect())
    )

    # DM cursor = DWD's last commit at init time (the reference reads it
    # back as max(_hoodie_commit_time), SRC/DWD2DM.scala:44-51 — same
    # wall-clock instant domain across tables)
    dm_begin = init_cursor(dwd)

    # tick 2: remaining rows arrive in ODS, flow through DWD, delta-merge DM
    second = li.filter(F.col("l_orderkey") % 3 == 0)
    ods.write(second, op="upsert", instant="200")
    cur2 = dwd_increment(ods, part, dwd, begin=cur, end="200")
    assert dwd.snapshot().count() == li.count()
    dm_increment(
        dwd, dm, dm_begin, None, ["p_brand"], "l_quantity", "qty_sum",
        created_ts_millis=20,
    )
    expect_full = (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .groupBy("p_brand").agg(F.sum("l_quantity").alias("qty_sum"))
    )
    got2 = dm.logical().select("p_brand", "qty_sum")
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, expect_full.collect())
    )

    # double-add hazard: replaying the same DWD slice re-adds the sums —
    # correctness rests on the cursor (faithful to the reference)
    dm_increment(
        dwd, dm, dm_begin, None, ["p_brand"], "l_quantity", "qty_sum",
        created_ts_millis=30,
    )
    replayed = dm.logical().select("p_brand", "qty_sum")
    assert sorted(map(tuple, replayed.collect())) != sorted(
        map(tuple, expect_full.collect())
    )


def test_lake2stream_export_roundtrip(spark, tmp_path):
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    t = LakeTable(spark, str(tmp_path), "db", "n", ["n_nationkey"], "v")
    t.write(nation.withColumn("v", F.lit(1).cast("long")), op="upsert",
            instant="001")
    out = str(tmp_path / "out")
    lake_to_json_lines(t, out, cols=["n_nationkey", "n_name"], coalesce=1)
    back = spark.read.json(out)
    assert back.count() == nation.count()
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_multitable_fanout(spark, tmp_path):
    """CDC fan-out: one (topic,value) batch → two lake tables."""
    reg = TableRegistry(spark, str(tmp_path), "db")
    reg.register("nation", TableSpec(["n_nationkey"]))
    reg.register("region", TableSpec(["r_regionkey"]))
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    region = spark.read.parquet(f"{SF}/region.parquet")
    # targets must pre-exist (schema-on-target, like the reference)
    reg.lake_table("nation").write(
        nation.withColumn("created_ts", F.lit(1).cast("long")),
        op="upsert", instant="001",
    )
    reg.lake_table("region").write(
        region.withColumn("created_ts", F.lit(1).cast("long")),
        op="upsert", instant="001",
    )
    msgs = [
        ("kudu.nation", json.dumps({"n_nationkey": 0, "n_name": "XX"})),
        ("kudu.nation", json.dumps({"n_nationkey": 98, "n_name": "YY"})),
        ("kudu.region", json.dumps({"r_regionkey": 0, "r_name": "ZZ"})),
    ]
    bdf = spark.createDataFrame(msgs, "topic STRING, value STRING")
    written = fanout_batch(bdf, reg, created_ts_millis=5)
    assert written == ["nation", "region"]
    n = reg.lake_table("nation").snapshot()
    assert n.count() == nation.count() + 1
    assert n.filter(F.col("n_nationkey") == 0).collect()[0]["n_name"] == "XX"
    r = reg.lake_table("region").snapshot()
    assert r.filter(F.col("r_regionkey") == 0).collect()[0]["r_name"] == "ZZ"


def test_dms_envelope_parse(spark):
    """KDS2Hudi parity: decimals/timestamps/2-level struct round-trip."""
    from emr_hudi_example_spark.cdc.dms import DMS_ENVELOPE_SCHEMA

    msg = json.dumps(
        {
            "data": {
                "id": 7, "status": 1, "age": 30, "phone": 13800000000,
                "score": 4.25, "startLatitude": 31.2304001,
                "money": 12.50, "createTS": 1, "eventTS": 2,
            },
            "metadata": {
                "operation": 1, "record-type": "data",
                "table-name": "taxi_order", "transaction-id": 99,
                "timestamp": "2021-06-24 01:50:00",
            },
        }
    )
    df = spark.createDataFrame([(msg,)], "value STRING")
    parsed = (
        df.select(F.from_json("value", DMS_ENVELOPE_SCHEMA).alias("e"))
        .where(F.col("e.data").isNotNull())
        .select("e.data.*", F.col("e.metadata.`table-name`").alias("tbl"))
    )
    row = parsed.collect()[0]
    assert str(row["score"]) == "4.25"
    assert str(row["startLatitude"]) == "31.2304001"
    assert row["tbl"] == "taxi_order"
    assert dict(parsed.dtypes)["money"] == "decimal(9,2)"


def test_cdc_apply_changes_routes_ops(spark, tmp_path):
    """Canal parse → lake: INSERT/UPDATE/DELETE envelopes land as
    insert/upsert/delete on the target table."""
    from emr_hudi_example_spark.cdc.canal import parse_canal_df
    from emr_hudi_example_spark.pipelines.multitable import (
        TableRegistry, TableSpec, apply_changes_batch,
    )

    reg = TableRegistry(spark, str(tmp_path), "db")
    reg.register("nation", TableSpec(["n_nationkey"]))
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    reg.lake_table("nation").write(
        nation.withColumn("created_ts", F.lit(1).cast("long")),
        op="upsert", instant="001",
    )
    envs = [
        json.dumps({"table": "nation", "type": "INSERT", "database": "d",
                    "isDdl": False,
                    "data": [{"n_nationkey": "990", "n_name": "NEW"}]}),
        json.dumps({"table": "nation", "type": "UPDATE", "database": "d",
                    "isDdl": False,
                    "data": [{"n_nationkey": "0", "n_name": "UPDATED"}]}),
        json.dumps({"table": "nation", "type": "DELETE", "database": "d",
                    "isDdl": False,
                    "data": [{"n_nationkey": "1", "n_name": "x"}]}),
        json.dumps({"table": "nation", "type": "ALTER", "isDdl": True,
                    "database": "d", "data": []}),
    ]
    parsed = parse_canal_df(spark.createDataFrame([(e,) for e in envs],
                                                  "value STRING"))
    applied = apply_changes_batch(parsed, reg, created_ts_millis=9)
    assert applied == [("nation", "insert"), ("nation", "upsert"),
                       ("nation", "delete")]
    snap = reg.lake_table("nation").snapshot()
    assert snap.count() == nation.count()  # +1 insert, -1 delete
    assert snap.filter(F.col("n_nationkey") == 990).collect()[0]["n_name"] == "NEW"
    assert snap.filter(F.col("n_nationkey") == 0).collect()[0]["n_name"] == "UPDATED"
    assert snap.filter(F.col("n_nationkey") == 1).count() == 0


def test_streaming_progress_listener(spark, tmp_path):
    """T4: StreamingQueryListener records per-batch progress."""
    from emr_hudi_example_spark.streaming.sources import (
        BatchProgressListener, drain, json_lines_stream, start_foreach_batch,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text('{"x": 1}\n{"x": 2}\n')
    listener = BatchProgressListener()
    listener.attach(spark)
    try:
        got = []
        q = start_foreach_batch(
            json_lines_stream(spark, str(src)),
            lambda b, _id: got.append(b.count()),
            str(tmp_path / "ckpt"),
            query_name="ListenerTest",
        )
        drain(q)
        # listener events are delivered asynchronously
        import time
        for _ in range(40):
            if any(n == "ListenerTest" and rows == 2
                   for n, _b, rows in listener.records):
                break
            time.sleep(0.25)
        assert any(n == "ListenerTest" and rows == 2
                   for n, _b, rows in listener.records)
        assert got == [2]
    finally:
        listener.detach(spark)


def test_offset_commit_listener_lands_in_manifest(spark, tmp_path):
    """T4 completed (r5 verdict #5): OffsetCommitListener persists each
    batch's per-source endOffset into the table's commit metadata — the
    durable ``_commits/_offsets/<query>.json`` sidecar immediately, and
    the ``stream_offsets`` block of the NEXT commit's manifest (the
    engine-native analog of the reference's Kafka offset commit-back,
    SRC/Log2Hudi.scala:47-48)."""
    import json as _json
    import os as _os
    import time

    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.streaming.sources import (
        OffsetCommitListener, drain, json_lines_stream, start_foreach_batch,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": 1, "v": 10}\n{"k": 2, "v": 20}\n')
    t = LakeTable(
        spark, str(tmp_path / "lake"), "db", "off",
        record_keys=["k"], precombine="v",
    )
    listener = OffsetCommitListener(t)
    listener.attach(spark)
    try:
        def apply(batch, _id):
            rows = batch.select(
                F.from_json("value", "k LONG, v LONG").alias("s")
            ).select("s.*")
            if not rows.isEmpty():
                t.write(rows, op="upsert")

        q = start_foreach_batch(
            json_lines_stream(spark, str(src)), apply,
            str(tmp_path / "ckpt"), query_name="OffsetTest",
        )
        drain(q)
        for _ in range(40):  # listener events deliver asynchronously
            if t.stream_offsets("OffsetTest") is not None:
                break
            time.sleep(0.25)
        rec = t.stream_offsets("OffsetTest")
        assert rec is not None and rec["query"] == "OffsetTest"
        assert rec["sources"] and "endOffset" in rec["sources"][0]
        # the lag signal: the file-stream's committed log offset, parsed
        # from the progress JSON (Kafka would be {topic: {partition:
        # offset}} in the same slot). numInputRows is NOT asserted
        # exactly — foreachBatch re-scans (isEmpty + write) inflate it.
        assert rec["sources"][0]["endOffset"] == {"logOffset": 0}
        assert rec["batch_id"] == 0
        # offsets ride the NEXT commit's manifest (one-behind contract)
        (src / "b.jsonl").write_text('{"k": 3, "v": 30}\n')
        q2 = start_foreach_batch(
            json_lines_stream(spark, str(src)), apply,
            str(tmp_path / "ckpt"), query_name="OffsetTest",
        )
        drain(q2)
        manifests = [
            _json.load(open(_os.path.join(t.tl.commits_dir, i + ".json")))
            for i in t.timeline()
        ]
        stamped = [m for m in manifests if "stream_offsets" in m]
        assert stamped, "no manifest carries stream_offsets"
        assert stamped[-1]["stream_offsets"]["query"] == "OffsetTest"
    finally:
        listener.detach(spark)


def test_watermarked_windowed_stream_matches_batch(spark, tmp_path):
    """Event-time tumbling window + watermark on a stream produces the
    same aggregate as the batch operator once the stream drains."""
    events = spark.read.parquet(f"{SF}/events.parquet")
    if dict(events.dtypes).get("ts") == "bigint":  # nanos-as-long fixture
        events = events.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    src = tmp_path / "stream_src"
    events.select("event_id", "event_type", "ts").coalesce(1).write.parquet(
        str(src)
    )
    stream = (
        spark.readStream.schema("event_id LONG, event_type STRING, ts TIMESTAMP")
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_agg")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.table("win_agg").collect()
    }
    expected = {
        (r["ws"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    assert got == expected and len(got) > 0


def test_poll_loop_runners_end_to_end(spark, tmp_path):
    """T5 parity: the actual poll loops (cursor bootstrap → tick →
    advance) converge DWD and DM to the full-table end-state under
    wall-clock instants."""
    import time
    from emr_hudi_example_spark.pipelines.dwd2dm import dm_init, run_dwd2dm_loop
    from emr_hudi_example_spark.pipelines.ods2dwd import run_ods2dwd_loop

    nation = spark.read.parquet(f"{SF}/nation.parquet").withColumn(
        "created_ts", F.lit(1).cast("long")
    )
    region = spark.read.parquet(f"{SF}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    ods = LakeTable(spark, str(tmp_path), "p", "ods", ["n_nationkey"],
                    "created_ts")
    dwd = LakeTable(spark, str(tmp_path), "p", "dwd", ["n_nationkey"],
                    "created_ts")
    dm = LakeTable(spark, str(tmp_path), "p", "dm", ["r_name"], "created_ts")

    b1 = nation.filter(F.col("n_nationkey") % 2 == 0)
    b2 = nation.filter(F.col("n_nationkey") % 2 == 1)
    ods.write(b1, op="upsert")
    time.sleep(0.01)
    run_ods2dwd_loop(
        ods, region, dwd, fact_key="n_regionkey", dim_key="r_regionkey",
        enrich_cols={"r_name": "N/A"}, interval_seconds=0.01, max_ticks=1,
        created_ts_millis=2,
    )
    dm_init(dwd, dm, ["r_name"], "n_nationkey", "key_sum",
            created_ts_millis=3)
    time.sleep(0.01)
    ods.write(b2, op="upsert")
    time.sleep(0.01)
    run_ods2dwd_loop(
        ods, region, dwd, fact_key="n_regionkey", dim_key="r_regionkey",
        enrich_cols={"r_name": "N/A"}, interval_seconds=0.01, max_ticks=1,
        created_ts_millis=4,
    )
    run_dwd2dm_loop(
        dwd, dm, ["r_name"], "n_nationkey", "key_sum",
        interval_seconds=0.01, max_ticks=1, created_ts_millis=5,
    )
    assert dwd.snapshot().count() == nation.count()
    got = {
        r["r_name"]: r["key_sum"] for r in dm.logical().collect()
    }
    expected = {
        r["r_name"]: r["s"]
        for r in nation.join(
            region, nation.n_regionkey == region.r_regionkey, "left"
        )
        .groupBy("r_name")
        .agg(F.sum("n_nationkey").alias("s"))
        .collect()
    }
    assert got == expected


def test_lake2stream_streaming_export(spark, tmp_path):
    """Streaming Hudi2MSK: commits flow to the JSON sink as they land.
    MOR table — delta appends mean each commit emits exactly its new
    rows (a COW rewrite would re-emit carried rows, per LakeTable.stream
    docs)."""
    from emr_hudi_example_spark.pipelines.lake2stream import run_lake2stream

    nation = spark.read.parquet(f"{SF}/nation.parquet")
    t = LakeTable(spark, str(tmp_path), "db", "n", ["n_nationkey"], "v",
                  table_type="MERGE_ON_READ")
    t.write(nation.withColumn("v", F.lit(1).cast("long")), op="upsert",
            instant="001")
    out = str(tmp_path / "out")
    q = run_lake2stream(t, out, str(tmp_path / "ckpt"),
                        cols=["n_nationkey", "n_name"])
    try:
        q.processAllAvailable()
        n1 = spark.read.json(out).count()
        assert n1 == nation.count()
        t.write(
            nation.limit(3).withColumn("n_nationkey",
                                       F.col("n_nationkey") + 1000)
            .withColumn("v", F.lit(2).cast("long")),
            op="upsert", instant="002",
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    back = spark.read.json(out)
    assert back.count() == nation.count() + 3
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_reference_table_type_rule():
    from emr_hudi_example_spark.lake import reference_table_type

    assert reference_table_type([]) == "COPY_ON_WRITE"
    assert reference_table_type(None) == "COPY_ON_WRITE"
    assert reference_table_type(["logday"]) == "MERGE_ON_READ"


def test_loop_cold_start_and_cursor_file(spark, tmp_path):
    """Loops idle on unseeded sources; a durable cursor file survives
    restarts (closing the reference's sink-derived bootstrap skip)."""
    from emr_hudi_example_spark.pipelines.dwd2dm import dm_increment
    from emr_hudi_example_spark.pipelines.ods2dwd import run_ods2dwd_loop

    region = spark.read.parquet(f"{SF}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    ods = LakeTable(spark, str(tmp_path), "p", "ods", ["n_nationkey"],
                    "created_ts")
    dwd = LakeTable(spark, str(tmp_path), "p", "dwd", ["n_nationkey"],
                    "created_ts")
    dm = LakeTable(spark, str(tmp_path), "p", "dm", ["r_name"], "created_ts")
    cursor = str(tmp_path / "cursor.txt")
    # unseeded ODS: the tick is a no-op, not a crash
    cur = run_ods2dwd_loop(
        ods, region, dwd, fact_key="n_regionkey", dim_key="r_regionkey",
        interval_seconds=0, max_ticks=1, cursor_file=cursor,
    )
    # cold start leaves the cursor UNSET (r14: a now()-seeded cursor
    # could exceed the source's first in-flight commit and skip it
    # forever), so nothing durable is written either
    assert cur is None and not os.path.exists(cursor)
    assert not dwd.exists()
    # unseeded DWD: dm_increment is a no-op; unseeded DM accepts a seed
    assert dm_increment(dwd, dm, None, None, ["r_name"], "n_nationkey",
                        "s") is None
    nation = spark.read.parquet(f"{SF}/nation.parquet").withColumn(
        "created_ts", F.lit(1).cast("long")
    )
    ods.write(nation, op="upsert")
    run_ods2dwd_loop(
        ods, region, dwd, fact_key="n_regionkey", dim_key="r_regionkey",
        enrich_cols={"r_name": "N/A"}, interval_seconds=0, max_ticks=1,
        created_ts_millis=2, cursor_file=cursor,
    )
    assert dwd.snapshot().count() == nation.count()
    # dm_increment onto a never-seeded mart: increment becomes the seed
    dm_increment(dwd, dm, None, None, ["r_name"], "n_nationkey", "s",
                 created_ts_millis=3)
    assert dm.exists() and dm.snapshot().count() > 0


def test_fanout_unseeded_target_with_declared_schema(spark, tmp_path):
    from emr_hudi_example_spark.pipelines.multitable import fanout_batch

    reg = TableRegistry(spark, str(tmp_path), "db")
    reg.register(
        "fresh",
        TableSpec(["id"], schema="id LONG, name STRING"),
    )
    bdf = spark.createDataFrame(
        [("kudu.fresh", json.dumps({"id": 1, "name": "a"}))],
        "topic STRING, value STRING",
    )
    written = fanout_batch(bdf, reg, created_ts_millis=1)
    assert written == ["fresh"]
    snap = reg.lake_table("fresh").snapshot()
    assert snap.count() == 1 and snap.collect()[0]["name"] == "a"


def test_operator_guards(spark):
    import pytest as _pytest
    from emr_hudi_example_spark.operators.dedup import lsh_candidate_pairs
    from emr_hudi_example_spark.operators.relational import salted_equi_join
    from emr_hudi_example_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    df = spark.createDataFrame([(1, 2)], "a INT, b INT")
    with _pytest.raises(ValueError, match="salted_equi_join supports"):
        salted_equi_join(df, df, "a", how="full")
    with _pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(df, num_perm=16, band_size=3)
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert embedding_near_dup_pairs(empty, threshold=0.5).count() == 0
    # string ids fall back to the JVM path instead of crashing
    sv = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])],
        "vec_id STRING, embedding ARRAY<DOUBLE>",
    )
    pairs = embedding_near_dup_pairs(sv, threshold=0.9)
    assert pairs.count() == 1


def test_streaming_medallion_ods2dwd(spark, tmp_path):
    """Commit-log streaming replaces the poll loop: ODS commits flow
    into DWD as micro-batches with exact increments."""
    from emr_hudi_example_spark.pipelines.ods2dwd import run_ods2dwd_streaming

    nation = spark.read.parquet(f"{SF}/nation.parquet").withColumn(
        "created_ts", F.lit(1).cast("long")
    )
    region = spark.read.parquet(f"{SF}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    ods = LakeTable(spark, str(tmp_path), "p", "ods", ["n_nationkey"],
                    "created_ts")
    dwd = LakeTable(spark, str(tmp_path), "p", "dwd", ["n_nationkey"],
                    "created_ts")
    ods.write(nation.filter(F.col("n_nationkey") % 2 == 0), op="upsert")
    q = run_ods2dwd_streaming(
        ods, region, dwd, fact_key="n_regionkey", dim_key="r_regionkey",
        checkpoint_dir=str(tmp_path / "ckpt"),
        enrich_cols={"r_name": "N/A"}, created_ts_millis=2,
    )
    try:
        q.processAllAvailable()
        assert dwd.snapshot().count() == nation.filter(
            F.col("n_nationkey") % 2 == 0
        ).count()
        ods.write(nation.filter(F.col("n_nationkey") % 2 == 1), op="upsert")
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    snap = dwd.snapshot()
    assert snap.count() == nation.count()
    assert "r_name" in snap.columns
    joined = nation.join(region,
                         nation.n_regionkey == region.r_regionkey, "left")
    assert sorted(
        (r["n_nationkey"], r["r_name"]) for r in snap.collect()
    ) == sorted((r["n_nationkey"], r["r_name"]) for r in joined.collect())

    # r13: the source cursor rides the DWD commit manifest, atomic
    # with the data — the restart bootstrap recovers the exact last
    # PROCESSED source commit instead of over-filtering via DWD's own
    # (later) instant, which could drop an unprocessed ODS commit from
    # its checkpoint replay
    cp = dwd.last_checkpoint_entry("ODS2DWDStream")
    assert cp is not None and cp["cursor"] is not None
    ods_max = ods.snapshot().agg(
        F.max("_commit_time")
    ).collect()[0][0]
    assert cp["cursor"] == ods_max
    # restart: a fresh query on the same checkpoint continues exactly
    ods.write(
        nation.filter(F.col("n_nationkey") % 2 == 1)
        .withColumn("created_ts", F.lit(9).cast("long")),
        op="upsert",
    )
    q2 = run_ods2dwd_streaming(
        ods, region, dwd, fact_key="n_regionkey", dim_key="r_regionkey",
        checkpoint_dir=str(tmp_path / "ckpt"),
        enrich_cols={"r_name": "N/A"}, created_ts_millis=3,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination()
    snap2 = dwd.snapshot()
    assert snap2.count() == nation.count()  # upsert replaced, no dupes
    odd = snap2.filter(F.col("n_nationkey") % 2 == 1)
    assert odd.filter(F.col("created_ts") == 3).count() == odd.count()


def test_parse_keys_from_ddl():
    """Golden Kudu-style DDL → key metadata (SRC/package.scala:85-115)."""
    from emr_hudi_example_spark.pipelines.multitable import (
        parse_keys_from_ddl,
    )

    ddl = (
        "CREATE TABLE kudu.call_center (\n"
        "  cc_call_center_sk INT,\n  cc_day INT,\n  cc_name STRING,\n"
        "  PRIMARY KEY (cc_call_center_sk, cc_day)\n)\n"
        "PARTITIONED BY ( RANGE (cc_day) (...) )\n"
        "STORED AS KUDU\nLOCATION 's3://bucket/x'"
    )
    spec = parse_keys_from_ddl(ddl)
    assert spec.record_keys == ["cc_call_center_sk"]  # partition key removed
    assert spec.partition_keys == ["cc_day"]
    # no partition clause -> all PKs kept, unpartitioned
    spec2 = parse_keys_from_ddl(
        "CREATE TABLE t (a INT, b INT, PRIMARY KEY (a, b)) STORED AS KUDU"
    )
    assert spec2.record_keys == ["a", "b"] and spec2.partition_keys == []


def test_register_from_jdbc_bootstraps_registry(spark, tmp_path):
    """The live half of S8 (SRC/package.scala:118-141): DDL fetched
    per-table over the JDBC channel feeds parse_keys_from_ddl and lands
    in the TableRegistry, whose lake_table factory then carries the
    parsed keys. The fetcher is stubbed (no Impala in the sandbox) with
    the same one-string contract jdbc_show_create_table returns."""
    from emr_hudi_example_spark.pipelines.multitable import (
        TableRegistry, register_from_jdbc,
    )

    ddls = {
        "call_center": (
            "CREATE TABLE kudu.call_center (\n"
            "  cc_call_center_sk INT,\n  cc_day INT,\n"
            "  PRIMARY KEY (cc_call_center_sk, cc_day)\n)\n"
            "PARTITIONED BY ( RANGE (cc_day) (...) )\nSTORED AS KUDU"
        ),
        "web_site": (
            "CREATE TABLE t (a INT, b INT, PRIMARY KEY (a, b)) "
            "STORED AS KUDU"
        ),
    }
    reg = TableRegistry(spark, str(tmp_path), "cdc")
    specs = register_from_jdbc(
        reg, "jdbc:impala://unused:21050", list(ddls), fetch=ddls.__getitem__
    )
    assert specs["call_center"].record_keys == ["cc_call_center_sk"]
    assert specs["call_center"].partition_keys == ["cc_day"]
    assert specs["web_site"].record_keys == ["a", "b"]
    t = reg.lake_table("call_center")
    assert t.record_keys == ["cc_call_center_sk"]
    assert t.partition_keys == ["cc_day"]


def test_cdc_insert_replay_is_exactly_once(spark, tmp_path):
    """apply_changes_batch(batch_id=...) arms the commit-metadata
    checkpoint for the non-idempotent insert path: a foreachBatch replay
    of the same epoch does not double-insert."""
    from emr_hudi_example_spark.cdc.canal import parse_canal_df
    from emr_hudi_example_spark.pipelines.multitable import (
        TableRegistry, TableSpec, apply_changes_batch,
    )

    reg = TableRegistry(spark, str(tmp_path), "db")
    reg.register("nation", TableSpec(["n_nationkey"]))
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    reg.lake_table("nation").write(
        nation.withColumn("created_ts", F.lit(1).cast("long")),
        op="upsert", instant="001",
    )
    env = json.dumps({"table": "nation", "type": "INSERT", "database": "d",
                      "isDdl": False,
                      "data": [{"n_nationkey": "991", "n_name": "NEW"}]})
    parsed = parse_canal_df(spark.createDataFrame([(env,)], "value STRING"))
    applied = apply_changes_batch(parsed, reg, created_ts_millis=9, batch_id=4)
    assert applied == [("nation", "insert")]
    n = reg.lake_table("nation").snapshot().count()
    # crash-replay of the same epoch: insert must be skipped
    replay = apply_changes_batch(parsed, reg, created_ts_millis=9, batch_id=4)
    assert replay == []
    assert reg.lake_table("nation").snapshot().count() == n


# ------------------------------------------------- stateful streaming ops


def _two_batch_stream(spark, tmp_path, df, schema):
    """Write df as two single-file micro-batches (row-hash parity) and
    return a maxFilesPerTrigger=1 file stream over them."""
    import glob
    import os
    import shutil

    ind = tmp_path / "in"
    ind.mkdir()
    for i in range(2):
        stage = str(tmp_path / f"stage{i}")
        df.filter(F.col("event_id") % 2 == i).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, str(ind / f"batch{i}.parquet"))
        shutil.rmtree(stage)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ind))
    )


def test_streaming_running_sum_exact_across_batches(spark, tmp_path):
    """State-store running sum == one-shot batch aggregate, bit-exact
    (decimal accumulation in state)."""
    from emr_hudi_example_spark.streaming import streaming_running_sum

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "event_type",
                F.col("value").cast("decimal(38,4)").alias("v"))
    )
    out = streaming_running_sum(
        _two_batch_stream(spark, tmp_path, ev, ev.schema), ["event_type"], "v"
    )
    finals = {}
    batches = []

    def sink(bdf, bid):
        rows = bdf.collect()
        batches.append((bid, len(rows)))
        for r in rows:
            finals[r["event_type"]] = (r["run_sum"], r["n_rows"])

    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    assert len(batches) == 2  # state really accumulated across 2 batches
    exp = {
        r["event_type"]: (str(r["s"]), r["n"])
        for r in ev.groupBy("event_type").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert finals == exp


def test_streaming_first_seen_dedups_across_batches(spark, tmp_path):
    """A key seen in batch 0 must NOT be re-emitted by batch 1 (state
    marker survives the micro-batch boundary)."""
    from emr_hudi_example_spark.streaming import streaming_first_seen

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "event_type", "user_id")
    )
    out = streaming_first_seen(
        _two_batch_stream(spark, tmp_path, ev, ev.schema), ["event_type"]
    )
    seen = []

    def sink(bdf, _bid):
        seen.extend(bdf.collect())

    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    types = [r["event_type"] for r in seen]
    assert sorted(types) == sorted(set(types))  # exactly once per key
    assert set(types) == {
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    }


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode window finalization: a row arriving behind the
    watermark must be DROPPED; the finalized window counts only rows
    that beat it."""
    import glob
    import os
    import shutil

    from emr_hudi_example_spark.streaming.windows import streaming_tumbling_agg

    def write_batch(i, rows):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "event_id LONG, ts TIMESTAMP").coalesce(
            1
        ).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        ind = tmp_path / "in"
        ind.mkdir(exist_ok=True)
        shutil.move(part, str(ind / f"batch{i}.parquet"))
        shutil.rmtree(stage)

    from datetime import datetime as DT

    # batch 0: two rows in [10:00, 10:10) + one at 11:00 that advances
    # the watermark to 10:30 (delay 30 min) once the batch commits
    write_batch(0, [
        (1, DT(2021, 1, 1, 10, 0)),
        (2, DT(2021, 1, 1, 10, 5)),
        (3, DT(2021, 1, 1, 11, 0)),
    ])
    # batch 1: fresh row only — processing it finalizes + EVICTS the
    # [10:00,10:10) window (watermark 10:30 > window end)
    write_batch(1, [(4, DT(2021, 1, 1, 11, 5))])
    # batch 2: a row for the long-closed window, behind the watermark —
    # its state is gone; the engine must drop it, not re-open the window
    write_batch(2, [
        (5, DT(2021, 1, 1, 10, 2)),
        (6, DT(2021, 1, 1, 11, 30)),
    ])
    stream = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )
    out = streaming_tumbling_agg(stream, "ts", "10 minutes", "30 minutes")
    emitted = []

    def sink(bdf, _bid):
        emitted.extend(bdf.collect())

    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    finalized = [
        (r["window_start"].strftime("%H:%M"), r["n"]) for r in emitted
    ]
    # [10:00,10:10) emitted EXACTLY ONCE with n=2; the late event_id=5
    # (behind the watermark, state evicted) could neither re-open nor
    # re-emit it. Windows at/after 11:00 never finalize (watermark
    # stops at 11:00).
    assert finalized == [("10:00", 2)]


def test_fanout_parallel_many_tables(spark, tmp_path):
    """Concurrent per-table fan-out commits: 6 tables commit on a
    thread pool; each table's own timeline stays linear and complete
    (round-2 verdict #7 — the serial-commit bottleneck removed without
    interleaving any single table's commits)."""
    reg = TableRegistry(spark, str(tmp_path), "db")
    names = [f"t{i}" for i in range(6)]
    for i, name in enumerate(names):
        reg.register(name, TableSpec(["id"], schema="id LONG, v STRING"))
    msgs = [
        (f"kudu.{name}", json.dumps({"id": j, "v": f"{name}-{j}"}))
        for name in names
        for j in range(3)
    ]
    bdf = spark.createDataFrame(msgs, "topic STRING, value STRING")
    written = fanout_batch(bdf, reg, created_ts_millis=5, max_workers=6)
    assert sorted(written) == names
    for name in names:
        t = reg.lake_table(name)
        tl = t.timeline()
        assert len(tl) == 1  # one batch → exactly one commit per table
        assert t.snapshot().count() == 3
    # second batch: every table advances by exactly one instant, all
    # timelines strictly increasing (no interleaved/duplicate instants)
    bdf2 = spark.createDataFrame(
        [(f"kudu.{n}", json.dumps({"id": 0, "v": "upd"})) for n in names],
        "topic STRING, value STRING",
    )
    fanout_batch(bdf2, reg, created_ts_millis=6, max_workers=6)
    for name in names:
        tl = reg.lake_table(name).timeline()
        assert len(tl) == 2 and tl == sorted(set(tl))
        snap = reg.lake_table(name).snapshot()
        assert snap.count() == 3
        assert snap.filter(F.col("id") == 0).collect()[0]["v"] == "upd"


def test_streaming_paragraph_dedup_matches_batch(spark, tmp_path):
    """Streaming twin of paragraph dedup: explode paragraphs on the
    stream (stateless), first-seen per fingerprint across micro-batches
    (stateful) — the surviving fingerprint SET equals the batch
    operator's (keep-first picks a different representative by design:
    arrival order vs smallest (doc, idx))."""
    import glob
    import os
    import shutil

    from emr_hudi_example_spark.operators.dedup import paragraph_dedup
    from emr_hudi_example_spark.operators.text import fingerprint
    from emr_hudi_example_spark.streaming import streaming_first_seen

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            "doc_id",
            F.regexp_replace("text", " table ", "\n\n").alias("text"),
        )
        .limit(200)
    )
    batch_fps = {
        r["fp"] for r in paragraph_dedup(docs).select("fp").collect()
    }

    ind = tmp_path / "in"
    ind.mkdir()
    for i in range(2):
        stage = str(tmp_path / f"stage{i}")
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, str(ind / f"batch{i}.parquet"))
        shutil.rmtree(stage)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ind))
    )
    paras = (
        stream.select(
            "doc_id",
            F.posexplode(F.split("text", r"\n\n")).alias("para_idx", "para"),
        )
        .withColumn("para", F.trim("para"))
        .filter(F.length("para") > 0)
        .withColumn("fp", fingerprint("para"))
    )
    out = streaming_first_seen(paras, ["fp"])
    seen = []

    def sink(bdf, _bid):
        seen.extend(bdf.collect())

    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    stream_fps = [r["fp"] for r in seen]
    assert sorted(stream_fps) == sorted(set(stream_fps))  # once per fp
    assert set(stream_fps) == batch_fps


def test_offset_commit_to_group_receives_persisted_offsets(spark, tmp_path):
    """T4 broker-side commit (r6 verdict #6): an injected
    commit_to_group fake receives EXACTLY the payloads persisted
    engine-side (same query/batch/sources), fires once per progress
    event, and a callback failure is swallowed into last_commit_error
    without stopping ingest."""
    import time

    from emr_hudi_example_spark.lake import LakeTable
    from emr_hudi_example_spark.streaming.sources import (
        OffsetCommitListener, drain, json_lines_stream, start_foreach_batch,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": 1, "v": 10}\n')
    t = LakeTable(
        spark, str(tmp_path / "lake"), "db", "grp",
        record_keys=["k"], precombine="v",
    )
    committed = []
    listener = OffsetCommitListener(t, commit_to_group=committed.append)
    listener.attach(spark)
    try:
        def apply(batch, _id):
            rows = batch.select(
                F.from_json("value", "k LONG, v LONG").alias("s")
            ).select("s.*")
            if not rows.isEmpty():
                t.write(rows, op="upsert")

        q = start_foreach_batch(
            json_lines_stream(spark, str(src)), apply,
            str(tmp_path / "ckpt"), query_name="GroupCommit",
        )
        drain(q)
        for _ in range(40):
            if committed and t.stream_offsets("GroupCommit") is not None:
                break
            time.sleep(0.25)
        rec = t.stream_offsets("GroupCommit")
        assert rec is not None and committed
        # the callback got the same payload the engine persisted
        match = [c for c in committed if c["batch_id"] == rec["batch_id"]]
        assert match and match[-1] == rec
        assert listener.last_commit_error is None

        # a failing broker commit must not break the listener
        def boom(payload):
            raise RuntimeError("broker unreachable")

        listener.commit_to_group = boom
        (src / "b.jsonl").write_text('{"k": 2, "v": 20}\n')
        q2 = start_foreach_batch(
            json_lines_stream(spark, str(src)), apply,
            str(tmp_path / "ckpt"), query_name="GroupCommit",
        )
        drain(q2)
        for _ in range(40):
            if listener.last_commit_error is not None:
                break
            time.sleep(0.25)
        assert isinstance(listener.last_commit_error, RuntimeError)
        # ...and the engine-side persist still advanced
        assert t.stream_offsets("GroupCommit")["batch_id"] >= rec["batch_id"]
    finally:
        listener.detach(spark)


def test_registry_unregistered_table_friendly_error(spark, tmp_path):
    """A stray topic on the fan-out subscription surfaces as actionable
    configuration guidance, not a bare KeyError that aborts the batch
    (r13 review)."""
    import pytest

    from emr_hudi_example_spark.pipelines.multitable import TableRegistry

    reg = TableRegistry(spark, str(tmp_path), "db")
    with pytest.raises(ValueError, match="no TableSpec registered"):
        reg.lake_table("call_center")
    with pytest.raises(ValueError, match="register it"):
        reg.spec("call_center")


def test_dwd_increment_cursor_is_published_instant(spark, tmp_path):
    """The tick's default slice end is the source's newest PUBLISHED
    instant, never the wall clock (r13 review): a wall-clock end can
    land inside another writer's allocate→publish window and skip that
    commit forever. The returned cursor must therefore be an instant
    the source timeline actually contains, and an idle tick (nothing
    published past the cursor) must not advance it."""
    nation = spark.read.parquet(f"{SF}/nation.parquet").withColumn(
        "created_ts", F.lit(1).cast("long")
    )
    region = spark.read.parquet(f"{SF}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    ods = LakeTable(spark, str(tmp_path), "p", "odsc", ["n_nationkey"],
                    "created_ts")
    dwd = LakeTable(spark, str(tmp_path), "p", "dwdc", ["n_nationkey"],
                    "created_ts")
    ods.write(nation, op="upsert")
    cur = dwd_increment(
        ods, region, dwd, begin=None,
        fact_key="n_regionkey", dim_key="r_regionkey",
        enrich_cols={"r_name": "N/A"}, created_ts_millis=2,
    )
    assert cur == ods.last_instant()  # a published instant, not now()
    assert dwd.snapshot().count() == nation.count()
    # idle tick: no new source commit — cursor unchanged, no write
    before = dwd.last_instant()
    assert dwd_increment(
        ods, region, dwd, begin=cur,
        fact_key="n_regionkey", dim_key="r_regionkey",
        enrich_cols={"r_name": "N/A"}, created_ts_millis=3,
    ) == cur
    assert dwd.last_instant() == before


def test_dwd_increment_cold_start_keeps_cursor_unset(spark, tmp_path):
    """Cold-start idle tick (source table not yet seeded) must leave the
    cursor UNSET, not seed it from the wall clock (r14 review / r13
    ADVICE): a first creating commit allocates its instant before
    publishing, so a now()-seeded cursor could exceed it and exclude its
    rows from every later slice forever."""
    nation = spark.read.parquet(f"{SF}/nation.parquet").withColumn(
        "created_ts", F.lit(1).cast("long")
    )
    region = spark.read.parquet(f"{SF}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    ods = LakeTable(spark, str(tmp_path), "p", "odsd", ["n_nationkey"],
                    "created_ts")
    dwd = LakeTable(spark, str(tmp_path), "p", "dwdd", ["n_nationkey"],
                    "created_ts")
    kw = dict(fact_key="n_regionkey", dim_key="r_regionkey",
              enrich_cols={"r_name": "N/A"}, created_ts_millis=2)
    # tick before the source exists: cursor stays None
    assert dwd_increment(ods, region, dwd, begin=None, **kw) is None
    # an explicit end must not advance the cursor either on cold start
    assert dwd_increment(ods, region, dwd, begin=None, end="999", **kw) is None
    # source publishes its first commit; the next tick picks up ALL rows
    ods.write(nation, op="upsert")
    cur = dwd_increment(ods, region, dwd, begin=None, **kw)
    assert cur == ods.last_instant()
    assert dwd.snapshot().count() == nation.count()


@pytest.mark.parametrize("tt", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_empty_tick_publishes_nothing(spark, tmp_path, tt):
    """``dwd_increment`` and ``dm_increment`` on an empty slice publish
    nothing (``dm_increment`` returns None) and leave no data
    directory behind, and the next non-empty tick lands exactly. The
    ticks carry no ``isEmpty`` guard: the upsert skips an empty batch."""
    nation = spark.read.parquet(f"{SF}/nation.parquet").withColumn(
        "created_ts", F.lit(1).cast("long")
    )
    region = spark.read.parquet(f"{SF}/region.parquet").select(
        "r_regionkey", "r_name"
    )

    def mk(name, keys):
        return LakeTable(spark, str(tmp_path), "e", name, keys,
                         "created_ts", table_type=tt)

    ods, dwd, dm = (
        mk("ods", ["n_nationkey"]), mk("dwd", ["n_nationkey"]),
        mk("dm", ["r_name"]),
    )
    kw = dict(fact_key="n_regionkey", dim_key="r_regionkey",
              enrich_cols={"r_name": "N/A"})
    agg = (["r_name"], "n_nationkey", "key_sum")
    ods.write(nation.filter("n_nationkey < 10"), op="upsert", instant="100")
    cur = dwd_increment(ods, region, dwd, None, **kw)
    dm_init(dwd, dm, *agg)
    dm_cur = dwd.last_instant()

    def state():
        return [(t.timeline(), sorted(os.listdir(t.data_dir)))
                for t in (dwd, dm)]

    before = state()
    # empty slices: no ODS commit in (100, 150], no DWD commit past dm_cur
    assert dwd_increment(ods, region, dwd, cur, end="150", **kw) == "150"
    assert dm_increment(dwd, dm, dm_cur, dwd.last_instant(), *agg) is None
    assert state() == before

    ods.write(nation.filter("n_nationkey >= 10"), op="upsert", instant="200")
    assert dwd_increment(ods, region, dwd, "150", **kw) == "200"
    inst = dm_increment(dwd, dm, dm_cur, dwd.last_instant(), *agg)
    assert inst is not None and inst == dm.last_instant()
    assert dwd.snapshot().count() == nation.count()
    expect = (
        nation.join(region, nation.n_regionkey == region.r_regionkey, "left")
        .groupBy("r_name").agg(F.sum("n_nationkey").alias("key_sum"))
    )
    assert sorted(
        map(tuple, dm.logical().select("r_name", "key_sum").collect())
    ) == sorted(map(tuple, expect.collect()))


@pytest.mark.parametrize("tt", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_empty_foreach_batch_upsert_publishes_nothing(spark, tmp_path, tt):
    """An upsert of an empty ``foreachBatch`` frame with no checkpoint,
    on an existing table, returns None and leaves the timeline
    unchanged. The frame lives in the stream's cloned session; the
    kernel's collect and the written footers see its rows in any
    session."""
    from emr_hudi_example_spark.streaming.sources import (
        drain, start_foreach_batch,
    )

    nation = spark.read.parquet(f"{SF}/nation.parquet")
    t = LakeTable(spark, str(tmp_path), "fb", "nation", ["n_nationkey"],
                  "created_ts", table_type=tt)
    t.write(nation.withColumn("created_ts", F.lit(1).cast("long")),
            op="upsert", instant="001")
    src = tmp_path / "src"
    nation.write.parquet(str(src))
    stream = (
        spark.readStream.schema(nation.schema).parquet(str(src))
        .filter("n_nationkey < 0")
        .withColumn("created_ts", F.lit(2).cast("long"))
    )
    got = []
    drain(start_foreach_batch(
        stream,
        lambda b, _id: got.append(t.write(b, op="upsert")),
        str(tmp_path / "ckpt"),
        query_name="EmptyForeachBatch",
    ))
    assert got == [None]
    assert t.timeline() == ["001"]
    assert t.snapshot().count() == nation.count()


def test_medallion_tick_job_budget(spark, tmp_path):
    """Spark jobs for one medallion-shaped tick — ``ods.write`` +
    ``dwd_increment`` + ``dm_increment`` — on a small ODS (MOR) → DWD
    (MOR) → DM (COW) chain. The same tick took 18 jobs while the ticks
    guarded the write with ``persist`` → ``isEmpty`` and every MOR read
    planned the tombstone join, and 10 once the upsert counted its own
    batch and upsert-only MOR reads merged without the join. It takes 8
    now that the mart upsert merges and writes in-driver
    (``lake/fold.py``): ``dm_increment`` is the batch collect alone, at
    most 4 jobs, where the Spark rewrite took 6. The two MOR delta
    appends write in-driver too, so no job of the tick is a Spark
    write: ``ods.write`` is 1 job, the batch collect, and
    ``dwd_increment`` is 3, the ODS incremental read, the ``part``
    join and the batch collect. A compaction tick's
    ``ods.compact(); dwd.compact()`` folds in-driver under the same
    gate: 0 jobs, where the Spark fold took 2 per table."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_returnflag",
    )
    part = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_partkey", "p_brand"
    )

    def mk(name, keys, tt):
        return LakeTable(spark, str(tmp_path), "b", name, keys,
                         "created_ts", table_type=tt)

    ods = mk("ods", ["l_orderkey", "l_linenumber"], "MERGE_ON_READ")
    dwd = mk("dwd", ["l_orderkey", "l_linenumber", "p_brand"],
             "MERGE_ON_READ")
    dm = mk("dm", ["p_brand", "l_returnflag"], "COPY_ON_WRITE")
    agg = (["p_brand", "l_returnflag"], "l_quantity", "qty_sum")

    def sl(t):
        return li.filter(F.col("l_orderkey") % 4 == t).withColumn(
            "created_ts", F.lit(t).cast("long")
        )

    ods.write(sl(0), op="upsert")
    cur = dwd_increment(ods, part, dwd, None, created_ts_millis=1)
    dm_init(dwd, dm, *agg, created_ts_millis=1)
    dm_cur = dwd.last_instant()
    counts = []
    for t in (1, 2):
        def tick():
            ods.write(sl(t), op="upsert")
            dwd_increment(ods, part, dwd, cur, created_ts_millis=t + 1)
            end = dwd.last_instant()
            return count_jobs(spark, lambda: dm_increment(
                dwd, dm, dm_cur, end, *agg, created_ts_millis=t + 1
            ))

        jobs, (dm_jobs, inst) = count_jobs(spark, tick)
        assert inst is not None
        cur, dm_cur = ods.last_instant(), dwd.last_instant()
        counts.append((jobs, dm_jobs))
    assert max(j for j, _ in counts) <= 8, counts
    assert max(d for _, d in counts) <= 4, counts
    jobs, _ = count_jobs(spark, lambda: (ods.compact(), dwd.compact()))
    assert jobs == 0, jobs
    assert dwd.snapshot().count() == li.filter(
        F.col("l_orderkey") % 4 <= 2
    ).select("l_orderkey", "l_linenumber").distinct().count()
