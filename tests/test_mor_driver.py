"""The in-driver merge-on-read delta append (``lake/fold.py``:
``collect_append`` and ``append``) against the Spark write it stands in
for.

Each case builds the same history twice, with the same instants, and
runs one MOR write on both copies: one through the driver route, one
with the driver gate shut (``driver_probe_max_bytes = 0``), which sends
``_mor_append`` down the Spark write. The snapshot, the read-optimized
view, the ``incremental`` and ``changes`` reads of the commit, the
commit's rows with their stamps, read back through Spark, and its
manifest (schema; the added files' rows, key range, column stats and
``tombstones`` flag) must be equal. A Spark write leaves a
``_SUCCESS`` marker in the commit's data dir and the kernel does not,
which tells the routes apart."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pa_pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import LakeTable, fold
from tests.harness import count_jobs
from tests.test_cow_driver import _df, _one_file, _spark_wrote
from tests.test_lake_fold import STATS, _rows

MOR = "MERGE_ON_READ"


def _table(spark, tmp, route, name, **kw):
    return LakeTable(spark, str(tmp), route, name, ["k"], "ver",
                     table_type=MOR, stats_columns=STATS, **kw)


def _twin(spark, tmp, name, history, op, **kw):
    """Run ``history(t)`` on two copies of one MOR table, then ``op(t)``
    on each, the second with the driver gate shut. Returns one
    ``(table, op result, jobs)`` per route."""
    out = []
    for route in ("driver", "spark"):
        t = _table(spark, tmp, route, name, **kw)
        history(t)
        if route == "spark":
            t.driver_probe_max_bytes = 0
        jobs, inst = count_jobs(spark, lambda: op(t))
        out.append((t, inst, jobs))
    return out


def _rows_of(df: DataFrame) -> list[str]:
    return sorted(map(repr, df.collect()))


def _state(t, inst):
    """The reads of ``t`` after the write: snapshot, read-optimized,
    and, when ``inst`` published, the ``incremental`` and ``changes``
    reads of it, the rows of its data files read through Spark under
    the stored schema (stamps and ``_deleted`` included), and its
    manifest: the schema and the added files as one. The ``tombstones``
    flag is compared over the files holding rows: a Spark task writes a
    0-row file, which has no footer statistic and so "may hold one"."""
    out = {"snapshot": _rows_of(t.snapshot()),
           "read_optimized": _rows_of(t.read_optimized())}
    if inst is None:
        return out
    tl = t.timeline()
    prev = tl[tl.index(inst) - 1] if tl.index(inst) else None
    with open(os.path.join(t.tl.commits_dir, inst + ".json")) as fh:
        m = json.load(fh)
    out.update(
        incremental=_rows_of(t.incremental(prev, inst)),
        changes=_rows_of(t.changes(prev, inst)),
        written=_rows_of(t._read_files(
            [f["path"] for f in m["added"]], t._stored_schema(inst)
        )),
        schema=m["schema"],
        added=_one_file(m["added"]),
        kind={f["kind"] for f in m["added"]},
        tombstones=any(f["tombstones"] for f in m["added"] if f["rows"]),
    )
    return out


def _assert_same(pair, driver_route=True):
    """The two routes' results are equal; the first ran the driver
    route (with ``driver_route``) and the second the Spark write.
    Returns the driver route's table, instant and state."""
    (td, id_, _jd), (ts, is_, _js) = pair
    assert id_ == is_
    state = _state(td, id_)
    assert state == _state(ts, is_)
    if id_ is not None:
        assert _spark_wrote(td, id_) is not driver_route
        assert _spark_wrote(ts, is_)
    return td, id_, state


def _base(spark):
    """Twelve keys in one base file (a MOR insert), every column type
    the kernel serves."""

    def history(t):
        t.write(_df(spark, _rows(range(12), 1.0, 1)).coalesce(1),
                op="insert", instant="001")

    return history


def test_upsert_duplicates_null_and_nan(spark, tmp_path):
    """In-batch duplicate keys (the larger precombine wins at read), a
    null precombine (loses to any value), NaN (beats every value) and
    new keys: one delta file, every row of the batch kept."""

    def op(t):
        rows = (
            _rows([21], float("nan"), 2) + _rows([20], None, 2)  # new
            + _rows([1], 2.0, 2) + _rows([1], 3.0, 3)  # duplicate: 3.0 wins
            + _rows([2], None, 2)  # null loses to the stored 1.0
            + _rows([3], None, 2) + _rows([3], 5.0, 3)
            + _rows([4], float("nan"), 2)  # NaN beats the stored 1.0
        )
        return t.write(_df(spark, rows), op="upsert", instant="002")

    t, inst, state = _assert_same(_twin(spark, tmp_path, "up", _base(spark), op))
    assert inst == "002" and state["added"]["rows"] == 8
    assert state["kind"] == {"delta"} and not state["tombstones"]
    (name,) = os.listdir(os.path.join(t.data_dir, inst))
    assert name.endswith(".parquet")
    # key-sorted, as each task's file on the Spark route, so the page
    # stats on the key stay selective
    keys = pa_pq.read_table(
        os.path.join(t.data_dir, inst, name), columns=["_record_key"]
    ).column(0).to_pylist()
    assert keys == sorted(keys)
    got = {r.k: r.ver for r in t.snapshot().collect()}
    assert got["k01"] == 3.0 and got["k02"] == 1.0 and got["k03"] == 5.0
    assert got["k04"] != got["k04"] and len(got) == 14


def test_delete_and_delete_of_absent_key(spark, tmp_path):
    """A tombstone delete of present keys and of a key no file holds:
    the tombstones carry ``_deleted`` true and the stamps of their
    keys, and the manifest flags the file."""

    def op(t):
        keys = spark.createDataFrame(
            [("k00",), ("k05",), ("k99",)], "k string"
        )
        return t.write(keys, op="delete", instant="002")

    t, inst, state = _assert_same(
        _twin(spark, tmp_path, "del", _base(spark), op)
    )
    assert state["tombstones"] and state["added"]["rows"] == 3
    written = t._read_files(
        [f["path"] for f in t.tl.manifest(inst)["added"]],
        t._stored_schema(inst),
    ).collect()
    assert {r._record_key for r in written} == {"k00", "k05", "k99"}
    assert all(r._deleted and r._commit_time == "002" for r in written)
    assert all(r._partition_path == "" for r in written)
    assert {r.k for r in t.snapshot().collect()} == {
        f"k{n:02d}" for n in range(12)
    } - {"k00", "k05"}


def test_merge_into(spark, tmp_path):
    """The MOR leg of ``merge_into``: updates, inserts and a delete
    append as one delta batch of data rows and tombstones."""

    def op(t):
        s = _df(spark, _rows([1, 2, 40], 5.0, 3)).withColumn(
            "act", F.when(F.col("k") == "k02", "d").otherwise("u")
        )
        return t.merge_into(
            s,
            update_set={"ver": "s.ver", "i": "s.i"},
            delete_condition="s.act = 'd'",
            instant="002",
        )

    t, _inst, state = _assert_same(
        _twin(spark, tmp_path, "merge", _base(spark), op)
    )
    assert state["tombstones"]
    got = {r.k: r.ver for r in t.snapshot().collect()}
    assert got["k01"] == 5.0 and "k02" not in got and got["k40"] == 5.0


def test_added_column_and_widening(spark, tmp_path):
    """A batch with a new column and ``i`` widened int→long: the old
    rows read the new column as null and ``i`` upcast."""

    def op(t):
        b = _df(spark, _rows([2, 50], 2.0, 2))
        b = b.withColumn("i", F.col("i").cast("long")).withColumn(
            "extra", F.concat(F.col("k"), F.lit("!"))
        )
        return t.write(b, op="upsert", instant="002")

    t, inst, _state = _assert_same(
        _twin(spark, tmp_path, "evolve", _base(spark), op)
    )
    schema = t._stored_schema(inst)
    assert schema["i"].dataType.simpleString() == "bigint"
    assert schema.fieldNames()[-1] == "extra"


def test_decimal_and_timestamp_columns(spark, tmp_path):
    """Decimal and timestamp columns, as ``stats_columns``, before the
    Gregorian switch and 1900: the kernel writes INT64 micros and
    decimals as Arrow does, Spark reads the values its writer stored,
    and the manifest's column stats agree (neither route records one
    for the timestamp)."""

    def op(t):
        b = _df(spark, _rows([3, 30, 31], 2.0, 3)).select(
            "k", "ver", "dt", "tm", "dec"
        )
        return t.write(b, op="upsert", instant="002")

    _t, _inst, state = _assert_same(
        _twin(spark, tmp_path, "dec", _base(spark), op)
    )
    assert state["added"]["rows"] == 3


def test_empty_batches(spark, tmp_path):
    """An empty upsert on an existing table publishes nothing on both
    routes (the driver route writes nothing); a checkpointed one
    commits, and so does an empty delete."""
    empty = lambda: _df(spark, []).limit(0)  # noqa: E731

    pair = _twin(spark, tmp_path, "none", _base(spark),
                 lambda t: t.write(empty(), op="upsert", instant="002"))
    _assert_same(pair)
    for t, inst, _jobs in pair:
        assert inst is None and t.timeline() == ["001"]
        assert not os.path.exists(os.path.join(t.data_dir, "002"))

    cp = {"source_id": "s", "batch_id": 1}
    _t, inst, _state = _assert_same(_twin(
        spark, tmp_path, "cp", _base(spark),
        lambda t: t.write(empty(), op="upsert", instant="002",
                          checkpoint=cp),
    ))
    assert inst == "002"

    _t, inst, _state = _assert_same(_twin(
        spark, tmp_path, "edel", _base(spark),
        lambda t: t.write(empty().select("k"), op="delete", instant="002"),
    ))
    assert inst == "002"


def test_compaction_of_kernel_deltas(spark, tmp_path):
    """Deltas the kernel wrote (upserts with null and NaN precombines,
    a tombstone, a re-insert after it) fold to the same base file on
    both compaction routes, the kernel fold and the Spark fold."""

    def history(t):
        t.write(_df(spark, _rows(range(8), 1.0, 1)), op="upsert",
                instant="001")
        t.write(_df(spark, _rows([1, 2], 2.0, 2) + _rows([3], None, 2)
                    + _rows([4], float("nan"), 2)),
                op="upsert", instant="002")
        t.write(spark.createDataFrame([("k05",), ("k06",)], "k string"),
                op="delete", instant="003")
        t.write(_df(spark, _rows([6], 0.5, 3)), op="upsert", instant="004")
        assert not any(_spark_wrote(t, i) for i in t.timeline())

    pair = _twin(spark, tmp_path, "fold", history,
                 lambda t: t.compact(instant="005"))
    (tk, ik, jk), (ts, is_, js) = pair
    assert ik == is_ == "005"
    assert jk == 0 and js > 0
    assert _rows_of(tk.snapshot()) == _rows_of(ts.snapshot())
    assert {r.k for r in tk.snapshot().collect()} == {
        f"k{n:02d}" for n in range(8) if n != 5
    }


def test_nan_stats_column_writes_the_collected_rows(
    spark, tmp_path, monkeypatch
):
    """A NaN in a float ``stats_columns`` column declines the kernel
    after the collect: the Spark writer writes the collected rows, not
    a second read of the source. The source file changes under the
    write between the collect and the Spark write: a second read would
    append a key the collect never saw."""
    src = tmp_path / "src.json"
    src.write_text('{"k": "k01", "ver": 2.0}\n')
    t = _table(spark, tmp_path, "t", "nd")
    _base(spark)(t)
    batch = (
        spark.read.schema("k string, ver double").json(str(src))
        .join(_df(spark, _rows([1, 5], 1.0, 1)).drop("ver"), "k")
        .withColumn("f", F.lit(float("nan")).cast("float"))
        .select(*_df(spark, []).columns)
    )
    append = fold.append

    def changed_source(*args):
        src.write_text('{"k": "k05", "ver": 2.0}\n')  # same length
        return append(*args)

    monkeypatch.setattr(fold, "append", changed_source)
    inst = t.write(batch, op="upsert", instant="002")
    assert _spark_wrote(t, inst)
    got = sorted((r.k, r.ver) for r in t.snapshot().collect())
    assert len(got) == 12 and ("k01", 2.0) in got and ("k05", 1.0) in got


def test_nan_stats_column_declines(spark, tmp_path):
    """The same NaN on both routes: both are Spark writes, with equal
    results."""

    def op(t):
        b = _df(spark, _rows([3], 2.0, 2)).withColumn(
            "f", F.lit(float("nan")).cast("float")
        )
        return t.write(b, op="upsert", instant="002")

    _assert_same(_twin(spark, tmp_path, "nan", _base(spark), op),
                 driver_route=False)


def test_point_appends_take_one_job(spark, tmp_path):
    """A point-sized MOR upsert and a tombstone delete each take one
    Spark job on both routes: the collect on the driver route, the
    delta write on the Spark route. The collect leaves the session's
    Arrow codec as it found it."""

    def op(t):
        up, _ = count_jobs(spark, lambda: t.write(
            _df(spark, _rows([1, 30], 2.0, 2)), op="upsert", instant="002"))
        dl, _ = count_jobs(spark, lambda: t.write(
            spark.createDataFrame([("k02",)], "k string"), op="delete",
            instant="003"))
        return up, dl

    codec = "spark.sql.execution.arrow.compression.codec"
    before = spark.conf.get(codec, None)
    pair = _twin(spark, tmp_path, "jobs", _base(spark), op)
    for t, jobs, _total in pair:
        assert jobs == (1, 1), (t.path, jobs)
    # the collect compresses its Arrow batches for itself alone
    assert spark.conf.get(codec, None) == before
    assert _rows_of(pair[0][0].snapshot()) == _rows_of(pair[1][0].snapshot())


def test_clearly_huge_batch_is_not_collected(spark, tmp_path, monkeypatch):
    """A batch whose plan the shared rule calls clearly huge (a known
    estimate above eight times the driver byte budget, with no node
    that could shrink it: ``spark.range`` keys are never null, so the
    key filter folds away) is not collected: no ``toArrow`` call, and
    the Spark write lands it."""
    t = _table(spark, tmp_path, "t", "huge")
    _base(spark)(t)
    t.driver_probe_max_bytes = 1 << 10
    batch = spark.range(1000).select(
        F.format_string("k%04d", "id").alias("k"),
        F.col("id").cast("double").alias("ver"),
    )
    plan = batch._jdf.queryExecution().optimizedPlan()
    assert int(str(plan.stats().sizeInBytes())) > 8 * t.driver_probe_max_bytes
    calls = []
    to_arrow = type(batch).toArrow
    monkeypatch.setattr(
        type(batch), "toArrow",
        lambda self: calls.append(self) or to_arrow(self),
    )
    inst = t.write(batch, op="upsert", instant="002")
    assert not calls and _spark_wrote(t, inst)
    assert t.snapshot().count() == 1012
