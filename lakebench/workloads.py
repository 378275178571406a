"""The benchmark's workloads. Each one builds its inputs from the seed in
``setup`` (untimed, reported as part of ``setup_s``), runs one op per
``op(i)`` call in the timed closed loop, and checks the outputs against
DuckDB in ``check`` (untimed)."""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from emr_hudi_example_spark import all_queries
from emr_hudi_example_spark.lake import LakeTable
from emr_hudi_example_spark.pipelines import (
    dm_increment,
    dm_init,
    dwd_increment,
    stream2ods_batch,
)
from lakebench import gen
from tests.harness import rows_canon

ORDER_COLS = list(gen.orders_rows(np.random.default_rng(0), np.arange(1)))


def frame(spark, cols: dict, **consts):
    pdf = pd.DataFrame(cols)
    for k, v in consts.items():
        pdf[k] = v
    return spark.createDataFrame(pdf)


def spark_rows(df) -> list[tuple]:
    return list(df.toPandas().itertuples(index=False, name=None))


def same(scols, srows, ocols, orows) -> bool:
    return sorted(scols) == sorted(ocols) and rows_canon(scols, srows) == rows_canon(
        ocols, orows
    )


class Workload:
    """Shared plumbing: ``ctx`` carries the session, tracer, seed, run
    length and this run's work directory."""

    name = ""
    ROUND = 1  # ops per round; a run holds whole rounds
    ROUND_S = 10.0  # nominal seconds per round on a 4-core host

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.base = os.path.join(ctx.work, "tables")
        self.results: list = []  # per timed op, for check()

    def prepare(self, i: int) -> None:
        """Build op ``i``'s input, outside the op's timing."""

    def table_dirs(self) -> list[str]:
        return [self.base]


class Ingest(Workload):
    """Keyed micro-batches into a COW table with record index + bloom."""

    name = "ingest"
    ROUND = len(gen.INGEST_PATTERN)
    ROUND_S = 30.0
    N_SEED = 20_000
    WARMUP = 2

    def setup(self) -> None:
        self.plan = gen.ingest_plan(self.ctx.seed, self.N_SEED,
                                    self.WARMUP + self.ctx.n_ops)
        self.table = LakeTable(
            self.spark, self.base, "bench", "orders", ["o_orderkey"],
            "created_ts", record_index=True, bloom_index=True,
        )
        self.table.write(
            frame(self.spark, self.plan["seed_rows"], created_ts=0),
            op="bulk_insert", sort_mode="GLOBAL_SORT", sort_files=8,
        )
        self.applied = 0
        for i in range(-self.WARMUP, 0):
            self.prepare(i)
            self.op(i)

    def prepare(self, i: int) -> None:
        op = self.plan["ops"][i + self.WARMUP]
        if op["kind"] == "delete":
            self.input = frame(self.spark, {"o_orderkey": op["keys"]})
        else:
            recs = pd.DataFrame(op["rows"]).to_dict("records")
            self.input = frame(self.spark, {"value": [json.dumps(r) for r in recs]})

    def op(self, i: int) -> int:
        j = i + self.WARMUP
        op = self.plan["ops"][j]
        if op["kind"] == "delete":
            self.table.write(self.input, op="delete")
            n = len(op["keys"])
        else:
            self.tr.call(
                "pipelines.stream2ods_batch", stream2ods_batch, self.input,
                self.table, created_ts_millis=op["ts"], batch_id=op["ts"],
            )
            n = len(op["rows"]["o_orderkey"])
        self.applied = j + 1
        return n

    def check(self) -> bool:
        """End state = latest precombine wins, minus deletes."""
        ops = self.plan["ops"][: self.applied]
        ups = [pd.DataFrame(self.plan["seed_rows"]).assign(ts=0)] + [
            pd.DataFrame(o["rows"]).assign(ts=o["ts"]) for o in ops if "rows" in o
        ]
        dels = [o["keys"] for o in ops if o["kind"] == "delete"]
        con = duckdb.connect()
        con.register("ups", pd.concat(ups, ignore_index=True))
        con.register("dels", pd.DataFrame(
            {"k": np.concatenate(dels) if dels else np.array([], np.int64)}
        ))
        cols = ", ".join(ORDER_COLS)
        res = con.execute(f"""
            SELECT {cols} FROM ups
            WHERE o_orderkey NOT IN (SELECT k FROM dels)
            QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY ts DESC) = 1""")
        orows = res.fetchall()
        con.close()
        srows = spark_rows(self.table.logical().select(*ORDER_COLS))
        return same(ORDER_COLS, srows, ORDER_COLS, orows)


class Medallion(Workload):
    """ODS (MOR) → DWD (MOR, enriched with part) → DM (COW mart) ticks,
    with ODS and DWD compacted every ``COMPACT_EVERY`` ticks."""

    name = "medallion"
    COMPACT_EVERY = 6
    ROUND = COMPACT_EVERY
    ROUND_S = 24.0
    GROUP = ["p_brand", "l_returnflag"]
    DWD_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                "l_returnflag", "p_brand"]

    def setup(self) -> None:
        n_ticks = 2 + self.ctx.n_ops
        self.plan = gen.medallion_plan(
            self.ctx.seed, n_ticks, first_rows=6_000, tick_rows=(1_900, 2_100)
        )
        self.part = frame(self.spark, self.plan["part"])
        mk = lambda name, keys, kind: LakeTable(  # noqa: E731
            self.spark, self.base, "bench", name, keys, "created_ts",
            table_type=kind,
        )
        self.ods = mk("ods", ["l_orderkey", "l_linenumber"], "MERGE_ON_READ")
        self.dwd = mk("dwd", ["l_orderkey", "l_linenumber", "p_brand"],
                      "MERGE_ON_READ")
        self.dm = mk("dm", self.GROUP, "COPY_ON_WRITE")
        self.prepare(-2)
        self.ods.write(self.input, op="upsert")
        self.cursor = dwd_increment(self.ods, self.part, self.dwd, None,
                                    created_ts_millis=1)
        dm_init(self.dwd, self.dm, self.GROUP, "l_quantity", "qty_sum",
                created_ts_millis=1)
        self.dm_cursor = self.dwd.last_instant()
        self.applied = 1
        self.prepare(-1)
        self.op(-1)  # warm-up tick, with a compaction

    def prepare(self, i: int) -> None:
        self.input = frame(self.spark, self.plan["slices"][i + 2])

    def op(self, i: int) -> int:
        t = i + 2
        self.ods.write(self.input, op="upsert")
        self.cursor = self.tr.call(
            "pipelines.dwd_increment", dwd_increment, self.ods, self.part,
            self.dwd, self.cursor, created_ts_millis=t + 1,
        )
        end = self.dwd.last_instant()
        self.tr.call(
            "pipelines.dm_increment", dm_increment, self.dwd, self.dm,
            self.dm_cursor, end, self.GROUP, "l_quantity", "qty_sum",
            created_ts_millis=t + 1,
        )
        self.dm_cursor = end
        if t % self.COMPACT_EVERY == 1:
            self.ods.compact()
            self.dwd.compact()
        self.applied = t + 1
        return len(self.plan["slices"][t]["l_orderkey"])

    def check(self) -> bool:
        """DWD = latest slice row per key, enriched; DM = delta-merge sum
        over every applied slice row (re-emits add again), at 2 dp."""
        con = duckdb.connect()
        con.register("part", pd.DataFrame(self.plan["part"]))
        con.register("sl", pd.concat(
            [pd.DataFrame(s) for s in self.plan["slices"][: self.applied]],
            ignore_index=True,
        ))
        enriched = """SELECT s.*, coalesce(p.p_brand, 'N/A') AS p_brand
                      FROM sl s LEFT JOIN part p ON s.l_partkey = p.p_partkey"""
        cols = ", ".join(self.DWD_COLS)
        dwd_o = con.execute(f"""
            SELECT {cols} FROM ({enriched})
            QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                                       ORDER BY created_ts DESC) = 1""")
        dwd_ocols = [d[0] for d in dwd_o.description]
        dwd_orows = dwd_o.fetchall()
        dm_o = con.execute(f"""
            SELECT p_brand, l_returnflag,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(38, 4))), 2)
                        AS DOUBLE) AS qty_sum
            FROM ({enriched}) GROUP BY 1, 2""")
        dm_ocols = [d[0] for d in dm_o.description]
        dm_orows = dm_o.fetchall()
        con.close()
        dwd_s = self.dwd.logical().select(*self.DWD_COLS)
        dm_s = self.dm.logical().select(
            *self.GROUP, F.round("qty_sum", 2).cast("double").alias("qty_sum")
        )
        return same(dwd_s.columns, spark_rows(dwd_s), dwd_ocols, dwd_orows) and same(
            dm_s.columns, spark_rows(dm_s), dm_ocols, dm_orows
        )

    def table_dirs(self) -> list[str]:
        return [self.ods.path, self.dwd.path, self.dm.path]


class Reads(Workload):
    """Read mix over a COW table (record index, stats, column bloom,
    secondary index) and a MOR twin with uncompacted delta commits. The
    timed phase performs no writes."""

    name = "reads"
    ROUND = len(gen.READ_PATTERN)
    ROUND_S = 5.0
    N_SEED = 20_000
    COW_COMMITS = 3
    MOR_COMMITS = 12
    SUM = "CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR)"

    def setup(self) -> None:
        warm = len(gen.READ_PATTERN)
        n_reads = warm + self.ctx.n_ops
        self.plan = gen.reads_plan(self.ctx.seed, self.N_SEED, self.COW_COMMITS,
                                   self.MOR_COMMITS, n_reads)
        self.cow = LakeTable(
            self.spark, self.base, "bench", "orders_cow", ["o_orderkey"],
            "created_ts", record_index=True,
            stats_columns=["o_orderkey", "o_totalprice"],
            bloom_columns=["o_custkey"], secondary_index_columns=["o_custkey"],
        )
        self.mor = LakeTable(
            self.spark, self.base, "bench", "orders_mor", ["o_orderkey"],
            "created_ts", table_type="MERGE_ON_READ",
        )
        self.cow_inst, self.mor_inst = [], []
        for table, insts, batches in ((self.cow, self.cow_inst, self.plan["cow"]),
                                      (self.mor, self.mor_inst, self.plan["mor"])):
            insts.append(table.write(
                frame(self.spark, self.plan["seed_rows"], created_ts=0),
                op="bulk_insert", sort_mode="GLOBAL_SORT", sort_files=8,
            ))
            for c, rows in enumerate(batches, start=1):
                insts.append(table.write(frame(self.spark, rows, created_ts=c),
                                         op="upsert"))
        self.expected = self._expected()
        for i in range(warm):
            self.op(i - warm)
        self.results = []
        self.warm = warm

    def _expected(self) -> list:
        """Expected result of every read in the plan, from DuckDB over the
        written batches."""
        con = duckdb.connect()
        batches = lambda key: pd.concat(  # noqa: E731
            [pd.DataFrame(self.plan["seed_rows"]).assign(c=0)]
            + [pd.DataFrame(b).assign(c=i + 1) for i, b in enumerate(self.plan[key])],
            ignore_index=True,
        )
        con.register("cow_b", batches("cow"))
        con.register("mor_b", batches("mor"))
        state = lambda t, c: f"""(SELECT * FROM {t} WHERE c <= {c}
            QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY c DESC) = 1)"""  # noqa: E731
        cols = ", ".join(ORDER_COLS)
        latest = state("cow_b", self.COW_COMMITS)
        out, memo = [], {}
        for spec in self.plan["reads"]:
            k = spec["kind"]
            if k == "point":
                sql = f"SELECT {cols} FROM {latest} WHERE o_orderkey = {spec['key']}"
            elif k == "secondary":
                sql = f"SELECT {cols} FROM {latest} WHERE o_custkey = {spec['custkey']}"
            elif k == "range":
                sql = (f"SELECT count(*) FROM {latest} WHERE o_orderkey "
                       f"BETWEEN {spec['lo']} AND {spec['hi']}")
            elif k == "incremental":
                sql = (f"SELECT count(DISTINCT o_orderkey) FROM mor_b WHERE "
                       f"c > {spec['begin']} AND c <= {spec['end']}")
            elif k == "as_of":
                sql = (f"SELECT count(*), {self.SUM} FROM "
                       f"{state('cow_b', spec['commit'])}")
            elif k == "read_optimized":
                sql = f"SELECT count(*), {self.SUM} FROM mor_b WHERE c = 0"
            else:  # mor_agg
                sql = (f"SELECT count(*), {self.SUM} FROM "
                       f"{state('mor_b', self.MOR_COMMITS)}")
            if sql not in memo:
                memo[sql] = con.execute(sql).fetchall()
            out.append(memo[sql])
        con.close()
        return out

    def op(self, i: int) -> int:
        spec = self.plan["reads"][i + len(gen.READ_PATTERN)]
        k = spec["kind"]
        agg = [F.count(F.lit(1)),
               F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("string")]
        if k == "point":
            df = self.cow.snapshot(predicate=[("o_orderkey", "=", spec["key"])])
        elif k == "secondary":
            df = self.cow.snapshot(predicate=[("o_custkey", "=", spec["custkey"])])
        elif k == "range":
            df = self.cow.snapshot(
                predicate=[("o_orderkey", "between", (spec["lo"], spec["hi"]))]
            )
        elif k == "incremental":
            df = self.mor.incremental(self.mor_inst[spec["begin"]],
                                      self.mor_inst[spec["end"]])
        elif k == "as_of":
            df = self.cow.snapshot(as_of=self.cow_inst[spec["commit"]])
        elif k == "read_optimized":
            df = self.mor.read_optimized()
        else:
            df = self.mor.snapshot()
        with self.tr.span("exec"):
            if k in ("point", "secondary"):
                res = [tuple(r) for r in df.select(*ORDER_COLS).collect()]
            elif k in ("range", "incremental"):
                res = [(df.count(),)]
            else:
                res = [tuple(r) for r in df.agg(*agg).collect()]
        self.results.append(res)
        return len(res) if k in ("point", "secondary") else res[0][0]

    def check(self) -> bool:
        exp = self.expected[self.warm:]
        bad = 0
        for res, want in zip(self.results, exp):
            if rows_canon(list(range(len(want[0]))) if want else [], want) != \
                    rows_canon(list(range(len(res[0]))) if res else [], res):
                bad += 1
        self.failed_ops = bad
        return bad == 0


class LlmOps(Workload):
    """Catalog entries of the dedup, similarity, text and graph families
    on a seeded corpus; bypasses the lake entirely. A round runs every
    entry once, in a seeded order."""

    name = "llm_ops"
    ROUND = len(gen.LLM_ENTRIES)
    ROUND_S = 10.0
    N_DOCS, N_VECS, DIM, N_EVENTS = 500, 500, 32, 10_000

    def setup(self) -> None:
        self.plan = gen.llm_plan(self.ctx.seed, self.N_DOCS, self.N_VECS,
                                 self.DIM, self.N_EVENTS, self.ctx.n_ops)
        self.dir = os.path.join(self.ctx.work, "corpus")
        os.makedirs(self.dir, exist_ok=True)
        emb, ev = self.plan["embeddings"], dict(self.plan["events"])
        ev["ts"] = pa.array(ev.pop("ts_us"), type=pa.timestamp("us"))
        self.tables = {
            "documents": pa.table(self.plan["documents"]),
            "embeddings": pa.table({
                "vec_id": emb["vec_id"],
                "embedding": pa.array(list(emb["embedding"]),
                                      type=pa.list_(pa.float32())),
                "label": emb["label"],
            }),
            "events": pa.table(ev),
        }
        for name, t in self.tables.items():
            pq.write_table(t, os.path.join(self.dir, f"{name}.parquet"))
        # warm-up: every entry once; its rows are value-checked in check()
        self.warm = {}
        for name in gen.LLM_ENTRIES:
            df = all_queries.Q[name](self.spark, self.dir)
            self.warm[name] = (df.columns, [tuple(r) for r in df.collect()])
        self.counts: list[tuple[str, int]] = []

    def op(self, i: int) -> int:
        name = self.plan["order"][i]
        df = self.tr.call(f"operators.{name.split('_')[0]}", all_queries.Q[name],
                          self.spark, self.dir)
        with self.tr.span("exec"):
            n = df.count()
        self.counts.append((name, n))
        return n

    def check(self) -> bool:
        """Every entry's rows (from the warm-up) against its oracle SQL,
        and every timed op's row count."""
        con = duckdb.connect()
        for name, t in self.tables.items():
            con.register(name, t)
        oracle = {}
        for name in gen.LLM_ENTRIES:
            res = con.execute(all_queries.ORACLE[name])
            oracle[name] = ([d[0] for d in res.description], res.fetchall())
        con.close()
        bad_entries = {
            name for name, (cols, rows) in self.warm.items()
            if not same(cols, rows, *oracle[name])
        }
        self.failed_ops = sum(
            name in bad_entries or n != len(oracle[name][1])
            for name, n in self.counts
        )
        return not bad_entries and self.failed_ops == 0

    def table_dirs(self) -> list[str]:
        return [self.dir]


WORKLOADS = {w.name: w for w in (Ingest, Medallion, Reads, LlmOps)}
