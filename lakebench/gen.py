"""Seeded input generation for the lakehouse benchmark.

Everything here is a pure function of the seed (NumPy only, no Spark), so
the same seed gives identical seed tables, batches, slices, read mixes and
corpora, and the benchmark's unit tests can check that without a JVM.

Op kinds follow a fixed cyclic pattern per workload; the seed draws the
keys, sizes and values inside each op. A run that stops after any number
of ops has therefore run the same mix of kinds on every seed, which keeps
the per-run medians comparable across seeds.
"""

from __future__ import annotations

import numpy as np

ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
RETURN_FLAGS = np.array(["A", "N", "R"])
_DAY0 = np.datetime64("1992-01-01")

# ingest: 1 op in 10 is a delete; point and bulk upserts alternate
INGEST_PATTERN = ("point", "bulk") * 4 + ("point", "delete")
POINT_KEYS = (10, 100)  # under the 1,024-key driver-probe gate
BULK_KEYS = (2_000, 5_000)  # over it

# reads: point lookups are the most frequent kind
READ_PATTERN = (
    "point", "secondary", "point", "range", "point", "incremental",
    "point", "as_of", "secondary", "read_optimized", "mor_agg",
)

# every operator family (dedup, sim, text, graph). An odd count puts a
# run's median op inside the two cheap middle entries (sim, text) rather
# than between a cheap and a costly one; dedup_exact is the cheap fifth
LLM_ENTRIES = (
    "dedup_minhash_lsh", "dedup_exact", "sim_cosine_topk",
    "text_tfidf_topk", "graph_pagerank",
)

_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "filter group order stream vector index lake commit delta file read "
    "write base log plan cache shard bloom range point tick slice".split()
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a draw to
    one input never shifts another input of the same seed."""
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


def orders_rows(rng: np.random.Generator, keys: np.ndarray) -> dict:
    """Orders-shaped columns for ``keys`` (prices at 2 dp, dates as ISO
    strings so JSON, Spark and DuckDB agree on every value)."""
    n = len(keys)
    days = rng.integers(0, 2_500, n)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 1_500, n).astype(np.int64),
        "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": (_DAY0 + days).astype(str),
        "o_orderpriority": ORDER_PRIORITY[rng.integers(0, 5, n)],
    }


def _recent_sample(rng, keys, last_seq, n):
    """``n`` distinct keys, weighted to the most recently written."""
    order = np.argsort(-last_seq, kind="stable")
    rank = np.empty(len(keys))
    rank[order] = np.arange(len(keys))
    w = np.exp(-rank / max(len(keys) / 6.0, 1.0))
    return rng.choice(keys, size=n, replace=False, p=w / w.sum())


def ingest_plan(seed: int, n_seed: int, n_ops: int) -> dict:
    """Seed table plus ``n_ops`` keyed micro-batches.

    Upserts mix updates of live keys (skewed to recently written ones)
    with new keys; deletes take live keys, which are never written again.
    Op ``i`` carries precombine ``ts = i + 1`` (seed rows carry 0)."""
    rng = rng_for(seed, "ingest")
    seed_keys = np.arange(n_seed, dtype=np.int64)
    seed_rows = orders_rows(rng, seed_keys)
    live = seed_keys.copy()
    last_seq = np.zeros(n_seed)
    next_key = n_seed
    ops = []
    for i in range(n_ops):
        kind = INGEST_PATTERN[i % len(INGEST_PATTERN)]
        lo, hi = BULK_KEYS if kind == "bulk" else POINT_KEYS
        n = int(rng.integers(lo, hi + 1))
        if kind == "delete":
            keys = rng.choice(live, size=n, replace=False)
            keep = ~np.isin(live, keys)
            live, last_seq = live[keep], last_seq[keep]
            ops.append({"kind": kind, "keys": np.sort(keys), "ts": i + 1})
            continue
        n_upd = int(round(n * rng.uniform(0.5, 0.9)))
        upd = _recent_sample(rng, live, last_seq, n_upd)
        new = np.arange(next_key, next_key + n - n_upd, dtype=np.int64)
        next_key += len(new)
        keys = np.concatenate([upd, new])
        rng.shuffle(keys)
        live = np.concatenate([live, new])
        last_seq = np.concatenate([last_seq, np.zeros(len(new))])
        last_seq[np.isin(live, keys)] = i + 1
        ops.append({"kind": kind, "rows": orders_rows(rng, keys), "ts": i + 1})
    return {"seed_rows": seed_rows, "ops": ops}


def part_rows(rng: np.random.Generator, n_parts: int) -> dict:
    return {
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_brand": np.char.add(
            "Brand#", rng.integers(1, 26, n_parts).astype(str)
        ),
    }


def medallion_plan(
    seed: int, n_ticks: int, first_rows: int, tick_rows: tuple[int, int],
    reemit_share: float = 0.2, n_parts: int = 2_000,
) -> dict:
    """A ``part`` dimension and ``n_ticks`` lineitem slices.

    Later slices re-emit a share of earlier keys with a changed
    ``l_quantity``; about 1 in 11 ``l_partkey`` values has no part row,
    so DWD enrichment exercises its ``N/A`` default. Slice ``t`` carries
    precombine ``created_ts = t + 1``."""
    rng = rng_for(seed, "medallion")
    part = part_rows(rng, n_parts)
    next_order = 1
    emitted = []  # (orderkey, linenumber, partkey, flag, shipdate, price)
    slices = []
    for t in range(n_ticks):
        n_new = first_rows if t == 0 else int(rng.integers(*tick_rows))
        ok, ln = [], []
        while len(ok) < n_new:
            lines = int(rng.integers(1, 8))
            ok.extend([next_order] * lines)
            ln.extend(range(1, lines + 1))
            next_order += 1
        ok = np.array(ok[:n_new], dtype=np.int64)
        ln = np.array(ln[:n_new], dtype=np.int32)
        partkey = rng.integers(0, n_parts * 11 // 10, n_new).astype(np.int64)
        flag = RETURN_FLAGS[rng.integers(0, 3, n_new)]
        ship = (_DAY0 + rng.integers(0, 2_500, n_new)).astype(str)
        price = np.round(rng.uniform(900.0, 100_000.0, n_new), 2)
        cols = [ok, ln, partkey, flag, ship, price]
        if t > 0:
            n_re = int(round(n_new * reemit_share))
            pool = np.arange(len(emitted[0]))
            pick = rng.choice(pool, size=min(n_re, len(pool)), replace=False)
            cols = [np.concatenate([c, e[pick]]) for c, e in zip(cols, emitted)]
            emitted = [np.concatenate([e, c[:n_new]]) for e, c in zip(emitted, cols)]
        else:
            emitted = [c.copy() for c in cols]
        n = len(cols[0])
        slices.append({
            "l_orderkey": cols[0], "l_linenumber": cols[1],
            "l_partkey": cols[2],
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": cols[5], "l_returnflag": cols[3],
            "l_shipdate": cols[4],
            "created_ts": np.full(n, t + 1, dtype=np.int64),
        })
    return {"part": part, "slices": slices}


def reads_plan(
    seed: int, n_seed: int, n_cow_commits: int, n_mor_commits: int,
    n_reads: int, batch_rows: tuple[int, int] = (200, 600),
) -> dict:
    """Seed orders, COW upsert batches (updates + new keys), MOR delta
    batches (updates of seed keys only, so the read-optimized view is the
    seed), and the seeded read mix.

    Read params name commits by index (0 = the seed insert); the runner
    maps indices to the instants the writes returned."""
    rng = rng_for(seed, "reads")
    seed_rows = orders_rows(rng, np.arange(n_seed, dtype=np.int64))
    cow, mor = [], []
    next_key = n_seed
    for _ in range(n_cow_commits):
        n = int(rng.integers(*batch_rows))
        n_new = n // 4
        upd = rng.choice(next_key, size=n - n_new, replace=False)
        keys = np.concatenate([upd, np.arange(next_key, next_key + n_new)])
        next_key += n_new
        cow.append(orders_rows(rng, keys.astype(np.int64)))
    for _ in range(n_mor_commits):
        n = int(rng.integers(*batch_rows))
        keys = rng.choice(n_seed, size=n, replace=False).astype(np.int64)
        mor.append(orders_rows(rng, keys))
    reads = []
    for i in range(n_reads):
        kind = READ_PATTERN[i % len(READ_PATTERN)]
        spec = {"kind": kind}
        if kind == "point":
            spec["key"] = int(rng.integers(0, next_key))
        elif kind == "secondary":
            spec["custkey"] = int(rng.integers(0, 1_500))
        elif kind == "range":
            lo = int(rng.integers(0, next_key - 800))
            spec["lo"], spec["hi"] = lo, lo + int(rng.integers(100, 800))
        elif kind == "incremental":
            b = int(rng.integers(0, n_mor_commits))
            spec["begin"] = b
            spec["end"] = int(rng.integers(b + 1, n_mor_commits + 1))
        elif kind == "as_of":
            spec["commit"] = int(rng.integers(0, n_cow_commits + 1))
        reads.append(spec)
    return {"seed_rows": seed_rows, "cow": cow, "mor": mor, "reads": reads}


def documents(rng: np.random.Generator, n_docs: int) -> dict:
    """Word-salad documents with exact and near duplicates mixed in, so
    the dedup and similarity entries have non-trivial answers."""
    langs = np.array(["en", "de", "fr", "es", "zh"])
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(20, 80)))))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": langs[rng.choice(5, n_docs, p=[0.5, 0.15, 0.15, 0.1, 0.1])],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng: np.random.Generator, n_vecs: int, dim: int) -> dict:
    """Ten Gaussian clusters; ``label`` is the cluster id."""
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n_vecs)
    vec = centers[label] + rng.normal(0.0, 0.35, (n_vecs, dim))
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": vec.astype(np.float32),
        "label": label.astype(np.int32),
    }


def events(rng: np.random.Generator, n_events: int, n_users: int) -> dict:
    """Event stream for the user-handoff graph of ``graph_pagerank``."""
    gaps = rng.integers(1, 300_000_000, n_events)  # microseconds
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts_us": np.datetime64("2024-01-01", "us").astype(np.int64)
        + np.cumsum(gaps),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(["click", "view", "error", "buy"])[
            rng.integers(0, 4, n_events)
        ],
        "value": np.round(rng.uniform(0.0, 20.0, n_events), 2),
        "props": np.char.add(
            '{"k": ', np.char.add(rng.integers(0, 100, n_events).astype(str), "}")
        ),
    }


def llm_plan(seed: int, n_docs: int, n_vecs: int, dim: int, n_events: int,
             n_ops: int) -> dict:
    """Corpus tables plus the entry order: each cycle runs every entry
    once, in a seeded order."""
    rng = rng_for(seed, "llm_ops")
    order = []
    while len(order) < n_ops:
        order.extend(rng.permutation(LLM_ENTRIES).tolist())
    return {
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs, dim),
        "events": events(rng, n_events, max(n_events // 60, 10)),
        "order": order[:n_ops],
    }
