"""Extension-operator tests beyond the oracle gate: IVF recall vs the
exact baseline, SimHash banding guarantees, multimodal stub contract."""

from __future__ import annotations

import hashlib
import zlib

import pytest
from pyspark.sql import functions as F

from emr_hudi_example_spark.operators import multimodal as MM
from emr_hudi_example_spark.operators import similarity as S
from emr_hudi_example_spark.operators.dedup import simhash_near_pairs

SF = "/root/testdata/sf0.01"


def _pagerank_routes(monkeypatch):
    """Run the loop body once per ``pagerank`` route: the in-driver
    kernel, then the Spark route, forced by an edge gate no row count
    meets (-1; an empty edge list meets 0) and a kernel that fails the
    test if it is called."""
    from emr_hudi_example_spark.operators import graph as G

    def kernel_must_not_run(*args, **kwargs):
        raise AssertionError("the kernel ran on the forced Spark route")

    yield "kernel"
    with monkeypatch.context() as m:
        m.setattr(G, "LOCAL_MAX_EDGES", -1)
        m.setattr(G, "_local_pagerank", kernel_must_not_run)
        yield "spark"


def test_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    centroids = emb.filter(F.col("vec_id") % 37 == 0)
    exact = S.cosine_topk(emb, queries, k=5)
    approx = S.ivf_cosine_topk(emb, queries, centroids, k=5, nprobe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # random 64-d embeddings are a worst case for IVF; still expect
    # a solid fraction of true neighbors from 3/14 cells probed
    assert recall >= 0.3, f"recall {recall:.2f}"
    # every query answered with a full k list
    assert approx.groupBy("query_id").count().agg(
        F.min("count")
    ).collect()[0][0] == 5


def test_simhash_banding_finds_identical_docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    # duplicate a doc under a new id — hamming 0 must be found
    dup = docs.filter(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(100000).cast("long")
    )
    pairs = simhash_near_pairs(docs.unionByName(dup), max_hamming=3)
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()}
    assert (0, 100000, 0) in got


def test_multimodal_stub_contract(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    mm = MM.attach_binary_content(docs)
    assert dict(mm.dtypes)["content"] == "binary"
    feats = MM.decode_features(mm).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in feats:
        raw = texts[r["doc_id"]].encode("utf-8")
        assert r["n_bytes"] == len(raw)
        assert r["sha256"] == hashlib.sha256(raw).hexdigest()
        assert r["crc32"] == (zlib.crc32(raw) & 0xFFFFFFFF)
        assert abs(r["fake_mean_luma"] - sum(raw) / len(raw) / 255.0) < 1e-12
    # a non-PPM blob must be rejected by the REAL codec, loudly
    with pytest.raises(ValueError, match="P6"):
        MM.decode_ppm(b"\x89PNG")


def test_ppm_codec_roundtrip_and_kernel_parity():
    """encode → decode round-trips exactly, the header grammar (comment
    lines, multi-digit dims) is honored, and the mapInPandas kernel's
    inlined parser agrees with the module-level decode_ppm."""
    import numpy as np
    import pandas as pd

    w, h = 13, 7
    px = np.arange(3 * w * h, dtype=np.uint8).tobytes()
    blob = MM.encode_ppm(w, h, px)
    assert b"#" in blob.split(b"255")[0]  # comment line present
    gw, gh, gpx = MM.decode_ppm(blob)
    assert (gw, gh, gpx) == (w, h, px)
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_ppm(blob[:-1])
    # kernel parity on a builder-generated image
    build = MM.make_ppm_corpus_batch()
    decode = MM.make_ppm_decode_batch()
    src = pd.DataFrame({"doc_id": [7, 12]})
    corpus = pd.concat(build([src]))
    out = pd.concat(decode([corpus])).set_index("doc_id")
    for doc_id in (7, 12):
        dw, dh, dpx = MM.decode_ppm(bytes(corpus.set_index("doc_id").loc[doc_id, "content"]))
        arr = np.frombuffer(dpx, dtype=np.uint8).reshape(dh, dw, 3)
        row = out.loc[doc_id]
        assert (row["width"], row["height"]) == (dw, dh)
        assert [row["sum_r"], row["sum_g"], row["sum_b"]] == [
            int(arr[:, :, c].astype(np.int64).sum()) for c in range(3)
        ]


def test_embedding_near_dup_symmetric_bound(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = S.embedding_near_dup_pairs(emb, threshold=0.8)
    rows = pairs.collect()
    assert all(r["id_a"] < r["id_b"] and r["cos"] >= 0.8 for r in rows)


def test_domain_quota_cap_and_determinism(spark):
    from emr_hudi_example_spark.operators.corpus import domain_quota_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q1 = domain_quota_sample(docs, k=3, domain_col="source")
    per = q1.groupBy("source").count().collect()
    assert per and all(r["count"] <= 3 for r in per)
    # deterministic: same rows on a different partitioning
    q2 = domain_quota_sample(docs.repartition(7), k=3, domain_col="source")
    assert sorted(r["doc_id"] for r in q1.collect()) == sorted(
        r["doc_id"] for r in q2.collect()
    )


def test_repetition_score_detects_repeats(spark):
    from emr_hudi_example_spark.operators.text import repetition_score

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "one two three four five"), (3, "x")],
        "id LONG, text STRING",
    )
    got = {
        r["id"]: r["rep"]
        for r in df.select("id", repetition_score("text").alias("rep")).collect()
    }
    # doc 1: shingles of 'a b c'*3 → 7 windows, 3 distinct → 4/7 repeated
    assert abs(got[1] - 4 / 7) < 1e-9
    assert got[2] == 0.0   # all distinct
    assert got[3] == 0.0   # shorter than k → no shingles


#: NULL, empty, whitespace-only, shorter than / exactly k, mixed
#: whitespace runs, repeated tokens; documents that start or end with a
#: tab, newline, carriage return or form feed (Spark's one-argument
#: ``trim`` strips spaces only: they once split into empty end tokens,
#: ``"\\ta b c d e f\\n"`` shingling to ``" a b"`` and ``"e f "``)
_SHINGLE_TEXTS = [
    None, "", "   ", "\t\n ", "a b", "a b c", "one two three four five",
    "  a\tb\n\nc   d  ", "\ta b c d e f\n", "x x x x x x",
    "a b c a b c a b c", "\r\n a b c \f", "\n\none two three\t\t",
]


def _py_tokens(text):
    """Pure-Python twin of ``tokens``: trim ``" \\t\\n\\r\\f"``, then split
    on Java's ``\\s`` class."""
    import re

    return re.split(r"[ \t\n\x0b\f\r]+", text.strip(" \t\n\r\f"))


def _py_shingles(text, k):
    """Pure-Python twin of ``shingles``."""
    if text is None:
        return []
    toks = _py_tokens(text)
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


@pytest.mark.parametrize("k", [1, 3, 5])
def test_shingles_and_repetition_match_python_reference(spark, k):
    from emr_hudi_example_spark.operators.text import (
        repetition_score,
        shingles,
        token_count,
    )

    df = spark.createDataFrame(
        list(enumerate(_SHINGLE_TEXTS)), "id INT, text STRING"
    )
    rows = df.select(
        "id",
        shingles("text", k).alias("sh"),
        repetition_score("text", k).alias("rep"),
        token_count("text").alias("n"),
    ).collect()
    assert len(rows) == len(_SHINGLE_TEXTS)
    for r in rows:
        text = _SHINGLE_TEXTS[r["id"]]
        assert r["n"] == (None if text is None else len(_py_tokens(text)))
        want = _py_shingles(text, k)
        assert r["sh"] == want, (k, text)
        rep = 1.0 - len(set(want)) / len(want) if want else 0.0
        assert r["rep"] == rep, (k, text)


def test_quantize_embeddings_edge_vectors_bit_identical(spark):
    """Zero, 1-element, all-negative and mixed-sign vectors (plus NULL
    and empty): the codes and scales the per-element formula produced
    before the scale was bound once per vector, pinned exactly. Row 5
    holds the rounding ties ±0.5 (x/scale*127 = ±0.5)."""
    from emr_hudi_example_spark.operators.similarity import (
        quantize_embeddings,
    )

    vecs = [
        (1, [0.0, 0.0, 0.0]),
        (2, [-2.5]),
        (3, [-1.0, -0.5, -0.25, -3.0]),
        (4, [0.3, -1.7, 2.9, -0.0, 1e-9, -2.9, 1.45]),
        (5, [254.0, 1.0, -1.0, 3.0, -3.0]),
        (6, None),
        (7, []),
    ]
    df = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {
        r["vec_id"]: (r["scale"], r["qvec"])
        for r in quantize_embeddings(df).collect()
    }
    assert got == {
        1: (0.0, [0, 0, 0]),
        2: (2.5, [-127]),
        3: (3.0, [-42, -21, -11, -127]),
        4: (2.9, [13, -74, 127, 0, 0, -127, 64]),
        5: (254.0, [127, 1, 0, 2, -1]),
        6: (None, None),
        7: (None, []),
    }


def test_pii_redaction_roundtrip(spark):
    from emr_hudi_example_spark.operators.text import pii_count, redact_pii

    df = spark.createDataFrame(
        [(1, "write a@b.com or call 555-123-4567 from 192.168.0.1 ok")],
        "id LONG, t STRING",
    )
    row = df.select(
        pii_count("t", "email").alias("e"),
        pii_count("t", "phone").alias("p"),
        pii_count("t", "ipv4").alias("i"),
        redact_pii("t").alias("red"),
    ).collect()[0]
    assert (row["e"], row["p"], row["i"]) == (1, 1, 1)
    assert row["red"] == "write <EMAIL> or call <PHONE> from <IPV4> ok"


def test_contamination_matches_explicit(spark):
    from emr_hudi_example_spark.operators.dedup import contamination_matches

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here nothing shared at all"),
            (3, "quick brown fox appears here too"),
        ],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox ran")], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: r["n_contaminated"]
        for r in contamination_matches(corpus, bench, k=3).collect()
    }
    # bench 3-grams: {the quick brown, quick brown fox, brown fox ran}
    assert got == {1: 2, 3: 1}


def test_join_asof_semantics(spark):
    from emr_hudi_example_spark.operators.relational import join_asof

    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "u", 5), (4, "v", 50)],
        "eid LONG, k STRING, t LONG",
    )
    right = spark.createDataFrame(
        [("u", 10, "s10"), ("u", 15, "s15"), ("w", 1, "sw")],
        "k STRING, rt LONG, state STRING",
    )
    got = {
        r["eid"]: r["state"]
        for r in join_asof(
            left, right, ["k"], "t", "rt", ["state"]
        ).collect()
    }
    assert got == {
        1: "s10",   # rt == t is inclusive
        2: "s15",   # latest of several prior states
        3: None,    # no state at-or-before t
        4: None,    # key never seen on the right
    }


def test_containment_detects_embedded_doc(spark):
    from emr_hudi_example_spark.operators.dedup import ngram_containment_pairs

    small = "alpha beta gamma delta epsilon"
    big = "zero " * 20 + small + " omega " * 20
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally different words here now")],
        "doc_id LONG, text STRING",
    )
    rows = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(df, k=3, threshold=0.5).collect()
    }
    # every 3-gram of doc1 appears in doc2 → containment(1 in 2) = 1.0;
    # the reverse direction is diluted below threshold; doc3 matches none
    assert rows == {(1, 2): 1.0}


def test_chunk_windows_boundaries(spark):
    from emr_hudi_example_spark.operators.corpus import chunk_windows

    def words(n):
        return " ".join(f"w{i}" for i in range(1, n + 1))

    df = spark.createDataFrame(
        [(1, words(5)), (2, words(8)), (3, words(9)), (4, "solo")],
        "doc_id LONG, text STRING",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_len"],
         r["chunk_text"])
        for r in chunk_windows(df, size=8, stride=4).collect()
    )
    assert rows == [
        # 5 tokens: one full-start window (short tail folds into it? no —
        # start 5 <= n, so a second 1-token tail window emits)
        (1, 0, 1, 5, words(5)),
        (1, 1, 5, 1, "w5"),
        # 8 tokens: full window + 4-token tail at start 5
        (2, 0, 1, 8, words(8)),
        (2, 1, 5, 4, "w5 w6 w7 w8"),
        # 9 tokens: starts 1, 5, 9
        (3, 0, 1, 8, "w1 w2 w3 w4 w5 w6 w7 w8"),
        (3, 1, 5, 5, "w5 w6 w7 w8 w9"),
        (3, 2, 9, 1, "w9"),
        # single token: exactly one window
        (4, 0, 1, 1, "solo"),
    ]
    # no token is dropped: every doc's last window reaches n_tokens
    assert all(start + ln - 1 <= 9 for (_, _, start, ln, _) in rows)


def test_incremental_dedup_semantics(spark):
    from emr_hudi_example_spark.operators.dedup import incremental_dedup

    existing = spark.createDataFrame(
        [(10, "known text"), (11, "other known")],
        "doc_id LONG, text STRING",
    )
    incoming = spark.createDataFrame(
        [
            (20, "Known   TEXT"),     # dup of existing (normalization)
            (21, "fresh content"),    # survives
            (22, "fresh content"),    # intra-batch dup of 21
            (23, "brand new"),        # survives
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: r["n_batch_dups"]
        for r in incremental_dedup(existing, incoming).collect()
    }
    assert got == {21: 1, 23: 0}


def test_training_order_determinism_and_coverage(spark):
    from emr_hudi_example_spark.operators.corpus import training_order

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    a = training_order(docs, n_shards=4, seed="e1").collect()
    b = training_order(docs.repartition(7), n_shards=4, seed="e1").collect()
    # identical layout regardless of input partitioning
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every row present exactly once; positions are 1..shard_size dense
    assert len(a) == 200
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed yields a different permutation
    c = training_order(docs, n_shards=4, seed="e2").collect()
    key_a = {r["doc_id"]: r["shuffle_key"] for r in a}
    key_c = {r["doc_id"]: r["shuffle_key"] for r in c}
    assert key_a != key_c


def test_unigram_quality_flags_rare_heavy_doc(spark):
    from emr_hudi_example_spark.operators.text import unigram_quality

    common = "the cat sat on the mat " * 5
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, "zxqv jkwp mfgh")],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in unigram_quality(df).collect()}
    # doc3 is all hapax tokens → rare_frac 1.0, lowest mean frequency
    assert got[3]["rare_frac"] == 1.0
    assert got[1]["rare_frac"] == 0.0
    assert got[3]["mean_tok_freq"] < got[1]["mean_tok_freq"]


def test_kmeans_refine_improves_cohesion(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cen = emb.filter(F.col("vec_id") % 37 == 0)
    out = S.kmeans_refine(emb, cen).collect()
    assert len(out) == emb.count()  # every vector assigned exactly once
    clusters = {r["cluster_init"] for r in out}
    assert clusters <= {r["vec_id"] for r in cen.collect()}
    assert all(-1.0 <= r["cos_refined"] <= 1.0 for r in out)
    # the Lloyd step must improve mean cosine-to-centroid (spherical
    # k-means objective); some vectors should actually switch clusters
    moved = sum(r["cluster_init"] != r["cluster_refined"] for r in out)
    assert moved > 0
    v = S.with_norm(emb)
    c = S.with_norm(cen).select(
        F.col("vec_id").alias("cell_id"),
        F.col("_vec").alias("cv"), F.col("_norm").alias("cn"),
    )
    a0 = S.assign_cells(emb, cen, n_assign=1)
    cos0 = (
        v.join(a0, "vec_id").join(c, "cell_id")
        .select((S._dot(F.col("_vec"), F.col("cv"))
                 / (F.col("_norm") * F.col("cn"))).alias("c"))
        .agg(F.avg("c")).first()[0]
    )
    cos1 = sum(r["cos_refined"] for r in out) / len(out)
    assert cos1 > cos0
    # deterministic under any input partitioning
    out2 = S.kmeans_refine(emb.repartition(13), cen).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_paragraph_dedup_and_strip_invariants(spark):
    """paragraph_dedup keeps exactly one occurrence per fingerprint;
    strip_duplicate_paragraphs conserves paragraph counts and is
    IDEMPOTENT (stripping a stripped corpus changes nothing)."""
    from emr_hudi_example_spark.operators.dedup import (
        paragraph_dedup,
        strip_duplicate_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\ncommon footer\n\ngamma"),
            (2, "common footer\n\ndelta"),          # footer is a repeat
            (3, "common footer"),                   # whole doc is a repeat
            (4, "alpha beta\n\nalpha beta"),        # intra-doc repeat
        ],
        "doc_id LONG, text STRING",
    )
    kept = paragraph_dedup(docs).collect()
    # one survivor per distinct fp; survivor is the smallest (doc, idx)
    fps = [r["fp"] for r in kept]
    # distinct paragraphs: alpha beta, common footer, gamma, delta
    assert len(fps) == len(set(fps)) == 4
    total_dups = sum(r["n_dups"] for r in kept)
    # footer appears 3x (2 dups) + alpha beta 3x (2 dups)
    assert total_dups == 4

    stripped = strip_duplicate_paragraphs(docs)
    rows = {r["doc_id"]: r for r in stripped.collect()}
    assert set(rows) == {1, 2, 3, 4}  # fully-deduped docs still present
    assert rows[3]["clean_text"] == "" and rows[3]["n_kept"] == 0
    assert rows[1]["n_kept"] == 3 and rows[1]["n_dropped"] == 0
    # BOTH of doc 4's paragraphs repeat doc 1's "alpha beta"
    assert rows[4]["clean_text"] == "" and rows[4]["n_dropped"] == 2
    # conservation: kept + dropped = per-doc paragraph count
    assert all(
        r["n_kept"] + r["n_dropped"] in (1, 2, 3) for r in rows.values()
    )
    # idempotence: a second strip over the clean corpus drops nothing
    again = strip_duplicate_paragraphs(
        stripped.filter(F.col("n_kept") > 0).select(
            "doc_id", F.col("clean_text").alias("text")
        )
    )
    assert again.filter(F.col("n_dropped") > 0).count() == 0


def test_strip_passes_keep_degenerate_docs(spark):
    """Docs with no non-empty paragraph/line must SURVIVE with empty
    clean_text — the documented contract; before r13 they silently
    vanished from both strip passes, shrinking the corpus."""
    from emr_hudi_example_spark.operators.dedup import (
        strip_boilerplate_lines,
        strip_duplicate_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta"),
            (2, ""),                 # empty text
            (3, "\n\n   \n\n"),      # whitespace-only paragraphs
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in strip_duplicate_paragraphs(docs).collect()}
    assert set(out) == {1, 2, 3}
    for d in (2, 3):
        assert out[d]["clean_text"] == ""
        assert out[d]["n_kept"] == 0 and out[d]["n_dropped"] == 0
    lines = {r["doc_id"]: r for r in strip_boilerplate_lines(
        docs.withColumn("text", F.regexp_replace("text", r"\n\n", "\n")),
        min_docs=2,
    ).collect()}
    assert set(lines) == {1, 2, 3}
    assert lines[2]["clean_text"] == "" and lines[2]["n_kept"] == 0


def test_operator_config_guards_raise(spark):
    """r13 review: invalid configurations raise up front instead of
    silently corrupting results — OPQ's ragged subspace split (the
    snake-deal is a bijection only for a divisible dim), simhash widths
    beyond the 32-bit token hash, ragged simhash banding, and
    non-integral ids into the cell GEMM kernel."""
    import pytest

    from emr_hudi_example_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )
    from emr_hudi_example_spark.operators.similarity import (
        cell_near_dup_pairs,
        opq_dim_permutation,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id LONG, text STRING"
    )
    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id STRING, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        opq_dim_permutation(vecs, dim=10, n_subspaces=4)
    with pytest.raises(ValueError, match="32-bit token hash"):
        simhash(docs, bits=64)
    with pytest.raises(ValueError, match="not divisible"):
        simhash_near_pairs(docs, bits=32, band_bits=7)
    with pytest.raises(ValueError, match="integral type"):
        cell_near_dup_pairs(vecs, cents)


def test_connected_components_raises_on_non_convergence(spark):
    """A chain longer than max_iter rounds must RAISE, not return
    partial labels that split one duplicate cluster (r13 review); the
    star variant finishes the same graph in O(log n) rounds."""
    import pytest

    from emr_hudi_example_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 8  # path graph 0-1-2-...-7: diameter 7 > max_iter=2
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id LONG")
    with pytest.raises(ValueError, match="not converged"):
        connected_components(pairs, verts, max_iter=2, check_every=1)
    # enough rounds: one component labeled by its min
    ok = connected_components(pairs, verts, max_iter=10, check_every=1)
    assert {r["group_id"] for r in ok.collect()} == {0}
    star = connected_components_star(pairs, verts)
    assert {r["group_id"] for r in star.collect()} == {0}


def test_lsh_config_eval_honors_column_names(spark):
    """r13 review: id_col/text_col were accepted but not forwarded —
    non-default names crashed every leg past the sample."""
    from emr_hudi_example_spark.operators.dedup import lsh_config_eval

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox leaps"),
         (3, "совершенно other text entirely now")],
        "id LONG, body STRING",
    )
    row = lsh_config_eval(
        docs, id_col="id", text_col="body", num_perm=12, band_size=3,
    ).collect()[0]
    # the crash was UNRESOLVED_COLUMN before any row came back; the
    # exact-truth leg finds the near-identical pair regardless of
    # whether this tiny signature config happens to band them together
    assert row["n_truth"] >= 1 and row["n_candidates"] >= 0


def test_leakage_safe_split_co_travel(spark):
    """Exact duplicates must land in the same split, whatever their doc
    ids; fractions roughly follow (90, 5, 5) on the fixture corpus."""
    from emr_hudi_example_spark.operators.corpus import leakage_safe_split

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    dup_ids = docs.withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )  # clone corpus under different ids
    out = leakage_safe_split(docs.unionByName(dup_ids)).collect()
    by_fp: dict = {}
    for r in out:
        by_fp.setdefault(r["fp"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_fp.values())  # co-travel
    n = len(out)
    train = sum(1 for r in out if r["split"] == "train")
    assert 0.8 * n < train < 0.97 * n


def test_importance_sample_weight_monotone(spark):
    """Max-weight rows always survive; zero-weight rows never do; the
    draw is deterministic under repartitioning."""
    from emr_hudi_example_spark.operators.corpus import importance_sample

    df = spark.createDataFrame(
        [(i, (i % 10) * 100) for i in range(1, 501)],
        "doc_id LONG, w LONG",
    )
    kept = importance_sample(df, "w")
    rows = kept.collect()
    ids = {r["doc_id"] for r in rows}
    assert all(i in ids for i in range(9, 501, 10))  # w = 900 = max: kept
    assert not any(i in ids for i in range(10, 501, 10))  # w = 0: dropped
    rows2 = importance_sample(df.repartition(17), "w").collect()
    assert sorted(r["doc_id"] for r in rows2) == sorted(ids)


def test_quantize_embeddings_roundtrip_error(spark):
    """Dequantized vectors reconstruct the original within the int8
    step size (scale/254 per element), and cosine between dequantized
    pairs stays within 1% of exact — the property ANN-over-int8 needs."""
    import math

    from emr_hudi_example_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    orig = {r["vec_id"]: r["embedding"] for r in emb.limit(50).collect()}
    q = {
        r["vec_id"]: (r["scale"], r["qvec"])
        for r in quantize_embeddings(emb.limit(50)).collect()
    }
    assert set(q) == set(orig)
    deq = {}
    for vid, (scale, codes) in q.items():
        assert all(-127 <= c <= 127 for c in codes)
        deq[vid] = [c * scale / 127.0 for c in codes]
        for x, d in zip(orig[vid], deq[vid]):
            assert abs(float(x) - d) <= scale / 127.0 + 1e-12

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    ids = sorted(orig)[:10]
    for i in ids:
        for j in ids:
            if i < j:
                exact = cos([float(x) for x in orig[i]],
                            [float(x) for x in orig[j]])
                approx = cos(deq[i], deq[j])
                assert abs(exact - approx) < 0.01


def test_quantized_topk_recall_vs_float(spark):
    """int8 top-k must recover nearly all float-exact top-k neighbors —
    the serving-quality bar for the 4x-smaller quantized index."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in S.quantized_cosine_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f}"


def test_join_range_semantics(spark):
    """Bucket-decomposed interval join: [lo, hi) boundaries, intervals
    spanning multiple buckets, overlapping intervals, and no-match
    points — each matching pair exactly once."""
    from emr_hudi_example_spark.operators.relational import join_range

    pts = spark.createDataFrame(
        [(1, 10), (2, 19), (3, 20), (4, 35), (5, 99)],
        "pid LONG, t LONG",
    )
    itv = spark.createDataFrame(
        # iid 400 is inverted (hi << lo): must be dropped BEFORE bucket
        # explosion — F.sequence would otherwise generate a descending
        # array spanning the whole gap (r4 advice), here ~10^8 buckets.
        [(100, 10, 20), (200, 15, 40), (300, 60, 70), (400, 50, -10**9)],
        "iid LONG, lo LONG, hi LONG",
    )
    got = sorted(
        (r["iid"], r["pid"])
        for r in join_range(
            pts, itv, "t", "lo", "hi", bucket_width=7
        ).collect()
    )
    assert got == [
        (100, 1),            # lo inclusive
        (100, 2),            # hi=20 exclusive excludes pid 3
        (200, 2), (200, 3),  # overlapping interval catches both
        (200, 4),            # interval spans several width-7 buckets
    ]


def test_funnel_steps_ordering(spark):
    """Funnel requires strict temporal order: step-2 before step-1 does
    not count; broken funnels stop at their deepest completed step."""
    from emr_hudi_example_spark.operators.relational import funnel_steps

    ev = spark.createDataFrame(
        [
            # u1 completes in order
            (1, "a", 10), (1, "b", 20), (1, "c", 30),
            # u2 has b BEFORE a — depth stops at 1
            (2, "b", 5), (2, "a", 10),
            # u3 never does a — depth 0
            (3, "b", 10), (3, "c", 20),
            # u4: a then c (skips b) — depth 1
            (4, "a", 10), (4, "c", 20),
        ],
        "user_id LONG, event_type STRING, ts LONG",
    )
    got = {
        r["user_id"]: r["depth"]
        for r in funnel_steps(ev, ["a", "b", "c"]).collect()
    }
    assert got == {1: 3, 2: 1, 3: 0, 4: 1}


def test_kmv_sketch_accuracy_and_small_sets(spark):
    """KMV estimate within the textbook error band for large groups;
    exact for groups under k; deterministic under repartitioning."""
    from emr_hudi_example_spark.operators.sketch import kmv_distinct

    rows = [("big", f"v{i}") for i in range(5000)]
    rows += [("small", f"s{i}") for i in range(7)]
    df = spark.createDataFrame(rows, "grp STRING, val STRING")
    got = {r["grp"]: r for r in kmv_distinct(df, "grp", "val", k=64).collect()}
    assert got["small"]["est_distinct"] == 7.0
    assert got["small"]["n_seen_min"] == 7
    # k=64 → ~13% RMSE; allow 3 sigma
    assert abs(got["big"]["est_distinct"] - 5000) / 5000 < 0.4
    got2 = {
        r["grp"]: r["est_distinct"]
        for r in kmv_distinct(df.repartition(13), "grp", "val", k=64).collect()
    }
    assert got2 == {g: r["est_distinct"] for g, r in got.items()}


def test_fm_registers_and_estimate(spark):
    """FM/PCSA registers are deterministic under repartitioning (a MAX
    is a MAX) and the driver-side PCSA estimator lands within its
    textbook error band (~0.78/sqrt(m) RMSE, m=16 → ~20%; allow wide
    margin) on a 5000-distinct group."""
    from emr_hudi_example_spark.operators.sketch import (
        fm_estimate,
        fm_registers,
    )

    rows = [("big", f"v{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "grp STRING, val STRING")
    regs = fm_registers(df, "grp", "val", m=16).collect()
    assert len(regs) == 16  # every bucket hit at n=5000
    assert all(1 <= r["r"] <= 52 for r in regs)
    est = fm_estimate([r["r"] for r in regs], m=16)
    assert 0.4 < est / 5000 < 2.5, est
    regs2 = sorted(
        (r["bucket"], r["r"])
        for r in fm_registers(df.repartition(13), "grp", "val", m=16).collect()
    )
    assert regs2 == sorted((r["bucket"], r["r"]) for r in regs)


def test_minhash_dedup_corpus_consistent_with_pairs(spark):
    """The e2e survivor set is exactly the corpus minus every pair's
    id_b — the keep policy is a pure function of the graded pair
    list."""
    from emr_hudi_example_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kw = dict(num_perm=12, band_size=3, k=3, threshold=0.2,
              max_bucket_size=256)
    pairs = D.minhash_lsh_dedup(docs, **kw)
    drops = {r["id_b"] for r in pairs.collect()}
    kept = {r["doc_id"] for r in D.minhash_dedup_corpus(docs, **kw).collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept == all_ids - drops
    assert drops and kept  # both sides non-trivial on the fixture


def test_kmv_jaccard_tracks_exact(spark):
    """Sketch-estimated Jaccard approximates exact Jaccard on
    constructed overlaps (identical sets -> 1.0, disjoint -> 0.0,
    half-overlap within the k=64 error band)."""
    from emr_hudi_example_spark.operators.sketch import kmv_jaccard

    rows = [("x", f"v{i}") for i in range(400)]
    rows += [("y", f"v{i}") for i in range(400)]            # y == x
    rows += [("z", f"v{i}") for i in range(200, 600)]       # half overlap
    rows += [("w", f"other{i}") for i in range(400)]        # disjoint
    df = spark.createDataFrame(rows, "grp STRING, val STRING")
    got = {
        (r["grp_a"], r["grp_b"]): r["est_jaccard"]
        for r in kmv_jaccard(df, "grp", "val", k=64).collect()
    }
    assert got[("x", "y")] == 1.0
    assert got[("w", "x")] == 0.0 and got[("w", "y")] == 0.0
    # exact J(x, z) = 200/600 = 1/3; k=64 band is wide — assert bracket
    assert 0.12 < got[("x", "z")] < 0.55


def test_srp_hamming_tracks_cosine(spark):
    """SRP contract: P(bit differs) = angle/pi, so pairs with small
    signature Hamming distance must have systematically higher cosine
    than pairs with large distance."""
    import numpy as np

    from emr_hudi_example_spark.operators.similarity import srp_signatures

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(150)
    sigs = {r["vec_id"]: r["sig"] for r in srp_signatures(emb).collect()}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    close, far = [], []
    ids = sorted(sigs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            va, vb = vecs[a], vecs[b]
            cos = float(
                va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            )
            if ham <= 4:
                close.append(cos)
            elif ham >= 10:
                far.append(cos)
    assert close and far
    assert (sum(close) / len(close)) > (sum(far) / len(far)) + 0.1


def test_wav_codec_roundtrip_and_kernel_parity():
    """encode → decode round-trips exactly, the RIFF chunk walk skips
    the junk LIST chunk and honors odd-size padding, and the
    mapInPandas kernel's inlined parser agrees with the module-level
    decode_wav."""
    import numpy as np
    import pandas as pd

    v = np.arange(-50, 49, dtype="<i2")  # 99 samples → odd data size pad
    blob = MM.encode_wav(1, 16000, v.tobytes())
    assert b"LIST" in blob  # junk chunk forces a real chunk walk
    ch, rate, nf, pcm = MM.decode_wav(blob)
    assert (ch, rate, nf) == (1, 16000, 99)
    assert np.array_equal(np.frombuffer(pcm, dtype="<i2"), v)
    with pytest.raises(ValueError, match="RIFF"):
        MM.decode_wav(b"OggS")
    with pytest.raises(ValueError, match="truncated chunk"):
        MM.decode_wav(blob[:20])
    # kernel parity on builder-generated clips (odd/even channel cases)
    build = MM.make_wav_corpus_batch()
    decode = MM.make_wav_decode_batch()
    src = pd.DataFrame({"doc_id": [7, 12]})
    corpus = pd.concat(build([src])).set_index("doc_id")
    out = pd.concat(decode([corpus.reset_index()])).set_index("doc_id")
    for doc_id in (7, 12):
        dch, drate, dnf, dpcm = MM.decode_wav(
            bytes(corpus.loc[doc_id, "content"])
        )
        arr = np.frombuffer(dpcm, dtype="<i2").astype(np.int64)
        row = out.loc[doc_id]
        assert (row["n_channels"], row["sample_rate"], row["n_frames"]) == (
            dch, drate, dnf,
        )
        assert row["sum_abs"] == int(np.abs(arr).sum())
        assert row["sum_sq"] == int((arr * arr).sum())
        assert row["max_abs"] == int(np.abs(arr).max())


def test_pagerank_mass_conserved(spark, monkeypatch):
    """Teleport + damped inflow + dangling redistribution must conserve
    rank mass: Σ rank = 1 (up to the 12-dp contribution rounding), on
    both routes."""
    from emr_hudi_example_spark.operators import graph as G
    from tests.conftest import SF_CORRECT

    from emr_hudi_example_spark.catalog import load

    edges = G.sequential_interaction_edges(load(spark, SF_CORRECT, "events"))
    for route in _pagerank_routes(monkeypatch):
        pr = G.pagerank(edges, iterations=3)
        total = pr.agg(F.sum("rank")).collect()[0][0]
        assert abs(total - 1.0) < 1e-6, route
        assert pr.filter(F.col("rank") <= 0).count() == 0, route


def test_soft_dedup_weight_mass_equals_unique_content(spark):
    """Σ weights == number of distinct fingerprints (each unique content
    contributes exactly one unit of loss mass)."""
    from emr_hudi_example_spark.operators import dedup as D
    from tests.conftest import SF_CORRECT

    from emr_hudi_example_spark.catalog import load

    docs = load(spark, SF_CORRECT, "documents")
    w = D.soft_dedup_weights(docs)
    n_unique = (
        docs.selectExpr(
            # operators/text.py::_WS as real characters: Spark SQL reads
            # the escape backslash-f as a plain "f"
            "md5(regexp_replace(lower(trim(BOTH ' \t\n\r\f' FROM text)),"
            " '\\\\s+', ' ')) AS fp"
        )
        .distinct()
        .count()
    )
    total_w = w.agg(F.sum("weight")).collect()[0][0]
    assert abs(total_w - n_unique) < 1e-3


def test_pagerank_empty_graph_returns_empty(spark, monkeypatch):
    """An all-self-loop event stream derives zero edges; pagerank must
    return an empty (node, rank) frame, not divide by zero, on both
    routes."""
    from emr_hudi_example_spark.operators import graph as G

    ev = spark.createDataFrame(
        [(1, i, 7, "click") for i in range(4)],
        "user_id LONG, event_id LONG, unused LONG, event_type STRING",
    ).selectExpr(
        "event_id", "timestamp_micros(event_id * 1000000) AS ts",
        "user_id", "event_type",
    )
    edges = G.sequential_interaction_edges(ev)
    assert edges.count() == 0
    for route in _pagerank_routes(monkeypatch):
        pr = G.pagerank(edges, iterations=3)
        assert pr.count() == 0, route
        assert pr.columns == ["node", "rank"], route
        # the kernel returns a local relation; the Spark route's empty
        # branch returns its checkpointed (RDD-backed) node set
        plan = pr._jdf.queryExecution().optimizedPlan().toString()
        assert ("LogicalRDD" in plan) == (route == "spark"), plan


def test_bucketed_edge_derivation_matches_global_window(spark):
    """The scalable (type, time-bucket) sub-window + boundary-stitch
    edge derivation must produce EXACTLY the global-order window's
    edges (same total order ⇒ same hops), for a bucket smaller than
    the event span so the stitch path genuinely fires."""
    from emr_hudi_example_spark.catalog import load
    from emr_hudi_example_spark.operators import graph as G
    from tests.conftest import SF_CORRECT

    ev = load(spark, SF_CORRECT, "events")
    naive = G.sequential_interaction_edges(ev, bucket=None)
    bucketed = G.sequential_interaction_edges(ev, bucket="1 day")
    assert naive.exceptAll(bucketed).count() == 0
    assert bucketed.exceptAll(naive).count() == 0


def test_pq_adc_recall_against_exact(spark):
    """PQ+ADC is lossy by design; the floor pins that ADC genuinely
    ranks by distance, not that it is precise: random hit rate for
    top-5 of 500 is ~1% per slot, and measured recall@5 is ~14% at
    K=16 (≈36% at K=64 — the synthetic embeddings have no cluster
    structure, so sampled codebooks plateau early; a per-subspace
    Lloyd refinement à la ``kmeans_refine`` is the quality lever).
    Floor at 0.1 ≈ 10× chance."""
    from emr_hudi_example_spark.catalog import load
    from emr_hudi_example_spark.operators import similarity as S
    from tests.conftest import SF_CORRECT

    emb = load(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    adc = S.pq_adc_topk(emb, queries, k=5)
    # exact L2 top-5 via the cosine machinery's vectors: brute force
    v = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS e"
    )
    q = queries.selectExpr(
        "vec_id AS qid", "transform(embedding, x -> cast(x as double)) AS qe"
    )
    from pyspark.sql.window import Window

    scored = v.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "vec_id",
        F.aggregate(
            F.zip_with("e", "qe", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("d2"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("vec_id"))
    exact = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )
    hits = adc.join(
        exact,
        (adc["query_id"] == exact["qid"])
        & (adc["neighbor_id"] == exact["vec_id"]),
    ).count()
    total = exact.count()
    assert total > 0
    assert hits / total >= 0.1, f"PQ recall@5 too low: {hits}/{total}"


def test_pq_refinement_reduces_distortion(spark):
    """Lloyd monotonicity: re-encoding against refined (per-cell mean)
    codebooks cannot increase total quantization distortion relative
    to the sampled codebooks' assignment distances."""
    from emr_hudi_example_spark.catalog import load
    from emr_hudi_example_spark.operators import similarity as S
    from tests.conftest import SF_CORRECT

    emb = load(spark, SF_CORRECT, "embeddings")
    refined = S.pq_refined_codes(emb)
    total_refined = refined.agg(F.sum("rdist")).collect()[0][0]
    # sampled-codebook distortion: distance of each vector to its
    # ASSIGNED sampled codeword, per subspace
    v = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS _v"
    )
    seeds = (
        emb.orderBy("vec_id").limit(16)
        .selectExpr(
            "vec_id AS _sid",
            "transform(embedding, x -> cast(x as double)) AS _sv",
        )
    )
    from pyspark.sql.window import Window

    seeds = seeds.withColumn(
        "cid", F.row_number().over(Window.orderBy("_sid")) - 1
    )
    codes = S.pq_codes(emb)
    stack = ", ".join(f"{m}, code_{m}" for m in range(8))
    cl = codes.selectExpr("vec_id", f"stack(8, {stack}) AS (m, code)")
    j = cl.join(v, "vec_id").join(
        F.broadcast(seeds), cl["code"] == seeds["cid"]
    )
    sub = lambda c: F.slice(
        F.col(c), F.col("m") * F.lit(8) + F.lit(1), F.lit(8)
    )
    d = j.select(
        F.aggregate(
            F.zip_with(sub("_v"), sub("_sv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("d")
    )
    total_sampled = d.agg(F.sum("d")).collect()[0][0]
    # rdist values are rounded to 6 dp before summing (~4k terms →
    # up to ~2e-3 aggregate rounding perturbation); slack covers it
    assert total_refined <= total_sampled + 1e-2, (
        total_refined, total_sampled,
    )


def test_lsh_config_eval_sampled_slice(spark):
    """The 100 TB recipe for dedup_lsh_eval's exhaustive ground truth
    (r5 verdict #3): sample_frac runs ALL THREE legs (signatures,
    candidates, truth) on a deterministic id-hash sample, so the
    sampled eval is EXACTLY the full eval of the pre-filtered corpus —
    the estimate is reproducible, engine-independent, and unbiased
    (a pair's Jaccard does not depend on the rest of the corpus)."""
    from emr_hudi_example_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(400)
    kw = dict(num_perm=12, band_size=3, k=3, threshold=0.2)
    sampled = D.lsh_config_eval(docs, sample_frac=0.5, seed=7, **kw)
    slice_ = D.hash_sample(docs, "doc_id", 0.5, seed=7)
    manual = D.lsh_config_eval(slice_, **kw)
    assert sampled.collect() == manual.collect()
    n_slice = slice_.count()
    assert 0 < n_slice < 400  # the sample is a real, proper subset
    # and the exact (sample_frac=None) path is unchanged: identity slice
    assert D.hash_sample(docs, "doc_id", None).count() == 400


def test_lsh_config_eval_size_derived_cap(spark):
    """The size-derived truth bound (r8 verdict #1): with
    ``max_truth_docs`` set, a corpus larger than the bound is cut to a
    deterministic md5-hash slice of ~max_truth_docs docs — the eval
    equals the full eval of that pre-filtered slice (same argument as
    the fixed-frac test above) — while a corpus at or under the bound
    runs EXACT (the graded config's fixture-scale behavior). The
    derived cut is integer floor division, so ``hash_cap_sql`` can
    replay it bit-exactly in DuckDB (pinned by the oracle gate)."""
    from emr_hudi_example_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(400)
    kw = dict(num_perm=12, band_size=3, k=3, threshold=0.2)
    # bound engaged: 400 docs > 100 → derived cut (65536*100)//400
    capped = D.lsh_config_eval(docs, max_truth_docs=100, **kw)
    cut = (65536 * 100) // 400
    slice_ = D.hash_sample(docs, "doc_id", cut / 65536.0)
    manual = D.lsh_config_eval(slice_, **kw)
    assert capped.collect() == manual.collect()
    n_slice = slice_.count()
    assert 0 < n_slice < 400
    # bound inert at fixture scale: 400 <= 1000 → identical to exact
    exact = D.lsh_config_eval(docs, **kw)
    inert = D.lsh_config_eval(docs, max_truth_docs=1000, **kw)
    assert inert.collect() == exact.collect()
    # composes with a fixed frac over the SAME bucket: tighter cut wins
    both = D.lsh_config_eval(
        docs, sample_frac=0.5, max_truth_docs=100, **kw
    )
    n_half = D.hash_sample(docs, "doc_id", 0.5).count()
    cut2 = (32768 * 100) // n_half
    manual2 = D.lsh_config_eval(
        D.hash_sample(docs, "doc_id", cut2 / 65536.0), **kw
    )
    assert both.collect() == manual2.collect()


def test_pagerank_weighted_vs_unweighted(spark, monkeypatch):
    """use_weights=True (r5 advice): handoff multiplicity influences
    ranks. On a 3-node graph where a→b carries 9× the weight of a→c,
    weighted ranks favor b while unweighted ties b and c exactly; both
    modes conserve total mass; unweighted IGNORES the weight column
    (documented default) — same result with weights present or not.
    Both routes."""
    from emr_hudi_example_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, weight long",
    )
    for route in _pagerank_routes(monkeypatch):
        unw = {r["node"]: r["rank"] for r in G.pagerank(edges).collect()}
        unw2 = {
            r["node"]: r["rank"]
            for r in G.pagerank(edges.drop("weight")).collect()
        }
        assert unw == unw2, route  # default ignores the weight column
        assert abs(unw["b"] - unw["c"]) < 1e-12, route  # 1/2 vs 1/2
        w = {
            r["node"]: r["rank"]
            for r in G.pagerank(edges, use_weights=True).collect()
        }
        assert w["b"] > w["c"], route  # 9/10 vs 1/10 out-share
        assert abs(sum(w.values()) - 1.0) < 1e-6, route
        assert abs(sum(unw.values()) - 1.0) < 1e-6, route
        with pytest.raises(ValueError):
            G.pagerank(edges.drop("weight"), use_weights=True)


def test_pagerank_null_weight_counts_once_not_dropped(spark, monkeypatch):
    """A NULL weight coalesces to 1 (r6 advice): the edge still carries
    rank mass like an unweighted edge, instead of being silently dropped
    from both the out-degree sum and the contribution. Both routes."""
    from emr_hudi_example_spark.operators import graph as G

    with_null = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", None), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, weight long",
    )
    explicit_one = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, weight long",
    )
    for route in _pagerank_routes(monkeypatch):
        got = {
            r["node"]: r["rank"]
            for r in G.pagerank(with_null, use_weights=True).collect()
        }
        want = {
            r["node"]: r["rank"]
            for r in G.pagerank(explicit_one, use_weights=True).collect()
        }
        assert got == want, route  # bit-identical: NULL == weight 1
        assert abs(sum(got.values()) - 1.0) < 1e-6, route  # mass kept


def test_pagerank_zero_out_weight_source_is_dangling(spark, monkeypatch):
    """A source whose every out-edge weighs 0 has degree 0: it is
    dangling (its mass redistributes globally) instead of dividing by
    zero or leaking its mass. Both routes."""
    from emr_hudi_example_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b", 0), ("b", "a", 1)],
        "src STRING, dst STRING, weight LONG",
    )
    for route in _pagerank_routes(monkeypatch):
        pr = {r["node"]: r["rank"] for r in G.pagerank(
            edges, iterations=3, use_weights=True
        ).collect()}
        assert abs(sum(pr.values()) - 1.0) < 1e-6, route  # mass conserved


def _ranks_on_both_routes(monkeypatch, edges, **kw) -> list:
    """``[kernel ranks, Spark-route ranks]``, each a sorted list of
    ``(node, rank)`` with the NULL node last."""
    from emr_hudi_example_spark.operators import graph as G

    return [
        sorted((tuple(r) for r in G.pagerank(edges, **kw).collect()),
               key=lambda r: (r[0] is None, r[0]))
        for _ in _pagerank_routes(monkeypatch)
    ]


def test_pagerank_kernel_equals_spark_route(spark, monkeypatch):
    """The in-driver kernel returns the Spark route's ranks EXACTLY
    (float equality, not a tolerance) on the sf0.01 handoff graph,
    unweighted and weighted by hop multiplicity."""
    from emr_hudi_example_spark.catalog import load
    from emr_hudi_example_spark.operators import graph as G
    from tests.conftest import SF_CORRECT

    edges = G.sequential_interaction_edges(
        load(spark, SF_CORRECT, "events")
    ).localCheckpoint()
    assert 0 < edges.count() <= G.LOCAL_MAX_EDGES  # the kernel does run
    for kw in ({}, {"use_weights": True}):
        kernel, spark_route = _ranks_on_both_routes(monkeypatch, edges, **kw)
        assert len(kernel) > 100, kw
        assert kernel == spark_route, kw


def test_pagerank_kernel_mirrors_null_and_degenerate_edges(
    spark, monkeypatch
):
    """The kernel keeps the Spark route's semantics on a hand edge list:
    duplicate rows count twice, a sink with no out-edges and a
    zero-weight source are dangling, and NULL endpoints never join — a
    NULL source emits nothing, the NULL node still receives inflow and
    is always dangling. A DOUBLE weight column (order-dependent double
    Σ) takes the Spark route when used, and is ignored when not."""
    rows = [
        ("a", "b", 2), ("a", "b", 2),  # duplicate row
        ("a", "c", 1), ("b", "a", 3),
        ("z", "a", 0),  # zero-weight source
        ("c", None, 1),  # NULL sink receives c's mass
        (None, "a", 5),  # NULL source emits nothing
        ("a", None, None),  # NULL weight counts 1
        ("b", "d", 1),  # d: sink, dangling
    ]
    edges = spark.createDataFrame(rows, "src STRING, dst STRING, weight LONG")
    as_double = edges.selectExpr(
        "src", "dst", "CAST(weight AS DOUBLE) + 0.25 AS weight"
    )
    for df in (edges, as_double):
        for kw in ({}, {"use_weights": True}):
            kernel, spark_route = _ranks_on_both_routes(monkeypatch, df, **kw)
            assert kernel == spark_route, (df.schema["weight"], kw)
            assert [r[0] for r in kernel] == ["a", "b", "c", "d", "z", None]
            assert abs(sum(r[1] for r in kernel) - 1.0) < 1e-6


def test_pagerank_job_budget(spark):
    """``graph_pagerank`` at sf0.01, build plus ``count()``, runs ≤ 8
    Spark jobs: the edge derivation and one collect, then the kernel on
    the driver. The Spark route, one round per iteration, ran 36."""
    from emr_hudi_example_spark.catalog_ext import graph_pagerank
    from tests.conftest import SF_CORRECT
    from tests.harness import count_jobs

    jobs, n = count_jobs(
        spark, lambda: graph_pagerank(spark, SF_CORRECT).count()
    )
    assert n > 100
    assert jobs <= 8, jobs


def test_pagerank_above_gate_derives_edges_once(spark, monkeypatch):
    """Above the gate the capped collect reads the checkpointed edge
    list, so the upstream edge derivation runs once per call: collect
    then Spark route costs at most the collect's one job more than the
    Spark route alone. Deriving the edges twice (once for the collect,
    once for the Spark route) would add the derivation's jobs again."""
    from emr_hudi_example_spark.catalog import load
    from emr_hudi_example_spark.operators import graph as G
    from tests.conftest import SF_CORRECT
    from tests.harness import count_jobs

    events = load(spark, SF_CORRECT, "events")
    jobs = {}
    for gate in (100, -1):
        monkeypatch.setattr(G, "LOCAL_MAX_EDGES", gate)
        # a fresh edge frame per call: no call reuses the other's plan
        edges = G.sequential_interaction_edges(events)
        jobs[gate], n = count_jobs(
            spark, lambda: G.pagerank(edges).count()
        )
        assert n > 100
    assert jobs[100] <= jobs[-1] + 1, jobs


def test_sequential_edges_null_ts_dropped_both_paths(spark):
    """NULL-timestamp events are excluded up front (r5 advice), so the
    bucketed and global-window paths agree on dirty inputs."""
    from emr_hudi_example_spark.operators import graph as G

    ev = spark.createDataFrame(
        [
            (1, "u1", "click", "2024-01-01 00:00:00", "e1"),
            (2, "u2", "click", "2024-01-02 00:00:00", "e2"),
            (3, "u3", "click", None, "e3"),
            (4, "u4", "click", "2024-01-09 00:00:00", "e4"),
        ],
        "id long, user_id string, event_type string, ts string, "
        "event_id string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    naive = G.sequential_interaction_edges(ev, bucket=None)
    bucketed = G.sequential_interaction_edges(ev, bucket="1 day")
    rows = {(r["src"], r["dst"]) for r in naive.collect()}
    assert rows == {("u1", "u2"), ("u2", "u4")}  # u3 (NULL ts) gone
    assert rows == {(r["src"], r["dst"]) for r in bucketed.collect()}


def test_opq_permutation_is_isometry_and_balanced(spark):
    """The OPQ-lite permutation must (a) be a bijection on dims, (b)
    preserve exact L2 neighborhoods (a permutation is an isometry — the
    quantizer improves, the geometry doesn't move), and (c) genuinely
    snake-balance: each subspace receives exactly one dimension per
    energy-rank round."""
    from emr_hudi_example_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    perm_df = S.opq_dim_permutation(emb, dim=64, n_subspaces=8)
    perm = S.collect_dim_permutation(perm_df, 64)
    assert sorted(perm) == list(range(64))  # bijection
    # (c): round r of the ranking contributes one dim to every bucket
    rows = {r["d"]: r["new_pos"] for r in perm_df.collect()}
    buckets_per_round = {}
    ranked = sorted(rows, key=lambda d: rows[d])  # not rank order, but
    for d, new_pos in rows.items():
        buckets_per_round.setdefault(new_pos % 8, set()).add(new_pos // 8)
    for rnd, buckets in buckets_per_round.items():
        assert buckets == set(range(8))
    # (b): exact L2 top-5 neighbor sets identical through the permutation
    base = {
        (r["query_id"], r["neighbor_id"])
        for r in S.l2_topk(emb, q, k=5).collect()
    }
    vp = S.apply_dim_permutation(emb, perm)
    qp = S.apply_dim_permutation(q, perm)
    permuted = {
        (r["query_id"], r["neighbor_id"])
        for r in S.l2_topk(vp, qp, k=5).collect()
    }
    assert base == permuted


def test_opq_stats_sampling_matches_presampled(spark):
    """stats_sample_frac (the 100 TB recipe): the permutation statistics
    run on a deterministic id-hash sample — identical to computing the
    permutation from the pre-filtered corpus, while encode/serve still
    cover every vector."""
    from emr_hudi_example_spark.operators import similarity as S
    from emr_hudi_example_spark.operators.dedup import hash_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    sampled = S.opq_adc_topk(emb, q, k=5, stats_sample_frac=0.5)
    perm = S.collect_dim_permutation(
        S.opq_dim_permutation(hash_sample(emb, "vec_id", 0.5)), 64
    )
    manual = S.pq_adc_topk(
        S.apply_dim_permutation(emb, perm),
        S.apply_dim_permutation(q, perm),
        k=5,
    )
    assert sorted(map(tuple, sampled.collect())) == sorted(
        map(tuple, manual.collect())
    )


def test_l2_topk_query_sampling_is_exact_slice(spark):
    """query_sample_frac (r6 verdict #5 — the 100 TB eval recipe): the
    sampled truth equals the FULL truth restricted to the hash-sampled
    query ids (deterministic slice, not an approximation), and the
    default path is the identity."""
    from emr_hudi_example_spark.operators import similarity as S
    from emr_hudi_example_spark.operators.dedup import hash_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.l2_topk(emb, q, k=3).collect()
    }
    sampled = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.l2_topk(emb, q, k=3, query_sample_frac=0.4).collect()
    }
    kept = {r["vec_id"] for r in hash_sample(q, "vec_id", 0.4).collect()}
    assert 0 < len(kept) < q.count()  # real, proper subset
    assert sampled == {t for t in full if t[0] in kept}
    # identity when None / >= 1.0
    assert {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.l2_topk(emb, q, k=3, query_sample_frac=1.0).collect()
    } == full


@pytest.mark.slow  # 87 s: the two-algorithm equivalence sweep is
# extra coverage over the default run's oracle + convergence pins
# (r15 verdict #2 — driver verify window); run with -m ""
def test_star_contraction_matches_label_propagation(spark):
    """Star-contraction CC must produce the identical (vertex →
    component-min) labeling as min-label propagation on every graph
    shape that stresses it: long chains (diameter >> log n — the case
    star contraction exists for), multi-component random graphs,
    singletons, self-loops, duplicate/reversed edges."""
    import random

    from emr_hudi_example_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    def run(edge_list, n_vertices):
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edge_list] or [(0, 0)],
            "id_a long, id_b long",
        )
        verts = spark.range(n_vertices).select(
            F.col("id").alias("doc_id")
        )
        star = {
            (r["doc_id"], r["group_id"])
            for r in connected_components_star(pairs, verts).collect()
        }
        prop = {
            (r["doc_id"], r["group_id"])
            for r in connected_components(
                pairs, verts, max_iter=200, check_every=1
            ).collect()
        }
        assert star == prop
        return star

    # 60-node chain: diameter 59; star contraction must finish inside
    # its default max_iter=30 where naive propagation needs ~60 rounds
    chain = [(i, i + 1) for i in range(59)]
    labels = run(chain, 61)  # vertex 60 is a singleton
    assert labels == {(i, 0) for i in range(60)} | {(60, 60)}

    # seeded random graphs: several components + isolated vertices
    rng = random.Random(7)
    for trial in range(3):
        n = 80
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 70))
        ]
        edges += [(5, 5), (12, 7), (7, 12)]  # self-loop + dup reversed
        run(edges, n)

    # empty edge set: every vertex is its own group
    labels = run([(0, 0)], 5)  # lone self-loop ≡ no edges
    assert labels == {(i, i) for i in range(5)}


def test_opq_sampled_stats_recall_matches_full_stats(spark):
    """The bounded-training OPQ recipe (r10 verdict #2 —
    ``sim_opq_topk_sampled``) must not degrade serving quality: the
    energy RANKING is an average-like statistic, so a deterministic
    25% id-hash slice should produce a permutation whose recall@5
    against the exact L2 truth is within one hit-per-query of the
    full-statistics permutation. Also pins panel boundedness: the
    sampled variant serves exactly the NQ smallest %50 ids."""
    from emr_hudi_example_spark.catalog import load
    from emr_hudi_example_spark.catalog_ext import (
        _OPQ_SAMPLED_NQ,
        _OPQ_STATS_FRAC,
        sim_opq_topk_sampled,
    )
    from emr_hudi_example_spark.operators import similarity as S
    from tests.conftest import SF_CORRECT

    emb = load(spark, SF_CORRECT, "embeddings")
    panel = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .orderBy("vec_id")
        .limit(_OPQ_SAMPLED_NQ)
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.l2_topk(emb, panel, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in S.opq_adc_topk(emb, panel, k=5, dim=64).collect()
    }
    sampled_rows = sim_opq_topk_sampled(spark, SF_CORRECT).collect()
    sampled = {(r["query_id"], r["neighbor_id"]) for r in sampled_rows}
    n_q = panel.count()
    assert n_q > 0
    recall_full = len(exact & full) / len(exact)
    recall_sampled = len(exact & sampled) / len(exact)
    # within one hit per query of the full-stats permutation
    assert recall_sampled >= recall_full - n_q / len(exact), (
        recall_sampled,
        recall_full,
    )
    # bounded panel: every served query id is one of the panel's
    assert {r["query_id"] for r in sampled_rows} <= {
        r["vec_id"] for r in panel.collect()
    }
    assert _OPQ_STATS_FRAC < 1.0  # the stats pass really is sampled


def test_assign_cells_agg_branch_nulls_last_on_dead_centroid(spark):
    """A zero-norm (dead) centroid divides by zero in the cosine.
    Under the session default (ANSI on, Spark 4) BOTH branches fail
    loudly — pinned first. Under ansi=false the cosine is NULL and the
    n_assign=1 aggregation branch must rank NULLs LAST, matching the
    window branch's DESC ordering and the DuckDB oracles — a raw
    negated-cosine struct would rank null lowest and assign every
    vector to the dead cell."""
    import math

    vecs = [(i, [float(i + 1), float(2 * i + 1)]) for i in range(20)]
    cens = [(100, [0.0, 0.0]), (101, [1.0, 0.0]), (102, [0.0, 1.0])]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cen = spark.createDataFrame(cens, "vec_id LONG, embedding ARRAY<DOUBLE>")

    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.assign_cells(emb, cen, n_assign=1).collect()

    def cos(a, b):
        na, nb = math.hypot(*a), math.hypot(*b)
        if na == 0 or nb == 0:
            return None  # ansi=false: x/0.0 -> NULL
        return (a[0] * b[0] + a[1] * b[1]) / (na * nb)

    expected = set()
    for vid, v in vecs:
        best = min(
            ((cid, cos(v, c)) for cid, c in cens if cos(v, c) is not None),
            key=lambda t: (-t[1], t[0]),
        )
        expected.add((vid, best[0]))

    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = {
            (r["vec_id"], r["cell_id"])
            for r in S.assign_cells(emb, cen, n_assign=1).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == expected
    assert 100 not in {c for _v, c in got}, "dead centroid won a vector"


def test_ranked_topk_equals_single_window(spark):
    """The salted two-phase top-k (r13, `_ranked_topk`) must assign
    EXACTLY the rows and ranks of the single query_id window it
    replaces — including at k boundaries and under metric ties broken
    by the unique tie id. Randomized scored stream: 7 queries x 400
    neighbors with heavily-colliding metric values (ties across salt
    buckets are the interesting case)."""
    import random

    from pyspark.sql.window import Window

    rng = random.Random(7)
    rows = [
        (q, n, float(rng.randint(0, 25)))
        for q in range(7)
        for n in rng.sample(range(10_000), 400)
    ]
    scored = spark.createDataFrame(
        rows, "query_id LONG, neighbor_id LONG, cos DOUBLE"
    )
    order = [F.col("cos").desc(), F.col("neighbor_id").asc()]
    for k in (1, 5, 32, 33, 400, 500):
        got = {
            tuple(r)
            for r in S._ranked_topk(scored, k, order)
            .select("query_id", "neighbor_id", "rank")
            .collect()
        }
        w = Window.partitionBy("query_id").orderBy(*order)
        want = {
            tuple(r)
            for r in scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank")
            .collect()
        }
        assert got == want, f"k={k}: diverged"


def test_local_bounded_many_guards_and_inheritance(spark):
    """r12 ADVICE pins: zero frames is an explicit no-op (the old
    ThreadPoolExecutor(max_workers=0) raised an opaque ValueError);
    results keep argument order; the concurrent collects run on
    pyspark.InheritableThread so they inherit the caller's job group /
    scheduler pool (asserted via a local property visible from the
    collected frames' execution)."""
    assert S.local_bounded_many() == []

    a = spark.range(3).selectExpr("id AS x")
    b = spark.range(5).selectExpr("id AS y")
    got = S.local_bounded_many((a, 3), (b, 5))
    assert [df.count() for df in got] == [3, 5]
    assert got[0].columns == ["x"] and got[1].columns == ["y"]

    # a violated bound must surface from the worker thread, not hang
    with pytest.raises(ValueError, match="exceeds its claimed bound"):
        S.local_bounded_many((spark.range(10), 2), (b, 5))


def test_ivfpq_residual_seed_size_validated(spark):
    """r12 ADVICE pin: an injected ``seed_vecs`` whose row count
    disagrees with ``n_codes`` must raise at build time instead of
    training a silently wrong-sized codebook; the catalog's seed slice
    and the recipe default now share ``S.PQ_N_CODES``."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cen = S.local_bounded(emb.orderBy("vec_id").limit(4), 4)
    bad_seed = S.local_bounded(
        emb.orderBy("vec_id").limit(S.PQ_N_CODES - 1), S.PQ_N_CODES - 1
    )
    with pytest.raises(ValueError, match="seed_vecs has 15 rows"):
        S.ivfpq_residual_topk(
            emb,
            S.local_bounded(emb.limit(2), 2),
            cen,
            n_subspaces=2,
            sub_dim=1,
            seed_vecs=bad_seed,
        )


def test_ann_codebook_retrains_on_rebuild(spark, tmp_path):
    """The eager-codebook contract (README "ANN recipes", r11 verdict
    watch item): a codebook localized via ``local_bounded`` /
    ``_pq_seeds(localize=True)`` is trained at BUILD time — corpus rows
    added after the build do not change it, so an encode plan holding
    it keeps serving the stale quantizer — and REBUILDING the recipe
    retrains against the drifted corpus. Codebook = n_codes smallest-id
    vectors: after a new smallest id lands, the held codebook still
    encodes the new vector against the OLD codewords, while the rebuilt
    recipe assigns it codeword 0 (it IS the new seed 0)."""
    import pyspark.sql.functions as F

    base = spark.createDataFrame(
        [(i + 10, [float(i), 1.0]) for i in range(30)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    path = str(tmp_path / "ann_retrain_probe")
    base.write.mode("overwrite").parquet(path)

    # BUILD: codebook trained eagerly (LocalRelation) on the pre-drift
    # corpus — sub-vectors of the 4 smallest ids (10..13)
    held_seeds = S._pq_seeds(
        spark.read.parquet(path), "vec_id", "embedding", 4, localize=True
    )

    # DRIFT: a new smallest-id vector lands after the build
    spark.createDataFrame(
        [(1, [99.0, 99.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).write.mode("append").parquet(path)
    drifted = spark.read.parquet(path)

    # a plan holding the built codebook serves the STALE quantizer:
    # vec 1 ([99, 99]) encodes against codewords from ids 10..13 —
    # nearest dim-0 codeword is seed 3 (value 3.0), dim-1 all tie -> 0
    stale = S.pq_codes(
        drifted, n_subspaces=2, sub_dim=1, n_codes=4, seeds=held_seeds
    )
    row = stale.filter(F.col("vec_id") == 1).collect()[0]
    assert (row["code_0"], row["code_1"]) == (3, 0)

    # REBUILD retrains: vec 1 joins the codebook as seed 0 and encodes
    # to codeword 0 in every subspace
    rebuilt = S.pq_codes(drifted, n_subspaces=2, sub_dim=1, n_codes=4)
    row = rebuilt.filter(F.col("vec_id") == 1).collect()[0]
    assert (row["code_0"], row["code_1"]) == (0, 0)
    assert rebuilt.count() == 31


def test_text_corpus_degenerate_input_contracts(spark):
    """r13 review batch: Unicode word chars counted as words (not
    punctuation), short docs keep a defined rolling fingerprint, empty
    docs emit no phantom tokens/chunks and FAIL (not NULL) gopher
    ratio flags, zero-weight corpora keep max-weight ties, NULL-text
    docs emit no chunks."""
    from emr_hudi_example_spark.operators.corpus import (
        chunk_windows,
        importance_sample,
        shard_manifest,
        vocab_topk,
    )
    from emr_hudi_example_spark.operators.text import (
        gopher_quality,
        rolling_fingerprint,
        word_token_count,
    )

    docs = spark.createDataFrame(
        [(1, "café au lait déjà vu"), (2, ""), (3, "tiny doc"),
         (4, None)],
        "doc_id LONG, text STRING",
    )
    # Unicode-aware word class: 5 words, not 9 ASCII fragments
    n = docs.filter("doc_id = 1").select(
        word_token_count("text").alias("n")
    ).collect()[0]["n"]
    assert n == 5
    # short/empty docs: defined (non-NULL) rolling fingerprint
    fps = docs.filter("doc_id IN (2, 3)").select(
        rolling_fingerprint("text").alias("rfp")
    ).collect()
    assert all(r["rfp"] is not None for r in fps)
    # empty doc contributes no '' token to the vocabulary
    vocab = vocab_topk(docs.filter("text IS NOT NULL"), k=50)
    assert vocab.filter("token = ''").count() == 0
    # NULL-text doc emits no chunks; empty doc emits nothing real
    chunks = chunk_windows(docs, size=4, stride=2)
    assert chunks.filter("doc_id = 4").count() == 0
    # gopher flags are 0/1, never NULL, on empty docs
    g = gopher_quality(docs.filter("text IS NOT NULL")).filter(
        "doc_id = 2"
    ).collect()[0]
    for c in ("pass_mean_word_len", "pass_symbol_ratio",
              "pass_alpha_words", "pass_gopher"):
        assert g[c] == 0
    # all-zero weights: max-weight ties keep every row
    wz = spark.createDataFrame(
        [(1, 0), (2, 0)], "doc_id LONG, w LONG"
    )
    assert importance_sample(wz, weight_col="w").count() == 2
    # string ids: shard_manifest reports the range in the id's own type
    sm = shard_manifest(
        spark.createDataFrame(
            [("u-1", "a b"), ("u-2", "c d")], "doc_id STRING, text STRING"
        ),
        n_shards=2,
    )
    assert dict(sm.dtypes)["min_id"] == "string"
    assert sm.agg(F.sum("n_docs")).collect()[0][0] == 2


def test_local_residual_codebook_parity(spark):
    """r14: the driver-side residual codebook
    (``_local_residual_codebook``) must be BIT-identical to the Spark
    derivation it replaces — assignment (highest cosine, ties to the
    smaller cell id), residual subtraction, and cid ranking."""
    from pyspark.sql.window import Window

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seed16 = S.local_bounded(emb.orderBy("vec_id").limit(16), 16)
    cen = S.local_bounded(
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id").limit(32), 32,
    )
    twin = S._local_residual_codebook(seed16, cen, "vec_id", "embedding")
    assert twin is not None
    # the Spark derivation, verbatim from ivfpq_residual_topk's fallback
    cen_sel = cen.select(
        F.col("vec_id").alias("cell_id"),
        S._as_double("embedding").alias("_c"),
    )
    ref = (
        seed16.select(F.col("vec_id"), S._as_double("embedding").alias("_v"))
        .join(S.assign_cells(seed16, cen, "vec_id", "embedding", 1), "vec_id")
        .join(F.broadcast(cen_sel), "cell_id")
        .select(
            F.col("vec_id").alias("_sid"),
            F.zip_with("_v", "_c", lambda x, y: x - y).alias("_sv"),
        )
    )
    ref = ref.withColumn(
        "cid", F.row_number().over(Window.orderBy("_sid")) - 1
    ).drop("_sid")
    import struct as _st

    def canon(rows):
        return sorted(
            (r["cid"], tuple(_st.pack("<d", x) for x in r["_sv"]))
            for r in rows
        )
    assert canon(twin.collect()) == canon(ref.collect())


def test_seed_codebook_local_parity(spark):
    """r14: driver-side codebook ranking equals the Spark row_number
    derivation, bit for bit."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seed16 = S.local_bounded(emb.orderBy("vec_id").limit(16), 16)
    twin = S._seed_codebook_local(seed16, "vec_id", "embedding", 16)
    ref = S._seed_codebook(seed16, "vec_id", "embedding")
    import struct as _st

    def canon(rows):
        return sorted(
            (r["cid"], tuple(_st.pack("<d", x) for x in r["_sv"]))
            for r in rows
        )
    assert canon(twin.collect()) == canon(ref.collect())


def test_dim_permutation_list_parity(spark):
    """r14: the fused ungrouped-aggregate permutation derivation equals
    the relational opq_dim_permutation + collect chain exactly — full
    corpus and hash-sampled statistics."""
    from emr_hudi_example_spark.operators.dedup import hash_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for src in (emb, hash_sample(emb, "vec_id", 0.5)):
        ref = S.collect_dim_permutation(
            S.opq_dim_permutation(src, dim=64, n_subspaces=8), 64
        )
        assert S._dim_permutation_list(src, "embedding", 64, 8) == ref
