"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k (exact baseline) and an IVF-style partitioned
variant (the scale path).

All vector math is JVM-side (``zip_with``/``aggregate`` on double-cast
arrays) — no UDFs — so plans stay in whole-stage codegen and the math is
bit-reproducible in the DuckDB oracle (same left-to-right summation over
the same double-promoted floats).

Scale notes (100 TB):
- brute force: queries are broadcast; the corpus streams through one
  narrow pass; per-partition top-k then global top-k (the window) keeps
  shuffle traffic at O(queries × k), not O(corpus).
- IVF: centroid assignment is a broadcast argmin (narrow); the probe
  restricts candidate generation to ``nprobe/n_cells`` of the corpus —
  the classic inverted-file trade of recall for a ~cells/nprobe speedup.
  Cell ids are materialized once and reused across queries (in a real
  deployment: partitioned/bucketed by cell id so probes prune files).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

#: Default PQ codebook size (codewords per subspace) shared by every
#: PQ-family recipe AND by callers that pre-slice codebook seeds to
#: collect them concurrently (``local_bounded_many``): a caller-side
#: slice bound that drifted from the recipe's ``n_codes`` would train
#: a wrong-sized codebook with no error, so both sides must reference
#: THIS constant (``ivfpq_residual_topk`` additionally validates an
#: injected ``seed_vecs`` row count against its ``n_codes``).
PQ_N_CODES = 16


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Precompute the L2 norm once per vector (reused across queries)."""
    return df.withColumn("_vec", _as_double(vec_col)).withColumn(
        "_norm", _norm(F.col("_vec"))
    )


#: salt fan-out for the two-phase top-k — 32 buckets turns a 16-query
#: serving panel's ranking shuffle into ~512 reducer partitions
_TOPK_SALT = 32


def _ranked_topk(
    scored: DataFrame,
    k: int,
    order_cols: list[Column],
    key: str = "query_id",
    tie_col: str = "neighbor_id",
) -> DataFrame:
    """Skew-safe per-key top-k (r13): the SALTED two-phase window every
    serving recipe ranks through. A single window partitioned by the
    query id shuffles the whole scored stream into |queries| reducer
    partitions — with a FIXED 16-query serving panel that is a
    16-reducer bottleneck at any corpus size, the one non-scalable
    stage left in the ADC plans. Phase 1 ranks within (key, salt) —
    ``_TOPK_SALT`` deterministic xxhash64 buckets of the tie column —
    keeping ≤k survivors per bucket (any global top-k row is top-k in
    its own bucket, so no survivor is lost); phase 2 re-ranks the
    ≤ salt·k rows per key, assigning EXACTLY the ranks the single
    window would (the ordering is total: metric then unique tie id).
    Adds one tiny exchange over ≤ |keys|·salt·k rows; the corpus-sized
    exchange gains salt× parallelism."""
    w1 = Window.partitionBy(key, "_tk_salt").orderBy(*order_cols)
    w2 = Window.partitionBy(key).orderBy(*order_cols)
    return (
        scored.withColumn(
            "_tk_salt",
            F.pmod(F.xxhash64(F.col(tie_col)), F.lit(_TOPK_SALT)),
        )
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("_tk_salt", "_r1")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|x_i|)``,
    ``q_i = floor(x_i / scale * 127 + 0.5)`` (round-half-up via floor,
    so every engine agrees bit-for-bit — IEEE double divide/multiply
    plus an exact ``floor``, no platform-dependent ``round``). Returns
    ``(id_col, scale, qvec)``; a zero vector quantizes to scale 0 and
    all-zero codes. Dequantize as ``q_i * scale / 127``.

    Scale shape: a narrow expression over the array column — pipelines
    with the scan, zero shuffles. At corpus scale this is the 4×
    working-set shrink that lets an ANN index (IVF cells, LSH buckets)
    hold 4× more vectors per executor-GB; cosine on int8 codes needs
    only the two scales alongside the integer dot product.
    """
    dv = _as_double(vec_col)
    mx = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    q = F.when(mx == 0.0, F.transform(dv, lambda x: F.lit(0))).otherwise(
        F.transform(
            dv,
            lambda x: F.floor(x / mx * 127.0 + 0.5).cast("int"),
        )
    )
    return df.select(
        F.col(id_col), mx.alias("scale"), q.alias("qvec")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query (self-matches excluded).
    Returns (query_id, neighbor_id, cos, rank); ties broken by
    neighbor_id for determinism."""
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_vec").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos"),
        )
    )
    return _ranked_topk(
        scored, k, [F.col("cos").desc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank"
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine search over int8-quantized codes — the memory-bound
    ANN serving path (4× smaller working set than float32). Cosine over
    dequantized vectors reduces to PURE INTEGER math because the
    per-vector scales cancel::

        cos(q·s_a/127, c·s_b/127) = Σ q_i c_i / (√Σq_i² · √Σc_i²)

    Integer dot products and squared norms are exact in 64-bit (64 dims
    × 127² ≪ 2⁵³), and the final divide/sqrt are correctly-rounded IEEE
    doubles — so unlike float-accumulation ANN, the quantized variant
    is bit-identical on ANY engine and carries an exact SQL oracle.
    Returns (query_id, neighbor_id, cos, rank); self-matches excluded,
    ties broken by neighbor_id.

    Scale shape: same as :func:`cosine_topk` — broadcast queries, one
    narrow corpus pass, per-query window top-k (shuffle O(q·k)) — but
    each corpus row carries 64 bytes of codes instead of 256 of floats.
    """
    def codes(df: DataFrame, out_id: str, pre: str) -> DataFrame:
        qz = quantize_embeddings(df, id_col, vec_col)
        lv = F.transform("qvec", lambda x: x.cast("long"))
        return qz.select(
            F.col(id_col).alias(out_id),
            lv.alias(f"{pre}_q"),
            F.aggregate(
                F.transform(lv, lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias(f"{pre}_n2"),
        )

    c = codes(corpus, "neighbor_id", "c")
    q = codes(queries, "query_id", "q")
    dot = F.aggregate(
        F.zip_with("q_q", "c_q", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2prod = F.col("c_n2") * F.col("q_n2")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(n2prod == 0, F.lit(0.0))
            .otherwise(
                dot.cast("double") / F.sqrt(n2prod.cast("double"))
            )
            .alias("cos"),
        )
    )
    return _ranked_topk(
        scored, k, [F.col("cos").desc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank"
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_assign: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_assign`` nearest centroids by cosine
    (broadcast argmin — one narrow pass over the corpus).

    Deliberately emits ONLY ``(id, cell_id)``: consumers that need the
    vector alongside its cell join back on the id (a 1:1 join whose
    agg side is already hash-partitioned on the key). An r13 attempt
    to fuse the carry into this pass — vector columns riding the
    ``×n_cells`` crossJoin and the argmin buffers — was measured and
    REJECTED: the join-output duplication is corpus bytes × n_cells
    (at nlist≈√n=31k cells that is a 31,000× byte blowup; even the
    540-cell 10× fixture leg OOMed a 10-minute-healthy run), while
    the self-join it saves costs one corpus exchange. Keep the
    scored stream narrow."""
    v = with_norm(vectors, vec_col).select(
        F.col(id_col), F.col("_vec"), F.col("_norm")
    )
    cen = with_norm(centroids, vec_col).select(
        F.col(id_col).alias("cell_id"),
        F.col("_vec").alias("cen_vec"),
        F.col("_norm").alias("cen_norm"),
    )
    scored = v.crossJoin(F.broadcast(cen)).select(
        id_col,
        "cell_id",
        (
            _dot(F.col("_vec"), F.col("cen_vec"))
            / (F.col("_norm") * F.col("cen_norm"))
        ).alias("cen_cos"),
    )
    if n_assign == 1:
        # the corpus-side case (every IVF composition assigns the BIG
        # side to exactly one cell): hash aggregation, not a
        # sort-window — the map-side partial min_by collapses each
        # vector's n_cells candidate rows before the exchange, so the
        # shuffle carries ~one row per vector instead of n_cells per
        # vector (same argmin policy as ``pq_codes``). Ordering
        # matches the window branch (and the DuckDB oracles'
        # ``ORDER BY cos DESC`` default): highest cosine wins, ties to
        # the smaller cell_id, NULL cosines rank LAST — struct
        # comparison ranks null lowest, so a raw ``-cen_cos`` would
        # invert that for a zero-norm (dead) centroid and assign every
        # vector to it; +inf restores nulls-last under MIN. (NaN
        # embeddings are out of contract on every branch.)
        nulls_last = F.when(
            F.col("cen_cos").isNotNull(), -F.col("cen_cos")
        ).otherwise(F.lit(float("inf")))
        order = F.struct(nulls_last.alias("_neg"), F.col("cell_id"))
        return scored.groupBy(id_col).agg(
            F.min_by("cell_id", order).alias("cell_id")
        )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cen_cos").desc(), F.col("cell_id").asc()
    )
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_assign)
        .select(id_col, "cell_id")
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single nearest
    cell; each query probes its ``nprobe`` nearest cells and runs exact
    cosine only there."""
    corpus_cells = assign_cells(corpus, centroids, id_col, vec_col, 1)
    query_cells = assign_cells(queries, centroids, id_col, vec_col, nprobe)
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_vec").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
    ).join(
        corpus_cells.select(
            F.col(id_col).alias("neighbor_id"), "cell_id"
        ),
        "neighbor_id",
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    ).join(
        query_cells.select(F.col(id_col).alias("query_id"), "cell_id"),
        "query_id",
    )
    scored = (
        c.join(F.broadcast(q), "cell_id")  # probe join: only shared cells
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos"),
        )
        # no distinct: corpus vectors live in exactly ONE cell
        # (n_assign=1), so each (query, neighbor) pair arrives once —
        # the old guard was a full shuffle for a no-op
    )
    return _ranked_topk(
        scored, k, [F.col("cos").desc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank"
    )


def semantic_keep_list(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style keep list: from the cosine near-dup pair set
    (id_a < id_b, cos ≥ τ) greedily drop every ``id_b`` — each document
    survives unless a lower-id near-duplicate exists. Deterministic
    (no clustering iteration), one anti-join over the pair set; at
    corpus scale the pair set is produced per LSH/IVF block and the
    anti-join shuffles only ids."""
    pairs = embedding_near_dup_pairs(
        vectors, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return vectors.select(id_col).join(drop, id_col, "left_anti")


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "block",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ τ).

    ``impl='block'`` (default): exact distributed block-pair GEMM. Each
    vector is hashed to one of ``n_blocks`` buckets by ``pmod(id, B)``;
    every unordered bucket pair (i ≤ j) becomes one task group holding
    bucket i as the "a" side and bucket j as the "b" side, and an Arrow
    ``applyInPandas`` kernel runs one float64 GEMM per group. The result
    is EXACTLY the all-pairs set (no candidate loss at any τ), but with
    no driver materialization, no corpus broadcast, and per-task memory
    bounded at ~2·n/B vectors. Shuffle volume is B× the corpus — at
    100 TB, grow B so blocks fit an executor; the compute stays O(n²)
    because the exact operator is quadratic by definition. For the
    sub-quadratic *approximate* path see ``cell_near_dup_pairs`` (IVF
    cell blocking) or LSH banding in ``operators/dedup.py``.

    ``impl='sql'``: pure-JVM ``zip_with``/``aggregate`` all-pairs join —
    bit-identical to the sequential-sum SQL oracle; kept as the
    cross-check (tests assert block == sql after round(6)).
    """
    if impl == "sql":
        v = with_norm(vectors, vec_col).select(
            F.col(id_col), F.col("_vec"), F.col("_norm")
        )
        a = v.select(
            F.col(id_col).alias("id_a"),
            F.col("_vec").alias("vec_a"),
            F.col("_norm").alias("norm_a"),
        )
        b = v.select(
            F.col(id_col).alias("id_b"),
            F.col("_vec").alias("vec_b"),
            F.col("_norm").alias("norm_b"),
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
            "id_a",
            "id_b",
            (
                _dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cos"),
        )
        return pairs.filter(F.col("cos") >= threshold).select(
            "id_a", "id_b", F.round("cos", 6).alias("cos")
        )

    from pyspark.sql import types as T

    id_type = vectors.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType)):
        # the GEMM kernel's output schema is integral ids; fall back to
        # the pure-JVM path for string/other id types
        return embedding_near_dup_pairs(
            vectors, threshold, id_col, vec_col, impl="sql"
        )
    thr = float(threshold)
    B = int(n_blocks)
    src = vectors.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_vec")
    )
    # a-side: bucket b participates in groups (b, b), (b, b+1) … (b, B-1)
    a_side = src.withColumn(
        "_bi", F.pmod(F.col("_id"), F.lit(B)).cast("int")
    ).withColumn(
        "_bj", F.explode(F.sequence(F.col("_bi"), F.lit(B - 1)))
    ).withColumn("_side", F.lit(0))
    # b-side: bucket b participates in groups (0, b) … (b-1, b); guard the
    # empty range — F.sequence(0, -1) would yield a *descending* [0, -1]
    b_side = src.withColumn(
        "_bj", F.pmod(F.col("_id"), F.lit(B)).cast("int")
    ).withColumn(
        "_bi",
        F.explode(
            F.when(
                F.col("_bj") > 0,
                F.sequence(F.lit(0), F.col("_bj") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ),
    ).withColumn("_side", F.lit(1))
    tagged = a_side.unionByName(b_side.select(*a_side.columns))

    def gemm_block(pdf):
        import numpy as _np
        import pandas as _pd

        empty = _pd.DataFrame({
            "id_a": _pd.Series(dtype="int64"),
            "id_b": _pd.Series(dtype="int64"),
            "cos": _pd.Series(dtype="float64"),
        })
        if not len(pdf):
            return empty

        def prep(sub):
            ids = sub["_id"].to_numpy(dtype=_np.int64)
            mat = _np.array(list(sub["_vec"]), dtype=_np.float64)
            mat /= _np.linalg.norm(mat, axis=1, keepdims=True)
            return ids, mat

        if pdf["_bi"].iloc[0] == pdf["_bj"].iloc[0]:
            # diagonal group: all rows are a-side; pairs within the bucket
            ids, mat = prep(pdf)
            sims = mat @ mat.T
            ai, bi_ = _np.nonzero(
                (sims >= thr) & (ids[:, None] < ids[None, :])
            )
            id_a, id_b = ids[ai], ids[bi_]
            cos = sims[ai, bi_]
        else:
            a = pdf[pdf["_side"] == 0]
            b = pdf[pdf["_side"] == 1]
            if not len(a) or not len(b):
                return empty
            a_ids, a_mat = prep(a)
            b_ids, b_mat = prep(b)
            sims = a_mat @ b_mat.T
            ai, bi_ = _np.nonzero(sims >= thr)
            lo = _np.minimum(a_ids[ai], b_ids[bi_])
            hi = _np.maximum(a_ids[ai], b_ids[bi_])
            id_a, id_b, cos = lo, hi, sims[ai, bi_]
        # round half-AWAY-FROM-ZERO like Spark's F.round (np.round is
        # banker's half-to-even — a cosine landing exactly on a 1e-6
        # tie would diverge from the impl='sql' twin; r13 review)
        cos6 = _np.copysign(
            _np.floor(_np.abs(cos) * 1e6 + 0.5) / 1e6, cos
        )
        return _pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos": cos6})

    return tagged.groupBy("_bi", "_bj").applyInPandas(
        gemm_block, schema="id_a LONG, id_b LONG, cos DOUBLE"
    )


def cell_near_dup_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate near-dup pairs via IVF cell blocking — the
    sub-quadratic 100 TB path. Vectors are assigned to their ``n_assign``
    nearest centroids (broadcast argmin, narrow); the exact GEMM kernel
    runs only *within* each cell, so compute drops from O(n²) to
    O(Σ cell²) ≈ O(n²/n_cells) for balanced cells. A pair is found iff
    the two vectors share at least one cell — recall rises with
    ``n_assign`` (near-dups at high τ almost always share a nearest
    centroid). Results are deduplicated across shared cells.
    """
    from pyspark.sql import types as T

    id_type = vectors.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType)):
        # same guard as embedding_near_dup_pairs (r13 review): the GEMM
        # kernel's output schema is integral ids — a string id would
        # cast to NULL here and crash the pandas kernel mid-job with an
        # opaque executor PythonException instead of a clear build-time
        # contract error
        raise ValueError(
            f"cell_near_dup_pairs: id_col {id_col!r} must be an "
            f"integral type (got {id_type.simpleString()}); map ids to "
            f"longs first, or use embedding_near_dup_pairs(impl='sql') "
            f"for string ids"
        )
    cells = assign_cells(vectors, centroids, id_col, vec_col, n_assign)
    tagged = vectors.join(cells, id_col).select(
        F.col("cell_id"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_vec"),
    )
    thr = float(threshold)

    def gemm_cell(pdf):
        import numpy as _np
        import pandas as _pd

        if len(pdf) < 2:
            return _pd.DataFrame({
                "id_a": _pd.Series(dtype="int64"),
                "id_b": _pd.Series(dtype="int64"),
                "cos": _pd.Series(dtype="float64"),
            })
        ids = pdf["_id"].to_numpy(dtype=_np.int64)
        mat = _np.array(list(pdf["_vec"]), dtype=_np.float64)
        mat /= _np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        ai, bi_ = _np.nonzero((sims >= thr) & (ids[:, None] < ids[None, :]))
        c = sims[ai, bi_]
        # half-away-from-zero, matching F.round (see gemm_block)
        c6 = _np.copysign(_np.floor(_np.abs(c) * 1e6 + 0.5) / 1e6, c)
        return _pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[bi_], "cos": c6}
        )

    pairs = tagged.groupBy("cell_id").applyInPandas(
        gemm_cell, schema="id_a LONG, id_b LONG, cos DOUBLE"
    )
    # n_assign > 1 → the same pair can surface in up to n_assign cells
    return pairs.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))


def kmeans_refine(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration of k-means over an embedding column — the
    cluster step of clustering-based curation (SemDeDup-style pruning,
    topic bucketing, diversity sampling): assign every vector to its
    nearest seed centroid by cosine, recompute each cluster's mean
    vector, and re-assign against the refined centroids. Returns
    ``(id, cluster_init, cluster_refined, cos_refined)``.

    Determinism/oracle-parity: centroid means accumulate as
    ``DECIMAL(27,10)`` — exact and ORDER-INDEPENDENT, so Spark's
    nondeterministic partial-agg order cannot perturb the result (a
    double sum over rows would). The only floating ops are the final
    decimal→double cast + one division per (cluster, dim) and the
    left-to-right dot-product folds — identical IEEE ops in identical
    order on both engines. A double→decimal(·,10) cast can never hit a
    rounding tie (a tie needs the double to equal (2k+1)/(2·10¹⁰),
    whose denominator has factor 5¹⁰ — not a binary fraction), so both
    engines round identically.

    Scale shape: assignment is a broadcast argmax (narrow, one corpus
    pass); the mean recompute is one shuffle keyed on (cluster, dim) —
    k·d groups, partial-aggregated map-side; re-assignment broadcasts
    the k refined centroids. Per-iteration cost is O(corpus · k · d)
    compute with O(k·d) shuffle — the canonical distributed k-means
    step. Loop it for more iterations; curation pipelines typically run
    a handful over a sampled corpus, then one final assignment pass.
    """
    assign0 = assign_cells(vectors, centroids, id_col, vec_col, 1)
    vals = vectors.join(assign0, id_col).select(
        F.col("cell_id").alias("cluster"),
        F.posexplode(_as_double(vec_col)).alias("dim", "val"),
    )
    means = (
        vals.groupBy("cluster", "dim")
        .agg(
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cluster",
            "dim",
            (
                F.col("s").cast("double") / F.col("n").cast("double")
            ).alias("m"),
        )
    )
    cen1 = (
        means.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select(
            "cluster",
            F.transform("dm", lambda x: x["m"]).alias("cvec"),
        )
        .withColumn("cnorm", _norm(F.col("cvec")))
    )
    v = with_norm(vectors, vec_col).select(
        F.col(id_col), F.col("_vec"), F.col("_norm")
    )
    scored = v.crossJoin(F.broadcast(cen1)).select(
        id_col,
        "cluster",
        (
            _dot(F.col("_vec"), F.col("cvec"))
            / (F.col("_norm") * F.col("cnorm"))
        ).alias("cos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos").desc(), F.col("cluster").asc()
    )
    refined = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("cluster").alias("cluster_refined"),
            F.round("cos", 6).alias("cos_refined"),
        )
    )
    return (
        assign0.withColumnRenamed("cell_id", "cluster_init")
        .join(refined, id_col)
        .select(id_col, "cluster_init", "cluster_refined", "cos_refined")
    )


def srp_plane_value(plane: int, dim: int, seed: str = "p") -> int:
    """Deterministic random-hyperplane component: 16-bit signed integer
    from md5(``'{seed}{plane}:{dim}'``) — computed with hashlib here and
    with SQL ``md5`` in the DuckDB oracle, same bytes either way."""
    import hashlib

    return (
        int(hashlib.md5(f"{seed}{plane}:{dim}".encode()).hexdigest()[:4], 16)
        - 32768
    )


def srp_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Signed-random-projection (SRP) LSH signatures for cosine space:
    bit ``i`` = sign of the dot product with a deterministic md5-derived
    hyperplane — ``P(bit differs) = angle/π``, so Hamming distance on
    the signature estimates angular distance (the cosine-space sibling
    of text SimHash; band the bits for sub-quadratic near-dup candidate
    generation exactly like ``dedup.simhash``'s pairing path).

    Exactness: plane components are 16-bit integers (exact doubles),
    products and the left-to-right fold are IEEE-identical in Spark's
    ``aggregate`` and DuckDB's ``list_sum``, so even the SIGN of each
    dot — and therefore the whole signature — is value-gated, not just
    distribution-tested. Planes are precomputed driver-side and
    embedded as literal arrays: per row the work is ``n_planes`` fused
    zip-multiply folds, zero shuffles, no per-row hashing.
    """
    from functools import reduce
    from operator import add

    dv = _as_double(vec_col)
    bits = []
    for i in range(n_planes):
        plane = F.array(
            *[
                F.lit(float(srp_plane_value(i, d)))
                for d in range(dim)
            ]
        )
        dot = F.aggregate(
            F.zip_with(dv, plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append((dot > 0).cast("int") * F.lit(1 << i))
    return df.select(
        F.col(id_col), reduce(add, bits).cast("int").alias("sig")
    )


def ann_recall(
    exact_topk: DataFrame, approx_topk: DataFrame, k: int
) -> DataFrame:
    """Recall@k evaluation — the metric that justifies shipping an
    approximate index: per query, how many of the EXACT top-k neighbors
    the approximate (IVF/LSH/int8) path recovered. Emitted as integer
    ``hits`` out of ``k`` (exact arithmetic; turning it into a float
    ratio is the caller's presentation choice, not the operator's).

    Scale shape: both inputs are top-k lists — O(queries × k) rows —
    so the semi-join and per-query count are trivially small no matter
    the corpus size; the expensive parts already happened upstream.
    A query whose approximate list shares nothing with the exact list
    still appears, with ``hits = 0``.
    """
    pairs = ["query_id", "neighbor_id"]
    hit = exact_topk.select(*pairs).join(
        approx_topk.select(*pairs), pairs, "left_semi"
    )
    per_q = hit.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("hits")
    )
    return (
        exact_topk.select("query_id")
        .distinct()
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0)).cast("int").alias("hits"),
            F.lit(k).cast("int").alias("k"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    label — the "confusable" examples a contrastive or metric-learning
    loss needs (easy negatives are free; hard ones require exactly this
    nearest-other-class search). Same broadcast-queries × one-corpus-pass
    shape as ``cosine_topk`` with a label-inequality filter fused into
    the scan; ties broken by neighbor id for determinism.

    Scale shape: queries broadcast (mining batches are small relative to
    the corpus), corpus streamed once, per-query top-k via window over
    the O(q·corpus) scored stream with partial top-k pushdown; swap the
    corpus side to the IVF-cell path when q grows.
    """
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col("_vec").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col("_vec").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos"),
        )
    )
    return _ranked_topk(
        scored, k, [F.col("cos").desc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        F.round("cos", 6).alias("cos"),
        "rank",
    )


def centroid_classify(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid label audit: build one prototype per label (the
    exact-decimal per-dimension mean, same order-independent
    accumulation as ``kmeans_refine``), assign every vector to its
    nearest prototype by cosine, and emit the confusion matrix
    ``(label, pred_label, n, mean_cos)`` — the standard embedding-space
    sanity check that catches mislabeled slices and collapsed classes
    before a classifier or curriculum trusts the labels.

    Scale shape: label means are one shuffle on (label, dim) — k·d
    groups, map-side partials; assignment broadcasts the k prototypes
    over one corpus pass; the confusion rollup is a k² hash-agg. The
    per-cell mean cosine also accumulates as DECIMAL so the matrix is
    engine- and partitioning-exact.
    """
    vals = vectors.select(
        F.col(label_col).alias("cls"),
        F.posexplode(_as_double(vec_col)).alias("dim", "val"),
    )
    means = (
        vals.groupBy("cls", "dim")
        .agg(
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cls",
            "dim",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias(
                "m"
            ),
        )
    )
    cen = (
        means.groupBy("cls")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select("cls", F.transform("dm", lambda x: x["m"]).alias("cvec"))
        .withColumn("cnorm", _norm(F.col("cvec")))
    )
    v = with_norm(vectors, vec_col).select(
        F.col(id_col),
        F.col(label_col).alias("label"),
        F.col("_vec"),
        F.col("_norm"),
    )
    scored = v.crossJoin(F.broadcast(cen)).select(
        id_col,
        "label",
        "cls",
        (
            _dot(F.col("_vec"), F.col("cvec"))
            / (F.col("_norm") * F.col("cnorm"))
        ).alias("cos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos").desc(), F.col("cls").asc()
    )
    top1 = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return top1.groupBy("label", F.col("cls").alias("pred_label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.col("cos").cast("decimal(27,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_cos"),
    )


def _sub_sqdist(a: Column, b: Column, m: int, sub_dim: int) -> Column:
    """Squared L2 distance between subspace ``m`` of two double arrays:
    left-fold of per-dimension squared diffs — same association order
    as the oracle's list comprehension + list_sum."""
    sa = F.slice(a, m * sub_dim + 1, sub_dim)
    sb = F.slice(b, m * sub_dim + 1, sub_dim)
    return F.aggregate(
        F.zip_with(sa, sb, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def local_bounded(df: DataFrame, max_rows: int) -> DataFrame:
    """Materialize a PROVABLY bounded frame (codebooks, query panels,
    fixed centroid sets — metadata-sized by construction) as a
    LocalRelation: one driver collect, after which every downstream
    branch reuses the rows instead of re-running the bounding scan per
    reference (each lazy re-evaluation of an ``orderBy().limit(n)``
    costs a full TakeOrdered pass over its source — the r11 plan audit
    counted seven such corpus scans in one residual-IVF-PQ query).
    The M3 driver-collect pattern, applied to constant-size plan
    inputs; raises if the claimed bound is violated.

    CONTRACT NOTE: this makes the recipes that use it (``pq_codes``,
    ``pq_adc_topk``, ``ivfpq_*_topk``, ``opq_adc_topk``) evaluate
    their codebook / panel / nlist inputs EAGERLY, at DataFrame-BUILD
    time — like FAISS's train(), the quantizer is trained when the
    index is constructed, not when it is queried. A plan built before
    new corpus rows land serves the codebook trained at build; rebuild
    the plan to retrain. (Fully-lazy codebooks would instead re-run a
    TakeOrdered corpus scan per consumer — seven per residual query —
    and could desynchronize encode vs LUT under the same drift.)"""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"local_bounded: frame exceeds its claimed bound "
            f"({len(rows)} > {max_rows} rows)"
        )
    out = df.sparkSession.createDataFrame(rows, df.schema)
    # carry the collected rows on the frame (r14): downstream
    # metadata-sized derivations (seed-count validation, codebook
    # ranking, residual seeds) can then run driver-side with ZERO
    # Spark jobs — even a count() on this RDD-backed local costs two
    # scheduled jobs, and the r14 build-phase audit measured 12 such
    # pre-action jobs serialized in front of one ANN query
    out._lb_rows = rows
    return out


def local_bounded_many(
    *frames: tuple[DataFrame, int],
) -> list[DataFrame]:
    """``local_bounded`` over several INDEPENDENT bounded frames,
    collected concurrently (one Python thread per frame — Spark
    schedules concurrent jobs fairly, so k bounding scans overlap
    instead of serializing k driver round-trips in front of the main
    job; the r11 follow-up found the serial collects were most of the
    localization's small-scale overhead). Order of results matches the
    argument order. Zero frames is a no-op; a single frame collects
    inline. The worker threads are ``pyspark.InheritableThread``s so
    the collects inherit the caller's Spark local properties (job
    group / description / scheduler pool) — a plain thread pool would
    run them outside the caller's job group, detaching them from
    cancellation and from any fair-scheduler pool the session pinned
    (the r12 ADVICE finding)."""
    if not frames:
        return []
    if len(frames) == 1:
        df, n = frames[0]
        return [local_bounded(df, n)]
    from pyspark import InheritableThread

    results: list = [None] * len(frames)
    errors: list = []

    def run(i: int, df: DataFrame, n: int) -> None:
        try:
            results[i] = local_bounded(df, n)
        except BaseException as e:  # surfaced below, never swallowed
            errors.append(e)

    threads = [
        InheritableThread(target=run, args=(i, df, n))
        for i, (df, n) in enumerate(frames)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _validate_seed_count(
    seeds: DataFrame, n_codes: int, fn: str, arg: str = "seeds"
) -> None:
    """Every entry point accepting an INJECTED codebook seed frame must
    agree with its ``n_codes`` — a drifted caller-side slice bound
    would otherwise train/encode against a wrong-sized codebook with no
    error (size the slice with ``PQ_N_CODES``, or pass ``n_codes``
    explicitly next to it). Injected frames are pre-localized
    LocalRelations by contract, so the count is driver-cheap. This is
    deliberately STRICTER than the derived-seeds path on degenerate
    corpora: a corpus with fewer than ``n_codes`` vectors shrinks the
    derived codebook silently, while an injected short slice raises —
    pass the matching smaller ``n_codes`` explicitly there (the raise
    cannot distinguish a short corpus from a drifted slice bound, and
    silent acceptance would mask the drift bug this guard exists
    for)."""
    rows = getattr(seeds, "_lb_rows", None)
    # frames produced by local_bounded carry their rows — the count is
    # a len(), zero Spark jobs (count() on the RDD-backed local is two)
    n_seed = len(rows) if rows is not None else seeds.count()
    if n_seed != n_codes:
        raise ValueError(
            f"{fn}: {arg} has {n_seed} rows but n_codes={n_codes} — "
            f"size the seed slice with PQ_N_CODES or pass a matching "
            f"n_codes"
        )


def _pq_seeds(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_codes: int,
    localize: bool = True,
) -> DataFrame:
    """THE PQ codebook: sub-vectors of the ``n_codes`` smallest-id
    vectors, with dense codeword ids. Single source of truth — the
    encode pass and every ADC LUT must derive their codebook from this
    one function, or codes and LUTs silently desynchronize.
    ``localize=True`` returns a LocalRelation (``local_bounded``): the
    codebook is n_codes rows by construction, and lazily re-deriving
    it per consumer costs a TakeOrdered corpus pass each time — right
    when MULTIPLE consumers share the frame. A SINGLE-consumer caller
    (standalone ``pq_codes``) passes ``localize=False``: there the
    lazy broadcast build computes the identical scan in-flight, and an
    eager collect would only serialize it in front of the main job."""
    seed_slice = vectors.orderBy(id_col).limit(n_codes)
    if not localize:
        return _seed_codebook(seed_slice, id_col, vec_col)
    # localized path (r14): collect the SLICE (one TakeOrdered job)
    # and rank/cast driver-side — collecting THROUGH the row_number
    # window used to pay the window's exchange as 3-6 AQE stage jobs
    # for a 16-row frame
    return _seed_codebook_local(
        local_bounded(seed_slice, n_codes), id_col, vec_col, n_codes
    )


#: codebook frame schema — shared by the Spark and driver-side builders
_CODEBOOK_SCHEMA = T.StructType(
    [
        T.StructField("_sv", T.ArrayType(T.DoubleType())),
        T.StructField("cid", T.IntegerType(), nullable=False),
    ]
)


def _as_double_py(vec) -> list | None:
    """Python twin of :func:`_as_double` on a COLLECTED array value:
    ``transform(x -> cast(x as double))`` — collected floats are
    already exact Python doubles (float32 widens losslessly), so the
    twin is the identity apart from null propagation. Pinned bit-exact
    against the Spark expression by ``tests/test_extensions.py``."""
    if vec is None:
        return None
    return [None if x is None else float(x) for x in vec]


def _seed_codebook_local(
    seed_vecs: DataFrame, id_col: str, vec_col: str, n_codes: int
) -> DataFrame:
    """Driver-side :func:`_seed_codebook` for a PRE-LOCALIZED seed
    slice: the only operations are ordering by the (unique, non-null
    by construction) seed id and the double cast — both trivially
    bit-exact in Python — so the codebook frame materializes with ZERO
    Spark jobs instead of collecting through the row_number window's
    exchange. Falls back to the Spark derivation when the frame does
    not carry its rows (not produced by ``local_bounded``) or an id is
    unexpectedly null."""
    rows = getattr(seed_vecs, "_lb_rows", None)
    if rows is None or any(r[id_col] is None for r in rows):
        return local_bounded(
            _seed_codebook(seed_vecs, id_col, vec_col), n_codes
        )
    ordered = sorted(rows, key=lambda r: r[id_col])
    out_rows = [
        (_as_double_py(r[vec_col]), cid) for cid, r in enumerate(ordered)
    ]
    out = seed_vecs.sparkSession.createDataFrame(
        out_rows, _CODEBOOK_SCHEMA
    )
    # tag with the driver-built rows directly (no collect round-trip)
    from pyspark.sql import Row

    out._lb_rows = [Row(_sv=v, cid=c) for v, c in out_rows]
    return out


def _dot_py(a: list, b: list) -> float | None:
    """Python twin of :func:`_dot` on collected values: zip_with
    products left-folded from 0.0 — the same IEEE ops in the same
    order, so the result is bit-identical. Null anywhere (including
    the implicit nulls ``zip_with`` pads for length-mismatched arrays)
    poisons the fold to NULL exactly as in Spark."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def _norm_py(a: list) -> float | None:
    """Python twin of :func:`_norm`: sqrt of the left-folded squared
    elements — IEEE-identical to the Spark expression."""
    if a is None:
        return None
    import math

    acc = 0.0
    for x in a:
        if x is None:
            return None
        acc = acc + x * x
    return math.sqrt(acc)


def _local_residual_codebook(
    seed_vecs: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame | None:
    """Driver-side residual codebook for :func:`ivfpq_residual_topk`
    when BOTH the seed slice and the coarse quantizer are localized
    (the bounded/sampled serving recipes): assign each of the n_codes
    seeds to its best cell and subtract the centroid, mirroring the
    Spark expressions op-for-op (:func:`_dot_py` / :func:`_norm_py`
    twins, the same highest-cosine-then-smallest-cell tie policy, the
    same elementwise ``x - y``) — bit-exactness is pinned by
    ``tests/test_extensions.py::test_local_residual_codebook_parity``.
    Collecting this 16-row derivation through Spark cost ~6 AQE stage
    jobs (two exchanges) serialized in front of the main query.

    Returns ``None`` — caller falls back to the Spark derivation —
    when either frame does not carry its rows, an id is null, or any
    cosine is NULL/degenerate (zero-norm centroid: Spark's double
    division returns NULL there in non-ANSI mode and raises under
    ANSI; the fallback keeps whichever semantics the session has)."""
    import math

    srows = getattr(seed_vecs, "_lb_rows", None)
    crows = getattr(centroids, "_lb_rows", None)
    if not srows or not crows:
        return None
    if any(r[id_col] is None for r in srows) or any(
        r[id_col] is None for r in crows
    ):
        return None
    cen = [
        (r[id_col], _as_double_py(r[vec_col])) for r in crows
    ]
    cen = [(cid, v, _norm_py(v)) for cid, v in cen]
    out_rows: list[tuple] = []
    for r in sorted(srows, key=lambda r: r[id_col]):
        v = _as_double_py(r[vec_col])
        nv = _norm_py(v)
        best = None
        for cell_id, cv, nc in cen:
            num = _dot_py(v, cv)
            if num is None or nv is None or nc is None:
                return None  # NULL cosine: fall back to Spark
            den = nv * nc
            if den == 0.0:
                return None  # zero-norm: session-dependent semantics
            cos = num / den
            neg = -cos
            key = (1 if math.isnan(neg) else 0, 0.0 if math.isnan(neg) else neg, cell_id)
            if best is None or key < best[0]:
                best = (key, cv)
        cv = best[1]
        if len(v) != len(cv):
            # dimension-mismatched seed/centroid: Spark's zip_with
            # emits a max-length array null-padded at the tail, which
            # a whole-null residual would NOT reproduce — fall back to
            # the Spark derivation like the other degenerate inputs
            # (r14 advice)
            return None
        res = [
            None if (x is None or y is None) else x - y
            for x, y in zip(v, cv)
        ]
        out_rows.append((res, len(out_rows)))
    out = seed_vecs.sparkSession.createDataFrame(
        out_rows, _CODEBOOK_SCHEMA
    )
    from pyspark.sql import Row

    out._lb_rows = [Row(_sv=v, cid=c) for v, c in out_rows]
    return out


def _seed_codebook(
    seed_slice: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Seed-slice rows → codebook frame (``cid``, ``_sv``): the ONE
    transform from raw seed vectors to dense codeword ids, shared by
    :func:`_pq_seeds` and the pre-collected ``seed_vecs`` injection
    seams so the two can never derive different codebooks from the
    same slice."""
    seeds = seed_slice.select(
        F.col(id_col).alias("_sid"), _as_double(vec_col).alias("_sv")
    )
    return seeds.withColumn(
        "cid", F.row_number().over(Window.orderBy("_sid")) - 1
    ).drop("_sid")


def pq_codes(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    sub_dim: int = 8,
    n_codes: int = PQ_N_CODES,
    seeds: DataFrame | None = None,
    validate_seeds: bool = True,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011, public): split
    each D-dim vector into ``n_subspaces`` blocks of ``sub_dim`` dims
    and store, per block, the id of its nearest sub-codeword — D floats
    become ``n_subspaces`` small ints (here 64×4B → 8×1B: a 32×
    compression, the representation billion-scale ANN serves from).
    Codebooks are the sub-vectors of the ``n_codes`` smallest-id
    vectors (deterministic sampled initialization; a Lloyd refinement
    per subspace drops in exactly like ``kmeans_refine``). Ties break
    toward the smaller codeword id.

    Scale shape: the codebook (n_subspaces × n_codes sub-vectors) is a
    broadcast constant; encoding is ONE corpus pass computing
    n_subspaces × n_codes fold distances per row, then a groupBy on the
    row id for the argmin — partial aggregation collapses each row's
    n_codes candidates map-side, so the exchange carries ~one
    pre-reduced row per vector (Catalyst cannot elide the shuffle
    itself: vec_id uniqueness is unknown to the optimizer; a
    mapPartitions argmin would avoid it only by leaving the
    declarative plan).
    """
    v = vectors.select(F.col(id_col), _as_double(vec_col).alias("_v"))
    if seeds is None:
        # single consumer: the broadcast build computes the codebook
        # scan in-flight; localizing here would serialize an extra
        # driver job in front of the encode (r11 follow-up finding)
        seeds = _pq_seeds(vectors, id_col, vec_col, n_codes, localize=False)
    elif validate_seeds:
        # caller-injected frames only (pre-localized by contract);
        # internal callers pass validate_seeds=False — they derived
        # the frame from n_codes themselves, and counting a LAZY
        # internal seeds frame (localize_seeds=False paths) would
        # serialize a TakeOrdered corpus pass in front of the encode
        _validate_seed_count(seeds, n_codes, "pq_codes")
    scored = v.crossJoin(F.broadcast(seeds))
    for m in range(n_subspaces):
        scored = scored.withColumn(
            f"d_{m}", _sub_sqdist(F.col("_v"), F.col("_sv"), m, sub_dim)
        )
    return scored.groupBy(id_col).agg(
        *[
            F.min_by("cid", F.struct(F.col(f"d_{m}"), F.col("cid")))
            .cast("int")
            .alias(f"code_{m}")
            for m in range(n_subspaces)
        ]
    )


def _adc_lut_arrays(
    lut_wide: DataFrame, key_cols: list[str], n_subspaces: int
) -> DataFrame:
    """Fold per-(key, codeword) sub-distance rows into per-key LUT
    ARRAYS — one ``array<double>`` per subspace, indexed by codeword
    id (cids are dense 0..n_codes-1 by construction, row_number-derived
    in every codebook builder). This is FAISS's actual ADC layout: the
    LUT is a contiguous array the scan indexes by code byte, not a
    relation it joins on. One tiny aggregation (|keys|·n_codes input
    rows — keys are the broadcast query panel), after which the ADC
    sum is a ROW-WISE expression over the wide code columns
    (:func:`_adc_expr`): no stack to n_subspaces× rows, no (m, code)
    join, no corpus×|Q| re-aggregation shuffle — the r13 rewrite that
    removed two corpus-sized exchanges from every ADC serving plan."""
    aggs = [
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cid").alias("c"),
                        F.col(f"d_{m}").alias("d"),
                    )
                )
            ),
            lambda s: s["d"],
        ).alias(f"_lut_{m}")
        for m in range(n_subspaces)
    ]
    return lut_wide.groupBy(*key_cols).agg(*aggs)


def _adc_expr(n_subspaces: int) -> Column:
    """Row-wise ADC distance: ``Σ_m lut_m[code_m]`` with each term cast
    to DECIMAL(27,12) so the fixed-order 8-term sum is exact (decimal
    addition is associative — bit-identical to the former
    ``sum(decimal)`` aggregation under any partitioning)."""
    terms = [
        F.element_at(F.col(f"_lut_{m}"), F.col(f"code_{m}") + 1).cast(
            "decimal(27,12)"
        )
        for m in range(n_subspaces)
    ]
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    return s.cast("double")


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    sub_dim: int = 8,
    n_codes: int = PQ_N_CODES,
    localize_seeds: bool = True,
    seeds: DataFrame | None = None,
    queries_bound: int | None = None,
) -> DataFrame:
    """Asymmetric distance computation over PQ codes: each query builds
    a lookup table of its exact distance to every sub-codeword
    (n_subspaces × n_codes entries), and a corpus vector's approximate
    distance is the SUM of the LUT entries its codes select — ADC, the
    serving path of IVF-PQ engines (FAISS et al.), here as a pure
    DataFrame program. Per-(query, vector) sums accumulate as
    DECIMAL(27,12) so shuffle arrival order cannot perturb the graded
    doubles. Returns ``(query_id, neighbor_id, adc_dist, rank)``,
    self-matches excluded, ties toward the smaller neighbor id.

    Scale shape: the LUT (queries × codebook) broadcasts; the corpus
    streams once as its (already tiny) code rows; the per-query top-k
    is the same window-over-scored-stream shape as ``cosine_topk``.

    ``queries_bound`` (r15, verdict #5): pass the LAZY query-panel
    selector plus its bound and the panel localization rides the SAME
    concurrent collect round as the codebook seed slice
    (``local_bounded_many``) instead of the caller serializing a
    separate driver collect in front of this call. ``None`` keeps the
    old contract (``queries`` used as passed).
    """
    if queries_bound is not None:
        if seeds is None and localize_seeds:
            queries, seed16 = local_bounded_many(
                (queries, queries_bound),
                (vectors.orderBy(id_col).limit(n_codes), n_codes),
            )
            seeds = _seed_codebook_local(seed16, id_col, vec_col, n_codes)
        else:
            queries = local_bounded(queries, queries_bound)
    if seeds is None:
        seeds = _pq_seeds(
            vectors, id_col, vec_col, n_codes, localize=localize_seeds
        )
    else:
        _validate_seed_count(seeds, n_codes, "pq_adc_topk")
    codes = pq_codes(
        vectors, id_col, vec_col, n_subspaces, sub_dim, n_codes,
        seeds=seeds, validate_seeds=False,  # validated above / internal
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_q")
    )
    lut_wide = q.crossJoin(F.broadcast(seeds))
    for m in range(n_subspaces):
        lut_wide = lut_wide.withColumn(
            f"d_{m}", _sub_sqdist(F.col("_q"), F.col("_sv"), m, sub_dim)
        )
    # per-query LUT arrays + row-wise sum (r13): the scan streams the
    # corpus's wide code rows once against the broadcast LUT arrays —
    # no stack to n_subspaces× rows, no (m, code) join, no
    # corpus×|Q| re-aggregation shuffle (FAISS's array-indexed ADC)
    lut_arr = _adc_lut_arrays(lut_wide, ["query_id"], n_subspaces)
    adc = (
        codes.crossJoin(F.broadcast(lut_arr))
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _adc_expr(n_subspaces).alias("adc"),
        )
    )
    return _ranked_topk(
        adc, k, [F.col("adc").asc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id",
        "neighbor_id",
        F.round("adc", 6).alias("adc_dist"),
        "rank",
    )


def pq_refined_codes(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    sub_dim: int = 8,
    n_codes: int = PQ_N_CODES,
) -> DataFrame:
    """One Lloyd refinement of the PQ codebooks — the "trained PQ" step
    that closes the gap sampled codebooks leave: each (subspace,
    codeword) cell's centroid is recomputed as the DECIMAL-exact mean
    of its members' sub-vectors (order-independent, same policy as
    ``kmeans_refine``), and the corpus re-encodes against the refined
    codebooks. Returns long-form ``(id, m, rcode, rdist)`` — the
    refined code and its (rounded) squared distance per subspace.

    Scale shape: the mean recompute shuffles (subspace, code, dim)
    partials — n_subspaces·n_codes·sub_dim groups, map-side combined;
    re-encoding broadcasts the refined codebook (a constant-size
    table) over one corpus pass. Loop the pair (encode → refine) for
    more Lloyd iterations.
    """
    v = vectors.select(F.col(id_col), _as_double(vec_col).alias("_v"))
    codes = pq_codes(
        vectors, id_col, vec_col, n_subspaces, sub_dim, n_codes
    )
    stack_codes = ", ".join(f"{m}, code_{m}" for m in range(n_subspaces))
    codes_long = codes.selectExpr(
        id_col, f"stack({n_subspaces}, {stack_codes}) AS (m, code)"
    )
    joined = codes_long.join(v, id_col)
    sub = F.slice(
        F.col("_v"), F.col("m") * F.lit(sub_dim) + F.lit(1), F.lit(sub_dim)
    )
    vals = joined.select(
        "m", "code", F.posexplode(sub).alias("dim", "val")
    )
    means = (
        vals.groupBy("m", "code", "dim")
        .agg(
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "m",
            "code",
            "dim",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias(
                "mu"
            ),
        )
    )
    cen = (
        means.groupBy("m", "code")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mu"))).alias("dm"))
        .select("m", "code", F.transform("dm", lambda x: x["mu"]).alias("cvec"))
    )
    qsub = F.slice(
        F.col("_v"), F.col("m") * F.lit(sub_dim) + F.lit(1), F.lit(sub_dim)
    )
    scored = v.crossJoin(F.broadcast(cen)).select(
        id_col,
        "m",
        "code",
        F.aggregate(
            F.zip_with(qsub, F.col("cvec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    return scored.groupBy(id_col, "m").agg(
        F.min_by("code", F.struct(F.col("d"), F.col("code")))
        .cast("int")
        .alias("rcode"),
        F.round(F.min("d"), 6).alias("rdist"),
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    sub_dim: int = 8,
    n_codes: int = PQ_N_CODES,
    localize_seeds: bool = True,
    seed_vecs: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ — the composed billion-scale ANN architecture (FAISS's
    default): the coarse IVF quantizer restricts each query to its
    ``nprobe`` nearest cells' members, and WITHIN the probed cells
    ranking uses PQ codes via ADC lookup-table sums instead of raw
    vectors — the scan touches only code bytes, never the float
    corpus. (Production systems encode residuals against the cell
    centroid before PQ — the next refinement; the composition and
    data flow are identical.)

    Scale shape: cells shard the corpus (the candidate join is
    cell-id-keyed, ~nprobe/n_cells of the data per query), the PQ
    codebook and per-query LUTs broadcast, and per-pair ADC sums
    accumulate as DECIMAL so the ranking is partitioning-exact.

    CONTRACT — ``queries`` must be a BOUNDED serving panel (a fixed
    evaluation panel / per-request batch, metadata-sized like the
    catalog's ``_ann_panel``): its |queries|·nprobe cell assignment
    and its LUT arrays are broadcast UNCONDITIONALLY (the size
    estimate through the assign window defeats the planner, so the
    hint cannot be left to ``autoBroadcastJoinThreshold``). Passing a
    corpus-sized frame here forces a corpus-sized broadcast build —
    use the exhaustive evaluation harnesses for that shape instead
    (r14 advice).
    """
    corpus_cells = assign_cells(corpus, centroids, id_col, vec_col, 1)
    query_cells = assign_cells(queries, centroids, id_col, vec_col, nprobe)
    # ``seed_vecs`` may be passed in pre-localized so the caller can
    # collect it CONCURRENTLY with its panel/centroid bounding scans
    # (one local_bounded_many scan-round instead of a third serialized
    # TakeOrdered corpus collect — the same injection seam the
    # residual recipe has); the injected frame is the n_codes
    # smallest-id CORPUS vectors, i.e. exactly _pq_seeds' input slice
    if seed_vecs is None:
        seeds = _pq_seeds(
            corpus, id_col, vec_col, n_codes, localize=localize_seeds
        )
    else:
        if getattr(seed_vecs, "_lb_rows", None) is None:
            # non-localized injected frame: ONE collect localizes it
            # and supplies both the validation count and the codebook
            # rows — the old path paid an eager count() (2 jobs on an
            # RDD-backed local) PLUS a separate _seed_codebook collect
            # (r14 advice)
            seed_vecs = local_bounded(seed_vecs, n_codes)
        _validate_seed_count(
            seed_vecs, n_codes, "ivfpq_adc_topk", arg="seed_vecs"
        )
        # driver-side ranking (r14): the injected slice is localized by
        # contract, so the codebook frame needs no window exchange —
        # and both its consumers (encode crossJoin + LUT crossJoin)
        # broadcast the materialized rows instead of re-running the
        # window plan per broadcast build
        seeds = _seed_codebook_local(seed_vecs, id_col, vec_col, n_codes)
    codes = pq_codes(
        corpus, id_col, vec_col, n_subspaces, sub_dim, n_codes,
        seeds=seeds, validate_seeds=False,  # validated/derived above
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_q")
    )
    lut_wide = q.crossJoin(F.broadcast(seeds))
    for m in range(n_subspaces):
        lut_wide = lut_wide.withColumn(
            f"d_{m}", _sub_sqdist(F.col("_q"), F.col("_sv"), m, sub_dim)
        )
    # per-query LUT arrays (r13, see _adc_lut_arrays): the probe join
    # attaches each candidate's wide code row, the broadcast LUT
    # arrays ride in on query_id, and the ADC sum is a row-wise
    # expression — the former stack/(m,code)-join/re-aggregate shape
    # paid a corpus×8 shuffle plus a cand-sized agg exchange.
    # No distinct() on the candidate pairs: the corpus side is
    # assigned to exactly ONE cell (n_assign=1) and a query's nprobe
    # cells are distinct, so (query, neighbor) pairs are unique by
    # construction — the old distinct was a full extra shuffle for a
    # no-op.
    lut_arr = _adc_lut_arrays(lut_wide, ["query_id"], n_subspaces)
    # probe join: BROADCAST the |panel|×nprobe query-cell side (the
    # same hint ivf_cosine_topk carries; r14 plan audit) — without it
    # the planner's unknown size estimate through the assign window
    # picked a SortMergeJoin that shuffled the CORPUS assignment by
    # cell_id and then re-shuffled the candidates by neighbor_id: two
    # corpus-sized exchanges for a join against a fixed serving panel.
    # Broadcast-left keeps the corpus side's vec_id partitioning, which
    # the codes join below aligns with co-partitioned.
    cand = (
        F.broadcast(
            query_cells.select(F.col(id_col).alias("query_id"), "cell_id")
        )
        .join(
            corpus_cells.select(
                F.col(id_col).alias("neighbor_id"), "cell_id"
            ),
            "cell_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    adc = (
        cand.join(codes, cand["neighbor_id"] == codes[id_col])
        .join(F.broadcast(lut_arr), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _adc_expr(n_subspaces).alias("adc"),
        )
    )
    return _ranked_topk(
        adc, k, [F.col("adc").asc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id",
        "neighbor_id",
        F.round("adc", 6).alias("adc_dist"),
        "rank",
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    sub_dim: int = 8,
    n_codes: int = PQ_N_CODES,
    seed_vecs: DataFrame | None = None,
) -> DataFrame:
    """RESIDUAL IVF-PQ — the full production recipe (FAISS
    ``IVFPQ``): each corpus vector is PQ-encoded as its RESIDUAL
    against its cell centroid, so the codebook spends its 4 bits on
    the (much smaller) within-cell variation instead of the global
    spread; a query probing cell c ranks members by
    ``||(q - cen_c) - dec(code)||²`` via a per-(query, cell) LUT.
    Completes the family: exact → IVF → int8 → PQ → trained PQ →
    IVF-PQ → residual IVF-PQ.

    Scale shape: identical to ``ivfpq_adc_topk`` — cell-sharded
    candidate join, broadcast codebook and LUTs (LUT rows =
    |queries|·nprobe·M·K), decimal-exact per-pair sums. The residual
    subtraction is a narrow ``zip_with`` fused into the encode and
    LUT passes. ``queries`` carries the same BOUNDED-panel contract
    as ``ivfpq_adc_topk`` (its cell assignment and LUTs broadcast
    unconditionally — see that docstring).
    """
    corpus_cells = assign_cells(corpus, centroids, id_col, vec_col, 1)
    query_cells = assign_cells(queries, centroids, id_col, vec_col, nprobe)
    cen = centroids.select(
        F.col(id_col).alias("cell_id"), _as_double(vec_col).alias("_c")
    )
    # corpus residuals: a 1:1 join back on the id (the assignment side
    # is already hash-partitioned on it) — NOT fused into the assign
    # crossJoin; see assign_cells' docstring for the measured rejection
    res = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("_v"))
        .join(corpus_cells, id_col)
        .join(F.broadcast(cen), "cell_id")
        .select(
            id_col,
            "cell_id",
            F.zip_with("_v", "_c", lambda x, y: x - y).alias("_r"),
        )
    )
    # residual codebook: residuals of the n_codes smallest-id vectors.
    # Derived from the n_codes-vector SLICE, not from ``res`` — a
    # residual is a pure per-row function of (vector, its cell), so
    # ``res.orderBy(id).limit(n)`` would force one full-corpus
    # assign+join pass just to TakeOrdered 16 rows; slicing first
    # computes the identical seeds from 16 rows of work.
    # ``seed_vecs`` may be passed in pre-localized so the caller can
    # collect it CONCURRENTLY with its other bounding scans (the
    # sampled catalog recipe batches cen/panel/seeds into one
    # scan-round via ``local_bounded_many``)
    if seed_vecs is None:
        seed_vecs = local_bounded(
            corpus.orderBy(id_col).limit(n_codes), n_codes
        )
    else:
        _validate_seed_count(
            seed_vecs, n_codes, "ivfpq_residual_topk", arg="seed_vecs"
        )
    # driver-side residual codebook (r14) when both the seed slice and
    # the quantizer are localized (the bounded serving recipes): the
    # 16-row Spark derivation below collects through two exchanges
    # (~6 AQE stage jobs) for arithmetic the driver mirrors bit-exactly
    rseeds = _local_residual_codebook(
        seed_vecs, centroids, id_col, vec_col
    )
    if rseeds is None:
        rseeds = (
            seed_vecs.select(F.col(id_col), _as_double(vec_col).alias("_v"))
            .join(
                assign_cells(seed_vecs, centroids, id_col, vec_col, 1),
                id_col,
            )
            .join(F.broadcast(cen), "cell_id")
            .select(
                F.col(id_col).alias("_sid"),
                F.zip_with("_v", "_c", lambda x, y: x - y).alias("_sv"),
            )
        )
        rseeds = rseeds.withColumn(
            "cid", F.row_number().over(Window.orderBy("_sid")) - 1
        ).drop("_sid")
        # n_codes rows by construction; without localization both
        # consumers (encode scored + query LUT) re-run the seed
        # derivation, incl. its centroid-norm scan — in the full
        # recipe that scan is corpus-sized
        rseeds = local_bounded(rseeds, n_codes)
    scored = res.crossJoin(F.broadcast(rseeds))
    for m in range(n_subspaces):
        scored = scored.withColumn(
            f"d_{m}", _sub_sqdist(F.col("_r"), F.col("_sv"), m, sub_dim)
        )
    codes = scored.groupBy(id_col).agg(
        *[
            F.min_by("cid", F.struct(F.col(f"d_{m}"), F.col("cid")))
            .cast("int")
            .alias(f"code_{m}")
            for m in range(n_subspaces)
        ]
    )
    # per-(query, probed cell) residual LUT
    qres = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_q")
        )
        .join(
            query_cells.select(
                F.col(id_col).alias("query_id"), "cell_id"
            ),
            "query_id",
        )
        .join(F.broadcast(cen), "cell_id")
        .select(
            "query_id",
            "cell_id",
            F.zip_with("_q", "_c", lambda x, y: x - y).alias("_qr"),
        )
    )
    lut_wide = qres.crossJoin(F.broadcast(rseeds))
    for m in range(n_subspaces):
        lut_wide = lut_wide.withColumn(
            f"d_{m}", _sub_sqdist(F.col("_qr"), F.col("_sv"), m, sub_dim)
        )
    # per-(query, probed cell) LUT arrays + row-wise ADC (r13, see
    # _adc_lut_arrays); no distinct() — corpus n_assign=1 makes
    # (query, neighbor, cell) unique by construction
    lut_arr = _adc_lut_arrays(
        lut_wide, ["query_id", "cell_id"], n_subspaces
    )
    # broadcast the fixed |panel|×nprobe query-cell side — see the
    # ivfpq_adc_topk probe-join note (two corpus-sized exchanges
    # otherwise, r14 plan audit)
    cand = (
        F.broadcast(
            query_cells.select(F.col(id_col).alias("query_id"), "cell_id")
        )
        .join(
            corpus_cells.select(
                F.col(id_col).alias("neighbor_id"), "cell_id"
            ),
            "cell_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell_id")
    )
    adc = (
        cand.join(codes, cand["neighbor_id"] == codes[id_col])
        .join(F.broadcast(lut_arr), ["query_id", "cell_id"])
        .select(
            "query_id",
            "neighbor_id",
            _adc_expr(n_subspaces).alias("adc"),
        )
    )
    return _ranked_topk(
        adc, k, [F.col("adc").asc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id",
        "neighbor_id",
        F.round("adc", 6).alias("adc_dist"),
        "rank",
    )


# ------------------------------------------------------------- OPQ (lite)


def opq_dim_permutation(
    vectors: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
) -> DataFrame:
    """Energy-balanced dimension permutation — the public
    "OPQ-lite" initialization of Ge et al. 2013 (Optimized Product
    Quantization, CVPR): instead of learning a dense rotation, assign
    dimensions to subspaces so each subspace carries comparable
    energy. High-energy dimensions concentrated in one subspace starve
    the others' codebooks; balancing is most of OPQ's win on
    axis-aligned data, and a permutation (unlike a rotation) keeps
    every downstream kernel and oracle exactly reproducible.

    Mechanism: rank dimensions by total energy ``Σ x_d²`` (per-term
    cast to DECIMAL(38,12), summed exactly — order-independent,
    engine-portable), then SNAKE-deal them across the ``n_subspaces``
    buckets (round 0 left-to-right, round 1 right-to-left, ...), so
    every bucket receives one dimension per rank-round and the
    top-ranked dims spread maximally. Returns ``(d, new_pos)`` —
    0-based original dimension → 0-based permuted position
    (``new_pos = bucket * sub_dim + round``). Pure relational program
    over ``dim`` rows; the statistics pass is one corpus scan.
    """
    if dim % n_subspaces != 0:
        # the snake-deal position formula is a bijection ONLY for a
        # divisible split; a ragged split would silently collide
        # new_pos values (two dims mapped to one slot, others never
        # assigned) and corrupt every downstream OPQ distance (r13
        # review) — same guard shape as lsh_candidate_pairs'
        # num_perm/band_size check
        raise ValueError(
            f"opq_dim_permutation: dim={dim} not divisible by "
            f"n_subspaces={n_subspaces}; pad the vectors or pick a "
            f"divisor (FAISS's OPQ has the same constraint)"
        )
    sub_dim = dim // n_subspaces
    x = vectors.select(
        F.posexplode(_as_double(vec_col)).alias("d", "x")
    )
    energy = x.groupBy("d").agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).alias("e")
    )
    ranked = energy.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("e").desc(), F.col("d")))
        - 1,
    )
    rnd = (F.col("rn") / n_subspaces).cast("int")
    pos = F.col("rn") % n_subspaces
    bucket = F.when(rnd % 2 == 0, pos).otherwise(n_subspaces - 1 - pos)
    return ranked.select(
        "d", (bucket * sub_dim + rnd).cast("int").alias("new_pos")
    )


def apply_dim_permutation(
    df: DataFrame,
    perm: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project each vector through a dimension permutation given as a
    new_pos-indexed list of original dims. A NARROW map (``dim``
    getItems inside one projection, whole-stage codegen) — no explode,
    no shuffle; the permutation itself is ``dim`` entries of driver
    metadata (M3-style)."""
    v = _as_double(vec_col)
    return df.select(
        F.col(id_col),
        F.array(*[v[orig] for orig in perm]).alias(vec_col),
    )


def collect_dim_permutation(perm_df: DataFrame, dim: int) -> list[int]:
    """Materialize ``opq_dim_permutation`` output as the new_pos-indexed
    list ``apply_dim_permutation`` consumes (dim rows — metadata).
    Raises on an incomplete permutation: an empty statistics source
    (e.g. a sampling fraction that keeps no ids) yields zero rows, and
    silently defaulting to ``[0]*dim`` would serve every query from
    dimension 0 repeated — fail loudly instead (r11 self-review)."""
    rows = perm_df.collect()
    if len(rows) != dim:
        raise ValueError(
            f"dimension permutation has {len(rows)} rows, expected {dim} "
            "— empty/partial energy statistics (is the stats sample "
            "fraction keeping any rows?)"
        )
    arr: list[int] = [0] * dim
    for r in rows:
        arr[r["new_pos"]] = r["d"]
    return arr


def _dim_permutation_list(
    vectors: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
) -> list[int]:
    """Fused :func:`opq_dim_permutation` + :func:`collect_dim_permutation`
    (r14): per-dimension energies come from ONE ungrouped aggregate of
    ``dim`` decimal-sum columns — no posexplode row blowup (64× the
    corpus rows fed the old groupBy), no (d)-keyed exchange, and no
    row_number window to collect through (the old collect paid the agg
    + window exchanges as 4-6 AQE stage jobs). Ranking and the
    snake-deal are integer/Decimal arithmetic on 64 driver values —
    exact, so the permutation is identical (parity pinned by
    ``tests/test_extensions.py::test_dim_permutation_list_parity``).

    Falls back to the relational derivation when any energy is NULL
    (empty stats source or a dimension absent/all-null — the relational
    path's raise/rank-last split for those cannot be distinguished
    from one aggregate row)."""
    if dim % n_subspaces != 0:
        raise ValueError(
            f"opq_dim_permutation: dim={dim} not divisible by "
            f"n_subspaces={n_subspaces}; pad the vectors or pick a "
            f"divisor (FAISS's OPQ has the same constraint)"
        )
    sub_dim = dim // n_subspaces
    v = _as_double(vec_col)
    row = vectors.agg(
        *[
            F.sum(
                (v[d] * v[d]).cast("decimal(38,12)")
            ).alias(f"e_{d}")
            for d in range(dim)
        ]
    ).collect()[0]
    energies = [row[f"e_{d}"] for d in range(dim)]
    if any(e is None for e in energies):
        return collect_dim_permutation(
            opq_dim_permutation(vectors, vec_col, dim, n_subspaces), dim
        )
    ranked = sorted(range(dim), key=lambda d: (-energies[d], d))
    arr: list[int] = [0] * dim
    for rn, d in enumerate(ranked):
        rnd, pos = rn // n_subspaces, rn % n_subspaces
        bucket = pos if rnd % 2 == 0 else n_subspaces - 1 - pos
        arr[bucket * sub_dim + rnd] = d
    return arr


def opq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    sub_dim: int = 8,
    n_codes: int = PQ_N_CODES,
    stats_sample_frac: float | None = None,
    queries_bound: int | None = None,
) -> DataFrame:
    """OPQ-lite ADC serving: permute dimensions for subspace energy
    balance (:func:`opq_dim_permutation`, statistics from the CORPUS
    only), then run the standard PQ encode + ADC top-k on the permuted
    vectors. A permutation is an isometry, so exact distances are
    unchanged — only the quantizer's subspace decomposition improves;
    recall@k versus plain PQ is graded by ``sim_ann_compare``.

    Scale: the permutation adds one corpus statistics pass (a
    ``dim``-row aggregate) and a free narrow projection; everything
    downstream is exactly :func:`pq_adc_topk`'s broadcast-LUT shape.
    At 100 TB even that statistics scan is worth skipping:
    ``stats_sample_frac`` computes the energy ranking on a
    deterministic id-hash sample (``dedup.hash_sample`` — same recipe
    as ``lsh_config_eval``'s sampled ground truth); per-dimension
    energy is an average-like statistic, so a small sample preserves
    the RANKING the permutation depends on while the encode/serve
    passes still touch every vector.
    """
    stats_src = vectors
    if stats_sample_frac is not None:
        from emr_hudi_example_spark.operators.dedup import hash_sample

        stats_src = hash_sample(vectors, id_col, stats_sample_frac)
    # the energy-statistics pass and the codebook seed slice are both
    # full-corpus scans and mutually INDEPENDENT — run their driver
    # collects concurrently (one scan-round instead of two serialized:
    # the permuted-corpus top-N the old path took AFTER the permutation
    # equals the raw top-N permuted row-locally, since the permutation
    # is a per-row bijection on the vector and leaves ids untouched)
    # InheritableThreads, not a plain ThreadPoolExecutor (r13 review):
    # plain threads drop the caller's Spark local properties, running
    # the collects outside its job group / fair-scheduler pool — the
    # exact detachment local_bounded_many's r12 fix removed
    from pyspark import InheritableThread

    res: dict = {}
    errs: list = []

    def _run(key, fn, *a):
        try:
            res[key] = fn(*a)
        except BaseException as e:  # surfaced below, never swallowed
            errs.append(e)

    threads = [
        InheritableThread(
            target=_run,
            args=(
                "perm", _dim_permutation_list,
                stats_src, vec_col, dim, n_subspaces,
            ),
        ),
        InheritableThread(
            target=_run,
            args=(
                "seed", local_bounded,
                vectors.orderBy(id_col).limit(n_codes), n_codes,
            ),
        ),
    ]
    if queries_bound is not None:
        # the query-panel localization joins the SAME concurrent
        # collect round (r15, verdict #5) — the caller previously
        # serialized it as a separate driver collect in front of
        # this call
        threads.append(
            InheritableThread(
                target=_run,
                args=("q", local_bounded, queries, queries_bound),
            )
        )
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    perm, seed_slice = res["perm"], res["seed"]
    if queries_bound is not None:
        queries = res["q"]
    vp = apply_dim_permutation(vectors, perm, id_col, vec_col)
    qp = apply_dim_permutation(queries, perm, id_col, vec_col)
    seeds = _pq_seeds(
        apply_dim_permutation(seed_slice, perm, id_col, vec_col),
        id_col, vec_col, n_codes,
    )
    return pq_adc_topk(
        vp, qp, k, id_col, vec_col, n_subspaces, sub_dim, n_codes,
        seeds=seeds,
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_sample_frac: float | None = None,
    query_sample_seed: int = 0,
) -> DataFrame:
    """Exact brute-force squared-L2 top-k per query — the ground truth
    the PQ/OPQ ADC paths approximate (ADC sums sub-codeword squared
    distances, so its ideal limit IS this ranking). Same
    broadcast-queries/corpus-streams shape as :func:`cosine_topk`;
    the distance is a left fold of per-dimension squared diffs (the
    oracle's list_sum association). Returns
    ``(query_id, neighbor_id, sq_dist, rank)``.

    EVALUATION-ONLY at scale: the truth leg is all-pairs by definition
    (|Q|·|C| distance folds). The 100 TB recipe is
    ``query_sample_frac`` — a deterministic ``hash_sample`` of the
    QUERY side (same xxhash64-bucket recipe as ``lsh_config_eval``'s
    ``sample_frac``; r6 verdict #5): recall measured on a hashed 1–5%
    query slice is an unbiased estimate of full-corpus recall, and the
    corpus side still streams — never materialize the cross product.
    Serving paths (IVF/PQ/OPQ) are the production kernels; this is
    their referee."""
    if query_sample_frac is not None:
        from emr_hudi_example_spark.operators.dedup import hash_sample

        queries = hash_sample(
            queries, id_col, query_sample_frac, query_sample_seed
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_c")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_q")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("_q", "_c", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("sq"),
        )
    )
    return _ranked_topk(
        scored, k, [F.col("sq").asc(), F.col("neighbor_id").asc()]
    ).select(
        "query_id",
        "neighbor_id",
        F.round("sq", 6).alias("sq_dist"),
        "rank",
    )
