"""Physical-plan regression guards: the README's plan-hygiene claims,
asserted — so a refactor that silently degrades a broadcast join into a
shuffle, drops predicate pushdown, or turns the range join into a
nested-loop cross join fails CI instead of shipping.

These assert PLAN SHAPE, not timing: shape is stable on any machine,
timing is not.
"""

from __future__ import annotations

from emr_hudi_example_spark import all_queries as catalog
from tests.conftest import SF_CORRECT


def _plan(spark, name: str) -> str:
    df = catalog.Q[name](spark, SF_CORRECT)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_enrich_broadcasts_dimension(spark):
    plan = _plan(spark, "j1_dim_enrich")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filters_push_into_scan(spark):
    plan = _plan(spark, "f2_f3_filters")
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan


def test_range_join_is_equi_join_on_bucket(spark):
    plan = _plan(spark, "j_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_narrow_ops_have_no_exchange(spark):
    # leakage-safe split is a pure narrow expression chain — any
    # Exchange here means someone added an accidental shuffle
    plan = _plan(spark, "corpus_split_leakage_safe")
    assert "Exchange" not in plan


def test_group_sum_partial_aggregation(spark):
    # partial -> exchange -> final: exactly one shuffle for the agg
    plan = _plan(spark, "a1_group_sum")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_cartesian_products_anywhere_in_window(spark):
    """No query in the driver-checked window may plan a CartesianProduct
    (1-row broadcast cross joins are BroadcastNestedLoopJoin w/ 1-row
    side and are allowed; true cartesians over data tables are not)."""
    offenders = []
    for name in list(catalog.Q)[:50]:
        if name.startswith(("lake_", "pipe_")):
            continue  # these execute writes during planning; covered by
            # their own end-state checks
        plan = _plan(spark, name)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_mm_decode_real_is_narrow(spark):
    # builder kernel -> decoder kernel: two chained Arrow stages over
    # the scan, zero shuffles — a shuffle here means someone broke the
    # per-row pipeline shape the 100 TB media path depends on
    plan = _plan(spark, "mm_decode_real")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2


def test_quantize_serialized_output_stays_narrow(spark):
    # the r5 concat_ws serialization must not have introduced a shuffle
    plan = _plan(spark, "sim_quantize_int8")
    assert "Exchange" not in plan


def test_salted_join_salt_reaches_partitioning(spark):
    """j3: the whole point of the salted join is that the shuffle key
    includes the salt — if a refactor lets the optimizer collapse the
    join back to the bare hot key (or broadcast it), the skew
    mitigation silently vanishes."""
    import re

    plan = _plan(spark, "j3_salted_skew_join")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert re.search(r"hashpartitioning\([^)]*_salt", plan)


def test_stratified_sample_is_narrow(spark):
    # rate lookup is an inline literal map — no join, no Exchange
    plan = _plan(spark, "corpus_stratified_sample")
    assert "Exchange" not in plan


def test_wav_decode_is_narrow(spark):
    # builder -> decoder, two chained Arrow kernels, zero shuffles —
    # same contract as the image path
    plan = _plan(spark, "mm_audio_wav")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2


def test_dsir_ratio_table_broadcasts(spark):
    # the <=1024-row hashed-feature ratio table must broadcast against
    # the bigram stream — a shuffle join here would move the whole
    # corpus's bigrams twice at 100 TB
    plan = _plan(spark, "corpus_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cube_is_single_expand_pass(spark):
    # CUBE must plan one Expand + partial/final hash aggregation — not
    # one scan per grouping set
    plan = _plan(spark, "a12_cube_grouping")
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 2


def test_gopher_quality_is_narrow(spark):
    # per-doc quality metrics are pure expression work — any Exchange
    # means an accidental shuffle crept into the filter chain
    plan = _plan(spark, "text_gopher_quality")
    assert "Exchange" not in plan


def test_sliding_window_single_agg_shuffle(spark):
    # explode-to-2-windows is narrow; exactly one agg shuffle after it
    plan = _plan(spark, "a14_sliding_window")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcasts_queries(spark):
    # mining joins the tiny query batch via broadcast — a shuffle or
    # nested-loop here would re-shuffle the whole corpus per batch
    plan = _plan(spark, "sim_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q3_shape_broadcasts_dim_and_takeordered_topk(spark):
    # segment-filtered customers broadcast; global top-10 must be a
    # TakeOrdered (heap + driver merge), never a full Sort of the aggs
    plan = _plan(spark, "j4_order_revenue_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_plans_use_existence_joins(spark):
    # the cohort query must plan real semi/anti joins (probe-side only),
    # not an inner join + dedup
    plan = _plan(spark, "j5_semi_anti_cohorts")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_pq_adc_broadcasts_lut(spark):
    # the per-query LUT-ARRAY relation must broadcast (r13: full-scan
    # ADC pairs every corpus code row with every panel query by
    # DESIGN, so the pairing is a BroadcastNestedLoopJoin against the
    # |panel|-row broadcast — what FAISS's array-indexed ADC scan is
    # relationally); an unhinted CartesianProduct would shuffle the
    # code stream instead
    plan = _plan(spark, "sim_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # and the ADC sum is row-wise — no (query, neighbor)-keyed
    # re-aggregation shuffle: the only aggregates left are the encode
    # argmin (keyed on vec_id) and the tiny LUT-array fold (keyed on
    # query_id); each HashAggregate appears twice (partial + final)
    assert plan.count("HashAggregate") <= 4, plan


def test_ivfpq_broadcasts_lut_and_joins_on_cell(spark):
    plan = _plan(spark, "sim_ivfpq_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the property in the test name (r5 advice): the candidate join must
    # actually be KEYED on the IVF cell — an equi-join whose key list
    # names cell_id, not merely any broadcast join somewhere (sort-merge
    # is fine: probed queries × cells can exceed the broadcast threshold)
    import re

    keyed = re.findall(
        r"(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) "
        r"\[[^\]]*cell_id[^\]]*\]",
        plan,
    )
    assert keyed, "no equi-join keyed on cell_id in:\n" + plan


def test_pq_seeds_localization_matches_consumer_count(spark):
    # shared-consumer recipes (encode + LUT) localize the codebook —
    # their plans carry ZERO TakeOrdered codebook scans (one driver
    # collect serves both); the single-consumer standalone encode
    # stays LAZY — exactly ONE TakeOrdered, fused into the broadcast
    # build instead of serialized as a separate driver job (r11
    # follow-up: AQE does NOT reuse the identical codebook exchanges,
    # so lazy sharing would scan the corpus once per consumer)
    assert _plan(spark, "sim_pq_adc_topk").count("TakeOrdered") == 0
    assert _plan(spark, "sim_ivfpq_topk").count("TakeOrdered") == 0
    assert _plan(spark, "sim_pq_codes").count("TakeOrdered") == 1


def test_opq_adds_no_exchange_over_plain_pq(spark):
    # the OPQ permutation must be a free narrow projection: same
    # broadcast-LUT-array shape as plain PQ-ADC (r13), and NO
    # additional shuffle beyond the (driver-collected, dim-row)
    # statistics pass
    pq = _plan(spark, "sim_pq_adc_topk")
    opq = _plan(spark, "sim_opq_topk")
    assert "BroadcastNestedLoopJoin" in opq
    assert "CartesianProduct" not in opq
    assert opq.count("Exchange") <= pq.count("Exchange")


def test_star_contraction_joins_are_shuffle_hash_or_smj(spark):
    """dedup_cluster_groups (star-contraction CC): every per-round
    star step is an equi-join + hash aggregate — no cartesian products,
    no nested-loop joins, anywhere in the final labeling plan."""
    plan = _plan(spark, "dedup_cluster_groups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mor_partial_fold_single_data_shuffle(spark):
    """The MOR partial-update fold (r9): the running-max eligibility
    window and the per-column max_by aggregation both key on
    (partition_path, record_key), so the data path must plan exactly
    ONE hash exchange — the window's sort output feeds the aggregate
    without re-shuffling. The tombstone branch may broadcast; nothing
    may cartesian. A second data-side hashpartitioning on the key pair
    means someone broke the shared-partitioning shape."""
    import tempfile

    from pyspark.sql import functions as F

    from emr_hudi_example_spark.lake import LakeTable

    base = (
        spark.read.parquet(f"{SF_CORRECT}/customer.parquet")
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, tempfile.mkdtemp(), "d", "pufoldplan", ["c_custkey"],
        "ver", table_type="MERGE_ON_READ", payload="partial_update",
    )
    t.write(base, op="insert", instant="001")
    t.write(
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("ver", F.lit(2).cast("long"))
        .withColumn("c_name", F.lit(None).cast("string")),
        op="upsert", instant="002",
    )
    plan = t.snapshot()._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    # data-path shuffles keyed on (_partition_path, _record_key): the
    # window's one; the groupBy reuses its partitioning. (The tiny
    # tombstone-side aggregate contributes one more hash exchange on
    # its own branch; data rows never traverse it twice.)
    assert plan.count("Exchange hashpartitioning(_partition_path") <= 2


def test_precombine_batch_fold_is_one_hash_agg(spark):
    """The r12 write-time batch preCombine (_precombine_batch /
    _partial_fold): the pairwise closed form must plan as ONE hash
    aggregation with map-side partial combine on the key — no Window,
    no Sort, no second data shuffle. A window- or sort-based rewrite
    would put a per-key sort on EVERY partial_update write's hot
    path."""
    import tempfile

    from pyspark.sql import functions as F

    from emr_hudi_example_spark.lake import LakeTable

    base = (
        spark.read.parquet(f"{SF_CORRECT}/customer.parquet")
        .withColumn("ver", F.lit(1).cast("long"))
    )
    t = LakeTable(
        spark, tempfile.mkdtemp(), "d", "pcbplan", ["c_custkey"],
        "ver", payload="partial_update",
    )
    folded = t._precombine_batch(t._stamp(base, "001"))
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") == 1, plan
    assert "partial_max_by" in plan or "HashAggregate" in plan
    # and the fold is value-correct for a 3-version duplicate batch
    # (the non-associativity example from the ADVICE/review round)
    dup = spark.createDataFrame(
        [("k", 6, None), ("k", 3, "B"), ("k", 4, "C")],
        "k string, ver long, c string",
    )
    t2 = LakeTable(
        spark, tempfile.mkdtemp(), "d", "pcbval", ["k"], "ver",
        payload="partial_update",
    )
    out = t2._precombine_batch(t2._stamp(dup, "001"))
    assert [
        tuple(r) for r in out.select("k", "ver", "c").collect()
    ] == [("k", 6, "C")]


def test_corpus_cell_assign_partial_agg_not_window(spark):
    """assign_cells(n_assign=1) — the corpus side of every IVF
    composition — must plan as an aggregation with a map-side
    partial: a sort-window here shuffles n_cells candidate rows per
    vector at 100 TB instead of ~one pre-reduced row per vector."""
    from pyspark.sql import functions as F

    from emr_hudi_example_spark.catalog import load
    from emr_hudi_example_spark.operators import similarity as S

    emb = load(spark, SF_CORRECT, "embeddings")
    cen = emb.filter(F.col("vec_id") % 37 == 0)
    df = S.assign_cells(emb, cen)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # struct-ordered min_by plans as SortAggregate; the scale property
    # is the MAP-SIDE PARTIAL below the exchange, not the agg flavor
    assert "partial_min_by" in plan
    assert plan.index("partial_min_by") > plan.index("Exchange")
    # the multi-probe query side keeps the ranked window
    q3 = S.assign_cells(emb, cen, n_assign=3)
    assert "Window" in q3._jdf.queryExecution().executedPlan().toString()


def test_ivfpq_probe_join_broadcasts_panel_side(spark):
    """r14: the IVF probe join must BROADCAST the |panel|×nprobe
    query-cell side. Without the hint the planner's unknown estimate
    through the assign window picked a SortMergeJoin that shuffled the
    CORPUS cell assignment by cell_id and re-shuffled the candidates by
    neighbor_id — two corpus-sized exchanges for a fixed-size panel.
    Pin: no shuffle Exchange keyed on cell_id anywhere in the plan."""
    import re

    for q in ("sim_ivfpq_topk", "sim_ivfpq_residual_topk_sampled"):
        plan = _plan(spark, q)
        cell_shuffles = re.findall(
            r"Exchange hashpartitioning\(cell_id[^\)]*\)", plan
        )
        assert not cell_shuffles, (
            f"{q}: corpus cell assignment is shuffled by cell_id — the "
            "probe join lost its panel-side broadcast:\n" + plan
        )


_EXPR = "org.apache.spark.sql.catalyst.expressions."
#: per-row inputs that must not be recomputed once per array element
_PER_ROW = {"StringSplit": "split", "ArrayMax": "array_max"}


def _cls(node) -> str:
    return node[0]["class"].removeprefix(_EXPR)


def _tree(nodes: list, i: int = 0):
    """The expression tree rooted at ``nodes[i]`` as ``(fields,
    children)``, and the index after its last node."""
    children, j = [], i + 1
    for _ in range(nodes[i]["num-children"]):
        child, j = _tree(nodes, j)
        children.append(child)
    return (nodes[i], children), j


def _expr_trees(value):
    """Every expression tree in a ``TreeNode.toJSON`` value. toJSON
    writes an expression as the list of its nodes in pre-order, each
    with its ``num-children``."""
    if isinstance(value, dict):
        for v in value.values():
            yield from _expr_trees(v)
    elif isinstance(value, list):
        if value and all(
            isinstance(n, dict) and n.get("class", "").startswith(_EXPR)
            for n in value
        ):
            i = 0
            while i < len(value):
                tree, i = _tree(value, i)
                yield tree
        else:
            for v in value:
                yield from _expr_trees(v)


def _walk(node, into_lambdas: bool = True):
    yield node
    for c in node[1]:
        if into_lambdas or _cls(c) != "LambdaFunction":
            yield from _walk(c, into_lambdas)


def _var_ids(node) -> set[str]:
    return {
        repr(sorted(n[0]["exprId"].items()))
        for n in _walk(node)
        if _cls(n) == "NamedLambdaVariable"
    }


def _lambda_recomputes(plan_json) -> list[str]:
    """``split(...)`` / ``array_max(...)`` calls in a lambda body whose
    input does not reference that lambda's own variables: the input is
    then the same for every element, yet Catalyst evaluates the body,
    and so the call, once per element."""
    found = []
    for tree in _expr_trees(plan_json):
        for lam in _walk(tree):
            if _cls(lam) != "LambdaFunction":
                continue
            body, *args = lam[1]
            own = set().union(*(_var_ids(a) for a in args))
            for n in _walk(body, into_lambdas=False):
                if _cls(n) in _PER_ROW and not _var_ids(n[1][0]) & own:
                    found.append(_PER_ROW[_cls(n)])
    return found


def test_lambda_bodies_do_not_recompute_per_row_inputs(spark):
    """A per-row input named inside a ``transform`` lambda body is
    re-evaluated for every element: ``shingles`` re-split each document
    once per window (O(tokens²)) and int8 quantization took the max
    over the whole vector once per element (O(dim²)). Such inputs are
    bound once per row as a lambda variable instead. Checked on the
    optimized plan of every catalog row that does not write a table;
    one ``toJSON`` call per plan, walked on the driver."""
    import json

    offenders = {}
    for name in catalog.Q:
        if name.startswith(("lake_", "pipe_")):
            continue
        df = catalog.Q[name](spark, SF_CORRECT)
        plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
        found = _lambda_recomputes(plan)
        if found:
            offenders[name] = sorted(set(found))
    assert not offenders, "per-element recompute in: " + ", ".join(
        f"{name} {calls}" for name, calls in sorted(offenders.items())
    )
