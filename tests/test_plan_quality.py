"""Physical-plan quality gates.

Correctness tests prove the right ANSWER; these prove the right PLAN —
the properties that decide whether a query survives a 100x scale-up:
filters reaching the parquet scan, column pruning, broadcast instead of
shuffle joins for dims, semi/anti join strategies, and no row-at-a-time
Python in any hot path.  A regression here is invisible at sf0.01 and
fatal at 100 TB, which is exactly why it is asserted in CI.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from hadoop_logfile_inputformat_spark.plans.registry import MEMBER_QUERIES, QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = (QUERIES.get(name) or MEMBER_QUERIES[name])(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], "shipdate filter must reach the parquet scan"
    schema_line = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in schema_line, "unused columns must be pruned from the scan"
    assert "l_partkey" not in schema_line


def test_dim_joins_broadcast_not_shuffle(spark):
    for name in ("q3_shipping_priority", "part_brand_revenue", "q9_profit_by_nation_year"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dim join must broadcast"


def test_range_join_is_broadcast_nested_loop(spark):
    plan = plan_of(spark, "price_band_counts")
    assert "BroadcastNestedLoopJoin" in plan


def test_semi_and_anti_join_strategies(spark):
    assert "LeftSemi" in plan_of(spark, "q4_order_priority")
    assert "LeftAnti" in plan_of(spark, "customers_without_orders")


def test_asof_join_single_user_shuffle(spark):
    """The as-of join must stay one window pass: exactly one exchange on
    user_id above the union, not a join of shuffled streams."""
    plan = plan_of(spark, "asof_purchase_last_click")
    assert "Join" not in plan, "as-of must not degrade to a physical join"
    assert plan.count("Exchange") <= 2


@pytest.mark.parametrize(
    "name",
    [
        n
        for n in QUERIES
        if n
        not in (
            "media_features",
            "logfile_count_by_level",
            "logfile_gzip_equivalence",
            "logfile_stack_hotspots",  # UDTF is deliberately row-path
            "logfile_sample",  # reads through the Python data source
        )
    ],
)
def test_no_row_at_a_time_python_in_hot_paths(spark, name):
    """BatchEvalPython = pickled row-at-a-time UDF — forbidden everywhere.
    (media_features legitimately uses Arrow mapInPandas; the logfile
    queries read through the Python data source itself.)"""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


@pytest.mark.parametrize(
    "name",
    [
        n
        for n in QUERIES
        if n
        not in (
            "logfile_count_by_level",  # Python-data-source reads: plan
            "logfile_gzip_equivalence",  # text is source-internal, no joins
            "logfile_stack_hotspots",
            "logfile_sample",
            "media_features",
        )
    ],
)
def test_no_unbroadcast_cartesian_product(spark, name):
    """CartesianProduct = an UNBROADCAST cross join — |A|x|B| rows
    through a shuffle-less nested loop, the plan shape that dies first
    at scale.  Deliberate cross joins (ANN scoring, interval joins)
    must appear as BroadcastNestedLoopJoin with the small side
    broadcast; this sweep pins that none of them degrade."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, (
        f"{name} plans an unbroadcast cartesian product"
    )


def test_scan_level_aggregate_has_partial_phase(spark):
    """Partial (map-side) aggregation must precede the exchange, so the
    shuffle moves |groups| rows, not |input| rows."""
    plan = plan_of(spark, "q1_pricing_summary")
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert first_agg != -1 and first_exchange != -1
    # the PARTIAL aggregate must appear above (before) the exchange in
    # the formatted plan, and there must be two aggregate phases
    assert first_agg < first_exchange, "no map-side partial aggregation"
    assert plan.count("HashAggregate") >= 2, "missing partial+final phases"


def test_cobucketed_join_is_exchange_free(spark, tmp_path):
    """Writing both facts bucketed by the join key must make the join
    plan exchange-free (the one-time-layout-for-no-shuffle trade)."""
    from hadoop_logfile_inputformat_spark.operators.bucketing import (
        cobucketed_join,
        write_bucketed,
    )
    from hadoop_logfile_inputformat_spark.operators.tables import load

    o = load(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    l = load(spark, SF, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(o, "t_orders_b", "o_orderkey", n_buckets=8)
    write_bucketed(l, "t_lineitem_b", "o_orderkey", n_buckets=8)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (tiny test tables would broadcast,
        # which hides the property under test)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = cobucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "co-bucketed join must not shuffle"
        assert j.count() == l.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_tpch_rest_dims_broadcast(spark):
    """The remaining TPC-H shapes must broadcast their dim sides: a
    shuffle join against nation/region/filtered-part is the classic
    plan regression that only shows up at scale."""
    for name in (
        "q2_min_cost_supplier",
        "q8_market_share",
        "q10_returned_items",
        "q16_supplier_part_counts",
    ):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dim join must broadcast"


def test_q2_prefilters_fact_before_aggregate(spark):
    """Q2's per-(part,supplier) MIN must run on the semi-filtered fact,
    not on all of lineitem — the filters are broadcast semi joins
    below the first aggregate."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    first_agg = plan.find("HashAggregate")
    semi = plan.find("LeftSemi")
    assert semi != -1, "part/supplier filters must be semi joins"
    # formatted plans list operators leaves-last; the semi joins feeding
    # the aggregate appear after it in the text but must exist alongside
    # two aggregate phases (partial+final on the filtered input)
    assert first_agg != -1 and plan.count("HashAggregate") >= 2


def test_q15_and_q11_scalar_subquery_broadcasts(spark):
    """The MAX/SUM scalar threshold must arrive via a broadcast
    (1-row side), never a shuffled join."""
    for name in ("q15_top_supplier", "q11_important_parts"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            f"{name}: scalar threshold must broadcast"
        )


@pytest.mark.parametrize(
    "name",
    # training_corpus shares pack_chunks' cumsum plan with
    # pack_sequences and is omitted: building its DataFrame runs the
    # connected-components fixpoint loop, which dominates suite time.
    ["acctbal_deciles", "customer_rfm", "order_value_distribution",
     "pack_sequences", "substring_dedup", "paragraph_dedup",
     "shard_corpus", "top_terms_per_source"],
)
def test_ranking_queries_have_no_global_sort_partition(spark, name):
    """The ranking/NTILE queries must not funnel data-sized input into a
    single partition (the Window.orderBy-without-partitionBy trap).
    Distributed-rank formulation (operators/ranks.py): any remaining
    Exchange SinglePartition may only merge a PARTIAL aggregate — a
    bounded, ≤#partitions-row stream — never raw rows."""
    df = (QUERIES.get(name) or MEMBER_QUERIES[name])(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "HashAggregate" in child and "partial_" in child, (
            f"{name}: SinglePartition exchange over non-aggregated input:\n"
            f"{line}\n{child}"
        )
    # and no global-order window anywhere (WindowExec would warn).  A
    # windowspecdefinition whose FIRST argument is a sort order (ASC/
    # DESC) has no partition columns — that's the global funnel; a
    # bare column first (e.g. __rank_pid, text_hash) is partitioned.
    import re

    for i, line in enumerate(lines):
        if "Window " in line and "windowspecdefinition" in line:
            assert not re.search(
                r"windowspecdefinition\([^,()]* (ASC|DESC)", line
            ), f"{name}: un-partitioned window:\n{line}"


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _assert_broadcast_row_kernel(plan: str, n_kernels: int = 1) -> list:
    """The shared shape of the argmin kernels: the centroid/codebook
    side arrives as ONE-row BroadcastExchanges (their subtree tops out
    at a global aggregate, keys=[]); the corpus side below the
    nested-loop join carries no Exchange at all; nothing is exchanged
    on vec_id; and ``array_min`` appears exactly once per kernel, so
    the argmin runs once per row.  Returns the lines outside the
    broadcast subtrees."""
    lines = plan.splitlines()
    subtrees, rest, i = [], [], 0
    while i < len(lines):
        if "BroadcastExchange" in lines[i]:
            d, j = _plan_depth(lines[i]), i + 1
            while j < len(lines) and _plan_depth(lines[j]) > d:
                j += 1
            subtrees.append(lines[i:j])
            i = j
        else:
            rest.append(lines[i])
            i += 1
    assert len(subtrees) == n_kernels, plan
    for sub in subtrees:
        top = next(line for line in sub[1:] if "Project" not in line)
        assert "Aggregate(keys=[]" in top, (
            f"broadcast side is not one row:\n{top}"
        )
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "HashJoin" not in plan and "SortMergeJoin" not in plan, plan
    for k, line in enumerate(rest):
        if "BroadcastNestedLoopJoin" in line:
            d = _plan_depth(line)
            below = []
            for other in rest[k + 1:]:
                if _plan_depth(other) <= d:
                    break
                below.append(other)
            assert not any("Exchange" in b for b in below), (
                "corpus side exchanged:\n" + "\n".join(below)
            )
    assert plan.count("array_min") == n_kernels, plan
    return rest


def test_lloyd_training_iteration_has_no_corpus_exchange(spark):
    """The Lloyd's-iteration plans (kmeans_centroids and
    pq_codebooks_kmeans) run through the shared argmin kernels: the
    centroids/codebook ride as one broadcast row, so the corpus is
    never joined on a key, regrouped by vec_id or exchanged — the only
    hash exchange per iteration is the map-side-partial component-mean
    aggregate.  The argmin runs once per VECTOR: one ``array_min`` in
    the plan, in a Project below every Generate (above one, it would
    be recomputed per exploded component — dim x redundant work)."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    # plain scan (tables.load adds its own round-robin repartition,
    # which would read as a false corpus exchange here)
    v = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [[0.0] * 64, [1.0] * 64]
    for frame in (
        S._lloyd_iteration_means(v, cents, "l2"),
        S._lloyd_iteration_means(v, cents, "cosine"),
        S._pq_lloyd_iteration_means(
            S.quantize_frame(v),
            [[[0.0] * S.PQ_SUBDIM, [1.0] * S.PQ_SUBDIM]] * S.PQ_M,
        ),
    ):
        plan = _exec_plan(frame)
        rest = _assert_broadcast_row_kernel(plan)
        hash_ex = [l for l in rest if "Exchange hashpartitioning" in l]
        assert len(hash_ex) == 1, (
            f"exactly one (group-key) exchange expected:\n{plan}"
        )
        assert "vec_id" not in hash_ex[0], (
            f"corpus regrouped by vec_id:\n{hash_ex[0]}"
        )
        # and the exchange's input must already be a partial aggregate
        assert "partial_avg" in plan, "means must partial-aggregate map-side"
        gens = [i for i, l in enumerate(rest) if "Generate" in l]
        argmin = next(i for i, l in enumerate(rest) if "array_min" in l)
        assert gens and argmin > max(gens), (
            "argmin recomputed per exploded component (Project above "
            f"Generate):\n{plan}"
        )


def test_fused_pq_encode_is_a_pure_projection(spark):
    """The PQ encode kernel (builds, appends, the ADC search, codebook
    training) computes every vector's M codes in ONE projection over
    the corpus: the codebook arrives as a one-row broadcast, nothing
    is exchanged on the corpus side, and the M-subspace argmin array
    gets its own projection below the explode — a plain ``posexplode``
    would let the optimizer push an inferred ``size(_enc) > 0`` filter
    into the join and run the argmin twice per vector, so exactly one
    ``array_min`` may appear."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    v = S.quantize_frame(
        spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    )
    cb = S._pq_modulus_codebooks(v, 100)
    plan = _exec_plan(S._pq_encode_bcast(v, cb, carry=("nrm",)))
    rest = _assert_broadcast_row_kernel(plan)
    assert not any("Exchange" in l for l in rest), plan
    gen = [l for l in rest if "Generate" in l]
    assert len(gen) == 1 and "array_min" not in gen[0], plan


def test_centroid_assignment_is_a_pure_projection(spark):
    """The assignment kernel (builds, appends, the IVF twins, k-means
    training) is a projection over the corpus under every metric: the
    centroids arrive as a one-row broadcast, no Exchange anywhere on
    the corpus side (the join form regrouped the whole corpus,
    embeddings included, through groupBy(vec_id)), and the k x dim
    argmin struct evaluates ONCE per row (its alias stays its own
    projection; a collapse would inline it into both the centroid_id
    and c_sim outputs)."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    v = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .withColumn("nrm", F.expr(
            "sqrt(aggregate(zip_with(embedding, embedding, (x, y) ->"
            " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
        ))
    )
    cent = v.limit(4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    for metric in ("cosine", "l2", "ip"):
        plan = _exec_plan(
            S._assign_via_broadcast(v, cent, carry=("label",), metric=metric)
        )
        rest = _assert_broadcast_row_kernel(plan)
        assert not any("Exchange" in l for l in rest), plan


def test_opq_rotation_is_a_pure_pinned_projection(spark):
    """The OPQ rotate (r12) adds NO join and NO exchange to the encode
    chain — the d x d matrix rides as a SQL literal projection — and
    inside the encode kernel the d² matmul evaluates once per row
    BELOW the broadcast join (never inside the per-entry argmin
    lambdas), both for the appends' unpinned rotated frame and for the
    builders' PINNED one (InMemoryRelation).  The kernel shape holds
    either way: one-row codebook broadcast, no corpus exchange, one
    ``array_min``."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    v = S.quantize_frame(
        spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    )
    R = S.learn_opq_rotation(v)
    rotated = v.withColumn("q", F.expr(S._rotate_expr("q", R)))
    plan = _exec_plan(rotated)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    cb = S._pq_modulus_codebooks(v, 100)
    # the rotation's own lambda variable names it in the plan
    enc_plan = _exec_plan(S._pq_encode_bcast(rotated, cb))
    rest = _assert_broadcast_row_kernel(enc_plan)
    argmin = next(l for l in rest if "array_min" in l)
    assert "lambda r#" not in argmin, argmin
    assert any("lambda r#" in l for l in rest), enc_plan
    pinned = rotated.persist()
    try:
        enc_plan = _exec_plan(S._pq_encode_bcast(pinned, cb))
        assert "InMemoryTableScan" in enc_plan, enc_plan
        rest = _assert_broadcast_row_kernel(enc_plan)
        assert not any("Exchange" in l for l in rest), enc_plan
    finally:
        pinned.unpersist(blocking=False)
