"""Physical-plan assertions: the SCALE.md claims, pinned.

Each test renders `explain("formatted")` and asserts the plan SHAPE —
pushdown reached the scan, dimensions broadcast, fused operators stay
shuffle-free — so a regression that silently re-introduces an exchange or
un-pushes a filter fails CI, not a 100 TB run.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


def test_minhash_signatures_single_exchange(spark):
    """The fused MinHash signature is one per-row projection: the ONLY
    exchange in the plan is the deliberate parallelism repartition
    (spread) — no aggregation shuffle of shingle rows."""
    from com_danliris_service_etl_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    # formatted explain prints each node twice (tree line + detail header);
    # "Node (" matches only the tree line.
    assert plan.count("Exchange (") == 1, plan
    assert "HashAggregate" not in plan, plan


def test_broadcast_dim_join_plans_broadcast(spark):
    """J3: an explicitly-broadcast dimension probe must plan
    BroadcastHashJoin — never a shuffled sort-merge join."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["j3_broadcast_dim_join"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_watermark_predicate_pushed_to_scan(spark):
    """S4/P2: the incremental watermark predicate reaches the parquet scan
    as a pushed filter (row-group skipping at scale), and the scan's
    ReadSchema is pruned to the projected columns."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") > "1995-01-01").select("l_orderkey", "l_shipdate")
    plan = _plan(q)
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0], plan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" not in read_schema, plan


def test_asof_sort_strategy_linear(spark):
    """J7: the union-sort as-of join must not window over a per-row
    partition key (the quadratic join-then-filter shape); its plan carries
    no monotonically_increasing_id and no range-condition join."""
    import datetime as dt

    from com_danliris_service_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "USD", dt.datetime(2024, 2, 1))], "id long, code string, at timestamp"
    )
    right = spark.createDataFrame(
        [("USD", dt.datetime(2024, 1, 1), 1.0)],
        "code string, rate_date timestamp, rate double",
    )
    df = asof_join(
        left, right, left_on="at", right_on="rate_date",
        by=[("code", "code")], tiebreak="rate", strategy="sort",
    )
    plan = _plan(df)
    assert "monotonically_increasing_id" not in plan, plan
    assert "NestedLoop" not in plan, plan


def test_exact_dedup_partial_aggregation(spark):
    """dd1: the digest groupBy must plan a partial (map-side) aggregate
    before the exchange — the exchange carries one row per (digest,
    partition), not raw documents."""
    from com_danliris_service_etl_spark.operators.dedup import exact_dedup_groups

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup_groups(docs))
    # partial + final aggregate around exactly one exchange
    assert plan.count("HashAggregate (") == 2, plan
    assert plan.count("Exchange (") == 1, plan
    tree = plan.split("(1) Scan")[0]
    assert tree.index("HashAggregate") < tree.index("Exchange") < tree.rindex(
        "HashAggregate"
    ), plan  # top-down tree: final agg, exchange, partial agg


def test_multiprobe_corpus_not_exploded(spark):
    """sim3: probe generation must stay on the (small) query side — the
    corpus scan feeds the join directly with no Generate/explode above it."""
    from com_danliris_service_etl_spark.operators.similarity import multiprobe_lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(multiprobe_lsh_topk(emb, emb.filter(emb.vec_id < 3), k=3))
    assert "BroadcastHashJoin" in plan, plan
    # exactly one Generate (the query-side probe explode)
    assert plan.count("Generate (") == 1, plan


def test_filtered_multiprobe_corpus_not_exploded(spark):
    """sim15: same discipline as sim3 — probes generated query-side, the
    corpus scan feeds the composite (label, bucket) equi-join directly
    (BroadcastHashJoin, never a pairwise predicate) with no explode."""
    from com_danliris_service_etl_spark.operators.similarity import (
        filtered_multiprobe_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(
        filtered_multiprobe_topk(emb, emb.filter(emb.vec_id < 3), k=3)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    assert plan.count("Generate (") == 1, plan


def test_rollup_is_one_expand_one_exchange(spark):
    """g1: all rollup grains come from a single Expand + hash aggregate —
    one shuffle for every grain, never one query per grain."""
    from com_danliris_service_etl_spark.plans.queries_graph import g1_rollup_corpus

    plan = _plan(g1_rollup_corpus(spark, SF))
    assert plan.count("Expand (") == 1, plan
    assert plan.count("Exchange (") == 1, plan


def test_pivot_crosstab_single_exchange(spark):
    """g2: the declared-values crosstab is ONE conditional hash aggregate
    (pivot()'s two-aggregate PivotFirst shape is deliberately avoided)."""
    from com_danliris_service_etl_spark.plans.queries_graph import (
        g2_pivot_status_matrix,
    )

    plan = _plan(g2_pivot_status_matrix(spark, SF))
    assert plan.count("Exchange (") == 1, plan


def test_moving_avg_one_window_one_exchange(spark):
    """w4: both frames (3-row moving avg + running total) share one
    Window operator over one partition-key shuffle and one sort."""
    from com_danliris_service_etl_spark.plans.queries_windows import w4_moving_avg

    plan = _plan(w4_moving_avg(spark, SF))
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("Window (") == 1, plan
    assert plan.count("Sort (") == 1, plan


def test_ivf_assign_cells_shuffle_free(spark):
    """sim4's cell assignment: the per-row argmax fold must add NO
    exchange beyond the single-row centroid-array broadcast — the corpus
    is never shuffled or sorted to pick its cell."""
    from com_danliris_service_etl_spark.operators.similarity import ivf_assign_cells

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = emb.filter(emb.vec_id < 8)
    plan = _plan(ivf_assign_cells(emb, cent))
    assert "Sort (" not in plan, plan
    assert "Window (" not in plan, plan
    # the only shuffle exchanges are the single-row centroid-array
    # aggregate and (r14, one-file fixtures only) the conditional
    # `spread` repartition below the argmax fold — the corpus is never
    # shuffled BY KEY or sorted to pick its cell (the broadcast of the
    # centroid row is counted separately: "BroadcastExchange (" also
    # contains "Exchange (")
    n_shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert n_shuffles <= 2, plan


def test_minhash_lsh_pairs_two_exchanges_no_pair_distinct(spark):
    """dd2's pair stage: exactly the spread repartition + the band-bucket
    aggregation — cross-band dedup is the LOCAL first-colliding-band
    filter, so no third exchange (the old global distinct) may reappear."""
    from com_danliris_service_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs))
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert shuffles == 2, plan


def test_nest_children_unique_path_single_shuffle(spark):
    """The parent_key_unique nest path is ONE aggregation exchange: union
    carries the parent struct through the same groupBy that collects the
    child array (no join-side exchanges)."""
    from com_danliris_service_etl_spark.operators.explode import nest_children

    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_orderdate")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    nested = nest_children(
        o, li, parent_key="o_orderkey", child_fk="l_orderkey",
        array_col="items", order_by="l_linenumber", parent_key_unique=True,
    )
    plan = _plan(nested)
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert shuffles == 1, plan
    assert "Join" not in plan, plan


def test_funnel_states_single_data_exchange(spark):
    """g5's capped funnel fold: the explicit user_id repartition must be
    the ONLY data shuffle — the (user, code) cap window and the per-user
    groupBy both reuse hashpartitioning(user_id). The cap itself must
    survive as a rank limit so skewed accounts never reach the fold
    uncapped."""
    from com_danliris_service_etl_spark.plans.queries_graph import _funnel_states
    from com_danliris_service_etl_spark.plans.registry import _events

    ev = _events(spark, SF)
    per_event = ev.select(
        "user_id",
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .alias("code"),
        F.col("ts_us").alias("ts"),
    ).filter(F.col("code").isNotNull())
    plan = _plan(_funnel_states(per_event, cap=1000))
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert shuffles == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_funnel_states_bounded_heavy_user(spark):
    """A bot account with 100k funnel events must (a) run through the
    capped fold without an unbounded per-user buffer and (b) still count
    correctly: its first view/click/purchase triple is inside the cap, so
    truncation is exact here."""
    from pyspark.sql import Row

    from com_danliris_service_etl_spark.plans.queries_graph import _funnel_states

    heavy = spark.range(100_000).select(
        F.lit(7).alias("user_id"),
        # codes cycle 1,2,3 so the funnel completes immediately; ts strictly
        # increasing so ordering is deterministic
        (F.col("id") % 3 + 1).cast("int").alias("code"),
        (F.col("id") + 1).alias("ts"),
    )
    light = spark.createDataFrame(
        [Row(user_id=8, code=1, ts=5), Row(user_id=8, code=3, ts=6)]
    )
    out = {
        r.user_id: (r.st.v, r.st.c, r.st.p)
        for r in _funnel_states(heavy.unionByName(light), cap=50).collect()
    }
    # heavy user: view@1, click@2, purchase@3; light user: view only
    assert out[7] == (1, 2, 3)
    assert out[8] == (5, None, None)


def test_ivf_topk_query_filter_single_assignment(spark):
    """sim4's query_filter path quantizes the corpus ONCE: both join sides
    derive from the materialized assignment, so the plan contains exactly
    one aggregate subtree for the centroid codebook build and no second
    cell-assignment pass."""
    from com_danliris_service_etl_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = emb.filter(F.col("vec_id") < 16)
    out = ivf_topk(emb, None, cent, k=5, query_filter=F.col("vec_id") < 10)
    plan = _plan(out)
    # the assignment was checkpointed: the plan scans the materialized RDD,
    # not two copies of the quantization pipeline
    assert plan.count("Scan ExistingRDD") >= 1, plan
    assert "aggregate(" not in plan.split("Scan ExistingRDD")[0], plan


def test_unigram_logprob_vocab_joins_broadcast(spark):
    """txt9: the unigram model join and the corpus-total join must both be
    broadcasts — the corpus-sized tf relation is never shuffled to meet
    the (always-broadcastable) vocabulary."""
    from com_danliris_service_etl_spark.operators.text import unigram_logprob_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(unigram_logprob_scores(docs))
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_exact_jaccard_verify_no_cartesian(spark):
    """llm9's verification stage: every join is an equi-join (semi on the
    candidate ids, hash on (doc, shingle)) — no cartesian product may
    appear anywhere in the verification plan."""
    from com_danliris_service_etl_spark.operators.dedup import exact_jaccard_verify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    plan = _plan(exact_jaccard_verify(docs, pairs))
    assert "CartesianProduct" not in plan, plan


def test_path_transitions_single_data_exchange(spark):
    """g6: one shuffle moves event DATA (the user_id window partitioning);
    the post-window aggregations re-key only the tiny transition-matrix
    partials."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["g6_path_transitions"][0](spark, SF))
    # window partition exchange + distinct-count expand re-keys; no join,
    # no cartesian, and exactly one Sort (the per-user window order)
    assert "CartesianProduct" not in plan and "Join" not in plan, plan
    assert plan.count("Window (") == 1, plan


def test_pq_adc_join_broadcasts_distance_table(spark):
    """sim8: the ADC scoring join must broadcast the per-query distance
    tables onto the code matrix — the corpus side is never shuffled or
    cartesian-multiplied. Since the row-local-fold rewrite the query
    side is an m×K array per query joined under `query != neighbor`
    (BroadcastNestedLoopJoin over the BROADCAST query batch — the loop
    is |corpus|·|queries|, exactly the ADC candidate set, not a corpus
    cross-product). Data exchanges: the final top-k window's, plus
    `spread`'s CONDITIONAL round-robin of the compact corpus rows
    (present here because the one-file fixture arrives as a single
    partition; absent on a well-partitioned input). Since the r5 literal
    codebook there is NO BroadcastExchange for the codebook — only the
    query batch is broadcast."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["sim8_pq_topk"][0](spark, SF))
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly one codebook/query broadcast; window + conditional spread
    # are the only data exchanges
    assert plan.count("BroadcastExchange (") == 1, plan
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") <= 2, plan


def test_fuzzy_join_is_equi_join_on_block(spark):
    """j11: the candidate join must be an equi-join on the block key with
    the edit distance as residual — a cartesian product would mean the
    blocking silently stopped reaching the join."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["j11_fuzzy_join"][0](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan


def test_a14_shipping_priority_plan_shape(spark):
    """TPC-H Q3: both date predicates reach their parquet scans, the
    customer dim broadcasts, the fact⋈fact orderkey edge is the hinted
    SHUFFLED HASH join (r14 adjudication: no probe-side sort at any
    scale, no fact broadcast), and the top-10 is TakeOrderedAndProject
    — never a global sort of the aggregate."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["a14_shipping_priority"][0](spark, SF))
    pushed = [
        seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]
    ]
    assert any("o_orderdate" in p for p in pushed), plan
    assert any("l_shipdate" in p for p in pushed), plan
    import re

    # tree lines end in "(n)"; detail headers repeat the node name, so a
    # bare substring count doubles
    tree_bhj = re.findall(r"BroadcastHashJoin [^\n]*\(\d+\)$", plan, re.M)
    assert len(tree_bhj) == 1, plan
    tree_shj = re.findall(r"ShuffledHashJoin [^\n]*\(\d+\)$", plan, re.M)
    assert len(tree_shj) == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_a15_region_revenue_plan_shape(spark):
    """TPC-H Q5 shape: the dim chain is all broadcast joins, the date
    band reaches the orders scan, the fact⋈fact edge is the hinted
    shuffled hash join (r14 — no sort-merge anywhere), and beyond its
    two key exchanges the only shuffle is the 5-row final aggregate."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["a15_region_revenue"][0](spark, SF))
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in p for p in pushed), plan
    assert any("r_name" in p for p in pushed), plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 3, plan


def test_o6_keyset_cursor_pushed_and_topk(spark):
    """Keyset pagination: the cursor's first disjunct reaches the scan
    (OFFSET cannot do this) and the page is TakeOrderedAndProject."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["o6_keyset_pagination"][0](spark, SF))
    assert "PushedFilters:" in plan, plan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "o_orderdate" in pushed, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange (") == plan.count("BroadcastExchange ("), plan


def test_j15_anti_join_pushed_filter_and_broadcast(spark):
    """NOT EXISTS: the date predicate reaches the orders scan BEFORE the
    anti-join, and the join itself is a broadcast hash anti-join."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["j15_anti_join"][0](spark, SF))
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in p for p in pushed), plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan


def test_j17_null_safe_join_stays_hash_join(spark):
    """eqNullSafe must remain an equi hash-join key (BroadcastHashJoin),
    never degrade to BroadcastNestedLoopJoin — the trap of an
    isNull-AND-isNull OR-rewrite."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["j17_null_safe_join"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_e6_posexplode_shuffle_free(spark):
    """Positional explode is a pure generator over the scan — zero
    exchanges of any kind."""
    from com_danliris_service_etl_spark.plans.registry import REGISTRY, load_all

    load_all()
    plan = _plan(REGISTRY["e6_posexplode"][0](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan
