"""Plan-shape regression gate: every registry query's static physical
plan is compared against the committed PLAN_AUDIT.json snapshot. A query
that GAINS a shuffle, a sort-merge join, or a cartesian product fails
here — in CI, not in a 100 TB run. After an intentional plan change,
regenerate with `python tools/plan_audit.py` and review the diff.

CAVEAT (r10 advice): checkpoint-tailed queries — the iterative drivers
g16_kcore_peel / g17_label_propagation and operators whose constituents
are lazily localCheckpointed (g13's pair/degree branches) — present as
`Scan ExistingRDD` to the auditor, so their snapshot entries under-count
and the gate cannot see a shuffle gained INSIDE a superstep/branch. For
those, the real shape is pinned in unit tests instead
(tests/test_round10_ops.py::test_lpa_is_checkpoint_tailed and the
operator-level plan pins in test_operators_unit.py /
test_plan_assertions.py), each of which also asserts the checkpoint tail
itself so a dropped checkpoint re-engages this gate automatically."""

from __future__ import annotations

import json
import os

import pytest

from com_danliris_service_etl_spark.plans.registry import load_all

sys_path_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AUDIT_PATH = os.path.join(sys_path_root, "PLAN_AUDIT.json")
SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

with open(AUDIT_PATH) as _f:
    BASELINE = json.load(_f)

REGISTRY = load_all()


def test_every_query_has_an_audit_baseline():
    # Set EQUALITY, not REGISTRY ⊆ BASELINE: a family module dropped from
    # load_all() leaves baselines without a query and must fail here.
    missing = sorted(set(REGISTRY) - set(BASELINE))
    unregistered = sorted(set(BASELINE) - set(REGISTRY))
    assert not missing, (
        f"queries without a PLAN_AUDIT.json baseline: {missing} — "
        "run python tools/plan_audit.py"
    )
    assert not unregistered, (
        f"PLAN_AUDIT.json baselines with no registered query: {unregistered}"
    )


# The expensive iterative/write-side queries execute real jobs during
# plan construction; auditing ALL queries here would double the suite
# runtime for signal the snapshot already carries. The gate re-derives
# plans for a representative spread (joins, funnels, windows, unions,
# text/similarity pipelines) and any query is covered on demand by
# re-running tools/plan_audit.py and diffing.
_GATED = [
    "a0_pricing_summary",
    "dd2_minhash_lsh",
    "g5_funnel_conversion",
    "g6_path_transitions",
    "j1_multiway_left_join",
    "j3_broadcast_dim_join",
    "j7_asof_join",
    "j10_range_join",
    "llm1_clean_corpus",
    "p2_incremental_watermark",
    "pk2_chunk_documents",
    "sim2_lsh_bucketed_topk",
    "sim4_ivf_topk",
    "sim7_recall_eval",
    "st1_tumbling_window",
    "txt5_tfidf_top_terms",
    "txt9_unigram_logprob",
    "txt10_lang_consistency",
    "w4_moving_avg",
    # round-8/9/9b heavyweights (VERDICT r9 task 5): the most expensive
    # plans in PLAN_AUDIT regress silently unless the gate re-derives
    # them — a gained shuffle/SMJ/cartesian here fails the suite, not a
    # future bench round.
    "llm18_quality_gate",
    "llm19_semdedup",
    "llm20_dsir_selection",
    "dd10_prefix_filter_join",
    "dd11_topk_similar",
    "sim10_ivf_pq_topk",
    "g15_last_touch_attribution",
    "txt18_source_divergence",
    # round-10 heavyweights: the composed ablation (embeds the dd10
    # truth join), the fused all-configs banding, and the new iterative
    # drivers' final frames
    "dd12_lsh_ablation",
    "txt21_tokenizer_fertility",
    "g16_kcore_peel",
    "g17_label_propagation",
    "txt20_bpe_encode",
    "llm21_repetition_stats",
    "sim11_rrf_hybrid",
    "sim12_truncated_recall",
]


@pytest.mark.parametrize("name", _GATED)
def test_plan_shape_not_regressed(spark, name):
    from tools.plan_audit import plan_counts

    cur = plan_counts(REGISTRY[name][0](spark, SF))
    base = BASELINE[name]
    for metric in ("shuffles", "sort_merge_joins", "cartesian_products"):
        assert cur[metric] <= base[metric], (
            f"{name}: {metric} regressed {base[metric]} -> {cur[metric]} — "
            "review the plan; if intentional, regenerate PLAN_AUDIT.json"
        )


# Queries ALLOWED to carry an Exchange SinglePartition, with the reason
# each is scale-safe: in every case map-side partial aggregation reduces
# the stream to a scalar row (global count/min/max) or a bounded
# broadcast artifact (the MB-scale benchmark shingle array, per-dim
# layout stats) BEFORE the single-partition exchange — one task receives
# a handful of partial states, never the relation. Anything else funnels
# real data through one task at 100 TB and must fail here.
_SINGLE_PARTITION_ALLOWED = {
    "a4_surrogate_key": "global window on a DIMENSION-sized table by design; fact-scale keys use surrogate_key_distributed (plan-asserted in the TotalHutang golden)",
    "a5_row_count": "global count() — one partial state per partition",
    "a8_histogram": "global min/max stat row (one partial state per partition), broadcast back to the bucketing scan",
    "txt12_pmi_bigrams": "corpus-N and bigram-total scalars (partial-aggregated), broadcast back for the PMI normalizers",
    "g5_funnel_conversion": "final scalar conversion row",
    "g8_pagerank": "|V| node-count scalar for the reset term (one partial state per partition; broadcast back)",
    "sk3_countmin_heavy_hitters": "global top-20 heavy hitters over the vocabulary aggregate — 20-row bounded result",
    "sim6_kmeans_fit": "k-row seed selection (lowest-id vectors) — bounded global limit",
    "llm12_centrality_keeper": "pagerank's 1-row |V| scalar (same bounded aggregate as g8)",
    "j13_bloom_semi_join": "bloom_build's one-row densify aggregate — the m_bits/64-word bitset artifact (kilobytes by construction), broadcast back to the fact probe",
    "llm5_decontamination": "benchmark shingles collapse to ONE broadcast array (eval sets are MB-scale)",
    "llm11_contamination_spans": "same broadcast benchmark-shingle array",
    "llm16_split_repair": "rides llm5's contamination scorer — the same one-row broadcast benchmark-shingle array collapse",
    "o5_zorder_key": "per-dim min/max stat row broadcast to the scan",
    "q1_data_quality": "four scalar metric aggregates unioned",
    "st7_gap_fill": "grid bounds (min/max bucket) scalar",
    "txt5_tfidf_top_terms": "corpus-N scalar for the idf term",
    "txt8_bm25_topk": "corpus-N/avgdl scalar",
    "txt9_unigram_logprob": "vocabulary-total scalar",
    "sk6_quantile_rollup": "r12: the binning grid's min/max now comes from parquet zone-map stats (parquet_column_bounds) so the registry plan carries NO single-partition exchange; the entry stays for the stats-absent fallback path (1-row bounds aggregate, partial-aggregated and broadcast back)",
    "q4_benford_digits": "global-share window over the 9-row digit aggregate — bounded by the digit alphabet, partial-aggregated before the exchange",
    "q5_orphan_profile": "three scalar orphan-count aggregates unioned (the q1 shape; the two lineitem FK checks share one fused scan/collapse) — each membership probe reduces to one partial count per partition before the exchange",
    "a16_small_quantity_loss": "final 1-row loss aggregate (Q17 scalar output) — one partial state per partition of the brand slice",
    "a18_revenue_share_filter": "1-row global total/count over the per-part rollup (Q11 scalar threshold), partial-aggregated and broadcast back",
    "a19_dormant_balances": "1-row avg(c_acctbal) scalar (Q22 threshold), partial-aggregated and broadcast back via crossJoin",
    "txt17_bigram_lm_score": "1-row vocabulary-size scalar (count_distinct partial-aggregated), broadcast back as the add-k smoothing denominator — the txt9 vocabulary-total shape",
    "p9_disjunctive_bands": "final 1-row revenue aggregate (Q19 scalar output) — one partial state per partition of the double-pruned join",
    "a21_top_supplier": "1-row max(total_rev) scalar over the supplier rollup (Q15 tie threshold), partial-aggregated and broadcast back via crossJoin",
    "a22_contribution_analysis": "global share window over the |segments|-row aggregate — bounded by the segment alphabet, partial-aggregated before the exchange (the q4 digit-window class)",
    "txt18_source_divergence": "1-row corpus-token-total scalar (sum over the vocab aggregate, partial-aggregated), broadcast back as the TV-distance normalizer — the txt9 vocabulary-total shape",
    "llm20_dsir_selection": "1-row smoothing-totals scalar (vocab aggregate, partial-aggregated) + the global cut window over the BUCKET histogram (bounded by weight range / bucket width, never by |docs|) — the sk6 bounds / q4 digit-window classes",
    "dd12_lsh_ablation": "1-row |true pairs| scalar (count over the prefix-filter truth set, partial-aggregated), broadcast back as the recall denominator — the a5 count class",
    "g16_kcore_peel": "r15 collect-free trajectory: one 1-row (count, Σdeg) aggregate per peel round over the node-grain degree relation, unioned into the 5-row result — each is partial-aggregated to one state per partition before the exchange (the a5 count class, × rounds+1); the old form hid the identical aggregates behind per-round driver collects",
}


def test_single_partition_exchanges_only_in_allowlist():
    """The committed audit must show SinglePartition exchanges ONLY in
    the documented scalar/bounded-aggregate queries — a new occurrence
    anywhere else is a fact-scale serialization bug (the class the r4
    verdict flagged on the global surrogate_key window)."""
    offenders = {
        name
        for name, counts in BASELINE.items()
        if counts.get("single_partition_exchanges", 0) > 0
    }
    unexpected = offenders - set(_SINGLE_PARTITION_ALLOWED)
    assert not unexpected, (
        f"new Exchange SinglePartition in {sorted(unexpected)} — a single "
        "task would receive the relation at scale; restructure (distributed "
        "two-pass, broadcast stat row) or justify in the allowlist"
    )
