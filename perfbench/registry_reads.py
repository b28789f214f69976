"""Oracled registry query sets and their expected results.

``QUERY_MIX`` is the interactive set (30 queries across the relational,
tpch, cdc_time, stats, scalar, extensions, training and llm families,
including the eight bench.py/BASELINE.md spine queries) and ``LLM_TAIL``
the heaviest LLM-data and statistics pipelines. ``expected.json`` holds
the DuckDB oracle hash of every one of them over the benchmark corpus
(``oracle.py``). ``SERVE_READS`` are the registry reads ``cdc_serve``
issues every round: the spine query whose builder runs eager jobs (q43)
and the Arrow-UDF query (q52), so the builder, UDF-boundary and transfer
layers are measured there.
"""

from __future__ import annotations

import json

from perfbench.common import BENCH_DIR

QUERY_MIX = (
    "q48_sessionize", "q15_pricing_summary", "q06_star_join",
    "q239_mv_rewrite", "q52_udf_parity", "q63_tfidf_topk",
    "q17_multi_distinct", "q175_gini", "q43_cosine_topk", "q46_cdc_apply",
    "q19_rollup", "q89_stat_moments", "tpch_q05", "q13_asof_join",
    "tpch_q03", "tpch_q10", "q31_topk_per_group", "q71_funnel", "q42_json",
    "q49_tumbling", "q28_lag_lead", "q57_pivot", "tpch_q14",
    "q37_date_suite", "q100_histogram", "q58_scalar_subquery", "tpch_q06",
    "q65_hash_sample", "q36_string_suite", "q32_sort_limit_offset",
)
LLM_TAIL = ("q44e_dedup_clusters", "q44c_jaccard_pairs",
            "q268_winnowing_neardup", "q284_shingle_containment",
            "q250_dedup_threshold_sweep", "q187_poisson_bootstrap",
            "q135_semantic_dedup", "q351_pq_adc_topk")
SERVE_READS = ("q43_cosine_topk", "q52_udf_parity")


def expected_hashes() -> dict[str, str]:
    with open(BENCH_DIR / "expected.json") as f:
        return json.load(f)["hashes"]
