"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual catalog lives in ``datafusion_randgen_spark.queries`` —
this file just re-exports it in the driver's shape.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Family weight for never-verified entries: the LLM-pipeline operator
# families (dedup / similarity / text / multimodal / pipeline /
# streaming / python-datasource) outrank generic SQL-surface entries
# so they reach the driver's CORRECTNESS window first.
_FAMILY_WEIGHT = {
    "d_": 0,
    "s_": 1,
    "t_": 2,
    "p_": 3,
    "m_": 4,
    "st_": 5,
}
_NAMED_WEIGHT = {
    "r_python_datasource_props": 6,
    "r_pyparquet_sink_roundtrip": 6,
    "q10_returned_items": 7,
    "q14_promo_revenue": 7,
    "q19_disjunctive_pred": 7,
    "q_hash_mod_sample": 7,
    "q_sessionization": 7,
    "q_asof_join": 7,
    # r3 promotions: first-class SURVEY 2.D rows still driver-unverified
    # (VERDICT r2 task 4) — must land in the 50-entry window ahead of
    # generic SQL-surface samplers.
    "q_merge_upsert_snapshot": 8,
    "q_cogroup_asof_align": 8,
    "q_variant_semistructured": 8,
    "q_profile_stats": 8,
    "q_recursive_cte": 8,
    "r_datasource_filter_pushdown": 8,
    "st_foreachbatch_upsert": 8,
    "q_pagerank_transitions": 8,
    # r3: complete the partially-verified SURVEY components in one
    # window — D9 (the 16 TPC-H shapes without a driver row yet), D14
    # (event analytics beyond sessionization), D15 (stratified
    # sampling), D19 (outlier filtering) — ahead of generic samplers.
    **{
        n: 9
        for n in (
            "q2_min_cost_supplier q4_order_priority q6_forecast_revenue "
            "q7_volume_shipping q8_market_share q9_product_profit "
            "q11_important_stock q12_shipping_priority_split "
            "q13_customer_distribution q15_top_supplier "
            "q16_parts_supplier_relationship q17_small_quantity_revenue "
            "q18_large_volume_customers q20_excess_suppliers "
            "q21_waiting_supplier q22_global_sales_opportunity "
            "q_event_transitions q_cohort_retention q_funnel_analysis "
            "q_stratified_sample q_outlier_zscore"
        ).split()
    },
    # q_dq_checks / q_changelog_diff intentionally stay at default
    # weight (r4): the r3 window is already full of must-haves (reds,
    # the 16 TPC-H shapes, the promoted first-class ops).
    # r3 demotions to make room (wait for r4): redundant with entries
    # already green or already in the window (null-semantics / window
    # -frame / set-op coverage overlap).
    "q_cross_join_grid": 60,
    "q_not_in_null_semantics": 60,
    "q_window_value_frames": 60,
    "q_union_by_name": 60,
    "q_unpivot_measures": 60,
}

# Entries whose computation path changed in the latest round: green
# before, but the changed code must re-earn its row ahead of unchanged
# greens (per-round history lives in git log).
_REVERIFY: set[str] = {
    "t_bpe_merge_vocab",
    "t_bpe_vocab_stats",
    "t_bpe_encode",
    "d_minhash_lsh_pairs",
    "d_dedup_clusters",
    "d_dedup_keep_best",
    "q_bfs_shortest_path",
    "s_ann_ivf_recall",
}


def _past_results() -> tuple[set[str], set[str], dict[str, int]]:
    """(verified, attempted, last_green_round) across past driver rounds.

    The driver verifies only the first N (=50 in r1) entries of
    ``queries()`` per round, so ordering decides which operators earn a
    CORRECTNESS row.  We read the CORRECTNESS_r*.json files it leaves in
    the repo root and rotate: green entries move to the back, red ones
    to the very front (retry), never-attempted ones fill the window.
    ``last_green_round`` lets the back of the line refresh its STALEST
    greens first instead of re-verifying the same catalog prefix every
    round."""
    verified: set[str] = set()
    attempted: set[str] = set()
    last_green: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for rnd, path in enumerate(
        sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))), start=1
    ):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            attempted.add(name)
            green = (
                not row.get("err")
                and row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green:
                verified.add(name)
                last_green[name] = rnd
    return verified, attempted, last_green


def _driver_order(names: list[str]) -> list[str]:
    verified, attempted, last_green = _past_results()
    catalog_pos = {n: i for i, n in enumerate(names)}

    def key(n: str):
        if n in attempted and n not in verified:
            rank = -1  # red last round: retry at the front
        elif n in verified:
            # green row already earned: back of the line, except entries
            # whose implementation changed this round (re-verify first).
            # Greens refresh STALEST-first (earliest last-green round),
            # so driver re-verification cycles through the catalog
            # instead of re-running the same prefix every round.
            rank = 99 if n in _REVERIFY else 100
        else:
            rank = _NAMED_WEIGHT.get(
                n,
                next(
                    (w for p, w in _FAMILY_WEIGHT.items() if n.startswith(p)),
                    50,
                ),
            )
        return (rank, last_green.get(n, 0), catalog_pos[n])

    return sorted(names, key=key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datafusion_randgen_spark.queries import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so
    driver-unverified entries land in the CORRECTNESS window first."""
    from datafusion_randgen_spark.queries import QUERIES

    return {n: QUERIES[n] for n in _driver_order(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (omitted => rows-only check)."""
    from datafusion_randgen_spark.queries import ORACLES, QUERIES

    order = _driver_order(list(QUERIES))
    return {n: ORACLES[n] for n in order if n in ORACLES}
