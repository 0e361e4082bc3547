"""Central query registry: merges each operator module's QUERIES/ORACLE.

The driver contract (__spark_entry__.py) and the local parity tests both
read from here, so "implemented" has exactly one definition.

Queries present in QUERIES but absent from ORACLE are deliberately
rows-only (non-SQL-expressible ops: LSH candidate generation, iterative
algorithms, stateful streaming).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import archival, page, quiz, register

_MODULES = [register, quiz, page, archival]


# Registration order is a CONTRACT, not cosmetics: the correctness driver
# checks the first 50 registry entries per round. The LLM-pipeline modules
# (iplookup / dedup / similarity / textops / pii / multimodal — the north-star
# operators) therefore come before the long relational tail (tpch /
# analytics / sessions, certified by the round-2 driver run) so every
# flagship operator gets a driver-side CORRECTNESS entry each round.
_EXTENSION_NAMES = [
    "iplookup",
    "dedup",
    "similarity",
    "textops",
    "pii",
    "multimodal",
    "sketches",
    "bpe",
    "curation",
    "tpch",
    "analytics",
    "sessions",
]


def _extended_modules():
    """Extension operator modules are appended as they land.

    Only ImportError is swallowed (an optional dependency genuinely
    absent from the environment must not take down the core registry);
    any other failure — a typo, a NameError at module scope — would
    silently drop every query in the module and surface downstream as
    'unknown query', so it propagates."""
    import importlib
    import sys

    mods = []
    for name in _EXTENSION_NAMES:
        try:
            mods.append(importlib.import_module(f".operators.{name}", __package__))
        except ImportError as exc:
            print(
                f"edu_online_spark: skipping extension module {name!r}: {exc}",
                file=sys.stderr,
            )
    return mods


# Modules whose queries compete for the driver's 50 correctness slots
# (everything before the relational tail, which was driver-certified in
# round 2).
_PREFIX_TAIL_BOUNDARY = "tpch"

# Round-17 window rotation, applied one round late. COVERAGE.md's
# "Round-17 rotation plan" pre-staged this window (the plan pinned by
# tests/test_registry.py::test_rotation_planner_reproduces_round17_plan),
# but the registry edit never landed: round 17 re-certified round 16's
# window (CORRECTNESS_r16.json and CORRECTNESS_r17.json hold the same 50
# names), so the thirty-seven round-12-certified names below fell past
# the staleness bound once r17 became the newest driver file. The list
# is the verbatim output of `python tools/rotation_plan.py 17
# --emit-registry`:
#   1. hard cohort: the 37 round-16 deferrals, last certified r12,
#      heading the window;
#   2. fillers: the 13 most urgent remaining names by ascending
#      deadline, then registry order.
# No window slot is rows-only (tests/test_registry.py's
# ROWS_ONLY_WINDOW_SLOTS is empty), and the R18 promotions are not
# placed: this round registers no new queries.
# Names are validated against the assembled registry — a typo or a
# renamed query fails loudly rather than silently ceding its slot.
_WINDOW_PRIORITY = [
    # 1: hard cohort at its r17 deadline — must head the window
    "corpus_snapshot_diff",
    "corpus_drift_report",
    "docs_quality_budget_fill",
    "docs_winnowing_clusters",
    "docs_winnowing_cross_corpus",
    "text_pii_source_stats",
    "text_pii_redacted",
    "text_url_domains",
    "multimodal_decoded_meta",
    "multimodal_media_summary",
    "multimodal_frame_sample",
    "multimodal_resized",
    "multimodal_audio_features",
    "multimodal_payload_dedup",
    "events_hll_rollup",
    "events_theta_overlap",
    "corpus_token_countmin",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q15_top_supplier",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_profit_by_nation",
    "tpch_q11_important_parts",
    "events_distinct_users_approx",
    "events_funnel",
    "events_daily_anomalies",
    "events_cohort_retention",
    "lineitem_price_quantiles_approx",
    "data_quality_checks",
    "docs_length_histogram",
    "events_time_grain_rollup",
    "events_value_percentiles",
    "customer_record_linkage_multipass",
    "events_inter_arrival_profile",
    "events_scd2_status",
    "purchase_training_examples",
    # 2: fillers by ascending deadline then registry order
    "register_platform_counts",
    "register_windowed_counts",
    "register_sliding_counts",
    "register_cumulative_daily",
    "quiz_mastery",
    "quiz_mastery_approx",
    "page_props_decode",
    "page_flow",
    "archival_daily_counts",
    "source_dup_matrix",
    "dedup_savings_by_source",
    "embeddings_label_centroids",
    "hybrid_search_rrf_lsh",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Module order as declared, with two cross-module rules:
    _WINDOW_PRIORITY names come first (the round's rotation of the
    driver's 50-certification-slot window), then, within the north-star
    PREFIX (core + every extension module before the relational tail),
    oracle-checked entries precede rows-only ones. The driver's
    correctness gate covers only the first 50 entries and gives
    rows-only queries just a weak row-count check — so rows-only
    entries cede their early slots to queries whose hash-match actually
    consumes one."""
    mods = _MODULES + _extended_modules()
    tail_start = next(
        (
            i
            for i, m in enumerate(mods)
            if m.__name__.rsplit(".", 1)[-1] == _PREFIX_TAIL_BOUNDARY
        ),
        len(mods),
    )
    prefix, tail = mods[:tail_start], mods[tail_start:]

    out: dict[str, Callable] = {}

    def add(name, fn):
        if name in out:
            raise ValueError(f"duplicate query name {name!r}")
        out[name] = fn

    deferred: list[tuple[str, Callable]] = []
    for m in prefix:
        oracle_backed = getattr(m, "ORACLE", {})
        for name, fn in m.QUERIES.items():
            if name in oracle_backed:
                add(name, fn)
            else:
                deferred.append((name, fn))
    for name, fn in deferred:
        add(name, fn)
    for m in tail:
        for name, fn in m.QUERIES.items():
            add(name, fn)

    missing = [n for n in _WINDOW_PRIORITY if n not in out]
    if missing:
        raise ValueError(f"_WINDOW_PRIORITY names not in registry: {missing}")
    rotated = {n: out[n] for n in _WINDOW_PRIORITY}
    rotated.update((n, f) for n, f in out.items() if n not in rotated)
    return rotated


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES + _extended_modules():
        out.update(getattr(m, "ORACLE", {}))
    return out
