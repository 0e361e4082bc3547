"""Registry contract: extension isolation and name/oracle hygiene."""

from __future__ import annotations

from edu_online_spark import registry


def test_all_oracles_have_queries():
    qs, os_ = registry.queries(), registry.oracle_sql()
    orphans = set(os_) - set(qs)
    assert not orphans, f"oracle entries without queries: {orphans}"


def test_rows_only_set_is_intentional():
    """Every query without an oracle must be on the documented
    rows-only list — a new query silently missing its oracle fails."""
    qs, os_ = registry.queries(), registry.oracle_sql()
    rows_only = set(qs) - set(os_)
    # round 4 moved the approx/recall quartet to boolean-tolerance
    # oracles (exact columns hash-checked, estimate envelope pinned);
    # what remains is genuinely engine-defined or sequential
    assert rows_only == {
        "ann_all_pairs_topk",
        "corpus_bpe_merges",
        # round 14: engine-defined MinHash estimator calibration —
        # its correctness pins are the pytest bias/spread envelopes
        "dedup_minhash_calibration",
        "dedup_simhash",
        "docs_bpe_encoded",
        "docs_compression_ratio",
        "docs_lm_perplexity",
        "docs_winnowing_fingerprints_fast",
        "events_user_value_ewma",
        "hybrid_search_rrf_lsh_prod",
        "sim_knn_ivf",
        "sim_knn_lsh",
        "text_fingerprints_fast",
        "text_knn_minhash",
    }


def test_broken_extension_does_not_kill_core(monkeypatch):
    """ADVICE r1: one failing extension import must not take down the
    core registry."""
    import importlib

    real_import = importlib.import_module

    def broken(name, package=None):
        if name.endswith(".tpch"):
            raise ImportError("simulated broken extension")
        return real_import(name, package)

    monkeypatch.setattr(importlib, "import_module", broken)
    # force a re-resolve through the guarded loader
    mods = registry._extended_modules()
    names = {m.__name__.rsplit(".", 1)[-1] for m in mods}
    assert "tpch" not in names          # the broken one was skipped
    assert "dedup" in names and "textops" in names  # the rest survived


# The round-17 rotation (applied one round late, see the comment above
# registry._WINDOW_PRIORITY) is the 37-name round-12-certified hard
# cohort plus 13 planner fillers, every one of them oracle-backed:
# COVERAGE.md's round-17 plan has ZERO rows-only slots, and
# test_rotation_planner_reproduces_round17_plan pins
# rows_only_slots == []. The declaration must match the applied window,
# so no window slot may be rows-only.
ROWS_ONLY_WINDOW_SLOTS: set[str] = set()


def test_driver_window_contract():
    """The driver certifies only the first 50 registry entries. Pin the
    round-8 rotation contract: every _WINDOW_PRIORITY name (the
    staleness cohort + this round's changed and new queries) sits
    inside the window, and the only rows-only names in any window
    slot are the declared ones."""
    qs = list(registry.queries())
    os_ = set(registry.oracle_sql())
    first50 = qs[:50]
    for name in registry._WINDOW_PRIORITY:
        assert name in first50, f"{name} fell out of the driver window"
        if name not in ROWS_ONLY_WINDOW_SLOTS:
            assert name in os_, f"priority slot wasted on rows-only {name}"
    rows_only_in_window = {q for q in first50 if q not in os_}
    assert rows_only_in_window == ROWS_ONLY_WINDOW_SLOTS


# Rotation cadence: with ~160 registry queries and a 50-slot window the
# full cycle takes ceil(160/50) + changed/new/sentinel overhead ≈ 5
# rounds; a query whose driver row is older than that has silently
# fallen out of the rotation.
STALENESS_BOUND_ROUNDS = 5


def test_rotation_staleness_bound():
    """VERDICT r5 #7: mechanically enforce the rotation contract —
    every registry query must either sit in the current driver window
    or have a driver-side CORRECTNESS row within the last
    STALENESS_BOUND_ROUNDS rounds. Uses the CORRECTNESS_r*.json files
    the driver writes at the repo root; skips (rather than passes
    vacuously) if none exist."""
    import glob
    import json
    import os

    import pytest

    root = os.path.join(os.path.dirname(__file__), "..")
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if not files:
        pytest.skip("no driver CORRECTNESS files present")
    latest_round = max(
        int(os.path.basename(f).split("_r")[1].split(".")[0]) for f in files
    )
    last_seen: dict[str, int] = {}
    for f in files:
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        for name in json.load(open(f)):
            last_seen[name] = max(last_seen.get(name, 0), rnd)

    window = set(list(registry.queries())[:50])
    stale = {
        name: last_seen.get(name)
        for name in registry.queries()
        if name not in window
        and (latest_round + 1) - last_seen.get(name, 0) > STALENESS_BOUND_ROUNDS
    }
    assert not stale, (
        f"queries neither in the current window nor driver-certified in "
        f"the last {STALENESS_BOUND_ROUNDS} rounds: {stale}"
    )


def test_rotation_planner_reproduces_round17_plan():
    """tools/rotation_plan.py must reproduce the committed round-17
    arithmetic (replayed from the CORRECTNESS files up to r16): the
    hard cohort is EXACTLY the thirty-seven round-16 deferrals — the
    eleven tail fillers the r16 changed/new/promoted names displaced
    (consensus probe fusion + composed-diagnostics checkpoint fix +
    the new composed winnowing entry + the eight ORACLE_R17
    promotions, VERDICT r15 #2/#3/#4, ADVICE r15 #2) plus the
    twenty-six planner-deferred names, all certified r12, deadline
    r17. NO rows-only name needs a window slot next round, thirty-six
    names defer to their round-18 deadline, no promotion is slotless
    (the R17 batch landed this round; R18's joins the simulation at
    its own round), and the greedy forward-schedule audit holds
    through the queued batches."""
    from tools.rotation_plan import plan

    p = plan(17)
    assert p["hard_cohort"] == [
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
    ]
    assert p["rows_only_slots"] == []
    assert len(p["deferred_to_bound"]) == 36
    assert p["queued_promotions"] == []
    assert p["audit_ok"], p["audit_notes"]
    assert len(p["window"]) == 50 and len(set(p["window"])) == 50
    # the entire hard cohort is round-12-certified rows AT their bound
    from tools.rotation_plan import last_seen_history
    import os
    seen, _ = last_seen_history(os.path.join(os.path.dirname(__file__), ".."))
    assert all(seen.get(n) == 12 for n in p["hard_cohort"])


def test_rotation_planner_refuses_to_plan_past_its_model():
    """ADVICE r12: plan() credits the in-tree window with landing at
    next_round - 1, which is only true for the round the in-tree
    window models. Planning further ahead must fail loudly, not emit
    a silently mis-dated schedule."""
    import pytest
    from tools.rotation_plan import plan, last_seen_history
    import os

    _, latest = last_seen_history(os.path.join(os.path.dirname(__file__), ".."))
    with pytest.raises(SystemExit, match="more than one round ahead"):
        plan(latest + 3)


def test_deferral_at_deadline_never_trips_staleness():
    """The round-12 displacement rides on one claim: certifying a
    query exactly AT deadline = last_seen + STALENESS_BOUND_ROUNDS is
    legal. Replay the staleness test's own expression over the
    simulated timeline for the two displaced rows (last certified r8,
    window slot r13): at every judging point — r12 landing with the
    r12 window in-tree, then r13 landing with the r13 window in-tree
    — the query must either sit in the in-tree window or be within
    the bound. This is the exact-deadline model the round-12 planner
    rewrite adopted, proven against the contract expression rather
    than argued."""
    last_seen = 8
    # (latest_round_landed, query_in_current_intree_window)
    timeline = [
        (11, False),  # round-12 session, pre-rotation: r11 files, r11 window
        (11, False),  # post-rotation-commit: r12 window excludes the row
        (12, False),  # r12 lands; judging round 12 — row NOT in window
        (12, True),   # round-13 session after ITS rotation commit
        (13, True),   # r13 lands; judging round 13 — row IS in window
    ]
    for latest, in_window in timeline:
        stale = (not in_window) and (
            (latest + 1) - last_seen > STALENESS_BOUND_ROUNDS
        )
        assert not stale, (latest, in_window)
    # one round later than the deadline WOULD trip — the bound is tight
    assert (13 + 1) - last_seen > STALENESS_BOUND_ROUNDS
