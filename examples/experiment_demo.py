"""Experiment-readout demo: the full A/B toolkit on ONE events table
with planted effects, every verdict hand-checkable.

The table simulates a 1,000-user experiment (user_id mod 2 assignment)
with three planted phenomena:

  1. an ACTIVATION LIFT — treatment users activate within 24h at 50%
     vs control's 30% (the z-test must fire, negative z since A is
     the lower arm);
  2. a VALUE SHIFT — treatment view-values sit ~20 above control's
     (Mann-Whitney must fire; a t-test would too here, but ranks
     don't care what the tails look like);
  3. a VOLUME REGIME SHIFT — days 11+ double the event rate (the
     CUSUM screen must bracket the change point; this one is global,
     not a variant effect — the kind of infrastructure drift that
     contaminates experiments silently).

Reading order is the toolkit's reading order: the SRM guard FIRST
(assignment is a clean 500/500 split, χ² = 0 — if this fired, nothing
below may be read), then proportions, values, timing, and the
environment screen. Everything is deterministic arithmetic — no RNG.
"""

from __future__ import annotations

import datetime
import sys

sys.path.insert(0, ".")

from edu_online_spark.config import EngineConfig  # noqa: E402
from edu_online_spark.operators.analytics import (  # noqa: E402
    ab_fdr_bh,
    ab_quantile_uplift,
    ab_srm_check,
    ab_value_effect_size,
    ab_value_ks_test,
    ab_value_mannwhitney,
    ab_conversion_ztest,
    activation_survival,
    cusum_level_shift,
)
from edu_online_spark.session import get_spark  # noqa: E402


def build_events(spark):
    t0 = datetime.datetime(2026, 7, 1, 0, 0, 0)
    rows = []
    eid = 0

    def add(uid, etype, dt_hours, value=None):
        nonlocal eid
        rows.append(
            (
                eid,
                uid,
                etype,
                float(value) if value is not None else None,
                t0 + datetime.timedelta(hours=dt_hours),
            )
        )
        eid += 1

    for uid in range(1000):
        first_h = (uid % 10) * 24 + (uid % 7)  # first-seen: days 0-9
        add(uid, "view", first_h, value=50 + (uid % 7) + (20 if uid % 2 else 0))
        # planted activation lift: treatment (odd) 50%, control 30%.
        # the uniform draw is (uid // 2) % 10 — INDEPENDENT of the
        # parity assignment (uid % 10 would only hit even digits for
        # even users and quietly equalize the arms)
        activates = ((uid // 2) % 10) < (5 if uid % 2 else 3)
        if activates:
            add(uid, "purchase", first_h + 6)
        else:
            add(uid, "purchase", first_h + 120)  # day 5 — outside 24h
        add(uid, "click", first_h + 2, value=50 + (uid % 5) + (20 if uid % 2 else 0))
    # planted volume regime shift: days 11-16 double the daily mass
    for d in range(11, 17):
        for k in range(400):
            add(k % 1000, "ping", d * 24 + (k % 23))
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp_ntz",
    )


def main():
    spark = get_spark(EngineConfig(cpus=8))
    ev = build_events(spark).localCheckpoint(eager=True)

    print("=== 1. SRM guard (must PASS before reading anything) ===")
    r = ab_srm_check(ev).first()
    print(
        f"    n_a={r['n_a']} n_b={r['n_b']} chi2={r['chi2']:.4f} "
        f"srm_suspect={r['srm_suspect']}  (expected: 500/500, 0.0, False)"
    )

    print("=== 2. Activation z-test (planted: 30% vs 50%) ===")
    r = ab_conversion_ztest(ev).first()
    print(
        f"    conv_a={r['conv_a']}/{r['n_a']} conv_b={r['conv_b']}/{r['n_b']} "
        f"z={r['z']:.2f} significant={r['significant']}"
        f"  (expected: 150/500 vs 250/500, z ~ -6.5, True)"
    )

    print("=== 3. Mann-Whitney on values (planted: +20 shift) ===")
    r = ab_value_mannwhitney(ev).first()
    print(
        f"    n_a={r['n_a']} n_b={r['n_b']} z={r['z']:.2f} "
        f"significant={r['significant']}  (expected: strongly negative z, True)"
    )

    print("=== 3b. KS + effect size + quantile uplift (same shift) ===")
    r = ab_value_ks_test(ev).first()
    print(
        f"    KS D={r['d_stat']:.3f} crit={r['ks_crit']:.3f} "
        f"significant={r['significant']}  (expected: D >> crit, True)"
    )
    r = ab_value_effect_size(ev).first()
    print(
        f"    Cohen's d={r['cohens_d']:.2f}  (expected: ~11 — the +20 shift"
        " is ~10x the within-arm uid%7 spread)"
    )
    ups = ab_quantile_uplift(ev.filter(ev.event_type == "view")).collect()
    mid = sorted(r["uplift"] for r in ups)[len(ups) // 2]
    print(
        f"    view-segment median decile uplift={mid:.1f}"
        "  (expected: ~ +20 at every decile — a uniform shift,"
        " not a tail effect)"
    )

    print("=== 4. Activation survival, per variant (KM) ===")
    for name, variant in (("control", 0), ("treatment", 1)):
        curve = (
            activation_survival(ev.filter(ev.user_id % 2 == variant))
            .orderBy("t_days")
            .collect()
        )
        day0 = next(r for r in curve if r["t_days"] == 0)
        print(
            f"    {name}: S(0)={day0['survival']:.3f} "
            f"(expected: ~{0.7 if variant == 0 else 0.5} — 1 - activation rate)"
        )

    print("=== 5. CUSUM volume screen (planted: days 11+ double) ===")
    flagged = [
        str(r["day"])
        for r in cusum_level_shift(ev).orderBy("day").collect()
        if r["shift_flag"]
    ]
    print(f"    flagged days: {flagged}")
    print(
        "    (expected: a low-side run before day 11 and/or a high-side"
        " run after it — the runs bracket the regime change)"
    )

    print("=== 6. BH-FDR over per-type activation (multi-metric control) ===")
    for r in sorted(
        ab_fdr_bh(ev).collect(),
        key=lambda r: (r["bh_rank"] is None, r["bh_rank"] or 0, r["event_type"]),
    ):
        z = f"{r['z']:.2f}" if r["z"] is not None else "NULL"
        crit = f"{r['crit']:.3f}" if r["crit"] is not None else "-"
        print(
            f"    {r['event_type']:<8} z={z:>6} m={r['m_tests']} "
            f"rank={r['bh_rank']} crit={crit} rejected={r['rejected']}"
        )
    print(
        "    (expected: 'purchase' is the ONLY testable type — view/click"
        " activate everyone, ping nobody, all three z=NULL and excluded"
        " from m — so m=1, crit=1.960, and the planted lift rejects)"
    )


if __name__ == "__main__":
    main()
