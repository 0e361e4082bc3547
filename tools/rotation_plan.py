"""Mechanical driver-window rotation planner.

The registry outgrew casual slot arithmetic at round 12 (a 50-slot
window over 200+ queries cycles with zero organic slack, and every new
op pushes a deferral toward someone's hard staleness bound), so the
plan COVERAGE.md used to compute by hand in each round's close-out is
a tool: read the CORRECTNESS_r*.json history the driver writes and emit
the window for round N. What landed at round N-1 comes from the
driver's own file when CORRECTNESS_r{N-1}.json exists: the history is
cut at N-1 and the in-tree `_WINDOW_PRIORITY` is ignored, so a plan
for a round whose predecessor already landed replays the same way
before and after the window is rotated. Only when round N-1 has not
landed yet (N = newest + 2, the round after the one in progress) is
the in-tree window assumed to land at N-1.

Deadline model (round 12 rewrite — the round-11 planner was one round
MORE conservative than the contract it enforced, which made round 13
read as unsatisfiable when it is not): the staleness test
(tests/test_registry.py::test_rotation_staleness_bound) fails a query
during round N's judging iff it is NOT in the in-tree window and
(N + 1) - last_seen > STALENESS_BOUND_ROUNDS. A query last certified
at round L therefore must next be certified at some round
R <= L + BOUND — being in round L+BOUND's window both exempts it while
that round is judged and refreshes its driver row when the round's
CORRECTNESS file lands. `deadline(L) = L + BOUND`, and certifying AT
the deadline is legal; the old planner required L + BOUND - 1.

Policy:
  1. HARD COHORT first — every query whose deadline IS next_round
     (or earlier, which would already be a miss). If the cohort alone
     exceeds the window, the contract is unsatisfiable: fail loudly.
  2. Remaining slots fill by ascending deadline, tie-broken by
     registry order — the most-urgent rows buy their slots back first.
     Names that don't fit are DEFERRED (reported) and become the next
     round's hard cohort when their deadline arrives.
  3. Queued promotions (ORACLE_R<next> dicts whose names are not yet
     registry queries) are REPORTED with a reminder that each takes a
     slot the round it lands (staleness at birth); placing them means
     displacing tail fillers deliberately (the deferral arithmetic in
     COVERAGE.md).
  4. AUDIT — instead of the old single-round worst-case check, a
     greedy forward SIMULATION over the next AUDIT_HORIZON rounds:
     each simulated round certifies the 50 most-urgent names (queued
     ORACLE_R<r> promotions join at their landing round with
     deadline = that round). The audit fails iff any query would miss
     its deadline under that greedy schedule — i.e. iff the contract
     is structurally unsatisfiable, not merely tight.

Usage:
    python tools/rotation_plan.py                    # plan the next round
    python tools/rotation_plan.py 13                 # plan a specific round
    python tools/rotation_plan.py 15 --emit-registry # paste-ready block

Prints the slot list (rows-only names flagged — they must match
tests/test_registry.py's ROWS_ONLY_WINDOW_SLOTS when applied), the
deferred names with their deadlines, plus the simulation audit.
--emit-registry instead prints the window as a paste-ready
`_WINDOW_PRIORITY = [...]` Python block (hard cohort / fillers
sectioned, rows-only slots flagged) — the round-14 rotation was the
third hand-transcribed one; transcription is now mechanical.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

WINDOW = 50
BOUND = 5  # tests/test_registry.py STALENESS_BOUND_ROUNDS
AUDIT_HORIZON = 6  # simulated rounds; > one full registry cycle


def last_seen_history(root: str, upto: int | None = None
                      ) -> tuple[dict[str, int], int]:
    """Latest certifying round per query, and the newest round, over
    the CORRECTNESS_r*.json files of rounds <= upto (all when None)."""
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    seen: dict[str, int] = {}
    latest = 0
    for f in files:
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        if upto is not None and rnd > upto:
            continue
        latest = max(latest, rnd)
        for name in json.load(open(f)):
            seen[name] = max(seen.get(name, 0), rnd)
    return seen, latest


def queued_promotions(round_: int) -> list[str]:
    """Names in any operator module's ORACLE_R<round_> dict — plus its
    QUEUED_ROWS_ONLY_R<round_> list (rows-only ops have no oracle but
    still take a window slot the round they register) — that are not
    registry queries yet: the promotions that will want slots."""
    import importlib

    from edu_online_spark import registry

    registered = set(registry.queries())
    out: list[str] = []
    for mod_name in registry._EXTENSION_NAMES:
        try:
            m = importlib.import_module(
                f"edu_online_spark.operators.{mod_name}"
            )
        except ImportError:
            continue
        queued = list(getattr(m, f"ORACLE_R{round_}", {})) + list(
            getattr(m, f"QUEUED_ROWS_ONLY_R{round_}", [])
        )
        for name in queued:
            if name not in registered:
                out.append(name)
    return out


def _simulate(deadlines: dict[str, int], order: dict[str, int],
              start_round: int, horizon: int) -> tuple[bool, list[str]]:
    """Greedy forward schedule: each round certifies the WINDOW
    most-urgent names; promotions join at their landing round with
    deadline = that round (staleness at birth). Returns (ok, notes);
    ok is False iff some name would miss its deadline even under the
    greedy most-urgent-first schedule."""
    dl = dict(deadlines)
    ord_ = dict(order)
    notes: list[str] = []
    for r in range(start_round, start_round + horizon):
        for name in queued_promotions(r):
            if name not in dl:
                dl[name] = r
                ord_[name] = len(ord_)
        urgent = sorted(dl, key=lambda n: (dl[n], ord_[n]))
        window = urgent[:WINDOW]
        missed = [n for n in dl if dl[n] < r or (dl[n] == r and n not in window)]
        if missed:
            notes.append(
                f"round {r}: {len(missed)} would miss their deadline "
                f"(first: {missed[:4]})"
            )
            return False, notes
        deferred_past = [n for n in urgent[WINDOW:] if dl[n] == r + 1]
        if deferred_past:
            notes.append(
                f"round {r}: {len(deferred_past)} deadline-{r + 1} names "
                f"deferred to their bound"
            )
        for n in window:
            dl[n] = r + BOUND
    return True, notes


def plan(next_round: int | None = None, root: str | None = None) -> dict:
    from edu_online_spark import registry

    root = root or os.path.join(os.path.dirname(__file__), "..")
    _, latest = last_seen_history(root)
    if next_round is None:
        next_round = latest + 2  # current round lands as latest+1
    # ADVICE r12: when round next_round - 1 has not landed yet, the
    # model below credits the IN-TREE window with landing at
    # next_round - 1. That is only true for the round the in-tree
    # window actually models (newest CORRECTNESS + 1); planning further
    # ahead would silently mis-date those certifications, so fail
    # loudly instead. When round next_round - 1 has landed, its
    # CORRECTNESS file says what it certified: replay the history up to
    # that round and leave the in-tree window (which may already be
    # the next rotation) out of it.
    if next_round > latest + 2:
        raise SystemExit(
            f"plan({next_round}) is more than one round ahead of the "
            f"newest CORRECTNESS file (r{latest}): the in-tree window "
            f"would be mis-credited with landing at r{next_round - 1}. "
            f"Re-run once the intervening CORRECTNESS files exist."
        )
    landing = next_round - 1

    names = list(registry.queries())
    oracles = set(registry.oracle_sql())
    order = {n: i for i, n in enumerate(names)}
    effective, _ = last_seen_history(root, upto=landing)
    if landing > latest:
        for n in names[:WINDOW]:  # assume the in-tree window lands
            effective[n] = landing
    missing = [n for n in names if n not in effective]
    if missing:
        raise SystemExit(
            f"queries with no driver row and no window slot (staleness at "
            f"birth): {missing}"
        )

    deadlines = {n: effective[n] + BOUND for n in names}
    hard = sorted(
        (n for n in names if deadlines[n] <= next_round),
        key=lambda n: (deadlines[n], order[n]),
    )
    if len(hard) > WINDOW:
        raise SystemExit(
            f"UNSATISFIABLE: {len(hard)} queries hit their deadline at "
            f"round {next_round} but the window holds {WINDOW}"
        )
    fillers = sorted(
        (n for n in names if n not in set(hard)),
        key=lambda n: (deadlines[n], order[n]),
    )[: WINDOW - len(hard)]
    window = hard + fillers
    in_window = set(window)
    rows_only = [n for n in window if n not in oracles]
    next_deadline = min(
        (deadlines[n] for n in names if n not in in_window), default=None
    )
    deferred_to_bound = sorted(
        (n for n in names
         if n not in in_window and deadlines[n] == next_round + 1),
        key=lambda n: order[n],
    )

    audit_ok, audit_notes = _simulate(deadlines, order, next_round,
                                      AUDIT_HORIZON)
    return {
        "next_round": next_round,
        "hard_cohort": hard,
        "fillers": fillers,
        "window": window,
        "rows_only_slots": rows_only,
        "free_slots": WINDOW - len(hard),
        "deferred_to_bound": deferred_to_bound,
        "next_unwindowed_deadline": next_deadline,
        "queued_promotions": queued_promotions(next_round),
        "audit_ok": audit_ok,
        "audit_notes": audit_notes,
    }


def emit_registry_block(p: dict) -> None:
    """Print the planned window as a paste-ready _WINDOW_PRIORITY
    block for edu_online_spark/registry.py. Promotions still have to
    be placed by hand (they displace tail fillers deliberately), but
    the hard-cohort/filler transcription — the error-prone part —
    becomes copy-paste."""
    r = p["next_round"]
    rows_only = set(p["rows_only_slots"])
    print(f"# Round-{r} window (emitted by tools/rotation_plan.py "
          f"{r} --emit-registry)")
    print("_WINDOW_PRIORITY = [")
    print(f"    # 1: hard cohort at its r{r} deadline — must head "
          "the window")
    for n in p["hard_cohort"]:
        flag = "  # rows-only" if n in rows_only else ""
        print(f'    "{n}",{flag}')
    print("    # 2: fillers by ascending deadline then registry order")
    for n in p["fillers"]:
        flag = "  # rows-only" if n in rows_only else ""
        print(f'    "{n}",{flag}')
    print("]")
    if p["queued_promotions"]:
        print(f"# PLACE BY HAND — queued ORACLE_R{r} promotions "
              "(each displaces a tail filler): "
              + ", ".join(p["queued_promotions"]))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--emit-registry"]
    next_round = int(args[0]) if args else None
    p = plan(next_round)
    if "--emit-registry" in sys.argv[1:]:
        emit_registry_block(p)
        return
    print(
        f"# round-{p['next_round']} window: {len(p['hard_cohort'])} "
        f"hard-cohort (deadline == round) + {len(p['fillers'])} fillers "
        f"({p['free_slots']} slots were free before filling)"
    )
    for n in p["window"]:
        flag = "  # rows-only" if n in p["rows_only_slots"] else ""
        print(f'    "{n}",{flag}')
    if p["deferred_to_bound"]:
        print(
            f"# deferred to their round-{p['next_round'] + 1} deadline "
            f"(MUST be in that window): " + ", ".join(p["deferred_to_bound"])
        )
    if p["queued_promotions"]:
        print(
            f"# queued ORACLE_R{p['next_round']} promotions needing slots "
            f"(displace tail fillers deliberately): "
            + ", ".join(p["queued_promotions"])
        )
    for note in p["audit_notes"]:
        print(f"# audit: {note}")
    print(
        f"# greedy-schedule audit over the next {AUDIT_HORIZON} rounds: "
        + ("OK" if p["audit_ok"] else "FAIL")
    )


if __name__ == "__main__":
    main()
