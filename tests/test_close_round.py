"""Locks for the close protocol's notes assembly: re-running the
close must REPLACE the generated Evidence block (never duplicate it)
and must preserve the hand-written prose above it."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.close_round import EVIDENCE_MARKER, replace_evidence_block


def test_fresh_notes_get_header():
    out = replace_evidence_block(None, EVIDENCE_MARKER + "\nnew", 12)
    assert out.startswith("# Round 12 notes\n\n")
    assert out.count(EVIDENCE_MARKER) == 1


def test_existing_block_is_replaced_not_duplicated():
    prior = (
        "# Round 12 notes\n\nprose stays\n\n"
        + EVIDENCE_MARKER + "\nold numbers\n\nEngine tree: `aaaa`"
    )
    out = replace_evidence_block(
        prior, EVIDENCE_MARKER + "\nnew numbers\n\nEngine tree: `bbbb`", 12
    )
    assert out.count(EVIDENCE_MARKER) == 1
    assert "prose stays" in out
    assert "old numbers" not in out and "new numbers" in out
    assert "`aaaa`" not in out and "`bbbb`" in out


def test_rerun_is_idempotent():
    block = EVIDENCE_MARKER + "\nsame\n"
    once = replace_evidence_block(None, block, 12)
    twice = replace_evidence_block(once, block, 12)
    assert once == twice


def test_find_movers_flags_regressions_only():
    """Round 12 (VERDICT r11 #5): the mover screen flags shared
    queries that regressed >= MOVER_RATIO in-run, ignores queries
    that got faster, new queries (no prev entry), and zero-time
    prev rows."""
    from tools.bench_solo import MOVER_RATIO, find_movers

    cur = {
        "slow_regressed": 2.6,   # 2.0 -> 2.6 = 1.3x  -> mover
        "at_threshold": 1.25,    # 1.0 -> 1.25 = 1.25x -> mover (>=)
        "under": 1.2,            # 1.0 -> 1.2          -> not
        "faster": 0.5,           # 1.0 -> 0.5          -> not
        "brand_new": 3.0,        # absent in prev      -> not
        "zero_prev": 1.0,        # prev recorded 0.0   -> not (no div)
    }
    prev = {
        "slow_regressed": 2.0,
        "at_threshold": 1.0,
        "under": 1.0,
        "faster": 1.0,
        "zero_prev": 0.0,
        "dropped_query": 9.9,    # absent in cur — must not appear
    }
    got = find_movers(cur, prev)
    assert set(got) == {"slow_regressed", "at_threshold"}
    assert got["slow_regressed"]["ratio"] == 1.3
    assert got["at_threshold"]["prev_close"] == 1.0
    assert MOVER_RATIO == 1.25


def test_mover_arbitration_floor_and_ambient():
    """The arbitration must discount ambient machine drift and not
    solo-adjudicate sub-second queries whose solo time measures the
    fresh-JVM floor (the first r12 ledger run mislabeled ~30 tiny
    queries 'regression' on exactly those two artifacts)."""
    from tools.bench_solo import (
        SOLO_FLOOR_SEC,
        ambient_drift,
        mover_verdict,
    )

    # median over shared queries isolates the machine-state factor
    cur = {"a": 1.1, "b": 2.2, "c": 3.3, "d": 0.11, "e": 8.0}
    prev = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 0.1, "e": 2.0}
    amb = ambient_drift(cur, prev)
    assert amb == 1.1  # the e outlier does not drag the median

    # 1.4x solo-vs-prev under 1.15x ambient = 1.22x attributable ->
    # noise; the same 1.4x at a scale where the spawn tax is
    # negligible and under no drift -> regression
    assert mover_verdict(1.4, 1.0, 1.15) == "noise"
    assert mover_verdict(14.0, 10.0, 1.0) == "regression"
    # a genuine 2x survives any plausible ambient discount
    assert mover_verdict(2.2, 1.0, 1.15) == "regression"
    assert SOLO_FLOOR_SEC == 0.5


def test_mover_verdict_subtracts_spawn_overhead():
    """VERDICT r12 #1: the solo child pays a ~0.1-0.3 s fresh-JVM
    tax the in-run prev_close never paid; for 0.5-1.7 s queries that
    tax alone pushed untouched code 0.01-0.10 past the effective
    threshold. The verdict must be computed on (solo - overhead)."""
    import json
    import os

    from tools.bench_solo import (
        JVM_SPAWN_OVERHEAD_SEC,
        mover_verdict,
    )

    assert JVM_SPAWN_OVERHEAD_SEC == 0.2

    # the five false r12 "regression" survivors, re-adjudicated from
    # the committed ledger: all untouched code, all idle-box re-timed
    # at their r11 values — the calibrated rule must clear them
    path = os.path.join(os.path.dirname(__file__), "..",
                        "BENCH_SOLO.json")
    with open(path) as fh:
        ledger = json.load(fh)
    survivors = [
        "events_markov_stationary",
        "events_time_to_convert",
        "join_range_binned",
        "join_time_range",
        "similarity_hard_negatives",
    ]
    ambient = ledger["ambient_drift"]
    for name in survivors:
        m = ledger["movers"].get(name)
        if m is None or "solo" not in m:
            continue  # ledger regenerated since r12 — rule tests below
        assert (
            mover_verdict(m["solo"], m["prev_close"], ambient)
            == "noise"
        ), name

    # and the subtraction must NOT absolve a genuine regression: a
    # 3 s solo against a 1 s prev close is 2.4x after tax+ambient
    assert mover_verdict(3.0, 1.0, 1.146) == "regression"


def test_mover_verdict_live_tax_parameter():
    """ADVICE r13 (deferred to r15): the spawn-tax subtraction must
    track the MEASURED per-run figure, not the r12 midpoint — a box
    whose actual tax is ~0.05 s should flag a 1.4x regression in a
    1 s query that the flat 0.2 s constant would absolve."""
    from tools.bench_solo import mover_verdict

    # 1.4 s solo / 1.0 s prev, no drift: flat 0.2 tax -> 1.2x = noise
    assert mover_verdict(1.4, 1.0, 1.0) == "noise"
    # the same numbers under a measured 0.05 s tax -> 1.35x... still
    # under 1.25? no: (1.4-0.05)/1.0 = 1.35 >= 1.25 -> regression
    assert mover_verdict(1.4, 1.0, 1.0, tax=0.05) == "regression"
    # and a generously measured tax keeps absolving floor noise
    assert mover_verdict(0.7, 0.55, 1.0, tax=0.35) == "noise"


def test_mover_verdict_prefers_solo_basis_when_history_exists():
    """Round 13: a mover with a prior-close SOLO figure is arbitrated
    solo-vs-solo (both spawns paid the same cold-start costs — no
    overhead subtraction), which settles cases the in-run basis
    structurally cannot (a fresh JVM exceeds an in-run figure by
    cold codebook loads and worker warmup beyond the flat tax)."""
    from tools.bench_solo import (
        MOVER_RATIO,
        mover_verdict_solo_basis,
    )

    # flat solo-vs-solo across closes -> noise even when the in-run
    # basis would have accused (the similarity_pq_topk shape: solo
    # 2.68 vs a 1.85 in-run prev reads 1.45x, but vs a prior solo of
    # 2.6 it reads 1.03x)
    assert mover_verdict_solo_basis(2.68, 2.60, 1.0) == "noise"
    # a genuine solo-vs-solo regression still fires
    assert mover_verdict_solo_basis(4.0, 2.6, 1.0) == "regression"
    # ambient discount applies on this basis too
    assert mover_verdict_solo_basis(3.2, 2.6, 1.15) == "noise"
    assert MOVER_RATIO == 1.25
