"""The driver-sample rotation queue is generated state (VERDICT r9
#1): tools/rotation.py derives the ordering from the committed
CORRECTNESS history, and the shipped _R{N}_PRIORITY literal must
match it exactly — hand-count omissions (the r8 metric_rollup bug)
fail here and in preflight."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import rotation


def test_shipped_priority_matches_generator():
    rnd, name, shipped = rotation.shipped_priority()
    assert shipped == rotation.generate(max_round=rnd - 1), (
        f"{name} is stale — regenerate with "
        "`python tools/rotation.py --literal`"
    )


def test_ordering_rule(monkeypatch):
    # synthetic history: c never checked, a stale at r2, b fresh at
    # r5, d also r2 (alphabetical within the bucket)
    monkeypatch.setattr(
        rotation, "correctness_history",
        lambda max_round=None: {"a": 2, "b": 5, "d": 2},
    )
    assert rotation.generate(["b", "d", "a", "c"]) == ["c", "a", "d", "b"]


def test_priority_covers_whole_registry():
    import __spark_entry__ as e

    _, _, shipped = rotation.shipped_priority()
    assert sorted(shipped) == sorted(e._query_registry()), (
        "the priority list must be the FULL registry ordering so "
        "positions 51+ are the next round's queue by construction"
    )


def test_history_bound_ignores_future_rounds(monkeypatch, tmp_path):
    """The round-N queue must survive the driver writing
    CORRECTNESS_rN.json after the close: generate(max_round=N-1)
    ignores it, so the committed _RN_PRIORITY stays valid on the
    post-driver tree."""
    import json

    (tmp_path / "CORRECTNESS_r09.json").write_text(
        json.dumps({"a": {}, "b": {}})
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"c": {}})
    )
    monkeypatch.setattr(rotation, "REPO", str(tmp_path))
    keys = ["a", "b", "c"]
    # bounded at r9: c is never-checked and leads
    assert rotation.generate(keys, max_round=9) == ["c", "a", "b"]
    # unbounded, the r10 row would demote c — exactly the failure
    # the bound prevents
    assert rotation.generate(keys) == ["a", "b", "c"]
