"""Locks for preflight's expected-dirty carve-out (ADVICE r9): the
driver's post-close rerun overwrites BENCH_LOCAL.json through no
builder fault; preflight recognizes that copy by PARSING the
raw_run_totals_sec array out of the newest BENCH_r*.json's truncated
stdout tail and comparing parsed objects — never by substring
matching a particular serialization."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.preflight import is_driver_bench_local


def _setup(tmp_path, totals, tail_totals_text, round_no=99):
    bl = tmp_path / "BENCH_LOCAL.json"
    bl.write_text(json.dumps({"raw_run_totals_sec": totals}))
    br = tmp_path / f"BENCH_r{round_no:02d}.json"
    br.write_text(json.dumps({
        "n": 1, "rc": 0,
        "tail": '... "queries": {"x": 1.0}, '
                f'"raw_run_totals_sec": {tail_totals_text}}}\n',
        "parsed": None,
    }))
    return str(bl), str(tmp_path)


def test_matches_despite_serialization_drift(tmp_path):
    # the driver tail uses spaced separators and a different float
    # repr than json.dumps' defaults — parsed compare still matches
    bl, repo = _setup(
        tmp_path, [232.8623, 223.8591],
        "[ 232.86230,   223.85910 ]",
    )
    assert is_driver_bench_local(bl, repo)


def test_rejects_different_totals(tmp_path):
    bl, repo = _setup(tmp_path, [232.8623, 223.8591], "[1.0, 2.0]")
    assert not is_driver_bench_local(bl, repo)


def test_newest_is_numeric_not_mtime(tmp_path):
    # r10 written first, r9 restored LATER (git checkout bumps
    # mtime): numeric sort must still read r10's tail
    bl, repo = _setup(tmp_path, [5.0], "[5.0]", round_no=10)
    import time

    time.sleep(0.02)
    (tmp_path / "BENCH_r09.json").write_text(json.dumps({
        "tail": '"raw_run_totals_sec": [9.9]}\n',
    }))
    assert is_driver_bench_local(bl, repo)


def test_truncated_unparseable_tail_is_safe(tmp_path):
    bl, repo = _setup(tmp_path, [5.0], "[5.0")  # tail cut mid-array
    assert not is_driver_bench_local(bl, repo)


def test_missing_files_are_safe(tmp_path):
    assert not is_driver_bench_local(
        str(tmp_path / "nope.json"), str(tmp_path)
    )


def test_bench_sf1_reference_line_regex_matches_generator_output():
    """The 3d-bis coherence gate and the generator must agree on the
    reference-line format — a silent format drift would disable the
    check exactly like the r9 serialization-drift carve-out bug.
    ADVICE r12: the line is rendered through the generator's OWN
    format string and parsed with preflight's OWN regex (both
    imported from tools/bench_sf1_report.py, the single source of
    truth) — not hand-copied twins that could drift apart from the
    code they claim to test."""
    import re

    from tools.bench_sf1_report import (
        SF01_REF_STAMP_FMT,
        SF01_REF_STAMP_RE,
    )

    line = SF01_REF_STAMP_FMT.format(
        total=226.907, tree="8968152c33bda57a"
    )
    m = re.search(SF01_REF_STAMP_RE, line)
    assert m and m.group(1) == "226.907"
    assert m.group(2) == "8968152c33bda57a"
