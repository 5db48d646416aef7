"""Pre-snapshot preflight gate (VERDICT r6 #3): rounds must stop
shipping ungated tails (r5: six undocumented queries; r6: the
half-landed ``dedup_threshold_curve``). Run this BEFORE the
end-of-round snapshot commit; it exits non-zero unless the tree is
coherent:

1. ``oracle_sql()`` keys are a subset of ``queries()`` keys.
2. Every registry query name appears in SURVEY.md (the judge checks
   SURVEY §2 line by line — a query without a SURVEY row is
   undocumented surface), and registry count == bench count (every
   operator ships measured).
3. The newest LOCAL_ORACLE_r*.md sweep is NEWER than the last commit
   touching engine source — a sweep recorded before the last
   operator change proves nothing about the tree being shipped.
4. ``git status`` is clean for bench/evidence files (BENCH_LOCAL,
   SURVEY, registry) so the committed baseline matches the round's
   recorded numbers.
5. (unless --fast) the full pytest suite is green.

Usage: python tools/preflight.py [--fast]
"""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)



def fail(msgs: list[str]) -> None:
    for m in msgs:
        print(f"PREFLIGHT FAIL: {m}")
    sys.exit(1)


def is_driver_bench_local(bl_path: str, repo: str = REPO) -> bool:
    """True when the working-tree BENCH_LOCAL.json is the DRIVER's
    post-close rerun: its raw_run_totals_sec appears — PARSED, not
    substring-matched (ADVICE r9: serialization drift between the
    two writers must not disable the carve-out) — in the truncated
    stdout tail the newest BENCH_r*.json embeds. Module-level so the
    carve-out is unit-testable."""
    import json as _json

    try:
        with open(bl_path) as fh:
            bl2 = _json.load(fh)
    except (ValueError, OSError):
        return False
    totals = bl2.get("raw_run_totals_sec")
    if not totals:
        return False
    # filter to numeric-round names first: a stray BENCH_rerun.json
    # would make the bare regex .group(1) raise inside the max() key
    brs = [
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
        for m in [re.search(r"BENCH_r(\d+)\.json$", p)]
        if m
    ]
    if not brs:
        return False
    newest = max(brs)[1]
    try:
        with open(newest) as fh:
            br = _json.load(fh)
    except (ValueError, OSError):
        return False
    if not isinstance(br, dict):
        return False
    pat = re.compile(r'"raw_run_totals_sec"\s*:\s*(\[[^\]]*\])')
    for v in br.values():
        if not isinstance(v, str):
            continue
        for m in pat.finditer(v):
            try:
                recorded = _json.loads(m.group(1))
            except ValueError:
                continue
            if recorded == list(totals):
                return True
    return False


def main() -> None:
    fast = "--fast" in sys.argv
    errs: list[str] = []

    import __spark_entry__ as e
    from bench import _bench_names

    qs = e.queries()
    oracles = e.oracle_sql()

    # 1. oracle keys ⊆ queries
    extra = set(oracles) - set(qs)
    if extra:
        errs.append(f"oracle_sql() keys without queries() entry: {sorted(extra)}")

    # 2a. every registry name documented in SURVEY.md
    with open(os.path.join(REPO, "SURVEY.md")) as fh:
        survey_tokens = set(re.findall(r"`([a-z0-9_]+)`", fh.read()))
    undocumented = sorted(set(qs) - survey_tokens)
    if undocumented:
        errs.append(f"registry queries with no SURVEY.md row: {undocumented}")

    # 2b. registry == bench set (modulo documented excludes)
    bench = set(_bench_names())
    from bench import BENCH_EXCLUDE

    unbenched = sorted(set(qs) - bench - set(BENCH_EXCLUDE))
    if unbenched:
        errs.append(f"registry queries missing from the bench set: {unbenched}")

    # 2c. the driver-sample rotation queue is GENERATED state
    # (VERDICT r9 #1): the shipped _R{N}_PRIORITY literal must equal
    # tools/rotation.py's recomputation from the CORRECTNESS history
    # — the r8 hand-count bug (metric_rollup dropped from the queue)
    # becomes structurally impossible.
    from tools import rotation

    try:
        rot_round, rot_name, shipped = rotation.shipped_priority()
        # the round-N queue derives from rounds <= N-1: the driver's
        # own post-close CORRECTNESS_rN.json must not invalidate it
        generated = rotation.generate(max_round=rot_round - 1)
        if shipped != generated:
            diverge = next(
                (
                    f"position {i}: shipped {a!r} vs generated {b!r}"
                    for i, (a, b) in enumerate(zip(shipped, generated))
                    if a != b
                ),
                f"length {len(shipped)} vs {len(generated)}",
            )
            errs.append(
                f"{rot_name} does not match tools/rotation.py's "
                f"generated ordering ({diverge}) — regenerate with "
                "`python tools/rotation.py --literal`"
            )
    except AttributeError as exc:
        errs.append(f"rotation check failed: {exc}")

    # 3. strict-sweep freshness. Preferred gate (ADVICE r7 #5): the
    # ledger stamps the engine CONTENT hash at generation time —
    # compare hashes, which survives clones (mtimes reset) and sees
    # uncommitted edits (git log does not). Unstamped legacy sweeps
    # fall back to the mtime-vs-last-commit check.
    from tools.treehash import engine_tree_hash

    tree_now = engine_tree_hash()
    # numeric round sort — NOT mtime (a git checkout restoring an old
    # sweep bumps its mtime) and NOT lexicographic (r9 > r10)
    sweeps = sorted(
        glob.glob(os.path.join(REPO, "LOCAL_ORACLE_r*.md")),
        key=lambda p: int(re.search(r"_r(\d+)\.md$", p).group(1)),
    )
    if not sweeps:
        errs.append("no LOCAL_ORACLE_r*.md sweep recorded")
    else:
        with open(sweeps[-1]) as fh:
            m = re.search(r"Engine tree: `([0-9a-f]+)`", fh.read())
        if m:
            if m.group(1) != tree_now:
                errs.append(
                    f"{os.path.basename(sweeps[-1])} was generated against "
                    f"engine tree {m.group(1)}, but the tree being "
                    f"snapshotted hashes {tree_now} — re-run the full "
                    "strict sweep before snapshotting"
                )
        else:
            sweep_ts = os.path.getmtime(sweeps[-1])
            out = subprocess.run(
                ["git", "log", "-1", "--format=%ct", "--",
                 "dbt_eamples_spark", "__spark_entry__.py"],
                cwd=REPO, capture_output=True, text=True,
            )
            last_src_commit = int(out.stdout.strip() or 0)
            if sweep_ts < last_src_commit:
                errs.append(
                    f"{os.path.basename(sweeps[-1])} predates the last engine "
                    "commit — re-run the full strict sweep before snapshotting"
                )

    # 3b. bench-evidence freshness (VERDICT r7 #6): BENCH_LOCAL.json
    # stamps the same content hash; a bench recorded against a
    # different tree is exactly the r6/r7 stale-evidence slip. (The
    # judge's literal suggestion — match raw_run_totals_sec against
    # BENCH_r{N}'s tail — is not a usable invariant: that tail is a
    # 2000-char truncated suffix of the DRIVER's post-close rerun,
    # a different run than any committed file. The tree hash gates
    # the same failure mode strictly.) Unstamped legacy files skip.
    import json as _json

    bl_path = os.path.join(REPO, "BENCH_LOCAL.json")
    if os.path.exists(bl_path):
        try:
            bl = _json.load(open(bl_path))
        except ValueError:
            bl = {}
        stamped = bl.get("engine_tree")
        if stamped and stamped != tree_now:
            errs.append(
                f"BENCH_LOCAL.json was recorded against engine tree "
                f"{stamped}, but the tree being snapshotted hashes "
                f"{tree_now} — re-run bench.py before snapshotting"
            )
    # same stamp gate for the solo-rerun ledger (VERDICT r8 #9)
    solo_path = os.path.join(REPO, "BENCH_SOLO.json")
    if os.path.exists(solo_path):
        try:
            solo = _json.load(open(solo_path))
        except ValueError:
            solo = {}
        stamped = solo.get("engine_tree")
        if stamped and stamped != tree_now:
            errs.append(
                f"BENCH_SOLO.json was recorded against engine tree "
                f"{stamped}, but the tree being snapshotted hashes "
                f"{tree_now} — re-run tools/bench_solo.py before "
                "snapshotting"
            )

    # 3c. round-notes evidence freshness (VERDICT r9 #8): the newest
    # ROUND{N}_NOTES.md must carry a generated Evidence footer
    # stamping THIS tree — post-notes source commits strand numbers
    # otherwise (the r9 848-vs-853 pytest-count drift). Legacy notes
    # without a stamp are skipped; the current round's notes are
    # expected to be generated by tools/round_notes.py.
    notes = sorted(
        glob.glob(os.path.join(REPO, "ROUND*_NOTES.md")),
        key=lambda p: int(re.search(r"ROUND(\d+)_NOTES", p).group(1)),
    )
    if notes:
        with open(notes[-1]) as fh:
            m = re.search(r"Engine tree: `([0-9a-f]+)`", fh.read())
        if m and m.group(1) != tree_now:
            errs.append(
                f"{os.path.basename(notes[-1])} Evidence footer stamps "
                f"tree {m.group(1)}, but the tree being snapshotted "
                f"hashes {tree_now} — regenerate the Evidence block "
                "(tools/round_notes.py) on the final tree"
            )

    # 3d. BENCH_SF1.md freshness (VERDICT r10 #6): generated whole
    # by tools/bench_sf1_report.py with an engine-tree footer — a
    # stale first screen was exactly the r10 finding. A legacy file
    # without a stamp fails too (it predates the generator).
    sf1_md = os.path.join(REPO, "BENCH_SF1.md")
    if os.path.exists(sf1_md):
        with open(sf1_md) as fh:
            m = re.search(r"Engine tree: `([0-9a-f]+)`", fh.read())
        if not m:
            errs.append(
                "BENCH_SF1.md carries no engine-tree footer — "
                "regenerate it whole with tools/bench_sf1_report.py"
            )
        elif m.group(1) != tree_now:
            errs.append(
                f"BENCH_SF1.md was generated against engine tree "
                f"{m.group(1)}, but the tree being snapshotted hashes "
                f"{tree_now} — re-run tools/bench_sf1_report.py "
                "before snapshotting"
            )
        # 3d-bis (round 12): the report's sf0.1 reference column must
        # be the COMMITTED BENCH_LOCAL.json — the r12 close regenerated
        # BENCH_LOCAL after the report rendered its column, which would
        # have silently decoupled the two artifacts. The generator
        # stamps the reference's total+tree; the regex is the
        # generator's own (ADVICE r12 — one source of truth). A
        # current-tree report WITHOUT the stamp fails closed (ADVICE
        # r12: treating it as legacy-pass left the gate inert on the
        # very round it shipped).
        from tools.bench_sf1_report import SF01_REF_STAMP_RE

        with open(sf1_md) as fh:
            ref = re.search(SF01_REF_STAMP_RE, fh.read())
        if ref is None and m and m.group(1) == tree_now:
            errs.append(
                "BENCH_SF1.md's footer matches the current tree but "
                "the sf0.1 reference-column stamp line is absent — "
                "regenerate it whole with tools/bench_sf1_report.py "
                "so the 3d-bis decoupling gate is live"
            )
        if ref:
            try:
                import json as _json

                with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
                    bl_now = _json.load(fh)
            except (OSError, ValueError):
                bl_now = {}
            if (
                abs(bl_now.get("value", -1) - float(ref.group(1))) > 1e-6
                or bl_now.get("engine_tree") != ref.group(2)
            ):
                errs.append(
                    "BENCH_SF1.md's sf0.1 reference column was rendered "
                    f"from BENCH_LOCAL total {ref.group(1)} s (tree "
                    f"{ref.group(2)}), but the committed BENCH_LOCAL.json "
                    f"reads {bl_now.get('value')} s (tree "
                    f"{bl_now.get('engine_tree')}) — the two artifacts "
                    "decoupled; regenerate BENCH_SF1.md against the "
                    "final BENCH_LOCAL"
                )

    # 4. evidence files committed (the r6 BENCH_LOCAL.json slip) —
    # EXCEPT driver-written artifacts (VERDICT r8 #6): the driver's
    # post-close rerun overwrites BENCH_LOCAL.json in the working
    # tree through no builder fault; recognize that copy by its
    # raw_run_totals_sec appearing verbatim in the newest
    # driver-recorded BENCH_r*.json and treat it as expected-dirty.
    # (BENCH_r*.json / CORRECTNESS_r*.json themselves are
    # driver-committed and never in this path list.) Everything
    # else keeps failing the gate.
    def _is_driver_bench_local() -> bool:
        return is_driver_bench_local(bl_path, REPO)

    out = subprocess.run(
        ["git", "status", "--porcelain", "--",
         "BENCH_LOCAL.json", "SURVEY.md", "__spark_entry__.py",
         "dbt_eamples_spark", "bench.py"],
        cwd=REPO, capture_output=True, text=True,
    )
    dirty = [ln for ln in out.stdout.splitlines() if ln.strip()]
    driver_lines = [
        ln for ln in dirty if ln.split()[-1] == "BENCH_LOCAL.json"
    ]
    if driver_lines and _is_driver_bench_local():
        print(
            "preflight: BENCH_LOCAL.json working-tree copy matches "
            "the driver's post-close rerun (raw_run_totals_sec found "
            "in the newest BENCH_r*.json) — expected-dirty, ignored"
        )
        dirty = [ln for ln in dirty if ln not in driver_lines]
    # --fresh-evidence (round 12): tools/close_round.py's own final
    # gate — every r10–r12 close ended with a false red here because
    # the close REGENERATES BENCH_LOCAL.json and then asks preflight
    # for a clean tree before anyone could commit it. Under the flag,
    # a dirty BENCH_LOCAL is tolerated IFF its stamp is the tree
    # being snapshotted (i.e. it is this close's own output, about to
    # be committed); engine-source dirt still fails.
    if "--fresh-evidence" in sys.argv and dirty:
        fresh = []
        for ln in dirty:
            if ln.split()[-1] != "BENCH_LOCAL.json":
                continue
            try:
                import json as _json

                with open(bl_path) as fh:
                    if _json.load(fh).get("engine_tree") == tree_now:
                        fresh.append(ln)
            except (OSError, ValueError):
                pass
        if fresh:
            print(
                "preflight: BENCH_LOCAL.json is this close's own "
                "fresh output (stamped with the snapshot tree) — "
                "expected-dirty under --fresh-evidence, commit it next"
            )
            dirty = [ln for ln in dirty if ln not in fresh]
    if dirty:
        errs.append(f"uncommitted evidence/engine files: {dirty}")

    # 5. full suite green
    if not fast:
        print("preflight: running full pytest suite ...")
        r = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-q", "-x"],
            cwd=REPO,
        )
        if r.returncode != 0:
            errs.append("pytest suite is red")

    if errs:
        fail(errs)
    print(
        f"PREFLIGHT OK: {len(qs)} registry queries, {len(oracles)} oracles, "
        f"{len(bench)} benched, SURVEY documented, sweep fresh"
        + ("" if fast else ", pytest green")
    )


if __name__ == "__main__":
    main()
