"""Round-9 operators: recall-eval extensions (VERDICT r8 #4) and the
delta/incremental paths' query-facing twins."""

from __future__ import annotations

import pytest


@pytest.mark.parametrize("kind", ["lsh", "ivfpq"])
def test_recall_eval_matches_python(spark, sf_dir, kind):
    """recall@k recomputed in python from the two operators' own
    outputs (the round-8 ivf-recall lock, applied to the LSH and
    residual-IVF-PQ shortlists)."""
    from dbt_eamples_spark.operators.similarity import (
        TOP_K,
        similarity_ivf_pq_residual_topk,
        similarity_ivfpq_recall_eval,
        similarity_lsh_recall_eval,
        similarity_lsh_topk,
        similarity_topk,
    )

    approx_fn, eval_fn = {
        "lsh": (similarity_lsh_topk, similarity_lsh_recall_eval),
        "ivfpq": (
            similarity_ivf_pq_residual_topk,
            similarity_ivfpq_recall_eval,
        ),
    }[kind]
    exact: dict[int, set[int]] = {}
    for r in similarity_topk(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx: dict[int, set[int]] = {}
    for r in approx_fn(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    rows = eval_fn(spark, sf_dir).collect()
    assert sorted(r.query_id for r in rows) == sorted(exact)
    for r in rows:
        want = len(exact[r.query_id] & approx.get(r.query_id, set()))
        assert r.k == TOP_K and r.n_overlap == want
        assert abs(r.recall - round(want / TOP_K, 6)) < 1e-12
        assert 0 <= r.recall <= 1


def test_incremental_phash_matches_full_restriction(spark, sf_dir, tmp_path, monkeypatch):
    """The incremental probe must reproduce exactly the full
    dedup_phash pair set restricted to (new × corpus) pairs (the
    fixture buckets are far below the cap, so the full query's
    fat-bucket guard never fires and the restriction is exact), and
    the corpus band index must build once then be reused."""
    from dbt_eamples_spark import artifacts as A
    from dbt_eamples_spark.operators import multimodal as M
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    A.ARTIFACT_EVENTS.clear()
    A.clear_session_state()
    inc = {
        (r.new_doc, r.corpus_doc, r.n_bands_shared, r.hamming)
        for r in M.dedup_incremental_phash(spark, sf_dir).collect()
    }
    full = M.dedup_phash(spark, sf_dir).collect()
    want = set()
    for r in full:
        a_new = r.doc_a % INCR_MOD == 0
        b_new = r.doc_b % INCR_MOD == 0
        if a_new != b_new:
            new, corp = (r.doc_a, r.doc_b) if a_new else (r.doc_b, r.doc_a)
            want.add((new, corp, r.n_bands_shared, r.hamming))
    assert inc == want and len(inc) > 0
    # every planted even scene contributes its 4 (new member-0 ×
    # corpus member) pairs — recall 1.0 on the generative truth
    n_new = sum(1 for r in inc)
    new_docs = {n for n, *_ in inc}
    assert all(
        sum(1 for n, *_ in inc if n == d) == 4 for d in new_docs
    ) and n_new == 4 * len(new_docs)
    # index built once; a cleared L1 reuses the parquet artifact
    assert [e for k, e in A.ARTIFACT_EVENTS if k == "phash_band_index"] == ["build"]
    A.clear_session_state()
    M.dedup_incremental_phash(spark, sf_dir).collect()
    assert [e for k, e in A.ARTIFACT_EVENTS if k == "phash_band_index"] == ["build", "reuse"]
    A.clear_session_state()


def test_phash_fixture_horizon_guard():
    """The three-modulus generative scene form is collision-free
    only below lcm(199, 193, 197) = 7,566,179 scenes (~37.8M docs);
    generation past that horizon must fail loudly (VERDICT r8 #7,
    period extended r11 with the i^3 mod-197 term so the 10x
    synthesis's offset ids fit), and the period really is the first
    scene collision (the base pixel arrays repeat exactly there, the
    reason the guard exists)."""
    import numpy as np
    import pytest as _pt

    from dbt_eamples_spark.operators.multimodal import (
        PHASH_GROUP,
        PHASH_SCENE_PERIOD,
        _phash_pixels,
    )

    # inside the horizon: fine; at the horizon: loud
    _phash_pixels((PHASH_SCENE_PERIOD - 1) * PHASH_GROUP)
    with _pt.raises(ValueError, match="fourth"):
        _phash_pixels(PHASH_SCENE_PERIOD * PHASH_GROUP)
    # the period is real: scene g and g + period share pixels bit
    # for bit (computed directly from the closed form, bypassing
    # the guard) while g and g+1 differ, and no PROPER divisor of
    # the period built from the moduli is itself a period
    g = 7
    i = np.arange(16 * 18, dtype=np.int64)

    def base(gg):
        return (
            (gg + 1) * (i * i + 3 * i + 7)
            + (gg * 13 % 193) * (2 * i + 1)
            + (gg * 7 % 197) * (i * i * i)
        ) % 199

    assert np.array_equal(base(g), base(g + PHASH_SCENE_PERIOD))
    assert not np.array_equal(base(g), base(g + 1))
    for sub in (199 * 193, 199 * 197, 193 * 197):
        assert not np.array_equal(base(g), base(g + sub)), sub
