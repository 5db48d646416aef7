"""PQ operating-point recall study (deterministic, numpy-only).

Reproduces the table in RECALL.md §PQ: top-5 ADC recall of product
quantization against brute-force cosine on the sf0.01 embeddings,
across (subvectors, codes, trained?) operating points. "Trained" =
4 Lloyd iterations per subspace seeded from the first K subvectors
(deterministic — no RNG anywhere).

The fixture's near-uniform vectors are PQ's PATHOLOGICAL case: with
no cluster structure, a 12–32-bit code cannot preserve neighbor
order, so these are floor numbers. Clustered production embeddings
concentrate variance in few directions, which is precisely what the
per-subspace codebooks capture; the production dials are trained
codebooks (reuse the per-subspace Lloyd loop), more codes, and an
ADC-shortlist → exact-rerank refine stage.

Usage: python tools/pq_recall_study.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def load(sf_dir: str):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, x


def exact_top5(ids, x, n_queries=10):
    norms = np.linalg.norm(x, axis=1)
    cos = (x[:n_queries] @ x.T) / np.outer(norms[:n_queries], norms)
    out = []
    for qi in range(n_queries):
        c = cos[qi].copy()
        c[ids == ids[qi]] = -9
        out.append(set(ids[np.argsort(-c)[:5]]))
    return out


def md5_codebook(s, n_codes, subdim):
    return np.array(
        [
            [
                (
                    int(
                        hashlib.md5(f"pq:{s}:{k}:{d}".encode()).hexdigest()[:15],
                        16,
                    )
                    % 2001
                    - 1000
                )
                / 1000.0
                for d in range(subdim)
            ]
            for k in range(n_codes)
        ]
    )


def pq_recall(ids, x, truth, n_sub, n_codes, train_iters):
    n, dim = x.shape
    subdim = dim // n_sub
    recon = np.zeros_like(x)
    for s in range(n_sub):
        sub = x[:, s * subdim : (s + 1) * subdim]
        if train_iters == 0:
            cb = md5_codebook(s, n_codes, subdim)
        else:
            cb = sub[:n_codes].copy()
            for _ in range(train_iters):
                d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                assign = d2.argmin(1)
                for k in range(n_codes):
                    members = sub[assign == k]
                    if len(members):
                        cb[k] = members.mean(0)
        d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
        recon[:, s * subdim : (s + 1) * subdim] = cb[d2.argmin(1)]
    hits = 0
    for qi, true_set in enumerate(truth):
        d = ((x[qi][None, :] - recon) ** 2).sum(1)
        d[ids == ids[qi]] = 9e18
        hits += len(set(ids[np.argsort(d)[:5]]) & true_set)
    return hits / (5 * len(truth))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    ids, x = load(sf_dir)
    truth = exact_top5(ids, x)
    print(f"# PQ ADC top-5 recall vs exact cosine at {sf_dir}")
    print("| subvectors | codes | bits | trained | recall |")
    print("|---|---|---|---|---|")
    for n_sub, n_codes, ti in [
        (4, 8, 0),  # the shipped fixture operating point (oracle-pinned)
        (4, 8, 4),
        (8, 16, 4),
        (8, 64, 4),
        (8, 256, 4),
    ]:
        import math

        bits = n_sub * int(math.log2(n_codes))
        r = pq_recall(ids, x, truth, n_sub, n_codes, ti)
        print(
            f"| {n_sub} | {n_codes} | {bits} | "
            f"{'yes (4 Lloyd)' if ti else 'no (md5 seed)'} | {r:.2f} |"
        )


if __name__ == "__main__":
    main()
