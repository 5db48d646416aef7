"""Synthesize a 10× ("sf1.0-equivalent") corpus from sf0.1 for the
heavy-tail scaling spot-check (VERDICT r4 #8) — the driver
environment ships no sf1.0 fixture, so we build one under the
repo-local .tmp/ (never touching /root/testdata).

Design: each output table is 10 key-shifted copies of the sf0.1
table. Within a copy, ALL similarity/duplicate structure is
preserved exactly; across copies it is destroyed, so true-pair
counts scale LINEARLY (the realistic regime) instead of
quadratically (which 10 verbatim copies would produce and which
would measure the data's duplicate blow-up, not the operator's
scaling):

 - documents: per-copy vowel-permutation ``translate`` — a bijection
   on characters, so intra-copy shingle overlap is preserved 1:1
   while cross-copy shingles share nothing; plus a per-doc unique
   suffix token.
 - embeddings: per-copy array ROTATION — orthogonal, preserves every
   intra-copy cosine exactly; rotated near-uniform vectors
   decorrelate across copies.
 - relational tables: plain key offsets (referential integrity kept
   per copy); nation/region stay as-is (dimensions).
 - events: event_id/user_id offsets — 10× users with identical
   per-user behavior, same time range (10× hourly density).

Usage: python tools/scale_corpus.py [out_dir]  (default
.tmp/sf1.0 in the checkout)
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SRC = "/root/testdata/sf0.1"
OFF = 100_000_000
# documents use a SMALLER copy offset: the phash generative fixture
# derives a scene id g = doc_id//5, and its three-modulus form is
# collision-free only below ~7.57M scenes (~37.8M docs) — 1M-offset
# copies keep every synthesized g inside that horizon (max ≈ 1.8M)
# while preserving the %INCR_MOD classes (1e6 ≡ 0 mod 10) and
# doc_id uniqueness (sf0.1 max doc_id 4,999 << 1M)
DOC_OFF = 1_000_000
COPIES = 10
# Synthesis version, stamped into <out>/_synthesis.json and quoted
# by every BENCH_SF1 exponent table (VERDICT r10 #7 — exponents must
# never again be measured against an unstated fixture artifact):
#   1: vowel-permutation documents, OFF=1e8 everywhere (rounds 4-9).
#      Plants a quadratic cross-copy dup tail: the vowel permutation
#      is an identity on consonant-only/numeric texts.
#   2: adds the --full-permute control (round 10) — full-alphabet
#      rotation, no planted tail; default output unchanged.
#   3: documents copy offset 1e6 (round 11) so the phash image
#      family synthesizes inside the three-modulus horizon; text
#      content unchanged except the ' u<doc_id>' uniqueness suffix.
SYNTH_VERSION = 3


def vowel_perm(i: int) -> str:
    v = "aeiou"
    return v[i % 5 :] + v[: i % 5]


def alpha_perm(i: int) -> str:
    """Full-alphabet per-copy rotation (round 10, opt-in via
    --full-permute): the vowel-only permutation is an IDENTITY on
    consonant-only/numeric texts, so those docs survive as genuine
    cross-copy near-dups — a quadratic planted-dup tail the default
    synthesis docstring assumes away (measured in BENCH_SF1.md:
    26,845 of 29,265 verified sf1 minhash pairs were cross-copy).
    Rotating all 26 letters leaves only digit/punctuation-only texts
    as fixed points. Default output is UNCHANGED for cross-round
    comparability."""
    a = "abcdefghijklmnopqrstuvwxyz"
    k = (i * 7) % 26 or (1 if i else 0)
    return a[k:] + a[:k]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out = args[0] if args else os.path.join(REPO, ".tmp/sf1.0")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")

    def copy_union(table: str, select_for_copy) -> None:
        arms = " UNION ALL ".join(
            select_for_copy(i) for i in range(COPIES)
        )
        con.execute(
            f"COPY ({arms}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        print(table, "->", con.sql(
            f"SELECT count(*) FROM '{out}/{table}.parquet'"
        ).fetchone()[0], "rows")

    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(t, "-> copied")

    copy_union(
        "customer",
        lambda i: f"""SELECT c_custkey + {i * OFF} AS c_custkey, c_name,
            c_nationkey, c_acctbal, c_mktsegment
            FROM '{SRC}/customer.parquet'""",
    )
    copy_union(
        "supplier",
        lambda i: f"""SELECT s_suppkey + {i * OFF} AS s_suppkey, s_name,
            s_nationkey, s_acctbal FROM '{SRC}/supplier.parquet'""",
    )
    copy_union(
        "part",
        lambda i: f"""SELECT p_partkey + {i * OFF} AS p_partkey, p_name,
            p_brand, p_type, p_size, p_retailprice
            FROM '{SRC}/part.parquet'""",
    )
    copy_union(
        "orders",
        lambda i: f"""SELECT o_orderkey + {i * OFF} AS o_orderkey,
            o_custkey + {i * OFF} AS o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority
            FROM '{SRC}/orders.parquet'""",
    )
    copy_union(
        "lineitem",
        lambda i: f"""SELECT l_orderkey + {i * OFF} AS l_orderkey,
            l_partkey + {i * OFF} AS l_partkey,
            l_suppkey + {i * OFF} AS l_suppkey, l_linenumber,
            l_quantity, l_extendedprice, l_discount, l_tax,
            l_returnflag, l_linestatus, l_shipdate
            FROM '{SRC}/lineitem.parquet'""",
    )
    copy_union(
        "events",
        lambda i: f"""SELECT event_id + {i * OFF} AS event_id, ts,
            user_id + {i * OFF} AS user_id, event_type, value, props
            FROM '{SRC}/events.parquet'""",
    )
    full = "--full-permute" in sys.argv
    copy_union(
        "documents",
        lambda i: f"""SELECT doc_id + {i * DOC_OFF} AS doc_id,
            translate(text,
                      '{"abcdefghijklmnopqrstuvwxyz" if full else "aeiou"}',
                      '{alpha_perm(i) if full else vowel_perm(i)}')
              || ' u' || CAST(doc_id + {i * DOC_OFF} AS VARCHAR) AS text,
            lang, source, n_chars FROM '{SRC}/documents.parquet'""",
    )
    copy_union(
        "embeddings",
        lambda i: f"""SELECT vec_id + {i * OFF} AS vec_id,
            list_concat(embedding[{(i % 64) + 1}:],
                        embedding[:{i % 64}]) AS embedding,
            label FROM '{SRC}/embeddings.parquet'""",
    )
    with open(os.path.join(out, "_synthesis.json"), "w") as fh:
        json.dump(
            {
                "synth_version": SYNTH_VERSION,
                "src": SRC,
                "copies": COPIES,
                "off": OFF,
                "doc_off": DOC_OFF,
                "documents_permutation": (
                    "full-alphabet" if full else "vowel"
                ),
            },
            fh,
            indent=1,
        )
    print("synthesis manifest: version", SYNTH_VERSION,
          "(full-permute)" if full else "(vowel, planted dup tail)")


def synth_manifest(corpus_dir: str) -> dict:
    """The stamped synthesis manifest of a generated corpus dir —
    {} for corpora generated before versioning (treat as version 1,
    OFF=1e8 documents)."""
    p = os.path.join(corpus_dir, "_synthesis.json")
    try:
        with open(p) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


if __name__ == "__main__":
    main()
