"""DuckDB oracle SQL for the EXT operators (dedup / similarity /
text analysis / multimodal).

These mirror the Spark implementations expression-for-expression:
md5-string hashing, strict left-fold float reductions
(``list_reduce`` ≡ ``F.aggregate`` with 0.0 seed, since 0.0+x == x),
identical tokenization (``\\s+`` split of lowercased text) and
identical rounding (ROUND at 6dp / floor-truncation) — which is what
makes value-hash equality achievable across engines.
"""

from __future__ import annotations

from dbt_eamples_spark.operators.dedup import (
    COSINE_NEAR_DUP,
    HAMMING_MAX,
    JACCARD_THRESHOLD,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_P,
    MINHASH_ROWS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_NIBBLES,
)
from dbt_eamples_spark.operators.similarity import (
    DEDUP_LSH_TABLES,
    DEDUP_PROBE_FLIPS,
    KMEANS_ITERS,
    LSH_PLANE_WEIGHTS,
    LSH_PLANES,
    LSH_PROBE_FLIPS,
    LSH_TABLES,
    NCENTROIDS,
    NPROBE,
    N_QUERIES,
    TOP_K,
)
from dbt_eamples_spark.operators.text import (
    BPE_PATTERN,
    LANG_STOPWORDS,
    WINNOW_K,
    WINNOW_W,
)

# --- shared SQL fragments ---------------------------------------------------

SHINGLES = r"""
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
    FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
          FROM documents)
"""

# strict left-fold dot product / norms (matches F.aggregate exactly)
def _dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _norm(a: str) -> str:
    return f"sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"


def _cos(a: str, b: str) -> str:
    return f"({_dot(a, b)} / ({_norm(a)} * {_norm(b)}))"



def _kmeans_cte_sql(iters: int, src: str = "v") -> str:
    """CTE chain c0..c{iters} replicating
    similarity._kmeans_centroids exactly: max-cosine assignment +
    FIXED-POINT per-dimension means (coordinates rounded to 1e-6 and
    summed as BIGINT — integer addition is order-independent, so the
    distributed Spark mean and this sequential SQL mean agree
    bit-for-bit; a double avg would diverge with summation order).
    ``src`` is the training-set CTE (round 12: the incremental IVF
    oracle trains on the standing-corpus view ``vb`` while assigning
    the full table — the frozen-quantizer contract)."""
    parts = [
        f"""c0 AS (SELECT vec_id AS cent_id, vec AS cvec FROM {src}
                   WHERE vec_id < {NCENTROIDS})"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
        a{i} AS (
            SELECT cent_id, vec FROM (
                SELECT s.vec_id, s.vec, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {_cos('s.vec', 'c.cvec')} DESC,
                                    c.cent_id ASC) AS rk
                FROM {src} s CROSS JOIN c{i - 1} c
            ) WHERE rk = 1
        )""")
        parts.append(f"""
        e{i} AS (
            SELECT cent_id,
                   unnest(range(1, len(vec) + 1)) AS pos,
                   unnest(vec) AS x
            FROM a{i}
        )""")
        parts.append(f"""
        c{i} AS (
            SELECT cent_id, list(m ORDER BY pos) AS cvec FROM (
                SELECT cent_id, pos,
                       (SUM(CAST(round(x * 1000000.0) AS BIGINT))::DOUBLE
                            / COUNT(*)) / 1000000.0 AS m
                FROM e{i} GROUP BY cent_id, pos
            ) GROUP BY cent_id
        )""")
    parts.append(f"cent AS (SELECT cent_id, cvec FROM c{iters})")
    return ",\n".join(parts)


# dynamic-plane support: the oracle renders DYN_NP_MAX literal
# planes, each bit guarded by `p < np` where np comes from the
# integer CASE ladder below — so the SQL picks the same plane count
# as similarity.lsh_planes(count) up to 64·2^DYN_NP_MAX = 262,144
# vectors (>40× local-gate scale). similarity.lsh_planes caps at 24
# planes, so past that bound Spark would keep growing planes while
# the oracle could not; the ladder ERRORS there instead of silently
# diverging (ADVICE r5) — rendering 24 literal 64-term plane dots
# would triple the SQL for a regime the oracle never runs in.
DYN_NP_MAX = 12


def _np_ladder_sql(table: str = "embeddings", target: int = 64) -> str:
    """similarity.lsh_planes as pure-integer SQL: smallest p in
    [LSH_PLANES, DYN_NP_MAX] with target·2^p >= count(*). Integer
    comparisons only — no float log2 whose last ulp could diverge
    across engines at power-of-two boundaries. Corpora past the
    DYN_NP_MAX validity bound fail loudly via error()."""
    from dbt_eamples_spark.operators.similarity import LSH_PLANES

    whens = " ".join(
        f"WHEN c <= {target << p} THEN {p}"
        for p in range(LSH_PLANES, DYN_NP_MAX)
    )
    return (
        f"SELECT CASE {whens} WHEN c <= {target << DYN_NP_MAX} "
        f"THEN {DYN_NP_MAX} "
        f"ELSE CAST(error('corpus exceeds dynamic-LSH oracle bound "
        f"(64*2^{DYN_NP_MAX} rows); Spark lsh_planes keeps growing "
        f"past it') AS INT) END AS np "
        f"FROM (SELECT count(*) AS c FROM {table})"
    )


def _plane_sql(t: int, p: int) -> str:
    from dbt_eamples_spark.operators.similarity import _plane

    return "[" + ", ".join(repr(x) for x in _plane(t, p)) + "]"


def _lsh_bucket_sql(t: int, np_expr: str | None = None) -> str:
    """Bucket id for table t over a double-list column ``vec`` —
    literal plane weights, strict left-fold dots (mirrors
    similarity._lsh_bucket exactly). With ``np_expr`` (a SQL scalar,
    e.g. a subquery on the _np_ladder_sql CTE) the bucket uses only
    planes p < np — the dynamic-sizing twin."""
    n = LSH_PLANES if np_expr is None else DYN_NP_MAX
    bits = []
    for p in range(n):
        guard = f"{p} < {np_expr} AND " if np_expr is not None else ""
        bits.append(
            f"(CASE WHEN {guard}{_dot('vec', _plane_sql(t, p))} >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _lsh_probe_sql(t: int, flips: int, np_expr: str | None = None) -> str:
    """Multi-probe bucket LIST for table t over ``vec`` — mirrors
    similarity.with_lsh_probes exactly: [base, base^bit(m1), ...,
    base^bit(m_flips)] with m1..m_flips the planes of smallest
    |dot| margin (struct-lexicographic sort ties on plane index in
    both engines; dots are the identical strict left-fold). With
    ``np_expr`` the margin candidates are filtered to p < np before
    the sort, matching the dynamic Spark build."""
    base = _lsh_bucket_sql(t, np_expr)
    n = LSH_PLANES if np_expr is None else DYN_NP_MAX
    structs = []
    for p in range(n):
        structs.append(
            f"{{'m': abs({_dot('vec', _plane_sql(t, p))}), 'p': {p}}}"
        )
    lst = f"[{', '.join(structs)}]"
    if np_expr is not None:
        lst = (
            f"list_filter({lst}, "
            f"s -> struct_extract(s, 'p') < {np_expr})"
        )
    return (
        f"list_prepend({base}, list_transform("
        f"list_sort({lst})[1:{flips}], "
        f"s -> xor({base}, (1 << struct_extract(s, 'p')))))"
    )


def _lang_hits_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


def _lang_argmax_case() -> str:
    order = list(LANG_STOPWORDS)
    whens = []
    for lang in order:
        conds = []
        for other in order:
            if other == lang:
                continue
            op = ">=" if order.index(other) > order.index(lang) else ">"
            conds.append(f"{lang}_hits {op} {other}_hits")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE NULL END"


def _feat_sql(d: int) -> str:
    """Stride-d byte-moment of ASCII text, floor-truncated at 6dp —
    mirrors multimodal._fake_decode."""
    rng = f"range({d} + 1, length(text) + 1, 8)"
    return (
        f"floor(list_sum(list_transform({rng}, i -> ord(substr(text, i, 1))))::DOUBLE"
        f" / greatest(len({rng}), 1) / 255.0 * 1e6) / 1e6"
    )


# full MinHash near-dup pair statement — the dedup_minhash oracle,
# also nested (DuckDB allows WITH inside a CTE body) as the edge
# source of the dedup_clusters recursive-CTE oracle
MINHASH_PAIRS_SQL = f"""
        WITH sh AS ({SHINGLES}),
        sig AS (
            SELECT doc_id, shingles,
                   list_transform(range(0, {MINHASH_K}), j ->
                       list_min(list_transform(bases,
                           b -> ((2 * j + 1) * b + j * j + 1) % {MINHASH_P}))) AS sig
            FROM (SELECT doc_id, shingles,
                         list_transform(shingles, s ->
                             ('0x' || substr(md5(s), 1, 15))::BIGINT
                                 % {MINHASH_P}) AS bases
                  FROM sh)
        ),
        bands AS (
            SELECT doc_id, unnest(range(0, {MINHASH_BANDS})) AS band, sig FROM sig
        ),
        buckets AS (
            SELECT doc_id, band,
                   array_to_string(list_transform(
                       list_slice(sig, band * {MINHASH_ROWS} + 1,
                                  band * {MINHASH_ROWS} + {MINHASH_ROWS}),
                       x -> x::VARCHAR), '|') AS bucket
            FROM bands
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                         / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
                       AS jaccard
            FROM cands
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b
        ) WHERE jaccard >= {JACCARD_THRESHOLD}
"""

INCR_MINHASH_SQL = (
    "SELECT doc_b AS new_doc, doc_a AS corpus_doc, jaccard FROM (\n"
    + MINHASH_PAIRS_SQL.replace(
        "a.doc_id < b.doc_id",
        "b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0",
    )
    + "\n)"
)

# per-doc quality statement, shared by text_quality_score and the
# quality-weighted sampler
QUALITY_SQL = f"""
        SELECT doc_id, n_tokens,
               round(punct::DOUBLE / g_len, 6) AS punct_ratio,
               round(stop::DOUBLE / g_tok, 6) AS stopword_ratio,
               round(0.4 * least(n_tokens / 100.0, 1.0)
                     + 0.3 * (1.0 - least(punct::DOUBLE / g_len * 10.0, 1.0))
                     + 0.3 * least(stop::DOUBLE / g_tok * 5.0, 1.0), 6)
                   AS quality_score
        FROM (SELECT doc_id,
                     len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
                     greatest(length(text), 1) AS g_len,
                     greatest(len(string_split_regex(lower(text), '\\s+')), 1) AS g_tok,
                     len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
                     {_lang_hits_sql('en')} AS stop
              FROM documents)
"""

EXT_ORACLES: dict[str, str] = {
    "dedup_incremental_minhash": INCR_MINHASH_SQL,
    # quality-weighted hash-coin sampling — coin and score derive
    # from exact integers / pre-rounded doubles, so the keep
    # decision is engine-exact
    "sample_quality_weighted": f"""
        WITH q AS ({QUALITY_SQL})
        SELECT doc_id, quality_score,
               ROUND(coin, 6) AS coin
        FROM (
          SELECT doc_id, quality_score,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   / 1152921504606846976.0 AS coin
          FROM q
        ) WHERE coin < quality_score
    """,
    # ---- text analysis -----------------------------------------------------
    # BM25 term scoring — identical double expression tree to the
    # Spark side (ln/idf/weight), per-doc sum folded in fixed-point
    "text_bm25_search": r"""
        WITH tokd AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
          FROM documents
        ), lens AS (
          SELECT doc_id, len(toks) AS dl FROM tokd
        ), stats AS (
          SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM lens
        ), tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS tok FROM tokd)
          WHERE tok IN ('query', 'join', 'vector')
          GROUP BY doc_id, tok
        ), dft AS (
          SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        ), scored AS (
          SELECT tf.doc_id,
                 CAST(ROUND(
                   ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl
                        / (CAST(sum_dl AS DOUBLE) / n_docs)))
                   * 1e9) AS BIGINT) AS w_fp
          FROM tf
          JOIN dft USING (tok)
          JOIN lens ON lens.doc_id = tf.doc_id
          CROSS JOIN stats
        )
        SELECT doc_id, COUNT(*) AS n_terms,
               ROUND(CAST(SUM(w_fp) AS DOUBLE) / 1e9, 6) AS bm25
        FROM scored GROUP BY doc_id
    """,
    "text_keyword_extract": r"""
        WITH tokd AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
          FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM tokd)
          GROUP BY doc_id, term
        ), dft AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, term,
                 tf * ROUND(ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
          FROM tf JOIN dft USING (term) CROSS JOIN nd
        ), ranked AS (
          SELECT doc_id, term, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, term ASC) AS kw_rank
          FROM scored
        )
        SELECT doc_id, CAST(kw_rank AS INTEGER) AS kw_rank, term,
               ROUND(tfidf, 6) AS tfidf
        FROM ranked WHERE kw_rank <= 3
    """,
    "text_token_stats": r"""
        SELECT doc_id,
               length(text) AS n_chars,
               len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct_tokens,
               round(length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(t), 6)
                   AS avg_token_len
        FROM (SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS t
              FROM documents)
    """,
    "text_lang_id": f"""
        SELECT doc_id,
               labeled_lang,
               {_lang_argmax_case()} AS predicted_lang,
               CAST(en_hits AS BIGINT) AS en_hits
        FROM (SELECT doc_id, lang AS labeled_lang,
                     {', '.join(f'{_lang_hits_sql(k)} AS {k}_hits' for k in LANG_STOPWORDS)}
              FROM documents)
    """,
    "text_quality_score": QUALITY_SQL,
    "text_hash_embed": r"""
        WITH t AS (SELECT doc_id,
                          unnest(string_split_regex(lower(text), '\s+')) AS tok
                   FROM documents),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
              FROM t),
        s AS (SELECT doc_id, hv & 63 AS dim,
                     SUM(CASE WHEN (hv >> 6) & 1 = 0 THEN 1 ELSE -1 END) AS s
              FROM h GROUP BY doc_id, hv & 63)
        SELECT doc_id, dim,
               round(s / sqrt(SUM(s * s) OVER (PARTITION BY doc_id)), 6)
                   AS value
        FROM s
    """,
    "source_quality_rollup": f"""
        WITH q AS (
            SELECT doc_id, source, lang, n_tokens,
                   round(0.4 * least(n_tokens / 100.0, 1.0)
                         + 0.3 * (1.0 - least(punct::DOUBLE / g_len * 10.0, 1.0))
                         + 0.3 * least(stop::DOUBLE / g_tok * 5.0, 1.0), 6)
                       AS quality_score
            FROM (SELECT doc_id, source, lang,
                         len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
                         greatest(length(text), 1) AS g_len,
                         greatest(len(string_split_regex(lower(text), '\\s+')), 1)
                             AS g_tok,
                         len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
                         {_lang_hits_sql('en')} AS stop
                  FROM documents)
        )
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT lang) AS n_langs,
               round(SUM(n_tokens)::DOUBLE / COUNT(*), 4) AS avg_tokens,
               round((SUM(CAST(round(quality_score * 1000000) AS BIGINT))::DOUBLE
                          / COUNT(*)) / 1000000.0, 6) AS avg_quality
        FROM q GROUP BY source
    """,
    "text_token_count_bpe": f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
               len(string_split_regex(lower(text), '\\s+')) AS n_ws_tokens
        FROM documents
    """,
    "doc_fingerprint": r"""
        SELECT doc_id, fingerprint,
               COUNT(*) OVER (PARTITION BY fingerprint) AS n_dups
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                         AS fingerprint
              FROM documents)
    """,
    "doc_winnow_fingerprint": f"""
        WITH normd AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(length(norm) - {WINNOW_K - 1}, 1) + 1),
                       i -> ('0x' || substr(md5(substr(norm, i::INT, {WINNOW_K})),
                                            1, 15))::BIGINT) AS g
            FROM normd
        ),
        winnowed AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(g) - {WINNOW_W - 1}, 1) + 1),
                       i -> list_min(list_slice(g, i, i + {WINNOW_W - 1})))) AS fps
            FROM grams
        )
        SELECT doc_id, unnest(fps) AS fingerprint FROM winnowed
    """,
    # ---- dedup -------------------------------------------------------------
    "dedup_exact": r"""
        SELECT min(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents)
        GROUP BY fp
    """,
    "dedup_minhash": MINHASH_PAIRS_SQL,
    "dedup_clusters": f"""
        WITH RECURSIVE pairs AS ({MINHASH_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        walk(node, comp) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst AS node, w.comp AS comp
            FROM walk w JOIN edges e ON e.src = w.node
        ),
        comp AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)
        SELECT node AS doc_id,
               comp AS cluster_id,
               COUNT(*) OVER (PARTITION BY comp) AS cluster_size,
               node = comp AS keep
        FROM comp
    """,
    "corpus_keep_list": f"""
        WITH RECURSIVE pairs AS ({MINHASH_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        walk(node, comp) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst AS node, w.comp AS comp
            FROM walk w JOIN edges e ON e.src = w.node
        ),
        comp AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
        ek AS (
            SELECT doc_id,
                   doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS exact_keep
            FROM (SELECT doc_id,
                         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                             AS fp
                  FROM documents)
        ),
        verdict AS (
            SELECT e.doc_id,
                   CASE WHEN NOT e.exact_keep THEN 'exact_dup'
                        WHEN c.node IS NOT NULL AND c.node <> c.comp
                             THEN 'near_dup'
                        ELSE 'kept' END AS reason
            FROM ek e LEFT JOIN comp c ON c.node = e.doc_id
        )
        SELECT doc_id, reason, reason = 'kept' AS keep FROM verdict
    """,
    "dedup_simhash": f"""
        WITH sh AS ({SHINGLES}),
        hashed AS (
            SELECT doc_id, md5(s) AS h
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
        ),
        nibs AS (
            SELECT doc_id,
                   {', '.join(
                       f"('0x' || substr(h, {i}, 1))::INT AS nib{i}"
                       for i in range(1, SIMHASH_NIBBLES + 1))}
            FROM hashed
        ),
        votes AS (
            SELECT doc_id,
                   {', '.join(
                       f"sum(CASE WHEN (nib{p // 4 + 1} & {1 << (p % 4)}) > 0"
                       f" THEN 1 ELSE -1 END) AS v{p}"
                       for p in range(SIMHASH_BITS))}
            FROM nibs GROUP BY doc_id
        ),
        sigs AS (
            SELECT doc_id,
                   ({' + '.join(
                       f"CASE WHEN v{p} > 0 THEN {1 << (p - 32)}::BIGINT"
                       " ELSE 0::BIGINT END"
                       for p in range(32, SIMHASH_BITS))}) AS sig_hi,
                   ({' + '.join(
                       f"CASE WHEN v{p} > 0 THEN {1 << p}::BIGINT"
                       " ELSE 0::BIGINT END"
                       for p in range(32))}) AS sig_lo
            FROM votes
        ),
        buckets AS (
            SELECT doc_id, sig_hi, sig_lo, band,
                   ((CASE WHEN band < 2 THEN sig_lo ELSE sig_hi END
                     >> ((band % 2) * 16)) & 65535) AS bucket
            FROM (SELECT doc_id, sig_hi, sig_lo,
                         unnest(range(0, {SIMHASH_BANDS})) AS band
                  FROM sigs)
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.sig_hi AS hi_a, a.sig_lo AS lo_a,
                            b.sig_hi AS hi_b, b.sig_lo AS lo_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM (
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(hi_a, hi_b))
                        + bit_count(xor(lo_a, lo_b)) AS INT) AS hamming
            FROM cands
        ) WHERE hamming <= {HAMMING_MAX}
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS ({SHINGLES}),
        blocked AS (
            SELECT doc_id, shingles,
                   list_min(list_transform(shingles, s ->
                       ('0x' || substr(md5(s), 1, 15))::BIGINT
                           % {MINHASH_P})) AS blk
            FROM sh
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                         / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
                       AS jaccard
            FROM blocked a JOIN blocked b
              ON a.blk = b.blk
             AND a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.3
    """,
    "dedup_embedding_cosine": f"""
        WITH npl AS MATERIALIZED ({_np_ladder_sql()}),
        v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        wb AS (
            SELECT vec_id, vec,
                   {', '.join(
                       f"{_lsh_bucket_sql(t, 'np')} AS b{t}"
                       for t in range(DEDUP_LSH_TABLES))}
            FROM v, npl
        ),
        keys AS (
            {' UNION ALL '.join(
                f"SELECT vec_id, {t} AS t, b{t} AS bucket FROM wb"
                for t in range(DEDUP_LSH_TABLES))}
        ),
        pkeys AS (
            {' UNION ALL '.join(
                f"SELECT vec_id, {t} AS t, "
                f"unnest({_lsh_probe_sql(t, DEDUP_PROBE_FLIPS, 'np')}) AS bucket "
                f"FROM v, npl"
                for t in range(DEDUP_LSH_TABLES))}
        ),
        cands AS (
            SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
                            greatest(a.vec_id, b.vec_id) AS vec_b
            FROM keys a JOIN pkeys b
              ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id != b.vec_id
        )
        SELECT vec_a, vec_b, cosine FROM (
            SELECT vec_a, vec_b,
                   round({_cos('va.vec', 'vb.vec')}, 6) AS cosine
            FROM cands
            JOIN v va ON va.vec_id = vec_a
            JOIN v vb ON vb.vec_id = vec_b
        ) WHERE cosine >= {COSINE_NEAR_DUP}
    """,
    # ---- multimodal frame sampling -----------------------------------------
    "multimodal_frame_sample": """
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   CAST(floor(octet_length(encode(text)) / 16.0) AS BIGINT)
                       AS n_frames
            FROM documents
        ),
        f AS (
            SELECT doc_id, h, n_frames,
                   unnest(range(0, greatest(n_frames, 1))) AS frame_idx
            FROM b
        )
        SELECT doc_id, frame_idx, n_frames,
               md5(substring(h, CAST(frame_idx * 32 + 1 AS BIGINT), 32))
                   AS frame_md5
        FROM f
        WHERE frame_idx < n_frames AND frame_idx % 4 = 0
    """,
    # ---- curation: decontamination / repetition / packing ------------------
    "text_decontaminate": r"""
        WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                      FROM documents),
        ng AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 7, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS g
            FROM toks
        ),
        ev AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT ASC,
                                    doc_id ASC) AS r
                FROM documents
            ) WHERE r <= 20
        ),
        evg AS (SELECT DISTINCT g FROM ng WHERE doc_id IN (SELECT doc_id FROM ev))
        SELECT doc_id, COUNT(*) AS n_hits
        FROM ng
        WHERE doc_id NOT IN (SELECT doc_id FROM ev)
          AND g IN (SELECT g FROM evg)
        GROUP BY doc_id
    """,
    "text_repetition_stats": r"""
        WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                      FROM documents),
        base AS (SELECT doc_id, len(t) AS n_tokens,
                        len(list_distinct(t)) AS n_distinct, t
                 FROM toks),
        bg AS (
            SELECT doc_id, n_tokens, n_distinct,
                   unnest(list_transform(
                       range(1, greatest(len(t) - 1, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bg
            FROM base
        ),
        cnt AS (SELECT doc_id, n_tokens, n_distinct, bg, COUNT(*) AS c
                FROM bg GROUP BY doc_id, n_tokens, n_distinct, bg),
        top AS (SELECT doc_id, n_tokens, n_distinct, MAX(c) AS top_bg
                FROM cnt GROUP BY doc_id, n_tokens, n_distinct)
        SELECT doc_id,
               round(1 - n_distinct::DOUBLE / n_tokens, 6) AS dup_word_frac,
               round(top_bg::DOUBLE / greatest(n_tokens - 1, 1), 6)
                   AS top_bigram_frac
        FROM top
    """,
    "pack_concat_chunks": r"""
        WITH t AS (SELECT doc_id,
                          len(string_split_regex(lower(text), '\s+')) AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS BIGINT) AS tok_offset
              FROM t)
        SELECT doc_id, n_tokens, tok_offset,
               CAST(floor(tok_offset / 512.0) AS BIGINT) AS chunk_first,
               CAST(floor((tok_offset + n_tokens - 1) / 512.0) AS BIGINT)
                   AS chunk_last,
               CAST(floor((tok_offset + n_tokens - 1) / 512.0) AS BIGINT)
                 - CAST(floor(tok_offset / 512.0) AS BIGINT) + 1 AS n_chunks
        FROM c
    """,
    # ---- sampling / distributions ------------------------------------------
    "sample_stratified": """
        SELECT doc_id, lang, sample_rank FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT ASC,
                                doc_id ASC) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= 20
    """,
    "agg_histogram": """
        SELECT bin_id,
               0.0 + bin_id * 50000.0 AS bin_lo,
               COUNT(*) AS n_orders,
               ROUND(MIN(o_totalprice), 2) AS bin_min,
               ROUND(MAX(o_totalprice), 2) AS bin_max
        FROM (SELECT CAST(least(floor((o_totalprice - 0.0) / 50000.0), 11)
                          AS BIGINT) AS bin_id,
                     o_totalprice
              FROM orders)
        GROUP BY bin_id
    """,
    # ---- similarity search -------------------------------------------------
    "similarity_topk": f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
              WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT query_id, v.vec_id AS neighbor_id,
                   round({_cos('qvec', 'v.vec')}, 6) AS cosine
            FROM v JOIN q ON v.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """,
    "similarity_lsh_topk": f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        wb AS (
            SELECT vec_id, vec,
                   {', '.join(f"{_lsh_bucket_sql(t)} AS b{t}"
                              for t in range(LSH_TABLES))}
            FROM v
        ),
        q AS (SELECT vec_id AS query_id, vec AS qvec,
                     {', '.join(
                         f"{_lsh_probe_sql(t, LSH_PROBE_FLIPS)} AS qp{t}"
                         for t in range(LSH_TABLES))}
              FROM wb WHERE vec_id < {N_QUERIES}),
        cands AS (
            {' UNION ALL '.join(
                f"SELECT query_id, qvec, wb.vec_id AS neighbor_id, wb.vec "
                f"FROM wb JOIN q ON list_contains(q.qp{t}, wb.b{t}) "
                f"AND wb.vec_id != q.query_id"
                for t in range(LSH_TABLES))}
        ),
        scored AS (
            SELECT DISTINCT query_id, neighbor_id,
                   round({_cos('qvec', 'vec')}, 6) AS cosine
            FROM cands
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """,
    "similarity_ivf_topk": f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        {_kmeans_cte_sql(KMEANS_ITERS)},
        assigned AS (
            SELECT vec_id, vec, bucket FROM (
                SELECT v.vec_id, v.vec, cent_id AS bucket,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {_cos('v.vec', 'cvec')} DESC, cent_id ASC) AS crk
                FROM v CROSS JOIN cent
            ) WHERE crk = 1
        ),
        q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
              WHERE vec_id < {N_QUERIES}),
        probes AS (
            SELECT query_id, qvec, bucket FROM (
                SELECT query_id, qvec, cent_id AS bucket,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY {_cos('qvec', 'cvec')} DESC, cent_id ASC) AS prk
                FROM q CROSS JOIN cent
            ) WHERE prk <= {NPROBE}
        ),
        scored AS (
            SELECT query_id, a.vec_id AS neighbor_id,
                   round({_cos('qvec', 'a.vec')}, 6) AS cosine
            FROM assigned a JOIN probes p ON a.bucket = p.bucket
            WHERE a.vec_id != p.query_id
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """,
    # ---- multimodal --------------------------------------------------------
    "multimodal_meta": """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS content_md5,
               'text/plain' AS mime,
               source AS origin
        FROM documents
    """,
    "multimodal_features_flat": f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               {_feat_sql(0)} AS feat_0,
               {_feat_sql(1)} AS feat_1
        FROM documents
    """,
}


# ---- round-3 additions: basket mining / pareto / random projection ---------

def _rp_oracle_sql() -> str:
    """Mirror of similarity.embedding_random_projection: literal
    ±1/√k weight rows, strict left-fold dots, fixed-point checksum
    in literal component order, identical norm-ratio expression."""
    from dbt_eamples_spark.operators.similarity import (
        RP_TARGET_DIM,
        RP_WEIGHTS,
    )

    proj = ", ".join(
        f"{_dot('vec', '[' + ', '.join(repr(x) for x in RP_WEIGHTS[j]) + ']')}"
        f" AS c{j}"
        for j in range(RP_TARGET_DIM)
    )
    checksum = " + ".join(
        f"CAST(round(c{j} * 1000000.0) AS BIGINT)"
        for j in range(RP_TARGET_DIM)
    )
    sq = " + ".join(f"c{j} * c{j}" for j in range(RP_TARGET_DIM))
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        p AS (SELECT vec_id, vec, {proj} FROM v)
        SELECT vec_id,
               {RP_TARGET_DIM} AS n_dims_out,
               {checksum} AS checksum_fp,
               round(sqrt({sq}) / {_norm('vec')}, 6) AS norm_ratio
        FROM p
    """


EXT_ORACLES.update(
    {
        "market_basket_pairs": """
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            support AS (
                SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                       COUNT(*) AS support
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2
            )
            SELECT part_a, part_b, support FROM support
            ORDER BY support DESC, part_a, part_b LIMIT 100
        """,
        "abc_pareto_class": """
            WITH rev AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
                FROM lineitem GROUP BY 1
            ),
            ranked AS (
                SELECT l_partkey, rev_cents,
                       SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey)
                           AS cum_cents,
                       SUM(rev_cents) OVER () AS total_cents
                FROM rev
            )
            SELECT l_partkey, rev_cents,
                   round(CAST(cum_cents AS DOUBLE) / total_cents, 6)
                       AS cum_share,
                   CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
                        WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        """,
        "embedding_random_projection": _rp_oracle_sql(),
    }
)


def _containment_oracle_sql() -> str:
    """Mirror of dedup.dedup_containment: same shingle definition as
    the MinHash oracle, rarity ranking tie-broken on the shingle
    string, prefix-filter candidates, exact containment verify."""
    from dbt_eamples_spark.operators.dedup import (
        CONTAINMENT_RARE_K,
        CONTAINMENT_THRESHOLD,
    )

    return f"""
        WITH sh AS ({SHINGLES}),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        dfc AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
        ranked AS (
            SELECT ex.doc_id, ex.s,
                   ROW_NUMBER() OVER (PARTITION BY ex.doc_id
                                      ORDER BY dfc.df, ex.s) AS rk
            FROM ex JOIN dfc ON ex.s = dfc.s
        ),
        keys AS (SELECT doc_id, s FROM ranked
                 WHERE rk <= {CONTAINMENT_RARE_K}),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM keys a JOIN keys b
              ON a.s = b.s AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, containment FROM (
            SELECT doc_a, doc_b,
                   round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                         / least(len(sa.shingles), len(sb.shingles)), 6)
                       AS containment
            FROM cands
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b
        ) WHERE containment >= {CONTAINMENT_THRESHOLD}
    """


EXT_ORACLES["dedup_containment"] = _containment_oracle_sql()

# dedup_incremental_clusters: the Spark side composes base-only CC +
# an asymmetric delta probe + the quotient-graph merge; the oracle is
# DELIBERATELY the from-scratch recursive-CTE component walk over the
# whole corpus — the value hash is the proof that the incremental
# composition equals a rebuild (VERDICT r9 #2).
EXT_ORACLES["dedup_incremental_clusters"] = EXT_ORACLES["dedup_clusters"]


EXT_ORACLES["agg_correlation"] = """
    WITH base AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    agg AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM base GROUP BY 1
    )
    SELECT l_returnflag, n AS n_rows,
           CASE WHEN sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx)
                          * (n::DOUBLE * syy - sy::DOUBLE * sy)) > 0
                THEN round((n::DOUBLE * sxy - sx::DOUBLE * sy)
                           / sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx)
                                  * (n::DOUBLE * syy - sy::DOUBLE * sy)), 6)
                END AS corr_qty_price
    FROM agg
"""


# ---- round-4 additions: path mining / gap fill / line dedup / PQ ----------

EXT_ORACLES["events_user_path"] = """
    WITH r AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    p AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM p GROUP BY path
"""

EXT_ORACLES["ts_gap_fill"] = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM events
    ),
    spine AS (
        SELECT t.event_type, g.hour
        FROM (SELECT DISTINCT event_type FROM hourly) t
        CROSS JOIN (
            SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM b
        ) g
    ),
    j AS (
        SELECT s.event_type, s.hour, h.cents
        FROM spine s LEFT JOIN hourly h USING (event_type, hour)
    ),
    m0 AS (
        SELECT event_type, hour, cents,
               CAST(epoch(hour) AS BIGINT) // 3600 AS eh
        FROM j
    ),
    m AS (
        SELECT event_type, hour, cents, eh,
               last_value(cents IGNORE NULLS) OVER wp AS pc,
               last_value(CASE WHEN cents IS NOT NULL THEN eh END
                          IGNORE NULLS) OVER wp AS ph,
               first_value(cents IGNORE NULLS) OVER wn AS nc,
               first_value(CASE WHEN cents IS NOT NULL THEN eh END
                           IGNORE NULLS) OVER wn AS nh
        FROM m0
        WINDOW wp AS (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hour,
           round(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                      WHEN pc IS NOT NULL AND nc IS NOT NULL
                      THEN pc + (nc - pc) * (CAST(eh - ph AS DOUBLE)
                                             / CAST(nh - ph AS DOUBLE))
                      ELSE CAST(COALESCE(pc, nc) AS DOUBLE) END,
                 4) AS filled_cents,
           cents IS NULL AS is_gap
    FROM m
"""

EXT_ORACLES["text_line_dedup"] = r"""
    WITH w AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents
    ),
    n AS (
        SELECT doc_id, ws, CAST(floor(len(ws) / 10) AS INT) AS n_segs FROM w
    ),
    s AS (
        SELECT doc_id,
               md5(array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')) AS seg
        FROM n, UNNEST(generate_series(0, n_segs - 1)) AS t(i)
        WHERE n_segs > 0
    ),
    f AS (SELECT seg, COUNT(*) AS n_occurrences FROM s GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN n_occurrences > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_segments,
           round(CAST(SUM(CASE WHEN n_occurrences > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS dup_fraction
    FROM s JOIN f USING (seg) GROUP BY doc_id
"""


def _pq_oracle_sql() -> str:
    """Mirror of similarity.embedding_pq_encode: the literal codebook
    as a VALUES relation, the identical squared-distance left fold
    per (subvector, code), argmin via ROW_NUMBER with the same
    (distance, code) tie-break, fixed-point error audit cast back to
    BIGINT (DuckDB SUM would otherwise promote to HUGEINT and break
    the driver hash — the round-3 abc_pareto lesson)."""
    from dbt_eamples_spark.operators.similarity import (
        PQ_CODEBOOK,
        PQ_CODES,
        PQ_SUBDIM,
        PQ_SUBVECTORS,
    )

    rows = ",\n            ".join(
        f"({s}, {k}, [{', '.join(repr(x) for x in PQ_CODEBOOK[s][k])}])"
        for s in range(PQ_SUBVECTORS)
        for k in range(PQ_CODES)
    )
    dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (vec[s * {PQ_SUBDIM} + i] - code[i])"
        f" * (vec[s * {PQ_SUBDIM} + i] - code[i])), (x, y) -> x + y)"
    )
    code_cols = ", ".join(
        f"CAST(MAX(CASE WHEN s = {s} THEN k END) AS INTEGER) AS code_{s}"
        for s in range(PQ_SUBVECTORS)
    )
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        cb(s, k, code) AS (VALUES
            {rows}
        ),
        d AS (
            SELECT vec_id, s, k, {dist} AS d2
            FROM v CROSS JOIN cb
        ),
        best AS (
            SELECT vec_id, s, k, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2 ASC, k ASC) AS rn
            FROM d
        )
        SELECT vec_id, {code_cols},
               CAST(SUM(CAST(floor(d2 * 1000000.0) AS BIGINT)) AS BIGINT)
                   AS err_fp
        FROM best WHERE rn = 1 GROUP BY vec_id
    """


EXT_ORACLES["embedding_pq_encode"] = _pq_oracle_sql()


EXT_ORACLES["dedup_semantic_clusters"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({EXT_ORACLES["dedup_embedding_cosine"]}),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, comp) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst AS node, w.comp AS comp
        FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)
    SELECT node AS vec_id,
           comp AS cluster_id,
           COUNT(*) OVER (PARTITION BY comp) AS cluster_size,
           node = comp AS keep
    FROM comp
"""


EXT_ORACLES["text_perplexity_unigram"] = r"""
    WITH occ AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        FROM documents
    ),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY 1),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_corpus,
               CAST(COUNT(*) AS BIGINT) AS v_vocab
        FROM cnt
    ),
    lm AS (
        SELECT term,
               round(-ln((c + 1) / (n_corpus + v_vocab)), 6) AS nll
        FROM cnt CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           floor(CAST(SUM(CAST(round(nll * 1000000000.0) AS BIGINT))
                      AS BIGINT) / (COUNT(*) * 1000)) / 1000000.0 AS avg_nll
    FROM occ JOIN lm USING (term)
    GROUP BY doc_id
"""


EXT_ORACLES["sample_train_test_split"] = """
    SELECT doc_id, ROUND(coin, 6) AS coin,
           CASE WHEN coin < 0.8 THEN 'train'
                WHEN coin < 0.9 THEN 'validation'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   / 1152921504606846976.0 AS coin
        FROM documents
    )
"""

EXT_ORACLES["agg_mad_outliers"] = """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    mad AS (
        SELECT e.event_type, MAX(m.med) AS med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    )
    SELECT event_id, event_type, value,
           round(med, 6) AS med, round(mad, 6) AS mad
    FROM events JOIN mad USING (event_type)
    WHERE abs(value - med) > 5 * mad
"""

EXT_ORACLES["events_attribution_last_touch"] = """
    WITH tagged AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch
        FROM events
    )
    SELECT COALESCE(touch, 'direct') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM tagged WHERE event_type = 'purchase'
    GROUP BY 1
"""


def _pq_trained_parts(src: str = "v", cb: str = "cb") -> list[str]:
    """Shared CTE chain for the trained-PQ oracles, through the
    trained codebook relation ``cb(s, k, cvec)``: per-subspace Lloyd
    chains (L2 assignment with (d2, k) tie-break + FIXED-POINT 1e-6
    means — integer sums are order-independent, so the sequential SQL
    means equal Spark's distributed ones bit-for-bit). Code ids are
    the surviving seed vec_ids in both engines. ``src`` names the
    (vec_id, vec) relation to train over — the default builds ``v``
    from embeddings; the residual-IVFPQ oracle passes its residual
    CTE instead (and a distinct ``cb`` name, since its chain
    coexists with nothing else sharing the s{s}/c{s}_{i} namespace
    per query)."""
    from dbt_eamples_spark.operators.similarity import (
        PQ_CODES,
        PQ_SUBDIM,
        PQ_SUBVECTORS,
        PQ_TRAIN_ITERS,
    )

    parts = []
    if src == "v":
        parts.append(
            """v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        )"""
        )
    for s in range(PQ_SUBVECTORS):
        lo = s * PQ_SUBDIM + 1
        hi = (s + 1) * PQ_SUBDIM
        parts.append(
            f"""s{s} AS (
            SELECT vec_id, vec[{lo}:{hi}] AS sv FROM {src}
        )"""
        )
        parts.append(
            f"""c{s}_0 AS (
            SELECT CAST(vec_id AS INTEGER) AS k, sv AS cvec FROM s{s}
            WHERE vec_id < {PQ_CODES}
        )"""
        )
        dist = (
            f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
            f"i -> (t.sv[i] - c.cvec[i]) * (t.sv[i] - c.cvec[i])), "
            f"(x, y) -> x + y)"
        )
        for i in range(1, PQ_TRAIN_ITERS + 1):
            parts.append(
                f"""a{s}_{i} AS (
            SELECT k, sv FROM (
                SELECT t.vec_id, t.sv, c.k,
                       ROW_NUMBER() OVER (PARTITION BY t.vec_id
                           ORDER BY {dist} ASC, c.k ASC) AS rk
                FROM s{s} t CROSS JOIN c{s}_{i - 1} c
            ) WHERE rk = 1
        )"""
            )
            parts.append(
                f"""e{s}_{i} AS (
            SELECT k, unnest(range(1, len(sv) + 1)) AS pos,
                   unnest(sv) AS x
            FROM a{s}_{i}
        )"""
            )
            parts.append(
                f"""c{s}_{i} AS (
            SELECT k, list(m ORDER BY pos) AS cvec FROM (
                SELECT k, pos,
                       (SUM(CAST(round(x * 1000000.0) AS BIGINT))::DOUBLE
                            / COUNT(*)) / 1000000.0 AS m
                FROM e{s}_{i} GROUP BY k, pos
            ) GROUP BY k
        )"""
            )
    cb_union = " UNION ALL ".join(
        f"SELECT {s} AS s, k, cvec FROM c{s}_{PQ_TRAIN_ITERS}"
        for s in range(PQ_SUBVECTORS)
    )
    # MATERIALIZED: the rerank oracle references cb from two
    # consumers (encode distances + query distance tables); DuckDB
    # would otherwise inline — and re-run — the whole training chain
    # per consumer (the ROUND4_NOTES re-evaluation finding).
    parts.append(f"{cb} AS MATERIALIZED ({cb_union})")
    return parts


def _pq_trained_oracle_sql() -> str:
    """Mirror of similarity.embedding_pq_encode_trained: the shared
    trained-codebook chain (:func:`_pq_trained_parts`), then the
    encode argmin against the TRAINED codebook CTE."""
    from dbt_eamples_spark.operators.similarity import (
        PQ_SUBDIM,
        PQ_SUBVECTORS,
    )

    parts = _pq_trained_parts()
    enc_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (vec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (vec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    parts.append(
        f"""d AS (
            SELECT vec_id, s, k, {enc_dist} AS d2
            FROM v CROSS JOIN cb
        )"""
    )
    parts.append(
        """best AS (
            SELECT vec_id, s, k, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2 ASC, k ASC) AS rn
            FROM d
        )"""
    )
    code_cols = ", ".join(
        f"CAST(MAX(CASE WHEN s = {s} THEN k END) AS INTEGER) AS code_{s}"
        for s in range(PQ_SUBVECTORS)
    )
    return f"""
        WITH {','.join(parts)}
        SELECT vec_id, {code_cols},
               CAST(SUM(CAST(floor(d2 * 1000000.0) AS BIGINT)) AS BIGINT)
                   AS err_fp
        FROM best WHERE rn = 1 GROUP BY vec_id
    """


EXT_ORACLES["embedding_pq_encode_trained"] = _pq_trained_oracle_sql()


def _pq_trained_rerank_oracle_sql() -> str:
    """Mirror of similarity.similarity_pq_rerank_topk: the shared
    trained-codebook chain, long-form codes, per-query ADC distance
    tables against the TRAINED codebook, a PQ_RERANK shortlist in the
    deterministic (adc_dist, neighbor_id) order, then EXACT cosine
    re-ranking of the shortlist only. The ADC sum is the ORDERED
    list_reduce over s (((d0+d1)+d2)+d3 — Spark's left-assoc
    addition order); cosine rounds to 6 dp on identical expression
    trees, the similarity_topk convention."""
    from dbt_eamples_spark.operators.similarity import (
        N_QUERIES,
        PQ_RERANK,
        PQ_SUBDIM,
        PQ_SUBVECTORS,
        TOP_K,
    )

    parts = _pq_trained_parts()
    enc_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (vec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (vec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    q_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (qvec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (qvec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    parts.append(
        f"""d AS (
            SELECT vec_id, s, k, {enc_dist} AS d2
            FROM v CROSS JOIN cb
        )"""
    )
    parts.append(
        """best AS (
            SELECT vec_id, s, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2 ASC, k ASC) AS rn
            FROM d
        )"""
    )
    parts.append("codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1)")
    parts.append(
        f"""q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM v
            WHERE vec_id < {N_QUERIES}
        )"""
    )
    parts.append(
        f"""dt AS (
            SELECT query_id, s, k, {q_dist} AS dq
            FROM q CROSS JOIN cb
        )"""
    )
    parts.append(
        """scored AS (
            SELECT dt.query_id, c.vec_id AS neighbor_id,
                   list_reduce(list(dt.dq ORDER BY dt.s),
                               (x, y) -> x + y) AS adc_dist
            FROM codes c JOIN dt ON c.s = dt.s AND c.k = dt.k
            WHERE c.vec_id != dt.query_id
            GROUP BY dt.query_id, c.vec_id
        )"""
    )
    parts.append(
        f"""shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adc_dist ASC,
                                                   neighbor_id ASC) AS srk
                FROM scored
            ) WHERE srk <= {PQ_RERANK}
        )"""
    )
    parts.append(
        f"""rescored AS (
            SELECT sl.query_id, sl.neighbor_id,
                   round({_cos('q.qvec', 'nv.vec')}, 6) AS cosine
            FROM shortlist sl
            JOIN q ON q.query_id = sl.query_id
            JOIN v nv ON nv.vec_id = sl.neighbor_id
        )"""
    )
    return f"""
        WITH {','.join(parts)}
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC,
                                               neighbor_id ASC) AS rk
            FROM rescored
        ) WHERE rk <= {TOP_K}
    """


EXT_ORACLES["similarity_pq_rerank_topk"] = _pq_trained_rerank_oracle_sql()


def _pq_trained_adc_oracle_sql() -> str:
    """Mirror of similarity.similarity_pq_topk's DEFAULT (trained)
    operating point: the shared trained-codebook chain
    (:func:`_pq_trained_parts`), encode argmin + per-query distance
    tables against the TRAINED codebook, ADC score as the ORDERED
    list_reduce over s (Spark's left-assoc addition), deterministic
    (adc_dist, neighbor_id) top-k — the rerank oracle minus its
    shortlist/refine tail."""
    from dbt_eamples_spark.operators.similarity import (
        N_QUERIES,
        PQ_SUBDIM,
        PQ_SUBVECTORS,
        TOP_K,
    )

    parts = _pq_trained_parts()
    enc_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (vec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (vec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    q_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (qvec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (qvec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    parts.append(
        f"""d AS (
            SELECT vec_id, s, k, {enc_dist} AS d2
            FROM v CROSS JOIN cb
        )"""
    )
    parts.append(
        """best AS (
            SELECT vec_id, s, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2 ASC, k ASC) AS rn
            FROM d
        )"""
    )
    parts.append("codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1)")
    parts.append(
        f"""q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM v
            WHERE vec_id < {N_QUERIES}
        )"""
    )
    parts.append(
        f"""dt AS (
            SELECT query_id, s, k, {q_dist} AS dq
            FROM q CROSS JOIN cb
        )"""
    )
    parts.append(
        """scored AS (
            SELECT dt.query_id, c.vec_id AS neighbor_id,
                   list_reduce(list(dt.dq ORDER BY dt.s),
                               (x, y) -> x + y) AS adc_dist
            FROM codes c JOIN dt ON c.s = dt.s AND c.k = dt.k
            WHERE c.vec_id != dt.query_id
            GROUP BY dt.query_id, c.vec_id
        )"""
    )
    return f"""
        WITH {','.join(parts)}
        SELECT query_id, neighbor_id, adc_dist, rk FROM (
            SELECT query_id, neighbor_id, adc_dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_dist ASC,
                                               neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """


EXT_ORACLES["similarity_pq_topk"] = _pq_trained_adc_oracle_sql()


def _profile_oracle_sql() -> str:
    from dbt_eamples_spark.operators.quality import PROFILE_TABLE

    cols = {
        "events": ("event_id", "ts", "user_id", "event_type", "value", "props")
    }[PROFILE_TABLE]
    parts = [
        f"""SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM {PROFILE_TABLE}"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


EXT_ORACLES["table_profile"] = _profile_oracle_sql()


def _pii_oracle_sql() -> str:
    """Mirror of text.text_pii_scan: identical doc_id-keyed fixture
    enrichment, per-class non-overlapping match counts via
    regexp_extract_all, and the same email → ipv4 → phone →
    digit-run global-replacement order for the redaction md5. The
    patterns live in one place (text.py) and are restricted to the
    Java/RE2-common regex subset."""
    from dbt_eamples_spark.operators.text import (
        PII_DIGIT_RUN,
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
    )

    def n(pat: str) -> str:
        return f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT)"

    red = "t"
    for pat, token in [
        (PII_EMAIL, "[EMAIL]"),
        (PII_IPV4, "[IP]"),
        (PII_PHONE, "[PHONE]"),
        (PII_DIGIT_RUN, "[NUM]"),
    ]:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"

    return f"""
        WITH aug AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' reach user' || doc_id::VARCHAR
                                || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' call 555-867-5309 or 555-123-4567'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' from host 192.168.10.42' ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN ' acct 123456789012345' ELSE '' END AS t
            FROM documents
        )
        SELECT doc_id,
               {n(PII_EMAIL)} AS n_emails,
               {n(PII_PHONE)} AS n_phones,
               {n(PII_IPV4)} AS n_ipv4,
               {n(PII_DIGIT_RUN)} AS n_digit_runs,
               {n(PII_EMAIL)} + {n(PII_PHONE)} + {n(PII_IPV4)}
                 + {n(PII_DIGIT_RUN)} AS pii_total,
               md5({red}) AS redacted_md5
        FROM aug
    """


EXT_ORACLES["text_pii_scan"] = _pii_oracle_sql()


def _quality_filter_oracle_sql() -> str:
    """Mirror of curation.corpus_quality_filter: same tokenization
    contract (split(lower(text), '\\s+')), same integer-only rule
    comparisons, same CASE order for the first-failing-rule
    reason."""
    from dbt_eamples_spark.operators.curation import (
        QF_DUP_DEN,
        QF_DUP_NUM,
        QF_LEN_HI_DEN,
        QF_LEN_HI_NUM,
        QF_LEN_LO_DEN,
        QF_LEN_LO_NUM,
        QF_MAX_WORDS,
        QF_MIN_STOP_HITS,
        QF_MIN_WORDS,
        QF_STOP_PAT,
    )

    return rf"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(lower(text), '\s+'))
                        AS BIGINT) AS n_words,
                   CAST(len(list_distinct(
                            string_split_regex(lower(text), '\s+')))
                        AS BIGINT) AS n_distinct,
                   CAST(length(regexp_replace(text, '\s+', '', 'g'))
                        AS BIGINT) AS n_letters,
                   CAST(len(regexp_extract_all(lower(text),
                            '{QF_STOP_PAT}')) AS BIGINT) AS stop_hits
            FROM documents
        ),
        v AS (
            SELECT *,
                   CASE
                     WHEN n_words < {QF_MIN_WORDS} THEN 'too_short'
                     WHEN n_words > {QF_MAX_WORDS} THEN 'too_long'
                     WHEN n_letters * {QF_LEN_LO_DEN}
                          < n_words * {QF_LEN_LO_NUM} THEN 'words_too_short'
                     WHEN n_letters * {QF_LEN_HI_DEN}
                          > n_words * {QF_LEN_HI_NUM} THEN 'words_too_long'
                     WHEN (n_words - n_distinct) * {QF_DUP_DEN}
                          > n_words * {QF_DUP_NUM} THEN 'repetitive'
                     WHEN stop_hits < {QF_MIN_STOP_HITS} THEN 'no_stopwords'
                     ELSE 'ok'
                   END AS reason
            FROM t
        )
        SELECT doc_id, n_words, n_distinct, n_letters, stop_hits,
               reason, reason = 'ok' AS keep
        FROM v
    """


EXT_ORACLES["corpus_quality_filter"] = _quality_filter_oracle_sql()


def _anomaly_oracle_sql() -> str:
    """Mirror of behavior.events_anomaly_rolling: same hourly rollup,
    same integer-hour RANGE frame, same cross-multiplied integer
    z-score inequality (DuckDB's HUGEINT sums are exact at the same
    widths Spark's decimal(38,0) covers); HUGEINT outputs cast back
    to BIGINT."""
    from dbt_eamples_spark.operators.behavior import (
        ANOM_K,
        ANOM_MIN_PRIOR,
        ANOM_WINDOW_H,
    )

    return f"""
        WITH hourly AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS hour,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
                       AS hnum
            FROM events
            GROUP BY 1, 2
        ),
        w AS (
            SELECT event_type, hour, n_events,
                   COUNT(*) OVER rw AS m,
                   SUM(n_events) OVER rw AS s1,
                   SUM(n_events * n_events) OVER rw AS s2
            FROM hourly
            WINDOW rw AS (PARTITION BY event_type ORDER BY hnum
                          RANGE BETWEEN {ANOM_WINDOW_H} PRECEDING
                                    AND 1 PRECEDING)
        )
        SELECT event_type, hour, n_events,
               CAST(m AS BIGINT) AS n_prior_hours,
               CAST(COALESCE(s1, 0) AS BIGINT) AS sum_prior,
               (m >= {ANOM_MIN_PRIOR}
                AND (n_events * m - s1) * (n_events * m - s1)
                    > {ANOM_K * ANOM_K} * (m * s2 - s1 * s1))
                   AS is_anomaly
        FROM w
    """


EXT_ORACLES["events_anomaly_rolling"] = _anomaly_oracle_sql()


def _dau_oracle_sql() -> str:
    """Mirror of behavior.events_dau_wau_mau, expressed as trailing
    range joins (equivalent to Spark's explode-and-count form: a
    pair contributes to target day t iff p.day <= t <= p.day+n-1
    iff t-n+1 <= p.day <= t)."""
    from dbt_eamples_spark.operators.behavior import MAU_DAYS, WAU_DAYS

    def win(n: int, out: str) -> str:
        return f"""{out} AS (
            SELECT d.day, COUNT(DISTINCT p.user_id) AS {out}
            FROM dau d JOIN pairs p
              ON p.day BETWEEN d.day - INTERVAL {n - 1} DAY AND d.day
            GROUP BY d.day
        )"""

    return f"""
        WITH pairs AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events
        ),
        dau AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
            FROM pairs GROUP BY day
        ),
        {win(WAU_DAYS, 'wau')},
        {win(MAU_DAYS, 'mau')}
        SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau,
               CAST(wau.wau AS BIGINT) AS wau,
               CAST(mau.mau AS BIGINT) AS mau
        FROM dau JOIN wau ON dau.day = wau.day
                 JOIN mau ON dau.day = mau.day
    """


EXT_ORACLES["events_dau_wau_mau"] = _dau_oracle_sql()


def _ngram_topk_oracle_sql() -> str:
    """Mirror of text.text_ngram_topk: in-row bigram expansion via
    list_transform over a 1-based index range, same (count DESC,
    gram ASC) total order under the same K."""
    from dbt_eamples_spark.operators.text import NGRAM_TOPK

    return rf"""
        WITH toks AS (
            SELECT string_split_regex(lower(text), '\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i + 1])) AS gram
            FROM toks
        )
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
        FROM grams
        GROUP BY gram
        ORDER BY n DESC, gram ASC
        LIMIT {NGRAM_TOPK}
    """


EXT_ORACLES["text_ngram_topk"] = _ngram_topk_oracle_sql()


EXT_ORACLES["sample_source_temperature"] = """
    WITH d AS (
        SELECT doc_id,
               's' || CAST(CAST(floor(sqrt(CAST(doc_id AS DOUBLE)))
                                AS BIGINT) AS VARCHAR) AS source_bin
        FROM documents
    ),
    c AS (
        SELECT source_bin, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM d GROUP BY source_bin
    ),
    m AS (SELECT MIN(n_docs) AS n_min FROM c),
    r AS (
        SELECT source_bin, n_docs, sqrt(n_min / n_docs) AS keep_rate
        FROM c CROSS JOIN m
    )
    SELECT doc_id, source_bin, n_docs, keep_rate, ROUND(coin, 6) AS coin
    FROM (
        SELECT d.doc_id, r.source_bin, r.n_docs, r.keep_rate,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                 / 1152921504606846976.0 AS coin
        FROM d JOIN r ON d.source_bin = r.source_bin
    ) WHERE coin < keep_rate
"""


EXT_ORACLES["table_diff"] = """
    WITH base AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    old AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
    new AS (
        SELECT o_orderkey,
               cents + CASE WHEN o_orderkey % 3 = 0 THEN 100 ELSE 0 END
                 AS cents
        FROM base WHERE o_orderkey % 10 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.cents <> n.cents THEN 'changed'
           END AS status,
           o.cents AS old_cents,
           n.cents AS new_cents
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN o.cents <> n.cents THEN 'changed'
          END IS NOT NULL
"""


EXT_ORACLES["agg_weighted_percentile"] = """
    WITH base AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    g AS (
        SELECT l_returnflag, cents, CAST(SUM(w) AS BIGINT) AS w
        FROM base GROUP BY l_returnflag, cents
    ),
    c AS (
        SELECT l_returnflag, cents,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumw,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                 AS totw
        FROM g
    )
    SELECT l_returnflag,
           CAST(MAX(totw) AS BIGINT) AS total_weight,
           MIN(CASE WHEN cumw * 100 >= 25 * totw THEN cents END) AS p25_cents,
           MIN(CASE WHEN cumw * 100 >= 50 * totw THEN cents END) AS p50_cents,
           MIN(CASE WHEN cumw * 100 >= 75 * totw THEN cents END) AS p75_cents
    FROM c
    GROUP BY l_returnflag
"""


EXT_ORACLES["events_inter_arrival"] = """
    WITH seq AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           quantile_cont(gap_us, 0.5) AS p50_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
    FROM seq
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
"""


EXT_ORACLES["join_bloom_prefilter"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY o_orderpriority
"""


def _skew_kurt_oracle_sql() -> str:
    """Mirror of relational.agg_skewness_kurtosis: the exact power
    sums (DuckDB SUM(BIGINT)→HUGEINT) convert to double (< 2^53 ⇒
    exact) and the final formulas are the VERBATIM-SHARED strings
    from SKEW_KURT_EXPRS — same IEEE tree, same doubles."""
    from dbt_eamples_spark.operators.relational import SKEW_KURT_EXPRS

    outs = ",\n           ".join(
        f"{sql} AS {name}" for name, sql in SKEW_KURT_EXPRS.items()
    )
    return f"""
        WITH sums AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(x) AS DOUBLE) AS s1,
                   CAST(SUM(x * x) AS DOUBLE) AS s2,
                   CAST(SUM(x * x * x) AS DOUBLE) AS s3,
                   CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
            FROM (
                SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x
                FROM lineitem
            )
            GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
           {outs}
        FROM sums
    """


EXT_ORACLES["agg_skewness_kurtosis"] = _skew_kurt_oracle_sql()


def _late_data_oracle_sql() -> str:
    """Mirror of streams.stream_late_data_metrics: per-batch max
    event time, running max over PRIOR batches minus the delay,
    integer-microsecond late test, hourly rollup."""
    from dbt_eamples_spark.streaming.streams import (
        LATE_DELAY_US,
        LATE_JITTER_US,
        LATE_TRIGGER_US,
    )

    return f"""
        WITH ev AS (
            SELECT ts, epoch_us(ts) AS us,
                   CAST(floor((epoch_us(ts)
                        + ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                          1, 15))::BIGINT
                          % {LATE_JITTER_US})
                        / {LATE_TRIGGER_US}) AS BIGINT) AS batch_id
            FROM events
        ),
        bm AS (
            SELECT batch_id, MAX(us) AS max_us FROM ev GROUP BY batch_id
        ),
        wm AS (
            SELECT batch_id,
                   MAX(max_us) OVER (ORDER BY batch_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     - {LATE_DELAY_US} AS wm_us
            FROM bm
        )
        SELECT date_trunc('hour', ev.ts) AS window_start,
               CAST(SUM(CASE WHEN wm.wm_us IS NOT NULL
                              AND ev.us < wm.wm_us
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_on_time,
               CAST(SUM(CASE WHEN wm.wm_us IS NOT NULL
                              AND ev.us < wm.wm_us
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_late_dropped
        FROM ev JOIN wm ON ev.batch_id = wm.batch_id
        GROUP BY date_trunc('hour', ev.ts)
    """


EXT_ORACLES["stream_late_data_metrics"] = _late_data_oracle_sql()


def _knn_graph_oracle_sql() -> str:
    """Mirror of similarity.similarity_knn_graph: directed exact
    top-K per vector (same tie order: cosine DESC, neighbor ASC),
    then the mutual self-join with a < b."""
    from dbt_eamples_spark.operators.similarity import (
        KNN_GRAPH_K,
        KNN_GRAPH_N,
    )

    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings WHERE vec_id < {KNN_GRAPH_N}
        ),
        scored AS (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   round({_cos('q.vec', 'v.vec')}, 6) AS cosine
            FROM v JOIN v q ON v.vec_id != q.vec_id
        ),
        directed AS (
            SELECT query_id AS src, neighbor_id AS dst, cosine FROM (
                SELECT query_id, neighbor_id, cosine,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rk
                FROM scored
            ) WHERE rk <= {KNN_GRAPH_K}
        )
        SELECT d.src AS a, d.dst AS b, d.cosine
        FROM directed d JOIN directed r
          ON d.src = r.dst AND d.dst = r.src
        WHERE d.src < d.dst
    """


EXT_ORACLES["similarity_knn_graph"] = _knn_graph_oracle_sql()


# ---- round-4 second wave: timeseries / TPC-H shapes / sketches / graph ----

EXT_ORACLES["ts_resample_ohlc"] = """
    WITH ev AS (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               ts, event_id, value
        FROM events
    ),
    marked AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, hour
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type, hour) AS n
        FROM ev
    )
    SELECT event_type, hour,
           max(CASE WHEN rn = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn = n THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM marked GROUP BY event_type, hour
"""


def _ship_delay_oracle_sql() -> str:
    from dbt_eamples_spark.operators.relational import DELAY_BANDS, DELAY_TAIL

    case = "CASE"
    for days, name in DELAY_BANDS:
        case += f" WHEN date_diff('day', o_orderdate, l_shipdate) <= {days} THEN '{name}'"
    case += f" ELSE '{DELAY_TAIL}' END"
    return f"""
        SELECT o_orderpriority, {case} AS delay_band,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority, delay_band
    """


EXT_ORACLES["agg_ship_delay_bands"] = _ship_delay_oracle_sql()


def _local_volume_oracle_sql() -> str:
    from dbt_eamples_spark.operators.relational import (
        LOCAL_VOLUME_DATE_HI,
        LOCAL_VOLUME_DATE_LO,
        LOCAL_VOLUME_REGION,
    )

    return f"""
        SELECT n_name,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = '{LOCAL_VOLUME_REGION}'
          AND o_orderdate BETWEEN '{LOCAL_VOLUME_DATE_LO}'
                              AND '{LOCAL_VOLUME_DATE_HI}'
        GROUP BY n_name
    """


EXT_ORACLES["join_star_local_volume"] = _local_volume_oracle_sql()


def _cms_oracle_sql() -> str:
    from dbt_eamples_spark.operators.sampling import CMS_D, CMS_TOP_K, CMS_W

    js = ",".join(f"({i})" for i in range(CMS_D))
    bucket = (
        "('0x' || substr(md5(j::VARCHAR || ':' || user_id::VARCHAR), 1, 15))"
        f"::BIGINT % {CMS_W}"
    )
    return f"""
        WITH js AS (SELECT * FROM (VALUES {js}) t(j)),
        hashed AS (
            SELECT user_id, j, {bucket} AS bucket
            FROM events CROSS JOIN js
        ),
        grid AS (
            SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM hashed GROUP BY j, bucket
        ),
        exact AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS exact
            FROM events GROUP BY user_id
        ),
        probes AS (
            SELECT user_id, exact, j, {bucket} AS bucket
            FROM exact CROSS JOIN js
        ),
        est AS (
            SELECT user_id, exact, CAST(min(cnt) AS BIGINT) AS est
            FROM probes JOIN grid USING (j, bucket)
            GROUP BY user_id, exact
        )
        SELECT user_id, est, exact,
               CAST(est - exact AS BIGINT) AS overcount
        FROM est ORDER BY est DESC, user_id LIMIT {CMS_TOP_K}
    """


EXT_ORACLES["agg_heavy_hitters_cms"] = _cms_oracle_sql()


def _fixed_sample_oracle_sql() -> str:
    from dbt_eamples_spark.operators.sampling import FIXED_SAMPLE_K

    return f"""
        SELECT doc_id, source, n_chars, md5(doc_id::VARCHAR) AS h
        FROM documents
        ORDER BY h, doc_id LIMIT {FIXED_SAMPLE_K}
    """


EXT_ORACLES["sample_fixed_size_hash"] = _fixed_sample_oracle_sql()


EXT_ORACLES["text_normalize_dedup"] = """
    WITH c AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS canon_fp,
               md5(text) AS raw_fp
        FROM documents
    )
    SELECT canon_fp,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_distinct_raw
    FROM c GROUP BY canon_fp
"""


def _pagerank_oracle_sql() -> str:
    """Unrolled fixed-point power iterations (module constants of
    operators.graph); MATERIALIZED edges/deg so DuckDB does not
    re-expand the basket join per iteration (the recursive-CTE
    re-evaluation trap, ROUND4_NOTES)."""
    from dbt_eamples_spark.operators.graph import (
        PAGERANK_DAMP_PCT,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        PAGERANK_TOP_K,
    )

    iters = ""
    prev = "r0"
    for k in range(1, PAGERANK_ITERS + 1):
        iters += f""",
        s{k} AS MATERIALIZED (
            SELECT e.dst AS node,
                   CAST(sum(r.rank_fp // r.deg) AS BIGINT) AS in_share
            FROM edges e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst
        ),
        r{k} AS (
            SELECT d.src AS node, d.deg,
                   CAST(({15 * PAGERANK_SCALE} // (100 * n.c))
                        + ({PAGERANK_DAMP_PCT} * s.in_share) // 100
                       AS BIGINT) AS rank_fp
            FROM deg d JOIN s{k} s ON d.src = s.node, n
        )"""
        prev = f"r{k}"
    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),
        deg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        n AS (SELECT count(*) AS c FROM deg),
        r0 AS (
            SELECT src AS node, deg,
                   CAST({PAGERANK_SCALE} // n.c AS BIGINT) AS rank_fp
            FROM deg, n
        ){iters}
        SELECT node AS l_partkey, deg, rank_fp
        FROM {prev}
        ORDER BY rank_fp DESC, node LIMIT {PAGERANK_TOP_K}
    """


EXT_ORACLES["graph_pagerank_topk"] = _pagerank_oracle_sql()


def _zipf_oracle_sql() -> str:
    from dbt_eamples_spark.operators.text import ZIPF_RANKS

    return rf"""
        WITH tf AS (
            SELECT term, CAST(count(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
                FROM documents
            )
            GROUP BY term ORDER BY freq DESC, term LIMIT {ZIPF_RANKS}
        ),
        ranked AS (
            SELECT row_number() OVER (ORDER BY freq DESC, term) AS rank, freq
            FROM tf
        ),
        fx AS (
            SELECT CAST(round(round(ln(rank), 6) * 1e6) AS BIGINT) AS x,
                   CAST(round(round(ln(freq), 6) * 1e6) AS BIGINT) AS y
            FROM ranked
        ),
        folds AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM fx
        )
        SELECT n AS n_terms,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
               round((CAST(sy AS DOUBLE) / 1e6
                      - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE))
                        * (CAST(sx AS DOUBLE) / 1e6))
                     / CAST(n AS DOUBLE), 6) AS zipf_intercept
        FROM folds
    """


EXT_ORACLES["text_zipf_slope"] = _zipf_oracle_sql()


EXT_ORACLES["corpus_mix_entropy"] = """
    WITH cnt AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    ),
    tot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY lang
    ),
    fp AS (
        SELECT cnt.lang, n,
               CAST(round(-(CAST(c AS DOUBLE) / n)
                     * round(ln(CAST(c AS DOUBLE) / n), 6)
                     * 1e9) AS BIGINT) AS w_fp
        FROM cnt JOIN tot USING (lang)
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_sources,
           round(CAST(SUM(w_fp) AS DOUBLE) / 1e9, 6) AS source_entropy,
           CASE WHEN count(*) = 1 THEN CAST(0.0 AS DOUBLE)
                ELSE round((CAST(SUM(w_fp) AS DOUBLE) / 1e9)
                     / round(ln(CAST(count(*) AS DOUBLE)), 6), 6)
           END AS norm_entropy
    FROM fp GROUP BY lang
"""


def _freshness_oracle_sql() -> str:
    from dbt_eamples_spark.operators.quality import (
        FRESHNESS_AS_OF,
        FRESHNESS_ERROR_H,
        FRESHNESS_SOURCES,
        FRESHNESS_WARN_H,
    )

    arms = "\n            UNION ALL ".join(
        f"SELECT '{name}' AS source_name, "
        f"CAST(max({col}) AS TIMESTAMP) AS mx FROM {table}"
        for name, table, col in FRESHNESS_SOURCES
    )
    return f"""
        WITH s AS (
            {arms}
        ),
        h AS (
            SELECT source_name,
                   strftime(mx, '%Y-%m-%d %H:%M:%S') AS max_loaded_at,
                   CAST(date_diff('second', mx,
                       TIMESTAMP '{FRESHNESS_AS_OF}') // 3600 AS BIGINT)
                       AS staleness_hours
            FROM s
        )
        SELECT source_name, max_loaded_at, staleness_hours,
               CASE WHEN staleness_hours >= {FRESHNESS_ERROR_H} THEN 'error'
                    WHEN staleness_hours >= {FRESHNESS_WARN_H} THEN 'warn'
                    ELSE 'fresh' END AS status
        FROM h
    """


EXT_ORACLES["dq_source_freshness"] = _freshness_oracle_sql()


EXT_ORACLES["window_percent_rank_cume"] = """
    SELECT c_custkey,
           c_mktsegment AS mktsegment,
           c_acctbal AS acctbal,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey)
"""


def _kmv_oracle_sql() -> str:
    from dbt_eamples_spark.operators.sampling import KMV_K

    lit = repr(float((KMV_K - 1) * (1 << 60)))  # same double both engines
    est = (
        f"CASE WHEN m < {KMV_K} THEN m "
        f"ELSE CAST(floor({lit} / hk) AS BIGINT) END"
    )
    return f"""
        WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
        hashed AS (
            SELECT event_type, user_id,
                   ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
            FROM pairs
        ),
        kept AS (
            SELECT event_type, user_id, h FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                              ORDER BY h, user_id) AS rn
                FROM hashed
            ) WHERE rn <= {KMV_K}
        ),
        exact AS (
            SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact
            FROM pairs GROUP BY event_type
        ),
        pt AS (
            SELECT k.event_type, e.exact,
                   CAST(max(h) AS BIGINT) AS hk,
                   CAST(count(*) AS BIGINT) AS m
            FROM kept k JOIN exact e USING (event_type)
            GROUP BY k.event_type, e.exact
        ),
        mk AS (
            SELECT user_id, h FROM (
                SELECT *, row_number() OVER (ORDER BY h, user_id) AS rn
                FROM (SELECT DISTINCT user_id, h FROM kept)
            ) WHERE rn <= {KMV_K}
        ),
        ma AS (
            SELECT CAST(max(h) AS BIGINT) AS hk,
                   CAST(count(*) AS BIGINT) AS m,
                   (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                    FROM pairs) AS exact
            FROM mk
        )
        SELECT event_type, exact, {est} AS est, m FROM pt
        UNION ALL
        SELECT '__all__' AS event_type, exact, {est} AS est, m FROM ma
    """


EXT_ORACLES["agg_kmv_distinct"] = _kmv_oracle_sql()


def _market_share_oracle_sql() -> str:
    from dbt_eamples_spark.operators.relational import (
        MARKET_SHARE_NATION,
        MARKET_SHARE_REGION,
    )

    nation_sum = (
        f"SUM(CASE WHEN sup_nation = '{MARKET_SHARE_NATION}' "
        "THEN cents ELSE 0 END)"
    )
    return f"""
        WITH j AS (
            SELECT year(o_orderdate) AS o_year,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT) AS cents,
                   ns.n_name AS sup_nation
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation nm ON c_nationkey = nm.n_nationkey
            JOIN region   ON nm.n_regionkey = r_regionkey
                         AND r_name = '{MARKET_SHARE_REGION}'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
        )
        SELECT o_year,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST({nation_sum} AS BIGINT) AS nation_cents,
               round(CAST({nation_sum} AS DOUBLE)
                     / CAST(SUM(cents) AS DOUBLE), 6) AS mkt_share
        FROM j GROUP BY o_year
    """


EXT_ORACLES["agg_market_share"] = _market_share_oracle_sql()


EXT_ORACLES["events_type_pmi"] = """
    WITH p AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type
        FROM events
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS c
        FROM (SELECT DISTINCT user_id, day FROM p)
    ),
    marg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM p GROUP BY event_type
    ),
    co AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM p a JOIN p b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_ab,
           ma.n AS n_a, mb.n AS n_b,
           round(ln(CAST(n_ab * tot.c AS DOUBLE)
                    / CAST(ma.n * mb.n AS DOUBLE)), 6) AS pmi
    FROM co
    JOIN marg ma ON type_a = ma.event_type
    JOIN marg mb ON type_b = mb.event_type, tot
"""


# exact integer microseconds (epoch_us ≡ Spark unix_micros) — a
# seconds-level epoch truncates sub-second parts engine-differently
EXT_ORACLES["events_time_to_convert"] = """
    WITH m AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS uts,
               min(CASE WHEN event_type = 'view'
                        THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id) AS first_view
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    conv AS (
        SELECT user_id,
               CAST(min(uts) - max(first_view) AS BIGINT) AS latency_us
        FROM m
        WHERE event_type = 'purchase' AND uts >= first_view
        GROUP BY user_id
    ),
    v AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
        FROM m WHERE first_view IS NOT NULL
    )
    SELECT (SELECT n FROM v) AS n_viewed,
           CAST(count(*) AS BIGINT) AS n_converted,
           CAST(min(latency_us) AS BIGINT) AS min_us,
           round(quantile_cont(latency_us, 0.5), 4) AS p50_us,
           round(quantile_cont(latency_us, 0.9), 4) AS p90_us,
           CAST(max(latency_us) AS BIGINT) AS max_us
    FROM conv
"""


EXT_ORACLES["agg_gini_revenue"] = """
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT rev, row_number() OVER (ORDER BY rev, l_partkey) AS i
        FROM rev
    ),
    folds AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(rev) AS BIGINT) AS sx,
               SUM(CAST(i AS HUGEINT) * rev) AS six
        FROM ranked
    )
    SELECT n, sx AS total_cents,
           round(2.0 * CAST(six AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                 - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
    FROM folds
"""


def _dq_advanced_oracle_sql() -> str:
    from dbt_eamples_spark.operators.quality import PRICE_RANGE

    lo, hi = PRICE_RANGE
    return f"""
        WITH ordered AS (
            SELECT user_id, event_id, ts, value,
                   LAG(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev
            FROM events
        ),
        changes AS (
            SELECT user_id, event_id, ts, value FROM ordered
            WHERE prev IS NULL OR value <> prev
        ),
        hist AS (
            SELECT user_id, ts AS valid_from,
                   LEAD(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to
            FROM changes
        ),
        olap AS (
            SELECT user_id, valid_from, valid_to,
                   LEAD(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY valid_from) AS next_from
            FROM hist
        ),
        t AS (
            SELECT 'accepted_range_o_totalprice' AS test_name,
                   CAST(count(*) FILTER (
                       WHERE o_totalprice NOT BETWEEN {lo} AND {hi}
                   ) AS BIGINT) AS n_violations
            FROM orders
            UNION ALL
            SELECT 'unique_combination_orderkey_linenumber',
                   CAST(count(*) AS BIGINT)
            FROM (
                SELECT l_orderkey, l_linenumber FROM lineitem
                GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
            )
            UNION ALL
            SELECT 'fewer_rows_than_orders_lt_lineitem',
                   CAST(CASE WHEN (SELECT count(*) FROM orders)
                                < (SELECT count(*) FROM lineitem)
                        THEN 0 ELSE 1 END AS BIGINT)
            UNION ALL
            SELECT 'mutually_exclusive_ranges_scd2_validity',
                   CAST(count(*) FILTER (
                       WHERE next_from IS NOT NULL
                         AND valid_to > next_from
                   ) AS BIGINT)
            FROM olap
        )
        SELECT test_name, n_violations, n_violations = 0 AS passed FROM t
    """


EXT_ORACLES["dq_advanced_tests"] = _dq_advanced_oracle_sql()


def _lang_confusion_oracle_sql() -> str:
    """Shares the text_lang_id oracle's argmax expression so the
    confusion matrix audits the SAME shipped classifier."""
    hits = ", ".join(
        f"{_lang_hits_sql(k)} AS {k}_hits" for k in LANG_STOPWORDS
    )
    return f"""
        WITH pred AS (
            SELECT lang AS actual, {_lang_argmax_case()} AS predicted
            FROM (SELECT lang, {hits} FROM documents)
        ),
        grid AS (
            SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
            FROM pred GROUP BY actual, predicted
        )
        SELECT actual, predicted, n_docs,
               round(CAST(n_docs AS DOUBLE)
                     / CAST(SUM(n_docs) OVER (PARTITION BY actual)
                         AS DOUBLE), 6) AS row_share
        FROM grid
    """


EXT_ORACLES["text_lang_confusion"] = _lang_confusion_oracle_sql()


EXT_ORACLES["orders_backlog_daily"] = """
    WITH spans AS (
        SELECT CAST(o_orderdate AS DATE) AS open_day,
               greatest(CAST(max(l_shipdate) AS DATE),
                        CAST(o_orderdate AS DATE))
                   + INTERVAL 1 DAY AS close_day
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey, o_orderdate
    ),
    ev AS (
        SELECT open_day AS day, 1 AS delta FROM spans
        UNION ALL
        SELECT CAST(close_day AS DATE), -1 FROM spans
    ),
    daily AS (
        SELECT day, CAST(SUM(delta) AS BIGINT) AS net_change
        FROM ev GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, net_change,
           CAST(SUM(net_change) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS open_orders
    FROM daily
"""


EXT_ORACLES["supplier_lead_time_rank"] = """
    WITH per AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(SUM(date_diff('day', o_orderdate, l_shipdate))
                   AS BIGINT) AS delay_days_sum
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_suppkey
    ),
    m AS (
        SELECT s_suppkey, s_name, n_lines, delay_days_sum,
               round(CAST(delay_days_sum AS DOUBLE) / n_lines, 4)
                   AS mean_delay_days
        FROM per JOIN supplier ON l_suppkey = s_suppkey
    )
    SELECT s_suppkey, s_name, n_lines, delay_days_sum, mean_delay_days,
           CAST(dense_rank() OVER (ORDER BY mean_delay_days) AS BIGINT)
               AS lead_time_rank
    FROM m
"""


def _pagerank_weighted_oracle_sql() -> str:
    """Mirror of graph.graph_pagerank_weighted: unrolled weighted
    fixed-point iterations — per-edge share (rank·w) // sw, the same
    integer divide as Spark's DIV (all operands positive), over
    support-weighted edges. MATERIALIZED edges/wsum per the
    recursive-CTE re-evaluation note on the unweighted oracle."""
    from dbt_eamples_spark.operators.graph import (
        PAGERANK_DAMP_PCT,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        PAGERANK_TOP_K,
    )

    iters = ""
    prev = "r0"
    for k in range(1, PAGERANK_ITERS + 1):
        iters += f""",
        s{k} AS MATERIALIZED (
            SELECT e.dst AS node,
                   CAST(sum((r.rank_fp * e.w) // r.sw) AS BIGINT)
                       AS in_share
            FROM edges e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst
        ),
        r{k} AS (
            SELECT d.src AS node, d.sw, d.deg,
                   CAST(({15 * PAGERANK_SCALE} // (100 * n.c))
                        + ({PAGERANK_DAMP_PCT} * s.in_share) // 100
                       AS BIGINT) AS rank_fp
            FROM wsum d JOIN s{k} s ON d.src = s.node, n
        )"""
        prev = f"r{k}"
    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT a.l_partkey AS src, b.l_partkey AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
        ),
        wsum AS MATERIALIZED (
            SELECT src, CAST(SUM(w) AS BIGINT) AS sw,
                   CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        n AS (SELECT count(*) AS c FROM wsum),
        r0 AS (
            SELECT src AS node, sw, deg,
                   CAST({PAGERANK_SCALE} // n.c AS BIGINT) AS rank_fp
            FROM wsum, n
        ){iters}
        SELECT node AS l_partkey, deg, sw, rank_fp
        FROM {prev}
        ORDER BY rank_fp DESC, node LIMIT {PAGERANK_TOP_K}
    """


EXT_ORACLES["graph_pagerank_weighted"] = _pagerank_weighted_oracle_sql()


def _temp_alpha_oracle_sql() -> str:
    """Mirror of sampling.sample_source_temperature_alpha: identical
    skewed regrouping and md5 coin as the alpha=0.5 oracle; the rate
    is the SAME sqrt-chain product Spark builds (dyadic_pow_sql =
    dyadic_pow_col's spelling), so the coin < rate decision is
    bit-exact; reported rate/coin round at 6dp AFTER the decision."""
    from dbt_eamples_spark.operators.sampling import (
        TEMP_ALPHA_LOG2_DEN,
        TEMP_ALPHA_NUM,
        dyadic_pow_sql,
    )

    exp_num = (1 << TEMP_ALPHA_LOG2_DEN) - TEMP_ALPHA_NUM
    rate = dyadic_pow_sql("n_min / n_docs", exp_num, TEMP_ALPHA_LOG2_DEN)
    return f"""
        WITH d AS (
            SELECT doc_id,
                   's' || CAST(CAST(floor(sqrt(CAST(doc_id AS DOUBLE)))
                                    AS BIGINT) AS VARCHAR) AS source_bin
            FROM documents
        ),
        c AS (
            SELECT source_bin, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM d GROUP BY source_bin
        ),
        m AS (SELECT MIN(n_docs) AS n_min FROM c),
        r AS (
            SELECT source_bin, n_docs, {rate} AS keep_rate
            FROM c CROSS JOIN m
        )
        SELECT doc_id, source_bin, n_docs,
               ROUND(keep_rate, 6) AS keep_rate, ROUND(coin, 6) AS coin
        FROM (
            SELECT d.doc_id, r.source_bin, r.n_docs, r.keep_rate,
                   ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                       ::BIGINT / 1152921504606846976.0 AS coin
            FROM d JOIN r ON d.source_bin = r.source_bin
        ) WHERE coin < keep_rate
    """


EXT_ORACLES["sample_source_temperature_alpha"] = _temp_alpha_oracle_sql()


def _ivf_pq_oracle_sql() -> str:
    """Mirror of similarity.similarity_ivf_pq_topk: the kmeans cell
    chain (`_kmeans_cte_sql`) and the trained-PQ chain
    (`_pq_trained_parts`, minus its duplicate ``v``) composed — cell
    assignment restricts which coded vectors the ADC scan touches,
    then the PQ_RERANK shortlist reranks with exact cosine. CTE
    namespaces are disjoint (kmeans: c{i}/a{i}/e{i}; PQ:
    c{s}_{i}/a{s}_{i}/e{s}_{i})."""
    from dbt_eamples_spark.operators.similarity import (
        KMEANS_ITERS,
        N_QUERIES,
        NPROBE,
        PQ_RERANK,
        PQ_SUBDIM,
        PQ_SUBVECTORS,
        TOP_K,
    )

    pq_parts = _pq_trained_parts()[1:]  # drop its `v` (shared below)
    enc_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (vec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (vec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    q_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (qvec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (qvec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        {_kmeans_cte_sql(KMEANS_ITERS)},
        {','.join(pq_parts)},
        assigned AS (
            SELECT vec_id, bucket FROM (
                SELECT v.vec_id, cent_id AS bucket,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {_cos('v.vec', 'cvec')} DESC,
                                    cent_id ASC) AS crk
                FROM v CROSS JOIN cent
            ) WHERE crk = 1
        ),
        d AS (
            SELECT vec_id, s, k, {enc_dist} AS d2
            FROM v CROSS JOIN cb
        ),
        best AS (
            SELECT vec_id, s, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2 ASC, k ASC) AS rn
            FROM d
        ),
        codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1),
        q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM v
            WHERE vec_id < {N_QUERIES}
        ),
        probes AS (
            SELECT query_id, bucket FROM (
                SELECT query_id, cent_id AS bucket,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY {_cos('qvec', 'cvec')} DESC,
                                    cent_id ASC) AS prk
                FROM q CROSS JOIN cent
            ) WHERE prk <= {NPROBE}
        ),
        dt AS (
            SELECT query_id, s, k, {q_dist} AS dq
            FROM q CROSS JOIN cb
        ),
        scored AS (
            SELECT p.query_id, c.vec_id AS neighbor_id,
                   list_reduce(list(dt.dq ORDER BY dt.s),
                               (x, y) -> x + y) AS adc_dist
            FROM codes c
            JOIN assigned a ON a.vec_id = c.vec_id
            JOIN probes p ON a.bucket = p.bucket
                         AND c.vec_id != p.query_id
            JOIN dt ON dt.query_id = p.query_id
                   AND dt.s = c.s AND dt.k = c.k
            GROUP BY p.query_id, c.vec_id
        ),
        shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adc_dist ASC,
                                                   neighbor_id ASC) AS srk
                FROM scored
            ) WHERE srk <= {PQ_RERANK}
        ),
        rescored AS (
            SELECT sl.query_id, sl.neighbor_id,
                   round({_cos('q.qvec', 'nv.vec')}, 6) AS cosine
            FROM shortlist sl
            JOIN q ON q.query_id = sl.query_id
            JOIN v nv ON nv.vec_id = sl.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC,
                                               neighbor_id ASC) AS rk
            FROM rescored
        ) WHERE rk <= {TOP_K}
    """


EXT_ORACLES["similarity_ivf_pq_topk"] = _ivf_pq_oracle_sql()


def _per_group_sample_oracle_sql() -> str:
    from dbt_eamples_spark.operators.sampling import PER_GROUP_K

    return f"""
        SELECT doc_id, source, n_chars, h, rk FROM (
            SELECT doc_id, source, n_chars,
                   md5(CAST(doc_id AS VARCHAR)) AS h,
                   CAST(ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                doc_id ASC) AS BIGINT) AS rk
            FROM documents
        ) WHERE rk <= {PER_GROUP_K}
    """


EXT_ORACLES["sample_fixed_size_per_group"] = _per_group_sample_oracle_sql()


def _ivf_pq_residual_oracle_sql() -> str:
    """Mirror of similarity.similarity_ivf_pq_residual_topk
    (by_residual=True): the kmeans cell chain, a residual CTE
    (vec − its cell's centroid), the trained-PQ chain RE-RUN OVER
    RESIDUALS (`_pq_trained_parts(src='rv')`), per-(query, probed
    cell) residual distance tables, cell-restricted ADC, and exact
    refine over the ORIGINAL vectors."""
    from dbt_eamples_spark.operators.similarity import (
        KMEANS_ITERS,
        N_QUERIES,
        NPROBE,
        PQ_RERANK,
        PQ_SUBDIM,
        PQ_SUBVECTORS,
        TOP_K,
    )

    pq_parts = _pq_trained_parts(src="rv")
    enc_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (vec[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (vec[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    q_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (qres[s * {PQ_SUBDIM} + i] - cvec[i])"
        f" * (qres[s * {PQ_SUBDIM} + i] - cvec[i])), (x, y) -> x + y)"
    )
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        {_kmeans_cte_sql(KMEANS_ITERS)},
        assigned AS (
            SELECT vec_id, bucket, ccvec FROM (
                SELECT v.vec_id, cent_id AS bucket, cvec AS ccvec,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {_cos('v.vec', 'cvec')} DESC,
                                    cent_id ASC) AS crk
                FROM v CROSS JOIN cent
            ) WHERE crk = 1
        ),
        rv AS (
            SELECT v.vec_id,
                   list_transform(range(1, len(v.vec) + 1),
                                  i -> v.vec[i] - a.ccvec[i]) AS vec
            FROM v JOIN assigned a ON v.vec_id = a.vec_id
        ),
        {','.join(pq_parts)},
        d AS (
            SELECT vec_id, s, k, {enc_dist} AS d2
            FROM rv CROSS JOIN cb
        ),
        best AS (
            SELECT vec_id, s, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2 ASC, k ASC) AS rn
            FROM d
        ),
        codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1),
        q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM v
            WHERE vec_id < {N_QUERIES}
        ),
        probes AS (
            SELECT query_id, bucket,
                   list_transform(range(1, len(qvec) + 1),
                                  i -> qvec[i] - pcvec[i]) AS qres
            FROM (
                SELECT query_id, qvec, cent_id AS bucket, cvec AS pcvec,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY {_cos('qvec', 'cvec')} DESC,
                                    cent_id ASC) AS prk
                FROM q CROSS JOIN cent
            ) WHERE prk <= {NPROBE}
        ),
        dt AS (
            SELECT query_id, bucket, s, k, {q_dist} AS dq
            FROM probes CROSS JOIN cb
        ),
        scored AS (
            SELECT dt.query_id, c.vec_id AS neighbor_id,
                   list_reduce(list(dt.dq ORDER BY dt.s),
                               (x, y) -> x + y) AS adc_dist
            FROM codes c
            JOIN assigned a ON a.vec_id = c.vec_id
            JOIN dt ON dt.bucket = a.bucket
                   AND dt.s = c.s AND dt.k = c.k
                   AND c.vec_id != dt.query_id
            GROUP BY dt.query_id, c.vec_id
        ),
        shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adc_dist ASC,
                                                   neighbor_id ASC) AS srk
                FROM scored
            ) WHERE srk <= {PQ_RERANK}
        ),
        rescored AS (
            SELECT sl.query_id, sl.neighbor_id,
                   round({_cos('q.qvec', 'nv.vec')}, 6) AS cosine
            FROM shortlist sl
            JOIN q ON q.query_id = sl.query_id
            JOIN v nv ON nv.vec_id = sl.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC,
                                               neighbor_id ASC) AS rk
            FROM rescored
        ) WHERE rk <= {TOP_K}
    """


EXT_ORACLES["similarity_ivf_pq_residual_topk"] = _ivf_pq_residual_oracle_sql()


def _bpe_chain_sql(carry_w: bool = False) -> str:
    """The BPE training chain (v0 … v{BPE_MERGES}, b1 … b{BPE_MERGES})
    unrolled. The greedy left-to-right merge uses the closed
    set-based form (the Spark side folds with an accumulator; both
    implement the same greedy semantics, property-tested): for L≠R
    two matches can never be adjacent, so every match is taken; for
    L=R greedy takes matches at even offset from their
    consecutive-match run start, where the run start follows from
    the last non-match position before i. `MATERIALIZED` pins each
    vocab stage so the doubly-referenced CTEs don't re-expand.
    ``carry_w`` threads the word through every stage (the tokenizer
    oracle reads per-word symbol counts off the final stage)."""
    from dbt_eamples_spark.operators.text import BPE_MERGES, BPE_MAX_WLEN

    w = "w, " if carry_w else ""
    stages = []
    for k in range(1, BPE_MERGES + 1):
        p = k - 1
        stages.append(rf"""
        px{k} AS (
            SELECT unnest(range(1, len(s))) AS i, s, cnt
            FROM v{p} WHERE len(s) >= 2
        ),
        b{k} AS (
            SELECT l, r, l || r AS merged,
                   CAST(pair_count AS BIGINT) AS pair_count
            FROM (
                SELECT s[i] AS l, s[i + 1] AS r, SUM(cnt) AS pair_count
                FROM px{k} GROUP BY 1, 2
            ) ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
        ),
        v{k} AS MATERIALIZED (
            SELECT {w}cnt, flatten(list_transform(range(1, len(s) + 1), i ->
                     CASE WHEN i <= len(s) - 1 AND sel[i] THEN [mg]
                          WHEN i >= 2 AND sel[i - 1]
                            THEN CAST([] AS VARCHAR[])
                          ELSE [s[i]] END)) AS s
            FROM (
                SELECT {w}cnt, s, mg,
                       list_transform(range(1, len(s)), i ->
                         m[i] = 1 AND ((i - 1 - coalesce(list_max(
                           list_transform(range(1, i), j ->
                             CASE WHEN m[j] = 0 THEN j ELSE 0 END)), 0))
                           % 2 = 0)) AS sel
                FROM (
                    SELECT {w}cnt, s, b.merged AS mg,
                           list_transform(range(1, len(s)), i ->
                             CASE WHEN s[i] = b.l AND s[i + 1] = b.r
                                  THEN 1 ELSE 0 END) AS m
                    FROM v{p} CROSS JOIN b{k} AS b
                )
            )
        )""")
    return rf"""v0 AS MATERIALIZED (
            SELECT {w}cnt,
                   list_transform(range(1, len(w) + 1), i -> w[i]) AS s
            FROM (
                SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (
                    SELECT unnest(string_split_regex(lower(text), '\s+'))
                             AS w
                    FROM documents
                )
                WHERE regexp_matches(w, '^[a-z]+$')
                  AND len(w) BETWEEN 2 AND {BPE_MAX_WLEN}
                GROUP BY w
            )
        ),{','.join(stages)}"""


def _bpe_oracle_sql() -> str:
    """Mirror of text.text_bpe_train: the training chain + the merge
    table read off the per-stage argmax rows."""
    from dbt_eamples_spark.operators.text import BPE_MERGES

    finals = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS step, l AS left_sym, "
        f"r AS right_sym, merged, pair_count FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return rf"""
        WITH {_bpe_chain_sql()}
        SELECT * FROM (
        {finals}
        ) ORDER BY step
    """


EXT_ORACLES["text_bpe_train"] = _bpe_oracle_sql()


def _bpe_tokenize_oracle_sql() -> str:
    """Mirror of text.text_bpe_tokenize: re-derives the merge chain
    (carrying the word), reads per-word symbol counts off the final
    stage, and rebuilds the per-doc token accounting (trainable
    words contribute their merged-symbol count; every other
    non-empty token counts 1)."""
    from dbt_eamples_spark.operators.text import BPE_MERGES

    return rf"""
        WITH {_bpe_chain_sql(carry_w=True)},
        wl AS (
            SELECT w, CAST(len(s) AS BIGINT) AS n_syms FROM v{BPE_MERGES}
        ),
        tok AS (
            SELECT doc_id, w FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\s+')) AS w
                FROM documents
            ) WHERE w <> ''
        ),
        ag AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
                   CAST(SUM(coalesce(wl.n_syms, 1)) AS BIGINT)
                     AS n_bpe_tokens
            FROM tok LEFT JOIN wl ON tok.w = wl.w
            GROUP BY doc_id
        ),
        ch AS (
            SELECT doc_id,
                   CAST(len(regexp_replace(text, '\s+', '', 'g'))
                        AS BIGINT) AS n_chars_nws
            FROM documents
        )
        SELECT ch.doc_id, ch.n_chars_nws,
               coalesce(ag.n_ws_tokens, 0) AS n_ws_tokens,
               coalesce(ag.n_bpe_tokens, 0) AS n_bpe_tokens,
               CASE WHEN coalesce(ag.n_bpe_tokens, 0) > 0
                    THEN round(ch.n_chars_nws / ag.n_bpe_tokens, 6)
               END AS chars_per_token
        FROM ch LEFT JOIN ag ON ch.doc_id = ag.doc_id
    """


EXT_ORACLES["text_bpe_tokenize"] = _bpe_tokenize_oracle_sql()


def _triangle_oracle_sql() -> str:
    """Mirror of graph.graph_triangle_count: the same compact-forward
    orientation ((deg, node) total order), apex wedge join, closing
    edge check, and per-corner credit, in set-based SQL."""
    from dbt_eamples_spark.operators.graph import TRIANGLE_TOP_K

    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),
        deg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        o AS MATERIALIZED (
            SELECT CASE WHEN lf THEN u ELSE v END AS a,
                   CASE WHEN lf THEN v ELSE u END AS b,
                   CASE WHEN lf THEN deg_v ELSE deg_u END AS deg_b
            FROM (
                SELECT e.src AS u, e.dst AS v, du.deg AS deg_u,
                       dv.deg AS deg_v,
                       (du.deg < dv.deg
                        OR (du.deg = dv.deg AND e.src < e.dst)) AS lf
                FROM edges e
                JOIN deg du ON e.src = du.src
                JOIN deg dv ON e.dst = dv.src
                WHERE e.src < e.dst
            )
        ),
        tri AS (
            SELECT o1.a, o1.b, o2.c
            FROM o o1
            JOIN (SELECT a, b AS c, deg_b AS deg_c FROM o) o2
              ON o1.a = o2.a
            JOIN (SELECT a AS b, b AS c FROM o) o3
              ON o1.b = o3.b AND o2.c = o3.c
            WHERE o1.deg_b < o2.deg_c
               OR (o1.deg_b = o2.deg_c AND o1.b < o2.c)
        ),
        per_node AS (
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM (SELECT unnest([a, b, c]) AS node FROM tri)
            GROUP BY node
        )
        SELECT p.node AS l_partkey, d.deg, p.n_triangles,
               round(2.0 * p.n_triangles / (d.deg * (d.deg - 1)), 6)
                 AS clustering_coeff
        FROM per_node p JOIN deg d ON p.node = d.src
        ORDER BY p.n_triangles DESC, p.node
        LIMIT {TRIANGLE_TOP_K}
    """


EXT_ORACLES["graph_triangle_count"] = _triangle_oracle_sql()


def _ewma_oracle_sql() -> str:
    """Mirror of behavior.ts_ewma_smooth: the SAME integer fixed-
    point recurrence, expressed as a recursive CTE stepping the
    per-type row_number chain (s_1 = x_1*SCALE; s_t = (x_t*SCALE +
    3*s_{t-1}) // 4 — ``//`` on non-negative operands equals the
    Spark shiftright-by-2)."""
    from dbt_eamples_spark.operators.behavior import EWMA_SCALE

    return f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        seq AS (
            SELECT event_type, day, n_events,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day
                   ) AS rn
            FROM daily
        ),
        r AS (
            SELECT event_type, day, n_events, rn,
                   CAST(n_events * {EWMA_SCALE} AS BIGINT) AS ewma_fp
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.event_type, s.day, s.n_events, s.rn,
                   CAST((s.n_events * {EWMA_SCALE} + 3 * r.ewma_fp) // 4
                        AS BIGINT)
            FROM r JOIN seq s
              ON s.event_type = r.event_type AND s.rn = r.rn + 1
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
               n_events, ewma_fp,
               round(ewma_fp / {float(EWMA_SCALE)}, 6) AS ewma
        FROM r
    """


EXT_ORACLES["ts_ewma_smooth"] = _ewma_oracle_sql()


def _markov_stationary_oracle_sql() -> str:
    """Mirror of behavior.events_markov_stationary: the lag-pair
    grid with integer fixed-point edge probabilities, power
    iterations unrolled to ``MARKOV_ITERS`` stages (the pagerank
    oracle pattern — MATERIALIZED grid so DuckDB does not re-expand
    the window pass per stage)."""
    from dbt_eamples_spark.operators.behavior import (
        MARKOV_ITERS,
        MARKOV_PSCALE,
        MARKOV_SCALE,
    )

    iters = ""
    prev = "p0"
    for k in range(1, MARKOV_ITERS + 1):
        iters += f""",
        p{k} AS MATERIALIZED (
            SELECT g.next_type AS event_type,
                   CAST(SUM((p.pi_fp * g.p_fp) // {MARKOV_PSCALE})
                        AS BIGINT) AS pi_fp
            FROM grid g
            JOIN {prev} p ON g.prev_type = p.event_type
            JOIN nodes nd ON nd.event_type = g.next_type
            GROUP BY g.next_type
        )"""
        prev = f"p{k}"
    return f"""
        WITH pairs AS MATERIALIZED (
            SELECT prev_type, event_type AS next_type FROM (
                SELECT lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_type,
                       event_type
                FROM events
            ) WHERE prev_type IS NOT NULL
        ),
        grid AS MATERIALIZED (
            SELECT prev_type, next_type, c,
                   CAST((c * {MARKOV_PSCALE}) // c_out AS BIGINT) AS p_fp
            FROM (
                SELECT prev_type, next_type,
                       CAST(count(*) AS BIGINT) AS c,
                       SUM(count(*)) OVER (PARTITION BY prev_type) AS c_out
                FROM pairs GROUP BY prev_type, next_type
            )
        ),
        nodes AS MATERIALIZED (
            SELECT prev_type AS event_type, CAST(SUM(c) AS BIGINT) AS n_out
            FROM grid GROUP BY prev_type
        ),
        n AS (SELECT count(*) AS k FROM nodes),
        p0 AS (
            SELECT event_type,
                   CAST({MARKOV_SCALE} // n.k AS BIGINT) AS pi_fp
            FROM nodes, n
        ){iters}
        SELECT nd.event_type, nd.n_out, p.pi_fp,
               round(p.pi_fp / {float(MARKOV_SCALE)}, 6) AS pi
        FROM nodes nd JOIN {prev} p ON nd.event_type = p.event_type
        ORDER BY p.pi_fp DESC, nd.event_type
    """


EXT_ORACLES["events_markov_stationary"] = _markov_stationary_oracle_sql()


def _cusum_oracle_sql() -> str:
    """Mirror of behavior.events_changepoint_cusum: the same integer
    tabular-CUSUM recurrence in units of 1/(100*n_days), stepped as
    a recursive CTE over the per-type row_number chain (the EWMA
    oracle pattern, with the per-type totals joined into the
    chain)."""
    from dbt_eamples_spark.operators.behavior import (
        CUSUM_H_PCT,
        CUSUM_SLACK_PCT,
    )

    up = 100 + CUSUM_SLACK_PCT
    dn = 100 - CUSUM_SLACK_PCT
    return f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS n_days
            FROM daily GROUP BY event_type
        ),
        seq AS (
            SELECT d.event_type, d.day, d.n_events, t.tot, t.n_days,
                   row_number() OVER (
                       PARTITION BY d.event_type ORDER BY d.day
                   ) AS rn
            FROM daily d JOIN tot t USING (event_type)
        ),
        r AS (
            SELECT event_type, day, n_events, tot, n_days, rn,
                   greatest(CAST(0 AS BIGINT),
                            100*n_days*n_events - {up}*tot) AS sp,
                   greatest(CAST(0 AS BIGINT),
                            {dn}*tot - 100*n_days*n_events) AS sn
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.event_type, s.day, s.n_events, s.tot, s.n_days,
                   s.rn,
                   greatest(CAST(0 AS BIGINT),
                            r.sp + 100*s.n_days*s.n_events - {up}*s.tot),
                   greatest(CAST(0 AS BIGINT),
                            r.sn + {dn}*s.tot - 100*s.n_days*s.n_events)
            FROM r JOIN seq s
              ON s.event_type = r.event_type AND s.rn = r.rn + 1
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
               sp AS cusum_up_fp, sn AS cusum_down_fp,
               round(sp / (100.0 * n_days), 6) AS cusum_up,
               round(sn / (100.0 * n_days), 6) AS cusum_down,
               sp > {CUSUM_H_PCT}*tot AS shift_up,
               sn > {CUSUM_H_PCT}*tot AS shift_down
        FROM r
    """


EXT_ORACLES["events_changepoint_cusum"] = _cusum_oracle_sql()


def _seasonal_decompose_oracle_sql() -> str:
    """Mirror of behavior.ts_seasonal_decompose: centered 7-day RANGE
    window over the integer day number, per-(type, epoch-dow)
    detrended means, single-division rationals throughout."""
    from dbt_eamples_spark.operators.behavior import STL_PERIOD

    half = (STL_PERIOD - 1) // 2
    return f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        dd AS (
            SELECT event_type, day, n_events,
                   CAST(day - DATE '1970-01-01' AS BIGINT) AS day_num
            FROM daily
        ),
        st AS (
            SELECT event_type, day, day_num % {STL_PERIOD} AS dow,
                   n_events,
                   CASE WHEN count(*) OVER w = {STL_PERIOD}
                        THEN CAST(SUM(n_events) OVER w AS BIGINT)
                   END AS s7
            FROM dd
            WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                         RANGE BETWEEN {half} PRECEDING
                               AND {half} FOLLOWING)
        ),
        nt AS (
            SELECT *, {STL_PERIOD} * n_events - s7 AS n_t FROM st
        ),
        seas AS (
            SELECT event_type, dow,
                   CAST(SUM(n_t) AS BIGINT) AS seas_num,
                   CAST(COUNT(n_t) AS BIGINT) AS m
            FROM nt GROUP BY event_type, dow
            HAVING COUNT(n_t) > 0
        )
        SELECT nt.event_type, strftime(nt.day, '%Y-%m-%d') AS day,
               nt.dow, nt.n_events,
               round(nt.s7 / {float(STL_PERIOD)}, 6) AS trend,
               round(s.seas_num / ({float(STL_PERIOD)} * s.m), 6)
                 AS seasonal,
               round((s.m * nt.n_t - s.seas_num)
                     / ({float(STL_PERIOD)} * s.m), 6) AS residual
        FROM nt LEFT JOIN seas s
          ON nt.event_type = s.event_type AND nt.dow = s.dow
    """


EXT_ORACLES["ts_seasonal_decompose"] = _seasonal_decompose_oracle_sql()


def _survival_km_oracle_sql() -> str:
    """Mirror of behavior.events_survival_km: per-user spans, the
    lifetime step table, and the KM product stepped as a recursive
    CTE — HUGEINT products give the identical exact floor the
    python big-int fold computes."""
    from dbt_eamples_spark.operators.behavior import (
        KM_CENSOR_GAP_DAYS,
        KM_SCALE,
    )

    return f"""
        WITH RECURSIVE spans AS (
            SELECT user_id,
                   CAST(date_trunc('day', min(ts)) AS DATE) AS first_day,
                   CAST(date_trunc('day', max(ts)) AS DATE) AS last_day
            FROM events GROUP BY user_id
        ),
        oe AS (SELECT max(last_day) AS obs_end FROM spans),
        life AS (
            SELECT CAST(last_day - first_day AS BIGINT) AS t,
                   (obs_end - last_day) < {KM_CENSOR_GAP_DAYS} AS censored
            FROM spans, oe
        ),
        tab AS (
            SELECT t,
                   CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                        AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END)
                        AS BIGINT) AS c,
                   row_number() OVER (ORDER BY t) AS rn
            FROM life GROUP BY t
        ),
        tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n0 FROM tab),
        r AS (
            SELECT tab.t, tab.d, tab.c, tab.rn, tot.n0 AS n_at_risk,
                   CAST((CAST({KM_SCALE} AS HUGEINT) * (tot.n0 - tab.d))
                        // tot.n0 AS BIGINT) AS s
            FROM tab, tot WHERE tab.rn = 1
            UNION ALL
            SELECT tb.t, tb.d, tb.c, tb.rn,
                   r.n_at_risk - r.d - r.c,
                   CAST((CAST(r.s AS HUGEINT)
                         * (r.n_at_risk - r.d - r.c - tb.d))
                        // (r.n_at_risk - r.d - r.c) AS BIGINT)
            FROM r JOIN tab tb ON tb.rn = r.rn + 1
        )
        SELECT t AS t_days, n_at_risk, d AS n_churned, c AS n_censored,
               s AS survival_fp,
               round(s / {float(KM_SCALE)}, 6) AS survival
        FROM r
    """


EXT_ORACLES["events_survival_km"] = _survival_km_oracle_sql()


def _mmr_oracle_sql() -> str:
    """Mirror of similarity.similarity_mmr_topk: the exact-cosine
    shortlist, the shortlist-pair similarity table, and the K
    greedy selection stages unrolled (each: max-sim-to-selected per
    remaining candidate, argmax of 0.5*rel - 0.5*ms with the
    neighbor_id tie-break)."""
    from dbt_eamples_spark.operators.similarity import (
        MMR_K,
        MMR_SHORTLIST,
        N_QUERIES,
    )

    stages = ""
    sel_union = "SELECT query_id, neighbor_id FROM sel1"
    for i in range(2, MMR_K + 1):
        stages += f""",
        sel{i} AS MATERIALIZED (
            SELECT query_id, {i} AS rank, neighbor_id, rel,
                   ms AS max_sim_selected,
                   round(0.5*rel - 0.5*ms, 6) AS mmr_score
            FROM (
                SELECT c.query_id, c.neighbor_id, c.rel, m.ms,
                       row_number() OVER (
                           PARTITION BY c.query_id
                           ORDER BY 0.5*c.rel - 0.5*m.ms DESC,
                                    c.neighbor_id
                       ) AS rn
                FROM short c
                JOIN (
                    SELECT s.query_id, s.a AS neighbor_id,
                           MAX(s.sim) AS ms
                    FROM sims s
                    JOIN ({sel_union}) p
                      ON s.query_id = p.query_id
                     AND s.b = p.neighbor_id
                    GROUP BY s.query_id, s.a
                ) m ON c.query_id = m.query_id
                   AND c.neighbor_id = m.neighbor_id
                WHERE NOT EXISTS (
                    SELECT 1 FROM ({sel_union}) p2
                    WHERE p2.query_id = c.query_id
                      AND p2.neighbor_id = c.neighbor_id
                )
            ) WHERE rn = 1
        )"""
        sel_union += (
            f" UNION ALL SELECT query_id, neighbor_id FROM sel{i}"
        )
    finals = " UNION ALL ".join(
        [
            "SELECT query_id, 1 AS rank, neighbor_id, rel, "
            "CAST(NULL AS DOUBLE) AS max_sim_selected, "
            "CAST(NULL AS DOUBLE) AS mmr_score FROM sel1"
        ]
        + [f"SELECT * FROM sel{i}" for i in range(2, MMR_K + 1)]
    )
    return f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
              WHERE vec_id < {N_QUERIES}),
        short AS MATERIALIZED (
            SELECT query_id, neighbor_id, rel, rk FROM (
                SELECT query_id, v.vec_id AS neighbor_id,
                       round({_cos('qvec', 'v.vec')}, 6) AS rel,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY round({_cos('qvec', 'v.vec')}, 6)
                                    DESC, v.vec_id ASC
                       ) AS rk
                FROM v JOIN q ON v.vec_id != q.query_id
            ) WHERE rk <= {MMR_SHORTLIST}
        ),
        sims AS MATERIALIZED (
            SELECT s1.query_id, s1.neighbor_id AS a,
                   s2.neighbor_id AS b,
                   round({_cos('v1.vec', 'v2.vec')}, 6) AS sim
            FROM short s1
            JOIN short s2 ON s1.query_id = s2.query_id
                         AND s1.neighbor_id != s2.neighbor_id
            JOIN v v1 ON v1.vec_id = s1.neighbor_id
            JOIN v v2 ON v2.vec_id = s2.neighbor_id
        ),
        sel1 AS (
            SELECT query_id, neighbor_id, rel FROM short WHERE rk = 1
        ){stages}
        SELECT * FROM ({finals})
    """


EXT_ORACLES["similarity_mmr_topk"] = _mmr_oracle_sql()


def _hard_negatives_oracle_sql() -> str:
    """Mirror of similarity.similarity_hard_negatives: one scored
    pass, label-split into the negative top-k and the best-positive
    margin anchor."""
    from dbt_eamples_spark.operators.similarity import (
        HARD_NEG_K,
        N_QUERIES,
    )

    return f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, label AS qlabel, vec AS qvec
              FROM v WHERE vec_id < {N_QUERIES}),
        scored AS MATERIALIZED (
            SELECT query_id, qlabel, v.vec_id AS neighbor_id,
                   v.label AS neighbor_label,
                   round({_cos('qvec', 'v.vec')}, 6) AS cosine
            FROM v JOIN q ON v.vec_id != q.query_id
        ),
        negs AS (
            SELECT query_id, neighbor_id, cosine, rk FROM (
                SELECT query_id, neighbor_id, cosine,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC
                       ) AS rk
                FROM scored WHERE neighbor_label != qlabel
            ) WHERE rk <= {HARD_NEG_K}
        ),
        bp AS (
            SELECT query_id, MAX(cosine) AS best_pos_cosine
            FROM scored WHERE neighbor_label = qlabel
            GROUP BY query_id
        )
        SELECT n.query_id, s.qlabel, n.rk, n.neighbor_id,
               s.neighbor_label, n.cosine, bp.best_pos_cosine,
               round(bp.best_pos_cosine - n.cosine, 6) AS margin
        FROM negs n
        JOIN scored s ON s.query_id = n.query_id
                     AND s.neighbor_id = n.neighbor_id
        LEFT JOIN bp ON bp.query_id = n.query_id
    """


EXT_ORACLES["similarity_hard_negatives"] = _hard_negatives_oracle_sql()


EXT_ORACLES["text_readability"] = r"""
    WITH d AS (
        SELECT doc_id,
               greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
                               AS BIGINT)) AS n_sentences,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform(w, t ->
                    greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))),
                    0) AS BIGINT) AS n_syllables
        FROM (
            SELECT doc_id, text,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               t -> regexp_matches(t, '[a-z]')) AS w
            FROM documents
        )
    )
    SELECT doc_id, n_sentences, n_words, n_syllables,
           CASE WHEN n_words > 0 THEN
               round(206.835 - 1.015 * (n_words / n_sentences)
                     - 84.6 * (n_syllables / n_words), 6)
           END AS flesch_ease,
           CASE WHEN n_words > 0 THEN
               round(0.39 * (n_words / n_sentences)
                     + 11.8 * (n_syllables / n_words) - 15.59, 6)
           END AS fk_grade
    FROM d
"""


def _holt_oracle_sql() -> str:
    """Mirror of behavior.ts_holt_linear: the same two-state integer
    recurrence as a recursive CTE (``//`` floors like the Spark
    arithmetic shiftright, including on negative trends)."""
    from dbt_eamples_spark.operators.behavior import HOLT_SCALE

    return f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        seq AS (
            SELECT event_type, day, n_events,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day
                   ) AS rn
            FROM daily
        ),
        r AS (
            SELECT event_type, day, n_events, rn,
                   CAST(n_events * {HOLT_SCALE} AS BIGINT) AS l,
                   CAST(0 AS BIGINT) AS b
            FROM seq WHERE rn = 1
            UNION ALL
            -- DuckDB's integer // TRUNCATES toward zero; the Spark
            -- shiftright FLOORS — the CASE terms floor-correct the
            -- (possibly negative) trend numerators
            SELECT s.event_type, s.day, s.n_events, s.rn, nl.l,
                   CAST((nb.x // 4
                         - CASE WHEN nb.x < 0 AND nb.x % 4 <> 0
                                THEN 1 ELSE 0 END) AS BIGINT)
            FROM r
            JOIN seq s
              ON s.event_type = r.event_type AND s.rn = r.rn + 1
            CROSS JOIN LATERAL (
                SELECT s.n_events * {HOLT_SCALE} + 3 * (r.l + r.b) AS x
            ) nx
            CROSS JOIN LATERAL (
                SELECT CAST((nx.x // 4
                             - CASE WHEN nx.x < 0 AND nx.x % 4 <> 0
                                    THEN 1 ELSE 0 END) AS BIGINT) AS l
            ) nl
            CROSS JOIN LATERAL (
                SELECT (nl.l - r.l) + 3 * r.b AS x
            ) nb
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
               l AS level_fp, b AS trend_fp,
               round(l / {float(HOLT_SCALE)}, 6) AS level,
               round(b / {float(HOLT_SCALE)}, 6) AS trend,
               round((l + b) / {float(HOLT_SCALE)}, 6) AS forecast_next
        FROM r
    """


EXT_ORACLES["ts_holt_linear"] = _holt_oracle_sql()


def _link_prediction_oracle_sql() -> str:
    """Mirror of graph.graph_link_prediction: query-restricted wedge
    join, adjacency anti-join, inclusion-exclusion union, per-query
    rank window."""
    from dbt_eamples_spark.operators.graph import (
        LINKPRED_PER_QUERY,
        LINKPRED_QUERY_MAX,
    )

    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),
        deg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        common AS (
            SELECT e1.src AS u, e2.dst AS v,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
            WHERE e1.src <= {LINKPRED_QUERY_MAX} AND e1.src <> e2.dst
            GROUP BY e1.src, e2.dst
        ),
        cand AS (
            SELECT c.* FROM common c
            WHERE NOT EXISTS (
                SELECT 1 FROM edges e
                WHERE e.src = c.u AND e.dst = c.v
            )
        ),
        jac AS (
            SELECT c.u AS part_a, c.v AS part_b, c.n_common,
                   du.deg + dv.deg - c.n_common AS n_union,
                   round(c.n_common
                         / (du.deg + dv.deg - c.n_common), 6) AS jaccard
            FROM cand c
            JOIN deg du ON du.src = c.u
            JOIN deg dv ON dv.src = c.v
        )
        SELECT part_a, part_b, n_common, n_union, jaccard, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY part_a
                       ORDER BY jaccard DESC, part_b ASC
                   ) AS rk
            FROM jac
        ) WHERE rk <= {LINKPRED_PER_QUERY}
    """


EXT_ORACLES["graph_link_prediction"] = _link_prediction_oracle_sql()


EXT_ORACLES["events_cohort_ltv"] = """
    WITH base AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    withc AS (
        SELECT user_id, day, cents,
               MIN(day) OVER (PARTITION BY user_id) AS cohort_day
        FROM base
    ),
    grid AS (
        SELECT cohort_day,
               CAST(day - cohort_day AS BIGINT) AS age,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM withc GROUP BY cohort_day, day - cohort_day
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, age,
           n_active_users, revenue_cents,
           CAST(SUM(revenue_cents) OVER (
               PARTITION BY cohort_day ORDER BY age
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_revenue_cents,
           round(SUM(revenue_cents) OVER (
               PARTITION BY cohort_day ORDER BY age
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / (100.0 * MAX(CASE WHEN age = 0 THEN n_active_users END)
                OVER (PARTITION BY cohort_day)), 6) AS cum_ltv_per_user
    FROM grid
"""


def _centroid_eval_oracle_sql() -> str:
    """Mirror of similarity.embedding_centroid_eval: fixed-point
    per-label means (the kmeans-oracle arithmetic), max-cosine
    assignment, confusion grid."""
    return f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        e AS (
            SELECT label,
                   unnest(range(1, len(vec) + 1)) AS pos,
                   unnest(vec) AS x
            FROM v
        ),
        cent AS (
            SELECT label AS cent_label, list(m ORDER BY pos) AS cvec
            FROM (
                SELECT label, pos,
                       (SUM(CAST(round(x * 1000000.0) AS BIGINT))::DOUBLE
                            / COUNT(*)) / 1000000.0 AS m
                FROM e GROUP BY label, pos
            ) GROUP BY label
        ),
        assigned AS (
            SELECT vec_id, label, cent_label FROM (
                SELECT v.vec_id, v.label, c.cent_label,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {_cos('v.vec', 'c.cvec')} DESC,
                                    c.cent_label ASC) AS rk
                FROM v CROSS JOIN cent c
            ) WHERE rk = 1
        ),
        grid AS (
            SELECT label AS true_label, cent_label AS pred_label,
                   CAST(count(*) AS BIGINT) AS n_vectors
            FROM assigned GROUP BY label, cent_label
        )
        SELECT true_label, pred_label, n_vectors,
               round(n_vectors / SUM(n_vectors) OVER (
                   PARTITION BY true_label), 6) AS share_of_true
        FROM grid
    """


EXT_ORACLES["embedding_centroid_eval"] = _centroid_eval_oracle_sql()


def _psi_drift_oracle_sql() -> str:
    """Mirror of quality.dq_distribution_drift: identical midpoint
    split, binning, Laplace smoothing, per-bin IEEE term, and the
    fixed-point order-free PSI total."""
    from dbt_eamples_spark.operators.quality import (
        PSI_BIN_WIDTH,
        PSI_BINS,
    )

    return f"""
        WITH base AS (
            SELECT CAST(CAST(date_trunc('day', ts) AS DATE)
                        - DATE '1970-01-01' AS BIGINT) AS dn,
                   least(greatest(CAST(floor(value / {PSI_BIN_WIDTH})
                                       AS BIGINT), 0),
                         {PSI_BINS - 1}) AS bin_id
            FROM events
        ),
        bounds AS (SELECT (min(dn) + max(dn)) // 2 AS mid FROM base),
        counts AS (
            SELECT bin_id,
                   CAST(SUM(CASE WHEN dn <= mid THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ref,
                   CAST(SUM(CASE WHEN dn > mid THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_cur
            FROM base, bounds GROUP BY bin_id
        ),
        g AS (
            SELECT bin_id, n_ref, n_cur,
                   (n_ref + 1) / SUM(n_ref + 1) OVER () AS pr,
                   (n_cur + 1) / SUM(n_cur + 1) OVER () AS pc
            FROM counts
        )
        SELECT bin_id, n_ref, n_cur,
               round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
               round((pc - pr) * ln(pc / pr), 6) AS psi_term,
               round(SUM(CAST(round(1e9 * ((pc - pr) * ln(pc / pr)))
                              AS BIGINT)) OVER () / 1e9, 6) AS psi_total
        FROM g
    """


EXT_ORACLES["dq_distribution_drift"] = _psi_drift_oracle_sql()


EXT_ORACLES["text_perplexity_bigram"] = r"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(text), '\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id, prev, cur FROM (
            SELECT doc_id,
                   unnest(list_slice(t, 1, len(t) - 1)) AS prev,
                   unnest(list_slice(t, 2, len(t))) AS cur
            FROM toks
        ) WHERE prev <> '' AND cur <> ''
    ),
    uni AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cu FROM (
            SELECT unnest(t) AS term FROM toks
        ) WHERE term <> '' GROUP BY term
    ),
    tot AS (
        SELECT CAST(SUM(cu) AS BIGINT) AS n_corpus,
               CAST(COUNT(*) AS BIGINT) AS v_vocab
        FROM uni
    ),
    grid AS (
        SELECT prev, cur, CAST(count(*) AS BIGINT) AS cb
        FROM bg GROUP BY prev, cur
    ),
    lm AS (
        SELECT g.prev, g.cur,
               round(-ln(0.75 * (g.cb / g.cp)
                         + 0.25 * ((u.cu + 1)
                                   / (t.n_corpus + t.v_vocab))), 6)
                 AS nll
        FROM (
            SELECT prev, cur, cb,
                   SUM(cb) OVER (PARTITION BY prev) AS cp
            FROM grid
        ) g
        JOIN uni u ON u.term = g.cur
        CROSS JOIN tot t
    ),
    scores AS (
        SELECT bg.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               floor(SUM(CAST(round(lm.nll * 1e9) AS BIGINT))
                     / (count(*) * 1000)) / 1e6 AS avg_nll
        FROM bg JOIN lm ON bg.prev = lm.prev AND bg.cur = lm.cur
        GROUP BY bg.doc_id
    )
    SELECT d.doc_id, s.n_bigrams, s.avg_nll
    FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
"""


def _kcore_oracle_sql() -> str:
    """Mirror of graph.graph_kcore: the SAME synchronous peel,
    unrolled as KCORE_ROUNDS static CTE rounds (the MMR unrolled-
    stages pattern — DuckDB's recursive CTE allows one reference to
    the recursive table, but each peel round needs the previous
    edge set twice: for degrees and for the filter). Every round
    CTE is MATERIALIZED: DuckDB inlines CTEs by default, and with
    three references per round the inlined plan re-derives the base
    edge list 3^R times — observed as an 80 GB spill at sf0.1
    before materialization pinned each round to one evaluation."""
    from dbt_eamples_spark.operators.graph import KCORE_K, KCORE_ROUNDS

    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        prev = "edges" if i == 1 else f"e{i - 1}"
        rounds.append(f"""
        k{i} AS MATERIALIZED (
            SELECT src FROM {prev}
            GROUP BY src HAVING count(*) >= {KCORE_K}
        ),
        e{i} AS MATERIALIZED (
            SELECT e.src, e.dst
            FROM {prev} e
            JOIN k{i} a ON e.src = a.src
            JOIN k{i} b ON e.dst = b.src
        )""")
    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),{",".join(rounds)}
        SELECT src AS l_partkey, CAST(count(*) AS BIGINT) AS core_deg
        FROM e{KCORE_ROUNDS}
        GROUP BY src
        ORDER BY l_partkey
    """


EXT_ORACLES["graph_kcore"] = _kcore_oracle_sql()


def _acf_oracle_sql() -> str:
    """Mirror of behavior.ts_autocorrelation: identical n-scaled
    centering (cx = n*x - S, so the 1/n**2 cancels in the ratio),
    exact HUGEINT product sums (the Spark side folds the same
    products in decimal(38,0)), one final int->double division."""
    from dbt_eamples_spark.operators.behavior import ACF_MAX_LAG

    lag_rows = ", ".join(f"({k})" for k in range(1, ACF_MAX_LAG + 1))
    return f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        cent AS MATERIALIZED (
            SELECT event_type, day,
                   CAST(COUNT(*) OVER (PARTITION BY event_type) * x
                        - SUM(x) OVER (PARTITION BY event_type)
                        AS HUGEINT) AS cx
            FROM daily
        ),
        den AS (
            SELECT event_type, SUM(cx * cx) AS den
            FROM cent GROUP BY event_type
        ),
        lags AS (SELECT * FROM (VALUES {lag_rows}) t(lag)),
        pairs AS (
            SELECT a.event_type, l.lag,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   SUM(b.cx * a.cx) AS num
            FROM cent a
            CROSS JOIN lags l
            JOIN cent b
              ON b.event_type = a.event_type
             AND b.day = a.day + l.lag
            GROUP BY 1, 2
        )
        SELECT p.event_type, p.lag, p.n_pairs,
               CASE WHEN d.den = 0 THEN NULL
                    ELSE round(CAST(p.num AS DOUBLE)
                               / CAST(d.den AS DOUBLE), 6) END AS acf
        FROM pairs p JOIN den d ON d.event_type = p.event_type
        ORDER BY p.event_type, p.lag
    """


EXT_ORACLES["ts_autocorrelation"] = _acf_oracle_sql()


def _benford_oracle_sql() -> str:
    """Mirror of quality.dq_benford_digits: the pinned literal
    expectations render from the SAME python dict, and share /
    abs_dev evaluate the identical IEEE tree."""
    from dbt_eamples_spark.operators.quality import BENFORD_EXPECTED

    exp_rows = ", ".join(
        f"({d}, {e!r})" for d, e in sorted(BENFORD_EXPECTED.items())
    )
    return f"""
        WITH hist AS (
            SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100)
                                    AS BIGINT) AS VARCHAR), 1, 1)
                        AS INTEGER) AS digit,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM lineitem GROUP BY 1
        ),
        expected AS (SELECT * FROM (VALUES {exp_rows})
                     t(digit, expected_share)),
        tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM hist)
        SELECT h.digit, h.n_obs,
               round(h.n_obs / t.n_total, 6) AS share,
               e.expected_share,
               round(abs(h.n_obs / t.n_total - e.expected_share), 6)
                 AS abs_dev
        FROM hist h
        JOIN expected e ON e.digit = h.digit
        CROSS JOIN tot t
        ORDER BY h.digit
    """


EXT_ORACLES["dq_benford_digits"] = _benford_oracle_sql()


# TPC-H Q17 shape: DuckDB runs the IDENTICAL correlated scalar
# subquery (both optimizers decorrelate it to the per-part average
# join — the point of the operator).
EXT_ORACLES["agg_small_qty_revenue"] = """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                 / CAST(700 AS DOUBLE), 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
    )
    GROUP BY p_brand
    ORDER BY p_brand
"""


# Mirror of relational.agg_skyline_per_brand — deliberately the
# DIFFERENT (quadratic NOT EXISTS) formulation of dominance, so the
# gate cross-checks the windowed O(n log n) rewrite against the
# definition itself.
EXT_ORACLES["agg_skyline_per_brand"] = """
    WITH p AS MATERIALIZED (
        SELECT p_partkey, p_brand, p_size,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part
    )
    SELECT b.p_brand, b.p_partkey, b.price_cents, b.p_size
    FROM p b
    WHERE NOT EXISTS (
        SELECT 1 FROM p a
        WHERE a.p_brand = b.p_brand
          AND a.price_cents <= b.price_cents
          AND a.p_size >= b.p_size
          AND (a.price_cents < b.price_cents OR a.p_size > b.p_size)
    )
    ORDER BY b.p_brand, b.price_cents, b.p_partkey
"""


# Mirror of behavior.events_seasonality_profile — the same pure
# date-arithmetic dow (engine day-of-week numberings disagree).
EXT_ORACLES["events_seasonality_profile"] = """
    WITH cells AS (
        SELECT event_type,
               CAST((datediff('day', DATE '1970-01-01',
                              CAST(date_trunc('day', ts) AS DATE)) + 3)
                    % 7 AS INTEGER) AS dow,
               CAST(extract(hour FROM ts) AS INTEGER) AS hour,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, dow, hour, n_events,
           round(n_events / SUM(n_events)
                 OVER (PARTITION BY event_type), 6) AS share,
           n_events = MAX(n_events)
                 OVER (PARTITION BY event_type) AS is_peak
    FROM cells
    ORDER BY event_type, dow, hour
"""


def _bfs_oracle_sql() -> str:
    """Mirror of graph.graph_bfs_layers: the SAME level-synchronous
    rounds unrolled as MATERIALIZED CTEs (each round reads the
    previous labeled set twice — the k-core inlining lesson)."""
    from dbt_eamples_spark.operators.graph import (
        BFS_MAX_DEPTH,
        BFS_SEED_MAX,
    )

    rounds = []
    for i in range(1, BFS_MAX_DEPTH + 1):
        rounds.append(f"""
        n{i} AS MATERIALIZED (
            SELECT DISTINCT e.dst AS node
            FROM edges e JOIN d{i - 1} f
              ON e.src = f.node AND f.dist = {i - 1}
        ),
        d{i} AS MATERIALIZED (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT n.node, {i} AS dist FROM n{i} n
            WHERE NOT EXISTS (
                SELECT 1 FROM d{i - 1} x WHERE x.node = n.node
            )
        )""")
    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),
        d0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, 0 AS dist
            FROM edges WHERE src <= {BFS_SEED_MAX}
        ),{",".join(rounds)}
        SELECT node AS l_partkey, dist
        FROM d{BFS_MAX_DEPTH}
        ORDER BY l_partkey
    """


EXT_ORACLES["graph_bfs_layers"] = _bfs_oracle_sql()


def _lpa_oracle_sql() -> str:
    """Mirror of graph.graph_community_lpa: the SAME fixed number of
    synchronous mode-of-neighbor-labels rounds with the SAME
    (count DESC, label ASC) total tie-break, unrolled as chained
    CTEs (rounds are fixed, so no recursion is needed)."""
    from dbt_eamples_spark.operators.graph import LPA_ROUNDS

    rounds = []
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
        l{i} AS MATERIALIZED (
            SELECT node, lbl FROM (
                SELECT e.src AS node, l.lbl,
                       row_number() OVER (
                           PARTITION BY e.src
                           ORDER BY count(*) DESC, l.lbl ASC
                       ) AS rn
                FROM edges e JOIN l{i - 1} l ON l.node = e.dst
                GROUP BY e.src, l.lbl
            ) WHERE rn = 1
        )""")
    last = f"l{LPA_ROUNDS}"
    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),
        l0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, src AS lbl FROM edges
        ),{",".join(rounds)}
        SELECT l.node AS l_partkey,
               CAST(l.lbl AS BIGINT) AS community,
               CAST(s.community_size AS BIGINT) AS community_size
        FROM {last} l
        JOIN (
            SELECT lbl, count(*) AS community_size
            FROM {last} GROUP BY lbl
        ) s USING (lbl)
        ORDER BY l_partkey
    """


EXT_ORACLES["graph_community_lpa"] = _lpa_oracle_sql()


def _xcorr_oracle_sql() -> str:
    """Mirror of behavior.ts_cross_correlation: the SAME zero-filled
    calendar spine, HUGEINT-exact moments (the decimal(38,0) twin),
    and the IDENTICAL double expression tree for the closed form."""
    from dbt_eamples_spark.operators.behavior import XCORR_MAX_LAG

    return f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        spine AS (
            SELECT t.event_type, CAST(u.d AS DATE) AS day
            FROM (SELECT DISTINCT event_type FROM daily) t
            CROSS JOIN bounds b
            CROSS JOIN LATERAL unnest(
                generate_series(b.d0, b.d1, INTERVAL 1 DAY)
            ) AS u(d)
        ),
        filled AS (
            SELECT s.event_type, s.day,
                   CAST(COALESCE(d.x, 0) AS BIGINT) AS x
            FROM spine s
            LEFT JOIN daily d
              ON d.event_type = s.event_type AND d.day = s.day
        ),
        lags AS (
            SELECT CAST(l AS INTEGER) AS lag
            FROM unnest(generate_series(0, {XCORR_MAX_LAG})) AS t(l)
        ),
        aligned AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   g.lag, a.x, b.x AS y
            FROM filled a
            JOIN lags g ON TRUE
            JOIN filled b
              ON b.day = a.day + g.lag * INTERVAL 1 DAY
             AND b.event_type <> a.event_type
        ),
        mom AS (
            SELECT type_a, type_b, lag,
                   CAST(count(*) AS BIGINT) AS n_days,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(y AS HUGEINT)) AS sy,
                   SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                   SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                   SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
            FROM aligned GROUP BY 1, 2, 3
        )
        SELECT type_a, type_b, lag, n_days,
               CASE WHEN sqrt(
                        (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                    ) > 0
                    THEN round(
                        (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / sqrt(
                            (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                        ), 6)
               END AS xcorr
        FROM mom
        ORDER BY type_a, type_b, lag
    """


EXT_ORACLES["ts_cross_correlation"] = _xcorr_oracle_sql()


def _dim_diag_oracles() -> dict[str, str]:
    """Embedding dimension-diagnostics twins: the SAME per-row
    fixed-point quantization (round(x·1e6) as BIGINT — float32 →
    double promotion and half-away-from-zero double rounding agree
    across engines), HUGEINT-exact moments, identical double trees."""
    from dbt_eamples_spark.operators.similarity import (
        DIM_CORR_TOP_K,
        DIM_Q_SCALE,
    )

    qz = f"""
        qz AS (
            SELECT vec_id,
                   CAST(u.pos AS INTEGER) - 1 AS dim,
                   CAST(round(CAST(u.x AS DOUBLE) * {DIM_Q_SCALE})
                        AS BIGINT) AS q
            FROM (
                SELECT vec_id,
                       unnest(range(1, len(embedding) + 1)) AS pos,
                       unnest(embedding) AS x
                FROM embeddings
            ) u
        )
    """
    s = f"CAST({DIM_Q_SCALE} AS DOUBLE)"
    return {
        "embedding_dim_stats": f"""
            WITH {qz},
            agg AS (
                SELECT dim,
                       CAST(count(*) AS BIGINT) AS n,
                       SUM(CAST(q AS HUGEINT)) AS sq,
                       SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT))
                           AS sqq,
                       min(q) AS qmin, max(q) AS qmax,
                       CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS nz
                FROM qz GROUP BY dim
            )
            SELECT dim, n,
                   round(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
                         / {s}, 6) AS mean,
                   round(sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                               - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                         / {s}, 6) AS std,
                   round(qmin / {s}, 6) AS min_val,
                   round(qmax / {s}, 6) AS max_val,
                   round(CAST(nz AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       AS zero_frac
            FROM agg ORDER BY dim
        """,
        "embedding_dim_corr_topk": f"""
            WITH {qz},
            mom AS (
                SELECT a.dim AS dim_a, b.dim AS dim_b,
                       CAST(count(*) AS BIGINT) AS n,
                       SUM(CAST(a.q AS HUGEINT)) AS sx,
                       SUM(CAST(b.q AS HUGEINT)) AS sy,
                       SUM(CAST(a.q AS HUGEINT) * CAST(b.q AS HUGEINT))
                           AS sxy,
                       SUM(CAST(a.q AS HUGEINT) * CAST(a.q AS HUGEINT))
                           AS sxx,
                       SUM(CAST(b.q AS HUGEINT) * CAST(b.q AS HUGEINT))
                           AS syy
                FROM qz a JOIN qz b USING (vec_id)
                WHERE a.dim < b.dim
                GROUP BY 1, 2
            ),
            scored AS (
                SELECT dim_a, dim_b, n AS n_vectors,
                       CASE WHEN sqrt(
                         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                       ) > 0
                       THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / sqrt(
                         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                       ) END AS c
                FROM mom
            )
            SELECT dim_a, dim_b, n_vectors,
                   round(c, 6) AS dim_corr,
                   round(abs(c), 6) AS abs_corr
            FROM scored
            ORDER BY round(abs(c), 6) DESC, dim_a, dim_b
            LIMIT {DIM_CORR_TOP_K}
        """,
    }


EXT_ORACLES.update(_dim_diag_oracles())


# TPC-H Q21 shape: the oracle deliberately states the COUNTING
# formulation (per-(order, supplier) lateness flags -> per-order
# supplier/late counts) so the gate cross-checks Spark's
# EXISTS / NOT EXISTS plan against the definition, not a twin.
def _sole_late_oracle_sql() -> str:
    from dbt_eamples_spark.operators.relational import LATE_SHIP_DAYS

    return f"""
        WITH lat AS (
            SELECT l_orderkey, l_suppkey,
                   max(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                                 > {LATE_SHIP_DAYS}
                            THEN 1 ELSE 0 END) AS is_late
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            GROUP BY 1, 2
        ), per_order AS (
            SELECT l_orderkey,
                   count(*) AS n_supp, sum(is_late) AS n_late
            FROM lat GROUP BY 1
        )
        SELECT n_name, s_name,
               CAST(count(*) AS BIGINT) AS n_orders_waiting
        FROM lat
        JOIN per_order USING (l_orderkey)
        JOIN supplier ON s_suppkey = lat.l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE lat.is_late = 1
          AND per_order.n_supp >= 2 AND per_order.n_late = 1
        GROUP BY n_name, s_name
        ORDER BY n_orders_waiting DESC, s_name
    """


EXT_ORACLES["supplier_sole_late"] = _sole_late_oracle_sql()


# TPC-H Q22 shape: same statement as the Spark side except the
# date-shift spelling (DuckDB has no two-arg date_add).
def _idle_balance_oracle_sql() -> str:
    from dbt_eamples_spark.operators.relational import IDLE_WINDOW_DAYS

    return f"""
        WITH c AS (
            SELECT c_custkey, c_mktsegment,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
            FROM customer
        ),
        pos AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
                   SUM(CAST(bal_cents AS DECIMAL(38,0))) AS sum_pos
            FROM c WHERE bal_cents > 0
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_idle_rich,
               CAST(SUM(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
                   AS idle_balance_cents
        FROM c
        WHERE CAST(bal_cents AS DECIMAL(38,0)) * (SELECT n_pos FROM pos)
                  > (SELECT sum_pos FROM pos)
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= (
                    SELECT MAX(o_orderdate)
                           - INTERVAL {IDLE_WINDOW_DAYS} DAY
                    FROM orders
                )
          )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """


EXT_ORACLES["customer_idle_balance"] = _idle_balance_oracle_sql()


# Mirror of behavior.agg_hhi_concentration (HUGEINT products, the
# gini ADVICE pattern; one IEEE division + round(6) per report).
EXT_ORACLES["agg_hhi_concentration"] = """
    WITH rev AS (
        SELECT n_name, s_suppkey,
               SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS rev
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        GROUP BY 1, 2
    ), folds AS (
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               SUM(CAST(rev AS HUGEINT)) AS tot,
               SUM(CAST(rev AS HUGEINT) * rev) AS sumsq,
               MAX(rev) AS top_rev
        FROM rev GROUP BY 1
    )
    SELECT n_name, n_suppliers,
           CAST(tot AS BIGINT) AS total_rev_cents,
           round(CAST(sumsq AS DOUBLE)
                 / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi,
           round(CAST(top_rev AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS top_share,
           round(1.0 / (CAST(sumsq AS DOUBLE)
                 / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))), 6)
               AS effective_n
    FROM folds ORDER BY n_name
"""


# Counter-formulation of behavior.events_user_streaks: the textbook
# gaps-and-islands algebra (day_number - row_number island key)
# cross-checks Spark's in-row fold against the definition.
EXT_ORACLES["events_user_streaks"] = """
    WITH d AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ), r AS (
        SELECT user_id, day,
               datediff('day', DATE '1970-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS island
        FROM d
    ), s AS (
        SELECT user_id, island,
               CAST(count(*) AS BIGINT) AS len, MIN(day) AS start
        FROM r GROUP BY 1, 2
    ), m AS (
        SELECT user_id, len, start,
               MAX(len) OVER (PARTITION BY user_id) AS mx
        FROM s
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           strftime(MIN(start) FILTER (WHERE len = mx), '%Y-%m-%d')
               AS longest_start
    FROM m GROUP BY user_id ORDER BY user_id
"""


# Mirror of behavior.ts_forecast_snaive on the calendar-bounded
# daily grid (interval-shift join spelling differs per engine).
def _snaive_oracle_sql() -> str:
    from dbt_eamples_spark.operators.behavior import (
        SNAIVE_BACKTEST_DAYS,
        SNAIVE_SEASON_DAYS,
    )

    return f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ), h AS (
            SELECT event_type, MAX(day) AS max_day FROM daily GROUP BY 1
        ), lagged AS (
            SELECT a.event_type,
                   a.n_events - l.n_events AS err,
                   a.n_events AS actual
            FROM daily a
            JOIN daily l
              ON a.event_type = l.event_type
             AND a.day = l.day + INTERVAL {SNAIVE_SEASON_DAYS} DAY
            JOIN h ON a.event_type = h.event_type
            WHERE datediff('day', a.day, h.max_day)
                      < {SNAIVE_BACKTEST_DAYS}
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               round(CAST(SUM(abs(err)) AS DOUBLE) / count(*), 6) AS mae,
               round(CAST(SUM(err) AS DOUBLE) / count(*), 6) AS bias,
               round(CAST(SUM(abs(err)) AS DOUBLE)
                     / CAST(SUM(actual) AS DOUBLE), 6) AS wape
        FROM lagged GROUP BY event_type ORDER BY event_type
    """


EXT_ORACLES["ts_forecast_snaive"] = _snaive_oracle_sql()


# Mirror of graph.graph_degree_powerlaw: same co-purchase edge
# derivation as the other graph oracles, zipf fixed-point folds.
EXT_ORACLES["graph_degree_powerlaw"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS k
        FROM edges GROUP BY src
    ),
    dist AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_k FROM deg GROUP BY k
    ),
    fx AS (
        SELECT CAST(round(round(ln(k), 6) * 1e6) AS BIGINT) AS x,
               CAST(round(round(ln(n_k), 6) * 1e6) AS BIGINT) AS y,
               k, n_k
        FROM dist
    ),
    folds AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(n_k) AS BIGINT) AS n_nodes,
               MIN(k) AS min_degree,
               MAX(k) AS max_degree
        FROM fx
    )
    SELECT n AS n_degrees, n_nodes, min_degree, max_degree,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
               AS powerlaw_slope
    FROM folds
"""


# ---- round-6 TPC-H subquery shapes ------------------------------------------
# Each oracle deliberately states a DIFFERENT equivalent formulation
# (window algebra / counting joins) so the gate cross-checks Spark's
# subquery decorrelation against the definition, not a twin.
def _round6_tpch_oracles() -> dict[str, str]:
    from dbt_eamples_spark.operators.relational import (
        CHEAPEST_BRAND,
        IMPORTANT_PER_MILLE,
        LATE_SHIP_DAYS,
        VARIETY_MIN_BALANCE,
    )

    return {
        # Q2 shape: correlated MIN cross-checked via window minimum
        "part_cheapest_supplier": f"""
            WITH ps AS (
                SELECT l_partkey, l_suppkey,
                       MIN(CAST(ROUND(l_extendedprice * 100 / l_quantity)
                                AS BIGINT)) AS unit_cents
                FROM lineitem GROUP BY l_partkey, l_suppkey
            ), w AS (
                SELECT l_partkey, l_suppkey, unit_cents,
                       MIN(unit_cents) OVER (PARTITION BY l_partkey)
                           AS part_min
                FROM ps
            )
            SELECT p_partkey, s_name, unit_cents
            FROM w
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            WHERE p_brand = '{CHEAPEST_BRAND}'
              AND unit_cents = part_min
            ORDER BY p_partkey, s_name
        """,
        # Q4 shape: EXISTS cross-checked via distinct-order counting
        "orders_priority_exists": f"""
            WITH late_orders AS (
                SELECT DISTINCT o_orderkey, o_orderpriority
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate < TIMESTAMP '1997-01-01'
                  AND datediff('day', o_orderdate, l_shipdate)
                      > {LATE_SHIP_DAYS}
            )
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_late_orders
            FROM late_orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        # Q11 shape: scalar-subquery threshold via window total
        "part_revenue_important": f"""
            WITH g AS (
                SELECT p_brand, p_type,
                       CAST(SUM(CAST(ROUND(l_extendedprice
                                * (1 - l_discount) * 100) AS BIGINT))
                            AS BIGINT) AS cents
                FROM lineitem JOIN part ON p_partkey = l_partkey
                GROUP BY p_brand, p_type
            ), w AS (
                SELECT p_brand, p_type, cents,
                       CAST(SUM(cents) OVER () AS BIGINT) AS total
                FROM g
            )
            SELECT p_brand, p_type, cents AS revenue_cents,
                   ROUND(CAST(cents AS DOUBLE) / CAST(total AS DOUBLE),
                         6) AS revenue_share
            FROM w
            WHERE cents * 1000 > total * {IMPORTANT_PER_MILLE}
            ORDER BY revenue_cents DESC, p_brand, p_type
        """,
        # Q15 shape: scalar MAX via window maximum over the view
        "supplier_top_revenue": """
            WITH revenue AS (
                SELECT l_suppkey,
                       CAST(SUM(CAST(ROUND(l_extendedprice
                                * (1 - l_discount) * 100) AS BIGINT))
                            AS BIGINT) AS total_cents
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            ), w AS (
                SELECT l_suppkey, total_cents,
                       MAX(total_cents) OVER () AS best
                FROM revenue
            )
            SELECT s_suppkey, s_name, total_cents
            FROM w JOIN supplier ON s_suppkey = l_suppkey
            WHERE total_cents = best
            ORDER BY s_suppkey
        """,
        # Q16 shape: NOT IN cross-checked via explicit anti join
        "part_supplier_variety": f"""
            SELECT p_brand, p_type,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            ANTI JOIN (SELECT s_suppkey FROM supplier
                       WHERE s_acctbal < {VARIETY_MIN_BALANCE}) bad
                 ON l_suppkey = bad.s_suppkey
            GROUP BY p_brand, p_type
            ORDER BY supplier_cnt DESC, p_brand, p_type
        """,
    }


EXT_ORACLES.update(_round6_tpch_oracles())


def _round6_tpch_wave2_oracles() -> dict[str, str]:
    """Oracles for the second round-6 TPC-H wave (Q3/Q6/Q9/Q10/
    Q12/Q13/Q18/Q20 shapes). Where the Spark side is written as a
    subquery (Q18 IN-HAVING, Q20 nested IN + correlated SUM) the
    oracle states the equivalent join/window formulation so the
    gate cross-checks the decorrelation, not a twin."""
    from dbt_eamples_spark.operators.relational import (
        DISTRIB_EXCLUDED_PRIORITY,
        LARGE_ORDER_QTY,
        LATE_SHIP_DAYS,
        PROFIT_COST_PCT,
        PROFIT_PART_TOKEN,
        SHIP_PRIORITY_CUTOFF,
        SHIP_PRIORITY_SEGMENT,
    )

    return {
        # Q3 shape: segment backlog revenue top-10
        "orders_shipping_priority": f"""
            SELECT o_orderkey, o_orderdate,
                   CAST(SUM(CAST(ROUND(l_extendedprice
                            * (1 - l_discount) * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = '{SHIP_PRIORITY_SEGMENT}'
              AND o_orderdate < TIMESTAMP '{SHIP_PRIORITY_CUTOFF}'
              AND l_shipdate > TIMESTAMP '{SHIP_PRIORITY_CUTOFF}'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue_cents DESC, o_orderdate, o_orderkey
            LIMIT 10
        """,
        # Q6 shape: banded filter-aggregate what-if
        "revenue_change_forecast": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice
                            * l_discount * 100) AS BIGINT)), 0)
                        AS BIGINT) AS forecast_cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        # Q9 shape: 5-table profit rollup (cost proxy = pct of retail)
        "nation_year_profit": f"""
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(
                       CAST(ROUND(l_extendedprice
                                  * (1 - l_discount) * 100) AS BIGINT)
                       - CAST(ROUND(p_retailprice * l_quantity
                                    * {PROFIT_COST_PCT}) AS BIGINT)
                   ) AS BIGINT) AS profit_cents
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE p_name LIKE '%{PROFIT_PART_TOKEN}%'
            GROUP BY n_name, year(o_orderdate)
            ORDER BY nation, order_year DESC
        """,
        # Q10 shape: returned-revenue top customers
        "returned_item_customers": """
            SELECT c_custkey, c_name, n_name AS nation,
                   CAST(SUM(CAST(ROUND(l_extendedprice
                            * (1 - l_discount) * 100) AS BIGINT))
                        AS BIGINT) AS returned_cents
            FROM orders
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY returned_cents DESC, c_custkey
            LIMIT 20
        """,
        # Q12 shape: one-pass CASE conditional priority mix
        "late_priority_by_year": f"""
            SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   CAST(SUM(CASE WHEN o_orderpriority
                                      IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority
                                      IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            WHERE datediff('day', o_orderdate, l_shipdate)
                  > {LATE_SHIP_DAYS}
            GROUP BY year(l_shipdate)
            ORDER BY ship_year
        """,
        # Q13 shape: zero-inclusive order-count distribution
        "customer_order_distribution": f"""
            WITH per_cust AS (
                SELECT c_custkey,
                       CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
                FROM customer
                LEFT JOIN orders
                  ON c_custkey = o_custkey
                 AND o_orderpriority <> '{DISTRIB_EXCLUDED_PRIORITY}'
                GROUP BY c_custkey
            )
            SELECT c_count,
                   CAST(COUNT(*) AS BIGINT) AS custdist
            FROM per_cust
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        # Q18 shape: IN-HAVING cross-checked via direct join on the
        # aggregated stream
        "orders_large_quantity": f"""
            WITH totals AS (
                SELECT l_orderkey,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                           AS total_qty
                FROM lineitem
                GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS BIGINT))
                       > {LARGE_ORDER_QTY}
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   total_qty
            FROM totals
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            ORDER BY total_qty DESC, o_orderkey
        """,
        # Q20 shape: correlated SUM cross-checked via window total
        "supplier_dominant_parts": f"""
            WITH pq AS (
                SELECT l_partkey, l_suppkey,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                           AS qty
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                GROUP BY l_partkey, l_suppkey
            ), w AS (
                SELECT l_partkey, l_suppkey, qty,
                       CAST(SUM(qty) OVER (PARTITION BY l_partkey)
                            AS BIGINT) AS part_total
                FROM pq
            )
            SELECT s_suppkey, s_name,
                   CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
            FROM w
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE '%{PROFIT_PART_TOKEN}%'
              AND qty * 2 > part_total
            GROUP BY s_suppkey, s_name
            ORDER BY n_dominant_parts DESC, s_suppkey
        """,
    }


EXT_ORACLES.update(_round6_tpch_wave2_oracles())


def _substring_span_oracles() -> dict[str, str]:
    """Exact-substring span dedup twins. Same tokenization
    (whitespace regex split of trimmed text), same md5 of the
    space-joined k-token window; DuckDB's generate_series(1, n)
    with n < 1 is empty, mirroring the Spark side's sequence guard
    for short docs."""
    from dbt_eamples_spark.operators.dedup import SPAN_TOKENS, TOP_SPANS_K

    k = SPAN_TOKENS
    spans = f"""
        toks AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS t
            FROM documents
        ),
        spans AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(t) - {k} + 1),
                       i -> md5(array_to_string(t[i : i + {k} - 1], ' '))
                   )) AS h
            FROM toks
        )
    """
    return {
        "dedup_substring_spans": f"""
            WITH {spans},
            stats AS (
                SELECT h, COUNT(DISTINCT doc_id) AS nd
                FROM spans GROUP BY h
            ),
            per_doc AS (
                SELECT s.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_spans,
                       CAST(SUM(CASE WHEN st.nd > 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_dup_spans
                FROM spans s JOIN stats st USING (h)
                GROUP BY s.doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT)
                       AS n_dup_spans,
                   CASE WHEN COALESCE(p.n_spans, 0) > 0
                        THEN round(CAST(p.n_dup_spans AS DOUBLE)
                                   / CAST(p.n_spans AS DOUBLE), 6)
                   END AS dup_ratio
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        "dedup_top_spans": f"""
            WITH {spans}
            SELECT h,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM spans
            GROUP BY h
            HAVING COUNT(DISTINCT doc_id) > 1
            ORDER BY n_docs DESC, n_occurrences DESC, h
            LIMIT {TOP_SPANS_K}
        """,
    }


EXT_ORACLES.update(_substring_span_oracles())


def _entity_match_oracle() -> dict[str, str]:
    """Fuzzy entity-resolution twin: identical normalization, the
    same two blocking keys, the same oversized-block guard, DuckDB's
    levenshtein (same classic edit-distance definition as Spark's)."""
    from dbt_eamples_spark.operators.dedup import (
        ENTITY_BLOCK_MAX,
        ENTITY_LEV_MAX,
    )

    return {
        "customer_entity_match": f"""
            WITH cust AS (
                SELECT c_custkey, lower(trim(c_name)) AS name
                FROM customer
            ),
            k1 AS (
                SELECT c_custkey, name,
                       substring(name, 1, length(name) - 2) AS bk
                FROM cust
            ),
            k2 AS (
                SELECT c_custkey, name,
                       substring(name, 1, 9)
                       || substring(name, length(name) - 1, 2) AS bk
                FROM cust
            ),
            ok1 AS (
                SELECT bk FROM k1 GROUP BY bk
                HAVING COUNT(*) <= {ENTITY_BLOCK_MAX}
            ),
            ok2 AS (
                SELECT bk FROM k2 GROUP BY bk
                HAVING COUNT(*) <= {ENTITY_BLOCK_MAX}
            ),
            p1 AS (
                SELECT a.c_custkey AS custkey_a,
                       b.c_custkey AS custkey_b,
                       CAST(levenshtein(a.name, b.name) AS INTEGER)
                           AS lev_dist
                FROM k1 a
                JOIN k1 b USING (bk)
                JOIN ok1 USING (bk)
                WHERE a.c_custkey < b.c_custkey
                  AND levenshtein(a.name, b.name) <= {ENTITY_LEV_MAX}
            ),
            p2 AS (
                SELECT a.c_custkey AS custkey_a,
                       b.c_custkey AS custkey_b,
                       CAST(levenshtein(a.name, b.name) AS INTEGER)
                           AS lev_dist
                FROM k2 a
                JOIN k2 b USING (bk)
                JOIN ok2 USING (bk)
                WHERE a.c_custkey < b.c_custkey
                  AND levenshtein(a.name, b.name) <= {ENTITY_LEV_MAX}
            )
            SELECT DISTINCT custkey_a, custkey_b, lev_dist
            FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
            ORDER BY custkey_a, custkey_b
        """,
    }


EXT_ORACLES.update(_entity_match_oracle())


EXT_ORACLES["corpus_js_divergence"] = r"""
    WITH tok AS (
        SELECT source,
               unnest(string_split_regex(lower(text), '\s+')) AS term
        FROM documents
    ), c AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY source, term
    ), tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS vocab
        FROM c GROUP BY source
    ), pairs AS (
        SELECT a.source AS sa, a.n AS na, a.vocab AS va,
               b.source AS sb, b.n AS nb, b.vocab AS vb
        FROM tot a JOIN tot b ON a.source < b.source
    ), shared AS (
        SELECT p.sa, p.sb, p.na, p.nb, p.va, p.vb,
               x.c AS ca, y.c AS cb
        FROM c x JOIN c y
          ON x.term = y.term AND x.source < y.source
        JOIN pairs p ON p.sa = x.source AND p.sb = y.source
    ), terms AS (
        SELECT sa, sb, na, nb, va, vb, ca, cb,
               (CAST(ROUND(
                    CAST(ca AS DOUBLE) / na
                    * ROUND(ln(2.0 * CAST(ca::HUGEINT * nb AS DOUBLE)
                            / CAST(ca::HUGEINT * nb + cb::HUGEINT * na
                                   AS DOUBLE)), 6)
                    * 1e9) AS BIGINT)
                + CAST(ROUND(
                    CAST(cb AS DOUBLE) / nb
                    * ROUND(ln(2.0 * CAST(cb::HUGEINT * na AS DOUBLE)
                            / CAST(ca::HUGEINT * nb + cb::HUGEINT * na
                                   AS DOUBLE)), 6)
                    * 1e9) AS BIGINT)) AS t_fp
        FROM shared
    ), folds AS (
        SELECT sa, sb,
               CAST(count(*) AS BIGINT) AS n_both,
               CAST(SUM(t_fp) AS BIGINT) AS s_fp,
               CAST(SUM(ca) AS BIGINT) AS sum_ca,
               CAST(SUM(cb) AS BIGINT) AS sum_cb
        FROM terms GROUP BY sa, sb
    ), allpairs AS (
        -- left-join back onto the pair grid: a pair with zero
        -- shared vocabulary still reports js_nats = round(ln 2, 6)
        SELECT p.sa, p.sb, p.na, p.nb, p.va, p.vb,
               COALESCE(f.n_both, 0) AS n_both,
               COALESCE(f.s_fp, 0) AS s_fp,
               COALESCE(f.sum_ca, 0) AS sum_ca,
               COALESCE(f.sum_cb, 0) AS sum_cb
        FROM pairs p LEFT JOIN folds f
          ON p.sa = f.sa AND p.sb = f.sb
    )
    SELECT sa, sb, va + vb - n_both AS n_terms,
           ROUND(CAST(s_fp
               + CAST(ROUND(CAST(na - sum_ca AS DOUBLE) / na
                            * ROUND(ln(2.0), 6) * 1e9) AS BIGINT)
               + CAST(ROUND(CAST(nb - sum_cb AS DOUBLE) / nb
                            * ROUND(ln(2.0), 6) * 1e9) AS BIGINT)
               AS DOUBLE) / 2e9, 6) AS js_nats
    FROM allpairs ORDER BY sa, sb
"""


def _stl_strength_oracle_sql() -> str:
    """Strength folds over the decomposition oracle's own output —
    the same already-rounded 6dp components feed identical
    fixed-point variance numerators in both engines."""
    return f"""
        WITH stl AS ({EXT_ORACLES["ts_seasonal_decompose"]}),
        x AS (
            SELECT event_type,
                   CAST(ROUND(residual * 1e6) AS BIGINT) AS r,
                   CAST(ROUND((trend + residual) * 1e6) AS BIGINT)
                       AS tr,
                   CAST(ROUND((seasonal + residual) * 1e6) AS BIGINT)
                       AS sr
            FROM stl WHERE residual IS NOT NULL
        ),
        folds AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_days,
                   SUM(r::HUGEINT) AS s_r,
                   SUM(r::HUGEINT * r) AS ss_r,
                   SUM(tr::HUGEINT) AS s_tr,
                   SUM(tr::HUGEINT * tr) AS ss_tr,
                   SUM(sr::HUGEINT) AS s_sr,
                   SUM(sr::HUGEINT * sr) AS ss_sr
            FROM x GROUP BY event_type
        )
        SELECT event_type, n_days,
               round(greatest(0.0, 1.0
                   - CAST(n_days * ss_r - s_r * s_r AS DOUBLE)
                   / CAST(n_days * ss_tr - s_tr * s_tr AS DOUBLE)), 6)
                   AS trend_strength,
               round(greatest(0.0, 1.0
                   - CAST(n_days * ss_r - s_r * s_r AS DOUBLE)
                   / CAST(n_days * ss_sr - s_sr * s_sr AS DOUBLE)), 6)
                   AS seasonal_strength
        FROM folds ORDER BY event_type
    """


EXT_ORACLES["ts_stl_strength"] = _stl_strength_oracle_sql()


def _kcenter_oracle_sql() -> str:
    """Unrolled Gonzalez rounds as MATERIALIZED CTEs (the graph-
    oracle unrolling pattern): c{i} = argmax of the carried
    min-distance frame m{i-1}, m{i} = LEAST-folded update against
    the new center."""
    from dbt_eamples_spark.operators.similarity import CORESET_K

    parts = [
        """e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        )""",
        """c0 AS MATERIALIZED (
            SELECT vec_id, vec FROM e ORDER BY vec_id LIMIT 1
        )""",
        f"""m0 AS MATERIALIZED (
            SELECT e.vec_id, e.vec,
                   round(1.0 - {_cos('e.vec', 'c0.vec')}, 6) AS mind
            FROM e, c0
        )""",
    ]
    sel = ["SELECT 0 AS sel_round, vec_id, "
           "CAST(NULL AS DOUBLE) AS coverage_radius FROM c0"]
    for i in range(1, CORESET_K):
        parts.append(f"""c{i} AS MATERIALIZED (
            SELECT vec_id, vec, mind FROM m{i - 1}
            ORDER BY mind DESC, vec_id LIMIT 1
        )""")
        if i < CORESET_K - 1:
            parts.append(f"""m{i} AS MATERIALIZED (
                SELECT m.vec_id, m.vec,
                       least(m.mind,
                             round(1.0 - {_cos('m.vec', 'c.vec')}, 6))
                           AS mind
                FROM m{i - 1} m, c{i} c
            )""")
        sel.append(
            f"SELECT {i} AS sel_round, vec_id, mind FROM c{i}"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + " UNION ALL ".join(sel) + " ORDER BY sel_round"
    )


EXT_ORACLES["sample_coreset_kcenter"] = _kcenter_oracle_sql()


# Q7 / Q14 / Q19 shapes — straight ANSI twins (the Spark side is
# DataFrame-built; the SQL restates the definition)
EXT_ORACLES["nations_trade_volume"] = """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(o_orderdate)
    ORDER BY supp_nation, cust_nation, order_year
"""

EXT_ORACLES["promo_revenue_share"] = """
    WITH m AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(ROUND(l_extendedprice * (1 - l_discount)
                                    * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS promo_cents,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY ship_month
    )
    SELECT ship_month, promo_cents, total_cents,
           ROUND(CAST(promo_cents AS DOUBLE)
                 / CAST(total_cents AS DOUBLE), 6) AS promo_share
    FROM m ORDER BY ship_month
"""

EXT_ORACLES["lineitem_disjunctive_scan"] = """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice
                * (1 - l_discount) * 100) AS BIGINT)), 0) AS BIGINT)
               AS revenue_cents
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
           AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
           AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#4' AND l_quantity BETWEEN 20 AND 30
           AND p_size BETWEEN 1 AND 15)
"""


# ---- round-6 third wave ------------------------------------------------------
def _round6_wave3_oracles() -> dict[str, str]:
    """ts_rolling_median / graph_assortativity /
    embedding_norm_stats / sample_neyman_allocation twins. Same
    exactness contracts as their Spark operators: rows-frame median
    of BIGINTs (both engines midpoint-interpolate), HUGEINT moment
    folds with identical double closed forms, per-row fixed-point
    quantization for the float corpus stats, and md5 order-statistic
    sampling under an integer-quantized Neyman quota."""
    from dbt_eamples_spark.operators.behavior import (
        ROLLMED_WINDOW_DAYS,
    )
    from dbt_eamples_spark.operators.sampling import NEYMAN_TOTAL_K
    from dbt_eamples_spark.operators.similarity import DIM_Q_SCALE

    s = f"CAST({DIM_Q_SCALE} AS DOUBLE)"
    return {
        "ts_rolling_median": f"""
            WITH daily AS (
                SELECT event_type, CAST(date_trunc('day', ts) AS DATE)
                           AS day,
                       CAST(count(*) AS BIGINT) AS x
                FROM events GROUP BY 1, 2
            ),
            bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
            spine AS (
                SELECT t.event_type, CAST(u.d AS DATE) AS day
                FROM (SELECT DISTINCT event_type FROM daily) t
                CROSS JOIN bounds b
                CROSS JOIN LATERAL unnest(
                    generate_series(b.d0, b.d1, INTERVAL 1 DAY)
                ) AS u(d)
            ),
            filled AS (
                SELECT s.event_type, s.day,
                       CAST(COALESCE(d.x, 0) AS BIGINT) AS x
                FROM spine s
                LEFT JOIN daily d
                  ON d.event_type = s.event_type AND d.day = s.day
            )
            SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x,
                   median(x) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN {ROLLMED_WINDOW_DAYS - 1} PRECEDING
                            AND CURRENT ROW
                   ) AS med7,
                   CAST(x AS DOUBLE) - median(x) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN {ROLLMED_WINDOW_DAYS - 1} PRECEDING
                            AND CURRENT ROW
                   ) AS deviation
            FROM filled ORDER BY event_type, day
        """,
        "graph_assortativity": """
            WITH li AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ),
            edges AS (
                SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey <> b.l_partkey
            ),
            deg AS (
                SELECT src, CAST(count(*) AS BIGINT) AS k
                FROM edges GROUP BY src
            ),
            joined AS (
                SELECT ka.k AS ka, kb.k AS kb
                FROM edges e
                JOIN deg ka ON ka.src = e.src
                JOIN deg kb ON kb.src = e.dst
            ),
            mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n_edges,
                       SUM(CAST(ka AS HUGEINT)) AS sx,
                       SUM(CAST(kb AS HUGEINT)) AS sy,
                       SUM(CAST(ka AS HUGEINT) * CAST(kb AS HUGEINT))
                           AS sxy,
                       SUM(CAST(ka AS HUGEINT) * CAST(ka AS HUGEINT))
                           AS sxx,
                       SUM(CAST(kb AS HUGEINT) * CAST(kb AS HUGEINT))
                           AS syy
                FROM joined
            ),
            nodes AS (
                SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                       SUM(CAST(k AS HUGEINT)) AS sk
                FROM deg
            )
            SELECT n_edges, n_nodes,
                   round(CAST(sk AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
                       AS avg_degree,
                   CASE WHEN sqrt(
                            (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                        ) > 0
                        THEN round(
                            (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / sqrt(
                              (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                            ), 6)
                   END AS assortativity
            FROM mom, nodes
        """,
        "embedding_norm_stats": f"""
            WITH qn AS (
                SELECT label,
                       CAST(round(sqrt(CAST((
                           SELECT SUM(
                               CAST(round(CAST(u.x AS DOUBLE)
                                    * {DIM_Q_SCALE}) AS BIGINT)
                               * CAST(round(CAST(u.x AS DOUBLE)
                                      * {DIM_Q_SCALE}) AS BIGINT))
                           FROM unnest(embedding) AS u(x)
                       ) AS DOUBLE))) AS BIGINT) AS qn
                FROM embeddings
            ),
            agg AS (
                SELECT label,
                       CAST(count(*) AS BIGINT) AS n_vecs,
                       SUM(CAST(qn AS HUGEINT)) AS sv,
                       SUM(CAST(qn AS HUGEINT) * CAST(qn AS HUGEINT))
                           AS svv,
                       min(qn) AS qmin, max(qn) AS qmax,
                       median(qn) AS qmed
                FROM qn GROUP BY label
            )
            SELECT label, n_vecs,
                   round(CAST(sv AS DOUBLE) / CAST(n_vecs AS DOUBLE)
                         / {s}, 6) AS mean_norm,
                   round(sqrt((CAST(n_vecs AS DOUBLE)
                               * CAST(svv AS DOUBLE)
                               - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                              / (CAST(n_vecs AS DOUBLE)
                                 * CAST(n_vecs AS DOUBLE)))
                         / {s}, 6) AS std_norm,
                   round(qmin / {s}, 6) AS min_norm,
                   round(qmax / {s}, 6) AS max_norm,
                   round(qmed / {s}, 6) AS med_norm
            FROM agg ORDER BY label
        """,
        "sample_neyman_allocation": f"""
            WITH mom AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS nh,
                       SUM(CAST(n_chars AS HUGEINT)) AS s,
                       SUM(CAST(n_chars AS HUGEINT)
                           * CAST(n_chars AS HUGEINT)) AS ss
                FROM documents GROUP BY source
            ),
            qw AS (
                SELECT source, nh,
                       CAST(round(sqrt(CAST(
                           CAST(nh AS HUGEINT) * ss - s * s
                       AS DOUBLE)) * 1e6) AS BIGINT) AS qw
                FROM mom
            ),
            alloc AS (
                SELECT source, nh,
                       GREATEST(CAST(1 AS BIGINT), CAST(round(
                           {NEYMAN_TOTAL_K}
                           * CAST(qw AS DOUBLE)
                           / CAST((SELECT SUM(CAST(qw AS HUGEINT))
                                   FROM qw) AS DOUBLE)
                       ) AS BIGINT)) AS alloc
                FROM qw
            ),
            ranked AS (
                SELECT doc_id, source, n_chars,
                       CAST(row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                    doc_id
                       ) AS BIGINT) AS rk
                FROM documents
            )
            SELECT r.source, a.alloc, r.rk AS samp_rank,
                   r.doc_id, r.n_chars
            FROM ranked r JOIN alloc a ON a.source = r.source
            WHERE r.rk <= a.alloc
            ORDER BY r.source, r.rk
        """,
    }


EXT_ORACLES.update(_round6_wave3_oracles())


def _hampel_oracle_sql() -> str:
    """Mirror of behavior.ts_hampel_outliers: same zero-filled
    spine, same even-integer doubled-units frame math, and the SAME
    all-integer cross-multiplied Hampel test — no float enters the
    outlier decision in either engine."""
    from dbt_eamples_spark.operators.behavior import (
        HAMPEL_K_X10000,
        HAMPEL_MAD_CONSISTENCY_X10000,
        ROLLMED_WINDOW_DAYS,
    )

    return f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE)
                       AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        spine AS (
            SELECT t.event_type, CAST(u.d AS DATE) AS day
            FROM (SELECT DISTINCT event_type FROM daily) t
            CROSS JOIN bounds b
            CROSS JOIN LATERAL unnest(
                generate_series(b.d0, b.d1, INTERVAL 1 DAY)
            ) AS u(d)
        ),
        filled AS (
            SELECT s.event_type, s.day,
                   CAST(COALESCE(d.x, 0) AS BIGINT) AS x
            FROM spine s LEFT JOIN daily d
              ON d.event_type = s.event_type AND d.day = s.day
        ),
        framed AS (
            SELECT event_type, day, x,
                   list(x * 2) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN {ROLLMED_WINDOW_DAYS - 1} PRECEDING
                            AND CURRENT ROW
                   ) AS fr
            FROM filled
        ),
        med AS (
            SELECT *,
                   CAST(CASE WHEN len(fr) % 2 = 1
                        THEN list_sort(fr)[(len(fr) + 1) // 2]
                        ELSE (list_sort(fr)[len(fr) // 2]
                              + list_sort(fr)[len(fr) // 2 + 1]) // 2
                   END AS BIGINT) AS med2
            FROM framed
        ),
        mad AS (
            SELECT *,
                   CAST((SELECT CASE WHEN len(dl) % 2 = 1
                         THEN list_sort(dl)[(len(dl) + 1) // 2]
                         ELSE (list_sort(dl)[len(dl) // 2]
                               + list_sort(dl)[len(dl) // 2 + 1]) // 2
                         END
                         FROM (SELECT list_transform(
                             fr, v -> abs(v - med2) * 2) AS dl)
                   ) AS BIGINT) AS mad4
            FROM med
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x,
               med2 / 2.0 AS med7, mad4 / 4.0 AS mad,
               (abs(x * 2 - med2) * 2 * 100000000
                > {HAMPEL_K_X10000} * {HAMPEL_MAD_CONSISTENCY_X10000}
                  * mad4) AS is_outlier
        FROM mad ORDER BY event_type, day
    """


EXT_ORACLES["ts_hampel_outliers"] = _hampel_oracle_sql()


def _basket_lift_oracle_sql() -> str:
    """Mirror of behavior.market_basket_lift: distinct (order, part)
    pairs -> pair/item supports as exact BIGINTs -> lift/confidence
    as single double divisions of exact integers, identical trees;
    the same (round(lift,6) DESC, pair) total order cuts the top-k."""
    from dbt_eamples_spark.operators.behavior import (
        LIFT_MIN_SUPPORT,
        LIFT_TOP_K,
    )

    return f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        n AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
                       AS n_orders
            FROM li
        ),
        item AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp
            FROM li GROUP BY l_partkey
        ),
        pair AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(count(*) AS BIGINT) AS support
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT p.part_a, p.part_b, p.support,
                   ia.supp AS supp_a, ib.supp AS supp_b,
                   round(CAST(p.support AS DOUBLE)
                         * CAST(n.n_orders AS DOUBLE)
                         / (CAST(ia.supp AS DOUBLE)
                            * CAST(ib.supp AS DOUBLE)), 6) AS lift,
                   round(CAST(p.support AS DOUBLE)
                         / CAST(ia.supp AS DOUBLE), 6)
                       AS confidence_a_to_b
            FROM pair p
            JOIN item ia ON ia.l_partkey = p.part_a
            JOIN item ib ON ib.l_partkey = p.part_b
            CROSS JOIN n
            WHERE p.support >= {LIFT_MIN_SUPPORT}
        )
        SELECT part_a, part_b, support, supp_a, supp_b, lift,
               confidence_a_to_b
        FROM scored
        ORDER BY lift DESC, part_a, part_b
        LIMIT {LIFT_TOP_K}
    """


EXT_ORACLES["market_basket_lift"] = _basket_lift_oracle_sql()


def _threshold_curve_oracle_sql() -> str:
    """Mirror of dedup.dedup_threshold_curve: the UNCHANGED
    dedup_ngram_jaccard twin as a nested CTE, then the same tau-grid
    micro-aggregations with a left join keeping all grid rows."""
    from dbt_eamples_spark.operators.dedup import DEDUP_CURVE_TAUS

    taus = ", ".join(f"({t})" for t in DEDUP_CURVE_TAUS)
    return f"""
        WITH pairs AS ({EXT_ORACLES["dedup_ngram_jaccard"]}),
        grid AS (SELECT CAST(t AS DOUBLE) AS tau
                 FROM (VALUES {taus}) g(t)),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents),
        tagged AS (
            SELECT g.tau, p.doc_a, p.doc_b
            FROM pairs p JOIN grid g ON p.jaccard >= g.tau
        ),
        np AS (
            SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs
            FROM tagged GROUP BY tau
        ),
        nd AS (
            SELECT tau, CAST(count(DISTINCT doc) AS BIGINT) AS n_dup_docs
            FROM (
                SELECT tau, doc_a AS doc FROM tagged
                UNION ALL
                SELECT tau, doc_b AS doc FROM tagged
            ) GROUP BY tau
        )
        SELECT g.tau,
               CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(nd.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
               round(CAST(COALESCE(nd.n_dup_docs, 0) AS DOUBLE)
                     / CAST(t.n_docs AS DOUBLE), 6) AS dup_frac
        FROM grid g
        LEFT JOIN np ON np.tau = g.tau
        LEFT JOIN nd ON nd.tau = g.tau
        CROSS JOIN total t
        ORDER BY g.tau
    """


EXT_ORACLES["dedup_threshold_curve"] = _threshold_curve_oracle_sql()


# Mirror of multimodal.multimodal_codec_stats: Spark ENCODES the
# deterministic payload and STRICT-DECODES it through the real
# PNG/GIF/WAV codecs; the oracle computes the identical features
# from the generative closed form — the cross-engine check that the
# encode→decode round trip is bit-exact for all three magics.
# Exactness: image sums are small exact integers; WAV amplitudes are
# dyadic k/2^15 whose 64-term moment sums stay < 2^53 (exact), and
# the PCM quantizer never hits an exact .5 (32768k ≡ 500 mod 1000 is
# unsolvable), so ROUND == numpy round on every sample.
EXT_ORACLES["multimodal_codec_stats"] = r"""
    WITH docs AS (
        SELECT doc_id, CAST(doc_id % 3 AS INT) AS kind FROM documents
    ), grid AS (
        SELECT d.doc_id, d.kind, t.i
        FROM docs d CROSS JOIN (SELECT unnest(range(64)) AS i) t
    ), img AS (
        SELECT doc_id, kind,
               CASE WHEN kind = 0 THEN (doc_id * 31 + i) % 256
                    ELSE 85 * ((doc_id + i) % 4) END AS v
        FROM grid WHERE kind IN (0, 1)
    ), imgf AS (
        SELECT doc_id, kind,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(CASE WHEN v > 127 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
        FROM img GROUP BY doc_id, kind
    ), wavq AS (
        SELECT doc_id, i,
               LEAST(ROUND(((doc_id * 7 + i * 13) % 2001 - 1000)
                           / 1000.0 * 32768.0), 32767.0) / 32768.0
                   AS mono
        FROM grid WHERE kind = 2
    ), wavlag AS (
        SELECT doc_id, i, mono,
               LAG(mono) OVER (PARTITION BY doc_id ORDER BY i) AS pm
        FROM wavq
    ), wavf AS (
        SELECT doc_id,
               SUM(mono * mono) AS ssq,
               MAX(ABS(mono)) AS pk,
               SUM(mono) AS sm,
               CAST(SUM(CASE WHEN pm IS NOT NULL
                              AND ((mono < 0) != (pm < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zc
        FROM wavlag GROUP BY doc_id
    )
    SELECT doc_id, kind,
           ROUND(8.0, 6) AS f0,
           ROUND(8.0, 6) AS f1,
           ROUND(CASE WHEN kind = 0 THEN 1.0 ELSE 3.0 END, 6) AS f2,
           ROUND(sv / 64.0 / 255.0, 6) AS f3,
           ROUND(sv / 64.0 / 255.0, 6) AS f4,
           ROUND(CASE WHEN kind = 0 THEN 0.0
                      ELSE sv / 64.0 / 255.0 END, 6) AS f5,
           ROUND(CASE WHEN kind = 0 THEN 0.0
                      ELSE sv / 64.0 / 255.0 END, 6) AS f6,
           ROUND(nb / 64.0, 6) AS f7
    FROM imgf
    UNION ALL
    SELECT doc_id, 2 AS kind,
           ROUND(8000.0, 6) AS f0,
           ROUND(64.0, 6) AS f1,
           ROUND(1.0, 6) AS f2,
           ROUND(64.0 / 8000.0, 6) AS f3,
           ROUND(SQRT(ssq / 64.0), 6) AS f4,
           ROUND(pk, 6) AS f5,
           ROUND(zc / 63.0, 6) AS f6,
           ROUND(sm / 64.0, 6) AS f7
    FROM wavf
    ORDER BY doc_id
"""


# Mirror of behavior.agg_theil_index: identical (x·n)/Σx double
# division, 6dp-prerounded ln, 1e9 fixed-point term folds.
EXT_ORACLES["agg_theil_index"] = """
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT)) AS HUGEINT) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(rev) AS HUGEINT) AS sx
        FROM rev
    ),
    terms AS (
        SELECT t.n, t.sx,
               CAST(ROUND(
                   CAST(r.rev * t.n AS DOUBLE) / CAST(t.sx AS DOUBLE)
                   * ROUND(ln(CAST(r.rev * t.n AS DOUBLE)
                              / CAST(t.sx AS DOUBLE)), 6)
                   * 1e9) AS BIGINT) AS t_fp
        FROM rev r CROSS JOIN tot t
    )
    SELECT n AS n_parts,
           CAST(sx AS BIGINT) AS total_cents,
           round(CAST(SUM(t_fp) AS DOUBLE) / 1e9 / CAST(n AS DOUBLE), 6)
               AS theil
    FROM terms GROUP BY n, sx
"""


# Mirror of text.text_ngram_novelty over the shared SHINGLES recipe.
EXT_ORACLES["text_ngram_novelty"] = f"""
    WITH sh AS ({{SHINGLES}}),
    g AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
    f AS (
        SELECT doc_id,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY gram)
                    THEN 1 ELSE 0 END AS novel
        FROM g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           round(CAST(SUM(novel) AS DOUBLE) / count(*), 6) AS novelty
    FROM f GROUP BY doc_id ORDER BY doc_id
""".format(SHINGLES=SHINGLES)


def _matryoshka_oracle_sql() -> str:
    """Mirror of similarity.embedding_matryoshka_eval: the
    similarity_topk recipe per prefix length on list_slice'd
    vectors, overlap vs the full-dim top-k as exact integers."""
    from dbt_eamples_spark.operators.similarity import (
        MATRYOSHKA_DIMS,
        N_QUERIES,
        TOP_K,
    )

    def _pass(tag: str, vec_expr: str) -> str:
        return f"""
        v{tag} AS (SELECT vec_id, {vec_expr} AS vec FROM base),
        q{tag} AS (SELECT vec_id AS query_id, vec AS qvec
                   FROM v{tag} WHERE vec_id < {N_QUERIES}),
        top{tag} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY round({_cos('qvec', 'v.vec')}, 6)
                               DESC, v.vec_id ASC) AS rk
                FROM v{tag} v JOIN q{tag} q ON v.vec_id != q.query_id
            ) WHERE rk <= {TOP_K}
        )"""

    passes = [_pass("full", "vec")] + [
        _pass(str(d), f"list_slice(vec, 1, {d})") for d in MATRYOSHKA_DIMS
    ]
    branches = " UNION ALL ".join(
        f"""
        SELECT CAST({d} AS INT) AS dims, qs.query_id,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap
        FROM queries qs LEFT JOIN (
            SELECT t.query_id, CAST(count(*) AS BIGINT) AS n
            FROM top{d} t JOIN topfull f
              ON t.query_id = f.query_id
             AND t.neighbor_id = f.neighbor_id
            GROUP BY t.query_id
        ) h ON qs.query_id = h.query_id"""
        for d in MATRYOSHKA_DIMS
    )
    return f"""
        WITH base AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),{','.join(passes)},
        queries AS (SELECT DISTINCT query_id FROM topfull)
        SELECT dims, query_id, n_overlap,
               round(n_overlap / {float(TOP_K)!r}, 6) AS overlap
        FROM ({branches})
        ORDER BY dims, query_id
    """


EXT_ORACLES["embedding_matryoshka_eval"] = _matryoshka_oracle_sql()


def _cascade_attrition_oracle_sql() -> str:
    """Mirror of dedup.dedup_cascade_attrition: composes the
    UNCHANGED dedup_clusters and dedup_substring_spans twins with
    the exact-fingerprint window, then folds the 3-row funnel."""
    from dbt_eamples_spark.operators.dedup import CASCADE_SPAN_RATIO

    return f"""
        WITH clusters AS ({EXT_ORACLES["dedup_clusters"]}),
        spans AS ({EXT_ORACLES["dedup_substring_spans"]}),
        ek AS (
            SELECT doc_id,
                   doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                       AS exact_keep
            FROM (SELECT doc_id,
                         md5(trim(regexp_replace(lower(text), '\\s+',
                                                 ' ', 'g'))) AS fp
                  FROM documents)
        ),
        st AS (
            SELECT e.doc_id,
                   CASE WHEN NOT e.exact_keep THEN 1
                        WHEN c.keep IS NOT NULL AND NOT c.keep THEN 2
                        WHEN s.dup_ratio >= {CASCADE_SPAN_RATIO} THEN 3
                        ELSE 0 END AS stage
            FROM ek e
            LEFT JOIN clusters c ON e.doc_id = c.doc_id
            LEFT JOIN spans s ON e.doc_id = s.doc_id
        ),
        cnt AS (
            SELECT stage, CAST(count(*) AS BIGINT) AS n
            FROM st GROUP BY stage
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        spine(stage, stage_name) AS (
            VALUES (1, 'exact'), (2, 'near_dup'), (3, 'span_heavy')
        )
        SELECT sp.stage, sp.stage_name,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_removed,
               CAST(nd - SUM(COALESCE(c.n, 0))
                        OVER (ORDER BY sp.stage) AS BIGINT)
                   AS n_surviving,
               round(CAST(SUM(COALESCE(c.n, 0))
                          OVER (ORDER BY sp.stage) AS DOUBLE)
                     / CAST(nd AS DOUBLE), 6) AS cum_removed_frac
        FROM spine sp
        LEFT JOIN cnt c ON sp.stage = c.stage
        CROSS JOIN tot
        ORDER BY sp.stage
    """


EXT_ORACLES["dedup_cascade_attrition"] = _cascade_attrition_oracle_sql()


# Mirror of quality.agg_winsorized_mean (percentile ≡ quantile_cont
# parity; 1e4/1e2 fixed-point means).
EXT_ORACLES["agg_winsorized_mean"] = """
    WITH pct AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    ),
    j AS (
        SELECT e.event_type,
               CAST(round(e.value * 100) AS BIGINT) AS cents,
               CAST(round(LEAST(GREATEST(e.value, p.lo), p.hi) * 1e4)
                    AS BIGINT) AS c_fp,
               CASE WHEN e.value < p.lo OR e.value > p.hi
                    THEN 1 ELSE 0 END AS was_clipped
        FROM events e JOIN pct p USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(was_clipped) AS BIGINT) AS n_clipped,
           round(CAST(SUM(cents) AS DOUBLE) / 100.0 / count(*), 6)
               AS raw_mean,
           round(CAST(SUM(c_fp) AS DOUBLE) / 1e4 / count(*), 6)
               AS winsor_mean
    FROM j GROUP BY event_type ORDER BY event_type
"""


def _seasonal_anomaly_oracle_sql() -> str:
    """Mirror of behavior.ts_seasonal_anomaly over the UNCHANGED
    decomposition twin (same nesting as ts_stl_strength)."""
    from dbt_eamples_spark.operators.behavior import SEASONAL_ANOM_K

    return f"""
        WITH stl AS ({EXT_ORACLES["ts_seasonal_decompose"]}),
        r AS (SELECT * FROM stl WHERE residual IS NOT NULL),
        med AS (
            SELECT event_type, quantile_cont(residual, 0.5) AS med
            FROM r GROUP BY event_type
        ),
        mad AS (
            SELECT x.event_type, MAX(m.med) AS med,
                   quantile_cont(abs(x.residual - m.med), 0.5) AS mad
            FROM r x JOIN med m USING (event_type)
            GROUP BY x.event_type
        )
        SELECT r.event_type, r.day, r.n_events, r.residual,
               round(mad.med, 6) AS med, round(mad.mad, 6) AS mad
        FROM r JOIN mad USING (event_type)
        WHERE abs(r.residual - mad.med) > {SEASONAL_ANOM_K} * mad.mad
        ORDER BY r.event_type, r.day
    """


EXT_ORACLES["ts_seasonal_anomaly"] = _seasonal_anomaly_oracle_sql()


# Mirror of sampling.sample_weighted_reservoir: Efraimidis–Spirakis
# keys from the (+1-guarded) md5 coin and the shared QUALITY_SQL
# score; identical 6dp-prerounded ln and total (key, doc_id) order.
def _weighted_reservoir_oracle_sql() -> str:
    from dbt_eamples_spark.operators.sampling import RESERVOIR_K

    return f"""
        WITH q AS ({QUALITY_SQL}),
        keyed AS (
            SELECT doc_id, quality_score,
                   round(-round(ln(
                       (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 15))::BIGINT + 1)
                       / 1152921504606846976.0), 6)
                       / quality_score, 6) AS es_key
            FROM q WHERE quality_score > 0
        )
        SELECT doc_id, quality_score, es_key
        FROM keyed ORDER BY es_key ASC, doc_id ASC
        LIMIT {RESERVOIR_K}
    """


EXT_ORACLES["sample_weighted_reservoir"] = _weighted_reservoir_oracle_sql()


# Mirror of behavior.events_user_entropy (text_word_entropy recipe
# on the behavioral (user, type) counts).
EXT_ORACLES["events_user_entropy"] = """
    WITH ct AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type
    ),
    n AS (
        SELECT user_id, c,
               CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_events
        FROM ct
    ),
    terms AS (
        SELECT user_id, n_events,
               CAST(ROUND(-(CAST(c AS DOUBLE) / n_events)
                          * ROUND(ln(CAST(c AS DOUBLE) / n_events), 6)
                          * 1e9) AS BIGINT) AS t_fp
        FROM n
    )
    SELECT user_id, n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(CAST(SUM(t_fp) AS DOUBLE) / 1e9, 6) AS entropy_nats
    FROM terms GROUP BY user_id, n_events ORDER BY user_id
"""


def _incremental_cosine_oracle_sql() -> str:
    """Mirror of dedup.dedup_incremental_cosine: the dynamic plane
    ladder over the FILTERED corpus count, base keys on the corpus
    side, multi-probe keys on the delta side, exact-cosine verify."""
    from dbt_eamples_spark.operators.dedup import (
        COSINE_NEAR_DUP,
        INCR_MOD,
    )
    from dbt_eamples_spark.operators.similarity import (
        DEDUP_LSH_TABLES,
        DEDUP_PROBE_FLIPS,
    )

    corpus_tbl = f"embeddings WHERE vec_id % {INCR_MOD} != 0"
    ck = " UNION ALL ".join(
        f"SELECT vec_id AS corpus_vec, {t} AS t, "
        f"{_lsh_bucket_sql(t, 'np')} AS bucket FROM corpus, npl"
        for t in range(DEDUP_LSH_TABLES)
    )
    dk = " UNION ALL ".join(
        f"SELECT vec_id AS new_vec, {t} AS t, "
        f"unnest({_lsh_probe_sql(t, DEDUP_PROBE_FLIPS, 'np')}) AS bucket "
        f"FROM delta, npl"
        for t in range(DEDUP_LSH_TABLES)
    )
    return f"""
        WITH npl AS MATERIALIZED ({_np_ladder_sql(corpus_tbl)}),
        v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        corpus AS (SELECT * FROM v WHERE vec_id % {INCR_MOD} != 0),
        delta AS (SELECT * FROM v WHERE vec_id % {INCR_MOD} = 0),
        ck AS ({ck}),
        dk AS ({dk}),
        cands AS (
            SELECT DISTINCT d.new_vec, c.corpus_vec
            FROM dk d JOIN ck c ON d.t = c.t AND d.bucket = c.bucket
        )
        SELECT new_vec, corpus_vec, cosine FROM (
            SELECT new_vec, corpus_vec,
                   round({_cos('va.vec', 'vb.vec')}, 6) AS cosine
            FROM cands
            JOIN v va ON va.vec_id = new_vec
            JOIN v vb ON vb.vec_id = corpus_vec
        ) WHERE cosine >= {COSINE_NEAR_DUP}
    """


EXT_ORACLES["dedup_incremental_cosine"] = _incremental_cosine_oracle_sql()


# Mirror of behavior.ts_ljung_box over the UNCHANGED correlogram
# twin (1e12 fixed-point term folds, one final double multiply); n
# is the per-type observed series length from the daily grid and
# NULL-r_k lags are excluded from h_lags and the sum (ADVICE r7).
EXT_ORACLES["ts_ljung_box"] = f"""
    WITH acf AS ({{ACF}}),
    ndays AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                    AS BIGINT) AS n_days
        FROM events GROUP BY event_type
    ),
    terms AS (
        SELECT event_type,
               CAST(ROUND(acf * acf / CAST(n_pairs AS DOUBLE) * 1e12)
                    AS BIGINT) AS t_fp
        FROM acf WHERE acf IS NOT NULL
    ),
    per_type AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS h_lags,
               CAST(SUM(t_fp) AS BIGINT) AS s_fp
        FROM terms GROUP BY event_type
    )
    SELECT p.event_type, n_days, h_lags,
           round(CAST(n_days * (n_days + 2) AS DOUBLE)
                 * (CAST(s_fp AS DOUBLE) / 1e12), 6) AS q_stat
    FROM per_type p JOIN ndays USING (event_type)
    ORDER BY event_type
"""
EXT_ORACLES["ts_ljung_box"] = EXT_ORACLES["ts_ljung_box"].format(
    ACF=EXT_ORACLES["ts_autocorrelation"]
)


# Mirror of text.text_jaccard_source_similarity over the shared
# shingle recipe; the pair grid is the LEFT side so zero-overlap
# pairs report jaccard = 0.
EXT_ORACLES["text_jaccard_source_similarity"] = f"""
    WITH sh AS ({SHINGLES}),
    g AS (
        SELECT DISTINCT source, gram FROM (
            SELECT d.source, unnest(sh.shingles) AS gram
            FROM sh JOIN documents d USING (doc_id)
        )
    ),
    sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        FROM g GROUP BY source
    ),
    ovl AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(count(*) AS BIGINT) AS n_both
        FROM g a JOIN g b
          ON a.gram = b.gram AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    grid AS (
        SELECT x.source AS sa, x.n_grams AS na,
               y.source AS sb, y.n_grams AS nb
        FROM sizes x JOIN sizes y ON x.source < y.source
    )
    SELECT sa, sb, na, nb,
           CAST(COALESCE(b.n_both, 0) AS BIGINT) AS n_both,
           round(CAST(COALESCE(b.n_both, 0) AS DOUBLE)
                 / CAST(na + nb - COALESCE(b.n_both, 0) AS DOUBLE), 6)
               AS jaccard
    FROM grid LEFT JOIN ovl b USING (sa, sb)
    ORDER BY sa, sb
"""


def _asof_tolerance_oracle_sql() -> str:
    """Mirror of asof.join_asof_tolerance over the same ranked
    formulation the join_asof oracle uses, with the staleness CASE."""
    from dbt_eamples_spark.operators.asof import ASOF_TOLERANCE_DAYS

    return f"""
        WITH p AS (
            SELECT user_id, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'
        ),
        ranked AS (
            SELECT e.event_id, e.user_id, e.ts, e.event_type,
                   p.pid, p.pts,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY p.pts DESC, p.pid DESC) AS rn
            FROM events e
            LEFT JOIN p ON e.user_id = p.user_id AND p.pts <= e.ts
        ),
        base AS (SELECT * FROM ranked WHERE rn = 1)
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN fresh THEN pid END AS last_purchase_id,
               CASE WHEN fresh THEN pts END AS last_purchase_ts,
               (pts IS NOT NULL AND NOT COALESCE(fresh, FALSE))
                   AS stale_dropped
        FROM (
            SELECT *,
                   pts >= ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
                       AS fresh
            FROM base
        )
    """


EXT_ORACLES["join_asof_tolerance"] = _asof_tolerance_oracle_sql()


def _transitivity_oracle_sql() -> str:
    """Mirror of graph.graph_transitivity: the SAME compact-forward
    triangle CTE chain as the per-node oracle, folded to the global
    summary (3T/wedges + fixed-point mean local cc)."""
    return """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),
        deg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        o AS MATERIALIZED (
            SELECT CASE WHEN lf THEN u ELSE v END AS a,
                   CASE WHEN lf THEN v ELSE u END AS b,
                   CASE WHEN lf THEN deg_v ELSE deg_u END AS deg_b
            FROM (
                SELECT e.src AS u, e.dst AS v, du.deg AS deg_u,
                       dv.deg AS deg_v,
                       (du.deg < dv.deg
                        OR (du.deg = dv.deg AND e.src < e.dst)) AS lf
                FROM edges e
                JOIN deg du ON e.src = du.src
                JOIN deg dv ON e.dst = dv.src
                WHERE e.src < e.dst
            )
        ),
        tri AS (
            SELECT o1.a, o1.b, o2.c
            FROM o o1
            JOIN (SELECT a, b AS c, deg_b AS deg_c FROM o) o2
              ON o1.a = o2.a
            JOIN (SELECT a AS b, b AS c FROM o) o3
              ON o1.b = o3.b AND o2.c = o3.c
            WHERE o1.deg_b < o2.deg_c
               OR (o1.deg_b = o2.deg_c AND o1.b < o2.c)
        ),
        per_node AS (
            SELECT node, CAST(count(*) AS BIGINT) AS t
            FROM (SELECT unnest([a, b, c]) AS node FROM tri)
            GROUP BY node
        ),
        localcc AS (
            SELECT COALESCE(p.t, 0) AS t, d.deg,
                   CAST(ROUND(2.0 * COALESCE(p.t, 0)
                              / (d.deg * (d.deg - 1)) * 1e6)
                        AS BIGINT) AS cc_fp
            FROM deg d LEFT JOIN per_node p ON d.src = p.node
            WHERE d.deg >= 2
        ),
        folds AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cc_nodes,
                   CAST(SUM(t) // 3 AS BIGINT) AS n_triangles,
                   SUM(CAST(deg AS HUGEINT) * (deg - 1)) AS wedges2,
                   CAST(SUM(cc_fp) AS BIGINT) AS s_cc
            FROM localcc
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(deg) // 2 AS BIGINT) AS n_und_edges
            FROM deg
        )
        SELECT n_nodes, n_und_edges,
               CAST(wedges2 // 2 AS BIGINT) AS n_wedges,
               n_triangles,
               round(6.0 * n_triangles / CAST(wedges2 AS DOUBLE), 6)
                   AS transitivity,
               round(CAST(s_cc AS DOUBLE) / 1e6 / n_cc_nodes, 6)
                   AS avg_local_cc
        FROM folds CROSS JOIN tot
    """


EXT_ORACLES["graph_transitivity"] = _transitivity_oracle_sql()


# Mirror of behavior.events_ab_test: the identical double expression
# tree from exact integer counts (md5 coin arm assignment).
EXT_ORACLES["events_ab_test"] = """
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    armed AS (
        SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                         1, 15))::BIGINT
                         / 1152921504606846976.0 < 0.5
                    THEN 'A' ELSE 'B' END AS arm,
               converted
        FROM per_user
    ),
    folds AS (
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN arm = 'A' AND converted = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
               CAST(SUM(CASE WHEN arm = 'B' AND converted = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        FROM armed
    )
    SELECT n_a, n_b, c_a, c_b,
           round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
           round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
           round(CAST(c_b AS DOUBLE) / n_b
                 - CAST(c_a AS DOUBLE) / n_a, 6) AS abs_lift,
           CASE WHEN sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 - CAST(c_a + c_b AS DOUBLE)
                                 / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b)) > 0
                THEN round(
                    (CAST(c_b AS DOUBLE) / n_b
                     - CAST(c_a AS DOUBLE) / n_a)
                    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                           * (1.0 - CAST(c_a + c_b AS DOUBLE)
                                  / (n_a + n_b))
                           * (1.0 / n_a + 1.0 / n_b)), 6)
           END AS z_score
    FROM folds
"""


def _transitivity_sampled_oracle_sql() -> str:
    """Mirror of graph.graph_transitivity_sampled: the IDENTICAL
    md5-coin Doulion sample (p = 1/Q on canonical 'tri|src|dst'
    pairs), the same compact-forward triangle CTE chain on the
    sampled symmetric edges (degrees computed ON the sample), exact
    full-graph wedges, and the q³-scaled estimate."""
    from dbt_eamples_spark.operators.graph import TRANSITIVITY_SAMPLE_Q

    q = TRANSITIVITY_SAMPLE_Q
    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ),
        degf AS (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        kept AS MATERIALIZED (
            SELECT src, dst FROM edges
            WHERE src < dst
              AND ('0x' || substr(md5('tri|' || CAST(src AS VARCHAR)
                                   || '|' || CAST(dst AS VARCHAR)),
                                  1, 15))::BIGINT % {q} = 0
        ),
        sym AS MATERIALIZED (
            SELECT src, dst FROM kept
            UNION ALL
            SELECT dst AS src, src AS dst FROM kept
        ),
        sdeg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        o AS MATERIALIZED (
            SELECT CASE WHEN lf THEN u ELSE v END AS a,
                   CASE WHEN lf THEN v ELSE u END AS b,
                   CASE WHEN lf THEN deg_v ELSE deg_u END AS deg_b
            FROM (
                SELECT e.src AS u, e.dst AS v, du.deg AS deg_u,
                       dv.deg AS deg_v,
                       (du.deg < dv.deg
                        OR (du.deg = dv.deg AND e.src < e.dst)) AS lf
                FROM sym e
                JOIN sdeg du ON e.src = du.src
                JOIN sdeg dv ON e.dst = dv.src
                WHERE e.src < e.dst
            )
        ),
        tri AS (
            SELECT o1.a, o1.b, o2.c
            FROM o o1
            JOIN (SELECT a, b AS c, deg_b AS deg_c FROM o) o2
              ON o1.a = o2.a
            JOIN (SELECT a AS b, b AS c FROM o) o3
              ON o1.b = o3.b AND o2.c = o3.c
            WHERE o1.deg_b < o2.deg_c
               OR (o1.deg_b = o2.deg_c AND o1.b < o2.c)
        ),
        counts AS (
            SELECT CAST(count(*) AS BIGINT) AS n_sampled_triangles
            FROM tri
        ),
        pairs AS (
            SELECT CAST(count(*) AS BIGINT) AS n_sampled_pairs FROM kept
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(deg) // 2 AS BIGINT) AS n_und_edges,
                   SUM(CAST(deg AS HUGEINT) * (deg - 1)) AS wedges2
            FROM degf
        )
        SELECT n_nodes, n_und_edges, n_sampled_pairs,
               CAST({q} AS INT) AS sample_q,
               n_sampled_triangles,
               CAST(n_sampled_triangles * {q**3} AS BIGINT)
                   AS est_triangles,
               CAST(wedges2 // 2 AS BIGINT) AS n_wedges,
               round(6.0 * (n_sampled_triangles * {q**3})
                     / CAST(wedges2 AS DOUBLE), 6) AS est_transitivity
        FROM counts CROSS JOIN pairs CROSS JOIN tot
    """


EXT_ORACLES["graph_transitivity_sampled"] = _transitivity_sampled_oracle_sql()


def _hybrid_rrf_oracle_sql() -> str:
    """Mirror of similarity.similarity_hybrid_rrf: the similarity_topk
    cosine CTE cut at RRF_DENSE_POOL, the text_bm25_search CTE cut at
    its global top RRF_SPARSE_POOL, the identical exact-integer RRF
    terms (10^12 // (K + rank)), and the fused rank on (rrf_fp DESC,
    doc_id ASC)."""
    from dbt_eamples_spark.operators.similarity import (
        RRF_DENSE_POOL,
        RRF_K,
        RRF_SPARSE_POOL,
        RRF_TOP,
    )

    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
              WHERE vec_id < {N_QUERIES}),
        dscored AS (
            SELECT query_id, v.vec_id AS neighbor_id,
                   round({_cos('qvec', 'v.vec')}, 6) AS cosine
            FROM v JOIN q ON v.vec_id != q.query_id
        ),
        dense AS (
            SELECT query_id, doc_id, rank, 'dense' AS src FROM (
                SELECT query_id, neighbor_id AS doc_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC)
                            AS INT) AS rank
                FROM dscored
            ) WHERE rank <= {RRF_DENSE_POOL}
        ),
        tokd AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
          FROM documents
        ), lens AS (
          SELECT doc_id, len(toks) AS dl FROM tokd
        ), stats AS (
          SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM lens
        ), tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS tok FROM tokd)
          WHERE tok IN ('query', 'join', 'vector')
          GROUP BY doc_id, tok
        ), dft AS (
          SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        ), bscored AS (
          SELECT tf.doc_id,
                 CAST(ROUND(
                   ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl
                        / (CAST(sum_dl AS DOUBLE) / n_docs)))
                   * 1e9) AS BIGINT) AS w_fp
          FROM tf
          JOIN dft USING (tok)
          JOIN lens ON lens.doc_id = tf.doc_id
          CROSS JOIN stats
        ),
        bm25 AS (
          SELECT doc_id,
                 ROUND(CAST(SUM(w_fp) AS DOUBLE) / 1e9, 6) AS bm25
          FROM bscored GROUP BY doc_id
        ),
        sparse_ranked AS (
          SELECT doc_id, CAST(ROW_NUMBER() OVER (
                     ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
          FROM bm25
          QUALIFY rank <= {RRF_SPARSE_POOL}
        ),
        sparse AS (
          SELECT q.query_id, s.doc_id, s.rank, 'bm25' AS src
          FROM q CROSS JOIN sparse_ranked s
        ),
        fused AS (
          SELECT query_id, doc_id,
                 SUM({10**12} // ({RRF_K} + rank)) AS rrf_fp,
                 CAST(MAX(CASE WHEN src = 'dense' THEN rank END)
                      AS INT) AS rank_dense,
                 CAST(MAX(CASE WHEN src = 'bm25' THEN rank END)
                      AS INT) AS rank_bm25
          FROM (SELECT * FROM dense UNION ALL SELECT * FROM sparse)
          GROUP BY query_id, doc_id
        )
        SELECT query_id, fused_rank, doc_id, rank_dense, rank_bm25,
               CAST(rrf_fp AS BIGINT) AS rrf_fp,
               round(CAST(rrf_fp AS DOUBLE) / 1e12, 6) AS rrf
        FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY rrf_fp DESC, doc_id ASC)
                           AS INT) AS fused_rank
            FROM fused
        ) WHERE fused_rank <= {RRF_TOP}
    """


EXT_ORACLES["similarity_hybrid_rrf"] = _hybrid_rrf_oracle_sql()


def _phash_bands_cte() -> str:
    """The generative dHash band CTEs (ids → px → blocks → bits →
    bands → wide) shared by the full, clusters, and incremental
    phash oracles — the closed-form recompute that value-gates the
    Spark side's real codec round trip."""
    from dbt_eamples_spark.operators.multimodal import PHASH_GROUP

    return f"""ids AS (
            SELECT doc_id, doc_id // {PHASH_GROUP} AS g,
                   doc_id % {PHASH_GROUP} AS m
            FROM documents
        ),
        px AS (
            SELECT doc_id, bi // 9 AS r, bi % 9 AS c,
                   ((g + 1) * (i * i + 3 * i + 7)
                    + (g * 13 % 193) * (2 * i + 1)
                    + (g * 7 % 197) * (i * i * i)) % 199 + m
                   + CASE WHEN m = {PHASH_GROUP - 1}
                               AND i = (g * 13) % 288
                          THEN 50 ELSE 0 END AS val
            FROM (
                SELECT ids.doc_id, ids.g, ids.m, bi.x AS bi,
                       ((bi.x // 9) * 2 + dr.x) * 18
                       + ((bi.x % 9) * 2 + dc.x) AS i
                FROM ids, range(72) bi(x), range(2) dr(x), range(2) dc(x)
            )
        ),
        blocks AS (
            SELECT doc_id, r, c, SUM(val) AS s
            FROM px GROUP BY doc_id, r, c
        ),
        bits AS (
            SELECT doc_id, r, c,
                   s > LEAD(s) OVER (PARTITION BY doc_id, r
                                     ORDER BY c) AS bit
            FROM blocks
            QUALIFY c < 8
        ),
        bands AS (
            SELECT doc_id, (r * 8 + c) // 16 AS band_idx,
                   CAST(SUM(CASE WHEN bit
                            THEN 1 << ((r * 8 + c) % 16)
                            ELSE 0 END) AS BIGINT) AS bv
            FROM bits GROUP BY doc_id, (r * 8 + c) // 16
        ),
        wide AS (
            SELECT doc_id,
                   MAX(CASE WHEN band_idx = 0 THEN bv END) AS b0,
                   MAX(CASE WHEN band_idx = 1 THEN bv END) AS b1,
                   MAX(CASE WHEN band_idx = 2 THEN bv END) AS b2,
                   MAX(CASE WHEN band_idx = 3 THEN bv END) AS b3
            FROM bands GROUP BY doc_id
        )"""


def _dedup_phash_oracle_sql() -> str:
    """Mirror of multimodal.dedup_phash — but GENERATIVE: the dHash
    bands are recomputed from the closed-form pixel formula (the
    oracle never runs a codec), so the Spark side's PNG encode →
    strict decode round trip is value-gated bit-for-bit, exactly the
    multimodal_codec_stats contract. Banding, the bucket cap, the
    a<b pair expansion, and the Hamming verify mirror the engine."""
    from dbt_eamples_spark.operators.multimodal import (
        PHASH_BUCKET_CAP,
        PHASH_MAX_HAMMING,
    )

    return f"""
        WITH {_phash_bands_cte()},
        ok AS (
            SELECT band_idx, bv FROM bands
            GROUP BY band_idx, bv
            HAVING count(*) BETWEEN 2 AND {PHASH_BUCKET_CAP}
        ),
        cands AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS INT) AS n_bands_shared
            FROM bands a
            JOIN bands b USING (band_idx, bv)
            JOIN ok USING (band_idx, bv)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_bands_shared,
               CAST(bit_count(xor(wa.b0, wb.b0))
                    + bit_count(xor(wa.b1, wb.b1))
                    + bit_count(xor(wa.b2, wb.b2))
                    + bit_count(xor(wa.b3, wb.b3)) AS INT) AS hamming
        FROM cands
        JOIN wide wa ON wa.doc_id = doc_a
        JOIN wide wb ON wb.doc_id = doc_b
        WHERE bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
              + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
              <= {PHASH_MAX_HAMMING}
    """


EXT_ORACLES["dedup_phash"] = _dedup_phash_oracle_sql()


def _dedup_incremental_phash_oracle_sql() -> str:
    """Mirror of multimodal.dedup_incremental_phash: the same
    generative band CTEs, split new batch (doc_id % INCR_MOD = 0)
    vs corpus, asymmetric (band_idx, bv) equi-join for candidates,
    exact Hamming verify — no bucket machinery (the probe is
    collision-bounded by construction)."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD
    from dbt_eamples_spark.operators.multimodal import PHASH_MAX_HAMMING

    return f"""
        WITH {_phash_bands_cte()},
        newb AS (
            SELECT * FROM bands WHERE doc_id % {INCR_MOD} = 0
        ),
        corp AS (
            SELECT * FROM bands WHERE doc_id % {INCR_MOD} != 0
        ),
        cands AS (
            SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc,
                   CAST(count(*) AS INT) AS n_bands_shared
            FROM newb n JOIN corp c USING (band_idx, bv)
            GROUP BY 1, 2
        )
        SELECT new_doc, corpus_doc, n_bands_shared,
               CAST(bit_count(xor(wa.b0, wb.b0))
                    + bit_count(xor(wa.b1, wb.b1))
                    + bit_count(xor(wa.b2, wb.b2))
                    + bit_count(xor(wa.b3, wb.b3)) AS INT) AS hamming
        FROM cands
        JOIN wide wa ON wa.doc_id = new_doc
        JOIN wide wb ON wb.doc_id = corpus_doc
        WHERE bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
              + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
              <= {PHASH_MAX_HAMMING}
    """


EXT_ORACLES["dedup_incremental_phash"] = (
    _dedup_incremental_phash_oracle_sql()
)


def _pca_invariants_oracle_sql() -> str:
    """Mirror of similarity.embedding_pca_invariants: the identical
    per-dim variance fold (dim_stats quantization + double tree) to
    trace_fp, literal TRUE for the three eigensolve invariants the
    Spark side computes driver-side — a broken eigensolve flips a
    boolean and fails the value hash."""
    from dbt_eamples_spark.operators.similarity import (
        DIM_Q_SCALE,
        PCA_TOP_K,
    )

    s2 = f"(CAST({DIM_Q_SCALE} AS DOUBLE) * CAST({DIM_Q_SCALE} AS DOUBLE))"
    return f"""
        WITH qz AS (
            SELECT vec_id,
                   CAST(u.pos AS INTEGER) - 1 AS dim,
                   CAST(round(CAST(u.x AS DOUBLE) * {DIM_Q_SCALE})
                        AS BIGINT) AS q
            FROM (
                SELECT vec_id,
                       unnest(range(1, len(embedding) + 1)) AS pos,
                       unnest(embedding) AS x
                FROM embeddings
            ) u
        ),
        agg AS (
            SELECT dim,
                   CAST(count(*) AS BIGINT) AS n,
                   SUM(CAST(q AS HUGEINT)) AS sq,
                   SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS sqq
            FROM qz GROUP BY dim
        ),
        folds AS (
            SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
                   CAST(count(*) AS INT) AS n_dims,
                   CAST(SUM(CAST(round(
                       (CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                       / {s2} * 1e9) AS BIGINT)) AS BIGINT) AS trace_fp
            FROM agg
        )
        SELECT n_vectors, n_dims,
               CAST({PCA_TOP_K} AS INT) AS n_components,
               trace_fp,
               TRUE AS eig_sum_matches_trace,
               TRUE AS eig_descending,
               TRUE AS eig_nonneg
        FROM folds
    """


EXT_ORACLES["embedding_pca_invariants"] = _pca_invariants_oracle_sql()


def _dedup_phash_clusters_oracle_sql() -> str:
    """Mirror of multimodal.dedup_phash_clusters: the UNCHANGED
    generative phash-pair statement nested as the edge source of the
    dedup_clusters recursive-CTE component walk."""
    phash = _dedup_phash_oracle_sql()
    return f"""
        WITH RECURSIVE pairs AS ({phash}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        walk(node, comp) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst AS node, w.comp AS comp
            FROM walk w JOIN edges e ON e.src = w.node
        ),
        comp AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)
        SELECT node AS doc_id,
               comp AS cluster_id,
               COUNT(*) OVER (PARTITION BY comp) AS cluster_size,
               node = comp AS keep
        FROM comp
    """


EXT_ORACLES["dedup_phash_clusters"] = _dedup_phash_clusters_oracle_sql()


def _recall_oracle_sql(
    approx_key: str | None = None, approx_sql: str | None = None
) -> str:
    """Mirror of similarity._recall_eval_frame for any shortlist:
    the two UNCHANGED shortlist oracles (the approx ranker under
    eval and brute-force cosine) nested as CTEs, intersected per
    query, left-anchored on the query spine so a zero-overlap query
    reports 0. ``approx_sql`` lets a shortlist that is not itself a
    registry query (round 12: the incremental-IVF search) plug in
    directly without leaking a private key into oracle_sql()."""
    approx = approx_sql if approx_sql is not None else EXT_ORACLES[approx_key]
    brute = EXT_ORACLES["similarity_topk"]
    return f"""
        WITH approx AS ({approx}),
        brute AS ({brute}),
        hits AS (
            SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_overlap
            FROM brute b JOIN approx i
              ON b.query_id = i.query_id
             AND b.neighbor_id = i.neighbor_id
            GROUP BY b.query_id
        ),
        qids AS (SELECT DISTINCT query_id FROM brute)
        SELECT q.query_id, CAST({TOP_K} AS INT) AS k,
               CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               round(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                     / {TOP_K}, 6) AS recall
        FROM qids q LEFT JOIN hits h USING (query_id)
        ORDER BY query_id
    """


EXT_ORACLES["similarity_ivf_recall_eval"] = _recall_oracle_sql(
    "similarity_ivf_topk"
)
EXT_ORACLES["similarity_lsh_recall_eval"] = _recall_oracle_sql(
    "similarity_lsh_topk"
)
EXT_ORACLES["similarity_ivfpq_recall_eval"] = _recall_oracle_sql(
    "similarity_ivf_pq_residual_topk"
)
EXT_ORACLES["similarity_rerank_recall_eval"] = _recall_oracle_sql(
    "similarity_pq_rerank_topk"
)

# similarity_topk_audit (round 13, VERDICT r12 #4): SQL-exact
# aggregates of the brute-force shortlist plus the expected TRUE
# match bit for the Arrow-vs-JVM comparison the engine performs
# internally — an Arrow drift flips the engine's bit and fails the
# value hash against this recipe.
EXT_ORACLES["similarity_topk_audit"] = f"""
    WITH topk AS ({EXT_ORACLES['similarity_topk']})
    SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(neighbor_id) AS BIGINT) AS neighbor_checksum,
           CAST(SUM(CAST(ROUND(cosine * 1000000.0) AS BIGINT))
                AS BIGINT) AS cosine_checksum_fp,
           TRUE AS pandas_matches_jvm
    FROM topk
"""

# dedup_incremental_ngram: the full blk-blocked pair statement
# restricted to (new x corpus) pairs under the %INCR_MOD convention,
# reoriented to the incremental (new_doc, corpus_doc) schema — the
# ngram family's probe-the-persisted-index query (round 10)
# per-source rollup of the keep-list verdicts (round 10)
EXT_ORACLES["corpus_dedup_rate_by_source"] = f"""
    WITH v AS ({EXT_ORACLES['corpus_keep_list']}),
    j AS (
        SELECT d.source, v.reason, v.keep
        FROM v JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN reason = 'exact_dup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup,
           CAST(SUM(CASE WHEN reason = 'near_dup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dup,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           round((COUNT(*) - SUM(CASE WHEN keep THEN 1 ELSE 0 END))::DOUBLE
                 / COUNT(*), 6) AS dup_rate
    FROM j GROUP BY source ORDER BY source
"""

EXT_ORACLES["dedup_incremental_ngram"] = (
    "SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_doc,\n"
    "       CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_doc,\n"
    "       jaccard FROM (\n"
    + EXT_ORACLES["dedup_ngram_jaccard"]
    + "\n) WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)"
)


# ---- round 12: recall gate for the incrementally-maintained IVF ----
# Mirror of similarity._ivf_delta_topk: the quantizer trains on the
# STANDING corpus only (vb = vec_id % 10 != 0 — the artifact
# contract of similarity.ivf_centroids), then EVERY vector (standing
# + the %10 == 0 delta class) is assigned to those frozen cells —
# exactly what ivf_assign_apply_delta's append path materializes.
# The persisted base assignments and the live frozen-cell delta
# assignment are the same per-row function of the same centroids,
# so assigning the full table in one pass is row-identical.
def _ivf_delta_topk_oracle_sql() -> str:
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
        ),
        vb AS (SELECT vec_id, vec FROM v WHERE vec_id % 10 != 0),
        {_kmeans_cte_sql(KMEANS_ITERS, src="vb")},
        assigned AS (
            SELECT vec_id, vec, bucket FROM (
                SELECT v.vec_id, v.vec, cent_id AS bucket,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {_cos('v.vec', 'cvec')} DESC, cent_id ASC) AS crk
                FROM v CROSS JOIN cent
            ) WHERE crk = 1
        ),
        q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
              WHERE vec_id < {N_QUERIES}),
        probes AS (
            SELECT query_id, qvec, bucket FROM (
                SELECT query_id, qvec, cent_id AS bucket,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY {_cos('qvec', 'cvec')} DESC, cent_id ASC) AS prk
                FROM q CROSS JOIN cent
            ) WHERE prk <= {NPROBE}
        ),
        scored AS (
            SELECT query_id, a.vec_id AS neighbor_id,
                   round({_cos('qvec', 'a.vec')}, 6) AS cosine
            FROM assigned a JOIN probes p ON a.bucket = p.bucket
            WHERE a.vec_id != p.query_id
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """


EXT_ORACLES["similarity_ivf_delta_recall_eval"] = _recall_oracle_sql(
    approx_sql=_ivf_delta_topk_oracle_sql()
)
