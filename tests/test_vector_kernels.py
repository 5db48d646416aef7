"""Differential tests of the SQL-text kernels (``operators/vecsql.py``):
each kernel is evaluated next to a reference built with the
higher-order-function builders it replaces (``F.transform`` /
``F.aggregate`` / ``F.zip_with`` with Python lambdas, or the Column
arithmetic of the moment folds), on the same rows, and the two must
agree bit for bit —
compared through ``float.hex``, so ``-0.0`` differs from ``0.0`` and
no tolerance hides a changed fold order.

The engine runs with ANSI arithmetic, where a bare division by a zero
norm raises; the value comparisons run with it off, so the zero-vector
rows compare their NULL cosines, and
:func:`test_zero_vector_scores_null_under_ansi` covers the engine's
own setting."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dbt_eamples_spark.operators import vecsql as V

# ---- references: the lambda builders the kernels replaced ------------------


def ref_as_double(c):
    return F.transform(c, lambda x: x.cast("double"))


def ref_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def ref_norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def ref_cosine(a, b):
    return ref_dot(a, b) / (ref_norm(a) * ref_norm(b))


def ref_cosine_guarded(a, b):
    return F.try_divide(ref_dot(a, b), ref_norm(a) * ref_norm(b))


def ref_l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ref_darray(vals):
    return F.array(*[F.lit(v) for v in vals])


# ---- the comparison --------------------------------------------------------


def _hex(v):
    if isinstance(v, float):
        return float.hex(v)
    if isinstance(v, (list, tuple)):
        return [_hex(x) for x in v]
    if hasattr(v, "asDict"):
        return {k: _hex(x) for k, x in v.asDict().items()}
    return v


def assert_kernel_equals_reference_collect(df, kernel, reference):
    """Collect ``kernel`` and ``reference`` over the same rows of
    ``df`` and require bit-identical values on every row."""
    rows = df.select(
        "id", kernel.alias("kernel"), reference.alias("reference")
    ).collect()
    assert rows
    for r in rows:
        assert _hex(r["kernel"]) == _hex(r["reference"]), r["id"]


# pairs (a, b) over every edge the folds have to agree on
PAIRS = [
    ([1.0, 2.0, 3.0], [4.0, -5.0, 6.0]),
    ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # one zero vector: NULL cosine
    ([0.0, 0.0], [0.0, 0.0]),  # two zero vectors
    ([-0.0, 1.0], [0.0, -1.0]),  # signed zeros
    ([-0.0, -0.0], [-0.0, 0.0]),
    ([1e300, 1e300], [1e300, -1e300]),  # products overflow to inf
    ([1e-300, 2e-300], [3e-300, 1e-300]),  # products underflow to 0
    ([1e300, 1e-300, 1.0], [1e-300, 1e300, 1.0]),
    ([1.0, None, 2.0], [1.0, 1.0, 1.0]),  # NULL element
    ([1.0, 2.0], [1.0, 2.0, 3.0]),  # unequal lengths
    (None, [1.0, 2.0]),  # NULL array
    ([], []),
    ([0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),
]


@pytest.fixture()
def non_ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    yield
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.fixture(scope="module")
def pairs(spark):
    rng = random.Random(7)
    rows = [(i, a, b) for i, (a, b) in enumerate(PAIRS)]
    for i in range(len(rows), len(rows) + 6):
        rows.append(
            (
                i,
                [rng.uniform(-1, 1) for _ in range(64)],
                [rng.uniform(-1, 1) for _ in range(64)],
            )
        )
    return spark.createDataFrame(rows, "id int, a array<double>, b array<double>")


@pytest.fixture(scope="module")
def vecs64(spark):
    """64-dim vectors for the literal-operand kernels, with a zero
    and a signed-zero vector among them."""
    rng = random.Random(11)
    rows = [(0, [0.0] * 64), (1, [-0.0] * 64), (2, [1e300] + [0.0] * 63)]
    for i in range(3, 40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
    return spark.createDataFrame(rows, "id int, v array<double>")


def _lits(seed: int, n: int = 64) -> tuple:
    rng = random.Random(seed)
    return tuple(rng.uniform(-1, 1) for _ in range(n))


@pytest.mark.usefixtures("non_ansi")
class TestPairKernels:
    def test_dot(self, pairs):
        assert_kernel_equals_reference_collect(
            pairs, V.dot("a", "b"), ref_dot("a", "b")
        )

    def test_norm(self, pairs):
        assert_kernel_equals_reference_collect(pairs, V.norm("a"), ref_norm("a"))

    def test_cosine(self, pairs):
        assert_kernel_equals_reference_collect(
            pairs, V.cosine("a", "b"), ref_cosine("a", "b")
        )

    def test_cosine_of_slices(self, pairs):
        assert_kernel_equals_reference_collect(
            pairs,
            V.cosine("slice(a, 1, 2)", "slice(b, 1, 2)"),
            ref_cosine(F.slice("a", 1, 2), F.slice("b", 1, 2)),
        )

    def test_l2sq(self, pairs):
        assert_kernel_equals_reference_collect(
            pairs, V.l2sq("a", "b"), ref_l2sq("a", "b")
        )

    def test_sub(self, pairs):
        assert_kernel_equals_reference_collect(
            pairs,
            V.sub("a", "b"),
            F.zip_with("a", "b", lambda x, y: x - y),
        )


def test_zero_vector_scores_null_under_ansi(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0], [1.0, 2.0]),
            (1, [1.0, 2.0], [-0.0, -0.0]),
            (2, [0.0, 0.0], [0.0, 0.0]),
            (3, [1.0, 2.0], [3.0, 4.0]),
        ],
        "id int, a array<double>, b array<double>",
    )
    assert_kernel_equals_reference_collect(
        df, V.cosine("a", "b"), ref_cosine_guarded("a", "b")
    )
    got = {r.id: r.c for r in df.select("id", V.cosine("a", "b").alias("c")).collect()}
    assert got[0] is got[1] is got[2] is None
    assert got[3] == pytest.approx(11 / 5 / 5**0.5)


def test_as_double(spark):
    df = spark.createDataFrame(
        [
            (0, [1.5, -0.0, 3.4028235e38, 1e-45, None]),
            (1, []),
            (2, None),
        ],
        "id int, f array<float>",
    )
    assert_kernel_equals_reference_collect(
        df, V.as_double("f"), ref_as_double("f")
    )


def test_darray_literals(spark):
    vals = (0.1, -0.0, 0.0, 1e300, -1e-300, 5e-324, 1.0 / 3.0, -2.5)
    assert_kernel_equals_reference_collect(
        spark.range(1),
        V.expr(V.darray_sql(vals)),
        ref_darray(vals),
    )


def test_dot_against_literal(vecs64, non_ansi):
    w = _lits(3)
    assert_kernel_equals_reference_collect(
        vecs64, V.dot("v", V.darray_sql(w)), ref_dot("v", ref_darray(w))
    )


def test_plane_sign_bits(vecs64, non_ansi):
    planes = [_lits(100 + p) for p in range(6)]
    ref = F.lit(0)
    for p, w in enumerate(planes):
        ref = ref + F.when(
            ref_dot(F.col("v"), ref_darray(w)) >= 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    assert_kernel_equals_reference_collect(
        vecs64, V.plane_sign_bits("v", planes), ref
    )


@pytest.mark.parametrize("n, with_cvec", [(1, False), (3, False), (3, True), (5, False)])
def test_nearest_cells(vecs64, non_ansi, n, with_cvec):
    """The driver-folded centroid norm gives the same order as the
    in-row fold of the reference."""
    cents = [(cid, _lits(200 + cid)) for cid in (0, 2, 3, 7, 9)]
    structs = []
    for cid, cv in cents:
        fields = [
            (-ref_cosine(F.col("v"), ref_darray(cv))).alias("nc"),
            F.lit(cid).cast("bigint").alias("cent_id"),
        ]
        if with_cvec:
            fields.append(ref_darray(cv).alias("cv"))
        structs.append(F.struct(*fields))
    ranked = F.array_sort(F.array(*structs))
    if n < len(cents):
        ranked = F.slice(ranked, 1, n)
    if with_cvec:
        ref = F.transform(
            ranked,
            lambda s: F.struct(s["cent_id"].alias("cent_id"), s["cv"].alias("cv")),
        )
    else:
        ref = F.transform(ranked, lambda s: s["cent_id"])
    assert_kernel_equals_reference_collect(
        vecs64, V.nearest_cells("v", cents, n, with_cvec), ref
    )


def test_ordered_values(spark):
    rows = [
        (g, pos, m)
        for g in range(3)
        for pos, m in enumerate([0.5, -0.0, 1e300, 2.0 / 3.0][::-1] if g else [1.0, 2.0])
    ]
    df = spark.createDataFrame(rows, "g int, pos int, m double").repartition(3)
    got = {
        r["g"]: _hex(r["v"])
        for r in df.groupBy("g").agg(V.ordered_values("pos", "m").alias("v")).collect()
    }
    want = {
        r["g"]: _hex(r["v"])
        for r in df.groupBy("g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("v")
        )
        .collect()
    }
    assert got == want


def test_each_text_parses_once():
    assert V.cosine("qvec", "vec") is V.cosine("qvec", "vec")
    assert V.as_double("embedding") is V.as_double("embedding")


def test_nearest_cells_ranks_zero_norm_last_under_ansi(vecs64):
    """A zero-norm operand has no cosine and does not raise under the
    engine's ANSI arithmetic: a zero centroid ranks after every real
    one, and a zero vector (rows 0 and 1) falls to the smallest
    cent_id — the twins' ``ORDER BY cos DESC, cent_id ASC`` with
    DuckDB's NULLs last."""
    cents = [(0, (0.0,) * 64), (3, _lits(300)), (5, _lits(301))]
    got = {
        r.id: r.c
        for r in vecs64.select("id", V.nearest_cells("v", cents, 3).alias("c")).collect()
    }
    assert got[0] == got[1] == [0, 3, 5]
    for i in range(3, 40):
        assert got[i][-1] == 0, i


def test_zero_norm_embedding_scores_null_in_queries(spark, tmp_path):
    """A zero-norm embedding neither fails the ANSI engine nor ranks
    above a real neighbor: its cosines are NULL in the brute-force
    top-k and the verify drops its pairs, and the IVF top-k (whose
    k-means keeps a zero centroid here) matches its DuckDB twin row
    for row. Vector 0 is a zero query and vector 11 a zero corpus
    vector outside the query set."""
    import duckdb

    import __spark_entry__ as entrymod
    from dbt_eamples_spark.operators import dedup, similarity

    rng = random.Random(3)
    rows = [
        (i, [0.0] * 8 if i in (0, 11) else [rng.uniform(-1, 1) for _ in range(8)], 0)
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    top = similarity.similarity_topk(spark, str(tmp_path)).collect()
    assert {r.query_id for r in top} == set(range(10))
    assert all((r.cosine is None) == (r.query_id == 0) for r in top)

    v = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 2.0]), (2, [1.0, 2.0])],
        "vec_id bigint, vec array<double>",
    )
    cands = spark.createDataFrame([(0, 1), (1, 2)], "vec_a bigint, vec_b bigint")
    got = [(r.vec_a, r.vec_b) for r in dedup._cosine_verify(v, cands).collect()]
    assert got == [(1, 2)]

    ivf = sorted(tuple(r) for r in similarity.similarity_ivf_topk(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}/*.parquet')"
    )
    twin = con.execute(
        "SELECT query_id, neighbor_id, cosine, rk FROM ("
        f"{entrymod.oracle_sql()['similarity_ivf_topk']})"
    ).fetchall()
    assert ivf == sorted(twin)
    assert {r[0] for r in ivf} == set(range(10))


def test_local_top_ranks_null_cosine_last(spark):
    """The partition-local cut of the two-phase top-k ranks a NULL
    cosine after every real one, even when its neighbor_id is the
    smallest, so it cannot displace a real neighbor."""
    from dbt_eamples_spark.operators import similarity

    rows = [(1, None, 0)] + [(1, 1.0 - i / 10, i) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "query_id int, cosine double, neighbor_id bigint")
    (top,) = df.groupBy("query_id").agg(similarity._local_top(5)).collect()
    assert [t.neighbor_id for t in top.top] == [1, 2, 3, 4, 5]


# ---- array kernels: basket self-pairs, n-gram windows ----------------------


def ref_self_pairs(df, arr, a, b, op):
    cmp = {"<": lambda s: s[a] < s[b], "!=": lambda s: s[a] != s[b]}[op]
    pair = F.explode(
        F.filter(
            F.flatten(
                F.transform(
                    arr,
                    lambda x: F.transform(
                        arr, lambda y: F.struct(x.alias(a), y.alias(b))
                    ),
                )
            ),
            cmp,
        )
    )
    return df.select(pair.alias("p")).select(f"p.{a}", f"p.{b}")


BASKETS = [[], [7], [1, 2, 3, 5, 8], [4, 9], None]


@pytest.mark.parametrize("op", ["<", "!="])
@pytest.mark.parametrize("basket", BASKETS, ids=["empty", "one", "sorted", "two", "null"])
def test_self_pairs(spark, basket, op):
    """Each basket is its own frame, so the kernel's rows line up
    with the reference's in explode order."""
    df = spark.createDataFrame([(basket,)], "parts array<bigint>")
    got = [tuple(r) for r in V.self_pairs(df, "parts", "src", "dst", op).collect()]
    want = [tuple(r) for r in ref_self_pairs(df, "parts", "src", "dst", op).collect()]
    assert got == want
    n = len(basket or [])
    assert len(got) == (n * (n - 1) // 2 if op == "<" else n * (n - 1))


@pytest.fixture(scope="module")
def token_rows(spark):
    toks = [[], [""], ["a"], ["a", "b"], ["a", "b", "c"], ["a", "b", "a", "b", "c", "d"], None]
    return spark.createDataFrame(list(enumerate(toks)), "id int, toks array<string>")


def ref_ngrams_pad(n):
    ids = F.sequence(F.lit(1), F.greatest(F.size("toks") - (n - 1), F.lit(1)))
    return F.transform(ids, lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)))


def ref_ngrams_none(n, fn=lambda g: g):
    t = F.col("toks")
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: fn(F.concat_ws(" ", F.slice(t, i, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))


@pytest.mark.parametrize("n", [2, 3, 5])
def test_ngrams_pad(token_rows, n):
    """Documents shorter than n give their whole span as one gram."""
    assert_kernel_equals_reference_collect(
        token_rows, V.expr(V.ngrams_sql("toks", n, "pad")), ref_ngrams_pad(n)
    )


@pytest.mark.parametrize("n", [2, 3, 5])
def test_ngrams_none(token_rows, n):
    """Documents shorter than n give no gram."""
    assert_kernel_equals_reference_collect(
        token_rows, V.expr(V.ngrams_sql("toks", n, "none")), ref_ngrams_none(n)
    )


def test_ngrams_md5(token_rows):
    assert_kernel_equals_reference_collect(
        token_rows,
        V.expr(V.ngrams_sql("toks", 3, "none", "md5")),
        ref_ngrams_none(3, F.md5),
    )


def test_ngrams_over_expression(spark):
    """The token operand may be an expression, as in text_ngram_topk."""
    df = spark.createDataFrame(
        [(0, "A b  c"), (1, "one"), (2, ""), (3, "x Y x y x")], "id int, text string"
    )
    t = F.split(F.lower(F.col("text")), r"\s+")
    ref = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    assert_kernel_equals_reference_collect(
        df, V.expr(V.ngrams_sql(r"split(lower(text), '\\s+')", 2, "none")), ref
    )


def test_windows_char_grams_and_minima(spark):
    """The winnowing fingerprint's two windows: char-k-gram hashes over
    a string, then window minima over the hash array."""
    k, w = 4, 3
    df = spark.createDataFrame(
        [(0, "abc"), (1, "abcd"), (2, "the quick brown fox"), (3, "")], "id int, norm string"
    )
    ref_g = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(F.col("norm"), i, k)), 1, 15), 16, 10
        ).cast("long"),
    )
    body = f"CAST(conv(substring(md5(substring(norm, i, {k})), 1, 15), 16, 10) AS BIGINT)"
    got_g = V.expr(V.windows_sql("length(norm)", k, "pad", body))
    assert_kernel_equals_reference_collect(df, got_g, ref_g)
    g = df.select("id", ref_g.alias("g"))
    ref_m = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("g") - (w - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(F.col("g"), i, w)),
    )
    got_m = V.expr(V.windows_sql("size(g)", w, "pad", f"array_min(slice(g, i, {w}))"))
    assert_kernel_equals_reference_collect(g, got_m, ref_m)


# ---- moment kernels: Pearson r, fixed-point log-log slope ------------------


def test_pearson(spark):
    """Groups: correlated, anti-correlated, zero variance in x, zero
    variance in y, and a single row — the last three have no r."""
    rows = (
        [("pos", x, 3 * x + (x % 3)) for x in range(1, 40)]
        + [("neg", x, 10**7 - x * x) for x in range(1, 30)]
        + [("flat_x", 5, y) for y in range(10)]
        + [("flat_y", x, 9) for x in range(10)]
        + [("one", 2, 3)]
    )
    df = spark.createDataFrame(rows, "g string, x bigint, y bigint")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    mom = df.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(x * x)).alias("sxx"),
        F.sum(dec(y * y)).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    denom = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    ref = F.when(denom > 0, (n * sxy - sx * sy) / denom)
    kernel = V.expr(V.pearson_sql("n", "sx", "sy", "sxy", "sxx", "syy"))
    mom = mom.withColumnRenamed("g", "id")
    assert_kernel_equals_reference_collect(mom, kernel, ref)
    got = {r.id: r.r for r in mom.select("id", kernel.alias("r")).collect()}
    assert got["flat_x"] is got["flat_y"] is got["one"] is None
    assert got["pos"] > 0.99 and got["neg"] < -0.9


def ref_loglog_fit(df, x, y):
    x6 = F.round(F.round(F.log(F.col(x)), 6) * 1e6).cast("decimal(38,0)")
    y6 = F.round(F.round(F.log(F.col(y)), 6) * 1e6).cast("decimal(38,0)")
    folds = df.select(x6.alias("x"), y6.alias("y")).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return folds.select("n", "sx", "sy", "sxy", "sxx", (num / den).alias("slope"))


def test_loglog_fit(spark):
    """A Zipf-shaped frame (rank, freq) and a degree distribution
    (k, n_k) with an extra aggregate, each against the Column fold."""
    zipf = spark.createDataFrame(
        [(r, 10_000 // r + r % 7) for r in range(1, 201)], "rank int, freq bigint"
    ).repartition(3)
    degrees = spark.createDataFrame(
        [(k, max(1, 5000 // (k * k))) for k in range(1, 60)], "k bigint, n_k bigint"
    ).repartition(3)
    cols = ["n", "sx", "sy", "sxy", "sxx", "slope"]
    for df, x, y in ((zipf, "rank", "freq"), (degrees, "k", "n_k")):
        got = V.loglog_fit(df, x, y, "min(k) AS lo" if x == "k" else "count(*) AS c")
        (g,) = got.collect()
        (w,) = ref_loglog_fit(df, x, y).collect()
        assert [_hex(g[c]) for c in cols] == [_hex(w[c]) for c in cols]
    assert g["lo"] == 1 and g["slope"] < 0
