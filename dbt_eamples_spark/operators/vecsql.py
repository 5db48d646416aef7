"""Array, window and moment kernels as SQL text, parsed once.

Every kernel here writes its expression as Spark SQL text and turns
it into a Column with ONE ``F.expr`` call, cached per distinct text
(:func:`expr`). The higher-order-function builders this replaces
(``F.transform`` / ``F.aggregate`` / ``F.zip_with`` with Python
lambdas) parse to the same tree but pay py4j round trips for every
lambda and operator: one cosine built that way made 229 calls and
took 100 ms of query construction, the same text 3 calls and 0.4 ms.
("ML Inference Pipeline Execution Using Pure SQL Based on Operator
Fusion", ICDE 2025, builds its numeric kernels as fused SQL text the
same way.) Each idiom the operators repeat is written once here:

- vector math: cast, dot, norm, cosine, squared L2, literal arrays,
  plane sign bits, nearest cells, ordered values;
- array expansion: the in-row self-pairs of a basket array
  (:func:`self_pairs`) and the word n-gram window (:func:`ngrams_sql`
  on :func:`windows_sql`);
- moment closed forms: Pearson r over exact moments
  (:func:`pearson_sql`) and the fixed-point log-log least-squares
  slope (:func:`loglog_fit`).

Operands are SQL text: a column name (``"vec"``, ``"q.qvec"``) or any
array expression (``"slice(vec, 1, 16)"``), never a Column. The
``*_sql`` functions return text for composing bigger expressions; the
plain-named ones return the parsed Column (or, for the frame kernels,
the DataFrame).

Values are bit-identical to the builders: the folds are the same
strict left folds from a ``0.0D`` seed, and a ``D``-suffixed literal
parses to the same IEEE double as ``F.lit`` (``repr`` round-trips).
The DuckDB oracles fold in the same order.
"""

from __future__ import annotations

import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@lru_cache(maxsize=4096)
def expr(sql: str) -> Column:
    """``F.expr(sql)``, parsed once per distinct text. Columns are
    immutable, so a cached one is safe to alias and reuse. The bound
    only matters for texts built per call (a coreset center, a
    retrained quantizer)."""
    return F.expr(sql)


@lru_cache(maxsize=4096)
def darray_sql(vals: tuple) -> str:
    """A literal double array (planes, codebook entries, centroids)."""
    return "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"


def as_double_sql(a: str) -> str:
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


def dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def cosine_sql(a: str, b: str) -> str:
    """A zero-norm operand scores NULL, as DuckDB's ``x / 0.0`` and
    Spark's non-ANSI division do, instead of raising DIVIDE_BY_ZERO
    under the engine's ANSI arithmetic. ``try_divide`` is the same
    Divide node in its null-on-zero mode; a ``NULLIF`` divisor would
    be rewritten into an extra Project that carries both arrays."""
    return f"try_divide({dot_sql(a, b)}, {norm_sql(a)} * {norm_sql(b)})"


def l2sq_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def select(df: DataFrame, *texts: str) -> DataFrame:
    """``df.selectExpr(*texts)`` with each text parsed once: a
    projection written as text (``"vec_id AS query_id"``) costs one
    py4j call per column, where ``F.col(...).alias(...)`` costs ~25."""
    return df.select(*map(expr, texts))


def as_double(a: str) -> Column:
    return expr(as_double_sql(a))


def dot(a: str, b: str) -> Column:
    return expr(dot_sql(a, b))


def norm(a: str) -> Column:
    return expr(norm_sql(a))


def cosine(a: str, b: str) -> Column:
    return expr(cosine_sql(a, b))


def l2sq(a: str, b: str) -> Column:
    return expr(l2sq_sql(a, b))


def sub(a: str, b: str) -> Column:
    """Element-wise ``a - b``."""
    return expr(f"zip_with({a}, {b}, (x, y) -> x - y)")


def plane_sign_bits(vec: str, planes) -> Column:
    """``sum_p (dot(vec, planes[p]) >= 0) << p`` — an LSH bucket id
    from the sign of the vector's dot with each literal plane."""
    bits = " + ".join(
        f"(CASE WHEN {dot_sql(vec, darray_sql(tuple(w)))} >= 0 THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(planes)
    )
    return expr(f"(0 + {bits})")


def nearest_cells(vec: str, cents: tuple, n: int, with_cvec: bool = False) -> Column:
    """The ``n`` nearest of the literal centroids ``cents`` ((cent_id,
    values) pairs) to ``vec`` under the (cosine DESC NULLS LAST,
    cent_id ASC) total order, as ONE narrow literal expression: an
    array of cent_ids, or of (cent_id, cv) structs with ``with_cvec``.
    Nearest-centroid is a per-row function of broadcastable model
    state, so it costs a map, not a corpus×ncells exchange and sort.

    Sorting struct(-cosine, cent_id) ascending is that order exactly,
    since negating a double reverses Spark's total order (±0.0
    included). Each centroid norm is folded here in Python with the
    same left fold as :func:`norm_sql`, so the row expression
    multiplies by a bit-identical literal instead of re-folding it per
    row. A zero-norm operand (an all-zero embedding, or a centroid
    whose members are all zero) has no cosine: the division is a
    ``try_divide``, as in :func:`cosine_sql`, and its NULL key is
    ranked after every real one (``-Infinity`` before negation), so an
    all-zero vector falls to the smallest cent_id. The DuckDB twins'
    ``ORDER BY cos DESC, cent_id ASC`` rank the same way, since DuckDB
    puts NULLs last.

    Consume the result only through a Generate (explode/inline), never
    ``element_at``: an inner-join key built from it otherwise gets an
    ``isnotnull(<whole argmin>)`` filter pushed into the scan, which
    evaluates the expression twice per row.

    Plan size: each centroid adds one literal array and one cosine
    fold, and no bounded switch to another form exists — every
    ncells takes this path. Construction grows with the cell count:
    0.53 / 1.41 / 4.04 s at 8 / 64 / 256 cells (2,000 vectors,
    ``local[4]``), against 0.87 / 1.61 / 4.51 s of execution. The
    guard is open (ROADMAP item 7)."""
    structs = []
    for cid, cv in cents:
        acc = 0.0
        for x in cv:
            acc += x * x
        arr = darray_sql(tuple(cv))
        cos = f"try_divide({dot_sql(vec, arr)}, {norm_sql(vec)} * {math.sqrt(acc)!r}D)"
        nc = f"-coalesce({cos}, CAST('-Infinity' AS DOUBLE))"
        fields = f"'nc', {nc}, 'cent_id', CAST({cid} AS BIGINT)"
        if with_cvec:
            fields += f", 'cv', {arr}"
        structs.append(f"named_struct({fields})")
    ranked = "array_sort(array(" + ", ".join(structs) + "))"
    if n < len(cents):
        ranked = f"slice({ranked}, 1, {n})"
    if with_cvec:
        return expr(
            f"transform({ranked}, s -> named_struct('cent_id', s.cent_id, 'cv', s.cv))"
        )
    return expr(f"transform({ranked}, s -> s.cent_id)")


def ordered_values(pos: str, val: str) -> Column:
    """Aggregate: the ``val`` of each group row, ordered by ``pos`` —
    rebuilds a vector from its exploded (pos, value) rows."""
    return expr(f"transform(array_sort(collect_list(struct({pos}, {val}))), s -> s.{val})")


def self_pairs(df: DataFrame, arr: str, a: str, b: str, op: str) -> DataFrame:
    """(a, b) rows: every ordered pair of elements of each row's
    array ``arr`` for which ``a op b`` holds (``"<"``: each unordered
    pair once from a sorted distinct array; ``"!="``: both
    orientations). The pairs expand inside the row — Σ|arr|² output
    rows from a bounded basket, never a self-join. The lambda
    variables are ``x`` and ``y``, so ``arr`` must not name columns
    called that."""
    pairs = (
        f"explode(filter(flatten(transform({arr}, x -> transform({arr}, "
        f"y -> named_struct('{a}', x, '{b}', y)))), s -> s.{a} {op} s.{b})) AS p"
    )
    return select(select(df, pairs), f"p.{a}", f"p.{b}")


def windows_sql(size: str, n: int, short: str, body: str) -> str:
    """``body`` (SQL text over the window start ``i``) for every width-
    ``n`` window of a sequence of length ``size``, in order. A sequence
    shorter than ``n`` gives one window from position 1 with
    ``short="pad"`` and none (an empty string array) with
    ``short="none"``; without either guard, Spark's sequence(1, stop)
    would descend and fabricate windows."""
    if short == "pad":
        return f"transform(sequence(1, greatest({size} - {n - 1}, 1)), i -> {body})"
    if short == "none":
        return (
            f"CASE WHEN {size} >= {n} THEN transform(sequence(1, {size} - {n - 1}), "
            f"i -> {body}) ELSE CAST(array() AS array<string>) END"
        )
    raise ValueError(f"short must be 'pad' or 'none', not {short!r}")


def ngrams_sql(toks: str, n: int, short: str, fn: str = "") -> str:
    """The space-joined word ``n``-grams of the token array ``toks``,
    each passed through the SQL function ``fn`` if given (``"md5"``);
    ``short`` as in :func:`windows_sql`."""
    gram = f"concat_ws(' ', slice({toks}, i, {n}))"
    return windows_sql(f"size({toks})", n, short, f"{fn}({gram})" if fn else gram)


def pearson_sql(n: str, sx: str, sy: str, sxy: str, sxx: str, syy: str) -> str:
    """Pearson r from exact moments (count and the five sums):
    (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²)), each moment cast
    to double once, NULL when either variance term is zero. The
    DuckDB oracles evaluate the same tree on the same doubles."""
    n, sx, sy, sxy, sxx, syy = (
        f"CAST({c} AS DOUBLE)" for c in (n, sx, sy, sxy, sxx, syy)
    )
    den = f"sqrt(({n} * {sxx} - {sx} * {sx}) * ({n} * {syy} - {sy} * {sy}))"
    return f"CASE WHEN {den} > 0 THEN ({n} * {sxy} - {sx} * {sy}) / {den} END"


def loglog_fit(df: DataFrame, x: str, y: str, *aggs: str) -> DataFrame:
    """One row: the least-squares ``slope`` of ln(y) on ln(x) over the
    rows of ``df``, with the count ``n`` and the sums ``sx``, ``sy``,
    ``sxy``, ``sxx`` of the logs, all DECIMAL(38,0), and the extra
    aggregate texts ``aggs`` over ``df``'s columns. Each ln is
    pre-rounded at 6 decimals (the JVM-vs-libm guard) and scaled to an
    exact 1e6 fixed-point integer, so the five folds are exact and the
    closed form (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) casts exact integers to
    double: engine-exact."""

    def fp6_ln(c: str) -> str:
        return f"CAST(round(round(ln({c}), 6) * 1000000.0D) AS DECIMAL(38,0))"

    fx = select(df, f"{fp6_ln(x)} AS fx", f"{fp6_ln(y)} AS fy", "*")
    folds = fx.agg(
        *map(
            expr,
            (
                "CAST(count(*) AS DECIMAL(38,0)) AS n",
                "sum(fx) AS sx",
                "sum(fy) AS sy",
                "sum(fx * fy) AS sxy",
                "sum(fx * fx) AS sxx",
                *aggs,
            ),
        )
    )
    return select(
        folds,
        "*",
        "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope",
    )
