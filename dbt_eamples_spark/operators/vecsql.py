"""Vector math as SQL text, parsed once.

Every kernel here writes its expression as Spark SQL text and turns
it into a Column with ONE ``F.expr`` call, cached per distinct text
(:func:`expr`). The higher-order-function builders this replaces
(``F.transform`` / ``F.aggregate`` / ``F.zip_with`` with Python
lambdas) parse to the same tree but pay py4j round trips for every
lambda and operator: one cosine built that way made 229 calls and
took 100 ms of query construction, the same text 3 calls and 0.4 ms.
("ML Inference Pipeline Execution Using Pure SQL Based on Operator
Fusion", ICDE 2025, builds its numeric kernels as fused SQL text the
same way.)

Operands are SQL text: a column name (``"vec"``, ``"q.qvec"``) or any
array expression (``"slice(vec, 1, 16)"``), never a Column. The
``*_sql`` functions return text for composing bigger expressions; the
plain-named ones return the parsed Column.

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
    values) pairs) to ``vec`` under the (cosine DESC, cent_id ASC)
    total order: an array of cent_ids, or of (cent_id, cv) structs
    with ``with_cvec``. Sorting struct(-cosine, cent_id) ascending is
    that order exactly, since negating a double reverses Spark's
    total order (±0.0 included). Each centroid norm is folded here in
    Python with the same left fold as :func:`norm_sql`, so the row
    expression multiplies by a bit-identical literal instead of
    re-folding it per row."""
    structs = []
    for cid, cv in cents:
        acc = 0.0
        for x in cv:
            acc += x * x
        arr = darray_sql(tuple(cv))
        nc = f"-({dot_sql(vec, arr)} / ({norm_sql(vec)} * {math.sqrt(acc)!r}D))"
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
