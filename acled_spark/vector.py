"""Shared JVM-side vector kernels over ``array<float/double>`` columns.

THE one spelling of the embedding math primitives — dot product, L2
norm, squared Euclidean distance, the zero-norm-guarded cosine and the
literal vector — used by ann.py, embedding.py, queries/similarity.py,
queries/dedup.py and queries/scalars.py.  Each kernel an oracle needs
has its DuckDB twin next to it (``dot_sql``, ``l2_norm_sql``,
``cosine_sql``).  These expressions are parity-critical: the
``aggregate`` fold runs sequentially left-to-right in BOTH Spark and
DuckDB (``list_dot_product`` and ``list_aggregate(..., 'sum')`` fold in
element order too), which is what keeps the doubles bit-identical
across engines — so the spelling must live in exactly one place.  All
are higher-order-function expressions: JVM evaluation, no Python in the
loop.

Two dtype rules, each kept by its callers:

- the cosine family WIDENS FIRST: ``as_double`` before the product, so
  every product is a double product (``l2_norm``, and ``dot`` over
  ``as_double`` columns);
- ann.py's normalization and embedding.py's literal projections take
  ``dot`` of the RAW float column: ``dot(v, v)`` multiplies in float and
  widens the product, and ``dot(v, lit_vector(c))`` widens ``v`` against
  the double literal.  Switching the normalization to ``l2_norm`` would
  move every KMeans input and IVF centroid.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: str | Column) -> Column:
    """Elementwise cast to ``array<double>`` (floats widen exactly)."""
    return F.transform(col, lambda x: x.cast("double"))


def lit_vector(xs: Iterable[float]) -> Column:
    """A Python vector as a literal ``array<double>`` riding the plan."""
    return F.array(*[F.lit(float(x)) for x in xs])


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product — bit-identical to DuckDB's
    ``list_dot_product`` fold order.  0.0 for empty vectors, NULL for a
    NULL vector or element; unequal widths NULL-pad (NULL result)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot`.  Where Spark gives NULL it aborts
    instead: on unequal widths and on a NULL element."""
    return f"list_dot_product({a}, {b})"


def l2_norm(col: str | Column) -> Column:
    """sqrt(Σ x²) over the double-cast vector, same fold order as dot()."""
    e = as_double(col)
    return F.sqrt(dot(e, e))


def l2_norm_sql(col: str) -> str:
    """DuckDB twin of :func:`l2_norm`: a fold, bit-identical to
    ``SQRT(list_dot_product(e, e))`` where both run.  The COALESCE maps
    only the EMPTY list's NULL sum to Spark's 0.0.  The guard gives NULL
    for a NULL vector (``len`` is NULL), as ``aggregate(NULL, ...)``
    does, and for a NULL element (``list_count`` skips it), where the
    sum would skip it but Spark's fold is NULL."""
    return (
        f"CASE WHEN len({col}) = list_count({col}) "
        f"THEN SQRT(COALESCE(list_aggregate("
        f"list_transform(CAST({col} AS DOUBLE[]), x -> x * x), 'sum'), 0.0)) END"
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Σ (a - b)², the same sequential fold as dot()."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """dot(a, b) / (na * nb) over precomputed norms ``na``/``nb``; NULL
    when either norm is zero (ANSI mode aborts on /0).  Callers pass the
    norms as columns: HOFs are interpreted, so a per-pair norm would
    dominate a pair join."""
    return F.when(na * nb > 0, dot(a, b) / (na * nb))


def cosine_sql(a: str, b: str, na: str, nb: str) -> str:
    """DuckDB twin of :func:`cosine`."""
    return f"CASE WHEN {na} * {nb} > 0 THEN {dot_sql(a, b)} / ({na} * {nb}) END"
