"""Distributed PCA over an embedding column — the principal-component
face of the embedding toolkit (``sim_dim_stats`` audits per-dimension
spread; this finds the top covariance directions).

Two paths, picked by embedding width:

- :func:`top_component` — the DEFAULT: ``pyspark.ml.feature.PCA``
  (tall-skinny Gramian accumulated JVM-side in one pass, exact d×d
  eigendecomposition on the driver).  Right whenever d² fits in driver
  memory — i.e. every real embedding width.  Exact, deterministic, no
  iteration-count knob.
- :func:`power_iteration_top_component` — matrix-free fallback for
  widths where a d×d Gramian is no longer reasonable: the
  covariance-vector product ``C·v = (1/n) Σ (x_i - μ)·((x_i - μ)·v)``
  is one pass per iteration with ``v`` and ``μ`` broadcast as d-float
  literal arrays.  Convergence rate is (λ₂/λ₁)ᵗ, so on a near-flat
  spectrum it needs many passes — the exact path exists for a reason,
  and the returned ``delta`` says honestly how converged it is.

Either way the EIGENPAIR ITSELF is certified distributed:
:func:`eigen_residual` computes ‖C·v − λv‖/λ in one pass — the
registered query carries it like a19/a26's certification columns.

Ref parity: extends the LLM-pipeline surface (SURVEY extended ops) —
embedding whitening/anisotropy correction is standard corpus prep
(e.g. "All-but-the-Top", Mu & Viswanath 2018) and the reference has no
embedding ops at all.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acled_spark.vector import dot, lit_vector

DEFAULT_ITERS = 12


def valid_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows carrying a FULLY-valid vector: non-empty, no NULL element,
    exactly the corpus's modal width.

    The eigen math here requires the sums and ``n`` to see the SAME
    population (r8 lens): a vector with one NULL element poisons its
    whole ``C·v`` contribution to NULL (zip_with/aggregate propagate),
    and a ragged vector NULL-pads — either way the row drops from the
    sums while ``n`` still counted it, deflating the eigenvalue,
    explained_ratio, and the residual CERTIFICATION with no signal.
    Same degenerate-input contract as the similarity family (fixed
    width, exclusion); the width is the modal size (one cheap
    size-histogram aggregation), deterministic for any input.
    """
    sizes = (
        df.filter(F.size(F.col(vec_col)) > 0)
        .groupBy(F.size(F.col(vec_col)).alias("d"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "d")
        .limit(1)
        .collect()
    )
    if not sizes:
        raise ValueError(
            f"no vectors in column {vec_col!r} (empty frame or all-"
            "NULL/empty embeddings) — nothing to decompose"
        )
    d = sizes[0]["d"]
    return df.filter(
        (F.size(F.col(vec_col)) == d)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )


# public since round 11: ann.build_ivf_index shares the same validity
# contract (a NULL/ragged vector crashes KMeans.fit deep in MLlib)
_valid_vectors = valid_vectors


def mean_vector(df: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Per-dimension mean as a plain Python list (d values, one pass).

    Raises on an empty/all-NULL input instead of returning ``[]``: the
    downstream eigen paths would turn d=0 into a ZeroDivisionError deep
    in the iteration (``1/sqrt(0)``) — an unrelated-looking arithmetic
    crash instead of the real problem (round-7 review).
    """
    row = (
        df.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    if not row:
        raise ValueError(
            f"mean_vector: no vectors in column {vec_col!r} (empty frame "
            "or all-NULL embeddings) — nothing to decompose"
        )
    out = [0.0] * len(row)
    for r in row:
        out[r["dim"]] = r["m"]
    return out


def _moments(df: DataFrame, vec_col: str) -> tuple[list[float], float, int]:
    """(μ, Σ_j Var(x_j), n) in ONE pass — mean vector, total population
    variance (like np.cov bias=True), and the count of non-NULL vectors.

    One scan instead of the former mean_vector + _total_variance pair
    (both decomposition entry points called them back-to-back — two
    full explode-shuffle-aggregate jobs for numbers one groupBy yields
    together; round-7 review).  ``n`` comes from the same aggregate as
    a per-dim count, so it counts exactly the rows the sums saw: NULL
    embeddings contribute to NEITHER (posexplode emits no rows for
    them) — the former ``df.count()`` included them and biased every
    covariance entry, eigenvalue, and explained_ratio low.
    """
    x = F.col("x").cast("double")
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.avg(x).alias("m"),
            F.avg(x * x).alias("ex2"),
            F.count("x").alias("cnt"),
        )
        .collect()
    )
    if not rows:
        raise ValueError(
            f"no vectors in column {vec_col!r} (empty frame or all-NULL "
            "embeddings) — nothing to decompose"
        )
    mu = [0.0] * len(rows)
    total_var = 0.0
    n = 0
    for r in rows:
        mu[r["dim"]] = r["m"]
        total_var += r["ex2"] - r["m"] ** 2
        n = max(n, r["cnt"])
    return mu, total_var, n


def _cov_vec_product(
    df: DataFrame, vec_col: str, mu: list[float], v: list[float], n: int
) -> list[float]:
    """C·v in ONE pass, matrix-free: (1/n) Σ (x_i - μ)·((x_i - μ)·v)."""
    d = len(mu)
    mu_dot_v = sum(m * c for m, c in zip(mu, v))
    s = dot(F.col(vec_col), lit_vector(v)) - F.lit(mu_dot_v)
    agg = (
        df.select(s.alias("__s"), F.col(vec_col).alias("__x"))
        .select("__s", F.posexplode("__x").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.sum(F.col("x").cast("double") * F.col("__s")).alias("xs"),
            F.sum("__s").alias("ssum"),
        )
        .collect()
    )
    cv = [0.0] * d
    for r in agg:
        cv[r["dim"]] = (r["xs"] - mu[r["dim"]] * r["ssum"]) / n
    return cv


def eigen_residual(
    df: DataFrame,
    vec_col: str,
    component: list[float],
    eigenvalue: float,
    mu: list[float] | None = None,
) -> float:
    """Relative eigenpair residual ‖C·v − λv‖ / λ, one distributed pass.

    The certification that the (v, λ) pair actually IS an eigenpair of
    THIS corpus's covariance — independent of how it was computed
    (exact Gramian or power iteration), so the registered query's
    driver row pins the linear-algebra claim itself.
    """
    df = _valid_vectors(df, vec_col)  # sums and n must see ONE population
    if mu is None:
        mu = mean_vector(df, vec_col)
    n = df.count()
    cv = _cov_vec_product(df, vec_col, mu, component, n)
    num = math.sqrt(
        sum((a - eigenvalue * b) ** 2 for a, b in zip(cv, component))
    )
    return num / eigenvalue if eigenvalue > 0 else float("inf")


def top_component(df: DataFrame, vec_col: str = "embedding") -> dict:
    """Exact top principal component via ``pyspark.ml.feature.PCA``.

    The Gramian accumulates JVM-side in one distributed pass; the d×d
    eigendecomposition runs on the driver — the standard tall-skinny
    PCA shape, exact and iteration-free (plain power iteration needs
    O(log ε / log(λ₂/λ₁)) passes and embedding spectra are often
    near-flat).  Returns the same dict shape as
    :func:`power_iteration_top_component` with ``delta=0.0`` and the
    distributed :func:`eigen_residual` in ``residual``.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    # one validity contract for PCA.fit AND every aggregate below (see
    # valid_vectors): NULL/empty/ragged/NULL-element vectors excluded
    df = _valid_vectors(df, vec_col)
    # moments first: n gates the covariance itself.  A 1-vector corpus
    # has a zero covariance matrix — MLlib's PCA surfaces that as an
    # opaque JVM IllegalArgumentException (RowMatrix.computeCovariance
    # "<= 1 row"); fail with the module's documented error class
    # instead (round-11 degenerate-corpus sweep).
    mu, total_var, n = _moments(df, vec_col)
    if n < 2:
        raise ValueError(
            f"top_component: covariance is undefined for {n} valid "
            f"vector(s) in column {vec_col!r} — need at least 2"
        )
    vec = df.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("__v")
    )
    model = PCA(k=1, inputCol="__v", outputCol="__pc").fit(vec)
    v = [float(x) for x in model.pc.toArray()[:, 0]]
    d = len(v)
    # sign convention: largest-|loading| entry positive (eigenvectors
    # are sign-ambiguous; the driver hash needs one deterministic rep)
    k = max(range(d), key=lambda i: abs(v[i]))
    if v[k] < 0:
        v = [-x for x in v]
    # Rayleigh quotient on the population covariance (model.explainedVariance
    # is the sample-covariance ratio; recomputing keeps one convention)
    cv = _cov_vec_product(df, vec_col, mu, v, n)
    lam = sum(a * b for a, b in zip(cv, v))
    res = math.sqrt(sum((a - lam * b) ** 2 for a, b in zip(cv, v)))
    return {
        "component": v,
        "eigenvalue": lam,
        "explained_ratio": lam / total_var if total_var > 0 else 0.0,
        "converged": True,
        "delta": 0.0,
        "residual": res / lam if lam > 0 else float("inf"),
        "n": n,
    }


def power_iteration_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = DEFAULT_ITERS,
) -> dict:
    """Top principal component of the (mean-centered) covariance.

    Returns ``{component, eigenvalue, explained_ratio, converged,
    delta, n}`` where ``component`` is the unit eigenvector (sign fixed
    so its largest-|loading| entry is positive — eigenvectors are
    sign-ambiguous and determinism matters for the driver hash),
    ``eigenvalue`` the Rayleigh quotient, ``explained_ratio`` its share
    of total variance, and ``delta`` = 1 - |cos(v_T, v_{T-1})| — the
    convergence certificate that travels into the registered query's
    output.

    Deterministic by construction: the start vector is fixed (uniform),
    every reduction is a Spark aggregate.  Each iteration is ONE pass;
    the driver never holds more than d floats.
    """
    df = _valid_vectors(df, vec_col)
    mu, total_var, n = _moments(df, vec_col)
    if n < 2:
        # same contract as top_component: a 1-vector covariance is the
        # zero matrix — the iteration would silently emit a zero
        # eigenpair with residual=inf instead of naming the problem
        raise ValueError(
            f"power_iteration_top_component: covariance is undefined "
            f"for {n} valid vector(s) in column {vec_col!r} — need at "
            "least 2"
        )
    d = len(mu)

    v = [1.0 / math.sqrt(d)] * d
    prev = v
    for _ in range(max(1, iters)):
        cv = _cov_vec_product(df, vec_col, mu, v, n)
        nrm = math.sqrt(sum(x * x for x in cv)) or 1.0
        prev, v = v, [x / nrm for x in cv]

    cos = abs(sum(a * b for a, b in zip(v, prev)))
    # Rayleigh quotient + eigenpair residual of the FINAL iterate
    cv = _cov_vec_product(df, vec_col, mu, v, n)
    lam = sum(a * b for a, b in zip(cv, v))
    res = math.sqrt(sum((a - lam * b) ** 2 for a, b in zip(cv, v)))
    # sign convention: largest-|loading| entry positive
    k = max(range(d), key=lambda i: abs(v[i]))
    if v[k] < 0:
        v = [-x for x in v]
    return {
        "component": v,
        "eigenvalue": lam,
        "explained_ratio": lam / total_var if total_var > 0 else 0.0,
        "converged": (1.0 - cos) < 1e-6,
        "delta": 1.0 - cos,
        "residual": res / lam if lam > 0 else float("inf"),
        "n": n,
    }


def remove_top_component(
    df: DataFrame,
    component: list[float],
    vec_col: str = "embedding",
    out_col: str = "embedding_abtt",
) -> DataFrame:
    """All-but-the-top: project the top component out of every vector
    (x' = x - (x·v)v) — the standard anisotropy correction before
    cosine retrieval.  Narrow map, no shuffle; ``component`` rides the
    plan as a d-float literal array."""
    arr = lit_vector(component)
    # proj staged as a COLUMN: inlining the aggregate inside the
    # zip_with lambda would re-evaluate the O(d) dot product per
    # element (O(d²)/row; HOFs are interpreted — same rule as
    # ann.with_normalized)
    return (
        df.withColumn("__proj", dot(F.col(vec_col), arr))
        .withColumn(
            out_col,
            F.zip_with(
                F.col(vec_col),
                arr,
                lambda x, c: x.cast("double") - F.col("__proj") * c,
            ),
        )
        .drop("__proj")
    )
