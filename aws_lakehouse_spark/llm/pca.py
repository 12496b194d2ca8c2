"""Distributed PCA over an embedding column (extension per SURVEY
§2.14 — dimensionality reduction for the similarity/semantic tier).

Why this shape at 100 TB: PCA on N×d embeddings only ever needs the
d×d covariance matrix (d = 64 here; a few thousand at most in
practice), which is a **commutative partial aggregate**: each
partition contributes (n, Σx, Σxxᵀ) and the driver combines. So the
corpus is scanned ONCE with an Arrow-vectorized ``mapInPandas`` that
BLAS-accumulates per-partition partials (one output row per
partition, d + d² doubles), a map-side-combined posexplode/groupBy
reduces those to d² scalars, and the eigendecomposition runs on the
driver on a d×d matrix — O(d³) ≈ microseconds, the textbook "small
problem after a big reduction" split. The corpus is never shuffled
and never revisited; the projection pass is a second single scan
using only built-in array expressions (``zip_with``/``aggregate``
against literal component vectors), fully JVM-side.

Sign convention: an eigenvector is only defined up to ±1; each
component is normalized so its largest-|coordinate| entry is
positive, making projections reproducible across runs/backends.

No query calls ``principal_components``: the registry projects onto
a frozen basis. It stays as the generator of that basis,
``llm/pca_fixture.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def covariance_partials(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """One row per partition: (n, s=Σx (dim), o=Σxxᵀ flattened
    row-major (dim²)), accumulated in float64 BLAS inside Arrow
    batches. The heavy input never leaves the partition."""

    def acc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        o = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s += x.sum(axis=0)
            o += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "o": [o.ravel().tolist()]}
            )

    return df.select(vec_col).mapInPandas(
        acc, schema="n long, s array<double>, o array<double>"
    )


def covariance_matrix(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean (dim), population covariance (dim×dim)) of the
    vectors — E[xxᵀ] − μμᵀ from the single-scan partials. ONE
    posexplode/groupBy reduction over ``[n] ++ s ++ o`` ships
    #partitions·(1+dim+dim²) narrow rows, collapsed map-side; the
    collect is 1+dim+dim² scalars. One job reads the partials, so
    they need no pin (n is a per-partition row count, exact as a
    double far past any corpus size)."""
    partials = covariance_partials(df, vec_col, dim)
    rows = (
        partials.select(
            F.posexplode(
                F.concat(F.array(F.col("n").cast("double")), "s", "o")
            ).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    flat = np.zeros(1 + dim + dim * dim)
    for r in rows:
        flat[r["i"]] = r["v"]
    n = int(flat[0])
    if not n:
        raise ValueError("covariance_matrix: empty input")
    s = flat[1 : 1 + dim]
    o = flat[1 + dim :]
    mean = s / n
    cov = o.reshape(dim, dim) / n - np.outer(mean, mean)
    return n, mean, cov


def principal_components(
    cov: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (eigenvalues desc, components k×dim) of a covariance
    matrix, sign-fixed so each component's largest-|x| entry is
    positive. Driver-side numpy ``eigh`` — the d×d problem."""
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1
    return vals[order], comps


def project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_prefix: str = "pc",
    round_digits: int | None = 6,
) -> DataFrame:
    """Append ``pc1..pck`` projection columns: (x−μ)·wⱼ per
    component, as built-in ``zip_with``/``aggregate`` expressions
    against literal component arrays — no Python in this pass, and
    Catalyst prunes ``vec_col`` out of downstream plans that only
    read the projections."""
    out = df
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.lit([float(v) for v in mean]),
        lambda x, m: x - m,
    )
    for j, w in enumerate(components, start=1):
        dot = F.aggregate(
            F.zip_with(
                centered,
                F.lit([float(v) for v in w]),
                lambda x, wv: x * wv,
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        if round_digits is not None:
            dot = F.round(dot, round_digits)
        out = out.withColumn(f"{out_prefix}{j}", dot)
    return out
