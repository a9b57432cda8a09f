"""Distributed dense linear algebra over embedding columns: the Gram /
covariance matrix — the d×d statistic behind PCA whitening, feature
decorrelation checks, and Mahalanobis outlier scoring in an embedding
pipeline. (The reference engine has no linear algebra; this is part of
the beyond-reference training-data surface, same family as
similarity.py's GEMM kernels.)

Scale shape — the textbook two ways to get X'X and why we pick the first:
- PARTIAL GRAM per partition (this module): an Arrow ``mapInPandas``
  kernel folds each batch's quantized matrix Q into Qᵀ Q with one numpy
  integer matmul and emits d(d+1)/2 + d + 1 rows PER PARTITION — the
  shuffle is O(partitions · d²) tiny rows, never O(rows · d²). 100 TB of
  vectors reduces to a few thousand 24-byte rows per partition.
- the posexplode² alternative (rows × d² explode, then groupBy) is what
  the DuckDB oracle does — correct, oracle-friendly, and exactly the
  shuffle blow-up the kernel exists to avoid.

Engine-portable: components quantize to integers q = round(x·scale)
(same convention as IVF-PQ, similarity.py:394 — Spark and DuckDB round()
agree on .5 ties), all moments are exact bigint sums (order-independent,
map-side combinable), and the single closing division happens once at
the output boundary.

Overflow headroom: |q| ≤ scale (unit-norm-ish embeddings), so a
moment-sum term is ≤ scale²; bigint holds n·scale² up to n ≈ 9e18/scale²
(9e12 rows at the default scale=1000). The centered numerator
n·Σqᵢqⱼ − Σqᵢ·Σqⱼ squares n — past ~3e9 rows switch the closing
arithmetic to decimal(38,0) (the partial sums themselves stay bigint).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from megalista_spark.zip_imports import install_stamped_zipimporter


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    scale: int = 1000,
) -> DataFrame:
    """Sample covariance matrix of an ``array<float>`` column, upper
    triangle: (i, j, n, sxy, cov) for 1-based component indices i ≤ j,
    where with qᵢ = round(scale·xᵢ):

        sxy  = Σ_rows qᵢ·qⱼ                       (exact bigint)
        cov  = (n·sxy − sxᵢ·sxⱼ) / (n·(n−1)·scale²)   rounded 6dp

    i.e. the unbiased covariance of the ORIGINAL floats up to the
    deterministic quantization — bit-identical on any engine because
    every sum is integer and the one float division is at the boundary.

    ``dim`` defaults to the first row's length; rows of any other length
    raise (malformed input should fail loudly, not skew a moment).
    """
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("embedding_covariance: empty input")
        dim = first["d"]
    d = int(dim)
    sc = int(scale)

    import numpy as np

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stamped_zipimporter()
        gram = np.zeros((d, d), dtype=np.int64)
        sums = np.zeros(d, dtype=np.int64)
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["_v"].to_numpy())
            if mat.shape[1] != d:
                raise ValueError(
                    f"embedding_covariance: row dim {mat.shape[1]} != {d}"
                )
            # float32 -> float64 is exact; round half away from zero to
            # match SQL round() (numpy rint is half-even)
            q = np.floor(np.abs(mat.astype(np.float64)) * sc + 0.5).astype(
                np.int64
            ) * np.sign(mat).astype(np.int64)
            gram += q.T @ q
            sums += q.sum(axis=0)
            n += q.shape[0]
        iu, ju = np.triu_indices(d)
        out = pd.DataFrame(
            {
                "i": np.concatenate([iu + 1, np.arange(1, d + 1), [0]]),
                "j": np.concatenate([ju + 1, np.zeros(d, dtype=np.int64), [0]]),
                "v": np.concatenate([gram[iu, ju], sums, [n]]),
            }
        )
        yield out[out["v"] != 0] if n == 0 else out

    parts = df.select(F.col(vec_col).alias("_v")).mapInPandas(
        partial_gram, "i int, j int, v long"
    )
    tot = parts.groupBy("i", "j").agg(F.sum("v").cast("bigint").alias("v"))
    n_row = tot.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("v").alias("n")
    )
    sums = tot.where((F.col("i") > 0) & (F.col("j") == 0)).select(
        F.col("i").alias("k"), F.col("v").alias("sx")
    )
    pairs = tot.where(F.col("j") > 0).select("i", "j", F.col("v").alias("sxy"))
    si = sums.select(F.col("k").alias("i"), F.col("sx").alias("_sxi"))
    sj = sums.select(F.col("k").alias("j"), F.col("sx").alias("_sxj"))
    out = (
        pairs.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n_row))
    )
    cov = (
        F.col("n") * F.col("sxy") - F.col("_sxi") * F.col("_sxj")
    ) / (F.col("n") * (F.col("n") - 1) * F.lit(sc * sc))
    return out.select(
        "i",
        "j",
        "n",
        "sxy",
        # +0.0 collapses IEEE negative zero (round can yield -0.0, which
        # string-formats as "-0.000000" and breaks cross-engine hashing)
        (F.round(cov, 6) + F.lit(0.0)).alias("cov"),
    ).orderBy("i", "j")
