"""Grouped-map ``applyInPandas`` surface — the per-group Pandas escape
hatch (SURVEY §2.8 names pandas_udf/applyInPandas as the custom-operator
fallback when expressions can't say it).

``zscore_by_group`` normalizes an integer metric within each group. The
kernel computes group moments from EXACT integer sums (sum, sum-of-squares
as int64 — no float accumulation-order dependence), then applies one fixed
float64 op sequence: mean = sx/n, var = sx2/n - mean², z = (x-mean)/√var.
The SQL oracle spells out the identical sequence, so both engines agree
bit-for-bit and the 6dp output rounding is belt-and-braces rather than a
tolerance.

Scale note: grouped-map ships each WHOLE group to one task — with a skewed
group key (language: English dominates a web corpus) the hot group becomes
one giant task. For moments-based stats like this z-score the declarative
twin (two-pass groupBy-agg + broadcast join back, or a window) is the
100 TB path and is tested equivalent; reserve applyInPandas for per-group
logic Spark expressions genuinely cannot express (model fits, sequence
alignment, per-group solvers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.zip_imports import install_stamped_zipimporter


def zscore_by_group(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group z-score of an integer column via grouped-map applyInPandas.

    Output: (id_col, group_col, value_col, zscore). Degenerate groups
    (zero variance) emit zscore 0.0.
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(group_col, T.StringType()),
            T.StructField(value_col, T.LongType()),
            T.StructField("zscore", T.DoubleType()),
        ]
    )

    def kernel(pdf):
        install_stamped_zipimporter()
        import numpy as np

        x = pdf[value_col].to_numpy(dtype=np.int64)
        n = len(x)
        sx = int(x.sum())
        sx2 = int((x * x).sum())
        mean = sx / n
        var = sx2 / n - mean * mean
        out = pdf[[id_col, group_col, value_col]].copy()
        if var <= 0.0:
            out["zscore"] = 0.0
        else:
            out["zscore"] = np.round((x - mean) / np.sqrt(var), 6)
        return out

    return (
        df.select(id_col, group_col, value_col)
        .groupBy(group_col)
        .applyInPandas(kernel, out_schema)
    )


def zscore_by_group_expr(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Declarative twin of ``zscore_by_group`` — two-phase hash aggregate
    of the integer moments, broadcast join of the k-row stats table back
    onto the scan. No whole-group shuffle, no Python: this is the form
    that survives a skewed group key at 100 TB."""
    stats = (
        df.groupBy(group_col)
        .agg(
            F.sum(F.col(value_col)).alias("_sx"),
            F.sum(F.col(value_col) * F.col(value_col)).alias("_sx2"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            group_col,
            (F.col("_sx").cast("double") / F.col("_n")).alias("_mean"),
            (
                F.col("_sx2").cast("double") / F.col("_n")
            ).alias("_ex2"),
            "_n",
        )
        .select(
            group_col,
            "_mean",
            (F.col("_ex2") - F.col("_mean") * F.col("_mean")).alias("_var"),
        )
    )
    z = F.when(F.col("_var") <= 0.0, F.lit(0.0)).otherwise(
        F.round((F.col(value_col) - F.col("_mean")) / F.sqrt(F.col("_var")), 6)
    )
    return (
        df.select(id_col, group_col, value_col)
        .join(F.broadcast(stats), group_col)
        .select(id_col, group_col, value_col, z.alias("zscore"))
    )
