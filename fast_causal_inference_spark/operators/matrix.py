"""Gramian / matrix products over columns (reference
``matrix_multiplication.h:41-308``, facade ``statistics.py:952-1016``).

XᵀX over rows is just an aggregation of outer-product sums — a single
``agg()`` of k(k+1)/2 native sum columns; optional inverse on the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fast_causal_inference_spark.result import driver_frame


def matrix_multiplication(df: DataFrame, *cols: str, std: bool = False,
                          invert: bool = False,
                          weight: str | None = None) -> np.ndarray:
    """XᵀX (optionally weighted / standardized / inverted) as numpy.

    ``std=True`` appends a constant-1 column (reference semantics: include the
    intercept row/col).
    """
    exprs = [F.expr(c).cast("double") for c in cols]
    # complete-case: per-entry F.sum would PAIRWISE-delete NULLs — each
    # Gramian entry over a different row subset is not the XtX of any
    # sample (can be non-PSD; invert=True then returns garbage).  Same
    # convention as suffstat_agg_columns.
    cc = None
    for e in exprs:
        c0 = e.isNotNull()
        cc = c0 if cc is None else (cc & c0)
    if weight:
        cc = cc & F.expr(weight).cast("double").isNotNull()
    work = df.where(cc) if cc is not None else df
    if std:
        exprs.append(F.lit(1.0))
    k = len(exprs)
    w = F.expr(weight).cast("double") if weight else F.lit(1.0)
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(w * exprs[i] * exprs[j]).alias(f"m_{i}_{j}"))
    row = work.agg(*aggs).collect()[0]
    if row[f"m_0_0"] is None:
        raise ValueError(
            "matrix_multiplication: no complete rows (every row has a "
            "NULL in some requested column)")
    m = np.empty((k, k))
    for i in range(k):
        for j in range(i, k):
            m[i, j] = m[j, i] = row[f"m_{i}_{j}"]
    if invert:
        try:
            m = np.linalg.inv(m)
        except np.linalg.LinAlgError:
            m = np.linalg.pinv(m)
    return m


def matrix_multiplication_df(df: DataFrame, *cols: str, std: bool = False,
                             invert: bool = False,
                             weight: str | None = None) -> DataFrame:
    """Spark-DataFrame form: one row per (i, j) entry (for the oracle gate)."""
    m = matrix_multiplication(df, *cols, std=std, invert=invert, weight=weight)
    rows = [(i, j, float(m[i, j])) for i in range(m.shape[0])
            for j in range(m.shape[1])]
    return driver_frame(df.sparkSession,
                        [T.StructField("i", T.IntegerType()),
                         T.StructField("j", T.IntegerType())],
                        [T.StructField("value", T.DoubleType())], rows)


def pearsonr(df, x: str, y: str, group_cols: list[str] | None = None):
    """Pearson correlation with a t-transform p-value (reference CH-only
    ``Pearsonr`` UDAF — ``AggregateFunctionPearsonr.h``).

    One native agg (F.corr + count); p = 2·P(T_{n−2} > |r|·√((n−2)/(1−r²))).
    """
    import pandas as pd

    from fast_causal_inference_spark import stats_distributions as dist

    group_cols = list(group_cols or [])
    xc, yc = F.expr(x).cast("double"), F.expr(y).cast("double")
    agged = ((df.groupBy(*group_cols) if group_cols else df.groupBy())
             .agg(F.corr(xc, yc).alias("r"),
                  # n must be the COMPLETE-PAIR count F.corr actually
                  # used — count(*) inflated the t-transform df when
                  # either column had NULLs (silently tiny p-values)
                  F.count(F.when(xc.isNotNull() & yc.isNotNull(), 1))
                  .alias("n")))
    pdf = agged.toPandas()
    r = pdf["r"].to_numpy(dtype=float)
    n = pdf["n"].to_numpy(dtype=float)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = r * np.sqrt((n - 2) / (1 - r * r))
    pdf["t_stat"] = t
    pdf["p_value"] = 2.0 * dist.t_sf(np.abs(t), n - 2)
    return pd.DataFrame(pdf)
