"""Mann-Whitney U test over the shared rank kernel.

Parity target: reference ``mann_whitney.h:44-295`` (rank/tie handling
:104-139; normal approximation with tie correction and optional continuity
correction).

Scale design: :mod:`ranks` reduces the input to its ranked distinct-value
relation; U is ONE aggregate over it (Σ c1·rbar and the tie term) per test
or per group, and the p-value math runs once per collected row on the
driver — the grouped form finalizes its O(#groups) rows with the same
function as the ungrouped test.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators import ranks

_EXACT_MAX_N = 50


def _exact_u_pvalue(u1: float, n0: int, n1: int, alternative: str) -> float:
    """Exact null distribution of U by subset-sum DP over ranks 1..n
    (no ties). O(n·n1·n1·n0) — driver-side, n ≤ _EXACT_MAX_N."""
    import numpy as np

    n = n0 + n1
    smax = n1 * n + 1
    g = np.zeros((n1 + 1, smax), dtype=float)
    g[0, 0] = 1.0
    for i in range(1, n + 1):
        for k in range(min(i, n1), 0, -1):
            g[k, i:] += g[k - 1, :-i] if i else g[k - 1, :]
    sums = g[n1]                      # counts of rank-sums for treated
    total = sums.sum()
    # U = ranksum - n1(n1+1)/2
    offset = n1 * (n1 + 1) // 2
    u_counts = sums[offset:offset + n0 * n1 + 1]
    u = int(round(u1))
    cdf = float(u_counts[:u + 1].sum() / total)
    sf = float(u_counts[u:].sum() / total)
    if alternative == "less":
        return min(cdf, 1.0)
    if alternative == "greater":
        return min(sf, 1.0)
    return min(2.0 * min(cdf, sf), 1.0)


_FIELDS = ("u0", "u1", "z", "p_value", "n0", "n1")


def _u_test(row, alternative: str, continuity_correction: bool,
            method: str) -> dict:
    """U, z and p from one aggregated row (__n, __n1, __r1, __ties); NaN
    when an arm is empty."""
    n = float(row["__n"] or 0.0)
    n1 = float(row["__n1"] or 0.0)
    n0 = n - n1
    if n0 == 0 or n1 == 0:
        return {"u0": math.nan, "u1": math.nan, "z": math.nan,
                "p_value": math.nan, "n0": n0, "n1": n1}
    u1 = float(row["__r1"]) - n1 * (n1 + 1.0) / 2.0
    u0 = n0 * n1 - u1
    tie_sum = float(row["__ties"])
    no_ties = tie_sum == 0.0
    if method == "exact" or (method == "auto" and no_ties
                             and n <= _EXACT_MAX_N):
        if not no_ties:
            raise ValueError("exact method requires tie-free data")
        if n > 2 * _EXACT_MAX_N:
            # the DP table is O(n1 * n0*n1)
            raise ValueError(f"exact method limited to n <= "
                             f"{2 * _EXACT_MAX_N} (got n={int(n)})")
        return {"u0": u0, "u1": u1, "z": math.nan,
                "p_value": _exact_u_pvalue(u1, int(n0), int(n1),
                                           alternative),
                "n0": n0, "n1": n1}
    mu = n0 * n1 / 2.0
    sd = math.sqrt(n0 * n1 / 12.0 * ((n + 1.0) - tie_sum / (n * (n - 1.0))))
    cc = 0.5 if continuity_correction else 0.0
    if sd > 0:
        if alternative == "two-sided":
            z = (abs(u1 - mu) - cc) / sd
            p = min(1.0, 2.0 * float(dist.norm_sf(z)))
        elif alternative == "greater":
            z = (u1 - mu - cc) / sd
            p = float(dist.norm_sf(z))
        else:
            z = (u1 - mu + cc) / sd
            p = float(dist.norm_cdf(z))
    else:
        z, p = math.nan, math.nan
    return {"u0": u0, "u1": u1, "z": z, "p_value": p, "n0": n0, "n1": n1}


def _rank_sums(df: DataFrame, data: str, index: str, treatment_values,
               alternative: str, method: str, keys=()) -> list:
    """One aggregated row (keys…, __n, __n1, __r1, __ties) per key."""
    if alternative not in ("two-sided", "greater", "less"):
        raise ValueError(f"unknown alternative {alternative!r}")
    if method not in ("auto", "exact", "asymptotic"):
        raise ValueError(f"unknown method {method!r}")
    idx = F.col(index) if index.isidentifier() else F.expr(index)
    v0, v1 = treatment_values
    sub = (df.select(*keys, (idx == F.lit(v1)).cast("int").alias("__g"),
                     F.expr(data).cast("double").alias("__v"))
             .where(idx.isin([v0, v1])))
    t, c1 = ranks.col("t"), ranks.col("c1")
    with ranks.ranked(sub, keys) as r:
        return r.groupBy(*keys).agg(
            F.sum(t).alias("__n"), F.sum(c1).alias("__n1"),
            F.sum(c1 * ranks.rbar()).alias("__r1"),
            F.sum(t * t * t - t).alias("__ties")).collect()


def mann_whitney_utest(df: DataFrame, data: str, index: str,
                       alternative: str = "two-sided",
                       continuity_correction: bool = True,
                       treatment_values: tuple = (0, 1),
                       method: str = "auto") -> pd.DataFrame:
    """U statistic (treatment arm) + p-value.

    ``method``: 'asymptotic' — tie-corrected normal approximation (the
    reference engine's only mode, mann_whitney.h:148-165); 'exact' — exact
    small-sample U distribution (no ties required); 'auto' — exact when
    n ≤ 50 and tie-free, else asymptotic (scipy convention).  NULL and NaN
    values are dropped.

    Returns a one-row pandas DataFrame: u0, u1, z, p_value, n0, n1.
    """
    row, = _rank_sums(df, data, index, treatment_values, alternative,
                      method)
    out = _u_test(row, alternative, continuity_correction, method)
    if out["n0"] == 0 or out["n1"] == 0:
        raise ValueError("both groups must be non-empty")
    return pd.DataFrame([out])


def mann_whitney_utest_spark(df: DataFrame, *args, **kwargs) -> DataFrame:
    pdf = mann_whitney_utest(df, *args, **kwargs)
    return df.sparkSession.createDataFrame(pdf)


def mann_whitney_utest_grouped(df: DataFrame, data: str, index: str,
                               group_cols: list[str],
                               alternative: str = "two-sided",
                               continuity_correction: bool = True,
                               treatment_values: tuple = (0, 1),
                               method: str = "auto") -> DataFrame:
    """GROUP BY variant (the reference's mannWhitneyUTest is an aggregate —
    usable per group in SQL): every group ranks inside one window
    partition, one aggregate row per group is collected, and each row is
    finalized like :func:`mann_whitney_utest`.  A group with an empty arm
    gets NaN statistics.  Returns one row per group: the group columns,
    u0, u1, z, p_value, n0, n1."""
    rows = _rank_sums(df, data, index, treatment_values, alternative,
                      method, group_cols)
    return ranks.per_group(
        df, group_cols, rows, _FIELDS,
        lambda r: _u_test(r, alternative, continuity_correction, method))

