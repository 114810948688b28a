"""Two-sample Kolmogorov-Smirnov test — the ECDF max-gap over the shared
rank kernel.

Parity target: reference ``kolmogorov_smirnov_test.h`` (asymptotic p from the
Kolmogorov distribution; SR exposes 'auto'/'exact' modes — we implement the
asymptotic path, which is what matters at scale).

Scale design: :mod:`ranks` gives each distinct value the rows below it
(``before``, ``before1``) and the arm totals, so both ECDFs at a value are
closed-form and D is ONE ``max`` aggregate over the ranked relation; the
tie check rides the same aggregate (``max(t) <= 1``).  The grouped form
aggregates per group and finalizes each row like the ungrouped test.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators import ranks


def _exact_ks_pvalue(d: float, n0: int, n1: int) -> float:
    """Exact P(D ≥ d) by the lattice-path probability recursion
    p[i][j] = p[i-1][j]·i/(i+j) + p[i][j-1]·j/(i+j), zeroing cells with
    |i/n0 − j/n1| ≥ d (numerically stable — works in probabilities, no
    binomial overflow). O(n0·n1); for the no-ties null distribution."""
    import numpy as np

    prev = np.zeros(n1 + 1)
    prev[0] = 1.0
    for j in range(1, n1 + 1):
        prev[j] = prev[j - 1] if (j / n1) < d else 0.0
    for i in range(1, n0 + 1):
        cur = np.zeros(n1 + 1)
        cur[0] = prev[0] if abs(i / n0) < d else 0.0
        for j in range(1, n1 + 1):
            if abs(i / n0 - j / n1) >= d:
                cur[j] = 0.0
            else:
                tot = i + j
                cur[j] = prev[j] * (i / tot) + cur[j - 1] * (j / tot)
        prev = cur
    return float(min(max(1.0 - prev[n1], 0.0), 1.0))


def _gate_exact(mode: str, n0: float, n1: float, no_ties: bool) -> bool:
    """The lattice-path null distribution assumes no ties, so tied data
    demotes 'exact' to the tie-robust asymptotic with a ``RuntimeWarning``
    (scipy-style graceful degradation rather than an error); 'auto' falls
    back silently."""
    if mode == "exact":
        if not no_ties:
            import warnings

            warnings.warn(
                "exact KS p-value assumes tie-free data; ties detected — "
                "falling back to the asymptotic distribution",
                RuntimeWarning, stacklevel=4)
            return False
        if n0 * n1 > 4_000_000:
            # the lattice DP is O(n0*n1) pure-Python driver work — an
            # explicit 'exact' on big data would hang for days, not err
            raise ValueError(
                f"exact KS limited to n0*n1 <= 4e6 (got "
                f"{n0 * n1:.3g}); use mode='asymp'")
        return True
    return mode == "auto" and no_ties and n0 * n1 <= 4_000_000


_FIELDS = ("d_statistic", "p_value", "n0", "n1")


def _ks_test(row, mode: str) -> dict:
    """D and its p-value from one aggregated row (__d, __n0, __n1,
    __tmax); NaN when an arm is empty."""
    n0 = float(row["__n0"] or 0.0)
    n1 = float(row["__n1"] or 0.0)
    if n0 == 0 or n1 == 0:
        return {"d_statistic": math.nan, "p_value": math.nan,
                "n0": n0, "n1": n1}
    d = float(row["__d"])
    if _gate_exact(mode, n0, n1, float(row["__tmax"]) <= 1.0):
        p = _exact_ks_pvalue(d, int(n0), int(n1))
    else:
        # asymptotic w/ Stephens' small-sample adjustment (scipy 'asymp')
        en = math.sqrt(n0 * n1 / (n0 + n1))
        p = float(dist.kolmogorov_sf((en + 0.12 + 0.11 / en) * d))
    return {"d_statistic": d, "p_value": p, "n0": n0, "n1": n1}


def _max_gaps(df: DataFrame, data: str, index: str, treatment_values,
              mode: str, keys=()) -> list:
    """One aggregated row (keys…, __d, __n0, __n1, __tmax) per key."""
    if mode not in ("auto", "exact", "asymp"):
        raise ValueError(f"unknown mode {mode!r}: use 'auto', 'exact' "
                         f"or 'asymp'")
    idx = F.col(index) if index.isidentifier() else F.expr(index)
    v0, v1 = treatment_values
    sub = (df.select(*keys, (idx == F.lit(v1)).cast("int").alias("__g"),
                     F.expr(data).cast("double").alias("__v"))
             .where(idx.isin([v0, v1])))
    c = ranks.col
    cum1 = c("before1") + c("c1")            # arm-1 rows at or below v
    cum0 = c("before") + c("t") - cum1
    n0 = c("n") - c("n1")
    with ranks.ranked(sub, keys) as r:
        return r.groupBy(*keys).agg(
            F.max(F.abs(cum0 / F.nullif(n0, F.lit(0.0))
                        - cum1 / F.nullif(c("n1"), F.lit(0.0))))
            .alias("__d"),
            F.max(n0).alias("__n0"), F.max(c("n1")).alias("__n1"),
            F.max(c("t")).alias("__tmax")).collect()


def kolmogorov_smirnov_test(df: DataFrame, data: str, index: str,
                            treatment_values: tuple = (0, 1),
                            mode: str = "auto") -> pd.DataFrame:
    """Returns one-row pandas DataFrame: d_statistic, p_value, n0, n1.

    ``mode``: 'asymp' (Kolmogorov limit with Stephens' adjustment), 'exact'
    (lattice-path null distribution — reference SR exposes the same modes),
    or 'auto' (exact when n0·n1 ≤ 4e6).  The exact null distribution
    assumes tie-free data; with ties, 'exact' degrades to the asymptotic
    p-value with a ``RuntimeWarning`` and 'auto' degrades silently.  NULL
    and NaN values are dropped.
    """
    row, = _max_gaps(df, data, index, treatment_values, mode)
    out = _ks_test(row, mode)
    if out["n0"] == 0 or out["n1"] == 0:
        raise ValueError("both groups must be non-empty")
    return pd.DataFrame([out])


def kolmogorov_smirnov_test_spark(df: DataFrame, *args, **kwargs) -> DataFrame:
    pdf = kolmogorov_smirnov_test(df, *args, **kwargs)
    return df.sparkSession.createDataFrame(pdf)


def kolmogorov_smirnov_test_grouped(df: DataFrame, data: str, index: str,
                                    group_cols: list[str],
                                    treatment_values: tuple = (0, 1),
                                    mode: str = "auto") -> DataFrame:
    """GROUP BY variant: every report cell ranks inside one window
    partition, one aggregate row per cell is collected and finalized like
    :func:`kolmogorov_smirnov_test`; a cell with an empty arm gets NaN
    statistics.  Returns the group columns, d_statistic, p_value, n0,
    n1."""
    rows = _max_gaps(df, data, index, treatment_values, mode, group_cols)
    return ranks.per_group(df, group_cols, rows, _FIELDS,
                           lambda r: _ks_test(r, mode))
