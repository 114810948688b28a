"""ATE / IPW estimators with Poisson-bootstrap confidence intervals.

Parity target: reference ``statistics.py:1054-1217`` (IPWestimator /
ATEestimator built on BootStrapMulti). Point estimates are single
aggregations; CIs reuse the replicated-aggregation bootstrap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.resample import poisson_weight_column


def _bootstrap_ci(df: DataFrame, value_fn, B: int, seed: int,
                  alpha: float = 0.05) -> tuple[float, float, float]:
    """Poisson-bootstrap std/CI of a statistic expressed as (num/den Columns).

    ``value_fn(w)`` must return a dict of named aggregate Columns given a
    weight Column; and a finalizer combining a result row into the scalar.
    """
    aggs, finalize = value_fn
    rep = F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__rep")
    exploded = (df.select("*", rep)
                .withColumn("__u", F.rand(seed))
                .withColumn("__w", poisson_weight_column(
                    1.0, F.col("__u")).cast("double"))
                .drop("__u"))
    agged = exploded.groupBy("__rep").agg(
        *[c.alias(n) for n, c in aggs(F.col("__w")).items()])
    vals = np.array([finalize(r) for r in agged.collect()], dtype=float)
    vals = vals[np.isfinite(vals)]           # degenerate replicates drop
    if len(vals) < 2:
        return float("nan"), float("nan"), float("nan")
    lo, hi = np.quantile(vals, [alpha / 2, 1 - alpha / 2])
    return float(vals.std(ddof=1)), float(lo), float(hi)


def ate_estimator(df: DataFrame, Y: str, T: str, B: int = 100,
                  seed: int = 42) -> pd.DataFrame:
    """Difference-in-means ATE with bootstrap std/CI."""
    y = F.expr(Y).cast("double")
    t = F.expr(T).cast("double")
    # complete-case: a NULL-outcome row must not count in the arm sizes
    # while dropping out of the outcome sums (it would attenuate both
    # means) — same rule aipw_estimator already applies via count(psi)
    has_y = y.isNotNull().cast("double")

    def aggs(w):
        return {"s1": F.sum(w * y * t), "n1": F.sum(w * t * has_y),
                "s0": F.sum(w * y * (1 - t)),
                "n0": F.sum(w * (1 - t) * has_y)}

    def finalize(r):
        # a Poisson replicate can zero out a small arm entirely
        # (P = e^-n_arm per replicate) — NaN, never ZeroDivisionError;
        # NaN replicates drop out of the quantiles below
        n1 = float(r["n1"] or 0.0)
        n0 = float(r["n0"] or 0.0)
        if n1 <= 0 or n0 <= 0:
            return float("nan")
        return float(r["s1"]) / n1 - float(r["s0"]) / n0

    point_row = df.agg(*[c.alias(n) for n, c in aggs(F.lit(1.0)).items()]) \
        .collect()[0]
    point = finalize(point_row)
    std, lo, hi = _bootstrap_ci(df, (aggs, finalize), B, seed)
    return pd.DataFrame([{"ATE": point, "stddev": std,
                          "lower": lo, "upper": hi, "n_resamples": B}])


def ipw_estimator(df: DataFrame, Y: str, T: str, P: str, B: int = 100,
                  seed: int = 42, eps: float = 0.01) -> pd.DataFrame:
    """Inverse-propensity-weighted ATE (Horvitz-Thompson with the reference's
    +eps guard on the propensity) with bootstrap std/CI."""
    y = F.expr(Y).cast("double")
    t = F.expr(T).cast("double")
    p = F.expr(P).cast("double")

    has = (y.isNotNull() & p.isNotNull()).cast("double")

    def aggs(w):
        return {"a": F.sum(w * y * t / (p + eps)),
                "b": F.sum(w * y * (1 - t) / (1 - p + eps)),
                # Horvitz-Thompson normalizer over the rows that actually
                # contribute to a/b (NULL y or NULL p rows drop from the
                # sums; counting them in n would attenuate the estimate)
                "n": F.sum(w * has)}

    def finalize(r):
        n = float(r["n"] or 0.0)
        if n <= 0:
            return float("nan")               # degenerate replicate
        return (float(r["a"] or 0.0) - float(r["b"] or 0.0)) / n

    point_row = df.agg(*[c.alias(n) for n, c in aggs(F.lit(1.0)).items()]) \
        .collect()[0]
    point = finalize(point_row)
    std, lo, hi = _bootstrap_ci(df, (aggs, finalize), B, seed)
    return pd.DataFrame([{"ATE": point, "stddev": std,
                          "lower": lo, "upper": hi, "n_resamples": B}])


def aipw_estimator(df: DataFrame, Y: str, T: str, X: list[str],
                   propensity: str = "logistic", eps: float = 0.01,
                   alpha: float = 0.05) -> pd.DataFrame:
    """Doubly-robust AIPW (augmented IPW) ATE.

    ψᵢ = μ₁(xᵢ) − μ₀(xᵢ) + tᵢ(yᵢ−μ₁(xᵢ))/ê(xᵢ)
         − (1−tᵢ)(yᵢ−μ₀(xᵢ))/(1−ê(xᵢ));
    ATE = mean ψ, SE = sd(ψ)/√n (the influence-function variance — ψ IS
    the efficient influence function, so no bootstrap pass is needed),
    normal CI.  Consistent if EITHER the per-arm outcome regressions OR
    the propensity model is correct (double robustness).

    Composition of existing suff-stats kernels: two closed-form per-arm
    OLS fits + one propensity fit (``'logistic'`` IRLS, or ``'linear'``
    probability model — one more closed-form OLS), then ONE aggregation
    of the ψ column (all three models score as pure Column expressions;
    ê is clamped to [eps, 1−eps]).  Goes beyond the reference's
    IPW/ATE estimators (``statistics.py:1054-1217``) with the standard
    efficient estimator.
    """
    from fast_causal_inference_spark.operators.logistic import (
        logistic_regression,
    )
    from fast_causal_inference_spark.operators.ols import ols
    from fast_causal_inference_spark import stats_distributions as dist

    if propensity not in ("logistic", "linear"):
        raise ValueError("propensity must be 'logistic' or 'linear'")
    t = F.expr(T).cast("double")
    y = F.expr(Y).cast("double")
    rhs = "+".join(X)
    # binary contrast only: rows from other arms of a multi-valued
    # treatment would otherwise silently pollute the psi average
    work = df.withColumn("__t", t).withColumn("__y", y) \
             .where(F.col("__t").isin(0.0, 1.0))
    # BOTH per-arm outcome models come from ONE groupBy(arm) Gramian scan
    # (additive Gramians, same kernel as the T-learner); the propensity
    # fit is an independent full-corpus job and overlaps it
    from concurrent.futures import ThreadPoolExecutor

    from fast_causal_inference_spark.operators.ols import ols_grouped
    from fast_causal_inference_spark.session import in_job_group

    with ThreadPoolExecutor(max_workers=2) as pool:
        mu_f = pool.submit(in_job_group(ols_grouped), work, f"__y ~ {rhs}",
                           "__t")
        e_f = pool.submit(
            in_job_group(logistic_regression if propensity == "logistic"
                         else ols),
            work, f"__t ~ {rhs}")
        mus, e_model = mu_f.result(), e_f.result()
    missing = [v for v in (1.0, 0.0) if v not in mus]
    if missing:
        raise ValueError(
            f"aipw_estimator needs rows in both arms 0 and 1; arm(s) "
            f"{[int(v) for v in missing]} are empty after the 0/1 filter")
    mu1, mu0 = mus[1.0], mus[0.0]
    e_col = (e_model.predict_proba_column()
             if propensity == "logistic" else e_model.predict_column())
    e = F.greatest(F.lit(float(eps)),
                   F.least(F.lit(1.0 - eps), e_col))
    m1 = mu1.predict_column()
    m0 = mu0.predict_column()
    psi = (m1 - m0
           + F.col("__t") * (F.col("__y") - m1) / e
           - (1 - F.col("__t")) * (F.col("__y") - m0) / (1 - e))
    # n counts rows with a defined psi (null Y/X rows would otherwise
    # deflate the influence-function SE)
    row = work.agg(F.count(psi).alias("n"),
                   F.avg(psi).alias("ate"),
                   F.stddev_samp(psi).alias("sd")).collect()[0]
    n, ate, sd = float(row["n"]), float(row["ate"]), float(row["sd"])
    se = sd / np.sqrt(n)
    z = float(dist.norm_ppf(1 - alpha / 2))
    return pd.DataFrame([{"ATE": ate, "stderr": se,
                          "lower": ate - z * se, "upper": ate + z * se,
                          "n": n, "propensity": propensity}])
