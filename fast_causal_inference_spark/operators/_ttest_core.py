"""Shared numpy core of the driver-side t-test finalizers.

Implements the reference's CUPED (control-variate) math — θ estimated from the
POOLED sample, per-arm means shifted by θ·(f_X(μ_arm) − f_X(μ_pool)) and
variances reduced by 2θΣ_XY − θΣ_XXθᵀ — cf.
``src/udf/starrocks/be/src/exprs/agg/ttest_common.h:42-197`` (behavioral spec
only; implementation is fresh numpy).
"""

from __future__ import annotations

import math

import numpy as np

from fast_causal_inference_spark.formula import Node
from fast_causal_inference_spark.operators.suffstats import NumStats, merge_stats
from fast_causal_inference_spark import stats_distributions as dist

ALTERNATIVES = ("two-sided", "less", "greater")


def arm_mean_var(stats: NumStats, ynode: Node,
                 xnodes: list[Node] | None,
                 pooled: NumStats | None = None,
                 theta: np.ndarray | None = None) -> tuple[float, float]:
    """Mean and delta-method variance of one arm, optionally CUPED-adjusted."""
    mean = stats.formula_value(ynode)
    var = stats.delta_var(ynode)
    if xnodes:
        assert pooled is not None and theta is not None
        x_arm = np.array([n_.value(list(stats.means)) for n_ in xnodes])
        x_pool = np.array([n_.value(list(pooled.means)) for n_ in xnodes])
        mean = mean - float(theta @ (x_arm - x_pool))
        cov_xx = np.array([[stats.delta_cov(a, b) for b in xnodes] for a in xnodes])
        cov_xy = np.array([stats.delta_cov(ynode, a) for a in xnodes])
        var = var + float(theta @ cov_xx @ theta) - 2.0 * float(theta @ cov_xy)
    return mean, var


def cuped_theta(pooled: NumStats, ynode: Node, xnodes: list[Node]) -> np.ndarray:
    """θ = Σ_XX⁻¹ Σ_XY from pooled delta-method covariances."""
    cov_xx = np.array([[pooled.delta_cov(a, b) for b in xnodes] for a in xnodes])
    cov_xy = np.array([pooled.delta_cov(ynode, a) for a in xnodes])
    try:
        theta = np.linalg.solve(cov_xx, cov_xy)
    except np.linalg.LinAlgError:
        theta = np.linalg.pinv(cov_xx) @ cov_xy
    return np.nan_to_num(theta, nan=0.0)


def p_value(t_stat: float, alternative: str) -> float:
    """Normal-approximation p-value (matches reference calc_pvalue)."""
    if math.isnan(t_stat):
        return float("nan")
    if math.isinf(t_stat):
        return 0.0
    if alternative == "two-sided":
        return float(2.0 * dist.norm_sf(abs(t_stat)))
    if alternative == "less":
        return float(dist.norm_cdf(t_stat))
    if alternative == "greater":
        return float(dist.norm_sf(t_stat))
    return float("nan")


def edgeworth_p(t_stat: float, gamma_eff: float,
                alternative: str) -> float:
    """One-term Edgeworth-corrected p-value for the STUDENTIZED
    statistic: P(T <= x) ~ Phi(x) + gamma_eff*(2x^2+1)/6 * phi(x)
    (Hall, *The Bootstrap and Edgeworth Expansion*, the studentized
    polynomial q1), where ``gamma_eff`` is the third standardized
    cumulant of the estimator (gamma/sqrt(n) in the one-sample case;
    (mu3_1/n1^2 - mu3_0/n0^2)/V^(3/2) for the two-sample difference).

    The q1 term is even in x, so the TWO-SIDED p-value is unchanged at
    first order (the upper- and lower-tail corrections cancel); the
    correction matters for one-sided alternatives on skewed data.

    Reference note: the gateway grammar parses an ``edgeworthtest``
    token (Parser.jj:2200) and forwards a trailing boolean, but the
    engine snapshot under /root/reference contains no Edgeworth branch
    — this is a real implementation of the surface the reference only
    plumbs."""
    if math.isnan(t_stat):
        return float("nan")
    if math.isinf(t_stat) or alternative == "two-sided":
        return p_value(t_stat, alternative)
    phi = math.exp(-0.5 * t_stat * t_stat) / math.sqrt(2.0 * math.pi)
    fl = dist.norm_cdf(t_stat) \
        + gamma_eff * (2.0 * t_stat * t_stat + 1.0) / 6.0 * phi
    if alternative == "less":
        return float(min(1.0, max(0.0, fl)))
    if alternative == "greater":
        return float(min(1.0, max(0.0, 1.0 - fl)))
    return float("nan")


def confidence_interval(estimate: float, stderr: float, count: float,
                        alpha: float, alternative: str) -> tuple[float, float]:
    """Student-t CI with df = count − 1 (matches reference calc_confidence_interval)."""
    if alpha <= 0 or count <= 1 or not math.isfinite(stderr):
        return float("nan"), float("nan")
    df = count - 1.0
    if alternative == "two-sided":
        q = float(dist.t_ppf(1.0 - alpha / 2.0, df))
        return estimate - q * stderr, estimate + q * stderr
    q = float(dist.t_ppf(1.0 - alpha, df))
    if alternative == "less":
        return float("-inf"), estimate + q * stderr
    if alternative == "greater":
        return estimate - q * stderr, float("inf")
    return float("nan"), float("nan")


def ttest_1samp_result(stats: NumStats, ynode: Node, xnodes: list[Node] | None,
                       mu: float, alternative: str, alpha: float) -> dict:
    if xnodes:
        pooled = stats
        theta = cuped_theta(pooled, ynode, xnodes)
        mean, var = arm_mean_var(stats, ynode, xnodes, pooled, theta)
    else:
        mean, var = arm_mean_var(stats, ynode, None)
    stderr = math.sqrt(var) if var >= 0 else float("nan")
    estimate = mean - mu
    if math.isnan(stderr):
        t_stat = float("nan")
    elif stderr > 0:
        t_stat = estimate / stderr
    else:
        t_stat = 0.0 if abs(estimate) < 2.3e-16 \
            else math.copysign(float("inf"), estimate)
    lower, upper = confidence_interval(estimate, stderr, stats.n, alpha, alternative)
    return {
        "n": stats.n, "mean": mean, "estimate": estimate, "stderr": stderr,
        "t_stat": t_stat, "p_value": p_value(t_stat, alternative),
        "lower": lower, "upper": upper,
    }


def ttest_2samp_result(stats0: NumStats, stats1: NumStats, ynode: Node,
                       xnodes: list[Node] | None, alternative: str,
                       alpha: float) -> dict:
    if xnodes:
        pooled = merge_stats(stats0, stats1)
        theta = cuped_theta(pooled, ynode, xnodes)
        mean0, var0 = arm_mean_var(stats0, ynode, xnodes, pooled, theta)
        mean1, var1 = arm_mean_var(stats1, ynode, xnodes, pooled, theta)
    else:
        mean0, var0 = arm_mean_var(stats0, ynode, None)
        mean1, var1 = arm_mean_var(stats1, ynode, None)
    stderr = math.sqrt(var0 + var1) if var0 + var1 >= 0 else float("nan")
    estimate = mean1 - mean0
    if math.isnan(stderr) or math.isnan(estimate):
        t_stat = float("nan")
    elif stderr > 0:
        t_stat = estimate / stderr
    else:
        t_stat = 0.0 if abs(estimate) < 2.3e-16 \
            else math.copysign(float("inf"), estimate)
    count = stats0.n + stats1.n
    lower, upper = confidence_interval(estimate, stderr, count, alpha, alternative)
    return {
        "n0": stats0.n, "n1": stats1.n, "mean0": mean0, "mean1": mean1,
        "estimate": estimate, "stderr": stderr, "t_stat": t_stat,
        "p_value": p_value(t_stat, alternative), "lower": lower, "upper": upper,
    }
