"""Sensitivity analysis for unobserved confounding: Rosenbaum bounds
(matched pairs, Wilcoxon signed-rank) and VanderWeele-Ding E-values.

Beyond the reference (its matching stack — ``lib/match.py`` — stops at
estimation): after a caliper/exact match the first referee question is
"how strong would a hidden confounder have to be to kill this?".
Rosenbaum's Γ answers it for matched designs, the E-value for any
ratio-scale estimate.

Scale design: the only row-scale work is (1) collapsing pairs to one
diff each — a ``groupBy(pair)`` that shrinks the relation to #pairs —
and (2) ranking |diff| with the shared rank kernel (:mod:`ranks`, the
positive-diff sign as its arm), where T⁺, ΣR and ΣR² are one aggregate
over the ranked distinct-value relation.  The Γ grid itself is
closed-form over those THREE scalars, so the whole sensitivity curve
costs one rank pass regardless of grid size.
E-values are pure driver math on already-estimated effects.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators import ranks


def rosenbaum_bounds(df: DataFrame, y: str, treatment: str, pair: str,
                     gammas: Sequence[float] = (1.0, 1.25, 1.5, 2.0,
                                                3.0, 4.0),
                     treatment_values: tuple = (0, 1)) -> pd.DataFrame:
    """Rosenbaum Γ sensitivity bounds for a matched-pairs design.

    For each Γ ≥ 1 (odds of differential treatment assignment within a
    pair due to an unobserved confounder), bounds the one-sided
    Wilcoxon-signed-rank p-value of the treated-minus-control effect:
    under Γ the worst-case per-pair sign probability is λ = Γ/(1+Γ), so
    with average ranks R_s of |diff| the normal approximation gives
    E[T⁺] = λΣR, Var[T⁺] = λ(1−λ)ΣR² (Rosenbaum 2002, §4).  Γ=1 is the
    ordinary signed-rank test.  Zero-diff pairs are dropped (standard),
    and so are NULL and NaN outcomes before pairing.

    ``pair`` — the match identifier (e.g. ``match_index`` emitted by the
    matching operators); with 1:k matching the control side of each pair
    is the mean of its controls.

    Returns one row per Γ: gamma, p_upper (worst case — the number to
    report), p_lower, z_upper, z_lower, and the shared n_pairs / t_plus.
    """
    if min(gammas) < 1.0:
        raise ValueError("gammas must be >= 1 (Γ=1 is no hidden bias)")
    v0, v1 = treatment_values
    tcol = F.expr(treatment) if not treatment.isidentifier() \
        else F.col(treatment)
    ycol = F.expr(y).cast("double")
    # NULL pair ids are UNMATCHED rows (the matching operators emit NULL
    # match_index for them): grouping would collapse them all into one
    # bogus pseudo-pair whose systematically-large diff takes a top rank
    # and distorts every bound
    diffs = (df.where(tcol.isin([v0, v1]) & ranks.observed(ycol)
                      & F.expr(pair).isNotNull())
               .groupBy(F.expr(pair).alias("__pair"))
               .agg(F.avg(F.when(tcol == F.lit(v1), ycol)).alias("yt"),
                    F.avg(F.when(tcol == F.lit(v0), ycol)).alias("yc"))
               .where(F.col("yt").isNotNull() & F.col("yc").isNotNull())
               .select((F.col("yt") - F.col("yc")).alias("d"))
               .where(F.col("d") != 0)
               .select(F.abs("d").alias("__v"),
                       (F.col("d") > 0).cast("int").alias("__g")))
    t, rbar = ranks.col("t"), ranks.rbar()
    with ranks.ranked(diffs) as r:
        row = r.agg(F.sum(t).alias("n"),
                    F.sum(ranks.col("c1") * rbar).alias("tplus"),
                    F.sum(t * rbar).alias("s1"),
                    F.sum(t * rbar * rbar).alias("s2")).collect()[0]
    n = float(row["n"] or 0.0)
    t_plus, s1, s2 = (float(row["tplus"] or 0.0),
                      float(row["s1"] or 0.0), float(row["s2"] or 0.0))
    if n == 0:
        raise ValueError("no informative (non-zero-diff) pairs")
    rows = []
    for gam in gammas:
        out = {"gamma": float(gam), "n_pairs": n, "t_plus": t_plus}
        for side, lam in (("upper", gam / (1.0 + gam)),
                          ("lower", 1.0 / (1.0 + gam))):
            mean = lam * s1
            var = lam * (1.0 - lam) * s2
            z = (t_plus - mean) / math.sqrt(var) if var > 0 \
                else float("inf") * (1 if t_plus > mean else -1)
            out[f"z_{side}"] = z
            out[f"p_{side}"] = float(dist.norm_sf(z))
        rows.append(out)
    return pd.DataFrame(rows)[["gamma", "p_upper", "p_lower", "z_upper",
                               "z_lower", "n_pairs", "t_plus"]]


def _e_from_rr(rr: float) -> float:
    if rr < 1.0:
        rr = 1.0 / rr
    return rr + math.sqrt(rr * (rr - 1.0)) if rr > 1.0 else 1.0


def _to_rr(x: float, measure: str, rare: bool) -> float:
    if x <= 0:
        raise ValueError("ratio-scale estimates must be positive")
    if measure == "rr" or rare:
        return x
    if measure == "or":
        return math.sqrt(x)                   # common-outcome approximation
    # hr, common outcome (VanderWeele-Ding appendix conversion)
    return (1.0 - 0.5 ** math.sqrt(x)) / (1.0 - 0.5 ** math.sqrt(1.0 / x))


def e_value(estimate: float, ci_lower: float | None = None,
            ci_upper: float | None = None, measure: str = "rr",
            rare_outcome: bool = False) -> pd.DataFrame:
    """E-value (VanderWeele & Ding 2017): the minimum strength of
    association, on the risk-ratio scale, that an unmeasured confounder
    would need with BOTH treatment and outcome to fully explain away the
    estimate.  E = RR + √(RR(RR−1)) after moving RR above 1.

    ``measure``: 'rr' | 'or' | 'hr' — OR/HR are converted to RR first
    (√OR and the Weibull-quantile HR map for common outcomes; pass
    ``rare_outcome=True`` to treat them as RR directly).  The CI E-value
    uses the limit closest to the null (1 if the CI crosses it).

    Pure driver math — feed it any already-estimated effect.
    """
    if measure not in ("rr", "or", "hr"):
        raise ValueError("measure must be 'rr', 'or' or 'hr'")
    rr = _to_rr(float(estimate), measure, rare_outcome)
    out = {"estimate_rr": rr, "e_value": _e_from_rr(rr)}
    lim = None
    if ci_lower is not None or ci_upper is not None:
        lo = _to_rr(float(ci_lower), measure, rare_outcome) \
            if ci_lower is not None else 0.0
        hi = _to_rr(float(ci_upper), measure, rare_outcome) \
            if ci_upper is not None else float("inf")
        if lo <= 1.0 <= hi:
            out["e_value_ci"] = 1.0
        else:
            lim = lo if lo > 1.0 else hi
            out["e_value_ci"] = _e_from_rr(lim)
    return pd.DataFrame([out])


def e_value_from_smd(d: float, se: float | None = None) -> pd.DataFrame:
    """E-value for a standardized mean difference: RR ≈ exp(0.91·d)
    with CI limit exp(0.91·d ∓ 1.78·se) (VanderWeele & Ding 2017,
    Table 2; 1.78 = 1.96·0.91)."""
    rr = math.exp(0.91 * float(d))
    out = {"estimate_rr": rr, "e_value": _e_from_rr(rr)}
    if se is not None:
        if se < 0:
            raise ValueError("se must be non-negative")
        lim = math.exp(0.91 * abs(float(d)) - 1.78 * float(se))
        out["e_value_ci"] = _e_from_rr(lim) if lim > 1.0 else 1.0
    return pd.DataFrame([out])
