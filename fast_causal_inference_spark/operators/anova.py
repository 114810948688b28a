"""Multi-arm tests: one-way ANOVA (classic + Welch), Bartlett's test.

The two-sample t-test family generalizes to k arms here; all three tests
consume the SAME sufficient statistic — one ``groupBy(arm)`` pass of
(n, mean, variance) — so cost is one map-side-combined aggregation and
O(k) driver math regardless of row count.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators import ranks
from fast_causal_inference_spark.operators.design import persisted

__all__ = ["anova_oneway", "bartlett_test", "dunnett_test",
           "kruskal_wallis_test"]


def _arm_stats(df: DataFrame, y: str, index: str) -> pd.DataFrame:
    ycol = F.expr(y).cast("double")
    idx = F.col(index) if index.isidentifier() else F.expr(index)
    out = (df.select(idx.cast("string").alias("arm"), ycol.alias("y"))
           .where(F.col("arm").isNotNull() & F.col("y").isNotNull())
           .groupBy("arm")
           .agg(F.count(F.lit(1)).cast("double").alias("n"),
                F.avg("y").alias("mean"),
                F.var_samp("y").alias("var"))
           .toPandas())
    if len(out) < 2:
        raise ValueError("need at least 2 arms")
    if (out.n < 2).any():
        raise ValueError("every arm needs at least 2 rows")
    return out


def anova_oneway(df: DataFrame, y: str, index: str,
                 equal_var: bool = True) -> pd.DataFrame:
    """One-way ANOVA across the levels of ``index``.

    ``equal_var=True`` → classic F-test (between/within mean squares);
    ``False`` → Welch's ANOVA (Welch 1951) with Satterthwaite-style
    denominator df — the k-arm generalization of the Welch t-test.
    Returns one row: f_stat, df_between, df_within, p_value, n, k,
    eta_squared (effect size, classic only)."""
    s = _arm_stats(df, y, index)
    k = len(s)
    n = float(s.n.sum())
    if equal_var:
        grand = float((s.n * s["mean"]).sum() / n)
        ss_between = float((s.n * (s["mean"] - grand) ** 2).sum())
        ss_within = float(((s.n - 1) * s["var"]).sum())
        df_b, df_w = float(k - 1), float(n - k)
        if ss_within <= 0 or df_w <= 0:
            raise ValueError("zero within-group variance")
        f = (ss_between / df_b) / (ss_within / df_w)
        p = float(dist.f_sf(f, df_b, df_w))
        eta2 = ss_between / (ss_between + ss_within)
        return pd.DataFrame([{
            "f_stat": f, "df_between": df_b, "df_within": df_w,
            "p_value": p, "n": n, "k": float(k), "eta_squared": eta2,
        }])
    # Welch: weights w_i = n_i / s_i², weighted grand mean
    if (s["var"] <= 0).any():
        raise ValueError("Welch ANOVA needs positive variance in every arm")
    w = (s.n / s["var"]).to_numpy()
    m = s["mean"].to_numpy()
    sw = w.sum()
    grand = float((w * m).sum() / sw)
    num = float((w * (m - grand) ** 2).sum()) / (k - 1)
    lam = float((((1 - w / sw) ** 2) / (s.n - 1)).sum())
    den = 1.0 + 2.0 * (k - 2) / (k * k - 1.0) * lam
    f = num / den
    df_b = float(k - 1)
    df_w = float((k * k - 1.0) / (3.0 * lam))
    p = float(dist.f_sf(f, df_b, df_w))
    return pd.DataFrame([{
        "f_stat": f, "df_between": df_b, "df_within": df_w,
        "p_value": p, "n": n, "k": float(k),
        "eta_squared": float("nan"),
    }])


def bartlett_test(df: DataFrame, y: str, index: str) -> pd.DataFrame:
    """Bartlett's test of equal variances across arms (the homogeneity
    check before a classic ANOVA)."""
    s = _arm_stats(df, y, index)
    if (s["var"] <= 0).any():
        raise ValueError("Bartlett needs positive variance in every arm")
    k = len(s)
    n = float(s.n.sum())
    sp2 = float(((s.n - 1) * s["var"]).sum() / (n - k))
    stat = float((n - k) * math.log(sp2)
                 - ((s.n - 1) * np.log(s["var"])).sum())
    c = 1.0 + (float((1.0 / (s.n - 1)).sum()) - 1.0 / (n - k)) \
        / (3.0 * (k - 1))
    stat /= c
    p = float(dist.chi2_sf(stat, k - 1))
    return pd.DataFrame([{
        "statistic": stat, "df": float(k - 1), "p_value": p,
        "n": n, "k": float(k),
    }])


def kruskal_wallis_test(df: DataFrame, y: str, index: str) -> pd.DataFrame:
    """Kruskal-Wallis rank test across k arms — the nonparametric
    one-way ANOVA (k-arm Mann-Whitney), tie-corrected, chi-square null.

    The per-(value, arm) counts are joined to the average ranks of the
    shared rank kernel (:mod:`ranks`) and summed per arm in ONE aggregate;
    the tie term rides the same aggregate.  The counts are cached, one
    partition per core (AQE does not coalesce a cached relation), so the
    ranking and the join back read the source once; every sum is exact
    (counts and half-integer ranks), so the partitioning cannot move H.
    NULL and NaN values and NULL arms are dropped.  Returns statistic,
    df, p_value, n, k."""
    idx = F.col(index) if index.isidentifier() else F.expr(index)
    v = F.expr(y).cast("double")
    t, c = ranks.col("t"), F.col("c")
    with persisted() as keep:
        counts = keep(
            df.select(idx.cast("string").alias("arm"), v.alias("__v"))
            .where(F.col("arm").isNotNull() & ranks.observed(v))
            .groupBy("__v", "arm")
            .agg(F.count(F.lit(1)).cast("double").alias("c"))
            .coalesce(df.sparkSession.sparkContext.defaultParallelism)
            .persist())
        with ranks.ranked(counts, weight="c") as r:
            # the per-(v, arm) share c/t of each value's tie term sums to
            # exactly t^3 - t over the arms
            arm_rows = (counts.join(r, "__v").groupBy("arm")
                        .agg(F.sum(c).alias("n_a"),
                             F.sum(c * ranks.rbar()).alias("R"),
                             F.sum((t ** 3 - t) * c / t).alias("ties"))
                        .collect())
    k = len(arm_rows)
    if k < 2:
        raise ValueError("need at least 2 arms")
    arm_rows.sort(key=lambda r: r["arm"])
    n = sum(float(r["n_a"]) for r in arm_rows)
    h = 12.0 / (n * (n + 1.0)) * sum(float(r["R"]) * float(r["R"])
                                     / float(r["n_a"]) for r in arm_rows) \
        - 3.0 * (n + 1.0)
    tie_sum = sum(float(r["ties"]) for r in arm_rows)
    denom = 1.0 - tie_sum / (n ** 3 - n) if n > 1 else 1.0
    if denom <= 0:
        raise ValueError("all values tied — statistic undefined")
    h /= denom
    p_val = float(dist.chi2_sf(h, k - 1))
    return pd.DataFrame([{
        "statistic": float(h), "df": float(k - 1), "p_value": p_val,
        "n": float(n), "k": float(k),
    }])


def dunnett_test(df: DataFrame, y: str, index: str, control,
                 alpha: float = 0.05, n_mc: int = 200_000,
                 seed: int = 42) -> pd.DataFrame:
    """Dunnett many-to-one comparisons: every treatment arm vs ONE shared
    control, with familywise error control that exploits the comparisons'
    correlation through the common control (sharper than Bonferroni).

    ONE ``groupBy(arm)`` sufficient-statistics pass gives each contrast's
    z = (m_i − m_0)/√(v_i/n_i + v_0/n_0); the joint null distribution of
    the |z| maximum is an equicorrelated-by-the-control multivariate
    normal, evaluated by a SEEDED Monte-Carlo on the driver (z_i = λ_i·Z₀
    + √(1−λ_i²)·Z_i with λ_i = √(w₀/(w₀+w_i)), w = var/n — exact in the
    large-sample limit the reference's z-style tests already live in).

    Returns one row per treatment arm: arm, estimate, stderr, z,
    p_adjusted (familywise), critical value, significant, plus the naive
    per-comparison p for reference.
    """
    import numpy as np

    from fast_causal_inference_spark import stats_distributions as dist

    stats = _arm_stats(df, y, index)
    ctl = str(control)
    if ctl not in set(stats.arm):
        raise ValueError(f"control arm {control!r} not present; arms: "
                         f"{sorted(stats.arm)}")
    c = stats[stats.arm == ctl].iloc[0]
    trt = stats[stats.arm != ctl].reset_index(drop=True)
    if len(trt) == 0:
        raise ValueError("need at least one treatment arm")
    w0 = float(c["var"] / c["n"])
    wi = (trt["var"] / trt["n"]).to_numpy(dtype=float)
    if w0 + wi.min() <= 0:
        raise ValueError(
            "dunnett_test: a contrast has zero pooled variance (both "
            "arms constant) — the z statistic is undefined; check the "
            "metric or drop the degenerate arm")
    est = (trt["mean"] - float(c["mean"])).to_numpy(dtype=float)
    se = np.sqrt(wi + w0)
    z = est / se
    lam = np.sqrt(w0 / (w0 + wi))

    rng = np.random.default_rng(seed)
    z0 = rng.standard_normal(n_mc)
    zi = rng.standard_normal((n_mc, len(trt)))
    sims = np.abs(lam[None, :] * z0[:, None]
                  + np.sqrt(1.0 - lam ** 2)[None, :] * zi)
    maxes = sims.max(axis=1)
    # familywise p per contrast: P(max |Z| >= |z_i|); critical value at
    # alpha from the same draw
    maxes_sorted = np.sort(maxes)
    p_adj = 1.0 - np.searchsorted(maxes_sorted, np.abs(z),
                                  side="left") / n_mc
    crit = float(np.quantile(maxes, 1.0 - alpha))
    p_raw = 2.0 * np.asarray(dist.norm_sf(np.abs(z)))
    # the familywise p can never sit below the per-comparison p; the MC
    # estimate floors at 1/n_mc, so clamp with the analytic bound
    p_adj = np.maximum(p_adj, p_raw)
    return pd.DataFrame({
        "arm": trt["arm"], "n": trt["n"],
        "estimate": est, "stderr": se, "z": z,
        "p_raw": p_raw,
        "p_adjusted": p_adj, "critical": crit,
        "significant": np.abs(z) > crit,
    })
