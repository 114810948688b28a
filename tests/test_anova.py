"""ANOVA / Bartlett vs hand-computed oracles and known textbook values."""

import numpy as np
import pandas as pd
import pytest

from fast_causal_inference_spark.operators.anova import (
    anova_oneway,
    bartlett_test,
)

# scipy.stats.f_oneway([64,72,68,77,56,95], [78,91,97,82,85,77],
#                      [75,93,78,71,63,76]) → F=3.5163, p=0.0564  (classic
# textbook plant-growth-style fixture, values recomputed by hand below)
GROUPS = {
    "a": [64, 72, 68, 77, 56, 95],
    "b": [78, 91, 97, 82, 85, 77],
    "c": [75, 93, 78, 71, 63, 76],
}


def _spark_df(spark):
    rows = [{"arm": g, "y": float(v)} for g, vs in GROUPS.items()
            for v in vs]
    return spark.createDataFrame(pd.DataFrame(rows)).repartition(3)


def _hand_f():
    ys = [np.array(v, dtype=float) for v in GROUPS.values()]
    n = sum(len(v) for v in ys)
    k = len(ys)
    grand = np.concatenate(ys).mean()
    ssb = sum(len(v) * (v.mean() - grand) ** 2 for v in ys)
    ssw = sum(((v - v.mean()) ** 2).sum() for v in ys)
    return (ssb / (k - 1)) / (ssw / (n - k)), k, n


def test_anova_classic_matches_hand(spark):
    out = anova_oneway(_spark_df(spark), "y", "arm")
    f, k, n = _hand_f()
    assert out.f_stat[0] == pytest.approx(f, rel=1e-9)
    assert out.df_between[0] == k - 1
    assert out.df_within[0] == n - k
    assert 0.0 < out.p_value[0] < 1.0
    # eta² = SSB/(SSB+SSW) consistency
    assert 0.0 < out.eta_squared[0] < 1.0


def test_anova_two_arms_equals_student_t_squared(spark, ab_df):
    """With k=2 and equal variances assumed, F == t² of the pooled
    t-test and p-values agree."""
    from fast_causal_inference_spark.operators.ttest import student_ttest

    a = anova_oneway(ab_df, "y", "treatment")
    t = student_ttest(ab_df, "y", "treatment").toPandas()
    t_stat = float(t["t_stat"][0] if "t_stat" in t.columns
                   else t["t-statistic"][0])
    assert a.f_stat[0] == pytest.approx(t_stat ** 2, rel=1e-6)
    p_t = float(t["p_value"][0] if "p_value" in t.columns
                else t["p-value"][0])
    assert a.p_value[0] == pytest.approx(p_t, rel=1e-4)


def test_welch_anova_two_arms_equals_welch_t(spark, ab_df):
    from fast_causal_inference_spark.operators.ttest import welch_ttest

    a = anova_oneway(ab_df, "y", "treatment", equal_var=False)
    t = welch_ttest(ab_df, "y", "treatment").toPandas()
    t_stat = float(t["t_stat"][0] if "t_stat" in t.columns
                   else t["t-statistic"][0])
    assert a.f_stat[0] == pytest.approx(t_stat ** 2, rel=1e-6)


def test_bartlett_matches_hand(spark):
    out = bartlett_test(_spark_df(spark), "y", "arm")
    ys = [np.array(v, dtype=float) for v in GROUPS.values()]
    k = len(ys)
    n = sum(len(v) for v in ys)
    vars_ = [v.var(ddof=1) for v in ys]
    ns = [len(v) for v in ys]
    sp2 = sum((ni - 1) * vi for ni, vi in zip(ns, vars_)) / (n - k)
    num = (n - k) * np.log(sp2) - sum(
        (ni - 1) * np.log(vi) for ni, vi in zip(ns, vars_))
    c = 1 + (sum(1 / (ni - 1) for ni in ns) - 1 / (n - k)) / (3 * (k - 1))
    assert out.statistic[0] == pytest.approx(num / c, rel=1e-9)
    assert out.df[0] == k - 1


def test_anova_validates(spark):
    one = spark.createDataFrame(pd.DataFrame(
        {"arm": ["a"] * 5, "y": [1.0, 2, 3, 4, 5]}))
    with pytest.raises(ValueError, match="2 arms"):
        anova_oneway(one, "y", "arm")


def _kw_hand(groups):
    """Hand Kruskal-Wallis with average ranks + tie correction."""
    all_v = np.concatenate([np.asarray(v, dtype=float) for v in groups])
    order = pd.Series(all_v).rank(method="average").to_numpy()
    n = len(all_v)
    h = 0.0
    i = 0
    for v in groups:
        r = order[i:i + len(v)]
        h += r.sum() ** 2 / len(v)
        i += len(v)
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    _, t = np.unique(all_v, return_counts=True)
    h /= 1.0 - (t ** 3 - t).sum() / (n ** 3 - n)
    return h


def test_kruskal_matches_hand_with_ties(spark, monkeypatch):
    from fast_causal_inference_spark.operators import ranks
    from fast_causal_inference_spark.operators.anova import (
        kruskal_wallis_test,
    )

    groups = [[1.0, 2, 2, 3, 7], [2.0, 4, 4, 5], [5.0, 6, 6, 7, 8, 8]]
    rows = [{"arm": f"g{i}", "y": float(v)}
            for i, vs in enumerate(groups) for v in vs]
    d = spark.createDataFrame(pd.DataFrame(rows)).repartition(3)
    monkeypatch.setattr(ranks, "estimate_scan_splits", lambda df: 1)
    out = kruskal_wallis_test(d, "y", "arm")
    assert out.statistic[0] == pytest.approx(_kw_hand(groups), rel=1e-9)
    assert out.k[0] == 3
    # distributed path must agree with the relational one
    monkeypatch.setattr(ranks, "estimate_scan_splits", lambda df: 4)
    out2 = kruskal_wallis_test(d, "y", "arm")
    assert out2.statistic[0] == pytest.approx(out.statistic[0], rel=1e-9)


def test_kruskal_two_arms_equals_mw_z_squared(spark, ab_df):
    """k=2: H equals the tie-corrected Mann-Whitney z² (no continuity
    correction), and the chi2(1) p equals the two-sided normal p."""
    from fast_causal_inference_spark.operators.anova import (
        kruskal_wallis_test,
    )
    from fast_causal_inference_spark.operators.mann_whitney import (
        mann_whitney_utest,
    )

    kw = kruskal_wallis_test(ab_df, "y", "treatment")
    mw = mann_whitney_utest(ab_df, "y", "treatment",
                            continuity_correction=False,
                            method="asymptotic")
    assert kw.statistic[0] == pytest.approx(float(mw.z[0]) ** 2, rel=1e-9)
    assert kw.p_value[0] == pytest.approx(float(mw.p_value[0]), rel=1e-6)


def test_kruskal_distributed_matches_relational_big(spark, monkeypatch):
    from fast_causal_inference_spark.operators import ranks
    from fast_causal_inference_spark.operators.anova import (
        kruskal_wallis_test,
    )

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({
        "arm": rng.choice(["a", "b", "c", "d"], 5000),
        "y": np.round(rng.normal(size=5000), 2),   # rounded → heavy ties
    })
    d = spark.createDataFrame(pdf).repartition(6)
    monkeypatch.setattr(ranks, "estimate_scan_splits", lambda df: 1)
    a = kruskal_wallis_test(d, "y", "arm")
    monkeypatch.setattr(ranks, "estimate_scan_splits", lambda df: 8)
    b = kruskal_wallis_test(d, "y", "arm")
    assert a.statistic[0] == pytest.approx(b.statistic[0], rel=1e-9)


def test_dunnett_many_to_one(spark):
    """Dunnett: z stats vs numpy; the familywise critical value sits
    between the per-comparison and Bonferroni critical values; the
    adjusted p agrees with an independent Monte-Carlo estimate."""
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark import stats_distributions as dist
    from fast_causal_inference_spark.operators.anova import dunnett_test

    rng = np.random.default_rng(113)
    n = 2000
    arm = rng.integers(0, 4, n)        # 0 = control, 3 treatments
    y = rng.normal(0, 1, n) + (arm == 2) * 0.3
    pdf = pd.DataFrame({"arm": arm, "y": y})
    df = spark.createDataFrame(pdf)
    out = dunnett_test(df, "y", "arm", control=0).sort_values("arm")
    assert list(out.arm) == ["1", "2", "3"]

    # z oracle
    g = pdf.groupby("arm").y.agg(["mean", "var", "count"])
    for _, r in out.iterrows():
        a = int(r.arm)
        se = np.sqrt(g["var"][a] / g["count"][a]
                     + g["var"][0] / g["count"][0])
        zz = (g["mean"][a] - g["mean"][0]) / se
        assert float(r.z) == pytest.approx(zz, rel=1e-9)
    # only the true +0.3 arm is flagged
    assert list(out.significant) == [False, True, False]
    # critical value: per-comparison < Dunnett < Bonferroni
    z1 = float(dist.norm_ppf(1 - 0.05 / 2))
    zb = float(dist.norm_ppf(1 - 0.05 / 6))
    assert z1 < float(out.critical.iloc[0]) < zb
    # p_adjusted >= p_raw always
    assert (out.p_adjusted.to_numpy() >= out.p_raw.to_numpy() - 1e-12).all()
