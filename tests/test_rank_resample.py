"""Mann-Whitney / KS / xexpt / bootstrap / permutation vs pandas-numpy
oracles; the rank kernel's size estimate."""

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from fast_causal_inference_spark.operators import ranks as kernel
from fast_causal_inference_spark.operators.kstest import kolmogorov_smirnov_test
from fast_causal_inference_spark.operators.mann_whitney import (
    mann_whitney_utest,
    mann_whitney_utest_grouped,
)
from fast_causal_inference_spark.operators.resample import (
    boot_strap,
    boot_strap_summary,
    permutation,
)
from fast_causal_inference_spark.operators.ttest import ttest_2samp
from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp
from fast_causal_inference_spark import stats_distributions as dist


def mw_oracle(x0, x1):
    """Exact U and tie-corrected z via pandas ranks."""
    v = np.concatenate([x0, x1])
    g = np.concatenate([np.zeros(len(x0)), np.ones(len(x1))])
    ranks = pd.Series(v).rank(method="average").to_numpy()
    r1 = ranks[g == 1].sum()
    n0, n1 = float(len(x0)), float(len(x1))
    n = n0 + n1
    u1 = r1 - n1 * (n1 + 1) / 2
    _, t = np.unique(v, return_counts=True)
    tie = float((t**3 - t).sum())
    sd = math.sqrt(n0 * n1 / 12 * ((n + 1) - tie / (n * (n - 1))))
    return u1, sd


def test_mann_whitney_exact_u(spark, ab_pdf, ab_df):
    res = mann_whitney_utest(ab_df, "y", "treatment").iloc[0]
    x0 = ab_pdf[ab_pdf.treatment == 0].y.to_numpy()
    x1 = ab_pdf[ab_pdf.treatment == 1].y.to_numpy()
    u1, sd = mw_oracle(x0, x1)
    assert res.u1 == pytest.approx(u1, abs=1e-6)
    assert res.u0 == pytest.approx(len(x0) * len(x1) - u1, abs=1e-6)
    mu = len(x0) * len(x1) / 2
    z = (abs(u1 - mu) - 0.5) / sd
    assert res.z == pytest.approx(z, rel=1e-9)
    assert res.p_value == pytest.approx(2 * float(dist.norm_sf(z)), rel=1e-9)


def test_mann_whitney_with_heavy_ties(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"t": rng.integers(0, 2, 3000),
                        "v": rng.integers(0, 5, 3000).astype(float)})
    df = spark.createDataFrame(pdf).repartition(6)
    res = mann_whitney_utest(df, "v", "t").iloc[0]
    u1, sd = mw_oracle(pdf[pdf.t == 0].v.to_numpy(), pdf[pdf.t == 1].v.to_numpy())
    assert res.u1 == pytest.approx(u1, abs=1e-6)
    n0 = (pdf.t == 0).sum()
    n1 = (pdf.t == 1).sum()
    z = (abs(u1 - n0 * n1 / 2) - 0.5) / sd
    assert res.z == pytest.approx(z, rel=1e-9)


def test_mann_whitney_alternatives(spark, ab_df):
    less = mann_whitney_utest(ab_df, "y", "treatment", alternative="less").iloc[0]
    greater = mann_whitney_utest(ab_df, "y", "treatment", alternative="greater").iloc[0]
    # continuity correction makes them not exactly complementary; close though
    assert less.p_value + greater.p_value == pytest.approx(1.0, abs=1e-3)


def ks_oracle(x0, x1):
    v = np.sort(np.unique(np.concatenate([x0, x1])))
    f0 = np.searchsorted(np.sort(x0), v, side="right") / len(x0)
    f1 = np.searchsorted(np.sort(x1), v, side="right") / len(x1)
    return float(np.abs(f0 - f1).max())


def test_ks_statistic(spark, ab_pdf, ab_df):
    res = kolmogorov_smirnov_test(ab_df, "y", "treatment",
                                  mode="asymp").iloc[0]
    x0 = ab_pdf[ab_pdf.treatment == 0].y.to_numpy()
    x1 = ab_pdf[ab_pdf.treatment == 1].y.to_numpy()
    d = ks_oracle(x0, x1)
    assert res.d_statistic == pytest.approx(d, abs=1e-12)
    en = math.sqrt(len(x0) * len(x1) / (len(x0) + len(x1)))
    lam = (en + 0.12 + 0.11 / en) * d
    assert res.p_value == pytest.approx(float(dist.kolmogorov_sf(lam)), rel=1e-9)


def test_ks_detects_shift(spark, ab_df):
    shifted = ab_df.selectExpr("treatment", "y + treatment * 5.0 AS y2")
    res = kolmogorov_smirnov_test(shifted, "y2", "treatment").iloc[0]
    assert res.p_value < 1e-6


def test_xexpt_avg_consistent_with_ttest(spark, ab_df):
    rep = xexpt_ttest_2samp(ab_df, "numerator", "denominator", "treatment",
                            "denominator_pre").iloc[0]
    tt = ttest_2samp(ab_df, "avg(numerator)/avg(denominator)",
                     "treatment").collect()[0].asDict()
    assert rep.mean0 == pytest.approx(tt["mean0"], rel=1e-10)
    assert rep["diff"] == pytest.approx(tt["estimate"], rel=1e-10)
    assert rep.t_stat == pytest.approx(tt["t_stat"], rel=1e-10)
    assert rep.p_value == pytest.approx(tt["p_value"], rel=1e-10)
    assert rep.lower == pytest.approx(tt["lower"], rel=1e-9)
    # self-consistency: power evaluated at the reported MDE equals target 0.8
    rep2 = xexpt_ttest_2samp(ab_df, "numerator", "denominator", "treatment",
                             "denominator_pre", mde=abs(rep["mde"])).iloc[0]
    assert rep2.power == pytest.approx(0.8, abs=0.01)


def test_xexpt_arm_discovery_needs_complete_rows(spark, ab_df):
    """Arm discovery keys the complete-case statistics by index value: an
    index value whose metric rows are all NULL is not an arm, so the
    report fails clearly instead of coming back all-NaN."""
    from pyspark.sql import functions as F

    df = ab_df.withColumn("numerator", F.when(F.col("treatment") == 0,
                                              F.col("numerator")))
    with pytest.raises(ValueError, match="complete metric rows"):
        xexpt_ttest_2samp(df, "numerator", "denominator", "treatment",
                          "denominator_pre")


def test_xexpt_cuped_tightens(spark, ab_df):
    plain = xexpt_ttest_2samp(ab_df, "numerator", "denominator", "treatment",
                              "denominator_pre").iloc[0]
    cuped = xexpt_ttest_2samp(ab_df, "numerator", "denominator", "treatment",
                              "denominator_pre",
                              X="avg(numerator_pre)/avg(denominator_pre)").iloc[0]
    assert (cuped.upper - cuped.lower) < (plain.upper - plain.lower)


def test_xexpt_sum_metric(spark, ab_df):
    rep = xexpt_ttest_2samp(ab_df, "numerator", "denominator", "treatment",
                            "denominator_pre", metric_type="sum",
                            group_buckets=(1, 1)).iloc[0]
    assert np.isfinite(rep.t_stat)
    assert 0 <= rep.p_value <= 1
    assert rep.ratio0 == 1.0 and rep.ratio1 == 1.0
    # bucket-mean metric approximates the arm totals ratio
    assert rep.mean1 / rep.mean0 == pytest.approx(
        rep.numerator1 / rep.numerator0, rel=1e-6)


def test_bootstrap_deterministic_and_centered(spark, ab_pdf, ab_df):
    reps = boot_strap(ab_df, "avg(numerator)/avg(denominator)",
                      n_resamples=50, seed=11).toPandas()
    assert len(reps) == 50
    point = ab_pdf.numerator.mean() / ab_pdf.denominator.mean()
    assert reps.value.mean() == pytest.approx(point, rel=0.02)
    reps2 = boot_strap(ab_df, "avg(numerator)/avg(denominator)",
                       n_resamples=50, seed=11).toPandas()
    assert reps.sort_values("replica_id").value.to_numpy() == pytest.approx(
        reps2.sort_values("replica_id").value.to_numpy())


def test_bootstrap_summary_matches_delta_method(spark, ab_df):
    """Bootstrap SE of a ratio metric ≈ delta-method SE."""
    from fast_causal_inference_spark.operators.deltamethod import delta_method

    summ = boot_strap_summary(ab_df, "avg(numerator)/avg(denominator)",
                              n_resamples=200, seed=5)
    se_delta = delta_method(ab_df, "avg(numerator)/avg(denominator)",
                            std=True).collect()[0][0]
    assert summ.stderr.iloc[0] == pytest.approx(se_delta, rel=0.25)
    assert summ.lower.iloc[0] < summ.estimate.iloc[0] < summ.upper.iloc[0]


def test_permutation_null_and_effect(spark, ab_df):
    null = permutation(ab_df, "avg(x1)", "treatment", permutation_num=60,
                       seed=3).iloc[0]
    assert null.p_value > 0.05      # x1 independent of treatment
    eff = permutation(ab_df, "avg(y)", "treatment", permutation_num=60,
                      seed=3).iloc[0]
    assert eff.p_value <= 1.0 / 60 + 1e-9   # y has a strong true effect
    assert abs(eff.observed_diff) > 5 * null.perm_std



def test_ks_exact_mode_matches_enumeration(spark):
    """Exact KS null probability vs brute-force path enumeration (n=5+5)."""
    import itertools

    from fast_causal_inference_spark.operators.kstest import _exact_ks_pvalue

    n0 = n1 = 5
    for d in (0.2000001, 0.4000001, 0.6000001, 0.8000001):
        total = 0
        exceed = 0
        for comb in itertools.combinations(range(n0 + n1), n0):
            i = j = 0
            dmax = 0.0
            mask = set(comb)
            for step in range(n0 + n1):
                if step in mask:
                    i += 1
                else:
                    j += 1
                dmax = max(dmax, abs(i / n0 - j / n1))
            total += 1
            if dmax >= d:
                exceed += 1
        want = exceed / total
        got = _exact_ks_pvalue(d, n0, n1)
        assert got == pytest.approx(want, abs=1e-12), d


def test_ks_exact_vs_asymp_consistent(spark, ab_df):
    ex = kolmogorov_smirnov_test(ab_df, "y", "treatment", mode="exact").iloc[0]
    asym = kolmogorov_smirnov_test(ab_df, "y", "treatment", mode="asymp").iloc[0]
    assert ex.d_statistic == asym.d_statistic
    assert ex.p_value == pytest.approx(asym.p_value, abs=0.05)


def test_permutation_exact_arm_preserving(spark):
    """Every replica must carry exactly n1 treated labels (true shuffle)."""
    import pandas as pd

    from fast_causal_inference_spark.operators.resample import (
        _permutation_replica_stats,
    )

    rng = np.random.default_rng(2)
    pdf = pd.DataFrame({"__t": [1] * 37 + [0] * 63,
                        "__b0": rng.normal(0, 1, 100)})
    sub = spark.createDataFrame(pdf).repartition(5).cache()
    sub.count()
    reps = _permutation_replica_stats(sub, 1, 37, 50, seed=3).collect()
    assert len(reps) == 50
    assert all(r["n"] == 37.0 for r in reps)


def test_permutation_pvalue_matches_enumeration(spark):
    """Small-n fixture: permutation p-value ≈ brute-force enumeration over
    all C(n, n1) treated subsets."""
    from itertools import combinations

    import pandas as pd

    from fast_causal_inference_spark.operators.resample import permutation

    x = [0.3, 1.1, 2.9, 0.2, 4.1, 3.8, 3.3, 0.9, 1.7, 2.2]
    t = [0, 0, 1, 0, 1, 1, 1, 0, 0, 0]
    pdf = pd.DataFrame({"x": x, "t": t})
    df = spark.createDataFrame(pdf).repartition(3)
    n1 = sum(t)
    xs = np.array(x)
    obs = xs[np.array(t) == 1].mean() - xs[np.array(t) == 0].mean()
    diffs = []
    for comb in combinations(range(len(x)), n1):
        m = np.zeros(len(x), dtype=bool)
        m[list(comb)] = True
        diffs.append(xs[m].mean() - xs[~m].mean())
    exact_p = float((np.abs(diffs) >= abs(obs)).mean())

    out = permutation(df, "avg(x)", "t", permutation_num=3000, seed=11)
    assert out["observed_diff"].iloc[0] == pytest.approx(obs, rel=1e-9)
    # Monte-Carlo over exact shuffles → binomial noise around the exact p
    se = np.sqrt(exact_p * (1 - exact_p) / 3000)
    assert out["p_value"].iloc[0] == pytest.approx(exact_p, abs=4 * se + 1e-3)


def test_boot_strap_ols_tracks_analytic_se(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.resample import boot_strap_ols

    rng = np.random.default_rng(8)
    n = 5000
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 2, n)
    y = 1.0 + 2.0 * x1 - 0.5 * x2 + rng.normal(0, 1, n)
    df = spark.createDataFrame(pd.DataFrame({"x1": x1, "x2": x2, "y": y})) \
        .repartition(4)
    summ, B = boot_strap_ols(df, "y ~ x1 + x2", n_resamples=80, seed=5,
                             return_replicas=True)
    assert B.shape == (80, 3)
    assert summ["estimate"].to_numpy() == pytest.approx([1.0, 2.0, -0.5],
                                                        abs=0.1)
    # bootstrap SE within 2x of the analytic OLS SE (~1/sqrt(n))
    from fast_causal_inference_spark.operators.ols import ols
    full = ols(df, "y ~ x1 + x2")
    ratio = summ["boot_se"].to_numpy() / full.stderr
    assert (0.5 < ratio).all() and (ratio < 2.0).all()
    # percentile CI covers the full-sample estimate
    assert (summ["lower"] <= summ["estimate"]).all()
    assert (summ["estimate"] <= summ["upper"]).all()


def test_boot_strap_multi_joint_replicas(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.resample import boot_strap_multi

    rng = np.random.default_rng(4)
    pdf = pd.DataFrame({"a": rng.normal(10, 1, 2000),
                        "b": rng.normal(5, 1, 2000)})
    df = spark.createDataFrame(pdf).repartition(4)
    out = boot_strap_multi(df, ["avg(a)", "avg(b)", "avg(a)/avg(b)"],
                           n_resamples=40, seed=2).toPandas()
    assert len(out) == 40
    # joint draw: the ratio column must equal value_0/value_1 per replica
    assert out["value_2"].to_numpy() == pytest.approx(
        (out["value_0"] / out["value_1"]).to_numpy(), rel=1e-12)


def test_mann_whitney_exact_p_matches_enumeration(spark):
    """Exact-U p-value equals brute-force enumeration over assignments."""
    from itertools import combinations

    import pandas as pd

    from fast_causal_inference_spark.operators.mann_whitney import (
        mann_whitney_utest,
    )

    x = [1.3, 2.7, 0.4, 3.9, 5.2, 4.4, 2.1, 6.6, 0.9, 3.1]
    t = [0, 0, 0, 0, 0, 1, 1, 1, 1, 1]
    df = spark.createDataFrame(pd.DataFrame({"x": x, "t": t})).repartition(3)
    out = mann_whitney_utest(df, "x", "t", method="exact")

    xs = np.array(x)
    n1 = sum(t)
    ranks = pd.Series(x).rank().to_numpy()
    obs_u = ranks[np.array(t) == 1].sum() - n1 * (n1 + 1) / 2

    us = []
    for comb in combinations(range(len(x)), n1):
        m = np.zeros(len(x), dtype=bool)
        m[list(comb)] = True
        us.append(ranks[m].sum() - n1 * (n1 + 1) / 2)
    us = np.array(us)
    cdf = (us <= obs_u).mean()
    sf = (us >= obs_u).mean()
    expect = min(1.0, 2 * min(cdf, sf))
    assert out["p_value"].iloc[0] == pytest.approx(expect, rel=1e-12)
    assert out["u1"].iloc[0] == pytest.approx(obs_u)

    for alt, want in (("less", cdf), ("greater", sf)):
        got = mann_whitney_utest(df, "x", "t", alternative=alt,
                                 method="exact")
        assert got["p_value"].iloc[0] == pytest.approx(min(1.0, want),
                                                       rel=1e-12)


def test_mann_whitney_auto_uses_asymptotic_with_ties(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.mann_whitney import (
        mann_whitney_utest,
    )

    pdf = pd.DataFrame({"x": [1.0, 1.0, 2.0, 3.0] * 3,
                        "t": [0, 1] * 6})
    df = spark.createDataFrame(pdf)
    out = mann_whitney_utest(df, "x", "t")       # ties → asymptotic
    assert not np.isnan(out["z"].iloc[0])


def test_mann_whitney_grouped_matches_global(spark, ab_df):
    grouped = mann_whitney_utest_grouped(
        ab_df.withColumn("seg", F.expr("x3 > 1")),
        "y", "treatment", ["seg"]).orderBy("seg").toPandas()
    assert len(grouped) == 2
    for _, row in grouped.iterrows():
        sub = ab_df.where(F.expr(f"(x3 > 1) = {row.seg}"))
        single = mann_whitney_utest(sub, "y", "treatment").iloc[0]
        assert row.u1 == pytest.approx(single.u1)
        assert row.z == pytest.approx(single.z, rel=1e-9)
        assert row.p_value == pytest.approx(single.p_value, rel=1e-9)


def test_mann_whitney_grouped_exact_matches_single(spark):
    """The grouped form honors method='exact' on tiny tie-free groups."""
    small = pd.DataFrame({
        "v": np.random.default_rng(3).permutation(16).astype(float),
        "t": [0, 1] * 8, "g": [0] * 8 + [1] * 8})
    sdf = spark.createDataFrame(small)
    grouped = mann_whitney_utest_grouped(sdf, "v", "t", ["g"],
                                         method="exact") \
        .orderBy("g").toPandas()
    for _, row in grouped.iterrows():
        single = mann_whitney_utest(sdf.where(F.col("g") == row.g),
                                    "v", "t", method="exact").iloc[0]
        assert row.p_value == pytest.approx(single.p_value, rel=1e-12)


def test_mann_whitney_guards(spark):
    pdf = pd.DataFrame({"v": np.arange(300, dtype=float),
                        "t": np.tile([0, 1], 150), "g": ["a"] * 300})
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="method"):
        mann_whitney_utest(df, "v", "t", method="Exact")
    with pytest.raises(ValueError, match="alternative"):
        mann_whitney_utest_grouped(df, "v", "t", ["g"],
                                   alternative="two_sided")
    with pytest.raises(Exception, match="exact method limited"):
        mann_whitney_utest_grouped(df, "v", "t", ["g"],
                                   method="exact").collect()


def test_mann_whitney_one_sided_all_tied(spark):
    """One-sided branches guard sd == 0."""
    pdf = pd.DataFrame({"v": [1.0] * 20, "g": [0, 1] * 10})
    df = spark.createDataFrame(pdf)
    for alt in ("greater", "less", "two-sided"):
        out = mann_whitney_utest(df, "v", "g", alternative=alt)
        assert math.isnan(out["z"].iloc[0])


def test_kolmogorov_sf_small_lambda():
    assert dist.kolmogorov_sf(0.005) == pytest.approx(1.0, abs=1e-9)
    assert dist.kolmogorov_sf(0.01) == pytest.approx(1.0, abs=1e-9)
    # continuity across the 0.4 series/dual seam (the two
    # expansions agree to machine precision at the switch point)
    assert dist.kolmogorov_sf(0.4 - 1e-9) == pytest.approx(
        dist.kolmogorov_sf(0.4 + 1e-9), abs=1e-9)
    assert dist.kolmogorov_sf(1.0) == pytest.approx(0.2699996716, abs=1e-8)


def test_scan_splits_row_floor(spark, tmp_path, monkeypatch):
    """The split estimate is floored by the parquet-footer row count, so
    a single compressed split with many rows keeps the range path."""
    path = str(tmp_path / "many_rows")
    spark.range(0, 5000).coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    # one tiny file: bytes-only estimate says 1 split
    assert kernel.estimate_scan_splits(df) == 1
    # row floor: same file, 1k-row split budget → >1 estimated splits
    monkeypatch.setattr(kernel, "_SPLIT_ROWS", 1000)
    assert kernel.estimate_scan_splits(df) >= 5


def test_xexpt_grouped_drilldown(spark, ab_df):
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    df = ab_df.withColumn("seg", (F.col("x3") > 1).cast("int")) \
              .withColumn("uin", F.monotonically_increasing_id())
    rep = xexpt_ttest_2samp(df, "numerator", "denominator", "treatment",
                            "uin", group_cols=["seg"],
                            treatment_values=(0, 1))
    assert len(rep) == 2
    assert set(rep.seg) == {0, 1}
    # each cell equals the single-cell report on the filtered frame
    single = xexpt_ttest_2samp(df.where("seg = 1"), "numerator",
                               "denominator", "treatment", "uin",
                               treatment_values=(0, 1))
    row = rep[rep.seg == 1].drop(columns=["seg"]).reset_index(drop=True)
    assert row.equals(single)


def test_xexpt_grouped_sum_metric(spark, ab_df):
    """Grouped sum-metric drill-down: per-cell equality with the single-cell
    report (exercises the analytic bucket zero-fill — constant denominator
    column has zero covariance)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    df = ab_df.withColumn("seg", (F.col("x3") > 1).cast("int")) \
              .withColumn("uin", F.monotonically_increasing_id())
    rep = xexpt_ttest_2samp(df, "numerator", "denominator", "treatment",
                            "uin", metric_type="sum", group_buckets=(1, 1),
                            group_cols=["seg"], treatment_values=(0, 1))
    assert len(rep) == 2
    single = xexpt_ttest_2samp(df.where("seg = 1"), "numerator",
                               "denominator", "treatment", "uin",
                               metric_type="sum", group_buckets=(1, 1),
                               treatment_values=(0, 1))
    row = rep[rep.seg == 1].drop(columns=["seg"]).reset_index(drop=True)
    num = [c for c in row.columns if c not in ("groupname0", "groupname1")]
    assert np.allclose(row[num].to_numpy(float), single[num].to_numpy(float),
                       rtol=1e-9, equal_nan=True)


def test_xexpt_grouped_is_one_pass(spark, ab_df):
    """The drill-down must NOT run one Spark job per cell (the pre-round-3
    driver loop); both metric types stay at a constant handful of jobs."""
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    # 20 cells — the old per-cell loop would run >20 jobs
    df = ab_df.withColumn("seg", (F.col("x3") * 7).cast("int") % 20) \
              .withColumn("uin", F.monotonically_increasing_id())
    sc = spark.sparkContext
    sc.setJobGroup("xexpt_one_pass_avg", "")
    xexpt_ttest_2samp(df, "numerator", "denominator", "treatment", "uin",
                      group_cols=["seg"], treatment_values=(0, 1))
    n_avg = len(sc.statusTracker().getJobIdsForGroup("xexpt_one_pass_avg"))
    sc.setJobGroup("xexpt_one_pass_sum", "")
    xexpt_ttest_2samp(df, "numerator", "denominator", "treatment", "uin",
                      metric_type="sum", group_buckets=(1, 1),
                      group_cols=["seg"], treatment_values=(0, 1))
    n_sum = len(sc.statusTracker().getJobIdsForGroup("xexpt_one_pass_sum"))
    sc.setJobGroup("default", "")
    assert n_avg <= 4, f"grouped avg xexpt ran {n_avg} jobs"
    assert n_sum <= 5, f"grouped sum xexpt ran {n_sum} jobs"


def test_poisson_weights_are_poisson(spark):
    """Regression: an inline F.rand inside the WHEN chain used to re-draw
    at every branch comparison (P(w=1) inflated to ~0.47, mean ~0.81).
    All callers must materialize the uniform first."""
    import math

    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.resample import (
        poisson_weight_column,
    )

    n = 200_000
    pdf = (spark.range(n).withColumn("__u", F.rand(1))
           .select(poisson_weight_column(1.0, F.col("__u")).alias("w"))
           .groupBy("w").count().toPandas().set_index("w")["count"] / n)
    for k in range(4):
        expect = math.exp(-1) / math.factorial(k)
        assert abs(pdf.get(k, 0.0) - expect) < 0.01, (k, pdf.get(k), expect)
    # mean weight == 1 (each replica carries the full data mass)
    mean_w = sum(k * v for k, v in pdf.items())
    assert abs(mean_w - 1.0) < 0.02


def test_boot_strap_weight_mass(spark, events):
    """boot_strap replicas must average to the full-sample estimate —
    with the re-draw bug each replica carried only ~81% of the mass (bias
    showed up in count-like metrics)."""
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.resample import boot_strap

    reps = boot_strap(events.limit(20000), "avg(value)", n_resamples=50,
                      seed=3).toPandas()
    full = events.limit(20000).agg(F.avg("value")).collect()[0][0]
    assert abs(reps.value.mean() - full) < 0.5


def test_permutation_alt_reference_semantics(spark, ab_df):
    """Reference parity (AggregateFunctionPermutation.h:231-276):
    every replicate draws FRESH Bernoulli(1/2) labels and shifts with
    them.  For an avg metric with additive mde the replicate's
    alternative diff is EXACTLY its null diff + mde, so
    observed_diff == perm_mean + mde; the null distribution is
    centered on 0; a large shift yields power ~ 1 and p ~ 0."""
    from fast_causal_inference_spark.operators.resample import (
        permutation_alt,
    )

    out = permutation_alt(ab_df, "avg(x1)", permutation_num=60,
                          seed=5, mde=3.0, mde_type=0)
    r = out.iloc[0]
    assert r["n_permutations"] == 60
    assert r["observed_diff"] == pytest.approx(r["perm_mean"] + 3.0)
    assert abs(r["perm_mean"]) < 0.5          # null centered near 0
    assert r["p_value"] < 0.1
    assert r["power"] > 0.9
    # multiplicative: each replicate scales ITS OWN treated mean
    outm = permutation_alt(ab_df, "avg(abs(x1) + 10)",
                           permutation_num=60, seed=5, mde=2.0,
                           mde_type=1)
    rm = outm.iloc[0]
    # avg(abs(x1)+10) is ~10.8 -> shift ~ 2 x 10.8, diff far from null
    assert rm["observed_diff"] > 15
    assert rm["power"] > 0.9
    # mde=0 collapses the two distributions
    out0 = permutation_alt(ab_df, "avg(x1)", permutation_num=40,
                           seed=5, mde=0.0)
    r0 = out0.iloc[0]
    assert r0["observed_diff"] == pytest.approx(r0["perm_mean"])
    assert r0["alt_std"] == pytest.approx(r0["perm_std"])


def test_permutation_alt_determinism_and_ratio_metric(spark, ab_df):
    from fast_causal_inference_spark.operators.resample import (
        permutation_alt,
    )

    a = permutation_alt(ab_df, "avg(numerator)/avg(denominator)",
                        permutation_num=25, seed=11, mde=0.5,
                        mde_type=1)
    b = permutation_alt(ab_df, "avg(numerator)/avg(denominator)",
                        permutation_num=25, seed=11, mde=0.5,
                        mde_type=1)
    pd.testing.assert_frame_equal(a, b)       # same seed, same draws
    assert a.iloc[0]["n_permutations"] == 25


def test_boot_strap_quantile_sketch_path(spark):
    """The sketch (100 TB) path: on ONE partition with sketch_size >=
    rows the centroid compression is lossless, so each replica's value
    equals a numpy weighted-quantile recompute with the SAME seeded
    Poisson draws; multi-partition sketches stay within the
    ~1/sketch_size rank-error bound of the exact path's spread."""
    import numpy as np

    from fast_causal_inference_spark.operators.resample import (
        boot_strap_quantile,
    )

    rng = np.random.default_rng(0)
    x = rng.normal(50, 10, 400)
    df1 = spark.createDataFrame(
        pd.DataFrame({"x": x})).coalesce(1)
    got = boot_strap_quantile(df1, "x", 0.5, n_resamples=12, seed=9,
                              method="sketch", sketch_size=400) \
        .toPandas().set_index("replica_id")["value"]
    # replicate the per-partition draws (pid 0) and the merge rule
    r = np.random.default_rng([9, 0])
    W = r.poisson(1.0, (len(x), 12))
    order = np.argsort(x, kind="stable")
    xs = x[order]
    cum = np.cumsum(W[order], axis=0)
    for b in range(12):
        tb = cum[-1, b]
        if tb == 0:
            continue
        lv = (np.arange(len(x)) + 0.5) / len(x)
        idx = np.clip(np.searchsorted(cum[:, b], lv * tb), 0,
                      len(x) - 1)
        cent = xs[idx]
        cw = np.cumsum(np.full(len(x), tb / len(x)))
        i = min(int(np.searchsorted(cw, 0.5 * cw[-1])), len(x) - 1)
        assert got.loc[b] == pytest.approx(np.sort(cent)[i], abs=1e-12)
    # multi-partition: replica medians concentrate near the true median
    df8 = spark.createDataFrame(pd.DataFrame({"x": x})).repartition(8)
    sk = boot_strap_quantile(df8, "x", 0.5, n_resamples=30, seed=9,
                             method="sketch", sketch_size=64).toPandas()
    ex = boot_strap_quantile(df1, "x", 0.5, n_resamples=30,
                             seed=9).toPandas()
    med = np.median(x)
    assert abs(sk["value"].mean() - med) < 1.5
    assert abs(sk["value"].mean() - ex["value"].mean()) < 1.5
    with pytest.raises(ValueError, match="method"):
        boot_strap_quantile(df1, "x", 0.5, method="nope")
