"""DML / logistic / meta-learners / uplift evaluation vs numpy oracles on a
simulated heterogeneous-effect dataset."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.dml import linear_dml, non_param_dml
from fast_causal_inference_spark.operators.estimators import (
    ate_estimator,
    ipw_estimator,
)
from fast_causal_inference_spark.operators.logistic import (
    auc,
    logistic_regression,
)
from fast_causal_inference_spark.uplift.evaluation import (
    auuc,
    cate_by_bucket,
    get_lift_gain,
    qini_score,
)
from fast_causal_inference_spark.uplift.metalearners import (
    CVT,
    PropensityModel,
    SLearner,
    TLearner,
    TransformedOutcome,
    XLearner,
)


@pytest.fixture(scope="module")
def hte_pdf():
    """Confounded treatment, heterogeneous effect τ(x) = 1 + 2·x1."""
    rng = np.random.default_rng(99)
    n = 8000
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    g = 1 / (1 + np.exp(-(0.5 * x1 - 0.3 * x2)))     # confounded propensity
    t = (rng.uniform(0, 1, n) < g).astype(float)
    tau = 1.0 + 2.0 * x1
    y = 2.0 + x1 + 0.5 * x2 + tau * t + rng.normal(0, 1, n)
    ybin = (y > np.median(y)).astype(float)
    return pd.DataFrame({"x1": x1, "x2": x2, "t": t, "y": y,
                         "ybin": ybin, "g_true": g})


@pytest.fixture(scope="module")
def hte_df(spark, hte_pdf):
    return spark.createDataFrame(hte_pdf).repartition(4).cache()


def test_logistic_irls_matches_numpy(spark, hte_pdf, hte_df):
    m = logistic_regression(hte_df, "t ~ x1 + x2")
    # numpy IRLS oracle
    X = np.column_stack([np.ones(len(hte_pdf)), hte_pdf.x1, hte_pdf.x2])
    yv = hte_pdf.t.to_numpy()
    beta = np.zeros(3)
    for _ in range(30):
        eta = X @ beta
        mu = 1 / (1 + np.exp(-eta))
        s = mu * (1 - mu) + 1e-10
        z = eta + (yv - mu) / s
        W = s
        beta_new = np.linalg.solve(X.T @ (W[:, None] * X), X.T @ (W * z))
        if np.max(np.abs(beta_new - beta)) < 1e-10:
            beta = beta_new
            break
        beta = beta_new
    assert m.beta == pytest.approx(beta, rel=1e-6)
    assert m.converged
    # coefficients recover the truth within 3 SE
    for est, true, se in zip(m.beta, [0.0, 0.5, -0.3], m.stderr):
        assert abs(est - true) < 4 * se


def test_auc(spark, hte_pdf, hte_df):
    scored = hte_df.withColumn("score", F.col("g_true"))
    got = auc(scored, "score", "t")
    # pandas oracle
    r = hte_pdf.g_true.rank(method="average")
    n1 = hte_pdf.t.sum()
    n0 = len(hte_pdf) - n1
    want = (r[hte_pdf.t == 1].sum() - n1 * (n1 + 1) / 2) / (n0 * n1)
    assert got == pytest.approx(want, rel=1e-9)
    assert got > 0.6        # the true propensity separates arms


def test_linear_dml_recovers_ate(spark, hte_df, hte_pdf):
    res = linear_dml(hte_df, "y", "t", ["x1", "x2"], cv=3)
    true_ate = 1.0 + 2.0 * hte_pdf.x1.mean()
    assert res.ate == pytest.approx(true_ate, abs=4 * res.stderr[0] + 0.05)
    # naive OLS-free diff-in-means is confounded and further from truth
    naive = hte_pdf[hte_pdf.t == 1].y.mean() - hte_pdf[hte_pdf.t == 0].y.mean()
    assert abs(res.ate - true_ate) < abs(naive - true_ate)


def test_linear_dml_heterogeneity(spark, hte_df):
    res = linear_dml(hte_df, "y", "t", ["x1", "x2"], cv=3,
                     heterogeneity=["x1"])
    # τ(x) = 1 + 2 x1 → coefficient on t̃·x1 ≈ 2
    assert res.theta[1] == pytest.approx(2.0, abs=0.15)
    assert res.theta[0] == pytest.approx(1.0, abs=0.15)
    scored = res.effect(hte_df).select("x1", "effect").limit(100).toPandas()
    assert scored.effect.to_numpy() == pytest.approx(
        res.theta[0] + res.theta[1] * scored.x1.to_numpy(), rel=1e-9)


def test_non_param_dml(spark, hte_df):
    res = non_param_dml(hte_df, "y", "t", ["x1", "x2"], cv=3)
    assert res.names == ["theta"]
    assert 1.0 < res.ate < 2.0       # weighted-moment ATE in sane range
    het = non_param_dml(hte_df, "y", "t", ["x1", "x2"], cv=3,
                        heterogeneity=["x1"])
    assert het.theta[1] == pytest.approx(2.0, abs=0.25)


def test_meta_learners_rank_heterogeneity(spark, hte_df):
    """All learners should produce ITEs positively correlated with τ(x).

    (x1 is selected alongside ite — toPandas() order is not the pandas
    fixture's order after repartition.)
    """
    for learner in (SLearner(["x1", "x2"], "y", "t"),
                    TLearner(["x1", "x2"], "y", "t"),
                    XLearner(["x1", "x2"], "y", "t"),
                    TransformedOutcome(["x1", "x2"], "y", "t")):
        fitted = learner.fit(hte_df)
        out = fitted.predict(hte_df).select("x1", "ite").toPandas()
        corr = np.corrcoef(out.ite, 1.0 + 2.0 * out.x1)[0, 1]
        assert corr > 0.9, type(learner).__name__
    # S-learner on a linear DGP recovers τ(x) almost exactly
    out = SLearner(["x1", "x2"], "y", "t").fit(hte_df) \
        .predict(hte_df).select("x1", "ite").toPandas()
    assert np.corrcoef(out.ite, 1.0 + 2.0 * out.x1)[0, 1] > 0.99


def test_cvt_binary(spark, hte_df):
    fitted = CVT(["x1", "x2"], "ybin", "t").fit(hte_df)
    ite = fitted.predict(hte_df).select("x1", "ite").toPandas()
    # uplift on the binary outcome increases with x1
    assert np.corrcoef(ite.ite, ite.x1)[0, 1] > 0.5


def test_propensity_model(spark, hte_df, hte_pdf):
    fitted = PropensityModel(["x1", "x2"], "t").fit(hte_df)
    p = fitted.predict(hte_df).select("propensity", "g_true").toPandas()
    assert np.corrcoef(p.propensity, p.g_true)[0, 1] > 0.97


def test_lift_gain_and_auuc(spark, hte_df, hte_pdf):
    scored = hte_df.withColumn("ite_hat", 1.0 + 2.0 * F.col("x1"))
    table = get_lift_gain(scored, "ite_hat", "y", "t", k=10)
    assert len(table) == 10
    assert table.ratio.iloc[-1] == pytest.approx(1.0)
    # top bucket has higher uplift than the full population ATE
    assert table.lift.iloc[0] > table.ate_baseline.iloc[0]
    # last-gain point equals the full ATE (within fp)
    assert table.gain.iloc[-1] == pytest.approx(
        table.ate_baseline.iloc[0], rel=1e-9)
    # perfect-ranking AUUC beats random-ranking AUUC
    a_perfect = auuc(scored, "ite_hat", "y", "t", k=20)
    rnd = scored.withColumn("noise", F.rand(5))
    a_random = auuc(rnd, "noise", "y", "t", k=20)
    assert a_perfect > a_random
    assert qini_score(scored, "ite_hat", "y", "t", k=20) > \
        qini_score(rnd, "noise", "y", "t", k=20)


def test_cate_calibration(spark, hte_df):
    scored = hte_df.withColumn("ite_hat", 1.0 + 2.0 * F.col("x1"))
    cal = cate_by_bucket(scored, "ite_hat", "y", "t", k=5)
    # actual CATE should track predicted ITE monotonically-ish
    assert np.corrcoef(cal.ite_pred, cal.cate_actual)[0, 1] > 0.95


def test_ate_and_ipw_estimators(spark, hte_df, hte_pdf):
    a = ate_estimator(hte_df, "y", "t", B=50).iloc[0]
    naive = hte_pdf[hte_pdf.t == 1].y.mean() - hte_pdf[hte_pdf.t == 0].y.mean()
    assert a.ATE == pytest.approx(naive, rel=1e-9)
    assert a.lower < a.ATE < a.upper
    ipw = ipw_estimator(hte_df, "y", "t", "g_true", B=50).iloc[0]
    assert ipw.lower < ipw.ATE < ipw.upper
    assert ipw.stddev > 0


def test_retrospective_learner(spark, hte_df):
    from fast_causal_inference_spark.uplift.metalearners import (
        RetrospectiveLearner,
    )

    fitted = RetrospectiveLearner(["x1", "x2"], "ybin", "t").fit(hte_df)
    out = fitted.predict(hte_df).select("x1", "ite").toPandas()
    # uplift on ybin rises with x1 → retrospective score should follow
    assert np.corrcoef(out.ite, out.x1)[0, 1] > 0.3


def test_lift_gain_quantile_method(spark, hte_df):
    from fast_causal_inference_spark.uplift.evaluation import get_lift_gain

    scored = hte_df.withColumn("ite_hat", 1.0 + 2.0 * F.col("x1"))
    exact = get_lift_gain(scored, "ite_hat", "y", "t", k=10)
    approx = get_lift_gain(scored, "ite_hat", "y", "t", k=10,
                           method="quantile")
    assert len(approx) == 10
    # bucket shares near 1/k and lifts track the exact variant
    assert approx.ratio.iloc[-1] == pytest.approx(1.0)
    assert np.corrcoef(exact.lift, approx.lift)[0, 1] > 0.99


def test_lift_gain_auto_switches_to_sketch(spark, hte_df, monkeypatch):
    """Above the auto threshold the default path must avoid the
    single-partition ntile window entirely."""
    from fast_causal_inference_spark.uplift import evaluation as ev

    scored = hte_df.withColumn("ite_hat", 1.0 + 2.0 * F.col("x1"))
    exact = get_lift_gain(scored, "ite_hat", "y", "t", k=10)   # auto→ntile
    monkeypatch.setattr(ev, "AUTO_NTILE_MAX", 100)
    approx = get_lift_gain(scored, "ite_hat", "y", "t", k=10)  # auto→quantile
    explicit = get_lift_gain(scored, "ite_hat", "y", "t", k=10,
                             method="quantile")
    assert approx["gain"].to_numpy() == pytest.approx(
        explicit["gain"].to_numpy(), nan_ok=True)
    # sketch path tracks the exact path loosely (uneven buckets)
    assert np.nanmax(np.abs(approx["gain"].to_numpy()
                            - exact["gain"].to_numpy())) < 0.5


def test_quantile_path_has_no_window(spark, hte_df):
    """Plan check: the sketch path contains no Window operator at all."""
    from pyspark.sql import functions as F

    base = hte_df.select(F.col("y").cast("double").alias("__y"),
                         F.col("t").cast("double").alias("__t"),
                         F.col("x1").alias("__ite"))
    edges = base.approxQuantile("__ite", [0.25, 0.5, 0.75], 0.001)
    bucket = None
    for i, e in enumerate(sorted(set(edges), reverse=True)):
        cond = F.col("__ite") > e
        bucket = F.when(cond, i + 1) if bucket is None \
            else bucket.when(cond, i + 1)
    b = base.withColumn("__bucket", bucket.otherwise(4))
    agg = b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_uplift_report_single_scan(spark, hte_df):
    """uplift_report computes all metrics from ONE bucketed-stats pass and
    agrees with the individual entry points."""
    import numpy as np

    from fast_causal_inference_spark.uplift.evaluation import (
        auuc,
        get_lift_gain,
        qini_score,
        uplift_report,
    )

    scored = hte_df.withColumn("ite_hat", F.col("x1"))
    n = scored.count()
    sc = spark.sparkContext
    sc.setJobGroup("uplift_report_scan", "")
    rep = uplift_report(scored, "ite_hat", "y", "t", k=10, n_rows=n)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("uplift_report_scan"))
    sc.setJobGroup("default", "")
    assert n_jobs <= 2, f"uplift_report ran {n_jobs} jobs (want one pass)"
    lg = get_lift_gain(scored, "ite_hat", "y", "t", k=10, n_rows=n)
    assert np.allclose(rep["lift_gain"].gain.to_numpy(),
                       lg.gain.to_numpy(), equal_nan=True)
    assert rep["auuc"] == pytest.approx(
        auuc(scored, "ite_hat", "y", "t", k=10, n_rows=n))
    assert rep["qini_score"] == pytest.approx(
        qini_score(scored, "ite_hat", "y", "t", k=10, n_rows=n))


def test_linear_dml_two_scans(spark, hte_df, monkeypatch):
    """The nuisance stage must solve all 2·cv fits from ONE grouped Gramian
    scan; with the final OLS that is exactly 2 collect-backed passes."""
    cls = type(hte_df)          # concrete class (classic/connect varies)
    calls = []
    orig = cls.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "collect", counting)
    res = linear_dml(hte_df, "y", "t", ["x1", "x2"], cv=5)
    assert len(calls) == 2, f"expected 2 scans, saw {len(calls)}"
    assert np.isfinite(res.ate)


def test_dml_one_scan_matches_per_fold_fits(spark, hte_df, hte_pdf):
    """The summed-complement Gramian path must agree with literally fitting
    OLS on each complement (numpy oracle)."""
    res = linear_dml(hte_df, "y", "t", ["x1", "x2"], cv=3, seed=42)

    # numpy replication with the same hash folds (pull folds + data in one
    # collect so row alignment survives the fixture's repartition)
    pdf = (hte_df.withColumn(
        "f", F.pmod(F.xxhash64(F.expr("x1"), F.expr("x2"), F.lit(42)),
                    F.lit(3)).cast("int"))
        .select("x1", "x2", "t", "y", "f").toPandas())
    folds = pdf["f"].to_numpy()
    X = np.column_stack([np.ones(len(pdf)), pdf["x1"], pdf["x2"]])
    y = pdf["y"].to_numpy()
    t = pdf["t"].to_numpy().astype(float)
    ry = np.empty_like(y)
    rt = np.empty_like(t)
    for f in range(3):
        m = folds != f
        by, *_ = np.linalg.lstsq(X[m], y[m], rcond=None)
        bt, *_ = np.linalg.lstsq(X[m], t[m], rcond=None)
        ry[~m] = y[~m] - X[~m] @ by
        rt[~m] = t[~m] - X[~m] @ bt
    Xf = np.column_stack([np.ones(len(ry)), rt])
    bf, *_ = np.linalg.lstsq(Xf, ry, rcond=None)
    assert res.ate == pytest.approx(bf[1], rel=1e-9, abs=1e-9)


def test_tlearner_single_scan(spark, hte_df):
    """Both arm models must come from ONE groupBy(arm) Gramian scan."""
    cls = type(hte_df)
    calls = []
    orig = cls.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    try:
        cls.collect = counting
        TLearner(["x1", "x2"], "y", "t").fit(hte_df)
    finally:
        cls.collect = orig
    assert len(calls) == 1, f"expected 1 scan, saw {len(calls)}"


def test_tlearner_grouped_matches_per_arm(spark, hte_df, hte_pdf):
    tl = TLearner(["x1", "x2"], "y", "t").fit(hte_df)
    for arm, model in ((0, tl.model0_), (1, tl.model1_)):
        sub = hte_pdf[hte_pdf.t == arm]
        X = np.column_stack([np.ones(len(sub)), sub.x1, sub.x2])
        beta, *_ = np.linalg.lstsq(X, sub.y.to_numpy(), rcond=None)
        assert np.allclose(model.beta, beta, rtol=1e-8, atol=1e-8)


def test_linear_dml_grouped_matches_per_segment(spark, hte_df):
    """Segmented DML (2 scans for ALL segments) must agree with calling
    linear_dml on each segment's filtered frame."""
    from fast_causal_inference_spark.operators.dml import linear_dml_grouped

    seg = hte_df.withColumn("seg", (F.col("x2") > 0).cast("int"))
    out = linear_dml_grouped(seg, "y", "t", ["x1", "x2"], ["seg"], cv=3)
    assert list(out.seg) == [0, 1]
    for s in (0, 1):
        ref = linear_dml(seg.where(F.col("seg") == s), "y", "t",
                         ["x1", "x2"], cv=3)
        got = out[out.seg == s].iloc[0]
        assert got.theta == pytest.approx(ref.ate, rel=1e-9, abs=1e-9)
        assert got.stderr == pytest.approx(float(ref.stderr[0]),
                                           rel=1e-6)


def test_linear_dml_grouped_two_scans(spark, hte_df):
    from fast_causal_inference_spark.operators.dml import linear_dml_grouped

    seg = hte_df.withColumn("seg", (F.col("x2") > 0).cast("int"))
    cls = type(hte_df)
    calls = []
    orig = cls.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    try:
        cls.collect = counting
        linear_dml_grouped(seg, "y", "t", ["x1", "x2"], ["seg"], cv=4)
    finally:
        cls.collect = orig
    assert len(calls) == 2, f"expected 2 scans, saw {len(calls)}"


def test_rlearner_matches_numpy(spark, hte_df, hte_pdf):
    """RLearner equals the explicit numpy two-stage fit: OLS nuisances +
    no-intercept OLS of (y−m) on (t−g)·[1, x]."""
    from fast_causal_inference_spark.uplift.metalearners import RLearner

    fitted = RLearner(["x1", "x2"], "y", "t").fit(hte_df)
    X = np.column_stack([np.ones(len(hte_pdf)), hte_pdf.x1, hte_pdf.x2])
    yv = hte_pdf.y.to_numpy()
    tv = hte_pdf.t.to_numpy()
    bm = np.linalg.lstsq(X, yv, rcond=None)[0]
    # logistic IRLS nuisance (same loop the package runs)
    bg = np.zeros(3)
    for _ in range(25):
        eta = X @ bg
        mu = 1 / (1 + np.exp(-eta))
        s = mu * (1 - mu) + 1e-10
        z = eta + (tv - mu) / s
        new = np.linalg.solve(X.T @ (s[:, None] * X), X.T @ (s * z))
        if np.max(np.abs(new - bg)) < 1e-8:
            bg = new
            break
        bg = new
    yr = yv - X @ bm
    tr = tv - 1 / (1 + np.exp(-(X @ bg)))
    Z = tr[:, None] * X                      # (t−g)·[1, x1, x2]
    btau = np.linalg.lstsq(Z, yr, rcond=None)[0]
    assert fitted.model_.beta == pytest.approx(btau, abs=1e-6)
    out = fitted.predict(hte_df).select("x1", "x2", "ite").toPandas()
    want = btau[0] + btau[1] * out.x1 + btau[2] * out.x2
    assert out.ite.to_numpy() == pytest.approx(want.to_numpy(), abs=1e-9)


def test_rlearner_recovers_cate_under_confounding(spark, hte_df):
    """Confounded assignment: orthogonalization recovers τ(x) = 1 + 2·x1."""
    from fast_causal_inference_spark.uplift.metalearners import RLearner

    fitted = RLearner(["x1", "x2"], "y", "t").fit(hte_df)
    b = fitted.model_.beta
    assert b[0] == pytest.approx(1.0, abs=0.15)      # τ intercept
    assert b[1] == pytest.approx(2.0, abs=0.15)      # τ slope on x1
    assert b[2] == pytest.approx(0.0, abs=0.15)      # τ slope on x2
    # known-propensity variant runs (randomized-assignment fast path)
    RLearner(["x1", "x2"], "y", "t", propensity=0.5).fit(hte_df)


def test_drlearner_matches_numpy_and_recovers(spark, hte_df, hte_pdf):
    from fast_causal_inference_spark.uplift.metalearners import DRLearner

    fitted = DRLearner(["x1", "x2"], "y", "t", propensity=None,
                       trim=0.01).fit(hte_df)
    X = np.column_stack([np.ones(len(hte_pdf)), hte_pdf.x1, hte_pdf.x2])
    yv = hte_pdf.y.to_numpy()
    tv = hte_pdf.t.to_numpy()
    b0 = np.linalg.lstsq(X[tv == 0], yv[tv == 0], rcond=None)[0]
    b1 = np.linalg.lstsq(X[tv == 1], yv[tv == 1], rcond=None)[0]
    bg = np.zeros(3)
    for _ in range(25):
        eta = X @ bg
        mu = 1 / (1 + np.exp(-eta))
        s = mu * (1 - mu) + 1e-10
        z = eta + (tv - mu) / s
        new = np.linalg.solve(X.T @ (s[:, None] * X), X.T @ (s * z))
        if np.max(np.abs(new - bg)) < 1e-8:
            bg = new
            break
        bg = new
    g = np.clip(1 / (1 + np.exp(-(X @ bg))), 0.01, 0.99)
    f0, f1 = X @ b0, X @ b1
    phi = f1 - f0 + tv * (yv - f1) / g - (1 - tv) * (yv - f0) / (1 - g)
    btau = np.linalg.lstsq(X, phi, rcond=None)[0]
    assert fitted.model_.beta == pytest.approx(btau, abs=1e-6)
    # doubly-robust: recovers τ(x) under confounding
    assert btau[0] == pytest.approx(1.0, abs=0.2)
    assert btau[1] == pytest.approx(2.0, abs=0.2)


def test_drlearner_validation(spark, hte_df):
    from fast_causal_inference_spark.uplift.metalearners import DRLearner

    with pytest.raises(ValueError, match="trim"):
        DRLearner(["x1"], "y", "t", trim=0.7).fit(hte_df)
    one_arm = hte_df.where(F.col("t") == 1)
    with pytest.raises(ValueError, match="both arms"):
        DRLearner(["x1"], "y", "t").fit(one_arm)


def test_shared_propensity_model_identical(spark, hte_df):
    """Passing a pre-fitted logistic propensity (`propensity_model=`) into
    X / R / DR must reproduce the self-fit results exactly — the shared
    nuisance is the same IRLS solve, just run once (the t_learner gate
    family relies on this for golden stability)."""
    from fast_causal_inference_spark.uplift.metalearners import (
        DRLearner,
        PropensityModel,
        RLearner,
        XLearner,
    )

    shared = PropensityModel(["x1", "x2"], "t").fit(hte_df).model_
    for cls in (XLearner, RLearner, DRLearner):
        solo = cls(["x1", "x2"], "y", "t").fit(hte_df)
        with_pm = cls(["x1", "x2"], "y", "t",
                      propensity_model=shared).fit(hte_df)
        a = solo.predict(hte_df).select("ite").toPandas().ite.to_numpy()
        b = with_pm.predict(hte_df).select("ite").toPandas().ite.to_numpy()
        assert a == pytest.approx(b, abs=1e-12), cls.__name__
        # and the shared object is used as-is, not refit
        assert with_pm.prop_ is shared


def test_shared_outcome_models_identical(spark, hte_df):
    """Passing pre-fitted per-arm outcome models (`outcome_models=`, one
    ols_grouped result) into T / X / DR must reproduce the self-fit
    results exactly — same grouped Gramian solve, run once."""
    from fast_causal_inference_spark.operators.ols import ols_grouped
    from fast_causal_inference_spark.uplift.metalearners import (
        DRLearner,
        TLearner,
        XLearner,
    )

    om = ols_grouped(hte_df, "y ~ x1 + x2", "CAST((t) AS DOUBLE)")
    for cls in (TLearner, XLearner, DRLearner):
        solo = cls(["x1", "x2"], "y", "t").fit(hte_df)
        shared = cls(["x1", "x2"], "y", "t",
                     outcome_models=om).fit(hte_df)
        a = solo.predict(hte_df).select("ite").toPandas().ite.to_numpy()
        b = shared.predict(hte_df).select("ite").toPandas().ite.to_numpy()
        assert a == pytest.approx(b, abs=1e-12), cls.__name__
        assert shared.model0_ is om[0.0] and shared.model1_ is om[1.0]
