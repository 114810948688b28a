"""GLM (poisson/quasipoisson/gamma/gaussian) vs explicit numpy IRLS oracles."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators import design
from fast_causal_inference_spark.operators.glm import (
    glm,
    negative_binomial_regression,
)
from fast_causal_inference_spark.operators.logistic import logistic_regression


@pytest.fixture(scope="module")
def count_pdf():
    rng = np.random.default_rng(42)
    n = 6000
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    expo = rng.uniform(0.5, 3.0, n)
    mu = expo * np.exp(0.5 + 0.3 * x1 - 0.2 * x2)
    y = rng.poisson(mu)
    ygam = rng.gamma(3.0, np.exp(0.2 + 0.4 * x1) / 3.0, n)
    return pd.DataFrame({"x1": x1, "x2": x2, "expo": expo,
                         "y": y.astype(float), "ygam": ygam})


@pytest.fixture(scope="module")
def count_df(spark, count_pdf):
    return spark.createDataFrame(count_pdf).repartition(4).cache()


def _np_irls(X, yv, off, family, max_iter=25, tol=1e-8):
    p = X.shape[1]
    beta = np.zeros(p)
    if family != "gaussian":
        beta[0] = math.log(yv.mean())
    for it in range(1, max_iter + 1):
        eta = X @ beta + off
        if family == "gaussian":
            mu, s = eta, np.ones(len(yv))
        else:
            mu = np.exp(eta)
            s = mu + 1e-10 if family in ("poisson", "quasipoisson") \
                else np.ones(len(yv))
        z = (eta - off) + (yv - mu) / (mu if family != "gaussian" else 1.0)
        A = X.T @ (s[:, None] * X)
        b = X.T @ (s * z)
        new = np.linalg.solve(A, b)
        if np.max(np.abs(new - beta)) < tol or family == "gaussian":
            beta = new
            break
        beta = new
    return beta, A


def test_poisson_with_offset_matches_numpy(count_df, count_pdf):
    from fast_causal_inference_spark.operators.glm import glm

    m = glm(count_df, "y ~ x1 + x2", family="poisson",
            offset="ln(expo)")
    X = np.column_stack([np.ones(len(count_pdf)), count_pdf.x1,
                         count_pdf.x2])
    yv = count_pdf.y.to_numpy()
    off = np.log(count_pdf.expo.to_numpy())
    beta, A = _np_irls(X, yv, off, "poisson")
    assert m.beta == pytest.approx(beta, abs=1e-7)
    se = np.sqrt(np.diag(np.linalg.inv(A)))
    assert m.stderr == pytest.approx(se, abs=1e-7)
    assert m.converged and m.dispersion == 1.0
    # recovers the DGP
    assert m.beta == pytest.approx([0.5, 0.3, -0.2], abs=0.06)
    # deviance formula, directly
    mu = np.exp(X @ beta + off)
    with np.errstate(divide="ignore", invalid="ignore"):
        dev = 2 * np.sum(np.where(yv > 0, yv * np.log(yv / mu), 0.0)
                         - (yv - mu))
    assert m.deviance == pytest.approx(dev, rel=1e-9)
    assert m.null_deviance > m.deviance
    # predict on the response scale
    got = m.predict(count_df).agg({"mu": "sum"}).collect()[0][0]
    assert got == pytest.approx(mu.sum(), rel=1e-9)


def test_quasipoisson_scales_ses(count_df, count_pdf):
    from fast_causal_inference_spark.operators.glm import glm

    m = glm(count_df, "y ~ x1 + x2", family="poisson", offset="ln(expo)")
    q = glm(count_df, "y ~ x1 + x2", family="quasipoisson",
            offset="ln(expo)")
    assert q.beta == pytest.approx(m.beta, abs=1e-9)
    X = np.column_stack([np.ones(len(count_pdf)), count_pdf.x1,
                         count_pdf.x2])
    mu = np.exp(X @ m.beta + np.log(count_pdf.expo.to_numpy()))
    yv = count_pdf.y.to_numpy()
    phi = np.sum((yv - mu) ** 2 / mu) / (len(yv) - 3)
    assert q.dispersion == pytest.approx(phi, rel=1e-9)
    assert q.stderr == pytest.approx(m.stderr * math.sqrt(phi), rel=1e-9)


def test_gamma_log_link(count_df, count_pdf):
    from fast_causal_inference_spark.operators.glm import glm

    m = glm(count_df, "ygam ~ x1", family="gamma")
    X = np.column_stack([np.ones(len(count_pdf)), count_pdf.x1])
    yv = count_pdf.ygam.to_numpy()
    beta, A = _np_irls(X, yv, np.zeros(len(yv)), "gamma")
    assert m.beta == pytest.approx(beta, abs=1e-7)
    assert m.beta == pytest.approx([0.2, 0.4], abs=0.05)
    mu = np.exp(X @ beta)
    phi = np.sum((yv - mu) ** 2 / mu ** 2) / (len(yv) - 2)
    assert m.dispersion == pytest.approx(phi, rel=1e-6)
    # null deviance: 2Σ[log(ȳ/y)] on the fitted sample
    nd = 2 * (len(yv) * math.log(yv.mean()) - np.log(yv).sum())
    assert m.null_deviance == pytest.approx(nd, rel=1e-9)


def test_gaussian_equals_ols(count_df):
    from fast_causal_inference_spark.operators.glm import glm
    from fast_causal_inference_spark.operators.ols import ols

    g = glm(count_df, "y ~ x1 + x2", family="gaussian")
    o = ols(count_df, "y ~ x1 + x2")
    assert g.beta == pytest.approx(o.beta, abs=1e-9)
    assert g.n_iter == 1
    # gaussian Pearson-dispersion SEs match OLS classical SEs
    assert g.stderr == pytest.approx(o.stderr, rel=1e-9)


def test_glm_validation(count_df):
    from fast_causal_inference_spark.operators.glm import glm
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="family"):
        glm(count_df, "y ~ x1", family="negbinomial2")
    neg = count_df.withColumn("y", F.col("y") - 100)
    with pytest.raises(ValueError, match="non-negative"):
        glm(neg, "y ~ x1", family="poisson")
    with pytest.raises(ValueError, match="strictly positive"):
        glm(count_df.withColumn("ygam", F.col("ygam") - 100),
            "ygam ~ x1", family="gamma")


def test_poisson_rate_ratio_interpretation(count_df):
    """exp(beta) on a binary regressor equals the exposure-adjusted rate
    ratio computed by hand — the analyst-facing contract."""
    from fast_causal_inference_spark.operators.glm import glm
    from pyspark.sql import functions as F

    df = count_df.withColumn("seg", (F.col("x1") > 0).cast("double"))
    m = glm(df, "y ~ seg", family="poisson", offset="ln(expo)")
    agg = (df.groupBy("seg").agg(F.sum("y").alias("s"),
                                 F.sum("expo").alias("e"))
           .orderBy("seg").collect())
    rr = (agg[1]["s"] / agg[1]["e"]) / (agg[0]["s"] / agg[0]["e"])
    assert math.exp(m.beta[1]) == pytest.approx(rr, rel=1e-6)


def test_null_deviance_with_offset_nests(count_df, count_pdf):
    """With an offset the null model is intercept-only + offset (R's
    convention), so null_deviance >= deviance, and the closed-form
    intercept MLE matches numpy."""
    from fast_causal_inference_spark.operators.glm import glm

    m = glm(count_df, "y ~ x1 + x2", family="poisson", offset="ln(expo)")
    assert m.null_deviance >= m.deviance
    yv = count_pdf.y.to_numpy()
    off = np.log(count_pdf.expo.to_numpy())
    mu0 = (yv.sum() / np.exp(off).sum()) * np.exp(off)
    with np.errstate(divide="ignore", invalid="ignore"):
        nd = 2 * np.sum(np.where(yv > 0, yv * np.log(yv / mu0), 0.0)
                        - (yv - mu0))
    assert m.null_deviance == pytest.approx(nd, rel=1e-9)
    # gamma + offset path as well
    g = glm(count_df, "ygam ~ x1", family="gamma", offset="0.1 * x2")
    assert g.null_deviance >= g.deviance - 1e-9


def _np_nb_irls(X, yv, off, a_disp, beta0, max_iter=25, tol=1e-8):
    beta = beta0.copy()
    for _ in range(max_iter):
        eta = X @ beta + off
        mu = np.exp(eta)
        w = mu / (1 + a_disp * mu) + 1e-10
        z = (eta - off) + (yv - mu) / (mu + 1e-10)
        A = X.T @ (w[:, None] * X)
        new = np.linalg.solve(A, X.T @ (w * z))
        if np.max(np.abs(new - beta)) < tol:
            return new, A
        beta = new
    return beta, A


def test_negative_binomial_matches_numpy_and_recovers_alpha(spark):
    from fast_causal_inference_spark.operators.glm import (
        negative_binomial_regression,
    )

    rng = np.random.default_rng(7)
    n = 8000
    x1 = rng.normal(0, 1, n)
    true_alpha = 0.5
    mu = np.exp(1.0 + 0.4 * x1)
    # NB2 via gamma-poisson mixture: rate = mu * Gamma(1/α, α)
    lam = mu * rng.gamma(1 / true_alpha, true_alpha, n)
    yv = rng.poisson(lam).astype(float)
    pdf = pd.DataFrame({"x1": x1, "y": yv})
    sdf = spark.createDataFrame(pdf).repartition(4).cache()

    m = negative_binomial_regression(sdf, "y ~ x1", alpha_rounds=2)
    # replicate the exact two-step algorithm in numpy
    X = np.column_stack([np.ones(n), x1])
    off = np.zeros(n)
    b = np.array([math.log(yv.mean()), 0.0])
    b, A = _np_nb_irls(X, yv, off, 0.0, b)
    a = 0.0
    for _ in range(2):
        muh = np.exp(X @ b)
        a_new = max(np.sum((yv - muh) ** 2 - yv) / np.sum(muh ** 2), 0.0)
        if abs(a_new - a) < 1e-8:
            a = a_new
            break
        a = a_new
        b, A = _np_nb_irls(X, yv, off, a, b)
    assert m.dispersion == pytest.approx(a, rel=1e-8)
    assert m.beta == pytest.approx(b, abs=1e-7)
    assert m.stderr == pytest.approx(
        np.sqrt(np.diag(np.linalg.inv(A))), abs=1e-7)
    # moment estimator lands near the true dispersion and β
    assert a == pytest.approx(true_alpha, abs=0.12)
    assert m.beta == pytest.approx([1.0, 0.4], abs=0.06)
    assert m.null_deviance >= m.deviance
    # NB SEs widen vs the misspecified Poisson fit
    from fast_causal_inference_spark.operators.glm import glm
    pois = glm(sdf, "y ~ x1", family="poisson")
    assert m.stderr[1] > pois.stderr[1]


def test_negative_binomial_fixed_alpha_and_validation(spark, count_df):
    from fast_causal_inference_spark.operators.glm import (
        negative_binomial_regression,
    )
    from pyspark.sql import functions as F

    m = negative_binomial_regression(count_df, "y ~ x1", alpha=0.0,
                                     offset="ln(expo)")
    # α=0 is exactly Poisson
    from fast_causal_inference_spark.operators.glm import glm
    pois = glm(count_df, "y ~ x1", family="poisson", offset="ln(expo)")
    assert m.beta == pytest.approx(pois.beta, abs=1e-7)
    with pytest.raises(ValueError, match="alpha"):
        negative_binomial_regression(count_df, "y ~ x1", alpha=-1.0)
    with pytest.raises(ValueError, match="non-negative"):
        negative_binomial_regression(
            count_df.withColumn("y", F.col("y") - 100), "y ~ x1")


@pytest.mark.parametrize("alpha", [-1.0, -1e-300, math.nan, math.inf])
def test_negative_binomial_bad_alpha_raises_before_any_job(spark, count_df,
                                                           monkeypatch,
                                                           alpha):
    """A negative or non-finite α is rejected up front: the call runs no
    Spark job, on the distributed branch too, where the Poisson first
    stage would otherwise cost one job per IRLS step."""
    monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    sc = spark.sparkContext
    group = f"negbin_bad_alpha_{alpha}"
    sc.setJobGroup(group, "")
    try:
        with pytest.raises(ValueError, match="alpha"):
            negative_binomial_regression(count_df, "y ~ x1", alpha=alpha)
    finally:
        sc.setJobGroup("default", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def _np_binom_irls(X, yv, off, link, max_iter=25, tol=1e-8):
    """Mirror of operators/glm._binomial_glm in numpy (exact erf)."""
    verf = np.vectorize(math.erf)
    p = X.shape[1]
    beta = np.zeros(p)
    for _ in range(max_iter):
        eta = X @ beta + off
        if link == "logit":
            mu = 1 / (1 + np.exp(-eta))
            dmu = mu * (1 - mu)
        elif link == "probit":
            mu = 0.5 * (1 + verf(eta / math.sqrt(2)))
            dmu = np.exp(-eta * eta / 2) / math.sqrt(2 * math.pi)
        else:
            ex = np.exp(eta)
            mu = 1 - np.exp(-ex)
            dmu = ex * np.exp(-ex)
        dmu = dmu + 1e-10
        w = dmu * dmu / (mu * (1 - mu) + 1e-10)
        z = (eta - off) + (yv - mu) / dmu
        A = X.T @ (w[:, None] * X)
        new = np.linalg.solve(A, X.T @ (w * z))
        if np.max(np.abs(new - beta)) < tol:
            return new, A
        beta = new
    return beta, A


@pytest.fixture(scope="module")
def binom_pdf():
    rng = np.random.default_rng(11)
    n = 6000
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    verf = np.vectorize(math.erf)
    p_probit = 0.5 * (1 + verf((-0.3 + 0.8 * x1 + 0.4 * x2) / math.sqrt(2)))
    yb = (rng.uniform(0, 1, n) < p_probit).astype(float)
    return pd.DataFrame({"x1": x1, "x2": x2, "yb": yb})


@pytest.fixture(scope="module")
def binom_df(spark, binom_pdf):
    return spark.createDataFrame(binom_pdf).repartition(4).cache()


def test_probit_matches_numpy_and_recovers_truth(binom_df, binom_pdf):
    from fast_causal_inference_spark.operators.glm import probit_regression

    m = probit_regression(binom_df, "yb ~ x1 + x2")
    X = np.column_stack([np.ones(len(binom_pdf)), binom_pdf.x1,
                         binom_pdf.x2])
    b, A = _np_binom_irls(X, binom_pdf.yb.to_numpy(), np.zeros(len(X)),
                          "probit")
    assert m.beta == pytest.approx(b, abs=1e-7)
    assert m.stderr == pytest.approx(
        np.sqrt(np.diag(np.linalg.inv(A))), abs=1e-7)
    assert m.beta == pytest.approx([-0.3, 0.8, 0.4], abs=0.08)
    assert m.converged and m.null_deviance > m.deviance
    assert m.link == "probit" and "probit" in m.summary()


def test_binomial_logit_and_cloglog(binom_df, binom_pdf):
    from fast_causal_inference_spark.operators.glm import glm

    X = np.column_stack([np.ones(len(binom_pdf)), binom_pdf.x1,
                         binom_pdf.x2])
    yv = binom_pdf.yb.to_numpy()
    for link in ("logit", "cloglog"):
        m = glm(binom_df, "yb ~ x1 + x2", family="binomial", link=link)
        b, A = _np_binom_irls(X, yv, np.zeros(len(X)), link)
        assert m.beta == pytest.approx(b, abs=1e-6), link
        assert m.stderr == pytest.approx(
            np.sqrt(np.diag(np.linalg.inv(A))), abs=1e-6), link
    # default link is logit, and it agrees with the package's dedicated
    # logistic-IRLS solver
    from fast_causal_inference_spark.operators.logistic import (
        logistic_regression,
    )

    m = glm(binom_df, "yb ~ x1 + x2", family="binomial")
    lr = logistic_regression(binom_df, "yb ~ x1 + x2")
    assert m.beta == pytest.approx(np.asarray(lr.beta), abs=1e-5)


def test_binomial_offset_null_and_predict(spark, binom_df, binom_pdf):
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.glm import glm

    m = glm(binom_df, "yb ~ x1", family="binomial", link="probit",
            offset="0.5 * x2")
    X = np.column_stack([np.ones(len(binom_pdf)), binom_pdf.x1])
    off = 0.5 * binom_pdf.x2.to_numpy()
    b, _ = _np_binom_irls(X, binom_pdf.yb.to_numpy(), off, "probit")
    assert m.beta == pytest.approx(b, abs=1e-7)
    assert m.null_deviance >= m.deviance - 1e-9
    # response-scale predictions are proper probabilities matching Φ
    verf = np.vectorize(math.erf)
    want = 0.5 * (1 + verf((X @ m.beta + off) / math.sqrt(2)))
    got = (m.predict(binom_df, "mu").select("mu").toPandas()
           .mu.to_numpy())
    assert np.quantile(got, 0.99) <= 1.0 and np.quantile(got, 0.01) >= 0.0
    assert sorted(got)[:5] == pytest.approx(sorted(want)[:5], abs=1e-9)
    assert float(np.sort(got).sum()) == pytest.approx(
        float(np.sort(want).sum()), abs=1e-6)


def test_binomial_validation(binom_df):
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.glm import glm

    with pytest.raises(ValueError, match="link"):
        glm(binom_df, "yb ~ x1", family="binomial", link="identity")
    with pytest.raises(ValueError, match="link"):
        glm(binom_df, "yb ~ x1", family="poisson", link="probit")
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        glm(binom_df.withColumn("yb", F.col("yb") * 2), "yb ~ x1",
            family="binomial")


@pytest.fixture(scope="module")
def tweedie_pdf():
    rng = np.random.default_rng(21)
    n = 6000
    x1 = rng.normal(0, 1, n)
    expo = rng.uniform(0.5, 2.0, n)
    mu = expo * np.exp(0.3 + 0.5 * x1)
    # compound Poisson-gamma draw (true Tweedie, p≈1.5-ish)
    lam = mu ** 0.5
    ncl = rng.poisson(lam)
    # claims Gamma(a=2, θ=√m/2) so E[y] = λ·a·θ = m exactly
    y = np.array([rng.gamma(2.0, m ** 0.5 / 2.0, k).sum() if k > 0 else 0.0
                  for k, m in zip(ncl, mu)])
    return pd.DataFrame({"x1": x1, "expo": expo, "y": y})


def _np_tweedie_irls(X, yv, off, p_var, max_iter=25, tol=1e-8):
    beta = np.zeros(X.shape[1])
    beta[0] = math.log(yv.mean())
    for _ in range(max_iter):
        eta = X @ beta + off
        mu = np.exp(eta)
        s = mu ** (2.0 - p_var) + 1e-10
        z = (eta - off) + (yv - mu) / mu
        A = X.T @ (s[:, None] * X)
        new = np.linalg.solve(A, X.T @ (s * z))
        if np.max(np.abs(new - beta)) < tol:
            return new, A
        beta = new
    return beta, A


def test_tweedie_matches_numpy_and_zero_mass(spark, tweedie_pdf):
    from fast_causal_inference_spark.operators.glm import glm

    sdf = spark.createDataFrame(tweedie_pdf).repartition(4).cache()
    assert (tweedie_pdf.y == 0).sum() > 100          # real point mass at 0
    m = glm(sdf, "y ~ x1", family="tweedie", var_power=1.5,
            offset="ln(expo)")
    X = np.column_stack([np.ones(len(tweedie_pdf)), tweedie_pdf.x1])
    off = np.log(tweedie_pdf.expo.to_numpy())
    b, A = _np_tweedie_irls(X, tweedie_pdf.y.to_numpy(), off, 1.5)
    assert m.beta == pytest.approx(b, abs=1e-7)
    yv, muh = tweedie_pdf.y.to_numpy(), np.exp(X @ b + off)
    phi = float(((yv - muh) ** 2 / muh ** 1.5).sum()) / (len(yv) - 2)
    assert m.dispersion == pytest.approx(phi, rel=1e-6)
    assert m.stderr == pytest.approx(
        np.sqrt(np.diag(np.linalg.inv(A)) * phi), abs=1e-7)
    # truth recovery on the systematic part
    assert m.beta[1] == pytest.approx(0.5, abs=0.1)
    assert m.null_deviance >= m.deviance - 1e-9
    # null deviance agrees with the closed-form offset intercept in numpy
    p1, p2 = -0.5, 0.5
    b0 = math.log((yv * np.exp(p1 * off)).sum()
                  / np.exp(p2 * off).sum())
    mu0 = np.exp(b0 + off)
    nd = 2 * (yv ** p2 / (p1 * p2) - yv * mu0 ** p1 / p1
              + mu0 ** p2 / p2).sum()
    assert m.null_deviance == pytest.approx(nd, rel=1e-9)
    # no-offset null is the plain mean
    m2 = glm(sdf, "y ~ x1", family="tweedie", var_power=1.3)
    ybar = yv.mean()
    q1, q2 = 1 - 1.3, 2 - 1.3
    nd2 = 2 * ((yv ** q2).sum() / (q1 * q2)
               - yv.sum() * ybar ** q1 / q1 + len(yv) * ybar ** q2 / q2)
    assert m2.null_deviance == pytest.approx(nd2, rel=1e-9)
    with pytest.raises(ValueError, match="var_power"):
        glm(sdf, "y ~ x1", family="tweedie", var_power=2.0)
    with pytest.raises(ValueError, match="non-negative"):
        glm(sdf.withColumn("y", sdf.y - 1000), "y ~ x1", family="tweedie")


def test_glm_null_rows_are_complete_case(spark, count_pdf):
    """A NULL-y (or NULL-feature) row must drop from BOTH sides of the
    Gramian — before the fix it entered the y-free sums only."""
    from fast_causal_inference_spark.operators.glm import glm

    pdf = count_pdf.copy()
    clean = spark.createDataFrame(pdf).coalesce(2)
    withnull = pdf.copy()
    withnull.loc[withnull.index[:500], "y"] = np.nan
    dirty = spark.createDataFrame(withnull).coalesce(2)
    ref = glm(spark.createDataFrame(pdf.iloc[500:]), "y ~ x1 + x2",
              family="poisson")
    got = glm(dirty, "y ~ x1 + x2", family="poisson")
    assert got.beta == pytest.approx(ref.beta, abs=1e-9)
    assert got.stderr == pytest.approx(ref.stderr, abs=1e-9)
    assert got.n == ref.n
    # NULL feature rows drop too
    withnullx = pdf.copy()
    withnullx.loc[withnullx.index[:500], "x1"] = np.nan
    gotx = glm(spark.createDataFrame(withnullx), "y ~ x1 + x2",
               family="poisson")
    refx = glm(spark.createDataFrame(pdf.iloc[500:]), "y ~ x1 + x2",
               family="poisson")
    assert gotx.beta == pytest.approx(refx.beta, abs=1e-9)


# ---------------------------------------------------------------------------
# glm_grouped: per-segment fits == per-segment glm() on filtered frames
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def seg_df(spark, count_pdf):
    pdf = count_pdf.copy()
    pdf["seg"] = (np.arange(len(pdf)) % 3).astype("int64")
    return spark.createDataFrame(pdf).repartition(4).cache()


@pytest.mark.parametrize("family,formula,kw", [
    ("poisson", "y ~ x1 + x2", {"offset": "ln(expo)"}),
    ("gamma", "ygam ~ x1", {}),
    ("gaussian", "y ~ x1 + x2", {}),
    ("binomial", "cast(y > 1 as double) ~ x1 + x2", {}),
])
def test_glm_grouped_matches_per_segment_glm(seg_df, family, formula, kw):
    from fast_causal_inference_spark.operators.glm import glm, glm_grouped

    out = glm_grouped(seg_df, formula, "seg", family=family, **kw)
    assert set(out) == {0, 1, 2}
    for g in (0, 1, 2):
        solo = glm(seg_df.where(f"seg = {g}"), formula, family=family, **kw)
        m = out[g]
        assert m.converged and solo.converged
        np.testing.assert_allclose(m.beta, solo.beta, rtol=1e-6, atol=1e-9)
        np.testing.assert_allclose(m.stderr, solo.stderr, rtol=1e-5)
        assert m.n == solo.n
        np.testing.assert_allclose(m.deviance, solo.deviance, rtol=1e-6)
        np.testing.assert_allclose(m.dispersion, solo.dispersion,
                                   rtol=1e-6)


def test_glm_grouped_null_group_key(seg_df):
    from fast_causal_inference_spark.operators.glm import glm, glm_grouped

    out = glm_grouped(
        seg_df, "y ~ x1", "CASE WHEN seg = 2 THEN NULL ELSE seg END",
        family="poisson")
    assert set(k for k in out if k is not None) == {0, 1}
    assert None in out
    solo = glm(seg_df.where("seg = 2"), "y ~ x1", family="poisson")
    np.testing.assert_allclose(out[None].beta, solo.beta, rtol=1e-6)


def test_glm_grouped_validation_and_guards(seg_df):
    from fast_causal_inference_spark.operators.glm import glm_grouped

    with pytest.raises(ValueError, match="strictly positive"):
        glm_grouped(seg_df, "(ygam - 100) ~ x1", "seg", family="gamma")
    with pytest.raises(ValueError, match="max_groups"):
        glm_grouped(seg_df, "y ~ x1", "x1", family="poisson",
                    max_groups=10)
    with pytest.raises(ValueError, match="logit"):
        glm_grouped(seg_df, "cast(y > 1 as double) ~ x1", "seg",
                    family="binomial", link="probit")


def test_glm_grouped_singular_segment_flagged(spark):
    from fast_causal_inference_spark.operators.glm import glm_grouped

    pdf = pd.DataFrame({
        "g": ["a"] * 50 + ["b"] * 3,
        "x": list(np.linspace(0, 2, 50)) + [1.0, 1.0, 1.0],  # b: constant x
        "y": list(np.exp(0.3 + 0.5 * np.linspace(0, 2, 50)))
        + [2.0, 3.0, 4.0]})
    out = glm_grouped(spark.createDataFrame(pdf), "y ~ x", "g",
                      family="poisson")
    assert out["a"].converged
    np.testing.assert_allclose(out["a"].beta, [0.3, 0.5], atol=1e-6)
    # collinear segment: same degenerate contract as solo glm() — the
    # float-rounded pivot solves but the Fisher inverse explodes, so
    # the stderr flags the unidentified design (or, when LAPACK does
    # detect exact singularity, converged=False via the lstsq fallback)
    assert (not out["b"].converged) or float(np.min(out["b"].stderr)) > 1e3


def test_poisson_regression_facade(seg_df):
    from fast_causal_inference_spark.operators.glm import (
        glm,
        poisson_regression,
    )

    m = poisson_regression(seg_df, "y ~ x1", offset="ln(expo)")
    ref = glm(seg_df, "y ~ x1", family="poisson", offset="ln(expo)")
    np.testing.assert_allclose(m.beta, ref.beta, rtol=0, atol=0)


def test_glm_grouped_separated_binomial_segment(spark):
    """A (quasi-)separated segment saturates mu to 0/1; the shared
    clamped deviance must stay finite (no ANSI divide-by-zero, no NULL
    sum -> TypeError) and match solo glm()'s clamped value."""
    from fast_causal_inference_spark.operators.glm import glm, glm_grouped

    rng = np.random.default_rng(7)
    xa = rng.normal(0, 1, 400)
    pdf = pd.DataFrame({
        "g": ["sep"] * 30 + ["ok"] * 400,
        # sep: y = 1{x > 0} exactly -> perfect separation
        "x": list(np.linspace(-1, 1, 30)) + list(xa),
        "y": [float(v > 0) for v in np.linspace(-1, 1, 30)]
        + [float(v) for v in
           rng.binomial(1, 1 / (1 + np.exp(-xa)))]})
    out = glm_grouped(spark.createDataFrame(pdf), "y ~ x", "g",
                      family="binomial")
    assert np.isfinite(out["sep"].deviance)
    assert out["sep"].deviance >= 0
    solo = glm(spark.createDataFrame(pdf[pdf.g == "ok"]), "y ~ x",
               family="binomial")
    np.testing.assert_allclose(out["ok"].beta, solo.beta, rtol=1e-6)
    np.testing.assert_allclose(out["ok"].deviance, solo.deviance,
                               rtol=1e-6)


# ---------------------------------------------------------------------------
# the shared Fisher-scoring kernel (design.py): collected numpy branch vs
# distributed Gramian branch, and complete-case logistic
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def branch_df(spark):
    rng = np.random.default_rng(23)
    n = 300
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    expo = rng.uniform(0.5, 3.0, n)
    lam = np.exp(0.3 + 0.4 * x1 - 0.2 * x2)
    ypos = rng.gamma(2.0, lam / 2.0)
    pdf = pd.DataFrame({
        "x1": x1, "x2": x2, "expo": expo,
        "yc": rng.poisson(lam * expo).astype(float),
        "ynb": rng.negative_binomial(2, 2 / (2 + lam)).astype(float),
        "yb": (rng.uniform(size=n)
               < 1 / (1 + np.exp(-(0.2 + 0.8 * x1 - 0.5 * x2)))).astype(float),
        "ypos": ypos,
        "ytw": np.where(rng.uniform(size=n) < 0.3, 0.0, ypos),
        "yg": 1 + 0.5 * x1 - 0.3 * x2 + rng.normal(0, 1, n),
        "miss": rng.uniform(size=n) < 0.3})
    return spark.createDataFrame(pdf).coalesce(1).cache()


# one feature, tol=1e-5 and one α round keep the distributed fits (one
# Spark job per IRLS step) inside the test's time budget
BRANCH_FITS = {
    "logistic": lambda df: logistic_regression(df, "yb ~ x1", tol=1e-5),
    "poisson": lambda df: glm(df, "yc ~ x1", family="poisson", tol=1e-5),
    "quasipoisson": lambda df: glm(df, "yc ~ x1", family="quasipoisson",
                                   tol=1e-5),
    "gamma": lambda df: glm(df, "ypos ~ x1", family="gamma", tol=1e-5),
    "gaussian": lambda df: glm(df, "yg ~ x1", family="gaussian"),
    "tweedie": lambda df: glm(df, "ytw ~ x1", family="tweedie",
                              var_power=1.4, tol=1e-5),
    "binomial-logit": lambda df: glm(df, "yb ~ x1", family="binomial",
                                     tol=1e-5),
    "binomial-probit": lambda df: glm(df, "yb ~ x1", family="binomial",
                                      link="probit", tol=1e-5),
    "binomial-cloglog": lambda df: glm(df, "yb ~ x1", family="binomial",
                                       link="cloglog", tol=1e-5),
    "negbin": lambda df: negative_binomial_regression(
        df, "ynb ~ x1", tol=1e-5, alpha_rounds=1),
    "poisson-offset": lambda df: glm(df, "yc ~ x1", family="poisson",
                                     offset="ln(expo)", tol=1e-5),
}


@pytest.mark.parametrize("fit", BRANCH_FITS.values(), ids=BRANCH_FITS)
def test_distributed_branch_matches_collected(branch_df, monkeypatch, fit):
    """Below the small-design cutoff the kernel iterates in numpy on the
    collected design; with the cutoff at 0 every step is a Spark
    aggregation.  Both must reach the same fit."""
    collected = fit(branch_df)
    monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    distributed = fit(branch_df)
    for field in ("beta", "stderr", "deviance", "null_deviance"):
        if hasattr(collected, field):
            np.testing.assert_allclose(getattr(distributed, field),
                                       getattr(collected, field),
                                       rtol=1e-10, atol=0, err_msg=field)
    assert distributed.n_iter == collected.n_iter
    assert distributed.n == collected.n == 300


@pytest.mark.parametrize("small_rows", [None, 0],
                         ids=["collected", "distributed"])
def test_logistic_fits_complete_cases(branch_df, monkeypatch, small_rows):
    """A NULL-outcome row used to enter the y-free Gramian sums and the
    count but not the y-bearing sums, biasing the fit; now it drops like
    in every other GLM."""
    if small_rows is not None:
        monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", small_rows)
    dirty = branch_df.withColumn(
        "yb", F.when(F.col("miss"), F.lit(None)).otherwise(F.col("yb")))
    got = logistic_regression(dirty, "yb ~ x1 + x2")
    ref = logistic_regression(dirty.where("yb IS NOT NULL"), "yb ~ x1 + x2")
    assert got.n == ref.n == branch_df.where("NOT miss").count()
    assert got.beta.view(np.uint64).tolist() \
        == ref.beta.view(np.uint64).tolist()
    assert got.stderr.view(np.uint64).tolist() \
        == ref.stderr.view(np.uint64).tolist()
    assert got.n_iter == ref.n_iter
