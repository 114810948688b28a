"""Cox PH against a from-scratch numpy Newton implementation (Breslow)."""

import numpy as np
import pandas as pd
import pytest

from fast_causal_inference_spark.operators.survival import cox_ph


def _numpy_cox(t, e, X, iters=25):
    n, k = X.shape
    beta = np.zeros(k)
    order = np.argsort(-t)                    # descending time
    t, e, X = t[order], e[order], X[order]
    for _ in range(iters):
        w = np.exp(X @ beta)
        U = np.zeros(k)
        H = np.zeros((k, k))
        S0, S1, S2 = 0.0, np.zeros(k), np.zeros((k, k))
        i = 0
        while i < n:
            j = i
            while j < n and t[j] == t[i]:
                S0 += w[j]
                S1 += w[j] * X[j]
                S2 += w[j] * np.outer(X[j], X[j])
                j += 1
            for m in range(i, j):
                if e[m] > 0:
                    U += X[m] - S1 / S0
                    H += S2 / S0 - np.outer(S1 / S0, S1 / S0)
            i = j
        beta = beta + np.linalg.solve(H, U)
    return beta, np.sqrt(np.diag(np.linalg.pinv(H)))


@pytest.fixture(scope="module")
def surv_pdf():
    rng = np.random.default_rng(7)
    n = 3000
    x1 = rng.normal(0, 1, n)
    x2 = rng.integers(0, 2, n).astype(float)
    lam = 0.1 * np.exp(0.7 * x1 - 0.4 * x2)
    t_event = rng.exponential(1.0 / lam)
    t_cens = rng.exponential(15.0, n)
    t_obs = np.minimum(t_event, t_cens)
    e = (t_event <= t_cens).astype(float)
    # bucket times so the grid is bounded (the operator's envelope)
    t_obs = np.round(t_obs, 2)
    return pd.DataFrame({"t": t_obs, "e": e, "x1": x1, "x2": x2})


def test_cox_matches_numpy(spark, surv_pdf):
    df = spark.createDataFrame(surv_pdf).repartition(4)
    got = cox_ph(df, "t", "e", ["x1", "x2"])
    beta, se = _numpy_cox(surv_pdf.t.to_numpy(), surv_pdf.e.to_numpy(),
                          surv_pdf[["x1", "x2"]].to_numpy())
    assert got.coef.to_numpy() == pytest.approx(beta, abs=1e-6)
    assert got.stderr.to_numpy() == pytest.approx(se, rel=1e-4)
    # recovers the DGP within sampling error
    assert got.coef.iloc[0] == pytest.approx(0.7, abs=0.1)
    assert got.coef.iloc[1] == pytest.approx(-0.4, abs=0.15)
    assert (got.p_value < 0.001).all()


def test_cox_efron_matches_numpy(spark):
    """Efron ties vs a direct numpy partial-likelihood Newton solve."""
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.operators.survival import cox_ph

    rng = np.random.default_rng(73)
    n = 600
    x = rng.normal(0, 1, n)
    # heavy ties: integer event times
    t = np.ceil(rng.exponential(5.0, n) * np.exp(-0.7 * x)).clip(1, 15)
    e = (rng.uniform(0, 1, n) < 0.8).astype(float)
    pdf = pd.DataFrame({"t": t, "e": e, "x": x})
    got = cox_ph(spark.createDataFrame(pdf), "t", "e", ["x"],
                 ties="efron").iloc[0]

    # numpy oracle: Efron partial likelihood, Newton
    beta = 0.0
    for _ in range(50):
        w = np.exp(beta * x)
        U = 0.0
        H = 0.0
        for tt in np.unique(t[e == 1]):
            risk = t >= tt
            dead = (t == tt) & (e == 1)
            d = dead.sum()
            S0, S1, S2 = (w[risk].sum(), (w * x)[risk].sum(),
                          (w * x * x)[risk].sum())
            E0, E1, E2 = (w[dead].sum(), (w * x)[dead].sum(),
                          (w * x * x)[dead].sum())
            sx = x[dead].sum()
            for ell in range(int(d)):
                f = ell / d
                a0 = S0 - f * E0
                a1 = S1 - f * E1
                a2 = S2 - f * E2
                U += sx / d - a1 / a0
                H += a2 / a0 - (a1 / a0) ** 2
        step = U / H
        beta += step
        if abs(step) < 1e-12:
            break
    se = 1.0 / np.sqrt(H)
    assert float(got.coef) == pytest.approx(beta, rel=1e-6)
    assert float(got.stderr) == pytest.approx(se, rel=1e-6)
    # the hazard here is proportional to exp(+0.7x) (the exponential
    # SCALE carries exp(-0.7x), and hazard = 1/scale); heavy ties shrink
    # both approximations toward zero, Efron less so than Breslow
    br = cox_ph(spark.createDataFrame(pdf), "t", "e", ["x"],
                ties="breslow").iloc[0]
    assert float(got.coef) > float(br.coef) > 0
    assert abs(float(got.coef) - 0.7) < abs(float(br.coef) - 0.7)


def test_stratified_logrank(spark):
    """Stratified log-rank: per-stratum O-E sums vs a numpy oracle, and
    equivalence to the plain test with a single stratum."""
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.operators.survival import (
        logrank_test,
        stratified_logrank_test,
    )

    rng = np.random.default_rng(89)
    n = 2000
    strat = rng.integers(0, 3, n)
    arm = rng.integers(0, 2, n)
    # stratum shifts the baseline hazard; arm has a modest effect
    t = np.ceil(rng.exponential(4.0 + 2.0 * strat, n)
                * np.exp(-0.3 * arm)).clip(1, 20)
    e = (rng.uniform(0, 1, n) < 0.85).astype(float)
    pdf = pd.DataFrame({"t": t, "e": e, "arm": arm, "s": strat})
    df = spark.createDataFrame(pdf)

    res = stratified_logrank_test(df, "t", "e", "arm", ["s"]).iloc[0]
    assert res.n_strata == 3

    # numpy oracle
    om, vv = 0.0, 0.0
    for sv in (0, 1, 2):
        sub = pdf[pdf.s == sv]
        for tt in np.sort(sub[sub.e == 1].t.unique()):
            at = sub[sub.t >= tt]
            d1 = ((sub.t == tt) & (sub.e == 1) & (sub.arm == 1)).sum()
            dt = ((sub.t == tt) & (sub.e == 1)).sum()
            n1, nt = (at.arm == 1).sum(), len(at)
            om += d1 - dt * n1 / nt
            if nt > 1:
                vv += dt * (n1 / nt) * (1 - n1 / nt) * (nt - dt) / (nt - 1)
    assert float(res.chi2) == pytest.approx(om * om / vv, rel=1e-9)

    # single stratum == plain log-rank
    pdf1 = pdf.assign(s=0)
    a = stratified_logrank_test(spark.createDataFrame(pdf1), "t", "e",
                                "arm", ["s"]).iloc[0]
    b = logrank_test(spark.createDataFrame(pdf1), "t", "e", "arm").iloc[0]
    assert float(a.chi2) == pytest.approx(float(b.chi2), rel=1e-9)


def test_cox_efron_fractional_events_rejected(spark):
    import numpy as np
    import pandas as pd

    from fast_causal_inference_spark.operators.survival import cox_ph

    pdf = pd.DataFrame({"t": [1.0, 1.0, 2.0, 3.0],
                        "e": [0.4, 1.0, 1.0, 0.0],
                        "x": [0.1, -0.2, 0.5, 0.3]})
    with pytest.raises(ValueError, match="integer tie counts"):
        cox_ph(spark.createDataFrame(pdf), "t", "e", ["x"], ties="efron")
    # breslow accepts fractional event weights
    out = cox_ph(spark.createDataFrame(pdf), "t", "e", ["x"],
                 ties="breslow")
    assert np.isfinite(out.coef.iloc[0])


def _np_weibull_aft(X, t, d, max_iter=50, tol=1e-9):
    """Independent full-likelihood Newton MLE (vectorized numpy)."""
    import numpy.linalg as la

    n, p = X.shape
    beta = la.lstsq(X, np.log(t), rcond=None)[0]
    s = 0.0

    def score(beta, s):
        sig = np.exp(s)
        z = (np.log(t) - X @ beta) / sig
        u = np.exp(z)
        ll = float(np.sum(d * (z - s - np.log(t)) - u))
        g = np.empty(p + 1)
        g[:p] = X.T @ (u - d) / sig
        g[p] = float(np.sum(z * (u - d) - d))
        H = np.empty((p + 1, p + 1))
        H[:p, :p] = -(X.T @ (u[:, None] * X)) / sig ** 2
        c = X.T @ (z * u + (u - d)) / sig
        H[:p, p] = H[p, :p] = -c
        H[p, p] = -float(np.sum(z * u * (1 + z) - z * d))
        return ll, g, H

    ll, g, H = score(beta, s)
    th = np.concatenate([beta, [s]])
    for _ in range(max_iter):
        step = la.solve(H, g)
        new = th - step
        ll_n, g_n, H_n = score(new[:p], new[p])
        halves = 0
        while ll_n < ll - 1e-12 and halves < 20:
            step /= 2
            new = th - step
            ll_n, g_n, H_n = score(new[:p], new[p])
            halves += 1
        done = np.max(np.abs(new - th)) < tol or abs(ll_n - ll) < tol
        th, ll, g, H = new, ll_n, g_n, H_n
        if done:
            break
    se = np.sqrt(np.diag(np.linalg.pinv(-H)))
    return th, se, ll


@pytest.fixture(scope="module")
def aft_pdf():
    rng = np.random.default_rng(3)
    n = 4000
    x1 = rng.normal(0, 1, n)
    x2 = rng.binomial(1, 0.4, n).astype(float)
    eps = np.log(-np.log(rng.uniform(size=n)))      # Gumbel-min
    T = np.exp(1.0 + 0.5 * x1 - 0.3 * x2 + 0.7 * eps)
    C = rng.exponential(8.0, n)
    return pd.DataFrame({
        "x1": x1, "x2": x2,
        "t_obs": np.minimum(T, C), "ev": (T <= C).astype(float)})


def test_weibull_aft_matches_independent_mle(spark, aft_pdf):
    from fast_causal_inference_spark.operators.survival import weibull_aft

    sdf = spark.createDataFrame(aft_pdf).repartition(4)
    out = weibull_aft(sdf, "t_obs", "ev", ["x1", "x2"])
    X = np.column_stack([np.ones(len(aft_pdf)), aft_pdf.x1, aft_pdf.x2])
    th, se, ll = _np_weibull_aft(X, aft_pdf.t_obs.to_numpy(),
                                 aft_pdf.ev.to_numpy())
    got = dict(zip(out.name, out.coef))
    gse = dict(zip(out.name, out.stderr))
    assert got["(Intercept)"] == pytest.approx(th[0], abs=1e-6)
    assert got["x1"] == pytest.approx(th[1], abs=1e-6)
    assert got["x2"] == pytest.approx(th[2], abs=1e-6)
    assert got["log(scale)"] == pytest.approx(th[3], abs=1e-6)
    assert gse["x1"] == pytest.approx(se[1], abs=1e-6)
    assert gse["log(scale)"] == pytest.approx(se[3], abs=1e-6)
    assert out.attrs["loglik"] == pytest.approx(ll, abs=1e-5)
    assert out.attrs["converged"]
    # truth recovery (data-generating values) and attrs sanity
    assert got["x1"] == pytest.approx(0.5, abs=0.06)
    assert got["x2"] == pytest.approx(-0.3, abs=0.08)
    assert out.attrs["scale"] == pytest.approx(0.7, abs=0.05)
    assert 0 < out.attrs["n_events"] < out.attrs["n"]
    assert list(out.time_ratio) == pytest.approx(list(np.exp(out.coef)))


def test_weibull_aft_validation(spark, aft_pdf):
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.survival import weibull_aft

    sdf = spark.createDataFrame(aft_pdf.head(200))
    with pytest.raises(ValueError, match="covariate"):
        weibull_aft(sdf, "t_obs", "ev", [])
    with pytest.raises(ValueError, match="positive"):
        weibull_aft(sdf.withColumn("t_obs", F.col("t_obs") - 100.0),
                    "t_obs", "ev", ["x1"])
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        weibull_aft(sdf.withColumn("ev", F.col("ev") * 3), "t_obs", "ev",
                    ["x1"])
    # no-censoring degenerate direction still fits (all events)
    out = weibull_aft(sdf.withColumn("ev", F.lit(1.0)), "t_obs", "ev",
                      ["x1"])
    assert out.attrs["n_events"] == out.attrs["n"]


def test_cox_distributed_step_runs_two_jobs(spark):
    """One distributed Newton step is the per-time aggregate alone (its
    map stage and its result): the ≤ #distinct-times rows are sorted on
    the driver, where a descending ``orderBy`` added a range-sampling
    job and a sort shuffle (4 jobs)."""
    from fast_causal_inference_spark.operators.survival import (
        _cox_grouped_scan,
    )

    rng = np.random.default_rng(3)
    n = 600
    x = rng.normal(size=n)
    sub = spark.createDataFrame(pd.DataFrame({
        "__t": np.round(rng.exponential(5.0, n), 1) + 0.1,
        "__e": (rng.uniform(size=n) < 0.7).astype(float),
        "__x0": x})).repartition(4).cache()
    sub.count()
    sc = spark.sparkContext
    sc.setJobGroup("cox_one_step", "")
    try:
        rows = _cox_grouped_scan(sub, 1, np.array([0.3]), efron=True)
    finally:
        sc.setJobGroup("default", "")
        sub.unpersist()
    assert len(sc.statusTracker().getJobIdsForGroup("cox_one_step")) == 2
    times = [r["__t"] for r in rows]
    assert times == sorted(times, reverse=True)
