"""Heckman two-step vs a full numpy mirror (probit→Mills→OLS→Greene cov)."""

import math
import os

import numpy as np
import pandas as pd
import pytest

from fast_causal_inference_spark.operators.selection import heckman

_SQRT2PI = math.sqrt(2 * math.pi)


def _probit_irls(X, yv, max_iter=25, tol=1e-8):
    verf = np.vectorize(math.erf)
    beta = np.zeros(X.shape[1])
    for _ in range(max_iter):
        eta = X @ beta
        mu = 0.5 * (1 + verf(eta / math.sqrt(2)))
        dmu = np.exp(-eta * eta / 2) / _SQRT2PI + 1e-10
        w = dmu * dmu / (mu * (1 - mu) + 1e-10)
        z = eta + (yv - mu) / dmu
        A = X.T @ (w[:, None] * X)
        new = np.linalg.solve(A, X.T @ (w * z))
        if np.max(np.abs(new - beta)) < tol:
            return new
        beta = new
    return beta


def _np_heckman(x1, z1, s, yv):
    verf = np.vectorize(math.erf)
    Z = np.column_stack([np.ones(len(s)), z1])
    gamma = _probit_irls(Z, s)
    zg = Z @ gamma
    phi = np.exp(-zg * zg / 2) / _SQRT2PI
    Phi = np.maximum(0.5 * (1 + verf(zg / math.sqrt(2))), 1e-12)
    lam = phi / Phi
    delta = lam * (lam + zg)
    m = s == 1
    W = np.column_stack([np.ones(m.sum()), x1[m], lam[m]])
    beta = np.linalg.lstsq(W, yv[m], rcond=None)[0]
    e = yv[m] - W @ beta
    n1 = float(m.sum())
    b_lam = beta[-1]
    sigma2 = float(e @ e) / n1 + b_lam ** 2 * float(delta[m].sum()) / n1
    rho2 = min(b_lam ** 2 / sigma2, 1.0)
    D = delta[m]
    WtW = W.T @ W
    WdW = W.T @ (D[:, None] * W)
    Zsel = Z[m]
    WdZ = W.T @ (D[:, None] * Zsel)
    # probit Fisher at the MLE over all rows
    dmu = np.exp(-zg * zg / 2) / _SQRT2PI
    w0 = dmu * dmu / (Phi * (1 - Phi) + 1e-10)
    Fz = Z.T @ (w0[:, None] * Z)
    Vg = np.linalg.inv(Fz)
    WtW_inv = np.linalg.inv(WtW)
    mid = (WtW - rho2 * WdW) + rho2 * (WdZ @ Vg @ WdZ.T)
    cov = sigma2 * (WtW_inv @ mid @ WtW_inv)
    return beta, np.sqrt(np.diag(cov)), math.sqrt(sigma2), \
        b_lam / math.sqrt(sigma2)


@pytest.fixture(scope="module")
def heck_pdf():
    rng = np.random.default_rng(23)
    n = 8000
    x1 = rng.normal(0, 1, n)
    z1 = rng.normal(0, 1, n)
    rho, sig = 0.6, 2.0
    u = rng.normal(0, 1, n)
    eps = sig * (rho * u + math.sqrt(1 - rho ** 2) * rng.normal(0, 1, n))
    s = (0.3 + 1.0 * z1 + u > 0).astype(float)
    y_full = 1.0 + 2.0 * x1 + eps
    y = np.where(s == 1, y_full, np.nan)
    return pd.DataFrame({"x1": x1, "z1": z1, "s": s, "y": y})


def test_heckman_matches_numpy_mirror(spark, heck_pdf):
    sdf = spark.createDataFrame(heck_pdf).repartition(4).cache()
    out = heckman(sdf, "y ~ x1", "s ~ z1")
    b, se, sigma, rho = _np_heckman(heck_pdf.x1.to_numpy(),
                                    heck_pdf.z1.to_numpy(),
                                    heck_pdf.s.to_numpy(),
                                    heck_pdf.y.to_numpy())
    got = dict(zip(out.name, out.coef))
    gse = dict(zip(out.name, out.stderr))
    # mirror order: (Intercept), x1, lambda
    assert got["(Intercept)"] == pytest.approx(b[0], abs=1e-6)
    assert got["x1"] == pytest.approx(b[1], abs=1e-6)
    assert got["lambda"] == pytest.approx(b[2], abs=1e-6)
    assert gse["x1"] == pytest.approx(se[1], rel=1e-5)
    assert gse["lambda"] == pytest.approx(se[2], rel=1e-5)
    assert out.attrs["sigma"] == pytest.approx(sigma, rel=1e-6)
    assert out.attrs["rho"] == pytest.approx(rho, rel=1e-6)
    assert out.attrs["n_selected"] == heck_pdf.s.sum()


def test_heckman_corrects_selection_bias(spark, heck_pdf):
    from fast_causal_inference_spark.operators.ols import ols

    sdf = spark.createDataFrame(heck_pdf).cache()
    out = heckman(sdf, "y ~ x1", "s ~ z1")
    got = dict(zip(out.name, out.coef))
    # DGP truth recovered; selection parameters estimated
    assert got["(Intercept)"] == pytest.approx(1.0, abs=0.15)
    assert got["x1"] == pytest.approx(2.0, abs=0.1)
    assert out.attrs["rho"] == pytest.approx(0.6, abs=0.15)
    assert out.attrs["sigma"] == pytest.approx(2.0, abs=0.15)
    # λ's z-test detects the selection (ρ ≠ 0 by construction)
    lam_row = out[out.name == "lambda"].iloc[0]
    assert lam_row.p_value < 0.01
    # the naive OLS intercept on the selected sample is biased up
    # (E[ε|selected] > 0): heckman's intercept is closer to truth
    naive = ols(sdf.where("s = 1"), "y ~ x1")
    assert abs(got["(Intercept)"] - 1.0) < abs(naive.beta[0] - 1.0)
    # selection model rides in attrs
    sel = out.attrs["selection_model"]
    assert list(sel.name) == ["(Intercept)", "z1"]
    assert sel.estimate.iloc[1] == pytest.approx(1.0, abs=0.12)


def test_heckman_validation(spark, heck_pdf):
    few = heck_pdf.head(50).copy()
    few["s"] = [1.0, 1.0] + [0.0] * 48
    few["y"] = [1.0, 2.0] + [float("nan")] * 48
    sdf = spark.createDataFrame(few)
    with pytest.raises(ValueError, match="selected rows"):
        heckman(sdf, "y ~ x1", "s ~ z1")


# the ols__heckman gate's spec (__spark_entry__.g_ols_heckman): selection
# barely depends on Z, so λ is nearly collinear with the intercept
GATE_SF = "/root/testdata/sf0.01"
# 60-digit evaluation of the estimator on that spec, printed by
# tools/heckman_exact.py
GATE_EXACT = {
    "(Intercept)": (33895.538239811718, 33242.560219271177),
    "l_quantity": (0.642557751261618, 15.976806298799442),
    "lambda": (17750.845920201492, 30530.054175292864),
}


@pytest.mark.skipif(not os.path.exists(f"{GATE_SF}/lineitem.parquet"),
                    reason="sf0.01 lineitem testdata not present")
@pytest.mark.parametrize("branch", ["collected", "distributed"])
def test_heckman_near_collinear_gate_spec_matches_exact(spark, monkeypatch,
                                                        branch):
    """Every coef and stderr within half a unit of the gate's 6th
    decimal of the exact values, on both step-2 branches: with λ this
    close to collinear with the intercept (cond(W'W) ~ 4e7), a solve
    of the uncentred normal equations misses by up to 5e-6.  The
    collected branch holds a tenth of that margin: with the step-1
    probit stopped at a 1e-8 move it missed by 1.8e-7."""
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators import design

    if branch == "distributed":
        monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    li = spark.read.parquet(f"{GATE_SF}/lineitem.parquet") \
        .withColumn("sel", (F.col("l_orderkey") % 3 == 0).cast("double"))
    out = heckman(li, "l_extendedprice ~ l_quantity",
                  "sel ~ l_tax + l_quantity")
    assert sorted(out.name) == sorted(GATE_EXACT)
    assert out.attrs["selection_converged"]            # within max_iter
    bound = 5e-8 if branch == "collected" else 5e-7
    for r in out.itertuples():
        coef, se = GATE_EXACT[r.name]
        assert r.coef == pytest.approx(coef, rel=0, abs=bound), r.name
        assert r.stderr == pytest.approx(se, rel=0, abs=bound), r.name
    assert out.attrs["n_selected"] == 19964
    assert out.attrs["rho"] == pytest.approx(0.527419008939, rel=0, abs=5e-5)
    assert out.attrs["sigma"] == pytest.approx(33656.060208964, rel=0,
                                               abs=5e-5)
