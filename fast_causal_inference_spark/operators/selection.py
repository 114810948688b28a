"""Heckman two-step sample-selection correction (heckit).

Beyond the reference (its regression surface assumes the outcome is
observed for everyone): the classic fix for outcomes observed only for a
self-selected subsample — revenue observed only for converters, survey
answers only for responders.  Step 1 fits a probit of selection on Z;
step 2 regresses the observed outcomes on [X, λ] where λ = φ(zγ̂)/Φ(zγ̂)
is the inverse Mills ratio; β_λ = ρσ picks up the selection correlation.

SEs are the Greene two-step asymptotic covariance (accounting for both
the generated regressor and the heteroskedastic truncated errors):
σ̂² = e'e/n₁ + β_λ²·Σδ/n₁ with δ = λ(λ + zγ̂), ρ̂² = β_λ²/σ̂², and
Cov = σ̂²(W'W)⁻¹[W'(I−ρ̂²Δ)W + ρ̂²(W'ΔZ)V_probit(Z'ΔW)](W'W)⁻¹.

Step 2 is solved in shifted coordinates: every non-intercept column of
W = [1, X, λ] is centred on its mean over the selected rows, W_c = W·S
with S the identity whose row 0 is (1, −w̄₁, …, −w̄ₚ₋₁).  When selection
barely depends on Z, λ hardly varies and is nearly collinear with the
intercept, so the uncentred W'W is ill-conditioned (cond ~ 4e7 on the
``ols__heckman`` gate) and its solve and inverse magnify last-bit
differences in the Gramian sums — which move with the BLAS thread count
and the Spark sum order — into the sixth decimal.  The solve, the
residuals and the Greene sandwich are formed from W_c; then β = S·β_c
and Cov = S·Cov_c·Sᵀ.  β_λ, e, σ̂², ρ̂² and the Z side are unchanged.

Scale shape: one probit (Fisher-scoring Gramian scans,
``glm.py:_binomial_glm``), then the selected design persisted through
``design.prepare_design``, whose materializing aggregate also returns
the column means w̄, then TWO aggregation scans — the step-2 Gramian
[W_c'W_c, W_c'y], and the correction moments [e'e, Σδ, W_c'ΔW_c,
W_c'ΔZ] — every per-row quantity (λ, δ, e) a pure Column off the
driver-held coefficient vectors and means (Φ from the exact Arrow
``erf``).  The probit information Z'W₀Z is one more prepared design.
Below the small-design cutoff each design is collected once and the
sums are numpy Gramians; above it nothing row-scale reaches the driver.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import (
    persisted,
    prepare_design,
    sym_aggs,
    unpack_sym,
)

_SQRT2 = math.sqrt(2.0)
_SQRT2PI = math.sqrt(2.0 * math.pi)


def heckman(df: DataFrame, outcome_formula: str, selection_formula: str,
            max_iter: int = 25, tol: float = 1e-10) -> pd.DataFrame:
    """Fit ``heckman(df, 'wage ~ edu + exper', 'works ~ edu + kids')``.

    The selection LHS must be 0/1 and observed for every row; outcome
    rows where selection = 0 are excluded from step 2 (their y may be
    NULL).  For identification, give Z at least one variable excluded
    from X (the classic exclusion restriction) — not enforced, noted.

    Returns one row per parameter: the outcome coefficients, ``lambda``
    (the inverse-Mills coefficient β_λ = ρσ, whose z-test is the
    selection-bias test), with coef/stderr/z/p_value.  attrs: rho, sigma,
    n_total, n_selected, plus the step-1 probit frame under
    ``attrs['selection_model']`` and whether it converged under
    ``attrs['selection_converged']``.

    ``tol`` stops the step-1 probit once no coefficient moves by more.
    It is tighter than the GLMs' 1e-8 because step 2 magnifies γ's
    error when λ is nearly collinear with the intercept: on the
    ``ols__heckman`` gate's spec a probit stopped at 1e-8 left the
    intercept 1.8e-7 off its exact value, at 1e-10 (one more Fisher
    step) 3e-8.
    """
    from fast_causal_inference_spark.functions import erf
    from fast_causal_inference_spark.operators.glm import glm
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, x_feats = parse_r_formula(outcome_formula)
    s_expr, z_feats = parse_r_formula(selection_formula)

    # nuisance probit: only beta feeds the Mills ratio and only the
    # Fisher inverse (recomputed exactly at the final beta below) enters
    # the step-2 covariance — skip its deviance scans
    probit = glm(df, selection_formula, family="binomial", link="probit",
                 max_iter=max_iter, tol=tol, compute_stats=False)
    gamma = probit.beta
    kz = len(z_feats) + 1

    zg: Column = F.lit(float(gamma[0]))
    for g, e in zip(gamma[1:], z_feats):
        zg = zg + F.lit(float(g)) * F.expr(e).cast("double")
    phi = F.exp(-zg * zg / 2.0) / F.lit(_SQRT2PI)
    Phi = F.greatest(0.5 * (1.0 + erf(zg / F.lit(_SQRT2))), F.lit(1e-12))
    # asymptotic tail for strongly negative indices: the 1e-12 floor on
    # Phi would otherwise COLLAPSE the inverse Mills ratio toward 0
    # (phi(-8)/1e-12 ~ 0.005 against the true lambda(-8) ~ 8.12) for
    # exactly the rows where the selection correction matters most.
    # lambda(z) -> -z / (1 - 1/z^2 + 3/z^4) as z -> -inf (Mills ratio
    # expansion; agrees with the exact value to ~4 digits at z = -6).
    lam_tail = -zg / (1.0 - 1.0 / (zg * zg)
                      + 3.0 / (zg * zg * zg * zg))
    lam = F.when(zg < -6.0, lam_tail).otherwise(phi / Phi)
    delta = lam * (lam + zg)

    s = F.expr(s_expr).cast("double")
    y = F.expr(y_expr).cast("double")
    # complete-case over BOTH feature sets: each F.sum in the Gramian
    # scans skips its own NULL rows independently, so a NULL feature
    # value would put the moment matrix on inconsistent row sets
    # (glm.py documents and filters the same hazard; lambda depends on
    # the z features, so NULL z knocks out only the lambda terms)
    cc = (s == 1) & y.isNotNull()
    for e in x_feats + z_feats:
        cc = cc & F.expr(e).cast("double").isNotNull()
    pw = len(x_feats) + 2
    # the per-row quantities are projected ONCE (the inverse-Mills λ and
    # δ chains contain erf; inlined into the O(p²) agg expressions below
    # they would be re-evaluated per term) and persisted; the leading
    # intercepts of W and Z stay lit(1.0) (never materialized)
    cols = {f"__w{i}__": F.expr(e).cast("double")
            for i, e in enumerate(x_feats, start=1)}
    cols[f"__w{pw - 1}__"] = lam
    cols.update({f"__z{j}__": F.expr(e).cast("double")
                 for j, e in enumerate(z_feats, start=1)})
    cols["__d__"] = delta
    cols["__y__"] = y
    with persisted() as keep:
        # the materializing probe also returns the step-2 column means w̄
        # (the shift; module docstring)
        d = prepare_design(
            keep, df, cols, where=cc,
            probe=[F.avg(f"__w{i}__").alias(f"m{i}") for i in range(1, pw)],
            width=pw + kz + 2)
        n1 = float(d.probe["n"])
        if n1 <= pw:
            raise ValueError(f"only {int(n1)} selected rows for {pw} "
                             f"step-2 parameters")
        wbar = np.array([d.probe[f"m{i}"] or 0.0 for i in range(1, pw)],
                        dtype=float)
        if d.arrays is not None:
            a = d.arrays
            ones = np.ones(int(n1))
            Wm = np.column_stack([ones] + [a[f"__w{i}__"] - wbar[i - 1]
                                           for i in range(1, pw)])
            Zm = np.column_stack([ones] + [a[f"__z{j}__"]
                                           for j in range(1, kz)])
            dv, yv = a["__d__"], a["__y__"]
            WtW = Wm.T @ Wm
            Wty = Wm.T @ yv
            beta = np.linalg.solve(WtW, Wty)
            b_lam = float(beta[-1])
            e_v = yv - Wm @ beta
            sse = float(e_v @ e_v)
            sd = float(dv.sum())
            Wd = Wm * dv[:, None]
            WdW = Wd.T @ Wm
            WdZ = Wd.T @ Zm
        else:
            ws = [F.lit(1.0)] + [F.col(f"__w{i}__") - F.lit(float(wbar[i - 1]))
                                 for i in range(1, pw)]
            zs = [F.lit(1.0)] + [F.col(f"__z{j}__") for j in range(1, kz)]
            delta, y = F.col("__d__"), F.col("__y__")
            # scan 1: step-2 Gramian [W'W | W'y]
            r = d.work.agg(
                *[F.sum(ws[i] * y).alias(f"b{i}") for i in range(pw)],
                *sym_aggs(pw, "a", lambda i, j: ws[i] * ws[j])).collect()[0]
            WtW = unpack_sym(r, pw, "a")
            Wty = np.array([r[f"b{i}"] for i in range(pw)], dtype=float)
            beta = np.linalg.solve(WtW, Wty)
            b_lam = float(beta[-1])

            # scan 2: correction moments off the fitted residual column
            yhat: Column = F.lit(0.0)
            for b, c in zip(beta, ws):
                yhat = yhat + F.lit(float(b)) * c
            e_col = y - yhat
            r2 = d.work.agg(
                F.sum(e_col * e_col).alias("sse"), F.sum(delta).alias("sd"),
                *sym_aggs(pw, "wdw", lambda i, j: delta * ws[i] * ws[j]),
                *[F.sum(delta * ws[i] * zs[j]).alias(f"wdz{i}_{j}")
                  for i in range(pw) for j in range(kz)]).collect()[0]
            sse, sd = float(r2["sse"]), float(r2["sd"])
            WdW = unpack_sym(r2, pw, "wdw")
            WdZ = np.array([[r2[f"wdz{i}_{j}"] for j in range(kz)]
                            for i in range(pw)], dtype=float)
        sigma2 = sse / n1 + b_lam * b_lam * sd / n1
        rho2 = min(b_lam * b_lam / sigma2, 1.0) if sigma2 > 0 else 0.0

    # probit covariance: glm keeps only stderr, so rebuild the full
    # Fisher inverse with one more tiny pass over the probit's own
    # complete cases (selection + all Z non-null), projecting the w0 erf
    # chain once per row
    cc = s.isNotNull()
    for e in z_feats:
        cc = cc & F.expr(e).cast("double").isNotNull()
    cols = {f"__z{j}__": F.expr(e).cast("double")
            for j, e in enumerate(z_feats, start=1)}
    cols["__w0__"] = (phi * phi) / (Phi * (1.0 - Phi) + F.lit(1e-10))
    with persisted() as keep:
        f = prepare_design(keep, df, cols, where=cc, order_free=True,
                           width=kz + 2)
        if f.arrays is not None:
            a = f.arrays
            Zf = np.column_stack([np.ones(len(a["__w0__"]))]
                                 + [a[f"__z{j}__"] for j in range(1, kz)])
            Fz = (Zf * a["__w0__"][:, None]).T @ Zf
        else:
            zf = [F.lit(1.0)] + [F.col(f"__z{j}__") for j in range(1, kz)]
            w0c = F.col("__w0__")
            Fz = unpack_sym(f.work.agg(*sym_aggs(
                kz, "f", lambda i, j: w0c * zf[i] * zf[j])).collect()[0],
                kz, "f")
    Vg = np.linalg.inv(Fz)

    # Greene sandwich in the shifted coordinates, then back: β = S·β_c,
    # Cov = S·Cov_c·Sᵀ (S: identity with row 0 = (1, −w̄))
    WtW_inv = np.linalg.inv(WtW)
    mid = (WtW - rho2 * WdW) + rho2 * (WdZ @ Vg @ WdZ.T)
    S = np.eye(pw)
    S[0, 1:] = -wbar
    beta = S @ beta
    cov = sigma2 * (S @ WtW_inv @ mid @ WtW_inv @ S.T)
    se = np.sqrt(np.maximum(np.diag(cov), 0.0))

    names = ["(Intercept)"] + list(x_feats) + ["lambda"]
    order = list(range(1, pw - 1)) + [0, pw - 1]
    est, ses = beta[order], se[order]
    names = [names[i] for i in order]
    with np.errstate(divide="ignore", invalid="ignore"):
        z = est / ses
    out = pd.DataFrame({
        "name": names, "coef": est, "stderr": ses, "z": z,
        "p_value": 2.0 * np.asarray(dist.norm_sf(np.abs(z)))})
    sigma = math.sqrt(max(sigma2, 0.0))
    out.attrs.update({
        "rho": b_lam / sigma if sigma > 0 else float("nan"),
        "sigma": sigma, "n_total": float(probit.n), "n_selected": n1,
        "selection_model": probit.coef_table(),
        "selection_converged": probit.converged})
    return out
