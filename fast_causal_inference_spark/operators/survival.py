"""Survival utilities: Kaplan-Meier estimator and log-rank test.

Parity target: reference ``lib/survival.py`` (a minimal Cox/KM skeleton).
Spark-first: the KM product-limit estimator needs risk-set counts per distinct
event time — one groupBy + one ordered cumulative product over the (small)
distinct-time relation, done driver-side in pandas.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import (
    Prepared,
    newton_ascent,
    persisted,
    prepare_design,
    sym_aggs,
    unpack_sym,
)


def _surv_design(keep, df: DataFrame, time: str, event: str,
                 covariates: list[str], probe: list = (),
                 check=None) -> Prepared:
    """The persisted ``(__t, __e, __x0..)`` design of the survival
    fitters (``design.prepare_design``): rows with a NULL or NaN time,
    event or covariate are dropped (``na.drop`` semantics).  ``probe``
    takes order-free aggregates only (count, min, max)."""
    cols = {"__t": F.expr(time).cast("double"),
            "__e": F.expr(event).cast("double")}
    cols.update({f"__x{i}": F.expr(c).cast("double")
                 for i, c in enumerate(covariates)})
    where = F.lit(True)
    for c in cols.values():
        where = where & c.isNotNull() & ~F.isnan(c)
    return prepare_design(keep, df, cols, where=where, probe=probe,
                          order_free=True, check=check)


class _CoxGroupedRows:
    """Per-event-time sufficient sums for one Newton step, computed
    driver-side from collected arrays — same relation the distributed
    ``groupBy(__t)`` scan produces (descending time order, same keys)."""

    def __init__(self, t: np.ndarray, e: np.ndarray, X: np.ndarray):
        order = np.argsort(-t, kind="stable")
        self.t = t[order]
        self.e = e[order]
        self.X = X[order]
        self.starts = np.flatnonzero(
            np.r_[True, self.t[1:] != self.t[:-1]])
        self.tg = self.t[self.starts]

    def rows(self, beta: np.ndarray, efron: bool,
             with_n: bool = False) -> list[dict]:
        X, e, starts = self.X, self.e, self.starts
        k = X.shape[1]
        xb = X @ beta
        w = np.exp(xb)

        def red(a):
            return np.add.reduceat(a, starts)

        cols = {"sw": red(w), "d": red(e), "sxb_e": red(e * xb)}
        if with_n:
            cols["n"] = red(np.ones(len(e)))
        if efron:
            cols["swe"] = red(e * w)
        for i in range(k):
            xi = X[:, i]
            cols[f"swx{i}"] = red(w * xi)
            cols[f"sx{i}_e"] = red(e * xi)
            if efron:
                cols[f"swxe{i}"] = red(e * w * xi)
            for j in range(i, k):
                xj = X[:, j]
                cols[f"swxx{i}_{j}"] = red(w * xi * xj)
                if efron:
                    cols[f"swxxe{i}_{j}"] = red(e * w * xi * xj)
        names = list(cols)
        vecs = [cols[nm] for nm in names]
        out = []
        for g in range(len(self.tg)):
            rec = {nm: float(v[g]) for nm, v in zip(names, vecs)}
            rec["__t"] = float(self.tg[g])
            out.append(rec)
        return out


def kaplan_meier(df: DataFrame, time: str, event: str,
                 group: str | None = None,
                 weight: str | None = None) -> pd.DataFrame:
    """KM survival curve S(t) per optional group.

    ``weight`` (SQL expression) turns this into the adjusted/weighted KM
    (Xie-Liu 2005): risk sets and event counts become weighted sums —
    pass inverse-propensity weights (e.g. from
    ``operators.balancing.entropy_balancing`` or a propensity model) to
    estimate the survival curve a population would have had under one
    treatment.  Returns (group,) time, n_risk, n_event, survival.
    """
    keys = ([group] if group else [])
    t = F.expr(time).cast("double")
    e = F.expr(event).cast("double")
    w = F.expr(weight).cast("double") if weight else F.lit(1.0)
    # complete-case on time/event (a NULL-time row would inflate every
    # at-risk count), NULL group kept as its own stratum — the same two
    # conventions as rmst/aalen_johansen/stratified_logrank in this file
    agg = (df.where(t.isNotNull() & e.isNotNull())
             .groupBy(*keys, t.alias("time"))
             .agg(F.sum(w * e).alias("n_event"),
                  F.sum(w).alias("n_obs"))
             .orderBy(*keys, "time")
             .toPandas())
    out = []
    for g, sub in (agg.groupby(group, dropna=False) if group
                   else [(None, agg)]):
        sub = sub.sort_values("time").reset_index(drop=True)
        total = sub.n_obs.sum()
        at_risk = total - sub.n_obs.cumsum().shift(fill_value=0)
        surv = ((at_risk - sub.n_event) / at_risk).cumprod()
        rec = pd.DataFrame({"time": sub.time, "n_risk": at_risk,
                            "n_event": sub.n_event, "survival": surv})
        if group:
            rec.insert(0, group, g)
        out.append(rec)
    return pd.concat(out, ignore_index=True)


def logrank_test(df: DataFrame, time: str, event: str,
                 group: str, group_values: tuple = (0, 1)) -> pd.DataFrame:
    """Two-sample log-rank test (chi-square, df=1)."""
    g = F.expr(group)
    v0, v1 = group_values
    t = F.expr(time).cast("double")
    e = F.expr(event).cast("double")
    # complete-case like kaplan_meier/rmst/aalen_johansen: F.sum(e)
    # skips a NULL event but F.count would still count the row into the
    # risk set — a NULL-event subject silently read as censored
    agg = (df.where(g.isin([v0, v1]) & t.isNotNull() & e.isNotNull())
             .groupBy(t.alias("time"), (g == F.lit(v1)).cast("int").alias("g"))
             .agg(F.sum(e).alias("d"), F.count(F.lit(1)).alias("n"))
             .orderBy("time")
             .toPandas())
    pv = agg.pivot_table(index="time", columns="g",
                         values=["d", "n"], fill_value=0.0)
    d0 = pv.get(("d", 0), pd.Series(0.0, index=pv.index))
    d1 = pv.get(("d", 1), pd.Series(0.0, index=pv.index))
    n0 = pv.get(("n", 0), pd.Series(0.0, index=pv.index))
    n1 = pv.get(("n", 1), pd.Series(0.0, index=pv.index))
    tot0 = n0.sum() - n0.cumsum().shift(fill_value=0)
    tot1 = n1.sum() - n1.cumsum().shift(fill_value=0)
    ntot = tot0 + tot1
    dtot = d0 + d1
    exp1 = dtot * tot1 / ntot
    with np.errstate(divide="ignore", invalid="ignore"):
        var1 = (dtot * (tot1 / ntot) * (tot0 / ntot)
                * (ntot - dtot) / (ntot - 1)).fillna(0.0)
    o_minus_e = (d1 - exp1).sum()
    v = var1.sum()
    chi2 = o_minus_e ** 2 / v if v > 0 else float("nan")
    p = float(dist.chi2_sf(chi2, 1))
    return pd.DataFrame([{"chi2": chi2, "p_value": p,
                          "observed1": d1.sum(), "expected1": exp1.sum()}])


def stratified_logrank_test(df: DataFrame, time: str, event: str,
                            group: str, strata: list[str],
                            group_values: tuple = (0, 1)) -> pd.DataFrame:
    """Stratified log-rank test: the O−E and hypergeometric-variance
    contributions accumulate WITHIN each stratum (risk sets never cross
    strata), then sum — the standard adjustment when survival differs by
    a confounder (site, cohort, device).

    ONE ``groupBy(strata, time, arm)`` aggregation; the per-stratum
    suffix accumulation is driver math over the bounded
    (strata × time-grid) relation.  Returns chi2 (df=1), p_value,
    observed1, expected1, n_strata.
    """
    g = F.expr(group)
    v0, v1 = group_values
    t = F.expr(time).cast("double")
    e = F.expr(event).cast("double")
    # same complete-case rule as logrank_test (see its comment)
    agg = (df.where(g.isin([v0, v1]) & t.isNotNull() & e.isNotNull())
           .groupBy(*strata, t.alias("time"),
                    (g == F.lit(v1)).cast("int").alias("g"))
           .agg(F.sum(e).alias("d"), F.count(F.lit(1)).alias("n"))
           .toPandas())
    o_minus_e = 0.0
    v = 0.0
    obs1 = 0.0
    exp1_total = 0.0
    # dropna=False: a NULL stratum value is its own stratum (same as SQL
    # GROUP BY), not silently-discarded subjects
    groups = (agg.groupby(strata, dropna=False) if strata
              else [((), agg)])
    n_strata = 0
    for _, sub in groups:
        n_strata += 1
        pv = sub.pivot_table(index="time", columns="g",
                             values=["d", "n"], fill_value=0.0) \
            .sort_index()
        d0 = pv.get(("d", 0), pd.Series(0.0, index=pv.index))
        d1 = pv.get(("d", 1), pd.Series(0.0, index=pv.index))
        n0 = pv.get(("n", 0), pd.Series(0.0, index=pv.index))
        n1 = pv.get(("n", 1), pd.Series(0.0, index=pv.index))
        tot0 = n0.sum() - n0.cumsum().shift(fill_value=0)
        tot1 = n1.sum() - n1.cumsum().shift(fill_value=0)
        ntot = tot0 + tot1
        dtot = d0 + d1
        exp1 = dtot * tot1 / ntot
        with np.errstate(divide="ignore", invalid="ignore"):
            var1 = (dtot * (tot1 / ntot) * (tot0 / ntot)
                    * (ntot - dtot) / (ntot - 1)).fillna(0.0)
        o_minus_e += float((d1 - exp1).sum())
        v += float(var1.sum())
        obs1 += float(d1.sum())
        exp1_total += float(exp1.sum())
    chi2 = o_minus_e ** 2 / v if v > 0 else float("nan")
    p = float(dist.chi2_sf(chi2, 1))
    return pd.DataFrame([{"chi2": chi2, "p_value": p, "observed1": obs1,
                          "expected1": exp1_total,
                          "n_strata": n_strata}])


def aalen_johansen(df: DataFrame, time: str, event: str,
                   group: str | None = None) -> pd.DataFrame:
    """Aalen-Johansen cumulative incidence under competing risks.

    ``event`` codes the outcome at ``time``: 0 = censored, any other
    value = a competing cause of failure (cause labels are discovered
    from the data).  For each cause k,

        CIF_k(t) = Σ_{tᵢ ≤ t}  Ŝ(tᵢ⁻) · d_k(tᵢ)/n(tᵢ),

    with Ŝ the all-cause Kaplan-Meier — naive per-cause KM (treating
    other causes as censoring) over-estimates incidence; AJ is the
    standard correction (Aalen-Johansen 1978; Klein-Moeschberger §4.3).
    SEs use the Marubini-Valsecchi delta-method variance.

    Plan shape: ONE ``groupBy(group?, time, cause)`` count aggregation;
    everything after runs driver-side over the bounded
    (group × distinct-time × cause) relation — same discipline as
    :func:`kaplan_meier`.  Returns long format: (group,) time, cause,
    n_risk, n_event, cif, se.
    """
    keys = [group] if group else []
    t = F.expr(time).cast("double")
    e = F.expr(event).cast("int")
    agg = (df.where(t.isNotNull() & e.isNotNull())
             .groupBy(*keys, t.alias("time"), e.alias("cause"))
             .agg(F.count(F.lit(1)).alias("n"))
             .toPandas())
    if agg.empty:
        raise ValueError("aalen_johansen: no rows with non-NULL time/event")
    causes = sorted(c for c in agg.cause.unique() if c != 0)
    if not causes:
        raise ValueError("aalen_johansen: no events (all rows censored)")
    out = []
    for g, sub in (agg.groupby(group, dropna=False) if group
                   else [(None, agg)]):
        times = np.sort(sub.time.unique())
        pv = sub.pivot_table(index="time", columns="cause", values="n",
                             fill_value=0).reindex(times, fill_value=0)
        n_at = pv.sum(axis=1).to_numpy(dtype=float)       # leaving at t
        n_risk = n_at.sum() - np.concatenate([[0.0], n_at.cumsum()[:-1]])
        d_all = pv.drop(columns=[0], errors="ignore") \
                  .sum(axis=1).to_numpy(dtype=float)
        with np.errstate(divide="ignore", invalid="ignore"):
            s_prev = np.concatenate(                      # S(t-) all-cause
                [[1.0], np.cumprod(1.0 - d_all / n_risk)[:-1]])
        for k in causes:
            d_k = (pv[k].to_numpy(dtype=float) if k in pv.columns
                   else np.zeros(len(times)))
            inc = s_prev * d_k / n_risk
            cif = inc.cumsum()
            # Marubini-Valsecchi variance at each t (vectorized over the
            # time grid: outer differences against the running CIF)
            with np.errstate(divide="ignore", invalid="ignore"):
                a_i = np.where(n_risk > d_all,
                               d_all / (n_risk * (n_risk - d_all)), 0.0)
                b_i = s_prev ** 2 * (n_risk - d_k) * d_k / n_risk ** 3
                c_i = s_prev * d_k / n_risk ** 2
            var = np.empty(len(times))
            for idx in range(len(times)):
                diff = cif[idx] - cif[: idx + 1]
                var[idx] = (np.sum(diff ** 2 * a_i[: idx + 1])
                            + np.sum(b_i[: idx + 1])
                            - 2.0 * np.sum(diff * c_i[: idx + 1]))
            rec = pd.DataFrame({
                "time": times, "cause": k, "n_risk": n_risk,
                "n_event": d_k, "cif": cif,
                "se": np.sqrt(np.maximum(var, 0.0))})
            if group:
                rec.insert(0, group, g)
            out.append(rec)
    res = pd.concat(out, ignore_index=True)
    return res


def _cox_grouped_scan(sub: DataFrame, k: int, beta: np.ndarray,
                      efron: bool, with_n: bool = False) -> list:
    """One distributed Newton-step scan: the per-event-time sufficient
    sums as a ``groupBy(__t)`` aggregation (shuffle: #distinct-times ×
    k² doubles), descending time order.  This is the 100 TB path; the
    small-design branch computes the identical relation driver-side."""
    xb = None
    for i in range(k):
        term = float(beta[i]) * F.col(f"__x{i}")
        xb = term if xb is None else xb + term
    w = F.exp(xb)
    e = F.col("__e")
    xs = [F.col(f"__x{i}") for i in range(k)]
    aggs = [F.sum(w).alias("sw"),
            F.sum(e).alias("d"),
            F.sum(e * xb).alias("sxb_e")]
    if with_n:
        aggs.append(F.count(F.lit(1)).alias("n"))
    if efron:
        aggs.append(F.sum(e * w).alias("swe"))
    for i in range(k):
        aggs.append(F.sum(w * xs[i]).alias(f"swx{i}"))
        aggs.append(F.sum(e * xs[i]).alias(f"sx{i}_e"))
        if efron:
            aggs.append(F.sum(e * w * xs[i]).alias(f"swxe{i}"))
    aggs += sym_aggs(k, "swxx", lambda i, j: w * xs[i] * xs[j])
    if efron:
        aggs += sym_aggs(k, "swxxe", lambda i, j: e * w * xs[i] * xs[j])
    # ≤ #distinct-times rows: sorted on the driver, not by a range job
    return sorted(sub.groupBy("__t").agg(*aggs).collect(),
                  key=lambda r: r["__t"], reverse=True)


def _cox_rows(d: Prepared, k: int):
    """``rows(β, efron, with_n=False)``: the per-event-time sums of one
    Newton step at β, descending time — numpy on the collected design,
    else :func:`_cox_grouped_scan` of the persisted one."""
    if d.arrays is not None:
        a = d.arrays
        X = np.column_stack([a[f"__x{i}"] for i in range(k)])
        return _CoxGroupedRows(a["__t"], a["__e"], X).rows
    return lambda beta, efron, with_n=False: _cox_grouped_scan(
        d.work, k, beta, efron, with_n)


def _risk_sets(rows, k: int):
    """``(row, S0, S1, S2)`` per event-time row, descending time: the
    running risk-set sums Σw, Σw·x, Σw·xxᵀ over every subject still at
    risk (the suffix accumulation of the partial likelihood).  S1 and
    S2 are updated in place; read them before the next row."""
    S0, S1, S2 = 0.0, np.zeros(k), np.zeros((k, k))
    for r in rows:
        S0 += float(r["sw"])
        S1 += np.array([float(r[f"swx{i}"]) for i in range(k)])
        S2 += unpack_sym(r, k, "swxx")
        yield r, S0, S1, S2


def _cox_newton(rows, k: int, ties: str, max_iter: int, tol: float,
                ) -> tuple[np.ndarray, np.ndarray, bool]:
    """Newton on the Cox partial likelihood from β = 0 until the
    log-likelihood moves by less than ``tol``; ``rows`` is a
    :func:`_cox_rows` scanner.  Returns ``(β, H, converged)`` with H the
    information matrix of the last step."""
    beta = np.zeros(k)
    loglik_prev = -np.inf
    efron = ties == "efron"
    converged = False
    for _ in range(max_iter):
        U = np.zeros(k)
        H = np.zeros((k, k))
        loglik = 0.0
        for r, S0, S1, S2 in _risk_sets(rows(beta, efron), k):
            d = float(r["d"])
            if d <= 0:
                continue
            if not efron:
                loglik += float(r["sxb_e"]) - d * np.log(S0)
                xbar = S1 / S0
                for i in range(k):
                    U[i] += float(r[f"sx{i}_e"]) - d * xbar[i]
                H += d * (S2 / S0 - np.outer(xbar, xbar))
                continue
            # Efron: the l-th of d tied events sees the risk set minus an
            # l/d fraction of the tied-event group's own sums — vectorized
            # over the d events (heavy-tie data would otherwise pay a
            # Python iteration per event)
            E0 = float(r["swe"])
            E1 = np.array([float(r[f"swxe{i}"]) for i in range(k)])
            E2 = unpack_sym(r, k, "swxxe")
            if abs(d - round(d)) > 1e-9:
                raise ValueError(
                    f"Efron ties need 0/1 event indicators (integer tie "
                    f"counts); got d={d} at one event time — use "
                    f"ties='breslow' for fractional event weights")
            loglik += float(r["sxb_e"])
            di = int(round(d))
            sx_e = np.array([float(r[f"sx{i}_e"]) for i in range(k)])
            # chunk the d tied events: the vectorized term is O(chunk·k²)
            # memory, not O(d·k²), so coarse time bucketing with huge tie
            # groups cannot OOM the driver
            for lo in range(0, di, 8192):
                fr = np.arange(lo, min(lo + 8192, di)) / d
                a0 = S0 - fr * E0
                a1 = S1[None, :] - fr[:, None] * E1[None, :]
                a2 = S2[None, :, :] - fr[:, None, None] * E2[None, :, :]
                loglik -= float(np.log(a0).sum())
                xbar = a1 / a0[:, None]
                U += sx_e * (len(fr) / d) - xbar.sum(axis=0)
                H += ((a2 / a0[:, None, None]).sum(axis=0)
                      - np.einsum("li,lj->ij", xbar, xbar))
        try:
            step = np.linalg.solve(H, U)
        except np.linalg.LinAlgError:
            step = np.linalg.pinv(H) @ U
        beta = beta + step
        if abs(loglik - loglik_prev) < tol:
            converged = True
            break
        loglik_prev = loglik
    if not converged:
        import warnings

        warnings.warn(
            f"cox_ph did not converge in {max_iter} iterations "
            "(near-separation or extreme covariate scales?); the "
            "reported stderr/z/p come from the information matrix of "
            "the LAST completed step and may not describe the returned "
            "coefficients", stacklevel=3)
    return beta, H, converged


def cox_ph(df: DataFrame, time: str, event: str, covariates: list[str],
           max_iter: int = 25, tol: float = 1e-9,
           ties: str = "breslow") -> pd.DataFrame:
    """Cox proportional-hazards regression (``ties``: ``'breslow'`` or
    ``'efron'`` — Efron is the more accurate approximation under heavy
    ties and the default of R's ``coxph``/lifelines; Breslow matches the
    simpler classical formula).

    Beyond the reference (its ``lib/survival.py`` ships only KM): the
    partial-likelihood score/Hessian decompose into per-event-time sums of
    (w, w·x, w·xxᵀ) with w = exp(xβ) plus SUFFIX sums over later times, so
    each Newton iteration is ONE ``groupBy(time)`` aggregation (shuffle:
    #distinct-times × k² doubles) and the suffix accumulation + Newton step
    run on the driver over the (bounded) time-grid relation.  Efron
    additionally carries the EVENT-ONLY (w, w·x, w·xxᵀ) sums per time and
    loops over the d tied events in the driver term.  No per-row sort, no
    window — scale-safe whenever the time grid is bounded, which
    event-time data always is after bucketing.

    Returns a per-covariate pandas frame: name, coef, exp(coef) hazard
    ratio, stderr (inverse-Hessian), z, p_value.
    """
    if ties not in ("breslow", "efron"):
        raise ValueError("ties must be 'breslow' or 'efron'")
    k = len(covariates)
    if k == 0:
        raise ValueError("cox_ph needs at least one covariate")

    def check(row) -> None:
        # empty after complete-case: the Newton loop would silently
        # 'converge' at beta = 0 with converged=True and all-NaN
        # inference (weibull_aft raises for the identical input)
        if row["n"] == 0:
            raise ValueError(
                "cox_ph: no complete-case rows (every row has a NULL in "
                "time/event/covariates)")

    with persisted() as keep:
        d = _surv_design(keep, df, time, event, covariates, check=check)
        beta, H, converged = _cox_newton(_cox_rows(d, k), k, ties,
                                         max_iter, tol)
    out = pd.DataFrame({
        "name": covariates, "coef": beta, "hazard_ratio": np.exp(beta),
        "stderr": np.sqrt(np.maximum(np.diag(np.linalg.pinv(H)), 0.0)),
        "z": np.full(len(covariates), np.nan),
        "p_value": np.full(len(covariates), np.nan),
    })
    out["z"] = out.coef / out.stderr
    out["p_value"] = 2.0 * np.asarray(dist.norm_sf(np.abs(out.z)))
    out.attrs["converged"] = converged
    return out


def cif_difference_test(df: DataFrame, time: str, event: str, cause,
                        group: str, tau: float,
                        alpha: float = 0.05) -> pd.DataFrame:
    """Fixed-horizon comparison of two groups' cumulative incidence for
    one cause: z = (CIF_A(τ) − CIF_B(τ)) / √(se_A² + se_B²) with the
    Aalen-Johansen estimates and Marubini-Valsecchi variances from
    :func:`aalen_johansen` (independent groups).

    This is the landmark/fixed-time contrast (Klein et al. 2007-style),
    NOT Gray's whole-curve subdistribution test — a curve-wide
    comparison integrates over time; this answers the sharper clinical
    question "who has more cause-k failures by τ?".  Same single-scan
    plan as :func:`aalen_johansen`.
    """
    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    aj = aalen_johansen(df, time, event, group=group)
    aj = aj[aj.cause == cause]
    if aj.empty:
        raise ValueError(f"cif_difference_test: cause {cause!r} never "
                         "occurs")
    groups = sorted(aj[group].unique(), key=str)
    if len(groups) != 2:
        raise ValueError("cif_difference_test needs exactly 2 groups, "
                         f"got {groups}")
    rows = []
    for g in groups:
        sub = aj[(aj[group] == g) & (aj.time <= tau)]
        if sub.empty:                        # no events by tau: CIF = 0
            rows.append({"group": g, "cif": 0.0, "se": 0.0})
        else:
            last = sub.sort_values("time").iloc[-1]
            rows.append({"group": g, "cif": float(last.cif),
                         "se": float(last.se)})
    a, b = rows
    diff = a["cif"] - b["cif"]
    se = float(np.sqrt(a["se"] ** 2 + b["se"] ** 2))
    z = diff / se if se > 0 else float("nan")
    p = float(2.0 * dist.norm_sf(abs(z))) if z == z else float("nan")
    zc = float(dist.norm_ppf(1 - alpha / 2))
    # named cif_diff (not "diff") so pandas attribute access doesn't
    # collide with Series.diff()
    return pd.DataFrame([{
        "cause": cause, "tau": tau,
        "group_a": a["group"], "cif_a": a["cif"], "se_a": a["se"],
        "group_b": b["group"], "cif_b": b["cif"], "se_b": b["se"],
        "cif_diff": diff, "stderr": se, "z": z, "p_value": p,
        "lower": diff - zc * se, "upper": diff + zc * se}])


def rmst(df: DataFrame, time: str, event: str, tau: float,
         group: str | None = None, alpha: float = 0.05) -> pd.DataFrame:
    """Restricted mean survival time μ(τ) = ∫₀^τ Ŝ(t)dt (area under the
    KM curve up to the horizon τ) — the standard alternative to hazard
    ratios when proportional hazards fails (Royston-Parmar; Uno et al.
    JCO 2014), since it is a difference in expected event-free time in
    τ-units rather than a ratio of hazards.

    SE by the Klein variance:  Var(μ̂) = Σ_{tᵢ≤τ} Aᵢ² dᵢ/(nᵢ(nᵢ−dᵢ)),
    Aᵢ = ∫_{tᵢ}^τ Ŝ(t)dt.  With ``group`` given, returns one row per
    group PLUS a ``diff`` row (two-sided z-test for the between-group
    RMST difference, independent groups).

    Plan shape: the same single ``groupBy((group,) time)`` count scan as
    :func:`kaplan_meier`; integral/variance math on the bounded grid.
    """
    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    keys = [group] if group else []
    t = F.expr(time).cast("double")
    e = F.expr(event).cast("double")
    agg = (df.where(t.isNotNull() & e.isNotNull())
             .groupBy(*keys, t.alias("time"))
             .agg(F.sum(e).alias("d"), F.count(F.lit(1)).alias("n"))
             .toPandas())
    if agg.empty:
        raise ValueError("rmst: no rows with non-NULL time/event")
    tmin = float(agg.time.min())
    if tmin < 0:
        # the [0, τ] integral is undefined for negative durations — and
        # silently integrating survival mass over (t_min, 0) would
        # overstate μ; validated here on the already-collected grid so
        # the check costs no extra scan
        raise ValueError(
            f"rmst: negative event time {tmin:g}; durations must be "
            ">= 0 (re-anchor the time expression)")
    out = []
    for g, sub in (agg.groupby(group, dropna=False) if group
                   else [(None, agg)]):
        sub = sub.sort_values("time").reset_index(drop=True)
        times = sub.time.to_numpy(dtype=float)
        d = sub.d.to_numpy(dtype=float)
        n_leave = sub.n.to_numpy(dtype=float)
        n_risk = n_leave.sum() - np.concatenate(
            [[0.0], n_leave.cumsum()[:-1]])
        with np.errstate(divide="ignore", invalid="ignore"):
            surv = np.cumprod(np.where(n_risk > 0,
                                       (n_risk - d) / n_risk, 1.0))
        # integral of the left-continuous step function on [0, tau]
        knots = np.concatenate([[0.0], times])
        s_vals = np.concatenate([[1.0], surv])      # S on [knot_i, knot_i+1)
        uppers = np.concatenate([times, [tau]])
        widths = np.clip(np.minimum(uppers, tau) - np.minimum(knots, tau),
                         0.0, None)
        mu = float((s_vals * widths).sum())
        # A_i = integral from t_i to tau of S — suffix sums of the areas
        seg_areas = s_vals * widths                 # area of [knot_i, ...)
        suffix = np.concatenate([seg_areas[::-1].cumsum()[::-1], [0.0]])
        A = suffix[1:len(times) + 1]                # ∫ from each tᵢ to τ
        inside = times <= tau
        with np.errstate(divide="ignore", invalid="ignore"):
            terms = np.where((n_risk > d) & inside & (d > 0),
                             A ** 2 * d / (n_risk * (n_risk - d)), 0.0)
        var = float(terms.sum())
        out.append({"group": g, "rmst": mu, "stderr": float(np.sqrt(var)),
                    "tau": tau, "n": float(n_leave.sum()),
                    "events": float((d * inside).sum())})
    res = pd.DataFrame(out)
    z = float(dist.norm_ppf(1 - alpha / 2))
    res["lower"] = res.rmst - z * res.stderr
    res["upper"] = res.rmst + z * res.stderr
    if group and len(res) == 2:
        a, b = res.iloc[0], res.iloc[1]
        diff = float(a.rmst - b.rmst)
        se = float(np.sqrt(a.stderr ** 2 + b.stderr ** 2))
        zstat = diff / se if se > 0 else float("nan")
        res = pd.concat([res, pd.DataFrame([{
            "group": f"diff({a.group}-{b.group})", "rmst": diff,
            "stderr": se, "tau": tau, "n": a.n + b.n,
            "events": a.events + b.events, "lower": diff - z * se,
            "upper": diff + z * se}])], ignore_index=True)
        res.attrs["z"] = zstat
        res.attrs["p_value"] = float(2.0 * dist.norm_sf(abs(zstat))) \
            if zstat == zstat else float("nan")
    if not group:
        res = res.drop(columns=["group"])
    return res


def proportional_hazards_test(df: DataFrame, time: str, event: str,
                              covariates: list[str],
                              beta: np.ndarray | None = None,
                              transform: str = "km") -> pd.DataFrame:
    """Grambsch-Therneau test of the proportional-hazards assumption
    (R's ``cox.zph``): score test for a time-varying coefficient
    β(t) = β + θ·g(t) at θ = 0, built on per-event-time Schoenfeld
    residuals.

    For each distinct event time: sᵗ = Σ_events x − d·x̄(t) with x̄ the
    hazard-weighted risk-set mean, Vᵗ the risk-set covariance.  The
    global statistic (χ²_k) is uᵀ(I_θθ − I_θβ H⁻¹ I_βθ)⁻¹u with
    u = Σ g(t)sᵗ, I_θθ = Σ g² d Vᵗ, I_θβ = Σ g d Vᵗ, H = Σ d Vᵗ — the
    exact information correction for β̂ being estimated (Grambsch &
    Therneau 1994, Biometrika).  ``transform``: ``'km'`` (1 − left-
    continuous all-cause KM, the ``cox.zph`` default), ``'identity'``,
    or ``'rank'`` (event-time rank).

    Plan shape: ONE ``groupBy(time)`` aggregation at β̂ (the same
    k²-sum scan as a Cox iteration); suffix accumulation and the k×k
    solve run on the driver over the bounded time grid.  ``beta=None``
    fits :func:`cox_ph` (Breslow) first, on the same persisted design,
    so the source is scanned once either way.
    """
    if transform not in ("km", "identity", "rank"):
        raise ValueError("transform must be 'km', 'identity', or 'rank'")
    k = len(covariates)
    if k == 0:
        raise ValueError("proportional_hazards_test needs covariates")

    def check(row) -> None:
        if row["n"] == 0:
            raise ValueError("proportional_hazards_test: no complete rows")

    with persisted() as keep:
        des = _surv_design(keep, df, time, event, covariates, check=check)
        scan = _cox_rows(des, k)
        if beta is None:
            beta = _cox_newton(scan, k, "breslow", 25, 1e-9)[0]
        rows = scan(np.asarray(beta, dtype=float), False, with_n=True)

    # per-event-time pieces off the running risk-set sums
    recs = []                      # (time, d, n_leave, s_vec, V, )
    for r, S0, S1, S2 in _risk_sets(rows, k):
        d = float(r["d"])
        if d <= 0:
            continue
        xbar = S1 / S0
        V = S2 / S0 - np.outer(xbar, xbar)
        s = np.array([float(r[f"sx{i}_e"]) for i in range(k)]) - d * xbar
        recs.append((float(r["__t"]), d, float(r["n"]), s, V))
    if not recs:
        raise ValueError("proportional_hazards_test: no events")
    recs.sort(key=lambda rec: rec[0])          # ascending time
    times = np.array([rec[0] for rec in recs])
    ds = np.array([rec[1] for rec in recs])

    if transform == "identity":
        g = times.copy()
    elif transform == "rank":
        g = np.arange(1, len(times) + 1, dtype=float)
    else:
        # left-continuous 1 − KM over ALL leavers (the cox.zph default)
        n_total = sum(float(r["n"]) for r in rows)
        km = []
        surv = 1.0
        at_risk = n_total
        # walk the full grid ascending to track S(t−) at event times
        grid = sorted(((float(r["__t"]), float(r["d"]), float(r["n"]))
                       for r in rows))
        ev_idx = 0
        for tm, d_t, n_t in grid:
            if ev_idx < len(times) and times[ev_idx] == tm:
                km.append(1.0 - surv)
                ev_idx += 1
            if at_risk > 0:
                surv *= (at_risk - d_t) / at_risk if d_t <= at_risk else 0.0
            at_risk -= n_t
        g = np.array(km)
    gbar = float((g * ds).sum() / ds.sum())
    gc = g - gbar

    u = np.zeros(k)
    H = np.zeros((k, k))
    Igg = np.zeros((k, k))
    Igb = np.zeros((k, k))
    for (tm, d, _n, s, V), gi in zip(recs, gc):
        u += gi * s
        H += d * V
        Igg += gi * gi * d * V
        Igb += gi * d * V
    D = Igg - Igb @ np.linalg.pinv(H) @ Igb.T
    Dinv = np.linalg.pinv(D)
    chi2_global = float(u @ Dinv @ u)
    p_global = float(dist.chi2_sf(chi2_global, k))
    out = []
    for i, name in enumerate(covariates):
        chi2_i = u[i] ** 2 / D[i, i] if D[i, i] > 0 else float("nan")
        out.append({"name": name, "chi2": chi2_i, "df": 1.0,
                    "p_value": float(dist.chi2_sf(chi2_i, 1))})
    out.append({"name": "GLOBAL", "chi2": chi2_global, "df": float(k),
                "p_value": p_global})
    res = pd.DataFrame(out)
    res.attrs.update({"transform": transform, "n_event_times": len(recs),
                      "events": float(ds.sum())})
    return res


def weibull_aft(df: DataFrame, time: str, event: str,
                covariates: list[str], max_iter: int = 50,
                tol: float = 1e-9) -> pd.DataFrame:
    """Weibull accelerated-failure-time regression with right censoring.

    Parametric complement to :func:`cox_ph` (beyond the reference, whose
    ``lib/survival.py`` ships only KM): ``log T = β₀ + xβ + σ·ε`` with
    ε ~ standard Gumbel(min), so ``exp(β_j)`` is a time ratio and the
    implied Weibull shape is ``1/σ``.  Fit by full-likelihood Newton over
    (β, log σ) with step-halving; every iteration is ONE aggregation of
    the O(k²) sufficient sums (z = (log t − xβ)/σ, u = eᶻ):
    score  ∂β_j = Σ x_j(u−δ)/σ, ∂s = Σ[z(u−δ) − δ];
    Hessian ββᵀ = −Σ xxᵀ u/σ², βs = −Σ x[z·u + (u−δ)]/σ,
    ss = −Σ[z·u(1+z) − zδ].  β starts at the log-time OLS solution (one
    Gramian scan), log σ at 0.  Nothing row-scale leaves the executors;
    at 100 TB each Newton step shuffles k²-ish doubles.

    Returns a pandas frame with one row per parameter (covariates,
    ``(Intercept)``, ``log(scale)``): name, coef, time_ratio=exp(coef),
    stderr, z, p_value; model-level stats ride in ``frame.attrs``
    (``loglik``, ``n``, ``n_events``, ``scale``, ``shape``,
    ``converged``, ``n_iter``).
    """
    k = len(covariates)
    if k == 0:
        raise ValueError("weibull_aft needs at least one covariate")
    p = k + 1                                   # intercept first
    xs = [F.lit(1.0)] + [F.col(f"__x{i}") for i in range(k)]
    lt = F.log("__t")
    dl = F.col("__e")

    def check(row) -> None:
        if row["lo"] is None or float(row["n"]) == 0:
            raise ValueError("no complete-case rows")
        if float(row["lo"]) <= 0:
            raise ValueError("weibull_aft needs strictly positive times")
        if float(row["elo"]) < 0 or float(row["ehi"]) > 1:
            raise ValueError("event indicator must lie in [0, 1]")

    with persisted() as keep:
        d = _surv_design(keep, df, time, event, covariates,
                         probe=[F.min("__t").alias("lo"),
                                F.min("__e").alias("elo"),
                                F.max("__e").alias("ehi")], check=check)
        # OLS of log t on X seeds β (ignores censoring — a start, not a
        # fit); its Gramian and the event count are summed in numpy on
        # the collected design, else in one aggregate over the cache
        if d.arrays is not None:
            a = d.arrays
            tn, en = a["__t"], a["__e"]
            Xn = np.column_stack([a[f"__x{i}"] for i in range(k)])
            Xn1 = np.column_stack([np.ones(len(tn)), Xn])   # [1, x...]
            ltn = np.log(tn)
            A0 = np.empty((p, p))
            b0 = np.empty(p)
            for i in range(p):
                b0[i] = float((Xn1[:, i] * ltn).sum())
                for j in range(i, p):
                    A0[i, j] = A0[j, i] = float((Xn1[:, i] * Xn1[:, j]).sum())
            n_ev = float(en.sum())
        else:
            r0 = d.work.agg(
                F.sum(dl).alias("n_ev"),
                *[F.sum(xs[i] * lt).alias(f"b{i}") for i in range(p)],
                *sym_aggs(p, "a", lambda i, j: xs[i] * xs[j])).collect()[0]
            A0 = unpack_sym(r0, p, "a")
            b0 = np.array([r0[f"b{i}"] for i in range(p)], dtype=float)
            n_ev = float(r0["n_ev"])
        theta = np.zeros(p + 1)                     # [β..., s=log σ]
        try:
            theta[:p] = np.linalg.solve(A0, b0)
        except np.linalg.LinAlgError:
            theta[:p] = np.linalg.lstsq(A0, b0, rcond=None)[0]

        def _scan_np(th: np.ndarray):
            # numpy mirror of the distributed _scan: same sufficient sums
            beta, s = th[:p], float(th[p])
            sig = math.exp(s)
            xb = Xn1 @ beta
            z = (ltn - xb) / sig
            u = np.exp(z)
            ll = float((en * (z - s) - u + en * -ltn).sum())
            g = np.empty(p + 1)
            H = np.empty((p + 1, p + 1))
            for i in range(p):
                g[i] = float((Xn1[:, i] * (u - en)).sum()) / sig
                H[i, p] = H[p, i] = \
                    -float((Xn1[:, i] * (z * u + (u - en))).sum()) / sig
                for j in range(i, p):
                    H[i, j] = H[j, i] = \
                        -float((Xn1[:, i] * Xn1[:, j] * u).sum()) / (sig * sig)
            g[p] = float((z * (u - en) - en).sum())
            H[p, p] = -(float((z * u).sum()) + float((z * z * u).sum())
                        - float((z * en).sum()))
            return ll, g, H

        def _scan_spark(th: np.ndarray):
            beta, s = th[:p], float(th[p])
            sig = math.exp(s)
            xb: Column = F.lit(float(beta[0])) * xs[0]
            for j in range(1, p):
                xb = xb + F.lit(float(beta[j])) * xs[j]
            z = (lt - xb) / F.lit(sig)
            u = F.exp(z)
            ag = [F.sum(dl * (z - F.lit(s)) - u + dl * -lt).alias("ll"),
                  F.sum(z * (u - dl) - dl).alias("gs"),
                  F.sum(z * u).alias("zu"),
                  F.sum(z * z * u).alias("zzu"),
                  F.sum(z * dl).alias("zd")]
            for i in range(p):
                ag.append(F.sum(xs[i] * (u - dl)).alias(f"g{i}"))
                ag.append(F.sum(xs[i] * (z * u + (u - dl))).alias(f"c{i}"))
            ag += sym_aggs(p, "h", lambda i, j: xs[i] * xs[j] * u)
            r = d.work.agg(*ag).collect()[0]
            g = np.empty(p + 1)
            H = np.empty((p + 1, p + 1))
            H[:p, :p] = -unpack_sym(r, p, "h") / (sig * sig)
            for i in range(p):
                g[i] = float(r[f"g{i}"]) / sig
                H[i, p] = H[p, i] = -float(r[f"c{i}"]) / sig
            g[p] = float(r["gs"])
            H[p, p] = -(float(r["zu"]) + float(r["zzu"]) - float(r["zd"]))
            return float(r["ll"]), g, H

        theta, ll, H, it, converged = newton_ascent(
            _scan_np if d.arrays is not None else _scan_spark, theta,
            max_iter, tol)

    cov = np.linalg.pinv(-H)
    se = np.sqrt(np.maximum(np.diag(cov), 0.0))
    est = theta.copy()
    names = ["(Intercept)"] + list(covariates) + ["log(scale)"]
    # reorder: covariates first (matches cox_ph reading order), then
    # intercept, then log(scale)
    order = list(range(1, p)) + [0, p]
    est, se = est[order], se[order]
    names = [names[i] for i in order]
    with np.errstate(divide="ignore", invalid="ignore"):
        zv = est / se
    out = pd.DataFrame({
        "name": names, "coef": est, "time_ratio": np.exp(est),
        "stderr": se, "z": zv,
        "p_value": 2.0 * np.asarray(dist.norm_sf(np.abs(zv)))})
    sig = math.exp(float(theta[p]))
    out.attrs.update({"loglik": ll, "n": float(d.probe["n"]),
                      "n_events": n_ev, "scale": sig,
                      "shape": 1.0 / sig, "converged": converged,
                      "n_iter": it})
    return out
