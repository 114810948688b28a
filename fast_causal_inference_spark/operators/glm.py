"""Generalized linear models by IRLS over Gramian aggregations.

Extends the engine's regression surface (reference ships OLS + logistic,
``regression.py:45-255``) to the count/positive-outcome families a
metrics platform actually meets: Poisson (events per user, log link,
exposure offsets), quasi-Poisson (Pearson-dispersion-scaled SEs for the
overdispersion real count data always has), gamma (revenue-per-converter
style strictly-positive skewed outcomes, log link), and gaussian
(identity link — one iteration, equals OLS; included so family is a
config knob, not a code path).

Every fitter here, and ``logistic.py``, runs the shared Fisher-scoring
kernel in ``design.py``: each IRLS iteration is ONE aggregation of the
weighted Gramian Σ s·xxᵀ and Σ s·x·z (p(p+3)/2 doubles shuffled,
map-side combined), solved on the driver; a fitter supplies its
per-row (weight, working response) rule.  Row-scale
arithmetic stays in whole-stage codegen; nothing iterates over rows in
Python.  At 100 TB each iteration is a single scan — for k features the
network cost is O(k²) per iteration regardless of row count.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.design import (
    Rule,
    gramian_aggs,
    irls_frame,
    persisted,
    formula_design,
    unpack_gramian,
)


@dataclass
class GlmModel:
    family: str
    feature_exprs: list[str]
    use_bias: bool
    beta: np.ndarray
    stderr: np.ndarray
    n: float
    n_iter: int
    converged: bool
    deviance: float
    null_deviance: float
    dispersion: float            # 1.0 for poisson/binomial-style families
    offset: str | None = None
    link: str | None = None      # non-default link (binomial probit/cloglog)
    var_power: float | None = None   # tweedie V(μ) = μ^p exponent
    y_expr: str | None = None    # outcome expression, for complete-case
                                 # replication by downstream scans (AME)
    names: list[str] = field(default_factory=list)

    def __post_init__(self):
        if not self.names:
            self.names = ((["(Intercept)"] if self.use_bias else [])
                          + list(self.feature_exprs))

    def eta_column(self) -> Column:
        out: Column = (F.lit(float(self.beta[0])) if self.use_bias
                       else F.lit(0.0))
        coefs = self.beta[1:] if self.use_bias else self.beta
        for b, e in zip(coefs, self.feature_exprs):
            out = out + float(b) * F.expr(e).cast("double")
        if self.offset is not None:
            out = out + F.expr(self.offset).cast("double")
        return out

    def predict_column(self) -> Column:
        """Response-scale prediction μ = link⁻¹(η)."""
        eta = self.eta_column()
        if self.family == "gaussian":
            return eta
        if self.family == "binomial":
            if self.link == "probit":
                from fast_causal_inference_spark.functions import erf

                return 0.5 * (1.0 + erf(eta / F.lit(math.sqrt(2.0))))
            if self.link == "cloglog":
                return 1.0 - F.exp(-F.exp(eta))
            return 1.0 / (1.0 + F.exp(-eta))      # logit
        return F.exp(eta)

    def predict(self, df: DataFrame, alias: str = "mu") -> DataFrame:
        return df.withColumn(alias, self.predict_column())

    @property
    def z_values(self) -> np.ndarray:
        with np.errstate(divide="ignore", invalid="ignore"):
            return self.beta / self.stderr

    @property
    def p_values(self) -> np.ndarray:
        from fast_causal_inference_spark import stats_distributions as dist

        return 2.0 * dist.norm_sf(np.abs(self.z_values))

    def coef_table(self):
        import pandas as pd

        return pd.DataFrame({"name": self.names, "estimate": self.beta,
                             "stderr": self.stderr, "z_value": self.z_values,
                             "p_value": self.p_values})

    def summary(self) -> str:
        tag = ""
        if self.family == "negbin":
            tag = f", alpha={self.dispersion:.4g}"
        elif self.family == "binomial":
            tag = f", {self.link} link"
        elif self.dispersion != 1.0:
            tag = ", Pearson-dispersion SEs"
        lines = [f"GLM ({self.family}{tag})",
                 f"n={int(self.n)}  iterations={self.n_iter}"
                 f"  converged={self.converged}",
                 f"deviance={self.deviance:.6g}"
                 f"  null_deviance={self.null_deviance:.6g}"
                 f"  dispersion={self.dispersion:.6g}"]
        for r in self.coef_table().itertuples():
            lines.append(f"  {r.name}: {r.estimate:.6g}"
                         f" (se={r.stderr:.6g}, p={r.p_value:.4g})")
        return "\n".join(lines)


_FAMILIES = ("poisson", "quasipoisson", "gamma", "gaussian", "binomial",
             "tweedie")


def _irls_wz(family: str, mu: Column, etac: Column, yc: Column,
             offc: Column, var_power: float) -> tuple[Column, Column]:
    """(IRLS weight, working response) Columns for one Fisher step.

    The rule of every log / identity / canonical-logit fit
    (:func:`_family_rule`: :func:`glm`, :func:`glm_grouped` and
    ``logistic_regression``); ``_binomial_glm`` has its own rule for
    the non-canonical probit/cloglog weights.  The working response
    divides by dμ/dη — which only coincides with the weight for the
    canonical poisson/logit cases."""
    if family == "gaussian":
        s: Column = F.lit(1.0)
        dmu: Column = F.lit(1.0)
    elif family == "binomial":               # canonical logit
        s = mu * (1.0 - mu) + F.lit(1e-10)
        dmu = s
    elif family in ("poisson", "quasipoisson"):
        s = mu + F.lit(1e-10)
        dmu = mu
    elif family == "tweedie":                # w = μ²/μ^p = μ^(2−p)
        s = F.pow(mu, F.lit(2.0 - var_power)) + F.lit(1e-10)
        dmu = mu
    else:                                    # gamma log link: w = 1
        s = F.lit(1.0)
        dmu = mu
    z = (etac - offc) + (yc - mu) / dmu
    return s, z


def _irls_wz_np(family: str, mu: np.ndarray, eta: np.ndarray,
                y: np.ndarray, off: np.ndarray,
                var_power: float) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of :func:`_irls_wz` for the collected-design
    small-input path (design.prepare_design) — identical per-row
    algebra, driver-side."""
    if family == "gaussian":
        s = np.ones_like(mu)
        dmu = np.ones_like(mu)
    elif family == "binomial":               # canonical logit
        s = mu * (1.0 - mu) + 1e-10
        dmu = s
    elif family in ("poisson", "quasipoisson"):
        s = mu + 1e-10
        dmu = mu
    elif family == "tweedie":
        s = mu ** (2.0 - var_power) + 1e-10
        dmu = mu
    else:                                    # gamma log link: w = 1
        s = np.ones_like(mu)
        dmu = mu
    z = (eta - off) + (y - mu) / dmu
    return s, z


def _family_rule(family: str, var_power: float = 1.5) -> Rule:
    """Fisher-scoring :class:`~.design.Rule` of ``family``: the mean is
    η (gaussian), the logistic function (binomial, canonical logit) or
    exp(η) (log link), and (w, z) come from :func:`_irls_wz`."""
    def stage(eta: Column) -> list[Column]:
        if family == "gaussian":
            return []
        if family == "binomial":
            return [F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))]
        return [F.exp(eta)]

    def wz(eta, y, off, staged):
        return _irls_wz(family, staged[0] if staged else eta, eta, y, off,
                        var_power)

    def wz_np(eta, y, off):
        if family == "gaussian":
            mu = eta
        elif family == "binomial":
            mu = 1.0 / (1.0 + np.exp(-eta))
        else:
            mu = np.exp(eta)
        return _irls_wz_np(family, mu, eta, y, off, var_power)

    return Rule(stage, wz, wz_np)


def _dev_pearson(family: str, y: Column, mu: Column,
                 var_power: float) -> tuple[Column, Column]:
    """(unit deviance, Pearson χ² term) Columns at μ — the single
    source for :func:`glm`, ``_binomial_glm`` and :func:`glm_grouped`
    (a third hand-maintained copy once diverged on the binomial μ
    clamp)."""
    if family == "gaussian":
        dev = (y - mu) * (y - mu)
        return dev, dev
    if family == "binomial":
        # 2[y log(y/μ) + (1−y) log((1−y)/(1−μ))], 0·log0 := 0; clamp μ
        # so saturated fits don't produce log(0) (or an ANSI
        # divide-by-zero in the Pearson denominator)
        mu_c = F.greatest(F.least(mu, F.lit(1.0 - 1e-12)), F.lit(1e-12))
        dev = 2.0 * (
            F.when(y > 0, y * F.log(y / mu_c)).otherwise(F.lit(0.0))
            + F.when(y < 1, (1.0 - y) * F.log((1.0 - y) / (1.0 - mu_c)))
            .otherwise(F.lit(0.0)))
        return dev, (y - mu) * (y - mu) / (mu_c * (1.0 - mu_c))
    if family in ("poisson", "quasipoisson"):
        # y·log(y/μ) with the y=0 limit 0
        dev = 2 * (F.when(y > 0, y * F.log(y / mu)).otherwise(F.lit(0.0))
                   - (y - mu))
        return dev, (y - mu) * (y - mu) / mu
    if family == "tweedie":
        # unit deviance 2[y^(2−p)/((1−p)(2−p)) − yμ^(1−p)/(1−p)
        #                + μ^(2−p)/(2−p)]; every term has a finite y=0
        # limit because 2−p > 0 and the y·μ^(1−p) term vanishes
        p1, p2 = 1.0 - var_power, 2.0 - var_power
        dev = 2 * (F.pow(y, F.lit(p2)) / F.lit(p1 * p2)
                   - y * F.pow(mu, F.lit(p1)) / F.lit(p1)
                   + F.pow(mu, F.lit(p2)) / F.lit(p2))
        return dev, (y - mu) * (y - mu) / F.pow(mu, F.lit(var_power))
    dev = 2 * (-F.log(y / mu) + (y - mu) / mu)        # gamma
    return dev, (y - mu) * (y - mu) / (mu * mu)


def glm(df: DataFrame, formula: str, family: str = "poisson",
        offset: str | None = None, use_bias: bool = True,
        max_iter: int = 25, tol: float = 1e-8,
        link: str | None = None, var_power: float = 1.5,
        compute_stats: bool = True) -> GlmModel:
    """Fit ``'y ~ x1 + x2'`` for ``family`` ∈ {poisson, quasipoisson,
    gamma, gaussian, binomial}.

    Links are canonical-for-practice: log for poisson/quasipoisson/gamma
    (so coefficients are rate ratios after exp), identity for gaussian,
    and for binomial any of ``link`` ∈ {logit, probit, cloglog} (default
    logit; probit/cloglog run the same Fisher-scoring Gramian loop with
    non-canonical weights — Φ comes from the package's exact Arrow
    ``erf``).  ``offset`` — SQL expression added to the linear predictor
    with fixed coefficient 1 (pass ``ln(exposure)`` for Poisson rates).

    ``tweedie`` is the compound-Poisson-gamma family for zero-inflated
    positive outcomes (revenue per user: a point mass at 0 plus a
    skewed positive part) with V(μ) = μ^``var_power``, log link;
    ``var_power`` must lie strictly inside (1, 2) — the boundaries ARE
    the poisson and gamma families.

    SEs come from the final Fisher-information inverse; for
    ``quasipoisson``, ``gamma`` and ``tweedie`` they are scaled by the
    Pearson dispersion χ²/(n−p) (gamma's MLE dispersion would need a
    digamma solve; Pearson is the standard moment estimator, same as
    R's ``summary.glm`` default).

    ``compute_stats=False`` skips the post-fit deviance / null-deviance
    scans (they are returned as NaN) for callers that only consume
    beta / stderr / predictions — e.g. a nuisance stage inside a larger
    estimator.  Each skipped scan is a full pass over the design, so
    this matters when the GLM sits inside another iterative operator.
    Dispersion-scaled families still run one reduced scan because the
    Pearson χ² enters the standard errors.
    """
    if family not in _FAMILIES:
        raise ValueError(f"family must be one of {_FAMILIES}")
    if family == "binomial":
        return _binomial_glm(df, formula, link or "logit", offset,
                             use_bias, max_iter, tol, compute_stats)
    if link is not None:
        raise ValueError("link is configurable only for family='binomial'")
    if family == "tweedie" and not 1.0 < var_power < 2.0:
        raise ValueError("tweedie var_power must lie strictly in (1, 2); "
                         "use family='poisson' (p=1) or 'gamma' (p=2)")
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, feats = parse_r_formula(formula)
    log_link = family != "gaussian"

    def check(m0) -> None:
        if m0["m"] is None:
            raise ValueError("no non-NULL outcome rows")
        if family == "gamma" and float(m0["lo"]) <= 0:
            raise ValueError("gamma family needs strictly positive y")
        if family in ("poisson", "quasipoisson", "tweedie") \
                and float(m0["lo"]) < 0:
            raise ValueError(f"{family} family needs non-negative y")

    with persisted() as keep:
        # the log links' start value and checks ride the design's
        # materializing count
        d = formula_design(
            keep, df, y_expr, feats, offset, use_bias,
            probe=(lambda y: [F.avg(y).alias("m"), F.min(y).alias("lo")])
            if log_link else None,
            check=check if log_link else None)
        df, y, off = d.work, d.y, d.off
        p = len(d.xs)
        beta = np.zeros(p)
        # start eta at log(mean(y)) via the intercept when present —
        # exp(0)=1 is a poor start for large counts
        if log_link and use_bias and float(d.probe["m"]) > 0:
            beta[0] = math.log(float(d.probe["m"]))
        rule = _family_rule(family, var_power)
        beta, A, n, it, converged = d.newton(rule, beta, max_iter, tol,
                                             one_step=not log_link)

        # final-fit scalars: deviance, null deviance, Pearson dispersion —
        # ONE more scan
        eta = d.eta(beta)
        mu = eta if family == "gaussian" else F.exp(eta)
        scaled = family in ("quasipoisson", "gamma", "gaussian", "tweedie")
        if not compute_stats:
            # nuisance-fit fast path: no deviance scans; dispersion-scaled
            # families still need the Pearson χ² for their SEs (one reduced
            # aggregation), the rest skip the pass entirely
            deviance = null_dev = float("nan")
            pchi = df.agg(F.sum(_dev_pearson(family, y, mu, var_power)[1])
                          .alias("p")).collect()[0]["p"] if scaled else None
        else:
            dev_term, pearson = _dev_pearson(family, y, mu, var_power)
            if family == "gaussian":
                aux = y * y                           # → Σy² for TSS
            elif family in ("poisson", "quasipoisson"):
                # Σ y·log y
                aux = y * F.when(y > 0, F.log(y)).otherwise(F.lit(0.0))
            elif family == "tweedie":
                aux = F.pow(y, F.lit(2.0 - var_power))  # Σ y^(2−p)
            else:
                aux = F.log(y)                        # gamma: Σ log y
            fin = df.agg(F.sum(dev_term).alias("dev"),
                         F.sum(pearson).alias("pchi"),
                         F.avg(y).alias("ybar"),
                         F.sum(aux).alias("aux"),
                         F.sum(y).alias("ysum"),
                         F.sum(F.exp(off)).alias("seo"),
                         F.sum(y * F.exp(-off)).alias("syeo"),
                         F.sum(y * F.exp(F.lit(1.0 - var_power) * off))
                         .alias("syeo_t"),
                         F.sum(F.exp(F.lit(2.0 - var_power) * off))
                         .alias("seo_t"),
                         F.sum(y - off).alias("syo"),
                         F.sum((y - off) * (y - off)).alias("syo2"),
                         ).collect()[0]
            deviance = float(fin["dev"])
            ybar = float(fin["ybar"])
            if offset is None:
                # intercept-only null model: μ₀ = ȳ, deviance in closed form
                if family == "gaussian":
                    null_dev = float(fin["aux"]) - n * ybar * ybar
                elif family in ("poisson", "quasipoisson"):
                    # 2Σ[y log(y/ȳ) − (y − ȳ)]; Σ(y−ȳ)=0
                    null_dev = 2 * (float(fin["aux"])
                                    - float(fin["ysum"]) * math.log(ybar)) \
                        if ybar > 0 else 0.0
                elif family == "tweedie":
                    # intercept-only MLE is μ₀ = ȳ
                    # (score Σ(y−μ)μ^(1−p) = 0)
                    p1, p2 = 1.0 - var_power, 2.0 - var_power
                    null_dev = 2 * (float(fin["aux"]) / (p1 * p2)
                                    - float(fin["ysum"]) * ybar ** p1 / p1
                                    + n * ybar ** p2 / p2) if ybar > 0 else 0.0
                else:
                    # gamma: 2Σ[−log(y/ȳ) + (y−ȳ)/ȳ]; second term sums to 0
                    null_dev = 2 * (n * math.log(ybar) - float(fin["aux"]))
            else:
                # with an offset the null model is intercept-only PLUS the
                # fixed offset (R's null.deviance convention); the intercept
                # MLE is closed-form for every family here, the deviance at
                # μ₀ needs one more scan because μ₀ varies by row
                if family == "gaussian":
                    b0 = float(fin["syo"]) / n
                    null_dev = float(fin["syo2"]) - n * b0 * b0
                else:
                    if family in ("poisson", "quasipoisson"):
                        b0 = math.log(float(fin["ysum"]) / float(fin["seo"]))
                        mu0 = F.exp(F.lit(b0) + off)
                        nd_term = 2 * (F.when(y > 0, y * F.log(y / mu0))
                                       .otherwise(F.lit(0.0)) - (y - mu0))
                    elif family == "tweedie":
                        # score Σ(y−μ₀)μ₀^(1−p) = 0 with μ₀ = e^{b0+off}
                        # solves in closed form:
                        # e^{b0} = Σy·e^{(1−p)off} / Σe^{(2−p)off}
                        p1, p2 = 1.0 - var_power, 2.0 - var_power
                        b0 = math.log(float(fin["syeo_t"])
                                      / float(fin["seo_t"]))
                        mu0 = F.exp(F.lit(b0) + off)
                        nd_term = 2 * (F.pow(y, F.lit(p2)) / F.lit(p1 * p2)
                                       - y * F.pow(mu0, F.lit(p1)) / F.lit(p1)
                                       + F.pow(mu0, F.lit(p2)) / F.lit(p2))
                    else:                             # gamma
                        b0 = math.log(float(fin["syeo"]) / n)
                        mu0 = F.exp(F.lit(b0) + off)
                        nd_term = 2 * (-F.log(y / mu0) + (y - mu0) / mu0)
                    null_dev = float(
                        df.agg(F.sum(nd_term).alias("nd")).collect()[0]["nd"])
            pchi = fin["pchi"]

    dispersion = 1.0
    cov = np.linalg.inv(A)
    if scaled:
        dispersion = float(pchi) / max(n - p, 1.0)
        cov = cov * dispersion
    stderr = np.sqrt(np.maximum(np.diag(cov), 0.0))
    return GlmModel(family=family, feature_exprs=feats, use_bias=use_bias,
                    beta=beta, stderr=stderr, n=n, n_iter=it,
                    converged=converged, deviance=deviance,
                    null_deviance=null_dev, dispersion=dispersion,
                    offset=offset, y_expr=y_expr,
                    var_power=var_power if family == "tweedie" else None)


def glm_grouped(df: DataFrame, formula: str, group_expr: str,
                family: str = "poisson", offset: str | None = None,
                use_bias: bool = True, max_iter: int = 25,
                tol: float = 1e-8, link: str | None = None,
                var_power: float = 1.5,
                max_groups: int = 10_000) -> dict:
    """One GLM per segment from ONE grouped Gramian scan per IRLS step.

    The per-segment analogue of :func:`~.ols.ols_grouped` /
    ``linear_dml_grouped``: fitting a Poisson / logit / gamma model per
    country, per cohort, or per experiment cell is the same Fisher-
    scoring aggregation conditioned on disjoint row sets — so ALL
    segments iterate together.  Each step broadcast-joins the tiny
    per-segment coefficient relation back onto the persisted design
    (plan size linear in segments — never a per-segment Spark job, never
    a CASE WHEN chain) and one ``groupBy(segment)`` aggregation yields
    every segment's weighted Gramian; the driver solves each segment's
    p×p update.  Total scans ≈ (slowest segment's iterations) + 2,
    independent of the number of segments.

    Families: poisson / quasipoisson / gamma / gaussian / tweedie
    (log or identity link, as :func:`glm`) plus ``binomial`` with the
    canonical logit link (probit/cloglog per-segment would need the
    non-canonical weight chain per step — use :func:`glm` per segment
    for those).  ``offset`` as in :func:`glm`.

    Returns ``{group_value: GlmModel}``.  Per-segment ``deviance`` and
    Pearson ``dispersion`` come from one final grouped scan;
    ``null_deviance`` is NaN (the per-segment null solve would add a
    scan per family-offset combination for a statistic rarely consumed
    segment-wise).  Segments whose Gramian is singular (n ≤ p) get a
    least-squares fallback solve and ``converged=False``.
    """
    if family not in _FAMILIES and family != "binomial":
        raise ValueError(f"family must be one of {_FAMILIES + ('binomial',)}")
    if family == "binomial":
        if link not in (None, "logit"):
            raise ValueError(
                "glm_grouped supports the canonical logit link only for "
                "binomial; fit probit/cloglog segments via glm()")
    elif link is not None:
        raise ValueError("link is configurable only for family='binomial'")
    if family == "tweedie" and not 1.0 < var_power < 2.0:
        raise ValueError("tweedie var_power must lie strictly in (1, 2)")
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    from pyspark import StorageLevel

    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, feats = parse_r_formula(formula)
    k = len(feats)
    p = k + (1 if use_bias else 0)
    if p == 0:
        raise ValueError("empty design: no features and use_bias=False")
    y = F.expr(y_expr).cast("double")
    off = F.expr(offset).cast("double") if offset is not None else F.lit(0.0)
    cc = y.isNotNull() & off.isNotNull()
    for e in feats:
        cc = cc & F.expr(e).cast("double").isNotNull()
    # project (group, y, X, offset) once and persist for the loop —
    # same discipline as design.prepare_design, plus the group key
    cols = [F.expr(group_expr).alias("__g__"), y.alias("__y__")]
    cols += [F.expr(e).cast("double").alias(f"__x{j}__")
             for j, e in enumerate(feats)]
    if offset is not None:
        cols.append(off.alias("__off__"))
    with persisted() as keep:
        work = keep(df.where(cc).select(*cols)
                    .persist(StorageLevel.MEMORY_AND_DISK))
        y = F.col("__y__")
        xs = ([F.lit(1.0)] if use_bias else []) + \
            [F.col(f"__x{j}__") for j in range(k)]
        off = F.col("__off__") if offset is not None else F.lit(0.0)
        log_link = family not in ("gaussian", "binomial")

        # init + validation scan (doubles as the cache materialization):
        # per-segment mean/min/max of y
        init_rows = (work.groupBy("__g__")
                     .agg(F.avg(y).alias("m"), F.min(y).alias("lo"),
                          F.max(y).alias("hi"), F.count(y).alias("n"))
                     .limit(max_groups + 1).collect())
        if len(init_rows) > max_groups:
            raise ValueError(f"more than max_groups={max_groups} segments; "
                             f"coarsen group_expr or raise max_groups")
        if not init_rows:
            raise ValueError("no complete rows")
        for r in init_rows:
            if family == "gamma" and float(r["lo"]) <= 0:
                raise ValueError(f"gamma family needs strictly positive y "
                                 f"(segment {r['__g__']!r})")
            if family in ("poisson", "quasipoisson", "tweedie") \
                    and float(r["lo"]) < 0:
                raise ValueError(f"{family} family needs non-negative y "
                                 f"(segment {r['__g__']!r})")
            if family == "binomial" \
                    and (float(r["lo"]) < 0 or float(r["hi"]) > 1):
                raise ValueError(f"binomial needs y in [0, 1] "
                                 f"(segment {r['__g__']!r})")

        # one canonical NaN so a NaN segment key round-trips the driver
        # dicts as ONE segment (Spark grouping already treats NaN as equal)
        _NAN = float("nan")

        def _norm(v):
            return _NAN if isinstance(v, float) and v != v else v

        betas: dict = {}
        for r in init_rows:
            b = np.zeros(p)
            if log_link and use_bias and float(r["m"] or 0.0) > 0:
                b[0] = math.log(float(r["m"]))
            betas[_norm(r["__g__"])] = b
        g_field = work.schema["__g__"]
        spark = df.sparkSession

        def _beta_join(bmap: dict) -> DataFrame:
            """work ⋈ broadcast(per-segment β) on the group key (null-safe;
            Spark join equality already matches NaN to NaN)."""
            from pyspark.sql.types import DoubleType, StructField, StructType

            schema = StructType(
                [StructField("__gb__", g_field.dataType, True)]
                + [StructField(f"__b{j}__", DoubleType(), False)
                   for j in range(p)])
            data = [tuple([gv] + [float(b[j]) for j in range(p)])
                    for gv, b in bmap.items()]
            bdf = spark.createDataFrame(data, schema)
            return work.join(F.broadcast(bdf),
                             work["__g__"].eqNullSafe(bdf["__gb__"]))

        def _eta() -> Column:
            eta: Column = F.col("__b0__") * xs[0]
            for j in range(1, p):
                eta = eta + F.col(f"__b{j}__") * xs[j]
            return eta + off

        rule = _family_rule(family, var_power)
        n_by_g: dict = {}
        iters_by_g: dict = {g: 0 for g in betas}
        frozen: set = set()             # segments already at their fixed point
        converged: dict = {g: not log_link and family != "binomial"
                           for g in betas}
        it = 0
        for it in range(1, max_iter + 1):
            # only UNFROZEN segments ride the per-iteration scan: the inner
            # beta join drops the others' rows, so late iterations aggregate
            # only the still-moving segments (990 converged / 10 slow out of
            # 1000 segments previously paid full O(p²)-per-row work for all
            # 1000 every iteration).  Frozen segments' stderr Gramian comes
            # from the final scan below, at exactly their final β.
            joined = _beta_join({g: b for g, b in betas.items()
                                 if g not in frozen} or betas)
            step = irls_frame(joined, xs, y, off, _eta(), rule,
                              keys=("__g__",))
            rows = step.groupBy("__g__").agg(*gramian_aggs(p)).collect()
            delta_max = 0.0
            A_by_g: dict = {}
            for r in rows:
                gv = _norm(r["__g__"])
                A, b, n_by_g[gv] = unpack_gramian(r, p)
                A_by_g[gv] = A
                if gv in frozen:
                    continue
                try:
                    new_beta = np.linalg.solve(A, b)
                    solvable = True
                except np.linalg.LinAlgError:
                    new_beta = np.linalg.lstsq(A, b, rcond=None)[0]
                    solvable = False
                d = float(np.max(np.abs(new_beta - betas[gv])))
                betas[gv] = new_beta
                iters_by_g[gv] = it
                if not solvable:
                    converged[gv] = False
                    frozen.add(gv)      # singular segment: keep the fallback
                elif d < tol or family == "gaussian":
                    converged[gv] = True
                    frozen.add(gv)      # fixed point reached — stop updating
                else:
                    delta_max = max(delta_max, d)
            if delta_max == 0.0 and len(frozen) == len(betas):
                break
            if not log_link and family != "binomial":
                break

        # final grouped scan: per-segment deviance + Pearson χ² at β̂
        joined = _beta_join(betas)
        etaf = _eta()
        muf = (rule.stage(etaf) or [etaf])[0]     # identity link: μ = η
        fb = joined.select(
            "__g__", *[c.alias(f"__p{i}__") for i, c in enumerate(xs)],
            y.alias("__yy__"), muf.alias("__mu__"),
            etaf.alias("__eta__"), off.alias("__o__"))
        yc, mu = F.col("__yy__"), F.col("__mu__")
        dev_term, pearson = _dev_pearson(family, yc, mu, var_power)
        # the Fisher information at EXACTLY β̂ rides the same final scan —
        # the per-iteration Gramians only cover the segments that scan
        # still carries (frozen ones drop out), and the old convention was
        # quirky anyway (a segment frozen in the LAST iteration kept its
        # pre-update Gramian)
        s_fin, _zf = _irls_wz(family, mu, F.col("__eta__"), yc,
                              F.col("__o__"), var_power)
        fin_rows = fb.groupBy("__g__").agg(
            F.sum(dev_term).alias("dev"), F.sum(pearson).alias("pchi"),
            *gramian_aggs(p, w=s_fin, rhs=False)).collect()
    fin = {_norm(r["__g__"]): r for r in fin_rows}

    out: dict = {}
    scaled = family in ("quasipoisson", "gamma", "gaussian", "tweedie")
    for gv, beta in betas.items():
        fr = fin.get(gv)
        n = float(fr["n__"]) if fr is not None else n_by_g.get(gv, 0.0)
        A = unpack_gramian(fr, p, rhs=False)[0] if fr is not None \
            else A_by_g.get(gv)
        try:
            cov = np.linalg.inv(A)
        except np.linalg.LinAlgError:
            cov = np.linalg.pinv(A)
        dispersion = 1.0
        pchi = fin.get(gv)
        if scaled and pchi is not None and pchi["pchi"] is not None:
            dispersion = float(pchi["pchi"]) / max(n - p, 1.0)
            cov = cov * dispersion
        stderr = np.sqrt(np.maximum(np.diag(cov), 0.0))
        dev_v = pchi["dev"] if pchi is not None else None
        out[gv] = GlmModel(
            family=family, feature_exprs=feats, use_bias=use_bias,
            beta=beta, stderr=stderr, n=n, n_iter=iters_by_g[gv],
            converged=converged.get(gv, False),
            deviance=float(dev_v) if dev_v is not None else float("nan"),
            null_deviance=float("nan"), dispersion=dispersion,
            offset=offset, y_expr=y_expr,
            link="logit" if family == "binomial" else None,
            var_power=var_power if family == "tweedie" else None)
    return out


def poisson_regression(df: DataFrame, formula: str,
                       offset: str | None = None, **kw) -> GlmModel:
    """Poisson GLM with log link (facade for ``glm(family='poisson')``)."""
    return glm(df, formula, family="poisson", offset=offset, **kw)


def probit_regression(df: DataFrame, formula: str, **kw) -> GlmModel:
    """Binomial GLM with probit link (facade for
    ``glm(family='binomial', link='probit')``)."""
    return glm(df, formula, family="binomial", link="probit", **kw)


def _binomial_glm(df: DataFrame, formula: str, link: str,
                  offset: str | None, use_bias: bool, max_iter: int,
                  tol: float, compute_stats: bool = True) -> GlmModel:
    """Binomial GLM by Fisher scoring for logit / probit / cloglog links.

    Non-canonical links change only the per-row weight w = (dμ/dη)²/V(μ)
    and working response z = η + (y−μ)/(dμ/dη); the distributed shape is
    identical to :func:`glm` — one O(p²) Gramian aggregation per
    iteration, solved on the driver.  Probit's Φ uses the package's
    exact-double Arrow ``erf`` (``functions/__init__.py:256``); all other
    arithmetic is pure Column.  Accepts binary {0,1} or proportion [0,1]
    outcomes (proportions get the standard quasi-binomial deviance
    terms).
    """
    if link not in ("logit", "probit", "cloglog"):
        raise ValueError("link must be one of ('logit','probit','cloglog')")
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, feats = parse_r_formula(formula)
    EPS = 1e-10

    def _mu_dmu(eta: Column) -> tuple[Column, Column]:
        if link == "logit":
            mu = 1.0 / (1.0 + F.exp(-eta))
            return mu, mu * (1.0 - mu)
        if link == "probit":
            from fast_causal_inference_spark.functions import erf

            mu = 0.5 * (1.0 + erf(eta / F.lit(math.sqrt(2.0))))
            dmu = F.exp(-eta * eta / 2.0) / F.lit(math.sqrt(2.0 * math.pi))
            return mu, dmu
        ex = F.exp(eta)                           # cloglog: μ = 1 − e^{−e^η}
        return 1.0 - F.exp(-ex), ex * F.exp(-ex)

    def _erf_np(x: np.ndarray) -> np.ndarray:
        # libm erf element-wise WITHOUT ufunc boxing: map over plain
        # Python floats (tolist) into a preallocated float64 buffer is
        # ~6x faster than frompyfunc(...).astype(float) and calls the
        # SAME math.erf, so every value is bit-identical (the probit
        # IRLS calls this once per iteration over the whole design —
        # measured as the hottest driver line of the ols family)
        return np.fromiter(map(math.erf, x.tolist()), np.float64,
                           count=len(x))

    def _mu_dmu_np(eta: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """numpy twin of _mu_dmu for the collected-design path."""
        if link == "logit":
            mu = 1.0 / (1.0 + np.exp(-eta))
            return mu, mu * (1.0 - mu)
        if link == "probit":
            mu = 0.5 * (1.0 + _erf_np(eta / math.sqrt(2.0)))
            dmu = np.exp(-eta * eta / 2.0) / math.sqrt(2.0 * math.pi)
            return mu, dmu
        ex = np.exp(eta)
        return 1.0 - np.exp(-ex), ex * np.exp(-ex)

    # w = (dμ/dη)²/V(μ), z = η + (y−μ)/(dμ/dη); the probit erf chain is
    # referenced three times by w/z, so μ and dμ are staged
    def _stage(eta: Column) -> list[Column]:
        mu, dmu = _mu_dmu(eta)
        return [mu, dmu + F.lit(EPS)]

    def _wz(eta, y, off, staged):
        muc, dmuc = staged
        return (dmuc * dmuc / (muc * (1.0 - muc) + F.lit(EPS)),
                (eta - off) + (y - muc) / dmuc)

    def _wz_np(eta, y, off):
        mu, dmu = _mu_dmu_np(eta)
        dmu = dmu + EPS
        return (dmu * dmu / (mu * (1.0 - mu) + EPS),
                (eta - off) + (y - mu) / dmu)

    def _check(row) -> None:
        if row["m"] is None:
            raise ValueError("no non-NULL outcome rows")
        if float(row["lo"]) < 0 or float(row["hi"]) > 1:
            raise ValueError("binomial family needs y in [0, 1]")

    rule = Rule(_stage, _wz, _wz_np)
    with persisted() as keep:
        d = formula_design(
            keep, df, y_expr, feats, offset, use_bias,
            probe=lambda y: [F.avg(y).alias("m"), F.min(y).alias("lo"),
                             F.max(y).alias("hi")],
            check=_check)
        df, y, off = d.work, d.y, d.off
        beta, A, n, it, converged = d.newton(rule, np.zeros(len(d.xs)),
                                             max_iter, tol)

        def _dev_term(mu: Column) -> Column:
            # shared clamped binomial unit deviance (_dev_pearson)
            return _dev_pearson("binomial", y, mu, var_power=1.5)[0]

        # compute_stats=False is the nuisance-fit fast path (see glm()):
        # beta/stderr only, no deviance scans
        deviance = null_dev = float("nan")
        if compute_stats:
            mu_fit, _ = _mu_dmu(d.eta(beta))
            fin = df.agg(F.sum(_dev_term(mu_fit)).alias("dev"),
                         F.avg(y).alias("ybar")).collect()[0]
            deviance = float(fin["dev"])
            ybar = float(fin["ybar"])

            if offset is None:
                # intercept-only null: μ₀ = ȳ for every binomial link
                mu0 = F.lit(min(max(ybar, 1e-12), 1.0 - 1e-12))
                null_dev = float(df.agg(F.sum(_dev_term(mu0)).alias("nd"))
                                 .collect()[0]["nd"])
            elif use_bias:
                # intercept-only + fixed offset: no closed form — reuse the
                # Fisher loop at p=1 (a handful of tiny scans), then one scan
                d0 = replace(d, xs=[F.lit(1.0)],
                             arrays=None if d.arrays is None else
                             (np.ones((len(d.arrays[1]), 1)), *d.arrays[1:]))
                b0 = d0.newton(rule, np.zeros(1), max_iter, tol)[0]
                mu0, _ = _mu_dmu(F.lit(float(b0[0])) + off)
                null_dev = float(df.agg(F.sum(_dev_term(mu0)).alias("nd"))
                                 .collect()[0]["nd"])

    stderr = np.sqrt(np.maximum(np.diag(np.linalg.inv(A)), 0.0))
    return GlmModel(family="binomial", feature_exprs=feats,
                    use_bias=use_bias, beta=beta, stderr=stderr, n=n,
                    n_iter=it, converged=converged, deviance=deviance,
                    null_deviance=null_dev, dispersion=1.0, offset=offset, y_expr=y_expr,
                    link=link)


def negative_binomial_regression(df: DataFrame, formula: str,
                                 offset: str | None = None,
                                 alpha: float | None = None,
                                 use_bias: bool = True, max_iter: int = 25,
                                 tol: float = 1e-8,
                                 alpha_rounds: int = 2) -> GlmModel:
    """NB2 negative-binomial regression (log link): Var(y) = μ + α·μ².

    The proper-likelihood answer to overdispersed counts (quasi-Poisson
    only rescales SEs; NB2 changes the weights, so coefficients differ
    too when the variance function matters).  ``alpha`` fixes the
    dispersion; when None it is estimated by Cameron-Trivedi's auxiliary
    no-intercept OLS of ((y−μ̂)² − y)/μ̂ on μ̂ from a Poisson first
    stage, then the β/α pair is refined ``alpha_rounds`` times (the
    standard two-step moment estimator — a digamma ML solve for α is
    deliberately out of scope).

    Execution shape matches :func:`glm`: every IRLS iteration and every
    α update is ONE Gramian-or-two-sums aggregation; nothing touches
    rows driver-side.  SEs are the conditional-on-α Fisher inverse.
    """
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    # before any Spark job: the Poisson first stage runs ahead of the
    # fixed-α fit, and a NaN α would fit and return NaNs
    if alpha is not None and not (math.isfinite(alpha) and alpha >= 0):
        raise ValueError(f"alpha must be finite and >= 0, got {alpha!r}")
    y_expr, feats = parse_r_formula(formula)

    def _check(m0) -> None:
        if m0["m"] is None:
            raise ValueError("no non-NULL outcome rows")
        if float(m0["lo"]) < 0:
            raise ValueError(
                "negative-binomial family needs non-negative y")

    def _rule(a: float) -> Rule:
        """NB2 weights at fixed dispersion: w = μ/(1+αμ), log link."""
        def wz(eta, y, off, staged):
            mu, = staged
            return (mu / (1 + F.lit(a) * mu) + F.lit(1e-10),
                    (eta - off) + (y - mu) / (mu + F.lit(1e-10)))

        def wz_np(eta, y, off):
            mu = np.exp(eta)
            return (mu / (1 + a * mu) + 1e-10,
                    (eta - off) + (y - mu) / (mu + 1e-10))

        return Rule(lambda eta: [F.exp(eta)], wz, wz_np)

    # the α-round structure multiplies the per-step job cost (outer
    # dispersion rounds × inner IRLS), so the collected small-design path
    # pays off more here than anywhere else in the GLM zoo
    with persisted() as keep:
        d = formula_design(
            keep, df, y_expr, feats, offset, use_bias,
            probe=lambda y: [F.avg(y).alias("m"), F.min(y).alias("lo")],
            check=_check)
        df, y, off, des = d.work, d.y, d.off, d.arrays

        def _irls(a_disp, beta):
            """IRLS to convergence at fixed dispersion; returns beta, A,
            n, it, converged."""
            return d.newton(_rule(float(a_disp)), beta, max_iter, tol)

        beta = np.zeros(len(d.xs))
        if use_bias and float(d.probe["m"]) > 0:
            beta[0] = math.log(float(d.probe["m"]))
        # Poisson first stage (α=0) seeds both β and the aux-OLS α estimate
        beta, A, n, it, conv = _irls(0.0, beta)
        a_disp = alpha
        total_it = it
        if alpha is None:
            a_disp = 0.0
            for _ in range(max(alpha_rounds, 1)):
                # aux OLS of u=((y−μ)²−y)/μ on μ through origin:
                # α̂ = Σμ·u / Σμ² and μ·u = (y−μ)²−y, so two sums suffice
                if des is not None:
                    X_, yv, ov = des
                    mu_v = np.exp(X_ @ beta + ov)
                    a_new = max(float(np.sum((yv - mu_v) ** 2 - yv))
                                / float(np.sum(mu_v * mu_v)), 0.0)
                else:
                    mu = F.exp(d.eta(beta))
                    aux = df.agg(
                        F.sum((y - mu) * (y - mu) - y).alias("num"),
                        F.sum(mu * mu).alias("den")).collect()[0]
                    a_new = max(float(aux["num"]) / float(aux["den"]), 0.0)
                if abs(a_new - a_disp) < 1e-8:
                    a_disp = a_new
                    break
                a_disp = a_new
                beta, A, n, it, conv = _irls(a_disp, beta)
                total_it += it
        else:
            beta, A, n, it, conv = _irls(float(alpha), beta)
            total_it += it

        # NB2 deviance at the final fit:
        # 2Σ[y·log(y/μ) − (y+1/α)·log((1+αy)/(1+αμ))]
        mu = F.exp(d.eta(beta))
        a_l = F.lit(float(a_disp))
        if a_disp and a_disp > 0:
            dev_term = 2 * (F.when(y > 0, y * F.log(y / mu))
                            .otherwise(F.lit(0.0))
                            - (y + 1.0 / a_l)
                            * F.log((1 + a_l * y) / (1 + a_l * mu)))
        else:                       # α→0 limit is the Poisson deviance
            dev_term = 2 * (F.when(y > 0, y * F.log(y / mu))
                            .otherwise(F.lit(0.0)) - (y - mu))
        fin = df.agg(F.sum(dev_term).alias("dev"),
                     F.sum(y).alias("ysum"),
                     F.sum(F.exp(off)).alias("seo")).collect()[0]
        deviance = float(fin["dev"])
        # null model: intercept-only + offset at the SAME α.  The mean score
        # Σ(y−μ)/(1+αμ)=0 has no closed form with an offset, so reuse the
        # IRLS machinery with p=1 (a handful of tiny scans)
        if use_bias:
            b0 = np.array([math.log(max(float(fin["ysum"])
                                        / float(fin["seo"]), 1e-12))])
            for _ in range(max_iter):
                if des is not None:
                    _, yv, ov = des
                    mu0_v = np.exp(float(b0[0]) + ov)
                    w0_v = mu0_v / (1 + float(a_disp) * mu0_v) + 1e-10
                    z0_v = float(b0[0]) + (yv - mu0_v) / (mu0_v + 1e-10)
                    nb0 = float(np.sum(w0_v * z0_v)) / float(np.sum(w0_v))
                else:
                    eta0 = F.lit(float(b0[0])) + off
                    mu0 = F.exp(eta0)
                    w0 = mu0 / (1 + F.lit(float(a_disp)) * mu0) \
                        + F.lit(1e-10)
                    z0 = F.lit(float(b0[0])) \
                        + (y - mu0) / (mu0 + F.lit(1e-10))
                    r0 = df.agg(F.sum(w0 * z0).alias("b"),
                                F.sum(w0).alias("a")).collect()[0]
                    nb0 = float(r0["b"]) / float(r0["a"])
                d0 = abs(nb0 - float(b0[0]))
                b0 = np.array([nb0])
                if d0 < tol:
                    break
            mu0 = F.exp(F.lit(float(b0[0])) + off)
            if a_disp and a_disp > 0:
                nd_term = 2 * (F.when(y > 0, y * F.log(y / mu0))
                               .otherwise(F.lit(0.0))
                               - (y + 1.0 / a_l)
                               * F.log((1 + a_l * y) / (1 + a_l * mu0)))
            else:
                nd_term = 2 * (F.when(y > 0, y * F.log(y / mu0))
                               .otherwise(F.lit(0.0)) - (y - mu0))
            null_dev = float(df.agg(F.sum(nd_term).alias("nd"))
                             .collect()[0]["nd"])
        else:
            null_dev = float("nan")
    stderr = np.sqrt(np.maximum(np.diag(np.linalg.inv(A)), 0.0))
    # y_expr matters downstream: margins.average_marginal_effects uses it
    # to keep its rebuilt Fisher/AME sums on the SAME complete-case rows
    # the fit used — omitting it silently skipped that filter
    return GlmModel(family="negbin", feature_exprs=feats, use_bias=use_bias,
                    beta=beta, stderr=stderr, n=n, n_iter=total_it,
                    converged=conv, deviance=deviance,
                    null_deviance=null_dev, dispersion=float(a_disp),
                    offset=offset, y_expr=y_expr)
