"""t-test family: one/two-sample with CUPED, classic student/welch, z-test.

Pattern (SURVEY.md §2.6): every batch readout is ONE native aggregation
keyed by (group columns…, arm) (:func:`suffstats.arm_cells`: plain sums over
the complete-case rows; the one-sample test keys by the group columns
alone); an ungrouped call is the same pass with no group columns.  The
driver pairs each report cell's arms, finalizes them with the closed-form
:mod:`_ttest_core` math and returns an eager :func:`result.driver_frame`;
no Python worker runs.  (The wide ``g0_``/``g1_`` row is kept only by
``streaming/ops.py``: a streaming aggregation cannot pair two keyed rows.)

Behavioral parity targets (reference, /root/reference):
``ttest_1samp.h:215-250``, ``ttest_2samp.h:359-427``, ``ttest_common.h:42-241``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fast_causal_inference_spark.formula import parse_formulas
from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators import _ttest_core as core
from fast_causal_inference_spark.operators.suffstats import (
    arm_cells,
    arm_stats,
    by_arm,
    check_distinct_arms,
    collect_keyed,
    keyed_stats,
    merge_stats,
    row_to_stats,
    suffstat_agg_columns,
)
from fast_causal_inference_spark.result import driver_frame

_RESULT_2SAMP = ["n0", "n1", "mean0", "mean1", "estimate", "stderr",
                 "t_stat", "p_value", "lower", "upper"]
_RESULT_1SAMP = ["n", "mean", "estimate", "stderr",
                 "t_stat", "p_value", "lower", "upper"]
_RESULT_MOMENT = ["n0", "n1", "mean0", "mean1", "estimate", "stderr",
                  "t_stat", "df", "p_value"]
_NAN = float("nan")


def _split_cuped(X: str | None) -> list[str]:
    """CUPED covariate spec: '+'-separated formulas, optional 'X=' prefix
    (reference statistics.py:193-195 renders the same surface)."""
    if not X:
        return []
    x = X.strip()
    if x.lower().startswith("x="):
        x = x[2:]
    return [p for p in x.split("+") if p.strip()]


def _parse(Y: str, X: str | None):
    """(metric node, CUPED covariate nodes or None, base expressions)."""
    nodes, base = parse_formulas([Y] + _split_cuped(X))
    return nodes[0], nodes[1:] or None, base


def _col(expr: str):
    return F.col(expr) if expr.isidentifier() else F.expr(expr)


def _doubles(names: list[str]) -> list[T.StructField]:
    return [T.StructField(n, T.DoubleType()) for n in names]


def _frame(df: DataFrame, keys: list, fields: list[T.StructField],
           rows: list[tuple[tuple, dict]]) -> DataFrame:
    """Result frame of (cell key, result dict) rows (`result.driver_frame`)."""
    return driver_frame(df.sparkSession, keys, fields,
                        [(*cell, *(res[f.name] for f in fields))
                         for cell, res in rows])


def ttest_2samp(df: DataFrame, Y: str, index: str,
                alternative: str = "two-sided", X: str | None = None,
                alpha: float = 0.05,
                treatment_values: tuple = (0, 1),
                group_cols: list[str] | None = None,
                pse: str | None = None,
                edgeworth: bool = False) -> DataFrame:
    """Two-sample delta-method t-test of a metric formula, optional CUPED.

    ``Y`` like ``avg(numerator)/avg(denominator)``; ``index`` a column whose
    values in ``treatment_values`` define (control, treatment); ``X`` a
    '+'-separated list of covariate formulas for CUPED residualization;
    ``pse`` a discrete column for post-stratification (strata combined with
    weights n_s/n — mean: Σw·m_s, variance: Σw²·v_s — matching the reference
    ``ttest_2samp.h:292-358``; single-arm/singleton strata are skipped).
    ``group_cols`` gives one row per group (a group with no complete row
    in either arm has none; a group missing one arm gets NaN statistics).

    ``edgeworth=True`` applies the one-term Edgeworth skewness
    correction to the one-sided p-value (the gateway's trailing
    ``edgeworthtest`` token — see :func:`_ttest_core.edgeworth_p`);
    costs one extra aggregation pass for the per-arm third central
    moments of the delta-method influence values.  Ungrouped only.
    """
    keys, rows = _ttest_2samp_rows(df, Y, index, alternative, X, alpha,
                                   treatment_values, group_cols, pse,
                                   edgeworth)
    return _frame(df, keys, _doubles(_RESULT_2SAMP), rows)


def _ttest_2samp_rows(df: DataFrame, Y: str, index: str, alternative: str,
                      X: str | None, alpha: float, treatment_values: tuple,
                      group_cols: list[str] | None, pse: str | None,
                      edgeworth: bool) -> tuple[list, list[tuple[tuple, dict]]]:
    """:func:`ttest_2samp`'s group fields and (cell key, result) rows."""
    if alternative not in core.ALTERNATIVES:
        raise ValueError(f"alternative must be one of {core.ALTERNATIVES}")
    if edgeworth and pse is not None:
        raise ValueError("edgeworth is not supported with pse")
    if edgeworth and group_cols:
        raise ValueError("edgeworth correction is ungrouped-only")
    group_cols = list(group_cols or [])
    ynode, xnodes, base = _parse(Y, X)
    idx = _col(index)
    v0, v1 = treatment_values
    if pse is not None:
        return _pse_rows(df, base, idx, v0, v1, group_cols, _col(pse),
                         ynode, xnodes, alternative, alpha)

    keys, cells = arm_cells(df, base, idx, v0, v1, group_cols)
    rows = [(cell, core.ttest_2samp_result(s0, s1, ynode, xnodes,
                                           alternative, alpha))
            for cell, (s0, s1) in cells.items()]
    if edgeworth:
        # two-sided: the first-order Edgeworth term provably cancels
        # (edgeworth_p returns the plain p), so skip the extra
        # full-table third-moment pass entirely
        (s0, s1), = cells.values()
        (_, res), = rows
        gam = 0.0 if alternative == "two-sided" else \
            _edgeworth_gamma(df, base, idx, v0, v1, s0, s1,
                             ynode, xnodes, res["stderr"])
        res["p_value"] = core.edgeworth_p(res["t_stat"], gam, alternative)
    return keys, rows


def _edgeworth_moments(df: DataFrame, base: list[str], idx, v0, v1,
                       s0, s1, ynode, xnodes
                       ) -> tuple[list[float], list[float], list[float]] | None:
    """Per-arm (n, μ3, population variance) of the delta-method
    INFLUENCE value h = ∇g(μ_arm)·(b − μ_arm) (CUPED: minus θ·∇x),
    evaluated in ONE aggregation pass over the complete-case rows of
    each arm.  Returns None on degenerate inputs."""
    k = len(base)
    grads_y = ynode.gradient(k)
    theta = None
    if xnodes:
        pooled = merge_stats(s0, s1)
        theta = core.cuped_theta(pooled, ynode, xnodes)
    aggs = []
    for a, (s, v) in enumerate(((s0, v0), (s1, v1))):
        m = list(s.means)
        w = np.array([float(g.value(m)) for g in grads_y])
        if xnodes and theta is not None:
            for c, xn in enumerate(xnodes):
                wx = np.array([float(g.value(m))
                               for g in xn.gradient(k)])
                w = w - float(theta[c]) * wx
        guard = idx == F.lit(v)
        h = None
        for j in range(k):
            bj = F.expr(base[j]).cast("double")
            guard = guard & bj.isNotNull()
            term = F.lit(float(w[j])) * (bj - F.lit(float(m[j])))
            h = term if h is None else h + term
        hg = F.when(guard, h)
        aggs += [F.count(hg).alias(f"e_n{a}"),
                 F.sum(hg).alias(f"e_s1_{a}"),
                 F.sum(hg * hg).alias(f"e_s2_{a}"),
                 F.sum(hg * hg * hg).alias(f"e_s3_{a}")]
    r = df.agg(*aggs).collect()[0]
    mu3 = []
    ns = []
    varp = []
    for a in range(2):
        n = float(r[f"e_n{a}"] or 0)
        if n < 2:
            return None
        su1, su2, su3 = (float(r[f"e_s{i}_{a}"]) for i in (1, 2, 3))
        mean = su1 / n
        mu3.append((su3 - 3.0 * mean * su2 + 2.0 * n * mean ** 3) / n)
        varp.append(su2 / n - mean * mean)
        ns.append(n)
    return ns, mu3, varp


def _edgeworth_gamma(df: DataFrame, base: list[str], idx, v0, v1,
                     s0, s1, ynode, xnodes, stderr: float) -> float:
    """Effective third standardized cumulant of the two-sample
    delta-method estimate: (μ3₁/n1² − μ3₀/n0²) / stderr³ (see
    :func:`_edgeworth_moments`).  Returns 0.0 (no correction) on
    degenerate inputs."""
    if not stderr or math.isnan(stderr) or stderr <= 0:
        return 0.0
    m = _edgeworth_moments(df, base, idx, v0, v1, s0, s1, ynode, xnodes)
    if m is None:
        return 0.0
    ns, mu3, _ = m
    return float((mu3[1] / ns[1] ** 2 - mu3[0] / ns[0] ** 2)
                 / stderr ** 3)


def edgeworth_components(df: DataFrame, Y: str, index: str,
                         alternative: str = "greater",
                         X: str | None = None,
                         treatment_values: tuple = (0, 1),
                         alpha: float = 0.05) -> DataFrame:
    """One-row report of the Edgeworth correction's arithmetic.

    Exposes everything :func:`ttest_2samp` with ``edgeworth=True``
    computes UP TO the Φ/φ evaluation as plain arithmetic columns, so
    an external SQL oracle can value-check the third-moment pass (the
    round-10 verdict's ask — the p-value itself needs Φ/φ and stays
    driver-side, exactly like the plain t-test rows):

    ``n0, n1``        per-arm complete-case counts
    ``skew0, skew1``  per-arm population skewness of the influence
                      value h (μ3 / varpop^1.5 — O(1), rounding-stable)
    ``gamma_eff``     (μ3₁/n1² − μ3₀/n0²) / stderr³
    ``stderr``        delta-method stderr of the difference
    ``t_stat``        studentized difference
    ``poly_term``     γ_eff·(2t² + 1)/6 — the Edgeworth polynomial
                      multiplying φ(t) in the corrected one-sided CDF
    ``p_value``       the corrected one-sided p (Φ/φ driver-side)
    """
    if alternative not in core.ALTERNATIVES:
        raise ValueError(f"alternative must be one of {core.ALTERNATIVES}")
    ynode, xnodes, base = _parse(Y, X)
    idx = _col(index)
    v0, v1 = treatment_values
    s0, s1 = arm_stats(df, base, idx, v0, v1)
    res = core.ttest_2samp_result(s0, s1, ynode, xnodes, alternative, alpha)
    mom = _edgeworth_moments(df, base, idx, v0, v1, s0, s1, ynode, xnodes)
    stderr, t = res["stderr"], res["t_stat"]
    if mom is None or not stderr or stderr <= 0:
        ns, skews, gam = [_NAN] * 2, [_NAN] * 2, 0.0
    else:
        ns, mu3, varp = mom
        skews = [m3 / vp ** 1.5 if vp > 0 else _NAN
                 for m3, vp in zip(mu3, varp)]
        gam = float((mu3[1] / ns[1] ** 2 - mu3[0] / ns[0] ** 2)
                    / stderr ** 3)
    out = {"n0": ns[0], "n1": ns[1], "skew0": skews[0], "skew1": skews[1],
           "gamma_eff": gam, "stderr": stderr, "t_stat": t,
           "poly_term": gam * (2.0 * t * t + 1.0) / 6.0,
           "p_value": core.edgeworth_p(t, gam, alternative)}
    return _frame(df, [], _doubles(list(out)), [((), out)])


def _ascending(v) -> tuple:
    """Sort key of one group-key value in Spark's ascending order: NULL
    first, NaN above every number."""
    return (0, 0) if v is None else (2, 0) if v != v else (1, v)


def _pse_rows(df: DataFrame, base: list[str], idx, v0, v1,
              group_cols: list[str], psec, ynode, xnodes, alternative: str,
              alpha: float) -> tuple[list, list[tuple[tuple, dict]]]:
    """Post-stratified rows (see :func:`ttest_2samp`): one pass keyed by
    (groups…, stratum, arm); each group's strata combine on the driver in
    ascending stratum order, so the float sums do not depend on the
    order the shuffle returns the strata in."""
    keys, cells = arm_cells(df, base, idx, v0, v1,
                            [*group_cols, psec.alias("__pse")])
    strata: dict[tuple, list] = {} if group_cols else {(): []}
    for cell in sorted(cells, key=lambda c: _ascending(c[-1])):
        strata.setdefault(cell[:-1], []).append(cells[cell])
    return keys[:-1], [
        (g, _post_stratified(ss, ynode, xnodes, alternative, alpha))
        for g, ss in strata.items()]


def _post_stratified(cells: list, ynode, xnodes, alternative: str,
                     alpha: float) -> dict:
    """One group's strata (s0, s1) combined with weights n_s/n; strata
    with fewer than two rows in an arm are skipped."""
    strata = [(s0, s1) for s0, s1 in cells
              if not (s0.n < 2 or s1.n < 2 or np.isnan(s0.n)
                      or np.isnan(s1.n))]
    total = sum(s0.n + s1.n for s0, s1 in strata)
    mean0 = mean1 = var0 = var1 = 0.0
    n0 = n1 = 0.0
    for s0, s1 in strata:
        if xnodes:
            pooled = merge_stats(s0, s1)
            theta = core.cuped_theta(pooled, ynode, xnodes)
            m0, vv0 = core.arm_mean_var(s0, ynode, xnodes, pooled, theta)
            m1, vv1 = core.arm_mean_var(s1, ynode, xnodes, pooled, theta)
        else:
            m0, vv0 = core.arm_mean_var(s0, ynode, None)
            m1, vv1 = core.arm_mean_var(s1, ynode, None)
        w = (s0.n + s1.n) / total
        mean0 += m0 * w
        mean1 += m1 * w
        var0 += vv0 * w * w
        var1 += vv1 * w * w
        n0 += s0.n
        n1 += s1.n
    estimate = mean1 - mean0
    stderr = math.sqrt(var0 + var1) if strata else _NAN
    t_stat = estimate / stderr if stderr and stderr > 0 else _NAN
    lower, upper = core.confidence_interval(
        estimate, stderr, n0 + n1, alpha, alternative)
    return {"n0": n0, "n1": n1, "mean0": mean0, "mean1": mean1,
            "estimate": estimate, "stderr": stderr, "t_stat": t_stat,
            "p_value": core.p_value(t_stat, alternative),
            "lower": lower, "upper": upper}


def ttest_1samp(df: DataFrame, Y: str, alternative: str = "two-sided",
                mu: float = 0.0, X: str | None = None, alpha: float = 0.05,
                group_cols: list[str] | None = None) -> DataFrame:
    """One-sample delta-method t-test of a metric formula against ``mu``:
    one pass keyed by the group columns (ungrouped: one global row)."""
    if alternative not in core.ALTERNATIVES:
        raise ValueError(f"alternative must be one of {core.ALTERNATIVES}")
    group_cols = list(group_cols or [])
    ynode, xnodes, base = _parse(Y, X)
    keys, rows = collect_keyed(
        keyed_stats(df, base, None, group_cols=group_cols), len(group_cols))
    return _frame(df, keys, _doubles(_RESULT_1SAMP), [
        (cell, core.ttest_1samp_result(row_to_stats(r, len(base)), ynode,
                                       xnodes, mu, alternative, alpha))
        for cell, r in rows])


def ttests_2samp(df: DataFrame, Y: str, index: str,
                 alternatives: list[str] | str = "two-sided",
                 X: str | None = None, alpha: float = 0.05,
                 treatment_values: tuple = (0, 1),
                 group_cols: list[str] | None = None) -> DataFrame:
    """Multi-output two-sample t-test: one result row per alternative
    (reference ``ttests_2samp.h``). The sufficient-statistics pass runs ONCE.
    """
    if isinstance(alternatives, str):
        alternatives = [a.strip() for a in alternatives.split(",")]
    for a in alternatives:
        if a not in core.ALTERNATIVES:
            raise ValueError(f"bad alternative {a!r}")
    ynode, xnodes, base = _parse(Y, X)
    v0, v1 = treatment_values
    keys, cells = arm_cells(df, base, _col(index), v0, v1,
                            list(group_cols or []))
    return _frame(
        df, [T.StructField("alternative", T.StringType()), *keys],
        _doubles(_RESULT_2SAMP),
        [((alt, *cell), core.ttest_2samp_result(s0, s1, ynode, xnodes, alt,
                                                alpha))
         for cell, (s0, s1) in cells.items() for alt in alternatives])


# ---------------------------------------------------------------------------
# classic tests on a single value column (CH built-in parity: studentTTest,
# welchTTest, meanZTest — registerAggregateFunctions.cpp:141-144)
# ---------------------------------------------------------------------------


def _moment_result(r0, r1, kind: str, alternative: str,
                   var_x: float | None, var_y: float | None) -> dict:
    """One cell of :func:`_moment_test` from its two arms' (n, m, v) rows
    (None: the arm has no rows)."""
    (n0, m0, s0), (n1, m1, s1) = (
        (0.0, _NAN, _NAN) if r is None else
        tuple(_NAN if r[c] is None else float(r[c]) for c in "nmv")
        for r in (r0, r1))
    est = m1 - m0
    need = 1 if kind == "meanz" else 2
    if n0 < need or n1 < need:
        # degenerate arm: degrade to NaN like the delta-method path (a
        # grouped call must not fail on one tiny report cell); the
        # known-variance z-test is defined from n=1, the
        # variance-estimating tests need n>=2 per arm
        return {"n0": n0, "n1": n1, "mean0": m0, "mean1": m1,
                "estimate": est, "stderr": _NAN, "t_stat": _NAN,
                "df": _NAN, "p_value": _NAN}
    if kind == "student":
        sp = (((n0 - 1) * s0 + (n1 - 1) * s1) / (n0 + n1 - 2))
        se = (sp * (1 / n0 + 1 / n1)) ** 0.5
        dof = n0 + n1 - 2
    elif kind == "welch":
        a, b = s0 / n0, s1 / n1
        se = (a + b) ** 0.5
        dof = (a + b) ** 2 / (a * a / (n0 - 1) + b * b / (n1 - 1))
    else:  # z-test with known variances
        se = (var_x / n0 + var_y / n1) ** 0.5
        dof = float("inf")
    t = est / se if se > 0 else _NAN
    if kind == "meanz" or not np.isfinite(dof):
        sf = float(dist.norm_sf(abs(t)))
        cdf_t = float(dist.norm_cdf(t))
    else:
        sf = float(dist.t_sf(abs(t), dof))
        cdf_t = float(dist.t_cdf(t, dof))
    if alternative == "two-sided":
        p = 2 * sf
    elif alternative == "less":
        p = cdf_t
    else:
        p = 1 - cdf_t
    return {"n0": n0, "n1": n1, "mean0": m0, "mean1": m1, "estimate": est,
            "stderr": se, "t_stat": t, "df": dof, "p_value": p}


def _moment_test(df: DataFrame, value: str, index: str, kind: str,
                 alternative: str, treatment_values: tuple,
                 group_cols: list[str] | None,
                 var_x: float | None = None, var_y: float | None = None,
                 ) -> DataFrame:
    """count/avg/var_samp of the value per (groups…, arm) in one pass."""
    check_distinct_arms(*treatment_values)
    group_cols = list(group_cols or [])
    x = F.expr(value).cast("double")
    idx = _col(index)
    v0, v1 = treatment_values
    arm = F.when(idx == F.lit(v0), 0).when(idx == F.lit(v1), 1)
    agg = (df.where(arm.isNotNull() & x.isNotNull())
             .groupBy(*group_cols, arm.alias("__key"))
             .agg(F.count(x).alias("n"), F.avg(x).alias("m"),
                  F.var_samp(x).alias("v")))
    keys, rows = collect_keyed(agg, len(group_cols))
    return _frame(df, keys, _doubles(_RESULT_MOMENT), [
        (cell, _moment_result(a.get(0), a.get(1), kind, alternative,
                              var_x, var_y))
        for cell, a in by_arm(rows, bool(group_cols)).items()])


def student_ttest(df: DataFrame, value: str, index: str,
                  alternative: str = "two-sided",
                  treatment_values: tuple = (0, 1),
                  group_cols: list[str] | None = None) -> DataFrame:
    """Equal-variance two-sample t-test on a value column."""
    return _moment_test(df, value, index, "student", alternative,
                        treatment_values, group_cols)


def welch_ttest(df: DataFrame, value: str, index: str,
                alternative: str = "two-sided",
                treatment_values: tuple = (0, 1),
                group_cols: list[str] | None = None) -> DataFrame:
    """Unequal-variance (Welch) two-sample t-test on a value column."""
    return _moment_test(df, value, index, "welch", alternative,
                        treatment_values, group_cols)


def mean_z_test(df: DataFrame, value: str, index: str,
                var_x: float, var_y: float,
                alternative: str = "two-sided",
                treatment_values: tuple = (0, 1),
                group_cols: list[str] | None = None) -> DataFrame:
    """Two-sample z-test with known population variances."""
    return _moment_test(df, value, index, "meanz", alternative,
                        treatment_values, group_cols, var_x=var_x, var_y=var_y)


def equivalence_ttest_2samp(df: DataFrame, Y: str, index: str,
                            margin: float, alternative: str = "equivalence",
                            X: str | None = None, alpha: float = 0.05,
                            treatment_values: tuple = (0, 1),
                            group_cols: list[str] | None = None) -> DataFrame:
    """TOST equivalence / non-inferiority test of a metric formula.

    ``alternative='equivalence'``: two one-sided tests of
    H0: |Δ| ≥ margin vs H1: |Δ| < margin — p = max(P(Δ ≤ −m rejected),
    P(Δ ≥ +m rejected)); significant at α when the (1−2α) CI sits inside
    (−m, +m).  ``alternative='noninferiority'``: one-sided H0: Δ ≤ −m vs
    H1: Δ > −m (treatment no worse than control by more than the margin).

    Pure post-processing of the delta-method :func:`ttest_2samp` rows
    (same single suff-stats scan, CUPED and grouping included), on the
    driver: adds z_lower = (Δ+m)/se, z_upper = (Δ−m)/se, p_equiv, and the
    boolean decision at ``alpha``.  A cell whose stderr is NULL or zero
    gets NULL z-scores, p_equiv and decision.

    NOTE: by the TOST convention the BASE test runs at ``2*alpha``, so
    the inherited alpha-dependent columns (``lower``/``upper``/
    ``p_value`` thresholds) describe the (1−2α) confidence interval —
    e.g. a 90% CI at the default ``alpha=0.05`` — not the usual (1−α)
    one.  The equivalence decision is exactly "(1−2α) CI inside
    (−margin, +margin)".
    """
    if margin <= 0:
        raise ValueError("margin must be > 0")
    if not 0 < alpha < 0.5:
        raise ValueError(
            f"alpha must be in (0, 0.5) for TOST (got {alpha}): the base "
            f"test runs at the 1-2*alpha CI level, which needs 2*alpha < 1")
    if alternative not in ("equivalence", "noninferiority"):
        raise ValueError(
            "alternative must be 'equivalence' or 'noninferiority'")
    keys, rows = _ttest_2samp_rows(df, Y, index, "two-sided", X, 2 * alpha,
                                   treatment_values, group_cols, None, False)
    m = float(margin)
    crit = float(dist.norm_ppf(1 - alpha))
    decision = ("equivalent" if alternative == "equivalence"
                else "noninferior")
    for _, res in rows:
        est, se = res["estimate"], res["stderr"]
        zl = (est + m) / se if se > 0 else _NAN
        zu = (est - m) / se if se > 0 else _NAN
        res.update(margin=m, z_lower=zl, z_upper=zu, p_equiv=_NAN)
        res[decision] = None
        if zl == zl and zu == zu:
            p_low = float(dist.norm_sf(zl))    # P(reject Δ ≤ −m) complement
            if alternative == "equivalence":
                res["p_equiv"] = max(p_low, float(dist.norm_sf(-zu)))
                res[decision] = bool(zl > crit and zu < -crit)
            else:
                res["p_equiv"] = p_low
                res[decision] = bool(zl > crit)
    return _frame(df, keys,
                  _doubles(_RESULT_2SAMP + ["margin", "z_lower", "z_upper",
                                            "p_equiv"])
                  + [T.StructField(decision, T.BooleanType())], rows)


def winsorized_ttest_2samp(df: DataFrame, Y: str, index: str,
                           lower: float = 0.01, upper: float = 0.99,
                           alternative: str = "two-sided",
                           alpha: float = 0.05,
                           treatment_values: tuple = (0, 1),
                           group_cols: list[str] | None = None,
                           relative_error: float = 1e-4) -> DataFrame:
    """Two-sample t-test on the quantile-capped metric: winsorize ``Y``
    at [lower, upper] (ONE pooled approxQuantile sketch — capping is
    pooled, not per-arm, so the transformation is identical for both
    arms and the contrast stays interpretable), then the ordinary
    delta-method :func:`ttest_2samp` on the capped column.  The standard
    whale-resistant experiment readout.  ``Y`` is a COLUMN here (the
    capping applies to one metric), not a ratio formula.  The capping
    sketch sees only rows of the two ``treatment_values`` arms — rows
    from other arms of a multi-arm table must not shift the caps of the
    analyzed sample.
    """
    from fast_causal_inference_spark.functions.features import winsorize

    idx = F.col(index) if index.isidentifier() else F.expr(index)
    arms = df.where(idx.isin(list(treatment_values)))
    capped = winsorize(arms.withColumn("__wy", F.expr(Y).cast("double")),
                       "__wy", lower=lower, upper=upper,
                       relative_error=relative_error)
    return ttest_2samp(capped, "avg(__wy)", index,
                       alternative=alternative, alpha=alpha,
                       treatment_values=treatment_values,
                       group_cols=group_cols)


def _render_with_slots(node, repl) -> str:
    """Render a parsed formula node back to text with every mean-slot
    ``Sym(i)`` replaced by ``repl(i)`` — robust to every sugar the parser
    accepts (``avg``/``mean``/bare identifiers/raw calls), unlike a
    textual scan."""
    from fast_causal_inference_spark.formula import BinOp, Const, Neg, Sym

    if isinstance(node, Const):
        return repr(float(node.v))
    if isinstance(node, Sym):
        return repl(node.i)
    if isinstance(node, Neg):
        return f"(- {_render_with_slots(node.a, repl)})"
    if isinstance(node, BinOp):
        a = _render_with_slots(node.a, repl)
        b = _render_with_slots(node.b, repl)
        if node.op == "^":
            return f"pow({a}, {b})"
        return f"({a} {node.op} {b})"
    raise TypeError(f"unknown formula node {type(node).__name__}")


def cluster_ttest_2samp(df: DataFrame, Y: str, index: str, cluster: str,
                        alternative: str = "two-sided",
                        alpha: float = 0.05,
                        treatment_values: tuple = (0, 1),
                        group_cols: list[str] | None = None) -> DataFrame:
    """Two-sample t-test for CLUSTER-randomized experiments: the variance
    unit is the cluster, not the row (Deng/Lu/Litz-style delta method
    over cluster totals — row-level variance understates SE whenever
    outcomes correlate within clusters).

    Identity that makes this a two-stage composition of existing
    kernels: any formula of row-level means satisfies
    ``avg(e) = Σ_c S_e,c / Σ_c m_e,c = avg_c(S_e)/avg_c(m_e)`` with
    ``m_e`` the per-cluster count of NON-NULL ``e`` rows, so stage 1
    aggregates per-(cluster, arm) totals (ONE shuffle keyed on clusters)
    and stage 2 is the ordinary delta-method :func:`ttest_2samp` on the
    cluster relation with each mean slot rewritten to
    ``avg(S_e)/avg(m_e)`` (rendered from the parsed node tree, so every
    formula sugar — ``mean``, bare identifiers, raw calls — works).
    Cluster counts become n0/n1.  The treatment MUST be constant within
    a cluster (cluster-randomized assignment) and this is ENFORCED: the
    stage-1 aggregation also counts distinct arms per cluster, and any
    cluster seen in both arms raises at execution time (``raise_error``
    wired into the consumed ``__idx`` column — no extra scan or job).
    """
    idx = _col(index)
    nodes, base = parse_formulas([Y])
    ctl, trt = treatment_values
    m = len(base)
    aggs = []
    for j, a in enumerate((ctl, trt)):
        in_arm = idx == F.lit(a)
        for i, e in enumerate(base):
            c = F.expr(e).cast("double")
            aggs.append(F.sum(F.when(in_arm, c)).alias(f"__s{j}_{i}"))
            # per-expression non-null count: NULL metric rows must not
            # count toward the denominator of that expression's mean
            aggs.append(F.count(F.when(in_arm, c)).cast("double")
                        .alias(f"__m{j}_{i}"))
        aggs.append(F.count(F.when(in_arm, F.lit(1))).alias(f"__cnt{j}"))
    aggs.append(F.countDistinct(
        F.when(idx.isin([ctl, trt]), idx)).alias("__arms"))
    keys = [F.expr(cluster).alias("__cl"),
            *[F.col(c) for c in (group_cols or [])]]
    agg = df.groupBy(*keys).agg(*aggs)
    # unpivot the two arm slots back to one row per (cluster, arm); the
    # arm value itself carries the mixed-cluster assertion, so Catalyst
    # cannot prune it away (__idx is always consumed downstream)
    arm_structs = F.array(*[
        F.struct(F.lit(j).alias("j"), F.col(f"__cnt{j}").alias("cnt"),
                 *[F.col(f"__s{j}_{i}").alias(f"s{i}") for i in range(m)],
                 *[F.col(f"__m{j}_{i}").alias(f"m{i}") for i in range(m)])
        for j in (0, 1)])
    arm_lit = F.when(F.col("__a.j") == 0, F.lit(ctl)).otherwise(F.lit(trt))
    guarded_idx = F.when(F.col("__arms") <= 1, arm_lit).otherwise(
        F.raise_error(F.concat(
            F.lit("cluster_ttest_2samp: cluster "),
            F.col("__cl").cast("string"),
            F.lit(" contains rows from both treatment arms — treatment "
                  "must be constant within a cluster "
                  "(cluster-randomized assignment)"))))
    gcols = [F.col(c) for c in (group_cols or [])]
    cl = (agg.select(*gcols, "__cl", "__arms",
                     F.explode(arm_structs).alias("__a"))
          .where(F.col("__a.cnt") > 0)
          .select(*gcols, guarded_idx.alias("__idx"),
                  *[F.col(f"__a.s{i}").alias(f"__s{i}") for i in range(m)],
                  *[F.col(f"__a.m{i}").alias(f"__m{i}")
                    for i in range(m)]))
    y2 = _render_with_slots(nodes[0],
                            lambda i: f"(avg(__s{i})/avg(__m{i}))")
    return ttest_2samp(cl, y2, "__idx", alternative=alternative,
                       alpha=alpha, treatment_values=treatment_values,
                       group_cols=group_cols)


def cupac_ttest_2samp(df: DataFrame, Y: str, index: str,
                      features: list[str], cv: int = 3,
                      fold_expr: str | None = None,
                      alternative: str = "two-sided", alpha: float = 0.05,
                      treatment_values: tuple = (0, 1),
                      group_cols: list[str] | None = None) -> DataFrame:
    """CUPAC: CUPED with a machine-learned covariate (Control Using
    Predictions As Covariates — the standard upgrade when no pre-period
    metric exists or covariates are nonlinear).

    Cross-fitted OLS outcome models predict Y from ``features`` on
    CONTROL rows of the OTHER folds (fitting on control only keeps the
    predictor treatment-free; cross-fitting keeps each row's own outcome
    out of its covariate — the same fold discipline as DML), then the
    prediction column is the CUPED covariate of a standard
    :func:`ttest_2samp`.

    Spark shape: ONE suff-stats aggregation grouped by fold over the
    control arm yields every fold's Gramian; the k-th model is solved on
    the driver from the SUM of the other folds' rows (Gramians are
    additive), so all ``cv`` fits cost one scan — then predictions are a
    fold-dispatched pure Column expression into ONE t-test aggregation.

    ``fold_expr`` (e.g. a user/row id) defines the folds; the default
    hashes the FEATURE columns only (never Y or the treatment index, so
    fold membership stays independent of post-treatment data), which is
    fine for continuous features but a row id is the safe choice.  ``Y`` must be a per-row outcome column/
    expression (not a ratio formula — the predictor needs a row-level
    target).  Rows with a NULL fold key or NULL features get a NULL
    covariate and drop out of the test exactly like any NULL CUPED
    covariate — prefer a non-NULL ``fold_expr``.
    """
    from fast_causal_inference_spark.operators.ols import (
        OlsModel,
        _fit_from_row,
    )

    if cv < 2:
        raise ValueError(
            f"cv must be >= 2 (got {cv}): with one fold there is no "
            f"held-out data to fit the predictor on")
    ctl, trt = treatment_values
    idx = F.col(index) if index.isidentifier() else F.expr(index)
    # Default fold key hashes ONLY the feature columns (+ salt): hashing the
    # whole row would make fold assignment a function of the outcome and the
    # treatment index, breaking the cross-fitting independence argument.
    fold = (F.pmod(F.expr(fold_expr), F.lit(cv)).cast("int")
            if fold_expr is not None
            else F.pmod(F.xxhash64(*[F.expr(c) for c in features],
                                   F.lit(977)), F.lit(cv)).cast("int"))
    work = df.withColumn("__fold", fold) \
             .withColumn("__yraw", F.expr(Y).cast("double"))

    # ONE pass: per-fold control-arm Gramians; complement = sum of others
    base = list(features) + ["__yraw"]
    aggs = suffstat_agg_columns(base)
    rows = (work.where(idx == F.lit(ctl))
            .groupBy("__fold").agg(*aggs).collect())
    by_fold = {int(r["__fold"]): r.asDict() for r in rows
               if r["__fold"] is not None}
    stat_keys = [k for k in (rows[0].asDict() if rows else {})
                 if k != "__fold"]
    models: dict[int, OlsModel] = {}
    for k in range(cv):
        summed = {key: sum(float(by_fold[f][key] or 0.0)
                           for f in by_fold if f != k)
                  for key in stat_keys}
        if summed.get("n", 0.0) < len(features) + 2:
            raise ValueError(
                f"fold {k}: only {int(summed.get('n', 0))} complete "
                f"control rows outside the fold — not enough to fit "
                f"{len(features)} features; check cv/fold_expr (discrete "
                f"features with the default hash folds can empty a "
                f"complement — pass fold_expr with a row id)")
        # complete-case n, matching ols()'s unweighted df_resid contract
        # (only predictions are consumed downstream)
        models[k] = _fit_from_row(summed, list(features), "__yraw", True,
                                  summed["n"], None)

    pred = None
    for k in range(cv):
        c = models[k].predict_column()
        pred = F.when(F.col("__fold") == k, c) if pred is None \
            else pred.when(F.col("__fold") == k, c)
    scored = work.withColumn("__cupac", pred)
    return ttest_2samp(scored, Y, index, alternative=alternative,
                       X="avg(__cupac)", alpha=alpha,
                       treatment_values=treatment_values,
                       group_cols=group_cols)
