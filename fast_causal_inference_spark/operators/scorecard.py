"""Experiment scorecard — N metrics, one scan, adjusted inference.

The readout every experiment platform actually ships: a whole metric
scorecard (means and ratio metrics side by side) tested in ONE
sufficient-statistics pass over the events table, with multiplicity
control applied across the metric family.

Spark plan: all metric formulas are parsed TOGETHER so their component
columns form one shared base; one arm-keyed pass (`suffstats.arm_stats`)
filters the complete-case rows of the two arms and ``groupBy(arm)``
computes the count/sum/cross-product block for the union of components
with plain sums, and every metric's Welch/CUPED t-test is closed-form
driver math on the two arm rows — N metrics cost exactly one scan, like
the reference's ``ttests_2samp`` costs one scan for N alternatives.

The arm key matters at this width: the union of components is often 10+
columns, and the wide one-row form (both arms side by side, every sum
wrapped in a per-arm ``CASE WHEN``) doubles the ~k²/2 aggregates and
evaluates the CASE in each; the arm-keyed pass was 3.5× faster for a
10-component scorecard (SCALE.md).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..formula import parse_formulas
from . import _ttest_core as core
from .multiple_testing import adjust_pvalues
from .suffstats import arm_stats

__all__ = ["experiment_scorecard"]


def experiment_scorecard(df: DataFrame, metrics: dict, index: str,
                         X: str | None = None, alpha: float = 0.05,
                         adjust: str = "bh",
                         treatment_values: tuple = (0, 1)) -> pd.DataFrame:
    """Two-sample readout for a family of metrics in one scan.

    ``metrics`` maps metric name → ratio-metric formula (``"avg(x)"`` or
    ``"avg(num)/avg(den)"`` — the reference's expression grammar).
    ``X`` optionally applies one shared CUPED covariate formula to every
    metric. Returns one row per metric (diff, CI, t/p) plus the
    ``adjust``-corrected p column ('bh', 'holm', 'bonferroni', or None
    to skip). Result columns follow ``ttest_2samp``
    (n0/n1/mean0/mean1/estimate/stderr/t_stat/p_value/lower/upper).
    """
    if not metrics:
        raise ValueError("metrics must be a non-empty dict")
    names = list(metrics)
    exprs = [metrics[n] for n in names]
    x_parts = [p.strip() for p in X.split("+")] if X else []
    nodes, base = parse_formulas(exprs + x_parts)
    ynodes, xnodes = nodes[:len(exprs)], nodes[len(exprs):]

    idx = F.col(index) if index.isidentifier() else F.expr(index)
    v0, v1 = treatment_values
    s0, s1 = arm_stats(df, base, idx, v0, v1)

    rows = []
    for name, ynode in zip(names, ynodes):
        res = core.ttest_2samp_result(s0, s1, ynode, xnodes or None,
                                      "two-sided", alpha)
        rows.append({"metric": name, **res})
    out = pd.DataFrame(rows)
    if adjust:
        out = adjust_pvalues(out, p_col="p_value", method=adjust)
    return out
