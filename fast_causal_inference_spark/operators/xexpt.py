"""xexpt_ttest_2samp — experiment-platform report with power/MDE/sample-size.

Parity target: reference ``xexpt_ttest_2samp.h`` (buckets :161-171, power/MDE/
recommend :505-522, output :560-611) and Python facade ``statistics.py:258-509``.

Semantics:

* ``metric_type='avg'`` — delta-method t-test of ``avg(num)/avg(den)`` with
  optional CUPED, plus relative diff/CI, power at a given MDE, the MDE
  reachable at a given power, and a recommended sample size.
* ``metric_type='sum'`` — SUM metrics have no per-user denominator, so users
  are hashed into 128 buckets per arm; each bucket's sums form one observation
  and the same machinery runs at bucket level with the arm's traffic ratio as
  the denominator (``group_buckets``).

Spark-first: the row-scale pass is a plain two-level ``groupBy`` (arm ×
bucket) of native sums — bounded state (128·k doubles per arm), exactly the
pre-bucketing the reference uses to bound UDAF state, and what keeps this a
single shuffle at 100 TB.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.formula import parse_formulas
from fast_causal_inference_spark.operators import _ttest_core as core
from fast_causal_inference_spark.operators.suffstats import (
    arm_cells,
    arm_stats,
    check_distinct_arms,
    keyed_stats,
    row_to_stats,
)

N_BUCKETS = 128


def _probe_treatment_values(df: DataFrame, idx) -> tuple:
    """One distinct scan to discover the two arm values (only the grouped
    drill-down path needs this; the ungrouped paths fold arm discovery into
    their statistics scan). Pass ``treatment_values`` to skip it."""
    vals = [r[0] for r in df.where(idx.isNotNull())
            .select(idx.alias("i")).distinct()
            .orderBy("i").limit(3).collect()]
    if len(vals) != 2:
        # NULL index rows are excluded from arm discovery (and from the
        # arm-conditioned statistics, which test idx == value) — the
        # same convention as the sum path's explicit NULL drop
        raise ValueError(f"index must have exactly 2 non-NULL values, "
                         f"got {vals}")
    return tuple(vals)


def _stats_from_matrix(X: np.ndarray):
    """NumStats of a small driver-side data matrix (rows × k features),
    with exactly the ``row_to_stats`` count/sum/cross-sum finalization."""
    from fast_causal_inference_spark.operators.suffstats import NumStats

    n = float(X.shape[0])
    s = X.sum(axis=0)
    c = X.T @ X
    means = s / n if n > 0 else np.full(X.shape[1], np.nan)
    cov = ((c - np.outer(s, s) / n) / (n - 1.0) if n > 1
           else np.full((X.shape[1], X.shape[1]), np.nan))
    return NumStats(n=n, means=means, cov=cov)


def xexpt_ttest_2samp(df: DataFrame, numerator: str, denominator: str,
                      index: str, uin: str, metric_type: str = "avg",
                      group_buckets: tuple = (1, 1), alpha: float = 0.05,
                      mde: float = 0.005, power: float = 0.8,
                      X: str = "", treatment_values: tuple | None = None,
                      group_cols: list[str] | None = None,
                      max_cells: int = 10_000):
    """Returns a pandas DataFrame with the full experiment report —
    one row per report cell (``group_cols``, reference
    ``df.groupBy('ds').xexpt_ttest_2samp(...)``) or a single row."""
    if metric_type not in ("avg", "sum"):
        raise ValueError("metric_type must be 'avg' or 'sum'")
    if treatment_values is not None:
        check_distinct_arms(*treatment_values)

    idx = F.col(index) if index.isidentifier() else F.expr(index)

    # strip only a LEADING 'X=' tag (reference CLI syntax), then split on
    # top-level '+' — a naive str.split would shred covariates like
    # 'avg(x1+x2)/avg(d)' at the '+' inside the parens
    from fast_causal_inference_spark.operators.ols import _split_top_level

    x_clean = X.strip()
    if x_clean.startswith("X="):
        x_clean = x_clean[2:]
    x_parts = _split_top_level(x_clean) if x_clean else []
    y_formula = f"avg({numerator})/avg({denominator})"
    nodes, base = parse_formulas([y_formula] + x_parts)
    ynode, xnodes = nodes[0], nodes[1:]
    k = len(base)

    if group_cols:
        if treatment_values is None:
            treatment_values = _probe_treatment_values(df, idx)
        v0, v1 = treatment_values
        # drill-down: ONE grouped suff-stats aggregation over all report
        # cells (reference ``groupBy('ds').xexpt_ttest_2samp`` is a single
        # grouped pass, statistics.py:479-480); the tiny per-cell stat rows
        # are finalized on the driver. No per-cell Spark jobs.
        return _xexpt_grouped(
            df, list(group_cols), numerator, denominator, idx, uin,
            metric_type, group_buckets, alpha, mde, power,
            ynode, xnodes, base, k, v0, v1, max_cells)

    if metric_type == "avg":
        if treatment_values is None:
            # arm values come out of the SAME scan that computes the
            # statistics: key the suff-stats by the index value instead
            # of probing distinct values first (saves one full pass)
            grows = (keyed_stats(df, base, idx)
                     .orderBy("__key").limit(3).collect())
            if len(grows) != 2:
                vals = [r["__key"] for r in grows]
                raise ValueError(
                    f"index must have exactly 2 non-NULL values with "
                    f"complete metric rows, got {vals}")
            v0, v1 = grows[0]["__key"], grows[1]["__key"]
            s0 = row_to_stats(grows[0], k)
            s1 = row_to_stats(grows[1], k)
        else:
            v0, v1 = treatment_values
            s0, s1 = arm_stats(df, base, idx, v0, v1)
            # fail loudly on a typo'd arm value — an empty arm's NaN
            # stats would otherwise flow into an all-NaN report row
            # (the sum path and the discovery path both raise already)
            if not (s0.n > 0 and s1.n > 0):
                raise ValueError(
                    f"xexpt needs rows in both arms; counts: "
                    f"{v0!r}={s0.n if s0.n == s0.n else 0:.0f}, "
                    f"{v1!r}={s1.n if s1.n == s1.n else 0:.0f}")
    else:
        # stage 1: index-value × hash-bucket sums of every base column
        # (native agg). The tiny bucket relation (≤ values × 128 rows) is
        # collected ONCE — arm discovery, the both-arms guard, and stage 2
        # all read the collected rows, so the data is scanned exactly once
        # (previously the arm probe and the stage-2 agg each recomputed it).
        ucol = F.col(uin) if uin.isidentifier() else F.expr(uin)
        bucket = F.pmod(F.xxhash64(ucol), F.lit(N_BUCKETS))
        sums = [F.sum(F.expr(e).cast("double")).alias(f"b{i}")
                for i, e in enumerate(base)]
        pre = df if treatment_values is None else \
            df.where(idx.isin(list(treatment_values)))
        # limit bounds the collect if the index is accidentally
        # high-cardinality (16 arms' worth of buckets + 1): a 2-arm index
        # always fits, and anything that hits the cap fails the 2-value
        # check below instead of OOMing the driver
        cap = 16 * N_BUCKETS + 1
        brows = (pre.groupBy(idx.alias("__i"), bucket.alias("bucket"))
                 .agg(*sums).limit(cap).collect())
        vals = sorted({r["__i"] for r in brows if r["__i"] is not None})
        if treatment_values is None:
            if len(vals) != 2:
                raise ValueError(
                    f"index must have exactly 2 values, got "
                    f"{vals if len(vals) < 8 else f'{len(vals)}+ values'}")
            treatment_values = tuple(vals)
        v0, v1 = treatment_values
        present = {r["__i"] for r in brows} & {v0, v1}
        if present != {v0, v1}:
            raise ValueError(
                f"sum-metric xexpt needs rows in both arms; "
                f"present arms: {sorted(present, key=str)}")
        # the reference's bucket semantics are FIXED 128 buckets per arm:
        # sparse arms contribute zero observations for empty buckets, else
        # mean = avg(bucket sums)/(ratio/128) inflates — the zero-filled
        # 128-row matrix per arm IS the grid fill.
        den_i = base.index(denominator.strip()) if denominator.strip() in base else 1
        r_arm = {v0: float(group_buckets[0]) / N_BUCKETS,
                 v1: float(group_buckets[1]) / N_BUCKETS}
        mats = {v: np.zeros((N_BUCKETS, k)) for v in (v0, v1)}
        for r in brows:
            m = mats.get(r["__i"])
            if m is None:
                continue
            for i in range(k):
                m[int(r["bucket"]), i] = float(r[f"b{i}"] or 0.0)
        for v, m in mats.items():
            m[:, den_i] = r_arm[v]
        s0 = _stats_from_matrix(mats[v0])
        s1 = _stats_from_matrix(mats[v1])

    import pandas as pd

    return pd.DataFrame([_report_from_stats(
        s0, s1, ynode, xnodes, base, numerator, denominator, metric_type,
        group_buckets, alpha, mde, power, v0, v1)])


def _report_from_stats(s0, s1, ynode, xnodes, base, numerator, denominator,
                       metric_type, group_buckets, alpha, mde, power,
                       v0, v1) -> dict:
    """Finalize one report cell from its two arms' sufficient statistics —
    pure driver math shared by the single and grouped paths."""
    # delta-method means/vars (+CUPED pooled θ)
    if xnodes:
        from fast_causal_inference_spark.operators.suffstats import merge_stats

        pooled = merge_stats(s0, s1)
        theta = core.cuped_theta(pooled, ynode, xnodes)
        mean0, var0 = core.arm_mean_var(s0, ynode, xnodes, pooled, theta)
        mean1, var1 = core.arm_mean_var(s1, ynode, xnodes, pooled, theta)
    else:
        mean0, var0 = core.arm_mean_var(s0, ynode, None)
        mean1, var1 = core.arm_mean_var(s1, ynode, None)

    num_i = base.index(numerator.strip()) if numerator.strip() in base else 0
    den_i2 = base.index(denominator.strip()) if denominator.strip() in base else 1
    if metric_type == "avg":
        num_sums = (s0.means[num_i] * s0.n, s1.means[num_i] * s1.n)
        den_disp = (s0.means[den_i2] * s0.n, s1.means[den_i2] * s1.n)
    else:
        num_sums = (s0.means[num_i] * s0.n, s1.means[num_i] * s1.n)
        den_disp = (float(group_buckets[0]), float(group_buckets[1]))

    estimate = mean1 - mean0
    # rounding-level negative delta-method variances are routine with a
    # (near-)collinear CUPED covariate — same guard as std_samp below
    # and _ttest_core (a raw sqrt crashed the whole report)
    vsum = var0 + var1
    stderr = math.sqrt(vsum) if vsum >= 0 else float("nan")
    t_stat = estimate / stderr if stderr > 0 else float("nan")
    p_value = core.p_value(t_stat, "two-sided")
    count = s0.n + s1.n
    lower, upper = core.confidence_interval(estimate, stderr, count, alpha,
                                            "two-sided")
    diff_relative = estimate / mean0 if mean0 else float("nan")
    lower_rel = lower / mean0 if mean0 else float("nan")
    upper_rel = upper / mean0 if mean0 else float("nan")

    # per-arm per-denominator-unit std (reference std_samp)
    std_samp0 = math.sqrt(max(var0, 0.0) * max(den_disp[0], 0.0)) \
        if metric_type == "sum" \
        else (math.sqrt(max(var0 * s0.n, 0.0))
              * math.sqrt(max(den_disp[0], 0.0)) / math.sqrt(s0.n))
    std_samp1 = math.sqrt(max(var1, 0.0) * max(den_disp[1], 0.0)) \
        if metric_type == "sum" \
        else (math.sqrt(max(var1 * s1.n, 0.0))
              * math.sqrt(max(den_disp[1], 0.0)) / math.sqrt(s1.n))

    # power / MDE / recommended samples (reference xexpt_ttest_2samp.h:505-522)
    z_a2 = float(dist.norm_ppf(1 - alpha / 2))
    z_a2_lo = float(dist.norm_ppf(alpha / 2))
    shift = abs(mean0 * mde) / stderr if stderr > 0 else float("nan")
    power_at_mde = float(1 - dist.norm_cdf(z_a2 - shift)
                         + dist.norm_cdf(z_a2_lo - shift))
    mde_at_power = ((z_a2 + float(dist.norm_ppf(power))) * stderr / mean0
                    if mean0 else float("nan"))
    std_ratio = std_samp0 / std_samp1 if std_samp1 > 0 else float("nan")
    cnt_ratio = den_disp[0] / den_disp[1] if den_disp[1] else float("nan")
    alpha_power = z_a2 - float(dist.norm_ppf(1 - power))
    recommend = ((std_ratio ** 2 + cnt_ratio) / cnt_ratio) * alpha_power ** 2 \
        * (std_samp1 / mean0) ** 2 / mde ** 2 if mean0 and cnt_ratio \
        else float("nan")

    return {
        "groupname0": v0, "groupname1": v1,
        "numerator0": num_sums[0], "numerator1": num_sums[1],
        ("denominator0" if metric_type == "avg" else "ratio0"): den_disp[0],
        ("denominator1" if metric_type == "avg" else "ratio1"): den_disp[1],
        "mean0": mean0, "mean1": mean1,
        "std_samp0": std_samp0, "std_samp1": std_samp1,
        "diff": estimate, "diff_relative": diff_relative,
        "lower": lower, "upper": upper,
        "lower_relative": lower_rel, "upper_relative": upper_rel,
        "p_value": p_value, "t_stat": t_stat,
        "power": power_at_mde,
        "recommend_samples": float(np.floor(recommend + 0.5))
        if math.isfinite(recommend) else float("nan"),
        "mde": mde_at_power,
    }


def _xexpt_grouped(df: DataFrame, group_cols: list[str], numerator: str,
                   denominator: str, idx, uin: str, metric_type: str,
                   group_buckets: tuple, alpha: float, mde: float,
                   power: float, ynode, xnodes, base: list[str], k: int,
                   v0, v1, max_cells: int = 10_000):
    """Drill-down report — ONE aggregation pass for ALL cells.

    avg: the grouped t-test's pass keyed by (group_cols…, arm)
    (:func:`suffstats.arm_cells`; at most two rows per cell, so
    ``2·max_cells + 1`` collected rows bound the fetch).  sum: ``groupBy(
    *group_cols, arm, bucket)`` bucket sums, then a tiny second aggregation
    to per-(cell, arm) stats.  Missing buckets need no grid zero-fill: a
    zero bucket adds nothing to any sum or cross-sum, the forced n=128
    restores the count, and the per-bucket denominator is the CONSTANT arm
    traffic share, so its variance/covariances are exactly zero.  Driver
    work is O(#cells); Spark jobs: one per aggregation, never per cell.
    """
    import pandas as pd

    from fast_causal_inference_spark.operators.suffstats import NumStats

    # O(k²)-wide stat rows come to the driver — at most two per cell.  A
    # high-cardinality group key (a user-level column passed by mistake)
    # must raise, not silently materialize millions of rows; LIMIT n+1
    # bounds the fetch itself, so the guard costs nothing extra.
    cap = 2 * max_cells + 1          # rows: one per (cell, arm)

    def _check(n_cells: float) -> None:
        if n_cells > max_cells:
            raise ValueError(
                f"group_cols {group_cols} produce more than {max_cells} "
                f"report cells; pass a coarser drill-down key or raise "
                f"max_cells")

    if metric_type == "avg":
        _, cells = arm_cells(df, base, idx, v0, v1, group_cols, limit=cap)
        _check(len(cells))
        return pd.DataFrame([
            {**dict(zip(group_cols, cell)),
             **_report_from_stats(s0, s1, ynode, xnodes or None, base,
                                  numerator, denominator, metric_type,
                                  group_buckets, alpha, mde, power, v0, v1)}
            for cell, (s0, s1) in cells.items()])

    # sum metric
    ucol = F.col(uin) if uin.isidentifier() else F.expr(uin)
    bucket = F.pmod(F.xxhash64(ucol), F.lit(N_BUCKETS))
    arm = F.when(idx == F.lit(v0), 0).when(idx == F.lit(v1), 1)
    sums = [F.sum(F.expr(e).cast("double")).alias(f"b{i}")
            for i, e in enumerate(base)]
    b = (df.where(arm.isNotNull())
           .groupBy(*group_cols, arm.alias("arm"), bucket.alias("bucket"))
           .agg(*sums))
    den_i = base.index(denominator.strip()) if denominator.strip() in base else 1
    others = [i for i in range(k) if i != den_i]
    aggs2 = []
    for i in others:
        aggs2.append(F.sum(F.col(f"b{i}")).alias(f"s{i}"))
    for ai, i in enumerate(others):
        for j in others[ai:]:
            aggs2.append(F.sum(F.col(f"b{i}") * F.col(f"b{j}"))
                         .alias(f"c{i}_{j}"))
    per_arm = (b.groupBy(*group_cols, "arm").agg(*aggs2)
               .limit(cap).toPandas())
    _check(len(per_arm) / 2)

    ratios = (float(group_buckets[0]) / N_BUCKETS,
              float(group_buckets[1]) / N_BUCKETS)

    def _arm_stats(cell: pd.DataFrame, a: int) -> NumStats:
        r = ratios[a]
        means = np.zeros(k)
        cov = np.zeros((k, k))
        means[den_i] = r
        sub = cell[cell["arm"] == a]
        if len(sub):
            row = sub.iloc[0]
            for i in others:
                means[i] = float(row[f"s{i}"]) / N_BUCKETS
            for ai, i in enumerate(others):
                for j in others[ai:]:
                    cij = (float(row[f"c{i}_{j}"])
                           - float(row[f"s{i}"]) * float(row[f"s{j}"])
                           / N_BUCKETS) / (N_BUCKETS - 1.0)
                    cov[i, j] = cov[j, i] = cij
        return NumStats(n=float(N_BUCKETS), means=means, cov=cov)

    rows = []
    for key, cell in per_arm.groupby(group_cols, dropna=False, sort=False):
        key = key if isinstance(key, tuple) else (key,)
        arms_present = set(cell["arm"])
        if arms_present == {0, 1}:
            rep = _report_from_stats(
                _arm_stats(cell, 0), _arm_stats(cell, 1), ynode,
                xnodes or None, base, numerator, denominator, metric_type,
                group_buckets, alpha, mde, power, v0, v1)
        else:
            # single-arm cell: a fabricated zero-variance zero-mean arm
            # would report a confidently 'significant' artifact (the
            # ungrouped path raises here) — emit a NaN row instead
            nan = float("nan")
            rep = {"groupname0": v0, "groupname1": v1,
                   **{c: nan for c in
                      ("numerator0", "numerator1", "ratio0", "ratio1",
                       "mean0", "mean1", "std_samp0", "std_samp1", "diff",
                       "diff_relative", "lower", "upper", "lower_relative",
                       "upper_relative", "p_value", "t_stat", "power",
                       "recommend_samples", "mde")}}
        rows.append({**dict(zip(group_cols, key)), **rep})
    return pd.DataFrame(rows)


def xexpt_ttest_2samp_spark(df: DataFrame, *args, **kwargs) -> DataFrame:
    """Spark-DataFrame wrapper for the correctness gate."""
    skip = {"groupname0", "groupname1", *(kwargs.get("group_cols") or [])}
    pdf = xexpt_ttest_2samp(df, *args, **kwargs)
    return df.sparkSession.createDataFrame(
        pdf.astype({c: float for c in pdf.columns if c not in skip}))
