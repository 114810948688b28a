"""Sample-ratio-mismatch (SRM) chi-square test.

Parity target: reference ``srm.h:44-160`` / Python facade
``statistics.py:512-572`` — observed per-group totals of ``x`` vs expected
``ratio`` proportions, Pearson chi-square with df = #groups − 1.

Spark-first: one ``groupBy(group).agg(sum)``; the arm rows are sorted and the
chi-square finalizes on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist


def _arm_keys(groupby: str) -> list:
    """The arm as ``groupname`` plus its NULL flag ``__null``, grouping
    keys for :func:`_in_arm_order` (toPandas turns both a NULL and a NaN
    arm into NaN; the flag tells them apart)."""
    gcol = F.col(groupby) if groupby.isidentifier() else F.expr(groupby)
    return [gcol.alias("groupname"), gcol.isNull().alias("__null")]


def _in_arm_order(obs: pd.DataFrame) -> pd.DataFrame:
    """``obs`` rows sorted by arm on the driver, in the order an ascending
    Spark sort gives (NULL first, NaN after every number), stably, with
    the ``__null`` key dropped: an orderBy before toPandas adds a
    range-partition sampling job and its stage (4 jobs instead of 2)."""
    return (obs.sort_values(["__null", "groupname"], ascending=[False, True],
                            na_position="last", kind="stable")
            .drop(columns="__null")
            .reset_index(drop=True))


def srm(df: DataFrame, x: str, groupby: str,
        ratio: list[float] | None = None) -> pd.DataFrame:
    """Chi-square SRM check. Returns a pandas DataFrame: one row per group
    value (ordered) with observed/expected totals, plus attrs
    ``chisquare``/``p_value`` (also repeated as columns for convenience)."""
    xcol = F.expr(x).cast("double")
    obs = _in_arm_order(df.groupBy(*_arm_keys(groupby))
                        .agg(F.sum(xcol).alias("observed")).toPandas())
    f_obs = obs["observed"].to_numpy(dtype=float)
    kk = len(f_obs)
    if ratio is None:
        ratio = [1.0] * kk
    r = np.asarray(ratio, dtype=float)
    if len(r) != kk:
        raise ValueError(f"ratio length {len(r)} != number of groups {kk}")
    if (r <= 0).any() or r.sum() <= 0:
        raise ValueError(
            f"ratio entries must be strictly positive (got {list(r)}): "
            f"a zero expected count makes the chi-square undefined — "
            f"drop the arm from the test instead")
    if np.isnan(f_obs).any():
        raise ValueError(
            "srm: a group's observed sum is NULL/NaN (all-NULL metric "
            "rows?) — chi-square would be silently NaN")
    f_exp = r / r.sum() * f_obs.sum()
    chi2 = float(((f_obs - f_exp) ** 2 / f_exp).sum())
    p = float(dist.chi2_sf(chi2, kk - 1))
    obs["expected"] = f_exp
    obs["chisquare"] = chi2
    obs["p_value"] = p
    return obs


def srm_spark(df: DataFrame, x: str, groupby: str,
              ratio: list[float] | None = None) -> DataFrame:
    """Spark-DataFrame-returning variant of :func:`srm` (for queries())."""
    spark = df.sparkSession
    pdf = srm(df, x, groupby, ratio)
    return spark.createDataFrame(pdf)


def srm_grouped(df: DataFrame, x: str, groupby: str,
                group_cols: list[str],
                ratio: list[float] | None = None,
                max_groups: int = 100000) -> pd.DataFrame:
    """Per-segment SRM drill-down at segment-count-independent scan cost
    (the glm_grouped shape): ONE ``groupBy(segment, arm)`` sum scan; each
    segment's chi-square finalizes on the driver over the tiny
    (segments × arms) relation and equals :func:`srm` run on that
    segment's rows (pytest-equivalence-tested).

    ``ratio`` aligns to the GLOBAL sorted arm list; a segment missing an
    arm is tested over the arms it has, with the matching ratio entries
    renormalized (exactly what the solo call on the segment would see).
    """
    xcol = F.expr(x).cast("double")
    obs = (df.groupBy(*group_cols, *_arm_keys(groupby))
             .agg(F.sum(xcol).alias("observed"))
             .limit(max_groups + 1)
             .toPandas())
    if len(obs) > max_groups:
        raise ValueError(
            f"more than {max_groups} (segment, arm) cells — the "
            "per-segment reports collect to the driver; coarsen the "
            "grouping or raise max_groups")
    # number the arms in srm()'s order (ratio alignment); every segment
    # then keeps its rows in that order
    obs["__arm"] = obs.groupby(["__null", "groupname"],
                               dropna=False).ngroup()
    obs = _in_arm_order(obs)
    obs["__arm"] = pd.factorize(obs["__arm"])[0]
    n_arms = obs["__arm"].nunique()
    if ratio is not None and len(ratio) != n_arms:
        raise ValueError(
            f"ratio length {len(ratio)} != number of distinct arms "
            f"{n_arms}")
    share = np.ones(n_arms) if ratio is None \
        else np.asarray(ratio, dtype=float)
    if (share <= 0).any():
        raise ValueError(
            f"ratio entries must be strictly positive (got {ratio}): "
            "a zero expected count makes the chi-square undefined — "
            "drop the arm from the test instead")
    frames = []
    # dropna=False: a NULL segment key is a real report cell (pandas'
    # default silently drops it, unlike the Spark groupBy that made it)
    for key, seg in obs.groupby(group_cols, sort=True, dropna=False):
        r = share[seg["__arm"].to_numpy()]
        seg = seg.drop(columns="__arm").reset_index(drop=True)
        f_obs = seg["observed"].to_numpy(dtype=float)
        if np.isnan(f_obs).any():
            raise ValueError(
                f"srm_grouped: segment {key!r} has a NULL/NaN observed "
                "sum (all-NULL metric rows?) — chi-square would be "
                "silently NaN")
        f_exp = r / r.sum() * f_obs.sum()
        chi2 = float(((f_obs - f_exp) ** 2 / f_exp).sum())
        seg["expected"] = f_exp
        seg["chisquare"] = chi2
        seg["p_value"] = float(dist.chi2_sf(chi2, len(f_obs) - 1))
        frames.append(seg)
    return pd.concat(frames, ignore_index=True)
