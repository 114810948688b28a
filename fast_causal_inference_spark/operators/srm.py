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


def srm(df: DataFrame, x: str, groupby: str,
        ratio: list[float] | None = None) -> pd.DataFrame:
    """Chi-square SRM check. Returns a pandas DataFrame: one row per group
    value (ordered) with observed/expected totals, plus attrs
    ``chisquare``/``p_value`` (also repeated as columns for convenience)."""
    xcol = F.expr(x).cast("double")
    gcol = F.col(groupby) if groupby.isidentifier() else F.expr(groupby)
    # the k arm rows are sorted on the driver, in the order an ascending
    # Spark sort gives (NULL first, NaN after every number): an orderBy
    # before toPandas adds a range-partition sampling job and its stage
    # (4 jobs instead of 2).  The NULL flag rides along as a grouping
    # key, since toPandas turns both NULL and NaN into NaN.
    obs = (df.groupBy(gcol.alias("groupname"), gcol.isNull().alias("__null"))
             .agg(F.sum(xcol).alias("observed"))
             .toPandas()
             .sort_values(["__null", "groupname"], ascending=[False, True],
                          na_position="last", kind="stable")
             .drop(columns="__null")
             .reset_index(drop=True))
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
    gcol = F.col(groupby) if groupby.isidentifier() else F.expr(groupby)
    obs = (df.groupBy(*group_cols, gcol.alias("groupname"))
             .agg(F.sum(xcol).alias("observed"))
             .limit(max_groups + 1)
             .toPandas())
    if len(obs) > max_groups:
        raise ValueError(
            f"more than {max_groups} (segment, arm) cells — the "
            "per-segment reports collect to the driver; coarsen the "
            "grouping or raise max_groups")
    # natural order, matching srm()'s ascending arm order (ratio alignment)
    arms = sorted(obs["groupname"].unique().tolist())
    if ratio is not None and len(ratio) != len(arms):
        raise ValueError(
            f"ratio length {len(ratio)} != number of distinct arms "
            f"{len(arms)}")
    share = dict(zip(arms, [1.0] * len(arms) if ratio is None else ratio))
    if any(v <= 0 for v in share.values()):
        raise ValueError(
            f"ratio entries must be strictly positive (got {ratio}): "
            "a zero expected count makes the chi-square undefined — "
            "drop the arm from the test instead")
    frames = []
    # dropna=False: a NULL segment key is a real report cell (pandas'
    # default silently drops it, unlike the Spark groupBy that made it)
    for key, seg in obs.groupby(group_cols, sort=True, dropna=False):
        seg = seg.sort_values("groupname").reset_index(drop=True)
        f_obs = seg["observed"].to_numpy(dtype=float)
        if np.isnan(f_obs).any():
            raise ValueError(
                f"srm_grouped: segment {key!r} has a NULL/NaN observed "
                "sum (all-NULL metric rows?) — chi-square would be "
                "silently NaN")
        r = np.array([share[g] for g in seg["groupname"]], dtype=float)
        f_exp = r / r.sum() * f_obs.sum()
        chi2 = float(((f_obs - f_exp) ** 2 / f_exp).sum())
        seg["expected"] = f_exp
        seg["chisquare"] = chi2
        seg["p_value"] = float(dist.chi2_sf(chi2, len(f_obs) - 1))
        frames.append(seg)
    return pd.concat(frames, ignore_index=True)
