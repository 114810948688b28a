"""SRM chi-square: one aggregate, arms in Spark's ascending order."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.srm import srm


@pytest.fixture(scope="module")
def arms_df(spark):
    """Arm keys of three types, each with a NULL arm; the double key also
    has a NaN arm and ±inf, the string key non-ASCII and upper case."""
    rng = np.random.default_rng(3)
    n = 3000
    g = rng.integers(0, 4, n)
    pdf = pd.DataFrame({"x": rng.integers(1, 5, n).astype(float), "g": g,
                        "s": np.array(["b", "a", "é", "Z"])[g],
                        "d": np.array([0.5, -np.inf, 2.0, np.inf])[g]})
    return (spark.createDataFrame(pdf)
            .withColumn("g", F.expr("IF(x = 4, NULL, g)"))
            .withColumn("s", F.expr("IF(x = 4, NULL, s)"))
            .withColumn("d", F.expr("CASE WHEN x = 4 THEN NULL "
                                    "WHEN x = 3 THEN CAST('NaN' AS DOUBLE) "
                                    "ELSE d END"))
            .cache())


def _ordered(df, arm):
    """The former path: sort the per-arm sums with orderBy in Spark."""
    return (df.groupBy(F.col(arm).alias("groupname"))
            .agg(F.sum(F.col("x").cast("double")).alias("observed"))
            .orderBy("groupname").toPandas())


@pytest.mark.parametrize("arm", ["g", "s", "d"])
def test_srm_two_jobs_and_spark_arm_order(spark, arms_df, arm):
    """Two jobs (the aggregate's shuffle and result stages, no sort
    sampling job) and the same rows, arm order and chi-square as the
    orderBy path, NULL arm first and NaN after every number."""
    arms_df.count()
    want = _ordered(arms_df, arm)
    ratio = list(range(1, len(want) + 1))   # order-sensitive expectation
    sc = spark.sparkContext
    group = f"srm_jobs_{arm}"
    sc.setJobGroup(group, "")
    try:
        got = srm(arms_df, "x", arm, ratio=ratio)
    finally:
        sc.setJobGroup("default", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    pd.testing.assert_frame_equal(got[["groupname", "observed"]], want)
    f_obs = want["observed"].to_numpy()
    f_exp = np.asarray(ratio) / sum(ratio) * f_obs.sum()
    chi2 = float(((f_obs - f_exp) ** 2 / f_exp).sum())
    assert (got["chisquare"] == chi2).all()
    assert (got["p_value"] == float(dist.chi2_sf(chi2, len(f_obs) - 1))).all()
    if arm == "d":
        names = got["groupname"].tolist()
        assert names[1:4] == [-np.inf, 0.5, 2.0] and np.isnan(names[-1])
