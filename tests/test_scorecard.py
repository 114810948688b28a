"""Experiment scorecard: one scan for a metric family + adjustment."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.scorecard import (
    experiment_scorecard,
)
from fast_causal_inference_spark.operators.ttest import ttest_2samp


@pytest.fixture(scope="module")
def exp_df(spark):
    return (spark.range(20000)
            .withColumn("arm", (F.col("id") % 2).cast("int"))
            .withColumn("num", F.pmod(F.xxhash64("id", F.lit(1)),
                                      F.lit(100)).cast("double")
                        + 3.0 * F.col("arm"))
            .withColumn("den", F.pmod(F.xxhash64("id", F.lit(2)),
                                      F.lit(9)).cast("double") + 1.0)
            .withColumn("conv", (F.pmod(F.xxhash64("id", F.lit(3)),
                                        F.lit(100)) < 20).cast("double")))


def test_scorecard_matches_individual_ttests(exp_df):
    sc = experiment_scorecard(
        exp_df, {"value": "avg(num)", "ratio": "avg(num)/avg(den)",
                 "conversion": "avg(conv)"}, "arm")
    assert list(sc["metric"]) == ["value", "ratio", "conversion"]
    for name, formula in [("value", "avg(num)"),
                          ("ratio", "avg(num)/avg(den)"),
                          ("conversion", "avg(conv)")]:
        single = ttest_2samp(exp_df, formula, "arm").toPandas().iloc[0]
        row = sc[sc.metric == name].iloc[0]
        assert np.isclose(row["estimate"], single["estimate"],
                          rtol=1e-12)
        assert np.isclose(row["p_value"], single["p_value"], rtol=1e-9)
    # BH column present and >= raw p
    assert (sc["p_value_bh"].to_numpy()
            >= sc["p_value"].to_numpy() - 1e-15).all()


# the benchmark's scorecard shape: 10 metrics over 10 components
TEN_METRICS = {**{f"m{j}": f"avg(num * {j + 1})" for j in range(8)},
               "sessions": "avg(den)", "per_session": "avg(num)/avg(den)"}


def test_scorecard_is_one_job(exp_df, spark):
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    sc = experiment_scorecard(exp_df, TEN_METRICS, "arm", adjust=None)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert len(sc) == 10
    # one aggregation job for all ten metrics (AQE may add a tiny
    # follow-up stage-materialization job; never one per metric)
    assert after - before <= 2, (before, after)


def test_scorecard_cuped_and_validation(exp_df):
    sc = experiment_scorecard(exp_df, {"m": "avg(num)"}, "arm",
                              X="avg(den)")
    assert len(sc) == 1 and np.isfinite(sc.iloc[0]["p_value"])
    with pytest.raises(ValueError):
        experiment_scorecard(exp_df, {}, "arm")
