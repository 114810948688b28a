"""Jobs an operator starts on a pool or warm-up thread count toward the
caller's Spark job group (``session.in_job_group``): every job that runs
between two marker jobs belongs to the group the call was made under."""
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from fast_causal_inference_spark.datapipe.lm import train_bigram_lm
from fast_causal_inference_spark.operators.conformal import conformal_fit
from fast_causal_inference_spark.operators.csdid import callaway_santanna
from fast_causal_inference_spark.operators.estimators import aipw_estimator
from fast_causal_inference_spark.uplift.causal_forest import CausalForest


def _frame(spark, n=400, seed=5):
    rng = np.random.default_rng(seed)
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    t = rng.integers(0, 2, n)
    y = 1.0 + 0.5 * x1 - 0.3 * x2 + 0.8 * t + rng.normal(0, 1, n)
    return spark.createDataFrame(pd.DataFrame(
        {"x1": x1, "x2": x2, "t": t, "y": y}))


def _panel(spark):
    rows = [(u, t, 4 + u % 3 if u < 6 else None, float(u + t + (u < 6) * t))
            for u in range(12) for t in range(8)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "t", "a", "y"]).assign(
            a=lambda d: d.a.astype("float")))


CALLS = {
    "entry_concurrent": lambda s: entry._concurrent(
        [lambda: s.range(10).count(), lambda: s.range(20).count()]),
    "aipw": lambda s: aipw_estimator(_frame(s), "y", "t", ["x1", "x2"]),
    "csdid": lambda s: callaway_santanna(_panel(s), "y", "u", "t", "a"),
    "conformal": lambda s: conformal_fit(_frame(s), "y", "t", ["x1", "x2"]),
    "forest": lambda s: CausalForest(["x1", "x2"], "y", "t", num_trees=2,
                                     max_depth=2, min_node_size=20,
                                     seed=7).fit(_frame(s)),
    "bigram_lm": lambda s: train_bigram_lm(s.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id long, text string")),
}


@pytest.mark.parametrize("name", list(CALLS))
def test_threaded_jobs_join_the_callers_group(spark, name):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group):
        sc.setJobGroup(group, "")
        spark.range(1).collect()
        return tracker.getJobIdsForGroup(group)

    group = f"threads_{name}"
    try:
        before = max(marker(f"{group}_before"))
        sc.setJobGroup(group, "")
        CALLS[name](spark)
        after = min(marker(f"{group}_after"))
    finally:
        sc.setJobGroup("default", "")
    ran = set(range(before + 1, after))
    assert ran, name
    assert set(tracker.getJobIdsForGroup(group)) == ran
