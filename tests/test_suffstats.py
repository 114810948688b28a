"""Arm-keyed two-arm kernel: bit-identity with the wide conditional row,
and clear errors on degenerate arm specs."""

import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fast_causal_inference_spark.operators.suffstats import (
    arm_stats,
    row_to_stats,
    suffstat_agg_columns,
)


def _wide_reference(df, base, idx, v0, v1, weight=None):
    """The conditional one-row form the ungrouped readouts used before
    the arm-keyed kernel: both arms as ``g0_``/``g1_`` CASE-guarded sums."""
    row = df.agg(*(suffstat_agg_columns(base, "g0_", idx == F.lit(v0), weight)
                   + suffstat_agg_columns(base, "g1_", idx == F.lit(v1),
                                          weight))).collect()[0]
    k = len(base)
    return row_to_stats(row, k, "g0_"), row_to_stats(row, k, "g1_")


def _bits(s) -> np.ndarray:
    return np.concatenate([[s.n], s.means, s.cov.ravel()]).view(np.uint64)


_vals = st.one_of(st.none(), st.floats(-1e3, 1e3, allow_nan=False,
                                        width=64))


@st.composite
def _frames(draw):
    k = draw(st.integers(1, 3))
    n = draw(st.integers(0, 40))
    arms = draw(st.lists(st.sampled_from([0, 1, 2, None]),
                         min_size=n, max_size=n))
    if draw(st.booleans()):               # drop arm 1 entirely
        arms = [0 if a == 1 else a for a in arms]
    cols = {f"x{i}": draw(st.lists(_vals, min_size=n, max_size=n))
            for i in range(k)}
    weights = draw(st.lists(st.floats(0.0, 5.0, width=64),
                            min_size=n, max_size=n))
    return {"k": k, "arms": arms, "cols": cols, "weights": weights,
            "str_idx": draw(st.booleans()),
            "weighted": draw(st.booleans()),
            "parts": draw(st.sampled_from([1, 8])),
            "parquet": draw(st.booleans())}


# Order assumption: the arm-keyed kernel filters the incomplete rows with a
# ``where`` and Catalyst pushes that filter down the input's plan.  When the
# input is a round-robin ``repartition`` of a derived column, the pushed
# filter runs BELOW the repartition, so rows land in other partitions and
# the float partials are regrouped: low bits can then differ from the wide
# form.  That is an order-sensitive input (ROADMAP item 1(c)), not a bug;
# the frames here are parquet scans or cached relations, whose partition
# contents are fixed, and on them the two forms add the same values in the
# same order.
@settings(max_examples=12, deadline=None)
@given(spec=_frames())
def test_arm_stats_bit_identical_to_wide_form(spark, spec):
    k = spec["k"]
    names = ["a", "b", "c"] if spec["str_idx"] else [0, 1, 2]
    idx_vals = [None if a is None else names[a] for a in spec["arms"]]
    pdf = pd.DataFrame({"idx": pd.Series(idx_vals, dtype=object),
                        **{c: pd.Series(v, dtype=object)
                           for c, v in spec["cols"].items()},
                        "w": spec["weights"]})
    schema = T.StructType(
        [T.StructField("idx", T.StringType() if spec["str_idx"]
                       else T.IntegerType())]
        + [T.StructField(f"x{i}", T.DoubleType()) for i in range(k)]
        + [T.StructField("w", T.DoubleType())])
    src = spark.createDataFrame(pdf, schema).repartition(spec["parts"])
    tmp = tempfile.mkdtemp(prefix="fcis-armstats-")
    try:
        if spec["parquet"]:
            src.write.parquet(f"{tmp}/t")
            df = spark.read.parquet(f"{tmp}/t")
        else:
            df = src.cache()
        base = [f"x{i}" for i in range(k)]
        weight = F.col("w") if spec["weighted"] else None
        v0, v1 = names[0], names[1]
        got = arm_stats(df, base, F.col("idx"), v0, v1, weight)
        want = _wide_reference(df, base, F.col("idx"), v0, v1, weight)
        for g, w in zip(got, want):
            assert (_bits(g) == _bits(w)).all(), (g, w)
    finally:
        src.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


def test_arm_stats_missing_arm_is_all_nan(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": [0, 0, 0],
                                             "x": [1.0, 2.0, 4.0]}))
    s0, s1 = arm_stats(df, ["x"], F.col("t"), 0, 1)
    assert s0.n == 3.0 and s0.means[0] == 7.0 / 3.0
    assert np.isnan(s1.n) and np.isnan(s1.means).all()
    assert np.isnan(s1.cov).all()


def _degenerate_calls():
    from fast_causal_inference_spark.operators.resample import permutation
    from fast_causal_inference_spark.operators.scorecard import (
        experiment_scorecard,
    )
    from fast_causal_inference_spark.operators.ttest import (
        edgeworth_components,
        ttest_2samp,
        ttests_2samp,
    )
    from fast_causal_inference_spark.operators.xexpt import (
        xexpt_ttest_2samp,
    )

    tv = {"treatment_values": (1, 1)}
    return {
        "experiment_scorecard": lambda df: experiment_scorecard(
            df, {"m": "avg(numerator)"}, "treatment", **tv),
        "ttest_2samp": lambda df: ttest_2samp(
            df, "avg(numerator)", "treatment", **tv),
        "ttest_2samp_grouped": lambda df: ttest_2samp(
            df, "avg(numerator)", "treatment", group_cols=["g"], **tv),
        "ttests_2samp": lambda df: ttests_2samp(
            df, "avg(numerator)", "treatment", **tv),
        "edgeworth_components": lambda df: edgeworth_components(
            df, "avg(numerator)", "treatment", **tv),
        "xexpt_ttest_2samp": lambda df: xexpt_ttest_2samp(
            df, "numerator", "denominator", "treatment", "uin", **tv),
        "xexpt_ttest_2samp_sum": lambda df: xexpt_ttest_2samp(
            df, "numerator", "denominator", "treatment", "uin",
            metric_type="sum", **tv),
        "permutation": lambda df: permutation(
            df, "avg(numerator)", "treatment", permutation_num=5, **tv),
    }


@pytest.mark.parametrize("entry", sorted(_degenerate_calls()))
def test_same_arm_twice_raises(ab_df, entry):
    """treatment_values (v, v) used to count the same rows into both arms
    and report estimate 0, p = 1; it now fails before any Spark job."""
    df = ab_df.withColumn("g", F.lit(1)).withColumn("uin", F.lit(7))
    with pytest.raises(ValueError, match="two different arms"):
        _degenerate_calls()[entry](df)
