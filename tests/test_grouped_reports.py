"""Per-segment drill-down variants (srm_grouped, quantile_test_bucket_grouped)
must equal the solo operator run on each segment's rows."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_srm_grouped_matches_solo(spark, ab_df):
    from fast_causal_inference_spark.operators.srm import srm, srm_grouped

    df = ab_df.withColumn("seg", F.expr("x3 > 1"))
    grouped = srm_grouped(df, "denominator", "treatment", ["seg"],
                          ratio=[1.0, 1.0])
    assert set(grouped.seg.unique()) == {False, True}
    for seg_val in (False, True):
        g = grouped[grouped.seg == seg_val].reset_index(drop=True)
        solo = srm(df.where(F.col("seg") == bool(seg_val)),
                   "denominator", "treatment", ratio=[1.0, 1.0])
        assert list(g.groupname) == list(solo.groupname)
        assert g.observed.to_numpy() == pytest.approx(
            solo.observed.to_numpy())
        assert g.expected.to_numpy() == pytest.approx(
            solo.expected.to_numpy())
        assert g.chisquare.iloc[0] == pytest.approx(solo.chisquare.iloc[0])
        assert g.p_value.iloc[0] == pytest.approx(solo.p_value.iloc[0])

    # a NULL string arm, and a NULL and a NaN double arm: the arms keep
    # srm()'s Spark ascending order (NULL first, NaN after every number)
    # and the ratio aligns to it
    rng = np.random.default_rng(8)
    n = 1200
    k = rng.integers(0, 5, n)
    arms = spark.createDataFrame(pd.DataFrame({
        "seg": rng.integers(0, 2, n), "k": k,
        "x": rng.integers(1, 4, n).astype(float)})).selectExpr(
        "seg", "x",
        "CASE k WHEN 0 THEN NULL WHEN 1 THEN 'b' WHEN 2 THEN 'a' "
        "ELSE 'c' END AS s",
        "CASE k WHEN 0 THEN NULL WHEN 1 THEN CAST('NaN' AS DOUBLE) "
        "WHEN 2 THEN 2.0 WHEN 3 THEN -1.0 ELSE 0.5 END AS d")
    for arm, ratio in (("s", [1.0, 2.0, 3.0, 4.0]),
                       ("d", [1.0, 2.0, 3.0, 4.0, 5.0])):
        grouped = srm_grouped(arms, "x", arm, ["seg"], ratio=ratio)
        for seg_val in (0, 1):
            g = grouped[grouped.seg == seg_val].reset_index(drop=True)
            solo = srm(arms.where(F.col("seg") == seg_val), "x", arm,
                       ratio=ratio)
            pd.testing.assert_frame_equal(g.drop(columns="seg"), solo)


def test_srm_grouped_missing_arm_renormalizes(spark):
    from fast_causal_inference_spark.operators.srm import srm, srm_grouped

    pdf = pd.DataFrame({
        "seg": ["a"] * 6 + ["b"] * 4,
        "t": [0, 1, 2, 0, 1, 2, 0, 1, 0, 1],   # seg b never sees arm 2
        "x": [1.0] * 10,
    })
    df = spark.createDataFrame(pdf)
    grouped = srm_grouped(df, "x", "t", ["seg"], ratio=[1.0, 1.0, 2.0])
    b = grouped[grouped.seg == "b"].reset_index(drop=True)
    solo_b = srm(df.where("seg = 'b'"), "x", "t", ratio=[1.0, 1.0])
    assert list(b.groupname) == [0, 1]
    assert b.chisquare.iloc[0] == pytest.approx(solo_b.chisquare.iloc[0])


def test_srm_grouped_validation(spark, ab_df):
    from fast_causal_inference_spark.operators.srm import srm_grouped

    df = ab_df.withColumn("seg", F.expr("x3 > 1"))
    with pytest.raises(ValueError, match="ratio length"):
        srm_grouped(df, "denominator", "treatment", ["seg"], ratio=[1.0])
    with pytest.raises(ValueError, match="strictly positive"):
        srm_grouped(df, "denominator", "treatment", ["seg"],
                    ratio=[1.0, 0.0])
    with pytest.raises(ValueError, match="NULL/NaN"):
        srm_grouped(df.withColumn(
            "dnull", F.when(F.col("seg"), None).otherwise(
                F.col("denominator"))),
            "dnull", "treatment", ["seg"])


def test_qtb_grouped_matches_solo(spark, ab_df):
    from fast_causal_inference_spark.operators.quantile_test import (
        quantile_test_bucket,
        quantile_test_bucket_grouped,
    )

    df = ab_df.withColumn("seg", F.expr("x3 > 1")) \
              .withColumn("uid", F.monotonically_increasing_id())
    grouped = quantile_test_bucket_grouped(
        df, "y", "treatment", "uid", ["seg"],
        percentiles=(0.25, 0.75), n_bootstrap=200, seed=7)
    assert set(grouped.seg.unique()) == {False, True}
    for seg_val in (False, True):
        g = grouped[grouped.seg == seg_val].drop(columns="seg") \
            .reset_index(drop=True)
        solo = quantile_test_bucket(
            df.where(F.col("seg") == bool(seg_val)), "y", "treatment",
            "uid", percentiles=(0.25, 0.75), n_bootstrap=200, seed=7)
        pd.testing.assert_frame_equal(g, solo, check_exact=False,
                                      rtol=1e-12, atol=1e-12)


def test_qtb_grouped_one_armed_segment_skipped(spark):
    from fast_causal_inference_spark.operators.quantile_test import (
        quantile_test_bucket_grouped,
    )

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "seg": ["a"] * 400 + ["b"] * 200,
        "t": [0, 1] * 200 + [0] * 200,        # seg b is control-only
        "y": rng.normal(0, 1, 600),
        "uid": np.arange(600),
    })
    out = quantile_test_bucket_grouped(
        spark.createDataFrame(pdf), "y", "t", "uid", ["seg"],
        percentiles=(0.5,), n_bootstrap=50)
    assert set(out.seg.unique()) == {"a"}
    with pytest.raises(ValueError, match="no segment has both arms"):
        quantile_test_bucket_grouped(
            spark.createDataFrame(pdf[pdf.seg == "b"]), "y", "t", "uid",
            ["seg"], percentiles=(0.5,), n_bootstrap=50)
