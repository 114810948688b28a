"""Regression tests for the round-1 ADVICE.md findings.

1. non_param_dml intercept-only sandwich SE uses w² in the numerator.
2. suffstat_agg_columns skips NULL rows entirely (count too).
3. xexpt sum-metric zero-fills empty hash buckets (fixed 128-bucket
   semantics).
4. row_to_stats coerces NULL aggregates to NaN instead of raising.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.suffstats import (
    row_to_stats,
    suffstat_agg_columns,
)


def test_suffstats_null_rows_excluded_from_count(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, None, 3.0], "z": [1.0, 1.0, 1.0, 1.0]})
    df = spark.createDataFrame(pdf)
    row = df.agg(*suffstat_agg_columns(["x"])).collect()[0]
    s = row_to_stats(row, 1)
    assert s.n == 3.0
    assert s.means[0] == pytest.approx(2.0)


def test_suffstats_null_guard_composes_with_cond(spark):
    pdf = pd.DataFrame({"x": [1.0, None, 5.0, 7.0],
                        "g": [0, 0, 1, 1]})
    df = spark.createDataFrame(pdf)
    row = df.agg(*suffstat_agg_columns(["x"], "a_", F.col("g") == 0)).collect()[0]
    s = row_to_stats(row, 1, "a_")
    assert s.n == 1.0
    assert s.means[0] == pytest.approx(1.0)


def test_row_to_stats_empty_arm_yields_nan(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0], "g": [0, 0]})
    df = spark.createDataFrame(pdf)
    # arm g == 1 is empty: conditional sums are NULL
    row = df.agg(*suffstat_agg_columns(["x"], "e_", F.col("g") == 1)).collect()[0]
    s = row_to_stats(row, 1, "e_")
    assert np.isnan(s.n)
    assert np.isnan(s.means[0])
    assert np.isnan(s.cov[0, 0])


def test_non_param_dml_sandwich_se(spark):
    # DGP with constant effect; check the intercept-only SE against a direct
    # numpy computation of the same sandwich on the residualized columns.
    rng = np.random.default_rng(7)
    n = 3000
    x = rng.normal(0, 1, n)
    t = 0.5 * x + rng.normal(0, 1, n)
    y = 2.0 * t + 1.0 * x + rng.normal(0, 1, n)
    df = spark.createDataFrame(pd.DataFrame({"y": y, "t": t, "x": x}))

    from fast_causal_inference_spark.operators.dml import non_param_dml

    res = non_param_dml(df, "y", "t", ["x"], cv=2, seed=1)
    assert res.ate == pytest.approx(2.0, abs=0.15)
    # sandwich invariant: se ≈ sqrt(Σ w²(r-θ)²)/Σw with w=t̃², r=ỹ/t̃ —
    # equivalently sqrt(Σ t̃²(ỹ-θt̃)²)/Σt̃². For this n the SE is ~1/sqrt(n)
    # scale; the old (wrong) numerator Σ(ỹ-θt̃)² gives a value larger by
    # ~1/E[t̃²]>1.5× here. Bound from both sides.
    assert 0.005 < res.stderr[0] < 0.06


def test_xexpt_sum_zero_fills_sparse_buckets(spark):
    # tiny uin domain -> most of the 128 buckets empty; mean must equal
    # sum(num)/ (ratio) regardless of sparsity.
    rng = np.random.default_rng(3)
    n = 400
    pdf = pd.DataFrame({
        "uin": rng.integers(0, 5, n),     # ≤5 distinct buckets occupied
        "t": rng.integers(0, 2, n),
        "num": rng.normal(10, 2, n),
        "den": np.ones(n),
    })
    df = spark.createDataFrame(pdf)

    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    out = xexpt_ttest_2samp(df, "num", "den", "t", "uin", metric_type="sum",
                            group_buckets=(1, 1), treatment_values=(0, 1))
    m0 = pdf.loc[pdf.t == 0, "num"].sum()
    m1 = pdf.loc[pdf.t == 1, "num"].sum()
    # mean per arm = avg over ALL 128 buckets / (ratio/128) = total sum / ratio
    assert out["mean0"].iloc[0] == pytest.approx(m0, rel=1e-9)
    assert out["mean1"].iloc[0] == pytest.approx(m1, rel=1e-9)


def test_review_fixes_round2(spark):
    """Round-2 code-review regressions."""
    import pandas as pd
    from pyspark.sql import functions as F

    # 1. connected_components on an empty pair relation -> empty, no crash
    from fast_causal_inference_spark.datapipe.dedup import (
        connected_components,
        dedup_clusters,
    )

    empty_pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1], "id_b": [1]}))   # self-loop only
    assert connected_components(empty_pairs).count() == 0
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2],
                                               "text": ["a", "b"]}))
    assert dedup_clusters(docs, empty_pairs).count() == 2

    # 2. forest rejects non-divisible ci groups at fit time
    from fast_causal_inference_spark.uplift.causal_forest import CausalForest

    with pytest.raises(ValueError, match="multiple of"):
        CausalForest(["x"], num_trees=5, ci_group_size=2).fit(docs)

    # 6. one-hot cap not defeated by NULLs
    from fast_causal_inference_spark.functions.features import one_hot_encode

    withnull = spark.createDataFrame(pd.DataFrame(
        {"c": [None] + [str(i) for i in range(11)]}))
    with pytest.raises(ValueError, match="max_categories"):
        one_hot_encode(withnull, ["c"], max_categories=10)

    # 7. sum-metric xexpt raises on a missing arm instead of mean=0
    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    one_arm = spark.createDataFrame(pd.DataFrame(
        {"uin": range(50), "t": [0] * 50, "num": [1.0] * 50,
         "den": [1.0] * 50}))
    with pytest.raises(ValueError, match="both arms"):
        xexpt_ttest_2samp(one_arm, "num", "den", "t", "uin",
                          metric_type="sum", treatment_values=(0, 1))


def test_review_fixes_macros_and_grouped(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.plans.sql_macros import sql

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "num": rng.normal(5, 1, 400), "den": np.ones(400),
        "np_": rng.normal(5, 1, 400), "dp_": np.ones(400),
        "treatment": rng.integers(0, 2, 400),
        "uid": np.arange(400)})
    spark.createDataFrame(pdf).createOrReplaceTempView("xmacro")
    # 3. X kwarg reaches the operator (CUPED in All-in-SQL)
    out = sql(spark, "SELECT xexpt_ttest_2samp('num', 'den', treatment, "
                     "uid, X='avg(np_)/avg(dp_)') FROM xmacro")
    assert out.count() == 1

    # 4. ivf_knn works with non-long query ids
    from fast_causal_inference_spark.datapipe.similarity import ivf_knn

    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": [f"d{i}" for i in range(120)],
        "embedding": [list(rng.normal(0, 1, 8)) for _ in range(120)]}))
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("query_vec"))
    out = ivf_knn(emb, q, k=3, n_lists=4, n_probe=4, sample_per_list=20)
    assert out.count() == 6


def test_xexpt_grouped_sum_single_arm_cell_is_nan(spark, ab_df):
    """A drill-down cell with traffic in only one arm must report NaN, not
    a fabricated zero-mean arm with zero variance (round-3 review)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    # seg 1 only has control rows
    df = ab_df.withColumn("seg", (F.col("x3") > 1).cast("int")) \
              .withColumn("uin", F.monotonically_increasing_id()) \
              .where((F.col("seg") == 0) | (F.col("treatment") == 0))
    rep = xexpt_ttest_2samp(df, "numerator", "denominator", "treatment",
                            "uin", metric_type="sum", group_buckets=(1, 1),
                            group_cols=["seg"], treatment_values=(0, 1))
    row = rep[rep.seg == 1].iloc[0]
    assert np.isnan(row["diff"]) and np.isnan(row["t_stat"])
    ok = rep[rep.seg == 0].iloc[0]
    assert np.isfinite(ok["diff"])


def test_permutation_nan_observed_gives_nan_p(spark, ab_df):
    """Observed ratio metric undefined (zero denominator in one observed
    arm) must yield p_value NaN, not p=0 (round-3 review)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.resample import permutation

    # den == treatment: the observed control arm sums to zero (NaN metric),
    # while permuted replicas mix rows so their arms have nonzero sums
    df = ab_df.withColumn("den", F.col("treatment").cast("double") + 0.0)
    out = permutation(df, "avg(numerator)/avg(den)", "treatment",
                      permutation_num=10, seed=3)
    assert np.isnan(out.observed_diff[0])
    assert np.isnan(out.p_value[0])
    assert out.n_permutations[0] > 0


def test_image_features_exact_length_mixed_formats(spark):
    """Real-decode and codec-fallback rows must share one vector width."""
    import numpy as np

    from fast_causal_inference_spark.datapipe.multimodal import (
        encode_bmp,
        image_features,
    )

    bmp = encode_bmp(np.full((4, 6, 3), 9, np.uint8))
    d = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(b"\x89PNG fake"))],
        "doc_id int, payload binary")
    out = image_features(d, n_features=32, strict=False).toPandas()
    assert all(len(v) == 32 for v in out.features)


def test_ks_exact_requires_tie_free(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.kstest import (
        kolmogorov_smirnov_test,
    )

    tied = spark.createDataFrame(
        pd.DataFrame({"v": [1.0, 1.0, 2.0, 2.0, 3.0, 3.0] * 5,
                      "g": [0, 1] * 15}))
    # round-4 ADVICE: exact on tied data degrades to asymptotic with a
    # RuntimeWarning (scipy-style) instead of raising after the D pass
    with pytest.warns(RuntimeWarning, match="tie"):
        exact = kolmogorov_smirnov_test(tied, "v", "g", mode="exact")
    asymp = kolmogorov_smirnov_test(tied, "v", "g", mode="asymp")
    assert exact.p_value[0] == pytest.approx(asymp.p_value[0])
    # auto on tied data falls back to asymptotic instead of lattice exact
    res = kolmogorov_smirnov_test(tied, "v", "g", mode="auto")
    assert 0.0 <= res.p_value[0] <= 1.0
