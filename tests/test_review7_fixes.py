"""Regression tests for the round-7 review pass over uplift/temporal/
text/quality (each test pins a fixed defect)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_tokens_strip_all_whitespace(spark):
    """Leading tab/newline must not produce an empty first token; the
    whitespace-normalized fingerprint must be jitter-stable."""
    from fast_causal_inference_spark.datapipe.text import (
        fingerprint,
        token_count,
        tokens,
    )

    df = spark.createDataFrame(pd.DataFrame(
        {"text": ["hello world", "\thello world", "hello world\n",
                  "  hello   world  "]}))
    got = df.select(tokens("text").alias("tk"),
                    token_count("text").alias("n"),
                    fingerprint("text", method="md5").alias("fp")).collect()
    for r in got:
        assert r["tk"] == ["hello", "world"], r
        assert r["n"] == 2
        assert r["fp"] == got[0]["fp"]


def test_chunk_documents_tab_prefix(spark):
    from fast_causal_inference_spark.datapipe.text import chunk_documents

    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["\ta b c d e f"]}))
    out = chunk_documents(df, chunk_tokens=3, overlap=0).collect()
    assert [r["chunk_text"] for r in out] == ["a b c", "d e f"]


def test_asof_join_forward_null_ts(spark):
    """A NULL-timestamp left row must match NOTHING in either direction
    (forward's desc ordering used to fabricate a match to the earliest
    right row)."""
    from fast_causal_inference_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100.0, "a"), (1, None, "b")],
        "k int, ts double, lv string")
    right = spark.createDataFrame(
        [(1, 50.0, "r1"), (1, 150.0, "r2")],
        "k int, ts double, rv string")
    for direction in ("backward", "forward"):
        out = asof_join(left, right, on="k", left_ts="ts",
                        direction=direction).toPandas()
        nullrow = out[out.lv == "b"].iloc[0]
        assert pd.isna(nullrow["rv_right"]), direction


def test_dup_line_frac_crlf(spark):
    """CRLF documents: blank lines must stay blank (no '\\r' phantom
    content) so Windows formatting is not flagged as repetition."""
    from fast_causal_inference_spark.datapipe.quality import dup_line_frac

    df = spark.createDataFrame(pd.DataFrame(
        {"text": ["a\r\n\r\n\r\nb", "a\n\n\nb", "x\r\ny\r\nx\r\nz"]}))
    got = [r[0] for r in df.select(dup_line_frac("text")).collect()]
    assert got[0] == got[1] == 0.0
    assert got[2] == pytest.approx(0.25)      # one real duplicate line


def test_normalize_url_query_value_slash(spark):
    from fast_causal_inference_spark.datapipe.quality import normalize_url

    df = spark.createDataFrame(pd.DataFrame(
        {"url": ["http://h/p?q=a/?b", "http://h/p/?q=1", "http://h/p/"]}))
    got = [r[0] for r in df.select(normalize_url("url")).collect()]
    assert got[0] == "http://h/p?q=a/?b"       # query value untouched
    assert got[1] == "http://h/p?q=1"          # path trailing slash folded
    assert got[2] == "http://h/p"


def test_registered_domain_trailing_dot(spark):
    from fast_causal_inference_spark.datapipe.quality import (
        registered_domain,
    )

    df = spark.createDataFrame(pd.DataFrame(
        {"url": ["https://example.com./x", "https://example.com/x",
                 "https://a.bbc.co.uk./y"]}))
    got = [r[0] for r in df.select(registered_domain("url")).collect()]
    assert got[0] == got[1] == "example.com"
    assert got[2] == "bbc.co.uk"


def test_url_dedup_keep_validation(spark):
    from fast_causal_inference_spark.datapipe.quality import url_dedup

    df = spark.createDataFrame(pd.DataFrame(
        {"url": ["http://a/x", "http://a/x/"], "doc_id": [2, 1]}))
    with pytest.raises(ValueError, match="keep"):
        url_dedup(df, keep="first")
    assert url_dedup(df, keep="max").collect()[0]["doc_id"] == 2


def test_lift_gain_rejects_non_binary_treatment(spark):
    from fast_causal_inference_spark.uplift.evaluation import get_lift_gain

    pdf = pd.DataFrame({
        "ite": np.linspace(0, 1, 40), "y": np.ones(40),
        "t": [0.0, 1.0] * 19 + [None, 2.0]})
    with pytest.raises(ValueError, match="binary"):
        get_lift_gain(spark.createDataFrame(pdf), "ite", "y", "t", k=4)


def test_qini_row_level_threshold_defractured(spark):
    """A pre-existing row-varying 'threshold' column must not fracture
    the per-bucket grouping of the Qini curve."""
    from fast_causal_inference_spark.uplift.roi import estimate_qini

    rng = np.random.default_rng(3)
    n = 400
    pdf = pd.DataFrame({
        "bucket": np.repeat([1.0, 2.0, 3.0, 4.0], n // 4),
        "target": rng.normal(1, 0.2, n),
        "treatment": np.tile([0, 1], n // 2),
        "threshold": rng.uniform(0, 1, n)})    # row-level junk
    df = spark.createDataFrame(pdf)
    out = estimate_qini(df, bucket_colname="bucket",
                        target_colname="target")
    real = out[out.bucket.notna()]
    assert len(real) == 4                      # one row per bucket
    assert real["count"].max() == n            # cumulative count reaches n


def test_sampling_draw_defaults_within_group(spark):
    """Default draw keys must vary per row: hashing only the domain (or
    weight) column kept/dropped whole groups wholesale."""
    import pandas as pd

    from fast_causal_inference_spark.datapipe.training import (
        domain_mixture_sample,
        quality_weighted_sample,
    )

    pdf = pd.DataFrame({"domain": ["web"] * 400 + ["book"] * 400,
                        "doc_id": range(800), "q": [2.0] * 800})
    df = spark.createDataFrame(pdf)
    mix = domain_mixture_sample(
        df, "domain", target_weights={"web": 1.0, "book": 1.0},
        total_rows=400).groupBy("domain").count().collect()
    got = {r["domain"]: r["count"] for r in mix}
    # each domain individually halved (not all-or-nothing)
    assert 100 < got.get("web", 0) < 300
    assert 100 < got.get("book", 0) < 300
    qw = quality_weighted_sample(df, "q", fraction=0.5).count()
    assert 250 < qw < 550                      # constant weight: ~half


def test_domain_mixture_null_domain_kept(spark):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.training import (
        domain_mixture_sample,
    )

    pdf = pd.DataFrame({"domain": ["web"] * 200 + [None] * 200,
                        "doc_id": range(400)})
    out = domain_mixture_sample(
        spark.createDataFrame(pdf), "domain",
        target_weights={"web": 0.5, None: 0.5}, total_rows=400,
        id_cols=["doc_id"])
    got = {r["domain"]: r["count"]
           for r in out.groupBy("domain").count().collect()}
    assert got.get(None, 0) > 100              # NULL mass not dropped


def test_sql_macro_wls_and_booleans(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.ols import wls
    from fast_causal_inference_spark.plans.sql_macros import sql

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"y": rng.normal(0, 1, 500),
                        "x1": rng.normal(0, 1, 500),
                        "w": rng.uniform(0.5, 2, 500),
                        "city": [f"c{i % 9}" for i in range(500)]})
    spark.createDataFrame(pdf).createOrReplaceTempView("mt")
    df = spark.table("mt")
    ref = wls(df, "y ~ x1", weight="w")
    for q in ("SELECT wls('y~x1', w) FROM mt",
              "SELECT wls(y, x1, w) FROM mt",
              "SELECT wls('y~x1', weight=w) FROM mt"):
        m = sql(spark, q)
        np.testing.assert_allclose(m.beta, ref.beta, rtol=1e-12), q
    # boolean kwarg: use_bias=false must actually drop the intercept
    m = sql(spark, "SELECT ols('y~x1', use_bias=false) FROM mt")
    assert len(m.beta) == 1
    # paren-aware GROUP BY expression keys
    out = sql(spark, "SELECT avg_metric('avg(y)') FROM mt "
                     "GROUP BY substr(city, 1, 2)")
    assert out.count() == 9


def test_sql_macro_cutbins_labels(spark):
    import pandas as pd

    from fast_causal_inference_spark.plans.sql_macros import sql

    spark.createDataFrame(pd.DataFrame({"x": [5.0, 15.0]})) \
        .createOrReplaceTempView("cb")
    out = sql(spark, 'SELECT cutbins(x, \'[0, 10, 20]\', '
                     '\'["low", "high"]\') FROM cb')
    assert sorted(r["x_bin"] for r in out.collect()) == ["high", "low"]


def test_gamma_udfs_poles_do_not_crash(spark):
    import pandas as pd

    from fast_causal_inference_spark.functions import lgamma, tgamma

    df = spark.createDataFrame(pd.DataFrame(
        {"v": [0.0, -1.0, -2.5, 200.0, 3.0, float("nan")]}))
    got = df.select(lgamma("v").alias("lg"), tgamma("v").alias("tg")) \
        .collect()
    lg = [r["lg"] for r in got]
    tg = [r["tg"] for r in got]
    assert lg[0] == float("inf") and lg[1] == float("inf")
    assert tg[0] == float("inf")               # pole at 0
    # negative integer -> NaN (Arrow maps NaN to NULL on the way back)
    assert tg[1] is None or tg[1] != tg[1]
    assert tg[3] == float("inf")               # overflow -> inf
    assert lg[4] == pytest.approx(np.log(2.0))
    assert tg[4] == pytest.approx(2.0)


def test_winsorize_preserves_nan(spark):
    import pandas as pd

    from fast_causal_inference_spark.functions.features import (
        cut_bins,
        winsorize,
    )

    pdf = pd.DataFrame({"m": [1.0, 2.0, 3.0, 100.0, float("nan")]})
    out = winsorize(spark.createDataFrame(pdf), "m",
                    lower=0.0, upper=0.75).toPandas()
    assert out["m"].isna().iloc[-1]            # NaN stays NaN, not p75
    with pytest.raises(ValueError, match="bin edges"):
        cut_bins("m", [5.0])


def test_load_table_ns_exact_div(spark, tmp_path):
    """Timestamp restore uses integer ns div 1000: the old float /1000
    path casts the ns long to double (ulp 256 ns at 2^60) and could
    land 1 microsecond off the exact truncation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fast_causal_inference_spark.sources.tables import load_table

    ns = 2**60 + 999                           # float(ns)/1000 rounds UP
    assert int(float(ns) / 1000) != ns // 1000
    tbl = pa.table({"ts": pa.array([ns, 10**18 + 1], pa.timestamp("ns")),
                    "v": pa.array([1.0, 2.0])})
    d = tmp_path / "events.parquet"
    pq.write_table(tbl, str(d))
    ev = load_table(spark, str(tmp_path), "events")
    got = sorted(r[0] for r in ev.select(F.unix_micros("ts")).collect())
    assert got == sorted([ns // 1000, (10**18 + 1) // 1000])


def test_facade_jdbc_aliases_not_shadowed(spark):
    """toClickHouse/toStarRocks keep their JDBC-url dispatch (a class-
    body alias to toOlap had shadowed them)."""
    import fast_causal_inference_spark as fcis

    cdf = fcis.readSparkDf(spark.range(3))
    assert cdf.toClickHouse.__func__ is not cdf.toOlap.__func__
    assert cdf.toStarRocks.__func__ is not cdf.toOlap.__func__
    import inspect

    assert "url" in inspect.getsource(cdf.toClickHouse.__func__)


def test_facade_pickle_deepcopy_no_recursion(spark):
    import copy
    import pickle

    import fast_causal_inference_spark as fcis

    cdf = fcis.readSparkDf(spark.range(3))
    # deepcopy/pickle probe dunders on a fresh instance; __getattr__
    # must raise AttributeError for them instead of recursing on _df
    with pytest.raises(Exception) as exc:
        pickle.dumps(cdf)                      # sessions don't pickle,
    assert not isinstance(exc.value, RecursionError)   # but no recursion
    c2 = copy.copy(cdf)
    assert c2.count() == 3


def test_facade_groupby_column_and_rewrap(spark):
    import pandas as pd

    import fast_causal_inference_spark as fcis

    df = spark.createDataFrame(pd.DataFrame(
        {"g": [0, 0, 1, 1], "y": [1.0, 2.0, 3.0, 4.0]}))
    cdf = fcis.readSparkDf(df)
    out = cdf.groupBy(F.col("g")).agg(F.avg("y").alias("m"))
    # Column arg resolves to its planned name AND agg re-wraps
    assert type(out).__name__ == "CausalDataFrame"
    assert {r["g"]: r["m"] for r in out.toSparkDf().collect()} == \
        {0: 1.5, 1: 3.5}


def test_testresult_literal_keys_win(spark):
    from fast_causal_inference_spark.result import TestResult

    r = TestResult({"statistic": 3.0, "pvalue": 0.01})
    assert r["statistic"] == 3.0 and r.statistic == 3.0
    assert dict(r) == {"statistic": 3.0, "pvalue": 0.01}
    # aliases still work when the literal key is absent
    r2 = TestResult({"t_stat": 2.0, "p_value": 0.05})
    assert r2["statistic"] == 2.0 and r2.pvalue == 0.05


def test_simulated_trial_features_independent(spark):
    """Consecutive randn seeds shared partition-shifted value streams;
    wide spacing makes adjacent features actually independent."""
    import fast_causal_inference_spark.utility as U

    pdf = (U.simulate_randomized_trial(spark, n=20000, p=5, seed=42)
           .select("feature_1", "feature_2").toPandas())
    corr = pdf.corr().iloc[0, 1]
    assert abs(corr) < 0.05
    # no shifted-stream duplication: f2 values are not a permutation
    # of f1 values (sorted arrays differ)
    a = np.sort(pdf.feature_1.to_numpy())
    b = np.sort(pdf.feature_2.to_numpy())
    assert not np.allclose(a, b)


def test_hist_data_explicit_range_and_empty(spark):
    import pandas as pd

    import fast_causal_inference_spark.utility as U

    df = spark.createDataFrame(pd.DataFrame(
        {"x": [1.0, 5.0, 9.0, 10.0, 1000.0, None]}))
    h = U.hist_data(df, "x", bins=10, lo=0.0, hi=10.0)
    assert h["count"].sum() == 4               # 1000.0 dropped, not top-binned
    assert h.loc[h.bin == 10, "count"].iloc[0] == 2   # 9.0 and the hi edge
    empty = U.hist_data(df.where("x > 1e6"), "x", bins=5)
    assert len(empty) == 0                     # no TypeError on empty


def test_tocsv_header_override(spark, tmp_path):
    import fast_causal_inference_spark as fcis

    cdf = fcis.readSparkDf(spark.range(3))
    cdf.toCsv(str(tmp_path / "out"), header=False)   # must not TypeError
    got = spark.read.csv(str(tmp_path / "out")).count()
    assert got == 3


def test_formula_unary_minus_precedence(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.deltamethod import (
        avg_metric,
    )

    df = spark.createDataFrame(pd.DataFrame({"x": [3.0, 3.0]}))
    got = avg_metric(df, "-avg(x)^2 ").collect()[0]["metric"]
    assert got == -9.0                         # -(x^2), and trailing space ok
    got2 = avg_metric(df, "avg(x)/2").collect()[0]["metric"]
    assert got2 == 1.5                         # Const / try_divide path


def test_merge_stats_single_row_arm():
    from fast_causal_inference_spark.operators.suffstats import (
        NumStats,
        merge_stats,
    )

    a = NumStats(n=1.0, means=np.array([2.0, 4.0]),
                 cov=np.full((2, 2), np.nan))
    vals = np.array([[1.0, 2.0], [3.0, 6.0], [5.0, 10.0]])
    b = NumStats(n=3.0, means=vals.mean(0), cov=np.cov(vals.T, ddof=1))
    m = merge_stats(a, b)
    all_vals = np.vstack([[[2.0, 4.0]], vals])
    np.testing.assert_allclose(m.means, all_vals.mean(0))
    np.testing.assert_allclose(m.cov, np.cov(all_vals.T, ddof=1))


def test_t_ppf_extreme_quantiles():
    from fast_causal_inference_spark.stats_distributions import t_ppf

    # df=1 (Cauchy): ppf(p) = tan(pi*(p - 0.5)) exactly
    import math

    for p in (1e-6, 1e-4, 0.9999):
        want = math.tan(math.pi * (p - 0.5))
        assert t_ppf(p, 1.0) == pytest.approx(want, rel=1e-5), p


def test_transformed_outcome_trim_validation(spark):
    import pandas as pd

    from fast_causal_inference_spark.uplift.metalearners import (
        TransformedOutcome,
    )

    df = spark.createDataFrame(pd.DataFrame(
        {"y": [1.0, 2.0], "t": [0, 1], "x": [0.1, 0.9]}))
    with pytest.raises(ValueError, match="trim"):
        TransformedOutcome(outcome="y", treatment="t",
                           features=["x"], trim=0.7).fit(df)
    with pytest.raises(ValueError, match="propensity"):
        TransformedOutcome(outcome="y", treatment="t", features=["x"],
                           propensity=1.0).fit(df)


def test_qte_null_y_buckets_and_bootstrap(spark):
    """NULL-Y rows are excluded from the bootstrap bucket pass; all-NULL
    buckets no longer crash the numpy step."""
    import pandas as pd

    from fast_causal_inference_spark.operators.quantile_test import (
        quantile_treatment_effect,
    )

    rng = np.random.default_rng(9)
    n = 2000
    pdf = pd.DataFrame({
        "y": np.where(rng.uniform(size=n) < 0.4, np.nan,
                      rng.normal(10, 2, n)),
        "t": np.tile([0, 1], n // 2),
        "uid": np.arange(n)})
    out = quantile_treatment_effect(
        spark.createDataFrame(pdf), "y", "t", quantiles=[0.5],
        n_bootstrap=50, uin="uid")
    assert np.isfinite(out["stderr"]).all()
    assert np.isfinite(out["qte"]).all()


def test_qtb_sign_flip_and_zero_control(spark):
    """Opposite-sign quantiles keep ordered CIs; zero control quantile
    yields NaN relative stats but finite absolute ones."""
    import pandas as pd

    from fast_causal_inference_spark.operators.quantile_test import (
        quantile_test_bucket,
    )

    rng = np.random.default_rng(4)
    n = 4000
    pdf = pd.DataFrame({
        "y": np.where(np.tile([0, 1], n // 2) == 0,
                      rng.normal(-5, 1, n), rng.normal(5, 1, n)),
        "t": np.tile([0, 1], n // 2), "uid": np.arange(n)})
    out = quantile_test_bucket(spark.createDataFrame(pdf), "y", "t",
                               uin="uid", percentiles=[0.5])
    row = out[out.treatment == 1].iloc[0]
    assert row["rela_diff_lower"] <= row["rela_diff_qtb"] \
        <= row["rela_diff_upper"]
    assert row["abs_diff_lower"] <= row["abs_diff"] <= row["abs_diff_upper"]
    assert 0.0 <= row["test_power"] <= 1.0


def test_pearsonr_complete_pair_n(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.matrix import pearsonr

    rng = np.random.default_rng(6)
    n = 1000
    x = rng.normal(0, 1, n)
    y = 0.5 * x + rng.normal(0, 1, n)
    y[100:] = np.nan                          # only 100 complete pairs
    out = pearsonr(spark.createDataFrame(
        pd.DataFrame({"x": x, "y": y})), "x", "y")
    assert out["n"].iloc[0] == 100            # not 1000
    # t computed on the complete-pair df
    r = out["r"].iloc[0]
    want_t = r * np.sqrt((100 - 2) / (1 - r * r))
    assert out["t_stat"].iloc[0] == pytest.approx(want_t)


def test_matrix_multiplication_complete_case(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.matrix import (
        matrix_multiplication,
    )

    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0],
                        "y": [1.0, None, 3.0, None]})
    m = matrix_multiplication(spark.createDataFrame(pdf), "x", "y")
    # only the two complete rows (1,1) and (3,3) participate EVERYWHERE
    np.testing.assert_allclose(m, [[10.0, 10.0], [10.0, 10.0]])
    with pytest.raises(ValueError, match="complete"):
        matrix_multiplication(
            spark.createDataFrame(pdf).where("y IS NULL AND x IS NULL"),
            "x", "y")


def test_kstest_mode_guards(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.kstest import (
        kolmogorov_smirnov_test,
    )

    pdf = pd.DataFrame({"v": np.arange(6000, dtype=float),
                        "t": np.tile([0, 1], 3000)})
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="mode"):
        kolmogorov_smirnov_test(df, "v", "t", mode="exat")
    with pytest.raises(ValueError, match="4e6"):
        kolmogorov_smirnov_test(df, "v", "t", mode="exact")


def test_srm_guards(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.srm import srm

    df = spark.createDataFrame(pd.DataFrame(
        {"x": [1.0] * 10, "g": ["a", "b"] * 5}))
    with pytest.raises(ValueError, match="positive"):
        srm(df, "x", "g", ratio=[1.0, 0.0])


def test_salted_join_salt_validation(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.skew import (
        salted_join,
        top_k_per_key,
    )

    fact = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "a": [1, 2]}))
    dim = spark.createDataFrame(pd.DataFrame({"k": [1], "b": [9]}))
    with pytest.raises(ValueError, match="salt"):
        salted_join(fact, dim, on="k", salt=0)
    with pytest.raises(ValueError, match="salt"):
        top_k_per_key(fact, "k", "a", k=1, salt=0)


def test_xexpt_guards(spark):
    import pandas as pd

    from fast_causal_inference_spark.operators.xexpt import (
        xexpt_ttest_2samp,
    )

    rng = np.random.default_rng(12)
    n = 400
    x = rng.normal(10, 2, n)
    pdf = pd.DataFrame({"x": x, "y": 2 * x + 3,     # exactly collinear
                        "t": np.tile([0, 1], n // 2),
                        "uid": np.arange(n)})
    df = spark.createDataFrame(pdf)
    # CUPED covariate collinear with the metric: variance is a
    # rounding-level negative — must yield NaN stderr, not crash
    out = xexpt_ttest_2samp(df, "y", "1", "t", uin="uid", X="avg(x)")
    assert len(out) == 1                       # one report row, no crash
    with pytest.raises(ValueError, match="both arms"):
        xexpt_ttest_2samp(df, "y", "1", "t", uin="uid",
                          treatment_values=(0, 99))


def test_mediaprobe_corrupt_headers(spark):
    import struct

    from fast_causal_inference_spark.datapipe.mediaprobe import (
        probe_payload,
    )

    # PNG claiming width 2^32-1: int32 field NULLed, not wrapped/crashed
    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + struct.pack(">II", 0xFFFFFFFF, 5) + b"\x08\x02" + b"\x00" * 20)
    r = probe_payload(png)
    assert r["container"] == "png" and r["width"] is None and r["height"] == 5
    # PPM with an absurd dimension literal: clamped to NULL
    r2 = probe_payload(b"P6\n99999999999999999999999 5\n255\n" + b"\x00" * 32)
    assert r2["container"] == "ppm" and r2["width"] is None
    # PPM with a header comment: dims parsed like decode_ppm does
    r3 = probe_payload(b"P6\n# a comment\n3 2\n255\n" + b"\x00" * 18)
    assert (r3["width"], r3["height"]) == (3, 2)
    # JPEG with a fill byte before SOF0 still yields dimensions
    jpg = (b"\xff\xd8" + b"\xff\xff"            # fill byte then marker
           + b"\xc0" + struct.pack(">H", 11) + b"\x08"
           + struct.pack(">HH", 7, 9) + b"\x01" + b"\x00" * 10)
    # note: after the fill-byte skip, pos points at 0xFF 0xC0
    r4 = probe_payload(jpg)
    assert r4["container"] == "jpeg" and (r4["width"], r4["height"]) == (9, 7)


def test_decode_wav_zero_rate_rejected():
    import io
    import struct
    import wave

    from fast_causal_inference_spark.datapipe.multimodal import decode_wav

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    payload = bytearray(buf.getvalue())
    # zero the framerate field in the fmt chunk (offset 24, <I)
    payload[24:28] = struct.pack("<I", 0)
    with pytest.raises(ValueError, match="sample rate"):
        decode_wav(bytes(payload))
