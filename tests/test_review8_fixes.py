"""Round-8 adversarial review regression tests (utility / dataframe /
sql_macros edges)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import fast_causal_inference_spark.utility as U


def test_hist_data_nan_excluded(spark):
    """Genuine NaN values (Spark sorts them ABOVE every number) must not
    poison the auto-computed range — they are unbinnable, like NULL."""
    df = spark.sql("SELECT x FROM VALUES (1.0),(2.0),(3.0),"
                   "(cast('NaN' as double)) t(x)")
    h = U.hist_data(df, "x", bins=4)
    assert h["count"].sum() == 3                  # NaN row dropped
    assert np.isfinite(h.left.to_numpy()).all()
    assert h.right.iloc[-1] == 3.0


def test_grouped_data_no_getattr_recursion(spark, ab_df):
    """copy.deepcopy / pickle probe dunders on CausalGroupedData; without
    the private-name guard those probes recursed through self._cdf."""
    from fast_causal_inference_spark.dataframe import CausalDataFrame

    g = CausalDataFrame(ab_df).groupBy("treatment")
    # probes must raise AttributeError (pre-fix: RecursionError); the
    # deepcopy itself still fails on the non-copyable JVM handle, which
    # is Spark's own contract, not the facade's
    with pytest.raises(AttributeError):
        g.__deepcopy__
    with pytest.raises(AttributeError):
        object.__getattribute__(g, "__getattr__")("_missing")
    # grouped verbs still work after the guard
    out = g.agg(F.count(F.lit(1)).alias("n"))
    assert out.df.count() == 2


def test_composite_macro_null_group_key(spark, ab_df):
    """NULL group keys must survive the macro join-back (plain equi-join
    NULL != NULL dropped the whole NULL group silently)."""
    from fast_causal_inference_spark.plans.sql_macros import sql

    ab_df.withColumn(
        "seg", F.when(F.col("x3") > 1, F.lit("hi")).otherwise(F.lit(None))
    ).createOrReplaceTempView("ab_nullseg")
    out = sql(spark, "SELECT seg, count(*) AS n, deltamethod("
                     "'avg(numerator)/avg(denominator)') AS std "
                     "FROM ab_nullseg GROUP BY seg").toPandas()
    assert len(out) == 2                       # 'hi' AND the NULL segment
    assert out["n"].sum() == 4000
    assert out["std"].notna().all()


def test_srm_grouped_null_segment(spark, ab_df):
    from fast_causal_inference_spark.operators.srm import srm, srm_grouped

    df = ab_df.withColumn(
        "seg", F.when(F.col("x3") > 1, F.lit("hi")).otherwise(F.lit(None)))
    g = srm_grouped(df, "denominator", "treatment", ["seg"])
    segs = set(g.seg.unique().tolist())
    assert "hi" in segs and any(pd.isna(s) for s in segs)
    null_rows = g[g.seg.isna()].reset_index(drop=True)
    solo = srm(df.where("seg IS NULL"), "denominator", "treatment")
    assert null_rows.chisquare.iloc[0] == pytest.approx(
        solo.chisquare.iloc[0])


def test_qtb_grouped_null_segment_key(spark, ab_df):
    from fast_causal_inference_spark.operators.quantile_test import (
        quantile_test_bucket,
        quantile_test_bucket_grouped,
    )

    df = (ab_df.withColumn(
        "seg", F.when(F.col("x3") > 1, F.lit("hi")).otherwise(F.lit(None)))
        .withColumn("uid", F.monotonically_increasing_id()))
    out = quantile_test_bucket_grouped(
        df, "y", "treatment", "uid", ["seg"], percentiles=(0.5,),
        n_bootstrap=50, seed=3)
    assert set(map(str, out.seg.unique())) == {"hi", "None"}
    null_part = out[out.seg.isna()].drop(columns="seg") \
        .reset_index(drop=True)
    solo = quantile_test_bucket(
        df.where("seg IS NULL"), "y", "treatment", "uid",
        percentiles=(0.5,), n_bootstrap=50, seed=3)
    pd.testing.assert_frame_equal(null_part, solo, check_exact=False,
                                  rtol=1e-12, atol=1e-12)


def test_comment_strip_escaped_quote(spark):
    from fast_causal_inference_spark.plans.sql_macros import (
        _strip_line_comments,
    )

    q = "SELECT x FROM t WHERE note = 'don\\'t -- keep' -- drop this"
    got = _strip_line_comments(q)
    assert "don\\'t -- keep" in got
    assert "drop this" not in got


def test_xexpt_macro_arg_shapes(spark, ab_df):
    """Position 5 may be metric_type ('avg'/'sum', reference Python-API
    order), the cuped formula (gateway order), or the first numeric
    (no-CUPED shorthand) — binding is shape-aware."""
    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp
    from fast_causal_inference_spark.plans.sql_macros import sql

    ab_df.createOrReplaceTempView("ab")
    uid = "abs(hash(cast(numerator AS string)))"
    no_x = sql(spark, "SELECT xexpt_ttest_2samp(numerator, denominator, "
                      f"treatment, {uid}, 0.05, 0.005, 0.8) FROM ab")
    want = xexpt_ttest_2samp(ab_df, "numerator", "denominator",
                             "treatment", uid, alpha=0.05, mde=0.005,
                             power=0.8)
    got = no_x.toPandas()
    assert got["diff_relative"].astype(float).to_numpy() == pytest.approx(
        want["diff_relative"].astype(float).to_numpy(), rel=1e-9)
    mt = sql(spark, "SELECT xexpt_ttest_2samp(numerator, denominator, "
                    f"treatment, {uid}, 'sum', "
                    "'avg(numerator_pre)/avg(denominator_pre)') FROM ab")
    want_mt = xexpt_ttest_2samp(ab_df, "numerator", "denominator",
                                "treatment", uid, metric_type="sum",
                                X="avg(numerator_pre)/avg(denominator_pre)")
    assert len(mt.toPandas()) == len(want_mt)


def test_quality_weighted_sample_nan_raises(spark):
    from fast_causal_inference_spark.datapipe.training import (
        quality_weighted_sample,
    )

    df = spark.sql("SELECT * FROM VALUES (1, 1.0), (2, cast('NaN' as "
                   "double)), (3, 2.0) t(id, w)")
    with pytest.raises(ValueError, match="NaN weights"):
        quality_weighted_sample(df, "w", 0.5)


def test_domain_mixture_join_path_matches_chain(spark):
    """Above _RATE_CHAIN_MAX domains the rate map becomes a broadcast
    join; outputs must be identical to the WHEN-chain path (same rates,
    same xxhash64 draws)."""
    import fast_causal_inference_spark.datapipe.training as tr

    pdf = pd.DataFrame({
        "doc_id": range(3000),
        "domain": [f"d{i % 100}" if i % 10 else None for i in range(3000)],
        "text": [f"doc {i}" for i in range(3000)],
    })
    df = spark.createDataFrame(pdf)
    weights = {f"d{i}": 1.0 + (i % 3) for i in range(100)}
    weights[None] = 2.0
    out_join = tr.domain_mixture_sample(df, "domain", weights, seed=5) \
        .toPandas().sort_values(["doc_id", "__replica"]) \
        .reset_index(drop=True)
    assert len(weights) > tr._RATE_CHAIN_MAX     # join path exercised
    old = tr._RATE_CHAIN_MAX
    tr._RATE_CHAIN_MAX = 10 ** 9
    try:
        out_chain = tr.domain_mixture_sample(df, "domain", weights,
                                             seed=5) \
            .toPandas().sort_values(["doc_id", "__replica"]) \
            .reset_index(drop=True)
    finally:
        tr._RATE_CHAIN_MAX = old
    pd.testing.assert_frame_equal(out_join, out_chain)
    # NULL-domain rows kept by both paths
    assert out_join.domain.isna().any()


def test_facade_groupby_expression_keys(spark, ab_df):
    """groupBy with a Column expression or SQL-string key must work with
    the statistical verbs (the recovered planned name '(x3 > 1)' is not
    a resolvable column — keys materialize as group_{i})."""
    from fast_causal_inference_spark.dataframe import CausalDataFrame

    cdf = CausalDataFrame(ab_df)
    out_col = cdf.groupBy(F.col("x3") > 1).ttest_2samp("avg(y)",
                                                       "treatment")
    out_str = cdf.groupBy("x3 > 1").ttest_2samp("avg(y)", "treatment")
    assert out_col.count() == 2 and out_str.count() == 2
    a = {r["group_0"]: r["estimate"] for r in out_col.collect()}
    b = {r["group_0"]: r["estimate"] for r in out_str.collect()}
    assert a == b
    # plain-name keys keep their own name
    plain = cdf.groupBy("treatment").agg(F.count(F.lit(1)).alias("n"))
    assert "treatment" in plain.df.columns


def test_ope_snips_null_reward_row_set(spark):
    """A NULL-reward row with a defined weight must not enter the SNIPS
    normalizer or ESS: the estimate over (r, w, r_null_extra) must equal
    the estimate over (r, w) exactly."""
    from fast_causal_inference_spark.operators.offpolicy import (
        ope_dr,
        ope_snips,
    )

    base = pd.DataFrame({
        "r": [1.0, 2.0, 0.5, 3.0] * 50,
        "pi": [0.8, 0.2, 0.5, 0.7] * 50,
        "mu": [0.5, 0.5, 0.5, 0.5] * 50,
        "a": [0, 1, 0, 1] * 50,
        "x": [0.1, 0.9, 0.4, 0.6] * 50,
    })
    polluted = pd.concat([base, pd.DataFrame({
        "r": [None] * 20, "pi": [0.9] * 20, "mu": [0.5] * 20,
        "a": [0] * 20, "x": [0.5] * 20,
    })], ignore_index=True)
    clean_df, dirty_df = (spark.createDataFrame(p)
                          for p in (base, polluted))
    s_clean = ope_snips(clean_df, "r", "pi", "mu").iloc[0]
    s_dirty = ope_snips(dirty_df, "r", "pi", "mu").iloc[0]
    for c in ("value", "stderr", "n", "ess"):
        assert s_dirty[c] == pytest.approx(s_clean[c], rel=1e-12), c
    # DR: a NULL-feature row drops from phi and from the ESS sums alike
    polluted_x = pd.concat([base, pd.DataFrame({
        "r": [1.0] * 20, "pi": [0.9] * 20, "mu": [0.5] * 20,
        "a": [0] * 20, "x": [None] * 20,
    })], ignore_index=True)
    probs = {0: "pi", 1: "1 - pi"}
    d_clean = ope_dr(clean_df, "r", "a", ["x"], probs, "mu").iloc[0]
    d_dirty = ope_dr(spark.createDataFrame(polluted_x), "r", "a", ["x"],
                     probs, "mu").iloc[0]
    assert d_dirty["n"] == d_clean["n"]
    assert d_dirty["ess"] == pytest.approx(d_clean["ess"], rel=1e-12)


def test_facade_groupby_weird_names_and_aliases(spark, ab_df):
    """Review follow-ups: a string that IS a column name (however odd)
    must resolve as the column, never parse as SQL; an aliased
    expression Column must materialize under its alias; materialized
    keys must not clobber an existing group_0 column."""
    from fast_causal_inference_spark.dataframe import CausalDataFrame

    df = (ab_df.withColumn("a-b", (F.col("treatment") * 2).cast("int"))
          .withColumn("a", F.lit(100.0)).withColumn("b", F.lit(1.0)))
    cdf = CausalDataFrame(df)
    # 'a-b' is a real column with values {0, 2}; parsing it as a MINUS b
    # would give the constant 99 (one group)
    out = cdf.groupBy("a-b").agg(F.count(F.lit(1)).alias("n")).df.collect()
    assert sorted(r["a-b"] for r in out) == [0, 2]
    # aliased expression materializes under its alias
    t = cdf.groupBy((F.col("x3") > 1).alias("flag")) \
        .ttest_2samp("avg(y)", "treatment").toPandas()
    assert "flag" in t.columns and len(t) == 2
    # existing group_0 column is not clobbered by an expression key
    df2 = ab_df.withColumn("group_0", F.lit(7.0))
    g = CausalDataFrame(df2).groupBy("x3 > 1") \
        .agg(F.avg("group_0").alias("m")).df.collect()
    assert all(r["m"] == 7.0 for r in g)


def test_domain_mixture_nested_domain_col(spark):
    """>64-domain join path with a nested struct field reference (the
    schema[...] lookup raised KeyError where F.col resolves)."""
    from fast_causal_inference_spark.datapipe.training import (
        domain_mixture_sample,
    )

    df = spark.range(2000).selectExpr(
        "id AS doc_id",
        "named_struct('domain', concat('d', cast(id % 80 AS string))) "
        "AS meta")
    w = {f"d{i}": 1.0 for i in range(80)}
    out = domain_mixture_sample(df, "meta.domain", w, seed=3)
    n = out.count()
    assert 1500 < n < 2500                      # ~rate-1 resample
    assert "__rate" not in out.columns


def test_cusum_null_series_key_monitored(spark):
    """A NULL group key is a real series: estimated-params mode must keep
    its rows (the equi-join dropped them; explicit params kept them)."""
    from fast_causal_inference_spark.operators.changepoint import (
        cusum_detect,
    )

    pdf = pd.DataFrame({
        "g": ["a", "a", "a", None, None, None],
        "i": [1, 2, 3, 1, 2, 3],
        "v": [1.0, 2.0, 30.0, 1.0, 2.0, 30.0],
    })
    df = spark.createDataFrame(pdf)
    est = cusum_detect(df, "v", "i", "g")
    assert est.count() == 6                     # was 3
    pinned = cusum_detect(df, "v", "i", "g", target=1.5, sd=1.0)
    assert pinned.count() == 6


def test_conformal_low_cardinality_fold_refused(spark):
    from fast_causal_inference_spark.operators.conformal import (
        conformal_fit,
    )

    rng = np.random.default_rng(2)
    pdf = pd.DataFrame({
        "x": np.tile([0.0, 1.0], 200),
        "t": np.repeat([0, 1], 200),
        "y": rng.normal(0, 0.1, 400),
        "uid": np.arange(400),
    })
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="distinct value"):
        conformal_fit(df, "y", "t", ["x"])
    # an id fold restores the split
    m = conformal_fit(df, "y", "t", ["x"], fold_expr="uid")
    assert m.q1 > 0


def test_conformal_transform_collision_raises(spark, ab_df):
    from fast_causal_inference_spark.operators.conformal import (
        conformal_fit,
    )

    df = ab_df.withColumn("uid", F.monotonically_increasing_id())
    m = conformal_fit(df, "y", "treatment", ["x1"], fold_expr="uid")
    with pytest.raises(ValueError, match="overwrite"):
        m.transform(df.withColumn("ite", F.lit(0.0)))
    assert "p_ite" in m.transform(df.withColumn("ite", F.lit(0.0)),
                                  prefix="p_").columns


def test_salt_spreads_identical_rows(spark):
    from fast_causal_inference_spark.operators.skew import _salt_col

    df = spark.range(1000).select(F.lit("hot").alias("k"),
                                  F.lit(1.0).alias("v"))
    n = df.withColumn("s", _salt_col(df, 32, 42)) \
        .select("s").distinct().count()
    assert n >= 16                              # was exactly 1


def test_entropy_att_clear_errors_and_row_set(spark):
    from fast_causal_inference_spark.operators.balancing import (
        entropy_balancing,
    )

    rng = np.random.default_rng(4)
    pdf = pd.DataFrame({
        "t": np.repeat([0, 1], 200),
        "x": rng.normal(0, 1, 400),
        "y": rng.normal(0, 1, 400),
    })
    df = spark.createDataFrame(pdf)
    eb = entropy_balancing(df, "t", ["x"])
    # all-NULL treated outcome → clear error, not TypeError
    with pytest.raises(ValueError, match="treated rows"):
        eb.att(df.withColumn(
            "y2", F.when(F.col("t") == 0, F.col("y"))), "y2")
    # NULL-outcome rows leave numerator AND denominator together
    clean = eb.att(df, "y").iloc[0]
    polluted = pd.concat([pdf, pd.DataFrame(
        {"t": [1] * 30, "x": rng.normal(0, 1, 30), "y": [None] * 30})],
        ignore_index=True)
    dirty = eb.att(spark.createDataFrame(polluted), "y").iloc[0]
    assert dirty["mu_treated"] == pytest.approx(clean["mu_treated"],
                                                rel=1e-12)
    assert dirty["n_treated"] == clean["n_treated"]


def test_heckman_complete_case_features(spark):
    """NULL feature values must not put the step-2 Gramian on
    inconsistent row sets: estimates over (clean + NULL-feature rows)
    must equal estimates over clean rows alone."""
    from fast_causal_inference_spark.operators.selection import heckman

    rng = np.random.default_rng(11)
    n = 2000
    edu = rng.normal(0, 1, n)
    kids = rng.integers(0, 3, n).astype(float)
    works = (0.5 * edu - 0.4 * kids + rng.normal(0, 1, n) > 0).astype(int)
    wage = np.where(works == 1, 1.0 + 0.8 * edu + rng.normal(0, 1, n),
                    np.nan)
    base = pd.DataFrame({"edu": edu, "kids": kids, "works": works,
                         "wage": wage})
    polluted = pd.concat([base, pd.DataFrame({
        "edu": [None] * 50, "kids": [1.0] * 50, "works": [1] * 50,
        "wage": [5.0] * 50})], ignore_index=True)
    clean = heckman(spark.createDataFrame(base),
                    "wage ~ edu", "works ~ edu + kids")
    dirty = heckman(spark.createDataFrame(polluted),
                    "wage ~ edu", "works ~ edu + kids")
    # step-1 probit is complete-case too, so the fits must agree exactly
    for c in ("coef", "stderr"):
        assert dirty[c].to_numpy() == pytest.approx(
            clean[c].to_numpy(), rel=1e-9), c


def test_heckman_mills_tail_asymptotic():
    """lambda(z) for strongly negative z follows the Mills expansion
    (-z/(1 - 1/z^2 + 3/z^4)) instead of collapsing via the Phi floor."""
    import math

    z = -8.0
    want = (math.exp(-z * z / 2) / math.sqrt(2 * math.pi)
            / (0.5 * math.erfc(-z / math.sqrt(2))))
    got = -z / (1 - 1 / z ** 2 + 3 / z ** 4)
    assert got == pytest.approx(want, rel=1e-3)
    assert abs(got - 8.12) < 0.02               # not ~0.005


def test_its_null_bucket_and_calendar_index(spark):
    """An all-NULL-metric day must not NaN-poison the fit, and the time
    regressor is calendar time, so the resulting gap does not compress
    the axis."""
    import fast_causal_inference_spark.operators.its as its_mod

    rng = np.random.default_rng(5)
    days = pd.date_range("2024-01-01", periods=30, freq="D")
    rows = []
    for i, d in enumerate(days):
        y = 10.0 + 0.5 * i + (5.0 if i >= 20 else 0.0) \
            + rng.normal(0, 0.1)
        rows.append((d, None if i == 5 else y))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "y"]))
    out = its_mod.interrupted_time_series(df, "y", "ts", "2024-01-21",
                                          freq="1 day")
    est = dict(zip(out.name, out.coef))
    assert np.isfinite(out.coef.to_numpy()).all()
    # calendar index: trend is per DAY even with the missing bucket
    assert est["trend"] == pytest.approx(0.5, abs=0.05)
    assert est["level_change"] == pytest.approx(5.0, abs=1.0)


def test_ordered_logit_overshoot_rejected(spark):
    """An inverted-cutpoint trial step must evaluate to -inf (Spark's
    log(P<=0) is NULL and SUM would skip it, inflating ll_new)."""
    from fast_causal_inference_spark.operators.ordinal import ordered_logit

    rng = np.random.default_rng(9)
    n = 1500
    x = rng.normal(0, 1, n)
    latent = 1.5 * x + rng.normal(0, 1, n)
    ycat = np.digitize(latent, [-0.8, 0.0, 0.1, 1.2])
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": ycat}))
    m = ordered_logit(df, "y ~ x")          # converges, no raise
    assert np.isfinite(m["coef"].to_numpy()).all()


def test_oaxaca_saturated_group_raises(spark):
    from fast_causal_inference_spark.operators.decompose import (
        oaxaca_blinder,
    )

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "g": ["A"] * 100 + ["B"] * 2,        # B saturated: 2 rows, 2 params
        "x": rng.normal(0, 1, 102),
        "y": rng.normal(0, 1, 102),
    })
    with pytest.raises(ValueError, match="degrees of freedom"):
        oaxaca_blinder(spark.createDataFrame(pdf), "y", "g", ["x"],
                       group_a="A", group_b="B")


def test_csdid_thin_cells_warn(spark):
    from fast_causal_inference_spark.operators.csdid import (
        callaway_santanna,
    )

    rng = np.random.default_rng(6)
    rows = []
    for u in range(12):
        adopt = 3 if u == 0 else (4 if u < 6 else None)  # cohort 3: 1 unit
        for t in range(1, 7):
            y = u * 0.1 + t * 0.2 + rng.normal(0, 0.1) \
                + (1.0 if adopt is not None and t >= adopt else 0.0)
            rows.append((u, t, adopt, y))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "t", "g", "y"]))
    with pytest.warns(UserWarning, match="dropped for having"):
        res = callaway_santanna(df, "y", "u", "t", "g")
    assert (res.att_gt.group == 4).all()     # cohort 3's cells dropped


def test_mediation_singular_raises(spark, ab_df):
    from fast_causal_inference_spark.operators.mediation import mediation

    with pytest.raises(ValueError, match="singular"):
        mediation(ab_df.withColumn("m2", F.col("x1") * 2), "y", "x1", "m2")


def test_facade_exports_quasi_experimental():
    import fast_causal_inference_spark as fcis

    for name in ("callaway_santanna", "interrupted_time_series",
                 "mediation", "ordered_logit", "heckman"):
        assert callable(getattr(fcis, name)), name


def test_url_host_userinfo_stripped(spark):
    from fast_causal_inference_spark.datapipe.quality import (
        normalize_url,
        registered_domain,
        url_host,
    )

    df = spark.createDataFrame(
        [("https://google.com@evil.com/x",),
         ("https://user:pw@example.com/page",),
         ("https://ok.example.org/a",)], ["url"])
    got = df.select(url_host("url").alias("h"),
                    registered_domain("url").alias("d")).collect()
    assert got[0]["h"] == "evil.com" and got[0]["d"] == "evil.com"
    assert got[1]["h"] == "example.com" and got[1]["d"] == "example.com"
    assert got[2]["h"] == "ok.example.org"
    # trailing slash inside a query VALUE is content, not path
    n = df.sparkSession.createDataFrame(
        [("https://ex.com/search?q=a/",), ("https://ex.com/search?q=a",),
         ("https://ex.com/path/",)], ["url"]) \
        .select(normalize_url(F.col("url")).alias("u")).collect()
    assert n[0]["u"] != n[1]["u"]
    assert n[2]["u"] == "https://ex.com/path"


def test_repetition_profile_null_text(spark):
    from fast_causal_inference_spark.datapipe.quality import (
        repetition_profile,
    )

    df = spark.createDataFrame(
        [(0, "the cat sat on the mat and the cat sat again on it"),
         (1, None)], ["doc_id", "text"])
    out = repetition_profile(df).toPandas().set_index("doc_id")
    assert pd.isna(out.loc[1, "top_ngram_char_frac"])    # was 1.0
    assert out.loc[0, "top_ngram_char_frac"] < 1.0


def test_domain_filter_case_insensitive(spark):
    from fast_causal_inference_spark.datapipe.quality import domain_filter

    df = spark.createDataFrame(
        [("https://example.com/a",), ("https://other.org/b",)], ["url"])
    kept = domain_filter(df, blocklist=["Example.COM"]).collect()
    assert len(kept) == 1 and "other.org" in kept[0]["url"]


def test_chunk_documents_negative_overlap_raises(spark, ab_df):
    from fast_causal_inference_spark.datapipe.text import chunk_documents

    df = ab_df.selectExpr("cast(treatment as long) as doc_id",
                          "'a b c d e f g h' as text").limit(2)
    with pytest.raises(ValueError, match="DROPS tokens"):
        chunk_documents(df, chunk_tokens=4, overlap=-2)


def test_quality_score_whitespace_insensitive(spark):
    from fast_causal_inference_spark.datapipe.text import quality_score

    words = " ".join(["sensible", "words", "with", "normal", "length"] * 4)
    df = spark.createDataFrame(
        [(words,), (words.replace(" ", "\n\n\t "),)], ["text"])
    a, b = [r[0] for r in df.select(quality_score("text")).collect()]
    assert a == b                              # formatting-only change


def test_knn_null_query_raises(spark):
    from fast_causal_inference_spark.datapipe.similarity import (
        knn_bruteforce,
        lsh_knn,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>")
    bad_q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 0.0])],
        "query_id long, query_vec array<double>")
    with pytest.raises(ValueError, match="NULL or zero-norm"):
        knn_bruteforce(corpus, bad_q, k=3)
    with pytest.raises(ValueError, match="NULL or zero-norm"):
        lsh_knn(corpus, bad_q, k=3, dim=2)


def test_bigram_lm_empty_corpus_raises(spark):
    from fast_causal_inference_spark.datapipe.lm import (
        train_bigram_lm,
        train_trigram_lm,
    )

    df = spark.createDataFrame([("   ",), ("",)], ["text"])
    with pytest.raises(ValueError, match="no non-empty tokens"):
        train_bigram_lm(df)
    with pytest.raises(ValueError, match="no non-empty tokens"):
        train_trigram_lm(df)


def test_bpe_vocab_no_duplicates(spark):
    from fast_causal_inference_spark.datapipe.tokenizer import train_bpe

    df = spark.createDataFrame(
        [("abc abc abc ab bc a b c",)] * 30, ["text"])
    model = train_bpe(df, vocab_size=40)
    assert len(model["vocab"]) == len(set(model["vocab"]))


def test_logrank_null_event_complete_case(spark):
    """NULL event indicators must leave the risk set (they counted as
    censored subjects before), matching kaplan_meier's convention."""
    from fast_causal_inference_spark.operators.survival import (
        logrank_test,
        stratified_logrank_test,
    )

    rng = np.random.default_rng(7)
    base = pd.DataFrame({
        "t": rng.exponential(10, 400).round(1) + 0.1,
        "e": rng.integers(0, 2, 400),
        "g": np.tile([0, 1], 200),
        "s": np.repeat([0, 1], 200),
    })
    polluted = pd.concat([base, pd.DataFrame({
        "t": rng.exponential(10, 80).round(1) + 0.1,
        "e": [None] * 80, "g": [0, 1] * 40, "s": [0, 1] * 40,
    })], ignore_index=True)
    clean_df, dirty_df = (spark.createDataFrame(x) for x in
                          (base, polluted))
    a = logrank_test(clean_df, "t", "e", "g").iloc[0]
    b = logrank_test(dirty_df, "t", "e", "g").iloc[0]
    assert b["chi2"] == pytest.approx(a["chi2"], rel=1e-12)
    sa = stratified_logrank_test(clean_df, "t", "e", "g", ["s"]).iloc[0]
    sb = stratified_logrank_test(dirty_df, "t", "e", "g", ["s"]).iloc[0]
    assert sb["chi2"] == pytest.approx(sa["chi2"], rel=1e-12)


def test_sequential_constant_metric_no_domain_error(spark):
    from fast_causal_inference_spark.operators.sequential import (
        group_sequential_ttest,
    )

    pdf = pd.DataFrame({
        "y": [0.1] * 400,                     # constant metric
        "t": [0, 1] * 200,
        "look": np.repeat([1, 2], 200),
    })
    out = group_sequential_ttest(spark.createDataFrame(pdf), "y", "t",
                                 "look")
    assert len(out) == 2                      # no math-domain crash


def test_bayes_power_single_row_arm_clear_error(spark):
    from fast_causal_inference_spark.operators.bayes import (
        bayes_ab_continuous,
    )
    from fast_causal_inference_spark.operators.power import effect_size

    pdf = pd.DataFrame({"y": [1.0, 2.0, 3.0, 9.9],
                        "t": [0, 0, 0, 1]})   # arm 1 has ONE row
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match=">= 2 non-null rows"):
        bayes_ab_continuous(df, "y", "t")
    with pytest.raises(ValueError, match="at least 2 rows"):
        effect_size(df, "y", "t")


def test_adjust_pvalues_typo_and_long_round_trip(spark):
    from fast_causal_inference_spark.operators.multiple_testing import (
        adjust_pvalues,
    )

    empty = pd.DataFrame({"p_value": pd.Series([], dtype=float)})
    with pytest.raises(ValueError, match="bonferroni"):
        adjust_pvalues(empty, method="bonferoni")
    # Spark relation with a nullable long column survives the round-trip
    sdf = spark.createDataFrame(
        [("a", 10, 0.01), ("b", None, 0.04), ("c", 3, 0.20)],
        "metric string, n long, p_value double")
    out = adjust_pvalues(sdf, method="bh")
    got = out.orderBy("metric").collect()
    assert [r["n"] for r in got] == [10, None, 3]
    assert got[0]["p_value_bh"] == pytest.approx(0.03)


def test_cox_ph_empty_complete_case_raises(spark):
    from fast_causal_inference_spark.operators.survival import cox_ph

    df = spark.createDataFrame(
        [(1.0, None, 0.5), (2.0, None, 0.1)], "t double, e int, x double")
    with pytest.raises(ValueError, match="no complete-case rows"):
        cox_ph(df, "t", "e", ["x"])


def test_negbin_model_carries_y_expr(spark):
    from fast_causal_inference_spark.operators.glm import (
        negative_binomial_regression,
    )

    rng = np.random.default_rng(8)
    pdf = pd.DataFrame({"x": rng.normal(0, 1, 500)})
    pdf["y"] = rng.poisson(np.exp(0.3 + 0.5 * pdf.x))
    m = negative_binomial_regression(spark.createDataFrame(pdf), "y ~ x")
    assert m.y_expr == "y"       # margins' complete-case filter needs it
