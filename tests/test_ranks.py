"""The rank kernel (``operators/ranks.py``) against a numpy average-rank
reference, on tie-heavy data with NULL and NaN values.

Each example runs Mann-Whitney (U, z, p), Kruskal-Wallis (H), KS (D) and
the Rosenbaum bounds (T⁺, and s1 = ΣR, s2 = ΣR² through the Γ = 1 and
Γ = 2 z scores) on one branch of the kernel: the single window, the
range path (forced by patching the split estimate) or the grouped form
(Mann-Whitney and KS per group).  NULL and NaN values are dropped alike.
"""
import math
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

from fast_causal_inference_spark.operators import ranks
from fast_causal_inference_spark.operators.anova import kruskal_wallis_test
from fast_causal_inference_spark.operators.kstest import (
    kolmogorov_smirnov_test,
    kolmogorov_smirnov_test_grouped,
)
from fast_causal_inference_spark.operators.mann_whitney import (
    mann_whitney_utest,
    mann_whitney_utest_grouped,
)
from fast_causal_inference_spark.operators.sensitivity import (
    rosenbaum_bounds,
)

NAN = float("nan")
VALUES = [0.0, 1.0, 1.5, 2.0, 3.0, NAN, None]


def _rank(v: np.ndarray) -> np.ndarray:
    return pd.Series(v).rank(method="average").to_numpy()


def _mw(v, g) -> dict:
    r = _rank(v)
    n1 = float((g == 1).sum())
    n0 = float(len(v)) - n1
    n = n0 + n1
    u1 = r[g == 1].sum() - n1 * (n1 + 1) / 2
    _, t = np.unique(v, return_counts=True)
    sd = math.sqrt(n0 * n1 / 12 * ((n + 1) - (t ** 3 - t).sum()
                                   / (n * (n - 1))))
    z = (abs(u1 - n0 * n1 / 2) - 0.5) / sd if sd > 0 else NAN
    p = min(1.0, math.erfc(z / math.sqrt(2))) if sd > 0 else NAN
    return {"u1": u1, "z": z, "p_value": p, "n0": n0, "n1": n1}


def _ks(v, g) -> float:
    grid = np.unique(v)
    f0 = np.searchsorted(np.sort(v[g == 0]), grid, side="right") \
        / (g == 0).sum()
    f1 = np.searchsorted(np.sort(v[g == 1]), grid, side="right") \
        / (g == 1).sum()
    return float(np.abs(f0 - f1).max())


def _kw(v, arm) -> float:
    r = _rank(v)
    n = len(v)
    h = sum(r[arm == a].sum() ** 2 / (arm == a).sum()
            for a in np.unique(arm))
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    _, t = np.unique(v, return_counts=True)
    return h / (1.0 - (t ** 3 - t).sum() / (n ** 3 - n))


def _signed_rank(pdf) -> tuple[float, float, float]:
    """T⁺, ΣR, ΣR² of the treated-minus-control pair differences."""
    means = pdf.groupby(["pair", "g"])["v"].mean().unstack()
    d = (means.get(1) - means.get(0)).dropna().to_numpy()
    d = d[d != 0]
    r = _rank(np.abs(d))
    return r[d > 0].sum(), r.sum(), (r ** 2).sum()


def _observed(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf[pdf.v.notna()]


rows = st.lists(st.tuples(st.sampled_from(VALUES), st.integers(0, 1),
                          st.integers(0, 2)),
                min_size=8, max_size=40)

# NaN and NULL values in both arms, ties in both arms, every arm and key
# present.  Kruskal-Wallis and the Rosenbaum bounds once ranked NaN as the
# largest value on the single window, and on the range path dropped it
# from the ranks while n still counted it.
NAN_ROWS = [(1.0, 0, 0), (NAN, 1, 0), (2.0, 1, 1), (1.0, 0, 1),
            (None, 0, 2), (3.0, 1, 2), (NAN, 0, 0), (2.0, 1, 0),
            (0.0, 0, 1), (1.5, 1, 2), (3.0, 0, 2), (1.0, 1, 1)]


def _frames(spark, data):
    """The rows as pandas (NULL read as NaN) and as a Spark frame that
    keeps NULL and NaN apart; rows pair up two by two."""
    pdf = pd.DataFrame(data, columns=["v", "g", "k"])
    pdf["pair"] = np.arange(len(pdf)) // 2
    sdf = spark.createDataFrame(
        [(v, g, k, i // 2) for i, (v, g, k) in enumerate(data)],
        "v double, g int, k int, pair long")
    return pdf, sdf


def _approx(got, want):
    if isinstance(want, float) and math.isnan(want):
        return math.isnan(got)
    return got == pytest.approx(want, rel=1e-9, abs=1e-9)


@pytest.mark.parametrize("branch", ["single", "range"])
@settings(max_examples=4, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@example(data=NAN_ROWS)
@given(data=rows)
def test_ungrouped_rank_tests_match_numpy(spark, branch, data):
    pdf, sdf = _frames(spark, data)
    obs = _observed(pdf)
    v, g, k = (obs[c].to_numpy(dtype=float) for c in ("v", "g", "k"))
    assume(0 < g.sum() < len(g) and len(np.unique(k)) > 1
           and len(np.unique(v)) > 1)
    t_plus, s1, s2 = _signed_rank(obs)
    assume(s1 > 0)
    splits = 1 if branch == "single" else 4
    with mock.patch.object(ranks, "estimate_scan_splits",
                           lambda df: splits):
        mw = mann_whitney_utest(sdf, "v", "g",
                                method="asymptotic").iloc[0]
        ks = kolmogorov_smirnov_test(sdf, "v", "g", mode="asymp").iloc[0]
        kw = kruskal_wallis_test(sdf, "v", "k").iloc[0]
        ros = rosenbaum_bounds(sdf, "v", "g", "pair", gammas=(1.0, 2.0))
    for field, want in _mw(v, g).items():
        assert _approx(mw[field], want), (field, mw[field], want)
    assert _approx(ks.d_statistic, _ks(v, g))
    assert _approx(kw.statistic, _kw(v, k))
    assert kw.n == len(v)
    assert _approx(ros.t_plus[0], t_plus)
    for gamma, row in zip((1.0, 2.0), ros.itertuples()):
        lam = gamma / (1 + gamma)
        z = (t_plus - lam * s1) / math.sqrt(lam * (1 - lam) * s2)
        assert _approx(row.z_upper, z), (gamma, row.z_upper, z)


@settings(max_examples=4, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@example(data=NAN_ROWS)
@given(data=rows)
def test_grouped_rank_tests_match_numpy(spark, data):
    pdf, sdf = _frames(spark, data)
    obs = _observed(pdf)
    assume(len(obs) > 0)
    mw = mann_whitney_utest_grouped(sdf, "v", "g", ["k"],
                                    method="asymptotic").toPandas()
    ks = kolmogorov_smirnov_test_grouped(sdf, "v", "g", ["k"],
                                         mode="asymp").toPandas()
    assert sorted(mw.k) == sorted(ks.k) == sorted(obs.k.unique())
    for key, cell in obs.groupby("k"):
        v, g = cell.v.to_numpy(dtype=float), cell.g.to_numpy()
        got_mw = mw[mw.k == key].iloc[0]
        got_ks = ks[ks.k == key].iloc[0]
        assert got_mw.n1 == g.sum() and got_mw.n0 == len(g) - g.sum()
        if 0 < g.sum() < len(g):
            for field, want in _mw(v, g).items():
                assert _approx(got_mw[field], want), (key, field)
            assert _approx(got_ks.d_statistic, _ks(v, g))
        else:
            assert math.isnan(got_mw.u1) and math.isnan(got_ks.d_statistic)
