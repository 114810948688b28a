"""Rosenbaum bounds vs a numpy signed-rank oracle; E-value closed forms."""

import math

import numpy as np
import pandas as pd
import pytest

from fast_causal_inference_spark.operators import ranks
from fast_causal_inference_spark.operators.sensitivity import (
    e_value,
    e_value_from_smd,
    rosenbaum_bounds,
)


def _avg_ranks(v):
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v))
    sv = v[order]
    i = 0
    r = 1.0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (r + r + (j - i) - 1) / 2.0
        r += j - i
        i = j
    return ranks


def _np_bounds(diffs, gamma):
    d = diffs[diffs != 0]
    ranks = _avg_ranks(np.abs(d))
    t_plus = ranks[d > 0].sum()
    s1, s2 = ranks.sum(), (ranks ** 2).sum()
    out = {}
    for side, lam in (("upper", gamma / (1 + gamma)),
                      ("lower", 1 / (1 + gamma))):
        z = (t_plus - lam * s1) / math.sqrt(lam * (1 - lam) * s2)
        out[f"z_{side}"] = z
    return t_plus, out


@pytest.fixture(scope="module")
def pairs_pdf():
    rng = np.random.default_rng(5)
    n = 400
    yc = rng.normal(10, 2, n)
    yt = yc + 0.6 + rng.normal(0, 1.5, n)
    rows = []
    for i in range(n):
        rows.append({"pid": i, "tr": 1, "y": yt[i]})
        rows.append({"pid": i, "tr": 0, "y": yc[i]})
    return pd.DataFrame(rows)


def test_rosenbaum_matches_numpy_and_both_paths(spark, pairs_pdf,
                                                monkeypatch):
    sdf = spark.createDataFrame(pairs_pdf).repartition(8)
    monkeypatch.setattr(ranks, "estimate_scan_splits", lambda df: 1)
    out1 = rosenbaum_bounds(sdf, "y", "tr", "pid", gammas=(1.0, 1.5, 2.0))
    monkeypatch.setattr(ranks, "estimate_scan_splits", lambda df: 4)
    out4 = rosenbaum_bounds(sdf, "y", "tr", "pid", gammas=(1.0, 1.5, 2.0))
    diffs = (pairs_pdf.pivot_table(index="pid", columns="tr", values="y")
             .pipe(lambda t: (t[1] - t[0]).to_numpy()))
    for out in (out1, out4):
        for _, row in out.iterrows():
            t_plus, want = _np_bounds(diffs, row.gamma)
            assert row.t_plus == pytest.approx(t_plus, abs=1e-6)
            assert row.z_upper == pytest.approx(want["z_upper"], abs=1e-9)
            assert row.z_lower == pytest.approx(want["z_lower"], abs=1e-9)
    # the two execution paths agree exactly
    pd.testing.assert_frame_equal(out1, out4)
    # Γ=1: upper == lower == the plain signed-rank test; significant here
    g1 = out1[out1.gamma == 1.0].iloc[0]
    assert g1.p_upper == pytest.approx(g1.p_lower, abs=1e-12)
    assert g1.p_upper < 1e-6
    # bounds widen monotonically in Γ
    assert out1.p_upper.is_monotonic_increasing
    assert (out1.p_lower.diff().dropna() <= 1e-15).all()


def test_rosenbaum_one_to_k_and_validation(spark, pairs_pdf):
    extra = pairs_pdf[pairs_pdf.tr == 0].assign(y=lambda d: d.y + 1.0)
    sdf = spark.createDataFrame(pd.concat([pairs_pdf, extra]))
    out = rosenbaum_bounds(sdf, "y", "tr", "pid", gammas=(1.0,))
    # control side = mean of the 2 controls → diffs shift down by 0.5
    diffs = (pairs_pdf.pivot_table(index="pid", columns="tr", values="y")
             .pipe(lambda t: (t[1] - t[0]).to_numpy())) - 0.5
    t_plus, want = _np_bounds(diffs, 1.0)
    assert out.iloc[0].t_plus == pytest.approx(t_plus, abs=1e-6)
    with pytest.raises(ValueError, match=">= 1"):
        rosenbaum_bounds(sdf, "y", "tr", "pid", gammas=(0.5,))


def test_e_value_closed_forms():
    out = e_value(2.0)
    assert out.e_value.iloc[0] == pytest.approx(2 + math.sqrt(2))
    # protective effects invert first
    assert e_value(0.5).e_value.iloc[0] == pytest.approx(2 + math.sqrt(2))
    # CI crossing the null → 1
    assert e_value(2.0, ci_lower=0.9).e_value_ci.iloc[0] == 1.0
    assert e_value(2.0, ci_lower=1.5).e_value_ci.iloc[0] == pytest.approx(
        1.5 + math.sqrt(1.5 * 0.5))
    # OR with a common outcome → sqrt conversion
    assert e_value(4.0, measure="or").estimate_rr.iloc[0] == pytest.approx(2)
    assert e_value(4.0, measure="or",
                   rare_outcome=True).estimate_rr.iloc[0] == 4.0
    # HR conversion stays on the correct side of the null
    assert e_value(2.0, measure="hr").estimate_rr.iloc[0] > 1.0
    assert e_value(1.0).e_value.iloc[0] == 1.0
    with pytest.raises(ValueError, match="positive"):
        e_value(-1.0)
    with pytest.raises(ValueError, match="measure"):
        e_value(2.0, measure="smd")


def test_e_value_from_smd():
    out = e_value_from_smd(0.0)
    assert out.e_value.iloc[0] == 1.0
    out = e_value_from_smd(0.5, se=0.1)
    rr = math.exp(0.91 * 0.5)
    assert out.estimate_rr.iloc[0] == pytest.approx(rr)
    assert out.e_value.iloc[0] == pytest.approx(rr + math.sqrt(rr * (rr - 1)))
    lim = math.exp(0.91 * 0.5 - 1.78 * 0.1)
    assert out.e_value_ci.iloc[0] == pytest.approx(
        lim + math.sqrt(lim * (lim - 1)))
    with pytest.raises(ValueError, match="non-negative"):
        e_value_from_smd(0.5, se=-1)


def test_rosenbaum_null_pairs_excluded(spark):
    """Unmatched rows (NULL match_index) must not collapse into a bogus
    pseudo-pair that outranks every real pair."""
    pdf = pd.DataFrame({
        "pair": [0, 0, 1, 1, 2, 2, None, None, None, None],
        "t":    [1, 0, 1, 0, 1, 0, 1, 1, 0, 0],
        "y":    [3.0, 1.0, 2.5, 1.5, 4.0, 2.0, 99.0, 98.0, 1.0, 2.0],
    })
    out = rosenbaum_bounds(spark.createDataFrame(pdf), "y", "t", "pair",
                           gammas=(1.0,))
    assert out.iloc[0]["n_pairs"] == 3          # not 4
