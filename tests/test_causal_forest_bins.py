"""Causal-forest fine bins: the Bucketizer-based ids must equal the
right-closed rule ``bin = first i with v <= edges[i]`` (NULL and NaN to
``len(edges)``) that the balanced nested-WHEN tree used to compute."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fast_causal_inference_spark.uplift.causal_forest import _with_fine_bins

INF = float("inf")


def _when_tree_bins(c, edges):
    """The former ``CausalForest._bin_col``: a BALANCED nested-WHEN tree,
    log2(len(edges)) comparisons per row."""
    if not edges:
        return F.lit(0).cast("int")

    def build(lo, hi):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(c <= edges[mid], build(lo, mid)) \
                .otherwise(build(mid + 1, hi))

    return build(0, len(edges)).cast("int")


def _edges(raw, neg_zero):
    """The fit's grid: sorted distinct sketch values; a leading -0.0
    wins the set's 0.0/-0.0 collision, as an unsorted sketch may."""
    return sorted(set(([-0.0] if neg_zero else []) + raw))


_SPECIAL = [None, float("nan"), INF, -INF, 0.0, -0.0, 5e-324, -5e-324,
            2.2250738585072014e-308, -1e-310]
_edge_floats = st.floats(allow_nan=False, width=64)


@settings(max_examples=5, deadline=None)
@given(one=st.lists(_edge_floats, min_size=1, max_size=1),
       many=st.lists(_edge_floats, min_size=127, max_size=127,
                     unique=True),
       neg_zero=st.booleans(),
       extra=st.lists(st.floats(width=64), max_size=20))
@example(one=[0.0], many=[float(i) - 63.0 for i in range(127)],
         neg_zero=True, extra=[])
@example(one=[-INF], many=[INF, -INF] + [float(i) for i in range(125)],
         neg_zero=False, extra=[])
@example(one=[INF], many=[5e-324 * i for i in range(-63, 64)],
         neg_zero=True, extra=[])
def test_fine_bins_match_when_tree(spark, one, many, neg_zero, extra):
    grids = {"b_empty": [], "b_one": _edges(one, neg_zero),
             "b_many": _edges(many, neg_zero)}
    vals = list(_SPECIAL) + extra
    with np.errstate(over="ignore"):
        for edges in grids.values():
            for e in edges:
                vals += [e, float(np.nextafter(e, -INF)),
                         float(np.nextafter(e, INF))]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    v = F.col("v")
    got = _with_fine_bins(df, {k: (v, e) for k, e in grids.items()})
    want = [_when_tree_bins(v, e).alias(f"w_{k}") for k, e in grids.items()]
    rows = got.select("v", *grids, *want).collect()
    assert len(rows) == len(vals)
    for r in rows:
        for k, edges in grids.items():
            assert r[k] == r[f"w_{k}"], (k, r["v"], edges)
    assert got.columns == ["v", *grids]
