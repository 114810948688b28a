import copy

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark.uplift.causal_forest import CausalForest


@pytest.fixture(scope="module")
def forest_pdf():
    rng = np.random.default_rng(23)
    n = 10000
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    x3 = rng.normal(0, 1, n)
    t = rng.integers(0, 2, n).astype(float)
    tau = np.where(x1 > 0, 2.5, -0.5)
    y = 1.0 + 0.3 * x2 + tau * t + rng.normal(0, 1, n)
    return pd.DataFrame({"x1": x1, "x2": x2, "x3": x3, "t": t, "y": y})


@pytest.fixture(scope="module")
def forest_df(spark, forest_pdf):
    return spark.createDataFrame(forest_pdf).repartition(4).cache()


@pytest.fixture(scope="module")
def fitted(forest_df):
    return CausalForest(["x1", "x2", "x3"], "y", "t", num_trees=8,
                        max_depth=3, min_node_size=50, mtry=2,
                        seed=3).fit(forest_df)


def test_forest_recovers_heterogeneity(spark, forest_df, fitted):
    scored = fitted.predict(forest_df).select("x1", "ite").toPandas()
    hi = scored[scored.x1 > 0.3].ite.mean()
    lo = scored[scored.x1 < -0.3].ite.mean()
    assert hi > 1.5 and lo < 0.5
    # correlation with the true tau structure
    true = np.where(scored.x1 > 0, 2.5, -0.5)
    assert np.corrcoef(scored.ite.fillna(0), true)[0, 1] > 0.7


def test_forest_feature_importance(fitted):
    imp = fitted.feature_importance()
    assert imp.iloc[0].feature == "x1"          # the true effect modifier
    assert imp.iloc[0].importance > 0.4


def test_forest_deterministic(spark, forest_df):
    a = CausalForest(["x1", "x2"], "y", "t", num_trees=4, max_depth=2,
                     seed=11).fit(forest_df)
    b = CausalForest(["x1", "x2"], "y", "t", num_trees=4, max_depth=2,
                     seed=11).fit(forest_df)
    pa = a.predict(forest_df).agg(F.avg("ite")).collect()[0][0]
    pb = b.predict(forest_df).agg(F.avg("ite")).collect()[0][0]
    assert pa == pytest.approx(pb, rel=1e-12)


def _join_level_stats(cf, work, frontier, split_half):
    """The former ``CausalForest._level_stats``: amplify each melted row by
    its node's mtry features with a broadcast join against the frontier's
    (tree, node, feature) relation, then pick the bin with a CASE."""
    rel = [(t, nid, feat) for t in range(cf.num_trees)
           for nid in frontier[t] for feat in cf.trees_[t][nid].feats]
    ff = work.sparkSession.createDataFrame(
        rel, "tree int, node int, feature string")
    feat_union = sorted({r[2] for r in rel})
    keep = [cf._bin_col_names[feat] for feat in feat_union]
    joined = cf._melt(work, split_half, keep).join(F.broadcast(ff),
                                                   ["tree", "node"])
    bin_expr = None
    for feat in feat_union:
        cnd = F.col("feature") == feat
        bcol = F.col(cf._bin_col_names[feat])
        bin_expr = (F.when(cnd, bcol) if bin_expr is None
                    else bin_expr.when(cnd, bcol))
    return (joined.withColumn("bin", bin_expr)
            .groupBy("tree", "node", "feature", "bin", "__t")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("__y").alias("s"))
            .toPandas())


def _sorted_bits(pdf):
    keys = ["tree", "node", "feature", "bin", "__t"]
    out = pdf.sort_values(keys).reset_index(drop=True)
    return (out[keys].astype({"feature": str}).to_numpy().tolist(),
            out["cnt"].to_numpy(np.int64).tolist(),
            out["s"].to_numpy(np.float64).view(np.uint64).tolist())


def _grown_to(cf, depth):
    """A copy of ``cf`` cut back to ``depth`` — the state its fit had when
    it aggregated that level — and the level's frontier."""
    cut = copy.deepcopy(cf)
    frontier = []
    for tree in cut.trees_:
        level = [0]
        for _ in range(depth):
            level = [c for nid in level if tree[nid].feature is not None
                     for c in (tree[nid].left, tree[nid].right)]
        for nid in level:
            tree[nid].feature = None
        frontier.append(level)
    return cut, frontier


def test_level_stats_match_join_form(forest_df, fitted):
    """The join-free level aggregation returns exactly the broadcast-join
    form's frame, float sums compared bit for bit, at two depths of an
    8-tree forest whose nodes draw mtry=2 of 3 features (split half at
    depth 1, honest half at depth 2)."""
    with fitted._prepare(forest_df) as work:
        for depth, split_half in ((1, True), (2, False)):
            cut, frontier = _grown_to(fitted, depth)
            assert sum(map(len, frontier)) >= 2 * depth
            got = cut._level_stats(work, frontier, split_half)
            want = _join_level_stats(cut, work, frontier, split_half)
            assert len(got) > 0
            assert _sorted_bits(got) == _sorted_bits(want), depth
