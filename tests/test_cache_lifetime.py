"""Cache lifetime: every call-scoped cache is released on every exit.

The iterative operators persist a narrow projection of their input for
one call and hold it in one ``design.persisted`` scope.  These tests
count the JVM's persistent RDDs before and after a call that raises,
fails mid-loop, or succeeds, and require the count to come back.  They
compare against the count before the call, never against 0: session
fixtures keep their own caches.

The ``LEAKED`` cases, and the two mid-loop failures, each left one
cached RDD behind while the operators released their caches with a
hand-placed call per exit; the ``HELD`` cases already released theirs
and pin that the scoped form still does.  A guard scan at the end keeps
per-exit releases from coming back.

Each test draws its own frame (its own seed): Spark shares one cache
between equal plans, so a cache one test leaked would otherwise be
picked up, and released, by the next.
"""
import ast
import pathlib
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

import fast_causal_inference_spark
from fast_causal_inference_spark.operators import design, ranks
from fast_causal_inference_spark.operators.glm import glm, glm_grouped
from fast_causal_inference_spark.operators.kstest import (
    kolmogorov_smirnov_test,
)
from fast_causal_inference_spark.operators.logistic import (
    logistic_regression,
)
from fast_causal_inference_spark.operators.ordinal import ordered_logit
from fast_causal_inference_spark.operators.quantreg import (
    quantile_regression,
)
from fast_causal_inference_spark.operators.resample import permutation
from fast_causal_inference_spark.uplift.causal_forest import CausalForest


def _cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _frame(spark, n=400, seed=5, **overrides):
    rng = np.random.default_rng(seed)
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    t = rng.integers(0, 2, n)
    y = 1.0 + 0.5 * x1 - 0.3 * x2 + 0.8 * t + rng.normal(0, 1, n)
    cols = {"x1": x1, "x2": x2, "t": t, "y": y,
            "yb": (y > 1.4).astype(float), "g": rng.integers(0, 5, n)}
    cols.update(overrides)
    return spark.createDataFrame(pd.DataFrame(cols))


def _range_path(test):
    """``test`` run on the rank kernel's range path (which caches)."""
    def run(*args):
        with mock.patch.object(ranks, "estimate_scan_splits",
                               lambda df: 4):
            return test(*args)
    return run


def _forest():
    return CausalForest(["x1", "x2"], "y", "t", num_trees=2, max_depth=2,
                        min_node_size=20, seed=7)


LEAKED = {
    "permutation-one-arm": (
        lambda s: permutation(_frame(s, t=np.zeros(400, dtype=int)),
                              "avg(y)", "t", permutation_num=10)),
    "kstest-one-group": (
        lambda s: _range_path(kolmogorov_smirnov_test)(
            _frame(s, t=np.zeros(400, dtype=int)), "y", "t")),
    "causal-forest-1-2-coding": (
        lambda s: _forest().fit(_frame(s, t=1 + np.arange(400) % 2))),
}

HELD = {
    "ordered-logit-one-category": (
        lambda s: ordered_logit(_frame(s, g=np.ones(400, dtype=int)),
                                "g ~ x1")),
    "glm-gamma-nonpositive-y": (
        lambda s: glm(_frame(s), "y ~ x1", family="gamma")),
    "glm-grouped-over-max-groups": (
        lambda s: glm_grouped(_frame(s, seed=6), "y ~ x1", "g",
                              family="gaussian", max_groups=3)),
    "quantreg-n-below-p-plus-1": (
        lambda s: quantile_regression(_frame(s, n=3), "y ~ x1 + x2")),
}


@pytest.mark.parametrize("call", [*LEAKED.values(), *HELD.values()],
                         ids=[*LEAKED, *HELD])
def test_raising_exit_releases_cache(spark, call):
    before = _cached(spark)
    with pytest.raises(ValueError):
        call(spark)
    assert _cached(spark) == before


def _fail_on_collect(monkeypatch, nth):
    """Make the ``nth`` DataFrame.collect of the call raise."""
    real = ClassicDataFrame.collect
    calls = []

    def collect(self):
        calls.append(1)
        if len(calls) == nth:
            raise RuntimeError("injected job failure")
        return real(self)

    monkeypatch.setattr(ClassicDataFrame, "collect", collect)
    return calls


def test_logistic_mid_loop_failure_releases_cache(spark, monkeypatch):
    df = _frame(spark, seed=11)
    monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    before = _cached(spark)
    calls = _fail_on_collect(monkeypatch, 3)
    with pytest.raises(RuntimeError, match="injected"):
        logistic_regression(df, "yb ~ x1 + x2")
    assert len(calls) == 3
    assert _cached(spark) == before


def test_spread_child_count_failure_releases_child(spark, monkeypatch):
    """``repartition_big_design`` registers its repartitioned child with
    the caller's scope before the child's materializing count: a count
    that fails once Spark has cached the child still releases it."""
    df = spark.range(20_000).select(
        (F.col("id") % 17).cast("double").alias("x")).coalesce(1)
    real = ClassicDataFrame.count
    calls = []

    def count(self):
        calls.append(1)
        n = real(self)
        if len(calls) == 3:             # the child's count
            raise RuntimeError("injected count failure")
        return n

    before = _cached(spark)
    with pytest.raises(RuntimeError, match="injected"):
        with design.persisted() as keep:
            work = keep(df.persist(StorageLevel.MEMORY_AND_DISK))
            monkeypatch.setattr(ClassicDataFrame, "count", count)
            work.count()
            # count 2 probes the row spread, count 3 is the child's
            design.repartition_big_design(work, 20_000, keep,
                                          min_rows=10_000)
    assert len(calls) == 3
    assert _cached(spark) == before


def test_forest_level_failure_releases_cache(spark, monkeypatch):
    df = _frame(spark, seed=12)

    def fail(*args, **kwargs):
        raise RuntimeError("injected level failure")

    monkeypatch.setattr(CausalForest, "_level_stats", fail)
    before = _cached(spark)
    with pytest.raises(RuntimeError, match="injected"):
        _forest().fit(df)
    assert _cached(spark) == before


@pytest.mark.parametrize("small_rows", [0, None],
                         ids=["distributed", "collected"])
def test_logistic_success_releases_cache(spark, monkeypatch, small_rows):
    df = _frame(spark, seed=13)
    if small_rows is not None:
        monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", small_rows)
    before = _cached(spark)
    model = logistic_regression(df, "yb ~ x1 + x2")
    assert model.converged
    assert _cached(spark) == before


def test_glm_grouped_success_releases_cache(spark):
    df = _frame(spark, seed=14)
    before = _cached(spark)
    models = glm_grouped(df, "y ~ x1", "g", family="gaussian")
    assert len(models) == 5
    assert _cached(spark) == before


def test_forest_success_releases_cache(spark):
    df = _frame(spark, seed=15)
    before = _cached(spark)
    forest = _forest().fit(df)
    assert any(node.feature is not None
               for node in forest.trees_[0].values())
    assert _cached(spark) == before


# the only release calls left in operators/ and uplift/: the scope
# itself and the two early releases that cap peak memory
_RELEASES_ALLOWED = {
    "operators/design.py": None,               # any function
    "uplift/causal_forest.py": {"_prepare"},
}


def _unpersist_sites(root: pathlib.Path):
    """(module, innermost enclosing function, line) of every
    ``.unpersist(`` call under operators/ and uplift/."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if isinstance(child, ast.Call) \
                    and isinstance(child.func, ast.Attribute) \
                    and child.func.attr == "unpersist":
                yield fn, child.lineno
            yield from walk(child, fn)

    for sub in ("operators", "uplift"):
        for path in sorted((root / sub).glob("*.py")):
            tree = ast.parse(path.read_text())
            for fn, line in walk(tree, "<module>"):
                yield f"{sub}/{path.name}", fn, line


def test_no_hand_placed_release():
    root = pathlib.Path(fast_causal_inference_spark.__file__).parent
    stray = []
    for rel, fn, line in _unpersist_sites(root):
        allowed = _RELEASES_ALLOWED.get(rel, set())
        if allowed is not None and fn not in allowed:
            stray.append(f"{rel}:{line} in {fn}()")
    assert not stray, (
        "release call-scoped caches with design.persisted(), not by hand: "
        + ", ".join(stray))
