"""One readout path for the t-test family (``suffstats.arm_cells``).

- A grouped readout's row for each group equals the ungrouped call on that
  group's rows, bit for bit: ``ttest_2samp`` (plain, CUPED, post-stratified),
  ``ttests_2samp``, ``ttest_1samp``, ``welch_ttest`` and the TOST.  The
  groups include a NULL key, a NaN key (a group of its own, not NULL's), a
  group with one arm, and a post-stratified group with a singleton stratum.
- Grouped results are eager driver frames: a grouped CUPED t-test read
  with ``toPandas`` runs no more than 3 Spark jobs.
- ``ttest.py`` and ``xexpt.py`` start no Python worker.
"""
import math
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import fast_causal_inference_spark as fcis
from fast_causal_inference_spark.operators import ttest

NAN = float("nan")

SCHEMA = T.StructType([T.StructField("k", T.DoubleType()),
                       T.StructField("arm", T.LongType()),
                       T.StructField("y", T.DoubleType()),
                       T.StructField("x", T.DoubleType()),
                       T.StructField("p", T.LongType())])


@pytest.fixture(scope="module")
def df(spark):
    rng = np.random.default_rng(16)
    rows = []
    for i in range(2400):
        k = (0.0, 1.0, 2.0, NAN, None)[i % 5]
        arm = 1 if k == 2.0 else (None if i % 97 == 0 else int(i // 5 % 3))
        x = float(rng.normal())
        y = None if i % 41 == 0 else float(0.6 * x + rng.exponential()
                                           + 0.1 * (arm or 0))
        rows.append((k, arm, y, x, int(i % 4)))
    # a singleton stratum (p = 99) in group 0.0: skipped by the pse test
    rows.append((0.0, 1, 1.5, 0.2, 99))
    out = spark.createDataFrame(rows, SCHEMA).repartition(4).cache()
    out.count()
    return out


READOUTS = {
    "ttest_2samp": lambda d, **g: fcis.ttest_2samp(d, "avg(y)", "arm", **g),
    "cuped": lambda d, **g: fcis.ttest_2samp(
        d, "avg(y)/avg(x + 3)", "arm", X="avg(x)", alternative="less", **g),
    "pse": lambda d, **g: fcis.ttest_2samp(d, "avg(y)", "arm", X="avg(x)",
                                           pse="p", **g),
    "ttests_2samp": lambda d, **g: ttest.ttests_2samp(
        d, "avg(y)", "arm", alternatives="less,greater", **g),
    "ttest_1samp": lambda d, **g: ttest.ttest_1samp(d, "avg(y)", mu=1.0,
                                                    **g),
    "welch": lambda d, **g: ttest.welch_ttest(d, "y", "arm", **g),
    "tost": lambda d, **g: ttest.equivalence_ttest_2samp(
        d, "avg(y)", "arm", margin=0.2, **g),
}


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return np.float64(a).view(np.uint64) == np.float64(b).view(np.uint64)
    return a == b


@pytest.mark.parametrize("name", list(READOUTS))
def test_group_row_equals_ungrouped_call_on_its_rows(spark, df, name):
    call = READOUTS[name]
    grouped = call(df, group_cols=["k"]).collect()
    keys = {("nan" if isinstance(r.k, float) and math.isnan(r.k) else r.k)
            for r in grouped}
    assert keys == {0.0, 1.0, 2.0, "nan", None}
    for key in keys:
        rows = (F.isnan("k") if key == "nan" else F.col("k").isNull()
                if key is None else F.col("k") == key)
        mine = [r.asDict() for r in grouped
                if ("nan" if isinstance(r.k, float) and math.isnan(r.k)
                    else r.k) == key]
        solo = [r.asDict() for r in
                call(df.where(rows)).collect()]
        assert len(mine) == len(solo)
        for got, want in zip(mine, solo):
            got.pop("k")
            assert list(got) == list(want)
            bad = [c for c in want if not _same(got[c], want[c])]
            assert not bad, (name, key, bad, got, want)
    if name != "ttest_1samp":       # the one-arm group has no contrast
        assert all(r.stderr is None for r in grouped if r.k == 2.0)


def test_pse_skips_singleton_strata(spark, df):
    got = fcis.ttest_2samp(df, "avg(y)", "arm", pse="p", group_cols=["k"])
    without = fcis.ttest_2samp(df.where("p != 99"), "avg(y)", "arm", pse="p",
                               group_cols=["k"])
    row = {r.k: r for r in got.collect()}[0.0]
    assert row == {r.k: r for r in without.collect()}[0.0]


def test_grouped_cuped_ttest_runs_at_most_three_jobs(spark, df):
    sc = spark.sparkContext
    sc.setJobGroup("grouped_cuped_ttest", "")
    try:
        fcis.ttest_2samp(df, "avg(y)", "arm", X="avg(x)",
                         group_cols=["k"]).toPandas()
    finally:
        sc.setJobGroup("default", "")
    assert len(sc.statusTracker().getJobIdsForGroup(
        "grouped_cuped_ttest")) <= 3


def test_readout_modules_start_no_python_worker():
    root = pathlib.Path(ttest.__file__).parent
    for mod in ("ttest.py", "xexpt.py"):
        text = (root / mod).read_text()
        for site in ("mapInPandas", "applyInPandas", "pandas_udf"):
            assert site not in text, (mod, site)
