"""One design prep for every iterative solver (``design.prepare_design``).

- Jobs: no solver on the shared prep runs more Spark jobs than it did
  with its hand-rolled prep, on the collected and on the distributed
  branch (the bounds are the hand-rolled counts on the same fixture).
- Scans: the survival fitters read their source once; the
  proportional-hazards test with ``beta=None`` fits Cox on the same
  persisted design.
- Guard: outside ``design.py`` no module sizes its own design, except
  the allow-list below.
- The shared ascent rejects a non-finite log-likelihood, and climbs from
  a start whose Hessian is indefinite.
"""
import ast
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import fast_causal_inference_spark
from fast_causal_inference_spark.operators import design
from fast_causal_inference_spark.operators.balancing import entropy_balancing
from fast_causal_inference_spark.operators.quantreg import (
    quantile_regression,
)
from fast_causal_inference_spark.operators.selection import heckman
from fast_causal_inference_spark.operators.survival import (
    cox_ph,
    proportional_hazards_test,
    weibull_aft,
)


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.default_rng(21)
    n = 600
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    z1 = rng.normal(0, 1, n)
    t = (rng.uniform(size=n) < 1 / (1 + np.exp(-0.5 * x1))).astype(int)
    s = (0.2 + 0.9 * z1 + 0.3 * x1 + rng.normal(0, 1, n) > 0).astype(int)
    y = 1 + 0.5 * x1 - 0.3 * x2 + 0.8 * t + rng.normal(0, 1, n)
    # Weibull AFT times (shape 1.5), censored, on a 0.1 grid (ties)
    tev = np.exp(1.0 + 0.4 * x1 - 0.2 * x2
                 + np.log(rng.exponential(size=n)) / 1.5)
    tcen = rng.exponential(6.0, n)
    return pd.DataFrame({
        "x1": x1, "x2": x2, "z1": z1, "t": t, "s": s, "y": y,
        "tt": np.round(np.minimum(tev, tcen), 1) + 0.1,
        "ee": (tev <= tcen).astype(float)})


@pytest.fixture(scope="module")
def df(spark, pdf):
    out = spark.createDataFrame(pdf).repartition(4).cache()
    out.count()
    return out


CALLS = {
    "quantreg": lambda d: quantile_regression(d, "y ~ x1 + x2", tau=0.4),
    "entropy": lambda d: entropy_balancing(d, "t", ["x1", "x2"]),
    "heckman": lambda d: heckman(d, "y ~ x1", "s ~ x1 + z1"),
    "cox": lambda d: cox_ph(d, "tt", "ee", ["x1", "x2"]),
    "ph": lambda d: proportional_hazards_test(d, "tt", "ee", ["x1", "x2"]),
    "weibull": lambda d: weibull_aft(d, "tt", "ee", ["x1", "x2"]),
}

# Spark jobs of each call with the hand-rolled preps this module
# replaced, measured on this fixture (local[4], 4 shuffle partitions)
HAND_ROLLED_JOBS = {
    "collected": {"quantreg": 4, "entropy": 4, "heckman": 11, "cox": 3,
                  "ph": 6, "weibull": 3},
    "distributed": {"quantreg": 11, "entropy": 11, "heckman": 32,
                    "cox": 23, "ph": 29, "weibull": 27},
}


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "")
    try:
        fn()
    finally:
        sc.setJobGroup("default", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("branch", ["collected", "distributed"])
def test_no_solver_runs_more_jobs(spark, df, monkeypatch, branch):
    if branch == "distributed":
        monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    jobs = {name: _jobs(spark, f"prep_{branch}_{name}",
                        lambda fn=fn: fn(df))
            for name, fn in CALLS.items()}
    bound = HAND_ROLLED_JOBS[branch]
    assert {k: v for k, v in jobs.items() if v > bound[k]} == {}, jobs


@pytest.mark.parametrize("small_rows", [None, 0],
                         ids=["collected", "distributed"])
@pytest.mark.parametrize("call", ["cox", "ph", "weibull"])
def test_survival_fitters_scan_source_once(spark, pdf, monkeypatch, call,
                                           small_rows):
    if small_rows is not None:
        monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", small_rows)
    base = spark.createDataFrame(pdf).cache()
    base.count()
    rows = spark.sparkContext.accumulator(0)

    def seen(v):
        rows.add(1)
        return v

    # nondeterministic: the optimizer may neither push filters through
    # the counting projection nor duplicate it
    count = F.udf(seen, "double").asNondeterministic()
    src = base.select(count("tt").alias("tt"), "ee", "x1", "x2")
    CALLS[call](src)
    base.unpersist()
    assert rows.value == len(pdf)


_SIZING = {"small_design_limit", "collect_small_design",
           "repartition_big_design"}

# modules that size their own design, and why
_SIZING_ALLOWED = {
    "operators/ordinal.py": "its category index needs a pass over the "
                            "cache before the design's columns exist",
}


def _sizing_calls(source: str) -> list[int]:
    """Lines of ``source`` that call a design-sizing helper, by name or
    as an attribute."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            if name in _SIZING:
                lines.append(node.lineno)
    return lines


def test_only_design_sizes_designs():
    root = pathlib.Path(fast_causal_inference_spark.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/design.py" or rel in _SIZING_ALLOWED:
            continue
        stray += [f"{rel}:{ln}" for ln in _sizing_calls(path.read_text())]
    assert not stray, (
        "build the design through design.prepare_design, which owns the "
        "collect-or-spread decision: " + ", ".join(stray))


@pytest.mark.parametrize("source, n", [
    ("design.small_design_limit(k + 2)", 1),
    ("x = repartition_big_design(w, n, keep)", 1),
    ("collect_small_design(df, xs, y, off, n_rows=n)", 1),
    ("# small_design_limit(3) in a comment", 0),
    ("doc = 'repartition_big_design'", 0),
])
def test_sizing_guard_flags(source, n):
    assert len(_sizing_calls(source)) == n


def test_ascent_halves_non_finite_steps():
    """A full Newton step onto a NaN log-likelihood is halved, not
    taken: the maximum of ll = -(θ-1)² is defined only for θ < 1.5."""
    def scan(th):
        ll = -(th[0] - 1.0) ** 2 if th[0] < 1.5 else float("nan")
        return ll, np.array([-2.0 * (th[0] - 1.0)]), np.array([[-0.5]])

    theta, ll, _, _, converged = design.newton_ascent(
        scan, np.array([0.0]), 50, 1e-12)
    assert np.isfinite(ll) and converged
    assert abs(theta[0] - 1.0) < 1e-6


def test_weibull_ascent_never_ends_below_its_start(spark, monkeypatch):
    """Exponential event times whose OLS start has an indefinite Hessian
    (one eigenvalue +73): the plain Newton direction lowers the
    log-likelihood under every halving.  The ascent shifts the Hessian to
    H − λI until it is negative definite, climbs from the start and ends
    converged at the truth (AFT slopes −0.7 and 0.2); without the shift
    it stopped at the start, unconverged."""
    from fast_causal_inference_spark.operators import survival

    rng = np.random.default_rng(0)
    n = 3000
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 2, n)
    tev = rng.exponential(1.0 / (0.1 * np.exp(0.7 * x1 - 0.2 * x2)))
    tcen = rng.exponential(15.0, n)
    df = spark.createDataFrame(pd.DataFrame({
        "x1": x1, "x2": x2, "tt": np.round(np.minimum(tev, tcen), 1) + 0.1,
        "ee": (tev <= tcen).astype(float)}))
    seen = {}
    ascent = survival.newton_ascent

    def recorded(scan, theta, max_iter, tol):
        seen["start"] = scan(theta)[0]
        return ascent(scan, theta, max_iter, tol)

    monkeypatch.setattr(survival, "newton_ascent", recorded)
    out = weibull_aft(df, "tt", "ee", ["x1", "x2"])
    assert out.attrs["loglik"] > seen["start"] + 100
    assert out.attrs["converged"]
    coef = out.set_index("name")
    for name, true in (("x1", -0.7), ("x2", 0.2)):
        assert abs(coef.coef[name] - true) < 3 * coef.stderr[name]
