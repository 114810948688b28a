"""Persisted design projection, the cache lifetime of one call, and the
shared solver kernels.

Every iterative operator in this package scans its input once per
iteration (one Gramian-shaped aggregation).  Re-deriving the design
from the source relation on every step repeats the parquet scan and the
feature expression evaluation 5–50 times per fit.  The standard fix —
what Spark MLlib's ``handlePersistence`` does before L-BFGS/IRLS — is to
project the complete-case design down to a flat double-typed relation,
persist it MEMORY_AND_DISK for the duration of the loop, and release it
afterwards.

At 100 TB this is not an optional micro-optimisation: the projected
design is p+O(1) doubles per row — orders of magnitude narrower than
the source table — and MEMORY_AND_DISK spills per-executor to local
disk when it does not fit, so each iteration reads columnar in-memory
(or local-disk) batches instead of re-scanning remote storage.

A cache made for one call lives in one :func:`persisted` scope, which
releases it when the call returns or raises.  Caches meant to outlive
the call (``datapipe.cachereg``, model count frames) are not scoped.

ONE design prep serves every iterative solver: :func:`prepare_design`
filters the complete cases, persists the named columns, runs one
materializing probe aggregate (the row count plus whatever start values
or input checks the solver needs), then collects the design below the
small-design cutoff or spreads it across the cores above it.  Its users:

- the GLM fitters (``logistic_regression``, ``glm``, its binomial links,
  negative binomial) and ``quantile_regression(_multi)``, through the
  ``y ~ features`` front :func:`formula_design` — quantreg's OLS warm
  start rides the probe;
- ``entropy_balancing`` (both arms; the probe holds the treated moment
  target);
- ``heckman`` (the step-2 design, whose probe holds the column means,
  and the probit information pass);
- ``cox_ph``, ``proportional_hazards_test`` and ``weibull_aft``
  (Weibull's log-time OLS start rides the probe).

``ordered_logit`` sizes its own collect: its category index needs a
pass over the cache before the design's columns exist.

The GLMs run ONE Fisher-scoring kernel, in the shape of Spark ML's
single IRLS driver with a per-family reweight function:
:meth:`Design.sums` is one Gramian step (a distributed aggregation, or
its numpy twin on a collected small design), and :meth:`Design.newton`
is the solve loop.  A fitter supplies only its :class:`Rule` — the
per-row (weight, working response) algebra — plus its start value, its
input checks and its deviance passes.  ``ordered_logit`` and
``weibull_aft`` share the step-halving likelihood ascent
:func:`newton_ascent`.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F

__all__ = ["persisted", "collect_columns", "small_design_limit",
           "SMALL_DESIGN_MAX_ROWS", "Prepared", "prepare_design",
           "formula_design", "Rule", "Design", "irls_frame", "gramian_aggs",
           "sym_aggs", "unpack_sym", "unpack_gramian", "newton_ascent"]


@contextmanager
def persisted() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield ``keep``, which registers a frame the caller persisted
    (``work = keep(df.select(...).persist(level))``) and returns it;
    on exit, normal or raising, every registered frame is released,
    newest first so a cache built from another goes before its source.
    Keeping a frame twice, or one already released early, is harmless.
    """
    frames: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        frames.append(df)
        return df

    try:
        yield keep
    finally:
        for df in reversed(frames):
            df.unpersist()


def collect_columns(df: DataFrame) -> dict[str, np.ndarray]:
    """Collect every column of a (projected, numeric) frame as float64
    numpy arrays, via Arrow without the pandas block-consolidation step
    (the hottest driver line of the solver families under sampling);
    identical values/row order to ``toPandas()`` (NULL → NaN)."""
    try:
        tbl = df.toArrow()
        return {nm: tbl.column(i).to_numpy(zero_copy_only=False)
                    .astype(float, copy=False)
                for i, nm in enumerate(tbl.column_names)}
    except Exception:
        pdf = df.toPandas()
        return {nm: pdf[nm].to_numpy(dtype=float) for nm in pdf.columns}

# Small-input cutoff for the iterative solvers (round 11) — the same
# idea as the rank tests' small-input cutoff (ranks.ranked): a
# design under the cutoff is at most a couple hundred MB of doubles, so
# the solver collects it ONCE and iterates driver-side in numpy, paying
# one Spark job instead of one per IRLS/Newton step (each step's job
# costs ~180 ms scheduling + ~300-420 ms Catalyst latency — SCALE.md
# round-6 decomposition — that dwarfs the numpy arithmetic).  Above the
# cutoff the distributed Gramian path runs unchanged — that is the
# 100 TB path, and the estimates are identical up to float-summation
# order either way.  The cutoff is CELL-budgeted (rows × design width),
# so wide designs collect proportionally fewer rows and driver memory
# stays bounded at ~MAX_CELLS × 8 bytes regardless of p.
SMALL_DESIGN_MAX_ROWS = int(os.environ.get(
    "FCIS_SMALL_DESIGN_ROWS", "2000000"))
SMALL_DESIGN_MAX_CELLS = 16_000_000


def small_design_limit(width: int) -> int:
    """Most rows a design ``width`` doubles wide may have and still be
    collected: the row cap, or the cell budget over the width when that
    is smaller.  Reads the module settings at call time, so a patched
    cutoff reaches every solver."""
    return min(SMALL_DESIGN_MAX_ROWS, SMALL_DESIGN_MAX_CELLS // max(width, 1))


def repartition_big_design(df: DataFrame, n_rows: int,
                           keep: Callable[[DataFrame], DataFrame],
                           min_rows: int = 3_000_000) -> DataFrame:
    """Spread an ABOVE-cutoff persisted design across the session's
    cores when the source layout yields fewer splits than cores.

    Iterative solvers scan the cached design once per IRLS/Newton step;
    a big single-file parquet source (one split under
    ``maxPartitionBytes``) serializes EVERY step on one core — measured
    at a ×30 replica: a quantreg Newton scan of an 18M-row design took
    ~4 s on its single cached partition vs ~0.3 s spread across 32.
    One round-robin shuffle at solver init buys every subsequent scan
    full parallelism; round robin keeps the layout deterministic for a
    given (source layout, target count).

    Only call this above the small-design cutoff: below it the collected
    numpy path never scans the cache again, and the golden-oracle scales
    (sf0.01) always sit below the cutoff, so their float-sum combine
    order is untouched.

    Returns the repartitioned, persisted child, materialized before the
    parent cache is dropped.  The child joins the caller's
    :func:`persisted` scope through ``keep`` before its materializing
    count, so a failing count releases it with the parent."""
    if n_rows < min_rows:
        return df
    try:
        spark = df.sparkSession
        cores = spark.sparkContext.defaultParallelism
        # partition COUNT lies about distribution: a single-row-group
        # parquet file (any one-file table a single writer produced)
        # splits into byte ranges of which exactly ONE holds every row
        # — getNumPartitions() says 28, the scan runs on 1 core.  Ask
        # for the true row spread instead: one cheap JVM aggregation
        # over the cache the caller's probe just materialized (a
        # python-side first-row probe was measured 20x slower — it
        # drags rows through the Arrow socket).
        spread = df.groupBy(F.spark_partition_id()).count() \
            .where(F.col("count") > 0).count()
    except Exception:
        return df
    if spread >= min(cores, 8):
        return df
    work = keep(df.repartition(cores).persist(StorageLevel.MEMORY_AND_DISK))
    work.count()
    # early release: once the child holds every row, keeping the parent
    # to the scope's exit would pin two copies through the solver loop
    df.unpersist()
    return work


class Prepared(NamedTuple):
    """A persisted design (:func:`prepare_design`): ``work`` is the
    persisted relation of the named columns, ``probe`` the materializing
    pass's row (``n`` plus the caller's probes), and ``arrays`` the
    collected columns by name when the design fits the small-design
    budget, else None."""
    work: DataFrame
    probe: Row
    arrays: dict[str, np.ndarray] | None


def prepare_design(keep: Callable[[DataFrame], DataFrame], df: DataFrame,
                   cols: dict[str, Column], where: Column | None = None,
                   probe: Sequence[Column] = (), order_free: bool = False,
                   check: Callable[[Row], None] | None = None,
                   width: int | None = None) -> Prepared:
    """Keep the rows of ``df`` that pass ``where`` (default: every named
    column non-NULL), project them to ``cols`` (name → Column) and
    persist the projection, registered with ``keep``; run ONE
    materializing pass that returns ``count`` as ``n`` plus the
    ``probe`` aggregates, which read the persisted columns by name; then
    ``check(row)``.  Below :func:`small_design_limit` of ``width``
    (default: the number of columns) doubles per row, collect the
    design; above it, :func:`repartition_big_design`.

    The pass is one aggregate: three Spark jobs on the fresh cache (the
    cache stage, the partial aggregate's shuffle, the result).  When
    every probe gives the same value in any merge order (``order_free``:
    count, min, max), it is instead a no-op write that observes them, two
    jobs.  A summed probe must not be observed: observed partials merge
    in task completion order, so its low bits would vary run to run.

    The filter must drop every row with a NULL in a column the solver
    sums: such a row would otherwise enter some sums and not others,
    silently biasing the solve.  Constants (an intercept, a zero
    offset) are never persisted — they cost storage, not compute.

    The count sizes the collect, so an over-cutoff table costs one cheap
    pass — an earlier LIMIT-probe variant shipped cutoff-many Arrow rows
    to the driver before giving up, a measured multi-second tax on every
    big-input solver call."""
    if where is None:
        where = F.lit(True)
        for c in cols.values():
            where = where & c.isNotNull()
    # NOTE: deliberately NO repartition — the projection keeps the
    # source's split layout, so per-partition row order (and therefore
    # every float-sum combine order) is identical to scanning the
    # source directly: results stay bit-for-bit what the un-persisted
    # loop produced, which the frozen golden oracles depend on.  A
    # repartition here once broke gen_goldens' cross-process
    # determinism check (partition count followed defaultParallelism).
    work = keep(df.where(where)
                .select(*[c.alias(nm) for nm, c in cols.items()])
                .persist(StorageLevel.MEMORY_AND_DISK))
    aggs = [F.count(F.lit(1)).alias("n"), *probe]
    if order_free:
        seen = Observation()
        work.observe(seen, *aggs).write.format("noop") \
            .mode("overwrite").save()
        row = Row(**seen.get)
    else:
        row = work.agg(*aggs).collect()[0]
    if check:
        check(row)
    n = int(row["n"])
    lim = small_design_limit(len(cols) if width is None else width)
    if lim > 0 and n <= lim:
        return Prepared(work, row, collect_columns(work))
    return Prepared(repartition_big_design(work, n, keep), row, None)


class Rule(NamedTuple):
    """One GLM's per-row Fisher-scoring algebra.

    ``stage(η)`` lists the Columns materialized once per row ahead of
    the weights — the mean, and whatever else (w, z) reference more than
    once (CollapseProject keeps a multi-referenced non-cheap alias in
    its own Project, so ``exp``/``erf`` run once per row; the per-row
    arithmetic, hence every float sum, is bit-identical to the inlined
    form).  ``wz(η, y, off, staged)`` gives the (weight, working
    response) Columns over those staged columns, and ``wz_np(η, y,
    off)`` is its numpy twin on the collected design."""
    stage: Callable[[Column], list[Column]]
    wz: Callable[[Column, Column, Column, list[Column]],
                 tuple[Column, Column]]
    wz_np: Callable[[np.ndarray, np.ndarray, np.ndarray],
                    tuple[np.ndarray, np.ndarray]]


def irls_frame(df: DataFrame, xs: list[Column], y: Column, off: Column,
               eta: Column, rule: Rule, keys: tuple[str, ...] = (),
               ) -> DataFrame:
    """``(keys…, __p{i}__, __w__, __z__, __yy__)`` rows of one Fisher
    step, staged η → the rule's staged columns → (w, z)."""
    base = df.select(*keys, *[c.alias(f"__p{i}__") for i, c in enumerate(xs)],
                     y.alias("__yy__"), eta.alias("__eta__"),
                     off.alias("__o__"))
    staged = rule.stage(F.col("__eta__"))
    if staged:
        base = base.select("*", *[c.alias(f"__m{i}__")
                                  for i, c in enumerate(staged)])
    w, z = rule.wz(F.col("__eta__"), F.col("__yy__"), F.col("__o__"),
                   [F.col(f"__m{i}__") for i in range(len(staged))])
    return base.select(*keys, *[F.col(f"__p{i}__") for i in range(len(xs))],
                       w.alias("__w__"), z.alias("__z__"), F.col("__yy__"))


def sym_aggs(p: int, name: str,
             term: Callable[[int, int], Column]) -> list[Column]:
    """``Σ term(i, j)`` for i ≤ j < p as ``{name}{i}_{j}``: the upper
    triangle of a symmetric sum matrix (:func:`unpack_sym`)."""
    return [F.sum(term(i, j)).alias(f"{name}{i}_{j}")
            for i in range(p) for j in range(i, p)]


def unpack_sym(row, p: int, name: str) -> np.ndarray:
    """The symmetric p×p matrix of ``{name}{i}_{j}`` (i ≤ j) in ``row``
    (a Row or a dict)."""
    A = np.empty((p, p))
    for i in range(p):
        for j in range(i, p):
            A[i, j] = A[j, i] = row[f"{name}{i}_{j}"]
    return A


def gramian_aggs(p: int, w: Column | None = None,
                 rhs: bool = True) -> list[Column]:
    """Aggregates of one Fisher step over :func:`irls_frame` columns:
    Σw·pᵢ·z as ``b{i}`` (when ``rhs``), Σw·pᵢ·pⱼ (i ≤ j) as ``a{i}_{j}``
    and the outcome count as ``n__``; ``w`` defaults to ``__w__``."""
    ps = [F.col(f"__p{i}__") for i in range(p)]
    w = F.col("__w__") if w is None else w
    aggs = [F.sum(w * ps[i] * F.col("__z__")).alias(f"b{i}")
            for i in range(p)] if rhs else []
    aggs += sym_aggs(p, "a", lambda i, j: w * ps[i] * ps[j])
    aggs.append(F.count(F.col("__yy__")).alias("n__"))
    return aggs


def unpack_gramian(row: Row, p: int, rhs: bool = True,
                   ) -> tuple[np.ndarray, np.ndarray | None, float]:
    """``(A, b, n)`` from one row of :func:`gramian_aggs`; A is filled
    symmetric, b is None without ``rhs``."""
    b = np.array([row[f"b{i}"] for i in range(p)], dtype=float) \
        if rhs else None
    return unpack_sym(row, p, "a"), b, float(row["n__"])


@dataclass
class Design:
    """A complete-case ``y ~ features`` design persisted for one fit
    (:func:`formula_design`).

    ``work`` is the persisted relation and ``xs``/``y``/``off`` are
    rebased onto it; ``probe`` is the materializing aggregate's row
    (``n`` plus the caller's probes); ``arrays`` holds the collected
    ``(X, y, off)`` when the design fits the small-design budget."""
    work: DataFrame
    xs: list[Column]
    y: Column
    off: Column
    probe: Row
    arrays: tuple[np.ndarray, np.ndarray, np.ndarray] | None

    def eta(self, beta: np.ndarray) -> Column:
        """η = Σ βⱼ·xⱼ + off as a Column, coefficients as literals."""
        eta: Column = F.lit(float(beta[0])) * self.xs[0]
        for j in range(1, len(self.xs)):
            eta = eta + F.lit(float(beta[j])) * self.xs[j]
        return eta + self.off

    def sums(self, beta: np.ndarray, rule: Rule,
             ) -> tuple[np.ndarray, np.ndarray, float]:
        """One Fisher step's ``(A, b, n)`` = (Σw·xxᵀ, Σw·x·z, rows) at
        β: numpy on the collected design, else ONE aggregation of the
        staged :func:`irls_frame` (O(p²) doubles shuffled)."""
        p = len(self.xs)
        if self.arrays is not None:
            X, yv, ov = self.arrays
            eta = X @ beta + ov
            w, z = rule.wz_np(eta, yv, ov)
            Xw = X * w[:, None]
            return Xw.T @ X, X.T @ (w * z), float(len(yv))
        step = irls_frame(self.work, self.xs, self.y, self.off,
                          self.eta(beta), rule)
        return unpack_gramian(step.agg(*gramian_aggs(p)).collect()[0], p)

    def newton(self, rule: Rule, beta: np.ndarray, max_iter: int,
               tol: float, one_step: bool = False,
               ) -> tuple[np.ndarray, np.ndarray, float, int, bool]:
        """Fisher scoring β ← A⁻¹b with ``(A, b, n) = sums(β, rule)``
        until the largest coefficient move is under ``tol`` (or after
        one step when ``one_step``: an identity link solves in one).
        Returns ``(β, A, n, iterations, converged)``; A is the last
        step's Fisher information."""
        A, n, it, converged = np.eye(len(beta)), 0.0, 0, False
        for it in range(1, max_iter + 1):
            A, b, n = self.sums(beta, rule)
            new_beta = np.linalg.solve(A, b)
            delta = float(np.max(np.abs(new_beta - beta)))
            beta = new_beta
            if delta < tol or one_step:
                converged = True
                break
        return beta, A, n, it, converged


def formula_design(keep: Callable[[DataFrame], DataFrame], df: DataFrame,
                   y_expr: str, feats: list[str], offset: str | None = None,
                   use_bias: bool = True,
                   probe: Callable[[Column], list[Column]] | None = None,
                   check: Callable[[Row], None] | None = None) -> Design:
    """:func:`prepare_design` of ``y_expr ~ feats (+ offset)``: the
    persisted columns are ``__y__``, ``__x{j}__`` and ``__off__``;
    ``probe(y)`` adds aggregates over the rebased outcome.  The design's
    ``xs`` gain a leading ``lit(1.0)`` bias when ``use_bias``, and
    ``off`` is ``lit(0.0)`` without an offset."""
    if not feats and not use_bias:
        raise ValueError("empty design: no features and use_bias=False")
    cols = {"__y__": F.expr(y_expr).cast("double")}
    cols.update({f"__x{j}__": F.expr(e).cast("double")
                 for j, e in enumerate(feats)})
    if offset is not None:
        cols["__off__"] = F.expr(offset).cast("double")
    y = F.col("__y__")
    prep = prepare_design(keep, df, cols, probe=probe(y) if probe else (),
                          order_free=probe is None, check=check,
                          width=len(feats) + (1 if use_bias else 0) + 2)
    xs = ([F.lit(1.0)] if use_bias else []) \
        + [F.col(f"__x{j}__") for j in range(len(feats))]
    off = F.col("__off__") if offset is not None else F.lit(0.0)
    arrays = None
    if prep.arrays is not None:
        a = prep.arrays
        n = len(a["__y__"])
        X = np.column_stack(([np.ones(n)] if use_bias else [])
                            + [a[f"__x{j}__"] for j in range(len(feats))])
        arrays = (X, a["__y__"],
                  a["__off__"] if offset is not None else np.zeros(n))
    return Design(prep.work, xs, y, off, prep.probe, arrays)


def _levenberg(H: np.ndarray) -> np.ndarray:
    """H itself when it is negative definite (or not finite); otherwise
    H − λI with λ doubling from max(1, max|Hᵢᵢ|) until −(H − λI) has a
    Cholesky factor (a Levenberg shift).  Starting at the Hessian's scale
    keeps the step short: a λ just past the top eigenvalue would leave a
    near-singular matrix and a huge step."""
    lam, A = max(1.0, float(np.max(np.abs(np.diag(H))))), H
    while np.all(np.isfinite(H)):
        try:
            np.linalg.cholesky(-A)
            break
        except np.linalg.LinAlgError:
            A = H - lam * np.eye(len(H))
            lam *= 2.0
    return A


def newton_ascent(scan: Callable[[np.ndarray],
                                 tuple[float, np.ndarray, np.ndarray]],
                  theta: np.ndarray, max_iter: int, tol: float,
                  ) -> tuple[np.ndarray, float, np.ndarray, int, bool]:
    """Maximize a log-likelihood by Newton steps θ ← θ − H⁻¹g, where
    ``scan(θ)`` gives ``(ll, g, H)`` (H negative definite near the
    optimum).  Where H is not negative definite (an indefinite start) it
    is shifted to H − λI first (:func:`_levenberg`), so the step points
    uphill.  A step that lowers ll or makes it non-finite is halved,
    up to 20 times; when every halving still lowers ll the loop stops
    where it is, unconverged, and never takes a worse point.  It stops
    converged once the step or the ll change is under ``tol``.  Returns
    ``(θ, ll, H, iterations, converged)``."""
    def worse(ll_new):
        return not np.isfinite(ll_new) or ll_new < ll - 1e-12

    ll, g, H = scan(theta)
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        try:
            step = np.linalg.solve(_levenberg(H), g)
        except np.linalg.LinAlgError:
            step = np.linalg.pinv(H) @ g
        new = theta - step
        ll_new, g_new, H_new = scan(new)
        halves = 0
        while worse(ll_new) and halves < 20:
            step = step / 2.0
            new = theta - step
            ll_new, g_new, H_new = scan(new)
            halves += 1
        if worse(ll_new):
            break
        done = float(np.max(np.abs(new - theta))) < tol \
            or abs(ll_new - ll) < tol
        theta, ll, g, H = new, ll_new, g_new, H_new
        if done:
            converged = True
            break
    return theta, ll, H, it, converged
