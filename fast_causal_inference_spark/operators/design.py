"""Persisted design projection, the cache lifetime of one call, and the
shared Fisher-scoring kernel.

Every IRLS / Newton operator in this package scans its input once per
iteration (one Gramian-shaped aggregation — see ``glm.py``,
``quantreg.py``, ``logistic.py``).  Re-deriving (y, X) from the source
relation on every step repeats the parquet scan and the feature
expression evaluation 5–50 times per fit.  The standard fix — what
Spark MLlib's ``handlePersistence`` does before L-BFGS/IRLS — is to
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

The GLM fitters (``logistic_regression``, ``glm``, its binomial links,
negative binomial) run ONE Fisher-scoring kernel, in the shape of Spark
ML's single IRLS driver with a per-family reweight function:
:func:`prepare_design` builds the persisted complete-case design,
:meth:`Design.sums` is one Gramian step (a distributed aggregation, or
its numpy twin on a collected small design), and :meth:`Design.newton`
is the solve loop.  A fitter supplies only its :class:`Rule` — the per-row
(weight, working response) algebra — plus its start value, its input
checks and its deviance passes.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

__all__ = ["persisted", "persist_design", "collect_small_design",
           "collect_columns", "small_design_limit", "SMALL_DESIGN_MAX_ROWS",
           "Rule", "Design", "prepare_design", "irls_frame", "gramian_aggs",
           "unpack_gramian"]


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
# idea as the rank tests' small-input cutoff (mann_whitney.py:193): a
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
SMALL_DESIGN_MAX_CELLS = int(os.environ.get(
    "FCIS_SMALL_DESIGN_CELLS", "16000000"))


def small_design_limit(width: int) -> int:
    """Most rows a design ``width`` doubles wide may have and still be
    collected: the row cap, or the cell budget over the width when that
    is smaller.  Reads the module settings at call time, so a patched
    cutoff reaches every solver."""
    return min(SMALL_DESIGN_MAX_ROWS, SMALL_DESIGN_MAX_CELLS // max(width, 1))


def collect_small_design(df: DataFrame, xs: list[Column], y: Column,
                         off: Column, n_rows: int,
                         ) -> tuple[np.ndarray, np.ndarray,
                                    np.ndarray] | None:
    """Collect the projected design as ``(X[n,p], y[n], off[n])`` numpy
    arrays when its ``n_rows`` fit :func:`small_design_limit`; return
    None above the cutoff (callers keep their distributed loop).

    The size gate is the caller's COUNT: counting prunes every projected
    column, so an over-cutoff table costs one cheap aggregate — an
    earlier LIMIT-probe variant shipped cutoff-many Arrow rows to the
    driver before giving up, a measured multi-second tax on every
    big-input solver call.  The count also materializes the caller's
    persisted design, work the distributed loop needs anyway."""
    lim = small_design_limit(len(xs) + 2)
    if lim <= 0 or n_rows > lim:
        return None
    p = len(xs)
    sel = [c.alias(f"__cx{i}__") for i, c in enumerate(xs)]
    cols = collect_columns(
        df.select(*sel, y.alias("__cy__"), off.alias("__co__")))
    X = np.column_stack([cols[f"__cx{i}__"] for i in range(p)]) if p else \
        np.empty((len(cols["__cy__"]), 0))
    return X, cols["__cy__"], cols["__co__"]


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

    Only call this on the ``collect_small_design(...) is None`` branch:
    below the cutoff the collected numpy path never scans the cache
    again, and the golden-oracle scales (sf0.01) always sit below the
    cutoff, so their float-sum combine order is untouched.

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
        # over the cache the caller's count gate just materialized (a
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


def persist_design(df: DataFrame, y: Column, feat_cols: list[Column],
                   off: Column | None = None, use_bias: bool = True,
                   ) -> tuple[DataFrame, Column, list[Column], Column]:
    """Project ``(y, features[, offset])`` to flat columns and persist.

    Returns ``(work, y, xs, off)`` rebased onto the cached relation:
    ``xs`` gets a leading ``lit(1.0)`` bias column when ``use_bias``
    (never materialized — constants cost storage, not compute), and
    ``off`` comes back as ``lit(0.0)`` when no offset was given.

    ``work`` is persisted but not yet materialized; register it with
    the caller's :func:`persisted` scope.
    """
    cols = [y.alias("__y__")]
    cols += [c.alias(f"__x{j}__") for j, c in enumerate(feat_cols)]
    if off is not None:
        cols.append(off.alias("__off__"))
    # NOTE: deliberately NO repartition — the projection keeps the
    # source's split layout, so per-partition row order (and therefore
    # every float-sum combine order) is identical to scanning the
    # source directly: results stay bit-for-bit what the un-persisted
    # loop produced, which the frozen golden oracles depend on.  A
    # repartition here once broke gen_goldens' cross-process
    # determinism check (partition count followed defaultParallelism).
    work = df.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    xs = ([F.lit(1.0)] if use_bias else []) \
        + [F.col(f"__x{j}__") for j in range(len(feat_cols))]
    return (work, F.col("__y__"), xs,
            F.col("__off__") if off is not None else F.lit(0.0))


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


def gramian_aggs(p: int, w: Column | None = None,
                 rhs: bool = True) -> list[Column]:
    """Aggregates of one Fisher step over :func:`irls_frame` columns:
    Σw·pᵢ·z as ``b{i}`` (when ``rhs``), Σw·pᵢ·pⱼ (i ≤ j) as ``a{i}_{j}``
    and the outcome count as ``n__``; ``w`` defaults to ``__w__``."""
    ps = [F.col(f"__p{i}__") for i in range(p)]
    w = F.col("__w__") if w is None else w
    aggs = []
    for i in range(p):
        if rhs:
            aggs.append(F.sum(w * ps[i] * F.col("__z__")).alias(f"b{i}"))
        for j in range(i, p):
            aggs.append(F.sum(w * ps[i] * ps[j]).alias(f"a{i}_{j}"))
    aggs.append(F.count(F.col("__yy__")).alias("n__"))
    return aggs


def unpack_gramian(row: Row, p: int, rhs: bool = True,
                   ) -> tuple[np.ndarray, np.ndarray | None, float]:
    """``(A, b, n)`` from one row of :func:`gramian_aggs`; A is filled
    symmetric, b is None without ``rhs``."""
    A = np.empty((p, p))
    b = np.empty(p) if rhs else None
    for i in range(p):
        if rhs:
            b[i] = row[f"b{i}"]
        for j in range(i, p):
            A[i, j] = A[j, i] = row[f"a{i}_{j}"]
    return A, b, float(row["n__"])


@dataclass
class Design:
    """A complete-case design persisted for one fit (:func:`prepare_design`).

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


def prepare_design(keep: Callable[[DataFrame], DataFrame], df: DataFrame,
                   y_expr: str, feats: list[str], offset: str | None = None,
                   use_bias: bool = True,
                   probe: Callable[[Column], list[Column]] | None = None,
                   check: Callable[[Row], None] | None = None) -> Design:
    """Complete-case filter, :func:`persist_design` (registered with
    ``keep``), one materializing aggregate — ``count`` as ``n`` plus
    ``probe(y)`` — then ``check(row)``, :func:`collect_small_design` and,
    above the cutoff, :func:`repartition_big_design`.

    The filter drops rows with a NULL outcome, feature or offset: such a
    row would otherwise enter the y-free Gramian sums but not the
    y-bearing ones, silently biasing the solve."""
    if not feats and not use_bias:
        raise ValueError("empty design: no features and use_bias=False")
    y = F.expr(y_expr).cast("double")
    xs = [F.expr(e).cast("double") for e in feats]
    off = F.expr(offset).cast("double") if offset is not None else F.lit(0.0)
    cc = y.isNotNull() & off.isNotNull()
    for x in xs:
        cc = cc & x.isNotNull()
    work, y, xs, off = persist_design(
        df.where(cc), y, xs, off=off if offset is not None else None,
        use_bias=use_bias)
    keep(work)
    row = work.agg(F.count(F.lit(1)).alias("n"),
                   *(probe(y) if probe else [])).collect()[0]
    if check:
        check(row)
    arrays = collect_small_design(work, xs, y, off, n_rows=int(row["n"]))
    if arrays is None:
        work = repartition_big_design(work, int(row["n"]), keep)
    return Design(work, xs, y, off, row, arrays)
