"""Persisted design projection and the cache lifetime of one call.

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
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["persisted", "persist_design", "collect_small_design",
           "collect_columns", "SMALL_DESIGN_MAX_ROWS"]


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


def collect_small_design(df: DataFrame, xs: list[Column], y: Column,
                         off: Column,
                         max_rows: int | None = None,
                         n_rows: int | None = None,
                         ) -> tuple[np.ndarray, np.ndarray,
                                    np.ndarray] | None:
    """Collect the projected design as ``(X[n,p], y[n], off[n])`` numpy
    arrays when it fits the small-design budget (min of the row cap and
    the cell budget divided by the design width); return None above the
    cutoff (callers keep their distributed loop).

    The size gate is a COUNT first (pass ``n_rows`` when the caller
    already knows it): counting prunes every projected column, so an
    over-cutoff table costs one cheap aggregate — an earlier LIMIT-probe
    variant shipped cutoff-many Arrow rows to the driver before giving
    up, a measured multi-second tax on every big-input solver call.
    The count also materializes the caller's persisted design, work the
    distributed loop needs anyway."""
    lim = SMALL_DESIGN_MAX_ROWS if max_rows is None else int(max_rows)
    lim = min(lim, SMALL_DESIGN_MAX_CELLS // max(len(xs) + 2, 1))
    if lim <= 0:
        return None
    n = int(df.count()) if n_rows is None else int(n_rows)
    if n > lim:
        return None
    p = len(xs)
    sel = [c.alias(f"__cx{i}__") for i, c in enumerate(xs)]
    cols = collect_columns(
        df.select(*sel, y.alias("__cy__"), off.alias("__co__")))
    X = np.column_stack([cols[f"__cx{i}__"] for i in range(p)]) if p else \
        np.empty((len(cols["__cy__"]), 0))
    return X, cols["__cy__"], cols["__co__"]


def repartition_big_design(df: DataFrame, n_rows: int,
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
    parent cache is dropped; register it with the caller's
    :func:`persisted` scope like the parent."""
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
    work = df.repartition(cores).persist(StorageLevel.MEMORY_AND_DISK)
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
