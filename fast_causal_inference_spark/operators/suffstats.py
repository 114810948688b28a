"""Sufficient-statistics kernel — the keystone of every statistical operator.

Replaces the reference's per-engine UDAF state (count + Σxᵢ + Σxᵢxⱼ, cf.
``delta_method.h:103-266`` under /root/reference) with a single declarative
``groupBy().agg()`` of native ``F.sum`` columns. Spark's partial aggregation
plays the role of the UDAFs' update/merge/serialize cycle, stays inside
whole-stage codegen, and shuffles only O(k²) doubles per group — which is what
makes one pass over 100 TB feasible.

One batch shape, keyed (`keyed_stats`, `arm_cells`): every batch two-arm
readout — the t-test family grouped or not, post-stratified or not, the
scorecard, xexpt, permutation — drops incomplete rows and rows outside both
arms in ONE filter and runs ``groupBy(group columns…, arm)`` with plain
sums, (k+1)(k+2)/2 aggregates, none conditional; an ungrouped call is the
same pass with no group columns.  The driver pairs the arms of each report
cell (`collect_keyed`, `by_arm`).  The arm key costs one hash probe per
row: at k = 1 the keyed pass is ~10% slower than a wide one, at k = 10 the
wide one took 3.5× as long (SCALE.md).

The wide conditional row (`suffstat_agg_columns` with ``cond``: both arms
as ``g0_``/``g1_`` columns of ONE row, each sum under ``CASE WHEN arm AND
complete``) serves streaming only (``streaming/ops.py``): a stateful
windowed aggregation cannot pair two keyed rows.  Both shapes add the same
values in the same per-partition order, so their statistics are
bit-identical (see :func:`keyed_stats` for the one input shape where the
order differs).

Two finalization paths:

* **Columnar** (`StatView`): means / covariances / delta-method variances are
  rendered back as Column expressions — zero driver involvement; the
  streaming readouts, the delta method and the bootstrap replicas use it.
* **Driver** (`row_to_stats`): a collected Row is unpacked to numpy
  ``(n, means, cov)`` for finalizers that need matrix inverses (CUPED,
  OLS, …).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark.formula import Node


def _pair_name(prefix: str, i: int, j: int) -> str:
    i, j = (i, j) if i <= j else (j, i)
    return f"{prefix}c{i}_{j}"


def _sum_columns(xs: list[Column], one: Column | None,
                 prefix: str) -> list[Column]:
    """(n, Σxᵢ, Σxᵢxⱼ) aggregates; ``one`` is the per-row weight (NULL
    outside the rows to count) or None for plain unit weights."""
    w = F.lit(1.0) if one is None else one
    out = [F.sum(w).alias(f"{prefix}n")]
    for i, x in enumerate(xs):
        out.append(F.sum(x if one is None else one * x)
                   .alias(f"{prefix}s{i}"))
    for i in range(len(xs)):
        for j in range(i, len(xs)):
            xij = xs[i] * xs[j] if one is None else one * xs[i] * xs[j]
            out.append(F.sum(xij).alias(_pair_name(prefix, i, j)))
    return out


def _complete(xs: list[Column], guard: Column | None = None) -> Column | None:
    """``guard`` AND every x IS NOT NULL (None when there is nothing to test)."""
    for x in xs:
        nn = x.isNotNull()
        guard = nn if guard is None else (guard & nn)
    return guard


def suffstat_agg_columns(base_exprs: list[str], prefix: str = "",
                         cond: Column | None = None,
                         weight: Column | None = None) -> list[Column]:
    """Aggregate columns for (n, Σxᵢ, Σxᵢxⱼ) of the given SQL expressions.

    ``cond`` restricts the statistics to matching rows (the wide two-arm
    row of the streaming readouts — see the module docstring; batch
    readouts use :func:`arm_cells`).  ``weight`` produces weighted sums
    (WLS; n becomes Σw).

    Rows where any base expression is NULL are skipped entirely (n excluded
    too), matching the reference UDAFs which drop null inputs — otherwise
    NULL*x silently leaves the sums but not the count, deflating means.
    """
    xs = [F.expr(e).cast("double") for e in base_exprs]
    one: Column = F.lit(1.0) if weight is None else weight.cast("double")
    guard = _complete(xs, cond)
    if guard is not None:
        one = F.when(guard, one)
    return _sum_columns(xs, one, prefix)


def keyed_stats(df: DataFrame, base_exprs: list[str], key: Column | None,
                weight: Column | None = None,
                group_cols: Sequence[str | Column] = ()) -> DataFrame:
    """One (n, Σxᵢ, Σxᵢxⱼ) row per (``group_cols``…, ``key``) value over
    the complete-case rows; ``key`` is the column ``__key`` and its NULL
    rows drop out (a NULL group key stays one group).  ``key=None`` keys by
    the group columns alone.  The complete-case guard is a ``where``, not
    a CASE inside every aggregate, so the sums are plain.  Each row holds
    exactly the values of ``suffstat_agg_columns(base_exprs, cond=<its
    key>, weight=…)``.  Order assumption: the filter can be pushed below
    the plan of ``df``; over a round-robin ``repartition`` of a derived
    column that moves rows between partitions, which regroups the float
    partials (low bits may differ from the wide form).  Scans, parquet and
    cached inputs keep the partition contents, and the results are
    bit-identical.
    """
    xs = [F.expr(e).cast("double") for e in base_exprs]
    keys = list(group_cols)
    if key is not None:
        keys.append(key.alias("__key"))
    keep = _complete(xs, None if key is None else key.isNotNull())
    one = None if weight is None else weight.cast("double")
    return (df.where(keep).groupBy(*keys)
            .agg(*_sum_columns(xs, one, "")))


_NAN = float("nan")


def collect_keyed(agg: DataFrame, n_keys: int, limit: int | None = None
                  ) -> tuple[list, list[tuple[tuple, object]]]:
    """Collect a keyed aggregate whose first ``n_keys`` columns are group
    columns: their StructFields and a (cell key, row) pair per row, at
    most ``limit`` rows.  Every NaN in a key becomes one object, so NaN
    keys pair in a dict the way ``groupBy`` pairs them (two NaN floats are
    neither equal nor, since Python 3.10, of equal hash)."""
    rows = (agg if limit is None else agg.limit(limit)).collect()
    fields = agg.schema.fields[:n_keys] if n_keys else []
    return fields, [
        (tuple(_NAN if isinstance(v, float) and v != v else v
               for v in r[:n_keys]), r) for r in rows]


def by_arm(rows: list[tuple[tuple, object]], grouped: bool
           ) -> dict[tuple, dict]:
    """``{cell key: {arm: row}}`` of (cell key, row) pairs whose rows carry
    the arm as ``__key``, in arrival order.  Without group columns the one
    cell ``()`` is always there, even when no row came back."""
    cells: dict[tuple, dict] = {} if grouped else {(): {}}
    for cell, r in rows:
        cells.setdefault(cell, {})[r["__key"]] = r
    return cells


def arm_cells(df: DataFrame, base_exprs: list[str], idx: Column, v0, v1,
              group_cols: Sequence[str | Column] = (),
              weight: Column | None = None, limit: int | None = None
              ) -> tuple[list, dict[tuple, tuple[NumStats, NumStats]]]:
    """Both arms' statistics per report cell from ONE pass keyed by
    (``group_cols``…, arm) (see the module docstring): the arm is ``0``
    where ``idx == v0`` and ``1`` where ``idx == v1``; other rows drop out.

    Returns the group columns' StructFields and ``{cell key: (s0, s1)}``;
    a cell missing an arm gets the all-NaN arm (see :func:`by_arm` for
    the order and the ungrouped cell).  ``limit`` bounds the rows
    collected (two per cell at most).
    """
    check_distinct_arms(v0, v1)
    arm = F.when(idx == F.lit(v0), 0).when(idx == F.lit(v1), 1)
    fields, rows = collect_keyed(
        keyed_stats(df, base_exprs, arm, weight, group_cols),
        len(group_cols), limit)
    k = len(base_exprs)
    return fields, {
        cell: tuple(row_to_stats(a[i], k) if i in a else _missing_arm(k)
                    for i in (0, 1))
        for cell, a in by_arm(rows, bool(group_cols)).items()}


def check_distinct_arms(v0, v1) -> None:
    """Two-arm readouts need two different arm values: with v0 == v1 both
    arms would count the same rows and report a silent zero effect."""
    if v0 == v1:
        raise ValueError(
            f"treatment_values must name two different arms, got "
            f"({v0!r}, {v1!r})")


@dataclass
class StatView:
    """Columnar view over aggregated sufficient statistics.

    All members return Column expressions referring to the aggregated columns
    produced by :func:`suffstat_agg_columns` with the same ``prefix``.
    """

    k: int
    prefix: str = ""

    @property
    def n(self) -> Column:
        return F.col(f"{self.prefix}n")

    def s(self, i: int) -> Column:
        return F.col(f"{self.prefix}s{i}")

    def c(self, i: int, j: int) -> Column:
        return F.col(_pair_name(self.prefix, i, j))

    def mu(self, i: int) -> Column:
        # nullif guards: ANSI mode (Spark 4 default) errors on x/0, and
        # sparse groups (empty or single-row arms) are routine at scale
        return self.s(i) / F.nullif(self.n, F.lit(0.0))

    def mus(self) -> list[Column]:
        return [self.mu(i) for i in range(self.k)]

    def cov(self, i: int, j: int) -> Column:
        """Sample covariance (n-1 denominator), matching the reference
        (``delta_method.h:174``); NULL for n ≤ 1 groups (ANSI-safe)."""
        return ((self.c(i, j) - self.s(i) * self.s(j)
                 / F.nullif(self.n, F.lit(0.0)))
                / F.nullif(self.n - 1, F.lit(0.0)))

    def var_of_formula_mean(self, node: Node) -> Column:
        """Delta-method Var[f(x̄)] = ∇fᵀ C ∇f / n as a Column expression."""
        mus = self.mus()
        grads = node.gradient(self.k)
        syms = sorted(node.symbols())
        out: Column | None = None
        for i in syms:
            gi = grads[i].value(mus)
            for j in syms:
                gj = grads[j].value(mus)
                term = gi * gj * self.cov(i, j)
                out = term if out is None else out + term
        if out is None:
            return F.lit(0.0)
        return out / F.nullif(self.n, F.lit(0.0))

    def value(self, node: Node) -> Column:
        return node.value(self.mus())


# ---------------------------------------------------------------------------
# driver-side unpacking
# ---------------------------------------------------------------------------


@dataclass
class NumStats:
    """numpy view of one group's sufficient statistics."""

    n: float
    means: np.ndarray      # (k,)
    cov: np.ndarray        # (k, k) sample covariance (n-1)

    def formula_value(self, node: Node) -> float:
        return float(node.value(list(self.means)))

    def formula_grad(self, node: Node, k: int) -> np.ndarray:
        return np.array([g.value(list(self.means)) for g in node.gradient(k)],
                        dtype=float)

    def delta_var(self, node: Node) -> float:
        """Var[f(x̄)] = ∇fᵀ C ∇f / n."""
        g = self.formula_grad(node, len(self.means))
        return float(g @ self.cov @ g / self.n)

    def delta_cov(self, a: Node, b: Node) -> float:
        ga = self.formula_grad(a, len(self.means))
        gb = self.formula_grad(b, len(self.means))
        return float(ga @ self.cov @ gb / self.n)


def _f(v) -> float:
    """NULL-safe float: conditional F.sum yields NULL on empty arms/groups —
    surface NaN instead of TypeError(float(None))."""
    return float(v) if v is not None else float("nan")


def row_to_stats(row, k: int, prefix: str = "") -> NumStats:
    """Unpack a collected Row / mapping into :class:`NumStats`."""
    n = _f(row[f"{prefix}n"])
    s = np.array([_f(row[f"{prefix}s{i}"]) for i in range(k)], dtype=float)
    c = np.empty((k, k), dtype=float)
    for i in range(k):
        for j in range(i, k):
            c[i, j] = c[j, i] = _f(row[_pair_name(prefix, i, j)])
    means = s / n if n > 0 else np.full(k, np.nan)   # n NaN/0 → NaN means
    # NaN covariance for n ≤ 1 — consistent with the columnar path's NULLs
    cov = ((c - np.outer(s, s) / n) / (n - 1.0) if n > 1
           else np.full((k, k), np.nan))
    return NumStats(n=n, means=means, cov=cov)


def arm_stats(df: DataFrame, base_exprs: list[str], idx: Column, v0, v1,
              weight: Column | None = None) -> tuple[NumStats, NumStats]:
    """Both arms' statistics of the whole frame: :func:`arm_cells` with no
    group columns."""
    return arm_cells(df, base_exprs, idx, v0, v1, weight=weight)[1][()]


def _missing_arm(k: int) -> NumStats:
    return NumStats(n=float("nan"), means=np.full(k, np.nan),
                    cov=np.full((k, k), np.nan))


def _raw_cross(g: NumStats) -> np.ndarray:
    """Σ x xᵀ reconstructed from (n, means, cov) — well-defined for ANY
    n: a single-row group's cross-sum is outer(s, s)/n exactly even
    though its sample covariance is NaN (routing through `cov*(n-1)`
    would NaN-poison the merge: NaN * 0 is NaN in IEEE, so one
    single-row arm wiped the whole pooled covariance)."""
    s = g.means * g.n
    if g.n > 1:
        return g.cov * (g.n - 1.0) + np.outer(s, s) / g.n
    if g.n > 0:
        return np.outer(s, s) / g.n
    return np.zeros_like(np.outer(s, s))


def merge_stats(a: NumStats, b: NumStats) -> NumStats:
    """Pool two groups' statistics (exact merge of count/sums/cross-sums)."""
    n = a.n + b.n
    sa, sb = a.means * a.n, b.means * b.n
    s = np.where(a.n > 0, sa, 0.0) + np.where(b.n > 0, sb, 0.0)
    c = _raw_cross(a) + _raw_cross(b)
    means = s / n if n > 0 else np.full_like(s, np.nan)
    cov = ((c - np.outer(s, s) / n) / (n - 1.0) if n > 1
           else np.full_like(c, np.nan))
    return NumStats(n=n, means=means, cov=cov)
