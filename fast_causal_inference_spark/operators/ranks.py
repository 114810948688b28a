"""Rank kernel of the rank tests: Mann-Whitney, Kruskal-Wallis, KS and the
Rosenbaum signed-rank bounds.

Parity target: reference ``mann_whitney.h:104-139`` (average ranks, tie
runs).  Every rank statistic is a sum over the *ranked distinct-value
relation*, one row per distinct value ``v`` of a key:

    keys…, v, t, c1, before, before1, n, n1

``t`` rows carry the value, ``c1`` of them in arm 1; ``before`` rows of the
same key lie below it (``before1`` of them in arm 1); ``n`` and ``n1`` are
the key's totals.  A value's average rank is ``before + (t + 1) / 2``
(:func:`rbar`).  The columns are read through :func:`col` (their names
carry a ``__`` prefix, so no caller key can collide with them).

This module owns the size decision and the Window/range mechanics:

* grouped calls rank inside each key: one ``Window.partitionBy(keys)``;
* ungrouped calls whose input scans as one split run ``groupBy(v)`` (the
  map-side combined distinct relation) and one window over it;
* larger ungrouped inputs range-partition the distinct relation, window
  each partition, and add the partitions' prefix offsets (totals of the
  partitions below) collected from one small aggregate — no window over
  one partition of a big input, and no Python worker.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fast_causal_inference_spark.operators.design import persisted
from fast_causal_inference_spark.result import driver_frame

_SPLIT_BYTES = 128 * 1024 * 1024       # spark.sql.files.maxPartitionBytes
_SPLIT_ROWS = 1_000_000                # rows a "one split ⇒ p=1" path may hold


def estimate_scan_splits(df) -> int:
    """Estimated scan parallelism from the input file listing, 0 when
    unknown.  A single FILE is not a single SPLIT — a 5 GB parquet file
    scans as ~40 row-group splits — so local file sizes are checked
    against the 128 MB default split size; non-file or remote sources
    return 0 (callers fall back to the session shuffle parallelism).

    Bytes alone are not a safe "small input" signal: one ≤128 MB
    *compressed* parquet split can hold millions of rows of a numeric
    column, and ``est == 1`` takes the single-window path.  For parquet
    sources the exact pre-filter row count is free in the file footers,
    so the estimate is also floored at ``ceil(rows / 1e6)`` — a
    million-row single file reports >1 split and keeps the range path."""
    files = df.inputFiles()
    if not files:
        return 0
    total = 0
    rows = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return 0
        path = unquote(u.path)
        try:
            total += os.path.getsize(path)
        except OSError:
            return 0
        if rows is not None and path.endswith(".parquet"):
            try:
                import pyarrow.parquet as _pq
                rows += _pq.ParquetFile(path).metadata.num_rows
            except Exception:
                rows = None                   # unknown → bytes-only estimate
        else:
            rows = None
    est = max(len(files), math.ceil(total / _SPLIT_BYTES))
    if rows:
        est = max(est, math.ceil(rows / _SPLIT_ROWS))
    return est


def col(name: str) -> Column:
    """A column of the ranked relation (or ``v``/``g`` of its input)."""
    return F.col(f"__{name}")


def rbar() -> Column:
    """Average (1-based) rank of each distinct value."""
    return col("before") + (col("t") + 1.0) / 2.0


def observed(v: Column) -> Column:
    """The rows a rank test ranks: NULL and NaN values are dropped alike
    (Spark orders NaN above every number; it is no observation)."""
    return v.isNotNull() & ~F.isnan(v)


def _ranks(d: DataFrame, w, off=None, off1=None, n=None,
           n1=None) -> DataFrame:
    below = w.rowsBetween(Window.unboundedPreceding, -1)
    whole = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)

    def before(c: str, base):
        b = F.coalesce(F.sum(c).over(below), F.lit(0.0))
        return b if base is None else base + b

    return d.select(
        "*", before("__t", off).alias("__before"),
        before("__c1", off1).alias("__before1"),
        (F.sum("__t").over(whole) if n is None else n).alias("__n"),
        (F.sum("__c1").over(whole) if n1 is None else n1).alias("__n1"))


@contextmanager
def ranked(df: DataFrame, keys: Sequence[str] = (),
           weight: str | None = None) -> Iterator[DataFrame]:
    """Yield the ranked distinct-value relation of ``df`` — columns
    ``keys…``, ``__v`` (the value) and an optional 0/1 arm ``__g``; a
    ``weight`` column, when given, counts each row that many times (a
    pre-aggregated input).  Read the relation inside the ``with`` block:
    the range path keeps a cache that the block's exit releases."""
    g = col("g") if "__g" in df.columns else F.lit(0)
    t = F.sum(weight) if weight else F.count(F.lit(1)).cast("double")
    d = (df.where(observed(col("v")))
           .groupBy(*keys, "__v")
           .agg(t.alias("__t"), F.sum(g).cast("double").alias("__c1")))
    p = _range_partitions(df) if not keys else 1
    if p <= 1:
        yield _ranks(d, Window.partitionBy(*keys).orderBy("__v"))
        return
    with persisted() as keep:
        part = keep(d.repartitionByRange(p, "__v")
                    .withColumn("__pid", F.spark_partition_id()).cache())
        tots = {r[0]: (float(r[1]), float(r[2])) for r in
                part.groupBy("__pid").agg(F.sum("__t"), F.sum("__c1"))
                .collect()}
        offs, offs1 = [], []
        n = n1 = 0.0
        for pid in range(p):
            offs.append(n)
            offs1.append(n1)
            t_p, c1_p = tots.get(pid, (0.0, 0.0))
            n += t_p
            n1 += c1_p

        def at(xs):
            return F.array(*map(F.lit, xs))[F.col("__pid")]

        yield _ranks(part, Window.partitionBy("__pid").orderBy("__v"),
                     at(offs), at(offs1), F.lit(n), F.lit(n1)) \
            .drop("__pid")


def _range_partitions(df: DataFrame) -> int:
    """Range partitions of an ungrouped rank pass: the scan parallelism
    (a small input skips the range exchange and its sampling job), the
    session shuffle default when the source is not a local file."""
    est = estimate_scan_splits(df)
    shuffle_p = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return min(shuffle_p, est) if est else shuffle_p


def per_group(df: DataFrame, group_cols: Sequence[str], rows: list,
              fields: Sequence[str], finalize) -> DataFrame:
    """A grouped test's result frame (`result.driver_frame`): each
    aggregated row's group columns (with their input types) and the
    double ``fields`` of ``finalize(row)``."""
    data = []
    for r in rows:
        out = finalize(r)
        data.append(tuple(r[c] for c in group_cols)
                    + tuple(float(out[f]) for f in fields))
    return driver_frame(df.sparkSession, df.select(*group_cols).schema.fields,
                        [T.StructField(f, T.DoubleType()) for f in fields],
                        data)
