"""repartition_big_design: the solver-cache spread guard (design.py).

A single-row-group parquet file presents many byte-range splits of
which exactly ONE holds every row, so ``getNumPartitions()`` cannot
detect the serialization; the guard must measure the true row spread
and round-robin the cache only then.  These tests pin:

- detection: a deliberately 1-partition cached design above the row
  threshold comes back spread across the session's cores;
- no-op below the threshold and on already-spread designs (no wasted
  shuffle — the same object must come back);
- value invariance: Gramian sums off the spread cache equal the
  1-partition sums to float-reassociation tolerance.

Each test holds its caches in one ``persisted`` scope, the way the
solvers do.
"""
import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.design import (
    persisted,
    repartition_big_design,
)


def _one_partition_design(spark, keep, n):
    df = spark.range(n).select(
        (F.col("id") % 97).cast("double").alias("yv"),
        (F.col("id") % 13).cast("double").alias("xv")).coalesce(1)
    work = keep(df.persist(StorageLevel.MEMORY_AND_DISK))
    work.count()
    return work, F.col("yv"), [F.lit(1.0), F.col("xv")]


def _spread(df):
    return (df.groupBy(F.spark_partition_id()).count()
            .where(F.col("count") > 0).count())


def test_spreads_big_single_partition_design(spark):
    with persisted() as keep:
        work, y, xs = _one_partition_design(spark, keep, 50_000)
        assert _spread(work) == 1
        out = repartition_big_design(work, 50_000, keep, min_rows=10_000)
        assert out is not work
        assert _spread(out) == spark.sparkContext.defaultParallelism
        assert out.count() == 50_000


def test_noop_below_row_threshold(spark):
    with persisted() as keep:
        work, y, xs = _one_partition_design(spark, keep, 5_000)
        out = repartition_big_design(work, 5_000, keep, min_rows=10_000)
        assert out is work                       # same object, no shuffle
        assert _spread(out) == 1


def test_noop_on_already_spread_design(spark):
    df = spark.range(50_000).repartition(8).select(
        (F.col("id") % 97).cast("double").alias("yv"),
        (F.col("id") % 13).cast("double").alias("xv"))
    with persisted() as keep:
        work = keep(df.persist(StorageLevel.MEMORY_AND_DISK))
        work.count()
        # session fixture runs local[4]: 8 nonempty partitions >= cores
        out = repartition_big_design(work, 50_000, keep, min_rows=10_000)
        assert out is work


def test_gramian_sums_invariant_under_spread(spark):
    with persisted() as keep:
        work, y, xs = _one_partition_design(spark, keep, 50_000)
        def sums(d):
            r = d.agg(F.sum(y * xs[1]).alias("a"),
                      F.sum(xs[1] * xs[1]).alias("b"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
            return float(r["a"]), float(r["b"]), int(r["n"])
        before = sums(work)
        out = repartition_big_design(work, 50_000, keep, min_rows=10_000)
        after = sums(out)
        assert after[2] == before[2]
        assert np.allclose(after[:2], before[:2], rtol=1e-12)
