"""SparkSession helpers tuned for the engine's workload.

The reference delegates execution to a vectorized OLAP cluster; here Catalyst +
Tungsten play that role. These defaults matter at 100 TB: AQE re-plans skewed
shuffles at runtime, Arrow keeps the (rare) pandas-UDF finalizers cheap, and
partial aggregation of our sufficient-statistics columns is what replaces the
reference UDAFs' update/merge/serialize cycle (SURVEY.md §4).
"""

from __future__ import annotations

import os
import sys

import pandas as pd
from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the synthetic testdata writes TIMESTAMP(NANOS) parquet, which Spark
    # refuses by default; read as long and restore via sources.tables
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # co-locate shuffle sizing with the local test harness; a real cluster
    # would override via spark-defaults.conf
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # time-bucket rollups and date_trunc-style windows must not depend on
    # whatever TZ the driver host happens to run in
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.maxResultSize": "4g",
    # local-mode driver IS the executor: Spark's 1g default heap with 32
    # concurrent tasks OOMs the first real sort/agg spill (measured on a
    # 4× dedup probe). Only effective when the builder launches the JVM
    # (i.e., not attaching to a running session); cluster deployments set
    # executor memory in spark-defaults.conf as usual.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


_ALLOCATOR_TUNED = False


def tune_driver_allocator() -> None:
    """Keep large numpy temporaries on the malloc arena and never trim it.

    The driver-side finalizers (collected small-design solvers, the
    group-sequential boundary recursion, pandas conversions) allocate
    multi-MB numpy temporaries per call.  glibc's defaults serve those
    via mmap and return them on free (dynamic mmap/trim thresholds), so
    every call re-faults every page; on kernels where first-touch faults
    are expensive (measured here: ~50-100 µs/4K page under the
    sandboxed kernel — one 32 MB broadcast expression cost 5.2 s in the
    bench driver vs 0.05 s once pages are retained) that is a silent
    ~100x tax on all driver-side math.  Raising M_MMAP_THRESHOLD keeps
    the blocks on the arena, and a high M_TRIM_THRESHOLD stops free()
    from giving the pages back, so each size class faults once per
    process.  Bounded (~0.5 GB retained worst-case), glibc-only, and a
    no-op anywhere mallopt is unavailable."""
    global _ALLOCATOR_TUNED
    if _ALLOCATOR_TUNED or not sys.platform.startswith("linux"):
        return
    _ALLOCATOR_TUNED = True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 256 * 1024 * 1024)    # M_MMAP_THRESHOLD
        libc.mallopt(-1, 512 * 1024 * 1024)    # M_TRIM_THRESHOLD
        libc.mallopt(-2, 16 * 1024 * 1024)     # M_TOP_PAD
    except Exception:
        pass


def in_job_group(fn):
    """``fn`` wrapped to run on another thread with the calling thread's
    Spark local properties (job group, description, scheduler pool), which
    a new thread does not inherit, so its jobs count toward the caller's
    group; they are captured here, at wrap time."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(SparkSession.active())
    # with PYSPARK_PIN_THREAD=false PySpark hands the session back: the
    # Python threads then share one JVM thread and its properties anyway
    return fn if isinstance(wrap, SparkSession) else wrap(fn)


def configure_session(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to an existing builder."""
    tune_driver_allocator()
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    # read the env-tunable knobs at CALL time: _DEFAULTS snapshots the
    # environment at import, so a harness that sets SPARK_GRAFT_* after
    # importing this module (bench.py did, for the 16g bench heap) was
    # silently ignored — the bench JVM ran with the 8g library default
    # and major-GC'd mid-suite (the "roaming stall" signature in the
    # round-10/11 records)
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    return builder


def get_session(app_name: str = "fast_causal_inference_spark",
                master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        builder = builder.master(f"local[{cpus}]" if cpus else "local[*]")
    return configure_session(builder).getOrCreate()


def register_sql_functions(spark: SparkSession) -> SparkSession:
    """Register the All-in-SQL scalar surface via ``spark.udf.register``.

    The reference's engines ship erf/normal/t-distribution scalars that raw
    SQL relies on for p-values (SURVEY.md §4; ``examples/schema.sql:43-58``
    lists the gateway UDF dictionary).  Spark SQL has no erf, so these are
    Arrow-vectorized pandas UDFs over the pure-numpy kernels in
    ``stats_distributions`` — after this call, e.g.::

        SELECT 2 * norm_sf(abs(t_stat)) AS p FROM ...

    works in plain ``spark.sql``.  Returns the session for chaining.
    """
    from pyspark.sql.functions import pandas_udf

    from fast_causal_inference_spark import stats_distributions as _dist
    from fast_causal_inference_spark.serialization import (
        ensure_udf_serializable,
    )

    ensure_udf_serializable()

    def _u1(fn):
        @pandas_udf("double")
        def _f(x: pd.Series) -> pd.Series:
            import numpy as _np
            return pd.Series(_np.asarray(fn(x.to_numpy(dtype=float)),
                                          dtype=float))
        return _f

    def _u2(fn):
        @pandas_udf("double")
        def _f(x: pd.Series, y: pd.Series) -> pd.Series:
            import numpy as _np
            return pd.Series(_np.asarray(
                fn(x.to_numpy(dtype=float), y.to_numpy(dtype=float)),
                dtype=float))
        return _f

    spark.udf.register("erf", _u1(_dist.erf))
    spark.udf.register("erfc", _u1(_dist.erfc))
    spark.udf.register("norm_cdf", _u1(_dist.norm_cdf))
    spark.udf.register("norm_sf", _u1(_dist.norm_sf))
    spark.udf.register("norm_ppf", _u1(_dist.norm_ppf))
    spark.udf.register("t_cdf", _u2(_dist.t_cdf))
    spark.udf.register("t_sf", _u2(_dist.t_sf))
    spark.udf.register("chi2_sf", _u2(_dist.chi2_sf))
    spark.udf.register("kolmogorov_sf", _u1(_dist.kolmogorov_sf))

    @pandas_udf("double")
    def _f_sf(x: pd.Series, dfn: pd.Series, dfd: pd.Series) -> pd.Series:
        import numpy as _np2
        return pd.Series(_np2.asarray(
            _dist.f_sf(x.to_numpy(dtype=float), dfn.to_numpy(dtype=float),
                       dfd.to_numpy(dtype=float)), dtype=float))

    spark.udf.register("f_sf", _f_sf)
    return spark
