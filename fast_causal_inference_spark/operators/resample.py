"""Bootstrap and permutation resampling — replicated single-pass aggregation.

Parity targets: reference ``boot_strap`` table function /
``AggregateFunctionBootStrap`` (binomial per-chunk sampling seeded by
``DistributedNodeRowNumber``) and ``Permutation`` UDAFs; Python facades
``statistics.py:850-949``.

Spark-first: the classic Poisson-bootstrap trick. Each row is exploded into B
replica ids; a replica weight ~ Poisson(frac) is drawn via an inverse-CDF
``CASE WHEN`` chain over ``rand()`` — pure JVM codegen, no Python in the row
path — and ONE ``groupBy(replica)`` with map-side combine reduces everything
to B sufficient-statistics rows. Shuffle payload is O(B·partitions·k²)
doubles, independent of row count. No DistributedNodeRowNumber needed:
``rand(seed)`` is per-row deterministic given the partition layout.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark.formula import parse_formula
from fast_causal_inference_spark.operators.design import persisted
from fast_causal_inference_spark.operators.suffstats import (
    StatView,
    check_distinct_arms,
    keyed_stats,
    suffstat_agg_columns,
)


def poisson_weight_column(lam: float, rand_col: Column,
                          max_k: int | None = None) -> Column:
    """Inverse-CDF Poisson(λ) draw from a uniform — a WHEN-chain Column.

    Exact CDF thresholds are precomputed on the driver; the per-row work is a
    handful of branch comparisons inside whole-stage codegen.

    ``rand_col`` MUST be a materialized column reference (e.g.
    ``.withColumn("__u", F.rand(seed))`` then ``F.col("__u")``), NOT an
    inline ``F.rand(...)``: non-deterministic expressions are not
    common-subexpression-eliminated, so an inline rand re-draws at every
    WHEN comparison and the result is not Poisson (measured
    P(w=1)=0.465 vs 0.368).
    """
    if max_k is None:
        max_k = max(10, int(lam + 8 * math.sqrt(max(lam, 1.0))))
    probs = []
    pk = math.exp(-lam)
    cum = pk
    probs.append(cum)
    for k in range(1, max_k + 1):
        pk = pk * lam / k
        cum += pk
        probs.append(cum)
    expr = F.lit(max_k + 1)
    # build from the top down: WHEN u < cdf(0) THEN 0 WHEN u < cdf(1) ...
    chain = F.when(rand_col < probs[0], 0)
    for k in range(1, max_k + 1):
        chain = chain.when(rand_col < probs[k], k)
    return chain.otherwise(expr)


def boot_strap(df: DataFrame, expr: str, n_resamples: int = 100,
               resample_frac: float = 1.0, seed: int = 42,
               group_cols: list[str] | None = None) -> DataFrame:
    """B Poisson-bootstrap replicas of a metric formula (e.g. ``avg(x)``,
    ``avg(num)/avg(den)``, ``sum(x)`` via ``avg(x)*count`` semantics below).

    Returns a DataFrame (group_cols…, replica_id, value) — feed into
    :func:`boot_strap_summary` for point estimate / SE / percentile CI.
    """
    # single-formula facade over the joint-replica pipeline: ONE
    # implementation of the explode/Poisson-weight/suffstat plumbing,
    # so fixes (e.g. the inline-rand pitfall documented above) cannot
    # silently diverge between the two entry points
    out = boot_strap_multi(df, [expr], n_resamples=n_resamples,
                           resample_frac=resample_frac, seed=seed,
                           group_cols=group_cols)
    return out.withColumnRenamed("value_0", "value")


def boot_strap_summary(df: DataFrame, expr: str, n_resamples: int = 100,
                       resample_frac: float = 1.0, seed: int = 42,
                       alpha: float = 0.05,
                       group_cols: list[str] | None = None) -> pd.DataFrame:
    """Bootstrap mean / SE / percentile-CI of a metric formula."""
    group_cols = list(group_cols or [])
    reps = boot_strap(df, expr, n_resamples, resample_frac, seed, group_cols)
    out = (reps.groupBy(*group_cols)
           .agg(F.avg("value").alias("estimate"),
                F.stddev_samp("value").alias("stderr"),
                F.percentile_approx("value", alpha / 2, 10000).alias("lower"),
                F.percentile_approx("value", 1 - alpha / 2, 10000).alias("upper"),
                F.count("*").alias("n_resamples")))
    return out.toPandas()


def _hypergeometric_counts(sizes: list[int], n1: int, B: int,
                           seed: int) -> np.ndarray:
    """Exact hierarchical SRSWOR allocation: K[b][p] = number of treated
    labels partition p receives in replica b, drawn sequentially from the
    hypergeometric so that ΣK[b] == n1 exactly and every subset of size n1
    is equally likely."""
    rng = np.random.default_rng(seed)
    K = np.zeros((B, len(sizes)), dtype=np.int64)
    for b in range(B):
        good, total = n1, sum(sizes)
        for p, m in enumerate(sizes):
            if total <= 0 or good <= 0:
                k = 0
            elif good >= total:
                k = m
            else:
                k = int(rng.hypergeometric(good, total - good, m)) if m else 0
            K[b, p] = k
            good -= k
            total -= m
    return K


def _permutation_replica_stats(sub: DataFrame, k: int, n1: int, B: int,
                               seed: int) -> DataFrame:
    """Per-replica treated-arm (count, Σx_i) under exact label permutation.

    The cached input's partition layout is read once for sizes, the driver
    allocates per-(replica, partition) treated counts (hypergeometric), and
    one ``mapInPandas`` pass selects exactly that many rows per partition
    with a deterministic per-(seed, replica, partition) numpy draw.  Shuffle
    payload: B×P tiny stat rows — no per-replica row explosion at all.
    """
    from fast_causal_inference_spark.serialization import (
        ensure_udf_serializable,
    )

    size_rows = (sub.groupBy(F.spark_partition_id().alias("pid")).count()
                 .collect())
    sizes_map = {r["pid"]: int(r["count"]) for r in size_rows}
    n_parts = sub.rdd.getNumPartitions()
    sizes = [sizes_map.get(p, 0) for p in range(n_parts)]
    K = _hypergeometric_counts(sizes, n1, B, seed)
    bcols = [f"__b{i}" for i in range(k)]
    schema = ("replica_id long, n double, "
              + ", ".join(f"s{i} double" for i in range(k)))

    def _select(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        chunks = [c for c in batches]
        if not chunks:
            return
        X = np.concatenate([c[bcols].to_numpy(dtype=float) for c in chunks])
        m = len(X)
        out = {"replica_id": [], "n": []}
        for i in range(X.shape[1]):
            out[f"s{i}"] = []
        for b in range(B):
            kk = int(K[b, pid]) if pid < K.shape[1] else 0
            kk = min(kk, m)
            rng = np.random.default_rng([seed, b, pid])
            idx = rng.permutation(m)[:kk]
            out["replica_id"].append(b)
            out["n"].append(float(kk))
            sel = X[idx]
            for i in range(X.shape[1]):
                out[f"s{i}"].append(float(sel[:, i].sum()) if kk else 0.0)
        yield pd.DataFrame(out)

    ensure_udf_serializable()
    part = sub.mapInPandas(_select, schema)
    return part.groupBy("replica_id").agg(
        F.sum("n").alias("n"),
        *[F.sum(f"s{i}").alias(f"s{i}") for i in range(k)])


def boot_strap_multi(df: DataFrame, exprs: list[str], n_resamples: int = 100,
                     resample_frac: float = 1.0, seed: int = 42,
                     group_cols: list[str] | None = None) -> DataFrame:
    """B Poisson-bootstrap replicas of SEVERAL metric formulas in ONE pass
    (reference ``BootStrapMulti`` wraps a list of inner aggregates).

    Returns (group_cols…, replica_id, value_0 … value_{m-1}) with one column
    per formula — the replicas are drawn jointly, so cross-metric replica
    correlations are preserved (what you need for bootstrap CIs of ratios
    or differences of metrics).
    """
    from fast_causal_inference_spark.formula import parse_formulas

    group_cols = list(group_cols or [])
    nodes, base = parse_formulas(exprs)
    rep = F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))) \
        .alias("replica_id")
    exploded = df.select(*group_cols,
                         *[F.expr(e).cast("double").alias(f"__b{i}")
                           for i, e in enumerate(base)], rep) \
                 .withColumn("__u", F.rand(seed)) \
                 .withColumn("__w", poisson_weight_column(
                     resample_frac, F.col("__u")).cast("double")) \
                 .drop("__u")
    view = StatView(len(base))
    aggs = suffstat_agg_columns([f"__b{i}" for i in range(len(base))],
                                weight=F.col("__w"))
    agged = exploded.groupBy(*group_cols, "replica_id").agg(*aggs)
    return agged.select(*group_cols, "replica_id",
                        *[view.value(nd).alias(f"value_{i}")
                          for i, nd in enumerate(nodes)])


def boot_strap_quantile(df: DataFrame, col_expr: str, p: float,
                        n_resamples: int = 100,
                        resample_frac: float = 1.0,
                        seed: int = 42, method: str = "exact",
                        sketch_size: int = 128) -> DataFrame:
    """B Poisson-bootstrap replicas of a quantile (the gateway's
    ``bootStrap('quantile(0.5)(x1)', ...)`` form — SqlForwardTest.java
    testBootStrap).  Quantiles are not sufficient-statistic metrics.

    ``method='exact'`` uses Spark's ``percentile(col, p, frequency)``
    with the Poisson draw as the integral frequency weight — one
    explode to B replica rows per input row, one groupBy; cost is B
    scans' worth of shuffle, the honest price of exact bootstrap order
    statistics (the reference UDAF pays the same B-fold cost
    engine-side).

    ``method='sketch'`` is the 100 TB path: ONE ``mapInPandas`` scan
    draws all B Poisson weight columns per partition, sorts the
    partition once (shared across replicas), and compresses each
    replica's weighted empirical distribution into ``sketch_size``
    equi-weight centroids (a mergeable quantile sketch in the t-digest
    family).  Shuffle payload is B·K·P centroid rows — independent of
    row count — and the per-replica merge is a weighted quantile over
    the centroids.  Error is bounded by the within-partition
    compression (~1/sketch_size quantile-rank error); with a single
    partition and sketch_size >= rows it is exact.
    """
    B = int(n_resamples)
    if method == "exact":
        rep = F.explode(F.sequence(F.lit(0), F.lit(B - 1))) \
            .alias("replica_id")
        exploded = (df.select(F.expr(col_expr).cast("double")
                              .alias("__x"), rep)
                    .withColumn("__u", F.rand(seed))
                    .withColumn("__w", poisson_weight_column(
                        resample_frac, F.col("__u")).cast("long"))
                    .drop("__u")
                    .where(F.col("__w") > 0))
        return (exploded.groupBy("replica_id")
                .agg(F.expr(f"percentile(__x, {float(p)}, __w)")
                     .alias("value"))
                .orderBy("replica_id"))
    if method != "sketch":
        raise ValueError("method must be 'exact' or 'sketch'")

    from pyspark import TaskContext

    from fast_causal_inference_spark.serialization import (
        ensure_udf_serializable,
    )

    K = int(sketch_size)
    frac = float(resample_frac)
    pf = float(p)
    sub = df.select(F.expr(col_expr).cast("double").alias("__x")) \
            .where(F.col("__x").isNotNull() & ~F.isnan("__x"))

    def _sketch(batches):
        pid = TaskContext.get().partitionId()
        chunks = [c for c in batches]
        if not chunks:
            return
        xs = np.concatenate([c["__x"].to_numpy(dtype=float)
                             for c in chunks])
        m = len(xs)
        if m == 0:
            return
        rng = np.random.default_rng([seed, pid])
        order = np.argsort(xs, kind="stable")
        xs_s = xs[order]
        k = min(K, m)
        lv = (np.arange(k) + 0.5) / k
        rid, vals, wts = [], [], []
        # chunk the replicate axis so the (rows x B) Poisson draw never
        # exceeds ~20M cells per partition (100 TB memory guard)
        rb = max(1, min(B, 20_000_000 // max(m, 1)))
        for b0 in range(0, B, rb):
            W = rng.poisson(frac, (m, min(b0 + rb, B) - b0))
            cum = np.cumsum(W[order], axis=0)
            for bi in range(W.shape[1]):
                b = b0 + bi
                tb = float(cum[-1, bi])
                if tb <= 0:
                    continue
                idx = np.clip(np.searchsorted(cum[:, bi], lv * tb,
                                              side="left"), 0, m - 1)
                rid.append(np.full(k, b, dtype=np.int64))
                vals.append(xs_s[idx])
                wts.append(np.full(k, tb / k))
        if not rid:
            return
        yield pd.DataFrame({"replica_id": np.concatenate(rid),
                            "value": np.concatenate(vals),
                            "weight": np.concatenate(wts)})

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("value")
        w = pdf["weight"].to_numpy()
        cw = np.cumsum(w)
        target = pf * cw[-1]
        i = int(np.searchsorted(cw, target, side="left"))
        i = min(i, len(pdf) - 1)
        return pd.DataFrame({
            "replica_id": [int(pdf["replica_id"].iloc[0])],
            "value": [float(pdf["value"].iloc[i])]})

    ensure_udf_serializable()
    cent = sub.mapInPandas(
        _sketch, "replica_id long, value double, weight double")
    return (cent.groupBy("replica_id")
            .applyInPandas(_merge, "replica_id long, value double")
            .orderBy("replica_id"))


def boot_strap_ols(df: DataFrame, formula: str, n_resamples: int = 100,
                   resample_frac: float = 1.0, seed: int = 42,
                   use_bias: bool = True, alpha: float = 0.05,
                   return_replicas: bool = False):
    """Bootstrap distribution of OLS coefficients (reference
    ``AggregateFunctionBootStrap.h:895-907`` — ``BootStrapOls`` replicates
    the whole regression under resampling).

    One pass: rows explode into B replicas, each with a Poisson(frac)
    weight; ONE ``groupBy(replica_id)`` aggregates the weighted Gramian per
    replica (shuffle: B×k² doubles) and numpy solves B small systems on the
    driver.  Returns a per-coefficient pandas summary — full-sample
    ``estimate``, bootstrap mean/SE and percentile CI — or, with
    ``return_replicas=True``, also the raw (B, p) coefficient matrix.
    """
    from fast_causal_inference_spark.operators.ols import (
        _fit_from_row,
        ols,
        parse_r_formula,
    )

    y_expr, feats = parse_r_formula(formula)
    base = feats + [y_expr]
    full = ols(df, formula, use_bias=use_bias)

    rep = F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))) \
        .alias("replica_id")
    exploded = df.select(*[F.expr(e).cast("double").alias(f"__b{i}")
                           for i, e in enumerate(base)], rep) \
                 .withColumn("__u", F.rand(seed)) \
                 .withColumn("__w", poisson_weight_column(
                     resample_frac, F.col("__u")).cast("double")) \
                 .drop("__u")
    bcols = [f"__b{i}" for i in range(len(base))]
    aggs = suffstat_agg_columns(bcols, weight=F.col("__w"))
    rows = exploded.groupBy("replica_id").agg(*aggs).collect()

    betas = []
    for r in rows:
        n_w = float(r["n"] or 0.0)
        if n_w <= len(feats) + 1:
            continue
        m = _fit_from_row(r, bcols[:-1], bcols[-1], use_bias, n_w, None)
        betas.append(m.beta)
    if len(betas) < 2:
        raise ValueError(
            f"only {len(betas)} bootstrap replica(s) had weighted n > p; "
            "increase n_resamples or resample_frac (or supply more rows)")
    B = np.array(betas)                      # (B_eff, p)
    names = (["(Intercept)"] + feats) if use_bias else feats
    lo_q, hi_q = 100 * alpha / 2, 100 * (1 - alpha / 2)
    summary = pd.DataFrame({
        "name": names,
        "estimate": full.beta,
        "boot_mean": B.mean(axis=0),
        "boot_se": B.std(axis=0, ddof=1),
        "lower": np.percentile(B, lo_q, axis=0),
        "upper": np.percentile(B, hi_q, axis=0),
        "n_resamples": len(B),
    })
    if return_replicas:
        return summary, B
    return summary


def permutation(df: DataFrame, expr: str, index: str,
                permutation_num: int = 100, seed: int = 42,
                treatment_values: tuple = (0, 1),
                mde: float = 0.0) -> pd.DataFrame:
    """Permutation test of the between-arm difference of a metric formula.

    EXACT label permutation (reference ``AggregateFunctionPermutation.h``
    shuffles the observed labels): each replica assigns exactly n₁ treated
    labels uniformly without replacement via driver-side hypergeometric
    partition allocation + in-partition numpy draws, recomputes the metric
    difference per replica, and reports the permutation p-value of the
    observed difference (optionally shifted by ``mde`` for power probing).

    Scale: the only extra jobs are a partition-size count and one
    ``mapInPandas`` pass whose shuffle output is B×P stat rows — there is no
    B-fold row explosion, so cost is one data scan regardless of B.
    """
    node, base = parse_formula(expr)
    idx = F.col(index) if index.isidentifier() else F.expr(index)
    v0, v1 = treatment_values
    check_distinct_arms(v0, v1)
    k = len(base)
    bcols = [f"__b{i}" for i in range(k)]
    notnull = None
    for c in bcols:
        nn = F.col(c).isNotNull()
        notnull = nn if notnull is None else (notnull & nn)
    with persisted() as keep:
        sub = keep(df.where(idx.isin([v0, v1]))
                   .select((idx == F.lit(v1)).cast("int").alias("__t"),
                           *[F.expr(e).cast("double").alias(f"__b{i}")
                             for i, e in enumerate(base)])
                   .where(notnull)
                   .cache())
        # observed difference + arm sizes + total sums (one arm-keyed pass)
        arms = {r["__key"]: r for r in
                keyed_stats(sub, bcols, F.col("__t"))
                .select("__key", "n", *[f"s{i}" for i in range(k)]).collect()}
        if len(arms) < 2:
            raise ValueError("both arms must be non-empty")
        n0, n1 = (int(arms[a]["n"]) for a in (0, 1))
        sums = [np.array([float(arms[a][f"s{i}"]) for i in range(k)])
                for a in (0, 1)]
        with np.errstate(divide="ignore", invalid="ignore"):
            observed = (float(node.value(list(sums[1] / float(n1))))
                        - float(node.value(list(sums[0] / float(n0)))))
        if not math.isfinite(observed):
            observed = float("nan")      # zero-denominator arm: undefined
        tot = sums[0] + sums[1]
        n = n0 + n1

        reps = _permutation_replica_stats(sub, k, n1, permutation_num, seed) \
            .collect()
    diffs = np.empty(len(reps))
    for j, r in enumerate(reps):
        rn1 = float(r["n"])
        s1 = np.array([float(r[f"s{i}"]) for i in range(k)])
        mu1 = list(s1 / rn1)
        mu0 = list((tot - s1) / (n - rn1))
        try:
            diffs[j] = float(node.value(mu1)) - float(node.value(mu0))
        except ZeroDivisionError:
            # a ratio metric whose denominator sums to zero in a replica
            # arm — NOTE numpy float division never raises (it yields
            # inf/nan), so the isfinite filter below is the real guard;
            # this handler covers plain-Python operand paths
            diffs[j] = float("nan")
    valid = diffs[np.isfinite(diffs)]
    if len(valid) == 0:
        raise ValueError("every permutation replica was degenerate "
                         "(metric denominator summed to zero)")
    if not math.isfinite(observed):
        # undefined observed metric (e.g. zero-denominator arm) must not
        # read as p=0: |replica| >= NaN is vacuously False for every replica
        p_val = float("nan")
    else:
        shifted = abs(observed) - abs(mde)
        p_val = float((np.abs(valid) >= shifted).mean())
    return pd.DataFrame([{
        "observed_diff": observed, "p_value": p_val,
        "n_permutations": len(valid),
        "perm_mean": float(valid.mean()), "perm_std": float(valid.std(ddof=1)),
    }])


def permutation_alt(df: DataFrame, expr: str, permutation_num: int = 100,
                    seed: int = 42, mde: float = 0.0, mde_type: int = 1,
                    alpha: float = 0.05) -> pd.DataFrame:
    """Reference-parity ``Permutation`` semantics with an injected effect.

    ``AggregateFunctionPermutation.h:231-276``: EVERY replicate draws a
    FRESH iid Bernoulli(1/2) treatment column and the mde shift is applied
    to the data with THAT replicate's labels — additive x + mde·t
    (mde_type 0) or multiplicative x·(1 + mde·t) (mde_type 1) — so each
    replicate's between-arm difference is a draw from the ALTERNATIVE
    (power) distribution, not the permutation null.  This differs from
    :func:`permutation`, which holds labels fixed and permutes them (the
    classic sharp-null test).

    Because the same label draws with NO shift are exactly draws from the
    iid-relabeling null, one pass yields BOTH distributions: the shift is a
    closed-form adjustment of the treated-arm sufficient statistics
    (mean₁ += mde for additive, mean₁ ×= (1+mde) for multiplicative, applied
    to the metric's first base aggregate, which is the column the reference
    UDAF shifts).

    Scale: one ``mapInPandas`` pass emits B×P tiny stat rows (per-replicate
    treated counts + Σx); no B-fold row explosion, one data scan total.
    """
    from pyspark import TaskContext

    from fast_causal_inference_spark.serialization import (
        ensure_udf_serializable,
    )

    node, base = parse_formula(expr)
    k = len(base)
    bcols = [f"__b{i}" for i in range(k)]
    notnull = None
    for c in bcols:
        nn = F.col(c).isNotNull()
        notnull = nn if notnull is None else (notnull & nn)
    with persisted() as keep:
        sub = keep(df.select(*[F.expr(e).cast("double").alias(f"__b{i}")
                               for i, e in enumerate(base)])
                   .where(notnull).cache())
        tot_row = sub.agg(F.count(F.lit(1)).alias("n"),
                          *[F.sum(c).alias(f"t{i}")
                            for i, c in enumerate(bcols)]).collect()[0]
        n = int(tot_row["n"] or 0)
        if n == 0:
            raise ValueError("permutation_alt: empty input")
        tot = np.array([float(tot_row[f"t{i}"]) for i in range(k)])
        B = int(permutation_num)
        schema = ("replica_id long, n double, "
                  + ", ".join(f"s{i} double" for i in range(k)))

        def _draw(batches):
            pid = TaskContext.get().partitionId()
            chunks = [c for c in batches]
            if not chunks:
                return
            X = np.concatenate([c[bcols].to_numpy(dtype=float)
                                for c in chunks])
            m = len(X)
            rng = np.random.default_rng([seed, pid])
            # fresh labels PER replicate; chunk the replicate axis so the
            # (rows x B) draw never exceeds ~20M cells per partition — the
            # 100 TB guard against a 190k-row partition x B=1000 matrix
            rb = max(1, min(B, 20_000_000 // max(m, 1)))
            n_out = np.empty(B)
            S = np.empty((k, B))
            for b0 in range(0, B, rb):
                b1 = min(b0 + rb, B)
                R = rng.random((m, b1 - b0)) < 0.5
                n_out[b0:b1] = R.sum(axis=0)
                S[:, b0:b1] = X.T @ R
            out = {"replica_id": np.arange(B, dtype=np.int64),
                   "n": n_out.astype(float)}
            for i in range(k):
                out[f"s{i}"] = S[i]
            yield pd.DataFrame(out)

        ensure_udf_serializable()
        reps = (sub.mapInPandas(_draw, schema)
                   .groupBy("replica_id")
                   .agg(F.sum("n").alias("n"),
                        *[F.sum(f"s{i}").alias(f"s{i}") for i in range(k)])
                   .collect())
    null_d = np.full(B, np.nan)
    alt_d = np.full(B, np.nan)
    for r in reps:
        j = int(r["replica_id"])
        n1 = float(r["n"])
        n0 = n - n1
        if n1 <= 0 or n0 <= 0:
            continue
        s1 = np.array([float(r[f"s{i}"]) for i in range(k)])
        mu0 = list((tot - s1) / n0)
        try:
            d0 = float(node.value(list(s1 / n1))) - float(node.value(mu0))
            s1s = s1.copy()
            if mde_type == 0:
                s1s[0] += mde * n1              # avg(x+mde·t): mean₁+mde
            else:
                s1s[0] *= (1.0 + mde)           # avg(x·(1+mde·t))
            d1 = float(node.value(list(s1s / n1))) - float(node.value(mu0))
        except ZeroDivisionError:
            continue
        null_d[j], alt_d[j] = d0, d1
    ok = np.isfinite(null_d) & np.isfinite(alt_d)
    if not ok.any():
        raise ValueError("every permutation replicate was degenerate")
    null_v, alt_v = null_d[ok], alt_d[ok]
    observed = float(alt_v.mean())
    crit = float(np.quantile(np.abs(null_v), 1.0 - alpha))
    return pd.DataFrame([{
        "observed_diff": observed,
        "p_value": float((np.abs(null_v) >= abs(observed)).mean()),
        "n_permutations": int(ok.sum()),
        "perm_mean": float(null_v.mean()),
        "perm_std": float(null_v.std(ddof=1)) if ok.sum() > 1 else 0.0,
        "alt_std": float(alt_v.std(ddof=1)) if ok.sum() > 1 else 0.0,
        "power": float((np.abs(alt_v) >= crit).mean()),
        "mde": float(mde), "mde_type": int(mde_type),
    }])
