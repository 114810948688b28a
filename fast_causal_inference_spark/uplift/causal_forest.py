"""Causal forest — GRF gradient-split honest trees, grown level-wise with
ALL trees in one aggregation pass per depth.

Parity target: reference ``causal_forest.h`` (TreeOptions :182-250 — mtry,
min_node_size, honesty/honesty_fraction, alpha, imbalance_penalty;
``responses_by_sample`` pseudo-outcomes :1103-1110; ``find_best_split_value``
decrease criterion :1132-1235; leaf-moment prediction :1343-1367 solved in
``causal_forest_eval.h:100-110``) driven by ``uplift.py:1898-2160``.

The reference is grf's instrumental forest with instrument z = treatment:

* per node, the local effect θ = Σ(z−z̄)(y−ȳ) / Σ(z−z̄)(t−t̄) (binary t →
  difference in arm means);
* pseudo-outcomes ρᵢ = (zᵢ−z̄)·[(yᵢ−ȳ) − θ(tᵢ−t̄)];
* split decrease = (Σ_L ρ)²/n_L + (Σ_R ρ)²/n_R − imbalance_penalty·(1/s_L+1/s_R),
  subject to ≥ min_node_size treated AND control rows per child and child
  z-variance s_child ≥ alpha·s_node;
* prediction: walk each tree to its honest leaf, average the leaf moment
  vector (ȳ, t̄, z̄, y·z̄, z̄², w̄) across trees, then solve the moment once:
  θ(x) = (m_yz·m_w − m_y·m_z)/(m_zz·m_w − m_t·m_z).

Spark-first restatement: forest state lives on the driver; each depth level
runs ONE aggregation (one shuffle, no join) — rows explode over trees
(deterministic hash draws for subsample membership and the honest half),
then over exactly the mtry features their node draws (grf draws mtry per
node, not per tree), read from a literal ``lut[tree][node]`` array of
feature indices built on the driver, and a single
``groupBy(tree, node, feature, bin, treatment)`` aggregates (cnt, Σy).
Those two numbers per cell are sufficient for every GRF quantity above
because ρ is an affine function of y within an arm:
Σ_{S,a} ρ = (a−t̄)[(Σ_{S,a}y − n_{S,a}ȳ) − θ·n_{S,a}(a−t̄)].

Variance (beyond the reference, grf §4.1 "bootstrap of little bags"): with
``ci_group_size`` ℓ ≥ 2, trees are grown in groups sharing one half-sample
draw; V̂(x) = max(0, B̂ − Ŵ/ℓ) where B̂ is the between-group variance of group
mean predictions and Ŵ the within-group tree variance.
"""

from __future__ import annotations

import math
import threading
import warnings
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.ml.feature import Bucketizer
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.design import persisted
from fast_causal_inference_spark.serialization import ensure_udf_serializable
from fast_causal_inference_spark.session import in_job_group


def _with_fine_bins(df: DataFrame,
                    bins: dict[str, tuple[Column, list[float]]]) -> DataFrame:
    """Add an int column ``name`` per ``bins[name] = (value, edges)`` with
    bin = first i with value ≤ edges[i], and len(edges) for NULL/NaN
    (``edges`` sorted, distinct, NaN-free — a fine quantile grid).

    All ids come from ONE multi-column ``Bucketizer``: a JVM binary search
    per value instead of a nested-WHEN tree per feature, whose expression
    size (2·len(edges) nodes) dominated driver-side planning.  Bucketizer
    is left-closed (splits[k] ≤ x < splits[k+1]) while these bins are
    right-closed, so it buckets u = −v against the reversed negated edges:
    #{e < v} = m − #{−e ≤ u}.  Edges are normalised with ``e + 0.0``
    before negating, so every zero split is −0.0, which the JVM binary
    search ranks at or below either zero sign — as SQL's ``v <= 0.0``
    does.  Infinite edges stay outside the splits (their fixed ±inf
    ends): +inf counts into the top bin offset, and −inf puts v = −inf
    alone in bin 0.  An empty edge list is the constant bin 0.
    """
    negs: dict[str, Column] = {}
    splits: list[list[float]] = []
    bucket_in: list[str] = []
    buckets: list[str] = []
    out: dict[str, Column] = {}
    for i, (name, (value, edges)) in enumerate(bins.items()):
        m = len(edges)
        if not m:
            out[name] = F.lit(0)
            continue
        u = f"__negv{i}"
        negs[u] = -value
        finite = [e for e in edges if math.isfinite(e)]
        if finite:
            splits.append([-math.inf]
                          + [-(e + 0.0) for e in reversed(finite)]
                          + [math.inf])
            bucket_in.append(u)
            buckets.append(f"__bkt{i}")
            bucket = F.col(buckets[-1])
        else:
            bucket = F.lit(0.0)
        low_inf = edges[0] == -math.inf
        b = F.when(F.col(u).isNull() | F.isnan(F.col(u)), m)
        if low_inf:
            b = b.when(F.col(u) == math.inf, 0)
        out[name] = b.otherwise(len(finite) + int(low_inf) - bucket)
    df = df.withColumns(negs)
    if splits:
        df = Bucketizer(splitsArray=splits,
                        inputCols=bucket_in,
                        outputCols=buckets,
                        handleInvalid="keep").transform(df)
    return (df.withColumns({k: c.cast("int") for k, c in out.items()})
              .drop(*negs, *buckets))


@dataclass
class _Node:
    feature: str | None = None
    threshold: float | None = None
    left: int | None = None
    right: int | None = None
    feats: list[str] = field(default_factory=list)   # per-node mtry draw
    # honest-half leaf moments: counts and y-sums per arm
    n0: float = 0.0
    n1: float = 0.0
    s0: float = 0.0
    s1: float = 0.0

    @property
    def n(self) -> float:
        return self.n0 + self.n1

    @property
    def tau(self) -> float:
        if self.n0 > 0 and self.n1 > 0:
            return self.s1 / self.n1 - self.s0 / self.n0
        return float("nan")


@dataclass
class CausalForest:
    """Honest GRF-criterion causal forest.

    ``sample_fraction`` — per-tree row subsample (without replacement, by
    hash; shared within a ci group); ``mtry`` — features drawn per NODE
    (None → ceil(√p)); ``alpha`` — min child z-variance as a fraction of the
    node's (reference TreeOptions default 0.05); ``ci_group_size`` ≥ 2
    enables little-bags variance estimates.
    """

    features: list[str]
    outcome: str = "y"
    treatment: str = "treatment"
    num_trees: int = 10
    max_depth: int = 4
    min_node_size: int = 50
    n_bins: int = 16
    mtry: int | None = None
    sample_fraction: float = 0.7
    honesty: bool = True
    honesty_fraction: float = 0.5
    alpha: float = 0.05
    imbalance_penalty: float = 0.0
    ci_group_size: int = 1
    seed: int = 42
    trees_: list[dict[int, _Node]] = field(default_factory=list, repr=False)
    fine_edges_: dict[str, list[float]] = field(default_factory=dict,
                                                repr=False)
    # last-grown level's per-(tree, node, feature) candidate thresholds
    _level_edges: dict = field(default_factory=dict, repr=False)

    # ------------------------------------------------------------------
    def _node_col(self, t: int) -> Column:
        def descend(nid: int) -> Column:
            node = self.trees_[t][nid]
            if node.feature is None:
                return F.lit(nid)
            c = F.expr(node.feature).cast("double")
            return F.when(c <= node.threshold, descend(node.left)) \
                    .otherwise(descend(node.right))

        return descend(0)

    def _draw_feats(self, rng: np.random.Generator) -> list[str]:
        p = len(self.features)
        m = self.mtry or max(1, math.ceil(math.sqrt(p)))
        return list(rng.choice(self.features, size=min(m, p), replace=False))

    def fit(self, df: DataFrame) -> "CausalForest":
        if self.ci_group_size > 1 and self.num_trees % self.ci_group_size:
            raise ValueError(
                f"num_trees={self.num_trees} must be a multiple of "
                f"ci_group_size={self.ci_group_size} for little-bags "
                f"variance")
        rng = np.random.default_rng(self.seed)
        self.trees_ = [{0: _Node(feats=self._draw_feats(rng))}
                       for _ in range(self.num_trees)]

        with self._prepare(df) as work:
            frontier = [[0] for _ in range(self.num_trees)]
            next_ids = [1] * self.num_trees
            for _depth in range(self.max_depth):
                if not any(frontier):
                    break
                stats = self._level_stats(work, frontier, split_half=True)
                for t in range(self.num_trees):
                    new_front = []
                    for nid in frontier[t]:
                        best = self._best_split(stats, t, nid)
                        if best is None:
                            continue
                        feat, thr = best
                        node = self.trees_[t][nid]
                        node.feature = feat
                        node.threshold = thr
                        node.left = next_ids[t]
                        node.right = next_ids[t] + 1
                        # children draw their own mtry features (grf per-node)
                        self.trees_[t][next_ids[t]] = _Node(
                            feats=self._draw_feats(rng))
                        self.trees_[t][next_ids[t] + 1] = _Node(
                            feats=self._draw_feats(rng))
                        new_front += [next_ids[t], next_ids[t] + 1]
                        next_ids[t] += 2
                    frontier[t] = new_front

            # honest leaf moments on the estimation half
            for (t, nid), arms in self._leaf_stats(work).items():
                node = self.trees_[t][nid]
                node.n0, node.s0 = arms.get(0, (0.0, 0.0))
                node.n1, node.s1 = arms.get(1, (0.0, 0.0))
        return self

    @contextmanager
    def _prepare(self, df: DataFrame) -> Iterator[DataFrame]:
        """Sketch the fine bin grid and build the enriched, cached row
        relation every level job and the honest leaf job scan; yields it
        for the caller's ``with`` block and releases it when that exits."""
        tcol = F.expr(self.treatment).cast("int")
        ycol = F.expr(self.outcome).cast("double")
        feat_cols = sorted({c for f in self.features for c in
                            ([f] if f in df.columns else df.columns)})
        work = df.select(*feat_cols, tcol.alias("__t"), ycol.alias("__y"))
        # subsample/honest-half draws hash the FEATURE VALUES only —
        # never treatment or outcome.  Hashing (x, t, y) would make
        # tree-sample and honest-half membership a function of the
        # outcome (duplicated (x,t,y) rows co-assigned everywhere), so
        # honest leaf moments would be computed on outcome-dependent
        # subsets; same pre-treatment-only rule as dml._fold_column
        rowh = F.xxhash64(*[F.expr(f).cast("double")
                            for f in self.features], F.lit(self.seed))

        # repartition BEFORE caching: the per-level melt (explode ×trees)
        # runs on the cached layout, and a small input can scan as 1-3
        # splits — serializing every level job.  All draws key off __h
        # (row content only, so results are independent of the physical
        # layout); hashing by __h also balances the melt at scale.
        self._bin_col_names = {feat: f"__finebin{i}"
                               for i, feat in enumerate(self.features)}
        n_parts = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        with persisted() as keep:
            base = keep(work.withColumn("__h", rowh)
                        .repartition(n_parts, F.col("__h")).cache())

            # ONE fine global quantile grid (8× n_bins, capped at 128): the
            # per-node candidate re-sketch in _best_split re-bins within each
            # node's own range on this grid, so deep narrow nodes keep
            # candidate resolution without a per-node sketch job.  The sketch
            # reads the RAW input (deterministic scan order — sketching the
            # shuffled cache would make the GK summaries order-dependent) and
            # runs CONCURRENTLY with the cache materialization, so fit startup
            # costs max(sketch, cache build) instead of their sum.
            n_fine = min(128, max(self.n_bins, 2) * 8)
            probs = [i / n_fine for i in range(1, n_fine)]
            fcols = [f"__feat{i}" for i in range(len(self.features))]
            fwork = df.select(*[F.expr(f).cast("double").alias(c)
                                for f, c in zip(self.features, fcols)])
            warm = threading.Thread(target=in_job_group(base.count))
            warm.start()
            # candidate thresholds need no sub-0.1% precision (grf SAMPLES its
            # candidates); 0.005 halves the sketch-job cost on wide inputs
            all_edges = fwork.approxQuantile(fcols, probs, 0.005)
            warm.join()
            self.fine_edges_ = {}
            for feat, edges in zip(self.features, all_edges):
                self.fine_edges_[feat] = sorted(set(edges))

            # enrich the cache ONCE with fine-bin ids and per-tree
            # (membership, half) bits: every level job and the honest leaf
            # job then scan small precomputed ints instead of re-binning and
            # re-drawing two hashes per tree per row.  The bin ids come from
            # one Bucketizer binary search per feature (``_with_fine_bins``):
            # the nested-WHEN bin trees it replaced cost ~1.2 s of driver-side
            # planning per fit on 4 features × 127 edges, before any task ran.
            # One cheap extra pass over the cached base materializes it.
            binned = _with_fine_bins(base, {
                self._bin_col_names[f]: (F.expr(f).cast("double"),
                                         self.fine_edges_[f])
                for f in self.features})
            enrich = {}
            for t in range(self.num_trees):
                enrich[f"__m{t}"] = self._membership(t)
                enrich[f"__sh{t}"] = self._half(t)
            work = keep(binned.withColumns(enrich).cache())
            # materialize the enriched cache AND validate the treatment
            # coding in the same job: a non-0/1 coding (1/2, strings casting
            # to NULL) would otherwise fail every node's n0>0/n1>0 check and
            # silently grow zero trees (all-NaN predictions)
            chk = work.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("__t") == 0).cast("long")).alias("n0"),
                F.sum((F.col("__t") == 1).cast("long")).alias("n1"),
            ).collect()[0]
            n0, n1 = int(chk["n0"] or 0), int(chk["n1"] or 0)
            if n0 == 0 or n1 == 0:
                raise ValueError(
                    "causal_forest: treatment must be a 0/1 indicator with "
                    f"both arms present — {self.treatment!r} has n0={n0}, "
                    f"n1={n1} (a 1/2 or string coding leaves one arm empty "
                    "after the int cast, so no node could ever split)")
            if n0 + n1 < int(chk["n"]):
                warnings.warn(
                    f"causal_forest: {int(chk['n']) - n0 - n1} rows have "
                    "treatment outside {0, 1} and are ignored by every "
                    "split and leaf", stacklevel=4)
            # early release: every later job reads the enriched cache,
            # so holding base through the level loop would pin a second
            # full copy of the rows for the whole fit
            base.unpersist()
            yield work

    # -- level machinery ------------------------------------------------
    def _membership(self, t: int) -> Column:
        """Deterministic subsample draw, shared within a ci group so the
        little-bags variance contrast isolates half-sample noise."""
        g = t // max(self.ci_group_size, 1)
        d = F.pmod(F.xxhash64(F.col("__h"), F.lit(g)), F.lit(10000))
        return d < int(self.sample_fraction * 10000)

    def _half(self, t: int) -> Column:
        """1 = split half, 0 = estimation half (honest)."""
        if not self.honesty:
            return F.lit(1)
        d = F.pmod(F.xxhash64(F.col("__h"), F.lit(t), F.lit(7)), F.lit(1000))
        return (d < int(self.honesty_fraction * 1000)).cast("int")

    def _melt(self, work: DataFrame, split_half: bool,
              keep: list[str]) -> DataFrame:
        """Explode rows over trees using the PRECOMPUTED per-tree
        (membership, half) columns of the enriched cache — only the
        node descent (a ≤max_depth WHEN chain) is evaluated per level."""
        per_tree = F.array(*[
            F.struct(F.lit(t).alias("tree"),
                     self._node_col(t).alias("node"),
                     (F.col(f"__m{t}")
                      & (F.col(f"__sh{t}") == (1 if split_half else 0)))
                     .alias("inc"))
            for t in range(self.num_trees)
        ])
        return (work.select("__t", "__y", *keep,
                            F.explode(per_tree).alias("tn"))
                .where(F.col("tn.inc"))
                .select(F.col("tn.tree").alias("tree"),
                        F.col("tn.node").alias("node"), "__t", "__y", *keep))

    def _level_stats(self, work: DataFrame, frontier: list[list[int]],
                     split_half: bool) -> pd.DataFrame:
        """(cnt, Σy) per (tree, node, feature, FINE bin, arm) — one shuffle
        per level.  Each melted row explodes over exactly its node's mtry
        features, read from a literal ``lut[tree][node]`` → feature-index
        array (indexed by node id, so collision-free; NULL off the
        frontier drops the row), and picks that feature's precomputed bin
        from the row's bin array — no join, no per-level broadcast job.
        Binning is on the fine global quantile grid; per-node candidate
        RE-SELECTION happens in ``_best_split`` (the reference's per-node
        quantile_size re-sketch, realized as re-binning within the node's
        range — prefix sums at a fine-bin boundary are exact regardless of
        which boundaries become candidates)."""
        feat_union = sorted({feat for t in range(self.num_trees)
                             for nid in frontier[t]
                             for feat in self.trees_[t][nid].feats})
        if not feat_union:
            self._level_edges = {}
            return pd.DataFrame(
                columns=["tree", "node", "feature", "bin", "__t", "cnt", "s"])
        fidx = {feat: i for i, feat in enumerate(feat_union)}

        def cell(t: int, nid: int) -> str:
            if nid not in frontier[t]:
                return "NULL"
            feats = self.trees_[t][nid].feats
            return f"array({', '.join(str(fidx[f]) for f in feats)})"

        # parsed from one SQL string: one py4j call, not one per literal
        lut = F.expr("array(" + ", ".join(
            "array(" + ", ".join(cell(t, nid) for nid in range(len(tree)))
            + ")" for t, tree in enumerate(self.trees_)) + ")")
        # fine-bin ids are PRECOMPUTED columns of the enriched cache
        keep = [self._bin_col_names[feat] for feat in feat_union]
        melted = self._melt(work, split_half, keep)
        agg = (melted
               .select("tree", "node", "__t", "__y",
                       F.array(*keep).alias("__bins"),
                       F.explode(lut[F.col("tree")][F.col("node")])
                       .alias("feature"))
               .select("tree", "node", "feature",
                       F.col("__bins")[F.col("feature")].alias("bin"),
                       "__t", "__y")
               .groupBy("tree", "node", "feature", "bin", "__t")
               .agg(F.count(F.lit(1)).alias("cnt"), F.sum("__y").alias("s"))
               .toPandas())
        agg["feature"] = np.asarray(feat_union, dtype=object)[
            agg["feature"].to_numpy()]
        return agg

    def _leaf_stats(self, work: DataFrame) -> dict:
        melted = self._melt(work, split_half=not self.honesty, keep=[])
        rows = (melted.groupBy("tree", "node", "__t")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("s"))
                .collect())
        out: dict = {}
        for r in rows:
            out.setdefault((r["tree"], r["node"]), {})[r["__t"]] = (
                float(r["n"]), float(r["s"]))
        return out

    # -- GRF split search ----------------------------------------------
    def _best_split(self, stats: pd.DataFrame, t: int, nid: int):
        sub = stats[(stats.tree == t) & (stats.node == nid)]
        if sub.empty:
            return None
        node = self.trees_[t][nid]
        # node totals from any one feature slice (bins partition the rows)
        f0 = None
        for f in node.feats:
            if not sub[sub.feature == f].empty:
                f0 = f
                break
        if f0 is None:
            return None
        tot = sub[sub.feature == f0]
        arm = tot["__t"]          # NB: attribute access would name-mangle
        n1 = float(tot.loc[arm == 1, "cnt"].sum())
        n0 = float(tot.loc[arm == 0, "cnt"].sum())
        s1 = float(tot.loc[arm == 1, "s"].sum())
        s0 = float(tot.loc[arm == 0, "s"].sum())
        n = n0 + n1
        # reference updateStop: num_samples ≤ min_node_size → leaf
        if n <= self.min_node_size or n0 == 0.0 or n1 == 0.0:
            return None
        tbar = n1 / n
        ybar = (s0 + s1) / n
        # θ = Σ(z−z̄)(y−ȳ)/Σ(z−z̄)(t−t̄); binary z=t → arm mean difference
        denom = n0 * n1 / n
        if abs(denom) <= 1e-10:
            return None
        theta = s1 / n1 - s0 / n0
        size_node = denom                      # Σ(z−z̄)² for binary z
        min_child = self.alpha * size_node
        # Σρ for a cell (bin, arm a): (a−t̄)[(Σy − n·ȳ) − θ·n·(a−t̄)]
        best_score, best = 0.0, None
        for feat in node.feats:
            fs = sub[sub.feature == feat]
            if fs.empty:
                continue
            edges = self.fine_edges_[feat]
            nb = len(edges) + 1
            cnt = np.zeros((2, nb))
            ssum = np.zeros((2, nb))
            ok = fs["__t"].isin((0, 1))
            arm_i = fs.loc[ok, "__t"].to_numpy(dtype=int)
            bin_i = fs.loc[ok, "bin"].to_numpy(dtype=int)
            cnt[arm_i, bin_i] = fs.loc[ok, "cnt"].to_numpy(dtype=float)
            ssum[arm_i, bin_i] = fs.loc[ok, "s"].to_numpy(dtype=float)
            rho = np.zeros((2, nb))
            for a in (0, 1):
                za = a - tbar
                rho[a] = za * ((ssum[a] - cnt[a] * ybar) - theta * cnt[a] * za)
            ccnt = cnt.cumsum(axis=1)
            crho = rho.cumsum(axis=1)
            rho_tot = float(rho.sum())
            # per-node candidate RE-SKETCH (reference quantile_size): pick
            # the n_bins-quantile boundaries of THIS node's own rows on
            # the fine grid — deep narrow nodes get candidates inside
            # their range instead of a handful of coarse global edges
            cum = ccnt[0] + ccnt[1]
            n_node = cum[-1]
            cand: list[int] = []
            for j in range(1, self.n_bins):
                target = j * n_node / self.n_bins
                b = int(np.searchsorted(cum[:-1], target, side="left"))
                if b < nb - 1 and (not cand or cand[-1] != b):
                    cand.append(b)
            self._level_edges[(t, nid, feat)] = [edges[b] for b in cand]
            for b in cand:
                l0, l1 = ccnt[0, b], ccnt[1, b]
                r0 = ccnt[0, -1] - l0
                r1 = ccnt[1, -1] - l1
                # ≥ min_node_size small-z (control) AND large-z (treated)
                # rows in each child (reference :1192-1203)
                if min(l0, l1, r0, r1) < self.min_node_size:
                    continue
                nl, nr = l0 + l1, r0 + r1
                size_left = l0 * l1 / nl
                size_right = r0 * r1 / nr
                if size_left < min_child or size_right < min_child:
                    continue
                if self.imbalance_penalty > 0.0 and (size_left == 0.0
                                                     or size_right == 0.0):
                    continue
                sum_l = float(crho[0, b] + crho[1, b])
                sum_r = rho_tot - sum_l
                score = sum_l * sum_l / nl + sum_r * sum_r / nr
                score -= self.imbalance_penalty * (1.0 / size_left
                                                   + 1.0 / size_right)
                if score > best_score:
                    best_score, best = score, (feat, edges[b])
        return best

    # -- predict --------------------------------------------------------
    def predict(self, df: DataFrame, alias: str = "ite",
                variance: bool = False) -> DataFrame:
        """Reference semantics (causal_forest_eval.h:100-110): average the
        honest leaf moment vector across trees, then solve the moment once.
        ``variance=True`` adds ``<alias>_var`` via grf little bags
        (requires ci_group_size ≥ 2 at fit time).
        """
        forest = [
            {nid: (nd.feature, nd.threshold, nd.left, nd.right,
                   nd.n0, nd.n1, nd.s0, nd.s1)
             for nid, nd in tree.items()}
            for tree in self.trees_
        ]
        feats = self.features
        want_var = variance
        gsize = self.ci_group_size
        if want_var and gsize < 2:
            raise ValueError("variance needs ci_group_size >= 2 at fit time")
        ensure_udf_serializable()

        def _score(*cols):
            X = {f: c.to_numpy(dtype=float) for f, c in zip(feats, cols)}
            n = len(cols[0])
            # accumulated leaf moment means: y, t, z, yz, zz, w
            m = np.zeros((6, n))
            used = np.zeros(n)
            per_tree_theta = []
            for tree in forest:
                node_ids = np.zeros(n, dtype=int)
                active = np.ones(n, dtype=bool)
                for _ in range(64):
                    moved = False
                    for nid in np.unique(node_ids[active]):
                        feat, thr = tree[nid][0], tree[nid][1]
                        if feat is None:
                            continue
                        mask = active & (node_ids == nid)
                        goes_left = X[feat][mask] <= thr
                        idx = np.where(mask)[0]
                        node_ids[idx[goes_left]] = tree[nid][2]
                        node_ids[idx[~goes_left]] = tree[nid][3]
                        moved = True
                    if not moved:
                        break
                leaf = np.array([tree[nid][4:] for nid in node_ids])  # n0,n1,s0,s1
                ln = leaf[:, 0] + leaf[:, 1]
                ok = ln > 0
                with np.errstate(invalid="ignore", divide="ignore"):
                    my = (leaf[:, 2] + leaf[:, 3]) / ln
                    mt = leaf[:, 1] / ln
                    myz = leaf[:, 3] / ln
                tm = np.vstack([my, mt, mt, myz, mt, np.ones(n)])
                m[:, ok] += tm[:, ok]
                used[ok] += 1
                if want_var:
                    with np.errstate(invalid="ignore", divide="ignore"):
                        th_b = (myz - my * mt) / (mt - mt * mt)
                    th_b[~ok] = np.nan
                    per_tree_theta.append(th_b)
            with np.errstate(invalid="ignore", divide="ignore"):
                mm = m / used
                num = mm[3] * mm[5] - mm[0] * mm[2]
                den = mm[4] * mm[5] - mm[1] * mm[2]
                theta = np.where(used > 0, num / den, np.nan)
            if not want_var:
                return pd.Series(theta)
            th = np.array(per_tree_theta)          # (B, n)
            groups = th.reshape(len(forest) // gsize, gsize, n)
            with np.errstate(invalid="ignore", divide="ignore"):
                gmean = np.nanmean(groups, axis=1)           # (G, n)
                b_hat = np.nanvar(gmean, axis=0, ddof=0)
                w_hat = np.nanmean(np.nanvar(groups, axis=1, ddof=1), axis=0)
            var = np.maximum(b_hat - w_hat / gsize, 0.0)
            return pd.DataFrame({"ite": theta, "var": var})

        in_cols = [F.expr(f).cast("double") for f in feats]
        if want_var:
            @F.pandas_udf("struct<ite:double,var:double>")
            def _ite_var(*cols: pd.Series) -> pd.DataFrame:
                return _score(*cols)

            res = df.withColumn("__o", _ite_var(*in_cols))
            return (res.withColumn(alias, F.col("__o.ite"))
                       .withColumn(f"{alias}_var", F.col("__o.var"))
                       .drop("__o"))

        @F.pandas_udf("double")
        def _ite(*cols: pd.Series) -> pd.Series:
            return _score(*cols)

        return df.withColumn(alias, _ite(*in_cols))

    def feature_importance(self) -> pd.DataFrame:
        """Depth-decayed split importance (weight (1/4)^depth — shallow splits
        carry the heterogeneity signal; reference
        CausalForestVariableImportance exposes the same split-frequency idea)."""
        weights: dict[str, float] = {f: 0.0 for f in self.features}
        counts: dict[str, int] = {f: 0 for f in self.features}

        def walk(tree, nid, depth):
            node = tree[nid]
            if node.feature is None:
                return
            weights[node.feature] += 0.25 ** depth
            counts[node.feature] += 1
            walk(tree, node.left, depth + 1)
            walk(tree, node.right, depth + 1)

        for tree in self.trees_:
            walk(tree, 0, 0)
        total = max(sum(weights.values()), 1e-12)
        return pd.DataFrame(
            [{"feature": f, "splits": counts[f], "importance": w / total}
             for f, w in sorted(weights.items(), key=lambda kv: -kv[1])])
