"""Physical-plan audits: the shapes SCALE.md promises, asserted on
`.explain`-level output so regressions in partitioning/broadcast/pushdown
fail loudly (local[4] plans — the same Catalyst decisions scale up)."""

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from fast_causal_inference_spark.operators.suffstats import (
    suffstat_agg_columns,
)


@pytest.fixture(scope="module")
def docs(spark):
    from fast_causal_inference_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "documents")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_suffstats_partial_aggregation(spark, ab_df):
    agged = ab_df.groupBy("x3").agg(
        *suffstat_agg_columns(["numerator", "denominator"]))
    plan = _plan(agged)
    # map-side combine: two HashAggregates around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_parquet_scan_prunes_columns(spark, lineitem):
    two = lineitem.select("l_quantity", "l_discount") \
        .groupBy().agg(F.sum("l_quantity"), F.avg("l_discount"))
    plan = _plan(two)
    scan = [ln for ln in plan.split("\n") if "ReadSchema" in ln]
    assert scan, plan
    assert "l_extendedprice" not in scan[0]
    assert "l_quantity" in scan[0]


def test_filter_pushdown_reaches_scan(spark, lineitem):
    f = lineitem.where(F.col("l_quantity") > 30).select("l_quantity")
    plan = _plan(f)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_dimension_joins_broadcast(spark):
    """TPC-H Q5-style join tree: every dimension side broadcast, zero
    sort-merge joins."""
    import __spark_entry__ as e

    out = e.queries()["q5_region_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_candidate_join_is_equi_join(spark, docs):
    from fast_causal_inference_spark.datapipe.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    plan = _optimized(pairs)
    # keyed join on (band, bucket) — never a cartesian product
    assert "Cartesian" not in _plan(pairs)


def test_dedup_caches_sized_to_cores(spark, docs, monkeypatch):
    """The cached dedup stages (shingle index, MinHash bands, SimHash
    signatures) have one partition per core whatever
    spark.sql.shuffle.partitions says: AQE never coalesces a cached
    relation, so its partition count is the task count of every
    partition-local step below it."""
    from fast_causal_inference_spark.datapipe import dedup

    cached = []
    real = dedup.register_cache
    monkeypatch.setattr(dedup, "register_cache",
                        lambda df: cached.append(df) or real(df))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        dedup.minhash_lsh_pairs(docs, threshold=0.5)
        dedup.simhash_pairs(docs, max_hamming=3)
        parts = [c.rdd.getNumPartitions() for c in cached]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert [c.columns for c in cached] == [["id", "gh"], ["id", "band",
                                            "bucket"], ["id", "sig"]]
    assert parts == [spark.sparkContext.defaultParallelism] * 3


def test_simhash_pairs_has_no_python_side_data(spark, docs):
    """The block-combination table is built in the JVM: no scan of a
    Python RDD (a createDataFrame of Python rows) anywhere in the plan,
    so no Python worker starts for it."""
    from fast_causal_inference_spark.datapipe.dedup import simhash_pairs

    for k in (3, 8):
        plan = _optimized(simhash_pairs(docs, max_hamming=k))
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def _dedup_job_sizing_faults(source: str) -> list[str]:
    """Lines of ``source`` that read spark.sql.shuffle.partitions (the
    cached dedup stages are sized to the cores) or hand
    ``createDataFrame`` Python rows: a non-empty list, tuple or
    comprehension, or a name bound to one (a pickled Python RDD scan).
    An empty list and a pandas frame stay allowed."""
    import ast

    def rows(node) -> bool:
        if isinstance(node, (ast.List, ast.Tuple)):
            return bool(node.elts)
        return isinstance(node, (ast.ListComp, ast.GeneratorExp))

    tree = ast.parse(source)
    bound = {t.id for n in ast.walk(tree) if isinstance(n, ast.Assign)
             and rows(n.value) for t in n.targets
             if isinstance(t, ast.Name)}
    faults = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) \
                and n.value == "spark.sql.shuffle.partitions":
            faults.append(f"{n.lineno}: reads spark.sql.shuffle.partitions")
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) \
                and n.func.attr == "createDataFrame" and n.args:
            a = n.args[0]
            if rows(a) or (isinstance(a, ast.Name) and a.id in bound):
                faults.append(f"{n.lineno}: createDataFrame of Python rows")
    return faults


def test_dedup_sizes_no_job_from_shuffle_partitions():
    """The dedup stages, the retrieval postings and the LM count
    relations are cached, so they are sized to the cores.
    ``training.shuffle`` keeps ``shuffle.partitions``: its shard count is
    an output layout, set by its ``num_partitions`` argument."""
    import pathlib

    import fast_causal_inference_spark

    root = pathlib.Path(fast_causal_inference_spark.__file__).parent
    faults = {name: _dedup_job_sizing_faults(
        (root / "datapipe" / name).read_text())
        for name in ("dedup.py", "retrieval.py", "lm.py")}
    assert not any(faults.values()), faults


@pytest.mark.parametrize("source, n_faults", [
    ("n = int(spark.conf.get('spark.sql.shuffle.partitions'))\n"
     "df.repartition(n, 'id')", 1),
    ("spark.createDataFrame([(0, 1), (1, 2)], ['cid', 'i0'])", 1),
    ("spark.createDataFrame([(i, *c) for i, c in enumerate(cs)], s)", 1),
    ("rows = [(i,) for i in range(3)]\nspark.createDataFrame(rows, s)", 1),
    ("spark.createDataFrame([], 'id bigint')", 0),
    ("spark.createDataFrame(pdf, 'id bigint, component bigint')", 0),
    ("df.repartition(cores(df), 'id')", 0),
])
def test_dedup_sizing_guard_flags(source, n_faults):
    assert len(_dedup_job_sizing_faults(source)) == n_faults


def test_knn_broadcasts_query_side(spark):
    import pandas as pd

    from fast_causal_inference_spark.datapipe.similarity import knn_bruteforce

    base = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(100), "embedding": [[1.0, 0.0]] * 100}))
    q = base.limit(3).select(F.col("vec_id").alias("query_id"),
                             F.col("embedding").alias("query_vec"))
    out = knn_bruteforce(base, q, k=3)
    assert "BroadcastNestedLoopJoin" in _plan(out)


def test_lift_auto_small_uses_single_window_only_below_threshold(spark,
                                                                 ab_df):
    """Explicit quantile path builds NO window; ntile path exactly one."""
    from fast_causal_inference_spark.uplift import evaluation as ev

    scored = ab_df.withColumn("ite_hat", F.col("x1"))
    # internal check via _bucketed_stats plan: approx path
    base = scored.select(F.col("y").cast("double").alias("__y"),
                         F.col("treatment").cast("double").alias("__t"),
                         F.expr("ite_hat").alias("__ite"))
    agg_q = base.groupBy((F.col("__ite") > 0).alias("b")).count()
    assert "Window" not in _plan(agg_q)


def test_exact_dedup_window_group_limit(spark, docs):
    from fast_causal_inference_spark.datapipe.dedup import exact_dedup

    plan = _plan(exact_dedup(docs))
    # rank computed with partial WindowGroupLimit before the exchange
    assert "WindowGroupLimit" in plan


def test_sessionize_uses_native_session_window(spark):
    from fast_causal_inference_spark.sources.tables import load_table
    from fast_causal_inference_spark.streaming.ops import sessionize

    ev = load_table(spark, SF_DIR, "events")
    out = sessionize(ev.withColumn("u", F.col("user_id")), "u", "ts",
                     gap="1 hour")
    plan = _optimized(out)
    # Catalyst session-window node, not a Python state machine
    assert "session_window" in plan or "SessionWindow" in plan
    phys = _plan(out)
    assert "pythonUDF" not in phys and "ArrowEvalPython" not in phys


def test_grouped_xexpt_single_aggregation_plan(spark, events):
    """The avg drill-down is ONE groupBy over the cells — exactly one
    shuffle exchange, conditional suff-stats, no per-cell operators."""
    from fast_causal_inference_spark.formula import parse_formulas

    from fast_causal_inference_spark.operators.suffstats import (
        suffstat_agg_columns,
    )

    ev = events.withColumn("treatment", (F.col("user_id") % 2).cast("int"))
    idx = F.col("treatment")
    nodes, base = parse_formulas(["avg(value)/avg(1 + event_id % 7)"])
    aggs = (suffstat_agg_columns(base, "g0_", idx == F.lit(0))
            + suffstat_agg_columns(base, "g1_", idx == F.lit(1)))
    agged = ev.groupBy("event_type").agg(*aggs)
    plan = _plan(agged)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2      # partial + final


def test_longterm_replica_agg_is_single_exchange(spark, events):
    """The bootstrap pass is explode + ONE groupBy(replica) with map-side
    combine — the shuffle carries B stat rows, not data."""
    from fast_causal_inference_spark.operators.longterm import (
        _lt_agg_columns,
    )
    from fast_causal_inference_spark.operators.resample import (
        poisson_weight_column,
    )

    wide = (events.groupBy("user_id")
            .agg(F.sum("value").alias("y_t0"),
                 F.count(F.lit(1)).cast("double").alias("m_t0"),
                 F.avg("value").alias("y_t1"),
                 F.max("value").alias("m_t1"))
            .withColumn("treatment", F.pmod(F.col("user_id"), F.lit(2))))
    surr = [["y_t0", "m_t0"], ["y_t1", "m_t1"]]
    arm0 = (F.col("treatment") == 0).cast("double")
    arm1 = (F.col("treatment") == 1).cast("double")
    rep = F.explode(F.sequence(F.lit(0), F.lit(19))).alias("replica_id")
    w = poisson_weight_column(1.0, F.rand(1)).cast("double")
    exploded = wide.select("*", rep).withColumn("__w", w)
    agged = exploded.groupBy("replica_id").agg(
        *_lt_agg_columns(surr, 0, 2, F.col("__w"), F.col("__w") * arm0,
                         F.col("__w") * arm1, include_observed=False))
    plan = _plan(agged)
    # one exchange for the pivot + one for the replica agg, both combined
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(replica_id" in plan


def test_asof_join_single_exchange(spark, events):
    """The as-of union trick needs exactly ONE hash exchange (the window
    partitionBy) — a second exchange would mean the union or projection
    re-shuffled."""
    from fast_causal_inference_spark.operators.temporal import asof_join

    views = events.select("user_id", "ts", "value").limit(1000)
    out = asof_join(events, views, on="user_id", left_ts="ts",
                    right_cols=["value"])
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan


def test_range_join_is_hash_join(spark, events):
    """Bucketized range join must plan as a hash/sort-merge equi-join,
    never BroadcastNestedLoopJoin."""
    from fast_causal_inference_spark.operators.temporal import range_join

    iv = events.groupBy("user_id").agg(
        F.min("ts").alias("start"), F.max("ts").alias("end"))
    out = range_join(events, iv, on="user_id", point_ts="ts",
                     start_ts="start", end_ts="end", bucket_width=86400)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Cartesian" not in plan


def test_ngram_inverted_index_no_arrays_in_shuffle(spark, docs):
    """The dedup shuffles carry primitive longs only — no array column
    may appear in any exchange of the pair plan."""
    from fast_causal_inference_spark.datapipe.dedup import (
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    plan = _plan(pairs)
    for ln in plan.split("\n"):
        if "Exchange hashpartitioning" in ln:
            assert "ArrayType" not in ln and "array<" not in ln, ln


def test_time_bucket_rollup_partial_agg(spark, events):
    from fast_causal_inference_spark.operators.temporal import (
        time_bucket_rollup,
    )

    out = time_bucket_rollup(events, "ts", ["1 day"],
                             [F.count(F.lit(1)).alias("n")],
                             ["event_type"])
    plan = _plan(out)
    assert plan.count("HashAggregate") >= 2       # map-side combine
    scan = [ln for ln in plan.split("\n") if "ReadSchema" in ln]
    assert scan and "value" not in scan[0]        # column pruning holds


def test_global_shuffle_one_exchange(spark, docs):
    from fast_causal_inference_spark.datapipe.training import global_shuffle

    out = global_shuffle(docs, seed=1, key_cols=["doc_id"])
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan


def test_bucketed_join_eliminates_exchange(spark, tmp_path_factory, events):
    """Two tables bucketed on the same key join with ZERO exchanges —
    the write-once-shuffle-never pattern for repeated fact-fact joins."""
    from fast_causal_inference_spark.sources.bucketed import (
        is_bucketed,
        write_bucketed,
    )

    a = events.select("user_id", "value")
    b = events.select("user_id", "event_type")
    write_bucketed(a, "bk_a", "user_id", num_buckets=8)
    write_bucketed(b, "bk_b", "user_id", num_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        assert is_bucketed(spark, "bk_a")["num_buckets"] == 8
        # small fixtures would broadcast (which also skips the shuffle but
        # proves nothing about bucketing) — force the sort-merge path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bk_a").join(spark.table("bk_b"), "user_id")
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() > 0
        # a groupBy on the bucket key also skips its exchange
        agged = spark.table("bk_a").groupBy("user_id").count()
        assert "Exchange hashpartitioning" not in _plan(agged)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_roc_curve_single_binned_aggregation(spark, ab_df):
    """roc_curve's actual aggregation: one groupBy over bucket cells, no
    crossJoin against the threshold list (the reference ARRAY JOINs
    rows x thresholds)."""
    from fast_causal_inference_spark.utility import _roc_binned_counts

    edges = [float(x) for x in range(100)]
    agged = _roc_binned_counts(
        ab_df.withColumn("lbl", (F.col("numerator") > 2).cast("int")),
        "lbl", "numerator", edges)
    plan = _plan(agged)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("HashAggregate") >= 2        # map-side combined
    # the balanced tree stays a CASE WHEN expression (no UDF / python eval)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nb_scoring_single_exchange_per_stage(spark, docs):
    """NB classifier scoring: broadcast count-relation join (no shuffle of
    the corpus for the join) + one aggregation exchange."""
    from fast_causal_inference_spark.datapipe.quality import (
        quality_classifier_score,
        train_quality_classifier,
    )

    labeled = docs.where("doc_id % 5 <= 1").withColumn(
        "label", (F.col("doc_id") % 5 == 0).cast("int"))
    model = train_quality_classifier(labeled, "label")
    scored = quality_classifier_score(docs.select("doc_id", "text"), model)
    plan = _plan(scored)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_substring_spans_prunes_gram_df(spark, docs):
    """Span detection joins only df-bounded grams; the join is an
    equi-join on the gram hash, not a cartesian."""
    from fast_causal_inference_spark.datapipe.dedup import (
        repeated_substring_spans,
    )

    spans = repeated_substring_spans(docs.limit(200), n=10,
                                     min_run_tokens=30)
    plan = _optimized(spans)
    assert "Join Inner" in plan
    assert "CartesianProduct" not in _plan(spans)


def test_grouped_gramian_single_exchange(spark, lineitem):
    """ols_grouped's physical shape: partial HashAggregate -> ONE hash
    exchange keyed on the group -> final HashAggregate, with column
    pruning at the scan (the one-scan-per-arm kernel of TLearner/XLearner/
    AIPW/DML)."""
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, feats = parse_r_formula("l_extendedprice ~ l_quantity")
    agged = (lineitem.groupBy(F.expr("l_orderkey % 2").alias("__g"))
             .agg(*suffstat_agg_columns(feats + [y_expr])))
    plan = _plan(agged)
    assert plan.count("HashAggregate") >= 2          # partial + final
    assert plan.count("Exchange hashpartitioning") == 1, plan
    scan = [ln for ln in plan.split("\n") if "ReadSchema" in ln]
    assert scan and "l_discount" not in scan[0]      # pruned
    assert "l_quantity" in scan[0]


def _collected_plans(monkeypatch, df,
                     methods=("collect",)) -> list[str]:
    """Physical plans of every DataFrame collected (through ``methods``)
    while the list is live."""
    cls = type(df)
    plans: list[str] = []

    def spying(orig):
        def spy(self):
            plans.append(_plan(self))
            return orig(self)
        return spy

    for name in methods:
        monkeypatch.setattr(cls, name, spying(getattr(cls, name)))
    return plans


def _aggregate_functions(plan: str) -> list[str]:
    return [ln.split("functions=[", 1)[1].split("], output=[", 1)[0]
            for ln in plan.split("\n") if "HashAggregate(" in ln]


@pytest.mark.parametrize("op", ["experiment_scorecard", "ttest_2samp",
                                "ttest_2samp_grouped", "ttest_2samp_pse"])
def test_two_arm_readout_is_arm_keyed(spark, events, monkeypatch, op):
    """Two-arm readouts, grouped, post-stratified or not, run ONE
    arm-keyed aggregation: the table is scanned once and no aggregate
    carries a per-arm CASE WHEN (the complete-case/arm guard is a filter
    and a grouping key instead)."""
    from fast_causal_inference_spark.operators.scorecard import (
        experiment_scorecard,
    )
    from fast_causal_inference_spark.operators.ttest import ttest_2samp

    ev = (events.withColumn("treatment", (F.col("user_id") % 2).cast("int"))
          .withColumn("g", F.col("user_id") % 3))
    plans = _collected_plans(monkeypatch, ev)
    if op == "experiment_scorecard":
        experiment_scorecard(
            ev, {f"m{j}": f"avg(value * {j + 1})" for j in range(10)},
            "treatment", X="avg(event_id % 5)")
    else:
        ttest_2samp(ev, "avg(value)/avg(1 + event_id % 7)", "treatment",
                    X="avg(event_id % 5)",
                    group_cols=["g"] if op.endswith("grouped") else None,
                    pse="event_id % 3" if op.endswith("pse") else None)
    assert len(plans) == 1, plans
    plan = plans[0]
    assert plan.count("FileScan") == 1, plan
    funcs = _aggregate_functions(plan)
    assert funcs and all("sum(" in f for f in funcs), plan
    assert not any("CASE WHEN" in f for f in funcs), plan


def _case_when_sizes(expr: str) -> list[int]:
    """WHEN count of every outermost CASE ... END in ``expr``, nested
    CASEs included (a nested-WHEN tree counts all of its branches)."""
    sizes, depth = [], 0
    for tok in re.findall(r"\b(?:CASE|WHEN|END)\b", expr):
        if tok == "CASE":
            if depth == 0:
                sizes.append(0)
            depth += 1
        elif tok == "END":
            depth -= 1
        elif depth:
            sizes[-1] += 1
    return sizes


def test_causal_forest_fit_plans(spark, ab_df, monkeypatch):
    """A forest fit runs no broadcast (each level is one shuffle keyed by
    a literal (tree, node) lookup, not a join), and its enriched cache
    bins features by binary search: no CASE there exceeds the size of a
    max_depth node-descent chain, where the nested-WHEN bin tree had one
    branch per fine edge."""
    from fast_causal_inference_spark.uplift.causal_forest import (
        CausalForest,
    )

    plans = _collected_plans(monkeypatch, ab_df, ("collect", "toPandas"))
    cf = CausalForest(["x1", "x2", "x3"], "y", "treatment", num_trees=3,
                      max_depth=2, min_node_size=50, mtry=2, seed=1)
    cf.fit(ab_df)
    assert len(plans) == cf.max_depth + 2, plans      # check, levels, leaf
    assert any(n.feature for t in cf.trees_ for n in t.values())
    for plan in plans:
        assert "BroadcastExchange" not in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    enrich = [ln for plan in plans for ln in plan.split("\n")
              if " AS __finebin0" in ln]
    assert enrich, plans
    for ln in enrich:
        assert max(_case_when_sizes(ln), default=0) <= cf.max_depth, ln


_PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")


def _rank_calls(df):
    from fast_causal_inference_spark.operators.anova import (
        kruskal_wallis_test,
    )
    from fast_causal_inference_spark.operators.kstest import (
        kolmogorov_smirnov_test,
        kolmogorov_smirnov_test_grouped,
    )
    from fast_causal_inference_spark.operators.mann_whitney import (
        mann_whitney_utest,
        mann_whitney_utest_grouped,
    )
    from fast_causal_inference_spark.operators.sensitivity import (
        rosenbaum_bounds,
    )

    seg = df.withColumn("seg", F.expr("x3 > 1"))
    return {
        "mann_whitney": lambda: mann_whitney_utest(df, "y", "treatment"),
        "kruskal_wallis": lambda: kruskal_wallis_test(df, "y", "treatment"),
        "kolmogorov_smirnov": lambda: kolmogorov_smirnov_test(
            df, "y", "treatment"),
        "rosenbaum": lambda: rosenbaum_bounds(
            df.withColumn("pair", F.floor(F.col("x1") * 50)), "y",
            "treatment", "pair"),
        "mann_whitney_grouped": lambda: mann_whitney_utest_grouped(
            seg, "y", "treatment", ["seg"]),
        "kolmogorov_smirnov_grouped": lambda: (
            kolmogorov_smirnov_test_grouped(seg, "y", "treatment",
                                            ["seg"])),
    }


@pytest.mark.parametrize("splits", [1, 4], ids=["single", "range"])
def test_rank_tests_run_no_python_worker(spark, ab_df, monkeypatch,
                                         splits):
    """Every rank test, ungrouped on both kernel paths and grouped, runs
    its ranks and statistics in the JVM: no executed plan holds a pandas
    or Arrow Python node."""
    from fast_causal_inference_spark.operators import ranks

    monkeypatch.setattr(ranks, "estimate_scan_splits", lambda df: splits)
    for name, call in _rank_calls(ab_df).items():
        with monkeypatch.context() as m:
            plans = _collected_plans(m, ab_df)
            out = call()
        if hasattr(out, "_jdf"):                  # a grouped result
            plans.append(_plan(out))
        assert plans, name
        for plan in plans:
            assert not any(node in plan for node in _PYTHON_NODES), \
                (name, plan)


_RANK_MODULES = ("mann_whitney.py", "anova.py", "kstest.py",
                 "sensitivity.py")
_RANK_MECHANICS = {"repartitionByRange", "estimate_scan_splits"}


def _rank_mechanics(source: str) -> list[str]:
    """Names, attributes and imports of the rank kernel's size rule and
    range mechanics in ``source``."""
    import ast

    found = []
    for n in ast.walk(ast.parse(source)):
        name = n.id if isinstance(n, ast.Name) else \
            n.attr if isinstance(n, ast.Attribute) else \
            n.name if isinstance(n, ast.alias) else None
        if name in _RANK_MECHANICS:
            found.append(f"{n.lineno if hasattr(n, 'lineno') else '?'}: "
                         f"{name}")
    return found


def test_only_the_rank_kernel_sizes_rank_passes():
    import pathlib

    import fast_causal_inference_spark

    ops = pathlib.Path(fast_causal_inference_spark.__file__).parent \
        / "operators"
    assert _rank_mechanics((ops / "ranks.py").read_text())
    stray = {m: _rank_mechanics((ops / m).read_text())
             for m in _RANK_MODULES}
    assert not any(stray.values()), stray


@pytest.mark.parametrize("source, n", [
    ("sub.repartitionByRange(p, 'v')", 1),
    ("from x import estimate_scan_splits", 1),
    ("est = estimate_scan_splits(sub)", 1),
    ("# estimate_scan_splits in a comment", 0),
    ("doc = 'repartitionByRange'", 0),
])
def test_rank_mechanics_guard_flags(source, n):
    assert len(_rank_mechanics(source)) == n
