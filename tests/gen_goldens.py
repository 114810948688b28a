"""Golden-oracle generator for gate queries whose semantics DuckDB cannot
re-derive (xxhash64 signatures, seeded draws, iterative solvers).

Runs each golden-gated query at sf0.01 in TWO separate *processes* (with
different PYTHONHASHSEED, Spark parallelism, shuffle settings and OpenBLAS
thread count: the first runs with OpenBLAS's default, the second with
``OPENBLAS_NUM_THREADS=1``, so a driver-side solve whose last bits move
with the BLAS thread count shows up as a difference), asserts the outputs
are identical — the determinism the snapshot gate depends on:
sf0.01 files are < 4 MB so scans are single-split, and rand(seed)/
partition-seeded draws are layout-stable.  Separate processes matter: a
per-process Python string-hash salt once reordered a set-comprehension
column list that fed xxhash64, which two sessions in ONE process cannot
detect.  Then freezes each result as a self-contained DuckDB VALUES query
in ``golden_oracles.json`` next to ``__spark_entry__.py``.

Mirrors the reference's golden-file suites
(``src/udf/clickhouse_udf/tests/unit_test/start_test.sh:1-28``) which diff
exact engine output against committed expectations.

Usage:  python tests/gen_goldens.py
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"
# key → queries() entry (top-level golden gate), or key → entry-module
# function name (pseudo-key "family__part": a hybrid-oracle fragment that
# __spark_entry__.oracle_sql composes into a computed-SQL UNION)
GOLDEN_KEYS = {
    "stochastic_sgd": None,
    "boot_strap": None,
    "permutation": None,
    "causal_tree": None,
    "causal_forest": None,
    "simhash_dedup": None,
    "longterm": None,
    "corpus_assembly": None,
    "survival__cox": "g_survival_cox",
    "knn__ivf": "g_knn_ivf",
    "knn__lsh": "g_knn_lsh",
    "knn__pq": "g_knn_pq",
    "t_learner__cvt": "g_t_learner_cvt",
    "t_learner__x": "g_t_learner_x",
    "t_learner__prop": "g_t_learner_prop",
    "t_learner__retro": "g_t_learner_retro",
    "t_learner__r": "g_t_learner_r",
    "t_learner__dr": "g_t_learner_dr",
    "matching__prognostic": "g_matching_prognostic",
    "matching__entropy": "g_matching_entropy",
    "ols__heckman": "g_ols_heckman",
    "ols__quantreg": "g_ols_quantreg",
    "auc__glm": "g_glm_rows",
    "did__synth": "g_did_synth",
    "did__event": "g_did_event",
    "did__its": "g_did_its",
    "embedding_near_dup__pca": "g_emb_pca",
    "power__closed": "g_power_closed_form",
}


def _worker(master: str, shuffle: str, out_path: str) -> None:
    from fast_causal_inference_spark.session import get_session

    spark = get_session("goldens", master=master)
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for key, fn_name in GOLDEN_KEYS.items():
        fn = getattr(entry, fn_name) if fn_name else qs[key]
        pdf = fn(spark, SF_DIR).toPandas()
        pdf = pdf.reindex(sorted(pdf.columns), axis=1)
        pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
        out[key] = pdf
    spark.stop()
    with open(out_path, "wb") as f:
        pickle.dump(out, f)


def _spawn(master: str, shuffle: str, hashseed: str,
           blas_threads: str | None = None) -> dict:
    out_path = tempfile.mktemp(suffix=".pkl")
    env = dict(os.environ)
    env["PYTHONHASHSEED"] = hashseed
    # None: OpenBLAS's default thread count (one per core)
    env.pop("OPENBLAS_NUM_THREADS", None)
    if blas_threads is not None:
        env["OPENBLAS_NUM_THREADS"] = blas_threads
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         master, shuffle, out_path],
        env=env, check=True)
    with open(out_path, "rb") as f:
        res = pickle.load(f)
    os.unlink(out_path)
    return res


def _sql_literal(v, dtype) -> str:
    import pandas as pd

    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if pd.api.types.is_float_dtype(dtype):
        return f"CAST({float(v)!r} AS DOUBLE)"
    if pd.api.types.is_integer_dtype(dtype):
        return f"CAST({int(v)} AS BIGINT)"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _values_sql(pdf) -> str:
    cols = list(pdf.columns)
    rows = []
    for _, r in pdf.iterrows():
        vals = ", ".join(_sql_literal(r[c], pdf[c].dtype) for c in cols)
        rows.append(f"({vals})")
    col_list = ", ".join(f'"{c}"' for c in cols)
    return (f"SELECT * FROM (VALUES {', '.join(rows)}) "
            f"AS golden({col_list})")


def main() -> None:
    res_a = _spawn("local[4]", "7", "1")
    res_b = _spawn("local[16]", "32", "31337", blas_threads="1")

    goldens = {}
    for key in GOLDEN_KEYS:
        a, b = res_a[key], res_b[key]
        if not a.equals(b):
            raise SystemExit(
                f"{key}: output differs across processes — not "
                f"snapshot-safe\n--- A ---\n{a}\n--- B ---\n{b}")
        goldens[key] = _values_sql(a)
        print(f"{key}: {len(a)} rows frozen (deterministic across processes)")

    path = os.path.join(ROOT, "golden_oracles.json")
    with open(path, "w") as f:
        json.dump(goldens, f, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        main()
