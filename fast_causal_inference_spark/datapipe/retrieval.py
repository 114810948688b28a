"""BM25 / TF-IDF full-text retrieval over document corpora.

Spark-first design (no UDFs anywhere — the whole plan stays in
whole-stage codegen):

* the corpus side is ONE explode + a map-side-combined groupBy producing
  a postings relation ``(id, term, tf)``; doc lengths and document
  frequencies are recovered relationally from the postings;
* the query side is tiny and **broadcast**; scoring is a broadcast
  equi-join on ``term`` followed by a ``(query_id, id)`` aggregation —
  candidate volume is Σ_q Σ_{t∈q} df(t), i.e. output-proportional, never
  |corpus| × |queries|;
* top-k per query is a window over the scored relation, bounded by the
  number of queries — for a huge query batch with skewed term overlap,
  pre-aggregate per partition first (see ``operators/skew.top_k_per_key``).

The reference engine has no text retrieval; this module belongs to the
mandated LLM-data-pipeline layer (training-corpus curation: sourcing
related documents, building eval retrieval sets, kNN-LM style lookups).
BM25 parameters follow Robertson/Spärck Jones as implemented by Lucene:
``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` with ``k1 = 1.2``, ``b = 0.75``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

__all__ = ["postings", "bm25_search", "tfidf_search"]


def postings(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Term postings ``(id, term, tf)`` — one explode + one groupBy.

    The tokenize+explode pipeline is repartitioned first so it fans out
    across the cluster instead of running inside the (possibly 1-split)
    scan stage — same reasoning as the shingle index in ``dedup``, and
    sized the same way: one partition per core (``defaultParallelism``),
    since the searches cache this relation and AQE never coalesces a
    cached relation's partitions.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    return (df.repartition(cores, F.col(id_col))
            .select(F.col(id_col).alias("id"),
                    F.explode(tokens(F.col(text_col))).alias("term"))
            .where(F.col("term") != "")
            .groupBy("id", "term")
            .agg(F.count(F.lit(1)).alias("tf")))


def _corpus_stats(post: DataFrame):
    """(N, avgdl) scalars + docfreq/doclen relations from one postings
    relation. N and avgdl are one tiny collect (two doubles); that same
    action populates the postings cache, so the 3 downstream subtrees
    (scoring join, doclen, docfreq) read it instead of re-scanning the
    corpus. avgdl falls back to 1.0 on an empty/all-blank corpus (the
    result is empty either way — but float(None) must not raise at
    plan-construction time)."""
    doclen = post.groupBy("id").agg(F.sum("tf").alias("dl"))
    docfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs, avgdl = doclen.agg(
        F.count(F.lit(1)), F.avg("dl")).first()
    return (doclen, docfreq, float(n_docs),
            float(avgdl) if avgdl is not None else 1.0)


def _query_terms(queries: DataFrame, query_text_col: str,
                 query_id_col: str) -> DataFrame:
    """Distinct query terms (classic BM25 unit query-term weight)."""
    return (queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col(query_text_col))))
        .alias("term"))
        .where(F.col("term") != ""))


def bm25_search(corpus: DataFrame, queries: DataFrame, k: int = 10,
                k1: float = 1.2, b: float = 0.75, text_col: str = "text",
                id_col: str = "doc_id", query_text_col: str = "query",
                query_id_col: str = "query_id") -> DataFrame:
    """Okapi BM25 top-k retrieval for a batch of queries.

    Returns ``(query_id, id, score, matched_terms, rank)`` with
    ``rank ≤ k`` per query; ties break by ascending ``id`` so output is
    deterministic. ``queries`` is expected to be small (it is broadcast);
    the corpus may be arbitrarily large.
    """
    # cache: the postings relation feeds the scoring join, doclen, and
    # docfreq — without it each subtree re-runs the corpus explode
    # (the repo-wide reused-subtree convention, see dedup._shingle_inv)
    from fast_causal_inference_spark.datapipe.cachereg import (
        register_cache,
    )

    post = register_cache(postings(corpus, text_col, id_col).cache())
    doclen, docfreq, n_docs, avgdl = _corpus_stats(post)
    qt = _query_terms(queries, query_text_col, query_id_col)

    idf = F.log(F.lit(1.0)
                + (F.lit(n_docs) - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5)))
    tf_part = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf")
                  + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl))))
    # (query term × its df) is tiny: broadcast-join the query side into
    # the corpus-wide docfreq first, then broadcast THAT into the
    # postings — the only corpus-sized joins left are hash equi-joins
    qts = docfreq.join(F.broadcast(qt), "term")
    scored = (post.join(F.broadcast(qts), "term")
              .join(doclen, "id")
              .groupBy("query_id", "id")
              .agg(F.sum(idf * tf_part).alias("score"),
                   F.count(F.lit(1)).alias("matched_terms")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "id", "score", "matched_terms", "rank"))


def tfidf_search(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 text_col: str = "text", id_col: str = "doc_id",
                 query_text_col: str = "query",
                 query_id_col: str = "query_id") -> DataFrame:
    """Cosine similarity over ln-scaled TF-IDF vectors, computed
    relationally through the shared-term join (terms absent from either
    side contribute 0 to the dot product, so the postings join IS the
    sparse dot product). Document norms come from one groupBy over the
    weighted postings; idf is the smooth positive ``ln(1 + N/(1 + df))``
    so corpus-saturating terms cannot produce zero-norm documents (whose
    0/0 cosine would be NaN and float to the top of a DESC ranking).

    Same scale shape as :func:`bm25_search`; the query-side tf is the
    term's multiplicity in the query string.
    """
    from fast_causal_inference_spark.datapipe.cachereg import (
        register_cache,
    )

    post = register_cache(postings(corpus, text_col, id_col).cache())
    doclen, docfreq, n_docs, _ = _corpus_stats(post)

    idf = F.log(F.lit(1.0)
                + F.lit(n_docs) / (F.lit(1.0) + F.col("df_t")))
    wpost = (post.join(docfreq, "term")
             .select("id", "term",
                     ((F.lit(1.0) + F.log("tf")) * idf).alias("w")))
    norms = wpost.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))

    qpost = (queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens(F.col(query_text_col))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf")))
    # out-of-vocabulary query terms still carry weight in the QUERY norm
    # (idf with df=0) — an inner join against docfreq would silently drop
    # them and inflate every cosine for that query; both joins stay
    # broadcast by shrinking docfreq to the query's terms first
    qdf = docfreq.join(
        F.broadcast(qpost.select("term").distinct()), "term")
    qw = (qpost.join(F.broadcast(qdf), "term", "left")
          .withColumn("df_t", F.coalesce(F.col("df_t"), F.lit(0)))
          .select("query_id", "term",
                  ((F.lit(1.0) + F.log("qtf")) * idf).alias("qw")))
    qnorm = qw.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm"))

    dots = (wpost.join(F.broadcast(qw), "term")
            .groupBy("query_id", "id")
            .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"),
                 F.count(F.lit(1)).alias("matched_terms")))
    denom = F.col("norm") * F.col("qnorm")
    scored = (dots.join(norms, "id").join(F.broadcast(qnorm), "query_id")
              .select("query_id", "id",
                      F.when(denom > 0, F.col("dot") / denom)
                      .otherwise(F.lit(0.0)).alias("score"),
                      "matched_terms"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "id", "score", "matched_terms", "rank"))
